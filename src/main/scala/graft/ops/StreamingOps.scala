package graft.ops

import java.util.concurrent.atomic.AtomicInteger

import graft.{Exact, Q, Tables}
import org.apache.spark.sql.functions._

/** Structured Streaming surface (builder-brief extension; the reference
  * is batch-only, SURVEY.md §1.1).
  *
  * The streaming query runs synchronously over the events parquet (one
  * micro-batch via processAllAvailable) into a memory sink, then the
  * materialized result is returned as a plain DataFrame — so the same
  * windowed aggregation is verifiable against a batch DuckDB oracle
  * (`date_trunc('day')` ≡ tumbling 1-day window start, epoch-aligned in
  * UTC).
  *
  * Scale notes: the production shape — watermark-bounded state, append
  * mode, a distributed file sink, no driver-side materialization — is
  * `q_stream_window_prod` below, verified against the same oracle; the
  * complete-mode memory-sink variant stays as the minimal harness.
  */
object StreamingOps {

  private val nameCounter = new AtomicInteger(0)

  /** The event-time normalization every events-stream query needs: raw
    * ns-long fixtures get the same ns→µs truncation DuckDB applies
    * reading them; native µs-timestamp fixtures a value-preserving
    * cast (UTC session tz) to the same TimestampType.
    */
  private def withTsMicros(df: org.apache.spark.sql.DataFrame) =
    if (Tables.tsIsRawNs(df))
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else df.withColumn("ts", col("ts").cast("timestamp"))

  /** Shared production-shape scaffold: run a streaming DataFrame in
    * append mode to a throwaway checkpointed parquet sink (executor
    * tasks write, nothing materializes on the driver), then read the
    * finished result back for verification.
    */
  private def runToParquetSink(
      s: org.apache.spark.sql.SparkSession, name: String)(
      stream: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // stable, cleared-per-call scratch (bounded disk across re-runs;
    // clearing also prevents a stale checkpoint pairing with a new run)
    val tmp = graft.Scratch.dir(name)
    val outDir  = tmp.resolve("out").toString
    val ckptDir = tmp.resolve("ckpt").toString
    val query = stream.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckptDir)
      .start()
    try query.processAllAvailable()
    finally query.stop()
    s.read.parquet(outDir)
  }

  /** q_stream_window — tumbling 1-day window counts + exact value sums
    * per event_type, computed by a real streaming query (memory sink,
    * complete mode).
    */
  val qStreamWindow = Q(
    "q_stream_window",
    (s, d) => {
      val rawSchema = Tables.eventsRaw(s, d).schema
      val qn = s"graft_stream_${nameCounter.incrementAndGet()}"
      // FileStreamSource needs a directory; glob-filter to the one table
      val stream = withTsMicros(s.readStream
        .schema(rawSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(d))
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(Exact.dec(col("value"))).cast("double").as("total_value")
        )
      val query = stream.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(qn)
        .start()
      try query.processAllAvailable()
      finally query.stop()
      s.table(qn)
        .select(
          // timestamp_ntz: match the oracle's naive TIMESTAMP dtype
          col("window.start").cast("timestamp_ntz").as("day"),
          col("event_type"),
          col("n"),
          col("total_value")
        )
        .orderBy("day", "event_type")
    },
    Some(
      """SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin
    )
  )

  /** q_stream_window_prod — the SAME windowed aggregation in its
    * production shape: watermark-bounded state, append output mode, a
    * distributed parquet sink. Nothing materializes on the driver —
    * each finalized window is written incrementally by executor tasks,
    * which is the 100 TB-safe formulation (the complete-mode variant
    * above re-materializes the whole result every micro-batch and
    * exists as the oracle harness).
    *
    * Finite-input mechanics: a single sentinel event 3 days past the
    * real data advances the event-time watermark beyond every real
    * window end, so Spark's no-data micro-batch flushes all finalized
    * windows to the sink; the sentinel's own (never-finalized) window
    * is excluded from the result.
    */
  val qStreamWindowProd = Q(
    "q_stream_window_prod",
    (s, d) => {
      val tmp   = graft.Scratch.dir("stream_prod")
      val inDir = tmp.resolve("in")
      java.nio.file.Files.createDirectories(inDir)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(d, "events.parquet"),
        inDir.resolve("events.parquet"))

      val raw   = Tables.eventsRaw(s, d)
      val maxUs = raw.agg(max(Tables.tsMicros(raw))).collect()(0).getLong(0)
      raw
        .limit(1)
        .withColumn("ts", Tables.tsLiteral(raw, maxUs + 3L * 86400 * 1000000L))
        .withColumn("event_type", lit("__sentinel__"))
        .write.mode("append").parquet(inDir.toString)

      val stream = withTsMicros(
        s.readStream.schema(raw.schema).parquet(inDir.toString))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(Exact.dec(col("value"))).cast("double").as("total_value"))
        .select(
          col("window.start").cast("timestamp_ntz").as("day"),
          col("event_type"), col("n"), col("total_value"))
      runToParquetSink(s, "stream_prod_sink")(stream)
        .filter(col("event_type") =!= "__sentinel__")
        .orderBy("day", "event_type")
    },
    Some(
      """SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin
    )
  )

  /** q_sessionize — gap-based sessionization (30-minute inactivity
    * splits a session), the batch formulation: a session id is the
    * running count of gap-breaks per user. The streaming formulation of
    * the same semantics lives in
    * `flatMapGroupsWithState` (see StreamingSpec); this batch form is
    * the oracle-checkable contract.
    */
  val qSessionize = Q(
    "q_sessionize",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w  = Window.partitionBy("user_id").orderBy("event_id")
      val ev = Tables.events(s, d)
      val withBreak = ev.select(
        col("user_id"),
        col("event_id"),
        col("ts"),
        // microsecond epochs: both engines store µs, so the gap compare
        // is exact (second-truncating unix_timestamp would not be)
        when(
          unix_micros(col("ts")) -
            unix_micros(lag(col("ts"), 1).over(w)) > 1800L * 1000000L,
          1
        ).otherwise(0).as("brk")
      )
      withBreak
        .select(
          col("user_id"),
          col("event_id"),
          sum(col("brk"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("int")
            .as("session_id")
        )
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"))
        .orderBy("user_id", "session_id")
    },
    Some(
      """WITH brk AS (
        |  SELECT user_id, event_id,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) > 1800 * 1000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
        |sess AS (
        |  SELECT user_id, event_id,
        |    CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_id
        |  FROM brk)
        |SELECT user_id, session_id, count(*) AS n_events
        |FROM sess GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin
    )
  )

  /** q_stream_dedup — streaming exact deduplication, the dedup-on-ingest
    * shape of a training-data pipeline: first occurrence of each key is
    * emitted immediately (append mode), duplicates arriving within the
    * watermark are dropped by keyed state, and the watermark bounds that
    * state so it cannot grow forever (`dropDuplicatesWithinWatermark`).
    * At 100 TB this is the only tenable formulation: state holds one
    * entry per LIVE key in the dedup horizon, not per event ever seen.
    *
    * Batch-verifiable contract: only the dedup key columns are emitted
    * (whichever physical row survives is nondeterministic, the key set
    * is not), so the oracle is a plain DISTINCT.
    */
  val qStreamDedup = Q(
    "q_stream_dedup",
    (s, d) => {
      val stream = s.readStream
        .schema(Tables.documents(s, d).schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(d)
        // documents carry no event time; a constant ingest timestamp
        // keeps every row inside one dedup horizon for the finite run
        .withColumn("ingest_ts", lit("2026-01-01 00:00:00").cast("timestamp"))
        .withWatermark("ingest_ts", "1 hour")
        .dropDuplicatesWithinWatermark("lang", "source")
        .select(col("lang"), col("source"))
      runToParquetSink(s, "stream_dedup")(stream).orderBy("lang", "source")
    },
    Some(
      """SELECT DISTINCT lang, source FROM documents
        |ORDER BY lang, source""".stripMargin
    )
  )

  /** q_stream_enrich — stream-static enrichment join: the event stream
    * joins a broadcast dimension (customers) row-by-row in append mode
    * to a distributed sink. The streaming-ETL staple: no stream state at
    * all — the static side is broadcast once per micro-batch plan, each
    * event is enriched and written by executor tasks, nothing touches
    * the driver. Batch-equivalent by construction, so the oracle is the
    * plain join.
    */
  val qStreamEnrich = Q(
    "q_stream_enrich",
    (s, d) => {
      val dim = broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment")))
      val stream = s.readStream
        .schema(Tables.eventsRaw(s, d).schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(d)
        .join(dim, col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("event_type"), col("c_name"),
          col("c_mktsegment"))
      runToParquetSink(s, "stream_enrich")(stream).orderBy("event_id")
    },
    Some(
      """SELECT event_id, event_type, c_name, c_mktsegment
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY event_id""".stripMargin
    )
  )

  /** q_stream_stream_join — stream-stream interval join: clicks joined
    * to the SAME user's purchases occurring within the following hour,
    * both sides streaming. The event-time interval condition plus the
    * two watermarks let Spark bound each side's join state to the hour
    * horizon (state eviction is what makes this runnable forever);
    * inner-join matches emit eagerly in append mode. Batch-equivalent
    * by construction → plain interval-join oracle.
    */
  val qStreamStreamJoin = Q(
    "q_stream_stream_join",
    (s, d) => {
      val schema = Tables.eventsRaw(s, d).schema
      def src = withTsMicros(s.readStream
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(d))
      val clicks = src.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
        .withWatermark("click_ts", "1 hour")
      val buys = src.filter(col("event_type") === "purchase")
        .select(col("user_id").as("bu"), col("ts").as("buy_ts"),
          col("event_id").as("buy_id"))
        .withWatermark("buy_ts", "1 hour")
      val stream = clicks
        .join(buys, expr(
          "cu = bu AND click_ts BETWEEN buy_ts - INTERVAL 1 HOUR AND buy_ts"))
        .select(col("click_id"), col("buy_id"))
      runToParquetSink(s, "stream_ssjoin")(stream)
        .orderBy("click_id", "buy_id")
    },
    Some(
      """SELECT c.event_id AS click_id, b.event_id AS buy_id
        |FROM events c JOIN events b
        |  ON c.user_id = b.user_id
        | AND c.event_type = 'click' AND b.event_type = 'purchase'
        | AND c.ts BETWEEN b.ts - INTERVAL 1 HOUR AND b.ts
        |ORDER BY click_id, buy_id""".stripMargin
    )
  )

  /** q_stream_stream_left — stream-stream LEFT OUTER interval join:
    * every click, with its same-user purchase in the following hour or
    * NULL if none arrived. The semantics the inner join above cannot
    * exercise: an unmatched click may only be emitted once the
    * event-time watermark has passed its join horizon (a later purchase
    * could still match), so null rows are produced by state EVICTION,
    * not by data arrival. Finite-input mechanics: sentinel click +
    * purchase rows 3 days out advance both sides' watermarks so every
    * real click's horizon closes and its row (matched or null) is
    * flushed; the sentinels themselves are filtered from the result.
    *
    * 100 TB shape: identical state bound to the inner join — each
    * side's state holds one hour of events per the watermark; the null
    * emission adds no state, only an eviction-time emit.
    */
  val qStreamStreamLeft = Q(
    "q_stream_stream_left",
    (s, d) => {
      val tmp   = graft.Scratch.dir("stream_ssleft")
      val inDir = tmp.resolve("in")
      java.nio.file.Files.createDirectories(inDir)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(d, "events.parquet"),
        inDir.resolve("events.parquet"))
      val raw   = Tables.eventsRaw(s, d)
      val maxUs = raw.agg(max(Tables.tsMicros(raw))).collect()(0).getLong(0)
      val farUs = maxUs + 3L * 86400 * 1000000L
      // one sentinel per side (click then purchase, 2 h apart — past
      // the 1 h join horizon, so the pair cannot interval-match)
      raw.limit(1)
        .select(lit(-1L).as("event_id"), Tables.tsLiteral(raw, farUs).as("ts"),
          lit(-1L).as("user_id"), lit("click").as("event_type"),
          lit(0.0).as("value"), lit("{}").as("props"))
        .unionByName(raw.limit(1)
          .select(lit(-2L).as("event_id"),
            Tables.tsLiteral(raw, farUs + 7200L * 1000000L).as("ts"),
            lit(-2L).as("user_id"), lit("purchase").as("event_type"),
            lit(0.0).as("value"), lit("{}").as("props")))
        .write.mode("append").parquet(inDir.toString)

      def src = withTsMicros(
        s.readStream.schema(raw.schema).parquet(inDir.toString))
      val clicks = src.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
        .withWatermark("click_ts", "1 hour")
      val buys = src.filter(col("event_type") === "purchase")
        .select(col("user_id").as("bu"), col("ts").as("buy_ts"),
          col("event_id").as("buy_id"))
        .withWatermark("buy_ts", "1 hour")
      val stream = clicks
        .join(buys, expr(
          "cu = bu AND click_ts BETWEEN buy_ts - INTERVAL 1 HOUR AND buy_ts"),
          "left_outer")
        .select(col("click_id"), col("buy_id"))
      runToParquetSink(s, "stream_ssleft_sink")(stream)
        .filter(col("click_id") >= 0)
        .orderBy(col("click_id"), col("buy_id"))
    },
    Some(
      """SELECT c.event_id AS click_id, b.event_id AS buy_id
        |FROM events c LEFT JOIN events b
        |  ON c.user_id = b.user_id
        | AND b.event_type = 'purchase'
        | AND c.ts BETWEEN b.ts - INTERVAL 1 HOUR AND b.ts
        |WHERE c.event_type = 'click'
        |ORDER BY click_id, buy_id NULLS FIRST""".stripMargin
    )
  )

  /** Per-row MinHash band keys: shingles → per-prefix digest arrays →
    * min of each 8-hex-digit slice (two selects keep the digest arrays
    * as named columns so the four slice-mins share them instead of
    * re-hashing per slice). Stateless — usable on a stream side —
    * and bit-identical to the batch explode+min-aggregate signatures
    * (spec-asserted in StreamingSpec).
    */
  private[graft] def perRowBands(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.ops.{Dedup => D}
    val digs = df
      .withColumn("toks", split(col("text"), "\\s+"))
      .withColumn("sh", D.shinglesOfTokens(col("toks")))
      .withColumn("ds0", transform(col("sh"),
        g => md5(concat(lit("0|"), g))))
      .withColumn("ds1", transform(col("sh"),
        g => md5(concat(lit("1|"), g))))
    val hs = (0 until 8).map { j =>
      val dsc   = if (j < 4) "ds0" else "ds1"
      val start = (j % 4) * 8 + 1
      array_min(transform(col(dsc),
        m => conv(substring(m, start, 8), 16, 10).cast("long")))
        .as(s"h$j")
    }
    digs.select(col("doc_id") +: hs: _*)
      .select(col("doc_id"),
        explode(array(
          struct(lit(0).as("band"),
            md5(concat_ws("|", (0 until 4).map(j => col(s"h$j")): _*))
              .as("bv")),
          struct(lit(1).as("band"),
            md5(concat_ws("|", (4 until 8).map(j => col(s"h$j")): _*))
              .as("bv")))).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.bv").as("bv"))
  }

  /** q_stream_neardup — streaming NEAR-duplicate detection against a
    * standing corpus: each arriving document is MinHash-banded per-row
    * via [[perRowBands]] (no stream state) and its two band keys probe
    * a static band index of the corpus; matches (arriving doc, corpus
    * doc) flow append-mode to a distributed sink. The per-row signature
    * is bit-identical to the batch explode+min-aggregate form, so the
    * corpus index (built by the batch path) and the stream side share
    * one key space — and the oracle is the plain batch band join.
    *
    * 100 TB shape: corpus bands are a compact (band, digest → doc_id)
    * index; arriving docs never shuffle — each emits ≤2 band keys that
    * hash-join the index; duplicates of a pair across bands collapse in
    * the downstream read (batch distinct over the tiny match set).
    */
  val qStreamNeardup = Q(
    "q_stream_neardup",
    (s, d) => {
      import graft.ops.{Dedup => D}
      val tmp   = graft.Scratch.dir("stream_neardup")
      val inDir = tmp.resolve("in")
      java.nio.file.Files.createDirectories(inDir)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(d, "documents.parquet"),
        inDir.resolve("documents.parquet"))

      // standing corpus index, built by the BATCH signature path
      val sig = D.signatures(s, d).filter(col("doc_id") % 10 =!= 0)
      val corpusBands = sig
        .select(col("doc_id").as("corpus_id"), lit(0).as("band"),
          col("b0").as("bv"))
        .union(sig.select(col("doc_id").as("corpus_id"), lit(1).as("band"),
          col("b1").as("bv")))

      val stream = perRowBands(
        s.readStream.schema(Tables.documents(s, d).schema)
          .parquet(inDir.toString)
          .filter(col("doc_id") % 10 === 0))
        .join(corpusBands, Seq("band", "bv"))
        .select(col("doc_id").as("batch_id"), col("corpus_id"))

      runToParquetSink(s, "stream_neardup_sink")(stream)
        .distinct()
        .orderBy("batch_id", "corpus_id")
    },
    Some(
      s"""WITH sigs AS (${graft.ops.Dedup.signaturesSql}),
         |bands AS (
         |  SELECT doc_id, 0 AS band, b0 AS bv FROM sigs
         |  UNION ALL SELECT doc_id, 1 AS band, b1 AS bv FROM sigs)
         |SELECT DISTINCT b.doc_id AS batch_id, c.doc_id AS corpus_id
         |FROM bands b JOIN bands c
         |  ON b.band = c.band AND b.bv = c.bv
         | AND b.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
         |ORDER BY batch_id, corpus_id""".stripMargin
    )
  )

  /** q_stream_sliding — SLIDING-window streaming aggregation (24 h
    * windows every 12 h): each event lands in exactly two overlapping
    * windows, watermark-bounded state, append mode to a file sink
    * (sentinel-flushed like q_stream_window_prod). The oracle expands
    * each event into its two epoch-aligned candidate window starts —
    * Spark's own `window()` boundary rule — and aggregates in batch.
    */
  val qStreamSliding = Q(
    "q_stream_sliding",
    (s, d) => {
      val tmp   = graft.Scratch.dir("stream_sliding")
      val inDir = tmp.resolve("in")
      java.nio.file.Files.createDirectories(inDir)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(d, "events.parquet"),
        inDir.resolve("events.parquet"))
      val raw   = Tables.eventsRaw(s, d)
      val maxUs = raw.agg(max(Tables.tsMicros(raw))).collect()(0).getLong(0)
      raw.limit(1)
        .withColumn("ts", Tables.tsLiteral(raw, maxUs + 3L * 86400 * 1000000L))
        .withColumn("event_type", lit("__sentinel__"))
        .write.mode("append").parquet(inDir.toString)

      val stream = withTsMicros(
        s.readStream.schema(raw.schema).parquet(inDir.toString))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day", "12 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").cast("timestamp_ntz").as("w_start"),
          col("event_type"), col("n"))
      runToParquetSink(s, "stream_sliding_sink")(stream)
        .filter(col("event_type") =!= "__sentinel__")
        .orderBy("w_start", "event_type")
    },
    Some(
      // each event belongs to windows starting at floor_12h(ts) and
      // floor_12h(ts) - 12h (duration 24 h, epoch-aligned) — Spark's
      // window() assignment rule, expanded via UNNEST
      """WITH starts AS (
        |  SELECT event_type,
        |    unnest(ARRAY[
        |      make_timestamp(CAST(floor(epoch(ts) / 43200) * 43200 AS BIGINT)
        |        * 1000000),
        |      make_timestamp((CAST(floor(epoch(ts) / 43200) * 43200 AS BIGINT)
        |        - 43200) * 1000000)]) AS w_start
        |  FROM events)
        |SELECT w_start, event_type, count(*) AS n
        |FROM starts GROUP BY 1, 2
        |ORDER BY w_start, event_type""".stripMargin
    )
  )

  /** Typed rows for the streaming attribution operator. */
  final case class AttEv(
      user_id: Long, event_id: Long, ts_us: Long, event_type: String)
  final case class AttState(
      firstClickUs: Long, lastClickUs: Long, lastClickId: Long,
      hasClick: Boolean)
  final case class AttOut(
      user_id: Long, purchase_id: Long, purchase_ts_us: Long,
      last_touch_id: Option[Long], last_touch_ts_us: Option[Long],
      first_touch_ts_us: Option[Long])

  /** Per-user attribution state machine: clicks update an O(1) state
    * (first click ever, most recent click); purchases emit an
    * attribution row gated by the 7-day lookback. Events are ordered by
    * (ts, event_id) within the batch iterator, matching the batch
    * window's frame exactly.
    */
  private[graft] def attribute(uid: Long, rows: Iterator[AttEv],
      state: org.apache.spark.sql.streaming.GroupState[AttState])
      : Iterator[AttOut] = {
    val evs = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
    var st = state.getOption.getOrElse(AttState(0L, 0L, 0L, hasClick = false))
    val out = scala.collection.mutable.ListBuffer[AttOut]()
    for (e <- evs) {
      if (e.event_type == "click") {
        st =
          if (!st.hasClick) AttState(e.ts_us, e.ts_us, e.event_id, hasClick = true)
          else st.copy(lastClickUs = e.ts_us, lastClickId = e.event_id)
      } else if (e.event_type == "purchase") {
        val inWindow =
          st.hasClick && st.lastClickUs >= e.ts_us - 7L * 86400L * 1000000L
        out += AttOut(uid, e.event_id, e.ts_us,
          if (inWindow) Some(st.lastClickId) else None,
          if (inWindow) Some(st.lastClickUs) else None,
          if (inWindow) Some(st.firstClickUs) else None)
      }
    }
    state.update(st)
    out.iterator
  }

  /** q_stream_attribution — the stateful-streaming form of
    * [[EventAnalytics.qAttribution]]: `flatMapGroupsWithState` carries
    * one tiny state record per user (first/last click — NOT the event
    * history), purchases emit attribution rows in append mode to a file
    * sink, and the result must hash-match the SAME oracle as the batch
    * window formulation. The 100 TB ingest shape: state is O(users),
    * each micro-batch touches only the users present in it.
    */
  val qStreamAttribution = Q(
    "q_stream_attribution",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
      val raw = Tables.eventsRaw(s, d)
      val stream = s.readStream
        .schema(raw.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(d)
        .select(col("user_id"), col("event_id"),
          Tables.tsMicros(raw).as("ts_us"), col("event_type"))
        .as[AttEv]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState(
          OutputMode.Append(), GroupStateTimeout.NoTimeout())(attribute)
        .toDF()
      runToParquetSink(s, "stream_attribution")(stream)
        .select(col("user_id"), col("purchase_id"),
          expr("timestamp_micros(purchase_ts_us)").cast("timestamp_ntz")
            .as("purchase_ts"),
          col("last_touch_id"),
          expr("timestamp_micros(last_touch_ts_us)").cast("timestamp_ntz")
            .as("last_touch_ts"),
          expr("timestamp_micros(first_touch_ts_us)").cast("timestamp_ntz")
            .as("first_touch_ts"))
        .orderBy("user_id", "purchase_id")
    },
    EventAnalytics.qAttribution.oracle
  )

  /** q_stream_pii — the PII redaction pass run as a Structured
    * Streaming query over a file source: the stream applies the exact
    * [[Safety.redactProjection]] the batch query uses (stateless
    * map+filter, append mode, no watermark needed), so the oracle is
    * literally q_pii_redact's. This is the shape of a continuous
    * ingest scrubber: new corpus files land, redacted rows stream out.
    */
  val qStreamPii = Q(
    "q_stream_pii",
    (s, d) => {
      val tmp   = graft.Scratch.dir("stream_pii")
      val inDir = tmp.resolve("in")
      java.nio.file.Files.createDirectories(inDir)
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(d, "documents.parquet"),
        inDir.resolve("documents.parquet"))
      val stream = Safety.redactProjection(
        s.readStream.schema(Tables.documents(s, d).schema)
          .parquet(inDir.toString))
      runToParquetSink(s, "stream_pii_sink")(stream)
        .orderBy("doc_id")
    },
    Safety.qPiiRedact.oracle
  )

  /** Typed rows for the lifetime-value processor. */
  final case class LtvEv(user_id: Long, event_id: Long, ts_us: Long,
      event_type: String, cents: Long)
  final case class LtvOut(user_id: Long, event_id: Long, ltv_cents: Long)

  /** Arbitrary-state processor on Spark 4's transformWithState API
    * (the successor of flatMapGroupsWithState): one exact-cents
    * ValueState per user; every purchase emits the running lifetime
    * value through it. Events sort by (ts, event_id) within the batch
    * iterator, matching the batch window's frame exactly.
    */
  private class LtvProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, LtvEv, LtvOut] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, TimerValues, ValueState}
    @transient private var total: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      total = getHandle.getValueState[Long]("total",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[LtvEv],
        timers: TimerValues): Iterator[LtvOut] = {
      val evs = rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var t = if (total.exists()) total.get() else 0L
      val out = evs.filter(_.event_type == "purchase").map { e =>
        t += e.cents
        LtvOut(key, e.event_id, t)
      }
      total.update(t)
      out.iterator
    }
  }

  /** q_stream_ltv — per-user running lifetime value on the
    * transformWithState API: each purchase emits the user's exact
    * cumulative spend (cents as exact BIGINT — floor(value·100 + 0.5)
    * on the identical double in both engines), state is ONE long per
    * user under the RocksDB provider the API requires (the store a
    * real cluster runs: off-heap, spillable, incrementally
    * checkpointed). The batch oracle is the per-user running-sum
    * window over purchases — stateful streaming and batch must agree
    * row for row.
    *
    * 100 TB ingest shape: state is O(users) longs; each micro-batch
    * touches only the users present in it; output flows append-mode to
    * a distributed sink.
    */
  val qStreamLtv = Q(
    "q_stream_ltv",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val pKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(pKey)
      s.conf.set(pKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val raw = Tables.eventsRaw(s, d)
        val stream = s.readStream
          .schema(raw.schema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(d)
          .select(col("user_id"), col("event_id"),
            Tables.tsMicros(raw).as("ts_us"), col("event_type"),
            floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
          .as[LtvEv]
          .groupByKey(_.user_id)
          .transformWithState(new LtvProcessor,
            TimeMode.None(), OutputMode.Append())
          .toDF()
        runToParquetSink(s, "stream_ltv")(stream)
          .orderBy("user_id", "event_id")
      } finally prev match {
        case Some(v) => s.conf.set(pKey, v)
        case None    => s.conf.unset(pKey)
      }
    },
    Some(
      """SELECT user_id, event_id,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS ltv_cents
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id, event_id""".stripMargin
    )
  )

  /** q_stream_late — EXPLICIT lateness gating, the pattern a pipeline
    * needs when a lateness cut is a correctness requirement: Spark's
    * own watermark only PERMITS dropping late rows — measured here,
    * a 5-day-watermarked day-window aggregation fed the newest 4 days
    * first and then the full 25-day backlog still aggregated every
    * backlog row in both append and update mode (late state is
    * re-created and immediately finalized). So exact-lateness
    * pipelines (billing, SLA counters) gate explicitly: this query
    * replays the log as two deterministic micro-batches (mtime-ordered
    * files, maxFilesPerTrigger=1) through foreachBatch, which keeps a
    * one-long high-water mark and filters each batch to rows whose
    * day-window end exceeds (high-water − 5 d) BEFORE aggregating.
    * The result joins gated per-day counts against batch truth;
    * n_dropped is exactly the rows the gate rejected, and the oracle
    * reproduces the gate arithmetically (kept iff in batch 1 or
    * window end > max(batch-1 ts) − 5 d) — so the lateness semantics
    * themselves are what the cross-engine hash verifies.
    *
    * 100 TB shape: the gate is a map-side filter per micro-batch; the
    * per-batch partial counts append to the sink and the final rollup
    * is day-cardinality. Driver-side state is ONE long (the
    * high-water mark) — the bounded-scalar pattern every streaming
    * query here uses.
    */
  val qStreamLate = Q(
    "q_stream_late",
    (s, d) => {
      import java.nio.file.{Files, StandardCopyOption}
      val dayUs = 86400L * 1000000L
      val lateUs = 5L * dayUs
      val ev = Tables.events(s, d).select(col("ts"))
      val tmp = graft.Scratch.dir("stream_late")
      val inDir = tmp.resolve("in")
      Files.createDirectories(inDir)
      val maxUs = ev.agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
      val cutUs = (maxUs / dayUs) * dayUs - 4L * dayUs
      def writeBatch(df: org.apache.spark.sql.DataFrame, name: String,
          mtimeSec: Long): Unit = {
        val stage = tmp.resolve(name + "_stage")
        df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = Files.list(stage).filter(_.toString.endsWith(".parquet"))
          .findFirst().get()
        val dest = inDir.resolve(name + ".parquet")
        Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(mtimeSec * 1000L))
      }
      writeBatch(ev.filter(unix_micros(col("ts")) >= cutUs), "b1", 1000000L)
      writeBatch(ev.filter(unix_micros(col("ts")) < cutUs), "b2", 1000100L)
      val sinkDir = tmp.resolve("gated").toString
      // the explicit gate's entire state: one high-water-mark long,
      // persisted NEXT TO the sink so a restarted query resumes the
      // same watermark (a process-local var would silently reset the
      // gate after recovery — the batches themselves are not replayed,
      // but later batches would re-admit already-expired lateness)
      val hwmFile = tmp.resolve("hwm.txt")
      def readHwm(): Long =
        if (Files.exists(hwmFile)) Files.readString(hwmFile).trim.toLong
        else Long.MinValue
      val q = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(inDir.toString)
        .writeStream
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val highWater = readHwm()
          val wm = if (highWater == Long.MinValue) Long.MinValue
            else highWater - lateUs
          val gated = batch.filter(
            (floor(unix_micros(col("ts")) / dayUs) + 1) * dayUs > wm)
          gated
            .groupBy(date_trunc("day", col("ts")).cast("timestamp_ntz")
              .as("day"))
            .agg(count(lit(1)).as("n"))
            .write.mode("append").parquet(sinkDir)
          val bMax = batch.agg(max(unix_micros(col("ts"))))
            .collect()(0)
          if (!bMax.isNullAt(0))
            Files.writeString(hwmFile,
              math.max(highWater, bMax.getLong(0)).toString)
          ()
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      val streamed = s.read.parquet(sinkDir)
        .groupBy("day").agg(sum(col("n")).as("n_stream"))
      val batchTruth = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).cast("timestamp_ntz")
          .as("day"))
        .agg(count(lit(1)).as("n_batch"))
      batchTruth.join(streamed, Seq("day"), "left")
        .select(col("day"), col("n_batch"),
          coalesce(col("n_stream"), lit(0L)).as("n_stream"),
          (col("n_batch") - coalesce(col("n_stream"), lit(0L)))
            .as("n_dropped"))
        .orderBy("day")
    },
    Some(
      """WITH mx AS (SELECT max(ts) AS m FROM events),
        |counts AS (
        |  SELECT date_trunc('day', ts) AS day, count(*) AS n_batch,
        |    CAST(sum(CASE
        |      WHEN ts >= date_trunc('day', (SELECT m FROM mx))
        |          - INTERVAL 4 DAY
        |        OR date_trunc('day', ts) + INTERVAL 1 DAY
        |          > (SELECT m FROM mx) - INTERVAL 5 DAY
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_stream
        |  FROM events GROUP BY 1)
        |SELECT day, n_batch, n_stream, n_batch - n_stream AS n_dropped
        |FROM counts ORDER BY day""".stripMargin
    )
  )

  /** Stage `df` as one parquet file under `inDir` with a pinned mtime —
    * the deterministic-replay trick (mtime-ordered files +
    * maxFilesPerTrigger=1) q_stream_late introduced, shared with
    * q_stream_merge.
    */
  private def writeOrderedBatch(df: org.apache.spark.sql.DataFrame,
      tmp: java.nio.file.Path, name: String, mtimeSec: Long): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val stage = tmp.resolve(name + "_stage")
    df.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val listing = Files.list(stage)
    val part =
      try listing.filter(_.toString.endsWith(".parquet")).findFirst().get()
      finally listing.close()
    val dest = tmp.resolve("in").resolve(name + ".parquet")
    Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(dest,
      java.nio.file.attribute.FileTime.fromMillis(mtimeSec * 1000L))
    // drop the _SUCCESS/.crc staging debris — one leaked dir handle
    // and a stale _stage tree per micro-batch otherwise accumulate
    def rmTree(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p)) {
        val kids = Files.list(p)
        try kids.iterator().forEachRemaining(rmTree)
        finally kids.close()
      }
      Files.deleteIfExists(p): Unit
    }
    rmTree(stage)
  }

  /** q_stream_merge — streaming MERGE-upsert: the CDC-consumer pattern
    * where a micro-batch stream continuously upserts a keyed serving
    * table (Delta's `foreachBatch` + MERGE idiom, built here on the
    * repo's own copy-on-write [[Layout.mergeUpsert]]). A per-user
    * profile table (event count, total cents, latest event) is
    * bootstrapped from the first time-tercile of the log, then the
    * remaining two terciles replay as deterministic micro-batches;
    * each batch partially aggregates per user, merges with the
    * CURRENT profile row (count/sum add; "latest" = lexicographic max
    * of the (ts_us, event_id, type) struct — associative, so
    * incremental merging provably equals the one-shot aggregate the
    * oracle computes), and rewrites ONLY the hash-bucket partitions
    * holding touched users.
    *
    * 100 TB shape: per batch the update set is |users-in-batch| rows
    * (partial aggregation shrinks it map-side), the state read is
    * partition-pruned to affected buckets, and the write rewrites just
    * those buckets — the table is never rewritten wholesale. Driver
    * state: the affected-bucket value list (≤ 8 here) plus two scalar
    * tercile cuts.
    */
  val qStreamMerge = Q(
    "q_stream_merge",
    (s, d) => {
      import java.nio.file.Files
      val tmp = graft.Scratch.dir("stream_merge")
      Files.createDirectories(tmp.resolve("in"))
      val stateDir = tmp.resolve("state").toString
      val ev = Tables.events(s, d).select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      val mm = ev.agg(min(col("ts_us")), max(col("ts_us"))).collect()(0)
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val c1 = lo + (hi - lo) / 3
      val c2 = lo + 2 * ((hi - lo) / 3)
      def profile(df: org.apache.spark.sql.DataFrame) = df
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("total_cents"),
          max(struct(col("ts_us"), col("event_id"), col("event_type")))
            .as("last"))
        .select(col("user_id"), pmod(col("user_id"), lit(8L)).as("bucket"),
          col("n_events"), col("total_cents"),
          col("last.ts_us").as("last_ts_us"),
          col("last.event_id").as("last_event_id"),
          col("last.event_type").as("last_type"))
      profile(ev.filter(col("ts_us") <= c1))
        .write.partitionBy("bucket").mode("overwrite").parquet(stateDir)
      writeOrderedBatch(ev.filter(col("ts_us") > c1 && col("ts_us") <= c2),
        tmp, "b1", 1000000L)
      writeOrderedBatch(ev.filter(col("ts_us") > c2), tmp, "b2", 1000100L)
      val q = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(tmp.resolve("in").toString)
        .writeStream
        .option("checkpointLocation", tmp.resolve("ckpt").toString)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val bp = profile(batch)
          val cur = s.read.parquet(stateDir)
            .select(col("user_id"), col("n_events").as("sn"),
              col("total_cents").as("sc"),
              struct(col("last_ts_us").as("ts_us"),
                col("last_event_id").as("event_id"),
                col("last_type").as("event_type")).as("slast"))
          val merged = bp
            .join(cur, Seq("user_id"), "left")
            .select(col("user_id"), col("bucket"),
              (col("n_events") + coalesce(col("sn"), lit(0L))).as("n_events"),
              (col("total_cents") + coalesce(col("sc"), lit(0L)))
                .as("total_cents"),
              // greatest skips nulls: a first-seen user keeps its own
              greatest(
                struct(col("last_ts_us").as("ts_us"),
                  col("last_event_id").as("event_id"),
                  col("last_type").as("event_type")),
                col("slast")).as("last"))
            .select(col("user_id"), col("bucket"), col("n_events"),
              col("total_cents"),
              col("last.ts_us").as("last_ts_us"),
              col("last.event_id").as("last_event_id"),
              col("last.event_type").as("last_type"))
          Layout.mergeUpsert(s, stateDir, "bucket", "user_id", merged)
          ()
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
      s.read.parquet(stateDir)
        .select(col("user_id"), col("n_events"), col("total_cents"),
          col("last_ts_us"), col("last_event_id"), col("last_type"))
        .orderBy("user_id")
    },
    Some(
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |last AS (
        |  SELECT user_id, ts_us AS last_ts_us, event_id AS last_event_id,
        |    event_type AS last_type
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |          ORDER BY ts_us DESC, event_id DESC) AS rn FROM ev)
        |  WHERE rn = 1),
        |agg AS (
        |  SELECT user_id, count(*) AS n_events,
        |    CAST(sum(cents) AS BIGINT) AS total_cents
        |  FROM ev GROUP BY 1)
        |SELECT a.user_id, a.n_events, a.total_cents,
        |  l.last_ts_us, l.last_event_id, l.last_type
        |FROM agg a JOIN last l USING (user_id)
        |ORDER BY user_id""".stripMargin
    )
  )

  /** q_stream_hll — the native [[graft.functions.HllSketchAgg]]
    * aggregate running INSIDE a streaming windowed aggregation:
    * per-day distinct-user sketches whose 64-register buffers live in
    * the streaming state store and merge across micro-batches — the
    * composition that makes a mergeable sketch valuable (Spark's own
    * approx_count_distinct has exactly this shape, but its HLL++
    * registers are engine-private; graft_hll's registers are the
    * md5-recipe both engines reproduce, so the STREAMING estimate is
    * value-verified against a DuckDB oracle, not just sanity-checked).
    * Register max is order- and batching-independent, so the streamed
    * result provably equals the batch one. Output: per-day estimate
    * next to the exact distinct count with signed ppm error.
    *
    * 100 TB shape: state per (window) key is one 64-byte sketch;
    * micro-batch partials merge map-side before touching the store.
    * The complete-mode memory sink is the oracle harness;
    * q_stream_window_prod establishes the append/watermark production
    * shape for this operator family.
    */
  val qStreamHll = Q(
    "q_stream_hll",
    (s, d) => {
      import graft.functions.GraftFunctions.graft_hll
      val rawSchema = Tables.eventsRaw(s, d).schema
      val qn = s"graft_stream_${nameCounter.incrementAndGet()}"
      val stream = withTsMicros(s.readStream
        .schema(rawSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(d))
        .groupBy(window(col("ts"), "1 day"))
        .agg(graft_hll(col("user_id").cast("string")).as("hll_users"))
      val query = stream.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(qn)
        .start()
      try query.processAllAvailable()
      finally query.stop()
      val est = s.table(qn)
        .select(col("window.start").cast("timestamp_ntz").as("day"),
          col("hll_users"))
      val exact = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      est.join(exact, "day")
        .select(col("day"), col("n_exact"), col("hll_users"),
          expr("(hll_users - n_exact) * 1000000 div n_exact").as("err_ppm"))
        .orderBy("day")
    },
    Some {
      val h = (0 until 8).map { k =>
        val mult = 1L << (4 * (7 - k))
        s"(strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), ${1 + k}, 1)) - 1) * $mult"
      }.mkString("(", " + ", ")")
      s"""WITH hashed AS (
         |  SELECT day, h, h // 67108864 AS bucket, h % 67108864 AS rem
         |  FROM (SELECT DISTINCT date_trunc('day', ts) AS day, $h AS h
         |        FROM events)),
         |ranked AS (
         |  SELECT day, bucket,
         |    CAST(CASE WHEN rem = 0 THEN 27
         |      ELSE position('1' in lpad(bin(rem), 26, '0')) END AS BIGINT)
         |      AS r
         |  FROM hashed),
         |regs AS (SELECT day, bucket, max(r) AS r FROM ranked GROUP BY 1, 2),
         |buckets AS (SELECT CAST(v.b AS BIGINT) AS bucket
         |            FROM UNNEST(range(0, 64)) AS v(b)),
         |perday AS (
         |  SELECT ds.day, b.bucket, coalesce(regs.r, 0) AS r
         |  FROM (SELECT DISTINCT day FROM regs) ds
         |  CROSS JOIN buckets b
         |  LEFT JOIN regs ON regs.day = ds.day AND regs.bucket = b.bucket),
         |est AS (
         |  SELECT day,
         |    sum(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << CAST(r AS INT)))
         |      AS ssum,
         |    CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v0
         |  FROM perday GROUP BY day),
         |final_est AS (
         |  SELECT day,
         |    CASE WHEN 0.709 * 4096.0 / ssum <= 160.0 AND v0 > 0
         |      THEN CAST(floor(CAST(64 AS DOUBLE)
         |          * ln(CAST(64 AS DOUBLE) / v0) * 1000000.0 + 0.5)
         |        AS BIGINT) // 1000000
         |      ELSE CAST(floor(0.709 * 4096.0 / ssum + 0.5) AS BIGINT) END
         |      AS hll_users
         |  FROM est),
         |exact AS (
         |  SELECT date_trunc('day', ts) AS day,
         |    count(DISTINCT user_id) AS n_exact
         |  FROM events GROUP BY 1)
         |SELECT f.day, x.n_exact, f.hll_users,
         |  ((f.hll_users - x.n_exact) * 1000000) // x.n_exact AS err_ppm
         |FROM final_est f JOIN exact x ON x.day = f.day
         |ORDER BY f.day""".stripMargin
    }
  )

  final case class SessEv(user_id: Long, event_id: Long, ts_us: Long)
  final case class SessState(start_us: Long, end_us: Long, n: Long)
  final case class SessOut(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long)

  /** The timer half of the transformWithState API: per-user gap
    * sessionization where CLOSED sessions emit inline and the LAST
    * (still-open) session lives in ValueState with an EVENT-TIME TIMER
    * registered at end + gap — when the watermark passes it, the timer
    * fires and the session flushes. Real rows beyond `maxRealUs` (the
    * watermark sentinel) are ignored.
    */
  private class SessionProcessor(gapUs: Long, maxRealUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, SessEv, SessOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TTLConfig, TimerValues, ValueState}
    @transient private var cur: ValueState[SessState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      cur = getHandle.getValueState[SessState]("cur",
        org.apache.spark.sql.Encoders.product[SessState], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[SessEv],
        timers: TimerValues): Iterator[SessOut] = {
      val evs = rows.toSeq.filter(_.ts_us <= maxRealUs)
        .sortBy(e => (e.ts_us, e.event_id))
      if (evs.isEmpty) return Iterator.empty
      val out = scala.collection.mutable.ArrayBuffer.empty[SessOut]
      var st: Option[SessState] =
        if (cur.exists()) Some(cur.get()) else None
      evs.foreach { e =>
        st = st match {
          case Some(s) if e.ts_us - s.end_us <= gapUs =>
            Some(SessState(s.start_us, e.ts_us, s.n + 1))
          case Some(s) =>
            out += SessOut(key, s.start_us, s.end_us, s.n)
            Some(SessState(e.ts_us, e.ts_us, 1))
          case None =>
            Some(SessState(e.ts_us, e.ts_us, 1))
        }
      }
      val s = st.get
      cur.update(s)
      // one live timer per key: re-registering after an extension must
      // drop the stale expiry first
      getHandle.listTimers().foreach(t =>
        getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer((s.end_us + gapUs) / 1000L + 1L)
      out.iterator
    }
    override def handleExpiredTimer(key: Long, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessOut] = {
      if (cur.exists()) {
        val s = cur.get()
        cur.clear()
        Iterator.single(SessOut(key, s.start_us, s.end_us, s.n))
      } else Iterator.empty
    }
  }

  /** q_stream_session_timer — sessionization on transformWithState
    * with EVENT-TIME TIMERS, the half of the arbitrary-state API
    * q_stream_ltv's ValueState does not exercise: closed sessions
    * (a follower > 30 min away) emit inline; each user's open tail
    * session waits in state under a registered timer at end + gap and
    * flushes when the event-time watermark passes it — exactly how an
    * unbounded production stream closes its last sessions without a
    * poison pill per key. The finite replay advances the watermark
    * with one far-future sentinel row (the q_stream_window_prod
    * trick); the sentinel's own row is ignored by the processor. The
    * batch oracle is plain gap sessionization over (ts, event_id) —
    * stateful-with-timers streaming and batch must agree row for row.
    *
    * 100 TB shape: state = one (start, end, n) triple + one timer per
    * LIVE key under RocksDB; each micro-batch touches only its users;
    * timer expiry scans are per-watermark-advance, not per-row.
    */
  val qStreamSessionTimer = Q(
    "q_stream_session_timer",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val pKey = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(pKey)
      s.conf.set(pKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val gapUs = 1800L * 1000000L
        val tmp = graft.Scratch.dir("stream_session_timer")
        java.nio.file.Files.createDirectories(tmp.resolve("in"))
        val ev = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("ts"))
        val maxUs = ev.agg(max(unix_micros(col("ts")))).collect()(0)
          .getLong(0)
        writeOrderedBatch(ev, tmp, "b1", 1000000L)
        // sentinel 30 days out drives the watermark past every
        // real session's end + gap
        writeOrderedBatch(
          ev.limit(1).select(lit(-1L).as("user_id"),
            lit(-1L).as("event_id"),
            Tables.tsLiteral(ev, maxUs + 30L * 86400L * 1000000L)
              .as("ts")),
          tmp, "b2", 1000100L)
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(tmp.resolve("in").toString)
          .withWatermark("ts", "10 seconds")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("ts_us"))
          .as[SessEv]
          .groupByKey(_.user_id)
          .transformWithState(new SessionProcessor(gapUs, maxUs),
            TimeMode.EventTime(), OutputMode.Append())
          .toDF()
        runToParquetSink(s, "stream_session_timer_out")(stream)
          .orderBy("user_id", "start_us")
      } finally prev match {
        case Some(v) => s.conf.set(pKey, v)
        case None    => s.conf.unset(pKey)
      }
    },
    Some(
      """WITH brk AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tsu,
        |    CASE WHEN epoch_us(ts) - epoch_us(lag(ts, 1) OVER w)
        |        > 1800 * 1000000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, tsu,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_id
        |  FROM brk)
        |SELECT user_id, CAST(min(tsu) AS BIGINT) AS start_us,
        |  CAST(max(tsu) AS BIGINT) AS end_us, count(*) AS n_events
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, start_us""".stripMargin
    )
  )

  /** q_stream_drift — per-day distribution-drift gate: the
    * event-type mix of each daily window vs the corpus-wide reference
    * mix, as exact total-variation distance — the monitor an ingest
    * pipeline runs on every arriving batch so a schema/source change
    * trips an alert before the data reaches training (the streaming
    * companion of the batch [[Stats.qKsTest]]/[[Stats.qCusum]] drift
    * tests). The genuinely streaming stage is the incremental
    * per-(window, type) count aggregate; the comparison against the
    * broadcast reference is a downstream batch join, exactly like
    * [[qStreamHll]]'s estimate-vs-exact audit.
    *
    * Cross-engine exactness: TV(day) = ½·Σ_t |n_dt/N_d − N_t/N| is
    * cross-multiplied to Σ_t |n_dt·N − N_d·N_t| (DECIMAL(38,0) /
    * HUGEINT — n_dt·N overflows int64 past ~3e9 events) and divided
    * ONCE: drift_ppm = Σ·10⁶ div (2·N_d·N). Types absent from a day
    * still contribute |0 − N_d·N_t|, so the day×type frame is
    * completed by a cross join against the (≤ #types)-row reference
    * before the sum on BOTH engines.
    *
    * 100 TB shape: the stream shuffles only (window, type) partial
    * counts (watermark-free complete-mode aggregate over a bounded
    * key space — #days × #types); the reference is a 1-row-per-type
    * broadcast; nothing corpus-sized moves after the scan.
    */
  val qStreamDrift = Q(
    "q_stream_drift",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val dec = DecimalType(38, 0)
      val rawSchema = Tables.eventsRaw(s, d).schema
      val qn = s"graft_stream_${nameCounter.incrementAndGet()}"
      val stream = withTsMicros(s.readStream
        .schema(rawSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(d))
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n_dt"))
      val query = stream.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(qn)
        .start()
      try query.processAllAvailable()
      finally query.stop()
      val perDay = s.table(qn)
        .select(col("window.start").cast("timestamp_ntz").as("day"),
          col("event_type"), col("n_dt"))
      val ref = Tables.events(s, d)
        .groupBy("event_type").agg(count(lit(1)).as("n_t"))
      val refTot = ref.agg(sum(col("n_t")).as("n")).collect()(0).getLong(0)
      val dayTot = perDay.groupBy("day").agg(sum(col("n_dt")).as("n_d"))
      // complete day×type grid so absent types still contribute
      dayTot.crossJoin(broadcast(ref))
        .join(perDay, Seq("day", "event_type"), "left")
        .na.fill(0L, Seq("n_dt"))
        .withColumn("term",
          abs(col("n_dt").cast(dec) * lit(refTot) -
            col("n_d").cast(dec) * col("n_t").cast(dec)))
        .groupBy("day")
        .agg(max(col("n_d")).as("n_day"), sum(col("term")).as("tv_num"))
        .select(col("day"), col("n_day"),
          expr(s"CAST((tv_num * 1000000) div " +
            s"(2 * CAST(n_day AS DECIMAL(38,0)) * $refTot) AS BIGINT)")
            .as("drift_ppm"))
        .orderBy("day")
    },
    Some(
      """WITH perday AS (
        |  SELECT date_trunc('day', ts) AS day, event_type,
        |    CAST(count(*) AS BIGINT) AS n_dt
        |  FROM events GROUP BY 1, 2),
        |ref AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_t
        |  FROM events GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_t) AS BIGINT) AS n FROM ref),
        |daytot AS (
        |  SELECT day, CAST(sum(n_dt) AS BIGINT) AS n_d
        |  FROM perday GROUP BY day),
        |grid AS (
        |  SELECT dt.day, dt.n_d, r.event_type, r.n_t,
        |    coalesce(p.n_dt, 0) AS n_dt
        |  FROM daytot dt CROSS JOIN ref r
        |  LEFT JOIN perday p
        |    ON p.day = dt.day AND p.event_type = r.event_type),
        |tv AS (
        |  SELECT day, max(n_d) AS n_day,
        |    sum(abs(CAST(n_dt AS HUGEINT) * (SELECT n FROM tot)
        |      - CAST(n_d AS HUGEINT) * n_t)) AS tv_num
        |  FROM grid GROUP BY day)
        |SELECT day, n_day,
        |  CAST((tv_num * 1000000) //
        |    (2 * CAST(n_day AS HUGEINT) * (SELECT n FROM tot)) AS BIGINT)
        |    AS drift_ppm
        |FROM tv ORDER BY day""".stripMargin
    )
  )

  /** q_stream_kmv — the native KMV sampled-median aggregate
    * ([[graft.functions.KmvMedianAgg]]) running INSIDE a streaming
    * windowed aggregation: per-day sampled median of event values —
    * the bounded-state way to track a value distribution's center
    * per ingest window when exact per-window medians would hold
    * O(distinct values) state (the same native-aggregate-in-streaming
    * proof [[qStreamHll]] gives for HLL). Hash-min selection is
    * batching-independent — micro-batch boundaries merge through the
    * same semilattice join as shuffle partials — so streaming equals
    * batch equals the DuckDB oracle's ORDER BY md5 LIMIT 64 replay.
    *
    * 100 TB shape: ≤ 64×24 B state per live window under the
    * streaming ObjectHashAggregate; the oracle-side exact comparison
    * is test-only.
    */
  val qStreamKmv = Q(
    "q_stream_kmv",
    (s, d) => {
      graft.functions.GraftFunctions.register(s)
      import graft.functions.GraftFunctions.graft_kmv_median
      val rawSchema = Tables.eventsRaw(s, d).schema
      val qn = s"graft_stream_${nameCounter.incrementAndGet()}"
      val stream = withTsMicros(s.readStream
        .schema(rawSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(d))
        .select(window(col("ts"), "1 day").as("window"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
        .groupBy("window")
        .agg(graft_kmv_median(col("cents")).as("kmv_med"))
      val query = stream.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(qn)
        .start()
      try query.processAllAvailable()
      finally query.stop()
      s.table(qn)
        .select(col("window.start").cast("timestamp_ntz").as("day"),
          col("kmv_med"))
        .orderBy("day")
    },
    Some(
      """WITH c AS (
        |  SELECT DISTINCT date_trunc('day', ts) AS day,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events),
        |kept AS (
        |  SELECT day, cents,
        |    row_number() OVER (PARTITION BY day
        |      ORDER BY md5(CAST(cents AS VARCHAR))) AS rn
        |  FROM c)
        |SELECT day, cents AS kmv_med FROM (
        |  SELECT day, cents,
        |    row_number() OVER (PARTITION BY day ORDER BY cents) AS vr,
        |    count(*) OVER (PARTITION BY day) AS m
        |  FROM kept WHERE rn <= 64)
        |WHERE vr = (m + 1) // 2
        |ORDER BY day""".stripMargin
    )
  )

  /** q_stream_f2 — the native AMS F2 aggregate
    * ([[graft.functions.F2SketchAgg]]) running INSIDE a streaming
    * windowed aggregation: per-day self-join size of the event_type
    * frequency vector, estimated from 256-byte sketch state. Because
    * the sketch is LINEAR (merge = vector add), incremental
    * micro-batch updates commute with the estimate EXACTLY — not just
    * up to a kept set — so streaming == batch == oracle with no
    * caveat; the audit joins the batch-side exact F2 per day. This is
    * the sketch family streaming state stores want: counter vectors
    * whose per-batch delta is itself a sketch.
    *
    * 100 TB shape: state is 256 B per open window regardless of event
    * volume; the per-batch shuffle carries sketch partials, never
    * event rows; the exact column is the audit and would be dropped
    * in production.
    */
  val qStreamF2 = Q(
    "q_stream_f2",
    (s, d) => {
      graft.functions.GraftFunctions.register(s)
      import graft.functions.GraftFunctions.graft_f2
      val rawSchema = Tables.eventsRaw(s, d).schema
      val qn = s"graft_stream_${nameCounter.incrementAndGet()}"
      val stream = withTsMicros(s.readStream
        .schema(rawSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(d))
        .select(window(col("ts"), "1 day").as("window"),
          col("event_type"), lit(1L).as("w"))
        .groupBy("window")
        .agg(graft_f2(col("event_type"), col("w")).as("f2_est"))
      val query = stream.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(qn)
        .start()
      try query.processAllAvailable()
      finally query.stop()
      val est = s.table(qn)
        .select(col("window.start").cast("timestamp_ntz").as("day"),
          col("f2_est"))
      val exact = Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("c"))
        .groupBy("day").agg(sum(col("c") * col("c")).as("f2_exact"))
      est.join(exact, "day")
        .select(col("day"), col("f2_exact"), col("f2_est"),
          expr("CASE WHEN f2_est >= f2_exact " +
            "THEN (f2_est - f2_exact) * 1000000 div f2_exact " +
            "ELSE -((f2_exact - f2_est) * 1000000 div f2_exact) END")
            .as("err_ppm"))
        .orderBy("day")
    },
    Some {
      val sign = "CASE WHEN (strpos('0123456789abcdef', " +
        "substr(md5(CAST(v.j AS VARCHAR) || ':' || event_type), 1, 1)) - 1) " +
        "% 2 = 0 THEN c ELSE -c END"
      s"""WITH tc AS (
         |  SELECT date_trunc('day', ts) AS day, event_type, count(*) AS c
         |  FROM events GROUP BY 1, 2),
         |counters AS (
         |  SELECT day, CAST(v.j AS INT) AS j, SUM($sign) AS ctr
         |  FROM tc, UNNEST(range(0, 32)) AS v(j)
         |  GROUP BY day, v.j),
         |gsums AS (
         |  SELECT day, j // 8 AS g, SUM(ctr * ctr) AS gs
         |  FROM counters GROUP BY day, j // 8),
         |med AS (
         |  SELECT day, gs FROM (
         |    SELECT day, gs,
         |      row_number() OVER (PARTITION BY day ORDER BY gs) AS rn
         |    FROM gsums) WHERE rn = 2),
         |exact AS (
         |  SELECT day, SUM(c * c) AS f2_exact FROM tc GROUP BY day)
         |SELECT day, CAST(f2_exact AS BIGINT) AS f2_exact,
         |  CAST(gs // 8 AS BIGINT) AS f2_est,
         |  CAST(CASE WHEN gs // 8 >= f2_exact
         |    THEN ((gs // 8 - f2_exact) * 1000000) // f2_exact
         |    ELSE -(((f2_exact - gs // 8) * 1000000) // f2_exact)
         |  END AS BIGINT) AS err_ppm
         |FROM med JOIN exact USING (day)
         |ORDER BY day""".stripMargin
    }
  )

  /** q_stream_constrained — the write-time CHECK-constraint gate
    * ([[Layout.qConstrainedWrite]]) run as a continuous-ingest
    * scrubber: the SAME corrupted batch arrives as files, a streaming
    * query tags each row with the ROW-LOCAL constraints it violates
    * (stateless map — [[Layout.rowViolations]] unchanged; append mode,
    * no watermark), the flagged stream lands in the sink, and the
    * query returns the per-rule audit. The uniqueness rule needs
    * cross-row state and deliberately stays with the batch
    * reconciler — streaming key dedup is q_stream_dedup's job; the
    * oracle here audits exactly the three stateless rules.
    *
    * 100 TB shape: pure stateless row transforms on the stream — no
    * state store, no shuffle until the final ≤5-key audit rollup over
    * the sink.
    */
  val qStreamConstrained = Q(
    "q_stream_constrained",
    (s, d) => {
      val inDir = graft.Scratch.dir("stream_constrained_in").toString
      Layout.plantedIngest(s, d).write.mode("overwrite").parquet(inDir)
      val stream = s.readStream
        .schema(s.read.parquet(inDir).schema)
        .parquet(inDir)
        .withColumn("violations", Layout.rowViolations)
      val flagged = runToParquetSink(s, "stream_constrained_sink")(stream)
      Layout.auditRollup(flagged)
    },
    Some(
      s"""WITH ${Layout.ingestSql},
        |flagged AS (
        |  SELECT list_filter([
        |      CASE WHEN n_chars <> length(text) THEN 'c_len_match' END,
        |      CASE WHEN length(text) = 0 THEN 'c_nonempty' END,
        |      CASE WHEN lang NOT IN ('en','de','es','fr','zh')
        |        THEN 'c_lang_known' END],
        |    x -> x IS NOT NULL) AS v
        |  FROM ingest)
        |SELECT rule, CAST(count(*) AS BIGINT) AS n_rows
        |FROM (SELECT unnest(v) AS rule FROM flagged) GROUP BY 1
        |UNION ALL
        |SELECT 'rows_written', CAST(count(*) AS BIGINT) FROM flagged
        |WHERE len(v) = 0
        |UNION ALL
        |SELECT 'rows_quarantined', CAST(count(*) AS BIGINT) FROM flagged
        |WHERE len(v) > 0
        |ORDER BY rule""".stripMargin
    )
  )

  /** q_stream_crossmodal — the cross-modal alignment gate at INGEST
    * time: arriving image–text pairs are scored against the standing
    * embedding store and land in the sink WITH their alignment
    * verdict; the audit rollup reads the sink. The streaming twin of
    * [[Similarity.qCrossmodalGate]] (the q_stream_constrained
    * pattern), sharing its pair derivation, gated embedding joins,
    * sign-perturbed image twin, and exact-integer cosine threshold —
    * so batch and stream converge to the same audit BY CONSTRUCTION
    * over the same rows, and the oracle is shared verbatim.
    *
    * 100 TB shape: the streaming pipeline is STATELESS (map + two
    * stream-static equi-joins — no watermark state, runnable
    * forever); the static embedding store rides the size gate
    * (broadcast while small, vec_id-keyed shuffle of the micro-batch
    * against the co-partitioned store at CLIP scale) and is
    * localCheckpoint-pinned once per session so micro-batches don't
    * re-derive it. The per-source rollup runs over the sink, exactly
    * where a production audit reads.
    */
  val qStreamCrossmodal = Q(
    "q_stream_crossmodal",
    (s, d) => {
      val docsSchema = Tables.documents(s, d).schema
      val (emb, embRows) = Similarity.crossmodalEmb(s, d)
      val stream = s.readStream
        .schema(docsSchema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(d)
      val scored = Similarity.crossmodalScored(
        Similarity.crossmodalPairs(stream), emb, embRows)
      val landed = runToParquetSink(s, "stream_crossmodal")(scored)
      Similarity.crossmodalRollup(landed)
    },
    Some(Similarity.crossmodalOracleSql)
  )

  val all: Seq[Q] =
    Seq(qStreamWindow, qStreamWindowProd, qSessionize, qStreamDedup,
      qStreamEnrich, qStreamStreamJoin, qStreamStreamLeft, qStreamNeardup,
      qStreamSliding, qStreamAttribution, qStreamPii, qStreamLtv,
      qStreamLate, qStreamMerge, qStreamHll, qStreamSessionTimer,
      qStreamDrift, qStreamKmv, qStreamF2, qStreamConstrained,
      qStreamCrossmodal)
}
