package graft.ops

import graft.{Hash, OracleSql, Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reproducible sampling for training pipelines. Engine-native samplers
  * (TABLESAMPLE, df.sample) draw from engine-specific RNGs and can never
  * agree across systems or reruns with different partitioning — so these
  * ops sample by content hash instead: deterministic, stable under
  * repartitioning, identical in Spark and the oracle, and exactly
  * reproducible between pipeline runs (the property that matters when a
  * training corpus must be re-derivable).
  */
object Sampling {

  /** q_hash_sample — ~1/8 sample: keep docs whose md5 leads with 0 or 1
    * (2/16 of hex space). Membership is a pure function of content.
    */
  val qHashSample = Q(
    "q_hash_sample",
    (s, d) =>
      Tables
        .documents(s, d)
        .filter(substring(md5(col("text")), 1, 1).isin("0", "1"))
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id"),
    Some(
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(text), 1, 1) IN ('0', '1')
        |ORDER BY doc_id""".stripMargin
    )
  )

  /** q_stratified_sample — balanced per-language sample: 10 docs per
    * language, selected by hash order (content-deterministic ranking,
    * not first-N-in-file order which depends on layout).
    */
  val qStratifiedSample = Q(
    "q_stratified_sample",
    (s, d) => {
      val w = Window.partitionBy("lang").orderBy(md5(col("text")))
      Tables
        .documents(s, d)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("lang"), col("rk"), col("doc_id"))
        .orderBy("lang", "rk")
    },
    Some(
      """SELECT lang, CAST(rk AS INT) AS rk, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY md5(text)) AS rk
        |  FROM documents) t
        |WHERE rk <= 10 ORDER BY lang, rk""".stripMargin
    )
  )

  /** q_train_val_split — reproducible 50/50 train/validation split by
    * content hash, reported as per-split per-language counts.
    */
  val qTrainValSplit = Q(
    "q_train_val_split",
    (s, d) =>
      Tables
        .documents(s, d)
        .select(
          col("lang"),
          when(substring(md5(col("text")), 1, 1) < "8", "train")
            .otherwise("val")
            .as("split")
        )
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "split"),
    Some(
      """SELECT lang,
        |  CASE WHEN substr(md5(text), 1, 1) < '8' THEN 'train' ELSE 'val' END AS split,
        |  count(*) AS n
        |FROM documents GROUP BY 1, 2 ORDER BY lang, split""".stripMargin
    )
  )

  /** q_importance_sample — per-row varying-probability sampling, the
    * quality-weighted downsampling step of corpus curation (keep long /
    * high-quality documents with higher probability): row kept iff its
    * content-hash uniform u ∈ [0,1) is below the row's own acceptance
    * probability p = min(1, n_chars/400). Fully deterministic and
    * re-derivable: u is the first 8 md5 hex digits as a 32-bit integer
    * over 2³², p a single exact division — no RNG anywhere, identical
    * keep-set in both engines, stable under repartitioning.
    *
    * 100 TB shape: pure map-side filter on the scan — no shuffle, no
    * state; expected output size is Σp without a separate sizing pass.
    */
  val qImportanceSample = Q(
    "q_importance_sample",
    (s, d) => {
      val u = Hash.hexToBigint(md5(col("text")))
        .cast("long").cast("double") / lit(4294967296.0)
      val p = least(lit(1.0), col("n_chars").cast("double") / lit(400.0))
      Tables.documents(s, d)
        .withColumn("u", u)
        .withColumn("p", p)
        .filter(col("u") < col("p"))
        .select(col("doc_id"), col("u"), col("p"))
        .orderBy("doc_id")
    },
    Some {
      s"""SELECT doc_id, u, p FROM (
         |  SELECT doc_id,
         |    CAST(${OracleSql.hexToBigint("h")} AS DOUBLE) / 4294967296.0e0 AS u,
         |    least(1.0e0, CAST(n_chars AS DOUBLE) / 400.0e0) AS p
         |  FROM (SELECT doc_id, n_chars, substr(md5(text), 1, 8) AS h
         |        FROM documents))
         |WHERE u < p ORDER BY doc_id""".stripMargin
    }
  )

  /** q_temperature_mix — temperature-based mixture quotas (the
    * multilingual-corpus reweighting rule, p_s ∝ n_s^α): per-source
    * document quotas out of a 1000-doc budget at temperature α = 1/2.
    * α = 1/2 is chosen deliberately: n^0.5 = sqrt(n) and IEEE-754
    * requires sqrt to be correctly rounded, so — unlike exp/ln powers —
    * both engines produce the bit-identical double, which is then
    * quantized to a BIGINT and divided with floor semantics. The whole
    * quota computation is exact integer arithmetic on a 5-row
    * aggregate; at any scale this is one partial-aggregated count per
    * source plus a broadcast scalar total.
    */
  val qTemperatureMix = Q(
    "q_temperature_mix",
    (s, d) => {
      val counts = Tables.documents(s, d)
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
        .withColumn("sq",
          floor(sqrt(col("n_docs").cast("double")) * 1e6 + 0.5).cast("long"))
      val tot = counts.agg(sum(col("sq")).as("tot"))
      counts.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"),
          expr("1000 * sq div tot").as("quota"))
        .orderBy("source")
    },
    Some(
      """WITH c AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
        |      AS sq
        |  FROM documents GROUP BY source)
        |SELECT source, n_docs,
        |  CAST((1000 * sq) //
        |    (SELECT CAST(sum(sq) AS BIGINT) FROM c) AS BIGINT) AS quota
        |FROM c ORDER BY source""".stripMargin
    )
  )

  /** q_curriculum — deterministic multi-epoch training schedule on top
    * of the temperature quotas: docs rank within their source by
    * (md5(text), doc_id); a doc with rank r < min(4·quota, n_source)
    * trains in epoch r div quota (4 epochs, temperature-α=1/2 quotas
    * out of a budget of half the corpus). Small sources exhaust before
    * epoch 3 — a real scheduler would oversample (repeat epochs); the
    * deterministic cap keeps the oracle exact and the skew visible.
    *
    * Scale shape: the rank is a per-source window (one shuffle on the
    * corpus layout key), the quota table is a broadcast 5-row join —
    * no global sort anywhere.
    */
  val qCurriculum = Q(
    "q_curriculum",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.documents(s, d)
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
        .withColumn("sq",
          floor(sqrt(col("n_docs").cast("double")) * 1e6 + 0.5).cast("long"))
      val tot = counts.agg(sum(col("sq")).as("tot"))
      val budget = Tables.documents(s, d)
        .agg((count(lit(1)) / 2).cast("long").as("b"))
      val quotas = counts.crossJoin(broadcast(tot))
        .crossJoin(broadcast(budget))
        .select(col("source"), col("n_docs"),
          expr("b * sq div tot").as("quota"))
      val ranked = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), md5(col("text")).as("h"))
        .withColumn("r",
          row_number().over(
            Window.partitionBy("source").orderBy("h", "doc_id")) - 1)
      ranked.join(broadcast(quotas), "source")
        .filter(col("quota") > 0 &&
          col("r") < least(col("quota") * 4, col("n_docs")))
        .select(col("doc_id"), col("source"),
          expr("r div quota").cast("int").as("epoch"))
        .orderBy("doc_id")
    },
    Some(
      """WITH c AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
        |      AS sq
        |  FROM documents GROUP BY source),
        |q AS (
        |  SELECT source, n_docs,
        |    ((SELECT count(*) FROM documents) // 2 * sq) //
        |      (SELECT CAST(sum(sq) AS BIGINT) FROM c) AS quota
        |  FROM c),
        |ranked AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(text), doc_id) - 1 AS r
        |  FROM documents)
        |SELECT doc_id, source, CAST(r // quota AS INT) AS epoch
        |FROM ranked JOIN q USING (source)
        |WHERE quota > 0 AND r < least(4 * quota, n_docs)
        |ORDER BY doc_id""".stripMargin
    )
  )

  /** q_weighted_reservoir — Efraimidis–Spirakis (A-ES) weighted
    * sampling without replacement: per source, the 5 documents with the
    * largest key ln(u)/w, where u is the document's md5-uniform and
    * w = n_chars its weight — equivalent to max u^(1/w), the classic
    * distributed weighted reservoir. No RNG: u is derived from
    * md5(text) exactly as the other samplers, ln is quantized to 1e-6
    * integer units (the module-wide cross-engine guard), and the final
    * key is one IEEE divide of exact ints — bit-identical in both
    * engines.
    *
    * 100 TB shape: the key is computed map-side on the scan; the
    * per-source top-5 is a rank window whose rank<=k filter Spark
    * pushes down as WindowGroupLimit (partial top-k before the one
    * shuffle by source), so the exchange carries at most 5 rows per
    * source per input partition — never the corpus.
    */
  val qWeightedReservoir = Q(
    "q_weighted_reservoir",
    (s, d) => {
      // u in (0,1): (u32 + 0.5) / 2^32 — never 0, ln always defined
      val u = (Hash.hexToBigint(md5(col("text")))
        .cast("long").cast("double") + lit(0.5)) / lit(4294967296.0)
      // round-half-up like every other transcendental quantization in
      // the repo (floor(x*1e6+0.5)), not a truncating floor — less
      // sensitive to 1-ulp libm differences at bucket boundaries
      val lnq = floor(log(u) * lit(1000000.0) + lit(0.5)).cast("long")
      val key = (lnq.cast("double") / col("n_chars").cast("double"))
      val keyed = Tables.documents(s, d)
        .filter(col("n_chars") > 0)
        .select(col("doc_id"), col("source"), col("n_chars"),
          key.as("ares_key"))
      val w = Window.partitionBy("source")
        .orderBy(col("ares_key").desc, col("doc_id").asc)
      keyed
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("source"), col("rank"), col("doc_id"), col("n_chars"),
          col("ares_key"))
        .orderBy("source", "rank")
    },
    Some {
      s"""WITH keyed AS (
         |  SELECT doc_id, source, n_chars,
         |    CAST(floor(ln((CAST(${OracleSql.hexToBigint("h")} AS DOUBLE) + 0.5) / 4294967296.0e0)
         |        * 1000000.0e0 + 0.5e0) AS BIGINT) AS lnq
         |  FROM (SELECT doc_id, source, n_chars, substr(md5(text), 1, 8) AS h
         |        FROM documents WHERE n_chars > 0)),
         |ranked AS (
         |  SELECT source, doc_id, n_chars,
         |    CAST(lnq AS DOUBLE) / CAST(n_chars AS DOUBLE) AS ares_key,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY CAST(lnq AS DOUBLE) / CAST(n_chars AS DOUBLE) DESC,
         |               doc_id ASC) AS rank
         |  FROM keyed)
         |SELECT source, CAST(rank AS INT) AS rank, doc_id, n_chars, ares_key
         |FROM ranked WHERE rank <= 5
         |ORDER BY source, rank""".stripMargin
    }
  )

  /** q_epoch_shuffle — deterministic per-epoch training-order shuffle:
    * for each epoch the corpus gets a fresh pseudo-random permutation
    * keyed by md5(epoch ‖ doc_id), materialized as (epoch, shard,
    * position) — the (shard, position) pair IS the data-loader read
    * order. Epoch-seeded hashing gives a different, reproducible
    * permutation per epoch with no RNG state to coordinate across
    * executors.
    *
    * 100 TB shape: the order is sharded on purpose — position is a
    * row_number window partitioned by (epoch, shard), so the sort is
    * per-shard (corpus/8 rows), never a global total order; a global
    * ORDER BY at this scale would be one range-partitioned sort of
    * the whole corpus per epoch. Loaders stream shards independently,
    * which is exactly how epoch shuffling is served in practice
    * (shard-level shuffle + within-shard order).
    */
  val qEpochShuffle = Q(
    "q_epoch_shuffle",
    (s, d) => {
      val epochs = 3
      val shards = 8
      val keyed = Tables.documents(s, d)
        .select(col("doc_id"))
        .crossJoin(broadcast(
          s.range(0, epochs).select(col("id").cast("int").as("epoch"))))
        .withColumn("h", Hash.hexToBigint(md5(concat(
          col("epoch").cast("string"), lit(":"),
          col("doc_id").cast("string")))).cast("long"))
        .withColumn("shard", (col("h") % shards).cast("int"))
      keyed
        .withColumn("pos", row_number().over(
          Window.partitionBy("epoch", "shard")
            .orderBy(col("h"), col("doc_id"))))
        .select(col("epoch"), col("shard"), col("pos"), col("doc_id"))
        .orderBy("epoch", "shard", "pos")
    },
    Some {
      s"""WITH keyed AS (
         |  SELECT epoch, doc_id, CAST(${OracleSql.hexToBigint("hh")} AS BIGINT) AS h
         |  FROM (
         |    SELECT CAST(e.v AS INT) AS epoch, doc_id,
         |      substr(md5(CAST(e.v AS VARCHAR) || ':' ||
         |        CAST(doc_id AS VARCHAR)), 1, 8) AS hh
         |    FROM documents, UNNEST(range(0, 3)) AS e(v)))
         |SELECT epoch, CAST(h % 8 AS INT) AS shard,
         |  CAST(row_number() OVER (PARTITION BY epoch, h % 8
         |    ORDER BY h, doc_id) AS INT) AS pos,
         |  doc_id
         |FROM keyed
         |ORDER BY epoch, shard, pos""".stripMargin
    }
  )

  /** q_split_leakage — train/val contamination audit over the
    * content-hash split (q_train_val_split's rule): exact-duplicate
    * leakage is structurally IMPOSSIBLE under a content-hash split
    * (identical text → identical digest → same side), and the audit
    * proves it (exact_leak_docs is computed, not assumed, and must be
    * 0); near-duplicate leakage is NOT prevented — LSH candidate
    * pairs that straddle the split are the val documents whose
    * near-copy sits in train, the contamination that silently
    * inflates eval scores. Reports both, plus the leaked-val fraction
    * in ppm.
    *
    * 100 TB shape: the exact check joins 16-byte digests (never
    * text); the near-dup check reuses the banded LSH pair generation
    * (skew-guarded, candidate-bounded); split labels are a map-side
    * expression on each side of the pair join.
    */
  val qSplitLeakage = Q(
    "q_split_leakage",
    (s, d) => {
      val split = Tables.documents(s, d)
        .select(col("doc_id"),
          when(substring(md5(col("text")), 1, 1) < "8", "train")
            .otherwise("val").as("split"),
          md5(col("text")).as("digest"))
      val counts = split.groupBy().agg(
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"))
      // exact leakage: digests present on BOTH sides (0 by construction
      // under a content-hash split — computed to prove it)
      val exactLeak = split.groupBy("digest")
        .agg(countDistinct(col("split")).as("nsides"),
          sum(when(col("split") === "val", 1L).otherwise(0L)).as("nval"))
        .filter(col("nsides") === 2)
        .agg(coalesce(sum(col("nval")), lit(0L)).as("exact_leak_docs"))
      // near-dup leakage: LSH candidate pairs straddling the split
      val pairs = Dedup.lshPairs(s, d)
      val sa = split.select(col("doc_id").as("id_a"),
        col("split").as("split_a"))
      val sb = split.select(col("doc_id").as("id_b"),
        col("split").as("split_b"))
      val cross = pairs.join(sa, "id_a").join(sb, "id_b")
        .filter(col("split_a") =!= col("split_b"))
        .select(when(col("split_a") === "val", col("id_a"))
          .otherwise(col("id_b")).as("val_doc"))
      val nearLeak = cross.agg(
        count(lit(1)).as("neardup_leak_pairs"),
        countDistinct(col("val_doc")).as("leaked_val_docs"))
      counts.crossJoin(broadcast(exactLeak)).crossJoin(broadcast(nearLeak))
        .select(col("n_train"), col("n_val"), col("exact_leak_docs"),
          col("neardup_leak_pairs"), col("leaked_val_docs"),
          expr("leaked_val_docs * 1000000 div n_val").as("leak_ppm"))
    },
    Some(
      s"""WITH split AS (
         |  SELECT doc_id,
         |    CASE WHEN substr(md5(text), 1, 1) < '8' THEN 'train'
         |      ELSE 'val' END AS split,
         |    md5(text) AS digest
         |  FROM documents),
         |counts AS (
         |  SELECT
         |    CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_train,
         |    CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_val
         |  FROM split),
         |exact_leak AS (
         |  SELECT CAST(coalesce(sum(nval), 0) AS BIGINT)
         |    AS exact_leak_docs
         |  FROM (
         |    SELECT digest, count(DISTINCT split) AS nsides,
         |      sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS nval
         |    FROM split GROUP BY digest)
         |  WHERE nsides = 2),
         |pairs AS (${Dedup.lshPairsSql}),
         |cross_pairs AS (
         |  SELECT CASE WHEN a.split = 'val' THEN p.id_a ELSE p.id_b END
         |    AS val_doc
         |  FROM pairs p
         |  JOIN split a ON a.doc_id = p.id_a
         |  JOIN split b ON b.doc_id = p.id_b
         |  WHERE a.split <> b.split),
         |near_leak AS (
         |  SELECT count(*) AS neardup_leak_pairs,
         |    count(DISTINCT val_doc) AS leaked_val_docs
         |  FROM cross_pairs)
         |SELECT n_train, n_val, exact_leak_docs,
         |  CAST(neardup_leak_pairs AS BIGINT) AS neardup_leak_pairs,
         |  CAST(leaked_val_docs AS BIGINT) AS leaked_val_docs,
         |  (CAST(leaked_val_docs AS BIGINT) * 1000000) // n_val
         |    AS leak_ppm
         |FROM counts, exact_leak, near_leak""".stripMargin
    )
  )

  /** q_time_decay_sample — recency-weighted event sampling: each
    * event's keep-probability decays exponentially with age, p =
    * exp(−age/τ) with τ = 10 days, and the keep decision is the
    * deterministic content-hash Bernoulli (u_ppm < p_ppm) — the
    * freshness-biased downsampling a training pipeline applies to
    * interaction logs so stale behavior fades without a hard cutoff.
    * Age is exact µs integer arithmetic off the in-plan max
    * timestamp; the one transcendental (exp) is ppm-quantized with
    * the repo's floor(x·1e6 + 0.5) convention before the integer
    * compare, so keep-sets are identical across engines. Reports the
    * per-day decay curve: events, mean p in ppm, kept.
    *
    * 100 TB shape: the max-ts is a broadcast 1-row aggregate; the
    * weight/keep decision is map-side on the scan; the rollup
    * shuffles one partial row per (partition, day).
    */
  val qTimeDecaySample = Q(
    "q_time_decay_sample",
    (s, d) => {
      val tauUs = 10.0 * 86400.0 * 1000000.0
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), unix_micros(col("ts")).as("us"))
      val mx = ev.agg(max(col("us")).as("mx"))
      ev.crossJoin(broadcast(mx))
        .withColumn("p_ppm", floor(
          exp((col("us") - col("mx")).cast("double") / lit(tauUs)) *
            lit(1000000.0) + lit(0.5)).cast("long"))
        .withColumn("u_ppm",
          Hash.hexToBigint(md5(concat(lit("decay:"),
            col("event_id").cast("string"))))
            .cast("long") % 1000000)
        .groupBy(date_trunc("day", col("ts")).cast("timestamp_ntz")
          .as("day"))
        .agg(count(lit(1)).as("n_events"),
          expr("sum(p_ppm) div count(1)").as("mean_p_ppm"),
          sum(when(col("u_ppm") < col("p_ppm"), 1L).otherwise(0L))
            .as("n_kept"))
        .orderBy("day")
    },
    Some {
      s"""WITH mx AS (SELECT max(epoch_us(ts)) AS mx FROM events),
         |w AS (
         |  SELECT ts, event_id,
         |    CAST(floor(exp(CAST(epoch_us(ts) - mx.mx AS DOUBLE)
         |      / 864000000000.0e0) * 1000000.0e0 + 0.5e0) AS BIGINT)
         |      AS p_ppm,
         |    ${OracleSql.hexToBigint("md5('decay:' || CAST(event_id AS VARCHAR))")} % 1000000 AS u_ppm
         |  FROM events, mx)
         |SELECT date_trunc('day', ts) AS day, count(*) AS n_events,
         |  CAST(sum(p_ppm) AS BIGINT) // count(*) AS mean_p_ppm,
         |  CAST(sum(CASE WHEN u_ppm < p_ppm THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept
         |FROM w GROUP BY 1 ORDER BY day""".stripMargin
    }
  )

  /** q_waterfill — exact water-filling token allocation: spread a
    * global token budget B across sources as evenly as possible
    * subject to each source's supply cap (its total token count) —
    * the max-min-fair quota rule a mixture designer applies when a
    * flat split would over-ask small sources (complementing
    * [[qTemperatureMix]]'s power-law quotas with the fairness-optimal
    * ones). A source with cap c gets min(c, L) where the water level
    * L solves Σ min(c_s, L) = B; the classic exact algorithm: walk
    * sources by ascending cap, source i (1-based rank, r_i = R−i+1
    * remaining) saturates iff prefix_{i−1} + c_i·r_i ≤ B — a
    * MONOTONE predicate, so it is one window pass, no iteration —
    * then L = (B − P_k) div (R−k) for the k saturated sources'
    * remainder. B = 9/10 of total supply, so the cap-poor sources
    * saturate and the rest share the level.
    *
    * Cross-engine exactness: all token counts BIGINT; c_i·r_i and the
    * one division are exact 64-bit (caps ≤ 2⁶³/R); floor division
    * leaves B − Σalloc < R−k tokens unallocated — stated, determinate,
    * identical on both engines.
    *
    * 100 TB shape: one partial-aggregated count per source; everything
    * after is a catalog-sized (R-row) frame — windows over it are
    * bounded by construction. Output: per-source cap, allocation, and
    * saturation flag, plus the implied water level.
    */
  val qWaterfill = Q(
    "q_waterfill",
    (s, d) => {
      val caps = Tables.documents(s, d)
        .select(col("source"),
          size(TextOps.wsTokens(col("text"))).cast("long").as("n_tok"))
        .groupBy("source").agg(sum(col("n_tok")).as("cap"))
      val tot = caps.agg(sum(col("cap")).as("supply"),
        count(lit(1)).as("rr"))
      val w = Window.orderBy(col("cap"), col("source"))
      val ranked = caps.crossJoin(broadcast(tot))
        .withColumn("b", expr("9 * supply div 10"))
        .withColumn("i", row_number().over(w))
        .withColumn("pfx", sum(col("cap")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("sat",
          col("pfx") - col("cap") + col("cap") * (col("rr") - col("i") + 1)
            <= col("b"))
      val kf = ranked.agg(
        sum(when(col("sat"), 1L).otherwise(0L)).as("k"),
        sum(when(col("sat"), col("cap")).otherwise(0L)).as("pk"))
      ranked.crossJoin(broadcast(kf))
        .withColumn("level",
          when(col("rr") > col("k"),
            expr("(b - pk) div (rr - k)")).otherwise(lit(null)))
        .select(col("source"), col("cap"),
          when(col("sat"), col("cap")).otherwise(col("level")).as("alloc"),
          col("sat").as("saturated"), col("level"))
        .orderBy("source")
    },
    Some(
      """WITH caps AS (
        |  SELECT source,
        |    CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t <> ''))) AS BIGINT) AS cap
        |  FROM documents GROUP BY source),
        |tot AS (
        |  SELECT CAST(sum(cap) AS BIGINT) AS supply,
        |    CAST(count(*) AS BIGINT) AS rr
        |  FROM caps),
        |ranked AS (
        |  SELECT source, cap, supply, rr, (9 * supply) // 10 AS b,
        |    CAST(row_number() OVER (ORDER BY cap, source) AS BIGINT) AS i,
        |    CAST(sum(cap) OVER (ORDER BY cap, source
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS pfx
        |  FROM caps, tot),
        |flagged AS (
        |  SELECT *, pfx - cap + cap * (rr - i + 1) <= b AS sat
        |  FROM ranked),
        |kf AS (
        |  SELECT CAST(sum(CASE WHEN sat THEN 1 ELSE 0 END) AS BIGINT) AS k,
        |    CAST(sum(CASE WHEN sat THEN cap ELSE 0 END) AS BIGINT) AS pk
        |  FROM flagged)
        |SELECT source, cap,
        |  CASE WHEN sat THEN cap
        |    ELSE (b - pk) // (rr - k) END AS alloc,
        |  sat AS saturated,
        |  CASE WHEN rr > k THEN (b - pk) // (rr - k) END AS level
        |FROM flagged, kf ORDER BY source""".stripMargin
    )
  )

  val all: Seq[Q] =
    Seq(qHashSample, qStratifiedSample, qTrainValSplit, qImportanceSample,
      qTemperatureMix, qCurriculum, qWeightedReservoir, qEpochShuffle,
      qSplitLeakage, qTimeDecaySample, qWaterfill)
}
