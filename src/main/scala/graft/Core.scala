package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** A named query with an optional DuckDB oracle.
  *
  * The driver contract (see SURVEY.md §7 and Verify.scala):
  * `fn(spark, sfDir)` runs on the driver-provided parquet tables under
  * `sfDir`; `oracle` is equivalent ANSI SQL that DuckDB executes on the
  * same tables. Queries without an oracle get a weaker rows-only check.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** Headline benchmark query (run by Bench.scala at sf0.1). */
    bench: Boolean = false
)

/** Loaders for the driver-generated parquet tables (TESTDATA.md). */
object Tables {

  /** Session conf gating [[spread]] (default on). `RadixMedianSpec`
    * turns it off to check the kill-switch; `Round14BatchSpec` holds
    * gate-on and gate-off results bit-equal.
    */
  val SpreadConfKey = "spark.graft.scan.spread"

  /** The natural unique key of each fixture table — the hash-spread
    * partitioning key. Hash (not round-robin) repartitioning keeps the
    * exchange deterministic WITHOUT the local sort round-robin pays
    * (`spark.sql.execution.sortBeforeRepartition` — a single-task sort
    * of the whole file, exactly the serialization being removed).
    */
  private val spreadKeys: Map[String, Seq[String]] = Map(
    "customer"   -> Seq("c_custkey"),
    "orders"     -> Seq("o_orderkey"),
    "lineitem"   -> Seq("l_orderkey", "l_linenumber"),
    "part"       -> Seq("p_partkey"),
    "documents"  -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "events"     -> Seq("event_id"))

  /** Footer metadata of one parquet path: row groups and bytes summed
    * over its data files, and the file metadata (parquet schema plus
    * key-value metadata) of the first data file — the file Spark's
    * non-merging schema inference reads.
    */
  private final case class ParquetMeta(groups: Int, bytes: Long,
      fileMeta: org.apache.parquet.hadoop.metadata.FileMetaData)

  /** path → (every data file's (name, length, mtime), its metadata): an
    * O(#files) footer read on the driver, no Spark job. A rewritten file
    * changes the stamp and is read again. This is planner metadata, not
    * cached data — scans still read the files.
    */
  private val metaMemo = new scala.collection.concurrent.TrieMap[
    String, (Seq[(String, Long, Long)], ParquetMeta)]

  private def parquetMeta(s: SparkSession, path: String): ParquetMeta = {
    val conf = s.sessionState.newHadoopConf()
    val p    = new org.apache.hadoop.fs.Path(path)
    val fs   = p.getFileSystem(conf)
    val files: Seq[org.apache.hadoop.fs.FileStatus] =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).toSeq.filter(f =>
          f.isFile && f.getPath.getName.endsWith(".parquet"))
          .sortBy(_.getPath.getName)
      else Seq(fs.getFileStatus(p))
    require(files.nonEmpty, s"no parquet data files under $path")
    val stamp = files.map(f =>
      (f.getPath.getName, f.getLen, f.getModificationTime))
    metaMemo.get(path) match {
      case Some((st, meta)) if st == stamp => meta
      case _ =>
        val footers = files.map { f =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
          try (r.getRowGroups.size, r.getFooter.getFileMetaData)
          finally r.close()
        }
        val meta = ParquetMeta(footers.map(_._1).sum,
          files.map(_.getLen).sum, footers.head._2)
        metaMemo.put(path, (stamp, meta))
        meta
    }
  }

  /** `path`'s Spark schema, converted from the memoized footer under the
    * CURRENT session conf by Spark's own converter — the schema
    * inference would give (including `nanosAsLong` and the schema Spark
    * writes into its own files' key-value metadata), without the
    * inference job.
    */
  private def parquetSchema(s: SparkSession, path: String)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val footer = new org.apache.parquet.hadoop.Footer(
      new org.apache.hadoop.fs.Path(path),
      new org.apache.parquet.hadoop.metadata.ParquetMetadata(
        parquetMeta(s, path).fileMeta, java.util.Collections.emptyList()))
    ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(s.sessionState.conf))
  }

  /** Tables below this size are never spread: the repartition exchange
    * costs more than the single-task scan it parallelizes (nation,
    * region, supplier — KB-sized dimensions). Conf-overridable ONLY so
    * the forced-gate equivalence spec can exercise the spread plan at
    * sf0.01 (where every fixture file sits under the default floor) —
    * the bench and driver sessions never set it.
    */
  val SpreadMinBytesConfKey = "spark.graft.scan.spread.minBytes"
  private val SpreadMinBytes = 256L * 1024

  /** True iff `name`'s parquet under `sfDir` is row-group-starved:
    * fewer row groups than the session's cores (parquet scan
    * parallelism is bounded by ROW GROUPS, not byte splits — a
    * one-row-group file scans as ONE task no matter how many splits
    * the planner cuts) and big enough that the starvation matters.
    */
  def scanStarved(s: SparkSession, sfDir: String, name: String): Boolean = {
    if (!s.conf.get(SpreadConfKey, "true").toBoolean) return false
    val floor = s.conf.get(SpreadMinBytesConfKey, SpreadMinBytes.toString).toLong
    val meta  = parquetMeta(s, s"$sfDir/$name.parquet")
    meta.groups < s.sparkContext.defaultParallelism && meta.bytes >= floor
  }

  /** Total on-disk bytes of `name`'s parquet under `sfDir` (memoized
    * footer/status read — the same metadata [[scanStarved]] touches).
    * Used to right-size data-dependent layout knobs (e.g. the
    * deletion-vector bucket count) to the input instead of hardcoding
    * a production constant that drowns a small fixture in empty
    * directories.
    */
  def tableBytes(s: SparkSession, sfDir: String, name: String): Long =
    parquetMeta(s, s"$sfDir/$name.parquet").bytes

  /** OPT-IN scale-adaptive spread for a compute-heavy scan-fused stage
    * (optimization guide §2.5, "input skew: one huge unsplittable file
    * — repartition immediately after the read"). The driver fixtures
    * ship ONE row group per table, so a scan-fused compute stage
    * (digest chains, per-position scans, tokenize+explode) runs in ONE
    * task regardless of core count (measured: orders.parquet → 1
    * non-empty scan partition; a 32-way explode+md5 stage over it
    * 3.7 s fused vs 0.7 s spread on local[32] — tools/SpreadProbe,
    * last in commit b6c9ab4).
    *
    * This is deliberately NOT applied to every table() read: the
    * exchange's write side is itself single-task, so for queries whose
    * heavy work already sits past their first natural shuffle the
    * spread is pure overhead (measured on the full-bench sweep:
    * q_count_star 0.13 → 0.54 s, q_sql_pricing 1.47 → 2.15 s when
    * auto-spread). Call sites opt in exactly where a heavy fused
    * stage follows, AFTER projecting down to the columns that stage
    * needs. At production scale (thousands of files × many row groups)
    * [[scanStarved]] is false and this returns `df` unchanged — the
    * exchange does not exist at scale.
    *
    * Partitioning is by `keys` (the source table's unique key —
    * deterministic, and hash partitioning skips the local pre-sort
    * round-robin repartitioning pays). Results stay partitioning-
    * independent: order-insensitive aggregates/joins + total final
    * sorts (re-verified against the full oracle sweep).
    */
  def spreadForCompute(df: DataFrame, s: SparkSession, sfDir: String,
      name: String, keys: Seq[String] = Seq.empty): DataFrame = {
    if (!scanStarved(s, sfDir, name)) return df
    val par = s.sparkContext.defaultParallelism
    val ks  = if (keys.nonEmpty) keys else spreadKeys.getOrElse(name, Seq.empty)
    if (ks.nonEmpty)
      df.repartition(par, ks.map(org.apache.spark.sql.functions.col): _*)
    else df.repartition(par)
  }

  /** `name`'s parquet under `sfDir` as a bare scan (never spread — see
    * [[spreadForCompute]]), read with the footer-derived schema: no
    * schema-inference job.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(parquetSchema(spark, path)).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")

  /** events.parquet's `ts` column has shipped in two physical forms:
    * TIMESTAMP(NANOS) — which Spark 4 rejects unless read as a raw
    * nanosecond long via the legacy conf — and plain µs timestamps,
    * which Spark reads natively (as TIMESTAMP_NTZ). This exposes the
    * file's physical schema either way; streaming readers need this
    * form because their declared read schema must match the file. The
    * legacy conf is set only when the memoized footer says `ts` is
    * TIMESTAMP(NANOS); a µs file leaves the session conf as it was.
    */
  def eventsRaw(s: SparkSession, d: String): DataFrame = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{
      TimeUnit, TimestampLogicalTypeAnnotation}
    val schema = parquetMeta(s, s"$d/events.parquet").fileMeta.getSchema
    val nanos = schema.containsField("ts") &&
      (schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
        case _                                 => false
      })
    if (nanos) s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    table(s, d, "events")
  }

  /** True when `df`'s ts column is the legacy raw-nanosecond BIGINT
    * form (TIMESTAMP(NANOS) fixtures under the nanosAsLong conf).
    */
  def tsIsRawNs(df: DataFrame): Boolean =
    df.schema("ts").dataType == org.apache.spark.sql.types.LongType

  /** events.ts, from either physical form, as epoch-microseconds
    * BIGINT — the same µs value DuckDB sees reading the file (ns
    * fixtures floor-truncate exactly like DuckDB's ns→µs read).
    */
  def tsMicros(df: DataFrame): Column = {
    import org.apache.spark.sql.functions.{col, expr, unix_micros}
    if (tsIsRawNs(df)) expr("ts div 1000")
    else unix_micros(col("ts").cast("timestamp"))
  }

  /** A ts literal at `us` epoch-microseconds whose type matches `df`'s
    * physical ts column — parquet written from it is readable under the
    * same declared schema as the original file (sentinel writers).
    * Session tz is pinned UTC so the NTZ cast is value-preserving.
    */
  def tsLiteral(df: DataFrame, us: Long): Column = {
    import org.apache.spark.sql.functions.{expr, lit}
    if (tsIsRawNs(df)) lit(us * 1000L)
    else expr(s"timestamp_micros(${us}L)").cast("timestamp_ntz")
  }

  /** events with ts normalized to a microsecond TimestampType — for the
    * ns fixtures the same ns→µs truncation DuckDB applies reading the
    * file; for µs fixtures a value-preserving NTZ→LTZ cast (UTC session
    * tz) — so oracle comparisons line up exactly in both cases.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val raw = eventsRaw(s, d)
    if (tsIsRawNs(raw))
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw.withColumn("ts", col("ts").cast("timestamp"))
  }
  /** documents stays a bare scan like every other table: a blanket
    * spread was MEASURED both ways (full sf0.1 bench sweep) — it wins
    * big exactly where scan-fused per-row compute dominates (digest
    * chains, per-position scans; those sites call [[spreadForCompute]]
    * explicitly) and loses where the consumer is light (q_dedup_exact
    * 0.25 → 0.58 s, q_constrained_write 0.97 → 2.78 s, q_auc 1.04 →
    * 1.98 s under the blanket default — disjoint run arrays, real
    * regressions). Opt-in per call site keeps both measurements.
    */
  def documents(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame =
    table(s, d, "embeddings")
}

/** Process-scoped scratch directories for queries that round-trip
  * through a filesystem sink (curated writes, streaming file sinks).
  *
  * Disk usage is bounded two ways: within a process the path for a
  * given `name` is stable and cleared per call (re-running a query
  * overwrites its previous output instead of accumulating temp dirs),
  * and the whole root is recursively deleted on JVM exit. The root
  * itself is a fresh per-process temp dir — a fixed shared path would
  * let concurrent graft JVMs clear each other's live streaming state.
  */
object Scratch {
  private def rm(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(rm)
    f.delete(): Unit
  }

  private val root: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_scratch")
    sys.addShutdownHook(rm(p.toFile))
    p
  }

  /** A stable-within-process scratch dir for `name`, cleared of any
    * previous contents.
    */
  def dir(name: String): java.nio.file.Path = {
    val p = root.resolve(name)
    rm(p.toFile)
    java.nio.file.Files.createDirectories(p)
    p
  }

  /** The path [[dir]] would return, WITHOUT clearing it — for specs
    * inspecting what a query just wrote.
    */
  def peek(name: String): java.nio.file.Path = root.resolve(name)
}

/** Cross-engine deterministic numeric helpers.
  *
  * Summing IEEE doubles is order-dependent, so a Spark shuffle-order sum
  * and a DuckDB sequential sum can differ in the last ULP and break the
  * driver's hash compare. We instead aggregate exact DECIMAL(18,2) values
  * (order-independent) and cast the final result to double — both engines
  * then produce bit-identical results. Mirrors SURVEY.md §7.4 risk #2/#3.
  */
object Exact {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.DecimalType

  /** Column cast to exact decimal for order-independent aggregation. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact sum surfaced as double (matches `CAST(SUM(CAST(x AS
    * DECIMAL(18,2))) AS DOUBLE)` in the oracle).
    */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")
}

/** The md5-prefix hash of the Spark side: the first 8 hex digits of an
  * md5 as an unsigned 32-bit value, the repo's shared hash convention.
  */
object Hash {
  import org.apache.spark.sql.functions.{conv, substring}

  /** The 8 hex digits of `hex` from 1-based position `start`, as
    * `conv(substring(hex, start, 8), 16, 10)` (a decimal STRING; callers
    * cast it). It mirrors [[OracleSql.hexToBigint]], the DuckDB side of
    * the same rule, and must not share code with it, so an oracle stays
    * independent of the implementation it checks.
    */
  def hexToBigint(hex: Column, start: Int = 1): Column =
    conv(substring(hex, start, 8), 16, 10)
}

/** DuckDB SQL fragments shared by the oracles. They build DuckDB SQL
  * only, so an oracle stays independent of the implementation it checks.
  */
object OracleSql {

  /** The 8 hex digits of `expr` from 1-based position `start` as a
    * BIGINT, by positional arithmetic (DuckDB has no conv()); equal to
    * Spark's `conv(substring(…), 16, 10)` over the same md5 hex.
    */
  def hexToBigint(expr: String, start: Int = 1): String =
    (0 until 8).map { k =>
      val mult = 1L << (4 * (7 - k))
      s"(strpos('0123456789abcdef', substr($expr, ${start + k}, 1)) - 1) * $mult"
    }.mkString("(", " + ", ")")
}
