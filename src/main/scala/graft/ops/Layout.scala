package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Output-side data layout for curated corpora (builder-brief extension):
  * how a 100 TB pipeline WRITES matters as much as how it reads. A
  * curated training shard wants (a) directory partitioning on a coarse
  * column so downstream scans prune whole directories, (b) rows sorted
  * within files so min/max footer stats make predicate pushdown
  * selective, and (c) bounded file sizes so no task ever reads a
  * multi-GB straggler file.
  */
object Layout {

  /** Write `df` as a curated parquet layout: directory-partitioned by
    * `partCol`, sorted by (`partCol`, `sortCol`) within partitions (so
    * each file covers a narrow `sortCol` range → tight footer min/max),
    * at most `maxRecordsPerFile` rows per file.
    *
    * The `repartition(partCol)` shuffle routes each directory partition
    * to one task — at scale, raise the partition count with
    * `repartition(n, col)` or add a bucketing column so a huge
    * directory splits across writers; `maxRecordsPerFile` then caps
    * file sizes regardless.
    */
  def curatedWrite(df: DataFrame, dir: String, partCol: String,
      sortCol: String, maxRecordsPerFile: Long): Unit =
    df.repartition(col(partCol))
      .sortWithinPartitions(col(partCol), col(sortCol))
      .write
      .partitionBy(partCol)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("overwrite")
      .parquet(dir)

  /** q_curated_write — end-to-end layout round trip: documents written
    * lang-partitioned / doc_id-sorted / size-bounded, then read back
    * through the partitioned layout. The oracle checks content
    * fidelity; the layout itself (directories, in-file ordering, file
    * row caps) is asserted in LayoutSpec.
    */
  val qCuratedWrite = Q(
    "q_curated_write",
    (s, d) => {
      // stable per-process scratch path: re-runs overwrite rather than
      // accumulate temp dirs, and the root is deleted on JVM exit
      val out = graft.Scratch.dir("curated_write").resolve("docs").toString
      curatedWrite(Tables.documents(s, d), out,
        partCol = "lang", sortCol = "doc_id", maxRecordsPerFile = 100L)
      s.read.parquet(out)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin
    )
  )

  /** Write both join sides bucketed by the join key into `db` (created
    * if needed): co-located layout, the 100 TB answer to a repeated
    * fact-fact join — each side's files are hash-clustered into the
    * same `buckets` on disk, so the join needs NO exchange on either
    * side, ever (vs paying a full shuffle of both tables per query).
    */
  def writeBucketed(spark: SparkSession, df: DataFrame, db: String,
      table: String, key: String, buckets: Int): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    spark.sql(s"DROP TABLE IF EXISTS $db.$table")
    // a fresh session's in-memory catalog does not know tables written
    // by a previous run, but their warehouse directory persists and
    // blocks saveAsTable — clear the orphaned location
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.getDatabaseMetadata(db).locationUri.toString,
      table)
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.format("parquet").mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(s"$db.$table")
  }

  /** q_bucketed_join — lineitem ⋈ orders through the bucketed layout:
    * revenue per order date off the co-located tables. Same result as
    * the plain join (the oracle); the shuffle-free plan shape is
    * asserted in LayoutSpec.
    */
  val qBucketedJoin = Q(
    "q_bucketed_join",
    (s, d) => {
      import graft.Exact
      val db = "graft_buckets"
      writeBucketed(s, Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority")),
        db, "orders_b", "o_orderkey", buckets = 8)
      writeBucketed(s, Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
        db, "lineitem_b", "l_orderkey", buckets = 8)
      s.table(s"$db.lineitem_b")
        .join(s.table(s"$db.orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n"),
          // decimal-exact operands BEFORE the multiply (Exact parity rule)
          sum(Exact.dec(col("l_extendedprice")) *
            (lit(1) - Exact.dec(col("l_discount"))))
            .cast("double").as("revenue"))
        .orderBy("o_orderpriority")
    },
    Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
    )
  )

  /** Morton (Z-order) key interleaving the low 8 bits of two columns:
    * bit i of `x` lands at position 2i, bit i of `y` at 2i+1. Sorting
    * by this key clusters rows so any contiguous key range is a small
    * rectangle in (x, y) space — the multi-dimensional layout trick
    * single-column sorting cannot give.
    */
  def zorder8(x: Column, y: Column): Column =
    (0 until 8).map { i =>
      (shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
        (shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)

  /** q_zorder — the Z-order key computed over lineitem's (partkey,
    * orderkey) low bytes, the clustering key a curated corpus would
    * sort by before writing so parquet footer min/max stats prune on
    * BOTH dimensions. The cross-engine check verifies the bit
    * interleave exactly; the layout benefit itself (per-file span of
    * each dimension shrinking vs a single-column sort) is asserted in
    * LayoutSpec.
    *
    * 100 TB shape: the key is a map-only expression; the sort is the
    * same one global range-partitioned sort any sorted write pays, and
    * downstream scans of a z-written table prune files on min/max of
    * either dimension — turning two-predicate scans from full-corpus
    * reads into rectangle reads.
    */
  val qZorder = Q(
    "q_zorder",
    (s, d) =>
      Tables.lineitem(s, d)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          pmod(col("l_partkey"), lit(256L)).as("zx"),
          pmod(col("l_orderkey"), lit(256L)).as("zy"))
        .withColumn("zkey", zorder8(col("zx"), col("zy")))
        .orderBy("zkey", "l_orderkey", "l_linenumber"),
    Some {
      val terms = (0 until 8).map { i =>
        s"(((zx >> $i) & 1) * ${1L << (2 * i)}) + (((zy >> $i) & 1) * ${1L << (2 * i + 1)})"
      }.mkString(" + ")
      s"""SELECT l_orderkey, l_linenumber, zx, zy, $terms AS zkey
         |FROM (
         |  SELECT l_orderkey, l_linenumber,
         |    l_partkey % 256 AS zx, l_orderkey % 256 AS zy
         |  FROM lineitem)
         |ORDER BY zkey, l_orderkey, l_linenumber""".stripMargin
    }
  )

  /** q_format_roundtrip — sink/source breadth across Spark's built-in
    * columnar and text formats: the documents table is written to ORC,
    * CSV (with header), and JSON line files, read back through each
    * reader with an explicit schema, and all three read-backs must be
    * value-identical to the source (the oracle is the source table
    * replicated per format). Exercises the writer/reader pair end to
    * end — type mapping, quoting/escaping, null handling.
    *
    * 100 TB shape: format conversion is an embarrassingly parallel
    * map of files; no shuffle in either direction (the final orderBy is
    * only the oracle-comparison contract).
    */
  val qFormatRoundtrip = Q(
    "q_format_roundtrip",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val root = graft.Scratch.dir("format_roundtrip")
      val (orc, csv, json) = (root.resolve("orc").toString,
        root.resolve("csv").toString, root.resolve("json").toString)
      docs.write.mode("overwrite").orc(orc)
      docs.write.mode("overwrite").option("header", "true").csv(csv)
      docs.write.mode("overwrite").json(json)
      val cols = Seq(col("fmt"), col("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
      s.read.orc(orc).withColumn("fmt", lit("orc")).select(cols: _*)
        .unionByName(s.read.schema(docs.schema).option("header", "true")
          .csv(csv).withColumn("fmt", lit("csv")).select(cols: _*))
        .unionByName(s.read.schema(docs.schema).json(json)
          .withColumn("fmt", lit("json")).select(cols: _*))
        .orderBy("fmt", "doc_id")
    },
    Some(
      """SELECT fmt, doc_id, text, lang, source, n_chars FROM (
        |  SELECT 'orc' AS fmt, * FROM documents
        |  UNION ALL SELECT 'csv' AS fmt, * FROM documents
        |  UNION ALL SELECT 'json' AS fmt, * FROM documents)
        |ORDER BY fmt, doc_id""".stripMargin
    )
  )

  /** Delete the rows matching `killPred` from a `partCol`-partitioned
    * parquet table by rewriting ONLY the partitions that contain them:
    * dynamic partition overwrite replaces exactly the partition dirs
    * the filtered write emits and leaves every other dir untouched
    * (spec-asserted via file mtimes in LayoutSpec).
    *
    * The 100 TB right-to-be-forgotten shape: a delete of k user-keys
    * costs a scan+rewrite of the partitions holding them — never a
    * full-table rewrite, never a driver-side file loop.
    */
  /** NULL-aware partition membership: `isin(values)` alone evaluates to
    * NULL (not true) for rows in the NULL partition, silently dropping
    * their survivors from a rewrite while the emptied-dir pass deletes
    * __HIVE_DEFAULT_PARTITION__ — data loss. */
  private def inPartitions(partCol: String, values: Seq[Any]): Column = {
    val nonNull = values.filter(_ != null)
    val base =
      if (nonNull.isEmpty) lit(false) else col(partCol).isin(nonNull: _*)
    if (values.exists(_ == null)) base || col(partCol).isNull else base
  }

  def targetedDelete(spark: SparkSession, dir: String, partCol: String,
      killPred: Column): Unit = {
    val table = spark.read.parquet(dir)
    // survivors per affected partition; a partition whose every row is
    // killed emits nothing, so dynamic overwrite would LEAVE its old dir
    // (and the killed rows) — those must be dropped explicitly below
    val affected = table.filter(killPred).select(partCol).distinct()
      .collect().map(_.get(0)).toSeq
    if (affected.isEmpty) return // nothing matches: zero partitions rewritten
    val survivors = table
      .filter(inPartitions(partCol, affected))
      .filter(!killPred)
    val nonEmpty = survivors.select(partCol).distinct()
      .collect().map(_.get(0)).toSet
    survivors.write.partitionBy(partCol).mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(dir)
    val emptied = affected.filterNot(nonEmpty)
    if (emptied.nonEmpty) {
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      val conf = spark.sessionState.newHadoopConf()
      emptied.foreach { v =>
        // the writer escapes partition values in directory names
        // (':', '%', space, '/', …) and writes NULL/empty as the Hive
        // default partition — reconstruct with the same escaping, or a
        // value containing such characters resolves to the wrong path
        // and the killed rows stay live on disk
        val str = if (v == null) null else String.valueOf(v)
        val p = new org.apache.hadoop.fs.Path(dir,
          ExternalCatalogUtils.getPartitionPathString(partCol, str))
        val fs = p.getFileSystem(conf)
        fs.delete(p, true): Unit
      }
    }
  }

  /** q_targeted_delete — end-to-end partition-pruned delete: documents
    * written source-partitioned, every doc with doc_id ≡ 7 (mod 131)
    * deleted via [[targetedDelete]], table read back. The oracle is the
    * anti-filtered source table; only partitions containing a killed
    * doc were rewritten.
    */
  val qTargetedDelete = Q(
    "q_targeted_delete",
    (s, d) => {
      val dir = graft.Scratch.dir("targeted_delete").resolve("docs").toString
      Tables.documents(s, d).write.partitionBy("source")
        .mode("overwrite").parquet(dir)
      targetedDelete(s, dir, "source", pmod(col("doc_id"), lit(131L)) === 7)
      s.read.parquet(dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id % 131 <> 7 ORDER BY doc_id""".stripMargin
    )
  )

  /** q_compact — small-file compaction: a fragmented write (50 files)
    * is rewritten into a few large files (repartition to a target file
    * count), contents bit-identical — the table-maintenance pass any
    * long-lived 100 TB corpus needs after incremental appends, done as
    * one distributed rewrite (file-count shrink asserted in
    * LayoutSpec).
    */
  val qCompact = Q(
    "q_compact",
    (s, d) => {
      val root = graft.Scratch.dir("compact")
      val frag = root.resolve("frag").toString
      val tight = root.resolve("tight").toString
      Tables.documents(s, d).repartition(50)
        .write.mode("overwrite").parquet(frag)
      s.read.parquet(frag).repartition(2)
        .write.mode("overwrite").parquet(tight)
      s.read.parquet(tight)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin
    )
  )

  /** MERGE-style upsert into a partitioned parquet table, copy-on-write:
    * matched keys are replaced by their update row, unmatched update
    * rows are inserted, and ONLY affected partitions are rewritten.
    *
    * Affected = partitions the updates land in ∪ partitions currently
    * holding a matched key — the union matters because an update may
    * MOVE a row across partitions (its partition column changed), and
    * the old copy must disappear from its old partition. A partition
    * fully drained by such moves is dropped explicitly, like
    * [[targetedDelete]]'s emptied-dir handling.
    *
    * 100 TB shape: the table is never rewritten wholesale — survivors
    * are read only from affected partitions (partition-pruned scan),
    * and the matched-key set rides a broadcast-able semi/anti join
    * (an update batch is small relative to the table). Driver state is
    * the distinct affected-partition value list, same bound as
    * [[targetedDelete]].
    */
  def mergeUpsert(spark: SparkSession, dir: String, partCol: String,
      keyCol: String, updates: DataFrame): Unit = {
    val table = spark.read.parquet(dir)
    val cols  = table.columns.toSeq
    // pin the update batch: its lineage (in the streaming-merge caller,
    // a per-batch aggregate JOINED against the current state table)
    // otherwise re-executes in each of the four consumers below
    // (partition probe, matched-key semi-join, survivor union, write)
    val u     = updates.select(cols.map(col): _*).localCheckpoint()
    val keys  = u.select(keyCol).distinct()
    val affected = u.select(partCol).distinct()
      .union(table.join(keys, Seq(keyCol), "left_semi").select(partCol).distinct())
      .distinct().collect().map(_.get(0)).toSeq
    if (affected.isEmpty) return
    val survivors = table
      .filter(inPartitions(partCol, affected))
      .join(keys, Seq(keyCol), "left_anti")
      .select(cols.map(col): _*)
    // pin the rewrite set: the nonEmpty probe and the write below each
    // re-executed the partition-pruned survivor scan + anti-join — the
    // whole affected-partition read ran twice per merge
    val rewritten = survivors.unionByName(u).localCheckpoint()
    val nonEmpty = rewritten.select(partCol).distinct()
      .collect().map(_.get(0)).toSet
    rewritten.write.partitionBy(partCol).mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(dir)
    val emptied = affected.filterNot(nonEmpty)
    if (emptied.nonEmpty) {
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      val conf = spark.sessionState.newHadoopConf()
      emptied.foreach { v =>
        val str = if (v == null) null else String.valueOf(v)
        val p = new org.apache.hadoop.fs.Path(dir,
          ExternalCatalogUtils.getPartitionPathString(partCol, str))
        val fs = p.getFileSystem(conf)
        fs.delete(p, true): Unit
      }
    }
  }

  /** q_merge_upsert — end-to-end MERGE: documents written
    * source-partitioned, then one batch that (a) UPDATES every doc with
    * doc_id ≡ 3 (mod 97), moving it to a new `merged` source partition
    * with bumped n_chars (exercising the cross-partition move + the
    * drained-partition case), and (b) INSERTS fresh docs under shifted
    * ids in a brand-new `fresh` partition. The oracle is the same merge
    * expressed relationally: updates ∪ (table ∖ matched keys).
    */
  val qMergeUpsert = Q(
    "q_merge_upsert",
    (s, d) => {
      val dir = graft.Scratch.dir("merge_upsert").resolve("docs").toString
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      docs.write.partitionBy("source").mode("overwrite").parquet(dir)
      val updates = docs
        .filter(pmod(col("doc_id"), lit(97L)) === 3)
        .select(col("doc_id"), col("lang"), lit("merged").as("source"),
          (col("n_chars") + 1000000L).as("n_chars"))
        .unionByName(docs
          .filter(pmod(col("doc_id"), lit(97L)) === 5)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("lang"),
            lit("fresh").as("source"), col("n_chars")))
      mergeUpsert(s, dir, "source", "doc_id", updates)
      s.read.parquet(dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some(
      """WITH upd AS (
        |  SELECT doc_id, lang, 'merged' AS source,
        |         n_chars + 1000000 AS n_chars
        |  FROM documents WHERE doc_id % 97 = 3
        |  UNION ALL
        |  SELECT doc_id + 10000000, lang, 'fresh', n_chars
        |  FROM documents WHERE doc_id % 97 = 5)
        |SELECT doc_id, lang, source, n_chars FROM upd
        |UNION ALL
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM upd)
        |ORDER BY doc_id""".stripMargin
    )
  )

  /** q_schema_evolution — a long-lived corpus accretes columns: files
    * written before a column existed must read back as NULL next to
    * files that carry it, without rewriting history. Half the docs are
    * written with the v1 schema, half appended with an added `quality`
    * column; one mergeSchema read reconciles them. (Columnar formats
    * make this free — the old files simply have no chunk for the new
    * column; the reconciliation is metadata-only at any scale.)
    */
  val qSchemaEvolution = Q(
    "q_schema_evolution",
    (s, d) => {
      val dir  = graft.Scratch.dir("schema_evo").resolve("docs").toString
      val docs = Tables.documents(s, d)
      docs.filter(pmod(col("doc_id"), lit(2L)) === 0)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .write.mode("overwrite").parquet(dir)
      docs.filter(pmod(col("doc_id"), lit(2L)) === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          pmod(col("n_chars"), lit(100L)).as("quality"))
        .write.mode("append").parquet(dir)
      s.read.option("mergeSchema", "true").parquet(dir)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("quality"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id, lang, n_chars, CAST(NULL AS BIGINT) AS quality
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, lang, n_chars, n_chars % 100
        |FROM documents WHERE doc_id % 2 = 1
        |ORDER BY doc_id""".stripMargin
    )
  )

  /** q_salted_join — the [[Skew.saltedJoin]] surface oracle-verified:
    * lineitem ⋈ orders with the fact side split across 8 deterministic
    * sub-keys and the mid-size build side replicated per salt, then
    * rolled up per priority. Salting must be semantically invisible —
    * the oracle is the PLAIN join — while the shuffle keys carry
    * (key, __salt), so one hot order key lands on 8 reducers instead
    * of melting one (the deterministic tool for skew AQE can't see,
    * e.g. aggregation-state builds; plan shape asserted in spec).
    */
  val qSaltedJoin = Q(
    "q_salted_join",
    (s, d) => {
      import graft.Exact
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"))
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority"))
      Skew.saltedJoin(li, o, "l_orderkey", "o_orderkey", salts = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(Exact.dec(col("l_quantity"))).cast("double").as("qty"))
        .orderBy("o_orderpriority")
    },
    Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
    )
  )

  /** One fold step of the order-8 Hilbert xy→d transform (the
    * classic quadrant-rotation recurrence), emitted as portable SQL
    * text evaluated identically by Spark `selectExpr` and the DuckDB
    * oracle. `3·rx XOR ry` is written arithmetically
    * (`3·rx + ry − 2·rx·ry`, identical on {0,1}) because `^` means
    * POWER in DuckDB. The rotate-and-swap is a single SELECT — both
    * new coordinates read the INPUT row, which is exactly the
    * simultaneous assignment the algorithm needs.
    */
  private def hilbertStepExprs(s: Int): (Seq[String], Seq[String]) = {
    val rx = s"CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS rx"
    val ry = s"CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS ry"
    val nx = s"CASE WHEN ry = 1 THEN hx WHEN rx = 1 THEN ${s - 1} - hy " +
      "ELSE hy END AS hx"
    val ny = s"CASE WHEN ry = 1 THEN hy WHEN rx = 1 THEN ${s - 1} - hx " +
      "ELSE hx END AS hy"
    val nd = s"hd + ${s.toLong * s} * (3*rx + ry - 2*rx*ry) AS hd"
    (Seq(rx, ry), Seq(nx, ny, nd))
  }

  private val hilbertSides = Seq(128, 64, 32, 16, 8, 4, 2, 1)

  /** Apply the 8 Hilbert fold steps to a frame carrying (hx, hy, hd)
    * plus `keep` passthrough columns; hd ends as the Hilbert index.
    */
  private[graft] def hilbert8(df: org.apache.spark.sql.DataFrame,
      keep: Seq[String]): org.apache.spark.sql.DataFrame =
    hilbertSides.foldLeft(df) { (acc, s) =>
      val (rs, us) = hilbertStepExprs(s)
      acc.selectExpr(keep ++ Seq("hx", "hy", "hd") ++ rs: _*)
        .selectExpr(keep ++ us: _*)
    }

  /** The same 8 steps as a DuckDB CTE chain from `h0` (which must
    * expose `keys`, hx, hy, hd); the final state is in `h8`.
    */
  private[ops] def hilbertSqlCtes(keys: String): String =
    hilbertSides.zipWithIndex.map { case (s, i) =>
      s"""hr$i AS (SELECT $keys, hx, hy, hd,
         |  CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS rx,
         |  CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS ry FROM h$i),
         |h${i + 1} AS (SELECT $keys,
         |  CASE WHEN ry = 1 THEN hx WHEN rx = 1 THEN ${s - 1} - hy ELSE hy END AS hx,
         |  CASE WHEN ry = 1 THEN hy WHEN rx = 1 THEN ${s - 1} - hx ELSE hx END AS hy,
         |  hd + ${s.toLong * s} * (3*rx + ry - 2*rx*ry) AS hd FROM hr$i)"""
        .stripMargin
    }.mkString(",\n")

  /** q_hilbert — the order-8 Hilbert-curve clustering key over the
    * same (partkey, orderkey) low bytes as q_zorder. Hilbert ordering
    * is the locality upgrade over Z-order: consecutive curve
    * positions are always 4-adjacent cells (Z-order jumps across the
    * plane at quadrant seams), so range scans touch fewer files for
    * the same 2-D selectivity; q_layout_locality MEASURES that claim
    * instead of assuming it. The transform is 8 folds of pure integer
    * CASE arithmetic — one whole-stage-codegen projection, zero
    * shuffle before the output sort.
    *
    * 100 TB shape: identical to q_zorder — key computation is
    * map-side; the single range-partitioned sort by the curve key IS
    * the write layout.
    */
  val qHilbert = Q(
    "q_hilbert",
    (s, d) => {
      val base = Tables.lineitem(s, d)
        .selectExpr("l_orderkey", "l_linenumber",
          "l_partkey % 256 AS zx", "l_orderkey % 256 AS zy",
          "l_partkey % 256 AS hx", "l_orderkey % 256 AS hy",
          "CAST(0 AS BIGINT) AS hd")
      hilbert8(base, Seq("l_orderkey", "l_linenumber", "zx", "zy"))
        .selectExpr("l_orderkey", "l_linenumber", "zx", "zy",
          "CAST(hd AS BIGINT) AS hkey")
        .orderBy("hkey", "l_orderkey", "l_linenumber")
    },
    Some {
      val keys = "l_orderkey, l_linenumber, zx, zy"
      s"""WITH h0 AS (
         |  SELECT l_orderkey, l_linenumber,
         |    l_partkey % 256 AS zx, l_orderkey % 256 AS zy,
         |    l_partkey % 256 AS hx, l_orderkey % 256 AS hy,
         |    CAST(0 AS BIGINT) AS hd
         |  FROM lineitem),
         |${hilbertSqlCtes(keys)}
         |SELECT $keys, CAST(hd AS BIGINT) AS hkey FROM h8
         |ORDER BY hkey, l_orderkey, l_linenumber""".stripMargin
    }
  )

  /** q_layout_locality — measured locality of the two curve layouts:
    * rows are laid out in key order and cut into 256-key blocks (the
    * "file" unit); within each block, each row's Manhattan jump from
    * its predecessor is summed. Lower average jump = better locality
    * = fewer distinct value ranges per file = tighter parquet min/max
    * footers on both dimensions. One row per curve with the exact
    * totals and the average jump in ppm — the number that justifies
    * choosing Hilbert over Z for a 100 TB rewrite, measured on the
    * actual key distribution instead of assumed.
    *
    * 100 TB shape: the lag window is partitioned by (curve, block) —
    * block-local order, never a global single-partition window; the
    * rollup is a 2-row aggregate.
    */
  val qLayoutLocality = Q(
    "q_layout_locality",
    (s, d) => {
      val base = Tables.lineitem(s, d)
        .selectExpr("l_orderkey * 8 + l_linenumber AS rid",
          "l_partkey % 256 AS zx", "l_orderkey % 256 AS zy",
          "l_partkey % 256 AS hx", "l_orderkey % 256 AS hy",
          "CAST(0 AS BIGINT) AS hd")
      val keyed = hilbert8(base, Seq("rid", "zx", "zy"))
        .withColumn("zkey", zorder8(col("zx"), col("zy")))
        .selectExpr("rid", "zx", "zy", "CAST(hd AS BIGINT) AS hkey",
          "CAST(zkey AS BIGINT) AS zkey")
      val curves = keyed.selectExpr("'hilbert' AS curve", "rid", "zx",
          "zy", "hkey AS k")
        .unionByName(keyed.selectExpr("'zorder' AS curve", "rid", "zx",
          "zy", "zkey AS k"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("curve"), expr("k div 256"))
        .orderBy("k", "rid")
      curves
        .withColumn("jump",
          abs(col("zx") - lag("zx", 1).over(w)) +
            abs(col("zy") - lag("zy", 1).over(w)))
        .filter(col("jump").isNotNull)
        .groupBy("curve")
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("jump")).as("total_jump"))
        .select(col("curve"), col("n_pairs"), col("total_jump"),
          expr("total_jump * 1000000 div n_pairs").as("avg_jump_ppm"))
        .orderBy("curve")
    },
    Some {
      val keys = "rid, zx, zy"
      val zterms = (0 until 8).map { i =>
        s"(((zx >> $i) & 1) * ${1L << (2 * i)}) + " +
          s"(((zy >> $i) & 1) * ${1L << (2 * i + 1)})"
      }.mkString(" + ")
      s"""WITH h0 AS (
         |  SELECT l_orderkey * 8 + l_linenumber AS rid,
         |    l_partkey % 256 AS zx, l_orderkey % 256 AS zy,
         |    l_partkey % 256 AS hx, l_orderkey % 256 AS hy,
         |    CAST(0 AS BIGINT) AS hd
         |  FROM lineitem),
         |${hilbertSqlCtes(keys)},
         |keyed AS (
         |  SELECT rid, zx, zy, CAST(hd AS BIGINT) AS hkey,
         |    CAST($zterms AS BIGINT) AS zkey
         |  FROM h8),
         |curves AS (
         |  SELECT 'hilbert' AS curve, rid, zx, zy, hkey AS k FROM keyed
         |  UNION ALL
         |  SELECT 'zorder' AS curve, rid, zx, zy, zkey AS k FROM keyed),
         |jumps AS (
         |  SELECT curve,
         |    abs(zx - lag(zx) OVER w) + abs(zy - lag(zy) OVER w) AS jump
         |  FROM curves
         |  WINDOW w AS (PARTITION BY curve, k // 256 ORDER BY k, rid))
         |SELECT curve, count(*) AS n_pairs,
         |  CAST(sum(jump) AS BIGINT) AS total_jump,
         |  (CAST(sum(jump) AS BIGINT) * 1000000) // count(*)
         |    AS avg_jump_ppm
         |FROM jumps WHERE jump IS NOT NULL
         |GROUP BY curve ORDER BY curve""".stripMargin
    }
  )

  /** q_dataset_diff — snapshot change accounting (the change-data-feed
    * a versioned corpus publishes between releases): the previous
    * snapshot is derived deterministically from the current one — a 1-in-16
    * hash-selected subset absent (→ ADDED since), 2 in 16 with different text
    * (→ CHANGED), plus tombstone rows only the previous snapshot has
    * (→ REMOVED) — then the diff is a full outer join on doc_id
    * comparing content digests, rolled up per source. Consumers read
    * this manifest to re-process only changed partitions instead of
    * the whole corpus.
    *
    * 100 TB shape: the join is co-keyed on doc_id (both sides would
    * be bucketed on it in a real table layout — see q_bucketed_join);
    * only (doc_id, source, 16-byte digest) rows move, never text; the
    * rollup is sources×4 rows.
    */
  val qDatasetDiff = Q(
    "q_dataset_diff",
    (s, d) => {
      val cur = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), md5(col("text")).as("dg"))
      val sel = substring(md5(concat(lit("prev:"),
        col("doc_id").cast("string"))), 1, 1)
      val prevLive = Tables.documents(s, d)
        .filter(sel =!= "0")
        .select(col("doc_id"), col("source"),
          when(sel.isin("1", "2"), md5(concat(col("text"), lit(" v1"))))
            .otherwise(md5(col("text"))).as("dg"))
      val prevGone = Tables.documents(s, d)
        .filter(substring(md5(concat(lit("del:"),
          col("doc_id").cast("string"))), 1, 1) === "0")
        .select((-col("doc_id") - 1).as("doc_id"), col("source"),
          md5(concat(lit("gone:"), col("doc_id").cast("string"))).as("dg"))
      val prev = prevLive.unionByName(prevGone)
      cur.as("c")
        .join(prev.as("p"), col("c.doc_id") === col("p.doc_id"),
          "full_outer")
        .select(
          coalesce(col("c.source"), col("p.source")).as("source"),
          when(col("p.doc_id").isNull, "added")
            .when(col("c.doc_id").isNull, "removed")
            .when(col("c.dg") =!= col("p.dg"), "changed")
            .otherwise("unchanged").as("status"))
        .groupBy("source")
        .agg(
          sum(when(col("status") === "added", 1L).otherwise(0L))
            .as("n_added"),
          sum(when(col("status") === "removed", 1L).otherwise(0L))
            .as("n_removed"),
          sum(when(col("status") === "changed", 1L).otherwise(0L))
            .as("n_changed"),
          sum(when(col("status") === "unchanged", 1L).otherwise(0L))
            .as("n_unchanged"))
        .orderBy("source")
    },
    Some(
      """WITH cur AS (
        |  SELECT doc_id, source, md5(text) AS dg FROM documents),
        |prev AS (
        |  SELECT doc_id, source,
        |    CASE WHEN substr(md5('prev:' || CAST(doc_id AS VARCHAR)), 1, 1)
        |        IN ('1', '2') THEN md5(text || ' v1')
        |      ELSE md5(text) END AS dg
        |  FROM documents
        |  WHERE substr(md5('prev:' || CAST(doc_id AS VARCHAR)), 1, 1) <> '0'
        |  UNION ALL
        |  SELECT -doc_id - 1, source,
        |    md5('gone:' || CAST(doc_id AS VARCHAR))
        |  FROM documents
        |  WHERE substr(md5('del:' || CAST(doc_id AS VARCHAR)), 1, 1) = '0'),
        |diff AS (
        |  SELECT coalesce(c.source, p.source) AS source,
        |    CASE WHEN p.doc_id IS NULL THEN 'added'
        |      WHEN c.doc_id IS NULL THEN 'removed'
        |      WHEN c.dg <> p.dg THEN 'changed'
        |      ELSE 'unchanged' END AS status
        |  FROM cur c FULL OUTER JOIN prev p ON c.doc_id = p.doc_id)
        |SELECT source,
        |  CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_added,
        |  CAST(sum(CASE WHEN status = 'removed' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_removed,
        |  CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_changed,
        |  CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_unchanged
        |FROM diff GROUP BY source ORDER BY source""".stripMargin
    )
  )

  /** q_time_travel — manifest-based snapshot isolation (the
    * Iceberg/Delta time-travel core, reduced to its essential
    * mechanism): a snapshot is an immutable MANIFEST listing immutable
    * data files. v1 lists {f1, f2}; a copy-on-write update rewrites
    * f2's rows (n_chars +1000 where doc_id ≡ 0 mod 7) into a NEW file
    * f3 and commits v2 = {f1, f3} — f1 is shared between versions, f2
    * is never touched, and BOTH snapshots stay readable after the
    * commit (the query reads v1 AS OF and v2 AS OF in one plan; the
    * spec additionally pins f2's bytes unchanged on disk). Emits the
    * per-version rollup the oracle reproduces relationally.
    *
    * 100 TB shape: a commit costs O(|rewritten files|) data IO plus
    * one manifest write; time travel costs nothing at read time beyond
    * choosing the file list (no log replay) — and old snapshots are
    * garbage-collectible by manifest reachability. The aggregate here
    * is a count/sum partial-agg per version.
    */
  val qTimeTravel = Q(
    "q_time_travel",
    (s, d) => {
      import java.nio.file.Files
      val root = graft.Scratch.dir("time_travel")
      val files = root.resolve("files")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      docs.filter(pmod(col("doc_id"), lit(2L)) === 0)
        .write.parquet(files.resolve("f1").toString)
      docs.filter(pmod(col("doc_id"), lit(2L)) === 1)
        .write.parquet(files.resolve("f2").toString)
      // copy-on-write rewrite of f2 → f3 (f2 itself is never modified)
      s.read.parquet(files.resolve("f2").toString)
        .withColumn("n_chars",
          when(pmod(col("doc_id"), lit(7L)) === 0, col("n_chars") + 1000L)
            .otherwise(col("n_chars")))
        .write.parquet(files.resolve("f3").toString)
      val manifests = root.resolve("manifests")
      Files.createDirectories(manifests)
      Files.write(manifests.resolve("v1.manifest"), "f1\nf2\n".getBytes)
      Files.write(manifests.resolve("v2.manifest"), "f1\nf3\n".getBytes)
      def snapshot(v: String) = {
        val paths = Files.readAllLines(manifests.resolve(s"$v.manifest"))
          .toArray.map(f => files.resolve(f.toString).toString)
        s.read.parquet(paths.toIndexedSeq: _*)
      }
      def rollup(v: Int, df: org.apache.spark.sql.DataFrame) = df
        .agg(count(lit(1)).as("n_rows"), sum(col("n_chars")).as("sum_chars"))
        .select(lit(v.toLong).as("version"), col("n_rows"), col("sum_chars"))
      rollup(1, snapshot("v1")).unionByName(rollup(2, snapshot("v2")))
        .orderBy("version")
    },
    Some(
      """SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |UNION ALL
        |SELECT 2, count(*),
        |  CAST(sum(n_chars + CASE WHEN doc_id % 2 = 1 AND doc_id % 7 = 0
        |    THEN 1000 ELSE 0 END) AS BIGINT)
        |FROM documents
        |ORDER BY version""".stripMargin
    )
  )

  /** File-skipping over a stats-bearing manifest: each line is
    * `<group> <min> <max>` for one file group's key column; a range
    * predicate [lo, hi] selects only groups whose stats interval
    * intersects it — the Iceberg/Delta data-skipping core, on this
    * engine's own manifests. Returns the surviving group names in
    * manifest order (the caller resolves them to paths). O(#files)
    * driver metadata, zero data IO.
    */
  def manifestSkipGroups(manifest: java.nio.file.Path, lo: Long,
      hi: Long): Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.readAllLines(manifest).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty)
      .map { line =>
        val Array(g, mn, mx) = line.split("\\s+")
        (g, mn.toLong, mx.toLong)
      }
      .collect { case (g, mn, mx) if mx >= lo && mn <= hi => g }
  }

  /** q_manifest_skip — stats-based file skipping end-to-end: documents
    * are written as 8 file groups range-bucketed by doc_id, a manifest
    * records each group's (min, max), and a doc_id range query plans
    * its scan from the MANIFEST — only intersecting groups' files are
    * ever opened (LayoutSpec asserts ≤ 3 of 8 survive the predicate
    * and that the skipped files stay unread). The oracle is the plain
    * relational filter, so the hash compare proves skipping loses
    * nothing.
    *
    * 100 TB shape: this is the zone-map/manifest-pruning layer every
    * table format provides — the scan cost becomes O(intersecting
    * groups), chosen with O(#files) driver metadata and zero data IO;
    * composed with the Hilbert/Z-order queries it is why those
    * layouts pay (clustered keys → tight per-file ranges → most
    * groups skip).
    */
  val qManifestSkip = Q(
    "q_manifest_skip",
    (s, d) => {
      import java.nio.file.Files
      val root = graft.Scratch.dir("manifest_skip")
      val files = root.resolve("files")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val step = maxId / 8 + 1
      val bucketed = docs.withColumn("grp", expr(s"doc_id div $step"))
      Files.createDirectories(files)
      val stats = bucketed.groupBy("grp")
        .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
        .orderBy("grp").collect()
      bucketed.write.partitionBy("grp").mode("overwrite")
        .parquet(files.toString)
      val manifest = root.resolve("v1.manifest")
      Files.write(manifest, stats.map(r =>
        s"grp=${r.getLong(0)} ${r.getLong(1)} ${r.getLong(2)}")
        .mkString("", "\n", "\n").getBytes)
      // the range query: plan the scan from the manifest stats
      val (lo, hi) = (maxId / 4, maxId / 2)
      val paths = manifestSkipGroups(manifest, lo, hi)
        .map(g => files.resolve(g).toString)
      s.read.parquet(paths: _*)
        .filter(col("doc_id") >= lo && col("doc_id") <= hi)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE doc_id >= (SELECT max(doc_id) FROM documents) // 4
        |  AND doc_id <= (SELECT max(doc_id) FROM documents) // 2
        |ORDER BY doc_id""".stripMargin
    )
  )

  /** Manifest-reachability garbage collection — the VACUUM verb
    * completing [[qTimeTravel]]'s snapshot mechanics: a file group
    * under `filesDir` is live iff some manifest under `manifestsDir`
    * lists it; everything else (failed-commit debris, expired
    * snapshots' exclusive files) is deleted. Returns the deleted group
    * names. Driver state is the manifest file lists — O(#files)
    * metadata, the same bound as snapshot planning; at scale the walk
    * shards by manifest exactly like Iceberg's reachability sweep.
    *
    * Manifest lines may carry per-group stats after the name
    * ([[qManifestSkip]] writes `grp=N min max`), so only the FIRST
    * whitespace-delimited token is the reachable group name. And a
    * reachability sweep whose reachable set intersects NOTHING
    * present is treated as a mis-pointed manifest dir, not a
    * 100%-garbage table: it deletes nothing (the Iceberg/Delta
    * "never vacuum to empty" guard — one bad path must not drop
    * every live file).
    */
  def vacuum(filesDir: java.nio.file.Path,
      manifestsDir: java.nio.file.Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val listing = java.nio.file.Files.list(manifestsDir)
    val reachable =
      try listing.iterator().asScala
        .filter(_.toString.endsWith(".manifest"))
        .flatMap(m => java.nio.file.Files.readAllLines(m).asScala)
        .map(_.trim).filter(_.nonEmpty)
        .map(_.split("\\s+")(0)).toSet
      finally listing.close()
    val present = Option(filesDir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(_.getName).toSeq.sorted
    if (present.nonEmpty && !present.exists(reachable)) return Seq.empty
    val orphans = present.filterNot(reachable)
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rm)
      f.delete(): Unit
    }
    orphans.foreach(o => rm(filesDir.resolve(o).toFile))
    orphans
  }

  /** q_deletion_vectors — MERGE-ON-READ positional deletes (the
    * Iceberg v2 / Delta deletion-vector mechanism), the third delete
    * strategy next to [[qTargetedDelete]]'s copy-on-write partition
    * rewrite and [[qMergeUpsert]]'s key-matched rewrite: a delete
    * writes ONLY a tiny (group, position) sidecar; the data files are
    * never touched (byte-identical after two delete batches —
    * LayoutSpec pins file sizes), and the read path subtracts the
    * vector with a broadcast anti-join on (grp, _pos). Two batches
    * land here — a key predicate, then a value predicate resolved to
    * positions by a scan — and the second APPENDS to the sidecar
    * while the table stays untouched: the O(deleted) write cost that
    * makes GDPR-style point deletes affordable on a 100 TB table
    * where copy-on-write would rewrite terabytes per batch.
    *
    * `_pos` is materialized at WRITE time (row_number within each
    * bucket group — 256 at the production layout, right-sized down by
    * [[dvBucketCount]] for small inputs; in a real lakehouse the
    * position is the file
    * ordinal the scanner gets for free, e.g. Iceberg's `_pos`
    * metadata column; materializing keeps it engine-stable for the
    * oracle). The write-side window is bounded by the 256-way group
    * split; the READ path — the hot side at scale — is window-free:
    * scan + anti-join, with the join STRATEGY size-gated by
    * [[applyDeletionVectors]].
    */
  /** Subtract a (grp, _pos) deletion vector from `table`, picking the
    * join strategy by the DV's size. Point deletes (the GDPR story)
    * produce a tiny DV → broadcast anti-join, zero shuffle of the
    * table. But a PREDICATE delete scales with the corpus — at 100 TB
    * a `lang = 'de'` sweep is ~10⁹–10¹⁰ positions, and forcing that
    * through a driver broadcast is an OOM, not a plan choice. So the
    * hint is gated on `dvRows` (counted cheaply from the sidecar's
    * parquet footers before the distinct): small DV → broadcast;
    * large DV → plain shuffled anti-join on (grp, _pos). `grp` is the
    * partition key of BOTH sides (the table's directory partitioning
    * and the DV's leading column), so the fallback co-partitions on
    * the natural key instead of moving the corpus to the driver.
    */
  def applyDeletionVectors(table: DataFrame, dv: DataFrame,
      dvRows: Long, maxBroadcastRows: Long = 10000000L): DataFrame = {
    val hinted = if (dvRows <= maxBroadcastRows) broadcast(dv) else dv
    table.join(hinted, Seq("grp", "_pos"), "left_anti")
  }

  /** Bucket-dir count for the deletion-vector table, right-sized to
    * the INPUT like every other layout knob in this repo (measured
    * discipline, not a constant): one bucket per ~4 MiB of table
    * bytes, floored at 8 and capped at the 256-way production layout.
    * The r13 verdict's top line was this query at 6.4 s — measured
    * (tools/DvProbe, last in commit b6c9ab4): virtually all of it was
    * the 256-directory dynamic-partition commit plus three 256-file
    * listings/scans over a 0.6 MB fixture table (~2 KB per directory). The bucket count is
    * internal layout only — `_pos` is defined within whatever bucket
    * its row lands in, both delete batches resolve positions from the
    * same written table, and the survivor set (the declared result) is
    * bucket-count-invariant; the oracle never sees `grp`.
    */
  private def dvBucketCount(s: SparkSession, d: String): Int = {
    val bytes = graft.Tables.tableBytes(s, d, "documents")
    math.max(8L, math.min(256L, bytes / (4L * 1024 * 1024))).toInt
  }

  val qDeletionVectors = Q(
    "q_deletion_vectors",
    (s, d) => {
      val root  = graft.Scratch.dir("deletion_vectors")
      val data  = root.resolve("data").toString
      val dvDir = root.resolve("dv").toString
      val nb    = dvBucketCount(s, d)
      val w = Window.partitionBy("grp").orderBy("doc_id")
      Tables.documents(s, d)
        .withColumn("grp", pmod(col("doc_id"), lit(nb)).cast("int"))
        .withColumn("_pos", (row_number().over(w) - 1).cast("long"))
        .write.partitionBy("grp").mode("overwrite").parquet(data)
      val table = s.read.parquet(data)
      // batch 1: key-predicate deletes → positions
      table.filter(pmod(col("doc_id"), lit(97)) === 3)
        .select("grp", "_pos")
        .write.mode("overwrite").parquet(dvDir)
      // batch 2: value-predicate deletes, APPENDED — data untouched
      table.filter(col("lang") === "de")
        .select("grp", "_pos")
        .write.mode("append").parquet(dvDir)
      // footer-backed count-star: O(#dv-files) metadata, no data scan
      val dvRaw  = s.read.parquet(dvDir)
      val dvRows = dvRaw.count()
      applyDeletionVectors(table, dvRaw.distinct(), dvRows)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE NOT (doc_id % 97 = 3) AND lang <> 'de'
        |ORDER BY doc_id""".stripMargin
    )
  )

  /** q_constrained_write — a write-time data-quality gate (the Delta
    * Lake CHECK-constraint / quarantine pattern, also DuckDB table
    * CHECK constraints — the reference's host enforces these at
    * INSERT): every ingested row is validated against four declared
    * constraints; valid rows land in the curated table, violators are
    * QUARANTINED with the list of rules they broke, and the query
    * returns the audit a pipeline alerts on — one row per rule plus
    * written/quarantined totals.
    *
    * Constraints: c_len_match (n_chars = length(text)), c_nonempty
    * (length(text) > 0), c_lang_known (lang within the declared
    * enumeration), c_unique_id (doc_id unique within the batch —
    * BOTH copies flag, uniqueness being symmetric). The shipped
    * fixtures satisfy all four, so the ingest PLANTS deterministic
    * violations of each (the q_secret_redact planted-case precedent):
    * a length-corrupted clone, an empty-text clone, an unknown-lang
    * clone, and an id-colliding clone, keyed off doc_id moduli so
    * both engines construct the identical batch.
    *
    * 100 TB shape: the three row-local checks are map-only codegen
    * predicates; uniqueness is ONE partial-aggregated doc_id-keyed
    * count joined back co-partitioned; both writes stream through the
    * same flagged frame (localCheckpoint-pinned so the two writes and
    * the audit share one evaluation); the audit rollup has ≤6 keys.
    */
  /** The deterministic corrupted ingest batch (base docs + one planted
    * violator clone per rule, keyed off doc_id moduli) — shared with
    * the streaming scrubber `q_stream_constrained`, which gates the
    * SAME batch arriving as files.
    */
  private[graft] def plantedIngest(s: SparkSession, d: String)
      : DataFrame = {
    val base = Tables.documents(s, d)
      .select("doc_id", "text", "lang", "source", "n_chars")
    base
      .unionAll(base.filter(col("doc_id") % 97 === 3)
        .select(col("doc_id") + 10000000L, col("text"), col("lang"),
          col("source"), col("n_chars") + 1L))
      .unionAll(base.filter(col("doc_id") % 97 === 5)
        .select(col("doc_id") + 20000000L, lit(""), col("lang"),
          col("source"), lit(0L)))
      .unionAll(base.filter(col("doc_id") % 97 === 7)
        .select(col("doc_id") + 30000000L, col("text"), lit("xx"),
          col("source"), col("n_chars")))
      .unionAll(base.filter(col("doc_id") % 97 === 11))
  }

  /** The three ROW-LOCAL constraint tags (stateless — usable unchanged
    * in a streaming scrubber); uniqueness needs cross-row state and
    * stays batch-side.
    */
  private[graft] def rowViolations: Column = filter(array(
    when(col("n_chars") =!= length(col("text")), "c_len_match"),
    when(length(col("text")) === 0, "c_nonempty"),
    when(!col("lang").isin("en", "de", "es", "fr", "zh"),
      "c_lang_known")), _.isNotNull)

  /** The per-rule audit over a flagged frame (violations: array of
    * rule tags): one row per rule plus rows_written/rows_quarantined
    * totals — shared by the batch gate and the streaming scrubber so
    * the two audits cannot drift.
    */
  private[graft] def auditRollup(flagged: DataFrame): DataFrame =
    flagged
      .select(explode(col("violations")).as("rule"))
      .groupBy("rule").agg(count(lit(1)).as("n_rows"))
      .unionAll(flagged
        .agg(sum(when(size(col("violations")) === 0, 1L).otherwise(0L))
          .as("n_rows"))
        .select(lit("rows_written").as("rule"), col("n_rows")))
      .unionAll(flagged
        .agg(sum(when(size(col("violations")) > 0, 1L).otherwise(0L))
          .as("n_rows"))
        .select(lit("rows_quarantined").as("rule"), col("n_rows")))
      .orderBy("rule")

  /** The planted-ingest oracle CTE (mirrors [[plantedIngest]]). */
  private[graft] val ingestSql: String =
    """ingest AS (
      |  SELECT doc_id, text, lang, source, n_chars FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000, text, lang, source, n_chars + 1
      |  FROM documents WHERE doc_id % 97 = 3
      |  UNION ALL
      |  SELECT doc_id + 20000000, '', lang, source, 0
      |  FROM documents WHERE doc_id % 97 = 5
      |  UNION ALL
      |  SELECT doc_id + 30000000, text, 'xx', source, n_chars
      |  FROM documents WHERE doc_id % 97 = 7
      |  UNION ALL
      |  SELECT doc_id, text, lang, source, n_chars
      |  FROM documents WHERE doc_id % 97 = 11)""".stripMargin

  val qConstrainedWrite = Q(
    "q_constrained_write",
    (s, d) => {
      // pinned: the union re-reads documents per branch through
      // lineage, and ingest feeds both the dup rollup and the join
      val ingest = plantedIngest(s, d).localCheckpoint()
      val dup = ingest.groupBy("doc_id").agg(count(lit(1)).as("dn"))
      val flagged = ingest.join(dup, "doc_id")
        .withColumn("violations", concat(rowViolations,
          filter(array(when(col("dn") > 1, "c_unique_id")), _.isNotNull)))
        .drop("dn")
        .localCheckpoint()
      val root = graft.Scratch.dir("constrained_write")
      flagged.filter(size(col("violations")) === 0).drop("violations")
        .write.mode("overwrite").parquet(root.resolve("valid").toString)
      flagged.filter(size(col("violations")) > 0)
        .write.mode("overwrite")
        .parquet(root.resolve("quarantine").toString)
      auditRollup(flagged)
    },
    Some(
      s"""WITH $ingestSql,
        |dup AS (SELECT doc_id, count(*) AS dn FROM ingest GROUP BY 1),
        |flagged AS (
        |  SELECT i.doc_id, list_filter([
        |      CASE WHEN i.n_chars <> length(i.text) THEN 'c_len_match' END,
        |      CASE WHEN length(i.text) = 0 THEN 'c_nonempty' END,
        |      CASE WHEN i.lang NOT IN ('en','de','es','fr','zh')
        |        THEN 'c_lang_known' END,
        |      CASE WHEN d.dn > 1 THEN 'c_unique_id' END],
        |    x -> x IS NOT NULL) AS v
        |  FROM ingest i JOIN dup d USING (doc_id))
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

  val all: Seq[Q] = Seq(qCuratedWrite, qBucketedJoin, qZorder,
    qFormatRoundtrip, qTargetedDelete, qCompact, qMergeUpsert,
    qSchemaEvolution, qSaltedJoin, qHilbert, qLayoutLocality,
    qDatasetDiff, qTimeTravel, qManifestSkip, qDeletionVectors,
    qConstrainedWrite)
}
