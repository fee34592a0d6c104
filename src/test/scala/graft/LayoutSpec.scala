package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Layout

/** Physical-layout assertions for the curated writer: directory
  * partitioning, bounded file sizes, and in-file ordering (the
  * properties that make a 100 TB curated corpus cheap to scan).
  */
class LayoutSpec extends AnyFunSuite with SessionSuite {

  private val sf = "/root/testdata/sf0.001"

  test("curated write: partition dirs, file row caps, in-file sort order") {
    val out = Files.createTempDirectory("layout_spec").resolve("docs").toString
    val docs = Tables.documents(spark, sf)
    Layout.curatedWrite(docs, out,
      partCol = "lang", sortCol = "doc_id", maxRecordsPerFile = 20L)

    // one directory per lang value
    val langs = docs.select("lang").distinct().collect().map(_.getString(0)).toSet
    val dirs = new File(out).listFiles().filter(_.isDirectory).map(_.getName).toSet
    assert(dirs === langs.map(l => s"lang=$l"))

    // every data file respects the row cap
    val files = dirs.toSeq.flatMap { d =>
      new File(out, d).listFiles().filter(_.getName.endsWith(".parquet")).toSeq
    }
    assert(files.nonEmpty)
    files.foreach { f =>
      assert(spark.read.parquet(f.getPath).count() <= 20L,
        s"${f.getName} exceeds maxRecordsPerFile")
    }

    // rows are sorted by doc_id within each file → tight footer min/max
    files.foreach { f =>
      val ids = spark.read.parquet(f.getPath)
        .select("doc_id").collect().map(_.getLong(0))
      assert(ids.sameElements(ids.sorted), s"${f.getName} not sorted by doc_id")
    }

    // partition pruning: the lang predicate becomes a PartitionFilter
    // on the scan (directory-level pruning, no data-file IO elsewhere)
    val one = langs.head
    val pruned = spark.read.parquet(out).filter(col("lang") === one)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains(s"PartitionFilters: [isnotnull(lang") &&
      scan.contains(s"= $one)"),
      s"lang predicate did not become a partition filter:\n$scan")

    // content round trip
    assert(spark.read.parquet(out).count() === docs.count())
  }

  test("bucketed co-located join runs with no exchange on either side") {
    val db = "graft_buckets_spec"
    Layout.writeBucketed(spark, Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderpriority")),
      db, "orders_b", "o_orderkey", buckets = 4)
    Layout.writeBucketed(spark, Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_quantity")),
      db, "lineitem_b", "l_orderkey", buckets = 4)

    // force the join operator (no broadcast) to expose the bucket layout
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table(s"$db.lineitem_b")
        .join(spark.table(s"$db.orders_b"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"plan was:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("SelectedBucketsCount"), s"plan was:\n$plan")
      // result parity with the plain (shuffled) join
      val plain = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf),
          col("l_orderkey") === col("o_orderkey"))
      assert(j.count() === plain.count())
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("zorder8 matches a direct bit-interleave") {
    def ref(x: Long, y: Long): Long =
      (0 until 8).map { i =>
        (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }.reduce(_ | _)
    import spark.implicits._
    val cases = Seq((0L, 0L), (255L, 0L), (0L, 255L), (255L, 255L),
      (1L, 2L), (170L, 85L), (200L, 13L))
    val got = cases.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zorder8(col("x"), col("y")).as("z"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.foreach { case (x, y, z) => assert(z === ref(x, y), s"($x,$y)") }
    // interleave bounds: 16-bit key, monotone corners
    assert(ref(255, 255) === 65535L && ref(0, 0) === 0L)
  }

  test("z-order sort clusters BOTH dimensions; single-key sort only one") {
    // 8 range partitions stand in for 8 output files; span = per-file
    // (max - min) of each dimension, averaged over files — what parquet
    // footer min/max pruning sees
    val base = Tables.lineitem(spark, sf)
      .select(
        pmod(col("l_partkey"), lit(256L)).as("zx"),
        pmod(col("l_orderkey"), lit(256L)).as("zy"))
    def avgSpans(sorted: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val spans = sorted
        .withColumn("f", spark_partition_id())
        .groupBy("f")
        .agg((max(col("zx")) - min(col("zx"))).as("sx"),
          (max(col("zy")) - min(col("zy"))).as("sy"))
        .agg(avg(col("sx")), avg(col("sy")))
        .collect()(0)
      (spans.getDouble(0), spans.getDouble(1))
    }
    val zed = base.withColumn("zkey", Layout.zorder8(col("zx"), col("zy")))
      .repartitionByRange(8, col("zkey"))
      .sortWithinPartitions("zkey")
    val linear = base.repartitionByRange(8, col("zx"))
      .sortWithinPartitions("zx")

    val (zxSpan, zySpan) = avgSpans(zed)
    val (lxSpan, lySpan) = avgSpans(linear)
    // z-order: every file is a rectangle — both dims well under the
    // full 0..255 range; linear: the sort key is tight but the other
    // dimension spans essentially everything
    assert(zxSpan < 180.0, s"z-order zx span $zxSpan")
    assert(zySpan < 180.0, s"z-order zy span $zySpan")
    assert(lySpan > 200.0, s"linear-sort zy span $lySpan (should be ~full)")
    assert(zySpan < lySpan - 40.0,
      s"z-order must beat linear on the second dimension: $zySpan vs $lySpan")
  }

  test("targeted delete rewrites only the partitions holding killed rows") {
    import graft.ops.Layout
    val dir = Files.createTempDirectory("layout_del").resolve("docs").toString
    val docs = Tables.documents(spark, sf)
    docs.write.partitionBy("source").mode("overwrite").parquet(dir)

    // pick one doc to kill; note its source and some untouched source
    val victim = docs.orderBy("doc_id").limit(1)
      .select("doc_id", "source").collect()(0)
    val (killId, killSrc) = (victim.getLong(0), victim.getString(1))
    val otherSrc = docs.filter(col("source") =!= killSrc)
      .select("source").distinct().orderBy("source").limit(1)
      .collect()(0).getString(0)

    def files(src: String): Map[String, Long] = {
      val d = new File(s"$dir/source=$src")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val beforeOther = files(otherSrc)
    val beforeKill  = files(killSrc)

    Layout.targetedDelete(spark, dir, "source", col("doc_id") === killId)

    // untouched partition: identical files, identical mtimes
    assert(files(otherSrc) === beforeOther,
      s"partition source=$otherSrc was rewritten but holds no killed rows")
    // affected partition: rewritten (different file set or mtimes)
    assert(files(killSrc) !== beforeKill,
      s"partition source=$killSrc should have been rewritten")
    // data: exactly the one row gone
    val back = spark.read.parquet(dir)
    assert(back.filter(col("doc_id") === killId).count() === 0)
    assert(back.count() === docs.count() - 1)

    // killing EVERY row of a partition must remove its directory, not
    // leave the pre-delete files behind (dynamic overwrite writes
    // nothing for an emptied partition — the explicit drop covers it)
    Layout.targetedDelete(spark, dir, "source", col("source") === otherSrc)
    assert(!new File(s"$dir/source=$otherSrc").exists(),
      s"emptied partition dir source=$otherSrc must be dropped")
    val back2 = spark.read.parquet(dir)
    assert(back2.filter(col("source") === otherSrc).count() === 0)
  }

  test("targeted delete drops emptied partitions whose values need path escaping") {
    import graft.ops.Layout
    val dir = Files.createTempDirectory("layout_del_esc").resolve("docs").toString
    // partition values containing characters the writer percent-escapes
    // in directory names — a raw s"$partCol=$v" path would miss them
    val hostile = Seq("a b", "x:y", "p%q", "plain")
    val df = spark.range(40)
      .withColumn("grp", element_at(
        typedLit(hostile), (pmod(col("id"), lit(4)) + 1).cast("int")))
    df.write.partitionBy("grp").mode("overwrite").parquet(dir)
    assert(spark.read.parquet(dir).count() === 40)

    // kill every row of the two hostile partitions: their dirs must go
    Layout.targetedDelete(spark, dir, "grp",
      col("grp") === "a b" || col("grp") === "x:y")
    val back = spark.read.parquet(dir)
    assert(back.count() === 20, "rows of the emptied partitions must be gone")
    assert(back.filter(col("grp").isin("a b", "x:y")).count() === 0,
      "escaped-value partitions were resolved to the wrong path and survived")
    assert(back.filter(col("grp") === "plain").count() === 10)
  }

  test("delete and upsert keep NULL-partition survivors (isin is not null-aware)") {
    import graft.ops.Layout
    // rows in the NULL partition: col.isin(values) evaluates to NULL
    // for them, so a naive survivor filter drops them and the
    // emptied-dir pass deletes __HIVE_DEFAULT_PARTITION__ — data loss
    val dir = Files.createTempDirectory("layout_null").resolve("t").toString
    val df = spark.range(10).withColumn("grp",
      when(col("id") < 6, lit(null).cast("string")).otherwise(lit("g")))
    df.write.partitionBy("grp").mode("overwrite").parquet(dir)

    // kill one row in the NULL partition; the other five must survive
    Layout.targetedDelete(spark, dir, "grp", col("id") === 0)
    val afterDel = spark.read.parquet(dir)
    assert(afterDel.count() === 9)
    assert(afterDel.filter(col("grp").isNull).count() === 5,
      "NULL-partition survivors were lost by the delete rewrite")

    // upsert one key living in the NULL partition; siblings must survive
    val upd = spark.range(1, 2).withColumn("grp", lit(null).cast("string"))
    Layout.mergeUpsert(spark, dir, "grp", "id", upd)
    val afterUp = spark.read.parquet(dir)
    assert(afterUp.count() === 9)
    assert(afterUp.filter(col("grp").isNull).count() === 5,
      "NULL-partition survivors were lost by the upsert rewrite")
  }

  test("merge upsert rewrites only affected partitions; moves drain old copies") {
    import graft.ops.Layout
    val dir = Files.createTempDirectory("layout_merge").resolve("docs").toString
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    docs.write.partitionBy("source").mode("overwrite").parquet(dir)

    val srcs = docs.select("source").distinct().orderBy("source")
      .collect().map(_.getString(0))
    assert(srcs.length >= 3, "fixture needs >= 3 source partitions")
    val (moveFrom, stay) = (srcs(0), srcs(1))

    // one matched key that MOVES partitions, one brand-new insert
    val victim = docs.filter(col("source") === moveFrom)
      .orderBy("doc_id").limit(1).collect()(0)
    val moveId = victim.getLong(0)
    val newId  = docs.agg(max("doc_id")).collect()(0).getLong(0) + 1
    val updates = spark.range(1).select(
      lit(moveId).as("doc_id"), lit("xx").as("lang"),
      lit(stay).as("source"), lit(7L).as("n_chars"))
      .unionByName(spark.range(1).select(
        lit(newId).as("doc_id"), lit("yy").as("lang"),
        lit("brand_new").as("source"), lit(9L).as("n_chars")))

    def files(src: String): Map[String, Long] = {
      val d = new File(s"$dir/source=$src")
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val untouched = srcs.drop(2).map(s0 => s0 -> files(s0)).toMap

    Layout.mergeUpsert(spark, dir, "source", "doc_id", updates)

    // partitions with no matched key and no incoming row: bit-untouched
    untouched.foreach { case (s0, before) =>
      assert(files(s0) === before, s"partition source=$s0 was rewritten")
    }
    val back = spark.read.parquet(dir)
    // the moved row exists exactly once, in its new partition
    val moved = back.filter(col("doc_id") === moveId).collect()
    assert(moved.length === 1)
    assert(moved(0).getAs[String]("source") === stay)
    assert(moved(0).getAs[Long]("n_chars") === 7L)
    // the insert landed in its new partition
    assert(back.filter(col("doc_id") === newId).count() === 1)
    assert(new File(s"$dir/source=brand_new").exists())
    // row count: +1 insert, no duplicates from the move
    assert(back.count() === docs.count() + 1)

    // moving EVERY row out of a partition drops its directory
    val drainAll = spark.read.parquet(dir).filter(col("source") === moveFrom)
      .withColumn("source", lit(stay))
    Layout.mergeUpsert(spark, dir, "source", "doc_id", drainAll)
    assert(!new File(s"$dir/source=$moveFrom").exists(),
      s"drained partition dir source=$moveFrom must be dropped")
  }

  test("compaction shrinks file count without changing content") {
    val root = Files.createTempDirectory("layout_compact")
    val frag = root.resolve("frag").toString
    val tight = root.resolve("tight").toString
    val docs = Tables.documents(spark, sf)
    docs.repartition(20).write.mode("overwrite").parquet(frag)
    spark.read.parquet(frag).repartition(2)
      .write.mode("overwrite").parquet(tight)
    def nFiles(p: String): Int =
      new File(p).listFiles().count(_.getName.endsWith(".parquet"))
    assert(nFiles(frag) === 20)
    assert(nFiles(tight) === 2)
    assert(spark.read.parquet(tight).orderBy("doc_id").collect().toSeq ===
      docs.orderBy("doc_id").collect().toSeq)
  }

  /** Independent order-8 Hilbert xy→d (the standard iterative
    * algorithm, written directly in Scala) — the ground truth the SQL
    * fold chain is checked against.
    */
  private def refHilbert(x0: Int, y0: Int): Long = {
    var (x, y, d) = (x0, y0, 0L)
    var s = 128
    while (s > 0) {
      val rx = if ((x & s) > 0) 1 else 0
      val ry = if ((y & s) > 0) 1 else 0
      d += s.toLong * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s /= 2
    }
    d
  }

  test("q_hilbert matches an independent reference implementation") {
    val rows = SparkEntry.queries("q_hilbert")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val zx = r.getAs[Long]("zx").toInt
      val zy = r.getAs[Long]("zy").toInt
      assert(r.getAs[Long]("hkey") == refHilbert(zx, zy),
        s"SQL fold diverges from reference at ($zx, $zy)")
    }
    // the curve visits each cell exactly once: key is a bijection
    val cells = rows.map(r => (r.getAs[Long]("zx"), r.getAs[Long]("zy")))
      .distinct.length
    assert(rows.map(_.getAs[Long]("hkey")).distinct.length == cells)
  }

  test("q_layout_locality: Hilbert strictly beats Z-order on avg jump") {
    val rows = SparkEntry.queries("q_layout_locality")(spark, sf).collect()
    val byCurve = rows.map(r =>
      r.getAs[String]("curve") -> r.getAs[Long]("avg_jump_ppm")).toMap
    assert(byCurve.keySet == Set("hilbert", "zorder"))
    assert(byCurve("hilbert") < byCurve("zorder"),
      s"Hilbert locality must improve on Z-order: $byCurve")
  }

  test("q_time_travel: snapshots isolate — v1 stays the original after v2") {
    import org.apache.spark.sql.functions.{col, pmod, lit, sum => fsum}
    val rows = SparkEntry.queries("q_time_travel")(spark, sf).collect()
    assert(rows.length === 2)
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    val base = docs.agg(fsum(col("n_chars"))).head().getLong(0)
    val updated = docs
      .filter(pmod(col("doc_id"), lit(2L)) === 1 &&
        pmod(col("doc_id"), lit(7L)) === 0).count()
    val v1 = rows.find(_.getLong(0) == 1L).get
    val v2 = rows.find(_.getLong(0) == 2L).get
    // v1 read AFTER the v2 commit still sees the original table
    assert(v1.getAs[Long]("n_rows") === n)
    assert(v1.getAs[Long]("sum_chars") === base)
    // v2 differs by exactly the copy-on-write delta
    assert(v2.getAs[Long]("n_rows") === n)
    assert(v2.getAs[Long]("sum_chars") === base + 1000L * updated)
  }

  test("time-travel commit rewrites only the targeted file group") {
    // replicate the manifest flow in a local dir to pin the isolation
    // mechanics: after committing v2, f2's bytes are untouched
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("tt_spec")
    val docs = Tables.documents(spark, sf).select("doc_id", "n_chars")
    docs.filter(col("doc_id") % 2 === 0)
      .write.parquet(root.resolve("f1").toString)
    docs.filter(col("doc_id") % 2 === 1)
      .write.parquet(root.resolve("f2").toString)
    def sig(dir: String): Seq[(String, Long, Long)] = {
      val d = root.resolve(dir).toFile
      d.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length(), f.lastModified())).sortBy(_._1)
    }
    val before = sig("f2")
    spark.read.parquet(root.resolve("f2").toString)
      .withColumn("n_chars", col("n_chars") + 1000L)
      .write.parquet(root.resolve("f3").toString)
    assert(sig("f2") === before, "the old snapshot's file changed")
    // both versions readable concurrently
    val v1n = spark.read.parquet(root.resolve("f1").toString,
      root.resolve("f2").toString).count()
    val v2n = spark.read.parquet(root.resolve("f1").toString,
      root.resolve("f3").toString).count()
    assert(v1n === v2n && v1n === docs.count())
  }

  test("manifestSkipGroups prunes exactly the non-intersecting groups") {
    val m = java.nio.file.Files.createTempFile("skip", ".manifest")
    java.nio.file.Files.write(m,
      "g0 0 9\ng1 10 19\ng2 20 29\ng3 30 39\n".getBytes)
    assert(graft.ops.Layout.manifestSkipGroups(m, 12, 25)
      === Seq("g1", "g2"))
    assert(graft.ops.Layout.manifestSkipGroups(m, 9, 10)
      === Seq("g0", "g1")) // boundary inclusion both sides
    assert(graft.ops.Layout.manifestSkipGroups(m, 40, 99).isEmpty)
    assert(graft.ops.Layout.manifestSkipGroups(m, 0, 99)
      === Seq("g0", "g1", "g2", "g3"))
    // the registry query's scan must actually skip: quartile range over
    // 8-9 range-bucketed groups touches at most 3
    val rows = SparkEntry.queries("q_manifest_skip")(spark, sf).collect()
    assert(rows.nonEmpty)
    val ids = rows.map(_.getLong(0))
    assert(ids.sameElements(ids.sorted))
  }

  test("vacuum deletes exactly the manifest-unreachable file groups") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("vacuum_spec")
    val files = root.resolve("files")
    val manifests = root.resolve("manifests")
    java.nio.file.Files.createDirectories(manifests)
    val docs = Tables.documents(spark, sf).select("doc_id", "n_chars")
    for (f <- Seq("f1", "f2", "f3"))
      docs.write.parquet(files.resolve(f).toString)
    // failed-commit debris: written but never committed to a manifest
    docs.limit(10).write.parquet(files.resolve("f4_orphan").toString)
    java.nio.file.Files.write(manifests.resolve("v1.manifest"),
      "f1\nf2\n".getBytes)
    java.nio.file.Files.write(manifests.resolve("v2.manifest"),
      "f1\nf3\n".getBytes)
    val deleted = graft.ops.Layout.vacuum(files, manifests)
    assert(deleted === Seq("f4_orphan"))
    assert(!files.resolve("f4_orphan").toFile.exists())
    // every committed snapshot still reads in full after the sweep
    for (keep <- Seq("f1", "f2", "f3"))
      assert(spark.read.parquet(files.resolve(keep).toString).count()
        === docs.count())
    // idempotent: a second sweep finds nothing
    assert(graft.ops.Layout.vacuum(files, manifests).isEmpty)
  }

  test("vacuum parses stats-format manifests and refuses a zero-overlap sweep") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("vacuum_stats_spec")
    val files = root.resolve("files")
    val manifests = root.resolve("manifests")
    java.nio.file.Files.createDirectories(manifests)
    val docs = Tables.documents(spark, sf).select("doc_id", "n_chars")
    for (g <- Seq("grp=0", "grp=1"))
      docs.write.parquet(files.resolve(g).toString)
    docs.limit(5).write.parquet(files.resolve("grp=9_orphan").toString)
    // q_manifest_skip's stats format: `name min max` — only the first
    // token is the group name; the stats must NOT poison reachability
    java.nio.file.Files.write(manifests.resolve("v1.manifest"),
      "grp=0 100 200\ngrp=1 201 300\n".getBytes)
    assert(graft.ops.Layout.vacuum(files, manifests)
      === Seq("grp=9_orphan"))
    assert(files.resolve("grp=0").toFile.exists())
    assert(files.resolve("grp=1").toFile.exists())
    // a manifest dir whose reachable set matches NOTHING present is a
    // mis-pointed path, not a 100%-garbage table: delete nothing
    val foreign = root.resolve("foreign_manifests")
    java.nio.file.Files.createDirectories(foreign)
    java.nio.file.Files.write(foreign.resolve("v1.manifest"),
      "other_table_file\n".getBytes)
    assert(graft.ops.Layout.vacuum(files, foreign).isEmpty)
    assert(files.resolve("grp=0").toFile.exists())
    assert(files.resolve("grp=1").toFile.exists())
  }

  test("deletion-vector read path size-gates the broadcast: tiny DV " +
    "broadcasts, corpus-fraction DV falls back to a shuffled anti-join") {
    import org.apache.spark.sql.expressions.Window
    val root = Files.createTempDirectory("dv_gate")
    val data = root.resolve("data").toString
    val w    = Window.partitionBy("grp").orderBy("doc_id")
    val docs = Tables.documents(spark, sf)
      .withColumn("grp", pmod(col("doc_id"), lit(16)).cast("int"))
      .withColumn("_pos", (row_number().over(w) - 1).cast("long"))
    docs.write.partitionBy("grp").mode("overwrite").parquet(data)
    val table = spark.read.parquet(data)
    val total = table.count()

    // at sf0.001 the planner's size estimate would auto-broadcast ANY
    // side; disable auto-broadcast to emulate the at-scale estimate
    // (a corpus-fraction DV is way past the threshold) — the explicit
    // broadcast() hint in arm 1 still applies regardless
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {

    // arm 1: point-delete-sized DV (GDPR story) → broadcast anti-join
    val tinyDv = table.filter(col("doc_id") % 97 === 3).select("grp", "_pos")
    val tinyN  = tinyDv.count()
    val tiny   = Layout.applyDeletionVectors(table, tinyDv, tinyN)
    val pTiny  = tiny.queryExecution.executedPlan.toString
    assert(pTiny.contains("BroadcastHashJoin"),
      s"tiny DV must broadcast:\n${pTiny.take(2000)}")
    assert(tiny.count() === total - tinyN)

    // arm 2: predicate-delete-sized DV forced through the fallback by
    // a threshold below its row count → plain shuffled anti-join on
    // (grp, _pos); never a driver broadcast of a corpus-fraction side
    val bigDv = table.filter(col("lang") === "de").select("grp", "_pos")
    val bigN  = bigDv.count()
    assert(bigN > 0)
    val big  = Layout.applyDeletionVectors(table, bigDv, bigN,
      maxBroadcastRows = bigN - 1)
    val pBig = big.queryExecution.executedPlan.toString
    assert(!pBig.contains("BroadcastHashJoin"),
      s"corpus-fraction DV must NOT broadcast:\n${pBig.take(2000)}")
    assert(pBig.contains("SortMergeJoin") || pBig.contains("ShuffledHashJoin"),
      s"fallback must be a shuffled anti-join:\n${pBig.take(2000)}")
    assert(big.count() === total - bigN)

    // both arms compute the same subtraction semantics
    val viaB = Layout.applyDeletionVectors(table, bigDv, bigN)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val viaS = big.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaB === viaS)

    } finally spark.conf.set(
      "spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }
}
