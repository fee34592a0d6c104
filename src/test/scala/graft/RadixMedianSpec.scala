package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Focused spec for the round-13 optimization internals:
  *  - Distributed.lowerMedianLong / groupedLowerMedianLong (the radix
  *    bucket selection replacing ranged cum-sums in q_theil_sen /
  *    q_mad_outliers) against brute-force sorted-array medians, on
  *    hostile value distributions (negatives, wide ranges, heavy ties,
  *    single-bucket collapse);
  *  - Tables.spreadForCompute's gate (fires only on row-group-starved,
  *    big-enough files; conf kill-switch; value-neutral).
  */
class RadixMedianSpec extends AnyFunSuite with SessionSuite {

  /** The repo's determinate-on-ties LOWER median: smallest v with
    * 2·cum(v) ≥ n — brute force.
    */
  private def bruteLower(xs: Seq[Long]): Long = {
    val sorted = xs.sorted
    val n      = sorted.length.toLong
    sorted.zipWithIndex
      .collectFirst { case (v, i) if 2L * (i + 1) >= n => v }
      .get
  }

  private def check(xs: Seq[Long], bounds: Option[(Long, Long)] = None)
      : Unit = {
    import spark.implicits._
    val df = xs.toDF("v").repartition(4)
    val got = ops.Distributed.lowerMedianLong(df, col("v"), xs.length.toLong,
      bounds)
    assert(got.contains(bruteLower(xs)),
      s"lowerMedianLong mismatch on ${xs.take(20)}…: " +
        s"got $got want ${bruteLower(xs)}")
  }

  test("lowerMedianLong matches brute force across value shapes") {
    val rnd = new scala.util.Random(42)
    // narrow range (one radix level), negatives, wide 2^44 range,
    // heavy ties, odd/even sizes, single element
    check(Seq.fill(101)(rnd.nextInt(1000).toLong))
    check(Seq.fill(100)(rnd.nextInt(2000).toLong - 1000L))
    check(Seq.fill(257)((rnd.nextLong() >> 20)))
    check(Seq.fill(64)(7L) ++ Seq.fill(64)(-3L))
    check(Seq(42L))
    // caller-provided enclosing bounds (the q_theil_sen path)
    val xs = Seq.fill(99)(rnd.nextLong() % 1000000L)
    check(xs, bounds = Some((-1000000L, 1000000L)))
  }

  test("lowerMedianLong: n <= 0 and empty frames return None") {
    import spark.implicits._
    val empty = Seq.empty[Long].toDF("v")
    assert(ops.Distributed.lowerMedianLong(empty, col("v"), 0L).isEmpty)
  }

  test("groupedLowerMedianLong matches brute force per group, weighted") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = for {
      g <- Seq("A", "N", "R")
      _ <- 1 to 200
    } yield (g, rnd.nextInt(5000).toLong - 2500L, 1L + rnd.nextInt(3).toLong)
    val df = rows.toDF("g", "v", "w").repartition(4)
    val got = ops.Distributed.groupedLowerMedianLong(
      df, col("g"), col("v"), col("w"))
    val want = rows.groupBy(_._1).map { case (g, rs) =>
      g -> bruteLower(rs.flatMap(r => Seq.fill(r._3.toInt)(r._2)))
    }
    assert(got == want, s"got $got want $want")
  }

  test("groupedLowerMedianLong names the group whose statsIn total " +
    "exceeds its summed weight") {
    import spark.implicits._
    val df = Seq(("A", 1L, 1L), ("A", 2L, 1L)).toDF("g", "v", "w")
    val e = intercept[IllegalArgumentException] {
      ops.Distributed.groupedLowerMedianLong(df, col("g"), col("v"),
        col("w"), statsIn = Some(Seq(("A", 100L, 1L, 2L))))
    }
    assert(e.getMessage.contains("group 'A'"), e.getMessage)
    assert(e.getMessage.contains("exact summed weight"), e.getMessage)
  }

  test("spreadForCompute fires only on row-group-starved big files " +
    "and is value-neutral") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("spread_spec")
    // ≥ 256 KiB, one row group (one task writes one file)
    val n = 200000
    spark.range(n).select(col("id").as("doc_id"),
        concat(lit("x"), col("id")).as("text"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val bare = Tables.table(spark, dir.toString, "documents")
    val spreadDf = Tables.spreadForCompute(
      bare, spark, dir.toString, "documents")
    assert(spreadDf.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism,
      "starved big file must spread to defaultParallelism")
    // value-neutral
    assert(spreadDf.agg(sum(col("doc_id"))).collect()(0).getLong(0) ==
      n.toLong * (n - 1) / 2)
    // conf kill-switch
    spark.conf.set(Tables.SpreadConfKey, "false")
    try {
      val off = Tables.spreadForCompute(
        Tables.table(spark, dir.toString, "documents"),
        spark, dir.toString, "documents")
      assert(!off.queryExecution.executedPlan.toString
        .contains("Exchange"), "conf off must not insert an exchange")
    } finally spark.conf.set(Tables.SpreadConfKey, "true")
    // sub-floor file: no spread even when starved
    spark.range(10).select(col("id").as("doc_id"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/tiny.parquet")
    val tiny = Tables.spreadForCompute(
      Tables.table(spark, dir.toString, "tiny"),
      spark, dir.toString, "tiny")
    assert(!tiny.queryExecution.executedPlan.toString.contains("Exchange"),
      "sub-floor file must not spread")
  }
}
