package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftFunctions, KmvMedianAgg}

/** The native KMV sampled-median aggregate ([[KmvMedianAgg]], SQL name
  * `graft_kmv_median`): determinism under arbitrary partitioning (the
  * property that licenses the DuckDB oracle replay), the semilattice
  * merge algebra, agreement with an independent driver-side recompute
  * of the hash-min selection, exactness below the sample size, and the
  * ObjectHashAggregate partial-aggregation plan shape.
  */
class KmvMedianAggSpec extends AnyFunSuite with SessionSuite {

  private def md5hex(v: Long): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(v.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Independent recompute: 64 distinct values with smallest md5 hex,
    * lower median of those values.
    */
  private def brute(values: Seq[Long]): Long = {
    val kept = values.distinct.map(v => md5hex(v) -> v)
      .sortBy(_._1).take(64).map(_._2).sorted
    kept((kept.length - 1) / 2)
  }

  test("sampled median matches the brute-force hash-min selection") {
    import spark.implicits._
    val values = (0L until 5000L).map(i => i * 7919L % 100000L)
    val df = values.toDF("v")
    val got = df.agg(GraftFunctions.graft_kmv_median(col("v")))
      .collect().head.getLong(0)
    assert(got === brute(values))
  }

  test("partitioning-invariant: 1 vs 32 partitions, shuffled input order") {
    import spark.implicits._
    val values = scala.util.Random.shuffle(
      (0L until 3000L).map(i => i * 104729L % 50000L).toVector)
    val one = values.toDF("v").coalesce(1)
      .agg(GraftFunctions.graft_kmv_median(col("v"))).collect().head.getLong(0)
    val many = values.reverse.toDF("v").repartition(32)
      .agg(GraftFunctions.graft_kmv_median(col("v"))).collect().head.getLong(0)
    assert(one === many)
    assert(one === brute(values))
  }

  test("duplicates don't shift the sample (distinct-value semantics)") {
    import spark.implicits._
    val base = (0L until 500L).map(i => i * 31L % 7000L)
    val dup = base ++ base ++ base.take(100)
    val a = base.toDF("v")
      .agg(GraftFunctions.graft_kmv_median(col("v"))).collect().head.getLong(0)
    val b = dup.toDF("v")
      .agg(GraftFunctions.graft_kmv_median(col("v"))).collect().head.getLong(0)
    assert(a === b)
  }

  test("below the sample size the sketch is EXACT") {
    import spark.implicits._
    val values = Seq(5L, 1L, 9L, 3L, 7L, 2L, 8L)
    val got = values.toDF("v")
      .agg(GraftFunctions.graft_kmv_median(col("v"))).collect().head.getLong(0)
    // 7 distinct values all kept → exact lower median = 5
    assert(got === 5L)
  }

  test("merge is a semilattice join: manual two-buffer merge == one pass") {
    val agg = KmvMedianAgg(org.apache.spark.sql.catalyst.expressions
      .BoundReference(0, org.apache.spark.sql.types.LongType, nullable = true))
    val left = (0L until 400L).map(i => i * 13L % 9000L)
    val right = (0L until 400L).map(i => i * 17L % 9000L)
    def build(vs: Seq[Long]) = {
      val b = agg.createAggregationBuffer()
      val row = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(1)
      vs.foreach { v => row.update(0, v); agg.update(b, row) }
      b
    }
    val merged = agg.merge(build(left), build(right))
    val direct = build(left ++ right)
    assert(agg.eval(merged) === agg.eval(direct))
    // idempotent on overlap: merging a buffer with itself is a no-op
    val self = agg.merge(build(left), build(left))
    assert(agg.eval(self) === agg.eval(build(left)))
    // serialization round-trip preserves the buffer
    val rt = agg.deserialize(agg.serialize(direct))
    assert(agg.eval(rt) === agg.eval(direct))
  }

  test("empty input evaluates to null, null rows are ignored") {
    import spark.implicits._
    val got = Seq.empty[Long].toDF("v")
      .agg(GraftFunctions.graft_kmv_median(col("v"))).collect().head
    assert(got.isNullAt(0))
    val withNulls = Seq(Some(4L), None, Some(6L), None).toDF("v")
      .agg(GraftFunctions.graft_kmv_median(col("v"))).collect().head
    assert(withNulls.getLong(0) === 4L) // lower median of {4, 6}
  }

  test("SQL surface: the extensions-injected name works") {
    import spark.implicits._
    (1L to 200L).toDF("v").createOrReplaceTempView("kmv_vals")
    val viaSql = spark.sql(
      "SELECT graft_kmv_median(v) FROM kmv_vals").collect().head.getLong(0)
    assert(viaSql === brute(1L to 200L))
  }

  test("plan shape: partial aggregation under ObjectHashAggregate") {
    import spark.implicits._
    val df = (1L to 100L).toDF("v")
      .agg(GraftFunctions.graft_kmv_median(col("v")))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_graft_kmv_median"), plan)
  }
}
