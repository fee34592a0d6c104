package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.AsofJoinOps

/** The custom as-of join operator (LogicalPlan + Strategy + SparkPlan)
  * against its compositional equivalent, plus plan and edge checks.
  */
class AsofJoinSpec extends AnyFunSuite with SessionSuite {

  private val sf = "/root/testdata/sf0.001"

  private def leftSide = Tables
    .events(spark, sf)
    .select(col("user_id"), col("event_id"), col("event_type"))

  private def rightSide = Tables
    .events(spark, sf)
    .filter(col("event_type") === "purchase")
    .select(col("user_id").as("p_user"), col("event_id").as("p_event_id"))

  test("custom asof join matches the window-composition result") {
    val asof = AsofJoinOps
      .asofJoin(leftSide, rightSide, "user_id", "p_user", "event_id", "p_event_id")
      .select("user_id", "event_id", "p_event_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sorted

    val w = Window
      .partitionBy("user_id")
      .orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = Tables
      .events(spark, sf)
      .select(
        col("user_id"),
        col("event_id"),
        max(when(col("event_type") === "purchase", col("event_id"))).over(w)
          .as("p_event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sorted

    assert(asof.length === expected.length)
    assert(asof.toSeq === expected.toSeq)
  }

  test("plan contains AsofJoinExec with co-partitioning exchanges") {
    val df = AsofJoinOps
      .asofJoin(leftSide, rightSide, "user_id", "p_user", "event_id", "p_event_id")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsofJoin"), plan) // exec renders without "Exec"
    assert(plan.contains("Exchange hashpartitioning"), plan)
    assert(plan.contains("Sort [user_id"), plan)
  }

  test("keys with no right-side rows yield NULL matches") {
    val tinyRight = rightSide.filter(col("p_user") === -1L) // empty
    val joined = AsofJoinOps
      .asofJoin(leftSide, tinyRight, "user_id", "p_user", "event_id", "p_event_id")
    assert(joined.filter(col("p_event_id").isNotNull).count() === 0L)
    assert(joined.count() === leftSide.count())
  }

  test("non-bigint key is rejected with a clear error") {
    val e = intercept[IllegalArgumentException] {
      AsofJoinOps.asofJoin(
        leftSide.withColumn("k", col("event_type")),
        rightSide, "k", "p_user", "event_id", "p_event_id")
    }
    assert(e.getMessage.contains("BIGINT"))
  }
}
