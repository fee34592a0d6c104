package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sink-side scale behaviors: partitioned writes with partition pruning
  * on read-back, and bucketed tables joining without an exchange — the
  * two storage-layout levers for 100 TB co-located access.
  */
class SinkSpec extends AnyFunSuite with SessionSuite {

  private val sf = "/root/testdata/sf0.001"

  test("partitioned parquet write prunes partitions on filtered read-back") {
    val out = Files.createTempDirectory("events_part").toFile.getPath
    Tables
      .events(spark, sf)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .write
      .partitionBy("day")
      .mode("overwrite")
      .parquet(out)

    val back = spark.read.parquet(out).filter(col("day") === "2024-01-05")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(day"), plan)
    // pruned scan reads only the one day directory
    val expected = Tables
      .events(spark, sf)
      .filter(date_format(col("ts"), "yyyy-MM-dd") === "2024-01-05")
      .count()
    assert(back.count() === expected)
  }

  test("bucketed tables join without an exchange (co-located join)") {
    // external tables: the data lives in a temp dir, not the warehouse
    val wh = Files.createTempDirectory("graft_buckets")
    Tables.orders(spark, sf).write
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .option("path", wh.resolve("orders_b").toString)
      .mode("overwrite").saveAsTable("orders_b")
    Tables.customer(spark, sf).write
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .option("path", wh.resolve("customer_b").toString)
      .mode("overwrite").saveAsTable("customer_b")

    val joined = spark
      .table("orders_b")
      .join(spark.table("customer_b"),
        col("o_custkey") === col("c_custkey"))
    // disable broadcast so the co-location is what avoids the shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      val expected = Tables.orders(spark, sf)
        .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
        .count()
      assert(joined.count() === expected)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }
}
