package graft

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, RoundRobinPartitioning}
import org.apache.spark.sql.execution.{CoalesceExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.OnePartitionExec

/** [[graft.plans.SinglePartitionExchanges]]: an exchange above rows
  * that already form one partition is dropped when it serves a one-child
  * operator's own requirement and its input fits one AQE advisory
  * partition, also above a broadcast join's streamed side. Split
  * inputs, larger inputs, shuffled joins and user repartitions keep
  * their exchanges. The node left in a dropped exchange's place fuses
  * into the generated code on both sides of it. Every case checks its
  * rows against the same query run without AQE, where the rule never
  * runs.
  */
class SinglePartitionExchangesSpec extends AnyFunSuite with SessionSuite
    with AdaptiveSparkPlanHelper {

  private val sf = "/root/testdata/sf0.001"

  /** sf0.001 `lineitem` is one 117 KB file: one file partition. */
  private def lineitem: DataFrame = Tables.table(spark, sf, "lineitem")

  private def shapes: Seq[(String, () => DataFrame)] = Seq(
    "sort" -> (() => lineitem.select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")),
    "aggregate" -> (() => lineitem.groupBy("l_orderkey")
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("q"))),
    "window" -> (() => lineitem.select(col("l_orderkey"), col("l_linenumber"),
      row_number().over(Window.partitionBy("l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")).as("r"))),
    "limit" -> (() => lineitem.select("l_orderkey").limit(10)
      .agg(count(lit(1)).as("n"))))

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }

  private def onePartitions(df: DataFrame): Seq[OnePartitionExec] =
    collect(df.queryExecution.executedPlan) { case o: OnePartitionExec => o }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toString).sorted

  /** `build()`'s rows with AQE off, where no query-stage rule runs. */
  private def withoutAqe(build: () => DataFrame): Seq[String] =
    withConf(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key, "false")(rows(build()))

  test("a one-partition input under a sort, an aggregate, a window and a " +
    "limit plans no shuffle and runs one job") {
    assert(lineitem.rdd.getNumPartitions == 1)
    for ((name, build) <- shapes) {
      val df = build()
      var got: Seq[String] = Nil
      val jobs = JobCount.during(spark) { got = rows(df) }
      assert(shuffles(df).isEmpty, s"$name:\n${df.queryExecution.executedPlan}")
      assert(jobs == 1, s"$name: $jobs jobs")
      assert(got.nonEmpty && got == withoutAqe(build), name)
    }
  }

  test("a sort and an aggregate over a one-partition input run as one " +
    "generated stage") {
    for ((name, build) <- shapes.filter(s => Set("sort", "aggregate")(s._1))) {
      val df = build()
      val got = rows(df)
      val plan = df.queryExecution.executedPlan
      val stages = collect(plan) { case w: WholeStageCodegenExec => w }
      assert(stages.size == 1, s"$name:\n$plan")
      assert(collect(plan) { case c: CoalesceExec => c }.isEmpty, s"$name:\n$plan")
      assert(onePartitions(df).size == 1, s"$name:\n$plan")
      assert(got.nonEmpty && got == withoutAqe(build), name)
    }
  }

  test("without whole-stage codegen every shape returns its rows") {
    for ((name, build) <- shapes) {
      val expected = withoutAqe(build)
      withConf(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key, "false") {
        val df = build()
        val got = rows(df)
        val plan = df.queryExecution.executedPlan
        assert(onePartitions(df).nonEmpty, s"$name:\n$plan")
        assert(collect(plan) { case w: WholeStageCodegenExec => w }.isEmpty, s"$name:\n$plan")
        assert(got.nonEmpty && got == expected, name)
      }
    }
  }

  test("count(*) over one parquet file holding no rows returns one row") {
    val dir = Files.createTempDirectory("one_partition_empty").toFile
    try {
      val path = s"$dir/empty"
      lineitem.limit(0).write.parquet(path)
      for (codegen <- Seq("true", "false"))
        withConf(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key, codegen) {
          val empty = spark.read.parquet(path)
          assert(empty.rdd.getNumPartitions == 1)
          val df = empty.agg(count(lit(1)).as("n"))
          assert(df.collect().toSeq == Seq(Row(0L)), s"codegen $codegen")
          assert(onePartitions(df).size == 1, df.queryExecution.executedPlan)
        }
    } finally FileUtils.deleteDirectory(dir)
  }

  test("the count passes through a broadcast join's streamed side") {
    val build = () => lineitem
      .join(broadcast(Tables.table(spark, sf, "orders")), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey").agg(sum("l_quantity").as("q"))
    val df = build()
    val got = rows(df)
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("BroadcastHashJoin") && shuffles(df).isEmpty, plan)
    assert(got.nonEmpty && got == withoutAqe(build))
  }

  test("the same input split into several partitions keeps its exchange") {
    withConf(SQLConf.FILES_MAX_PARTITION_BYTES.key, "32768") {
      assert(lineitem.rdd.getNumPartitions > 1)
      for ((name, build) <- shapes) {
        val df = build()
        val got = rows(df)
        assert(shuffles(df).nonEmpty, s"$name:\n${df.queryExecution.executedPlan}")
        assert(got == withoutAqe(build), name)
      }
    }
  }

  test("an input larger than the advisory partition size keeps its exchange") {
    withConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key, "1024") {
      for ((name, build) <- shapes) {
        val df = build()
        val got = rows(df)
        assert(shuffles(df).nonEmpty, s"$name:\n${df.queryExecution.executedPlan}")
        assert(got == withoutAqe(build), name)
      }
    }
  }

  test("a shuffled join over one-partition inputs keeps both exchanges, " +
    "also the one an aggregate under it plans") {
    def orders = Tables.table(spark, sf, "orders")
    val joins = Seq[() => DataFrame](
      () => lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "l_linenumber", "o_custkey"),
      () => lineitem.groupBy("l_orderkey").agg(sum("l_quantity").as("q"))
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "q", "o_custkey"))
    withConf(SQLConf.AUTO_BROADCASTJOIN_THRESHOLD.key, "-1") {
      for (build <- joins) {
        val df = build()
        val got = rows(df)
        val plan = df.queryExecution.executedPlan
        assert(plan.toString.contains("SortMergeJoin"), plan)
        assert(shuffles(df).count(_.shuffleOrigin == ENSURE_REQUIREMENTS) == 2, plan)
        assert(got.nonEmpty && got == withoutAqe(build))
      }
    }
  }

  test("repartition and repartitionByRange keep their exchanges") {
    val robin = lineitem.repartition(4).sortWithinPartitions("l_orderkey")
    assert(robin.rdd.getNumPartitions == 4)
    assert(rows(robin) == rows(lineitem))
    assert(shuffles(robin).exists(_.outputPartitioning == RoundRobinPartitioning(4)),
      robin.queryExecution.executedPlan)

    val ranged = lineitem.repartitionByRange(4, col("l_orderkey")).orderBy("l_orderkey")
    val keys = ranged.collect().map(_.getAs[Number]("l_orderkey").longValue)
    assert(keys.sameElements(keys.sorted))
    assert(ranged.rdd.getNumPartitions == 4)
    assert(shuffles(ranged).exists(e => e.outputPartitioning.isInstanceOf[RangePartitioning] &&
      e.outputPartitioning.numPartitions == 4), ranged.queryExecution.executedPlan)
  }

  test("every sql bench query at sf0.001 returns the rows it returns without AQE") {
    val qs = SparkEntry.benchQueries.filterNot(_.name.startsWith("q_mailbox_"))
    assert(qs.size == 13, qs.map(_.name))
    for (q <- qs) {
      val build = () => q.fn(spark, sf)
      assert(rows(build()) == withoutAqe(build), q.name)
    }
  }
}
