package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec, ShuffleOrigin}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

import graft.source.Mailbox

/** [[graft.plans.SinglePartitionExchanges]]: a global sort whose
  * multi-partition input fits one AQE advisory partition shuffles into
  * one partition and skips the range partitioner's sampling job;
  * larger inputs, `repartitionByRange` and sessions without partition
  * coalescing keep the range exchange. Every case checks that the
  * collected rows come out in sort order.
  */
class SmallSortSpec extends AnyFunSuite with SessionSuite
    with AdaptiveSparkPlanHelper {

  private val sf = "/root/testdata/sf0.001"

  private def scanProject: DataFrame = SparkEntry.queries("q_scan_project")(spark, sf)
  private def notesSort: DataFrame =
    Mailbox.notes(spark, "fixtures/mailbox/*.mbx").orderBy("node_id", "subject")

  /** Collects `df`, asserting the rows are ordered by its leading
    * (numeric) sort column, and returns the executed plan's shuffles.
    */
  private def runSorted(df: DataFrame): Seq[(Partitioning, ShuffleOrigin)] = {
    val key = Seq("l_orderkey", "node_id", "id").find(df.columns.contains)
      .getOrElse(fail(s"no known sort key in ${df.columns.mkString(", ")}"))
    val keys = df.collect().map(_.getAs[Number](key).longValue)
    assert(keys.nonEmpty)
    assert(keys.sameElements(keys.sorted), keys.mkString(", "))
    collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => (e.outputPartitioning, e.shuffleOrigin)
    }
  }

  private def isRange(p: (Partitioning, ShuffleOrigin)): Boolean =
    p._1.isInstanceOf[RangePartitioning] && p._2 == ENSURE_REQUIREMENTS

  test("a small global sort shuffles into one partition and runs one job fewer") {
    // q_scan_project's one-file sf0.001 input is split in two, as inputs
    // are split at scale: over one partition the rule drops the exchange
    // altogether (more, mostly empty splits make the range partitioner
    // sample twice)
    withConf(SQLConf.FILES_MAX_PARTITION_BYTES.key, "65536") {
      assert(Tables.lineitem(spark, sf).rdd.getNumPartitions == 2)
      for ((name, query) <- Seq[(String, () => DataFrame)](
          "q_scan_project" -> (() => scanProject), "notes" -> (() => notesSort))) {
        var single: Seq[(Partitioning, ShuffleOrigin)] = Nil
        val singleJobs = JobCount.during(spark) { single = runSorted(query()) }
        assert(single.map(_._1) == Seq(SinglePartition), s"$name: $single")
        var ranged: Seq[(Partitioning, ShuffleOrigin)] = Nil
        val rangedJobs = withConf(SQLConf.COALESCE_PARTITIONS_ENABLED.key, "false") {
          JobCount.during(spark) { ranged = runSorted(query()) }
        }
        assert(ranged.size == 1 && isRange(ranged.head), s"$name: $ranged")
        assert(singleJobs == rangedJobs - 1,
          s"$name: $singleJobs jobs with the rule, $rangedJobs without")
      }
    }
  }

  test("an input larger than the advisory partition size keeps the range exchange") {
    withConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key, "1024") {
      for (df <- Seq(scanProject, notesSort)) {
        val shuffles = runSorted(df)
        assert(shuffles.size == 1 && isRange(shuffles.head), shuffles)
      }
    }
  }

  test("repartitionByRange keeps its partitions") {
    val df = spark.range(0, 1000, 1, 3).select(col("id"), (col("id") % 7).as("k"))
      .repartitionByRange(4, col("id"))
    val shuffles = runSorted(df.sortWithinPartitions("id"))
    assert(df.rdd.getNumPartitions == 4)
    assert(shuffles.size == 1 && shuffles.head._1.isInstanceOf[RangePartitioning] &&
      shuffles.head._1.numPartitions == 4, shuffles)
  }

  test("without partition coalescing the plan keeps the range exchange") {
    withConf(SQLConf.COALESCE_PARTITIONS_ENABLED.key, "false") {
      for (df <- Seq(scanProject, notesSort)) {
        val shuffles = runSorted(df)
        assert(shuffles.size == 1 && isRange(shuffles.head), shuffles)
      }
    }
  }
}
