package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec, ShuffleOrigin}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.source.Mailbox

/** [[graft.plans.SmallSortSinglePartition]]: a global sort whose input
  * fits one AQE advisory partition shuffles into one partition and
  * skips the range partitioner's sampling job; larger inputs,
  * `repartitionByRange` and sessions without partition coalescing keep
  * the range exchange. Every case checks that the collected rows come
  * out in sort order.
  */
class SmallSortSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("small-sort-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("WARN")
  override def afterAll(): Unit = spark.stop()

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

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
