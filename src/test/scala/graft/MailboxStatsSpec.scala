package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.source.{Mailbox, MailboxGen, MailboxIndex}

/** Statistics-backed MIN/MAX aggregate pushdown (v3 sidecars): the
  * fast path answers from per-class delivery-time stats with ONE static
  * partition and zero execution IO; every inexact situation (stale
  * sidecar, foreign layout with the timestamp beyond the record head)
  * falls back to the ordinary scan and stays correct.
  */
class MailboxStatsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("mailbox-stats-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("WARN")
  override def afterAll(): Unit = spark.stop()

  private def fixtures: String = {
    val dir = new File("fixtures/mailbox")
    if (!new File(dir, "unittest.mbx.idx").exists())
      MailboxGen.writeFixtures(dir)
    dir.getAbsolutePath
  }

  /** Did the aggregate collapse to the stats-answered static partition?
    * The scan's A12 description — printed by BatchScanExec even under
    * AQE — reflects the pushedStats state; when pushed, the BatchScan's
    * output must be the aggregate columns (no data columns survive).
    */
  private def statsPushed(df: DataFrame): Boolean = {
    val plan   = df.queryExecution.executedPlan.toString
    val pushed = plan.contains("statsAggPushdown=true")
    if (pushed)
      assert(plan.contains("BatchScan") &&
        (plan.contains("min(message_delivery_time)#") ||
          plan.contains("max(message_delivery_time)#")), plan)
    pushed
  }

  import org.apache.spark.sql.functions._

  test("whole-glob min/max/count collapses to one static stats partition") {
    val glob = s"$fixtures/*.mbx"
    val agg = Mailbox.messages(spark, glob)
      .agg(min(col("message_delivery_time")).as("mn"),
        max(col("message_delivery_time")).as("mx"),
        count(lit(1)).as("n"))
    assert(statsPushed(agg), agg.queryExecution.executedPlan.toString)
    // cross-check against the scanned column (projection path, no agg
    // pushdown involved)
    val times = Mailbox.messages(spark, glob)
      .select(col("message_delivery_time")).collect().map(_.getTimestamp(0))
    val row = agg.collect()(0)
    assert(row.getTimestamp(0) == times.min, row.toString)
    assert(row.getTimestamp(1) == times.max, row.toString)
    assert(row.getLong(2) == times.length.toLong, row.toString)
  }

  test("typed-mode (plan-time class filtered) min/max answers from per-class stats") {
    val glob = s"$fixtures/*.mbx"
    val agg = Mailbox.tasks(spark, glob)
      .agg(min(col("message_delivery_time")).as("mn"),
        max(col("message_delivery_time")).as("mx"))
    assert(statsPushed(agg), agg.queryExecution.executedPlan.toString)
    val times = Mailbox.tasks(spark, glob)
      .select(col("message_delivery_time")).collect().map(_.getTimestamp(0))
    val row = agg.collect()(0)
    assert(row.getTimestamp(0) == times.min && row.getTimestamp(1) == times.max)
  }

  test("stale sidecar falls back to the scan and stays correct") {
    val dir = Files.createTempDirectory("mbx-stale").toFile
    MailboxGen.writeFile(new File(dir, "a.mbx"),
      MailboxGen.syntheticLines(2, 40, 1))
    // stale: rewrite the data after the sidecar was written
    MailboxGen.writeFile(new File(dir, "a.mbx"),
      MailboxGen.syntheticLines(2, 50, 2), writeIndex = false)
    val agg = Mailbox.messages(spark, s"$dir/a.mbx")
      .agg(min(col("message_delivery_time")).as("mn"), count(lit(1)).as("n"))
    assert(!statsPushed(agg), "stale stats must NOT answer the aggregate")
    val times = Mailbox.messages(spark, s"$dir/a.mbx")
      .select(col("message_delivery_time")).collect().map(_.getTimestamp(0))
    val row = agg.collect()(0)
    assert(row.getTimestamp(0) == times.min && row.getLong(1) == times.length)
  }

  test("all-null delivery times push down as a NULL result") {
    val dir = Files.createTempDirectory("mbx-null").toFile
    val lines = (0 until 3).map { i =>
      s"""{"node_id":${100 + i},"parent_node_id":1,"record_type":"message","message_class":"IPM.Note","record_key":"AA==","creation_time":5,"last_modified":6,"message_delivery_time":null,"subject":"s$i","body":"b"}"""
    }
    MailboxGen.writeFile(new File(dir, "n.mbx"), lines)
    val agg = Mailbox.messages(spark, s"$dir/n.mbx")
      .agg(min(col("message_delivery_time")).as("mn"), count(lit(1)).as("n"))
    assert(statsPushed(agg), agg.queryExecution.executedPlan.toString)
    val row = agg.collect()(0)
    assert(row.isNullAt(0) && row.getLong(1) == 3L, row.toString)
  }

  test("foreign layout (timestamp beyond the record head) refuses pushdown") {
    val dir = Files.createTempDirectory("mbx-foreign").toFile
    val pad = "x" * 400 // pushes the timestamp past HeadBytes
    val lines = (0 until 3).map { i =>
      s"""{"node_id":${200 + i},"parent_node_id":1,"record_type":"message","message_class":"IPM.Note","record_key":"AA==","subject":"$pad","message_delivery_time":${1000 + i},"body":"b"}"""
    }
    MailboxGen.writeFile(new File(dir, "f.mbx"), lines)
    val agg = Mailbox.messages(spark, s"$dir/f.mbx")
      .agg(min(col("message_delivery_time")).as("mn"),
        max(col("message_delivery_time")).as("mx"))
    assert(!statsPushed(agg),
      "inconclusive head stats must NOT answer the aggregate")
    val row = agg.collect()(0)
    assert(row.getTimestamp(0).toInstant.getEpochSecond == 1000L &&
      row.getTimestamp(1).toInstant.getEpochSecond == 1002L, row.toString)
  }

  private def groupPushed(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("statsAggPushdown=group")

  test("GROUP BY message_class count/min/max answers from per-class stats") {
    val glob = s"$fixtures/*.mbx"
    val agg = Mailbox.messages(spark, glob)
      .groupBy("message_class")
      .agg(count(lit(1)).as("n"),
        min(col("message_delivery_time")).as("mn"),
        max(col("message_delivery_time")).as("mx"))
      .orderBy("message_class")
    assert(groupPushed(agg), agg.queryExecution.executedPlan.toString)
    // cross-check against the plain projection path (no agg pushdown)
    val raw = Mailbox.messages(spark, glob)
      .select(col("message_class"), col("message_delivery_time"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (cls, rows) =>
        val ts = rows.filter(!_.isNullAt(1)).map(_.getTimestamp(1))
        (cls, (rows.length.toLong,
          if (ts.isEmpty) null else ts.min, if (ts.isEmpty) null else ts.max))
      }
    val got = agg.collect()
    assert(got.length == raw.size, got.mkString("; "))
    got.foreach { r =>
      val (n, mn, mx) = raw(r.getString(0))
      assert(r.getLong(1) == n && r.getTimestamp(2) == mn &&
        r.getTimestamp(3) == mx, r.toString)
    }
  }

  test("GROUP BY pushdown refuses when a record lacks message_class") {
    val dir = Files.createTempDirectory("mbx-nocls").toFile
    val lines = Seq(
      """{"node_id":300,"parent_node_id":1,"record_type":"message","message_class":"IPM.Note","record_key":"AA==","message_delivery_time":100,"subject":"a","body":"b"}""",
      """{"node_id":301,"parent_node_id":1,"record_type":"message","record_key":"AA==","message_delivery_time":200,"subject":"c","body":"d"}""")
    MailboxGen.writeFile(new File(dir, "m.mbx"), lines)
    val agg = Mailbox.messages(spark, s"$dir/m.mbx")
      .groupBy("message_class").agg(count(lit(1)).as("n"))
    assert(!groupPushed(agg),
      "sidecar conflates missing class with \"\" — must fall back")
    // the fallback is still correct: one named class + one NULL group
    val rows = agg.collect().map(r =>
      (Option(r.getString(0)), r.getLong(1))).toMap
    assert(rows(Some("IPM.Note")) == 1L && rows(None) == 1L, rows.toString)
  }

  test("GROUP BY pushdown count-only ignores inconclusive timestamp heads") {
    val dir = Files.createTempDirectory("mbx-grpforeign").toFile
    val pad = "x" * 400 // timestamp beyond HeadBytes: ts stats unknown
    val lines = (0 until 3).map { i =>
      s"""{"node_id":${400 + i},"parent_node_id":1,"record_type":"message","message_class":"IPM.Note","record_key":"AA==","subject":"$pad","message_delivery_time":${1000 + i},"body":"b"}"""
    }
    MailboxGen.writeFile(new File(dir, "g.mbx"), lines)
    val cnt = Mailbox.messages(spark, s"$dir/g.mbx")
      .groupBy("message_class").agg(count(lit(1)).as("n"))
    assert(groupPushed(cnt), "counts stay exact under unknown ts heads")
    assert(cnt.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("IPM.Note", 3L)))
    val mn = Mailbox.messages(spark, s"$dir/g.mbx")
      .groupBy("message_class")
      .agg(min(col("message_delivery_time")).as("mn"))
    assert(!groupPushed(mn), "min over unknown ts heads must fall back")
    assert(mn.collect()(0).getTimestamp(1).toInstant.getEpochSecond == 1000L)
  }

  private def hashAggregated(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("HashAggregate")

  /** message_class → row count, read through the plain projection path. */
  private def classCounts(path: String): Map[String, Long] =
    Mailbox.messages(spark, path).select(col("message_class")).collect()
      .groupBy(_.getString(0)).map { case (c, rows) => c -> rows.length.toLong }

  test("stats-answered aggregates push down completely: no re-aggregation") {
    val glob = s"$fixtures/*.mbx"
    val global = Mailbox.messages(spark, glob)
      .agg(min(col("message_delivery_time")).as("mn"), count(lit(1)).as("n"))
    val grouped = Mailbox.messages(spark, glob)
      .groupBy("message_class").agg(count(lit(1)).as("n"))
    val expected = classCounts(glob)
    val n = global.collect()(0).getLong(1)
    val got = grouped.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(statsPushed(global) && groupPushed(grouped))
    assert(!hashAggregated(global), global.queryExecution.executedPlan.toString)
    assert(!hashAggregated(grouped), grouped.queryExecution.executedPlan.toString)
    assert(n == expected.values.sum && got == expected, s"$n, $got vs $expected")
  }

  test("a glob with an unindexed member falls back to Spark's aggregation") {
    val dir = Files.createTempDirectory("mbx-mixed-idx").toFile
    MailboxGen.writeFile(new File(dir, "a.mbx"), MailboxGen.syntheticLines(2, 40, 1))
    MailboxGen.writeFile(new File(dir, "b.mbx"), MailboxGen.syntheticLines(2, 30, 2),
      writeIndex = false)
    val glob = s"$dir/*.mbx"
    val expected = classCounts(glob)
    val grouped = Mailbox.messages(spark, glob)
      .groupBy("message_class").agg(count(lit(1)).as("n"))
    assert(!groupPushed(grouped) && hashAggregated(grouped),
      grouped.queryExecution.executedPlan.toString)
    assert(grouped.collect().map(r => r.getString(0) -> r.getLong(1)).toMap == expected)
    // the lone count(*) stays a partial pushdown: one count per partition
    val cnt = Mailbox.messages(spark, glob).agg(count(lit(1)).as("n"))
    val plan = cnt.queryExecution.executedPlan.toString
    assert(plan.contains("countStarPushdown=true") && hashAggregated(cnt), plan)
    assert(cnt.collect()(0).getLong(0) == expected.values.sum)
  }

  test("deliveryOfPrefix: null, absent-in-full-line, and cut-mid-digits") {
    import MailboxIndex.deliveryOfPrefix
    assert(deliveryOfPrefix(
      """{"node_id":1,"message_delivery_time":null,"a":1}""",
      truncated = false) == Some(None))
    assert(deliveryOfPrefix(
      """{"node_id":1,"a":1}""", truncated = false) == Some(None))
    assert(deliveryOfPrefix(
      """{"node_id":1,"a":1}""", truncated = true).isEmpty)
    assert(deliveryOfPrefix(
      """{"node_id":1,"message_delivery_time":17666""",
      truncated = true).isEmpty)
    assert(deliveryOfPrefix(
      """{"node_id":1,"message_delivery_time":17666}""",
      truncated = false) == Some(Some(17666L)))
    assert(deliveryOfPrefix(
      """{"node_id":1,"message_delivery_time":-5,"a":1}""",
      truncated = true) == Some(Some(-5L)))
  }
}
