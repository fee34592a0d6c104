package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.LateMaterialization
import graft.source.{Mailbox, MailboxGen}

/** A10, automatic form — the reference's host engine rewrites a plain
  * filter/order/limit over a wide scan into the narrow-scan → row-id
  * rejoin shape without the user asking (pst_extension.cpp:26-34;
  * HASH_JOIN asserted by test/sql/query_optimizations.test:49-53).
  * These tests assert the [[graft.plans.AutoLateMaterialization]]
  * optimizer rule reproduces that: the PLAIN DataFrame query shows the
  * broadcast rejoin on (__partition, __node_id) in its executed plan,
  * produces the same values as the un-rewritten semantics, declines
  * when the rewrite would not pay, and never re-fires on its own
  * output or on the manual helper's explicit two-phase plan.
  */
class AutoLateMatSpec extends AnyFunSuite with SessionSuite {

  private var dir: File = _
  private def box: String = new File(dir, "unittest.mbx").getPath

  override def beforeAll(): Unit = {
    dir = Files.createTempDirectory("auto_latemat_fixtures").toFile
    MailboxGen.writeFixtures(dir)
  }

  private def scans(plan: String): Int =
    "BatchScan".r.findAllIn(plan).length

  test("plain wide filter+sort+limit rewrites to the row-id rejoin") {
    val df = Mailbox
      .messages(spark, box)
      .filter(col("subject").like("Test mail%"))
      .orderBy("subject")
      .limit(2)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("__node_id") && p.contains("__partition"), p)
    assert(scans(p) === 2, s"expected narrow + wide scans:\n$p")
    // values identical to the un-rewritten semantics (sort key unique)
    val got = df.select("node_id", "subject").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._2)
    val want = Mailbox
      .messages(spark, box)
      .filter(col("subject").like("Test mail%"))
      .select("node_id", "subject")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._2)
      .take(2)
    assert(got.toSeq === want.toSeq)
  }

  test("wide output columns survive the rejoin with correct values") {
    val row = Mailbox
      .messages(spark, box)
      .filter(col("subject").like("Test mail%"))
      .orderBy("subject")
      .limit(1)
      .select("subject", "sender_name", "message_class")
      .collect()
    assert(row.length === 1)
    assert(row(0).getString(2) === "IPM.Note")
  }

  test("a narrow projection declines the rewrite (rejoin would not pay)") {
    val df = Mailbox
      .messages(spark, box)
      .select("node_id", "subject")
      .filter(col("subject").like("Test mail%"))
      .orderBy("subject")
      .limit(2)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastHashJoin"), p)
    assert(scans(p) === 1, p)
  }

  test("a huge limit declines the rewrite") {
    val df = Mailbox
      .messages(spark, box)
      .filter(col("subject").like("Test mail%"))
      .orderBy("subject")
      .limit(1000000)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("the manual helper's plan is not re-rewritten (one rejoin, two scans)") {
    val df = LateMaterialization.filterSortLimit(
      spark, box, "messages", "subject", _.like("Test mail%"), 2)
    val p = df.queryExecution.executedPlan.toString
    assert(scans(p) === 2, s"rule must not add a third scan:\n$p")
    assert(df.count() === 2L)
  }

  test("filter-less sort+limit over the wide scan rewrites too") {
    val df = Mailbox
      .messages(spark, box)
      .orderBy("subject")
      .limit(2)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("__node_id") && p.contains("__partition"), p)
    assert(scans(p) === 2, s"expected narrow + wide scans:\n$p")
    // the 2 smallest subjects, with or without the rewrite (nulls
    // sort first on ASC — map to "" for the driver-side comparison)
    val got = df.select("subject").collect()
      .map(r => Option(r.getString(0)).getOrElse("")).sorted
    val want = Mailbox.messages(spark, box)
      .select("subject").collect()
      .map(r => Option(r.getString(0)).getOrElse("")).sorted.take(2)
    assert(got.toSeq === want.toSeq)
  }

  test("filter-less sort+limit with a pruning projection rewrites (Project form)") {
    val df = Mailbox
      .messages(spark, box)
      .orderBy("subject", "node_id")
      .limit(2)
      .select("node_id", "subject", "sender_name", "message_class",
        "message_size", "conversation_topic", "sender_email_address",
        "internet_message_id")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(scans(p) === 2, s"expected narrow + wide scans:\n$p")
  }

  test("filter-less narrow projection still declines (rejoin would not pay)") {
    val df = Mailbox
      .messages(spark, box)
      .select("node_id", "subject")
      .orderBy("subject")
      .limit(2)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastHashJoin"), p)
    assert(scans(p) === 1, p)
  }

  test("q_latemat_auto_nofilter registry query: rejoin in plan, 4 rows out") {
    val df = SparkEntry.queries("q_latemat_auto_nofilter")(
      spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("__node_id"), p)
    assert(scans(p) === 2, p)
    assert(df.count() === 4L)
  }

  test("q_latemat_auto registry query: rejoin in plan, 3 rows out") {
    val df = SparkEntry.queries("q_latemat_auto")(spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("__node_id"), p)
    assert(scans(p) === 2, p)
    assert(df.count() === 3L)
  }
}
