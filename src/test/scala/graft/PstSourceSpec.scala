package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Golden parity with the reference's own PST test corpus
  * (test/sql/read_unittest_pst.test, read_pst_folders.test,
  * table_function_parameters.test, query_optimizations.test), run
  * against the committed Unicode re-emission of the reference's
  * fixture (`fixtures/mailbox/unittest.pst`, FIXTURES.md §1) — real
  * MS-PST parsing, not the `.mbx` stand-in.
  */
class PstSourceSpec extends AnyFunSuite with SessionSuite {

  private val pstFile = "fixtures/mailbox/unittest.pst"

  private def read(mode: String, options: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format("mailbox").option("mode", mode)
    options.foreach { case (k, v) => r.option(k, v) }
    r.load(pstFile)
  }

  test("folders: the 16 golden rows (read_unittest_pst.test:19-37)") {
    val rows = read("folders")
      .select("pst_path", "pst_name", "node_id", "parent_node_id",
        "container_class", "display_name", "subfolder_count",
        "message_count", "unread_message_count")
      .orderBy("node_id")
      .collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getString(4), r.getString(5),
        r.getLong(6), r.getLong(7), r.getLong(8)))

    val golden = Seq(
      (290L, 290L, null, "", 3L, 0L, 0L),
      (32802L, 290L, null, "Top of Outlook data file", 13L, 0L, 0L),
      (32834L, 290L, null, "Search Root", 0L, 0L, 0L),
      (32866L, 32802L, null, "Deleted Items", 0L, 0L, 0L),
      (32898L, 32802L, null, "Inbox", 0L, 4L, 0L),
      (32930L, 32802L, null, "Outbox", 0L, 0L, 0L),
      (32962L, 32802L, null, "Sent Items", 0L, 0L, 0L),
      (32994L, 32802L, "IPF.Appointment", "Calendar", 0L, 1L, 0L),
      (33026L, 32802L, "IPF.Contact", "Contacts", 0L, 3L, 0L),
      (33058L, 32802L, "IPF.Journal", "Journal", 0L, 0L, 0L),
      (33090L, 32802L, "IPF.StickyNote", "Notes", 0L, 2L, 0L),
      (33122L, 32802L, "IPF.Task", "Tasks", 0L, 1L, 0L),
      (33154L, 32802L, "IPF.Note", "Drafts", 0L, 1L, 0L),
      (33186L, 32802L, "IPF.Note.OutlookHomepage", "RSS Feeds", 0L, 0L, 0L),
      (33218L, 32802L, "IPF.Configuration", "Conversation Action Settings", 0L, 0L, 0L),
      (33250L, 32802L, "IPF.Configuration", "Quick Step Settings", 0L, 0L, 0L))
    assert(rows.toSeq === golden)

    val meta = read("folders").select("pst_path", "pst_name", "record_key").distinct().collect()
    assert(meta.length === 1)
    assert(meta(0).getString(0) === pstFile)
    assert(meta(0).getString(1) === "Outlook Data File") // store display name
    val key = meta(0).getAs[Array[Byte]](2).map("%02X".format(_)).mkString
    assert(key === "D8D31B118C3A3B4A9D8816686207E762")
  }

  test("per-mode counts match the goldens") {
    assert(read("messages").count() === 12)
    assert(read("notes").count() === 5)
    assert(read("contacts").count() === 2)
    assert(read("appointments").count() === 1)
    assert(read("sticky_notes").count() === 2)
    assert(read("tasks").count() === 1)
    assert(read("distribution_lists").count() === 1)
  }

  test("distribution list details (read_unittest_pst.test:57-69)") {
    val r = read("distribution_lists")
      .select("node_id", "parent_node_id", "display_name", "member_node_ids")
      .collect()(0)
    assert(r.getLong(0) === 2097412L)
    assert(r.getLong(1) === 33026L)
    assert(r.getString(2) === "Cat Support Group")
    assert(r.getSeq[Long](3) === Seq(2097412L, 2097380L))

    val members = read("distribution_lists")
      .select(explode(col("one_off_members")).as("m"))
      .select("m.display_name", "m.address_type", "m.email_address")
      .orderBy("m.display_name")
      .collect()
      .map(r2 => (r2.getString(0), r2.getString(1), r2.getString(2)))
    assert(members.toSeq === Seq(
      ("Hopper Cat (hopper@intellekt.fyi)", "SMTP", "hopper@intellekt.fyi"),
      ("Linus Cat (linus@intellekt.fyi)", "SMTP", "linus@intellekt.fyi")))
  }

  test("sticky notes golden rows (read_unittest_pst.test:95-102)") {
    val rows = read("sticky_notes")
      .select("node_id", "parent_node_id", "message_class", "conversation_topic",
        "note_color", "note_width", "note_height", "note_x", "note_y")
      .orderBy("node_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        Option(r.get(3)).map(_.toString).orNull,
        r.getInt(4), r.getInt(5), r.getInt(6), r.getInt(7), r.getInt(8)))
    assert(rows.toSeq === Seq(
      (2097444L, 33090L, "IPM.StickyNote",
        "This UI hasn't changed since I used Outlook on Win9x. Awesome.",
        3, 2051, 1565, 80, 80),
      (2097476L, 33090L, "IPM.StickyNote", null, 0, 2051, 1565, 81, 81)))
  }

  test("task and appointment golden rows (read_unittest_pst.test:104-120)") {
    val t = read("tasks")
      .select("node_id", "parent_node_id", "message_class", "due_date")
      .collect()(0)
    assert(t.getLong(0) === 2097508L)
    assert(t.getLong(1) === 33122L)
    assert(t.getString(2) === "IPM.Task")
    assert(t.getTimestamp(3) === Timestamp.valueOf("2025-12-25 00:00:00"))

    val a = read("appointments")
      .select("node_id", "parent_node_id", "message_class", "start_time",
        "end_time", "duration", "all_day_event")
      .collect()(0)
    assert(a.getLong(0) === 2097316L)
    assert(a.getLong(1) === 32994L)
    assert(a.getString(2) === "IPM.Appointment")
    assert(a.getTimestamp(3) === Timestamp.valueOf("2025-12-25 05:00:00"))
    assert(a.getTimestamp(4) === Timestamp.valueOf("2025-12-26 05:00:00"))
    assert(a.getInt(5) === 1440)
    assert(a.getBoolean(6) === true)
  }

  test("read_limit=2 on messages (table_function_parameters.test:13-17)") {
    assert(read("messages", Map("read_limit" -> "2")).count() === 2)
  }

  test("body truncation budget (table_function_parameters.test:19-28)") {
    val rows = read("messages", Map("read_body_size_bytes" -> "100"))
      .where(col("body_html").isNotNull)
      .select(col("node_id"), length(col("body_html")).as("len"))
      .orderBy("node_id")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(rows.toSeq === Seq(
      (2097188L, 50), (2097220L, 50), (2097252L, 50),
      (2097284L, 50), (2097316L, 50), (2097540L, 50)))
  }

  test("attachment bytes gated by read_attachment_body (table_function_parameters.test:30-41)") {
    def firstAttach(opts: Map[String, String]) = read("messages", opts)
      .select(explode(col("attachments")).as("a"))
      .where(col("a.filename") === "MEDIUM~2.JPG")
      .select("a.bytes")
      .collect()
    val off = firstAttach(Map.empty)
    assert(off.nonEmpty && off.forall(_.isNullAt(0)), "bytes must be NULL by default")
    val on = firstAttach(Map("read_attachment_body" -> "true"))
    assert(on.nonEmpty && on.forall(!_.isNullAt(0)), "bytes must be read when enabled")
  }

  test("count(*) answered from planning stats; exact row stats (query_optimizations.test)") {
    val df = read("messages").groupBy().count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("mailbox"), plan)
    // exact cardinality + pushed count: scan description advertises both
    val scanDesc = read("messages").queryExecution.optimizedPlan.toString
    assert(read("messages").count() === 12)
    val desc = spark.read.format("mailbox").option("mode", "messages")
      .load(pstFile).queryExecution.executedPlan.toString
    assert(desc.contains("rows=12"), desc)
  }

  test("late materialization row-ids work over PST (__partition/__node_id)") {
    val withVirtual = spark.read.format("mailbox")
      .option("mode", "messages").option("virtual_columns", "true")
      .load(pstFile)
    val ids = withVirtual.select("__node_id", "node_id").collect()
    assert(ids.length === 12)
    ids.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("mixed glob routes PST and JSONL files by magic bytes") {
    val dir = java.nio.file.Files.createTempDirectory("mixed_corpus")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(pstFile), dir.resolve("a.pst"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("fixtures/mailbox/unittest.mbx"),
      dir.resolve("b.mbx"))
    def count(path: String) = spark.read.format("mailbox")
      .option("mode", "messages").load(path).count()
    val both = count(s"$dir/*")
    assert(both === count(s"$dir/a.pst") + count(s"$dir/b.mbx"))
    assert(both === 12 + count("fixtures/mailbox/unittest.mbx"))
  }

  test("micro-batch streaming ingests newly arriving PST binaries") {
    val dir = java.nio.file.Files.createTempDirectory("pst_stream")
    val stream = spark.readStream
      .format("mailbox")
      .option("mode", "messages")
      .load(s"$dir/*.pst")
      .groupBy("message_class")
      .count()
    val q = stream.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("pst_stream")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("pst_stream").count() === 0)
      // a real PST archive drops in → next micro-batch parses it
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(pstFile), dir.resolve("drop.pst"))
      q.processAllAvailable()
      val counts = spark.table("pst_stream").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts === Map(
        "IPM.Note" -> 5L, "IPM.Contact" -> 2L, "IPM.DistList" -> 1L,
        "IPM.Appointment" -> 1L, "IPM.StickyNote" -> 2L, "IPM.Task" -> 1L))
    } finally q.stop()
  }

  test("corrupt PST in a glob is skipped, valid files still scan (A20)") {
    val dir = java.nio.file.Files.createTempDirectory("pst_corrupt")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(pstFile), dir.resolve("good.pst"))
    // right magic, garbage body — header parse must fail cleanly
    java.nio.file.Files.write(dir.resolve("bad.pst"),
      ("!BDN" + "x" * 1000).getBytes("UTF-8"))
    val df = spark.read.format("mailbox").option("mode", "messages")
      .load(s"$dir/*.pst")
    assert(df.count() === 12)
  }

  test("message subjects strip the PidTagSubject prefix convention") {
    val subjects = read("notes").select("subject").collect().map(_.getString(0)).sorted
    assert(subjects === Array(
      "Test email", "Test email 1", "Test email 2", "Test email 3", "Test email 4"))
  }
}
