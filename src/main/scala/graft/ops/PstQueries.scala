package graft.ops

import graft.Q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Real-PST-binary queries wired into the driver contract: the mailbox
  * DSv2 source reading `fixtures/mailbox/unittest.pst`, the committed
  * Unicode re-emission of the reference's `test/unittest.pst` (same
  * logical NDB content; FIXTURES.md §1), through the full MS-PST parse
  * (NDB b-trees → heap-on-node → property contexts;
  * graft.source.pst). Paths are relative to the repository root, the
  * working directory of `graft.Verify` and the tests. DuckDB cannot
  * read PST, so the oracles are the reference's own golden outputs
  * (test/sql/read_unittest_pst.test, table_function_parameters.test) as
  * typed VALUES relations — Spark must reproduce them bit-exactly.
  */
object PstQueries {

  private val pstFile = "fixtures/mailbox/unittest.pst"

  private def read(s: SparkSession, mode: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val r = s.read.format("mailbox").option("mode", mode)
    options.foreach { case (k, v) => r.option(k, v) }
    r.load(pstFile)
  }

  /** Golden folder table (read_unittest_pst.test:19-37). */
  val qPstFolders = Q(
    "q_pst_folders",
    (s, _) =>
      read(s, "folders")
        .select(col("node_id"), col("parent_node_id"), col("container_class"),
          col("display_name"), col("subfolder_count"), col("message_count"),
          col("unread_message_count"))
        .orderBy("node_id"),
    Some(
      """SELECT * FROM (VALUES
        |  (CAST(290 AS BIGINT), CAST(290 AS BIGINT), CAST(NULL AS VARCHAR), '', CAST(3 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        |  (32802, 290, NULL, 'Top of Outlook data file', 13, 0, 0),
        |  (32834, 290, NULL, 'Search Root', 0, 0, 0),
        |  (32866, 32802, NULL, 'Deleted Items', 0, 0, 0),
        |  (32898, 32802, NULL, 'Inbox', 0, 4, 0),
        |  (32930, 32802, NULL, 'Outbox', 0, 0, 0),
        |  (32962, 32802, NULL, 'Sent Items', 0, 0, 0),
        |  (32994, 32802, 'IPF.Appointment', 'Calendar', 0, 1, 0),
        |  (33026, 32802, 'IPF.Contact', 'Contacts', 0, 3, 0),
        |  (33058, 32802, 'IPF.Journal', 'Journal', 0, 0, 0),
        |  (33090, 32802, 'IPF.StickyNote', 'Notes', 0, 2, 0),
        |  (33122, 32802, 'IPF.Task', 'Tasks', 0, 1, 0),
        |  (33154, 32802, 'IPF.Note', 'Drafts', 0, 1, 0),
        |  (33186, 32802, 'IPF.Note.OutlookHomepage', 'RSS Feeds', 0, 0, 0),
        |  (33218, 32802, 'IPF.Configuration', 'Conversation Action Settings', 0, 0, 0),
        |  (33250, 32802, 'IPF.Configuration', 'Quick Step Settings', 0, 0, 0)
        |) AS t(node_id, parent_node_id, container_class, display_name,
        |       subfolder_count, message_count, unread_message_count)
        |ORDER BY node_id""".stripMargin
    )
  )

  /** Eight-mode row counts (read_unittest_pst.test count checks) — one
    * scan per table function, the typed modes exercising the
    * executor-side message-class filter over the property contexts.
    */
  val qPstModeCounts = Q(
    "q_pst_mode_counts",
    (s, _) => {
      val modes = Seq("folders", "messages", "notes", "contacts",
        "appointments", "sticky_notes", "tasks", "distribution_lists")
      modes.map { m =>
        read(s, m).agg(count(lit(1)).as("n")).select(lit(m).as("mode"), col("n"))
      }.reduce(_.unionAll(_)).orderBy("mode")
    },
    Some(
      """SELECT * FROM (VALUES
        |  ('folders', CAST(16 AS BIGINT)), ('messages', 12), ('notes', 5),
        |  ('contacts', 2), ('appointments', 1), ('sticky_notes', 2),
        |  ('tasks', 1), ('distribution_lists', 1)
        |) AS t(mode, n) ORDER BY mode""".stripMargin
    )
  )

  /** Sticky-note golden rows incl. the named-property note geometry
    * (read_unittest_pst.test:95-102).
    */
  val qPstStickyNotes = Q(
    "q_pst_sticky_notes",
    (s, _) =>
      read(s, "sticky_notes")
        .select(col("node_id"), col("parent_node_id"), col("message_class"),
          col("conversation_topic"), col("note_color"), col("note_width"),
          col("note_height"), col("note_x"), col("note_y"))
        .orderBy("node_id"),
    Some(
      """SELECT * FROM (VALUES
        |  (CAST(2097444 AS BIGINT), CAST(33090 AS BIGINT), 'IPM.StickyNote',
        |   'This UI hasn''t changed since I used Outlook on Win9x. Awesome.',
        |   CAST(3 AS INT), CAST(2051 AS INT), CAST(1565 AS INT), CAST(80 AS INT), CAST(80 AS INT)),
        |  (2097476, 33090, 'IPM.StickyNote', NULL, 0, 2051, 1565, 81, 81)
        |) AS t(node_id, parent_node_id, message_class, conversation_topic,
        |       note_color, note_width, note_height, note_x, note_y)
        |ORDER BY node_id""".stripMargin
    )
  )

  /** Task + appointment golden scalars incl. named-property FILETIMEs
    * (read_unittest_pst.test:104-120).
    */
  val qPstTaskAppointment = Q(
    "q_pst_task_appointment",
    (s, _) => {
      val t = read(s, "tasks").select(
        col("node_id"), col("message_class"),
        col("due_date").as("t0"),
        lit(null).cast("timestamp").as("t1"),
        lit(null).cast("int").as("duration"),
        lit(null).cast("boolean").as("all_day_event"))
      val a = read(s, "appointments").select(
        col("node_id"), col("message_class"),
        col("start_time").as("t0"),
        col("end_time").as("t1"),
        col("duration"), col("all_day_event"))
      t.unionAll(a).orderBy("node_id")
    },
    Some(
      """SELECT * FROM (VALUES
        |  (CAST(2097316 AS BIGINT), 'IPM.Appointment', TIMESTAMP '2025-12-25 05:00:00',
        |   TIMESTAMP '2025-12-26 05:00:00', CAST(1440 AS INT), true),
        |  (2097508, 'IPM.Task', TIMESTAMP '2025-12-25 00:00:00',
        |   CAST(NULL AS TIMESTAMP), CAST(NULL AS INT), CAST(NULL AS BOOLEAN))
        |) AS t(node_id, message_class, t0, t1, duration, all_day_event)
        |ORDER BY node_id""".stripMargin
    )
  )

  /** Distribution-list membership: store-internal EntryID members plus
    * parsed one-off EntryID blobs (read_unittest_pst.test:57-69).
    */
  val qPstDlist = Q(
    "q_pst_dlist",
    (s, _) =>
      read(s, "distribution_lists")
        .select(col("node_id"), col("display_name"),
          posexplode(col("one_off_members")).as(Seq("pos", "m")))
        .select(col("node_id"), col("display_name"),
          col("m.display_name").as("member_name"),
          col("m.address_type").as("address_type"),
          col("m.email_address").as("email"))
        .orderBy("member_name"),
    Some(
      """SELECT * FROM (VALUES
        |  (CAST(2097412 AS BIGINT), 'Cat Support Group',
        |   'Hopper Cat (hopper@intellekt.fyi)', 'SMTP', 'hopper@intellekt.fyi'),
        |  (2097412, 'Cat Support Group',
        |   'Linus Cat (linus@intellekt.fyi)', 'SMTP', 'linus@intellekt.fyi')
        |) AS t(node_id, display_name, member_name, address_type, email)
        |ORDER BY member_name""".stripMargin
    )
  )

  /** UTF-16 body budget over the real PST body_html streams
    * (table_function_parameters.test:19-28: 100 bytes → 50 chars).
    */
  val qPstBodyBudget = Q(
    "q_pst_body_budget",
    (s, _) =>
      read(s, "messages", Map("read_body_size_bytes" -> "100"))
        .where(col("body_html").isNotNull)
        .select(col("node_id"), length(col("body_html")).as("len"))
        .orderBy("node_id"),
    Some(
      """SELECT * FROM (VALUES
        |  (CAST(2097188 AS BIGINT), CAST(50 AS INT)), (2097220, 50), (2097252, 50),
        |  (2097284, 50), (2097316, 50), (2097540, 50)
        |) AS t(node_id, len) ORDER BY node_id""".stripMargin
    )
  )

  /** Message subjects through the cipher + PidTagSubject prefix strip —
    * the text-fidelity check.
    */
  val qPstSubjects = Q(
    "q_pst_subjects",
    (s, _) =>
      read(s, "notes")
        .select(col("node_id"), col("subject"), col("conversation_topic"))
        .orderBy("node_id"),
    Some(
      """SELECT * FROM (VALUES
        |  (CAST(2097188 AS BIGINT), 'Test email 1', 'Test email 1'),
        |  (2097220, 'Test email 2', 'Test email 2'),
        |  (2097252, 'Test email 3', 'Test email 3'),
        |  (2097284, 'Test email 4', 'Test email 4'),
        |  (2097540, 'Test email', 'Test email')
        |) AS t(node_id, subject, conversation_topic) ORDER BY node_id""".stripMargin
    )
  )

  /** Contact typed-extension columns through the named-property map
    * (PR_GIVEN_NAME/PR_SURNAME/PR_COMPANY_NAME/PR_TITLE + PR_DISPLAY_NAME).
    */
  val qPstContacts = Q(
    "q_pst_contacts",
    (s, _) =>
      read(s, "contacts")
        .select(col("node_id"), col("given_name"), col("surname"),
          col("display_name"), col("company_name"), col("title"))
        .orderBy("node_id"),
    Some(
      """SELECT * FROM (VALUES
        |  (CAST(2097348 AS BIGINT), 'Linus', 'Cat', 'Linus Cat', 'Intellekt',
        |   'Director of Leisure'),
        |  (2097380, 'Hopper', 'Cat', 'Hopper Cat', 'Intellekt',
        |   'Director of Environmental Protection')
        |) AS t(node_id, given_name, surname, display_name, company_name, title)
        |ORDER BY node_id""".stripMargin
    )
  )

  // ── ANSI (pre-Outlook-2003) format ────────────────────────────────
  // The committed fixture is the ANSI twin of the same unittest mailbox
  // (fixtures/mailbox/unittest_ansi.pst; the test-side PstWriter
  // converts it to and from the Unicode file bit-for-bit), so the
  // reference's golden outputs apply unchanged: the 32-bit NDB parse
  // must reproduce them bit-exactly, same as the Unicode branch.

  private val ansiFile = "fixtures/mailbox/unittest_ansi.pst"

  private def readAnsi(s: SparkSession, mode: String): DataFrame =
    s.read.format("mailbox").option("mode", mode).load(ansiFile)

  /** Eight-mode counts over the ANSI fixture (same goldens as
    * q_pst_mode_counts — the logical mailbox is identical).
    */
  val qPstAnsiModeCounts = Q(
    "q_pst_ansi_mode_counts",
    (s, _) => {
      val modes = Seq("folders", "messages", "notes", "contacts",
        "appointments", "sticky_notes", "tasks", "distribution_lists")
      modes.map { m =>
        readAnsi(s, m).agg(count(lit(1)).as("n")).select(lit(m).as("mode"), col("n"))
      }.reduce(_.unionAll(_)).orderBy("mode")
    },
    qPstModeCounts.oracle
  )

  /** Golden folder table read through the ANSI branch. */
  val qPstAnsiFolders = Q(
    "q_pst_ansi_folders",
    (s, _) =>
      readAnsi(s, "folders")
        .select(col("node_id"), col("parent_node_id"), col("container_class"),
          col("display_name"), col("subfolder_count"), col("message_count"),
          col("unread_message_count"))
        .orderBy("node_id"),
    qPstFolders.oracle
  )

  /** Cross-format consistency: the Unicode original and its ANSI twin
    * joined per message node — every subject/body pair must agree, so
    * the join is exactly the 12 messages.
    */
  val qPstAnsiUnicodeJoin = Q(
    "q_pst_ansi_unicode_join",
    (s, _) => {
      val u = read(s, "messages").select(col("node_id"),
        col("subject").as("u_subject"), col("body").as("u_body"))
      val a = readAnsi(s, "messages").select(col("node_id"),
        col("subject").as("a_subject"), col("body").as("a_body"))
      u.join(a, "node_id")
        .agg(
          count(lit(1)).as("n_joined"),
          sum(when(col("u_subject") <=> col("a_subject") &&
                   col("u_body") <=> col("a_body"), 1L).otherwise(0L))
            .as("n_identical"))
    },
    Some("SELECT CAST(12 AS BIGINT) AS n_joined, CAST(12 AS BIGINT) AS n_identical")
  )

  val all: Seq[Q] = Seq(
    qPstFolders, qPstModeCounts, qPstStickyNotes, qPstTaskAppointment,
    qPstDlist, qPstBodyBudget, qPstSubjects, qPstContacts,
    qPstAnsiModeCounts, qPstAnsiFolders, qPstAnsiUnicodeJoin)
}
