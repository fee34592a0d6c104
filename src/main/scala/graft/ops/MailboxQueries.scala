package graft.ops

import graft.Q
import graft.source.{Mailbox, MailboxGen}
import org.apache.spark.sql.functions._

/** Connector-backed queries wired into the driver contract: the
  * reference's own README/test queries (SURVEY.md §2 Tier B on mailbox
  * data) running through the mailbox DSv2 source, with DuckDB oracles
  * reading the same committed JSONL fixtures via read_json_auto.
  *
  * The fixtures live in-repo (fixtures/mailbox/, regenerable with
  * `runMain graft.source.MailboxGen`), so these queries are independent
  * of the sfDir parameter — the mailbox is the dataset under test.
  * Paths are relative to the repository root, the working directory of
  * `graft.Verify`, the tests and `tools/check.py`'s DuckDB.
  */
object MailboxQueries {

  private val fixtureDir = "fixtures/mailbox"
  private val unittest   = s"$fixtureDir/unittest.mbx"
  private val glob       = s"$fixtureDir/*.mbx"

  private def jsonSrc(path: String): String =
    s"read_json_auto('$path', format='newline_delimited')"

  private val taxonomyBox = s"$fixtureDir/taxonomy/mixed.mbx"

  /** The generated large-archive corpus (not committed). */
  private val benchBoxDir = "target/bench_mailbox"

  /** Regenerate fixtures if missing (first run on a fresh checkout). */
  private def ensureFixtures(): Unit = {
    val dir = new java.io.File(fixtureDir)
    if (!new java.io.File(dir, "unittest.mbx.idx").exists() ||
        !new java.io.File(dir, "taxonomy/mixed.mbx.idx").exists())
      MailboxGen.writeFixtures(dir)
  }

  /** The five non-note exact classes — everything else (subclasses,
    * unknown strings, missing) is a note under the reference taxonomy
    * (typed_bag.hpp:32-37: exact MESSAGE_CLASS_MAP lookup, fallback
    * BASE_CLASS = Note).
    */
  private val nonNoteClasses =
    "'IPM.Contact','IPM.Appointment','IPM.DistList','IPM.StickyNote','IPM.Task'"

  /** Folder count via the stats-backed count path (README.md:11-19). */
  val qMailboxCount = Q(
    "q_mailbox_count",
    (s, _) => {
      ensureFixtures()
      Mailbox.folders(s, unittest).agg(count(lit(1)).as("cnt"))
    },
    Some(s"SELECT count(*) AS cnt FROM ${jsonSrc(unittest)} WHERE record_type = 'folder'")
  )

  /** The reference README flagship: message-class histogram over a
    * multi-file glob (README.md:25-37).
    */
  val qMailboxClassHistogram = Q(
    "q_mailbox_class_histogram",
    (s, _) => {
      ensureFixtures()
      Mailbox
        .messages(s, glob)
        .groupBy("message_class")
        .agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("message_class").asc)
    },
    Some(
      s"""SELECT message_class, count(*) AS c FROM ${jsonSrc(glob)}
         |WHERE record_type = 'message'
         |GROUP BY message_class ORDER BY c DESC, message_class ASC""".stripMargin
    )
  )

  /** Folder-tree descendants walk (README.md:402-440): the recursive CTE
    * as an iterative frontier loop, guarded against the root self-loop
    * 290→290.
    */
  val qMailboxFolderTree = Q(
    "q_mailbox_folder_tree",
    (s, _) => {
      ensureFixtures()
      val tree = Mailbox
        .folders(s, unittest)
        .select(col("node_id"), col("parent_node_id"))
        .localCheckpoint()
      var result   = tree.filter(col("node_id") === 290L)
        .select(col("node_id"), lit(0).as("depth"))
      var frontier = result
      var done     = false
      while (!done) {
        val next = tree
          .as("t")
          .join(
            broadcast(frontier.select(col("node_id").as("fnode"), col("depth"))),
            col("t.parent_node_id") === col("fnode")
          )
          .filter(col("t.node_id") =!= col("t.parent_node_id"))
          .select(col("t.node_id").as("node_id"), (col("depth") + 1).as("depth"))
          .localCheckpoint()
        if (next.isEmpty) done = true
        else { result = result.union(next); frontier = next }
      }
      result.orderBy("node_id")
    },
    Some(
      s"""WITH RECURSIVE f AS (
         |  SELECT node_id, parent_node_id FROM ${jsonSrc(unittest)}
         |  WHERE record_type = 'folder'
         |), walk AS (
         |  SELECT node_id, 0 AS depth FROM f WHERE node_id = 290
         |  UNION ALL
         |  SELECT f.node_id, w.depth + 1 FROM f
         |  JOIN walk w ON f.parent_node_id = w.node_id
         |  WHERE f.node_id <> f.parent_node_id
         |)
         |SELECT node_id, depth FROM walk ORDER BY node_id""".stripMargin
    )
  )

  /** Late materialization (A10): filter+sort+limit over one narrow
    * column, then row-id re-join — surfaced as the narrow result
    * (query_optimizations.test:49-53).
    */
  val qMailboxLateMat = Q(
    "q_mailbox_latemat",
    (s, _) => {
      ensureFixtures()
      LateMaterialization
        .filterSortLimit(s, unittest, "messages", "subject",
          c => c.like("Test mail%"), 2)
        .select(col("node_id"), col("subject"))
    },
    Some(
      s"""SELECT node_id, subject FROM ${jsonSrc(unittest)}
         |WHERE record_type = 'message' AND subject LIKE 'Test mail%'
         |ORDER BY subject LIMIT 2""".stripMargin
    )
  )

  /** Late materialization, AUTOMATIC (A10): the same filter/sort/limit
    * semantics as q_mailbox_latemat but written as the PLAIN wide-scan
    * query — no helper, no virtual columns in user code. The
    * [[graft.plans.AutoLateMaterialization]] optimizer rule (installed
    * via GraftExtensions, the path the driver's Verify session uses)
    * rewrites it into the narrow-scan → row-id broadcast-rejoin shape
    * the reference's host applies automatically (pst_extension.cpp:
    * 26-34, query_optimizations.test:49-53); AutoLateMatSpec asserts
    * the rejoin appears in this exact query's executed plan. The sort
    * key (subject) is unique among the matching rows, so the result is
    * identical with or without the rewrite — correctness never depends
    * on the optimization firing.
    */
  val qLateMatAuto = Q(
    "q_latemat_auto",
    (s, _) => {
      ensureFixtures()
      Mailbox
        .messages(s, unittest)
        .filter(col("subject").like("Test mail%"))
        .orderBy("subject")
        .limit(3)
        .select(col("node_id"), col("subject"), col("sender_name"),
          col("sender_email_address"), col("message_class"),
          col("message_size"), col("conversation_topic"),
          col("internet_message_id"))
    },
    Some(
      s"""SELECT node_id, subject, sender_name, sender_email_address,
         |  message_class, message_size, conversation_topic,
         |  internet_message_id
         |FROM ${jsonSrc(unittest)}
         |WHERE record_type = 'message' AND subject LIKE 'Test mail%'
         |ORDER BY subject LIMIT 3""".stripMargin
    )
  )

  /** Late materialization, AUTOMATIC, Filter-less form (A10): plain
    * `ORDER BY … LIMIT k` over the wide scan — no filter at all. The
    * reference's host rewrite pays here identically (the narrow sort
    * + O(k) wide fetch is the benefit; the filter in
    * query_optimizations.test:49-53 is incidental), so
    * [[graft.plans.AutoLateMaterialization]] fires on the
    * `Limit(Sort(Project(scan)))` pattern too. node_id is appended to
    * the sort key so ties on subject cannot make the limit
    * nondeterministic across engines (Spark sorts NULLs first on ASC,
    * DuckDB last — mirrored by NULLS FIRST in the oracle).
    */
  val qLateMatAutoNoFilter = Q(
    "q_latemat_auto_nofilter",
    (s, _) => {
      ensureFixtures()
      Mailbox
        .messages(s, unittest)
        .orderBy("subject", "node_id")
        .limit(4)
        .select(col("node_id"), col("subject"), col("sender_name"),
          col("sender_email_address"), col("message_class"),
          col("message_size"), col("conversation_topic"),
          col("internet_message_id"))
    },
    Some(
      s"""SELECT node_id, subject, sender_name, sender_email_address,
         |  message_class, message_size, conversation_topic,
         |  internet_message_id
         |FROM ${jsonSrc(unittest)}
         |WHERE record_type = 'message'
         |ORDER BY subject NULLS FIRST, node_id LIMIT 4""".stripMargin
    )
  )

  /** Nested navigation on connector data: unnest the distribution list's
    * one-off members (read_unittest_pst.test:65-69).
    */
  val qMailboxDlistMembers = Q(
    "q_mailbox_dlist_members",
    (s, _) => {
      ensureFixtures()
      Mailbox
        .distributionLists(s, unittest)
        .select(col("node_id"), explode(col("one_off_members")).as("m"))
        .select(
          col("node_id"),
          col("m.display_name").as("member_name"),
          col("m.email_address").as("member_email")
        )
        .orderBy("member_name")
    },
    Some(
      s"""SELECT node_id, m.display_name AS member_name,
         |  m.email_address AS member_email
         |FROM (
         |  SELECT node_id, unnest(one_off_members) AS m
         |  FROM ${jsonSrc(unittest)}
         |  WHERE record_type = 'message' AND message_class = 'IPM.DistList') t
         |ORDER BY member_name""".stripMargin
    )
  )

  /** Ancestors walk (README.md:444-469): traverse UP from folder 33058
    * to the root. The reference's recursive CTE terminates only because
    * UNION dedups the root's self-loop row — the iterative mirror uses
    * an anti-join against the accumulated result for the same effect.
    */
  val qMailboxFolderAncestors = Q(
    "q_mailbox_folder_ancestors",
    (s, _) => {
      ensureFixtures()
      val folders = Mailbox
        .folders(s, unittest)
        .select(col("display_name"), col("node_id"), col("parent_node_id"))
        .localCheckpoint()
      var result = folders.filter(col("node_id") === 33058L)
      var frontier = result
      var done = false
      while (!done) {
        val next = folders
          .join(
            broadcast(frontier.select(col("parent_node_id").as("target"))),
            col("node_id") === col("target"))
          .select(col("display_name"), col("node_id"), col("parent_node_id"))
          .join(result.select(col("node_id").as("seen")),
            col("node_id") === col("seen"), "left_anti")
          .localCheckpoint()
        if (next.isEmpty) done = true
        else { result = result.union(next); frontier = next }
      }
      result.orderBy("node_id")
    },
    Some(
      s"""WITH RECURSIVE f AS (
         |  SELECT display_name, node_id, parent_node_id
         |  FROM ${jsonSrc(unittest)} WHERE record_type = 'folder'),
         |parent_tree AS (
         |  SELECT display_name, node_id, parent_node_id FROM f
         |  WHERE node_id = 33058
         |  UNION
         |  SELECT f.display_name, f.node_id, f.parent_node_id
         |  FROM f INNER JOIN parent_tree d ON d.parent_node_id = f.node_id
         |)
         |SELECT display_name, node_id, parent_node_id
         |FROM parent_tree ORDER BY node_id""".stripMargin
    )
  )

  /** Contact-mode scan: the typed extension columns (given_name etc.)
    * with the plan-time IPM.Contact class filter (README.md:61-69).
    */
  val qMailboxContacts = Q(
    "q_mailbox_contacts",
    (s, _) => {
      ensureFixtures()
      Mailbox
        .contacts(s, glob)
        .select(
          col("node_id"),
          col("given_name"),
          col("surname"),
          col("company_name"),
          col("gender").cast("int").as("gender_i")
        )
        .orderBy("node_id")
    },
    Some(
      s"""SELECT node_id, given_name, surname, company_name,
         |  CAST(gender AS INT) AS gender_i
         |FROM ${jsonSrc(glob)}
         |WHERE record_type = 'message' AND message_class = 'IPM.Contact'
         |ORDER BY node_id""".stripMargin
    )
  )

  /** Appointment-mode scan with TIMESTAMP_S columns (the fixture's
    * golden appointment values, read_unittest_pst.test:113-120).
    */
  val qMailboxAppointments = Q(
    "q_mailbox_appointments",
    (s, _) => {
      ensureFixtures()
      Mailbox
        .appointments(s, unittest)
        .select(
          col("node_id"),
          col("subject"),
          // timestamp_ntz matches the oracle's naive TIMESTAMP dtype
          col("start_time").cast("timestamp_ntz").as("start_time"),
          col("end_time").cast("timestamp_ntz").as("end_time"),
          col("duration"),
          col("all_day_event")
        )
        .orderBy("node_id")
    },
    Some(
      s"""SELECT node_id, subject,
         |  CAST(to_timestamp(start_time) AS TIMESTAMP) AS start_time,
         |  CAST(to_timestamp(end_time) AS TIMESTAMP) AS end_time,
         |  CAST(duration AS INT) AS duration, all_day_event
         |FROM ${jsonSrc(unittest)}
         |WHERE record_type = 'message' AND message_class = 'IPM.Appointment'
         |ORDER BY node_id""".stripMargin
    )
  )

  /** read_limit + aggregation over the limited scan
    * (table_function_parameters.test:14-16).
    */
  val qMailboxReadLimit = Q(
    "q_mailbox_read_limit",
    (s, _) => {
      ensureFixtures()
      Mailbox
        .messages(s, glob, Map("read_limit" -> "25"))
        .agg(count(lit(1)).as("cnt"))
    },
    Some(
      s"""SELECT count(*) AS cnt FROM (
         |  SELECT 1 FROM ${jsonSrc(glob)}
         |  WHERE record_type = 'message' LIMIT 25) t""".stripMargin
    )
  )

  /** Body truncation semantics: a 100-byte budget yields 50 chars
    * (UTF-16 byte budget; table_function_parameters.test:19-28).
    */
  val qMailboxBodyTruncation = Q(
    "q_mailbox_body_truncation",
    (s, _) => {
      ensureFixtures()
      Mailbox
        .messages(s, unittest, Map("read_body_size_bytes" -> "100"))
        .select(
          col("node_id"),
          length(col("body_html")).as("html_len")
        )
        .orderBy("node_id")
    },
    Some(
      s"""SELECT node_id, CAST(least(length(body_html), 50) AS INT) AS html_len
         |FROM ${jsonSrc(unittest)}
         |WHERE record_type = 'message'
         |ORDER BY node_id""".stripMargin
    )
  )

  /** Large-archive count — the reference's headline metric shape
    * (README.md:8-19: 1.17M messages counted in 0.564s from planning
    * statistics alone). A 100k-message archive is generated once under
    * target/ (not committed); the connector answers count(*) from exact
    * planning statistics with zero execution-time IO (A9).
    */
  val qMailboxCountLarge = Q(
    "q_mailbox_count_large",
    (s, _) => {
      val dir = new java.io.File(benchBoxDir)
      // 16 archives × 6250 messages, like the reference's multi-file
      // Enron corpus — planning fans out one future per file
      if (!new java.io.File(dir, "box15.mbx.idx").exists()) {
        (0 until 16).foreach { i =>
          MailboxGen.writeFile(new java.io.File(dir, s"box$i.mbx"),
            MailboxGen.syntheticLines(8, 6250, i))
        }
      }
      Mailbox
        .messages(s, new java.io.File(dir, "*.mbx").getPath)
        .agg(count(lit(1)).as("cnt"))
    },
    Some(
      s"""SELECT count(*) AS cnt
        |FROM read_json_auto('$benchBoxDir/*.mbx',
        |                    format='newline_delimited', maximum_object_size=33554432)
        |WHERE record_type = 'message'""".stripMargin
    ),
    bench = true
  )

  /** Large-archive full scan — reader throughput (A15-A18): parse and
    * aggregate real columns across the 100k-message corpus (projection
    * pushdown keeps parsing to the three projected fields).
    */
  val qMailboxScanLarge = Q(
    "q_mailbox_scan_large",
    (s, _) => {
      qMailboxCountLarge.fn(s, "") // ensures the corpus exists
      Mailbox
        .messages(s, s"$benchBoxDir/*.mbx")
        .groupBy("conversation_topic")
        .agg(
          count(lit(1)).as("n"),
          sum(col("message_size")).as("total_size"))
        .orderBy("conversation_topic")
    },
    Some(
      s"""SELECT conversation_topic, count(*) AS n,
        |  CAST(sum(message_size) AS BIGINT) AS total_size
        |FROM read_json_auto('$benchBoxDir/*.mbx',
        |                    format='newline_delimited', maximum_object_size=33554432)
        |WHERE record_type = 'message'
        |GROUP BY conversation_topic ORDER BY conversation_topic""".stripMargin
    ),
    bench = true
  )

  /** Notes mode over the taxonomy box: exact `IPM.Note` PLUS every
    * subclass / unknown / missing class (the BASE_CLASS=Note fallback,
    * typed_bag.hpp:96-105) — `IPM.Schedule.Meeting.Request` and
    * `IPM.Appointment.Foo` are notes here, exactly as in the reference.
    */
  val qMailboxTaxonomyNotes = Q(
    "q_mailbox_taxonomy_notes",
    (s, _) => {
      ensureFixtures()
      Mailbox
        .notes(s, taxonomyBox)
        .select(col("node_id"), col("message_class"))
        .orderBy("node_id")
    },
    Some(
      s"""SELECT node_id, message_class FROM ${jsonSrc(taxonomyBox)}
         |WHERE record_type = 'message'
         |  AND (message_class IS NULL OR message_class NOT IN ($nonNoteClasses))
         |ORDER BY node_id""".stripMargin
    )
  )

  /** Appointments mode over the taxonomy box: ONLY the exact
    * `IPM.Appointment` row — the subclass `IPM.Appointment.Foo` must
    * not appear (a prefix match would wrongly include it).
    */
  val qMailboxTaxonomyAppointments = Q(
    "q_mailbox_taxonomy_appointments",
    (s, _) => {
      ensureFixtures()
      Mailbox
        .appointments(s, taxonomyBox)
        .select(col("node_id"), col("message_class"))
        .orderBy("node_id")
    },
    Some(
      s"""SELECT node_id, message_class FROM ${jsonSrc(taxonomyBox)}
         |WHERE record_type = 'message' AND message_class = 'IPM.Appointment'
         |ORDER BY node_id""".stripMargin
    )
  )

  /** A pushed `message_class = '…'` predicate is EXACT string equality
    * on the raw column (layered on the mode taxonomy), so selecting an
    * unknown class inside notes mode returns exactly those rows.
    */
  val qMailboxTaxonomyClassEq = Q(
    "q_mailbox_taxonomy_class_eq",
    (s, _) => {
      ensureFixtures()
      Mailbox
        .notes(s, taxonomyBox)
        .filter(col("message_class") === "IPM.Schedule.Meeting.Request")
        .select(col("node_id"), col("subject"))
        .orderBy("node_id")
    },
    Some(
      s"""SELECT node_id, subject FROM ${jsonSrc(taxonomyBox)}
         |WHERE record_type = 'message'
         |  AND message_class = 'IPM.Schedule.Meeting.Request'
         |ORDER BY node_id""".stripMargin
    )
  )

  /** q_mailbox_sql_view — the reference's SQL UX
    * (`SELECT ... FROM read_pst_messages('f.pst')`,
    * README.md:25-37) through Spark's own SQL path: the DSv2 source is
    * `DataSourceRegister`ed as `mailbox`, so
    * `CREATE TEMPORARY VIEW ... USING mailbox OPTIONS (...)` makes the
    * connector a plain SQL table — pushdowns and stats identical to the
    * DataFrame route (same Table implementation underneath).
    */
  val qMailboxSqlView = Q(
    "q_mailbox_sql_view",
    (s, _) => {
      ensureFixtures()
      s.sql(
        s"""CREATE OR REPLACE TEMPORARY VIEW mailbox_sql_view
           |USING mailbox
           |OPTIONS (path '$unittest', mode 'messages')""".stripMargin)
      s.sql(
        """SELECT message_class, count(*) AS n, min(subject) AS first_subject
          |FROM mailbox_sql_view
          |GROUP BY message_class ORDER BY message_class""".stripMargin)
    },
    Some(
      s"""SELECT message_class, count(*) AS n, min(subject) AS first_subject
         |FROM ${jsonSrc(unittest)} WHERE record_type = 'message'
         |GROUP BY message_class ORDER BY message_class""".stripMargin
    )
  )

  /** Statistics-backed MIN/MAX aggregate pushdown (the v3 sidecar's
    * per-class delivery-time stats — the parquet-footer-min/max analog):
    * min/max/count over the whole multi-file glob AND over a
    * plan-time-filtered typed mode, both answered with zero execution
    * IO (one static partition; spec-asserted in MailboxStatsSpec).
    */
  val qMailboxMinmax = Q(
    "q_mailbox_minmax",
    (s, _) => {
      ensureFixtures()
      val whole = Mailbox.messages(s, glob)
        .agg(
          min(col("message_delivery_time")).as("mn"),
          max(col("message_delivery_time")).as("mx"),
          count(lit(1)).as("n"))
        .select(lit("all").as("scope"),
          col("mn").cast("timestamp_ntz").as("mn"),
          col("mx").cast("timestamp_ntz").as("mx"), col("n"))
      val tasksOnly = Mailbox.tasks(s, glob)
        .agg(
          min(col("message_delivery_time")).as("mn"),
          max(col("message_delivery_time")).as("mx"),
          count(lit(1)).as("n"))
        .select(lit("tasks").as("scope"),
          col("mn").cast("timestamp_ntz").as("mn"),
          col("mx").cast("timestamp_ntz").as("mx"), col("n"))
      whole.union(tasksOnly).orderBy("scope")
    },
    Some(
      s"""SELECT 'all' AS scope,
         |  CAST(to_timestamp(min(message_delivery_time)) AS TIMESTAMP) AS mn,
         |  CAST(to_timestamp(max(message_delivery_time)) AS TIMESTAMP) AS mx,
         |  count(*) AS n
         |FROM ${jsonSrc(glob)} WHERE record_type = 'message'
         |UNION ALL
         |SELECT 'tasks' AS scope,
         |  CAST(to_timestamp(min(message_delivery_time)) AS TIMESTAMP) AS mn,
         |  CAST(to_timestamp(max(message_delivery_time)) AS TIMESTAMP) AS mx,
         |  count(*) AS n
         |FROM ${jsonSrc(glob)}
         |WHERE record_type = 'message' AND message_class = 'IPM.Task'
         |ORDER BY scope""".stripMargin
    )
  )

  /** Statistics-backed GROUP BY pushdown: per-class count + delivery
    * min/max over the multi-file glob, answered from the v3 sidecars'
    * per-class stats with zero execution IO (one static partition, one
    * row per raw class; spec-asserted in MailboxStatsSpec). Spark
    * re-aggregates the pushed per-class rows — partial-pushdown exact.
    */
  val qMailboxClassStats = Q(
    "q_mailbox_class_stats",
    (s, _) => {
      ensureFixtures()
      Mailbox.messages(s, glob)
        .groupBy("message_class")
        .agg(
          count(lit(1)).as("n"),
          min(col("message_delivery_time")).as("mn"),
          max(col("message_delivery_time")).as("mx"))
        .select(col("message_class"), col("n"),
          col("mn").cast("timestamp_ntz").as("mn"),
          col("mx").cast("timestamp_ntz").as("mx"))
        .orderBy("message_class")
    },
    Some(
      s"""SELECT message_class, count(*) AS n,
         |  CAST(to_timestamp(min(message_delivery_time)) AS TIMESTAMP) AS mn,
         |  CAST(to_timestamp(max(message_delivery_time)) AS TIMESTAMP) AS mx
         |FROM ${jsonSrc(glob)} WHERE record_type = 'message'
         |GROUP BY message_class
         |ORDER BY message_class""".stripMargin
    )
  )

  val all: Seq[Q] = Seq(
    qLateMatAuto,
    qLateMatAutoNoFilter,
    qMailboxSqlView,
    qMailboxMinmax,
    qMailboxClassStats,
    qMailboxCount,
    qMailboxCountLarge,
    qMailboxScanLarge,
    qMailboxClassHistogram,
    qMailboxFolderTree,
    qMailboxFolderAncestors,
    qMailboxLateMat,
    qMailboxDlistMembers,
    qMailboxContacts,
    qMailboxAppointments,
    qMailboxReadLimit,
    qMailboxBodyTruncation,
    qMailboxTaxonomyNotes,
    qMailboxTaxonomyAppointments,
    qMailboxTaxonomyClassEq,
    qMailboxAttachmentDedup
  )

  /** q_mailbox_attachment_dedup — the connector→pipeline bridge:
    * attachment blobs scanned out of the mailbox glob (real bytes,
    * gated by `read_attachment_body` — A13) flow straight into the
    * engine's exact-dedup accounting. Email corpora duplicate
    * attachments massively (every reply re-carries them), so the
    * content-digest inventory — per filename: copies, distinct blobs,
    * raw bytes vs bytes-after-dedup, savings — is the first number a
    * mailbox-ingest pipeline computes. Digest = md5 over the canonical
    * base64 text (RFC 4648 basic on both sides: Spark's base64() and
    * the fixture's JSON encoding agree byte-for-byte, so the oracle
    * hashes the JSONL field directly).
    *
    * 100 TB shape: blob bytes are digested INSIDE the scan projection
    * and never shuffle — the aggregate carries (filename, digest,
    * size) triples; at real scale the digest would ride the sidecar
    * like the other per-record stats.
    */
  lazy val qMailboxAttachmentDedup: Q = Q(
    "q_mailbox_attachment_dedup",
    (s, _) => {
      ensureFixtures()
      val blobs = Mailbox
        .messages(s, glob, Map("read_attachment_body" -> "true"))
        .select(explode(col("attachments")).as("a"))
        .select(col("a.filename").as("filename"),
          col("a.size").as("att_size"),
          md5(base64(col("a.bytes"))).as("digest"))
        .groupBy("filename", "digest")
        .agg(count(lit(1)).as("n_copies"), max(col("att_size")).as("sz"))
      blobs.groupBy("filename")
        .agg(sum(col("n_copies")).as("n_copies"),
          count(lit(1)).as("n_distinct_blobs"),
          sum(col("n_copies") * col("sz")).as("bytes_total"),
          sum(col("sz")).as("bytes_deduped"))
        .select(col("filename"), col("n_copies"), col("n_distinct_blobs"),
          col("bytes_total"), col("bytes_deduped"),
          expr("(bytes_total - bytes_deduped) * 1000000 div bytes_total")
            .as("savings_ppm"))
        .orderBy("filename")
    },
    Some(
      s"""WITH blobs AS (
         |  SELECT a.filename AS filename, md5(a.bytes) AS digest,
         |    count(*) AS n_copies, max(a.size) AS sz
         |  FROM ${jsonSrc(glob)}, UNNEST(attachments) AS u(a)
         |  WHERE record_type = 'message'
         |  GROUP BY 1, 2)
         |SELECT filename,
         |  CAST(sum(n_copies) AS BIGINT) AS n_copies,
         |  count(*) AS n_distinct_blobs,
         |  CAST(sum(n_copies * sz) AS BIGINT) AS bytes_total,
         |  CAST(sum(sz) AS BIGINT) AS bytes_deduped,
         |  (CAST(sum(n_copies * sz) AS BIGINT)
         |    - CAST(sum(sz) AS BIGINT)) * 1000000
         |    // CAST(sum(n_copies * sz) AS BIGINT) AS savings_ppm
         |FROM blobs GROUP BY filename ORDER BY filename""".stripMargin
    )
  )
}
