package graft.source

import java.io.{BufferedWriter, File, FileWriter}
import java.util.Base64

/** Deterministic generator of mailbox dump files (`*.mbx` — JSON lines,
  * one node per line) that the mailbox DSv2 connector scans.
  *
  * The inventory mirrors the reference's checked-in `test/unittest.pst`
  * fixture (FIXTURES.md §1; the reference's test/sql/read_unittest_pst
  * .test:13-93): 16 folders with the root self-loop 290→290, 12 messages
  * = 5 IPM.Note + 2 IPM.Contact + 1 IPM.DistList + 1 IPM.Appointment +
  * 2 IPM.StickyNote + 1 IPM.Task — so the reference's golden assertions
  * port 1:1 onto our connector.
  *
  * Line layout contract: `node_id`, `parent_node_id`, `record_type` and
  * `message_class` are always the first four keys, so the planner can
  * classify a line from its prefix without a full JSON parse (the
  * analog of the reference's planning-time PR_MESSAGE_CLASS_A lookup,
  * table_function.cpp:126-176).
  */
object MailboxGen {

  private def esc(s: String): String =
    s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case '\n'          => "\\n"
      case '\r'          => "\\r"
      case '\t'          => "\\t"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }

  private def j(kv: (String, Any)*): String =
    kv.map {
      case (k, null)          => s""""$k":null"""
      case (k, v: String)     => s""""$k":"${esc(v)}""""
      case (k, v: Boolean)    => s""""$k":$v"""
      case (k, v: Long)       => s""""$k":$v"""
      case (k, v: Int)        => s""""$k":$v"""
      case (k, v: Double)     => s""""$k":$v"""
      case (k, v: RawJson)    => s""""$k":${v.s}"""
      case (k, v)             => s""""$k":"${esc(v.toString)}""""
    }.mkString("{", ",", "}")

  private case class RawJson(s: String)
  private def arr(items: Seq[String]): RawJson = RawJson(items.mkString("[", ",", "]"))
  private def b64(bytes: Array[Byte]): String  = Base64.getEncoder.encodeToString(bytes)

  /** Epoch seconds for 2025-12-25 00:00:00 UTC (the fixture's date). */
  private val xmas = 1766620800L

  private def folderLine(nodeId: Long, parent: Long, name: String,
      containerClass: String, subfolders: Long, messages: Long,
      unread: Long): String =
    j(
      "node_id" -> nodeId, "parent_node_id" -> parent,
      "record_type" -> "folder", "message_class" -> null,
      "record_key" -> b64(Array[Byte](0xD8.toByte, 0xD3.toByte, 0x1B, 0x11)),
      "container_class" -> containerClass, "display_name" -> name,
      "subfolder_count" -> subfolders, "message_count" -> messages,
      "unread_message_count" -> unread
    )

  private def recipient(name: String, email: String, rtype: String, raw: Int): String =
    j("display_name" -> name, "account_name" -> name, "email_address" -> email,
      "address_type" -> "SMTP", "recipient_type" -> rtype,
      "recipient_type_raw" -> raw)

  private def attachment(filename: String, size: Long, bytes: Array[Byte]): String =
    j("filename" -> filename, "mime_type" -> "image/jpeg", "size" -> size,
      "attach_content_id" -> s"cid-$filename", "attach_method" -> "BY_VALUE",
      "is_message" -> false, "bytes" -> b64(bytes))

  // base message properties shared by every message class.
  //
  // LAYOUT CONTRACT (consumed by MailboxIndex.build): node_id,
  // record_type and message_class sit in the first 160 bytes, and the
  // three timestamp fields in the first 384 — the record "head", the
  // analog of the stats block a parquet footer keeps per column chunk.
  // Classification and the sidecar's per-class delivery-time min/max
  // both come from this bounded prefix, never a full JSON parse.
  // delivery time varies deterministically per message so MIN/MAX
  // statistics are non-degenerate.
  private def messageProps(nodeId: Long, parent: Long, klass: String,
      subject: String, body: String, extra: Seq[(String, Any)]): String = {
    val base = Seq[(String, Any)](
      "node_id" -> nodeId, "parent_node_id" -> parent,
      "record_type" -> "message", "message_class" -> klass,
      "record_key" -> b64(Array[Byte](1, 2, 3, (nodeId % 127).toByte)),
      "creation_time" -> (xmas - 86400), "last_modified" -> xmas,
      "message_delivery_time" -> (xmas - 3600 - (nodeId % 97) * 600),
      "subject" -> subject, "body" -> body,
      "body_html" -> s"<html><body>${esc(body)}</body></html>",
      "display_name" -> subject, "comment" -> null,
      "sender_name" -> "Hopper Cat",
      "sender_email_address" -> "hopper@example.com",
      "recipients" -> arr(Seq(
        recipient("Linus Cat", "linus@example.com", "TO", 1),
        recipient("Grace Cat", "grace@example.com", "CC", 2))),
      "has_attachments" -> (nodeId % 3 == 0),
      "attachment_count" -> (if (nodeId % 3 == 0) 1L else 0L),
      "attachments" -> (if (nodeId % 3 == 0)
        arr(Seq(attachment("MEDIUM~2.JPG", 2048L, Array[Byte](9, 9, 9))))
      else arr(Nil)),
      "importance" -> "NORMAL", "priority" -> "NORMAL",
      "sensitivity" -> (if (nodeId % 4 == 0) "PRIVATE" else "NONE"),
      "message_flags" -> 1, "message_size" -> (1000L + nodeId),
      "conversation_topic" -> s"Topic ${nodeId % 5}",
      "internet_message_id" -> s"<msg-$nodeId@example.com>"
    )
    j(base ++ extra: _*)
  }

  /** The unittest-equivalent mailbox: 16 folders + 12 messages. */
  def unittestLines: Seq[String] = {
    val folders = Seq(
      folderLine(290, 290, "Outlook Data File", null, 3, 0, 0), // root self-loop
      folderLine(32802, 290, "Top of Outlook data file", null, 10, 0, 0),
      folderLine(32834, 290, "Search Root", null, 0, 0, 0),
      folderLine(32866, 290, "SPAM Search Folder 2", "IPF.Configuration", 0, 0, 0),
      folderLine(32898, 32802, "Deleted Items", "IPF.Note", 0, 0, 0),
      folderLine(32930, 32802, "Inbox", "IPF.Note.OutlookHomepage", 0, 5, 2),
      folderLine(32962, 32802, "Outbox", null, 0, 0, 0),
      folderLine(32994, 32802, "Sent Items", null, 0, 0, 0),
      folderLine(33026, 32802, "Calendar", "IPF.Appointment", 0, 1, 0),
      folderLine(33058, 32802, "Contacts", "IPF.Contact", 0, 3, 0),
      folderLine(33090, 32802, "Journal", "IPF.Journal", 0, 0, 0),
      folderLine(33122, 32802, "Notes", "IPF.StickyNote", 0, 2, 0),
      folderLine(33154, 32802, "Tasks", "IPF.Task", 0, 1, 0),
      folderLine(33186, 32802, "Drafts", null, 0, 0, 0),
      folderLine(33218, 32802, "Conversation Action Settings", "IPF.Configuration", 0, 0, 0),
      folderLine(33250, 32834, "Spam Search", null, 0, 0, 0)
    )
    val notes = (0 until 5).map { i =>
      messageProps(2097156 + 32 * i, 32930, "IPM.Note",
        s"Test mail ${i + 1}", s"Mail body number ${i + 1} with some text.", Nil)
    }
    val contacts = Seq(
      messageProps(2097412, 33058, "IPM.Contact", "Hopper Cat", "Contact card", Seq(
        "given_name" -> "Hopper", "surname" -> "Cat", "gender" -> 0,
        "company_name" -> "Feline Industries", "title" -> "Chief Nap Officer",
        "primary_telephone" -> "+1-555-0100", "birthday" -> (xmas - 5 * 365 * 86400L),
        "mail_permission" -> true)),
      messageProps(2097380, 33058, "IPM.Contact", "Linus Cat", "Contact card", Seq(
        "given_name" -> "Linus", "surname" -> "Cat", "gender" -> 0,
        "company_name" -> "Feline Industries", "title" -> "Senior Scratcher",
        "primary_telephone" -> "+1-555-0101", "mail_permission" -> false))
    )
    val dlist = Seq(
      messageProps(2097508, 33058, "IPM.DistList", "Cat Support Group",
        "Distribution list", Seq(
          "member_node_ids" -> arr(Seq("2097412", "2097380")),
          "one_off_members" -> arr(Seq(
            j("display_name" -> "Tom Cat", "address_type" -> "SMTP",
              "email_address" -> "tom@example.com"),
            j("display_name" -> "Felix Cat", "address_type" -> "SMTP",
              "email_address" -> "felix@example.com")))))
    )
    val appt = Seq(
      messageProps(2097540, 33026, "IPM.Appointment", "Christmas Nap",
        "All-day nap event", Seq(
          "location" -> "Sunny Window", "start_time" -> xmas,
          "end_time" -> (xmas + 86400L), "duration" -> 1440,
          "all_day_event" -> true, "is_meeting" -> false,
          "organizer_name" -> "Hopper Cat", "busy_status" -> 2,
          "response_status" -> 0, "is_recurring" -> false))
    )
    val sticky = Seq(
      messageProps(2097444, 33122, "IPM.StickyNote", "Buy more catnip",
        "catnip note", Seq(
          "note_color" -> 3, "note_width" -> 2051, "note_height" -> 1565,
          "note_x" -> 80, "note_y" -> 80)),
      messageProps(2097476, 33122, "IPM.StickyNote", null, "untitled note", Seq(
        "note_color" -> 1, "note_width" -> 200, "note_height" -> 166,
        "note_x" -> 80, "note_y" -> 80))
    )
    val task = Seq(
      messageProps(2097572, 33154, "IPM.Task", "Chase the laser",
        "important task", Seq(
          "task_status" -> 1, "is_complete" -> false,
          "percent_complete" -> 0.25, "start_date" -> (xmas - 86400L),
          "due_date" -> xmas, "estimated_effort" -> 60, "actual_effort" -> 15,
          "task_owner" -> "Hopper Cat", "ownership" -> 1,
          "is_team_task" -> false, "is_recurring" -> false))
    )
    folders ++ notes ++ contacts ++ dlist ++ appt ++ sticky ++ task
  }

  /** A larger deterministic mailbox for partition-planning tests:
    * `nFolders` folders + `nMessages` messages cycling through classes.
    */
  def syntheticLines(nFolders: Int, nMessages: Int, seed: Int): Seq[String] = {
    val classes = Seq("IPM.Note", "IPM.Note", "IPM.Note", "IPM.Contact",
      "IPM.Appointment", "IPM.StickyNote", "IPM.Task", "IPM.DistList")
    val folders = (0 until nFolders).map { i =>
      folderLine(1000L + i, if (i == 0) 1000L else 1000L + (i / 4),
        s"Folder $i", if (i % 3 == 0) "IPF.Note" else null, 0, 0, 0)
    }
    val messages = (0 until nMessages).map { i =>
      val klass = classes((i + seed) % classes.length)
      val extra: Seq[(String, Any)] = klass match {
        case "IPM.Contact" =>
          Seq("given_name" -> s"Given$i", "surname" -> s"Sur$i", "gender" -> (i % 3))
        case "IPM.Appointment" =>
          Seq("start_time" -> (xmas + i * 3600L), "duration" -> (30 + i % 90))
        case "IPM.StickyNote" => Seq("note_color" -> (i % 5))
        case "IPM.Task" => Seq("task_status" -> (i % 3), "percent_complete" -> (i % 100) / 100.0)
        case "IPM.DistList" =>
          Seq("member_node_ids" -> arr(Seq(s"${2000000 + i}", s"${2000001 + i}")))
        case _ => Nil
      }
      messageProps(2000000L + i * 4, 1000L + (i % nFolders.max(1)), klass,
        s"Synthetic message $i", s"Body of synthetic message $i " * (1 + i % 4), extra)
    }
    folders ++ messages
  }

  /** Write a mailbox file and (by default) its `.idx` sidecar index, so
    * scans plan in O(#files) bytes (see [[MailboxIndex]]).
    */
  def writeFile(path: File, lines: Seq[String], writeIndex: Boolean = true): Unit = {
    path.getParentFile.mkdirs()
    val w = new BufferedWriter(new FileWriter(path))
    try lines.foreach { l => w.write(l); w.newLine() }
    finally w.close()
    if (writeIndex) MailboxIndex.writeLocal(path)
  }

  /** Messages exercising the typed_bag.hpp message-class taxonomy: the
    * six exact classes, subclasses (`IPM.Appointment.Foo`), unrelated
    * classes (`IPM.Schedule.Meeting.Request`), a case mismatch, and a
    * missing class — everything non-exact buckets into notes
    * (BASE_CLASS), never prefix-matched into a typed mode.
    */
  def taxonomyLines: Seq[String] = {
    val folder = folderLine(400, 400, "Taxonomy Root", null, 0, 12, 0)
    val cases = Seq[(Long, String)](
      (501, "IPM.Note"),                     // exact note
      (502, "IPM.Schedule.Meeting.Request"), // unrelated → notes
      (503, "IPM.Appointment"),              // exact appointment
      (504, "IPM.Appointment.Foo"),          // subclass → notes
      (505, "IPM.Task"),                     // exact task
      (506, null),                           // missing class → notes
      (507, "IPM.Contact"),                  // exact contact
      (508, "REPORT.IPM.Note.NDR"),          // unrelated → notes
      (509, "IPM.Note.SMIME"),               // subclass → notes
      (510, "IPM.StickyNote"),               // exact sticky note
      (511, "IPM.DistList"),                 // exact distribution list
      (512, "ipm.note")                      // case mismatch → notes
    )
    folder +: cases.map { case (nid, klass) =>
      messageProps(nid, 400, klass, s"Taxonomy case $nid", s"body $nid", Nil)
    }
  }

  /** Write the standard fixture set into `dir`: the unittest-equivalent
    * box, two synthetic boxes (for multi-file and partition tests), and
    * the taxonomy box in its own subdirectory (kept out of the main glob
    * so the unittest goldens stay stable).
    */
  def writeFixtures(dir: File): Unit = {
    writeFile(new File(dir, "unittest.mbx"), unittestLines)
    writeFile(new File(dir, "synth_a.mbx"), syntheticLines(8, 500, 0))
    writeFile(new File(dir, "synth_b.mbx"), syntheticLines(4, 300, 3))
    writeFile(new File(new File(dir, "taxonomy"), "mixed.mbx"), taxonomyLines)
  }

  def main(args: Array[String]): Unit = {
    val dir = new File(if (args.nonEmpty) args(0) else "fixtures/mailbox")
    writeFixtures(dir)
    println(s"wrote fixtures to ${dir.getAbsolutePath}")
  }
}
