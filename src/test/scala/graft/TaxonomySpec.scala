package graft

import java.io.{File, RandomAccessFile}
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.MailboxSchema
import graft.model.MailboxSchema.Mode
import graft.source._

/** Round-3 fidelity suite: the reference message-class taxonomy (exact
  * MESSAGE_CLASS_MAP lookup with BASE_CLASS=Note fallback,
  * typed_bag.hpp:32-37,96-105), exact global read_limit on typed PST
  * scans, sidecar content-fingerprint freshness, files-read metric
  * accounting, and seek-based enumerated partitions.
  */
class TaxonomySpec extends AnyFunSuite with SessionSuite {

  private var dir: File = _
  private var box: String = _

  override def beforeAll(): Unit = {
    dir = Files.createTempDirectory("mailbox_taxonomy").toFile
    MailboxGen.writeFile(new File(dir, "mixed.mbx"), MailboxGen.taxonomyLines)
    MailboxGen.writeFile(new File(dir, "mixed_plain.mbx"),
      MailboxGen.taxonomyLines, writeIndex = false)
    box = new File(dir, "mixed.mbx").getPath
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("node_id").collect().map(_.getLong(0)).sorted.toSeq

  test("taxonomyOf: exact lookup of the six classes, everything else → notes") {
    assert(MailboxSchema.taxonomyOf("IPM.Note") === Mode.Notes)
    assert(MailboxSchema.taxonomyOf("IPM.Contact") === Mode.Contacts)
    assert(MailboxSchema.taxonomyOf("IPM.Appointment") === Mode.Appointments)
    assert(MailboxSchema.taxonomyOf("IPM.StickyNote") === Mode.StickyNotes)
    assert(MailboxSchema.taxonomyOf("IPM.Task") === Mode.Tasks)
    assert(MailboxSchema.taxonomyOf("IPM.DistList") === Mode.DistributionLists)
    // subclass / unrelated / case-mismatch / missing → BASE_CLASS (Note)
    assert(MailboxSchema.taxonomyOf("IPM.Appointment.Foo") === Mode.Notes)
    assert(MailboxSchema.taxonomyOf("IPM.Schedule.Meeting.Request") === Mode.Notes)
    assert(MailboxSchema.taxonomyOf("ipm.note") === Mode.Notes)
    assert(MailboxSchema.taxonomyOf(null) === Mode.Notes)
    assert(MailboxSchema.taxonomyOf("") === Mode.Notes)
  }

  test("notes mode buckets subclass/unknown/missing classes (indexed and range paths)") {
    val expected = Seq(501L, 502L, 504L, 506L, 508L, 509L, 512L)
    assert(ids(Mailbox.notes(spark, box)) === expected)
    // identical through the unindexed byte-range path
    assert(ids(Mailbox.notes(spark, new File(dir, "mixed_plain.mbx").getPath))
      === expected)
  }

  test("typed modes match ONLY their exact class string") {
    assert(ids(Mailbox.appointments(spark, box)) === Seq(503L),
      "IPM.Appointment.Foo must NOT appear in appointments mode")
    assert(ids(Mailbox.tasks(spark, box)) === Seq(505L))
    assert(ids(Mailbox.contacts(spark, box)) === Seq(507L))
    assert(ids(Mailbox.stickyNotes(spark, box)) === Seq(510L))
    assert(ids(Mailbox.distributionLists(spark, box)) === Seq(511L))
    // messages mode remains unfiltered: all 12
    assert(Mailbox.messages(spark, box).count() === 12L)
  }

  test("typed-mode exact counts come from the sidecar at plan time") {
    val stats = Mailbox.notes(spark, box)
      .queryExecution.optimizedPlan.stats
    assert(stats.rowCount.exists(_.toLong == 7L),
      s"expected exact plan-time count 7 for notes mode, got ${stats.rowCount}")
    // zero-IO count(*): the static-rows answer stays consistent
    assert(Mailbox.notes(spark, box).groupBy().count().collect()(0).getLong(0) === 7L)
  }

  test("pushed message_class equality is exact string equality, not prefix") {
    val eq = Mailbox.messages(spark, box)
      .filter(col("message_class") === "IPM.Note")
    assert(ids(eq) === Seq(501L), "IPM.Note.SMIME / ipm.note must not match")
    val unknown = Mailbox.notes(spark, box)
      .filter(col("message_class") === "IPM.Schedule.Meeting.Request")
    assert(ids(unknown) === Seq(502L))
    // plan-time: the equality is pushed, and the sidecar still answers
    // the count exactly (one row of class IPM.Note) at the scan relation
    val leafStats = eq.queryExecution.optimizedPlan.collectLeaves().head.stats
    assert(leafStats.rowCount.exists(_.toLong == 1L),
      s"expected exact pushed-equality count 1, got ${leafStats.rowCount}")
  }

  test("PST typed scans enforce read_limit globally across partitions") {
    val pst = "fixtures/mailbox/unittest.pst"
    // partition_size=1 → one candidate node per partition; a per-partition
    // cap would return up to limit × #partitions rows
    val limited = Mailbox.notes(spark, pst,
      Map("partition_size" -> "1", "read_limit" -> "3"))
    assert(limited.count() === 3L)
    // limit larger than the matching set → all matches, no duplication
    val all = Mailbox.contacts(spark, pst,
      Map("partition_size" -> "1", "read_limit" -> "100"))
    assert(all.count() === 2L)
    // exact plan-time stats for the classified limited scan
    assert(limited.queryExecution.optimizedPlan.stats.rowCount.exists(_.toLong == 3L))

    // a DataFrame .limit() pushed into the scan (SupportsPushDownLimit
    // reports fully-pushed, so Spark drops its own LIMIT operator) must
    // be equally exact across partitions
    val pushed = Mailbox.notes(spark, pst, Map("partition_size" -> "1")).limit(3)
    assert(pushed.count() === 3L)
    assert(pushed.collect().length === 3)
  }

  test("same-size in-place rewrite invalidates the sidecar (fingerprint)") {
    val sdir = Files.createTempDirectory("mailbox_fp").toFile
    val f = new File(sdir, "rw.mbx")
    MailboxGen.writeFile(f, MailboxGen.taxonomyLines)
    val p  = new Path(f.getPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    assert(MailboxIndex.read(fs, p, f.length()).isDefined, "fresh sidecar must load")

    // flip one byte inside the first record, preserving file length
    val raf = new RandomAccessFile(f, "rw")
    try { raf.seek(30); val b = raf.read(); raf.seek(30); raf.write(if (b == '0') '1' else '0') }
    finally raf.close()

    assert(MailboxIndex.read(fs, p, f.length()).isEmpty,
      "size-preserving rewrite must invalidate the sidecar")
    // the scan itself stays correct through the range-planning fallback
    assert(Mailbox.messages(spark, f.getPath).count() === 12L)
  }

  test("files-read metric marks one partition per file, not per partition") {
    val mdir = Files.createTempDirectory("mailbox_files_metric").toFile
    (0 until 3).foreach { i =>
      MailboxGen.writeFile(new File(mdir, s"m$i.mbx"),
        MailboxGen.syntheticLines(2, 200, i), writeIndex = false)
    }
    val plan = MailboxPlanner.plan(
      MailboxOptions(Map(
        "path" -> new File(mdir, "*.mbx").getPath,
        "partition_bytes" -> "65536")),
      RecordFilter(Mode.Messages),
      spark.sessionState.newHadoopConf())
    assert(plan.partitions.length > 3,
      s"expected multiple range splits per file, got ${plan.partitions.length}")
    assert(plan.partitions.count(_.firstInFile) === 3,
      "exactly one partition per file must carry the files-read mark")
  }

  test("enumerated partitions seek to their offsets instead of re-reading the prefix") {
    // a limited, class-filtered scan over an unindexed file → enumerated
    // partitions whose first offset is deep in the file
    val edir = Files.createTempDirectory("mailbox_enum_seek").toFile
    val f = new File(edir, "e.mbx")
    MailboxGen.writeFile(f, MailboxGen.syntheticLines(1, 400, 0), writeIndex = false)
    val plan = MailboxPlanner.plan(
      MailboxOptions(Map("path" -> f.getPath, "read_limit" -> "1000",
        "partition_size" -> "16")),
      RecordFilter(Mode.Tasks),
      spark.sessionState.newHadoopConf())
    val eps = plan.partitions.collect { case ep: EnumeratedPartition => ep }
    assert(eps.length > 1, s"expected multiple enumerated partitions, got ${plan.partitions}")
    assert(eps.last.offsets.head > 0L)

    // later partitions must not read the whole file prefix: their bytes
    // read stay in the order of their own span, not the file size
    val conf = spark.sessionState.newHadoopConf()
    val schema = MailboxSchema.schemaFor(Mode.Tasks)
    val reader = new MailboxPartitionReader(eps.last, schema,
      MailboxOptions(Map("path" -> f.getPath)), RecordFilter(Mode.Tasks), conf)
    var rows = 0
    while (reader.next()) rows += 1
    val bytes = reader.currentMetricsValues()
      .find(_.name() == MailboxMetrics.BytesRead).get.value()
    reader.close()
    assert(rows === eps.last.offsets.length)
    val span = f.length() - eps.last.offsets.head
    assert(bytes <= span + 4096,
      s"reader consumed $bytes bytes but its span is only $span — prefix re-read")
    // and the scan is correct end to end
    assert(Mailbox.tasks(spark, f.getPath, Map("read_limit" -> "1000",
      "partition_size" -> "16")).count() === 50L)
  }
}
