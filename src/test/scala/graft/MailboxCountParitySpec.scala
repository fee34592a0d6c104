package graft

import java.io.File
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.model.MailboxSchema
import graft.source._

/** count(*) over partitions planning cannot count drains the row reader
  * itself: the count path's row and its rows/bytes/files-read metrics
  * must equal the row reader's over the same partition, for byte ranges
  * cut mid-record and for PST partitions classified at read time.
  */
class MailboxCountParitySpec extends AnyFunSuite with SessionSuite {

  private val countSchema =
    StructType(Seq(StructField("count(*)", LongType, nullable = false)))

  /** The rows a reader emits and its final metrics. */
  private def drain(r: PartitionReader[InternalRow])
      : (Seq[InternalRow], Map[String, Long]) =
    try {
      val rows = ArrayBuffer[InternalRow]()
      while (r.next()) rows += r.get().copy()
      (rows.toSeq, r.currentMetricsValues().map(m => m.name() -> m.value()).toMap)
    } finally r.close()

  /** Drains every partition through the count path and through the
    * full-projection row reader; returns the counts. Rows and every
    * metric must agree, bytes only when `sameBytes`: a projected PST
    * row reads the node's whole property bag, a count only its class.
    * The count path's bytes must then equal the row reader's under the
    * empty projection the count builds it with.
    */
  private def assertParity(opts: MailboxOptions, filter: RecordFilter,
      parts: Seq[MailboxPartition], sameBytes: Boolean): Seq[Long] = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val conf = MailboxPlanner.broadcastConf(hadoopConf)
    val rowsF = new MailboxReaderFactory(
      MailboxSchema.schemaFor(opts.mode), opts, filter, countStar = false, conf)
    val countF = new MailboxReaderFactory(
      countSchema, opts, filter, countStar = true, conf)
    parts.map { p =>
      val (rows, rowMetrics)     = drain(rowsF.createReader(p))
      val (counts, countMetrics) = drain(countF.createReader(p))
      assert(counts.map(_.getLong(0)) === Seq(rows.length.toLong), p.toString)
      if (sameBytes) assert(countMetrics === rowMetrics, p.toString)
      else {
        val bytes = MailboxMetrics.BytesRead
        assert(countMetrics - bytes === rowMetrics - bytes, p.toString)
        val bare = p match {
          case pp: PstPartition =>
            new PstPartitionReader(pp, new StructType(), opts, filter, hadoopConf)
          case _ =>
            new MailboxPartitionReader(p, new StructType(), opts, filter, hadoopConf)
        }
        assert(countMetrics(bytes) === drain(bare)._2(bytes), p.toString)
        assert(countMetrics(bytes) <= rowMetrics(bytes), p.toString)
      }
      counts.head.getLong(0)
    }
  }

  private def unindexedTasks(): (File, Seq[String]) = {
    val dir   = Files.createTempDirectory("mailbox_count_parity").toFile
    val file  = new File(dir, "plain.mbx")
    val lines = MailboxGen.syntheticLines(4, 800, 7)
    MailboxGen.writeFile(file, lines, writeIndex = false)
    (file, lines)
  }

  test("range partitions cut mid-record: count path equals the row reader") {
    val (file, lines) = unindexedTasks()
    val opts = MailboxOptions(Map("path" -> file.getPath, "mode" -> "tasks",
      "partition_bytes" -> "65536"))
    val filter = RecordFilter(opts.mode)
    val parts  = MailboxPlanner.plan(opts, filter,
      spark.sessionState.newHadoopConf()).partitions
    val bytes  = Files.readAllBytes(file.toPath)
    val starts = parts.collect { case r: RangePartition => r.start }
    assert(starts.length === parts.length && starts.length > 1)
    assert(starts.exists(s => s > 0 && bytes((s - 1).toInt) != '\n'),
      "expected a range boundary inside a record")
    val counts = assertParity(opts, filter, parts, sameBytes = true)
    assert(counts.sum ===
      lines.count(_.contains("\"message_class\":\"IPM.Task\"")).toLong)
  }

  test("inexact PST contacts partition: count path equals the row reader") {
    val opts = MailboxOptions(Map(
      "path" -> "fixtures/mailbox/unittest.pst", "mode" -> "contacts"))
    val filter = RecordFilter(opts.mode)
    val parts  = MailboxPlanner.plan(opts, filter,
      spark.sessionState.newHadoopConf()).partitions
    assert(parts.nonEmpty && parts.forall {
      case p: PstPartition => !p.exact
      case _               => false
    }, parts.toString)
    assert(assertParity(opts, filter, parts, sameBytes = false).sum === 2L)
  }

  /** An unindexed tasks-mode scan cut into 64 KiB byte ranges, and the
    * number of task records its file holds.
    */
  private def tasksScan(): (DataFrame, Long) = {
    val (file, lines) = unindexedTasks()
    (Mailbox.tasks(spark, file.getPath, Map("partition_bytes" -> "65536")),
      lines.count(_.contains("\"message_class\":\"IPM.Task\"")).toLong)
  }

  test("unindexed typed-mode scan: rows emitted") {
    val (df, expected) = tasksScan()
    assert(df.select("node_id").collect().length.toLong === expected)
  }

  test("unindexed typed-mode scan: pushed count(*)") {
    val (df, expected) = tasksScan()
    val cnt = df.agg(count(lit(1)))
    assert(cnt.queryExecution.executedPlan.toString
      .contains("countStarPushdown=true"))
    assert(cnt.collect()(0).getLong(0) === expected)
  }
}
