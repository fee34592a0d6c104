package graft.source

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType

/** Streaming extension of the mailbox source (beyond the batch-only
  * reference): new mailbox files appearing under the glob — `.mbx`
  * JSONL dumps or real PST binaries, routed by magic bytes exactly as
  * in batch — are picked up per micro-batch: mail-archive ingestion as
  * a stream.
  *
  * Offsets are the sorted set of files already processed (files are
  * immutable drops, like the reference's PST archives); each batch plans
  * partitions for exactly the new files with the same planner/pushdown
  * machinery as the batch path.
  */
class MailboxMicroBatchStream(
    opts: MailboxOptions,
    readSchema: StructType,
    filter: RecordFilter) extends MicroBatchStream {

  private val hadoopConf = MailboxPlanner.activeHadoopConf()

  /** Offset = files seen so far. Serialized as a SINGLE-LINE JSON array:
    * Spark's OffsetSeqLog is line-oriented (one offset JSON per line), so
    * any newline inside `json()` would corrupt the checkpoint once an
    * offset holds 2+ files.
    */
  case class FilesOffset(files: Seq[String]) extends Offset {
    override def json(): String = FilesOffset.write(files)
  }

  object FilesOffset {
    private val mapper = new ObjectMapper()
    def write(files: Seq[String]): String =
      mapper.writeValueAsString(files.sorted.toArray)
    def parse(s: String): Seq[String] =
      if (s.isEmpty || s == "[]") Nil
      else if (s.startsWith("[")) {
        val node = mapper.readTree(s)
        (0 until node.size()).map(node.get(_).asText())
      } else s.split("\n").toSeq // legacy newline-joined offsets
  }

  private def parseOffset(o: Offset): Seq[String] = o match {
    case FilesOffset(fs) => fs
    case other           => FilesOffset.parse(other.json())
  }

  override def initialOffset(): Offset = FilesOffset(Nil)

  override def latestOffset(): Offset =
    FilesOffset(MailboxPlanner.globStatuses(opts.path, hadoopConf).map(_._1))

  override def deserializeOffset(json: String): Offset =
    FilesOffset(FilesOffset.parse(json))

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen    = parseOffset(start).toSet
    val newOnes = parseOffset(end).filterNot(seen)
    if (newOnes.isEmpty) Array.empty
    else {
      // plan only the new files, one glob-free pass each
      val perFile = newOnes.sorted.flatMap { f =>
        MailboxPlanner
          .plan(MailboxOptions(opts.raw + ("path" -> f)), filter, hadoopConf)
          .partitions
      }
      perFile.zipWithIndex
        .map {
          case (p: IndexedPartition, i)    => p.copy(index = i)
          case (p: RangePartition, i)      => p.copy(index = i)
          case (p: EnumeratedPartition, i) => p.copy(index = i)
          case (p: PstPartition, i)        => p.copy(index = i)
        }
        .toArray[InputPartition]
    }
  }

  // called once per micro-batch: one broadcast per batch
  override def createReaderFactory(): PartitionReaderFactory =
    new MailboxReaderFactory(readSchema, opts, filter, countStar = false,
      MailboxPlanner.broadcastConf(hadoopConf))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
