package graft.source

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.metric.CustomTaskMetric
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.model.MailboxSchema.Mode
import graft.source.pst.{PstFile, PstReader}

/** Real PST binary files served through the same mailbox DSv2 table
  * machinery as `.mbx` dumps (glob, modes, projection, limits, stats,
  * metrics). A file is routed here when its first 4 bytes are the
  * `!BDN` NDB magic; everything else is planned as JSONL.
  *
  * Planning matches the reference exactly: enumerate node ids from the
  * PST's own node b-tree *without reading message content*
  * (table_function.cpp:100-212) — O(index) bytes per file, never the
  * corpus. Typed modes (contacts, tasks, …) need each candidate's
  * message class, which lives in the node's property context, so their
  * class filter is applied by the reader, and planning reports their
  * cardinality as an estimate (`exact` only when no class filter).
  */
object PstScan {

  /** Does a file head start with the 4-byte `!BDN` NDB magic? (the
    * analog of the reference failing the PST header check, A20; the
    * planner reads each unindexed file's head once).
    */
  def isPst(head: Array[Byte]): Boolean =
    head.length >= 4 &&
      head(0) == '!' && head(1) == 'B' && head(2) == 'D' && head(3) == 'N'

  /** Plan-time node enumeration: node ids of the mode's NID type, in
    * ascending order, from the NBT only.
    */
  def enumerate(file: String, conf: Configuration, wantFolder: Boolean): Array[Long] = {
    val pst = PstFile.open(file, conf)
    try {
      val t = if (wantFolder) 0x02 else 0x04
      pst.nodes.valuesIterator
        .filter(e => e.nidType == t && e.bidData != 0)
        .map(_.nid).toArray.sorted
    } finally pst.close()
  }

  /** Plan-time bounded classification for `read_limit` on typed modes:
    * read each candidate node's class property (lazy PropertyContext —
    * no recipient/attachment/body materialization) in node-id order,
    * stopping at `limit` matches. Keeps the limit exact and GLOBAL
    * across partitions, the same discipline as the reference's limit
    * break (table_function.cpp) and the JSONL path's enumerateBounded.
    * A node whose classification throws is kept: the reader serializes
    * it as a null-tolerant row (A16), so it occupies a limit slot there
    * too.
    */
  def classifyBounded(file: String, conf: Configuration, nids: Array[Long],
      filter: RecordFilter, limit: Long): Array[Long] = {
    val pst = PstFile.open(file, conf)
    try {
      val reader  = new PstReader(pst)
      val matched = new scala.collection.mutable.ArrayBuffer[Long]()
      var i = 0
      while (i < nids.length && matched.length < limit) {
        val nid = nids(i)
        val ok =
          try filter.matchesClass(reader.messageClass(nid))
          catch { case NonFatal(_) => true }
        if (ok) matched += nid
        i += 1
      }
      matched.toArray
    } finally pst.close()
  }
}

/** Row reader over assigned node ids: opens the PST through the Hadoop
  * FS, serializes each node's property bag onto the projected columns
  * (the Spark analog of row_serializer.cpp's into_row). An empty
  * projection (count(*), see [[CountReader]]) classifies each node but
  * reads no property bag.
  */
class PstPartitionReader(
    p: PstPartition,
    readSchema: StructType,
    opts: MailboxOptions,
    filter: RecordFilter,
    conf: Configuration) extends PartitionReader[InternalRow] {

  private val wantFolder = filter.wantFolder
  private lazy val pst    = PstFile.open(p.file, conf)
  private lazy val reader = new PstReader(pst)

  private val fieldIndex: Map[String, Int] =
    readSchema.fieldNames.zipWithIndex.toMap
  private val bodyBudget: Long =
    if (opts.bodySizeBytes <= 0) 0L else opts.bodySizeBytes

  private var i = -1
  private var rowsRead = 0L
  private var current: InternalRow = _

  // Any read_limit is allocated exactly and globally at plan time (the
  // planner classifies nodes when a typed mode is limited), so the
  // reader itself never caps rows — a cap here would be per-partition
  // and could multiply the limit by the partition count.
  override def next(): Boolean = {
    var found = false
    while (!found && i < p.nodeIds.length - 1) {
      i += 1
      val nid = p.nodeIds(i)
      try {
        if (wantFolder || p.exact ||
            filter.matchesClass(reader.messageClass(nid))) {
          current = project(
            if (readSchema.isEmpty) Map.empty
            else if (wantFolder) reader.folderRow(nid)
            else reader.messageRow(nid, opts.readAttachmentBody), nid)
          found = true
        }
      } catch {
        case NonFatal(_) => // A16: a malformed node degrades to a null row
          current = project(Map("node_id" -> nid), nid)
          found = true
      }
    }
    if (found) rowsRead += 1
    found
  }

  /** Project the serializer's column map onto the required schema.
    * TIMESTAMP_S semantics: micros truncated to whole seconds
    * (row_serializer.cpp:44-47); body/body_html honor the UTF-16 byte
    * budget (A13/A17).
    */
  private def project(row: Map[String, Any], nid: Long): InternalRow = {
    val values = new Array[Any](readSchema.length)
    var j = 0
    while (j < readSchema.length) {
      val f = readSchema.fields(j)
      values(j) = f.name match {
        case "pst_path"    => UTF8String.fromString(p.file)
        case "pst_name"    => UTF8String.fromString(reader.storeName)
        case "__partition" => p.index.toLong
        case "__node_id"   => nid
        case name =>
          row.getOrElse(name, null) match {
            case null => null
            case v: Long if f.dataType == TimestampType =>
              Math.floorDiv(v, 1000000L) * 1000000L
            case s: UTF8String if name == "body" || name == "body_html" =>
              UTF8String.fromString(
                MailboxText.truncateUtf16(s.toString, bodyBudget))
            case v => v
          }
      }
      j += 1
    }
    new GenericInternalRow(values)
  }

  override def get(): InternalRow = current
  override def close(): Unit = if (rowsRead > 0 || i >= 0) pst.close()
  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    MailboxMetrics.Task(MailboxMetrics.RowsRead, rowsRead),
    MailboxMetrics.Task(MailboxMetrics.BytesRead,
      if (i >= 0) pst.bytesRead else 0L),
    MailboxMetrics.Task(MailboxMetrics.FilesRead,
      if (p.firstInFile) 1L else 0L))
}
