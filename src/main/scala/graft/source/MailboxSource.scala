package graft.source

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import java.util.concurrent.{LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.model.MailboxSchema
import graft.model.MailboxSchema.Mode

/** Mailbox DataSource V2 — the Spark rebuild of the reference's scan
  * machinery (SURVEY.md §2 Tier A).
  *
  * `spark.read.format("mailbox").option("mode", "messages").load(glob)`
  * scans `*.mbx` mailbox dumps with:
  *  - file globbing / multi-file scan over any Hadoop FileSystem scheme
  *    (A2, A19; reference reads PST over any DuckDB filesystem,
  *    duckdb_filesystem.cpp:12-36). The session's Hadoop conf, schemes
  *    set with `spark.conf.set("fs.<scheme>.impl", …)` included, is
  *    broadcast once per scan: inlined in the reader factory, its ~1,100
  *    properties (~110 KB) would be Java-deserialized again by every task,
  *  - O(#files) planning: with `.idx` sidecars (see [[MailboxIndex]])
  *    planning reads only per-file metadata — the analog of the
  *    reference enumerating PST index nodes without reading message
  *    content (table_function.cpp:100-212). Files without a sidecar get
  *    size-based byte-range splits; readers discover record boundaries
  *    with the first-newline-after-offset rule (Hadoop's
  *    LineRecordReader convention). Planning never reads the corpus.
  *  - fixed-size row partitions + exact statistics when indexed (A4, A8),
  *  - plan-time message-class filtering for typed modes and pushed
  *    `message_class = '…'` predicates (A5),
  *  - exact `read_limit` / SupportsPushDownLimit allocation (A6),
  *  - projection pushdown — unprojected columns are never parsed (A7;
  *    row_serializer.cpp:1211-1266),
  *  - aggregate pushdown (A8, A9): a count(*) or min/max of the delivery
  *    time that planning or the sidecars know exactly becomes final rows
  *    in one static-rows partition, with zero execution IO; any other
  *    count(*) drains each partition's row reader with an empty
  *    projection, so a count applies the scan's own record rules,
  *  - virtual row-id columns `__partition`/`__node_id` for late
  *    materialization (A10; schema.hpp:11-17),
  *  - per-task scan metrics: rows / bytes / files read (A11; reference
  *    progress reporting, table_function.cpp:359-365),
  *  - scan-description EXPLAIN metadata (A12; table_function.cpp:367-380),
  *  - named scan parameters `read_limit`, `read_body_size_bytes`,
  *    `read_attachment_body`, `partition_size`, `partition_bytes` (A13),
  *  - per-task readers with one line scanner ([[LineStream]]) and one
  *    streaming decoder, null-tolerant per value (A15-A18; a value whose
  *    JSON token does not fit its column type is NULL and the fields
  *    after it keep theirs, row_serializer.cpp:1252-1263),
  *  - UTF-16 byte-budget body truncation that never splits a surrogate
  *    pair (row_serializer.cpp:83-114),
  *  - resilient multi-file bind — an unreadable file is logged and
  *    skipped (A20; table_function.cpp:228-235).
  */
class MailboxSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "mailbox"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MailboxTable.schemaFor(MailboxOptions(options.asScala.toMap))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new MailboxTable(MailboxOptions(properties.asScala.toMap))

  // schema is always derived from `mode`; a user-supplied schema would be
  // silently ignored, so honestly report no external-metadata support
  // (Spark then rejects .schema(...) with a clear error)
  override def supportsExternalMetadata(): Boolean = false
}

/** Parsed scan options (A13). */
final case class MailboxOptions(raw: Map[String, String]) {
  private def get(k: String): Option[String] =
    raw.collectFirst { case (key, v) if key.equalsIgnoreCase(k) => v }

  val path: String = get("path").getOrElse(
    throw new IllegalArgumentException("mailbox source requires a path"))
  val mode: Mode.Value = get("mode").map(_.toLowerCase).getOrElse("messages") match {
    case "folders"                         => Mode.Folders
    case "messages"                        => Mode.Messages
    case "notes"                           => Mode.Notes
    case "contacts"                        => Mode.Contacts
    case "appointments"                    => Mode.Appointments
    case "sticky_notes" | "stickynotes"    => Mode.StickyNotes
    case "tasks"                           => Mode.Tasks
    case "distribution_lists" | "dlists"   => Mode.DistributionLists
    case other => throw new IllegalArgumentException(s"unknown mode: $other")
  }
  // defaults mirror the reference (table_function.hpp:29-31)
  val partitionSize: Int     = get("partition_size").map(_.toInt).getOrElse(4096).max(1)
  val readLimit: Long        = get("read_limit").map(_.toLong).getOrElse(Long.MaxValue)
  val bodySizeBytes: Long    = get("read_body_size_bytes").map(_.toLong).getOrElse(1000000L)
  val readAttachmentBody: Boolean =
    get("read_attachment_body").exists(_.toBoolean)
  val virtualColumns: Boolean = get("virtual_columns").exists(_.toBoolean)
  /** Byte-range split size for unindexed files (scale default 32 MiB). */
  val partitionBytes: Long =
    get("partition_bytes").map(_.toLong).getOrElse(32L * 1024 * 1024).max(1L << 16)
}

/** Scalar text helpers shared by the readers. */
object MailboxText {

  /** Truncate to a byte budget over UTF-16 code units without splitting a
    * surrogate pair (reference row_serializer.cpp:83-114: wchar-aligned
    * byte budget; 0 = unlimited, :302-304). 100 bytes → 50 BMP chars; an
    * astral character on the boundary is dropped whole.
    */
  def truncateUtf16(s: String, budgetBytes: Long): String = {
    if (budgetBytes <= 0) return s
    val units = (budgetBytes / 2).toInt
    if (s.length <= units) s
    else if (units > 0 && Character.isHighSurrogate(s.charAt(units - 1)))
      s.substring(0, units - 1)
    else s.substring(0, units)
  }
}

/** Plan-time record filter (A5): the scan mode's taxonomy class plus any
  * pushed exact `message_class = '…'` equalities.
  *
  * Two distinct semantics, mirroring the reference:
  *  - the MODE filter is the typed_bag.hpp taxonomy — an exact lookup of
  *    the six known classes with unknown/subclass/missing strings
  *    bucketed into notes (BASE_CLASS), so `IPM.Appointment.Foo` is a
  *    note, not an appointment;
  *  - a pushed SQL equality is a predicate on the raw column value —
  *    plain string equality, never prefix or taxonomy matching.
  */
final case class RecordFilter(
    mode: MailboxSchema.Mode.Value,
    exacts: Seq[String] = Nil) {

  def wantFolder: Boolean = mode == Mode.Folders

  /** Does this filter reject any message record at all? (false = plain
    * folders/messages scan with no pushed predicate)
    */
  def filtersClass: Boolean = MailboxSchema.isTypedMode(mode) || exacts.nonEmpty

  /** Does a message record with this class survive? `cls` may be null or
    * "" for a missing PR_MESSAGE_CLASS_A — the taxonomy buckets those
    * into notes; an equality predicate never matches them.
    */
  def matchesClass(cls: String): Boolean =
    (!MailboxSchema.isTypedMode(mode) || MailboxSchema.taxonomyOf(cls) == mode) &&
      exacts.forall(e => cls != null && e == cls)

  def describe: String =
    (if (MailboxSchema.isTypedMode(mode)) Seq(s"taxonomy=${MailboxSchema.modeClass(mode)}") else Nil) ++
      exacts.map(e => s"class='$e'") mkString ","
}

object MailboxTable {
  def schemaFor(opts: MailboxOptions): StructType = {
    val base = MailboxSchema.schemaFor(opts.mode)
    if (opts.virtualColumns) StructType(base ++ MailboxSchema.virtualFields)
    else base
  }
}

class MailboxTable(val opts: MailboxOptions) extends Table with SupportsRead {
  override def name(): String = s"mailbox(${opts.path}, mode=${opts.mode})"
  override def schema(): StructType = MailboxTable.schemaFor(opts)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MailboxScanBuilder(opts)
}

/** One planned partition (A4; reference PSTInputPartition,
  * table_function.hpp:87-105). Three shapes:
  *  - [[IndexedPartition]]: sidecar-planned — starts at a block
  *    checkpoint, skips `skipMatching` matching rows, emits
  *    `takeMatching` (exact count known at plan time);
  *  - [[RangePartition]]: a byte range of an unindexed file — the reader
  *    discovers record boundaries (first newline after `start`) and
  *    emits every matching record starting inside the range;
  *  - [[EnumeratedPartition]]: the matching records bounded-limit
  *    planning found in an unindexed file — the reader starts at the
  *    first offset and emits `offsets.length` matching records.
  */
sealed trait MailboxPartition extends InputPartition {
  def index: Int
  def file: String

  /** True on exactly one partition per planned file, so the sum of the
    * files-read task metric counts distinct files, not partitions (a
    * file split into N ranges is still one file).
    */
  def firstInFile: Boolean
}

final case class IndexedPartition(
    index: Int, file: String, startOffset: Long,
    skipMatching: Long, takeMatching: Long,
    firstInFile: Boolean = false) extends MailboxPartition

final case class RangePartition(
    index: Int, file: String, start: Long, length: Long,
    firstInFile: Boolean = false) extends MailboxPartition

final case class EnumeratedPartition(
    index: Int, file: String, offsets: Array[Long],
    firstInFile: Boolean = false) extends MailboxPartition

/** A slice of a real PST file's plan-enumerated node ids (the analog of
  * the reference's node-id partition queue; see [[PstScan]]). When
  * `exact` the node ids ARE the row set (already mode-classified at plan
  * time), so counts and limits are exact and the reader skips
  * re-classification. Defaults to false — the fail-safe direction: an
  * unmarked partition is re-filtered by the reader (slower, never wrong).
  */
final case class PstPartition(
    index: Int, file: String, nodeIds: Array[Long],
    exact: Boolean = false,
    firstInFile: Boolean = false) extends MailboxPartition

/** Final rows the scan answers without reading a record (A8, A9): a
  * stats-answered aggregate (one row, or one row per raw
  * `message_class`), or the count(*) of what planning counted exactly.
  * `rowsRead` is the rows-read metric its reader reports: the rows a
  * count stands for, 0 for a stats answer.
  */
final case class StaticRowsPartition(rows: Array[InternalRow], rowsRead: Long)
  extends InputPartition

object StaticRowsPartition {
  /** One count(*) row standing for `n` planned rows. */
  def count(n: Long): StaticRowsPartition =
    StaticRowsPartition(Array(new GenericInternalRow(Array[Any](n))), n)
}

/** Driver-side planning: glob → per-file metadata (sidecar index or file
  * size) → partitions. Reads O(#files) bytes — sidecars, or one 11-byte
  * head probe per unindexed file — never the corpus (A2-A4, A20).
  */
object MailboxPlanner {

  /** How every mailbox record line starts (the MailboxGen layout
    * contract); a line that does not is never a row.
    */
  val RecordStart = "{\"node_id\":"

  /** The line head the record rule reads: node_id, record_type and
    * message_class sit in a line's first 160 bytes (the MailboxGen
    * layout contract).
    */
  val RecordHeadBytes = 160

  sealed trait LineKind
  case object NotRecord extends LineKind
  case object Folder extends LineKind
  final case class Message(cls: String) extends LineKind

  /** The source's one record rule, applied to a line's
    * [[RecordHeadBytes]] head by the readers, bounded enumeration and
    * the sidecar build alike: a record starts with [[RecordStart]], and
    * is a folder or a message of the class its head names ("" for none).
    */
  def recordOf(head: String): LineKind =
    if (!head.startsWith(RecordStart)) NotRecord
    else if (head.contains("\"record_type\":\"folder\"")) Folder
    else Message(classOfHead(head))

  /** The class a message record's head names ("" when absent or null —
    * the taxonomy buckets that into notes, like the reference's missing
    * PR_MESSAGE_CLASS_A), read without a JSON parse.
    */
  private def classOfHead(head: String): String = {
    val key = "\"message_class\":\""
    val k   = head.indexOf(key)
    val end = if (k < 0) -1 else head.indexOf('"', k + key.length)
    if (end < 0) "" else head.substring(k + key.length, end)
  }

  /** Is this line head a record that survives the plan-time record
    * filter? (A5 — the analog of the reference's planning-time
    * PR_MESSAGE_CLASS_A lookup.) The class string is extracted exactly
    * and classified through the typed_bag.hpp taxonomy — never a
    * substring/prefix match.
    */
  def lineMatches(head: String, filter: RecordFilter): Boolean =
    recordOf(head) match {
      case Folder       => filter.wantFolder
      case Message(cls) => !filter.wantFolder && filter.matchesClass(cls)
      case NotRecord    => false
    }

  /** A20, the one file check of the planner's head probe and the
    * sidecar build: a mailbox dump's first bytes are a record start (an
    * empty file, or one opening with a blank or foreign line, is not).
    */
  def isMailbox(head: String): Boolean = head.startsWith(RecordStart)

  /** The node id a record's head starts with; -1 when it names none. */
  def nodeIdOf(head: String): Long =
    head.drop(RecordStart.length).takeWhile(ch => ch.isDigit || ch == '-')
      .toLongOption.getOrElse(-1L)

  /** Resolve a glob to (path, size) pairs, preserving non-local schemes.
    * Local paths stay scheme-less, and the matches of a relative local
    * pattern stay relative to the filesystem's working directory, so
    * `pst_path` matches user input.
    */
  def globStatuses(pattern: String, conf: Configuration): Seq[(String, Long)] = {
    val p  = new Path(pattern)
    val fs = p.getFileSystem(conf)
    val statuses = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
    val relativeTo =
      if (p.isAbsolute || p.toUri.getScheme != null) None
      else Some(fs.getWorkingDirectory.toUri.getPath.stripSuffix("/") + "/")
    // A20: a LITERAL path (no wildcards) that matches nothing must be
    // an error, not a silent empty scan. globStatus swallows the
    // filesystem's FileNotFoundException (filesystems that do proper
    // existence checks, e.g. the ranged-GET http FS, throw it); re-ask
    // directly so it surfaces. Zero matches for a true glob stays a
    // legitimate empty result.
    if (statuses.isEmpty && !pattern.exists(c => "*?[{".contains(c)))
      fs.getFileStatus(p)
    statuses.filter(_.isFile).map { st =>
      val uri = st.getPath.toUri
      val name =
        if (uri.getScheme == null || uri.getScheme == "file")
          relativeTo.filter(uri.getPath.startsWith)
            .fold(uri.getPath)(dir => uri.getPath.substring(dir.length))
        else st.getPath.toString
      // length-less schemes (http/s report -1) would make byte-range
      // planning vacuous (`while (start < bytes)` never runs → silent
      // empty scan): fetch once (JVM-cached) and use the real size
      val len =
        if (st.getLen >= 0) st.getLen
        else java.nio.file.Files.size(LocalBuffer.materialize(st.getPath, conf))
      name -> len
    }.sortBy(_._1)
  }

  def globFiles(pattern: String): Seq[String] =
    globStatuses(pattern, activeHadoopConf()).map(_._1)

  def activeHadoopConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** Ships `conf` to executors once, as Spark's own file scans do. Tasks
    * read it from the block manager; anything a reader factory or RDD
    * closure holds is Java-deserialized once per task instead.
    */
  def broadcastConf(conf: Configuration): Broadcast[SerializableConfiguration] =
    SparkSession.active.sparkContext.broadcast(new SerializableConfiguration(conf))

  /** The file's first bytes, read once per unindexed file to route it:
    * the PST magic ([[PstScan.isPst]]) or a mailbox dump ([[isMailbox]];
    * A20 — the analog of the reference failing the PST header check
    * and skipping the file). Fewer at EOF; empty when unreadable.
    */
  private def headOf(file: Path, conf: Configuration): Array[Byte] =
    try {
      val in = file.getFileSystem(conf).open(file)
      try in.readNBytes(RecordStart.length) finally in.close()
    } catch { case NonFatal(_) => Array.emptyByteArray }

  /** Bounded enumeration for `read_limit` on unindexed files: the
    * offsets of the first `limit` matching records. Scans line heads and
    * STOPS at `limit` matches — O(limit) rows per file, not O(file).
    */
  def enumerateBounded(file: Path, conf: Configuration,
      filter: RecordFilter, limit: Long): Array[Long] = {
    val offsets = new ArrayBuffer[Long]()
    val lines   = new LineStream(file.getFileSystem(conf).open(file))
    try {
      while (offsets.length < limit && lines.next(keepLine = false))
        if (lineMatches(lines.head, filter)) offsets += lines.lineStart
    } finally lines.close()
    offsets.toArray
  }

  /** One sidecar read per glob member, fanned out with [[perFile]]
    * (a 10,000-file archive must not pay 10,000 serial round-trips at
    * aggregate-push time). Returns None if ANY file fails `read`.
    */
  private def parallelIndexProbe[A](opts: MailboxOptions, conf: Configuration)(
      read: (MailboxIndex.FileIndex) => Option[A]): Option[Seq[A]] = {
    val results = perFile(globStatuses(opts.path, conf)) { case (name, len) =>
      val p0 = new Path(name)
      val p  = LocalBuffer.resolvePath(p0, conf)
      val fs = p.getFileSystem(conf)
      try MailboxIndex.read(fs, p, len, MailboxIndex.indexPath(p0), conf)
        .flatMap(read)
      catch { case NonFatal(_) => None }
    }
    if (results.exists(_.isEmpty)) None else Some(results.map(_.get))
  }

  /** Daemon threads shared by every planned scan's per-file metadata
    * probes: at most 16 run at once, and idle threads exit after a
    * minute, so planning a scan starts no threads of its own.
    */
  private lazy val probePool: ExecutionContext = {
    val started = new AtomicInteger()
    val pool = new ThreadPoolExecutor(16, 16, 60L, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), { (r: Runnable) =>
        val t = new Thread(r, s"mailbox-probe-${started.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
    pool.allowCoreThreadTimeOut(true)
    ExecutionContext.fromExecutorService(pool)
  }

  /** `probe` applied to every (file, length) on [[probePool]], results
    * in file order (the reference's std::async fan-out,
    * table_function.cpp:214-239).
    */
  private def perFile[B](files: Seq[(String, Long)])(
      probe: ((String, Long)) => B): Seq[B] = {
    implicit val ec: ExecutionContext = probePool
    Await.result(Future.traverse(files)(f => Future(probe(f))), Duration.Inf)
  }

  /** Statistics-only probe for aggregate pushdown: per raw message class
    * across the whole glob, the exact count plus (when `needTs`)
    * conclusive delivery-time min/max, answered entirely from fresh v3
    * sidecars — O(#files) metadata reads, zero corpus IO. Refuses
    * (None) under a read_limit or in folder mode, when any glob member
    * lacks a fresh sidecar (PST members, absent or stale sidecars), when
    * `grouped` and a matching class is the empty string (a record head
    * without the field — the scan would emit NULL there, which the
    * sidecar conflates with ""), or when `needTs` and any matching class
    * has inconclusive timestamp heads. The caller then falls back to
    * the ordinary scan plan, which is always correct.
    */
  def classStatsProbe(opts: MailboxOptions, filter: RecordFilter,
      conf: Configuration, needTs: Boolean, grouped: Boolean)
      : Option[Seq[(String, Long, Option[(Long, Long)])]] = {
    if (filter.wantFolder || opts.readLimit != Long.MaxValue) return None
    parallelIndexProbe(opts, conf)(_.classGroupStats(filter)).flatMap {
      fileRows =>
        val acc = scala.collection.mutable.LinkedHashMap[
          String, (Long, Long, Long, Long)]() // cnt, mn, mx, nonNull
        fileRows.foreach { rows =>
          rows.foreach { case (cls, cnt, mn, mx, n, unknown) =>
            if (grouped && cls.isEmpty) return None
            if (needTs && unknown > 0) return None
            val (c0, mn0, mx0, n0) =
              acc.getOrElse(cls, (0L, Long.MaxValue, Long.MinValue, 0L))
            acc(cls) = (c0 + cnt, math.min(mn0, mn), math.max(mx0, mx),
              n0 + n)
          }
        }
        Some(acc.toSeq.map { case (cls, (cnt, mn, mx, n)) =>
          (cls, cnt, if (n > 0) Some((mn, mx)) else None)
        })
    }
  }

  /** Plan result: partitions + what planning knew exactly. */
  final case class PlanResult(
      partitions: Seq[MailboxPartition],
      exactRows: Option[Long],
      totalBytes: Long,
      files: Int)

  /** Full plan: one metadata probe per file, fanned out with
    * [[perFile]], then partitions:
    * sidecar-indexed files → fixed-size row partitions with exact
    * counts; others → byte-range splits (or bounded enumeration under a
    * limit). The global limit is allocated across partitions in file
    * order, exactly.
    */
  def plan(opts: MailboxOptions, filter: RecordFilter,
      conf: Configuration): PlanResult = {
    val files      = globStatuses(opts.path, conf)
    val limit      = opts.readLimit
    val limited    = limit != Long.MaxValue

    sealed trait FilePlan { def bytes: Long }
    case class Indexed(file: String, bytes: Long, ix: MailboxIndex.FileIndex) extends FilePlan
    case class Ranged(file: String, bytes: Long) extends FilePlan
    case class Enumerated(file: String, bytes: Long, offsets: Array[Long])
        extends FilePlan
    case class Pst(file: String, bytes: Long, nids: Array[Long],
        classified: Boolean) extends FilePlan

    val filePlans: Seq[FilePlan] = perFile(files) { case (name, len) =>
      val p0 = new Path(name)
      // length-less remote schemes (http/s): probes and reads run
      // on the JVM-cached local copy globStatuses already fetched;
      // the sidecar is looked up at the ORIGINAL location
      val p  = LocalBuffer.resolvePath(p0, conf)
      val fs = p.getFileSystem(conf)
      try {
        MailboxIndex.read(fs, p, len,
            MailboxIndex.indexPath(p0), conf) match {
          case Some(ix) => Some(Indexed(name, len, ix))
          case None =>
            val head = headOf(p, conf)
            if (PstScan.isPst(head)) {
              // real PST binary: enumerate node ids from the file's
              // own index (O(index) bytes, like the reference)
              val nids = PstScan.enumerate(name, conf, filter.wantFolder)
              if (filter.filtersClass && !filter.wantFolder && limited) {
                // bounded classification so read_limit stays exact
                // and GLOBAL across partitions (the reference's
                // limit break is global, table_function.cpp):
                // read each candidate's class property until
                // `limit` matches — O(limit) property reads, the
                // PST analog of enumerateBounded
                Some(Pst(name, len,
                  PstScan.classifyBounded(name, conf, nids, filter, limit),
                  classified = true))
              } else Some(Pst(name, len, nids, classified = false))
            } else if (!isMailbox(new String(head, UTF_8))) {
              System.err.println(s"[mailbox] skipping unreadable file $name")
              None
            } else if (limited)
              Some(Enumerated(name, len, enumerateBounded(p, conf, filter, limit)))
            else Some(Ranged(name, len))
        }
      } catch {
        case NonFatal(e) => // A20: log and skip unreadable files
          System.err.println(s"[mailbox] skipping unreadable file $name: ${e.getMessage}")
          None
      }
    }.flatten

    val parts   = new ArrayBuffer[MailboxPartition]()
    var exact   = true
    var rows    = 0L
    var remain  = limit
    var fileStart = true
    def mark(): Boolean = { val f = fileStart; fileStart = false; f }

    filePlans.foreach { fp =>
      fileStart = true
      fp match {
      case Indexed(file, _, ix) if remain > 0 =>
        val total = math.min(ix.matchingCount(filter), remain)
        if (total > 0) {
          val blockMatch = ix.blockMatching(filter)
          // cumulative matching rows at each block start
          val cum = new Array[Long](ix.blocks.length)
          var c = 0L
          var i = 0
          while (i < ix.blocks.length) { cum(i) = c; c += blockMatch(i); i += 1 }
          var firstRow = 0L
          while (firstRow < total) {
            val take = math.min(opts.partitionSize.toLong, total - firstRow)
            // latest block whose cumulative count is <= firstRow
            var b = java.util.Arrays.binarySearch(cum, firstRow)
            if (b < 0) b = -b - 2
            parts += IndexedPartition(parts.length, file,
              ix.blocks(b).offset, firstRow - cum(b), take, mark())
            firstRow += take
          }
          rows += total
          remain -= total
        }
      case Enumerated(file, _, offsets) if remain > 0 =>
        val take = math.min(offsets.length.toLong, remain).toInt
        var i = 0
        while (i < take) {
          val end = math.min(i + opts.partitionSize, take)
          parts += EnumeratedPartition(parts.length, file,
            offsets.slice(i, end), mark())
          i = end
        }
        rows += take
        remain -= take
      case Ranged(file, bytes) if remain > 0 =>
        exact = false
        var start = 0L
        while (start < bytes) {
          val len = math.min(opts.partitionBytes, bytes - start)
          parts += RangePartition(parts.length, file, start, len, mark())
          start += len
        }
      case Pst(file, _, nids, classified) if remain > 0 =>
        if (!filter.filtersClass || filter.wantFolder || classified) {
          // the node enumeration IS the row set (folders, unfiltered
          // messages, or plan-classified typed nodes): exact counts,
          // exact GLOBAL limit allocation
          val total = math.min(nids.length.toLong, remain)
          var i = 0L
          while (i < total) {
            val end = math.min(i + opts.partitionSize, total).toInt
            parts += PstPartition(parts.length, file, nids.slice(i.toInt, end),
              exact = true, mark())
            i = end
          }
          rows += total
          remain -= total
        } else {
          // unlimited typed modes: class lives in each node's property
          // context; the reader classifies on the executors (plan-time
          // classification would re-read the corpus on the driver)
          exact = false
          var i = 0
          while (i < nids.length) {
            val end = math.min(i + opts.partitionSize, nids.length)
            parts += PstPartition(parts.length, file, nids.slice(i, end),
              exact = false, mark())
            i = end
          }
        }
      case _ => () // limit exhausted
      }
    }

    PlanResult(parts.toSeq, if (exact) Some(rows) else None,
      files.map(_._2).sum, files.length)
  }
}

class MailboxScanBuilder(opts: MailboxOptions)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownLimit
    with SupportsPushDownAggregates {
  import MailboxScanBuilder._

  private var requiredSchema: StructType = MailboxTable.schemaFor(opts)
  private var exactClasses: Seq[String] = Nil
  private var accepted: Array[Filter] = Array.empty
  private var limit: Option[Long] = None
  private var countStar: Boolean = false
  private var pushed: Option[PushedAggregate] = None
  // the probe's answer for the last aggregate Spark offered: Spark asks
  // supportCompletePushDown first, and pushAggregation reuses the answer
  private var probed: Option[(Aggregation, Option[PushedAggregate])] = None

  private def filter: RecordFilter = RecordFilter(opts.mode, exactClasses)

  override def pruneColumns(required: StructType): Unit =
    requiredSchema = required

  /** A5 — `message_class = '…'` becomes a plan-time row filter: exact
    * string equality on the raw column, layered on top of the mode's
    * taxonomy filter. Everything else stays residual for Spark.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, residual) = filters.partition {
      case EqualTo("message_class", _: String)
          if MailboxSchema.isMessageMode(opts.mode) => true
      case _ => false
    }
    ok.foreach { case EqualTo(_, v: String) =>
      if (!exactClasses.contains(v)) exactClasses :+= v
    }
    accepted = ok
    residual
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def pushLimit(l: Int): Boolean = {
    limit = Some(math.min(l.toLong, opts.readLimit))
    true // exact: planning allocates exactly `limit` rows (A6)
  }

  /** A9 — count(*) with no grouping is answered from planning statistics;
    * partial pushdown: each partition emits its count, Spark sums.
    *
    * Beyond count(*): MIN/MAX(message_delivery_time) — alone, together,
    * or mixed with count(*), globally or grouped by message_class — is
    * answered from the v3 sidecars' per-class statistics (the
    * parquet-footer-min/max analog) when EVERY glob member has fresh,
    * conclusive stats; [[MailboxPlanner.classStatsProbe]] decides at
    * plan time, and anything it cannot answer exactly falls back to the
    * ordinary columnar scan (Spark then aggregates the pruned columns).
    */
  override def pushAggregation(agg: Aggregation): Boolean = {
    if (limit.nonEmpty) return false
    answer(agg) match {
      case answered @ Some(_) => pushed = answered; true
      case None if countStarOnly(agg) => countStar = true; true
      case None => false
    }
  }

  /** A stats-answered aggregate is complete: the scan emits exactly the
    * final rows (one row, or one row per raw `message_class`), so Spark
    * drops its re-aggregation and the exchange under it. The lone
    * count(*) stays partial: its scan emits one count per partition.
    */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    limit.isEmpty && answer(agg).isDefined

  private def countStarOnly(agg: Aggregation): Boolean =
    agg.groupByExpressions.isEmpty && agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions()(0).isInstanceOf[CountStar]

  /** The sidecar probe's exact answer to `agg`, probed once per
    * aggregate.
    */
  private def answer(agg: Aggregation): Option[PushedAggregate] =
    probed match {
      case Some((a, result)) if a eq agg => result
      case _ =>
        val result = probe(agg)
        probed = Some((agg, result))
        result
    }

  /** Each aggregate as the statistic that answers it: count(*) or
    * min/max(message_delivery_time); None if any aggregate is another.
    */
  private def statKinds(agg: Aggregation): Option[Seq[StatKind]] = {
    def tsRef(e: org.apache.spark.sql.connector.expressions.Expression)
        : Boolean = e match {
      case nr: NamedReference =>
        nr.fieldNames.length == 1 && nr.fieldNames()(0) == TsField
      case _ => false
    }
    val kinds = agg.aggregateExpressions().toSeq.map {
      case _: CountStar              => Some(KCount)
      case m: Min if tsRef(m.column) => Some(KMin)
      case m: Max if tsRef(m.column) => Some(KMax)
      case _                         => None
    }
    if (kinds.exists(_.isEmpty)) None else Some(kinds.flatten)
  }

  /** `agg` as final rows built from the per-class sidecar statistics:
    * GROUP BY message_class emits one row per raw class, a global
    * aggregate folds the classes into one row. The lone count(*) is not
    * probed here: planning answers it per partition.
    */
  private def probe(agg: Aggregation): Option[PushedAggregate] = {
    val grouped = agg.groupByExpressions.nonEmpty
    val shapeOk = agg.groupByExpressions match {
      case Array() => !countStarOnly(agg)
      case Array(nr: NamedReference) =>
        nr.fieldNames.length == 1 && nr.fieldNames()(0) == "message_class" &&
          MailboxSchema.isMessageMode(opts.mode)
      case _ => false
    }
    for {
      kinds <- statKinds(agg)
      if shapeOk && (kinds.nonEmpty || !grouped)
      perClass <- MailboxPlanner.classStatsProbe(opts, filter,
        MailboxPlanner.activeHadoopConf(),
        needTs = kinds.exists(_ != KCount), grouped)
    } yield {
      // epoch seconds → catalyst micros; NULL when no non-null value
      def row(lead: Seq[Any], cnt: Long, minMax: Option[(Long, Long)]) =
        new GenericInternalRow((lead ++ kinds.map {
          case KCount => cnt
          case KMin   => minMax.map(_._1 * 1000000L: Any).orNull
          case KMax   => minMax.map(_._2 * 1000000L: Any).orNull
        }).toArray)
      val rows: Seq[InternalRow] =
        if (grouped) perClass.map { case (cls, cnt, minMax) =>
          row(Seq(UTF8String.fromString(cls)), cnt, minMax)
        }
        else Seq(row(Nil, perClass.map(_._2).sum,
          perClass.flatMap(_._3).reduceOption((a, b) =>
            (math.min(a._1, b._1), math.max(a._2, b._2)))))
      val aggFields = kinds.map {
        case KCount => StructField("count(*)", LongType, nullable = false)
        case KMin   => StructField(s"min($TsField)", TimestampType, nullable = true)
        case KMax   => StructField(s"max($TsField)", TimestampType, nullable = true)
      }
      PushedAggregate(
        StructType(
          if (grouped) StructField("message_class", StringType, nullable = true) +: aggFields
          else aggFields),
        grouped, rows.toArray)
    }
  }

  override def build(): Scan =
    new MailboxScan(opts, requiredSchema, filter, limit, countStar, pushed)
}

object MailboxScanBuilder {
  /** A stats-answered aggregate: its output schema and final rows. */
  final case class PushedAggregate(schema: StructType, grouped: Boolean,
      rows: Array[InternalRow])

  private val TsField = "message_delivery_time"
  private sealed trait StatKind
  private object KCount extends StatKind
  private object KMin extends StatKind
  private object KMax extends StatKind
}

/** A11 — scan progress metrics, mirroring the reference's % scanned
  * reporting (table_function.cpp:359-365) as Spark SQL custom metrics.
  */
object MailboxMetrics {
  final val RowsRead  = "mailboxRowsRead"
  final val BytesRead = "mailboxBytesRead"
  final val FilesRead = "mailboxFilesRead"

  def all: Array[CustomMetric] = Array(
    new MailboxRowsReadMetric, new MailboxBytesReadMetric,
    new MailboxFilesReadMetric)

  final case class Task(name: String, value: Long) extends CustomTaskMetric
}

// top-level with 0-arg constructors: the SQL UI re-instantiates metric
// classes reflectively when aggregating task values
class MailboxRowsReadMetric extends CustomSumMetric {
  override def name(): String = MailboxMetrics.RowsRead
  override def description(): String = "mailbox rows read"
}
class MailboxBytesReadMetric extends CustomSumMetric {
  override def name(): String = MailboxMetrics.BytesRead
  override def description(): String = "mailbox bytes read"
}
class MailboxFilesReadMetric extends CustomSumMetric {
  override def name(): String = MailboxMetrics.FilesRead
  override def description(): String = "mailbox files read"
}

class MailboxScan(
    opts: MailboxOptions,
    requiredSchema: StructType,
    filter: RecordFilter,
    limit: Option[Long],
    countStar: Boolean,
    pushed: Option[MailboxScanBuilder.PushedAggregate] = None)
  extends Scan with Batch with SupportsReportStatistics {

  // captured at plan time on the driver, so custom FileSystem schemes
  // configured on the session work in readers (A19); broadcast once per
  // scan, because BatchScanExec and AQE may ask for the factory again
  private val hadoopConf = MailboxPlanner.activeHadoopConf()
  private lazy val confBroadcast = MailboxPlanner.broadcastConf(hadoopConf)

  private lazy val planned: MailboxPlanner.PlanResult = {
    val effective = limit match {
      case Some(l) => MailboxOptions(opts.raw + ("read_limit" ->
        math.min(l, opts.readLimit).toString))
      case None => opts
    }
    MailboxPlanner.plan(effective, filter, hadoopConf)
  }

  override def readSchema(): StructType = pushed match {
    case Some(p) => p.schema
    case None if countStar =>
      StructType(Seq(StructField("count(*)", LongType, nullable = false)))
    case None => requiredSchema
  }

  override def toBatch: Batch = this

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new MailboxMicroBatchStream(opts, requiredSchema, filter)

  override def planInputPartitions(): Array[InputPartition] = pushed match {
    // fully stats-answered: one partition, zero IO (the probe already
    // paid the O(#files) sidecar reads at push time)
    case Some(p) => Array(StaticRowsPartition(p.rows, 0L))
    // A9: every count exact → ONE partition carrying the total, so a
    // 167-file archive costs one task instead of one per planned slice
    // (measured 0.84 s → ~0.2 s on the 1.17M-message reference-scale
    // probe, `graft.tools.RefScaleBench`)
    case None if countStar && planned.exactRows.isDefined =>
      Array(StaticRowsPartition.count(planned.exactRows.get))
    // partitions planning counted exactly answer with their count;
    // the rest are counted by their row readers
    case None if countStar => planned.partitions.map {
      case ip: IndexedPartition         => StaticRowsPartition.count(ip.takeMatching)
      case ep: EnumeratedPartition      => StaticRowsPartition.count(ep.offsets.length)
      case pp: PstPartition if pp.exact => StaticRowsPartition.count(pp.nodeIds.length)
      case p                            => p
    }.toArray
    case None => planned.partitions.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new MailboxReaderFactory(readSchema(), opts, filter, countStar, confBroadcast)

  override def supportedCustomMetrics(): Array[CustomMetric] =
    MailboxMetrics.all

  /** A8 — exact cardinality when planning knew it (sidecar-indexed or
    * enumerated); size-only estimate for range-planned files. A
    * stats-answered aggregate is one row and must not force a plan.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(pushed match {
        case Some(p) => 64L * p.rows.length
        case None    => planned.exactRows.map(_ * 512L).getOrElse(planned.totalBytes)
      })
    override def numRows(): java.util.OptionalLong = pushed match {
      case Some(p) => java.util.OptionalLong.of(p.rows.length.toLong)
      case None =>
        planned.exactRows
          .map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
    }
  }

  /** A12 — EXPLAIN metadata, mirroring PSTDynamicToString. */
  override def description(): String = {
    val classFilter =
      if (filter.filtersClass) s" classFilter=${filter.describe}" else ""
    pushed match {
      case Some(p) =>
        s"mailbox mode=${opts.mode} statsAggPushdown=" +
          (if (p.grouped) s"group groups=${p.rows.length}" else "true") +
          s" [${p.schema.fieldNames.mkString(", ")}]" + classFilter
      case None =>
        s"mailbox mode=${opts.mode} files=${planned.files} " +
          s"partitions=${planned.partitions.length}" +
          planned.exactRows.map(r => s" rows=$r").getOrElse(" rows=est") +
          (if (countStar) " countStarPushdown=true" else "") +
          limit.map(l => s" limit=$l").getOrElse("") + classFilter
    }
  }
}

class MailboxReaderFactory(
    readSchema: StructType,
    opts: MailboxOptions,
    filter: RecordFilter,
    countStar: Boolean,
    conf: Broadcast[SerializableConfiguration]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case sp: StaticRowsPartition => new StaticRowsReader(sp)
      case p: MailboxPartition if countStar =>
        new CountReader(rowReader(p, new StructType()))
      case p: MailboxPartition => rowReader(p, readSchema)
    }

  private def rowReader(p: MailboxPartition, schema: StructType)
      : PartitionReader[InternalRow] = p match {
    case pp: PstPartition =>
      new PstPartitionReader(pp, schema, opts, filter, conf.value.value)
    case _ =>
      new MailboxPartitionReader(p, schema, opts, filter, conf.value.value)
  }
}

/** Emits a [[StaticRowsPartition]]'s rows: no file IO at execution time. */
class StaticRowsReader(p: StaticRowsPartition)
  extends PartitionReader[InternalRow] {
  private var i = -1
  override def next(): Boolean = { i += 1; i < p.rows.length }
  override def get(): InternalRow = p.rows(i)
  override def close(): Unit = ()
  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    MailboxMetrics.Task(MailboxMetrics.RowsRead, p.rowsRead),
    MailboxMetrics.Task(MailboxMetrics.BytesRead, 0L),
    MailboxMetrics.Task(MailboxMetrics.FilesRead, 0L))
}

/** count(*) over a partition planning could not count: drains the
  * partition's row reader, built with an empty projection, into one
  * row. The count applies that reader's own split-boundary and
  * malformed-record rules, and reports its metrics.
  */
class CountReader(rows: PartitionReader[InternalRow])
  extends PartitionReader[InternalRow] {
  private var count = -1L
  override def next(): Boolean =
    if (count >= 0) false
    else {
      count = 0L
      while (rows.next()) count += 1
      true
    }
  override def get(): InternalRow = new GenericInternalRow(Array[Any](count))
  override def close(): Unit = rows.close()
  override def currentMetricsValues(): Array[CustomTaskMetric] =
    rows.currentMetricsValues()
}

/** The mailbox source's one byte→line loop (A19): the partition
  * readers, bounded `read_limit` enumeration and the sidecar build all
  * read `.mbx` lines through it. Seeks once to `startAt`, then reads the
  * Hadoop FS stream sequentially in 64 KiB chunks scanned in place for
  * newlines — no per-byte stream calls (every byte of the corpus passes
  * through this loop). With `alignToNewline`, a start past 0 first
  * skips to the next line: that partial line belongs to the previous
  * byte range (Hadoop's LineRecordReader convention).
  *
  * Each [[next]] line exposes its offset, its record head ([[head]]:
  * the first [[MailboxPlanner.RecordHeadBytes]] bytes decoded, which
  * every caller classifies with [[MailboxPlanner.recordOf]]), whether
  * it ran past the `headBytes` kept ([[truncated]]), and, when asked
  * for, its bytes ([[line]]). The sidecar build keeps
  * [[MailboxIndex.HeadBytes]] and reads them with [[headOf]].
  */
private[source] final class LineStream(
    in: FSDataInputStream,
    startAt: Long = 0L,
    alignToNewline: Boolean = false,
    headBytes: Int = MailboxPlanner.RecordHeadBytes) {

  if (startAt > 0) in.seek(startAt)
  private val buf     = new Array[Byte](1 << 16)
  private var bufLen  = 0
  private var bufPos  = 0
  private val headBuf = new Array[Byte](headBytes)
  private var headLen = 0

  /** Offset of the next unread byte. */
  var pos: Long = startAt
  /** The current line: its offset, record head, whether it is longer
    * than the kept head, and its bytes (null unless `next` kept them).
    */
  var lineStart: Long    = startAt
  var head: String       = ""
  var truncated: Boolean = false
  var line: Array[Byte]  = _

  /** Refill the chunk buffer; false at EOF. */
  private def fill(): Boolean = {
    var n = in.read(buf)
    while (n == 0) n = in.read(buf)
    if (n < 0) false
    else { bufLen = n; bufPos = 0; true }
  }

  if (alignToNewline && startAt > 0) next(keepLine = false)

  /** Advance to the next line, keeping its bytes when `keepLine`. False
    * at EOF.
    */
  def next(keepLine: Boolean): Boolean = {
    lineStart = pos
    var out: ByteArrayOutputStream = null
    headLen = 0
    var lineLen  = 0L
    var newline  = 0
    var sawBytes = false
    while (newline == 0 && (bufPos < bufLen || fill())) {
      sawBytes = true
      var i = bufPos
      while (i < bufLen && buf(i) != '\n') i += 1
      val len = i - bufPos
      if (keepLine && len > 0) {
        if (out == null) out = new ByteArrayOutputStream(math.max(256, len))
        out.write(buf, bufPos, len)
      }
      val copy = math.min(len, headBytes - headLen)
      if (copy > 0) {
        System.arraycopy(buf, bufPos, headBuf, headLen, copy)
        headLen += copy
      }
      lineLen += len
      if (i < bufLen) newline = 1
      bufPos = math.min(i + 1, bufLen)
    }
    if (!sawBytes) return false
    pos += lineLen + newline
    head = headOf(MailboxPlanner.RecordHeadBytes)
    truncated = lineLen > headBytes
    line =
      if (!keepLine) null
      else if (out == null) Array.emptyByteArray
      else out.toByteArray
    true
  }

  /** The current line's first `n` bytes (at most `headBytes`), decoded. */
  def headOf(n: Int): String = new String(headBuf, 0, math.min(n, headLen), UTF_8)

  /** Bytes consumed since `startAt`, a skipped partial line included. */
  def bytesRead: Long = pos - startAt

  def close(): Unit = in.close()
}

/** Per-task reader (A15-A18) for sidecar-indexed, byte-range and
  * enumerated partitions, with one record loop: the partition supplies
  * only where it starts, when it stops and how many matching records it
  * skips. Streams its span through one [[LineStream]] and decodes each
  * record in one streaming JSON pass that reads only projected fields,
  * nested arrays and structs included.
  *
  * A16, one rule: a value whose JSON token does not fit its column type
  * — an object or array in a scalar column, a non-number in a numeric
  * one, bad base64 — is NULL, and its whole subtree is skipped, so the
  * fields after it keep their own values. A line that is not JSON is a
  * row of NULLs. `attachments.bytes` is NULL unless
  * `read_attachment_body`; `body`/`body_html` are cut to the UTF-16 byte
  * budget; `pst_path`, `pst_name`, `__partition` and `__node_id` come
  * from the partition. An empty projection (count(*), see
  * [[CountReader]]) keeps no line bytes and decodes nothing: it only
  * classifies record heads.
  */
class MailboxPartitionReader(
    p: MailboxPartition,
    readSchema: StructType,
    opts: MailboxOptions,
    filter: RecordFilter,
    conf: Configuration) extends PartitionReader[InternalRow] {

  private lazy val factory = new JsonFactory()
  private val keepLines    = readSchema.nonEmpty

  // where the partition starts, whether that start may fall inside a
  // line, the matching records it skips, how many it takes, and the
  // offset a record must start at or before (Hadoop boundary rule: the
  // next range's align-skip discards a record starting past it)
  private val (startAt, align, skip, take, end) = p match {
    case ip: IndexedPartition =>
      (ip.startOffset, false, ip.skipMatching, ip.takeMatching, Long.MaxValue)
    case rp: RangePartition =>
      (rp.start, true, 0L, Long.MaxValue, rp.start + rp.length)
    // enumerated offsets are the partition's matching lines, in order
    case ep: EnumeratedPartition =>
      (ep.offsets.headOption.getOrElse(0L), false, 0L,
        ep.offsets.length.toLong, Long.MaxValue)
  }
  private val stream = {
    val path = LocalBuffer.resolvePath(p.file, conf)
    new LineStream(path.getFileSystem(conf).open(path), startAt, align)
  }

  private var rowsRead = 0L
  private var skipped  = 0L
  private var current: InternalRow = _

  private val fileName = new Path(p.file).getName
  private val bodyBudget: Long =
    if (opts.bodySizeBytes <= 0) 0L else opts.bodySizeBytes

  override def next(): Boolean = {
    while (rowsRead < take && stream.pos <= end &&
        stream.next(keepLine = keepLines && skipped >= skip)) {
      val head = stream.head
      if (MailboxPlanner.lineMatches(head, filter)) {
        if (skipped < skip) skipped += 1
        else {
          rowsRead += 1
          current = projectedRow(stream.line, head)
          return true
        }
      }
    }
    false
  }

  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    MailboxMetrics.Task(MailboxMetrics.RowsRead, rowsRead),
    MailboxMetrics.Task(MailboxMetrics.BytesRead, stream.bytesRead),
    MailboxMetrics.Task(MailboxMetrics.FilesRead, if (p.firstInFile) 1L else 0L))

  /** The projected row of one record line with this head. */
  private def projectedRow(line: Array[Byte], head: String): InternalRow =
    if (!keepLines) InternalRow.empty
    else {
      val values =
        try decode(line)
        catch { case NonFatal(_) => new Array[Any](readSchema.length) }
      def meta(name: String, v: => Any): Unit =
        positions(readSchema).get(name).foreach(values(_) = v)
      meta("pst_path", UTF8String.fromString(p.file))
      meta("pst_name", UTF8String.fromString(fileName))
      meta("__partition", p.index.toLong)
      meta("__node_id", MailboxPlanner.nodeIdOf(head))
      new GenericInternalRow(values)
    }

  private def decode(line: Array[Byte]): Array[Any] = {
    val values = new Array[Any](readSchema.length)
    val parser = factory.createParser(line)
    try if (parser.nextToken() == JsonToken.START_OBJECT)
      readFields(readSchema, parser, values)
    finally parser.close()
    values
  }

  // field positions by name, per struct type of the projection
  private val structPositions =
    new java.util.IdentityHashMap[StructType, Map[String, Int]]()
  private def positions(st: StructType): Map[String, Int] =
    structPositions.computeIfAbsent(st, _ => st.fieldNames.zipWithIndex.toMap)

  /** Reads the object the parser stands on into `values` at `st`'s field
    * positions; a key outside `st` is skipped whole.
    */
  private def readFields(st: StructType, parser: JsonParser,
      values: Array[Any]): Unit = {
    val at = positions(st)
    while (parser.nextToken() == JsonToken.FIELD_NAME) {
      val i = at.getOrElse(parser.currentName, -1)
      parser.nextToken()
      if (i < 0) parser.skipChildren()
      else values(i) = valueOf(st(i).name, st(i).dataType, parser)
    }
  }

  /** The value the parser stands on as `dt` (A16: NULL when its token
    * does not fit, with its subtree skipped).
    */
  private def valueOf(name: String, dt: DataType, parser: JsonParser): Any = {
    import JsonToken.{valueOf => _, _}
    val tok = parser.currentToken()
    dt match {
      case st: StructType if tok == START_OBJECT =>
        val values = new Array[Any](st.length)
        readFields(st, parser, values)
        new GenericInternalRow(values)
      case ArrayType(et, _) if tok == START_ARRAY =>
        val items = new ArrayBuffer[Any]()
        while (parser.nextToken() != END_ARRAY) items += valueOf(name, et, parser)
        new GenericArrayData(items.toArray)
      case _ =>
        parser.skipChildren()
        try dt match {
          case StringType if tok == VALUE_STRING =>
            UTF8String.fromString(truncate(name, parser.getText))
          case LongType if tok == VALUE_NUMBER_INT    => parser.getLongValue
          case IntegerType if tok == VALUE_NUMBER_INT => parser.getIntValue
          case ShortType if tok == VALUE_NUMBER_INT   => parser.getShortValue
          case DoubleType if tok == VALUE_NUMBER_INT || tok == VALUE_NUMBER_FLOAT =>
            parser.getDoubleValue
          case BooleanType if tok == VALUE_TRUE || tok == VALUE_FALSE =>
            tok == VALUE_TRUE
          case TimestampType if tok == VALUE_NUMBER_INT =>
            parser.getLongValue * 1000000L // TIMESTAMP_S → micros
          case BinaryType if tok == VALUE_STRING =>
            if (name == "bytes" && !opts.readAttachmentBody) null
            else Base64.getDecoder.decode(parser.getText)
          case _ => null // JSON null, or a token that does not fit
        } catch { case NonFatal(_) => null } // out of range, bad base64
    }
  }

  private def truncate(name: String, s: String): String =
    if (name == "body" || name == "body_html")
      MailboxText.truncateUtf16(s, bodyBudget)
    else s

  override def get(): InternalRow = current
  override def close(): Unit = stream.close()
}
