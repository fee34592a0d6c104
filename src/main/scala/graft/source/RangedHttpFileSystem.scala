package graft.source

import java.io.{FileNotFoundException, InputStream}
import java.net.{HttpURLConnection, URI, URL}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FSInputStream, FileStatus, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Seekable ranged-GET HTTP filesystem — the remote random-access path
  * of A19, matching the reference's actual remote I/O behavior: its
  * host filesystem serves `read(buf, nr_bytes, offset)` with HTTP
  * Range GETs (the reference's src/pst/duckdb_filesystem.cpp:12-36
  * delegates positioned reads to a DuckDB `FileHandle`; httpfs
  * implements that handle with ranged requests). Hadoop's bundled
  * read-only `HttpFileSystem` cannot do this — it reports length -1
  * and throws from `seek` — which forced every http(s) read through
  * the [[LocalBuffer]] whole-object fallback.
  *
  * This implementation restores random access for servers that support
  * it:
  *  - `getFileStatus` issues one HEAD; when the server reports a
  *    usable `Content-Length` AND advertises `Accept-Ranges: bytes`,
  *    the real length is returned and every downstream consumer
  *    (sidecar planner byte-ranges, enumerated partitions, PST b-tree
  *    reads) plans against it with NO data transfer;
  *  - `open` returns a seekable stream: sequential reads ride one
  *    streaming `Range: bytes=pos-` GET (a seek closes and reopens the
  *    stream — small forward seeks skip in-stream instead, so chunked
  *    scanners never reconnect per record); positioned reads
  *    (`readFully(off, buf)` — the PST reader's primitive,
  *    pst/PstFile.scala) issue one bounded
  *    `Range: bytes=off-(off+len-1)` GET each, exactly the
  *    reference's read-at-offset shape;
  *  - a server that answers HEAD without range support (or not at
  *    all) yields length -1, which [[LocalBuffer.needsBuffer]] already
  *    treats as "download once per JVM, scan locally" — the honest
  *    floor for a range-less protocol, and the previous behavior for
  *    ALL http reads.
  *
  * Activate with `spark.hadoop.fs.http.impl=graft.source.RangedHttpFileSystem`
  * (and `fs.https.impl` → [[RangedHttpsFileSystem]]). Read-only: all
  * mutation calls throw.
  *
  * Scale note: at a 72 GiB remote corpus, a projected narrow scan
  * (folder tree, per-class stats, sidecar-planned count) now moves the
  * touched byte ranges per task instead of whole objects per JVM; the
  * per-read request overhead is bounded by the readers' own chunking
  * (64 KiB data scans, node-sized PST reads), and planning stays
  * O(#files) HEADs.
  */
class RangedHttpFileSystem extends FileSystem {

  private var fsUri: URI = _
  private var workDir: Path = _

  override def initialize(name: URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    setConf(conf)
    fsUri = URI.create(
      s"${getScheme}://${name.getAuthority}")
    workDir = new Path("/")
  }

  override def getScheme: String = "http"
  override def getUri: URI = fsUri

  /** The wire URL for a Path — identity for http(s); dialect
    * filesystems (S3) remap scheme/authority to their endpoint.
    */
  protected def urlOf(f: Path): URL = f.toUri.toURL

  /** Per-request decoration hook — dialect filesystems add auth
    * headers (e.g. SigV4) here. Base: none.
    */
  protected def decorate(c: HttpURLConnection, method: String,
      f: Path): Unit = ()

  private def connect(f: Path, method: String,
      range: Option[String]): HttpURLConnection = {
    val c = urlOf(f).openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    c.setConnectTimeout(30000)
    c.setReadTimeout(120000)
    c.setInstanceFollowRedirects(true)
    range.foreach(r => c.setRequestProperty("Range", r))
    decorate(c, method, f)
    c
  }

  /** One HEAD: usable length exactly when the server reports both a
    * Content-Length and `Accept-Ranges: bytes`. When HEAD is unusable
    * (method not allowed, no Accept-Ranges, missing length), a 1-byte
    * `Range: bytes=0-0` GET probe settles it: a 206 with a
    * `Content-Range: bytes 0-0/N` total proves range support AND
    * yields the length — the same HEAD-then-probe ladder the
    * reference's host httpfs climbs. Anything else → -1 (the
    * LocalBuffer whole-object-fallback marker). 404 →
    * FileNotFoundException so missing remote files fail scans instead
    * of planning empty ones.
    */
  override def getFileStatus(f: Path): FileStatus = {
    val c = connect(f, "HEAD", None)
    val (code, len, ranges) =
      try {
        val code = c.getResponseCode
        (code, c.getContentLengthLong,
          Option(c.getHeaderField("Accept-Ranges")).exists(
            _.toLowerCase.contains("bytes")))
      } finally c.disconnect()
    if (code == 404 || code == 410)
      throw new FileNotFoundException(f.toString)
    val effLen =
      if (code / 100 == 2 && len >= 0 && ranges) len
      else probeRangeLength(f)
    new FileStatus(effLen, false, 1, 64L * 1024 * 1024, 0L,
      f.makeQualified(fsUri, workDir))
  }

  private val ContentRangeTotal = """bytes\s+\d+-\d+/(\d+)""".r

  private def probeRangeLength(f: Path): Long = {
    val c = connect(f, "GET", Some("bytes=0-0"))
    try {
      if (c.getResponseCode != 206) -1L
      else
        Option(c.getHeaderField("Content-Range")) match {
          case Some(ContentRangeTotal(total)) => total.toLong
          case _                              => -1L
        }
    } catch { case _: java.io.IOException => -1L } finally {
      // drain the 1-byte body so the connection is reusable
      try c.getInputStream.close() catch { case _: Throwable => () }
      c.disconnect()
    }
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val len = getFileStatus(f).getLen
    new FSDataInputStream(new RangedHttpInputStream(this, f, len))
  }

  override def listStatus(f: Path): Array[FileStatus] =
    Array(getFileStatus(f))

  override def setWorkingDirectory(d: Path): Unit = workDir = d
  override def getWorkingDirectory: Path = workDir

  private def readOnly = new UnsupportedOperationException(
    "RangedHttpFileSystem is read-only")
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = throw readOnly
  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream = throw readOnly
  override def rename(src: Path, dst: Path): Boolean = throw readOnly
  override def delete(f: Path, recursive: Boolean): Boolean = throw readOnly
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    throw readOnly

  /** A bounded range GET: `bytes=off-(off+len-1)`. 206 → stream starts
    * at `off`; 200 → server ignored the range, skip to `off`; 416 →
    * past EOF. Used by both the sequential stream (open-at-position)
    * and positioned reads.
    */
  private[source] def openAt(f: Path, off: Long,
      lastIncl: Long = -1L): InputStream = {
    val range =
      if (lastIncl >= 0) s"bytes=$off-$lastIncl" else s"bytes=$off-"
    val c = connect(f, "GET", Some(range))
    val code = c.getResponseCode
    if (code == 416) { c.disconnect(); InputStream.nullInputStream() }
    else if (code == 206) c.getInputStream
    else if (code / 100 == 2) {
      // range-less server: full body — honor the contract by skipping
      val in = c.getInputStream
      if (off > 0) {
        try in.skipNBytes(off)
        catch { case _: java.io.EOFException => // offset past EOF
          in.close(); return InputStream.nullInputStream()
        }
      }
      in
    } else {
      c.disconnect()
      throw new java.io.IOException(s"HTTP $code reading $f at $off")
    }
  }
}

/** https twin — same mechanics over TLS. */
class RangedHttpsFileSystem extends RangedHttpFileSystem {
  override def getScheme: String = "https"
}

/** Seekable stream over ranged GETs (see [[RangedHttpFileSystem]]).
  * Sequential reads ride bounded chunk requests that grow
  * geometrically (8 KiB → 16 MiB): a format-detect peek costs one
  * small range, a whole-file drain costs O(log) requests — never an
  * open-ended `bytes=pos-` stream whose unread tail the server ships
  * anyway (that is an object download wearing a Range header). A
  * forward seek inside the open chunk skips in-stream, so chunked
  * scanners stay on one connection; other seeks reconnect at the new
  * offset. Positioned reads never disturb the sequential stream: each
  * issues its own exactly-bounded range. When the length is unknown
  * (range-less server — the LocalBuffer fallback is about to copy the
  * whole object), the stream is one plain GET.
  */
private[source] class RangedHttpInputStream(
    fs: RangedHttpFileSystem, f: Path, length: Long)
  extends FSInputStream {

  private val SkipWindow = 256L * 1024
  private val ChunkInit  = 8L * 1024
  private val ChunkMax   = 16L * 1024 * 1024
  private var chunk: Long = ChunkInit
  private var pos: Long = 0L
  /** Exclusive end of the currently open chunk (Long.MaxValue for the
    * unknown-length single-stream mode).
    */
  private var streamEnd: Long = 0L
  private var in: InputStream = _

  private def ensureOpen(): InputStream = {
    if (in == null) {
      if (length < 0) {
        in = fs.openAt(f, pos)
        streamEnd = Long.MaxValue
      } else {
        val end = math.min(pos + chunk, length)
        in = fs.openAt(f, pos, end - 1)
        streamEnd = end
        chunk = math.min(chunk * 2, ChunkMax)
      }
    }
    in
  }

  private def dropStream(): Unit =
    if (in != null) { try in.close() catch { case _: Throwable => () }; in = null }

  override def seek(newPos: Long): Unit = {
    if (newPos == pos) return
    if (in != null && newPos > pos && newPos - pos <= SkipWindow &&
        newPos < streamEnd) {
      in.skipNBytes(newPos - pos)
    } else dropStream()
    pos = newPos
  }

  override def getPos: Long = pos
  override def seekToNewSource(targetPos: Long): Boolean = false

  override def read(): Int = {
    if (length >= 0 && pos >= length) return -1
    var v = ensureOpen().read()
    if (v < 0 && length >= 0 && pos < length) {
      dropStream() // chunk exhausted; next chunk continues at pos
      v = ensureOpen().read()
    }
    if (v >= 0) pos += 1
    v
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (len == 0) return 0
    if (length >= 0 && pos >= length) return -1
    var n = ensureOpen().read(b, off, len)
    if (n < 0 && length >= 0 && pos < length) {
      dropStream() // chunk exhausted; next chunk continues at pos
      n = ensureOpen().read(b, off, len)
    }
    if (n > 0) pos += n
    n
  }

  /** Positioned read = one bounded range GET; the sequential stream and
    * `pos` are untouched (PositionedReadable contract).
    */
  override def read(position: Long, b: Array[Byte], off: Int,
      len: Int): Int = {
    if (len == 0) return 0
    if (length >= 0 && position >= length) return -1
    val s = fs.openAt(f, position, position + len - 1)
    try {
      var total = 0
      var n = 0
      while (total < len && { n = s.read(b, off + total, len - total); n > 0 })
        total += n
      if (total == 0) -1 else total
    } finally s.close()
  }

  override def available(): Int =
    if (length >= 0) math.min(length - pos, Int.MaxValue.toLong).toInt max 0
    else 0

  override def close(): Unit = dropStream()
}
