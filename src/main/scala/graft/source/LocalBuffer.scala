package graft.source

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Download-then-scan fallback for Hadoop filesystems that cannot serve
  * seek-based readers — the remote-protocol path of A19.
  *
  * Hadoop's read-only `http://`/`https://` filesystems
  * (`org.apache.hadoop.fs.http.HttpFileSystem`, bundled with Spark)
  * report file length -1 and throw `UnsupportedOperationException` from
  * `seek`/positioned reads, but the PST reader (node/block b-trees) and
  * the indexed/enumerated mailbox partitions are seek-based by design.
  * The honest fallback for a range-less protocol is to fetch the object
  * once and scan locally — the same shape as the reference's hosted-
  * filesystem demo (`read_pst_contacts('https://…/unittest.pst')`,
  * the reference's README.md:58-69, served by its host's httpfs), which
  * likewise falls back to whole-object GET when a server cannot do
  * range requests.
  *
  * The copy is cached per JVM keyed by the source URI: the driver's
  * planning pass and every task in an executor share ONE download per
  * file (spec-asserted by counting server GETs in HttpReadSpec). At
  * cluster scale that is one fetch per executor JVM — the floor for a
  * protocol with no range reads. Temp files are `deleteOnExit`.
  */
object LocalBuffer {

  private val cache = new ConcurrentHashMap[String, java.nio.file.Path]()

  /** Does this path's filesystem need local buffering? True exactly when
    * the scheme cannot report a length (http/https return -1) — the
    * marker that byte-range planning and seeks are unavailable.
    */
  def needsBuffer(p: Path, conf: Configuration): Boolean =
    try p.getFileSystem(conf).getFileStatus(p).getLen < 0
    catch { case NonFatal(_) => false } // missing file: let open() report it

  /** Fetch `p` to a JVM-cached local temp file (one download per JVM per
    * URI; concurrent callers for the same URI serialize on the cache
    * entry). Propagates IO failures — a 404 is an error, never cached.
    */
  def materialize(p: Path, conf: Configuration): java.nio.file.Path =
    cache.computeIfAbsent(p.toUri.toString, _ => {
      val fs  = p.getFileSystem(conf)
      val tmp = java.nio.file.Files.createTempFile("graft-fetch-", "-" + p.getName)
      tmp.toFile.deleteOnExit()
      val in = fs.open(p)
      try
        java.nio.file.Files.copy(in, tmp,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally in.close()
      tmp
    })

  /** The path seek-based readers should open: the original for normal
    * filesystems, the JVM-local copy for length-less remote schemes.
    */
  def resolvePath(p: Path, conf: Configuration): Path =
    if (needsBuffer(p, conf)) new Path(materialize(p, conf).toUri) else p

  def resolvePath(file: String, conf: Configuration): Path =
    resolvePath(new Path(file), conf)
}
