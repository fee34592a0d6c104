package graft

import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}
import java.util.Collections

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.source.S3SigV4
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end `s3a://` reads against an in-JVM S3-dialect stub — the
  * object-store scheme the reference's host httpfs provides
  * (/root/reference/README.md:58-69; the sandbox has no egress and no
  * AWS connector jars, so an in-JVM stub speaking the S3 GET/HEAD
  * subset is the honest way to exercise it).
  *
  * The stub is NOT a pushover: it verifies real AWS SigV4 header
  * signatures (recomputed server-side with the shared secret — a
  * wrong secret key is a 403), serves HEAD with Content-Length +
  * Accept-Ranges + ETag, honors Range with 206/Content-Range, and
  * answers missing keys with S3-shaped XML 404s. The assertions mirror
  * RangedHttpReadSpec: identical results to local reads, ranged (not
  * whole-object) data movement, failed auth fails the scan.
  */
class S3ReadSpec extends AnyFunSuite with BeforeAndAfterAll {

  case class Req(method: String, path: String, range: Option[String],
      served: Long, authOk: Boolean)

  private val reqs = Collections.synchronizedList(
    new java.util.ArrayList[Req]())
  private var server: HttpServer = _
  private var port: Int = 0

  private val Access = "GRAFTTESTACCESSKEY"
  private val Secret = "graft-test-secret-key-not-a-real-one"
  private val Region = "us-east-1"

  private val objects = Map(
    "/test-bucket/pst/unittest.pst" -> "fixtures/mailbox/unittest.pst",
    "/test-bucket/mbx/synth_a.mbx"  -> "fixtures/mailbox/synth_a.mbx",
    "/test-bucket/mbx/synth_a.mbx.idx" -> "fixtures/mailbox/synth_a.mbx.idx",
    // glob corpus: two PSTs behind one wildcard (same local bytes under
    // two keys — enumeration is what's under test), plus both synthetic
    // mailboxes + sidecars under a shared prefix
    "/test-bucket/multi/a.pst" -> "fixtures/mailbox/unittest.pst",
    "/test-bucket/multi/b.pst" -> "fixtures/mailbox/unittest.pst",
    "/test-bucket/multi/mbx/synth_a.mbx" -> "fixtures/mailbox/synth_a.mbx",
    "/test-bucket/multi/mbx/synth_a.mbx.idx" -> "fixtures/mailbox/synth_a.mbx.idx",
    "/test-bucket/multi/mbx/synth_b.mbx" -> "fixtures/mailbox/synth_b.mbx",
    "/test-bucket/multi/mbx/synth_b.mbx.idx" -> "fixtures/mailbox/synth_b.mbx.idx"
  )

  private val RangeSpec = """bytes=(\d+)-(\d*)""".r

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("s3-read-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.hadoop.fs.s3a.impl", "graft.source.S3LiteFileSystem")
    .config("spark.hadoop.fs.s3a.access.key", Access)
    .config("spark.hadoop.fs.s3a.secret.key", Secret)
    .config("spark.hadoop.fs.s3a.endpoint.region", Region)
    // 2-entry ListObjectsV2 pages: every multi-object listing in this
    // spec must walk the continuation-token path to enumerate fully
    .config("spark.hadoop.fs.s3a.paging.maximum", "2")
    .getOrCreate()

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val path   = ex.getRequestURI.getPath
        val method = ex.getRequestMethod
        val range  = Option(ex.getRequestHeaders.getFirst("Range"))
        val authOk = verify(ex)
        val rawQuery = Option(ex.getRequestURI.getRawQuery).getOrElse("")
        if (!authOk) {
          reqs.add(Req(method, path, range, 0, authOk = false))
          val err = ("<?xml version=\"1.0\"?><Error>" +
            "<Code>SignatureDoesNotMatch</Code></Error>").getBytes
          ex.sendResponseHeaders(403, err.length.toLong)
          ex.getResponseBody.write(err)
        } else if (method == "GET" && path.stripSuffix("/") == "/test-bucket"
            && rawQuery.contains("list-type=2")) {
          handleList(ex, rawQuery)
        } else objects.get(path) match {
          case None =>
            reqs.add(Req(method, path, range, 0, authOk = true))
            val err = ("<?xml version=\"1.0\"?><Error>" +
              "<Code>NoSuchKey</Code></Error>").getBytes
            if (method == "HEAD") ex.sendResponseHeaders(404, -1)
            else {
              ex.sendResponseHeaders(404, err.length.toLong)
              ex.getResponseBody.write(err)
            }
          case Some(f) =>
            val bytes = Files.readAllBytes(Paths.get(f))
            ex.getResponseHeaders.set("Accept-Ranges", "bytes")
            ex.getResponseHeaders.set("ETag",
              "\"" + Integer.toHexString(java.util.Arrays.hashCode(bytes)) + "\"")
            ex.getResponseHeaders.set("x-amz-request-id", "GRAFTSTUB")
            method match {
              case "HEAD" =>
                reqs.add(Req("HEAD", path, range, 0, authOk = true))
                ex.getResponseHeaders.set("Content-Length",
                  bytes.length.toString)
                ex.sendResponseHeaders(200, -1)
              case _ =>
                range match {
                  case Some(RangeSpec(a, b)) =>
                    val from = a.toLong.toInt
                    val to = (if (b.isEmpty) bytes.length - 1L
                              else math.min(b.toLong, bytes.length - 1L)).toInt
                    val n = math.max(to - from + 1, 0)
                    reqs.add(Req("GET", path, range, n.toLong, authOk = true))
                    ex.getResponseHeaders.set("Content-Range",
                      s"bytes $from-$to/${bytes.length}")
                    ex.sendResponseHeaders(206, n.toLong)
                    ex.getResponseBody.write(bytes, from, n)
                  case _ =>
                    reqs.add(Req("GET", path, range, bytes.length.toLong,
                      authOk = true))
                    ex.sendResponseHeaders(200, bytes.length.toLong)
                    ex.getResponseBody.write(bytes)
                }
            }
        }
        ex.close()
      }
    })
    server.start()
    port = server.getAddress.getPort
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.hadoopConfiguration
      .set("fs.s3a.endpoint", s"http://127.0.0.1:$port")
  }

  /** Recompute the SigV4 signature with the shared secret (query string
    * included — ListObjectsV2 requests sign theirs); a request is
    * authorized iff its Authorization header matches exactly.
    */
  private def verify(ex: HttpExchange): Boolean = {
    val h = ex.getRequestHeaders
    (for {
      auth    <- Option(h.getFirst("Authorization"))
      amzDate <- Option(h.getFirst("x-amz-date"))
      host    <- Option(h.getFirst("Host"))
    } yield {
      val expect = S3SigV4.authorization(ex.getRequestMethod,
        ex.getRequestURI.getPath,
        Option(ex.getRequestURI.getRawQuery).getOrElse(""),
        host, amzDate, Region, Access, Secret)
      auth == expect
    }).getOrElse(false)
  }

  /** ListObjectsV2 over the fixture key set: prefix + `delimiter=/`
    * grouping into CommonPrefixes, lexicographic order,
    * max-keys/continuation-token pagination (token = resume-after
    * entry name), S3-shaped XML.
    */
  private def handleList(ex: HttpExchange, rawQuery: String): Unit = {
    def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
    val params = rawQuery.split("&").filter(_.contains("="))
      .map { p => val Array(k, v) = p.split("=", 2); dec(k) -> dec(v) }
      .toMap
    val prefix  = params.getOrElse("prefix", "")
    val delim   = params.get("delimiter")
    val maxKeys = params.get("max-keys").map(_.toInt).getOrElse(1000)
    val after   = params.get("continuation-token")

    val keys = objects.keys.map(_.stripPrefix("/test-bucket/"))
      .filter(_.startsWith(prefix)).toSeq.sorted
    // entries in key order: Left(commonPrefix) | Right((key, size))
    val entries = scala.collection.mutable.LinkedHashMap
      .empty[String, Either[String, (String, Long)]]
    keys.foreach { k =>
      val rest = k.drop(prefix.length)
      delim.map(d => rest.indexOf(d)).filter(_ >= 0) match {
        case Some(i) =>
          val cp = prefix + rest.take(i + 1)
          entries.getOrElseUpdate(cp, Left(cp))
        case None =>
          entries.getOrElseUpdate(k,
            Right(k -> Files.size(Paths.get(objects("/test-bucket/" + k)))))
      }
    }
    val ordered = entries.toSeq.sortBy(_._1)
      .dropWhile { case (name, _) => after.exists(name <= _) }
    val page      = ordered.take(maxKeys)
    val truncated = ordered.length > maxKeys
    val body = {
      val sb = new StringBuilder
      sb ++= "<?xml version=\"1.0\" encoding=\"UTF-8\"?>"
      sb ++= "<ListBucketResult><Name>test-bucket</Name>"
      sb ++= s"<Prefix>$prefix</Prefix><KeyCount>${page.length}</KeyCount>"
      sb ++= s"<MaxKeys>$maxKeys</MaxKeys>"
      sb ++= s"<IsTruncated>$truncated</IsTruncated>"
      if (truncated)
        sb ++= s"<NextContinuationToken>${page.last._1}</NextContinuationToken>"
      page.foreach {
        case (_, Right((k, size))) =>
          sb ++= s"<Contents><Key>$k</Key><Size>$size</Size></Contents>"
        case (_, Left(cp)) =>
          sb ++= s"<CommonPrefixes><Prefix>$cp</Prefix></CommonPrefixes>"
      }
      sb ++= "</ListBucketResult>"
      sb.toString.getBytes("UTF-8")
    }
    reqs.add(Req("LIST", s"?prefix=$prefix", None, page.length.toLong,
      authOk = true))
    ex.getResponseHeaders.set("Content-Type", "application/xml")
    ex.sendResponseHeaders(200, body.length.toLong)
    ex.getResponseBody.write(body)
  }

  override def afterAll(): Unit = {
    spark.stop()
    if (server != null) server.stop(0)
  }

  private def snapshot(): Seq[Req] = reqs.synchronized(reqs.asScala.toVector)
  private def reset(): Unit = reqs.synchronized(reqs.clear())

  private def read(mode: String, path: String): DataFrame =
    spark.read.format("mailbox").option("mode", mode).load(path)

  test("PST contacts via s3a equal the local read, over signed ranged GETs") {
    reset()
    val url = "s3a://test-bucket/pst/unittest.pst"
    val remote = read("contacts", url)
      .select("given_name", "surname").orderBy("given_name")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val local = read("contacts", "fixtures/mailbox/unittest.pst")
      .select("given_name", "surname").orderBy("given_name")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(remote.nonEmpty && remote.sameElements(local))

    val rs = snapshot().filter(_.path == "/test-bucket/pst/unittest.pst")
    assert(rs.nonEmpty && rs.forall(_.authOk), "every request SigV4-signed")
    assert(rs.exists(_.method == "HEAD"), "expected HEAD-based sizing")
    val gets = rs.filter(_.method == "GET")
    assert(gets.nonEmpty && gets.forall(_.range.isDefined),
      s"every S3 data GET must be ranged: ${gets.filter(_.range.isEmpty)}")
  }

  test("rows carry the user's s3a URL") {
    val url = "s3a://test-bucket/pst/unittest.pst"
    val paths = read("folders", url).select("pst_path")
      .distinct().collect().map(_.getString(0))
    assert(paths.toSeq === Seq(url))
  }

  test("mbx + sidecar via s3a: counts match local, sidecar read is ranged") {
    reset()
    val url = "s3a://test-bucket/mbx/synth_a.mbx"
    val remote = read("messages", url)
    val local  = read("messages", "fixtures/mailbox/synth_a.mbx")
    assert(remote.count() === local.count())
    assert(remote.count() > 0)
    val idx = snapshot()
      .filter(r => r.path == "/test-bucket/mbx/synth_a.mbx.idx" &&
        r.method == "GET")
    assert(idx.nonEmpty && idx.forall(_.range.isDefined),
      "sidecar planning must ride ranged GETs")
  }

  test("s3a wildcard enumerates via ListObjectsV2 and scans every match") {
    reset()
    val remote = read("contacts", "s3a://test-bucket/multi/*.pst")
    val local  = read("contacts", "fixtures/mailbox/unittest.pst")
    // two keys behind the wildcard, each the unittest corpus
    assert(remote.count() === 2 * local.count())
    val paths = remote.select("pst_path").distinct()
      .collect().map(_.getString(0)).sorted
    assert(paths.toSeq === Seq("s3a://test-bucket/multi/a.pst",
      "s3a://test-bucket/multi/b.pst"))
    val lists = snapshot().filter(_.method == "LIST")
    assert(lists.nonEmpty, "glob resolution must ride ListObjectsV2")
    // multi/ holds 3 entries (a.pst, b.pst, mbx/) with 2-entry pages:
    // full enumeration requires the continuation-token walk
    assert(lists.count(_.path == "?prefix=multi/") >= 2,
      s"expected a paginated listing, got: $lists")
    assert(lists.forall(_.authOk), "LIST requests must be SigV4-signed")
  }

  test("s3a mbx glob: both mailboxes scanned, sidecar planning intact") {
    reset()
    val remote = read("messages", "s3a://test-bucket/multi/mbx/*.mbx")
    val localA = read("messages", "fixtures/mailbox/synth_a.mbx")
    val localB = read("messages", "fixtures/mailbox/synth_b.mbx")
    assert(remote.count() === localA.count() + localB.count())
    val idx = snapshot().filter(r => r.method == "GET" &&
      r.path.endsWith(".idx"))
    assert(idx.map(_.path).distinct.size === 2,
      "each glob member's sidecar must be read (O(#files) planning)")
    assert(idx.forall(_.range.isDefined),
      "sidecar reads must stay ranged under the glob path")
  }

  test("directory prefix stats as a directory; unknown prefix is missing") {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path("s3a://test-bucket/multi")
    val fs  = dir.getFileSystem(conf)
    assert(fs.getFileStatus(dir).isDirectory,
      "a pure key prefix must present as a directory")
    val ls = fs.listStatus(dir).map(s =>
      (s.getPath.getName, s.isDirectory)).sortBy(_._1)
    assert(ls.toSeq === Seq(("a.pst", false), ("b.pst", false),
      ("mbx", true)))
    intercept[java.io.FileNotFoundException] {
      fs.getFileStatus(new org.apache.hadoop.fs.Path(
        "s3a://test-bucket/no-such-prefix"))
    }
  }

  test("a wrong secret key fails the read (403, not silent emptiness)") {
    // isolated conf (cache-busted) so the shared session's credentials
    // are untouched; a bad signature makes sizing unusable (-1) and
    // the first data read surfaces the 403 as an IOException
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    conf.set("fs.s3a.secret.key", "not-the-secret")
    conf.set("fs.s3a.impl.disable.cache", "true")
    val p  = new org.apache.hadoop.fs.Path("s3a://test-bucket/pst/unittest.pst")
    val fs = p.getFileSystem(conf)
    assert(fs.getFileStatus(p).getLen === -1L,
      "403 HEAD/probe must yield no usable length, not a fake size")
    val e = intercept[java.io.IOException] { fs.open(p).read() }
    assert(e.getMessage.contains("403"), s"expected HTTP 403, got: $e")
  }

  test("missing key fails the scan cleanly") {
    val e = intercept[Exception] {
      read("messages", "s3a://test-bucket/mbx/nope.mbx").count()
    }
    assert(e != null)
  }
}
