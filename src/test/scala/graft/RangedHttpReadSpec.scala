package graft

import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}
import java.util.Collections

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.source.{MailboxOptions, MailboxPlanner, RangePartition, RecordFilter}

/** A19's remote RANDOM-ACCESS path: the seekable ranged-GET filesystem
  * (graft.source.RangedHttpFileSystem) against an in-JVM server that
  * implements HEAD + `Range` (206) — the I/O shape of the reference's
  * remote reads (the reference's src/pst/duckdb_filesystem.cpp:12-36
  * delegates read-at-offset to its host; httpfs serves those with
  * byte-range requests). Complements HttpReadSpec, which pins the
  * whole-object LocalBuffer fallback for range-less servers.
  *
  * The assertions here are the scale contract:
  *  - a projected narrow scan moves byte RANGES, not objects — every
  *    data GET carries a Range header and the total bytes served stay
  *    well under the file size;
  *  - planning is HEAD-only (O(#files) metadata requests, no data);
  *  - results are identical to a local read;
  *  - a server that answers range requests with 200-full-body still
  *    yields correct results (the skip-to-offset path).
  */
class RangedHttpReadSpec extends AnyFunSuite with SessionSuite {

  /** One recorded request. */
  case class Req(method: String, path: String, range: Option[String],
      served: Long)

  private val reqs = Collections.synchronizedList(
    new java.util.ArrayList[Req]())
  private var server: HttpServer = _
  private var port: Int = 0
  /** When false, the server ignores Range and always sends the full
    * body with a 200 (range-support downgrade toggle).
    */
  @volatile private var honorRanges = true

  private val served = Map(
    "/unittest.pst"    -> "fixtures/mailbox/unittest.pst",
    "/synth_a.mbx"     -> "fixtures/mailbox/synth_a.mbx",
    "/synth_a.mbx.idx" -> "fixtures/mailbox/synth_a.mbx.idx",
    "/synth_b.mbx"     -> "fixtures/mailbox/synth_b.mbx" // served unindexed
  )

  private val RangeSpec = """bytes=(\d+)-(\d*)""".r

  override def beforeAll(): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.http.impl", "graft.source.RangedHttpFileSystem")
    conf.set("fs.https.impl", "graft.source.RangedHttpsFileSystem")
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val path  = ex.getRequestURI.getPath
        val range = Option(ex.getRequestHeaders.getFirst("Range"))
        served.get(path) match {
          case None =>
            reqs.add(Req(ex.getRequestMethod, path, range, 0))
            ex.sendResponseHeaders(404, -1)
          case Some(f) =>
            val bytes = Files.readAllBytes(Paths.get(f))
            ex.getResponseHeaders.set("Accept-Ranges", "bytes")
            ex.getRequestMethod match {
              case "HEAD" =>
                reqs.add(Req("HEAD", path, range, 0))
                ex.getResponseHeaders.set("Content-Length",
                  bytes.length.toString)
                ex.sendResponseHeaders(200, -1)
              case _ =>
                range.filter(_ => honorRanges) match {
                  case Some(RangeSpec(a, b)) =>
                    val from = a.toLong.toInt
                    val to = (if (b.isEmpty) bytes.length - 1L
                              else math.min(b.toLong, bytes.length - 1L)).toInt
                    val n = math.max(to - from + 1, 0)
                    reqs.add(Req("GET", path, range, n.toLong))
                    ex.getResponseHeaders.set("Content-Range",
                      s"bytes $from-$to/${bytes.length}")
                    ex.sendResponseHeaders(206, n.toLong)
                    ex.getResponseBody.write(bytes, from, n)
                  case _ =>
                    reqs.add(Req("GET", path, range, bytes.length.toLong))
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
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop(0)
    super.afterAll()
  }

  private def snapshot(): Seq[Req] = reqs.synchronized(reqs.asScala.toVector)
  private def reset(): Unit = reqs.synchronized(reqs.clear())

  private def read(mode: String, path: String): DataFrame =
    spark.read.format("mailbox").option("mode", mode).load(path)

  test("projected narrow PST scan moves byte ranges, not the object") {
    reset()
    val url = s"http://127.0.0.1:$port/unittest.pst"
    val remote = read("folders", url)
      .select("display_name", "message_count").orderBy("display_name")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val local = read("folders", "fixtures/mailbox/unittest.pst")
      .select("display_name", "message_count").orderBy("display_name")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(remote.nonEmpty && remote.sameElements(local))

    val rs   = snapshot().filter(_.path == "/unittest.pst")
    val gets = rs.filter(_.method == "GET")
    val size = Files.size(Paths.get("fixtures/mailbox/unittest.pst"))
    assert(rs.exists(_.method == "HEAD"), "expected HEAD-based sizing")
    assert(gets.nonEmpty, "expected ranged data GETs")
    assert(gets.forall(_.range.isDefined),
      s"every data GET must carry a Range header: $gets")
    val moved = gets.map(_.served).sum
    val profile = gets.groupBy(_.range.exists(_.endsWith("-")))
      .map { case (openEnded, g) =>
        s"openEnded=$openEnded n=${g.size} served=${g.map(_.served).sum} " +
          s"max=${g.map(_.served).max}" }
      .mkString("; ")
    assert(moved < size / 2,
      s"narrow folder scan moved $moved of $size bytes [$profile] — " +
        "that is an object download, not ranged access")
  }

  test("mbx + sidecar: planning stays O(#files) and sidecar-backed over ranges") {
    reset()
    val url = s"http://127.0.0.1:$port/synth_a.mbx"
    val remote = read("messages", url)
    val local  = read("messages", "fixtures/mailbox/synth_a.mbx")
    assert(remote.count() === local.count())
    assert(remote.count() > 0)

    val rs = snapshot()
    // every data/sidecar GET is ranged; no full-object 200 downloads
    val gets = rs.filter(_.method == "GET")
    assert(gets.forall(_.range.isDefined),
      s"un-ranged GET observed: ${gets.filter(_.range.isEmpty)}")
    // the sidecar fast path survives: its bytes come from ranged reads
    // of the .idx, never a re-derivation over the data file
    assert(rs.exists(r => r.path == "/synth_a.mbx.idx" && r.method == "GET"))
  }

  test("planning an unindexed mbx reads the data file's head once") {
    // one head read routes the file: not PST, mailbox-shaped, no sidecar
    reset()
    val opts = MailboxOptions(Map("path" -> s"http://127.0.0.1:$port/synth_b.mbx"))
    val plan = MailboxPlanner.plan(opts, RecordFilter(opts.mode),
      spark.sessionState.newHadoopConf())
    assert(plan.partitions.nonEmpty &&
      plan.partitions.forall(_.isInstanceOf[RangePartition]), plan.partitions)
    val gets = snapshot().filter(r => r.path == "/synth_b.mbx" && r.method == "GET")
    assert(gets.length === 1, gets)
  }

  test("remote equals local for PST contacts over ranged https") {
    // TLS twin of the ranged path (the reference's demo protocol is
    // https); self-signed cert scoped to this test
    import javax.net.ssl.{HttpsURLConnection, KeyManagerFactory, SSLContext, TrustManagerFactory}
    val ksPath = Files.createTempDirectory("ranged_https_ks")
      .resolve("ks.p12").toString
    val gen = new ProcessBuilder("keytool", "-genkeypair", "-alias", "t",
      "-keyalg", "RSA", "-keysize", "2048", "-storetype", "PKCS12",
      "-keystore", ksPath, "-storepass", "changeit",
      "-dname", "CN=127.0.0.1", "-ext", "SAN=ip:127.0.0.1",
      "-validity", "2").inheritIO().start()
    assert(gen.waitFor() === 0, "keytool failed")
    val ks = java.security.KeyStore.getInstance("PKCS12")
    val in = Files.newInputStream(Paths.get(ksPath))
    try ks.load(in, "changeit".toCharArray) finally in.close()
    val kmf = KeyManagerFactory.getInstance(KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, "changeit".toCharArray)
    val tmf = TrustManagerFactory.getInstance(TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(ks)
    val serverCtx = SSLContext.getInstance("TLS")
    serverCtx.init(kmf.getKeyManagers, null, null)
    val clientCtx = SSLContext.getInstance("TLS")
    clientCtx.init(null, tmf.getTrustManagers, null)

    val bytes = Files.readAllBytes(Paths.get("fixtures/mailbox/unittest.pst"))
    val tls = com.sun.net.httpserver.HttpsServer
      .create(new InetSocketAddress("127.0.0.1", 0), 0)
    tls.setHttpsConfigurator(
      new com.sun.net.httpserver.HttpsConfigurator(serverCtx))
    tls.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        ex.getResponseHeaders.set("Accept-Ranges", "bytes")
        ex.getRequestMethod match {
          case "HEAD" =>
            ex.getResponseHeaders.set("Content-Length", bytes.length.toString)
            ex.sendResponseHeaders(200, -1)
          case _ =>
            Option(ex.getRequestHeaders.getFirst("Range")) match {
              case Some(RangeSpec(a, b)) =>
                val from = a.toLong.toInt
                val to = (if (b.isEmpty) bytes.length - 1L
                          else math.min(b.toLong, bytes.length - 1L)).toInt
                val n = math.max(to - from + 1, 0)
                ex.getResponseHeaders.set("Content-Range",
                  s"bytes $from-$to/${bytes.length}")
                ex.sendResponseHeaders(206, n.toLong)
                ex.getResponseBody.write(bytes, from, n)
              case _ =>
                ex.sendResponseHeaders(200, bytes.length.toLong)
                ex.getResponseBody.write(bytes)
            }
        }
        ex.close()
      }
    })
    tls.start()
    val prevFactory = HttpsURLConnection.getDefaultSSLSocketFactory
    HttpsURLConnection.setDefaultSSLSocketFactory(clientCtx.getSocketFactory)
    try {
      val url = s"https://127.0.0.1:${tls.getAddress.getPort}/unittest.pst"
      val remote = read("contacts", url)
        .select("given_name", "surname").orderBy("given_name")
        .collect().map(r => (r.getString(0), r.getString(1)))
      val local = read("contacts", "fixtures/mailbox/unittest.pst")
        .select("given_name", "surname").orderBy("given_name")
        .collect().map(r => (r.getString(0), r.getString(1)))
      assert(remote.nonEmpty && remote.sameElements(local))
    } finally {
      HttpsURLConnection.setDefaultSSLSocketFactory(prevFactory)
      tls.stop(0)
    }
  }

  test("range-ignoring 200 responses still read correctly (skip path)") {
    // the server stops honoring Range mid-flight: HEAD still advertises
    // ranges, every GET comes back 200-full-body — openAt must skip to
    // the requested offset instead of misreading from 0
    reset()
    honorRanges = false
    try {
      val url = s"http://127.0.0.1:$port/unittest.pst"
      val remote = read("contacts", url)
        .select("given_name", "surname").orderBy("given_name")
        .collect().map(r => (r.getString(0), r.getString(1)))
      val local = read("contacts", "fixtures/mailbox/unittest.pst")
        .select("given_name", "surname").orderBy("given_name")
        .collect().map(r => (r.getString(0), r.getString(1)))
      assert(remote.nonEmpty && remote.sameElements(local))
    } finally honorRanges = true
  }

  test("missing remote file fails the scan cleanly") {
    val url = s"http://127.0.0.1:$port/nope.mbx"
    val e = intercept[Exception] { read("messages", url).count() }
    assert(e != null)
  }
}
