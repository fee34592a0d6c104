package graft

import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A19's remote-protocol path exercised against a REAL `http://`
  * endpoint (an in-JVM server; the sandbox has no egress): the same
  * shape as the reference's hosted-PST demo
  * `read_pst_contacts('https://…/unittest.pst')`
  * (/root/reference/README.md:58-69).
  *
  * Hadoop's bundled read-only http filesystem reports length -1 and
  * cannot seek, so these reads go through the LocalBuffer
  * download-then-scan fallback — the assertions pin the two properties
  * that make that fallback scale-honest: results are identical to a
  * local read, and each object is fetched exactly ONCE per JVM no
  * matter how many probes, plans, and task readers touch it.
  */
class HttpReadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val gets = new ConcurrentHashMap[String, AtomicInteger]()
  private var server: HttpServer = _
  private var port: Int = 0

  private val served = Map(
    "/unittest.pst"    -> "fixtures/mailbox/unittest.pst",
    "/synth_a.mbx"     -> "fixtures/mailbox/synth_a.mbx",
    "/synth_a.mbx.idx" -> "fixtures/mailbox/synth_a.mbx.idx"
  )

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("http-read-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // the read-only http FS Spark bundles (hadoop-client-api); its
    // streams cannot seek and its FileStatus length is -1
    .config("spark.hadoop.fs.http.impl",
      "org.apache.hadoop.fs.http.HttpFileSystem")
    .config("spark.hadoop.fs.https.impl",
      "org.apache.hadoop.fs.http.HttpsFileSystem")
    .getOrCreate()

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val path = ex.getRequestURI.getPath
        gets.computeIfAbsent(path, _ => new AtomicInteger).incrementAndGet()
        served.get(path) match {
          case Some(f) =>
            val bytes = Files.readAllBytes(Paths.get(f))
            ex.sendResponseHeaders(200, bytes.length.toLong)
            ex.getResponseBody.write(bytes)
          case None => ex.sendResponseHeaders(404, -1)
        }
        ex.close()
      }
    })
    server.start()
    port = server.getAddress.getPort
  }

  override def afterAll(): Unit = {
    spark.stop()
    if (server != null) server.stop(0)
  }

  private def nGets(path: String): Int =
    Option(gets.get(path)).map(_.get()).getOrElse(0)

  private def read(mode: String, path: String): DataFrame =
    spark.read.format("mailbox").option("mode", mode).load(path)

  test("PST contacts over http equal the local read; fetched exactly once") {
    val url = s"http://127.0.0.1:$port/unittest.pst"
    val remote = read("contacts", url)
      .select("given_name", "surname").orderBy("given_name")
      .collect().map(r => (r.getString(0), r.getString(1)))
    val local = read("contacts", "fixtures/mailbox/unittest.pst")
      .select("given_name", "surname").orderBy("given_name")
      .collect().map(r => (r.getString(0), r.getString(1)))

    assert(remote.nonEmpty, "remote PST read returned no contacts")
    assert(remote.sameElements(local))
    // glob sizing + magic probe + node enumeration + every task reader
    // all ride ONE download (the JVM-wide LocalBuffer cache)
    assert(nGets("/unittest.pst") === 1,
      s"expected exactly one GET of the PST, saw ${nGets("/unittest.pst")}")
  }

  test("pst_path preserves the remote URL in rows") {
    val url = s"http://127.0.0.1:$port/unittest.pst"
    val paths = read("folders", url).select("pst_path")
      .distinct().collect().map(_.getString(0))
    assert(paths.toSeq === Seq(url),
      "rows must carry the user's URL, not the buffered local path")
  }

  test("mbx + sidecar over http: exact sidecar planning, one GET each") {
    val url = s"http://127.0.0.1:$port/synth_a.mbx"
    val remote = read("messages", url)
    val local  = read("messages", "fixtures/mailbox/synth_a.mbx")
    assert(remote.count() === local.count())
    assert(remote.count() > 0)
    // data file downloaded once; the sidecar (looked up at the ORIGINAL
    // location and resolved through the same fallback) once too —
    // planning over http keeps its O(#files) sidecar fast path
    assert(nGets("/synth_a.mbx") === 1)
    assert(nGets("/synth_a.mbx.idx") === 1)
  }

  test("missing remote file fails the scan cleanly (404 is an error, not cached)") {
    val url = s"http://127.0.0.1:$port/nope.mbx"
    // glob over a length-less scheme must surface the fetch failure,
    // not plan a silent empty scan
    val e = intercept[Exception] {
      read("messages", url).count()
    }
    assert(e != null)
  }

  test("PST contacts over https equal the local read (the reference's demo protocol)") {
    // the reference's README demo is read_pst_contacts over https; run
    // the same shape against an in-JVM TLS server with a self-signed
    // cert for 127.0.0.1 (test-scoped trust override — Hadoop's
    // HttpsFileSystem opens plain HttpsURLConnections)
    import javax.net.ssl.{HttpsURLConnection, KeyManagerFactory, SSLContext, TrustManagerFactory}
    val ksPath = java.nio.file.Files.createTempDirectory("https_ks")
      .resolve("ks.p12").toString
    val gen = new ProcessBuilder("keytool", "-genkeypair", "-alias", "t",
      "-keyalg", "RSA", "-keysize", "2048", "-storetype", "PKCS12",
      "-keystore", ksPath, "-storepass", "changeit",
      "-dname", "CN=127.0.0.1", "-ext", "SAN=ip:127.0.0.1",
      "-validity", "2").inheritIO().start()
    assert(gen.waitFor() === 0, "keytool failed")

    val ks = java.security.KeyStore.getInstance("PKCS12")
    val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(ksPath))
    try ks.load(in, "changeit".toCharArray) finally in.close()
    val kmf = KeyManagerFactory.getInstance(KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, "changeit".toCharArray)
    val tmf = TrustManagerFactory.getInstance(TrustManagerFactory.getDefaultAlgorithm)
    tmf.init(ks) // trust exactly our own self-signed cert
    val serverCtx = SSLContext.getInstance("TLS")
    serverCtx.init(kmf.getKeyManagers, null, null)
    val clientCtx = SSLContext.getInstance("TLS")
    clientCtx.init(null, tmf.getTrustManagers, null)

    val tls = com.sun.net.httpserver.HttpsServer
      .create(new InetSocketAddress("127.0.0.1", 0), 0)
    tls.setHttpsConfigurator(
      new com.sun.net.httpserver.HttpsConfigurator(serverCtx))
    tls.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val bytes = Files.readAllBytes(
          Paths.get("fixtures/mailbox/unittest.pst"))
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    tls.start()
    val prevFactory = HttpsURLConnection.getDefaultSSLSocketFactory
    HttpsURLConnection.setDefaultSSLSocketFactory(clientCtx.getSocketFactory)
    try {
      val url = s"https://127.0.0.1:${tls.getAddress.getPort}/unittest.pst"
      val remote = spark.read.format("mailbox").option("mode", "contacts")
        .load(url)
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
}
