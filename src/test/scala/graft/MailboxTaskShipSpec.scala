package graft

import java.io.File
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.serializer.JavaSerializer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.source.{Mailbox, MailboxGen}

/** The local filesystem under another scheme name, so that a path only
  * resolves where the conf maps `fs.mbxalias.impl` to this class.
  */
class AliasLocalFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("mbxalias:///")
  override def getScheme: String = "mbxalias"
}

/** What a mailbox scan ships to its tasks: the reader factory stays small
  * (the Hadoop conf travels as one broadcast per scan, not inside every
  * task binary), and executors still see the session's conf as it was at
  * plan time (A19).
  */
class MailboxTaskShipSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var dir: File = _
  private def glob: String = new File(dir, "*.mbx").getPath

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("mailbox-task-ship-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = {
    dir = Files.createTempDirectory("mailbox_task_ship").toFile
    MailboxGen.writeFile(new File(dir, "unittest.mbx"), MailboxGen.unittestLines)
    MailboxGen.writeFile(new File(dir, "idx_a.mbx"),
      MailboxGen.syntheticLines(4, 300, 1))
    MailboxGen.writeFile(new File(dir, "raw_b.mbx"),
      MailboxGen.syntheticLines(3, 250, 2), writeIndex = false)
    MailboxGen.writeFile(new File(dir, "raw_c.mbx"),
      MailboxGen.syntheticLines(2, 200, 3), writeIndex = false)
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = spark.stop()

  test("reader factory of a planned scan Java-serializes under 16 KiB") {
    val df = Mailbox.messages(spark, glob)
    val factory = df.queryExecution.sparkPlan
      .collectFirst { case b: BatchScanExec => b.readerFactory }
      .getOrElse(fail(s"no BatchScanExec in\n${df.queryExecution.sparkPlan}"))
    val bytes = new JavaSerializer(spark.sparkContext.getConf)
      .newInstance().serialize(factory).remaining()
    assert(bytes < 16 * 1024,
      s"reader factory is $bytes bytes: is a Hadoop conf inlined again?")
  }

  test("a scheme set only on the session reaches executors (A19)") {
    val impl = "fs.mbxalias.impl"
    assert(spark.sparkContext.hadoopConfiguration.get(impl) === null)
    // without the cache, every getFileSystem looks the scheme up in the
    // conf it is given, so the executor's conf is what gets tested
    spark.conf.set(impl, classOf[AliasLocalFileSystem].getName)
    spark.conf.set("fs.mbxalias.impl.disable.cache", "true")
    try {
      val aliased = s"mbxalias://$glob"
      def rows(df: DataFrame) =
        df.drop("pst_path").orderBy("pst_name", "node_id").collect().toSeq
      for (read <- Seq[String => DataFrame](
          Mailbox.messages(spark, _), Mailbox.notes(spark, _))) {
        val local = rows(read(glob))
        assert(local.nonEmpty)
        assert(rows(read(aliased)) === local)
      }
      assert(Mailbox.messages(spark, aliased)
        .select("pst_path").distinct().collect()
        .forall(_.getString(0).startsWith("mbxalias:")))
      assert(Mailbox.messages(spark, aliased).count() ===
        Mailbox.messages(spark, glob).count())
    } finally {
      spark.conf.unset(impl)
      spark.conf.unset("fs.mbxalias.impl.disable.cache")
    }
  }
}
