package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.SinglePartitionExchanges

/** [[Sessions.local]] builds the bench's session, and it is the only
  * place a session is built.
  */
class SessionsSpec extends AnyFunSuite with SessionSuite {

  test("the session installs GraftExtensions: SQL functions and the " +
    "query-stage prep rule") {
    val d = spark.sql("SELECT hamming_distance('111', '010') AS d")
      .collect()(0).getInt(0)
    assert(d === 2)
    val prep = spark.sessionState.adaptiveRulesHolder.queryStagePrepRules
    assert(prep.contains(SinglePartitionExchanges), prep)
  }

  test("shuffle partitions equal the core count") {
    assert(spark.sparkContext.master === s"local[$cpus]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === cpus.toString)
  }

  test("another core count while a context runs fails and names both " +
    "masters") {
    spark
    val e = intercept[IllegalStateException](Sessions.local(cpus + 1))
    assert(e.getMessage.contains(s"local[$cpus]"), e.getMessage)
    assert(e.getMessage.contains(s"local[${cpus + 1}]"), e.getMessage)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === cpus.toString)
  }

  test("no session builder outside Sessions.scala") {
    assert(new File("src/main/scala/graft/Sessions.scala").isFile)
    val builder = ("SparkSession" + """\s*\.\s*builder""").r
    val hits = Seq("src/main", "src/test").flatMap { root =>
      Using.resource(Files.walk(new File(root).toPath)) { paths =>
        paths.iterator().asScala
          .filter(_.toString.endsWith(".scala"))
          .filterNot(_.getFileName.toString == "Sessions.scala")
          .filter(p => builder.findFirstIn(
            new String(Files.readAllBytes(p), "ISO-8859-1")).isDefined)
          .map(_.toString).toVector
      }
    }
    assert(hits.isEmpty, s"build sessions with Sessions.local: $hits")
  }

  test("the huge-method codegen fallback reaches the log") {
    val events = new ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("codegen-fallback", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        events.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val logger = LogManager.getLogger(classOf[WholeStageCodegenExec].getName)
      .asInstanceOf[Logger]
    logger.addAppender(capture)
    try withConf("spark.sql.codegen.hugeMethodLimit", "16") {
      assert(spark.range(10).selectExpr("id * 2 AS x").collect().length === 10)
    } finally {
      logger.removeAppender(capture)
      capture.stop()
    }
    assert(events.asScala.exists(_.contains("whole-stage codegen was disabled")),
      events)
  }
}
