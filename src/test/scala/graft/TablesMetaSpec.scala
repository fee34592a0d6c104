package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, MetadataBuilder}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The footer-read metadata layer in [[Tables]]: `Tables.table` resolves
  * a table's schema from the parquet footer instead of a schema-inference
  * job, so the schema must equal inference's under every conf that
  * steers the conversion, resolution and SQL-query construction must
  * launch no job, and a rewritten file must be read again.
  */
class TablesMetaSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sf = "/root/testdata/sf0.01"
  private val fixtures = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[2]")
    .appName("tables-meta-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("WARN")
  override def afterAll(): Unit = spark.stop()

  /** Runs `body` with `key` set to `value` (unset when None), restoring
    * the previous setting afterwards.
    */
  private def withConf[T](key: String, value: Option[String])(body: => T): T = {
    val prev = spark.conf.getOption(key)
    def put(v: Option[String]): Unit = v match {
      case Some(x) => spark.conf.set(key, x)
      case None    => spark.conf.unset(key)
    }
    put(value)
    try body finally put(prev)
  }

  private def inferred(path: String) = spark.read.parquet(path).schema

  private def jobsDuring(body: => Unit): Int = JobCount.during(spark)(body)

  /** A single-file parquet at `target`: the one data file Spark writes
    * for `df`, copied over whatever `target` held.
    */
  private def writeSingleFile(df: org.apache.spark.sql.DataFrame,
      target: Path): Unit = {
    val tmp = Files.createTempDirectory("tables_meta_w")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.resolve("d").toString)
    val part = Files.list(tmp.resolve("d")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet"))
    assert(part.isDefined, s"no parquet part file written for $target")
    Files.copy(part.get, target, StandardCopyOption.REPLACE_EXISTING): Unit
  }

  test("table's footer schema equals inference for every fixture table, " +
    "nanosAsLong unset and true") {
    for (flag <- Seq(None, Some("true"))) withConf(NanosAsLong, flag) {
      for (t <- fixtures) {
        val path = s"$sf/$t.parquet"
        assert(Tables.table(spark, sf, t).schema == inferred(path),
          s"$t with nanosAsLong=$flag")
      }
    }
  }

  test("a TIMESTAMP(NANOS) column converts under the current nanosAsLong " +
    "conf, not the one in force at the first footer read") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("tables_meta_ns")
    val schema = MessageTypeParser.parseMessageType(
      "message e { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    val path = s"$dir/events.parquet"
    withConf(NanosAsLong, None) {
      val viaFooter = scala.util.Try(Tables.table(spark, dir.toString, "events"))
      val viaInfer  = scala.util.Try(inferred(path))
      assert(viaFooter.isFailure == viaInfer.isFailure,
        s"footer $viaFooter vs inference $viaInfer")
      if (viaInfer.isSuccess) assert(viaFooter.get.schema == viaInfer.get)
    }
    withConf(NanosAsLong, Some("true")) {
      val raw = Tables.eventsRaw(spark, dir.toString)
      assert(raw.schema == inferred(path))
      assert(raw.schema("ts").dataType == LongType)
      assert(raw.select("ts").head().getLong(0) == 1700000000123456789L)
    }
  }

  test("a Spark-written multi-file documents.parquet directory: schema " +
    "(field metadata included) from the first file, bytes over all files") {
    val dir = Files.createTempDirectory("tables_meta_dir")
    val path = s"$dir/documents.parquet"
    val md = new MetadataBuilder().putString("comment", "doc key").build()
    spark.range(300).select(col("id").as("doc_id", md),
        concat(lit("doc "), col("id")).as("text"))
      .repartition(3).write.mode("overwrite").parquet(path)
    val df = Tables.documents(spark, dir.toString)
    assert(df.schema == inferred(path))
    assert(df.schema("doc_id").metadata == md)
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length == 3)
    assert(Tables.tableBytes(spark, dir.toString, "documents") ==
      files.map(_.length).sum)
    assert(df.count() == 300L)
  }

  test("table resolution and SQL query construction launch no job") {
    val resolve = jobsDuring {
      fixtures.foreach(t => Tables.table(spark, sf, t))
    }
    assert(resolve == 0, s"Tables.table launched $resolve job(s)")
    // q_sql_local_supply reads customer only inside its CTE body
    for (q <- Seq("q_sql_pricing", "q_sql_local_supply")) {
      fixtures.foreach(spark.catalog.dropTempView)
      var built: org.apache.spark.sql.DataFrame = null
      val n = jobsDuring { built = SparkEntry.queries(q)(spark, sf) }
      assert(n == 0, s"$q construction launched $n job(s)")
      assert(built.count() > 0, s"$q returned no rows")
    }
    // only the tables the SQL names are registered
    fixtures.foreach(spark.catalog.dropTempView)
    SparkEntry.queries("q_sql_pricing")(spark, sf)
    val views = spark.catalog.listTables().collect()
      .filter(_.isTemporary).map(_.name).toSet
    assert(views == Set("lineitem", "orders"), s"registered $views")
  }

  test("a file rewritten in the same session is read again") {
    val dir = Files.createTempDirectory("tables_meta_rw")
    val target = dir.resolve("t.parquet")
    writeSingleFile(spark.range(10).select(col("id").as("k")), target)
    val before = Tables.table(spark, dir.toString, "t")
    assert(before.schema.fieldNames.toSeq == Seq("k"))
    val oldBytes = Tables.tableBytes(spark, dir.toString, "t")
    assert(oldBytes == Files.size(target))
    withConf(Tables.SpreadMinBytesConfKey, Some((oldBytes + 1).toString)) {
      assert(!Tables.scanStarved(spark, dir.toString, "t"))
    }
    writeSingleFile(spark.range(5000).select(col("id").as("k"),
      concat(lit("row "), col("id")).as("v")), target)
    val newBytes = Files.size(target)
    assert(newBytes > oldBytes)
    val after = Tables.table(spark, dir.toString, "t")
    assert(after.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(after.count() == 5000L)
    assert(Tables.tableBytes(spark, dir.toString, "t") == newBytes)
    withConf(Tables.SpreadMinBytesConfKey, Some((oldBytes + 1).toString)) {
      assert(Tables.scanStarved(spark, dir.toString, "t"),
        "the rewritten file is above the floor and one row group")
    }
  }
}
