package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.source.{MailboxOptions, MailboxPlanner, RecordFilter}
import graft.source.{EnumeratedPartition, IndexedPartition, PstPartition}

/** Benchmark harness JVM. Runs one workload as a closed loop with one
  * client: an untimed warm pass that dumps every result for the oracle
  * check, a second untimed pass that lets the JIT settle, then timed
  * passes until `--seconds` of timed operations have run, each pass in a
  * seeded order. A timed query is its construction plus a plain action
  * into the `noop` sink, as `graft.Bench` times it. In odd timed
  * passes, after the timer stops, the query is built and run once more
  * with a row count and digest attached, which must equal the warm
  * pass's; the check runs in every other pass because it costs as much
  * as the query. The session's cache is cleared before every operation.
  *
  * With `--trace 1`, odd passes run with the [[Tracer]] installed plus
  * direct timed calls into the table and mailbox-planner layers, and
  * even passes run without, so the two give the tracing overhead.
  *
  * Writes one JSON result file (`--out`) and, when traced, a span file
  * (`--spans`); run.py turns them into the benchmark's metrics.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: File, data: File, repo: File, out: File,
      spans: File, inputBuilds: Seq[Double])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", new File(get("work")), new File(get("data")),
      new File(get("repo")), new File(get("out")), new File(get("spans")),
      m.get("input-builds").filter(_.nonEmpty).map(_.split(',').toSeq.map(_.toDouble))
        .getOrElse(Nil))
  }

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long = now()): Double = (t1 - t0) / 1e9
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  /** The session `graft.Bench` builds, with every local path inside the
    * work directory.
    */
  private def session(work: File, cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Row count and an order-independent hash of every row, computed by
    * the query's own execution and read after it finishes.
    */
  private def observed(df: DataFrame): (DataFrame, Observation) = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType    => true
      case a: ArrayType  => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _             => false
    }
    val rowHash =
      if (hasMap(df.schema)) xxhash64(to_json(struct(col("*")))) else xxhash64(col("*"))
    val obs = Observation()
    (df.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(pmod(rowHash, lit(Int.MaxValue.toLong))), lit(0L)).as("h")), obs)
  }

  private def digestOf(obs: Observation): String = {
    val m = obs.get
    s"${m("n")}:${m("h")}"
  }

  /** A direct timed call to the mailbox planner for one scan: (seconds,
    * partitions, partitions whose row count planning knows exactly).
    */
  private def planScan(scan: Scan, conf: Configuration): (Double, Int, Int) = {
    val opts   = MailboxOptions(scan.options ++ Map("path" -> scan.path, "mode" -> scan.mode))
    val filter = RecordFilter(opts.mode, scan.exacts)
    val t0     = now()
    val plan   = MailboxPlanner.plan(opts, filter, conf)
    val s      = secs(t0)
    (s, plan.partitions.length, plan.partitions.count {
      case _: IndexedPartition | _: EnumeratedPartition => true
      case p: PstPartition => p.exact || !filter.filtersClass
      case _               => false
    })
  }

  final case class Run(name: String, pass: Int, traced: Boolean,
      latency: Double, construct: Double, ok: Boolean, error: String,
      bucket: Option[Bucket], actionStartMs: Long, startMs: Long, endMs: Long,
      pins: (Long, Long, Long))

  def main(argv: Array[String]): Unit = {
    val a    = parse(argv)
    val cpus = Runtime.getRuntime.availableProcessors
    Seq("spark-local", "warehouse").foreach(d => new File(a.work, d).mkdirs())

    val runStartMs = System.currentTimeMillis()
    val t0      = now()
    val spark   = session(a.work, cpus)
    val sessionS = secs(t0)
    val sc      = spark.sparkContext
    val wl      = Workloads(a.workload, spark, a.data, a.repo, a.seed, a.inputBuilds)
    val inputS  = median(wl.inputBuilds)
    val warmDir = new File(a.work, "warm")
    val tracer  = new Tracer(spark)

    val cacheManager = spark.sharedState.cacheManager
    val cachedField = {
      val f = cacheManager.getClass.getDeclaredField("cachedData")
      f.setAccessible(true)
      f
    }
    /** (bytes held, persisted RDDs, cached plans), then a clean cache */
    def pinsThenClear(): (Long, Long, Long) = {
      val bytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
      val rdds  = sc.getPersistentRDDs.size.toLong
      val plans = cachedField.get(cacheManager).asInstanceOf[Seq[_]].size.toLong
      spark.catalog.clearCache()
      (bytes, rdds, plans)
    }

    // ---- warm pass: untimed, dumps each result for the oracle check
    val tWarm = now()
    val warm  = scala.collection.mutable.LinkedHashMap.empty[String, (String, String)]
    val warmTimes = scala.collection.mutable.Map.empty[String, Double]
    val order0 = new scala.util.Random(a.seed * 7919).shuffle(wl.ops)
    order0.foreach { op =>
      val w0 = now()
      val res: (String, String) =
        try op match {
          case q: QueryOp =>
            val (df, obs) = observed(q.build())
            df.coalesce(1).write.mode("overwrite").parquet(new File(warmDir, q.name).getPath)
            (digestOf(obs), null)
          case i: IngestOp =>
            val d = i.run(0)
            if (d == i.expected(0)) (d, null) else (d, s"wrote $d, set-up built ${i.expected(0)}")
        } catch { case NonFatal(e) => (null, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      warm(op.name) = res
      warmTimes(op.name) = secs(w0)
      if (res._2 != null) System.err.println(s"[perfbench] warm ${op.name} failed: ${res._2}")
      pinsThenClear()
    }
    // a second untimed pass into the noop sink: the first timed passes
    // after the dump pass still run ~30% slow while the JIT compiles
    new scala.util.Random(a.seed * 7919 - 1).shuffle(wl.ops).foreach { op =>
      try op match {
        case q: QueryOp  => q.build().write.format("noop").mode("overwrite").save()
        case i: IngestOp => i.run(0)
      } catch { case NonFatal(_) => () } // failures surface in the timed passes
      pinsThenClear()
    }
    val warmS = secs(tWarm)

    // ---- timed passes
    val runs = ArrayBuffer.empty[Run]
    val tableCalls = ArrayBuffer.empty[(Double, Int)] // (seconds, jobs)
    val planCalls  = ArrayBuffer.empty[(Double, Int, Int)] // (seconds, partitions, exact)
    val hadoopConf = spark.sessionState.newHadoopConf()
    val tTimed = now()
    var checkNs = 0L // result checks after each timed operation
    def timedS: Double = secs(tTimed) - checkNs / 1e9
    var pass = 1
    def more: Boolean =
      pass == 1 || timedS < a.seconds || (a.trace && (pass < 3 || pass % 2 == 0))
    while (more) {
      val traced = a.trace && pass % 2 == 1
      if (traced) tracer.install() else tracer.uninstall()
      if (traced) wl.tables.foreach { t =>
        tracer.open()
        val c0 = now()
        graft.Tables.table(spark, a.data.getPath, t)
        val s = secs(c0)
        tableCalls += ((s, tracer.close().jobs.size))
      }
      new scala.util.Random(a.seed * 7919 + pass).shuffle(wl.ops).foreach { op =>
        if (traced) op match {
          case q: QueryOp => planCalls ++= q.scans.map(planScan(_, hadoopConf))
          case _          =>
        }
        if (traced) tracer.open()
        val startMs = System.currentTimeMillis()
        val q0 = now()
        var constructS = 0.0
        var actionMs = startMs
        var ingest: String = null
        val err: String =
          try {
            op match {
              case q: QueryOp =>
                val built = q.build()
                constructS = secs(q0)
                actionMs = System.currentTimeMillis()
                built.write.format("noop").mode("overwrite").save()
              case i: IngestOp => ingest = i.run(pass)
            }
            null
          } catch { case NonFatal(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
        val latency = secs(q0)
        val endMs = System.currentTimeMillis()
        // ---- outside the timed region: result check, pins, clean cache
        val bucket = if (traced) Option(tracer.close()) else None
        val c0 = now()
        val got: Option[String] = if (err != null) None else op match {
          case _: QueryOp if pass % 2 == 0 => None
          case q: QueryOp =>
            Some(try {
              val (df, obs) = observed(q.build())
              df.write.format("noop").mode("overwrite").save()
              digestOf(obs)
            } catch { case NonFatal(e) => s"check failed: ${e.getClass.getSimpleName}" })
          case _ => Some(ingest)
        }
        checkNs += now() - c0
        val expected = op match {
          case i: IngestOp => i.expected(pass)
          case _           => warm(op.name)._1
        }
        val mismatch = got.filter(_ != expected)
          .map(g => s"digest $g differs from warm pass $expected").orNull
        val error = Option(err).orElse(Option(mismatch)).orNull
        if (error != null) System.err.println(s"[perfbench] ${op.name} pass $pass: $error")
        runs += Run(op.name, pass, traced, latency, constructS, error == null, error,
          bucket, actionMs, startMs, endMs, pinsThenClear())
      }
      pass += 1
    }
    val timedWall = timedS
    tracer.uninstall()

    // ---- live heap after a forced GC
    spark.catalog.clearCache()
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)

    val layers =
      if (a.trace) Layers(runs.toSeq, wl, cpus, sessionS, tableCalls.toSeq,
        planCalls.toSeq)
      else Map.empty[String, Double]
    if (a.trace)
      Spans.write(a.spans, a.workload, runStartMs, runs.toSeq)

    val box = Map(
      "nproc" -> cpus,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "seed" -> a.seed,
      "workload" -> a.workload)
    val result = Map(
      "box" -> box,
      "setup" -> Map("input_s" -> wl.inputBuilds, "session_s" -> sessionS,
        "warm_s" -> warmS, "setup_s" -> (inputS + sessionS + warmS)),
      "warm" -> warm.map { case (n, (d, e)) =>
        Map("name" -> n, "digest" -> d, "error" -> e, "latency_s" -> warmTimes(n)) },
      "oracles" -> wl.oracles,
      "runs" -> runs.map(r => Map("name" -> r.name, "pass" -> r.pass,
        "traced" -> r.traced, "latency_s" -> r.latency, "ok" -> r.ok,
        "error" -> r.error)),
      "timed_wall_s" -> timedWall,
      "live_heap_mb" -> heapMb,
      "layers" -> layers)
    Files.writeString(a.out.toPath, Json(result))
    spark.stop()
  }
}
