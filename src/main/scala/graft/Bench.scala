package graft

import java.io.InputStream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs the headline queries
  * (Q.bench) on SPARK_GRAFT_SF_DIR and prints one JSON line with
  * per-query and total wall seconds.
  *
  * Queries execute into the noop sink so the full plan — including
  * sorts and exchanges — runs (a bare count() would let Catalyst drop
  * the ordering work).
  *
  * Hardening against environment noise (round-1 bench artifact was 6×
  * its reproducible value under scheduler contention; round-3 showed a
  * multi-second contention burst poisoning all back-to-back samples of
  * single queries):
  *  - median of 5 timed runs per query, with the runs INTERLEAVED
  *    round-robin (pass 1 over all queries, then pass 2, ...) so a
  *    transient burst lands on one sample of many queries — which the
  *    per-query median discards — instead of every sample of one query,
  *  - per-run times emitted in the JSON (`runs`, in pass order) so
  *    spread is visible in the artifact,
  *  - JVM/codegen warmup on the smallest available fixture, derived
  *    from SPARK_GRAFT_SF_DIR rather than hardcoded,
  *  - a pre-bench page-cache touch streams every parquet input once so
  *    run 1 is not charged for cold IO the others skip,
  *  - a GC between passes so collector debt from one pass is not
  *    charged to whichever query runs next,
  *  - a query that fails is reported `"failed"` with its error instead
  *    of masquerading as a fast success; failures exit nonzero,
  *  - SENTINEL-GATED PASSES (round-9): each pass is bracketed by a
  *    fixed-cost no-op job (range→sum into the noop sink — pure
  *    scheduling overhead, independent of the data scale); a pass
  *    whose bracket max exceeds 2× the minimum observed sentinel was
  *    measured during external box contention and is DISCARDED, and
  *    the loop resamples (up to a pass cap) until enough clean passes
  *    exist. The committed r8 medians were uniformly ~1.5–2× inflated
  *    by exactly such contention (quiet-pass tier-1 8.98 s vs
  *    committed 13.97 s); medians over clean passes make the artifact
  *    reproducible instead of box-luck. Sentinel times and the
  *    discarded-pass count are recorded in the JSON,
  *  - ONE UNTIMED WARM PASS at the bench scale before timing
  *    (round-10): memoized training artifacts (k-means / PQ codebooks,
  *    perceptual-signature tables) are keyed by (session, dataset
  *    dir), so the small-fixture warmup never trained them and pass 0
  *    measured training + first-touch setup, not the operator — the
  *    r9 spreads' 3–5× pass-0 outliers (q_ann_pq 3.74 s vs 1.11 s
  *    steady). Every timed pass now measures steady state; the warm
  *    pass's wall time is recorded as `warm_pass_sec`,
  *  - taskstats rows (opt-in) are buffered per pass and emitted only
  *    for sentinel-clean passes, keeping the diagnostic consistent
  *    with the gated medians,
  *  - PER-QUERY IN-PASS RESAMPLE (round-11): the pass brackets cannot
  *    see a contention burst that starts and ends INSIDE a pass (the
  *    committed r10 spreads carried q_theil_sen 47.4 s vs 6.8 s median
  *    and q_winnow 8.0 s vs ~1.0 s from exactly such bursts — the
  *    brackets around their ~110 s tier-2 pass were clean). Now a
  *    timed run that exceeds 3× the query's own running median (over
  *    its prior timed samples) AND the median by ≥ 0.5 s absolute is
  *    discarded and re-run ONCE immediately — the burst costs one
  *    query's sample instead of landing in the committed spread; the
  *    re-run, when it completes, is kept unconditionally (a genuine 3×
  *    plan behavior reproduces and stays visible); a re-run that
  *    ERRORS after a clean first run keeps the clean sample instead of
  *    discarding a valid measurement (r12 advice). Discarded-run
  *    counts are recorded
  *    in the artifact (`resampled_runs`, `resampled_queries`); the
  *    first pass has no history and is covered by the pass gate alone.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = Sessions.cpus
    val spark = Sessions.local(cpus)

    def run(q: Q, dir: String): Unit =
      q.fn(spark, dir).write.format("noop").mode("overwrite").save()

    // opt-in tail diagnostics (SPARK_GRAFT_TASKSTATS=1): per timed run,
    // total task GC time and the longest single task — distinguishes a
    // GC/contention burst (gc spike, flat max task) from a real plan
    // skew (one task dominating) when a run is a 3–10× outlier. Not
    // part of the driver JSON contract; the extra key appears only
    // when the env var is set.
    val taskStats =
      if (sys.env.get("SPARK_GRAFT_TASKSTATS").contains("1")) {
        val l = new TaskStatListener
        spark.sparkContext.addSparkListener(l)
        Some(l)
      } else None

    // default: the headline set (driver contract); args name specific
    // registry queries for ad-hoc local timing
    val bench =
      if (args.isEmpty) SparkEntry.benchQueries
      else {
        val byName  = SparkEntry.registry.map(q => q.name -> q).toMap
        val unknown = args.filterNot(byName.contains)
        require(unknown.isEmpty,
          s"unknown bench queries: ${unknown.mkString(", ")}")
        args.toSeq.map(byName)
      }

    // tier 2 runs only in default (driver-contract) mode, never when
    // ad-hoc query names were passed
    val tier2 = if (args.isEmpty) SparkEntry.benchTier2 else Seq.empty

    // warmup fixture: smallest sf* sibling of the bench dir (falls back
    // to the bench dir itself if none)
    val warmupDir = smallestSibling(sfDir).getOrElse(sfDir)
    (bench ++ tier2).foreach { q =>
      try run(q, warmupDir)
      catch { case _: Throwable => () } // warmup only; failures surface below
    }

    touchPageCache(spark, sfDir)

    final case class R(name: String, runs: Seq[Double], err: Option[String]) {
      def median: Double = runs.sorted.apply(runs.length / 2)
    }
    val statRows = scala.collection.mutable.Map
      .empty[String, Vector[(Double, Double, Long)]] // (gc_s, maxTask_s, nTasks)

    /** Fixed-cost scheduling-bound no-op job: ~32 tasks summing a
      * 2M-row in-memory range into the noop sink. Its wall time
      * measures the box (scheduler latency, CPU contention), never the
      * benchmark data — the contention sentinel.
      */
    def sentinel(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 1L << 21, 1L, cpus)
        .selectExpr("sum(id) AS s", "count(1) AS c")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    final case class Passes(rs: Seq[R], sentinels: Seq[Double],
      discarded: Int, resampled: Map[String, Int]) {
      def resampledTotal: Int = resampled.values.sum
    }
    /** Round-robin interleaved timing with sentinel-gated pass
      * discard (see header comment). Each pass is bracketed by two
      * sentinel runs (pre + post — a burst starting mid-pass shows in
      * the post bracket); the pass signal is the max of the two. A
      * pass whose signal exceeds 2× the global minimum is discarded;
      * the loop resamples until `targetClean` clean passes exist or
      * `maxPasses` passes ran. If fewer than 3 passes survive the
      * gate (a busy box throughout), the quietest `targetClean`
      * passes are kept instead — degraded but never empty.
      */
    def timePasses(qs: Seq[Q], targetClean: Int,
        maxPasses: Int): Passes = {
      val passes = scala.collection.mutable.ArrayBuffer
        .empty[(Double, Array[Double])] // (sentinel signal, per-query s)
      // per-pass taskstats, buffered so only cleanPassIdx-selected
      // passes land in the artifact — reporting gc/max-task rows from
      // DISCARDED (contended) passes would contradict the gated medians
      val passStats = scala.collection.mutable.ArrayBuffer
        .empty[Array[(Double, Double, Long)]]
      val errs = Array.fill[Option[String]](qs.length)(None)
      val hist = Array.fill(qs.length)(Vector.empty[Double])
      val resampledBy = scala.collection.mutable.Map.empty[String, Int]
      var continue = qs.nonEmpty
      while (continue) {
        val pre   = sentinel()
        val times = new Array[Double](qs.length)
        val stats = new Array[(Double, Double, Long)](qs.length)
        for ((q, i) <- qs.zipWithIndex) {
          // per-RUN error state: the resample guard and the running
          // median must key on whether THIS run completed — the sticky
          // errs(i) (kept for reporting) would let one early failure
          // poison the median with fast-fail wall times and suppress
          // resampling of later clean runs
          var runErr: Option[String] = None
          def timedRun(): Double = {
            taskStats.foreach(_.reset())
            runErr = None
            val t0 = System.nanoTime()
            try run(q, sfDir)
            catch { case t: Throwable =>
              runErr = Some(t.toString.take(200)) }
            (System.nanoTime() - t0) / 1e9
          }
          var t = timedRun()
          if (runErr.isEmpty && shouldResample(t, hist(i))) {
            resampledBy(q.name) = resampledBy.getOrElse(q.name, 0) + 1
            val tClean = t
            t = timedRun() // kept when it completes — see header
            if (runErr.nonEmpty) {
              // the resample ERRORED after a clean first run: the
              // clean measurement stands (discarding it would turn a
              // transient re-run failure into both a lost sample AND
              // a spurious errored-query mark); surface the anomaly
              // without poisoning the artifact
              System.err.println(
                s"[bench] resample of ${q.name} failed after a clean " +
                  s"run; keeping the clean sample: ${runErr.get}")
              runErr = None
              t = tClean
            }
          }
          times(i) = t
          if (runErr.isEmpty) hist(i) = hist(i) :+ t
          else errs(i) = runErr
          taskStats.foreach { l =>
            val (gc, mx, n) = l.snapshot()
            stats(i) = (gc / 1e3, mx / 1e3, n)
          }
        }
        val post = sentinel()
        passes += ((math.max(pre, post), times))
        passStats += stats
        System.gc()
        val minS  = passes.map(_._1).min
        val clean = passes.count(_._1 <= 2 * minS)
        continue = clean < targetClean && passes.length < maxPasses
      }
      if (qs.isEmpty) return Passes(Seq.empty, Seq.empty, 0, Map.empty)
      val keptIdx = cleanPassIdx(passes.map(_._1).toSeq, targetClean)
      val kept    = keptIdx.map(passes)
      if (taskStats.isDefined)
        for (pi <- keptIdx; (q, i) <- qs.zipWithIndex)
          statRows(q.name) = statRows.getOrElse(q.name, Vector.empty) :+
            passStats(pi)(i)
      val rs = qs.zipWithIndex.map { case (q, i) =>
        R(q.name, kept.map(_._2(i)).toVector, errs(i))
      }
      Passes(rs, passes.map(_._1).toSeq, passes.length - kept.length,
        resampledBy.toMap)
    }
    def medians(rs: Seq[R]): String = rs.filter(_.err.isEmpty)
      .map(r => "\"" + r.name + "\":" + fmt(r.median)).mkString("{", ",", "}")
    def spreads(rs: Seq[R]): String = rs.filter(_.err.isEmpty)
      .map(r => "\"" + r.name + "\":[" + r.runs.map(fmt).mkString(",") + "]")
      .mkString("{", ",", "}")

    // ONE untimed warm pass at the BENCH scale (warm_pass_sec in the
    // JSON): the fixture warmup above warms codegen but not the
    // memoized training artifacts (k-means/PQ codebooks, signature
    // tables), which are keyed by (session, dataset dir) — so pass 0
    // of q_ann_pq/q_ann_ivfpq/q_media_dhash_* used to measure memo
    // TRAINING plus first-touch state-store setup, not the operator,
    // overstating committed spreads 3-5x. After this pass every timed
    // pass measures steady state.
    val warmT0 = System.nanoTime()
    (bench ++ tier2).foreach { q =>
      try run(q, sfDir)
      catch { case _: Throwable => () } // failures surface in timed passes
    }
    val warmPassSec = (System.nanoTime() - warmT0) / 1e9

    // warm the sentinel's own codegen/JIT so pass-1 brackets are
    // comparable to later ones
    sentinel(); sentinel()

    val p1 = timePasses(bench, targetClean = 5, maxPasses = 8)
    // 5 clean passes for tier 2 as well: the r05 snapshot showed
    // 10–17× first-pass outliers (cold JIT + box contention) that a
    // median of 3 cannot reliably discard
    val p2 = timePasses(tier2, targetClean = 5, maxPasses = 8)
    val (results, results2) = (p1.rs, p2.rs)
    val failed = (results ++ results2).collect { case R(n, _, Some(e)) =>
      "\"" + n + "\":" + quote(e)
    }.mkString("{", ",", "}")
    val total  = results.filter(_.err.isEmpty).map(_.median).sum
    val total2 = results2.filter(_.err.isEmpty).map(_.median).sum
    val statsJson = taskStats.map { _ =>
      val body = statRows.toSeq.sortBy(_._1).map { case (n, rows) =>
        "\"" + n + "\":[" + rows.map { case (gc, mx, nt) =>
          s"[${fmt(gc)},${fmt(mx)},$nt]"
        }.mkString(",") + "]"
      }.mkString("{", ",", "}")
      s""","taskstats":$body"""
    }.getOrElse("")
    def darr(xs: Seq[Double]): String = xs.map(fmt).mkString("[", ",", "]")
    // key order is part of the artifact's robustness (r13 verdict item:
    // BENCH_r12 reached the driver unparseable): every driver-parsed
    // field — medians, totals, sf — leads the line, so even a tail
    // truncation of the (much longer) spread/diagnostic section leaves
    // the leading fields recoverable; the per-run spreads and
    // diagnostics trail. Same keys as before, no renames.
    val json =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
        s""""queries":${medians(results)},""" +
        s""""tier2_total":${fmt(total2)},"queries_tier2":${medians(results2)},""" +
        s""""sf":"$sfDir",""" +
        s""""runs":${spreads(results)},""" +
        s""""runs_tier2":${spreads(results2)},""" +
        s""""sentinels":${darr(p1.sentinels)},"sentinels_tier2":${darr(p2.sentinels)},""" +
        s""""discarded_passes":${p1.discarded},"discarded_passes_tier2":${p2.discarded},""" +
        s""""resampled_runs":${p1.resampledTotal},"resampled_runs_tier2":${p2.resampledTotal},""" +
        s""""resampled_queries":${mapJson(p1.resampled)},""" +
        s""""resampled_queries_tier2":${mapJson(p2.resampled)},""" +
        s""""warm_pass_sec":${fmt(warmPassSec)},""" +
        s""""failed":$failed$statsJson}"""
    println(json)
    // the driver's BENCH_r{N}.json tail truncates at 2000 chars; the
    // full artifact (every median + per-run spread) is also written to
    // a file so each round can commit it as bench_local_r{N}.json
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench_local_latest.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8"))
    catch { case t: Throwable =>
      System.err.println(s"bench artifact write failed: $t") }
    spark.stop()
    if ((results ++ results2).exists(_.err.isDefined)) sys.exit(1)
  }

  /** Accumulates task GC time and the longest single task between
    * [[reset]] and [[snapshot]]. Listener delivery is async, so
    * snapshot() first waits (bounded) for the task count to settle.
    */
  private final class TaskStatListener
      extends org.apache.spark.scheduler.SparkListener {
    private var gcMs = 0L
    private var maxTaskMs = 0L
    private var tasks = 0L
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      synchronized {
        if (te.taskMetrics != null) gcMs += te.taskMetrics.jvmGCTime
        if (te.taskInfo != null) {
          maxTaskMs = math.max(maxTaskMs, te.taskInfo.duration)
          tasks += 1
        }
      }
    def reset(): Unit = synchronized { gcMs = 0; maxTaskMs = 0; tasks = 0 }
    def snapshot(): (Long, Long, Long) = {
      var last = -1L; var settled = 0
      val deadline = System.nanoTime() + 500000000L // ≤ 500 ms drain
      while (settled < 2 && System.nanoTime() < deadline) {
        val cur = synchronized(tasks)
        if (cur == last) settled += 1 else { settled = 0; last = cur }
        Thread.sleep(25)
      }
      synchronized((gcMs, maxTaskMs, tasks))
    }
  }

  /** Pass indices kept by the sentinel gate: a pass whose sentinel
    * signal exceeds 2× the minimum ran under external contention and
    * is dropped. If fewer than 3 survive (busy box throughout), the
    * `targetClean` quietest passes are kept instead — degraded but
    * never empty. Pure, so the selection rule is unit-testable.
    */
  private[graft] def cleanPassIdx(sentinels: Seq[Double],
      targetClean: Int): Seq[Int] = {
    val minS  = sentinels.min
    val clean = sentinels.zipWithIndex.filter(_._1 <= 2 * minS).map(_._2)
    if (clean.length >= 3) clean
    else sentinels.zipWithIndex.sortBy(_._1).take(targetClean).map(_._2).sorted
  }

  /** The per-query in-pass resample rule (pure, unit-tested): a run is
    * a burst suspect when it exceeds 3× the query's running median
    * over its prior timed samples AND beats the median by ≥ 0.5 s
    * absolute (sub-second medians jitter past 3× without any box
    * contention — an absolute significance floor keeps fast queries
    * from churning). No history (the first pass) → never resample;
    * the pass-level sentinel gate covers it.
    */
  private[graft] def shouldResample(t: Double, prior: Seq[Double])
      : Boolean = prior.nonEmpty && {
    val med = prior.sorted.apply(prior.length / 2)
    t > 3 * med && t - med >= 0.5
  }

  private def mapJson(m: Map[String, Int]): String =
    m.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")

  private def fmt(d: Double): String = BigDecimal(d)
    .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString

  private def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\r\\n\\t]", " ") + "\""

  /** Smallest `sf*` directory next to `sfDir` (by name-embedded scale
    * factor), excluding `sfDir` itself — the warmup fixture.
    */
  private def smallestSibling(sfDir: String): Option[String] = {
    val dir = new java.io.File(sfDir)
    val parent = Option(dir.getParentFile).getOrElse(return None)
    val sibs = Option(parent.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("sf") && f.getName != dir.getName)
      .flatMap(f => f.getName.drop(2).toDoubleOption.map(_ -> f.getPath))
    sibs.sortBy(_._1).headOption.map(_._2)
  }

  /** Stream every parquet byte under `sfDir` once so the OS page cache
    * is equally warm for all timed runs.
    */
  private def touchPageCache(spark: SparkSession, sfDir: String): Unit = {
    try {
      val conf = spark.sessionState.newHadoopConf()
      val p    = new Path(sfDir)
      val fs   = p.getFileSystem(conf)
      val it   = fs.listFiles(p, true)
      val buf  = new Array[Byte](1 << 20)
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet")) {
          var in: InputStream = null
          try {
            in = fs.open(f.getPath)
            while (in.read(buf) >= 0) {}
          } finally if (in != null) in.close()
        }
      }
    } catch { case _: Throwable => () } // cache warming is best-effort
  }
}
