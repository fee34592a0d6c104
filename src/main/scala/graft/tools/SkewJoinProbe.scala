package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measures [[graft.ops.Distributed.modelJoin]]'s SHUFFLE arm (the
  * above-gate arm) under Zipfian probe-key skew — the r12 verdict's
  * "the arm that fires above 10⁶ rows is unmeasured under key skew"
  * companion to ModelJoinProbe:
  *
  *  - BUILD side: the model-shaped frame at 4·10⁶ rows — ABOVE the
  *    measured 10⁶ gate, so production takes the shuffle arm.
  *  - PROBE side: 2·10⁷ rows whose key RANKS are Zipf(1)-distributed
  *    over the model's key space via inverse-CDF sampling
  *    (rank = ⌊N^u⌋, u uniform from a hash of the row id): the top
  *    token lands on ~1/ln N ≈ 4.6% of ALL probe rows — the "one
  *    token is a few percent of the stream" web-corpus shape. Probe
  *    rows carry the serving joins' realistic payload (a distinct
  *    doc_id BIGINT riding next to the token, exactly what the
  *    exploded-corpus side of every piece-count/NB join moves);
  *    a payload-FREE variant isolates what that payload changes.
  *
  * What the probe established (each configuration isolates one step;
  * per-task shuffle-READ bytes are printed because compressed bytes
  * per reduce partition are exactly what AQE's detector thresholds):
  *
  *  1. uniform_defaults — the no-skew baseline.
  *  2. zipf_defaults — AQE defaults: the 256 MiB absolute floor
  *     (skewedPartitionThresholdInBytes) is unreachable at probe
  *     scale, so the split cannot fire and the hot key rides one
  *     task. The honest null: default thresholds are sized for
  *     production shuffles, where a 4.6% hot key of a multi-TB
  *     shuffle is tens of GB and clears the floor by orders of
  *     magnitude.
  *  3. zipf_scaled_16m — floor scaled down (16 MiB / 8 MiB advisory)
  *     but still 200 partitions: does NOT fire. The hot key's rows
  *     are identical in the key column, so the hot partition
  *     compresses disproportionately (measured: 14.1 MB hot vs
  *     6.1 MB median = 2.3× in bytes, against 10× in rows) and stays
  *     under the 5× skewedPartitionFactor. At 200 partitions the row
  *     factor (f·P ≈ 4.6%·200 ≈ 9×) leaves no headroom for that
  *     compression discount.
  *  4. zipf_bare_scaled_16m — the fully-degenerate shape: probe rows
  *     carry ONLY the 32-char key. Partitions are byte-BALANCED
  *     (max/median read ≈ 1.1×) at 10× row skew — there is nothing
  *     for a byte-based detector to see, while the hot task runs
  *     ~10× the median. Detection also requires the payload to
  *     actually ride the shuffle: an unused payload column is pruned
  *     by Catalyst and reproduces this shape silently.
  *  5. zipf_word_p1000_1m / zipf_md5_p1000_4m — the
  *     production-faithful regime: 1000 reduce partitions (row
  *     factor f·P ≈ 46×, enough headroom over the compression
  *     discount) and the floor set UNDER the hot partition's
  *     measured compressed size. OptimizeSkewedJoin FIRES
  *     (skew=true) for both the short-word key and the md5 key;
  *     median task time drops ~40× and the hot partition is read as
  *     multiple advisory-sized splits.
  *  6. zipf_word_p1000_16m — same regime but the floor ABOVE the hot
  *     partition's compressed size (measured intact: 10.8 MB read,
  *     5.8× the median, a 22× task-time straggler): does not fire
  *     even at a 46× row factor. The floor is an absolute gate; it
  *     must sit below the compressed hot-partition size, which
  *     compression places well under row-count intuition.
  *  7. zipf_salted16 — the round-4 [[graft.ops.Skew.saltedJoin]]
  *     alternative (split every key 16 ways, replicate the build row
  *     per salt): a measured LOSS at this shape — the 16× build-side
  *     replication (6.4·10⁷-row shuffle) costs far more than the
  *     straggler it removes. Whole-join salting is not the answer;
  *     AQE's split (which replicates only the hot partitions'
  *     build rows) is.
  *
  * Run: `sbt "runMain graft.tools.SkewJoinProbe [configs…]"` (no
  * fixture needed; one untimed warm run, then median of 3 per
  * configuration; prints per-config wall s, max/median task ms,
  * max/median per-task shuffle-read MB, and whether the final
  * adaptive plan contains a skew split; SKEWJOIN_EXPLAIN=1 dumps
  * each final plan).
  */
object SkewJoinProbe {

  def main(args: Array[String]): Unit = {
    val cpus = graft.Sessions.cpus
    val spark = graft.Sessions.local(cpus)
    // more partitions than cores: the hot key's RELATIVE partition
    // size is what the skew detector keys on. 200 gives a 9× ROW
    // factor — measured NOT enough once the hot key's compression
    // discount lands (~2.3× in bytes); the p1000 configs override
    // this to the production-faithful count
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    val modelRows = 4000000L
    val probeRows = sys.env.get("SKEWJOIN_PROBE_ROWS")
      .map(_.toLong).getOrElse(20000000L)

    def hex(c: org.apache.spark.sql.Column) =
      md5(concat(lit("t"), c.cast("string")))

    val build = spark.range(0L, modelRows, 1L, cpus)
      .select(hex(col("id")).as("token"), col("id").as("w1"),
        (col("id") * 2).as("w2"), (col("id") + 7).as("w3"))
      .localCheckpoint()
    build.count()
    // the REALISTIC key family: corpus tokens are short words (the
    // fixture's max word length is 8; English averages ~5 chars), not
    // 32-char digests — the md5 key family above quadruples the key's
    // share of each row's bytes and with it the hot partition's
    // compression discount
    def word(c: org.apache.spark.sql.Column) =
      concat(lit("t"), c.cast("string"))
    val buildW = spark.range(0L, modelRows, 1L, cpus)
      .select(word(col("id")).as("token"), col("id").as("w1"),
        (col("id") * 2).as("w2"), (col("id") + 7).as("w3"))
      .localCheckpoint()
    buildW.count()

    // the payload is a HASH, not the sequential range id: real doc
    // ids are digests/snowflakes and do not delta-compress. (Measured
    // with the sequential id: LZ4 collapsed the hot partition ~4:1 —
    // near-identical token + near-sequential longs — to the point
    // where partitions were byte-BALANCED at 45× row skew and there
    // was nothing for a byte-based detector to see.)
    val uniform = spark.range(0L, probeRows, 1L, cpus)
      .select(hex(pmod(col("id"), lit(modelRows))).as("token"),
        xxhash64(col("id"), lit(7)).as("doc_id"))
    // Zipf(1) rank via inverse CDF: u ~ U(0,1) from a row-id hash,
    // rank = clamp(floor(N^u), 1, N); P(rank = r) ≈ 1/(r·lnN)
    val zipfRank = spark.range(0L, probeRows, 1L, cpus)
      .select(col("id"),
        (pmod(xxhash64(col("id")), lit(1000000000L)).cast("double")
          / 1e9).as("u"))
      .select(col("id"), least(lit(modelRows),
        greatest(lit(1L),
          floor(exp(col("u") * math.log(modelRows.toDouble)))
            .cast("long"))).as("r"))
    val zipf = zipfRank
      .select(hex(col("r") - 1).as("token"),
        xxhash64(col("id"), lit(7)).as("doc_id"))
    val zipfBare = zipfRank.select(hex(col("r") - 1).as("token"))
    val zipfWord = zipfRank
      .select(word(col("r") - 1).as("token"),
        xxhash64(col("id"), lit(7)).as("doc_id"))

    // per-task wall plus per-task SHUFFLE READ bytes — the latter is
    // (up to split accounting) exactly the quantity AQE's skew
    // detector thresholds on: compressed map-output bytes per reduce
    // partition. Printing max/median read bytes turns "the hot
    // partition compresses below the factor" from an estimate into a
    // measurement.
    final case class TaskStats(maxMs: Long, medMs: Long,
        maxReadMb: Double, medReadMb: Double)
    def listen[T](body: => T): (T, TaskStats) = {
      val times = scala.collection.mutable.ArrayBuffer.empty[Long]
      val reads = scala.collection.mutable.ArrayBuffer.empty[Long]
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          times.synchronized {
            times += e.taskInfo.duration
            if (e.taskMetrics != null) {
              val sr = e.taskMetrics.shuffleReadMetrics
              reads += sr.remoteBytesRead + sr.localBytesRead
            }
            ()
          }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        val r = body
        Thread.sleep(300) // let the listener bus drain
        val (s, rd) = times.synchronized(
          (times.toVector.sorted, reads.toVector.filter(_ > 0).sorted))
        (r, TaskStats(if (s.isEmpty) 0 else s.last,
          if (s.isEmpty) 0 else s(s.length / 2),
          if (rd.isEmpty) 0 else rd.last / 1e6,
          if (rd.isEmpty) 0 else rd(rd.length / 2) / 1e6))
      } finally spark.sparkContext.removeSparkListener(l)
    }

    // the aggregate must CONSUME the payload or Catalyst prunes it
    // before the exchange and the shuffle carries the bare key
    // (measured: with an unused doc_id the per-partition read bytes
    // were byte-identical to the key-only variant)
    def aggOf(probe: DataFrame) = {
      val base = Seq(sum(col("w1")).as("s"), count(lit(1)).as("c"))
      if (probe.columns.contains("doc_id"))
        base :+ max(col("doc_id")).as("sd") // max: hash sums overflow ANSI
      else base
    }
    def gatedArm(b: DataFrame)(probe: DataFrame): DataFrame = {
      val a = aggOf(probe)
      graft.ops.Distributed
        .modelJoin(probe, b, modelRows, Seq("token"))
        .agg(a.head, a.tail: _*)
    }

    def saltedArm(probe: DataFrame): DataFrame = {
      val a = aggOf(probe)
      graft.ops.Skew.saltedJoin(probe, build, "token", "token", 16)
        .agg(a.head, a.tail: _*)
    }

    val only: Set[String] = args.toSet
    def run(name: String, probe: DataFrame,
        confs: Map[String, String],
        arm: DataFrame => DataFrame = gatedArm(build)): Unit = {
      if (only.nonEmpty && !only(name)) return
      val prev = confs.keys.map(k => k -> spark.conf.get(k)).toMap
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        arm(probe).write.format("noop").mode("overwrite").save() // warm
        val runs = Vector.fill(3) {
          val t0 = System.nanoTime()
          val (_, ts) = listen {
            arm(probe).write.format("noop").mode("overwrite").save()
          }
          ((System.nanoTime() - t0) / 1e9, ts)
        }
        val (t, ts) = runs.sortBy(_._1).apply(1)
        // execute and inspect the SAME QueryExecution: a write sink
        // builds its own QueryExecution, so df.queryExecution after a
        // write still holds the UNEXECUTED adaptive plan
        // (isFinalPlan=false) and can never show the skew annotation —
        // collect() (the agg is one row) finalizes the plan we read
        val skewFired = {
          val df = arm(probe)
          df.collect()
          val plan = df.queryExecution.executedPlan.toString
          if (sys.env.contains("SKEWJOIN_EXPLAIN"))
            println(s"=== $name final plan ===\n$plan\n===")
          plan.contains("skew=true")
        }
        println(f"$name,$t%.2f,${ts.maxMs},${ts.medMs}," +
          f"${ts.maxReadMb}%.1f,${ts.medReadMb}%.2f,$skewFired")
      } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
    }

    val hot = zipf.filter(col("token") === hex(lit(0))).count()
    println(s"hot_key_rows,$hot,of,$probeRows")
    println("config,wall_s,max_task_ms,median_task_ms," +
      "max_read_mb,median_read_mb,skew_split_fired")
    val scaled = Map(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        -> "16m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m")
    run("uniform_defaults", uniform, Map.empty)
    run("zipf_defaults", zipf, Map.empty)
    // floor scaled down but only 200 partitions: the row factor
    // (f·P ≈ 9×) leaves no headroom over the hot key's compression
    // discount — measured 2.3× in bytes, under the 5× factor
    run("zipf_scaled_16m", zipf, scaled)
    // key-only rows: byte-BALANCED partitions at 10× row skew
    run("zipf_bare_scaled_16m", zipfBare, scaled)
    // production-faithful: 1000 reduce partitions (row factor ≈ 46×)
    // and the floor UNDER the hot partition's measured compressed
    // size — fires for both key shapes
    run("zipf_word_p1000_1m", zipfWord, Map(
      "spark.sql.shuffle.partitions" -> "1000",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        -> "1m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512k"),
      gatedArm(buildW))
    run("zipf_md5_p1000_4m", zipf, Map(
      "spark.sql.shuffle.partitions" -> "1000",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        -> "4m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2m"))
    // same regime, floor ABOVE the hot partition's ~11 MB compressed
    // size: the absolute gate blocks detection regardless of the
    // factor (row factor ≈ 46× here and it still cannot fire)
    run("zipf_word_p1000_16m", zipfWord, Map(
      "spark.sql.shuffle.partitions" -> "1000",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        -> "16m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2m"),
      gatedArm(buildW))
    run("zipf_salted16", zipf, Map.empty, saltedArm)
    spark.stop()
  }
}
