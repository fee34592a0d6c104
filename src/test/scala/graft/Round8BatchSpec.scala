package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** Round-8 batch: the native AMS F2 aggregate ([[graft.functions.F2SketchAgg]])
  * and the q_hits / q_count_sketch / q_secret_scan / q_perm_test /
  * q_seasonal registry queries — every one pinned by an independent
  * driver-side recompute from the same parquet inputs (the
  * SafetySketchGraphSpec discipline), plus the aggregate's linearity
  * and partitioning-invariance properties that license its oracle.
  */
class Round8BatchSpec extends AnyFunSuite with SessionSuite {

  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def h32(s: String): Long =
    java.lang.Long.parseLong(md5hex(s).take(8), 16)

  // ---------------------------------------------------------------- graft_f2

  /** Independent recompute of the 32-counter tug-of-war eval. */
  private def bruteF2Est(pairs: Seq[(String, Long)]): Long = {
    val ctr = new Array[Long](32)
    for ((k, w) <- pairs; j <- 0 until 32) {
      val nibble = Integer.parseInt(md5hex(s"$j:$k").take(1), 16)
      ctr(j) += (if ((nibble & 1) == 0) w else -w)
    }
    val sums = (0 until 4).map(g => (0 until 8).map(j => {
      val c = ctr(g * 8 + j); c * c
    }).sum).sorted
    sums(1) / 8 // lower median of 4 group sums, then group mean
  }

  test("graft_f2 matches the brute-force 32-counter recompute") {
    import spark.implicits._
    val pairs = (0 until 400).map(i => (s"tok${i % 97}", (i % 5 + 1).toLong))
    val got = pairs.toDF("k", "w")
      .agg(GraftFunctions.graft_f2(col("k"), col("w")))
      .collect().head.getLong(0)
    assert(got === bruteF2Est(pairs))
  }

  test("graft_f2 is linear: partitioning and input order never change it") {
    import spark.implicits._
    val pairs = scala.util.Random.shuffle(
      (0 until 1000).map(i => (s"w${i % 211}", (i % 7 + 1).toLong)).toVector)
    val one = pairs.toDF("k", "w").coalesce(1)
      .agg(GraftFunctions.graft_f2(col("k"), col("w"))).collect().head.getLong(0)
    val many = pairs.toDF("k", "w").repartition(32)
      .agg(GraftFunctions.graft_f2(col("k"), col("w"))).collect().head.getLong(0)
    assert(one === many)
  }

  test("graft_f2 weighted update ≡ row-expanded unit updates") {
    import spark.implicits._
    val weighted = Seq(("a", 3L), ("b", 2L), ("c", 5L))
    val expanded = weighted.flatMap { case (k, w) => Seq.fill(w.toInt)((k, 1L)) }
    val wv = weighted.toDF("k", "w")
      .agg(GraftFunctions.graft_f2(col("k"), col("w"))).collect().head.getLong(0)
    val ev = expanded.toDF("k", "w")
      .agg(GraftFunctions.graft_f2(col("k"), col("w"))).collect().head.getLong(0)
    assert(wv === ev)
  }

  test("graft_f2 estimate is sane on skewed data and exact F2 is recovered " +
    "within the AMS error envelope (deterministic input, pinned)") {
    import spark.implicits._
    // Zipf-ish: token i has count 1000/i
    val pairs = (1 to 200).map(i => (s"z$i", (1000 / i).toLong))
    val exact = pairs.map { case (_, c) => c * c }.sum
    val est = pairs.toDF("k", "w")
      .agg(GraftFunctions.graft_f2(col("k"), col("w"))).collect().head.getLong(0)
    assert(est > exact / 4 && est < exact * 4,
      s"estimate $est implausibly far from exact $exact")
  }

  test("q_ams_f2 runs under ObjectHashAggregate with a partial stage") {
    val plan = run("q_ams_f2").queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"))
    assert(plan.contains("partial_graft_f2") || plan.contains("graft_f2"))
  }

  test("q_ams_f2: every source's err_ppm is within the 4-group AMS envelope") {
    // |est − exact| can exceed exact only on pathological sign alignment;
    // with this corpus the median-of-means stays within ±100% — pinned
    // (deterministic hashes, deterministic data).
    val rows = run("q_ams_f2").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val err = math.abs(r.getLong(r.fieldIndex("err_ppm")))
      assert(err <= 1000000L, s"source ${r.get(0)}: err_ppm $err > 1e6")
    }
  }

  // ---------------------------------------------------------------- q_hits

  test("q_hits matches an independent driver-side HITS recompute") {
    val sup = spark.read.parquet(s"$sf/supplier.parquet")
      .select("s_suppkey").collect().map(_.getLong(0))
    val n = sup.length.toLong
    val nodes = sup.toSet
    val edges = sup.flatMap(src => (1 to 3).map(e =>
      (src, h32(s"$src:$e") % n)))
    val byDst = edges.groupBy(_._2)
    val bySrc = edges.groupBy(_._1)
    var hub = nodes.map(_ -> 1000000L).toMap
    var auth = Map.empty[Long, Long]
    for (_ <- 1 to 4) {
      val araw = nodes.map(v =>
        v -> byDst.getOrElse(v, Array.empty[(Long, Long)])
          .map { case (s0, _) => hub(s0) }.sum).toMap
      val amax = araw.values.max
      auth = araw.map { case (v, r) => v -> r * 1000000L / amax }
      val hraw = nodes.map(u =>
        u -> bySrc.getOrElse(u, Array.empty[(Long, Long)])
          .map { case (_, d0) => auth.getOrElse(d0, 0L) }.sum).toMap
      val hmax = hraw.values.max
      hub = hraw.map { case (u, r) => u -> r * 1000000L / hmax }
    }
    val expect = nodes.toSeq
      .map(v => (v, auth(v), hub(v)))
      .sortBy { case (v, a, _) => (-a, v) }
      .take(20)
    val got = run("q_hits").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expect)
  }

  test("q_hits pins each half-step: executed plan depth stays bounded") {
    // 8 half-iterations with localCheckpoint → the FINAL plan joins two
    // pinned vectors; without the pin it would embed 8 joins of edges.
    val plan = run("q_hits").queryExecution.executedPlan.toString
    val joins = "Join".r.findAllIn(plan).length
    assert(joins <= 4, s"expected a shallow final plan, got $joins joins:\n$plan")
  }

  // ---------------------------------------------------------- q_count_sketch

  test("q_count_sketch matches a brute-force signed-median recompute") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val counts = docs.flatMap(_.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (t, a) => t -> a.length.toLong }
    val counters = scala.collection.mutable.Map.empty[(Long, Long), Long]
      .withDefaultValue(0L)
    for ((t, c) <- counts; j <- 0L until 5L) {
      val b = h32(s"b:$j:$t") % 256
      val sgn = if (h32(s"s:$j:$t") % 2 == 0) 1L else -1L
      counters((j, b)) += sgn * c
    }
    val expect = counts.toSeq
      .sortBy { case (t, c) => (-c, t) }.take(20)
      .map { case (t, c) =>
        val es = (0L until 5L).map { j =>
          val b = h32(s"b:$j:$t") % 256
          val sgn = if (h32(s"s:$j:$t") % 2 == 0) 1L else -1L
          sgn * counters((j, b))
        }.sorted
        (t, c, es(2), es(2) - c)
      }
    val got = run("q_count_sketch").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === expect)
  }

  test("q_count_sketch broadcasts the 5x256 counter table") {
    val plan = run("q_count_sketch").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"))
  }

  // ----------------------------------------------------------- q_secret_scan

  test("q_secret_scan matches an independent recompute of the planted corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    def plant(id: Long, text: String): String = {
      val a = if (id % 5 == 0) s" sk_live_${md5hex(id.toString)}" else ""
      val b = if (id % 7 == 0) s" ${md5hex(s"h:$id")}" else ""
      val c = if (id % 11 == 0)
        s" T0k${md5hex(s"m:$id").take(8).toUpperCase}${md5hex(s"n:$id").take(12)}"
      else ""
      text + a + b + c
    }
    def classify(tok: String): Option[String] = {
      if (tok.length < 20 || !tok.matches("^[A-Za-z0-9+/=_-]+$")) None
      else if (tok.matches("^[0-9a-f]{32,}$")) Some("hex_key")
      else if (tok.matches("^(sk_live_|ghp_|AKIA)[A-Za-z0-9_]{8,}$"))
        Some("prefixed_key")
      else {
        val up = tok.count(_.isUpper)
        val lo = tok.count(_.isLower)
        val di = tok.count(_.isDigit)
        if (up >= 2 && lo >= 2 && di >= 2) Some("high_mix") else None
      }
    }
    val hits = for {
      (src, id, text) <- docs.toSeq
      tok <- plant(id, text).split("\\s+").toSeq if tok.nonEmpty
      cls <- classify(tok)
    } yield (src, cls, id, tok.length.toLong)
    val expect = hits.groupBy { case (s0, c0, _, _) => (s0, c0) }
      .map { case ((s0, c0), g) =>
        (s0, c0, g.size.toLong, g.map(_._3).distinct.size.toLong,
          g.map(_._4).sum)
      }.toSeq.sortBy { case (s0, c0, _, _, _) => (s0, c0) }
    val got = run("q_secret_scan").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expect)
    assert(got.nonEmpty, "planted corpus must produce detections")
    assert(got.map(_._2).toSet.subsetOf(Set("hex_key", "prefixed_key", "high_mix")))
  }

  test("q_secret_scan never shuffles document text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val payloads = run("q_secret_scan").queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e.child.output.map(_.name) }
      payloads.foreach { cols =>
        assert(!cols.contains("t") && !cols.contains("text"),
          s"text leaked into a shuffle: ${cols.mkString(", ")}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  // ------------------------------------------------------------- q_perm_test

  test("q_perm_test matches a driver-side enumeration of the 64 relabelings") {
    val xs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("lang").isin("en", "de"))
      .select("doc_id", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val (ena, de) = xs.partition(_._2 == "en")
    val obs = math.abs(
      ena.map(_._3).sum * de.length - de.map(_._3).sum * ena.length)
    val stats = (1 to 64).map { k =>
      val (a, b) = xs.partition { case (id, _, _) => h32(s"$k:$id") % 2 == 0 }
      math.abs(a.map(_._3).sum * b.length - b.map(_._3).sum * a.length)
    }
    val nGe = stats.count(_ >= obs).toLong
    val row = run("q_perm_test").collect().head
    assert(row.getLong(row.fieldIndex("n_en")) === ena.length.toLong)
    assert(row.getLong(row.fieldIndex("n_de")) === de.length.toLong)
    assert(row.getLong(row.fieldIndex("obs_stat")) === obs)
    assert(row.getLong(row.fieldIndex("n_ge")) === nGe)
    assert(row.getLong(row.fieldIndex("p_ppm")) === (1 + nGe) * 1000000 / 65)
  }

  test("q_perm_test: no window, no sort before the final 1-row reduce") {
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = run("q_perm_test").queryExecution.executedPlan
    assert(plan.collect { case w: WindowExec => w }.isEmpty)
  }

  // -------------------------------------------------------------- q_seasonal

  test("q_seasonal: residuals are exact against a driver-side recompute") {
    def toLdt(x: Any): java.time.LocalDateTime = x match {
      case t: java.sql.Timestamp =>
        t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime
      case l: java.time.LocalDateTime => l
    }
    val evs = Tables.events(spark, sf)
      .select(col("ts"), col("value")).collect()
      .map(r => (toLdt(r.get(r.fieldIndex("ts"))),
        r.getDouble(r.fieldIndex("value"))))
    val daily = evs.groupBy(_._1.toLocalDate).map { case (day, g) =>
      day -> g.map { case (_, v) => math.floor(v * 100 + 0.5).toLong }.sum
    }
    val med = daily.groupBy(_._1.getDayOfWeek.getValue).map { case (wd, g) =>
      val sorted = g.toSeq.sortBy { case (day, tot) => (tot, day.toString) }
      wd -> sorted((sorted.length - 1) / 2)._2
    }
    val expect = daily.toSeq.map { case (day, tot) =>
      val wd = day.getDayOfWeek.getValue
      (day.toString, wd.toLong, tot, med(wd), tot - med(wd))
    }.sortBy { case (day, _, _, _, res) => (-math.abs(res), day) }.take(10)
    val got = run("q_seasonal").collect().map(r =>
      (toLdt(r.get(r.fieldIndex("day"))).toLocalDate.toString,
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got === expect)
  }

  // -------------------------------------------------------------- q_stream_f2

  test("q_stream_f2: streaming sketch state == one-shot batch aggregation " +
    "(linearity under incremental micro-batch merge)") {
    val streamed = run("q_stream_f2").collect()
      .map(r => r.get(0).toString -> r.getLong(r.fieldIndex("f2_est"))).toMap
    val batch = Tables.events(spark, sf)
      .groupBy(date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("c"))
      .groupBy("day")
      .agg(GraftFunctions.graft_f2(col("event_type"), col("c")).as("f2_est"))
      .collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  // -------------------------------------------------------- q_coverage_select

  test("q_coverage_select matches a driver-side greedy recompute and keeps " +
    "the submodular invariants (non-increasing gains, exact accounting)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val grams: Map[Long, Set[String]] = docs.map { case (id, text) =>
      val t = text.split("\\s+").filter(_.nonEmpty)
      id -> t.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet
    }.toMap
    var covered = Set.empty[String]
    var selected = Set.empty[Long]
    val expect = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
    var k = 1
    var stop = false
    while (k <= 8 && !stop) {
      val cands = grams.view
        .filterKeys(id => !selected.contains(id))
        .mapValues(g => (g -- covered).size)
        .filter(_._2 > 0).toSeq
      if (cands.isEmpty) stop = true
      else {
        val (best, gain) = cands.minBy { case (id, g) => (-g, id) }
        covered = covered ++ grams(best)
        selected += best
        expect += ((k, best, gain.toLong, covered.size.toLong))
        k += 1
      }
    }
    val got = run("q_coverage_select").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === expect.toSeq)
    // greedy max-coverage marginal gains never increase
    val gains = got.map(_._3)
    assert(gains.zip(gains.tail).forall { case (a, b) => a >= b })
    // covered_total is the exact running sum of gains
    assert(got.map(_._3).scanLeft(0L)(_ + _).tail === got.map(_._4))
  }

  // ------------------------------------------------------------------- q_rbo

  test("q_rbo matches an exact-rational driver-side recompute") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "n_chars", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getString(2).split("\\s+").count(_.nonEmpty).toLong))
    val l1 = docs.sortBy { case (id, nc, _) => (-nc, id) }.take(10).map(_._1)
    val l2 = docs.sortBy { case (id, _, nt) => (-nt, id) }.take(10).map(_._1)
    val d10 = BigInt(2520) * BigInt(10).pow(10)
    val coef = (1 to 10).map(dd =>
      d10 * BigInt(9).pow(dd - 1) / (BigInt(10).pow(dd) * dd))
    val pos1 = l1.zipWithIndex.toMap
    val pos2 = l2.zipWithIndex.toMap
    val shared = l1.toSet.intersect(l2.toSet)
    val n = shared.toSeq.map { id =>
      val m = math.max(pos1(id), pos2(id)) + 1
      coef.drop(m - 1).sum
    }.sum
    val expectPpm = (n / (d10 / 1000000)).toLong
    val aD = (d: Int) => shared.count(id =>
      math.max(pos1(id), pos2(id)) + 1 <= d).toLong
    val row = run("q_rbo").collect().head
    assert(row.getLong(row.fieldIndex("a1")) === aD(1))
    assert(row.getLong(row.fieldIndex("a5")) === aD(5))
    assert(row.getLong(row.fieldIndex("a10")) === aD(10))
    assert(row.getLong(row.fieldIndex("rbo_ppm")) === expectPpm)
    val ppm = row.getLong(row.fieldIndex("rbo_ppm"))
    assert(ppm >= 0 && ppm <= 1000000)
  }

  test("q_rbo weight table: identical rankings score exactly the truncated " +
    "mass 1 − p^10 (651321 ppm) — the depth-10 ceiling of this RBO") {
    // identical lists: the item at rank m has max(r1,r2)=m, so the total
    // is Σ_m W(m) = Σ_d d·coef(d) = D·(1 − (9/10)^10) — the truncated
    // RBO's entire mass (the residual beyond depth 10 is deliberately
    // not extrapolated; Webber et al.'s RBO_EXT would add it).
    val d10 = BigInt(2520) * BigInt(10).pow(10)
    val coef = (1 to 10).map(dd =>
      d10 * BigInt(9).pow(dd - 1) / (BigInt(10).pow(dd) * dd))
    val total = (1 to 10).map(m => coef.drop(m - 1).sum).sum
    assert(total === d10 * (BigInt(10).pow(10) - BigInt(9).pow(10))
      / BigInt(10).pow(10))
    assert((total / (d10 / 1000000)).toLong === 651321L)
  }

  // ---------------------------------------------------------- q_media_histeq

  test("q_media_histeq matches a closed-form recompute (no MediaCodec)") {
    val assets = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 3 === 0)
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expect = assets.map { case (id, nc) =>
      val w = (1 + nc % 16).toInt
      val h = (1 + (nc * 7) % 16).toInt
      val bytes = (0 until 3 * w * h).map(p => ((p * 37 + id) % 256).toInt)
      val n = bytes.length.toLong
      val hist = new Array[Long](256)
      bytes.foreach(hist(_) += 1)
      val cdf = hist.scanLeft(0L)(_ + _).tail
      val cdfMin = cdf(hist.indexWhere(_ > 0))
      val nv = (0 until 256).map(v =>
        if (hist(v) == 0) -1L else (cdf(v) - cdfMin) * 255L / (n - cdfMin))
      val db = hist.count(_ > 0).toLong
      val da = nv.filter(_ >= 0).distinct.length.toLong
      val cs = (0 until 256).map(v => hist(v) * math.max(nv(v), 0L)).sum
      (id, n, db, da, cs)
    }.sortBy(_._1).toSeq
    val got = run("q_media_histeq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expect)
    // equalization merges bins, never splits
    got.foreach { case (id, _, db, da, _) =>
      assert(da <= db, s"asset $id: distinct_after $da > before $db")
    }
  }

  // -------------------------------------------------------- q_filter_ablation

  test("q_filter_ablation: exact attribution against the per-doc flag frame") {
    val flags = run("q_gopher_rules")
      .select("wc_ok", "mwl_ok", "sym_ok", "alpha_ok", "stop_ok").collect()
      .map(r => (0 until 5).map(r.getBoolean))
    val names = Seq("wc", "mwl", "sym", "alpha", "stop")
    val expect = (names.zipWithIndex.map { case (n, i) =>
      val fails = flags.count(f => !f(i)).toLong
      val uniq = flags.count(f =>
        !f(i) && f.zipWithIndex.forall { case (ok, j) => j == i || ok }).toLong
      (n, fails, uniq)
    } :+ (("any",
      flags.count(f => f.exists(!_)).toLong,
      flags.count(f => f.count(!_) == 1).toLong)))
      .sortBy(_._1)
    val got = run("q_filter_ablation").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expect)
    // accounting identity: docs killed by exactly one rule = Σ unique_fails
    val m: Map[String, (Long, Long)] =
      got.map { case (k, f, u) => k -> ((f, u)) }.toMap
    val singles: Long = names.map(n => m(n)._2).sum
    assert(m("any")._2 === singles)
    // 'any' never exceeds the sum of individual kills (inclusion bound)
    assert(m("any")._1 <= names.map(n => m(n)._1).sum)
  }

  // --------------------------------------------------------- q_join_size_est

  test("q_join_size_est matches a brute-force AMS inner-product recompute") {
    def keyCounts(table: String, key: String): Map[Long, Long] =
      spark.read.parquet(s"$sf/$table.parquet")
        .groupBy(col(key).as("k")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pk = keyCounts("part", "p_partkey")
    val lk = keyCounts("lineitem", "l_partkey")
    val exact = pk.keysIterator
      .map(k => pk(k) * lk.getOrElse(k, 0L)).sum
    def estimates(m: Int): (Long, Long) = {
      def ctrs(cnt: Map[Long, Long]): Array[Long] = {
        val a = new Array[Long](m)
        for ((k, c) <- cnt; j <- 0 until m) {
          val sgn = if (h32(s"$m:$j:$k") % 2 == 0) 1L else -1L
          a(j) += sgn * c
        }
        a
      }
      val c1 = ctrs(pk); val c2 = ctrs(lk)
      val prods = (0 until m).map(j => c1(j) * c2(j))
      val per = m / 4
      val gs = (0 until 4).map(g =>
        (0 until per).map(j => prods(g * per + j)).sum).sorted
      def sdiv(a: Long, b: Long): Long = if (a >= 0) a / b else -((-a) / b)
      (sdiv(prods.sum, m), sdiv(gs(1), per))
    }
    val rows = run("q_join_size_est").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        r.getLong(r.fieldIndex("est_mean")),
        r.getLong(r.fieldIndex("est_med"))))).toMap
    for (m <- Seq(32, 256)) {
      val (em, ed) = estimates(m)
      assert(rows(m.toLong)._1 === exact)
      assert(rows(m.toLong)._2 === em, s"est_mean at m=$m")
      assert(rows(m.toLong)._3 === ed, s"est_med at m=$m")
    }
    // the wide sketch's unbiased estimator lands inside the AMS
    // envelope on this deterministic corpus (pinned, not flaky)
    val err256 = math.abs(rows(256L)._2 - exact) * 1000000 / exact
    assert(err256 <= 500000L, s"m=256 est_mean off by $err256 ppm")
  }

  // ------------------------------------------------------- q_sorted_blocking

  test("q_sorted_blocking: every pair is a true window mate of the global " +
    "sort, the pair set matches a driver-side sliding window, and the plan " +
    "has no single-partition exchange") {
    import spark.implicits._
    val parts = spark.read.parquet(s"$sf/part.parquet")
      .select("p_partkey", "p_name").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .sortBy { case (id, name) => (name, id) }
    val expectPairs = (for {
      i <- parts.indices
      dlt <- 1 to 3 if i + dlt < parts.length
    } yield (parts(i)._1, parts(i + dlt)._1, parts(i)._2, parts(i + dlt)._2,
      dlt.toLong)).toSeq
    // score the expected pairs through the same (fuzz-pinned) native
    // expression, then compare COMPLETE outputs
    val expect = expectPairs.toDF("id_a", "id_b", "name_a", "name_b", "delta")
      .withColumn("jw_ppm",
        floor(graft.functions.GraftFunctions
          .jaro_winkler(col("name_a"), col("name_b")) * 1000000 + 0.5)
          .cast("long"))
      .filter(col("jw_ppm") >= 900000L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getLong(5)))
      .sortBy(t => (t._1, t._2)).toSeq
    val got = run("q_sorted_blocking").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getLong(r.fieldIndex("delta")), r.getLong(r.fieldIndex("jw_ppm"))))
      .toSeq
    assert(got === expect)
    assert(got.forall { case (_, _, dlt, _) => dlt >= 1 && dlt <= 3 })
    // the two-pass rank replaces the global window: nothing in the
    // executed plan may funnel the corpus through one partition
    val plan = run("q_sorted_blocking").queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"single-partition exchange in SNM plan:\n$plan")
  }

  // ------------------------------------------------------ q_deletion_vectors

  test("q_deletion_vectors: delete batches never touch the data files " +
    "(merge-on-read), and the vector subtracts exactly the right rows") {
    import org.apache.spark.sql.expressions.Window
    val root  = java.nio.file.Files.createTempDirectory("dvspec")
    val data  = root.resolve("data").toString
    val dvDir = root.resolve("dv").toString
    val w = Window.partitionBy("grp").orderBy("doc_id")
    spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("grp", pmod(col("doc_id"), lit(256)).cast("int"))
      .withColumn("_pos", (row_number().over(w) - 1).cast("long"))
      .write.partitionBy("grp").mode("overwrite").parquet(data)
    def snapshot(): Map[String, Long] = {
      val out = scala.collection.mutable.Map.empty[String, Long]
      java.nio.file.Files.walk(java.nio.file.Paths.get(data)).forEach { p =>
        if (p.toString.endsWith(".parquet"))
          out(p.toString) = java.nio.file.Files.size(p)
      }
      out.toMap
    }
    val before = snapshot()
    val table = spark.read.parquet(data)
    table.filter(pmod(col("doc_id"), lit(97)) === 3).select("grp", "_pos")
      .write.mode("overwrite").parquet(dvDir)
    table.filter(col("lang") === "de").select("grp", "_pos")
      .write.mode("append").parquet(dvDir)
    assert(snapshot() === before,
      "deletion-vector batches modified data files (that's copy-on-write)")
    val dv = spark.read.parquet(dvDir).distinct()
    val survivors = table.join(broadcast(dv), Seq("grp", "_pos"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val expect = spark.read.parquet(s"$sf/documents.parquet")
      .filter(!(pmod(col("doc_id"), lit(97)) === 3) && col("lang") =!= "de")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(survivors.toSeq === expect.toSeq)
    // the sidecar is O(deleted), not O(table)
    assert(dv.count() < spark.read.parquet(s"$sf/documents.parquet").count())
  }

  // ----------------------------------------------------------------- q_anova

  test("q_anova matches a driver-side recompute and the float F within " +
    "quantization error") {
    val xs = spark.read.parquet(s"$sf/documents.parquet")
      .select("lang", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val groups = xs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val k = groups.size.toLong
    val n = xs.length.toLong
    val s0 = xs.map(_._2).sum
    val q = xs.map(x => x._2 * x._2).sum
    val a = groups.values.map { g =>
      val sg = g.sum; (sg * sg) / g.length
    }.sum
    val ssb = a - (s0 * s0) / n
    val ssw = q - a
    val fPpm = (BigInt(ssb) * (n - k) * 1000000 / (BigInt(ssw) * (k - 1))).toLong
    val row = run("q_anova").collect().head
    assert(row.getLong(row.fieldIndex("k")) === k)
    assert(row.getLong(row.fieldIndex("n")) === n)
    assert(row.getLong(row.fieldIndex("ssb")) === ssb)
    assert(row.getLong(row.fieldIndex("ssw")) === ssw)
    assert(row.getLong(row.fieldIndex("f_ppm")) === fPpm)
    // the floor quantization costs < 1 unit on each ~1e10 term: the
    // float-exact F agrees to well under 1 ppm relative error
    val means = groups.view.mapValues(g => g.sum.toDouble / g.length).toMap
    val grand = s0.toDouble / n
    val ssbF = groups.map { case (g, v) =>
      v.length * math.pow(means(g) - grand, 2)
    }.sum
    val sswF = xs.map { case (g, x) => math.pow(x - means(g), 2) }.sum
    val fF = (ssbF / (k - 1)) / (sswF / (n - k)) * 1e6
    assert(math.abs(fF - fPpm) / fF < 1e-4,
      s"quantized $fPpm vs float ${fF.toLong}")
  }

  // -------------------------------------------------------------- q_texttile

  test("q_texttile matches a driver-side window-Jaccard recompute and is " +
    "map-only below the output sort") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expect = (for {
      (id, text) <- docs.toSeq
      toks = text.split("\\s+").filter(_.nonEmpty)
      if toks.length >= 20
      p <- 10 to (toks.length - 10) by 5
      pre = toks.slice(p - 10, p).toSet
      post = toks.slice(p, p + 10).toSet
      inter = (pre & post).size.toLong
      sim = inter * 1000000L / (pre.size + post.size - inter)
      if sim < 200000L
    } yield (id, p.toLong, sim)).sortBy(t => (t._1, t._2))
    val got = run("q_texttile").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expect)
    assert(got.forall(_._3 < 200000L))
    // in-row claim: the only exchange is the final output sort
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exchanges = run("q_texttile").queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.length <= 1,
        s"expected only the output-sort exchange, got ${exchanges.length}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  // --------------------------------------------------------- q_rerank_funnel

  test("q_rerank_funnel: funnel invariants — final docs come from the " +
    "recall set, ranks and movement are consistent, scores descend") {
    val rows = run("q_rerank_funnel").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.map(_._1).toSeq === (1 to rows.length))
    rows.foreach { case (rank, id, bm25Rank, moved, _) =>
      assert(bm25Rank >= 1 && bm25Rank <= 50,
        s"doc $id reranked from outside the recall set ($bm25Rank)")
      assert(moved === (bm25Rank - rank).toLong)
    }
    val scores = rows.map(_._5)
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // the reranker scored candidates against the top-5 seed: a doc in
    // the seed set should score near the top of the cosine ordering
    // (its own vector is inside the query sum) — at least one survives
    assert(rows.exists(_._3 <= 5),
      "no seed document survived its own pseudo-relevance rerank")
  }

  // ------------------------------------------------------------ q_range_frame

  test("q_range_frame matches a brute trailing-hour recompute (value-based " +
    "frame, tie peers share one frame)") {
    def toLdt2(x: Any): Long = x match {
      case t: java.sql.Timestamp => t.toInstant.getEpochSecond
      case l: java.time.LocalDateTime => l.toEpochSecond(java.time.ZoneOffset.UTC)
    }
    val evs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), toLdt2(r.get(2)),
        math.floor(r.getDouble(3) * 100 + 0.5).toLong))
    val byUser = evs.groupBy(_._1)
    val expect = evs.toSeq.map { case (u, id, secs, _) =>
      val frame = byUser(u).filter(e => e._3 >= secs - 3600 && e._3 <= secs)
      (u, id, frame.map(_._4).sum, frame.length.toLong)
    }.sortBy(t => (t._1, t._2))
    val got = run("q_range_frame").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === expect)
  }

  // ----------------------------------------------------------- q_license_scan

  test("q_license_scan: classification matches the planted corpus, and the " +
    "decision policy is total (every doc lands in exactly one row set)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "doc_id", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def cls(id: Long): (String, String, String) = {
      val lic =
        if (id % 7 == 0)
          (id % 3) match {
            case 0 => "MIT"; case 1 => "Apache-2.0"; case _ => "GPL-3.0-only"
          }
        else if (id % 11 == 0) "GPL-prose"
        else "none"
      val fam =
        if (lic == "MIT" || lic == "Apache-2.0") "permissive"
        else if (lic.startsWith("GPL")) "copyleft"
        else "none"
      val dec = fam match {
        case "copyleft" => "exclude"
        case "permissive" => "keep_attrib"
        case _ => "keep"
      }
      (lic, fam, dec)
    }
    val expect = docs.toSeq.map { case (src, id, nc) =>
      val (l, f, dd) = cls(id); (src, l, f, dd, id, nc)
    }.groupBy { case (src, l, f, dd, _, _) => (src, l, f, dd) }
      .map { case ((src, l, f, dd), g) =>
        (src, l, f, dd, g.size.toLong, g.map(_._6).sum)
      }.toSeq.sortBy(t => (t._1, t._2))
    val got = run("q_license_scan").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got === expect)
    assert(got.map(_._5).sum === docs.length.toLong)
  }

  // ---------------------------------------------------- q_dedup_method_overlap

  test("q_dedup_method_overlap: counts agree with the two generators' own " +
    "outputs and the set identities hold") {
    val lsh = run("q_minhash_lsh_pairs").select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val win = run("q_winnow_pairs").select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val row = run("q_dedup_method_overlap").collect().head
    def f(n: String) = row.getLong(row.fieldIndex(n))
    assert(f("n_lsh") === lsh.size.toLong)
    assert(f("n_win") === win.size.toLong)
    assert(f("n_both") === (lsh & win).size.toLong)
    assert(f("n_union") === (lsh | win).size.toLong)
    assert(f("n_both") <= math.min(f("n_lsh"), f("n_win")))
    if (f("n_lsh") > 0)
      assert(f("lsh_in_win_ppm") === f("n_both") * 1000000 / f("n_lsh"))
    if (f("n_win") > 0)
      assert(f("win_in_lsh_ppm") === f("n_both") * 1000000 / f("n_win"))
  }

  // ---------------------------------------------------------- q_equidepth_hist

  test("q_equidepth_hist: exact ntile semantics — bucket masses differ by " +
    "at most 1, bounds tile the sorted domain, accounting is exact") {
    val rows = run("q_equidepth_hist").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.map(_._1).toSeq === (1 to 32))
    val total = spark.read.parquet(s"$sf/orders.parquet").count()
    assert(rows.map(_._4).sum === total)
    // SQL ntile: first (total mod 32) buckets get one extra row
    val small = total / 32; val big = total % 32
    rows.foreach { case (b, _, _, n, ndv) =>
      val want = if (b <= big) small + 1 else small
      assert(n === want, s"bucket $b mass $n != $want")
      assert(ndv >= 1 && ndv <= n)
    }
    // bounds are monotone and non-overlapping up to shared boundary
    // values (a value straddling a bucket cut appears in both)
    rows.sliding(2).foreach { case Array((_, _, hi1, _, _), (_, lo2, _, _, _)) =>
      assert(lo2 >= hi1 - 0, s"bucket bounds regressed: $hi1 then $lo2")
      assert(lo2 >= hi1 || lo2 == hi1)
    }
    rows.foreach { case (_, lo, hi, _, _) => assert(lo <= hi) }
  }
}
