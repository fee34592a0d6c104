package graft

import org.scalatest.funsuite.AnyFunSuite

/** Safety (PII + decontamination), sketch (KMV, count-min), and graph
  * (PageRank, triangles) operators: plan shapes the 100 TB story
  * depends on, plus the structural invariants the oracle can't express
  * (CM never underestimates, PageRank conserves mass up to floor
  * leakage, determinism across runs).
  */
class SafetySketchGraphSpec extends AnyFunSuite with SessionSuite {

  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  private def shufflePayloads(name: String): Seq[Seq[String]] = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try run(name).queryExecution.executedPlan
      .collect { case e: ShuffleExchangeExec => e.child.output.map(_.name).toSeq }
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q_pii_redact never shuffles document text (map-side redaction)") {
    val payloads = shufflePayloads("q_pii_redact")
    payloads.foreach { cols =>
      assert(!cols.contains("t") && !cols.contains("r") && !cols.contains("text"),
        s"raw/redacted text leaked into a shuffle: ${cols.mkString(", ")}")
    }
  }

  test("q_pii_redact redacts exactly the injected 1-in-4 documents") {
    val rows = run("q_pii_redact").collect()
    val expected = Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 4 === 0)
      .count()
    assert(rows.length == expected, s"${rows.length} vs $expected")
    rows.foreach { r =>
      assert(r.getAs[String]("fingerprint").matches("[0-9a-f]{32}"))
      assert(r.getAs[Int]("chars_removed") > 0,
        "redaction must shorten (placeholders are shorter than the PII)")
    }
  }

  test("q_decontaminate broadcasts the benchmark gram set") {
    val p = run("q_decontaminate").queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    shufflePayloads("q_decontaminate").foreach { cols =>
      assert(!cols.contains("text") && !cols.contains("t"),
        s"document text leaked into a shuffle: ${cols.mkString(", ")}")
    }
  }

  test("q_kmv_distinct: merged sketch covers the union (ALL ≥ any group)") {
    val rows = run("q_kmv_distinct").collect()
    assert(rows.length == 6, rows.mkString("; "))
    val byScope = rows.map(r =>
      r.getAs[String]("scope") -> r.getAs[Long]("n_exact")).toMap
    assert(byScope("ALL") >= byScope.filterNot(_._1 == "ALL").values.max)
    rows.foreach(r => assert(r.getAs[Long]("kmv_est") > 0))
  }

  test("q_kmv_intersect: every pair reported, estimates non-negative") {
    val rows = run("q_kmv_intersect").collect()
    assert(rows.length == 10, s"5 choose 2 pairs, got ${rows.length}")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_exact") >= 0 && r.getAs[Long]("kmv_est") >= 0)
      assert(r.getAs[String]("g1") < r.getAs[String]("g2"), r.toString)
    }
  }

  test("q_countmin: count-min never underestimates") {
    val rows = run("q_countmin").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("cm_est") >= r.getAs[Long]("exact"),
        s"CM underestimated ${r.getAs[String]("token")}")
      assert(r.getAs[Long]("overcount") ==
        r.getAs[Long]("cm_est") - r.getAs[Long]("exact"))
    }
  }

  test("q_countmin broadcasts the 4x256 counter table") {
    val p = run("q_countmin").queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_ppr_seed conserves mass up to floor leakage and is deterministic") {
    val a = run("q_ppr_seed").collect()
    val b = run("q_ppr_seed").collect()
    assert(a.toSeq == b.toSeq, "PageRank must be run-to-run deterministic")
    val n = Tables.supplier(spark, sf).count()
    assert(a.length == math.min(20L, n))
    // mass only enters through the seed teleport: no rank exceeds the
    // total, none is negative, and the top node is seed-reachable (> 0)
    val mass = 1000000000000L
    a.foreach { r =>
      val rank = r.getAs[Long]("rank")
      assert(rank >= 0L && rank <= mass, r.toString)
    }
    assert(a.head.getAs[Long]("rank") > 0L)
  }

  test("q_ppr_seed aggregates contributions partially before the shuffle") {
    // the loop localCheckpoints each rank vector, so the final plan is
    // a Scan ExistingRDD; assert the shape of one real iteration instead
    val p = ops.Graph.pprFirstStep(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate") && p.contains("partial"), p)
  }

  test("q_label_prop: communities partition the nodes and are stable") {
    val a = run("q_label_prop").collect()
    val b = run("q_label_prop").collect()
    assert(a.toSeq == b.toSeq, "LPA must be run-to-run deterministic")
    val n = Tables.supplier(spark, sf).count()
    val sizes = a.map(_.getAs[Long]("size"))
    assert(sizes.sum <= n, "communities cannot cover more nodes than exist")
    assert(sizes.sorted.reverse.toSeq == sizes.toSeq, "ordered by size desc")
  }

  test("q_k_anonymity: risk accounting is internally consistent") {
    val rows = run("q_k_anonymity").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nc = r.getAs[Long]("n_classes"); val sc = r.getAs[Long]("small_classes")
      val ar = r.getAs[Long]("rows_at_risk"); val nr = r.getAs[Long]("n_rows")
      val ppm = r.getAs[Long]("risk_ppm")
      assert(sc <= nc && ar <= nr, r.toString)
      // each small class has 1..4 rows
      assert(ar >= sc && ar <= sc * 4, r.toString)
      assert(ppm >= 0L && ppm <= 1000000L, r.toString)
    }
  }

  test("q_k_anonymity shuffles only the QI tuple, never props/value") {
    val payloads = shufflePayloads("q_k_anonymity")
    assert(payloads.nonEmpty)
    payloads.foreach { cols =>
      assert(!cols.contains("props") && !cols.contains("value"),
        s"non-QI event payload leaked into a shuffle: ${cols.mkString(", ")}")
    }
  }

  test("q_bfs_hops: histogram covers all nodes; seeds are hop 0") {
    val a = run("q_bfs_hops").collect()
    val b = run("q_bfs_hops").collect()
    assert(a.toSeq == b.toSeq, "BFS must be run-to-run deterministic")
    val n = Tables.supplier(spark, sf).count()
    val seeds = Tables.supplier(spark, sf)
      .filter(org.apache.spark.sql.functions.expr("s_suppkey % 10 = 0"))
      .count()
    assert(a.map(_.getAs[Long]("n_nodes")).sum == n,
      "hop histogram must partition the node set")
    val byHop = a.map(r => r.getAs[Int]("hop") -> r.getAs[Long]("n_nodes")).toMap
    assert(byHop.getOrElse(0, 0L) == seeds, s"hop-0 count must equal seeds: $byHop")
    assert(byHop.keys.forall(h => h == -1 || (h >= 0 && h <= 4)), byHop.toString)
  }

  test("q_bloom_prefilter: no false negatives, bounded survivors") {
    val r = run("q_bloom_prefilter").collect().head
    val nProbe = r.getAs[Long]("n_probe")
    val pass = r.getAs[Long]("bloom_pass")
    val truth = r.getAs[Long]("true_match")
    val fp = r.getAs[Long]("false_pos")
    // the defining Bloom property: every true match survives the filter
    assert(truth > 0L && pass >= truth, r.toString)
    assert(fp == pass - truth && fp >= 0L && pass <= nProbe, r.toString)
  }

  test("q_bloom_prefilter broadcasts the set-bit table to the probe side") {
    val p = run("q_bloom_prefilter").queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_quantile_sketch: estimates bracket the data, heavy window is partitioned") {
    val rows = run("q_quantile_sketch").collect()
    assert(rows.map(_.getAs[Int]("pct")).toSeq == Seq(50, 90, 99))
    val mm = Tables.orders(spark, sf)
      .agg(org.apache.spark.sql.functions.min("o_totalprice"),
        org.apache.spark.sql.functions.max("o_totalprice")).collect()(0)
    val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
    rows.foreach { r =>
      val est = r.getAs[Double]("est"); val ex = r.getAs[Double]("exact")
      assert(est >= lo && est <= hi && ex >= lo && ex <= hi, r.toString)
      assert(r.getAs[Double]("err") === est - ex)
    }
    // estimates must be monotone in the percentile
    val ests = rows.map(_.getAs[Double]("est"))
    assert(ests.sorted.toSeq == ests.toSeq, ests.mkString(","))
    // EVERY window must be partitioned (the ranged two-pass rank and
    // prefix sum key on the range-partition id; the 160-row register
    // merge is a broadcast self-join, not a window) — a 5-value group
    // key or an unpartitioned running sum is a one-task funnel at scale
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val wins = SparkEntry.queries("q_quantile_sketch")(spark, sf)
      .queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "the ranged rank/prefix-sum windows must exist")
    wins.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"unpartitioned window in q_quantile_sketch: $w"))
  }

  test("q_hll_distinct: merged ALL sketch present, estimates inside 3σ") {
    val rows = run("q_hll_distinct").collect()
    assert(rows.length == 6, "5 priority groups + the merged ALL row")
    val all = rows.find(_.getAs[String]("scope") == "ALL")
    assert(all.isDefined, "register-wise max merge must produce ALL")
    rows.foreach { r =>
      val exact = r.getAs[Long]("n_exact")
      val est = r.getAs[Long]("hll_est")
      assert(est > 0, r.toString)
      // m = 64 → σ ≈ 1.04/√64 = 13% relative error; 3σ = 39%
      assert(math.abs(est - exact).toDouble / exact < 0.40,
        s"HLL estimate outside 3σ: $r")
    }
    // the merged estimate covers the union: ALL ≥ any single group's
    val maxGroup = rows.filter(_.getAs[String]("scope") != "ALL")
      .map(_.getAs[Long]("n_exact")).max
    assert(all.get.getAs[Long]("n_exact") >= maxGroup)
  }

  test("q_modularity: terms bounded, accounting consistent with the graph") {
    val r = run("q_modularity").collect().head
    val (nn, m, nc, qNano) = (r.getAs[Long]("n_nodes"),
      r.getAs[Long]("m_edges"), r.getAs[Long]("n_communities"),
      r.getAs[Long]("modularity_nano"))
    assert(nn > 0 && m > 0 && nc > 0)
    assert(nc <= nn, "at most one community per node")
    // modularity is bounded in [-1/2, 1)
    assert(qNano > -500000000L && qNano < 1000000000L, qNano.toString)
    // the triangle query sees the same undirected simple graph
    val tri = run("q_triangles").collect().head
    assert(tri.getAs[Long]("n_edges") == m && tri.getAs[Long]("n_nodes") == nn)
  }

  test("q_triangles: oriented enumeration is consistent with handshake bounds") {
    val r = run("q_triangles").collect().head
    val (n, e, t) = (r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges"),
      r.getAs[Long]("n_triangles"))
    assert(n > 0 && e > 0 && t >= 0)
    assert(e <= 3 * n, "each node contributes at most 3 undirected edges")
    // K4-free-ish sanity: triangles cannot exceed the theoretical max
    assert(t <= e * (e - 1) / 2)
  }

  test("q_kcore: peel trace matches an independent driver-side recompute") {
    // rebuild the same graph brute-force (md5-prefix edges, outdeg 3,
    // self-loops dropped, canonical a<b distinct) and run the peel in
    // plain Scala collections — shares no code with the operator
    val n = Tables.supplier(spark, sf).count()
    val keys = Tables.supplier(spark, sf)
      .select("s_suppkey").collect().map(_.getLong(0))
    def h32(sv: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(sv.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16)
    }
    val und = (for {
      s0 <- keys; e <- 1 to 3
      d0 = h32(s"$s0:$e") % n
      if d0 != s0
    } yield (math.min(s0, d0), math.max(s0, d0))).toSet
    var alive = keys.toSet
    val expected = (1 to 6).map { r =>
      val deg = und.toSeq
        .filter { case (a, b) => alive(a) && alive(b) }
        .flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).map { case (k, v) => k -> v.size }
      alive = alive.filter(v => deg.getOrElse(v, 0) >= 4)
      val ea = und.count { case (a, b) => alive(a) && alive(b) }
      (r.toLong, alive.size.toLong, ea.toLong)
    }
    val got = run("q_kcore").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(got === expected)
    // the trace is monotonically non-increasing (peeling never revives)
    assert(got.map(_._2).sliding(2).forall(w => w.last <= w.head))
  }

  test("q_pii_luhn: redacts exactly the checksum-valid injections") {
    val rows = run("q_pii_luhn").collect()
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (hasCard, valid) =
        (r.getAs[Boolean]("has_card"), r.getAs[Boolean]("luhn_valid"))
      assert(hasCard === (id % 5 == 0), r.toString)
      assert(valid === (id % 10 == 0), r.toString)
      val tail = r.getAs[String]("tail")
      if (valid) assert(tail.contains("[CARD]"), r.toString)
      else assert(!tail.contains("[CARD]"), r.toString)
      // the broken-checksum injections survive detection unredacted —
      // the precision property that distinguishes this from \d{3,}
      if (hasCard && !valid) assert(tail.takeRight(16).forall(_.isDigit),
        r.toString)
    }
    assert(rows.exists(r => r.getAs[Boolean]("has_card") &&
      !r.getAs[Boolean]("luhn_valid")))
    assert(rows.exists(_.getAs[Boolean]("luhn_valid")))
  }

  test("q_graph_jaccard: similarity bounds hold and one pair verifies") {
    val rows = run("q_graph_jaccard").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val j = r.getAs[Long]("jaccard_ppm")
      assert(j >= 0 && j <= 1000000L, r.toString)
      assert(r.getAs[Long]("common") >= 1, r.toString)
    }
    // brute-force the top pair's neighborhoods
    val n = Tables.supplier(spark, sf).count()
    val keys = Tables.supplier(spark, sf).select("s_suppkey")
      .collect().map(_.getLong(0))
    def h32(sv: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(sv.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16)
    }
    val und = (for { s0 <- keys; e <- 1 to 3; d0 = h32(s"$s0:$e") % n
      if d0 != s0 } yield (math.min(s0, d0), math.max(s0, d0))).toSet
    val adj = und.foldLeft(Map.empty[Long, Set[Long]]) { case (m, (a, b)) =>
      m.updated(a, m.getOrElse(a, Set.empty) + b)
        .updated(b, m.getOrElse(b, Set.empty) + a)
    }
    val top = rows.head
    val (x, y) = (top.getAs[Long]("x"), top.getAs[Long]("y"))
    val (nx, ny) = (adj(x), adj(y))
    val common = (nx & ny).size.toLong
    assert(top.getAs[Long]("common") === common)
    assert(top.getAs[Long]("jaccard_ppm") ===
      common * 1000000L / (nx.size + ny.size - common))
  }

  test("q_gopher_rules is map-only: no shuffle below the output sort") {
    val payloads = shufflePayloads("q_gopher_rules")
    // the only exchange is the final orderBy's range partitioning
    assert(payloads.size <= 1, payloads.toString)
    val rows = run("q_gopher_rules").collect()
    // keep == conjunction of the five rule flags, row by row
    rows.foreach { r =>
      val flags = Seq("wc_ok", "mwl_ok", "sym_ok", "alpha_ok", "stop_ok")
        .map(r.getAs[Boolean])
      assert(r.getAs[Boolean]("keep") === flags.forall(identity))
    }
    // the tightened rules actually discriminate on the fixture corpus
    assert(rows.exists(_.getAs[Boolean]("keep")))
    assert(rows.exists(!_.getAs[Boolean]("keep")))
  }

  test("q_secret_redact double-pass catches secrets sharing one separator") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, regexp_replace}
    // two 32-hex secrets one space apart: the boundary groups
    // (^|\s)…(\s|$) consume the shared space, so a single
    // non-overlapping pass redacts only the first — the gap the
    // second (idempotent) pass exists to close
    val a = "a" * 32
    val b = "b" * 32
    val hexPat = "(^|\\s)([0-9a-f]{32,})(\\s|$)"
    val df = Seq(s"key $a $b end").toDF("t")
    def pass(c: org.apache.spark.sql.Column) =
      regexp_replace(c, hexPat, "$1<HEX_KEY>$3")
    val once  = df.select(pass(col("t")).as("r")).head.getString(0)
    val twice = df.select(pass(pass(col("t"))).as("r")).head.getString(0)
    assert(once.contains(b), "single pass misses the alternate token")
    assert(twice === "key <HEX_KEY> <HEX_KEY> end")
    // idempotence: a third pass changes nothing
    val thrice = df.select(pass(pass(pass(col("t")))).as("r")).head.getString(0)
    assert(thrice === twice)
  }
}
