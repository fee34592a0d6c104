package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TopKAggregator
import graft.ops.Skew

/** Scale tooling: salted skew join correctness, typed top-k aggregator,
  * approximate-distinct error bound.
  */
class ScaleToolsSpec extends AnyFunSuite with SessionSuite {

  private val sf = "/root/testdata/sf0.001"

  test("salted join returns exactly the plain join's result") {
    val o = Tables.orders(spark, sf)
    val c = Tables.customer(spark, sf)
    val plain = o
      .join(c, o("o_custkey") === c("c_custkey"))
      .select("o_orderkey", "c_custkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val salted = Skew
      .saltedJoin(o, c, "o_custkey", "c_custkey", salts = 8)
      .select("o_orderkey", "c_custkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(salted.toSeq === plain.toSeq)
  }

  test("TopKAggregator matches orderBy.limit per group") {
    import spark.implicits._
    val o = Tables.orders(spark, sf)
    val topk = new TopKAggregator(3).toColumn
    val got = o
      .select(col("o_custkey"), col("o_totalprice"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(topk.name("top3"))
      .collect()
      .toMap
    val expected = o
      .collect()
      .groupBy(_.getAs[Long]("o_custkey"))
      .map { case (k, rows) =>
        k -> rows.map(_.getAs[Double]("o_totalprice")).sorted.reverse.take(3).toSeq
      }
    assert(got.size === expected.size)
    expected.foreach { case (k, v) => assert(got(k) === v, s"custkey $k") }
  }

  test("TopKAggregator value column input needs the tuple projection") {
    import spark.implicits._
    // degenerate groups (k > group size) keep all elements sorted desc
    val agg = new TopKAggregator(10)
    assert(agg.merge(Seq(3.0, 1.0), Seq(2.0)) === Seq(3.0, 2.0, 1.0))
    assert(agg.reduce(agg.zero, 5.0) === Seq(5.0))
  }

  test("approx_count_distinct within its 5% error bound") {
    val li = Tables.lineitem(spark, sf)
    val row = SparkEntry.queries("q_approx_distinct")(spark, sf).collect()(0)
    val exact = li
      .agg(countDistinct(col("l_orderkey")), countDistinct(col("l_partkey")))
      .collect()(0)
    assert(row.getLong(0) === exact.getLong(0))
    assert(row.getLong(1) === exact.getLong(1))
    assert(row.getBoolean(2), "orders estimate outside ±5%")
    assert(row.getBoolean(3), "parts estimate outside ±5%")
  }

  test("LSH giant-bucket guard: degenerate corpus without a hot reducer") {
    import graft.ops.Dedup
    // 1000 docs all hashing to the same band bucket — the worst case the
    // plain self-join funnels into a single reducer key
    val bands = spark.range(1000)
      .select(col("id").as("doc_id"), lit(0).as("band"), lit("samebucket").as("bv"))
    val cap = 100

    // exact pair semantics preserved: all C(1000,2) pairs, no dupes
    val pairs = Dedup.bandPairs(bands, cap)
    assert(pairs.count() === 1000L * 999 / 2)

    // skew actually split: max members per join key (band,bv,lo,hi) is
    // ~2·(n/S) with S = ceil(n/cap) = 10, far below the bucket size
    val maxCell = Dedup.bandCells(bands, cap)
      .groupBy("band", "bv", "lo", "hi")
      .agg(count(lit(1)).as("m"))
      .agg(max(col("m")))
      .collect()(0).getLong(0)
    // two salt groups of ~n/S each meet per cell; allow hash imbalance
    assert(maxCell <= 3L * (1000 / 10), s"hot cell of $maxCell rows")
    assert(maxCell < 1000, "guard did not split the bucket")
  }

  test("large-star/small-star components match label propagation") {
    import graft.ops.Dedup
    import org.apache.spark.sql.DataFrame
    import spark.implicits._

    def propagation(edges: DataFrame): Map[Long, Long] = {
      // the q_dedup_clusters formulation, for equivalence
      val sym = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
      var labels = sym.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("label")).localCheckpoint()
      var prevSum = labels.agg(coalesce(sum("label"), lit(0L))).collect()(0).getLong(0)
      var done = labels.isEmpty
      while (!done) {
        val prop = sym.join(labels, sym("dst") === labels("node"))
          .select(sym("src").as("node"), col("label"))
        val next = labels.union(prop).groupBy("node")
          .agg(min("label").as("label")).localCheckpoint()
        val s = next.agg(coalesce(sum("label"), lit(0L))).collect()(0).getLong(0)
        if (s == prevSum) done = true
        prevSum = s; labels = next
      }
      labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    def star(edges: DataFrame): Map[Long, Long] =
      Dedup.connectedComponentsStar(edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap

    // worst case for propagation: one long chain (diameter = n)
    val chain = spark.range(99)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    assert(star(chain) === propagation(chain))
    assert(star(chain).values.toSet === Set(0L))

    // star graph + disjoint components + reversed/duplicate edges
    val mixed = Seq(
      (10L, 11L), (11L, 10L), (10L, 12L), (12L, 13L), // component 10
      (20L, 21L),                                      // component 20
      (31L, 30L), (32L, 31L), (33L, 30L)               // component 30
    ).toDF("src", "dst")
    val m = star(mixed)
    assert(m === propagation(mixed))
    assert(m(13L) === 10L && m(21L) === 20L && m(32L) === 30L)

    // deterministic pseudo-random graph
    val rand = spark.range(400).select(
      (hash(col("id")).cast("long") % 200 + 200).as("src"),
      (hash(col("id") + 7).cast("long") % 200 + 200).as("dst"))
      .filter(col("src") =!= col("dst"))
    assert(star(rand) === propagation(rand))
  }

  test("bloom-prefiltered incremental dedup equals the plain anti-join") {
    import graft.ops.Dedup
    // corpus 0..799; batch 600..999 → 200 dups, 200 new
    val corpus = spark.range(800)
      .select(md5(concat(lit("doc"), col("id"))).as("digest"))
    val batch = spark.range(600, 1000)
      .select(col("id").as("doc_id"),
        md5(concat(lit("doc"), col("id"))).as("digest"))

    val viaBloom = Dedup.incrementalNew(corpus, batch, expectedItems = 1000L)
    val plain = batch.join(corpus, Seq("digest"), "left_anti")
    assert(viaBloom.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      === plain.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    assert(viaBloom.count() === 200L)

    // the sketch probe is in the plan: the definitely-new branch is a
    // scan + filter with might_contain and NO join operator
    val plan = viaBloom.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), s"plan was:\n$plan")

    // Bloom has no false negatives: every true dup is caught by the
    // prefilter, so the exact join's input is only might-contain rows
    val sketch = corpus.agg(Dedup.digestSketch(1000L).as("bf"))
      .head.getAs[Array[Byte]](0)
    val mightRows = batch.filter(Dedup.digestMightContain(sketch)).count()
    assert(mightRows >= 200L, "a true duplicate escaped the Bloom prefilter")
  }

  test("approximate quantile sketch stays within bound") {
    // the bound q_approx_quantiles' hashed row deliberately does NOT
    // carry (it would be estimator-dependent): Greenwald-Khanna at
    // accuracy 10000 must land within max(1.0, 5%) of the exact
    // discrete quantile on every group
    import graft.ops.Stats
    val rows = Stats.approxQuantileSketch(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val vals = r.getAs[scala.collection.Seq[Double]]("vals")
      def exactAt(p: Double): Double =
        vals(math.max(math.ceil(vals.size * p).toInt, 1) - 1)
      for ((p, field) <- Seq((0.5, "a50"), (0.9, "a90"))) {
        val approx = r.getAs[Double](field)
        val exact  = exactAt(p)
        assert(math.abs(approx - exact) <= math.max(1.0, exact * 0.05),
          s"group ${r.get(0)}: $field=$approx vs exact p$p=$exact")
      }
    }
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    // the runtime-replan path that complements Skew.saltedJoin: one key
    // holds ~95% of the left side; with skew-join thresholds scaled to
    // the fixture, AQE must mark the join skew=true and split the hot
    // partition instead of leaving one straggler task
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    s2.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val skewed = s2.range(0, 300000)
      .select(when(col("id") < 285000, lit(0L)).otherwise(col("id")).as("k"),
        col("id").as("v"))
    val dim = s2.range(0, 64).select(col("id").as("k"), (col("id") * 2).as("w"))
    val j = skewed.join(dim, "k")
    // collect() runs j's OWN QueryExecution, so the adaptive plan below
    // is the final one (count() would plan a different query)
    assert(j.collect().length === 285000)
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"AQE should have split the skewed partition:\n${plan.take(2500)}")
  }

  test("AQE converts a sort-merge join to broadcast from runtime stats") {
    // the static planner is forbidden from broadcasting (threshold -1);
    // only AQE's exact post-shuffle size may make the call — the 100 TB
    // safety net when pre-plan size estimates are wrong
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "1MB")
    val big = s2.range(0, 100000).select(col("id").as("k"), col("id").as("v"))
    val dim = s2.range(0, 100).select(col("id").as("k"), (col("id") * 3).as("w"))
    val j = big.join(dim, "k")
    assert(j.collect().length === 100)
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"AQE should have replanned to broadcast:\n${p.take(2500)}")
  }

  test("globalNtile matches SQL ntile bit-exactly across sizes and orders") {
    import org.apache.spark.sql.expressions.Window
    // sizes cover N < n, N % n != 0, duplicates in the ranking key
    // (tie-broken by the unique id — a total order, as required)
    for (nRows <- Seq(1L, 3L, 4L, 97L, 1000L); buckets <- Seq(4, 7)) {
      val df = spark.range(nRows)
        .select(pmod(hash(col("id")), lit(17)).as("k"), col("id"))
      for (asc <- Seq(true, false)) {
        val key = if (asc) col("k").asc else col("k").desc
        val expected = df
          .select(col("id"),
            ntile(buckets).over(Window.orderBy(key, col("id").asc)).as("b"))
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        val got = graft.ops.Distributed
          .globalNtile(df, buckets, Seq(key, col("id").asc), "b")
          .select(col("id"), col("b"))
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        assert(got === expected,
          s"ntile mismatch at nRows=$nRows buckets=$buckets asc=$asc")
      }
    }
  }

  test("bench sentinel gate keeps quiet passes and discards bursts") {
    // all quiet → all kept
    assert(Bench.cleanPassIdx(Seq(0.10, 0.12, 0.11, 0.13, 0.10), 5)
      === Seq(0, 1, 2, 3, 4))
    // two contention bursts (> 2× min) → dropped, quiet passes kept
    assert(Bench.cleanPassIdx(Seq(0.10, 0.55, 0.11, 0.80, 0.12, 0.10, 0.11), 5)
      === Seq(0, 2, 4, 5, 6))
    // busy box throughout (< 3 survive the 2× gate): fall back to the
    // 5 quietest rather than returning almost nothing
    val busy = Seq(0.10, 0.95, 0.90, 0.85, 0.80, 0.75, 0.70, 0.65)
    val kept = Bench.cleanPassIdx(busy, 5)
    assert(kept.length === 5)
    assert(kept.contains(0)) // the global min is always kept
    assert(kept === kept.sorted) // pass order preserved
  }

  test("per-query in-pass resample rule: 3x-median AND >= 0.5s " +
    "absolute, never on the first pass") {
    // no history → pass gate covers it, never resample
    assert(!Bench.shouldResample(100.0, Seq.empty))
    // the r10 residual shapes: q_theil_sen 47.4 s vs ~6.8 s median and
    // q_winnow 8.0 s vs ~1.0 s both trigger
    assert(Bench.shouldResample(47.4, Seq(6.8, 6.7, 7.0)))
    assert(Bench.shouldResample(8.0, Seq(1.0, 0.9)))
    // 3x on a sub-second median without absolute significance: no churn
    assert(!Bench.shouldResample(0.09, Seq(0.02, 0.03)))
    // big absolute gap but under 3x: genuine spread, keep the sample
    assert(!Bench.shouldResample(12.0, Seq(6.0, 5.5, 6.2)))
    // boundary: exactly 3x is not a burst
    assert(!Bench.shouldResample(3.0, Seq(1.0)))
    assert(Bench.shouldResample(3.01, Seq(1.0)))
  }
}
