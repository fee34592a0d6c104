package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{HllKernel, HllSketchAgg}
import org.apache.spark.unsafe.types.UTF8String

/** The native HLL aggregate ([[HllSketchAgg]], SQL name `graft_hll`):
  * value parity with the hand-assembled register DAG it packages
  * (q_hll_distinct), merge correctness under arbitrary partitioning,
  * the ObjectHashAggregate partial-aggregation plan shape, the SQL
  * registration surface (both the extensions hook and the temp
  * function), and kernel-level equivalence to an independent
  * register-arithmetic reimplementation.
  */
class HllAggSpec extends AnyFunSuite with SessionSuite {

  private val sf = "/root/testdata/sf0.001"

  /** Independent register-DAG recompute: brute-force the 64 registers
    * over a value list with plain Scala arithmetic (no HllKernel).
    */
  private def bruteEstimate(values: Seq[String]): Long = {
    val regs = new Array[Long](64)
    for (v <- values) {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(hex.take(8), 16)
      val bucket = (h / 67108864L).toInt
      val rem = h % 67108864L
      val bin = rem.toBinaryString
      val r = if (rem == 0L) 27L
      else ("0" * (26 - bin.length) + bin).indexOf('1') + 1L
      if (r > regs(bucket)) regs(bucket) = r
    }
    var ssum = 0.0
    var v0 = 0L
    for (r <- regs) {
      ssum += 1.0 / (1L << r).toDouble
      if (r == 0L) v0 += 1
    }
    val raw = 0.709 * 4096.0 / ssum
    if (raw <= 160.0 && v0 > 0)
      math.floor(64.0 * math.log(64.0 / v0) * 1e6 + 0.5).toLong / 1000000L
    else math.floor(raw + 0.5).toLong
  }

  test("kernel matches an independent register-arithmetic recompute") {
    val rnd = new scala.util.Random(7)
    for (n <- Seq(0, 1, 5, 40, 500)) {
      val values = Seq.fill(n)("v" + rnd.nextInt(200))
      val regs = new Array[Long](64)
      values.foreach(v => HllKernel.update(regs, UTF8String.fromString(v)))
      assert(HllKernel.estimate(regs) === bruteEstimate(values), s"n=$n")
    }
  }

  test("merge is register-wise max and serialization round-trips") {
    val a = new Array[Long](64)
    val b = new Array[Long](64)
    val all = new Array[Long](64)
    val rnd = new scala.util.Random(11)
    val values = Seq.fill(300)("x" + rnd.nextInt(1000))
    val (va, vb) = values.splitAt(150)
    va.foreach(v => HllKernel.update(a, UTF8String.fromString(v)))
    vb.foreach(v => HllKernel.update(b, UTF8String.fromString(v)))
    values.foreach(v => HllKernel.update(all, UTF8String.fromString(v)))
    val agg = HllSketchAgg(org.apache.spark.sql.catalyst.expressions.Literal("x"))
    val roundTripped = agg.deserialize(agg.serialize(b))
    assert(roundTripped.toSeq === b.toSeq)
    assert(HllKernel.merge(a, roundTripped).toSeq === all.toSeq)
  }

  test("q_hll_agg equals q_hll_distinct row for row") {
    val native = SparkEntry.queries("q_hll_agg")(spark, sf).collect()
    val dag = SparkEntry.queries("q_hll_distinct")(spark, sf).collect()
    assert(native.map(_.toSeq).toSeq === dag.map(_.toSeq).toSeq)
    assert(native.length === 6) // 5 priorities + ALL
  }

  test("estimate is invariant to input partitioning (merge path)") {
    import graft.functions.GraftFunctions.graft_hll
    val base = Tables.orders(spark, sf)
      .select(col("o_custkey").cast("string").as("v"))
    val one = base.repartition(1).agg(graft_hll(col("v"))).head().getLong(0)
    val many = base.repartition(13).agg(graft_hll(col("v"))).head().getLong(0)
    assert(one === many)
  }

  test("SQL surface: extensions hook; partial-agg plan") {
    Tables.orders(spark, sf).createOrReplaceTempView("orders_hll_t")
    // extensions-injected (Sessions.local installs GraftExtensions)
    val viaExt = spark
      .sql("SELECT graft_hll(CAST(o_custkey AS STRING)) AS e FROM orders_hll_t")
    val plan = viaExt.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.toLowerCase.contains("partial_graft_hll"), plan)
    val e1 = viaExt.head().getLong(0)
    val exact = Tables.orders(spark, sf)
      .select(countDistinct(col("o_custkey"))).head().getLong(0)
    // m=64 standard error ~13%; assert a loose sanity band
    assert(math.abs(e1 - exact).toDouble / exact < 0.5, s"est=$e1 exact=$exact")
  }

  test("graft_minhash equals the hand-assembled slot-min DAG") {
    import graft.functions.GraftFunctions.{graft_minhash, minhash_slices}
    val toks = Tables.documents(spark, sf)
      .select(col("source"),
        explode(filter(split(col("text"), "\\s+"), t => t =!= lit(""))).as("token"))
      .distinct()
    val native = toks.groupBy("source")
      .agg(graft_minhash(col("token")).as("sig"))
      .select(col("source") +:
        (0 until 8).map(j => element_at(col("sig"), j + 1).as(s"h$j")): _*)
      .orderBy("source").collect()
    val sliced = toks.select(col("source"),
      minhash_slices(col("token")).as("hs"))
    val mins = (0 until 8).map(j => min(col("hs").getItem(j)).as(s"h$j"))
    val dag = sliced.groupBy("source").agg(mins.head, mins.tail: _*)
      .orderBy("source").collect()
    assert(native.map(_.toSeq).toSeq === dag.map(_.toSeq).toSeq)
  }

  test("graft_minhash ALL row is the element-wise min of the group sketches") {
    val rows = SparkEntry.queries("q_minhash_agg")(spark, sf).collect()
    val all = rows.find(_.getString(0) == "ALL").get
    val groups = rows.filterNot(_.getString(0) == "ALL")
    assert(groups.nonEmpty)
    for (j <- 1 to 8) {
      val merged = groups.map(_.getLong(j)).min
      assert(all.getLong(j) === merged, s"slot $j")
    }
  }

  test("graft_minhash is invariant to input partitioning") {
    import graft.functions.GraftFunctions.graft_minhash
    val toks = Tables.documents(spark, sf)
      .select(explode(filter(split(col("text"), "\\s+"), t => t =!= lit(""))).as("token"))
    val one = toks.repartition(1).agg(graft_minhash(col("token")))
      .head().getSeq[Long](0)
    val many = toks.repartition(11).agg(graft_minhash(col("token")))
      .head().getSeq[Long](0)
    assert(one === many)
  }

  test("HLL estimate error stays within theory across cardinalities") {
    // m = 64 → relative standard error ≈ 1.04/√64 ≈ 13%; assert every
    // seeded-random cardinality estimates within 5σ (the kernel is
    // deterministic, so this pins real accuracy, not luck)
    val rnd = new scala.util.Random(2024)
    for (n <- Seq(10, 50, 200, 1000, 5000, 20000)) {
      val regs = new Array[Long](64)
      val values = (0 until n).map(_ => "v" + rnd.nextLong()).distinct
      values.foreach(v => HllKernel.update(regs, UTF8String.fromString(v)))
      val est = HllKernel.estimate(regs).toDouble
      val exact = values.length.toDouble
      val relErr = math.abs(est - exact) / exact
      assert(relErr < 5 * 0.13, s"n=$n est=$est exact=$exact err=$relErr")
    }
  }

  test("MinHash slot agreement estimates Jaccard on random set pairs") {
    import graft.functions.MinhashKernel
    val rnd = new scala.util.Random(4096)
    var sumAbsErr = 0.0
    val cases = 40
    for (_ <- 1 to cases) {
      val universe = (0 until 400).map("t" + _)
      val a = universe.filter(_ => rnd.nextDouble() < 0.5).toSet
      val b = a.filter(_ => rnd.nextDouble() < 0.7) ++
        universe.filter(_ => rnd.nextDouble() < 0.15)
      def sig(s: Set[String]): Array[Long] = {
        val m = Array.fill(8)(Long.MaxValue)
        s.foreach { t =>
          val sl = MinhashKernel.slices8(UTF8String.fromString(t))
          for (j <- 0 until 8) if (sl.getLong(j) < m(j)) m(j) = sl.getLong(j)
        }
        m
      }
      val (sa, sb) = (sig(a), sig(b.toSet))
      val est = (0 until 8).count(j => sa(j) == sb(j)) / 8.0
      val jac = (a & b.toSet).size.toDouble / (a | b.toSet).size
      sumAbsErr += math.abs(est - jac)
    }
    // 8 slots → per-pair σ ≈ √(J(1−J)/8) ≈ 0.17 at J ≈ 0.5, so the
    // expected |error| is ≈ 0.8σ ≈ 0.14 (measured 0.158 on this seed);
    // assert the mean stays under 0.2 — an uninformative estimator
    // (constant or random) would sit near 0.3+
    assert(sumAbsErr / cases < 0.2, s"mean |err| = ${sumAbsErr / cases}")
  }

  test("NULL inputs are skipped; an empty relation estimates 0") {
    import spark.implicits._
    import graft.functions.GraftFunctions.graft_hll
    val withNulls = Seq(Some("a"), None, Some("b"), None, Some("a"))
      .toDF("v")
    val est = withNulls.agg(graft_hll(col("v"))).head().getLong(0)
    assert(est === bruteEstimate(Seq("a", "b", "a")))
    val empty = withNulls.filter(col("v") === "zzz")
      .agg(graft_hll(col("v"))).head().getLong(0)
    assert(empty === 0L)
  }
}
