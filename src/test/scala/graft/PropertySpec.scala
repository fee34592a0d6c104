package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Dedup

/** Property-style tests over seeded-random generated inputs — the
  * invariants the fixture corpus alone cannot stress:
  *
  *  - the band-cells skew guard must preserve the EXACT pair set for
  *    every bucket-size distribution and cap (its whole correctness
  *    claim is "same pairs, bounded reducers");
  *  - CDC chunking must (a) partition any text exactly and (b) keep
  *    chunk digests stable downstream of an edit once a boundary
  *    re-synchronizes — the content-defined property that justifies
  *    chunk-digest dedup over fixed-width blocks.
  *
  * Generators are seeded (fixed scala.util.Random seeds), so failures
  * reproduce exactly.
  */
class PropertySpec extends AnyFunSuite with SessionSuite {

  test("bandPairs preserves the exact pair set for arbitrary skew and cap") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (caseNo <- 1 to 6) {
      // skewed band table: few buckets, one deliberately giant
      val nDocs = 30 + rnd.nextInt(50)
      val nBuckets = 1 + rnd.nextInt(4)
      val rows = (0 until nDocs).map { id =>
        // bucket 0 absorbs ~half the docs — the skew case the guard exists for
        val b = if (rnd.nextBoolean()) 0 else rnd.nextInt(nBuckets)
        (id.toLong, 0, s"bv$b")
      }
      val bands = rows.toDF("doc_id", "band", "bv")
      val cap = 1 + rnd.nextInt(10) // caps far below bucket sizes
      val guarded = Dedup.bandPairs(bands, cap).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val plain = rows.groupBy(_._3).values.flatMap { members =>
        val ids = members.map(_._1).sorted
        for (i <- ids.indices; j <- (i + 1) until ids.length)
          yield (ids(i), ids(j))
      }.toSet
      assert(guarded == plain,
        s"case $caseNo (cap=$cap): missed ${(plain -- guarded).take(3)} " +
          s"extra ${(guarded -- plain).take(3)}")
    }
  }

  test("Hilbert key is a bijection over the FULL 256x256 grid") {
    // exhaustive, not sampled: every (x, y) cell once, one Spark pass
    val grid = spark.range(0, 65536).selectExpr(
      "id div 256 AS zx", "id % 256 AS zy",
      "id div 256 AS hx", "id % 256 AS hy", "CAST(0 AS BIGINT) AS hd")
    val keys = graft.ops.Layout.hilbert8(grid, Seq("zx", "zy"))
      .selectExpr("hd").collect().map(_.getLong(0))
    assert(keys.length == 65536)
    val distinct = keys.distinct
    assert(distinct.length == 65536, "curve must visit every cell once")
    assert(distinct.min == 0L && distinct.max == 65535L,
      "keys must cover exactly [0, 2^16)")
  }

  test("CDC chunks partition random texts exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val alphabet = "abcdefgh \n"
    val texts = (1 to 40).map { i =>
      val len = 1 + rnd.nextInt(600)
      (i.toLong, (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
    val df = texts.toDF("id", "text")
    val chunks = Dedup.cdcChunkRows(df, Seq("id")).collect()
      .groupBy(_.getAs[Long]("id"))
    texts.foreach { case (id, text) =>
      val cs = chunks(id).sortBy(_.getAs[Int]("start"))
      // contiguous cover: starts/lens tile [1, len] exactly
      var expectStart = 1
      cs.foreach { c =>
        assert(c.getAs[Int]("start") == expectStart, s"id=$id gap at $c")
        expectStart += c.getAs[Int]("clen")
      }
      assert(expectStart == text.length + 1, s"id=$id tail mismatch")
    }
  }

  test("CDC digests re-synchronize after an edit (content-defined property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val alphabet = "abcdefgh "
    val cases = (1 to 25).map { i =>
      val len = 300 + rnd.nextInt(300)
      val text = (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      val at = rnd.nextInt(len / 2) // edit in the first half
      val edited = text.substring(0, at) + "XYZ" + text.substring(at)
      (i.toLong, text, edited, at)
    }
    val orig = cases.map(c => (c._1, c._2)).toDF("id", "text")
    val edit = cases.map(c => (c._1, c._3)).toDF("id", "text")
    val co = Dedup.cdcChunkRows(orig, Seq("id")).collect()
      .groupBy(_.getAs[Long]("id"))
    val ce = Dedup.cdcChunkRows(edit, Seq("id")).collect()
      .groupBy(_.getAs[Long]("id"))
    var resynced = 0
    cases.foreach { case (id, text, _, at) =>
      def digestsFrom(m: Map[Long, Array[org.apache.spark.sql.Row]],
          minStart: Int, shift: Int): Seq[String] =
        m(id).filter(_.getAs[Int]("start") > minStart + shift)
          .sortBy(_.getAs[Int]("start")).map(_.getAs[String]("digest")).toSeq
      // chunks that start after the first boundary beyond the edit
      // point must be IDENTICAL in both versions (shifted by 3 chars)
      val boundariesAfter = co(id).map(_.getAs[Int]("start"))
        .filter(_ > at + 4)
      if (boundariesAfter.nonEmpty) {
        val sync = boundariesAfter.min
        val do_ = digestsFrom(co, sync - 1, 0)
        val de = digestsFrom(ce, sync - 1, 3)
        assert(do_ == de,
          s"id=$id: downstream digests diverged after resync point $sync")
        if (do_.nonEmpty) resynced += 1
      }
    }
    // the property must actually bite: most cases have surviving chunks
    assert(resynced >= 15, s"only $resynced cases exercised the invariant")
  }

  test("kcorePeelTrace matches brute-force peeling on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(1301)
    for (caseNo <- 1 to 5) {
      val n = 20 + rnd.nextInt(40)
      val edges = (for {
        a <- 0L until n; _ <- 0 until (1 + rnd.nextInt(4))
        b = rnd.nextInt(n).toLong if b != a
      } yield (math.min(a, b), math.max(a, b))).toSet
      val k = 2 + rnd.nextInt(3)
      val rounds = 5
      val und = edges.toSeq.toDF("a", "b")
      val nodes = (0L until n).toDF("node")
      val got = graft.ops.Graph.kcorePeelTrace(und, nodes, k, rounds)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      var alive = (0L until n).toSet
      val want = (1 to rounds).map { r =>
        val deg = edges.toSeq.filter { case (a, b) => alive(a) && alive(b) }
          .flatMap { case (a, b) => Seq(a, b) }
          .groupBy(identity).map { case (x, v) => x -> v.size }
        alive = alive.filter(v => deg.getOrElse(v, 0) >= k)
        val ea = edges.count { case (a, b) => alive(a) && alive(b) }
        (r.toLong, alive.size.toLong, ea.toLong)
      }
      assert(got.toSeq === want, s"case=$caseNo n=$n k=$k")
    }
  }

  test("pairSupports matches brute-force pair counting on random baskets") {
    import spark.implicits._
    val rnd = new scala.util.Random(1303)
    for (caseNo <- 1 to 5) {
      val nBaskets = 20 + rnd.nextInt(30)
      val nItems = 5 + rnd.nextInt(10)
      val rows = (for {
        ok <- 0L until nBaskets
        pk <- (0 until (1 + rnd.nextInt(5))).map(_ => rnd.nextInt(nItems).toLong)
      } yield (ok, pk)).distinct
      val minSup = 1L + rnd.nextInt(3)
      val got = graft.ops.Analytics.pairSupports(
        rows.toDF("ok", "pk"), minSup)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
        .toMap
      val byBasket = rows.groupBy(_._1).view
        .mapValues(_.map(_._2).toSet).toMap
      val want = byBasket.values
        .flatMap(s => s.toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
        .groupBy(identity).view.mapValues(_.size.toLong)
        .filter(_._2 >= minSup).toMap
      assert(got === want, s"case=$caseNo minSup=$minSup")
    }
  }

  test("graft_f2 equals the brute 32-counter recompute on random weighted " +
    "multisets under random partitionings (linearity property)") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def brute(pairs: Seq[(String, Long)]): Long = {
      val ctr = new Array[Long](32)
      for ((k, w) <- pairs; j <- 0 until 32) {
        val nib = Integer.parseInt(md5hex(s"$j:$k").take(1), 16)
        ctr(j) += (if ((nib & 1) == 0) w else -w)
      }
      val sums = (0 until 4)
        .map(g => (0 until 8).map(j => { val c = ctr(g * 8 + j); c * c }).sum)
        .sorted
      sums(1) / 8
    }
    val rnd = new scala.util.Random(8101)
    for (caseNo <- 1 to 5) {
      val vocab = (0 until 1 + rnd.nextInt(60)).map { i =>
        // keys stress hashing: empty string, unicode, colons (the
        // separator char), long tokens
        rnd.nextInt(5) match {
          case 0 => ""
          case 1 => s"k:$i:x"
          case 2 => "ü" * (1 + rnd.nextInt(4)) + i
          case _ => s"tok$i" * (1 + rnd.nextInt(3))
        }
      }.distinct
      val pairs = vocab.map(k => k -> (1L + rnd.nextInt(1000)))
      val parts = 1 + rnd.nextInt(31)
      val got = pairs.toDF("k", "w").repartition(parts)
        .agg(graft.functions.GraftFunctions.graft_f2(col("k"), col("w")))
        .collect().head.getLong(0)
      assert(got === brute(pairs), s"case=$caseNo parts=$parts")
    }
    // empty input: the F2 of the empty multiset is 0, not null
    val empty = Seq.empty[(String, Long)].toDF("k", "w")
      .agg(graft.functions.GraftFunctions.graft_f2(col("k"), col("w")))
      .collect().head
    assert(!empty.isNullAt(0) && empty.getLong(0) === 0L)
  }

  test("bandedNearDupPairs: no false positives, Hamming-0 recall is " +
    "total, banding recall semantics hold under random signatures") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def ham(a: String, b: String): Int =
      a.zip(b).count { case (x, y) => x != y }
    val rnd = new scala.util.Random(9)
    for (caseNo <- 1 to 4) {
      val n = 40 + rnd.nextInt(40)
      val base = Vector.fill(n)(
        Vector.fill(64)(if (rnd.nextBoolean()) '1' else '0').mkString)
      // plant exact clones and small perturbations
      val rows = base.zipWithIndex.flatMap { case (sig, i) =>
        val clones =
          if (i % 7 == 0) Seq((i.toLong, 1, sig, md5hex(s"clone$i")))
          else Seq.empty
        val nearby = if (i % 11 == 0) {
          val flip = rnd.nextInt(64)
          val s2 = sig.updated(flip, if (sig(flip) == '1') '0' else '1')
          Seq((i.toLong, 2, s2, md5hex(s"near$i")))
        } else Seq.empty
        Seq((i.toLong, 0, sig, md5hex(s"base$i"))) ++ clones ++ nearby
      }
      val df = rows.toDF("doc_id", "v", "sig", "dig")
      val got = graft.ops.Multimodal
        .bandedNearDupPairs(df, 4, 16, 64, 4).collect()
        .map(r => ((r.getLong(0), r.getInt(1)), (r.getLong(2), r.getInt(3)),
          r.getInt(4))).toSet
      val bySig = rows.map(r => (r._1, r._2) -> r._3).toMap
      // 1. no false positives: every emitted pair truly has ham <= 4
      got.foreach { case (a, b, h) =>
        assert(ham(bySig(a), bySig(b)) === h && h <= 4, s"case=$caseNo")
      }
      // 2. Hamming-0 recall is total (equal sigs share every band, and
      //    random 64-bit buckets never hit the 64-member guard here)
      val allPairs = for {
        a <- rows; b <- rows
        if a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)
      } yield ((a._1, a._2), (b._1, b._2), ham(a._3, b._3))
      allPairs.filter(_._3 == 0).foreach { p =>
        assert(got.contains(p), s"missed exact-sig pair $p case=$caseNo")
      }
      // 3. output is a subset of the brute-force ham<=4 set, and every
      //    brute pair SHARING a full band is found (the LSH contract:
      //    recall is per-band, not per-distance — a ham<=4 pair whose
      //    flips hit 4 distinct bands is legitimately missed)
      val brute = allPairs.filter(_._3 <= 4).toSet
      assert(got.subsetOf(brute))
      brute.foreach { case p @ (a, b, _) =>
        val sharesBand = (0 until 4).exists(k =>
          bySig(a).substring(k * 16, k * 16 + 16) ==
            bySig(b).substring(k * 16, k * 16 + 16))
        if (sharesBand) assert(got.contains(p), s"banded pair missed $p")
      }
    }
    // 4. the giant-bucket guard: a degenerate corpus where EVERY
    //    signature is identical must emit nothing, not n^2 pairs
    val degenerate = (0 until 100).map(i =>
      (i.toLong, 0, "1" * 64, md5hex(s"d$i"))).toDF("doc_id", "v", "sig", "dig")
    assert(graft.ops.Multimodal
      .bandedNearDupPairs(degenerate, 4, 16, 64, 4).count() === 0L)
  }
}
