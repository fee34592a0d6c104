package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.MediaCodec

/** Round-9 batch: perceptual image near-dup (q_media_dhash_dedup) and
  * the IVF nprobe ladder — each pinned by independent driver-side
  * recomputes and plan-shape assertions.
  */
class Round9BatchSpec extends AnyFunSuite with SessionSuite {

  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  // ------------------------------------------------- q_media_dhash_dedup

  /** The query's own dHash, recomputed standalone over real codec
    * bytes: encode → decode → 9×8 luma grid → gradient-sign bits.
    */
  private def dhashOf(pix: Array[Byte], wd: Int, ht: Int): String = {
    val lum = Array.tabulate(8, 9) { (y, x) =>
      val p = ((y * ht / 8) * wd + (x * wd / 9)) * 3
      (pix(p) & 0xff) + (pix(p + 1) & 0xff) + (pix(p + 2) & 0xff)
    }
    (for (y <- 0 until 8; x <- 0 until 8)
      yield if (lum(y)(x + 1) > lum(y)(x)) '1' else '0').mkString
  }

  test("dHash catches a 2x NN-upscaled re-encode the exact digest misses") {
    // the property the operator exists for, proven on real bytes for
    // every planted geometry (w ∈ 9..16, h ∈ 8..16): upscaling by an
    // integer factor preserves the 9×8 sample grid (⌊⌊2a⌋/2⌋ = ⌊a⌋),
    // so the dHash is bit-identical while the byte streams differ
    for (w <- Seq(9, 12, 16); h <- Seq(8, 11, 16); id <- Seq(0L, 45L)) {
      val bmp  = MediaCodec.encodeBmp24(w, h,
        k => ((k.toLong * 37 + id) % 256).toInt)
      val base = MediaCodec.decodeBmpPixels(bmp)
      val up = MediaCodec.encodeBmp24(2 * w, 2 * h, k => {
        val px = (k / 3) % (2 * w)
        val py = (k / 3) / (2 * w)
        base(((py / 2) * w + px / 2) * 3 + k % 3) & 0xff
      })
      val pix2 = MediaCodec.decodeBmpPixels(up)
      assert(!java.util.Arrays.equals(base, pix2),
        s"upscale must change the bytes (w=$w h=$h)")
      assert(dhashOf(base, w, h) === dhashOf(pix2, 2 * w, 2 * h),
        s"dHash must survive the 2x NN upscale (w=$w h=$h id=$id)")
    }
  }

  test("q_media_dhash_dedup finds every planted resized duplicate " +
    "at Hamming 0 with differing exact digests") {
    val rows = run("q_media_dhash_dedup").collect()
    assert(rows.nonEmpty)
    // planted pairs: same doc, variant 0 vs 1
    val planted = rows.filter(r =>
      r.getAs[Long]("id_a") == r.getAs[Long]("id_b"))
    val expected = Tables.documents(spark, sf)
      .filter(col("doc_id") % 3 === 0 && col("doc_id") % 5 === 0)
      .count()
    assert(planted.length.toLong === expected,
      s"all ${expected} planted near-dups must surface")
    planted.foreach { r =>
      assert(r.getAs[Int]("ham") === 0, "planted dup must be Hamming 0")
      assert(!r.getAs[Boolean]("exact_dup"),
        "the exact digest must MISS the planted resized re-encode " +
          "(that's the gap dHash closes)")
    }
    // verification threshold respected everywhere
    rows.foreach(r => assert(r.getAs[Int]("ham") <= 4))
  }

  test("q_media_dhash_dedup candidates come from band buckets, " +
    "never an all-pairs join") {
    val p = run("q_media_dhash_dedup")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q_media_dhash_survivors: canonical-first per signature; every " +
    "planted upscale is dropped into its source's cluster") {
    val rows = run("q_media_dhash_survivors").collect()
    val byKey = rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("v"))
      -> r).toMap
    // every planted variant (v=1) shares its source's signature, so it
    // must be non-canonical with a cluster of at least {v0, v1}
    val variants = rows.filter(_.getAs[Int]("v") === 1)
    assert(variants.nonEmpty)
    variants.foreach { r =>
      assert(!r.getAs[Boolean]("keep"), s"upscale must be dropped: $r")
      assert(r.getAs[Long]("n_same_sig") >= 2L)
      // and its v=0 source sits in the same cluster with the same size
      val src = byKey((r.getAs[Long]("doc_id"), 0))
      assert(src.getAs[Long]("n_same_sig") === r.getAs[Long]("n_same_sig"))
    }
    // exactly one keeper per cluster: keepers == distinct signatures
    val keepers = rows.count(_.getAs[Boolean]("keep"))
    val clusters = rows.map(_.getAs[Long]("n_same_sig")).sum // Σ n over rows
    // Σ_assets n_same_sig(asset) = Σ_clusters size² — consistency only;
    // the sharp check: total assets = Σ over keepers of their cluster
    val keeperClusterSum = rows.filter(_.getAs[Boolean]("keep"))
      .map(_.getAs[Long]("n_same_sig")).sum
    assert(keeperClusterSum === rows.length.toLong,
      s"keepers=$keepers clusterSqSum=$clusters")
  }

  // --------------------------------------------- q_media_audio_fingerprint

  test("audio fingerprint survives a 2x volume re-encode the exact " +
    "digest misses") {
    // |2s| = 2|s| scales every envelope window by exactly 2, so the
    // gradient-sign fingerprint is invariant while every byte differs
    val rows = run("q_media_audio_fingerprint").collect()
    val planted = rows.filter(r =>
      r.getAs[Long]("id_a") == r.getAs[Long]("id_b"))
    val expected = Tables.documents(spark, sf)
      .filter(col("doc_id") % 3 === 1 && col("doc_id") % 5 === 0)
      .count()
    assert(planted.length.toLong === expected)
    planted.foreach { r =>
      assert(r.getAs[Int]("ham") === 0)
      assert(!r.getAs[Boolean]("exact_dup"))
    }
    val p = run("q_media_audio_fingerprint")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  // ------------------------------------------------- q_cluster_safe_split

  test("q_cluster_safe_split: splits partition the assets with zero " +
    "leaky clusters; planted near-dups co-travel by construction") {
    val rows = run("q_cluster_safe_split").collect()
    assert(rows.map(_.getAs[String]("split")).sorted.toSeq ===
      Seq("test", "train", "val"))
    rows.foreach(r => assert(r.getAs[Long]("n_leaky_clusters") === 0L))
    // split totals partition the signature frame: Σ assets = all assets
    val nImages = Tables.documents(spark, sf)
      .filter(col("doc_id") % 3 === 0).count()
    val nPlanted = Tables.documents(spark, sf)
      .filter(col("doc_id") % 3 === 0 && col("doc_id") % 5 === 0).count()
    assert(rows.map(_.getAs[Long]("n_assets")).sum ===
      nImages + nPlanted)
    // the leak audit is the load-bearing claim: a planted upscale has
    // its source's signature, so cluster-keyed hashing cannot separate
    // them — asserted already by n_leaky_clusters = 0 over ALL sigs
  }

  // ------------------------------------------------------- q_heaps_law

  test("q_heaps_law: exact curve against a driver recompute; the " +
    "synthetic fixture's saturated vocabulary reads as beta = 0") {
    val rows = run("q_heaps_law").collect()
    assert(rows.length >= 2)
    // doubling checkpoints, ending exactly at the corpus size
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.last.getAs[Long]("cp") === docs.length.toLong)
    // v and t are prefix counts → non-decreasing in cp
    val vs = rows.map(_.getAs[Long]("v"))
    val ts = rows.map(_.getAs[Long]("t"))
    assert(vs.zip(vs.tail).forall { case (a, b) => a <= b })
    assert(ts.zip(ts.tail).forall { case (a, b) => a < b })
    // exact recompute at a mid checkpoint
    val mid = rows(rows.length / 2)
    val cp = mid.getAs[Long]("cp")
    val prefix = docs.filter(_._1 < cp)
    val expV = prefix.flatMap(_._2.split("\\s+").filter(_.nonEmpty))
      .distinct.length.toLong
    val expT = prefix.map(_._2.split("\\s+").count(_.nonEmpty).toLong).sum
    assert(mid.getAs[Long]("v") === expV)
    assert(mid.getAs[Long]("t") === expT)
    // the fixture text is template-generated with a tiny vocabulary,
    // so the growth exponent collapses to 0 once the vocab saturates —
    // exactly the template/duplicate-flood signal the op exists to raise
    assert(rows.last.getAs[Double]("beta") === 0.0)
  }

  // ------------------------------------------------------- q_pass_at_k

  test("q_pass_at_k matches the definitional binomial estimator exactly") {
    def binom(n: Long, k: Long): BigInt =
      if (k < 0 || k > n) BigInt(0)
      else (0L until k).map(i => BigInt(n - i)).product /
        (1L to k).map(BigInt(_)).product
    // the query computes 1 − Π(n−c−i)/Π(n−i); the paper's form is
    // 1 − C(n−c,k)/C(n,k) — equal because the k! cancels; pin ppm
    // floor semantics against an independent BigInt recompute
    def expected(n: Long, c: Long, k: Long): Long =
      if (n - c < k) 1000000L
      else (1000000L - (BigInt(1000000) * binom(n - c, k) / binom(n, k)))
        .toLong
    val rows = run("q_pass_at_k").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, c) = (r.getAs[Long]("n"), r.getAs[Long]("c"))
      assert(r.getAs[Long]("pass1_ppm") === expected(n, c, 1), r.toString)
      assert(r.getAs[Long]("pass5_ppm") === expected(n, c, 5), r.toString)
      assert(r.getAs[Long]("pass10_ppm") === expected(n, c, 10), r.toString)
      // monotone in k: more attempts can only raise the pass chance
      assert(r.getAs[Long]("pass1_ppm") <= r.getAs[Long]("pass5_ppm"))
      assert(r.getAs[Long]("pass5_ppm") <= r.getAs[Long]("pass10_ppm"))
    }
  }

  // ------------------------------------------------- IVF nprobe ladder

  test("IVF nprobe ladder: candidate sets are nested, so per-query " +
    "best-rank only improves as nprobe grows") {
    // nprobe=4 probes a superset of nprobe=2's lists, which supersets
    // nprobe=1's — so each query's top-3 exact-cosine score at p4 is
    // >= p2 >= p1 (monotone recall, the property the ladder measures)
    def best(name: String): Map[Long, Double] =
      run(name).filter(col("nrank") === 1).collect()
        .map(r => r.getAs[Long]("qid") -> r.getAs[Double]("cos_sim")).toMap
    val p1 = best("q_ivf_search")
    val p2 = best("q_ivf_search_probe2")
    val p4 = best("q_ivf_search_probe4")
    assert(p2.keySet.subsetOf(p4.keySet) && p1.keySet.subsetOf(p2.keySet))
    p2.foreach { case (q, s2) =>
      assert(p4(q) >= s2 - 1e-12, s"probe4 regressed query $q") }
    p1.foreach { case (q, s1) =>
      assert(p2(q) >= s1 - 1e-12, s"probe2 regressed query $q") }
  }

  // ------------------------------------------------- q_importance_weights

  test("q_importance_weights: target-domain docs dominate the selection " +
    "and an independent recompute agrees on the top doc") {
    val rows = run("q_importance_weights").collect()
    assert(rows.length === 20)
    // the target slice should win the selection it defines (weights
    // are target-frequency ratios, so en docs score above average)
    val langs = rows.map(_.getAs[String]("lang"))
    assert(langs.count(_ == "en") >= 10,
      s"en must dominate the top-20: ${langs.mkString(",")}")
    // descending, ties by doc_id — a total order
    val imps = rows.map(_.getAs[Long]("imp_ppm"))
    assert(imps.zip(imps.tail).forall { case (a, b) => a >= b })
    // independent driver-side recompute of the top doc's importance
    // from the same parquet bytes (hash → smoothed ratio → floor-mean)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(tok: String): Int =
      (java.lang.Long.parseLong(md5hex(tok).take(8), 16) % 1024L).toInt
    val cc = new Array[Long](1024)
    val ct = new Array[Long](1024)
    for ((_, lang, text) <- docs; t <- text.split("\\s+") if t.nonEmpty) {
      val b = bucket(t)
      cc(b) += 1
      if (lang == "en") ct(b) += 1
    }
    val nc = cc.map(_ + 1).sum
    val nt = ct.map(_ + 1).sum
    def wppm(b: Int): Long =
      ((BigInt(ct(b) + 1) * nc * 1000000) / (BigInt(cc(b) + 1) * nt)).toLong
    val top = rows.head
    val topText = docs.find(_._1 == top.getAs[Long]("doc_id")).get._3
    val toks = topText.split("\\s+").filter(_.nonEmpty)
    val expected = toks.map(t => wppm(bucket(t))).sum / toks.length
    assert(top.getAs[Long]("imp_ppm") === expected)
    assert(top.getAs[Int]("n_tok") === toks.length)
  }

  test("q_ann_recall reports the full 9-method ladder") {
    val rows = run("q_ann_recall").collect()
    val methods = rows.map(_.getAs[String]("method")).toSet
    assert(methods === Set("lsh", "lsh_mp", "pq", "sq8", "ivfpq", "ham",
      "ivf_p1", "ivf_p2", "ivf_p4"))
    val recall = rows.map(r =>
      r.getAs[String]("method") -> r.getAs[Double]("recall_at_3")).toMap
    // nested candidate sets → monotone recall along the nprobe ladder
    assert(recall("ivf_p1") <= recall("ivf_p2") + 1e-12)
    assert(recall("ivf_p2") <= recall("ivf_p4") + 1e-12)
  }
}
