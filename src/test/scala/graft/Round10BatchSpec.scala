package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Multimodal

/** Round-10 batch: the de-skewed exact-signature survivors rollup
  * (whale-immune groupBy instead of a sig-partitioned window) and the
  * memoized perceptual-signature table (one codec pass per session
  * serving every downstream consumer).
  */
class Round10BatchSpec extends AnyFunSuite with SessionSuite {

  private val sf = "/root/testdata/sf0.001"

  private var sigBuildsBaseline = 0L

  override def beforeAll(): Unit = {
    sigBuildsBaseline = Multimodal.dhashSigBuilds.get()
  }

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  // -------------------------------------------- q_media_dhash_survivors

  test("q_media_dhash_survivors plans NO window over the raw signature") {
    // the round-9 weak flag: a sig-partitioned window puts a
    // massively-duplicated asset's whole cluster on one reducer; the
    // rollup form must not plan ANY Window node
    val plan = run("q_media_dhash_survivors").queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.isEmpty,
      s"survivors must be a groupBy rollup, found windows: $windows")
    // and the partial-aggregated rollup must actually be there
    val aggs = plan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if a.groupingExpressions.exists(_.references.exists(
            _.name == "sig")) => a
    }
    assert(aggs.nonEmpty, "expected a sig-keyed Aggregate rollup")
  }

  test("survivors rollup matches the window semantics on a frame where " +
    "one signature holds >50% of all rows") {
    import spark.implicits._
    // the whale: signature "W" holds 600 of 1000 rows — exactly the
    // input the op is documented to absorb and a window degenerates on
    val whale = (0 until 600).map(i => (1000L + i, i % 3, "W"))
    val rest  = (0 until 400).map(i => (i.toLong, 0, s"S${i % 37}"))
    val sigs  = (whale ++ rest).toDF("doc_id", "v", "sig")
      .repartition(4)
    val got = Multimodal.sigSurvivors(sigs)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getBoolean(2), r.getLong(3)))).toMap
    assert(got.size === 1000)
    // driver-side reference: group by sig, min (doc_id, v) keeps
    val bySig = (whale ++ rest).groupBy(_._3)
    for ((sig, rows) <- bySig) {
      val mn = rows.map(t => (t._1, t._2)).min
      for ((id, v, _) <- rows) {
        val (keep, n) = got((id, v))
        assert(n === rows.size.toLong, s"cluster size of $sig")
        assert(keep === ((id, v) == mn), s"keep decision of ($id,$v)")
      }
    }
    // the whale cluster kept exactly one survivor
    assert(got.count { case ((_, _), (k, n)) => n == 600L && k } === 1)
  }

  // ----------------------------------------- memoized signature table

  test("the three signature consumers share ONE codec pass per session") {
    Seq("q_media_dhash_dedup", "q_media_dhash_survivors",
      "q_cluster_safe_split").foreach { q =>
      assert(run(q).collect().nonEmpty, s"$q must produce rows")
    }
    // across the WHOLE suite session (including the plan-shape test
    // above, which also constructs the survivors frame) the codec
    // pass ran exactly once — the memo serves every consumer after
    val built = Multimodal.dhashSigBuilds.get() - sigBuildsBaseline
    assert(built === 1L,
      s"expected exactly one memoized signature build this session, got $built")
  }

  // ------------------------------------------- q_media_audio_spectral

  private def baseSamples(id: Long): Array[Short] =
    Array.tabulate(1024)(i =>
      (((id * 31 + i.toLong * 17 + (i.toLong * (i + id)) % 1021)
        % 512) - 256).toShort)

  private def noisySamples(base: Array[Short]): Array[Short] =
    Array.tabulate(1024) { i =>
      val b = base(i).toInt
      val delta = 300 * (63 - ((i / 8) % 64))
      (b + (if (b >= 0) delta else -delta)).toShort
    }

  /** Brute-force Hadamard-order WHT sign bits — the closed form the
    * butterfly must equal.
    */
  private def bruteSig(smp: Array[Short]): String = {
    val e = Array.tabulate(128)(w =>
      (w * 8 until w * 8 + 8).map(i => math.abs(smp(i).toInt).toLong).sum)
    (64 until 128).map { k =>
      val h = (0 until 128).map(w =>
        if (java.lang.Integer.bitCount(k & w) % 2 == 0) e(w) else -e(w)).sum
      if (h > 0) '1' else '0'
    }.mkString
  }

  /** The envelope-gradient fingerprint shape of
    * q_media_audio_fingerprint, applied to these assets — the rung the
    * spectral plant must escape.
    */
  private def envelopeSig(smp: Array[Short]): String = {
    val n = smp.length
    val env = Array.tabulate(65) { w =>
      (w * n / 65 until (w + 1) * n / 65)
        .map(i => math.abs(smp(i).toInt).toLong).sum
    }
    (0 until 64).map(w => if (env(w + 1) > env(w)) '1' else '0').mkString
  }

  private def hamming(a: String, b: String): Int =
    a.zip(b).count { case (x, y) => x != y }

  test("the WHT butterfly equals the brute-force closed form") {
    for (id <- Seq(1L, 10L, 49L, 250L)) {
      val s = baseSamples(id)
      assert(Multimodal.spectralSig(s) === bruteSig(s), s"id=$id")
    }
  }

  test("the half-symmetric noise ramp is EXACTLY invisible to the " +
    "spectral fingerprint and scrambles the envelope fingerprint") {
    val plantedIds = (0L until 500L).filter(i => i % 3 == 1 && i % 5 == 0)
    assert(plantedIds.nonEmpty)
    for (id <- plantedIds) {
      val base  = baseSamples(id)
      val noisy = noisySamples(base)
      assert(!java.util.Arrays.equals(base, noisy))
      // exact algebraic invariance: Hamming 0, not just <= threshold
      assert(hamming(Multimodal.spectralSig(base),
        Multimodal.spectralSig(noisy)) === 0, s"spectral must catch id=$id")
      // the envelope rung misses it by a wide margin
      assert(hamming(envelopeSig(base), envelopeSig(noisy)) > 4,
        s"envelope must miss id=$id")
    }
  }

  test("q_media_audio_spectral surfaces every planted noisy duplicate " +
    "as a non-exact pair") {
    val rows = run("q_media_audio_spectral").collect()
    val planted = rows.filter(r =>
      r.getAs[Long]("id_a") == r.getAs[Long]("id_b"))
    val expected = Tables.documents(spark, sf)
      .filter(col("doc_id") % 3 === 1 && col("doc_id") % 5 === 0)
      .count()
    assert(planted.length.toLong === expected)
    assert(planted.forall(r => r.getAs[Int]("ham") == 0))
    assert(planted.forall(r => !r.getAs[Boolean]("exact_dup")),
      "planted pairs are byte-distinct — the recall the digest misses")
  }

  // ------------------------------------------------ q_constrained_write

  test("q_constrained_write quarantines exactly the planted violators " +
    "and the written tables partition the ingest") {
    val audit = run("q_constrained_write").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val root = graft.Scratch.peek("constrained_write")
    val valid = spark.read.parquet(root.resolve("valid").toString)
    val quar  = spark.read.parquet(root.resolve("quarantine").toString)
    // written tables agree with the audit rows
    assert(valid.count() === audit("rows_written"))
    assert(quar.count() === audit("rows_quarantined"))
    // every valid row re-passes all four constraints
    assert(valid.filter(col("n_chars") =!= length(col("text")) ||
      length(col("text")) === 0 ||
      !col("lang").isin("en", "de", "es", "fr", "zh")).count() === 0L)
    assert(valid.groupBy("doc_id").count()
      .filter(col("count") > 1).count() === 0L)
    // every quarantined row carries at least one violation tag
    assert(quar.filter(size(col("violations")) === 0).count() === 0L)
    // the planted counts: one clone per matching base doc per rule,
    // and BOTH copies of an id collision flag
    val n = (m: Long) => Tables.documents(spark, sf)
      .filter(col("doc_id") % 97 === m).count()
    assert(audit("c_len_match") === n(3))
    assert(audit("c_nonempty") === n(5))
    assert(audit("c_lang_known") === n(7))
    assert(audit("c_unique_id") === 2 * n(11))
  }

  test("q_stream_constrained agrees with the batch gate on every " +
    "stateless rule; the delta is exactly the stateful uniqueness rule") {
    val batch = run("q_constrained_write").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val stream = run("q_stream_constrained").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (rule <- Seq("c_len_match", "c_nonempty", "c_lang_known"))
      assert(stream(rule) === batch(rule), rule)
    assert(!stream.contains("c_unique_id"))
    // rows the batch gate quarantines for uniqueness ALONE pass the
    // stateless scrubber: both collision copies are otherwise clean
    assert(stream("rows_written") - batch("rows_written") ===
      batch("c_unique_id"))
    assert(stream("rows_quarantined") + batch("c_unique_id") ===
      batch("rows_quarantined"))
  }

  // ------------------------------------------------- q_ann_matryoshka

  test("q_ann_matryoshka: the full-dim rung is exact recall 1.0 and " +
    "every truncated rung is bounded by it") {
    val rows = run("q_ann_matryoshka").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows.keySet === Set(8, 16, 32, 64))
    assert(rows(64) === ((24L, 1.0)))
    for ((m, (hits, rec)) <- rows) {
      assert(hits >= 0L && hits <= 24L, s"m=$m")
      assert(math.abs(rec - hits / 24.0) < 1e-12, s"m=$m")
    }
  }

  // ------------------------------------------- q_tokenizer_vocab_overlap

  test("q_tokenizer_vocab_overlap is consistent with the three models") {
    val rows = run("q_tokenizer_vocab_overlap").collect()
    assert(rows.length === 3)
    val bpe = graft.ops.Bpe.train(spark, sf).map(_._4).toSet
    val wp  = graft.ops.Wordpiece.train(spark, sf).map(_._4).toSet
    rows.foreach { r =>
      val (na, nb, nc, j) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(nc <= math.min(na, nb))
      assert(j >= 0L && j <= 1000000L)
      assert(j === (if (na + nb - nc == 0) 0L
        else nc * 1000000L / (na + nb - nc)))
    }
    val byPair = rows.map(r =>
      (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    assert(byPair(("bpe", "wordpiece")) === (bpe & wp).size.toLong)
  }
}
