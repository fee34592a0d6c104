package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted-model seam (r12 verdict ask #1): a model trained and
  * saved in one SparkSession must re-serve BIT-IDENTICALLY from
  * storage in a FRESH SparkSession (new SparkContext, empty artifact
  * memo) — without the training memo key ever appearing — and a
  * stored table that drifted from its manifest must fail loudly at
  * load time.
  */
class ModelStoreSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  private def build(): SparkSession = graft.Sessions.local(4)

  private def canon(df: org.apache.spark.sql.DataFrame): Vector[String] =
    df.collect().map(_.toString).sorted.toVector

  test("a FRESH SparkSession re-serves all six persisted model kinds " +
    "(BPE merges, NB weights, k-means centroids, WordPiece vocab, " +
    "unigram costs, PQ codebook) bit-identically, without retraining") {
    // ---- session 1: train + persist (the "training job")
    val s1 = build()
    import s1.implicits._
    val merges1 = Bpe.train(s1, sf)
    val dirB = graft.Scratch.dir("spec_model_bpe")
    ModelStore.save(merges1.toDF("step", "a", "b", "merged", "cnt"),
      dirB, "bpe-merges")
    val dirN = graft.Scratch.dir("spec_model_nb")
    ModelStore.save(Classifier.nbModelWithRows(s1, sf)._1, dirN,
      "nb-model")
    val dirK = graft.Scratch.dir("spec_model_kmeans")
    ModelStore.save(Similarity.trainKmeans(s1, sf), dirK,
      "kmeans-centroids")
    val dirW = graft.Scratch.dir("spec_model_wordpiece")
    ModelStore.save(
      Wordpiece.train(s1, sf).map(_._4).distinct.toDF("piece"), dirW,
      "wordpiece-vocab")
    val dirU = graft.Scratch.dir("spec_model_unigram")
    ModelStore.save(
      Unigram.train(s1, sf).costs.toSeq.sortBy(_._1)
        .toDF("piece", "cost_ppm"), dirU, "unigram-costs")
    val dirP = graft.Scratch.dir("spec_model_pq")
    ModelStore.save(Similarity.pqTrain(s1, sf)._1, dirP, "pq-codebook")
    s1.stop()

    val trainKeys = Seq("bpe-merges", "nb-model", "kmeans-k8-i2",
      "wordpiece-merges", "unigram-lm", "pq-m8-k8")

    // ---- session 2: a NEW SparkContext (the "serving job")
    val s2 = build()
    assert(s2.sparkContext ne null)
    for (k <- trainKeys)
      assert(!Similarity.memoContains(s2, sf, k),
        s"fresh session already holds training memo $k")

    // cold-serve each model from storage only
    val (mB, manB) = ModelStore.load(s2, dirB)
    assert(manB.kind == "bpe-merges" && manB.rows == merges1.size.toLong)
    val words2 = Wordpiece.wordsDf(s2, sf).localCheckpoint()
    val coldBpe = canon(Bpe.servedCounts(s2, words2, mB, manB.rows))

    val (mN, manN) = ModelStore.load(s2, dirN)
    val coldNb = canon(Classifier.scoredDocsWith(s2, sf, mN, manN.rows))

    val (mK, manK) = ModelStore.load(s2, dirK)
    val (v2, nv2) = Similarity.quantized(s2, sf)
    val coldKm = canon(Similarity.assignToCentroids(v2, nv2, mK))

    val (mW, manW) = ModelStore.load(s2, dirW)
    val coldWp = canon(Wordpiece.servedCounts(s2, words2, mW, manW.rows))

    val (mU, manU) = ModelStore.load(s2, dirU)
    val coldUni = canon(
      Unigram.servedCounts(s2, Unigram.wordsDf(s2, sf), mU, manU.rows))

    val (mP, manP) = ModelStore.load(s2, dirP)
    val coldPq = canon(Similarity.pqEncode(s2, sf, mP))

    // serving from the artifact must not have trained anything
    for (k <- trainKeys)
      assert(!Similarity.memoContains(s2, sf, k),
        s"cold serve triggered training memo $k")

    // ---- now retrain IN session 2 and compare byte for byte
    val warmBpe = canon(
      Bpe.formGatedCounts(s2, words2, Bpe.train(s2, sf)))
    assert(coldBpe.nonEmpty && coldBpe === warmBpe,
      "persisted BPE merges serve differently from a retrain")

    val (nbM, nbRows) = Classifier.nbModelWithRows(s2, sf)
    val warmNb = canon(Classifier.scoredDocsWith(s2, sf, nbM, nbRows))
    assert(coldNb.nonEmpty && coldNb === warmNb,
      "persisted NB weights serve differently from a retrain")

    val warmKm = canon(
      Similarity.assignToCentroids(v2, nv2, Similarity.trainKmeans(s2, sf)))
    assert(coldKm.nonEmpty && coldKm === warmKm,
      "persisted centroids assign differently from a retrain")

    val warmWp = canon(Wordpiece.wordPieceCountsWithRows(s2, sf)._1)
    assert(coldWp.nonEmpty && coldWp === warmWp,
      "persisted WordPiece vocabulary serves differently from a retrain")

    val warmUni = canon(Unigram.wordPieceCountsWithRows(s2, sf)._1)
    assert(coldUni.nonEmpty && coldUni === warmUni,
      "persisted unigram cost table serves differently from a retrain")

    val warmPq = canon(Similarity.pqTrain(s2, sf)._2)
    assert(coldPq.nonEmpty && coldPq === warmPq,
      "persisted PQ codebook encodes differently from a retrain")
    s2.stop()
  }

  test("an above-threshold stored merge table serves through the " +
    "table arm (no driver collect) with the same counts") {
    val s = build()
    import s.implicits._
    // a 300-merge chain model: rank k merges the length-k prefix with
    // the next 'a' — above LiteralFormMaxMerges=256, so servedCounts
    // must take tableFormCountsDf, feeding the stored frame straight
    // into the gated join
    val k = Bpe.LiteralFormMaxMerges + 44
    val merges = (1 to k).map(i => (i, "a" * i, "a", "a" * (i + 1), 1L))
    val stored = merges.toDF("step", "a", "b", "merged", "cnt")
    val words = Seq("aaaa", "b", "aab").toDF("word")
    val got = Bpe.servedCounts(s, words, stored, k.toLong)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // ordered fold: rank 1 (a,a) replaces left-to-right non-overlapping,
    // "aaaa" -> [aa, aa]; ranks 2+ need an (a^i, a) adjacency that no
    // longer exists -> 2 pieces. "aab": rank 1 -> [aa, b], 2 pieces.
    // "b": 1 piece.
    assert(got === Map("aaaa" -> 2L, "aab" -> 2L, "b" -> 1L))
    // the literal arm agrees: ranks past 8 are inert on these words, so
    // the 8-merge prefix (<= gate, literal arm) is the same tokenizer
    // for this word set
    val small = merges.take(8)
    val viaLiteral = Bpe.servedCounts(s, words,
      small.toDF("step", "a", "b", "merged", "cnt"), 8L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaLiteral === got, "arms disagree on the chain model")
    s.stop()
  }

  test("load rejects a stored table that drifted from its manifest") {
    val s = build()
    import s.implicits._
    val dir = graft.Scratch.dir("spec_model_tamper")
    ModelStore.save(Seq((1, "x", 10L), (2, "y", 20L))
      .toDF("k", "t", "w"), dir, "toy")
    // tamper: rewrite the data with one changed row, keep the manifest
    Seq((1, "x", 10L), (2, "y", 21L)).toDF("k", "t", "w")
      .write.mode("overwrite").parquet(dir.resolve("data").toString)
    val e = intercept[IllegalArgumentException] {
      ModelStore.load(s, dir)
    }
    assert(e.getMessage.contains("manifest"))
    // schema drift is caught before the content scan
    Seq((1, 10L)).toDF("k", "w")
      .write.mode("overwrite").parquet(dir.resolve("data").toString)
    val e2 = intercept[IllegalArgumentException] {
      ModelStore.load(s, dir)
    }
    assert(e2.getMessage.contains("schema"))
    s.stop()
  }

  test("manifest round-trips exactly (kind, rows, fingerprint, schema)") {
    val s = build()
    import s.implicits._
    val dir = graft.Scratch.dir("spec_model_manifest")
    val m = ModelStore.save(
      Seq(("tok \"quoted\\\"", 1L)).toDF("token", "w"), dir, "k\"ind\\x")
    assert(ModelStore.readManifest(dir) === m)
    val (df, m2) = ModelStore.load(s, dir)
    assert(m2 === m && df.count() === 1L)
    s.stop()
  }
}
