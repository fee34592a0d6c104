package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Unigram

/** Unigram-LM tokenizer training (Kudo 2018, hard-EM variant): Viterbi
  * segmentation semantics on hand-computed words, the M-step coverage
  * floor, prune order, and the EM objective's monotonicity on the
  * shipped fixture.
  */
class UnigramSpec extends AnyFunSuite with SessionSuite {

  private val sf = "/root/testdata/sf0.001"

  private def segment(word: String,
      costs: Map[String, Long]): Seq[String] = {
    import spark.implicits._
    Seq(word).toDF("word")
      .select(Unigram.viterbiPieces(col("word"), costs).as("p"))
      .collect()(0).getSeq[String](0)
  }

  test("Viterbi picks the min-cost segmentation on hand-computed words") {
    val costs = Map("a" -> 100L, "b" -> 300L, "ab" -> 250L, "aab" -> 200L)
    // a|a|b = 500, a|ab = 350, aab = 200
    assert(segment("aab", costs) === Seq("aab"))
    // ab|ab = 500 beats a|b|a|b = 800
    assert(segment("abab", costs) === Seq("ab", "ab"))
    // no multi applies -> falls back to chars
    assert(segment("ba", costs) === Seq("b", "a"))
  }

  test("cost ties break toward the longest final piece (smallest j)") {
    val costs = Map("a" -> 100L, "aa" -> 200L)
    // a|a = 200 ties aa = 200; the struct-min tie-break keeps j = 0
    assert(segment("aa", costs) === Seq("aa"))
  }

  test("a substring absent from the vocabulary never wins") {
    val costs = Map("x" -> 900L, "y" -> 900L) // no "xy" piece
    assert(segment("xy", costs) === Seq("x", "y"))
  }

  test("the M-step floors single chars and drops dead multis") {
    val vocab = Seq("a" -> 10L, "b" -> 10L, "ab" -> 5L, "cd" -> 5L)
    val counts = Map("a" -> 7L, "ab" -> 3L) // b unused, cd unused
    assert(Unigram.mStep(vocab, counts) ===
      Seq("a" -> 7L, "b" -> 1L, "ab" -> 3L))
  }

  test("prune keeps all chars and the top-K multis by (cnt DESC, piece ASC)") {
    val multis = (0 until 20).map(i => f"m$i%02d" -> (100L - i))
    val vocab = Seq("a" -> 1L, "z" -> 1L) ++ multis :+ ("m99" -> 100L)
    val kept = Unigram.pruneVocab(vocab)
    // chars survive regardless of count
    assert(kept.take(2) === Seq("a" -> 1L, "z" -> 1L))
    // 12 multis: the count-100 tie (m00, m99) breaks piece-ASC first
    val multiKept = kept.drop(2).map(_._1)
    assert(multiKept.length === 12)
    assert(multiKept.take(2) === Seq("m00", "m99"))
    assert(multiKept === multiKept.sorted.sortBy(p =>
      -vocab.toMap.apply(p)), "ordered by (cnt DESC, piece ASC)")
  }

  test("the hard-EM objective is non-increasing across rounds on the " +
    "fixture corpus") {
    val model = Unigram.train(spark, sf)
    val o = model.roundObjectives
    assert(o.length === 2)
    assert(o(1) <= o(0),
      s"EM round must not worsen the Viterbi objective: $o")
    assert(o.forall(_ > 0))
  }

  test("the shipped model covers every corpus character and encode " +
    "emits at least one piece per word") {
    val model = Unigram.train(spark, sf)
    val pieces = model.vocab.map(_._1).toSet
    val corpusChars = Tables.documents(spark, sf)
      .select(explode(split(lower(col("text")), "")).as("ch"))
      .filter(col("ch") =!= " " && col("ch") =!= "")
      .distinct().collect().map(_.getString(0)).toSet
    assert(corpusChars.subsetOf(pieces),
      s"missing chars: ${corpusChars -- pieces}")
    val enc = SparkEntry.queries("q_unigram_encode")(spark, sf)
      .collect()
    assert(enc.nonEmpty)
    assert(enc.forall(r =>
      r.getAs[Long]("n_subtok") >= r.getAs[Int]("n_tok").toLong),
      "every word segments into at least one piece")
  }

  test("q_tokenizer_compare reports both families consistently: " +
    "fertility >= 1 token/word and totals reconcile with q_bpe_fertility") {
    val rows = SparkEntry.queries("q_tokenizer_compare")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getAs[Long]("bpe_subtok") >= r.getAs[Long]("n_tok"))
      assert(r.getAs[Long]("uni_subtok") >= r.getAs[Long]("n_tok"))
      assert(r.getAs[Long]("bpe_fertility_ppm") >= 1000000L)
      assert(r.getAs[Long]("uni_fertility_ppm") >= 1000000L)
    }
    // the BPE half must be exactly q_bpe_fertility's rollup
    val bpeFert = SparkEntry.queries("q_bpe_fertility")(spark, sf)
      .collect().map(r => r.getAs[String]("lang") ->
        ((r.getAs[Long]("n_tok"), r.getAs[Long]("n_subtok")))).toMap
    for (r <- rows) {
      val (nt, ns) = bpeFert(r.getAs[String]("lang"))
      assert(r.getAs[Long]("n_tok") === nt)
      assert(r.getAs[Long]("bpe_subtok") === ns)
    }
  }
}
