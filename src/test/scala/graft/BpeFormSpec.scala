package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Bpe, Wordpiece}

/** BPE serving-form gate (the r11 verdict's last literal-only trained
  * model, closed): the table arm — merges as a rank TABLE, word-length-
  * bounded rank-ordered iterative merging — must equal the literal
  * K-step replace chain bit for bit, including the product-string
  * collision case where an unguarded lowest-rank fixpoint loop
  * over-merges; and the merges must enter the table arm's plan as a
  * join build side, never a literal.
  */
class BpeFormSpec extends AnyFunSuite with SessionSuite {

  private val sf = "/root/testdata/sf0.001"

  private def wordsDf(ws: Seq[String]) = {
    import spark.implicits._
    ws.toDF("word")
  }

  /** Hand-built merge rows: (step, left, right, merged, cnt). */
  private def m(rows: (Int, String, String)*)
      : Seq[(Int, String, String, String, Long)] =
    rows.map { case (k, a, b) => (k, a, b, a + b, 1L) }

  private def counts(df: org.apache.spark.sql.DataFrame)
      : Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("table arm equals the literal replace chain on the TRAINED " +
    "model over the corpus vocabulary, bit for bit") {
    val merges = Bpe.train(spark, sf)
    assert(merges.nonEmpty &&
      merges.size <= Bpe.LiteralFormMaxMerges,
      "the shipped trained model is toy-sized — the literal arm serves it")
    val words = Wordpiece.wordsDf(spark, sf).localCheckpoint()
    val lit = counts(Bpe.literalFormCounts(words, merges))
    val tab = counts(Bpe.tableFormCounts(spark, words, merges))
    assert(lit.nonEmpty)
    assert(tab === lit, "both physical forms are the same tokenizer")
  }

  test("rank-ordered iteration, NOT a fixpoint loop: a later merge " +
    "re-creating an earlier rank's pair string must not re-merge") {
    // merge 1 = (x, ab), merge 2 = (a, b): on word "xab" the ordered
    // fold applies step 1 as a no-op (no <x><ab> yet) and step 2 makes
    // <x><ab> -> 2 pieces; an unguarded lowest-applicable-rank loop
    // would then re-apply rank 1 and collapse to 1 piece — wrong
    val merges = m((1, "x", "ab"), (2, "a", "b"))
    val words = wordsDf(Seq("xab"))
    val lit = counts(Bpe.literalFormCounts(words, merges))
    val tab = counts(Bpe.tableFormCounts(spark, words, merges))
    assert(lit("xab") === 2L)
    assert(tab === lit)
  }

  test("multi-round chaining applies merges in rank order with the " +
    "per-word iteration bounded by word length") {
    // "abc" needs two rounds (rank 1 creates the symbol rank 2
    // consumes); "abab" retires after one; "zzz" matches nothing
    val merges = m((1, "a", "b"), (2, "ab", "c"))
    val words = wordsDf(Seq("abc", "abab", "zzz"))
    val lit = counts(Bpe.literalFormCounts(words, merges))
    val tab = counts(Bpe.tableFormCounts(spark, words, merges))
    assert(lit === Map("abc" -> 1L, "abab" -> 2L, "zzz" -> 3L))
    assert(tab === lit)
  }

  test("the merges enter the table arm's round plan as a join build " +
    "side, never a literal replace chain") {
    import spark.implicits._
    val merges = Bpe.train(spark, sf)
    val mergeDf = merges.map { case (k, a, b, _, _) => (k, a, b) }
      .toDF("rank", "a", "b")
    // checkpoint the bracket-encoded seed exactly as tableFormCounts
    // does, so the round plan under test contains only the round
    val pending = Wordpiece.wordsDf(spark, sf)
      .select(col("word"),
        regexp_replace(col("word"), "(.)",
          s"${Bpe.B1}$$1${Bpe.B2}").as("w"),
        lit(0).as("last"))
      .localCheckpoint()
    val plan = Bpe.mergeRound(pending, mergeDf, merges.size.toLong)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"toy merge table rides the gate's broadcast arm:\n${plan.take(1500)}")
    assert(!plan.contains("regexp_replace"),
      "no literal replace chain in the table arm's round")
    assert(!plan.contains("element_at"),
      "pair expansion must consume the split array wholesale (zip_with " +
        "over slices) — element_at probes re-expand the producing split " +
        "per element after projection collapse (the q_cdc_chunks trap)")
  }

  test("words longer than MaxWordChars bypass merging in the serving " +
    "path; the cap sits above the form dispatch so both arms agree") {
    val merges = m((1, "a", "b"))
    val atCap = "ab" * (Bpe.MaxWordChars / 2)  // exactly at the cap
    val longW = "ab" * Bpe.MaxWordChars        // 2× the cap
    val words = wordsDf(Seq("abab", atCap, longW))
    val gated = counts(Bpe.formGatedCounts(spark, words, merges))
    assert(gated("abab") === 2L)
    assert(gated(atCap) === (Bpe.MaxWordChars / 2).toLong,
      "a word AT the cap merges normally")
    assert(gated(longW) === (2 * Bpe.MaxWordChars).toLong,
      "a word past the cap bypasses merging: one piece per symbol")
    // arm-independence: the table arm computes the same counts on the
    // capped (short) set the gate would hand it
    val tab = counts(Bpe.tableFormCounts(spark,
      wordsDf(Seq("abab", atCap)), merges))
    assert(tab === Map("abab" -> 2L,
      atCap -> (Bpe.MaxWordChars / 2).toLong))
  }

  test("q_bpe_encode under the gate matches the whole-document " +
    "replace-chain reference exactly") {
    val applied = Bpe.encodeExpr(Bpe.train(spark, sf))
    val ref = Tables.documents(spark, sf)
      .select(col("doc_id"),
        size(filter(split(lower(col("text")), "\\s+"),
          t => t =!= "")).as("n_tok"),
        applied.as("e"))
      .filter(col("n_tok") > 0)
      .select(col("doc_id"), col("n_tok"),
        Bpe.subtokOf(col("e")).as("n_subtok"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    val got = SparkEntry.queries("q_bpe_encode")(spark, sf)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(got.nonEmpty)
    assert(got === ref,
      "per-distinct-word gated serving equals the per-doc replace chain")
  }
}
