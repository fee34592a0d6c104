package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the distributed BPE trainer ([[ops.Bpe]]) on a
  * hand-computable corpus: merge order, weighted counts, leftmost
  * non-overlapping application, dry-out before K merges, and encode
  * fertility — all checked against pencil-and-paper expectations.
  */
class BpeSpec extends AnyFunSuite with SessionSuite {

  /** Write a tiny documents.parquet the ops can read as a corpus dir. */
  private def corpus(texts: Seq[String]): String = {
    val dir = Files.createTempDirectory("bpe-spec").toString
    import spark.implicits._
    texts.zipWithIndex
      .map { case (t, i) =>
        (i.toLong, t, "en", "src0", t.length.toLong)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("merge order, weighted counts, and leftmost application") {
    // vocab: "aaaa" (freq 2), "ab" (freq 3)
    // step 1: (a,a) appears 3 positional times in aaaa × freq 2 = 6;
    //         (a,b) = 3 → merge (a,a): aaaa → [aa][aa] (leftmost,
    //         non-overlapping: 'aaaa' gives TWO merges, not three)
    // step 2: (a,b) = 3 beats (aa,aa) = 2 → merge (a,b)
    // step 3: (aa,aa) = 2 → merge → aaaa fully merged
    // step 4+: no adjacent pairs anywhere — trainer must stop (dry)
    val d = corpus(Seq("aaaa aaaa ab ab ab", "", " "))
    val rows = ops.Bpe.qBpeTrain.fn(spark, d).collect()
    val got = rows.map(r => (r.getInt(0), r.getString(1), r.getString(2),
      r.getString(3), r.getLong(4))).toSeq
    assert(got == Seq(
      (1, "a", "a", "aa", 6L),
      (2, "a", "b", "ab", 3L),
      (3, "aa", "aa", "aaaa", 2L)), got.toString)
  }

  test("encode reports subword counts under the trained merges") {
    val d = corpus(Seq("aaaa aaaa ab ab ab", "aaaaa b"))
    // training here: (a,a)=6+4=10 → aa; (a,b)=3 ties (aa,aa)=3, 'a'<'aa'
    // → ab; (aa,aa)=3 → aaaa; (aaaa,a)=1 → aaaaa; then dry (4 merges).
    // encode: doc 0 = aaaa,aaaa,ab,ab,ab → 1 symbol each → n_subtok 5;
    //         doc 1 = aaaaa→[aaaaa], b→[b] → n_subtok 2
    val rows = ops.Bpe.qBpeEncode.fn(spark, d).collect()
    val got = rows.map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(got == Seq((0L, 5, 5), (1L, 2, 2)), got.toString)
  }

  test("multi-byte characters are whole symbols (regex '.', not bytes)") {
    // "éé éé üa": (é,é)=2 wins (tie 2≥1, 'é' sorts after 'ü'? — no:
    // count decides: (é,é)=2, (ü,a)=1) → merge é,é;
    // then (ü,a)=1 vs (éé has no pairs left) → merge ü,a; dry.
    val d = corpus(Seq("éé éé üa"))
    val rows = ops.Bpe.qBpeTrain.fn(spark, d).collect()
    val got = rows.map(r => (r.getInt(0), r.getString(1), r.getString(2),
      r.getLong(4))).toSeq
    assert(got == Seq((1, "é", "é", 2L), (2, "ü", "a", 1L)), got.toString)
    val enc = ops.Bpe.qBpeEncode.fn(spark, d).collect()
    // 3 tokens → 3 fully-merged symbols; length() counts CODEPOINTS in
    // both engines, so the bracket count stays consistent for multi-byte
    assert(enc.head.getInt(2) == 3, enc.head.toString)
  }

  test("q_bpe_fertility is exactly the per-lang rollup of q_bpe_encode") {
    val sf = "/root/testdata/sf0.001"
    val perDoc = ops.Bpe.qBpeEncode.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getInt(2).toLong))
    val langOf = graft.Tables.documents(spark, sf)
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val byLang = perDoc.groupBy(d => langOf(d._1))
    val rows = ops.Bpe.qBpeFertility.fn(spark, sf).collect()
    assert(rows.length === byLang.size)
    rows.foreach { r =>
      val lang = r.getString(0)
      val ds = byLang(lang)
      assert(r.getAs[Long]("n_docs") === ds.length.toLong, lang)
      val (tok, sub) = (ds.map(_._2).sum, ds.map(_._3).sum)
      assert(r.getAs[Long]("n_tok") === tok, lang)
      assert(r.getAs[Long]("n_subtok") === sub, lang)
      assert(BigInt(r.getAs[Long]("fertility_ppm")) ===
        BigInt(sub) * 1000000 / tok, lang)
      // subword segmentation can only split words, never join them
      assert(sub >= tok, lang)
    }
  }
}
