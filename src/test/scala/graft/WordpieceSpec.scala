package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Wordpiece

/** WordPiece family: the likelihood argmax picking a DIFFERENT merge
  * than BPE's frequency argmax on a corpus built to separate them, and
  * the greedy longest-match-first (MaxMatch) walk.
  */
class WordpieceSpec extends AnyFunSuite with SessionSuite {

  /** Pair (x,y) is the most FREQUENT (10 > 5) but its units are
    * common (x, y appear 30× each); pair (q,z) is rarer but its units
    * occur ONLY inside it — the likelihood criterion must pick (q,z)
    * first while BPE's frequency criterion picks (x,y).
    */
  private lazy val dir: String = {
    val d = Files.createTempDirectory("wpspec").toString
    import spark.implicits._
    val words =
      Seq.fill(10)("xy") ++ Seq.fill(20)("x") ++ Seq.fill(20)("y") ++
        Seq.fill(5)("qz")
    words.zipWithIndex
      .map { case (w, i) => (i.toLong, w, "en", "src0", w.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }

  test("step-1 merge is the likelihood argmax, not the frequency argmax") {
    val wp = SparkEntry.queries("q_wordpiece_train")(spark, dir)
      .orderBy("step").collect()
    assert(wp(0).getString(1) === "q" && wp(0).getString(2) === "z")
    // score(q,z) = 5e12/(5*5) = 2e11 exactly
    assert(wp(0).getLong(4) === 5L)
    assert(wp(0).getLong(5) === 200000000000L)
    // BPE on the same corpus merges the frequent pair first
    val bpe = graft.ops.Bpe.train(spark, dir)
    assert(bpe.head._2 === "x" && bpe.head._3 === "y")
  }

  test("greedyCount is longest-match-first with single-char fallback") {
    import spark.implicits._
    val df = Seq("abcd", "abab", "aabc", "zzzz").toDF("w")
      .select(col("w"), Wordpiece.greedyCount(col("w"),
        Map("ab" -> 1, "abc" -> 1), 3).as("np"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df("abcd") === 2L) // abc + d, NOT ab + c + d
    assert(df("abab") === 2L) // ab + ab
    assert(df("aabc") === 2L) // a + abc
    assert(df("zzzz") === 4L) // all single-char fallback
  }

  test("encode fertility is exact and the train/encode memo is shared") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val enc = SparkEntry.queries("q_wordpiece_encode")(spark, dir)
    // every 'qz' doc is one piece (merged), every 'xy' doc two or one
    // depending on later merges; minimally: n_subtok <= n_tok * len
    val rows = enc.collect()
    assert(rows.length === 55)
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getInt(1)) // pieces >= words
      assert(r.getLong(3) >= 1000000L)    // fertility_ppm >= 1.0
    }
    // the 5 'qz' docs encode as ONE piece: fertility exactly 1.0
    assert(rows.count(_.getLong(3) == 1000000L) >= 5)
  }
}
