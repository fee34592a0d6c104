package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Classifier

/** Naive-Bayes classifier family: hand-computed model weights on a
  * tiny corpus, the routing decision, and the shared-model memo.
  */
class ClassifierSpec extends AnyFunSuite with SessionSuite {

  /** Tiny corpus with hand-checkable counts: 'good' appears only in
    * the curated source, 'spam' only outside it, 'the' everywhere
    * symmetrically.
    */
  private lazy val dir: String = {
    val d = Files.createTempDirectory("nbspec").toString
    import spark.implicits._
    Seq(
      (0L, "good the good", "en", "src0", 13L),
      (1L, "good the", "en", "src0", 8L),
      (2L, "spam the spam", "en", "src1", 13L),
      (3L, "spam the", "en", "src2", 8L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }

  private def lnPpm(x: Double): Long =
    math.floor(math.log(x) * 1e6 + 0.5).toLong

  test("q_nb_train computes the hand-derived Laplace-smoothed llr") {
    // counts: good (3+,0-), spam (0+,3-), the (2+,2-); N+=5, N-=5, V=3
    val rows = SparkEntry.queries("q_nb_train")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    def llr(cp: Long, cn: Long): Long =
      lnPpm((cp + 1).toDouble / 8) - lnPpm((cn + 1).toDouble / 8)
    assert(rows("good") === ((3L, 0L, llr(3, 0))))
    assert(rows("spam") === ((0L, 3L, llr(0, 3))))
    assert(rows("the") === ((2L, 2L, 0L)))
    assert(rows("good")._3 > 0 && rows("spam")._3 < 0)
  }

  test("q_nb_score routes the curated docs positive, the rest negative") {
    val rows = SparkEntry.queries("q_nb_score")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // prior is 0 (2 docs each side); 'the' contributes 0, so the sign
    // is carried entirely by the class-exclusive tokens
    assert(rows("src0")._1 === 2L)
    assert(rows("src0")._2 === 2L) // both curated docs predicted positive
    assert(rows("src0")._3 > 0L)
    assert(rows("src1") === ((1L, 0L, rows("src1")._3)))
    assert(rows("src1")._3 < 0L && rows("src2")._3 < 0L)
    // doc 2 has two 'spam' + one 'the', doc 3 one 'spam' + one 'the':
    // margins are exactly -2*|llr(spam)| and -|llr(spam)|
    val spamLlr = lnPpm(1.0 / 8) - lnPpm(4.0 / 8)
    assert(rows("src1")._3 === 2 * spamLlr)
    assert(rows("src2")._3 === spamLlr)
  }

  test("q_nb_auc is exactly 1.0 on the perfectly separable corpus") {
    // positives score +llr(good)·{2,1}, negatives +llr(spam)·{2,1}
    // with llr(good) > 0 > llr(spam): perfect ranking, AUC = 1
    val r = SparkEntry.queries("q_nb_auc")(spark, dir).collect()
    assert(r.length === 1)
    assert(r(0).getLong(0) === 2L && r(0).getLong(1) === 2L)
    assert(r(0).getLong(2) === 1000000L)
  }

  test("q_nb_thresholds: hand-computed rungs on the separable corpus " +
    "and sweep monotonicity") {
    // prior = 0 (2 docs/side); margins: +2g, +g, -g, -2g with
    // g = lnppm(1/2) - lnppm(1/8) = 1386295
    val rows = SparkEntry.queries("q_nb_thresholds")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    // t = -1.5e6 keeps {+2g, +g, -g}: precision 2/3, recall 1, F1 4/5
    assert(rows(-1500000L) === ((3L, 2L, 666666L, 1000000L, 800000L)))
    // t = -3e6 keeps all 4: precision 1/2, recall 1, F1 2/3
    assert(rows(-3000000L) === ((4L, 2L, 500000L, 1000000L, 666666L)))
    // kept and recall are non-increasing as the threshold tightens
    val byT = rows.toSeq.sortBy(_._1)
    byT.sliding(2).foreach { case Seq((_, a), (_, b)) =>
      assert(b._1 <= a._1 && b._4 <= a._4)
    }
  }

  test("train and score share ONE model build per (session, dataset)") {
    // a FRESH dataset dir (not the suite-shared one, whose memo other
    // tests may already have populated) so the pin holds in isolation:
    // train + score + score = exactly one counting-pass build
    val fresh = Files.createTempDirectory("nbspec-memo").toString
    import spark.implicits._
    Seq(
      (0L, "alpha beta", "en", "src0", 10L),
      (1L, "beta gamma", "en", "src1", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$fresh/documents.parquet")
    val before = Classifier.nbModelBuilds.get()
    SparkEntry.queries("q_nb_train")(spark, fresh).collect()
    SparkEntry.queries("q_nb_score")(spark, fresh).collect()
    SparkEntry.queries("q_nb_score")(spark, fresh).collect()
    assert(Classifier.nbModelBuilds.get() === before + 1)
  }

  test("a token-less document stays in the scored population at score 0") {
    // doc 4 is pure whitespace: no tokens, so the token join alone
    // would drop it — the doc-level left join must keep it with
    // margin = prior only (ADVICE r10: the routing audit undercounted
    // per-source doc totals on corpora containing empty docs)
    val fresh = Files.createTempDirectory("nbspec-empty").toString
    import spark.implicits._
    Seq(
      (0L, "good the good", "en", "src0", 13L),
      (1L, "good the", "en", "src0", 8L),
      (2L, "spam the spam", "en", "src1", 13L),
      (3L, "spam the", "en", "src2", 8L),
      (4L, "   ", "en", "src3", 3L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$fresh/documents.parquet")
    val rows = SparkEntry.queries("q_nb_score")(spark, fresh)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // src3 = the empty doc alone: counted, margin exactly the prior
    // (2 pos vs 3 neg docs)
    val prior = lnPpm(2.0 / 5) - lnPpm(3.0 / 5)
    assert(rows("src3") === ((1L, if (prior > 0) 1L else 0L, prior)))
    // and the AUC population includes all 5 docs
    val auc = SparkEntry.queries("q_nb_auc")(spark, fresh).collect()(0)
    assert(auc.getLong(0) + auc.getLong(1) === 5L)
  }

  test("guards: a corpus with NO positive-class docs yields 0s, not " +
    "NULL/crash (prior ln(0), recall/F1 div-by-zero, AUC)") {
    val fresh = Files.createTempDirectory("nbspec-nopos").toString
    import spark.implicits._
    Seq(
      (0L, "spam the", "en", "src1", 8L),
      (1L, "ham the", "en", "src2", 7L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$fresh/documents.parquet")
    val thr = SparkEntry.queries("q_nb_thresholds")(spark, fresh).collect()
    assert(thr.nonEmpty)
    thr.foreach { r =>
      assert(r.getLong(4) === 0L, "recall_ppm must guard pos_n = 0")
      assert(r.getLong(5) === 0L, "f1_ppm must guard pos_n = 0")
    }
    val auc = SparkEntry.queries("q_nb_auc")(spark, fresh).collect()(0)
    assert(auc.getLong(0) === 0L && auc.getLong(2) === 0L)
    // prior guard: mean margin is finite (0 prior + token scores)
    val score = SparkEntry.queries("q_nb_score")(spark, fresh).collect()
    assert(score.length === 2)
  }

  private val sf = "/root/testdata/sf0.001"

  test("q_nb_split partitions every document into exactly one split " +
    "with ZERO leaky clusters (the leakage-safe invariant)") {
    val rows = SparkEntry.queries("q_nb_split")(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).sorted.toSeq === Seq("test", "train", "val"))
    assert(rows.map(_._2._1).sum === 500L) // every doc, exactly once
    rows.foreach { case (_, (_, _, _, leaky)) => assert(leaky === 0L) }
    // train dominates (8/10 buckets) and every split has both classes
    val byName = rows.toMap
    assert(byName("train")._1 > byName("val")._1)
    rows.foreach { case (_, (n, pos, _, _)) =>
      assert(pos > 0 && pos < n)
    }
  }

  test("q_nb_auc_holdout evaluates on the split populations (train " +
    "rows never enter the val row) and both AUCs are proper") {
    val split = SparkEntry.queries("q_nb_split")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = SparkEntry.queries("q_nb_auc_holdout")(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet === Set("train", "val"))
    // the eval populations ARE the split populations: pos_n + neg_n
    // per row equals the split's doc count, pos_n its positive count —
    // composed with the zero-leak invariant above, a train row can
    // never sit in the val population
    assert(rows("train")._1 === split("train")._2)
    assert(rows("train")._1 + rows("train")._2 === split("train")._1)
    assert(rows("val")._1 === split("val")._2)
    assert(rows("val")._1 + rows("val")._2 === split("val")._1)
    rows.values.foreach { case (_, _, auc) =>
      assert(auc >= 0L && auc <= 1000000L)
    }
  }

  test("q_nb_auc_holdout emits NO row for an empty split (degenerate " +
    "corpus where every doc buckets to train) — oracle GROUP BY parity") {
    // md5('0') = cfcd2084… → bucket 4 → train; a 1-doc corpus leaves
    // val and test empty, and the engine must not emit the all-zero
    // rows the oracle's GROUP BY split lacks (r11 ADVICE)
    val fresh = Files.createTempDirectory("nbspec-onesplit").toString
    import spark.implicits._
    Seq((0L, "good the good", "en", "src0", 13L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$fresh/documents.parquet")
    val rows = SparkEntry.queries("q_nb_auc_holdout")(spark, fresh)
      .collect()
    assert(rows.length === 1)
    assert(rows(0).getString(0) === "train")
    assert(rows(0).getLong(1) + rows(0).getLong(2) === 1L)
  }

  test("q_nb_test_report: the val-tuned threshold matches a brute-force " +
    "sweep and the test metrics recompute from the scored frame") {
    val scored = Classifier.holdoutScored(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val valRows  = scored.filter(_._1 == "val").map(t => (t._2, t._3))
    val testRows = scored.filter(_._1 == "test").map(t => (t._2, t._3))
    val posV = valRows.count(_._1 == 1L).toLong
    // brute force: F1 at every candidate cut (each val score + min-1)
    def f1At(t: Long): Long = {
      val kept = valRows.count(_._2 > t).toLong
      val tp   = valRows.count(r => r._2 > t && r._1 == 1L).toLong
      if (kept + posV == 0) 0L else tp * 2000000L / (kept + posV)
    }
    val cands = valRows.map(_._2).distinct :+ (valRows.map(_._2).min - 1)
    val best  = cands.map(t => (f1At(t), -t)).max // f1 desc, t asc
    val row = SparkEntry.queries("q_nb_test_report")(spark, sf)
      .collect()(0)
    assert(row.getLong(0) === -best._2, "chosen threshold")
    assert(row.getLong(1) === best._1, "chosen val F1")
    // test metrics recompute exactly from the untouched test split
    val t = row.getLong(0)
    val kept = testRows.count(_._2 > t).toLong
    val tp   = testRows.count(r => r._2 > t && r._1 == 1L).toLong
    val pos  = testRows.count(_._1 == 1L).toLong
    assert(row.getLong(2) === testRows.length.toLong)
    assert(row.getLong(3) === kept && row.getLong(4) === tp)
    assert(row.getLong(5) ===
      (if (kept == 0) 0L else tp * 1000000L / kept))
    assert(row.getLong(6) ===
      (if (pos == 0) 0L else tp * 1000000L / pos))
    assert(row.getLong(7) ===
      (if (kept + pos == 0) 0L else tp * 2000000L / (kept + pos)))
  }

  test("modelJoin size gate: broadcast under the threshold, shuffle " +
    "join above — both arms plan-asserted") {
    import org.apache.spark.sql.functions.col
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // disable auto-broadcast so ONLY the gate's hint can broadcast
    // (emulates the at-scale size estimate, the LayoutSpec pattern)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = spark.range(0, 1000).select(col("id").as("k"))
      val build = spark.range(0, 50).select(col("id").as("k"),
        (col("id") * 2).as("w"))
      val small = graft.ops.Distributed.modelJoin(probe, build, 50L,
        Seq("k"))
      val pSmall = small.queryExecution.executedPlan.toString
      assert(pSmall.contains("BroadcastHashJoin"),
        s"under-threshold model must broadcast:\n${pSmall.take(1500)}")
      val big = graft.ops.Distributed.modelJoin(probe, build, 50L,
        Seq("k"), maxBroadcastRows = 49L)
      val pBig = big.queryExecution.executedPlan.toString
      assert(!pBig.contains("BroadcastHashJoin"),
        s"over-threshold model must NOT broadcast:\n${pBig.take(1500)}")
      assert(pBig.contains("SortMergeJoin") ||
        pBig.contains("ShuffledHashJoin"),
        s"fallback must be a key-partitioned shuffle join:\n${pBig.take(1500)}")
      // both arms agree
      assert(small.count() === big.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
