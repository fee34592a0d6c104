package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-13 operators: batch-incremental SemDeDup must equal the
  * whole-corpus recompute restricted to the batch (the rule is
  * prefix-stable by construction — a vector's decision depends only on
  * earlier vectors), and the artifact queries must agree with their
  * in-session twins on the served values.
  */
class Round13BatchSpec extends AnyFunSuite with SessionSuite {

  private val sf = "/root/testdata/sf0.001"

  private def rows(name: String): Vector[String] =
    SparkEntry.queries(name)(spark, sf)
      .collect().map(_.toString).sorted.toVector

  test("q_semdedup_incr equals the whole-corpus SemDeDup recompute " +
    "restricted to the batch") {
    val t = Tables.embeddings(spark, sf)
      .agg(org.apache.spark.sql.functions.expr("max(vec_id) * 4 div 5"))
      .collect()(0).getLong(0)
    val whole = SparkEntry.queries("q_semdedup")(spark, sf)
      .filter(s"vec_id > $t")
      .collect().map(_.toString).sorted.toVector
    val incr = rows("q_semdedup_incr")
    assert(incr.nonEmpty && incr === whole,
      "batch-incremental decisions drifted from the recompute")
  }

  test("the q_semdedup_incr fixture batch exercises both outcomes " +
    "(some vectors dropped, some kept)") {
    val decisions = SparkEntry.queries("q_semdedup_incr")(spark, sf)
      .collect().map(_.getBoolean(2))
    assert(decisions.contains(true) && decisions.contains(false),
      "fixture batch must contain both kept and dropped vectors or " +
        "the oracle row is vacuous on one branch")
  }

  test("modelJoin's shuffle arm is AQE-skew-splittable: the skew " +
    "split fires on a hot probe key once thresholds see the partition") {
    import org.apache.spark.sql.functions._
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        -> "64k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32k")
    val prev = confs.keys.map(k => k -> spark.conf.get(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import spark.implicits._
      val model = spark.range(0, 50)
        .select(concat(lit("t"), $"id").as("token"), $"id".as("w"))
      // 90% of the probe stream lands on one token — the Zipf head
      val probe = spark.range(0, 400000)
        .select(when($"id" % 10 > 0, lit("t1"))
          .otherwise(concat(lit("t"), pmod($"id", lit(50)))).as("token"))
      // buildRows pretends the model sits ABOVE the broadcast gate, so
      // the join is the shuffle arm under test
      val agg = ops.Distributed
        .modelJoin(probe, model, buildRows = 2000000L, Seq("token"))
        .agg(sum($"w").as("s"), count(lit(1)).as("c"))
      agg.collect()
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed join partition:\n${plan.take(2000)}")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("q_model_artifact_* serve the same values as their in-session " +
    "twins (modulo the model_rows provenance column)") {
    def dropLast(v: Vector[String]): Vector[String] =
      v.map(s => s.substring(0, s.lastIndexOf(',')) + "]")
    assert(dropLast(rows("q_model_artifact_bpe")) ===
      rows("q_bpe_fertility"),
      "BPE artifact serve drifted from the in-session fertility rollup")
    assert(dropLast(rows("q_model_artifact_nb")) === rows("q_nb_score"),
      "NB artifact serve drifted from the in-session score rollup")
    assert(dropLast(rows("q_model_artifact_wordpiece")) ===
      rows("q_wordpiece_encode"),
      "WordPiece artifact serve drifted from the in-session encode")
    assert(dropLast(rows("q_model_artifact_unigram")) ===
      rows("q_unigram_encode"),
      "unigram artifact serve drifted from the in-session encode")
    val km = SparkEntry.queries("q_kmeans_ivf")(spark, sf)
      .groupBy("cid").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val art = SparkEntry.queries("q_model_artifact_kmeans")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(art === km,
      "k-means artifact assignment drifted from the in-session one")
  }

  test("q_model_artifact_pq's histogram partitions the corpus: every " +
    "subspace accounts for every vector, codes stay in the codebook") {
    val rows = SparkEntry.queries("q_model_artifact_pq")(spark, sf)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nVecs = Tables.embeddings(spark, sf).count()
    assert(rows.map(_._1).distinct.sorted.toSeq === (0 until 8),
      "expected exactly 8 subspaces")
    rows.groupBy(_._1).foreach { case (sub, rs) =>
      assert(rs.map(_._3).sum === nVecs,
        s"subspace $sub does not partition the corpus")
    }
    assert(rows.forall(r => r._2 >= 0 && r._2 < 8),
      "a code fell outside the k=8 codebook")
    assert(rows.forall(_._4 === 512L),
      "model_rows must be the 8x64 codebook cardinality")
  }
}
