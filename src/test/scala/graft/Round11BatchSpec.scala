package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-11 batch: the cross-modal pair-alignment gate — planted
  * separation, population accounting, and the norm-preservation
  * property of the sign-perturbed twin.
  */
class Round11BatchSpec extends AnyFunSuite with SessionSuite {

  private val sf = "/root/testdata/sf0.001"

  test("q_crossmodal_gate: population covers every image asset with " +
    "an embedding, exactly one row per source") {
    val rows = SparkEntry.queries("q_crossmodal_gate")(spark, sf).collect()
    assert(rows.length === 20)
    assert(rows.map(_.getString(0)).distinct.length === 20)
    // image assets = doc_id % 3 == 0 over 500 docs/vecs → 167 pairs
    assert(rows.map(_.getLong(1)).sum === 167L)
    rows.foreach { r =>
      val (n, kept, ret, sw, swKept) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))
      assert(kept <= n && swKept <= sw && sw <= n)
      assert(ret === (if (n == 0) 0L else kept * 1000000L / n))
    }
  }

  test("q_crossmodal_gate separates the planted misaligned pairs: " +
    "aligned pairs overwhelmingly kept, swapped overwhelmingly cut") {
    val rows = SparkEntry.queries("q_crossmodal_gate")(spark, sf).collect()
    val n       = rows.map(_.getLong(1)).sum
    val kept    = rows.map(_.getLong(2)).sum
    val sw      = rows.map(_.getLong(4)).sum
    val swKept  = rows.map(_.getLong(5)).sum
    val aligned     = n - sw
    val alignedKept = kept - swKept
    // the md5 coin plants ~1/4 of pairs; both classes are populated
    assert(sw > 20L && aligned > 100L)
    // τ = 0.25 sits between the two cosine populations (~0.75 vs ~0):
    // ≥ 95% of aligned pairs survive, ≤ 10% of planted pairs leak
    assert(alignedKept * 100 >= aligned * 95,
      s"aligned retention $alignedKept/$aligned")
    assert(swKept * 10 <= sw, s"planted leak-through $swKept/$sw")
  }

  test("boundary semantics: the population covers every image asset " +
    "with a text embedding at BOTH sf0.001 AND sf0.1 — where the LAST " +
    "asset's swap coin fires past the corpus tail (doc 4998 → partner " +
    "5001, no embedding row) and the LEFT join keeps the pair as " +
    "misaligned-not-kept instead of dropping it (r11 ADVICE)") {
    import org.apache.spark.sql.functions._
    for (d <- Seq(sf, "/root/testdata/sf0.1")) {
      val expected = Tables.documents(spark, d)
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .join(Tables.embeddings(spark, d)
          .select(col("vec_id").as("doc_id")), Seq("doc_id"))
        .count()
      val rows = SparkEntry.queries("q_crossmodal_gate")(spark, d)
        .collect()
      assert(rows.map(_.getLong(1)).sum === expected,
        s"full image-asset population at $d")
    }
  }

  test("q_stream_crossmodal: the ingest-time gate lands the same " +
    "audit as the batch gate, row for row") {
    val batch = SparkEntry.queries("q_crossmodal_gate")(spark, sf)
      .collect().map(_.toSeq)
    val stream = SparkEntry.queries("q_stream_crossmodal")(spark, sf)
      .collect().map(_.toSeq)
    assert(stream.toSeq === batch.toSeq)
  }

  test("the sign-perturbed image twin preserves the exact quantized " +
    "norm (flips can't change magnitude)") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        transform(col("embedding"), x =>
          floor(x.cast("double") * lit(1000000.0) + lit(0.5)).cast("long"))
          .as("qv"))
      .withColumn("mask",
        md5(concat(lit("img|"), col("vec_id").cast("string"))))
      .withColumn("iqv", transform(col("qv"), (x, i) =>
        when(col("mask").substr(pmod(i, lit(32)) + 1, lit(1)) < "2", -x)
          .otherwise(x)))
      .select(
        graft.functions.GraftFunctions.dot_product_q(col("qv"), col("qv"))
          .as("nt"),
        graft.functions.GraftFunctions.dot_product_q(col("iqv"), col("iqv"))
          .as("ni"),
        graft.functions.GraftFunctions.dot_product_q(col("qv"), col("iqv"))
          .as("cross"))
      .collect()
    emb.foreach { r =>
      assert(r.getLong(0) === r.getLong(1), "norm must be flip-invariant")
      // and the twin is genuinely perturbed: cross < norm for ~all rows
      assert(r.getLong(2) <= r.getLong(0))
    }
    assert(emb.count(r => r.getLong(2) < r.getLong(0)) > emb.length / 2,
      "the mask actually flips dimensions")
  }
}
