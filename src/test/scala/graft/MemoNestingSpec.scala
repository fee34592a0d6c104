package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression pin for the r07 bench failure: the ANN artifact cache's
  * builds nest (ivfpq → pq → kmeans → quantized, each memoized), and
  * the original `ConcurrentHashMap.computeIfAbsent` implementation
  * threw IllegalStateException("Recursive update") whenever a nested
  * key hashed into the bin the outer call was holding — a
  * hash-layout coincidence that made the failure intermittent across
  * rounds. The fixed `memo` computes outside the map's lock, so
  * nesting is structurally safe; with 200 nested pairs the old
  * implementation throws with probability ≈ 1 − (15/16)^200 ≈ 1.
  */
class MemoNestingSpec extends AnyFunSuite with SessionSuite {

  override protected def cpus: Int = 2

  test("nested memo builds never throw and cache correctly") {
    val results = (0 until 200).map { i =>
      graft.ops.Similarity.memo(spark, s"/nesting/d$i", s"outer$i") {
        // an inner memoization on the same map, as the real artifact
        // builds do — must not deadlock or throw Recursive update
        val inner = graft.ops.Similarity.memo(spark, s"/nesting/d$i",
          s"inner$i")(java.lang.Long.valueOf(i.toLong * 2))
        java.lang.Long.valueOf(inner + 1)
      }
    }
    assert(results.zipWithIndex.forall { case (v, i) => v == i * 2 + 1 })
    // memoized: a second call returns the cached instance, not a rebuild
    var rebuilt = false
    val again = graft.ops.Similarity.memo(spark, "/nesting/d0", "outer0") {
      rebuilt = true
      java.lang.Long.valueOf(-1L)
    }
    assert(!rebuilt && again == 1L)
  }

  test("q_ann_ivfpq runs end-to-end on a fresh session (the failing shape)") {
    // the bench failure fired on the first sf run after warmup on a
    // different dataset dir — reproduce the two-dir usage pattern
    val r1 = SparkEntry.queries("q_ann_ivfpq")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(r1.nonEmpty)
    val r2 = SparkEntry.queries("q_ann_ivfpq")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(r2.map(_.toSeq).toSeq === r1.map(_.toSeq).toSeq)
  }
}
