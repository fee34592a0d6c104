package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-12 batch: the cluster-conditional mixture — quota arithmetic,
  * deterministic selection, and the tempered-distribution property —
  * replicated brute-force in Scala from the trained assignment.
  */
class Round12BatchSpec extends AnyFunSuite with SessionSuite {

  private val sf = "/root/testdata/sf0.001"

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  test("q_cluster_mix equals a brute-force Scala replication: " +
    "temperature quotas over the trained assignment, per-cluster " +
    "(md5, doc_id) rank selection") {
    val assign = SparkEntry.queries("q_kmeans_ivf")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), md5hex(r.getString(1))))
    val n = docs.length.toLong
    val byCluster = docs.groupBy(d => assign(d._1))
    val sq = byCluster.view.mapValues(ds =>
      math.floor(math.sqrt(ds.length.toDouble) * 1e6 + 0.5).toLong).toMap
    val tot = sq.values.sum
    val budget = n / 2
    val expected = byCluster.toSeq.flatMap { case (cid, ds) =>
      val quota = budget * sq(cid) / tot
      ds.toSeq.sortBy(d => (d._2, d._1)).zipWithIndex
        .filter(_._2 < quota)
        .map { case ((docId, _), rc) => (docId, cid, rc.toLong) }
    }.toSet
    val got = SparkEntry.queries("q_cluster_mix")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got === expected)
    // the pass genuinely rebalances: under budget, below the corpus
    assert(got.size <= budget && got.size < n)
    // tempered property: every down-sampled cluster's keep ratio
    // follows sqrt — a cluster at least 4x larger than another keeps
    // at most half its share relative to the smaller one
    val keeps = byCluster.map { case (cid, ds) =>
      val quota = budget * sq(cid) / tot
      (ds.length.toLong, math.min(quota, ds.length.toLong))
    }.toSeq
    for {
      (nL, kL) <- keeps; (nS, kS) <- keeps
      if nL >= 4 * nS && kL < nL && kS < nS
    } assert(kL * nS * 3 <= kS * nL * 2,
      s"keep ratio must fall ~1/sqrt(n): ($nL,$kL) vs ($nS,$kS)")
  }
}
