package graft.ops

import graft.{OracleSql, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (builder-brief
  * extension: ANN for a training-data pipeline).
  *
  * Cross-engine determinism: float dot products are order-sensitive, so
  * vectors are quantized to 1e-6 integer units (`floor(x*1e6 + 0.5)` —
  * floor, not round, because round() is HALF_UP in Spark but banker's
  * in DuckDB). Dots and norms are then exact BIGINT sums; only the final
  * cosine division happens in double, identically in both engines.
  *
  * Scale design (100 TB): brute-force KNN is a broadcast of the (small)
  * query set against a corpus scan — one pass, no corpus shuffle, per-
  * partition top-k via the window rank. The LSH variant buckets the
  * corpus by sign bits so each query probes 1/16th of the data; the
  * bucket id is a scan-pushable join key. IVF assignment broadcasts the
  * (tiny) centroid table against the corpus scan.
  */
object Similarity {

  /** Quantize a float vector to exact 1e-6 integer units. */
  private def qvec(v: Column): Column =
    transform(v, x => floor(x.cast("double") * lit(1000000.0) + lit(0.5)).cast("long"))

  private val qvecSql =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))"

  /** Exact integer dot product of two quantized vectors — the custom
    * codegen'd expression ([[graft.functions.DotProductQ]]): one fused
    * loop over the two arrays inside whole-stage codegen, vs the
    * higher-order `aggregate(zip_with(...))` form which allocates an
    * intermediate array and interprets two lambdas per element
    * (measured ~2× on the KNN scoring loop at sf0.1).
    */
  private def dotq(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.dot_product_q(a, b)

  /** DuckDB mirror of [[dotq]] via index lists (1-based like Spark). */
  private def dotqSql(a: String, b: String): String =
    s"CAST(list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])) AS BIGINT)"

  /** cosine from exact integer dot + norms; double math is identical
    * across engines because all inputs are exact.
    */
  private def cosine(dot: Column, na: Column, nb: Column): Column =
    dot.cast("double") / sqrt(na.cast("double") * nb.cast("double"))

  /** q_cosine_knn — brute-force exact top-5 cosine neighbors for query
    * vectors (vec_id < 8) against the rest of the corpus.
    */
  val qCosineKnn = Q(
    "q_cosine_knn",
    (s, d) => {
      val e = Tables
        .embeddings(s, d)
        .select(col("vec_id"), qvec(col("embedding")).as("qv"))
        .withColumn("nq", dotq(col("qv"), col("qv")))
      val queries = e
        .filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("qv").as("quv"), col("nq").as("qn"))
      val corpus = e.filter(col("vec_id") >= 8)
      val scored = corpus
        .join(broadcast(queries))
        .select(
          col("qid"),
          col("vec_id").as("neighbor_id"),
          cosine(dotq(col("quv"), col("qv")), col("qn"), col("nq")).as("cos_sim")
        )
      val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("neighbor_id").asc)
      scored
        .withColumn("nrank", row_number().over(w))
        .filter(col("nrank") <= 5)
        .select("qid", "nrank", "neighbor_id", "cos_sim")
        .orderBy("qid", "nrank")
    },
    Some(
      s"""WITH e AS (
         |  SELECT vec_id, $qvecSql AS qv FROM embeddings),
         |n AS (
         |  SELECT vec_id, qv, ${dotqSql("qv", "qv")} AS nq FROM e),
         |scored AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS neighbor_id,
         |    CAST(${dotqSql("q.qv", "c.qv")} AS DOUBLE)
         |      / sqrt(CAST(q.nq AS DOUBLE) * CAST(c.nq AS DOUBLE)) AS cos_sim
         |  FROM n q JOIN n c ON q.vec_id < 8 AND c.vec_id >= 8),
         |ranked AS (
         |  SELECT qid, neighbor_id, cos_sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id ASC) AS nrank
         |  FROM scored)
         |SELECT qid, CAST(nrank AS INT) AS nrank, neighbor_id, cos_sim
         |FROM ranked WHERE nrank <= 5 ORDER BY qid, nrank""".stripMargin
    ),
    bench = true
  )

  /** Sign-bit LSH bucket over the first 4 dimensions (16 buckets). */
  private def signBucket(v: Column): Column =
    concat((1 to 4).map(i =>
      when(element_at(v, i) > 0f, "1").otherwise("0")
    ): _*)

  private val signBucketSql = (1 to 4)
    .map(i => s"CASE WHEN embedding[$i] > 0 THEN '1' ELSE '0' END")
    .mkString(" || ")

  /** q_ann_lsh — approximate NN: probe only the query's sign-LSH bucket
    * (the 100 TB path: each query scans 1/16th of the corpus).
    */
  val qAnnLsh = Q(
    "q_ann_lsh",
    (s, d) => {
      val e = Tables
        .embeddings(s, d)
        .select(
          col("vec_id"),
          signBucket(col("embedding")).as("bucket"),
          qvec(col("embedding")).as("qv")
        )
        .withColumn("nq", dotq(col("qv"), col("qv")))
      val queries = e
        .filter(col("vec_id") < 8)
        .select(
          col("vec_id").as("qid"),
          col("bucket").as("qbucket"),
          col("qv").as("quv"),
          col("nq").as("qn")
        )
      val scored = e
        .filter(col("vec_id") >= 8)
        .join(broadcast(queries), col("bucket") === col("qbucket"))
        .select(
          col("qid"),
          col("bucket"),
          col("vec_id").as("neighbor_id"),
          cosine(dotq(col("quv"), col("qv")), col("qn"), col("nq")).as("cos_sim")
        )
      val w = Window.partitionBy("qid").orderBy(col("cos_sim").desc, col("neighbor_id").asc)
      scored
        .withColumn("nrank", row_number().over(w))
        .filter(col("nrank") <= 3)
        .select("qid", "bucket", "nrank", "neighbor_id", "cos_sim")
        .orderBy("qid", "nrank")
    },
    Some(
      s"""WITH e AS (
         |  SELECT vec_id, $signBucketSql AS bucket, $qvecSql AS qv
         |  FROM embeddings),
         |n AS (
         |  SELECT vec_id, bucket, qv, ${dotqSql("qv", "qv")} AS nq FROM e),
         |scored AS (
         |  SELECT q.vec_id AS qid, c.bucket AS bucket, c.vec_id AS neighbor_id,
         |    CAST(${dotqSql("q.qv", "c.qv")} AS DOUBLE)
         |      / sqrt(CAST(q.nq AS DOUBLE) * CAST(c.nq AS DOUBLE)) AS cos_sim
         |  FROM n q JOIN n c ON q.vec_id < 8 AND c.vec_id >= 8
         |    AND q.bucket = c.bucket),
         |ranked AS (
         |  SELECT qid, bucket, neighbor_id, cos_sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id ASC) AS nrank
         |  FROM scored)
         |SELECT qid, bucket, CAST(nrank AS INT) AS nrank, neighbor_id, cos_sim
         |FROM ranked WHERE nrank <= 3 ORDER BY qid, nrank""".stripMargin
    )
  )

  /** q_ivf_assign — IVF coarse assignment: per-label centroids (the
    * stand-in coarse quantizer), every vector assigned to its nearest
    * centroid by cosine. Centroids quantized to exact ints so the whole
    * computation stays cross-engine exact.
    */
  val qIvfAssign = Q(
    "q_ivf_assign",
    (s, d) => {
      val e = Tables
        .embeddings(s, d)
        .select(col("vec_id"), col("label"), qvec(col("embedding")).as("qv"))
      val pos = e.select(
        col("vec_id"),
        col("label"),
        posexplode(col("qv")).as(Seq("pos", "q"))
      )
      // per-label centroid, re-quantized to 1e-6 integer units
      val cent = pos
        .groupBy("label", "pos")
        .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
        .select(
          col("label").as("cid"),
          col("pos"),
          floor(col("sq").cast("double") / col("n") + lit(0.5)).cast("long").as("cq")
        )
      val nv = pos.groupBy("vec_id").agg(sum(col("q") * col("q")).as("nv"))
      val nc = cent.groupBy("cid").agg(sum(col("cq") * col("cq")).as("nc"))
      val dots = pos
        .join(broadcast(cent), Seq("pos"))
        .groupBy("vec_id", "label", "cid")
        .agg(sum(col("q") * col("cq")).as("dot"))
      val scored = dots
        .join(nv, Seq("vec_id"))
        .join(broadcast(nc), Seq("cid"))
        .select(
          col("vec_id"),
          col("label"),
          col("cid"),
          cosine(col("dot"), col("nv"), col("nc")).as("cos_sim")
        )
      val w = Window.partitionBy("vec_id").orderBy(col("cos_sim").desc, col("cid").asc)
      scored
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("label"), col("cid").as("assigned_cid"), col("cos_sim"))
        .orderBy("vec_id")
    },
    Some(
      s"""WITH e AS (
         |  SELECT vec_id, label, $qvecSql AS qv FROM embeddings),
         |pos AS (
         |  SELECT vec_id, label, CAST(i - 1 AS INT) AS pos, qv[i] AS q
         |  FROM e, LATERAL (SELECT unnest(range(1, len(qv) + 1)) AS i) r),
         |cent AS (
         |  SELECT label AS cid, pos,
         |    CAST(floor(CAST(sum(q) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS cq
         |  FROM pos GROUP BY label, pos),
         |nv AS (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS nv FROM pos GROUP BY vec_id),
         |nc AS (SELECT cid, CAST(sum(cq * cq) AS BIGINT) AS nc FROM cent GROUP BY cid),
         |dots AS (
         |  SELECT p.vec_id, p.label, c.cid, CAST(sum(p.q * c.cq) AS BIGINT) AS dot
         |  FROM pos p JOIN cent c ON p.pos = c.pos
         |  GROUP BY p.vec_id, p.label, c.cid),
         |scored AS (
         |  SELECT d.vec_id, d.label, d.cid,
         |    CAST(d.dot AS DOUBLE) / sqrt(CAST(nv.nv AS DOUBLE) * CAST(nc.nc AS DOUBLE)) AS cos_sim
         |  FROM dots d JOIN nv ON d.vec_id = nv.vec_id JOIN nc ON d.cid = nc.cid),
         |ranked AS (
         |  SELECT vec_id, label, cid, cos_sim,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cos_sim DESC, cid ASC) AS rn
         |  FROM scored)
         |SELECT vec_id, label, cid AS assigned_cid, cos_sim
         |FROM ranked WHERE rn = 1 ORDER BY vec_id""".stripMargin
    )
  )

  /** q_kmeans_ivf — a genuinely *trained* IVF coarse quantizer:
    * deterministic spherical k-means (k = 8, seeds = vectors 0..7,
    * 2 Lloyd iterations), entirely in exact integer arithmetic —
    * vectors and centroids live in 1e-6 integer units, dots and norms
    * are exact BIGINTs, only the cosine ranking runs in (deterministic)
    * double — so Spark and DuckDB train bit-identical centroids and
    * produce identical final assignments.
    *
    * Scale notes: each Lloyd iteration is one pos-join against the tiny
    * (k×dim) centroid table (broadcast) plus one partial-aggregated
    * groupBy; vectors are never collected. `localCheckpoint` bounds the
    * iterated lineage.
    */
  import org.apache.spark.sql.DataFrame

  /** Session-scoped cache for trained/derived ANN artifacts, keyed by
    * (session, dataset dir, artifact name). Training is fully
    * deterministic, so a memoized artifact is value-identical to a
    * freshly trained one — the cache only removes the repeated
    * k-means / PQ-codebook training cost when several registry queries
    * (or repeated bench invocations) share one session, exactly the
    * way a production ANN pipeline trains once and serves many
    * probes. Every cached DataFrame is eagerly localCheckpoint'ed, so
    * the cache holds pinned partitions, not lazy plans that would
    * re-execute.
    */
  private val artifacts = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), AnyRef]()

  /** NOT computeIfAbsent: artifact builds NEST (ivfpq → pq → kmeans →
    * quantized all memoize), and a nested computeIfAbsent on the same
    * map throws IllegalStateException("Recursive update") whenever the
    * inner key lands in the bin the outer call holds — a hash-layout
    * coincidence (keys include the session object), so it surfaced as
    * a once-in-several-rounds bench failure (r07) rather than a
    * reproducible one. Building OUTSIDE the map's lock makes nesting
    * structurally safe; the worst case is a duplicate concurrent build
    * of a value-identical (deterministic) artifact, settled by
    * putIfAbsent. MemoNestingSpec pins the regression.
    */
  /** Whether a memoized artifact exists for (session, dataset, key) —
    * a test hook: ModelStoreSpec uses it to prove a cold session
    * served a persisted model WITHOUT retraining (the training memo
    * key must stay absent through the serve).
    */
  private[graft] def memoContains(s: SparkSession, d: String,
      key: String): Boolean = artifacts.containsKey((s, d, key))

  private[graft] def memo[T <: AnyRef](s: SparkSession, d: String,
      key: String)(build: => T): T = {
    val k = (s, d, key)
    val cached = artifacts.get(k)
    if (cached != null) cached.asInstanceOf[T]
    else {
      val v = build
      val prev = artifacts.putIfAbsent(k, v)
      (if (prev != null) prev else v).asInstanceOf[T]
    }
  }

  /** Pos-exploded quantized vectors (vec_id, pos, q) + exact norms. */
  private[ops] def quantized(s: SparkSession, d: String): (DataFrame, DataFrame) =
    memo(s, d, "quantized") {
      val e = Tables
        .embeddings(s, d)
        .select(col("vec_id"), qvec(col("embedding")).as("qv"))
      val v = e
        .select(col("vec_id"), posexplode(col("qv")).as(Seq("pos", "q")))
        .localCheckpoint()
      val nv = v.groupBy("vec_id").agg(sum(col("q") * col("q")).as("nv"))
        .localCheckpoint()
      (v, nv)
    }

  /** Nearest-centroid assignment by cosine (tie → smaller cid). */
  /** Per-vector centroid ranking (vec_id, cid, rn) — rn=1 is the
    * assignment; rn<=nprobe drives multi-probe search.
    */
  private def rankedCentroids(
      v: DataFrame, nv: DataFrame, cent: DataFrame): DataFrame = {
    val nc = cent.groupBy("cid").agg(sum(col("cq") * col("cq")).as("nc"))
    val dots = v
      .join(broadcast(cent), Seq("pos"))
      .groupBy("vec_id", "cid")
      .agg(sum(col("q") * col("cq")).as("dot"))
    val scored = dots
      .join(nv, Seq("vec_id"))
      .join(broadcast(nc), Seq("cid"))
      .select(col("vec_id"), col("cid"),
        cosine(col("dot"), col("nv"), col("nc")).as("cos_sim"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cos_sim").desc, col("cid").asc)
    scored.withColumn("rn", row_number().over(w))
  }

  private[ops] def assignToCentroids(
      v: DataFrame, nv: DataFrame, cent: DataFrame): DataFrame =
    rankedCentroids(v, nv, cent)
      .filter(col("rn") === 1)
      .select("vec_id", "cid")

  /** 2 Lloyd iterations from seeds 0..7; exact integer centroids.
    * Memoized per (session, dataset): the trained coarse quantizer is
    * shared by IVF search/probe2/assign, SemDeDup, IVF-PQ, and the
    * recall harness instead of retraining per query.
    */
  private[ops] def trainKmeans(s: SparkSession, d: String): DataFrame =
    memo(s, d, "kmeans-k8-i2") {
      val (v, nv) = quantized(s, d)
      var cent = v
        .filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("pos"), col("q").as("cq"))
        .localCheckpoint()
      for (_ <- 0 until 2) {
        val a = assignToCentroids(v, nv, cent)
        val means = a
          .join(v, Seq("vec_id"))
          .groupBy(col("cid"), col("pos"))
          .agg(floor(sum(col("q")).cast("double") / count(lit(1)) + lit(0.5))
            .cast("long").as("mq"))
        // empty clusters keep their previous centroid
        cent = cent
          .join(means, Seq("cid", "pos"), "left_outer")
          .select(col("cid"), col("pos"),
            coalesce(col("mq"), col("cq")).as("cq"))
          .localCheckpoint()
      }
      cent
    }

  /** The trained assignment (vec_id, cid), memoized and pinned per
    * (session, dataset) so the seven consumers (IVF search/probes/
    * assign/drift/layout, SemDeDup, the cluster mixture) share ONE
    * assignment pass per session instead of re-deriving it from the
    * memoized centroids each.
    */
  private def kmeansAssign(s: SparkSession, d: String): DataFrame =
    memo(s, d, "kmeans-assign") {
      val (v, nv) = quantized(s, d)
      assignToCentroids(v, nv, trainKmeans(s, d)).localCheckpoint()
    }

  /** Shared CTE prelude: quantized vectors, norms, and the unrolled
    * k-means iterations through the final assignment `assign2`.
    */
  private[ops] val kmeansCtes: String = {
    def iter(x: Int): String =
      s"""dot$x AS (
         |  SELECT v.vec_id, c.cid, CAST(sum(v.q * c.cq) AS BIGINT) AS dot
         |  FROM v JOIN c$x c ON v.pos = c.pos GROUP BY 1, 2),
         |nc$x AS (SELECT cid, CAST(sum(cq * cq) AS BIGINT) AS nc FROM c$x GROUP BY cid),
         |scored$x AS (
         |  SELECT d.vec_id, d.cid,
         |    CAST(d.dot AS DOUBLE) / sqrt(CAST(nv.nv AS DOUBLE) * CAST(nc.nc AS DOUBLE)) AS cos
         |  FROM dot$x d JOIN nv ON d.vec_id = nv.vec_id JOIN nc$x nc ON d.cid = nc.cid),
         |assign$x AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
         |    FROM scored$x) t WHERE rn = 1),
         |c${x + 1} AS (
         |  SELECT c.cid, c.pos, COALESCE(m.mq, c.cq) AS cq
         |  FROM c$x c LEFT JOIN (
         |    SELECT a.cid, v.pos,
         |      CAST(floor(CAST(sum(v.q) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS mq
         |    FROM assign$x a JOIN v ON a.vec_id = v.vec_id
         |    GROUP BY 1, 2) m ON c.cid = m.cid AND c.pos = m.pos)""".stripMargin
    s"""WITH e AS (
       |  SELECT vec_id, $qvecSql AS qv FROM embeddings),
       |v AS (
       |  SELECT vec_id, CAST(i - 1 AS INT) AS pos, qv[i] AS q
       |  FROM e, LATERAL (SELECT unnest(range(1, len(qv) + 1)) AS i) r),
       |nv AS (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS nv FROM v GROUP BY vec_id),
       |c0 AS (SELECT vec_id AS cid, pos, q AS cq FROM v WHERE vec_id < 8),
       |${iter(0)},
       |${iter(1)},
       |${iter(2).split("\nc3 AS")(0).trim.stripSuffix(",")}""".stripMargin
  }

  val qKmeansIvf = Q(
    "q_kmeans_ivf",
    (s, d) => kmeansAssign(s, d).orderBy("vec_id"),
    Some(s"$kmeansCtes\nSELECT vec_id, cid FROM assign2 ORDER BY vec_id")
  )

  /** q_ivf_search — the full IVF ANN path: train the coarse quantizer
    * (k-means above), assign the corpus to inverted lists, then each
    * query (vec_id < 8) probes ONLY its own centroid's list and ranks
    * candidates by exact cosine — the probe-1 search that reads 1/k of
    * the corpus per query at 100 TB.
    */
  val qIvfSearch = Q(
    "q_ivf_search",
    (s, d) => {
      val (v, nv) = quantized(s, d)
      val a  = kmeansAssign(s, d)
      val qa = a.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("cid"))
      val ca = a.filter(col("vec_id") >= 8)
      val cand = qa.join(ca, Seq("cid"))
        .select(col("qid"), col("vec_id").as("nid"))
      val dots = cand
        .join(v.as("vq"), col("qid") === col("vq.vec_id"))
        .join(v.as("vc"),
          col("nid") === col("vc.vec_id") && col("vq.pos") === col("vc.pos"))
        .groupBy("qid", "nid")
        .agg(sum(col("vq.q") * col("vc.q")).as("dot"))
      val scored = dots
        .join(nv.as("nq"), col("qid") === col("nq.vec_id"))
        .join(nv.as("nn"), col("nid") === col("nn.vec_id"))
        .select(col("qid"), col("nid").as("neighbor_id"),
          cosine(col("dot"), col("nq.nv"), col("nn.nv")).as("cos_sim"))
      val w = Window.partitionBy("qid")
        .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
      scored
        .withColumn("nrank", row_number().over(w))
        .filter(col("nrank") <= 3)
        .select("qid", "nrank", "neighbor_id", "cos_sim")
        .orderBy("qid", "nrank")
    },
    Some(
      s"""$kmeansCtes,
         |qa AS (SELECT vec_id AS qid, cid FROM assign2 WHERE vec_id < 8),
         |ca AS (SELECT vec_id AS nid, cid FROM assign2 WHERE vec_id >= 8),
         |cand AS (SELECT q.qid, c.nid FROM qa q JOIN ca c ON q.cid = c.cid),
         |pdots AS (
         |  SELECT cd.qid, cd.nid, CAST(sum(vq.q * vc.q) AS BIGINT) AS dot
         |  FROM cand cd
         |  JOIN v vq ON vq.vec_id = cd.qid
         |  JOIN v vc ON vc.vec_id = cd.nid AND vc.pos = vq.pos
         |  GROUP BY 1, 2),
         |pscored AS (
         |  SELECT d.qid, d.nid AS neighbor_id,
         |    CAST(d.dot AS DOUBLE) / sqrt(CAST(nq.nv AS DOUBLE) * CAST(nn.nv AS DOUBLE)) AS cos_sim
         |  FROM pdots d
         |  JOIN nv nq ON nq.vec_id = d.qid
         |  JOIN nv nn ON nn.vec_id = d.nid),
         |pranked AS (
         |  SELECT qid, neighbor_id, cos_sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id ASC) AS nrank
         |  FROM pscored)
         |SELECT qid, CAST(nrank AS INT) AS nrank, neighbor_id, cos_sim
         |FROM pranked WHERE nrank <= 3 ORDER BY qid, nrank""".stripMargin
    )
  )

  /** Multi-probe IVF search at a given `nprobe`: each query probes its
    * `nprobe` nearest centroids' inverted lists — the standard
    * recall/latency knob (a query near a Voronoi boundary recovers
    * neighbors assigned to adjacent cells, reading nprobe/k of the
    * corpus instead of 1/k). Probed lists are disjoint (corpus
    * assignment is unique), so candidates need no dedup. Parametrized
    * so [[qIvfSearchProbe2]]/[[qIvfSearchProbe4]] and the
    * [[qAnnRecall]] nprobe ladder all measure the SAME shipped path.
    */
  private def ivfSearchProbeN(s: SparkSession, d: String,
      nprobe: Int): DataFrame = {
    val (v, nv) = quantized(s, d)
    val ranked = rankedCentroids(v, nv, trainKmeans(s, d)).localCheckpoint()
    val qa = ranked.filter(col("vec_id") < 8 && col("rn") <= nprobe)
      .select(col("vec_id").as("qid"), col("cid"))
    val ca = ranked.filter(col("vec_id") >= 8 && col("rn") === 1)
      .select(col("vec_id"), col("cid"))
    val cand = qa.join(ca, Seq("cid"))
      .select(col("qid"), col("vec_id").as("nid"))
    val dots = cand
      .join(v.as("vq"), col("qid") === col("vq.vec_id"))
      .join(v.as("vc"),
        col("nid") === col("vc.vec_id") && col("vq.pos") === col("vc.pos"))
      .groupBy("qid", "nid")
      .agg(sum(col("vq.q") * col("vc.q")).as("dot"))
    val scored = dots
      .join(nv.as("nq"), col("qid") === col("nq.vec_id"))
      .join(nv.as("nn"), col("nid") === col("nn.vec_id"))
      .select(col("qid"), col("nid").as("neighbor_id"),
        cosine(col("dot"), col("nq.nv"), col("nn.nv")).as("cos_sim"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored
      .withColumn("nrank", row_number().over(w))
      .filter(col("nrank") <= 3)
      .select("qid", "nrank", "neighbor_id", "cos_sim")
      .orderBy("qid", "nrank")
  }

  private def ivfSearchProbeNSql(nprobe: Int): String =
    s"""$kmeansCtes,
       |qrank AS (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid ASC) AS rn
       |  FROM scored2 WHERE vec_id < 8),
       |qa AS (SELECT vec_id AS qid, cid FROM qrank WHERE rn <= $nprobe),
       |ca AS (SELECT vec_id AS nid, cid FROM assign2 WHERE vec_id >= 8),
       |cand AS (SELECT q.qid, c.nid FROM qa q JOIN ca c ON q.cid = c.cid),
       |pdots AS (
       |  SELECT cd.qid, cd.nid, CAST(sum(vq.q * vc.q) AS BIGINT) AS dot
       |  FROM cand cd
       |  JOIN v vq ON vq.vec_id = cd.qid
       |  JOIN v vc ON vc.vec_id = cd.nid AND vc.pos = vq.pos
       |  GROUP BY 1, 2),
       |pscored AS (
       |  SELECT d.qid, d.nid AS neighbor_id,
       |    CAST(d.dot AS DOUBLE) / sqrt(CAST(nq.nv AS DOUBLE) * CAST(nn.nv AS DOUBLE)) AS cos_sim
       |  FROM pdots d
       |  JOIN nv nq ON nq.vec_id = d.qid
       |  JOIN nv nn ON nn.vec_id = d.nid),
       |pranked AS (
       |  SELECT qid, neighbor_id, cos_sim,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id ASC) AS nrank
       |  FROM pscored)
       |SELECT qid, CAST(nrank AS INT) AS nrank, neighbor_id, cos_sim
       |FROM pranked WHERE nrank <= 3 ORDER BY qid, nrank""".stripMargin

  /** q_ivf_search_probe2 — the nprobe=2 rung of [[ivfSearchProbeN]]. */
  val qIvfSearchProbe2 = Q(
    "q_ivf_search_probe2",
    (s, d) => ivfSearchProbeN(s, d, 2),
    Some(ivfSearchProbeNSql(2))
  )

  /** q_ivf_search_probe4 — the nprobe=4 rung of [[ivfSearchProbeN]]:
    * reads 4/16 of the corpus per query, the last step of the
    * recall-vs-fraction-read ladder [[qAnnRecall]] measures.
    */
  val qIvfSearchProbe4 = Q(
    "q_ivf_search_probe4",
    (s, d) => ivfSearchProbeN(s, d, 4),
    Some(ivfSearchProbeNSql(4))
  )

  /** q_dedup_embedding — embedding-cosine near-duplicate pairs (the
    * semantic-dedup method): vector pairs above a cosine threshold.
    * Candidate generation is the sign-LSH bucket (each vector compares
    * only within its bucket — the scale path); scores are exact-integer
    * cosine. On random fixtures few pairs clear the threshold; the
    * semantics, not the hit count, are the contract.
    */
  val qDedupEmbedding = Q(
    "q_dedup_embedding",
    (s, d) => {
      val e = Tables
        .embeddings(s, d)
        .select(
          col("vec_id"),
          signBucket(col("embedding")).as("bucket"),
          qvec(col("embedding")).as("qv"))
        .withColumn("nq", dotq(col("qv"), col("qv")))
      val pairs = e
        .as("a")
        .join(e.as("b"),
          col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(
          col("a.vec_id").as("id_a"),
          col("b.vec_id").as("id_b"),
          cosine(dotq(col("a.qv"), col("b.qv")), col("a.nq"), col("b.nq"))
            .as("cos_sim"))
      pairs.filter(col("cos_sim") >= 0.25).orderBy("id_a", "id_b")
    },
    Some(
      s"""WITH e AS (
         |  SELECT vec_id, $signBucketSql AS bucket, $qvecSql AS qv
         |  FROM embeddings),
         |n AS (SELECT vec_id, bucket, qv, ${dotqSql("qv", "qv")} AS nq FROM e),
         |pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    CAST(${dotqSql("a.qv", "b.qv")} AS DOUBLE)
         |      / sqrt(CAST(a.nq AS DOUBLE) * CAST(b.nq AS DOUBLE)) AS cos_sim
         |  FROM n a JOIN n b
         |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT id_a, id_b, cos_sim FROM pairs
         |WHERE cos_sim >= 0.25 ORDER BY id_a, id_b""".stripMargin
    )
  )

  /** q_semdedup — SemDeDup (Abbas et al., 2023): semantic deduplication
    * bounded by the trained coarse clustering. The corpus is assigned to
    * the k-means centroids ([[qKmeansIvf]] — same trained quantizer,
    * bit-identical in both engines), pairwise exact-integer cosine is
    * computed ONLY within a cluster, and of any pair above the
    * threshold the larger vec_id is dropped — the deterministic
    * analog of the paper's keep-one-representative rule. Output is the
    * full per-vector decision (vec_id, cluster, kept).
    *
    * 100 TB shape: candidate pairs never cross clusters, so the only
    * shuffle of vector codes is the cid equi-join; k scales with the
    * corpus (the paper uses k ≈ n/5000), keeping per-cluster pair
    * counts bounded — this is what separates SemDeDup from the
    * quadratic all-pairs it replaces. Scoring reuses the codegen'd
    * [[graft.functions.DotProductQ]] fused loop. The threshold compare
    * runs on doubles computed identically in both engines from exact
    * BIGINT dots/norms (same contract as [[qDedupEmbedding]]).
    */
  val qSemDedup = Q(
    "q_semdedup",
    (s, d) => {
      val assign = kmeansAssign(s, d)
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), qvec(col("embedding")).as("qv"))
        .withColumn("nq", dotq(col("qv"), col("qv")))
        .join(assign, Seq("vec_id"))
      val dropped = e.as("a")
        .join(e.as("b"),
          col("a.cid") === col("b.cid") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("b.vec_id").as("vec_id"),
          cosine(dotq(col("a.qv"), col("b.qv")), col("a.nq"), col("b.nq"))
            .as("cos_sim"))
        .filter(col("cos_sim") >= 0.25)
        .select("vec_id").distinct()
        .withColumn("hit", lit(true))
      assign
        .join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cid"),
          coalesce(!col("hit"), lit(true)).as("kept"))
        .orderBy("vec_id")
    },
    Some(
      s"""$kmeansCtes,
         |eq AS (SELECT vec_id, $qvecSql AS qv FROM embeddings),
         |en AS (SELECT vec_id, qv, ${dotqSql("qv", "qv")} AS nq FROM eq),
         |m AS (
         |  SELECT e.vec_id, e.qv, e.nq, a.cid
         |  FROM en e JOIN assign2 a ON e.vec_id = a.vec_id),
         |dropped AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM m a JOIN m b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE CAST(${dotqSql("a.qv", "b.qv")} AS DOUBLE)
         |    / sqrt(CAST(a.nq AS DOUBLE) * CAST(b.nq AS DOUBLE)) >= 0.25)
         |SELECT a.vec_id, a.cid, (d.vec_id IS NULL) AS kept
         |FROM assign2 a LEFT JOIN dropped d ON a.vec_id = d.vec_id
         |ORDER BY a.vec_id""".stripMargin
    )
  )

  /** q_semdedup_incr — batch-incremental SemDeDup: the embedding-path
    * twin of [[Dedup]]'s incremental exact/MinHash story. An INCOMING
    * batch (here: the trailing fifth of vec_ids, boundary
    * T = ⌊4/5·max vec_id⌋ — a deterministic stand-in for "the new
    * crawl snapshot") is assigned to the ALREADY-TRAINED k-means
    * clusters (the frozen coarse quantizer —
    * [[ModelStore.qModelArtifactKmeans]] is the artifact a real
    * pipeline would load here) and compared
    * in-cluster against every earlier vector; batch vectors with an
    * earlier near-neighbor (cos ≥ τ) are dropped. Output is the
    * per-BATCH-vector decision (vec_id, cid, kept).
    *
    * Rule choice, stated: kept(b) = no earlier same-cluster vector —
    * kept or dropped — has cos ≥ τ, exactly [[qSemDedup]]'s
    * determinization of the paper's keep-one-representative rule.
    * That makes batch-incremental ≡ whole-corpus-recompute restricted
    * to the batch BY CONSTRUCTION (spec-pinned, Round13BatchSpec): a
    * vector's decision depends only on earlier vectors, never on
    * later arrivals. The alternative — comparing against standing
    * SURVIVORS only — is the chain rule (a doc near only a DROPPED
    * doc stays); it loses recompute-equivalence and is not what
    * qSemDedup computes, so it is deliberately not used.
    *
    * 100 TB shape: the pair join's probe side is BATCH-ONLY (its
    * vec_id > T filter pushes to the scan), so the round costs
    * O(Σ_c |cluster_c| · |batch ∩ cluster_c|) instead of re-running
    * the standing corpus' all-pairs; embedding codes shuffle keyed on
    * cid only (plan-asserted); the trained quantizer is frozen —
    * assignment of the batch is one broadcast-centroid pass, the
    * standing corpus' assignments come from the persisted/memoized
    * table. k scales with the corpus (SemDeDup uses k ≈ n/5000), so
    * per-cluster batch×standing products stay bounded.
    */
  val qSemDedupIncr = Q(
    "q_semdedup_incr",
    (s, d) => {
      val assign = kmeansAssign(s, d)
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), qvec(col("embedding")).as("qv"))
        .withColumn("nq", dotq(col("qv"), col("qv")))
        .join(assign, Seq("vec_id"))
      val t = Tables.embeddings(s, d)
        .agg(expr("max(vec_id) * 4 div 5").as("t"))
        .collect()(0).getLong(0) // 1-row scalar — the batch boundary
      val batch = e.filter(col("vec_id") > t)
      val dropped = e.as("a")
        .join(batch.as("b"),
          col("a.cid") === col("b.cid") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("b.vec_id").as("vec_id"),
          cosine(dotq(col("a.qv"), col("b.qv")), col("a.nq"),
            col("b.nq")).as("cos_sim"))
        .filter(col("cos_sim") >= 0.25)
        .select("vec_id").distinct()
        .withColumn("hit", lit(true))
      assign.filter(col("vec_id") > t)
        .join(dropped, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cid"),
          coalesce(!col("hit"), lit(true)).as("kept"))
        .orderBy("vec_id")
    },
    Some(
      s"""$kmeansCtes,
         |eq AS (SELECT vec_id, $qvecSql AS qv FROM embeddings),
         |en AS (SELECT vec_id, qv, ${dotqSql("qv", "qv")} AS nq FROM eq),
         |mm AS (
         |  SELECT e.vec_id, e.qv, e.nq, a.cid
         |  FROM en e JOIN assign2 a ON e.vec_id = a.vec_id),
         |bt AS (SELECT max(vec_id) * 4 // 5 AS t FROM embeddings),
         |idropped AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM mm a JOIN mm b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE b.vec_id > (SELECT t FROM bt)
         |    AND CAST(${dotqSql("a.qv", "b.qv")} AS DOUBLE)
         |      / sqrt(CAST(a.nq AS DOUBLE) * CAST(b.nq AS DOUBLE)) >= 0.25)
         |SELECT a.vec_id, a.cid, (d.vec_id IS NULL) AS kept
         |FROM assign2 a LEFT JOIN idropped d ON a.vec_id = d.vec_id
         |WHERE a.vec_id > (SELECT t FROM bt)
         |ORDER BY a.vec_id""".stripMargin
    )
  )

  /** q_ann_sq8 — scalar-quantized (SQ8) ANN, the memory-compression
    * path of a vector index: every dimension is linearly quantized to
    * an 8-bit code against the corpus' per-dimension min/max, candidate
    * generation scores the 1-byte codes (integer dot — 4× smaller than
    * float32, 24× smaller than the 1e-6 BIGINT form), and only the
    * top-10 candidates per query are re-ranked with the exact quantized
    * cosine. Output: exact-reranked top-3 with the approx score that
    * found them.
    *
    * 100 TB shape: dimension stats are one tiny aggregate (O(dims)
    * rows) broadcast back over the corpus scan; code vectors are what a
    * real SQ8 index materializes in RAM — at 1 byte/dim a 768-dim
    * embedding costs 768 bytes instead of 3 KB float32, so a corpus
    * that would not fit in cluster memory as floats serves ANN from
    * codes, with the exact vectors only touched for the candidate set
    * (here: 10 per query, not 500).
    *
    * Candidate scoring DEQUANTIZES in exact integers: a raw code dot
    * would drop each dimension's affine offset and scale (measured
    * recall@3 collapsed to 1/24); instead each code is expanded to
    * e = 255·mnq + c·Δq (mnq, Δq = the dimension's min and span in
    * 1e-6 integer units), so Σ e_q·e_c is exactly 255²·⟨x̂_q, x̂_c⟩ of
    * the dequantized vectors — the FAISS-style ADC score — while
    * remaining an exact BIGINT (|e| ≤ ~2.6e8 at unit-scale inputs →
    * the 64-dim sum is far inside int64).
    *
    * Cross-engine exactness: min/max of exact doubles; the quantizer
    * `floor((x-mn)/(mx-mn)*255 + 0.5)` is IEEE ops on identical inputs
    * → identical codes; dequantized dots are exact BIGINT sums; the
    * rerank is the established exact-integer cosine.
    */
  val qAnnSq8 = Q(
    "q_ann_sq8",
    (s, d) => {
      val ex = Tables.embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos"),
          col("col").cast("double").as("x"))
      val dims = ex.groupBy("pos")
        .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
        .select(col("pos"), col("mn"), col("mx"),
          floor(col("mn") * 1e6 + 0.5).cast("long").as("mnq"),
          floor((col("mx") - col("mn")) * 1e6 + 0.5).cast("long").as("dq"))
      // one dims join computes the code AND its dequantized integer
      // component e = 255*mnq + c*dq (mirrors the oracle's single CTE)
      val codesE = ex.join(broadcast(dims), "pos")
        .select(col("vec_id"), col("pos"),
          (lit(255L) * col("mnq") +
            when(col("mx") > col("mn"),
              floor((col("x") - col("mn")) / (col("mx") - col("mn"))
                * lit(255.0) + lit(0.5)).cast("long"))
              .otherwise(lit(0L)) * col("dq")).as("e"))
      val qCodes = codesE.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("pos"), col("e").as("qe"))
      val adot = codesE.filter(col("vec_id") >= 8)
        .join(broadcast(qCodes), "pos")
        .groupBy(col("qid"), col("vec_id").as("neighbor_id"))
        .agg(sum(col("qe") * col("e")).as("adot"))
      val wA = Window.partitionBy("qid")
        .orderBy(col("adot").desc, col("neighbor_id").asc)
      val cand = adot.withColumn("arank", row_number().over(wA))
        .filter(col("arank") <= 10)
        .select("qid", "neighbor_id", "adot")
      // exact rerank of the candidate set only
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), qvec(col("embedding")).as("qv"))
        .withColumn("nq", dotq(col("qv"), col("qv")))
      val rer = cand
        .join(e.select(col("vec_id").as("qid"), col("qv").as("quv"),
          col("nq").as("qn")), "qid")
        .join(e.select(col("vec_id").as("neighbor_id"), col("qv"),
          col("nq")), "neighbor_id")
        .select(col("qid"), col("neighbor_id"), col("adot"),
          cosine(dotq(col("quv"), col("qv")), col("qn"), col("nq"))
            .as("cos_sim"))
      val w = Window.partitionBy("qid")
        .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
      rer.withColumn("nrank", row_number().over(w))
        .filter(col("nrank") <= 3)
        .select("qid", "nrank", "neighbor_id", "adot", "cos_sim")
        .orderBy("qid", "nrank")
    },
    Some(
      s"""WITH ex AS (
         |  SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS x
         |  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) u(i)),
         |dims AS (
         |  SELECT pos, min(x) AS mn, max(x) AS mx,
         |    CAST(floor(min(x) * 1e6 + 0.5e0) AS BIGINT) AS mnq,
         |    CAST(floor((max(x) - min(x)) * 1e6 + 0.5e0) AS BIGINT) AS dq
         |  FROM ex GROUP BY pos),
         |codes AS (
         |  SELECT vec_id, ex.pos AS pos,
         |    255 * mnq + (CASE WHEN mx > mn THEN
         |      CAST(floor((x - mn) / (mx - mn) * 255.0e0 + 0.5e0) AS BIGINT)
         |    ELSE 0 END) * dq AS e
         |  FROM ex JOIN dims ON ex.pos = dims.pos),
         |adot AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS neighbor_id,
         |    CAST(sum(q.e * c.e) AS BIGINT) AS adot
         |  FROM codes q JOIN codes c
         |    ON q.pos = c.pos AND q.vec_id < 8 AND c.vec_id >= 8
         |  GROUP BY 1, 2),
         |cand AS (
         |  SELECT qid, neighbor_id, adot,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY adot DESC, neighbor_id ASC) AS arank
         |  FROM adot),
         |n AS (
         |  SELECT vec_id, qv, ${dotqSql("qv", "qv")} AS nq
         |  FROM (SELECT vec_id, $qvecSql AS qv FROM embeddings)),
         |rer AS (
         |  SELECT cand.qid, cand.neighbor_id, cand.adot,
         |    CAST(${dotqSql("q.qv", "c.qv")} AS DOUBLE)
         |      / sqrt(CAST(q.nq AS DOUBLE) * CAST(c.nq AS DOUBLE)) AS cos_sim
         |  FROM cand JOIN n q ON q.vec_id = cand.qid
         |    JOIN n c ON c.vec_id = cand.neighbor_id
         |  WHERE cand.arank <= 10),
         |ranked AS (
         |  SELECT qid, neighbor_id, adot, cos_sim,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY cos_sim DESC, neighbor_id ASC) AS nrank
         |  FROM rer)
         |SELECT qid, CAST(nrank AS INT) AS nrank, neighbor_id, adot, cos_sim
         |FROM ranked WHERE nrank <= 3 ORDER BY qid, nrank""".stripMargin
    )
  )

  /** q_ann_pq — product quantization (Jégou et al., TPAMI 2011), the
    * codebook-compression path real vector indexes (FAISS IVF-PQ) use:
    * the 64-dim space is split into m=8 subspaces of 8 dims; each
    * subspace trains its own k=8 codebook (deterministic k-means: seed
    * centroids = vectors 0..7's subvectors, one exact-integer Lloyd
    * step); every vector is encoded as 8 one-byte codes (3 bits used).
    * Search is asymmetric distance computation (ADC): per query, one
    * m×k lookup table of exact subspace dots against the codebooks;
    * a corpus vector's approximate score is the sum of 8 table
    * lookups keyed by its codes — no float math against the corpus at
    * all. Top-10 ADC candidates are re-ranked with the exact quantized
    * cosine; top-3 emitted.
    *
    * 100 TB shape: codebooks are m×k×(dims/m) = one tiny broadcast;
    * encoded corpus is 8 bytes/vector (384× smaller than float32×64);
    * ADC scoring shuffles only (sub, code) joins against a 64-row
    * broadcast table, partial-aggregated; exact vectors are touched
    * only for the 10-per-query candidate set.
    *
    * Cross-engine exactness: subspace assignment minimizes the exact
    * BIGINT L2 form nx + nc − 2·dot (ties → smaller cid); Lloyd means
    * round via floor(x+0.5); ADC sums are exact BIGINTs; rerank is the
    * established exact-integer cosine.
    */
  /** The shared PQ oracle prelude: quantized subspace view (e, v,
    * nx), seed codebook c0, its assignment a0, the one-Lloyd-step
    * codebook c1, and the final corpus encoding `codes` — the exact
    * mirror of [[pqTrain]], reused by q_ann_pq and the [[ModelStore]]
    * PQ round trip.
    */
  private[ops] val pqOracleCtes: String = {
    def encodeSql(cn: String, out: String): String =
      s"""nc_$out AS (
         |  SELECT sub, cid, CAST(sum(cq * cq) AS BIGINT) AS nc
         |  FROM $cn GROUP BY 1, 2),
         |dot_$out AS (
         |  SELECT v.vec_id, v.sub, c.cid, CAST(sum(v.q * c.cq) AS BIGINT) AS dot
         |  FROM v JOIN $cn c ON v.pos = c.pos GROUP BY 1, 2, 3),
         |$out AS (
         |  SELECT vec_id, sub, cid AS code FROM (
         |    SELECT d.vec_id, d.sub, d.cid,
         |      row_number() OVER (PARTITION BY d.vec_id, d.sub
         |        ORDER BY nx.nx + nc.nc - 2 * d.dot ASC, d.cid ASC) AS rn
         |    FROM dot_$out d
         |    JOIN nx ON d.vec_id = nx.vec_id AND d.sub = nx.sub
         |    JOIN nc_$out nc ON d.sub = nc.sub AND d.cid = nc.cid) t
         |  WHERE rn = 1)""".stripMargin
    s"""WITH e AS (
       |  SELECT vec_id, $qvecSql AS qv FROM embeddings),
       |v AS (
       |  SELECT vec_id, CAST(i - 1 AS INT) AS pos,
       |    CAST((i - 1) // 8 AS INT) AS sub, qv[i] AS q
       |  FROM e, LATERAL (SELECT unnest(range(1, len(qv) + 1)) AS i) r),
       |nx AS (
       |  SELECT vec_id, sub, CAST(sum(q * q) AS BIGINT) AS nx
       |  FROM v GROUP BY 1, 2),
       |c0 AS (SELECT vec_id AS cid, pos, sub, q AS cq FROM v WHERE vec_id < 8),
       |${encodeSql("c0", "a0")},
       |c1 AS (
       |  SELECT c.cid, c.pos, c.sub, COALESCE(m.mq, c.cq) AS cq
       |  FROM c0 c LEFT JOIN (
       |    SELECT a.code AS cid, v.pos,
       |      CAST(floor(CAST(sum(v.q) AS DOUBLE) / count(*) + 0.5) AS BIGINT) AS mq
       |    FROM a0 a JOIN v ON a.vec_id = v.vec_id AND a.sub = v.sub
       |    GROUP BY 1, 2) m ON c.cid = m.cid AND c.pos = m.pos),
       |${encodeSql("c1", "codes")}""".stripMargin
  }

  /** The PQ subspace view of the quantized corpus: (v with a sub
    * column, per-(vec, sub) norms) — shared by training, encoding,
    * and the artifact round trip. Rides the `quantized` memo, so the
    * corpus pass is shared.
    */
  private[ops] def pqSubs(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val (v0, _) = quantized(s, d)
    val v = v0.withColumn("sub", floor(col("pos") / 8).cast("int"))
    val nx = v.groupBy("vec_id", "sub")
      .agg(sum(col("q") * col("q")).as("nx"))
    (v, nx)
  }

  /** Per-(vec, subspace) nearest codebook entry by exact integer L2 —
    * `cent` is any (cid, pos, cq) codebook frame: the in-session
    * trained one or a [[ModelStore]]-loaded artifact.
    */
  private[ops] def pqEncode(s: SparkSession, d: String,
      cent: DataFrame): DataFrame = {
    val (v, nx) = pqSubs(s, d)
    val nc = cent.withColumn("sub", floor(col("pos") / 8).cast("int"))
      .groupBy("sub", "cid")
      .agg(sum(col("cq") * col("cq")).as("nc"))
    val dots = v.join(broadcast(cent.select("cid", "pos", "cq")), Seq("pos"))
      .groupBy(col("vec_id"), col("sub"), col("cid"))
      .agg(sum(col("q") * col("cq")).as("dot"))
    val w = Window.partitionBy("vec_id", "sub")
      .orderBy((col("nx") + col("nc") - lit(2L) * col("dot")).asc,
        col("cid").asc)
    dots.join(nx, Seq("vec_id", "sub"))
      .join(broadcast(nc), Seq("sub", "cid"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("sub"), col("cid").as("code"))
  }

  /** Train-once PQ artifacts (codebook + encoded corpus), memoized —
    * shared by q_ann_pq, q_ann_recall's repeat invocation, and the
    * [[ModelStore]] round trip. Deterministic, so cached output is
    * value-identical.
    */
  private[ops] def pqTrain(s: SparkSession, d: String)
      : (DataFrame, DataFrame) =
    memo(s, d, "pq-m8-k8") {
      val (v, _) = pqSubs(s, d)
      val c0 = v.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("pos"), col("q").as("cq"))
        .localCheckpoint()
      // one Lloyd step; empty cells keep their seed row
      val means = pqEncode(s, d, c0)
        .join(v, Seq("vec_id", "sub"))
        .select(col("code").as("cid"), col("pos"), col("q"))
        .groupBy("cid", "pos")
        .agg(floor(sum(col("q")).cast("double") / count(lit(1)) + lit(0.5))
          .cast("long").as("mq"))
      val cb = c0
        .join(means, Seq("cid", "pos"), "left_outer")
        .select(col("cid"), col("pos"),
          coalesce(col("mq"), col("cq")).as("cq"))
        .localCheckpoint()
      (cb, pqEncode(s, d, cb).localCheckpoint())
    }

  val qAnnPq = Q(
    "q_ann_pq",
    (s, d) => {
      val (v, _) = pqSubs(s, d)
      val (c1, codes) = pqTrain(s, d)
      // ADC lookup table: query × codebook subspace dots (m×k rows/query)
      val tq = v.filter(col("vec_id") < 8)
        .join(broadcast(c1), Seq("pos"))
        .groupBy(col("vec_id").as("qid"), col("sub"), col("cid"))
        .agg(sum(col("q") * col("cq")).as("t"))
      val adot = codes.filter(col("vec_id") >= 8).as("k")
        .join(broadcast(tq.as("lut")),
          col("k.sub") === col("lut.sub") && col("k.code") === col("lut.cid"))
        .select(col("lut.qid").as("qid"),
          col("k.vec_id").as("neighbor_id"), col("lut.t").as("t"))
        .groupBy("qid", "neighbor_id")
        .agg(sum(col("t")).as("adot"))
      val wA = Window.partitionBy("qid")
        .orderBy(col("adot").desc, col("neighbor_id").asc)
      val cand = adot.withColumn("arank", row_number().over(wA))
        .filter(col("arank") <= 10)
        .select("qid", "neighbor_id", "adot")

      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), qvec(col("embedding")).as("qv"))
        .withColumn("nq", dotq(col("qv"), col("qv")))
      val rer = cand
        .join(e.select(col("vec_id").as("qid"), col("qv").as("quv"),
          col("nq").as("qn")), "qid")
        .join(e.select(col("vec_id").as("neighbor_id"), col("qv"),
          col("nq")), "neighbor_id")
        .select(col("qid"), col("neighbor_id"), col("adot"),
          cosine(dotq(col("quv"), col("qv")), col("qn"), col("nq"))
            .as("cos_sim"))
      val w = Window.partitionBy("qid")
        .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
      rer.withColumn("nrank", row_number().over(w))
        .filter(col("nrank") <= 3)
        .select("qid", "nrank", "neighbor_id", "adot", "cos_sim")
        .orderBy("qid", "nrank")
    },
    Some {
      s"""$pqOracleCtes,
         |tq AS (
         |  SELECT v.vec_id AS qid, v.sub, c.cid, CAST(sum(v.q * c.cq) AS BIGINT) AS t
         |  FROM v JOIN c1 c ON v.pos = c.pos
         |  WHERE v.vec_id < 8 GROUP BY 1, 2, 3),
         |adot AS (
         |  SELECT t.qid, k.vec_id AS neighbor_id, CAST(sum(t.t) AS BIGINT) AS adot
         |  FROM codes k JOIN tq t ON t.sub = k.sub AND t.cid = k.code
         |  WHERE k.vec_id >= 8 GROUP BY 1, 2),
         |cand AS (
         |  SELECT qid, neighbor_id, adot,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY adot DESC, neighbor_id ASC) AS arank
         |  FROM adot),
         |n AS (
         |  SELECT vec_id, qv, ${dotqSql("qv", "qv")} AS nq
         |  FROM (SELECT vec_id, $qvecSql AS qv FROM embeddings)),
         |rer AS (
         |  SELECT cand.qid, cand.neighbor_id, cand.adot,
         |    CAST(${dotqSql("q.qv", "c.qv")} AS DOUBLE)
         |      / sqrt(CAST(q.nq AS DOUBLE) * CAST(c.nq AS DOUBLE)) AS cos_sim
         |  FROM cand JOIN n q ON q.vec_id = cand.qid
         |    JOIN n c ON c.vec_id = cand.neighbor_id
         |  WHERE cand.arank <= 10),
         |ranked AS (
         |  SELECT qid, neighbor_id, adot, cos_sim,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY cos_sim DESC, neighbor_id ASC) AS nrank
         |  FROM rer)
         |SELECT qid, CAST(nrank AS INT) AS nrank, neighbor_id, adot, cos_sim
         |FROM ranked WHERE nrank <= 3 ORDER BY qid, nrank""".stripMargin
    }
  )

  /** q_ann_lsh_multiprobe — multi-probe sign-LSH: each query probes its
    * own bucket PLUS the four buckets at Hamming distance 1 (flip each
    * sign bit), reading 5/16 of the corpus instead of 1/16 — the
    * standard recall dial of LSH search (probe count trades IO for
    * recall with the same index; measured by q_ann_recall). A corpus
    * vector lives in exactly one bucket, so the 5 probes produce
    * disjoint candidate sets — no dedup needed before ranking.
    */
  val qAnnLshMultiprobe = Q(
    "q_ann_lsh_multiprobe",
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), signBucket(col("embedding")).as("bucket"),
          qvec(col("embedding")).as("qv"))
        .withColumn("nq", dotq(col("qv"), col("qv")))
      val queries = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("bucket").as("qbucket"),
          col("qv").as("quv"), col("nq").as("qn"))
        .withColumn("k", explode(sequence(lit(0), lit(4))))
        .withColumn("probe", when(col("k") === 0, col("qbucket"))
          .otherwise(expr(
            """concat(substr(qbucket, 1, k - 1),
              |  CASE substr(qbucket, k, 1) WHEN '1' THEN '0' ELSE '1' END,
              |  substr(qbucket, k + 1, 4 - k))""".stripMargin)))
      val scored = e.filter(col("vec_id") >= 8)
        .join(broadcast(queries), col("bucket") === col("probe"))
        .select(col("qid"), col("vec_id").as("neighbor_id"),
          cosine(dotq(col("quv"), col("qv")), col("qn"), col("nq"))
            .as("cos_sim"))
      val w = Window.partitionBy("qid")
        .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
      scored.withColumn("nrank", row_number().over(w))
        .filter(col("nrank") <= 3)
        .select("qid", "nrank", "neighbor_id", "cos_sim")
        .orderBy("qid", "nrank")
    },
    Some(
      s"""WITH e AS (
         |  SELECT vec_id, $signBucketSql AS bucket, $qvecSql AS qv
         |  FROM embeddings),
         |n AS (
         |  SELECT vec_id, bucket, qv, ${dotqSql("qv", "qv")} AS nq FROM e),
         |probes AS (
         |  SELECT vec_id AS qid, qv, nq,
         |    CASE WHEN k = 0 THEN bucket
         |    ELSE substr(bucket, 1, k - 1) ||
         |      (CASE substr(bucket, k, 1) WHEN '1' THEN '0' ELSE '1' END) ||
         |      substr(bucket, k + 1, 4 - k) END AS probe
         |  FROM n, UNNEST(range(0, 5)) u(k)
         |  WHERE vec_id < 8),
         |scored AS (
         |  SELECT p.qid, c.vec_id AS neighbor_id,
         |    CAST(${dotqSql("p.qv", "c.qv")} AS DOUBLE)
         |      / sqrt(CAST(p.nq AS DOUBLE) * CAST(c.nq AS DOUBLE)) AS cos_sim
         |  FROM probes p JOIN n c ON c.bucket = p.probe AND c.vec_id >= 8),
         |ranked AS (
         |  SELECT qid, neighbor_id, cos_sim,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY cos_sim DESC, neighbor_id ASC) AS nrank
         |  FROM scored)
         |SELECT qid, CAST(nrank AS INT) AS nrank, neighbor_id, cos_sim
         |FROM ranked WHERE nrank <= 3 ORDER BY qid, nrank""".stripMargin
    )
  )

  /** q_ann_recall — the evaluation harness for the approximate search
    * paths: recall@3 of each ANN method (sign-LSH, multi-probe LSH,
    * SQ8, PQ, IVF-PQ, binary-Hamming, and the IVF nprobe ladder at
    * 1/2/4 — the operational recall-vs-fraction-read tuning knob:
    * nprobe/16 of the corpus is read per query) against the exact
    * brute-force top-3, as (method, n_hits, recall_at_3) rows.
    * Composed directly from the SAME query definitions the registry
    * serves (Spark side calls the Q functions; the oracle nests the Q
    * oracle SQL as subqueries), so the measured recall is exactly the
    * recall of the shipped operators — not of a reimplementation.
    *
    * 100 TB shape: each method's candidate economics are its own (see
    * their entries); the comparison joins are per-query top-k sets —
    * k×#queries rows, trivially broadcast.
    */
  // lazy: the eagerly-built oracle SQL nests qAnnHamming's oracle,
  // which is declared LATER in this object — eager init here would
  // read its helper vals (Dim, binSigSql, …) before they exist and
  // silently bake a degenerate oracle (caught by the sf0.01 sweep:
  // Dim interpolated as 0 → every oracle Hamming distance 0). The
  // end-of-object `all` Seq forces this after every dependency.
  lazy val qAnnRecall = Q(
    "q_ann_recall",
    (s, d) => {
      def top3(df: DataFrame): DataFrame =
        df.filter(col("nrank") <= 3).select("qid", "neighbor_id")
      // checkpoint: the exact KNN subtree is joined by all four union
      // branches — without this Catalyst would re-run it four times
      val exact = top3(qCosineKnn.fn(s, d)).localCheckpoint()
      val denom = 24.0 // 8 queries × 3
      def row(m: String, df: DataFrame): DataFrame =
        top3(df).join(exact, Seq("qid", "neighbor_id"))
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(m).as("method"), col("n_hits"),
            (col("n_hits") / lit(denom)).as("recall_at_3"))
      row("lsh", qAnnLsh.fn(s, d))
        .unionByName(row("lsh_mp", qAnnLshMultiprobe.fn(s, d)))
        .unionByName(row("pq", qAnnPq.fn(s, d)))
        .unionByName(row("sq8", qAnnSq8.fn(s, d)))
        .unionByName(row("ivfpq", qAnnIvfPq.fn(s, d)))
        .unionByName(row("ham", qAnnHamming.fn(s, d)))
        .unionByName(row("ivf_p1", qIvfSearch.fn(s, d)))
        .unionByName(row("ivf_p2", ivfSearchProbeN(s, d, 2)))
        .unionByName(row("ivf_p4", ivfSearchProbeN(s, d, 4)))
        .orderBy("method")
    },
    Some {
      def top3(sql: String) =
        s"SELECT qid, neighbor_id FROM ($sql) WHERE nrank <= 3"
      def row(m: String, sql: String) =
        s"""SELECT '$m' AS method, CAST(count(*) AS BIGINT) AS n_hits,
           |  count(*) / 24.0e0 AS recall_at_3
           |FROM (${top3(sql)}) a
           |JOIN (${top3(qCosineKnn.oracle.get)}) e
           |  USING (qid, neighbor_id)""".stripMargin
      s"""SELECT * FROM (
         |${row("lsh", qAnnLsh.oracle.get)}
         |UNION ALL
         |${row("lsh_mp", qAnnLshMultiprobe.oracle.get)}
         |UNION ALL
         |${row("pq", qAnnPq.oracle.get)}
         |UNION ALL
         |${row("sq8", qAnnSq8.oracle.get)}
         |UNION ALL
         |${row("ivfpq", qAnnIvfPq.oracle.get)}
         |UNION ALL
         |${row("ham", qAnnHamming.oracle.get)}
         |UNION ALL
         |${row("ivf_p1", qIvfSearch.oracle.get)}
         |UNION ALL
         |${row("ivf_p2", ivfSearchProbeNSql(2))}
         |UNION ALL
         |${row("ivf_p4", ivfSearchProbeNSql(4))})
         |ORDER BY method""".stripMargin
    }
  )

  /** Exact top-3 cosine KNN over the FIRST m dimensions only — the
    * Matryoshka prefix-truncation rung ([[qAnnMatryoshka]]).
    */
  private def knnTop3AtDim(s: SparkSession, d: String, m: Int)
      : DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), slice(qvec(col("embedding")), 1, m).as("qv"))
      .withColumn("nq", dotq(col("qv"), col("qv")))
    val queries = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("qv").as("quv"),
        col("nq").as("qn"))
    val w = Window.partitionBy("qid")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    e.filter(col("vec_id") >= 8)
      .join(broadcast(queries))
      .select(col("qid"), col("vec_id").as("neighbor_id"),
        cosine(dotq(col("quv"), col("qv")), col("qn"), col("nq"))
          .as("cos_sim"))
      .withColumn("nrank", row_number().over(w))
      .filter(col("nrank") <= 3)
      .select("qid", "neighbor_id")
  }

  /** One oracle Matryoshka rung: top-3 per query over qv[1:m]. */
  private def knnTop3AtDimSql(m: Int): String = {
    def mdot(a: String, b: String) =
      s"CAST(list_sum(list_transform(range(1, $m + 1), " +
        s"i -> $a[i] * $b[i])) AS BIGINT)"
    s"""SELECT qid, neighbor_id FROM (
       |  SELECT qid, neighbor_id, row_number() OVER (
       |    PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id ASC)
       |    AS nrank
       |  FROM (
       |    SELECT q.vec_id AS qid, c.vec_id AS neighbor_id,
       |      CAST(${mdot("q.qv", "c.qv")} AS DOUBLE) /
       |        sqrt(CAST(${mdot("q.qv", "q.qv")} AS DOUBLE) *
       |             CAST(${mdot("c.qv", "c.qv")} AS DOUBLE)) AS cos_sim
       |    FROM me q JOIN me c ON q.vec_id < 8 AND c.vec_id >= 8))
       |WHERE nrank <= 3""".stripMargin
  }

  /** Prefix dims evaluated (full dim last — the sanity rung). */
  private val MatryoshkaDims = Seq(8, 16, 32, 64)

  /** q_ann_matryoshka — the Matryoshka (MRL, Kusupati et al. 2022)
    * truncation ladder: exact top-3 recall when similarity uses only
    * the FIRST m of 64 dimensions, for m = 8/16/32/64. This is the
    * THIRD axis of the ANN tradeoff surface the recall harness
    * measures — prefix bytes-per-vector by truncation, beside
    * fraction-read (the IVF nprobe ladder) and quantized
    * bytes-per-vector (SQ8/PQ): an MRL-trained embedding serves
    * m-prefix search at m/64 of the scan bytes, and this table is the
    * recall evidence for choosing m.
    *
    * Exactness: each rung is the exact KNN construction over the
    * quantized prefix — integer dots and norms, one double
    * division/sqrt over exact inputs, ties on neighbor_id — so rung
    * m = 64 reproduces the full KNN identically (recall 1.0 by
    * construction, pinned in the spec).
    *
    * 100 TB shape: per rung, the query set broadcasts and the corpus
    * scans once with per-task top-3 pruning before the single rank
    * exchange (the q_cosine_knn shape); a production deployment would
    * store the m-prefix as its own column/table and scan m/64 of the
    * bytes — the ladder measures exactly what that buys.
    *
    * On the synthetic fixtures the truncated recall COLLAPSES
    * (0.125/0/0.04 at 8/16/32 at sf0.01) — the embeddings are not
    * MRL-trained, so prefixes carry no concentrated signal, and the
    * ladder is the test that tells you so before you deploy prefix
    * search; truncated-rung recall need not even be monotone in m for
    * such embeddings. Only the m = full rung has a guaranteed value
    * (1.0).
    */
  val qAnnMatryoshka = Q(
    "q_ann_matryoshka",
    (s, d) => {
      val full = knnTop3AtDim(s, d, 64).localCheckpoint()
      val denom = 24.0 // 8 queries × 3
      MatryoshkaDims.map { m =>
        // the m=64 sanity rung IS the pinned reference — reuse it
        (if (m == 64) full else knnTop3AtDim(s, d, m))
          .join(full, Seq("qid", "neighbor_id"))
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(m).as("m"), col("n_hits"),
            (col("n_hits") / lit(denom)).as("recall_at_3"))
      }.reduce(_.unionByName(_)).orderBy("m")
    },
    Some {
      val rungs = MatryoshkaDims.map { m =>
        s"""SELECT $m AS m, CAST(count(*) AS BIGINT) AS n_hits,
           |  count(*) / 24.0e0 AS recall_at_3
           |FROM (${knnTop3AtDimSql(m)}) a
           |JOIN (${knnTop3AtDimSql(64)}) f USING (qid, neighbor_id)"""
          .stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH me AS MATERIALIZED (
         |  SELECT vec_id, $qvecSql AS qv FROM embeddings)
         |SELECT * FROM ($rungs) ORDER BY m""".stripMargin
    }
  )

  /** q_hard_negatives — contrastive-training hard-negative mining: for
    * each query vector, the top-3 most-similar corpus vectors whose
    * `label` DIFFERS from the query's (high-similarity wrong-class
    * examples — the negatives that actually move an embedding model,
    * vs uniform random negatives that are trivially separable).
    *
    * 100 TB shape: identical to brute-force KNN — the (small) query
    * set broadcasts with the label-mismatch predicate in the join
    * condition, the corpus is scanned once and never shuffles, and the
    * per-query rank prunes to k rows per task before the single
    * exchange.
    */
  val qHardNegatives = Q(
    "q_hard_negatives",
    (s, d) => {
      val e = Tables
        .embeddings(s, d)
        .select(col("vec_id"), col("label"), qvec(col("embedding")).as("qv"))
        .withColumn("nq", dotq(col("qv"), col("qv")))
      val queries = e
        .filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
          col("qv").as("quv"), col("nq").as("qn"))
      val scored = e
        .filter(col("vec_id") >= 8)
        .join(broadcast(queries), col("label") =!= col("qlabel"))
        .select(
          col("qid"),
          col("qlabel"),
          col("vec_id").as("neg_id"),
          col("label").as("neg_label"),
          cosine(dotq(col("quv"), col("qv")), col("qn"), col("nq")).as("cos_sim")
        )
      val w = Window.partitionBy("qid")
        .orderBy(col("cos_sim").desc, col("neg_id").asc)
      scored
        .withColumn("nrank", row_number().over(w))
        .filter(col("nrank") <= 3)
        .select("qid", "qlabel", "nrank", "neg_id", "neg_label", "cos_sim")
        .orderBy("qid", "nrank")
    },
    Some(
      s"""WITH e AS (
         |  SELECT vec_id, label, $qvecSql AS qv FROM embeddings),
         |n AS (
         |  SELECT vec_id, label, qv, ${dotqSql("qv", "qv")} AS nq FROM e),
         |scored AS (
         |  SELECT q.vec_id AS qid, q.label AS qlabel,
         |    c.vec_id AS neg_id, c.label AS neg_label,
         |    CAST(${dotqSql("q.qv", "c.qv")} AS DOUBLE)
         |      / sqrt(CAST(q.nq AS DOUBLE) * CAST(c.nq AS DOUBLE)) AS cos_sim
         |  FROM n q JOIN n c ON q.vec_id < 8 AND c.vec_id >= 8
         |    AND q.label <> c.label),
         |ranked AS (
         |  SELECT qid, qlabel, neg_id, neg_label, cos_sim,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY cos_sim DESC, neg_id ASC) AS nrank
         |  FROM scored)
         |SELECT qid, qlabel, CAST(nrank AS INT) AS nrank, neg_id, neg_label,
         |  cos_sim
         |FROM ranked WHERE nrank <= 3 ORDER BY qid, nrank""".stripMargin
    )
  )

  /** The 16×64 Johnson–Lindenstrauss ±1 sign matrix, defined as the
    * parity of md5("rp-j:i")'s first 8 hex digits — the same value
    * DuckDB's md5() yields, so both engines derive the identical
    * matrix from the definition rather than sharing state.
    */
  private lazy val rpSigns: Seq[Seq[Long]] = {
    val mdt = java.security.MessageDigest.getInstance("MD5")
    (0 until 16).map { j =>
      (0 until 64).map { i =>
        val hex = mdt.digest(s"rp-$j:$i".getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString.take(8)
        if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1L else -1L
      }
    }
  }

  /** q_random_projection — Johnson–Lindenstrauss random projection
    * (Achlioptas ±1 form): every 64-d embedding is projected to 16
    * signed dimensions through the md5-derived ±1 matrix, and the 16
    * projection signs pack into one 16-bit bucket id — the
    * dimensionality-reduction front end of a scale ANN index (the
    * bucket is a scan-pushable join key; the projected values feed a
    * cheaper distance). All arithmetic is exact: quantized vector ×
    * ±1 matrix = exact BIGINT sums via the codegen'd dot product.
    *
    * 100 TB shape: the sign matrix is a plan literal (16 fused
    * codegen dot products per row, no shuffle, no join); the only
    * exchange is the output sort, and at scale the bucket id would be
    * written as a partition column instead.
    */
  val qRandomProjection = Q(
    "q_random_projection",
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), qvec(col("embedding")).as("qv"))
      val withProj = (0 until 16).foldLeft(e) { (df, j) =>
        df.withColumn(s"p$j", dotq(typedlit(rpSigns(j)), col("qv")))
      }
      val bucket = (0 until 16)
        .map(j => when(col(s"p$j") > 0, lit(1L << j)).otherwise(lit(0L)))
        .reduce(_ + _)
      withProj
        .select(col("vec_id"), bucket.cast("int").as("bucket"),
          col("p0"), col("p1"), col("p2"), col("p3"))
        .orderBy("vec_id")
    },
    Some {
      s"""WITH e AS (
         |  SELECT vec_id, $qvecSql AS qv FROM embeddings),
         |sgn AS (
         |  SELECT j, i,
         |    CASE WHEN ${OracleSql.hexToBigint("h")} % 2 = 0 THEN 1 ELSE -1 END AS s
         |  FROM (SELECT t1.range AS j, t2.range AS i,
         |          substr(md5('rp-' || t1.range || ':' || t2.range), 1, 8) AS h
         |        FROM range(0, 16) t1, range(0, 64) t2)),
         |proj AS (
         |  SELECT e.vec_id, sgn.j,
         |    CAST(sum(sgn.s * e.qv[sgn.i + 1]) AS BIGINT) AS p
         |  FROM e, sgn GROUP BY 1, 2),
         |packed AS (
         |  SELECT vec_id,
         |    CAST(sum(CASE WHEN p > 0 THEN CAST(1 AS BIGINT) << j
         |             ELSE 0 END) AS INT) AS bucket,
         |    max(CASE WHEN j = 0 THEN p END) AS p0,
         |    max(CASE WHEN j = 1 THEN p END) AS p1,
         |    max(CASE WHEN j = 2 THEN p END) AS p2,
         |    max(CASE WHEN j = 3 THEN p END) AS p3
         |  FROM proj GROUP BY vec_id)
         |SELECT vec_id, bucket, p0, p1, p2, p3
         |FROM packed ORDER BY vec_id""".stripMargin
    }
  )

  /** q_mmr_rerank — Maximal Marginal Relevance diversification: for
    * each query (vec_id < 4), its top-8 cosine candidates are re-ranked
    * by 4 unrolled greedy MMR rounds (λ = 0.7): each round selects the
    * candidate maximizing λ·rel(q,c) − (1−λ)·max_{s∈selected} sim(c,s),
    * so near-duplicate results are pushed down in favor of coverage —
    * the standard retrieval-diversity pass over an ANN candidate set.
    * rel and sim are cosines over exact quantized integers, re-quantized
    * to 1e-9 units so the λ blend is exact BIGINT arithmetic
    * (7·relq − 3·penq — a double multiply-subtract differs across
    * engines when one fuses it); the reported score is one final IEEE
    * divide, ties broken by candidate id.
    *
    * 100 TB shape: candidate generation is the broadcast-KNN scan (the
    * corpus never shuffles); everything after operates on 8 rows per
    * query — the candidate pair matrix (≤64 rows/query) and the greedy
    * rounds are qid-partitioned small joins, each a broadcast at real
    * query volumes.
    */
  /** The MMR candidate stage, exposed (pre-checkpoint) so the plan spec
    * can assert the broadcast-KNN shape that [[qMmrRerank]]'s
    * localCheckpoint otherwise truncates out of the final plan.
    */
  private[graft] def mmrCandidates(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), qvec(col("embedding")).as("qv"))
      .withColumn("nq", dotq(col("qv"), col("qv")))
    val queries = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("qv").as("quv"),
        col("nq").as("qn"))
    val corpus = e.filter(col("vec_id") >= 4)
    val wCand = Window.partitionBy("qid")
      .orderBy(col("rel").desc, col("cid").asc)
    corpus
      .join(broadcast(queries))
      .select(col("qid"), col("vec_id").as("cid"), col("qv"), col("nq"),
        cosine(dotq(col("quv"), col("qv")), col("qn"), col("nq")).as("rel"))
      .withColumn("crank", row_number().over(wCand))
      .filter(col("crank") <= 8)
      .withColumn("relq", floor(col("rel") * lit(1e9) + lit(0.5)).cast("long"))
      .select("qid", "cid", "qv", "nq", "relq")
  }

  val qMmrRerank = Q(
    "q_mmr_rerank",
    (s, d) => {
      // localCheckpoint: the candidate set (≤8 rows/query) feeds four
      // unrolled greedy rounds — without truncating lineage each round
      // would re-run the corpus scan + KNN rank (measured 9.9 s → sub-
      // second at sf0.1)
      val cand = mmrCandidates(s, d).localCheckpoint()
      // pairwise candidate sims within each query's candidate set
      val a = cand.select(col("qid"), col("cid").as("a"),
        col("qv").as("av"), col("nq").as("an"))
      val b = cand.select(col("qid"), col("cid").as("b"),
        col("qv").as("bv"), col("nq").as("bn"))
      val pairs = a.join(b, Seq("qid"))
        .filter(col("a") =!= col("b"))
        .select(col("qid"), col("a"), col("b"),
          floor(cosine(dotq(col("av"), col("bv")), col("an"), col("bn"))
            * lit(1e9) + lit(0.5)).cast("long").as("simq"))
        .localCheckpoint()
      val rel = cand.select("qid", "cid", "relq")
      // greedy rounds: sel = picked so far, rem = still eligible
      def pick(rem: DataFrame, sel: DataFrame): DataFrame = {
        val pen = rem.join(pairs.withColumnRenamed("b", "cid"), Seq("qid", "cid"))
          .join(sel.select(col("qid"), col("cid").as("a")), Seq("qid", "a"))
          .groupBy("qid", "cid")
          .agg(max(col("simq")).as("penq"))
        val scored = rem
          .join(pen, Seq("qid", "cid"), "left")
          .withColumn("mmr_scaled",
            lit(7L) * col("relq") - lit(3L) * coalesce(col("penq"), lit(0L)))
        val w = Window.partitionBy("qid")
          .orderBy(col("mmr_scaled").desc, col("cid").asc)
        // one row per query; checkpointed so later rounds (which union
        // and anti-join every earlier pick) re-read 4 rows instead of
        // re-evaluating an exponentially nested round DAG
        scored.withColumn("r", row_number().over(w)).filter(col("r") === 1)
          .select(col("qid"), col("cid"),
            (col("mmr_scaled").cast("double") / lit(1e10)).as("mmr"))
          .localCheckpoint()
      }
      val s1 = pick(rel, rel.limit(0)) // empty selected set: pen = 0
      val rem2 = rel.join(s1.select("qid", "cid"), Seq("qid", "cid"),
        "left_anti")
      val s2 = pick(rem2, s1)
      val rem3 = rem2.join(s2.select("qid", "cid"), Seq("qid", "cid"),
        "left_anti")
      val s3 = pick(rem3, s1.union(s2))
      val rem4 = rem3.join(s3.select("qid", "cid"), Seq("qid", "cid"),
        "left_anti")
      val s4 = pick(rem4, s1.union(s2).union(s3))
      Seq(s1, s2, s3, s4).zipWithIndex
        .map { case (df, i) => df.withColumn("mmr_rank", lit(i + 1)) }
        .reduce(_ union _)
        .select(col("qid"), col("mmr_rank"), col("cid"), col("mmr"))
        .orderBy("qid", "mmr_rank")
    },
    Some(
      s"""WITH e AS (
         |  SELECT vec_id, $qvecSql AS qv FROM embeddings),
         |n AS (
         |  SELECT vec_id, qv, ${dotqSql("qv", "qv")} AS nq FROM e),
         |cand0 AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid, c.qv, c.nq,
         |    CAST(${dotqSql("q.qv", "c.qv")} AS DOUBLE)
         |      / sqrt(CAST(q.nq AS DOUBLE) * CAST(c.nq AS DOUBLE)) AS rel,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |      CAST(${dotqSql("q.qv", "c.qv")} AS DOUBLE)
         |        / sqrt(CAST(q.nq AS DOUBLE) * CAST(c.nq AS DOUBLE)) DESC,
         |      c.vec_id ASC) AS crank
         |  FROM n q JOIN n c ON q.vec_id < 4 AND c.vec_id >= 4),
         |cand AS (
         |  SELECT qid, cid, qv, nq,
         |    CAST(floor(rel * 1.0e9 + 0.5) AS BIGINT) AS relq
         |  FROM cand0 WHERE crank <= 8),
         |pairs AS (
         |  SELECT x.qid, x.cid AS a, y.cid AS b,
         |    CAST(floor(CAST(${dotqSql("x.qv", "y.qv")} AS DOUBLE)
         |      / sqrt(CAST(x.nq AS DOUBLE) * CAST(y.nq AS DOUBLE))
         |      * 1.0e9 + 0.5) AS BIGINT) AS simq
         |  FROM cand x JOIN cand y ON x.qid = y.qid AND x.cid <> y.cid),
         |s1 AS (
         |  SELECT qid, cid, 7 * relq AS mmr_scaled FROM (
         |    SELECT qid, cid, relq, row_number() OVER (PARTITION BY qid
         |      ORDER BY 7 * relq DESC, cid ASC) AS r FROM cand)
         |  WHERE r = 1),
         |rem2 AS (SELECT c.* FROM cand c LEFT JOIN s1
         |  ON c.qid = s1.qid AND c.cid = s1.cid WHERE s1.cid IS NULL),
         |s2 AS (
         |  SELECT qid, cid, mmr_scaled FROM (
         |    SELECT t.qid, t.cid, t.mmr_scaled, row_number() OVER (
         |      PARTITION BY t.qid ORDER BY t.mmr_scaled DESC, t.cid ASC) AS r
         |    FROM (
         |      SELECT c.qid, c.cid,
         |        7 * c.relq - 3 * coalesce(max(p.simq), 0) AS mmr_scaled
         |      FROM rem2 c
         |      LEFT JOIN (SELECT pr.qid, pr.b, pr.simq, pr.a FROM pairs pr
         |                 JOIN s1 ON pr.qid = s1.qid AND pr.a = s1.cid) p
         |        ON p.qid = c.qid AND p.b = c.cid
         |      GROUP BY c.qid, c.cid, c.relq) t)
         |  WHERE r = 1),
         |rem3 AS (SELECT c.* FROM rem2 c LEFT JOIN s2
         |  ON c.qid = s2.qid AND c.cid = s2.cid WHERE s2.cid IS NULL),
         |sel12 AS (SELECT qid, cid FROM s1 UNION ALL SELECT qid, cid FROM s2),
         |s3 AS (
         |  SELECT qid, cid, mmr_scaled FROM (
         |    SELECT t.qid, t.cid, t.mmr_scaled, row_number() OVER (
         |      PARTITION BY t.qid ORDER BY t.mmr_scaled DESC, t.cid ASC) AS r
         |    FROM (
         |      SELECT c.qid, c.cid,
         |        7 * c.relq - 3 * coalesce(max(p.simq), 0) AS mmr_scaled
         |      FROM rem3 c
         |      LEFT JOIN (SELECT pr.qid, pr.b, pr.simq, pr.a FROM pairs pr
         |                 JOIN sel12 sl ON pr.qid = sl.qid AND pr.a = sl.cid) p
         |        ON p.qid = c.qid AND p.b = c.cid
         |      GROUP BY c.qid, c.cid, c.relq) t)
         |  WHERE r = 1),
         |rem4 AS (SELECT c.* FROM rem3 c LEFT JOIN s3
         |  ON c.qid = s3.qid AND c.cid = s3.cid WHERE s3.cid IS NULL),
         |sel123 AS (SELECT qid, cid FROM sel12 UNION ALL
         |  SELECT qid, cid FROM s3),
         |s4 AS (
         |  SELECT qid, cid, mmr_scaled FROM (
         |    SELECT t.qid, t.cid, t.mmr_scaled, row_number() OVER (
         |      PARTITION BY t.qid ORDER BY t.mmr_scaled DESC, t.cid ASC) AS r
         |    FROM (
         |      SELECT c.qid, c.cid,
         |        7 * c.relq - 3 * coalesce(max(p.simq), 0) AS mmr_scaled
         |      FROM rem4 c
         |      LEFT JOIN (SELECT pr.qid, pr.b, pr.simq, pr.a FROM pairs pr
         |                 JOIN sel123 sl ON pr.qid = sl.qid AND pr.a = sl.cid) p
         |        ON p.qid = c.qid AND p.b = c.cid
         |      GROUP BY c.qid, c.cid, c.relq) t)
         |  WHERE r = 1)
         |SELECT qid, CAST(mmr_rank AS INT) AS mmr_rank, cid,
         |  CAST(mmr_scaled AS DOUBLE) / 1.0e10 AS mmr FROM (
         |  SELECT qid, 1 AS mmr_rank, cid, mmr_scaled FROM s1 UNION ALL
         |  SELECT qid, 2, cid, mmr_scaled FROM s2 UNION ALL
         |  SELECT qid, 3, cid, mmr_scaled FROM s3 UNION ALL
         |  SELECT qid, 4, cid, mmr_scaled FROM s4)
         |ORDER BY qid, mmr_rank""".stripMargin
    )
  )

  /** q_ann_ivfpq — the full FAISS IVF-PQ composite: the coarse k-means
    * quantizer partitions the corpus into inverted lists; each vector's
    * RESIDUAL against its centroid (what PQ should encode — residuals
    * have ~k× less energy than raw vectors, so the same codebook bits
    * buy more precision) is product-quantized (m=8 subspaces, k=8
    * entries, one exact-integer Lloyd step); a query probes its own
    * centroid's list and scores candidates by ADC over its residual's
    * lookup table; top-10 ADC candidates re-rank by exact cosine.
    *
    * 100 TB shape: centroids + codebooks are tiny broadcasts; the
    * encoded corpus is 8 bytes/vector partitioned BY LIST (the cid is
    * a scan-pushable partition key, so probe-1 reads 1/k of the
    * codes); ADC shuffles only (sub, code) joins against a broadcast
    * per-query table; exact vectors are touched for 10 candidates per
    * query.
    *
    * Cross-engine exactness: residuals are differences of exact
    * BIGINTs; every k-means/PQ step is the established exact-integer
    * form; ADC sums are exact; the rerank is the exact-integer cosine.
    */
  // lazy: referenced by qAnnRecall, which is declared earlier in the
  // object — eager init order would read it as null
  lazy val qAnnIvfPq: Q = Q(
    "q_ann_ivfpq",
    (s, d) => {
      val (v, nv) = quantized(s, d)
      // trained artifacts (list assignment, residuals, PQ codebook,
      // 8-byte codes) memoized per (session, dataset): train once,
      // serve every subsequent invocation — the production IVF-PQ
      // lifecycle, and what keeps repeated bench runs search-cost only
      val (assign, vr, cr1, codes) = memo(s, d, "ivfpq-m8-k8") {
        val cent = trainKmeans(s, d)
        val assign = assignToCentroids(v, nv, cent).localCheckpoint()
        val vr = v.join(assign, Seq("vec_id"))
          .join(cent, Seq("cid", "pos"))
          .select(col("vec_id"), col("pos"),
            floor(col("pos") / 8).cast("int").as("sub"),
            (col("q") - col("cq")).as("q"))
          .localCheckpoint()
        val nxr = vr.groupBy("vec_id", "sub")
          .agg(sum(col("q") * col("q")).as("nx"))
        // per-(vec, subspace) nearest residual-codebook entry, exact L2
        def encodeR(cb: DataFrame): DataFrame = {
          val nc = cb.groupBy("sub", "cid")
            .agg(sum(col("cq") * col("cq")).as("nc"))
          val dots = vr
            .join(broadcast(cb.select("cid", "pos", "cq")), Seq("pos"))
            .groupBy(col("vec_id"), col("sub"), col("cid"))
            .agg(sum(col("q") * col("cq")).as("dot"))
          val w = Window.partitionBy("vec_id", "sub")
            .orderBy((col("nx") + col("nc") - lit(2L) * col("dot")).asc,
              col("cid").asc)
          dots.join(nxr, Seq("vec_id", "sub"))
            .join(broadcast(nc), Seq("sub", "cid"))
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1)
            .select(col("vec_id"), col("sub"), col("cid").as("code"))
        }
        val cr0 = vr.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"), col("pos"), col("sub"),
            col("q").as("cq"))
          .localCheckpoint()
        val means = encodeR(cr0)
          .join(vr, Seq("vec_id", "sub"))
          .select(col("code").as("cid"), col("pos"), col("q"))
          .groupBy("cid", "pos")
          .agg(floor(sum(col("q")).cast("double") / count(lit(1)) + lit(0.5))
            .cast("long").as("mq"))
        val cr1 = cr0
          .join(means, Seq("cid", "pos"), "left_outer")
          .select(col("cid"), col("pos"), col("sub"),
            coalesce(col("mq"), col("cq")).as("cq"))
          .localCheckpoint()
        (assign, vr, cr1, encodeR(cr1).localCheckpoint())
      }
      // per-query ADC table over the QUERY residual (probe-1: the
      // query's own centroid is the probed list, so its residual is
      // the one FAISS would use)
      val tq = vr.filter(col("vec_id") < 8)
        .join(broadcast(cr1.select("cid", "pos", "cq")), Seq("pos"))
        .groupBy(col("vec_id").as("qid"), col("sub"), col("cid"))
        .agg(sum(col("q") * col("cq")).as("t"))
        .select(col("qid").as("tqid"), col("sub").as("tsub"),
          col("cid").as("tcid"), col("t"))
      val qa = assign.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("cid").as("list"))
      val ca = assign.filter(col("vec_id") >= 8)
        .select(col("vec_id").as("nid"), col("cid").as("list"))
      val cand0 = qa.join(ca, Seq("list")).select("qid", "nid")
      val kcodes = codes.filter(col("vec_id") >= 8)
        .select(col("vec_id").as("nid"), col("sub").as("ksub"), col("code"))
      val adot = cand0.join(kcodes, Seq("nid"))
        .join(broadcast(tq),
          col("qid") === col("tqid") && col("ksub") === col("tsub") &&
            col("code") === col("tcid"))
        .groupBy("qid", "nid")
        .agg(sum(col("t")).as("adot"))
      val wA = Window.partitionBy("qid")
        .orderBy(col("adot").desc, col("nid").asc)
      val cand = adot.withColumn("arank", row_number().over(wA))
        .filter(col("arank") <= 10)
        .select("qid", "nid", "adot")
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), qvec(col("embedding")).as("qv"))
        .withColumn("nq", dotq(col("qv"), col("qv")))
      val rer = cand
        .join(e.select(col("vec_id").as("qid"), col("qv").as("quv"),
          col("nq").as("qn")), "qid")
        .join(e.select(col("vec_id").as("nid"), col("qv"), col("nq")), "nid")
        .select(col("qid"), col("nid").as("neighbor_id"), col("adot"),
          cosine(dotq(col("quv"), col("qv")), col("qn"), col("nq"))
            .as("cos_sim"))
      val w = Window.partitionBy("qid")
        .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
      rer.withColumn("nrank", row_number().over(w))
        .filter(col("nrank") <= 3)
        .select("qid", "nrank", "neighbor_id", "adot", "cos_sim")
        .orderBy("qid", "nrank")
    },
    Some {
      def encodeSqlR(cn: String, out: String): String =
        s"""ncr_$out AS (
           |  SELECT sub, cid, CAST(sum(cq * cq) AS BIGINT) AS nc
           |  FROM $cn GROUP BY 1, 2),
           |dotr_$out AS (
           |  SELECT vr.vec_id, vr.sub, c.cid,
           |    CAST(sum(vr.q * c.cq) AS BIGINT) AS dot
           |  FROM vr JOIN $cn c ON vr.pos = c.pos GROUP BY 1, 2, 3),
           |$out AS (
           |  SELECT vec_id, sub, cid AS code FROM (
           |    SELECT d.vec_id, d.sub, d.cid,
           |      row_number() OVER (PARTITION BY d.vec_id, d.sub
           |        ORDER BY nx.nx + nc.nc - 2 * d.dot ASC, d.cid ASC) AS rn
           |    FROM dotr_$out d
           |    JOIN nxr nx ON d.vec_id = nx.vec_id AND d.sub = nx.sub
           |    JOIN ncr_$out nc ON d.sub = nc.sub AND d.cid = nc.cid) t
           |  WHERE rn = 1)""".stripMargin
      s"""$kmeansCtes,
         |vr AS (
         |  SELECT v.vec_id, v.pos, CAST(v.pos // 8 AS INT) AS sub,
         |    v.q - c.cq AS q
         |  FROM v JOIN assign2 a ON v.vec_id = a.vec_id
         |  JOIN c2 c ON c.cid = a.cid AND c.pos = v.pos),
         |nxr AS (
         |  SELECT vec_id, sub, CAST(sum(q * q) AS BIGINT) AS nx
         |  FROM vr GROUP BY 1, 2),
         |cr0 AS (
         |  SELECT vec_id AS cid, pos, sub, q AS cq FROM vr WHERE vec_id < 8),
         |${encodeSqlR("cr0", "en0")},
         |meansr AS (
         |  SELECT e0.code AS cid, vr.pos,
         |    CAST(floor(CAST(sum(vr.q) AS DOUBLE) / count(*) + 0.5)
         |      AS BIGINT) AS mq
         |  FROM en0 e0 JOIN vr ON e0.vec_id = vr.vec_id AND e0.sub = vr.sub
         |  GROUP BY 1, 2),
         |cr1 AS (
         |  SELECT c.cid, c.pos, c.sub, COALESCE(m.mq, c.cq) AS cq
         |  FROM cr0 c LEFT JOIN meansr m
         |    ON c.cid = m.cid AND c.pos = m.pos),
         |${encodeSqlR("cr1", "en1")},
         |tq AS (
         |  SELECT vr.vec_id AS qid, vr.sub, c.cid,
         |    CAST(sum(vr.q * c.cq) AS BIGINT) AS t
         |  FROM vr JOIN cr1 c ON vr.pos = c.pos
         |  WHERE vr.vec_id < 8 GROUP BY 1, 2, 3),
         |cand0 AS (
         |  SELECT qa.vec_id AS qid, ca.vec_id AS nid
         |  FROM assign2 qa JOIN assign2 ca ON qa.cid = ca.cid
         |  WHERE qa.vec_id < 8 AND ca.vec_id >= 8),
         |padot AS (
         |  SELECT c0.qid, c0.nid, CAST(sum(t.t) AS BIGINT) AS adot
         |  FROM cand0 c0
         |  JOIN en1 k ON k.vec_id = c0.nid
         |  JOIN tq t ON t.qid = c0.qid AND t.sub = k.sub AND t.cid = k.code
         |  GROUP BY 1, 2),
         |pcand AS (
         |  SELECT qid, nid, adot,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY adot DESC, nid ASC) AS arank
         |  FROM padot),
         |nrm AS (
         |  SELECT vec_id, qv, ${dotqSql("qv", "qv")} AS nq FROM e),
         |rer AS (
         |  SELECT pc.qid, pc.nid AS neighbor_id, pc.adot,
         |    CAST(${dotqSql("q.qv", "c.qv")} AS DOUBLE)
         |      / sqrt(CAST(q.nq AS DOUBLE) * CAST(c.nq AS DOUBLE)) AS cos_sim
         |  FROM pcand pc
         |  JOIN nrm q ON q.vec_id = pc.qid
         |  JOIN nrm c ON c.vec_id = pc.nid
         |  WHERE pc.arank <= 10),
         |rankedf AS (
         |  SELECT qid, neighbor_id, adot, cos_sim,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY cos_sim DESC, neighbor_id ASC) AS nrank
         |  FROM rer)
         |SELECT qid, CAST(nrank AS INT) AS nrank, neighbor_id, adot, cos_sim
         |FROM rankedf WHERE nrank <= 3 ORDER BY qid, nrank""".stripMargin
    }
  )

  /** q_colbert_maxsim — late-interaction (ColBERT-style) retrieval
    * scoring: each 64-d embedding is treated as 8 token-vectors of 8
    * dims, and a candidate's score against a query is
    * Σ_q-token max_c-token dot(q, c) — MaxSim, which preserves
    * token-level matching that a single pooled vector loses. Dots are
    * exact BIGINT products of quantized ints; max and sum are exact;
    * top-5 per query by score (tie → smaller id).
    *
    * 100 TB shape: the query token-vectors broadcast (8 rows of 8
    * ints per query); the corpus token stream is scanned once and
    * partial-aggregates the (pair, q-token) max then the pair sum on
    * the same shuffle key; per-query top-k is a group-limited rank.
    */
  val qColbertMaxsim = Q(
    "q_colbert_maxsim",
    (s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), qvec(col("embedding")).as("qv"))
      // (vec_id, tok, 8-dim subvector) token-vector stream
      val toks = e.select(col("vec_id"),
        posexplode(transform(sequence(lit(0), lit(7)),
          t => slice(col("qv"), t * 8 + 1, lit(8)))).as(Seq("tok", "tv")))
      val qt = toks.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("tok").as("qtok"),
          col("tv").as("qtv"))
      val ct = toks.filter(col("vec_id") >= 4)
      val maxsim = ct
        .join(broadcast(qt))
        .select(col("qid"), col("vec_id").as("cid"), col("qtok"),
          dotq(col("qtv"), col("tv")).as("dot"))
        .groupBy("qid", "cid", "qtok")
        .agg(max(col("dot")).as("mx"))
        .groupBy("qid", "cid")
        .agg(sum(col("mx")).as("maxsim"))
      val w = Window.partitionBy("qid")
        .orderBy(col("maxsim").desc, col("cid").asc)
      maxsim
        .withColumn("nrank", row_number().over(w))
        .filter(col("nrank") <= 5)
        .select("qid", "nrank", "cid", "maxsim")
        .orderBy("qid", "nrank")
    },
    Some(
      s"""WITH e AS (
         |  SELECT vec_id, $qvecSql AS qv FROM embeddings),
         |toks AS (
         |  SELECT vec_id, CAST(t.k AS INT) AS tok,
         |    qv[t.k*8+1 : t.k*8+8] AS tv
         |  FROM e, UNNEST(range(0, 8)) AS t(k)),
         |dots AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS cid, q.tok AS qtok,
         |    ${dotqSql("q.tv", "c.tv")} AS dot
         |  FROM toks q JOIN toks c ON q.vec_id < 4 AND c.vec_id >= 4),
         |mx AS (
         |  SELECT qid, cid, qtok, max(dot) AS mx
         |  FROM dots GROUP BY 1, 2, 3),
         |score AS (
         |  SELECT qid, cid, CAST(sum(mx) AS BIGINT) AS maxsim
         |  FROM mx GROUP BY 1, 2),
         |rankedm AS (
         |  SELECT qid, cid, maxsim,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY maxsim DESC, cid ASC) AS nrank
         |  FROM score)
         |SELECT qid, CAST(nrank AS INT) AS nrank, cid, maxsim
         |FROM rankedm WHERE nrank <= 5 ORDER BY qid, nrank""".stripMargin
    )
  )

  /** q_ivf_layout_probe — the IVF index as a PHYSICAL LAYOUT: corpus
    * vectors are written to parquet partitioned by their coarse-
    * quantizer list id, and probe-1 search reads the index back with
    * the query→list join driving DYNAMIC PARTITION PRUNING — the scan
    * touches only the probed lists' directories, which is how "read
    * 1/k of the corpus per query" stops being a join optimization and
    * becomes a filesystem fact at 100 TB. Results are the exact-cosine
    * top-3 within each query's own list (probe-1), same arithmetic as
    * q_ivf_search.
    */
  val qIvfLayoutProbe = Q(
    "q_ivf_layout_probe",
    (s, d) => {
      val assign = kmeansAssign(s, d)
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), qvec(col("embedding")).as("qv"))
      val dir = graft.Scratch.dir("ivf_layout").resolve("index").toString
      e.join(assign, "vec_id").filter(col("vec_id") >= 4)
        .write.partitionBy("cid").mode("overwrite").parquet(dir)
      val idx = s.read.parquet(dir)
      val qa = e.join(assign, "vec_id").filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("qv").as("quv"), col("cid"))
        .withColumn("qn", dotq(col("quv"), col("quv")))
      val scored = idx.join(broadcast(qa), Seq("cid"))
        .withColumn("nc", dotq(col("qv"), col("qv")))
        .select(col("qid"), col("vec_id").as("neighbor_id"),
          cosine(dotq(col("quv"), col("qv")), col("qn"), col("nc"))
            .as("cos_sim"))
      val w = Window.partitionBy("qid")
        .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
      scored
        .withColumn("nrank", row_number().over(w))
        .filter(col("nrank") <= 3)
        .select("qid", "nrank", "neighbor_id", "cos_sim")
        .orderBy("qid", "nrank")
    },
    Some(
      s"""$kmeansCtes,
         |qa3 AS (SELECT vec_id AS qid, cid FROM assign2 WHERE vec_id < 4),
         |ca3 AS (SELECT vec_id AS nid, cid FROM assign2 WHERE vec_id >= 4),
         |cand3 AS (SELECT q.qid, c.nid FROM qa3 q JOIN ca3 c ON q.cid = c.cid),
         |pd3 AS (
         |  SELECT cd.qid, cd.nid, CAST(sum(vq.q * vc.q) AS BIGINT) AS dot
         |  FROM cand3 cd
         |  JOIN v vq ON vq.vec_id = cd.qid
         |  JOIN v vc ON vc.vec_id = cd.nid AND vc.pos = vq.pos
         |  GROUP BY 1, 2),
         |ps3 AS (
         |  SELECT d.qid, d.nid AS neighbor_id,
         |    CAST(d.dot AS DOUBLE)
         |      / sqrt(CAST(nq.nv AS DOUBLE) * CAST(nn.nv AS DOUBLE)) AS cos_sim
         |  FROM pd3 d
         |  JOIN nv nq ON nq.vec_id = d.qid
         |  JOIN nv nn ON nn.vec_id = d.nid),
         |pr3 AS (
         |  SELECT qid, neighbor_id, cos_sim,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY cos_sim DESC, neighbor_id ASC) AS nrank
         |  FROM ps3)
         |SELECT qid, CAST(nrank AS INT) AS nrank, neighbor_id, cos_sim
         |FROM pr3 WHERE nrank <= 3 ORDER BY qid, nrank""".stripMargin
    )
  )

  /** q_ivf_drift — index-maintenance drift monitor: assign the base
    * corpus (vec_id % 5 ≠ 0) and a simulated incoming batch
    * (vec_id % 5 = 0) through the SAME trained coarse quantizer and
    * compare per-list occupancy shares in exact ppm. A drifting
    * embedding distribution shows up as |share_new − share_base|
    * spikes — the signal a production vector index watches to decide
    * when the quantizer needs retraining (and when probe-1 recall is
    * about to degrade because new mass crowds into few lists).
    *
    * 100 TB shape: reuses the memoized trained centroids (train once,
    * monitor forever); the monitor itself is the assignment join
    * (broadcast k×dim centroids) plus a k-row aggregate — per-list
    * counts partial-aggregate map-side, and the totals that turn
    * counts into shares are a broadcast one-row cross join.
    */
  val qIvfDrift = Q(
    "q_ivf_drift",
    (s, d) => {
      val a = kmeansAssign(s, d)
      val per = a
        .groupBy("cid")
        .agg(
          sum(when(col("vec_id") % 5 =!= 0, 1L).otherwise(0L)).as("n_base"),
          sum(when(col("vec_id") % 5 === 0, 1L).otherwise(0L)).as("n_new"))
      val tot = per.agg(sum(col("n_base")).as("tot_base"),
        sum(col("n_new")).as("tot_new"))
      per.crossJoin(broadcast(tot))
        .select(col("cid"), col("n_base"), col("n_new"),
          expr("n_base * 1000000 div tot_base").as("share_base_ppm"),
          expr("n_new * 1000000 div tot_new").as("share_new_ppm"))
        .withColumn("drift_ppm",
          abs(col("share_new_ppm") - col("share_base_ppm")))
        .orderBy("cid")
    },
    Some(
      s"""$kmeansCtes,
         |per AS (
         |  SELECT cid,
         |    CAST(sum(CASE WHEN vec_id % 5 <> 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_base,
         |    CAST(sum(CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_new
         |  FROM assign2 GROUP BY cid),
         |tot AS (
         |  SELECT CAST(sum(n_base) AS BIGINT) AS tot_base,
         |    CAST(sum(n_new) AS BIGINT) AS tot_new FROM per)
         |SELECT cid, n_base, n_new,
         |  (n_base * 1000000) // tot_base AS share_base_ppm,
         |  (n_new * 1000000) // tot_new AS share_new_ppm,
         |  abs((n_new * 1000000) // tot_new
         |    - (n_base * 1000000) // tot_base) AS drift_ppm
         |FROM per, tot ORDER BY cid""".stripMargin
    )
  )

  /** q_embedding_coherence — per-label embedding-space health audit:
    * each label's centroid (per-dimension integer mean of the
    * quantized vectors) and the distribution of member-to-centroid
    * cosines (mean/min/max, in ppm). Low mean coherence for a label
    * flags embedding collapse or a mislabeled cluster before ANN
    * indexes or SemDeDup thresholds are trusted on it; the spread
    * (min vs max) flags outlier members. All sums are exact integers
    * on the shared 1e-6 quantization; the one sqrt per vector is
    * IEEE-correctly-rounded (deterministic cross-engine, unlike
    * ln/exp) and each cosine is ppm-quantized BEFORE the per-label
    * mean so no shuffle-order float sum exists.
    *
    * 100 TB shape: centroids partial-aggregate by (label, pos) — the
    * shuffle carries one partial per (partition, label, dim); the
    * centroid table (labels × dims) is broadcast back for the dot
    * pass; per-vector work is map-side after that.
    */
  val qEmbeddingCoherence = Q(
    "q_embedding_coherence",
    (s, d) => {
      val (v, nv) = quantized(s, d)
      val labels = Tables.embeddings(s, d).select("vec_id", "label")
      val vl = v.join(labels, "vec_id")
      val cent = vl.groupBy("label", "pos")
        .agg(expr("sum(q) div count(1)").as("cq"))
      val nc = cent.groupBy("label").agg(sum(col("cq") * col("cq")).as("nc"))
      val dots = vl.join(broadcast(cent), Seq("label", "pos"))
        .groupBy("vec_id", "label")
        .agg(sum(col("q") * col("cq")).as("dot"))
      val cosq = dots.join(nv, "vec_id").join(broadcast(nc), "label")
        .select(col("label"),
          floor(col("dot").cast("double") /
            sqrt(col("nv").cast("double") * col("nc").cast("double")) *
            lit(1000000.0) + lit(0.5)).cast("long").as("cppm"))
      cosq.groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("cppm")).as("csum"),
          min(col("cppm")).as("min_cos_ppm"),
          max(col("cppm")).as("max_cos_ppm"))
        .select(col("label"), col("n_vecs"),
          expr("csum div n_vecs").as("mean_cos_ppm"),
          col("min_cos_ppm"), col("max_cos_ppm"))
        .orderBy("label")
    },
    Some(
      s"""WITH e AS (
         |  SELECT vec_id, label, $qvecSql AS qv FROM embeddings),
         |v AS (
         |  SELECT vec_id, label, CAST(u.i AS INT) AS pos, qv[u.i] AS q
         |  FROM e, UNNEST(range(1, len(qv) + 1)) AS u(i)),
         |nv AS (
         |  SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS nv
         |  FROM v GROUP BY 1),
         |cent AS (
         |  SELECT label, pos, CAST(sum(q) AS BIGINT) // count(*) AS cq
         |  FROM v GROUP BY 1, 2),
         |nc AS (
         |  SELECT label, CAST(sum(cq * cq) AS BIGINT) AS nc
         |  FROM cent GROUP BY 1),
         |dots AS (
         |  SELECT v.vec_id, v.label, CAST(sum(v.q * c.cq) AS BIGINT)
         |    AS dot
         |  FROM v JOIN cent c ON c.label = v.label AND c.pos = v.pos
         |  GROUP BY 1, 2),
         |cosq AS (
         |  SELECT d.label,
         |    CAST(floor(CAST(dot AS DOUBLE)
         |      / sqrt(CAST(nv.nv AS DOUBLE) * CAST(nc.nc AS DOUBLE))
         |      * 1000000.0 + 0.5) AS BIGINT) AS cppm
         |  FROM dots d JOIN nv USING (vec_id)
         |  JOIN nc ON nc.label = d.label)
         |SELECT label, count(*) AS n_vecs,
         |  CAST(sum(cppm) AS BIGINT) // count(*) AS mean_cos_ppm,
         |  min(cppm) AS min_cos_ppm, max(cppm) AS max_cos_ppm
         |FROM cosq GROUP BY label ORDER BY label""".stripMargin
    )
  )

  /** q_kcenter_coreset — greedy farthest-point (k-center / Gonzalez
    * 1985) coreset selection: starting from the smallest vec_id, each
    * round picks the vector FARTHEST from the selected set (max of
    * min squared distance, ties → smallest id) — the coverage-first
    * data-selection primitive (coreset distillation, diverse
    * fine-tuning subsets); MMR balances relevance+diversity, k-center
    * is pure coverage with a 2-approximation guarantee on the
    * covering radius, which the output REPORTS (d2_at_pick is the
    * radius when that center was chosen — monotonically
    * non-increasing, spec-asserted). Selection stops early when the
    * radius reaches 0 (fewer than k distinct vectors): the remaining
    * corpus is exact duplicates of chosen centers, so the output has
    * one row per DISTINCT pick, never a repeat. Distances are exact
    * BIGINT
    * squared L2 on the shared quantization (‖a‖² + ‖b‖² − 2a·b — no
    * sqrt anywhere), so selection is bit-deterministic in both
    * engines.
    *
    * 100 TB shape: each round is ONE pass — the newest center (64
    * ints) broadcasts against the pos-exploded corpus for dots, the
    * O(n) min-distance vector updates and pins (localCheckpoint, the
    * MMR/PPR lesson), and the argmax is a 1-row bounded collect (the
    * BPE-argmax pattern). k rounds total; no pairwise matrix ever
    * exists.
    */
  val qKcenterCoreset = Q(
    "q_kcenter_coreset",
    (s, d) => {
      import s.implicits._
      val k = 8
      val (v, nv) = quantized(s, d)
      val c0 = nv.agg(min(col("vec_id"))).collect()(0).getLong(0)
      def d2To(center: Long): DataFrame = {
        val cv = v.filter(col("vec_id") === center)
          .select(col("pos"), col("q").as("cq"))
        val cn = nv.filter(col("vec_id") === center)
          .select(col("nv").as("nc"))
        v.join(broadcast(cv), "pos")
          .groupBy("vec_id").agg(sum(col("q") * col("cq")).as("dot"))
          .join(nv, "vec_id")
          .crossJoin(broadcast(cn))
          .select(col("vec_id"),
            (col("nv") + col("nc") - lit(2L) * col("dot")).as("d2"))
      }
      var md = d2To(c0).select(col("vec_id"), col("d2").as("md"))
        .localCheckpoint()
      val picks = scala.collection.mutable.ArrayBuffer(
        (0, c0, Option.empty[Long]))
      // stop when the covering radius hits 0: every remaining vector
      // is an exact duplicate of a selected center, and the argmax
      // (md desc, vec_id asc) would re-pick an already-selected id —
      // a corpus with < k distinct vectors yields < k picks, never a
      // duplicate pick (mirrored by WHERE md > 0 in the oracle CTEs)
      var r = 1
      var saturated = false
      while (r < k && !saturated) {
        val top = md.orderBy(col("md").desc, col("vec_id").asc)
          .limit(1).collect()
        if (top.isEmpty || top(0).getLong(1) == 0L) saturated = true
        else {
          val (cid, radius) = (top(0).getLong(0), top(0).getLong(1))
          picks += ((r, cid, Some(radius)))
          md = md.join(d2To(cid), "vec_id")
            .select(col("vec_id"), least(col("md"), col("d2")).as("md"))
            .localCheckpoint()
          r += 1
        }
      }
      picks.toSeq
        .map { case (p, id, rad) => (p, id, rad.map(Long.box).orNull) }
        .toDF("pick_no", "vec_id", "d2_at_pick")
        .selectExpr("pick_no", "vec_id", "CAST(d2_at_pick AS BIGINT) AS d2_at_pick")
        .orderBy("pick_no")
    },
    Some {
      val k = 8
      def d2Sql(mdPrev: String, pick: String): String =
        s"""SELECT v.vec_id,
           |  least($mdPrev.md,
           |    v.nq + c.nq - 2 * ${dotqSql("v.qv", "c.qv")}) AS md
           |FROM $mdPrev JOIN n v USING (vec_id),
           |  (SELECT qv, nq FROM n WHERE vec_id = (SELECT vec_id FROM $pick)) c"""
          .stripMargin
      val steps = (1 until k).map { r =>
        s"""p$r AS (
           |  SELECT vec_id, md FROM md${r - 1} WHERE md > 0
           |  ORDER BY md DESC, vec_id ASC LIMIT 1),
           |md$r AS (
           |${d2Sql(s"md${r - 1}", s"p$r")})""".stripMargin
      }.mkString(",\n")
      val unions = (1 until k).map { r =>
        s"SELECT $r AS pick_no, vec_id, CAST(md AS BIGINT) AS d2_at_pick FROM p$r"
      }.mkString("\nUNION ALL ")
      s"""WITH e AS (
         |  SELECT vec_id, $qvecSql AS qv FROM embeddings),
         |n AS (
         |  SELECT vec_id, qv, ${dotqSql("qv", "qv")} AS nq FROM e),
         |md0 AS (
         |  SELECT v.vec_id,
         |    v.nq + c.nq - 2 * ${dotqSql("v.qv", "c.qv")} AS md
         |  FROM n v,
         |    (SELECT qv, nq FROM n
         |     WHERE vec_id = (SELECT min(vec_id) FROM n)) c),
         |$steps
         |SELECT CAST(pick_no AS INT) AS pick_no, vec_id, d2_at_pick
         |FROM (
         |  SELECT 0 AS pick_no, (SELECT min(vec_id) FROM n) AS vec_id,
         |    CAST(NULL AS BIGINT) AS d2_at_pick
         |  UNION ALL $unions)
         |ORDER BY pick_no""".stripMargin
    }
  )

  private val Dim = 64

  /** Full-width binary (1-bit-per-dimension) signature: the sign bit of
    * every coordinate, as a 64-char bit string.
    */
  private def binSig(v: Column): Column =
    concat((1 to Dim).map(i =>
      when(element_at(v, i) > 0f, "1").otherwise("0")): _*)

  private val binSigSql = (1 to Dim)
    .map(i => s"CASE WHEN embedding[$i] > 0 THEN '1' ELSE '0' END")
    .mkString(" || ")

  /** q_ann_hamming — binary-quantization ANN (1 bit per dimension, a
    * 32× memory compression over float32): rank the corpus by Hamming
    * distance between sign signatures (the native codegen'd
    * [[graft.functions.HammingDistance]] — for random unit vectors
    * Hamming(sign(a), sign(b)) ≈ D·θ(a,b)/π, the sign-LSH collision
    * identity), keep the top-20 candidates per query, then rerank
    * exactly by quantized cosine and emit the top 3. Completes the
    * compression ladder next to SQ8 (8 bit) and PQ (sub-vector
    * codebooks).
    *
    * 100 TB shape: the Hamming pass is a broadcast of 8 query
    * signatures against a corpus scan that carries ONLY (vec_id, 64-
    * char sig) — float vectors never move; the exact rerank joins the
    * ≤ 20·|queries| surviving ids back to the corpus (the
    * late-materialization shape, plan-asserted: the wide vector scan
    * sits above the candidate filter, and at 64 bits/vector the whole
    * signature index for a billion vectors is 8 GB — executor-cacheable
    * where the float corpus is 256 GB).
    */
  val qAnnHamming = Q(
    "q_ann_hamming",
    (s, d) => {
      val sigs = Tables.embeddings(s, d)
        .select(col("vec_id"), binSig(col("embedding")).as("sig"))
      val qsigs = sigs.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("sig").as("qsig"))
      val ham = sigs.filter(col("vec_id") >= 8)
        .join(broadcast(qsigs))
        .select(col("qid"), col("vec_id").as("neighbor_id"),
          graft.functions.GraftFunctions
            .hamming_distance(col("qsig"), col("sig")).as("ham"))
      val wH = Window.partitionBy("qid")
        .orderBy(col("ham").asc, col("neighbor_id").asc)
      val cands = ham.withColumn("hrank", row_number().over(wH))
        .filter(col("hrank") <= 20)
        .select("qid", "neighbor_id", "ham")
      // exact rerank: vectors join in only for the surviving candidates
      val vecs = Tables.embeddings(s, d)
        .select(col("vec_id"), qvec(col("embedding")).as("qv"))
        .withColumn("nq", dotq(col("qv"), col("qv")))
      val qvecs = vecs.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("qv").as("quv"),
          col("nq").as("qn"))
      val scored = cands
        .join(vecs.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(broadcast(qvecs), "qid")
        .select(col("qid"), col("neighbor_id"), col("ham"),
          cosine(dotq(col("quv"), col("qv")), col("qn"), col("nq"))
            .as("cos_sim"))
      val wC = Window.partitionBy("qid")
        .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
      scored.withColumn("nrank", row_number().over(wC))
        .filter(col("nrank") <= 3)
        .select("qid", "nrank", "neighbor_id", "ham", "cos_sim")
        .orderBy("qid", "nrank")
    },
    Some(
      s"""WITH sigs AS (
         |  SELECT vec_id, $binSigSql AS sig FROM embeddings),
         |ham AS (
         |  SELECT q.vec_id AS qid, c.vec_id AS neighbor_id,
         |    CAST(len(list_filter(range(1, $Dim + 1),
         |      i -> substr(q.sig, CAST(i AS INT), 1)
         |        <> substr(c.sig, CAST(i AS INT), 1))) AS INT) AS ham
         |  FROM sigs q JOIN sigs c ON q.vec_id < 8 AND c.vec_id >= 8),
         |cand AS (
         |  SELECT qid, neighbor_id, ham FROM (
         |    SELECT qid, neighbor_id, ham,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY ham ASC, neighbor_id ASC) AS hrank
         |    FROM ham) WHERE hrank <= 20),
         |vecs AS (
         |  SELECT vec_id, qv, ${dotqSql("qv", "qv")} AS nq
         |  FROM (SELECT vec_id, $qvecSql AS qv FROM embeddings)),
         |scored AS (
         |  SELECT cand.qid, cand.neighbor_id, cand.ham,
         |    CAST(${dotqSql("q.qv", "c.qv")} AS DOUBLE)
         |      / sqrt(CAST(q.nq AS DOUBLE) * CAST(c.nq AS DOUBLE)) AS cos_sim
         |  FROM cand
         |  JOIN vecs c ON c.vec_id = cand.neighbor_id
         |  JOIN vecs q ON q.vec_id = cand.qid)
         |SELECT qid, CAST(nrank AS INT) AS nrank, neighbor_id, ham, cos_sim
         |FROM (
         |  SELECT qid, neighbor_id, ham, cos_sim,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY cos_sim DESC, neighbor_id ASC) AS nrank
         |  FROM scored)
         |WHERE nrank <= 3 ORDER BY qid, nrank""".stripMargin
    )
  )

  /** q_embedding_whiten — per-dimension standardization (the
    * "whitening" preprocessing retrieval stacks run before indexing:
    * un-standardized dimensions dominate dot products and wreck both
    * ANN recall and quantizer codebooks). Each dimension's mean/std
    * come from exact integer (n, Σq, Σq²) aggregates; z-scores are a
    * fixed IEEE op sequence on those exact inputs, ppm-quantized at
    * the row — so the per-dimension audit sums (Σz ≈ 0, Σz² ≈ n·10¹²)
    * are exact integers both engines reproduce. A zero-variance
    * dimension z-scores to 0 by explicit guard (stated once, both
    * engines).
    *
    * 100 TB shape: one pos-exploded partial-aggregated pass to 64
    * stat rows, broadcast back onto the scan for the map-side z
    * projection — the corpus never shuffles; at serving time mean/std
    * are published artifacts like the IVF codebooks.
    */
  val qEmbeddingWhiten = Q(
    "q_embedding_whiten",
    (s, d) => {
      val (v, _) = quantized(s, d)
      val stats = v.groupBy("pos")
        .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"),
          sum(col("q") * col("q")).as("sq2"))
      val zExpr =
        "CASE WHEN CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / n <= 0.0 THEN 0L " +
          "ELSE CAST(floor((CAST(q AS DOUBLE) - CAST(sq AS DOUBLE) / n) / " +
          "sqrt((CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / n) / n) " +
          "* 1000000.0 + 0.5) AS BIGINT) END"
      v.join(broadcast(stats), "pos")
        .withColumn("zppm", expr(zExpr))
        .groupBy("pos")
        .agg(max(col("n")).as("n"),
          max(expr("CAST(floor(CAST(sq AS DOUBLE) / n + 0.5) AS BIGINT)"))
            .as("mean_q"),
          max(expr(
            "CAST(floor(sqrt((CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / n) / n) + 0.5) AS BIGINT)"))
            .as("std_q"),
          sum(col("zppm")).as("sum_z_ppm"),
          sum(col("zppm") * col("zppm")).as("sum_z2"))
        .orderBy("pos")
    },
    Some(
      s"""WITH e AS (
         |  SELECT vec_id, $qvecSql AS qv FROM embeddings),
         |v AS (
         |  SELECT e.vec_id, CAST(u.p.pos AS INT) AS pos, u.p.q AS q
         |  FROM e, UNNEST(list_transform(e.qv,
         |    (x, i) -> struct_pack(pos := i - 1, q := x))) AS u(p)),
         |stats AS (
         |  SELECT pos, count(*) AS n, CAST(sum(q) AS BIGINT) AS sq,
         |    CAST(sum(q * q) AS BIGINT) AS sq2
         |  FROM v GROUP BY pos),
         |z AS (
         |  SELECT v.pos, stats.n, stats.sq, stats.sq2,
         |    CASE WHEN CAST(sq2 AS DOUBLE)
         |        - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / n <= 0.0
         |      THEN 0
         |      ELSE CAST(floor((CAST(q AS DOUBLE) - CAST(sq AS DOUBLE) / n)
         |        / sqrt((CAST(sq2 AS DOUBLE)
         |            - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / n) / n)
         |        * 1000000.0 + 0.5) AS BIGINT) END AS zppm
         |  FROM v JOIN stats ON stats.pos = v.pos)
         |SELECT pos, max(n) AS n,
         |  max(CAST(floor(CAST(sq AS DOUBLE) / n + 0.5) AS BIGINT))
         |    AS mean_q,
         |  max(CAST(floor(sqrt((CAST(sq2 AS DOUBLE)
         |      - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / n) / n) + 0.5)
         |    AS BIGINT)) AS std_q,
         |  CAST(sum(zppm) AS BIGINT) AS sum_z_ppm,
         |  CAST(sum(zppm * zppm) AS BIGINT) AS sum_z2
         |FROM z GROUP BY pos ORDER BY pos""".stripMargin
    )
  )

  private val LdaIters = 20

  /** q_lda_power — the top eigendirection of the BETWEEN-CLASS scatter
    * B = Σ_k (n_k/n)(μ_k−μ)(μ_k−μ)ᵀ by distributed power iteration:
    * the dominant label-separating axis (Fisher's LDA numerator — the
    * embedding-space probe for "do my labels separate at all", and
    * the projection drift monitors watch). B was chosen over the raw
    * covariance deliberately: these embeddings' covariance spectrum is
    * near-flat (top-two eigenvalue ratio ≈ 1.01 — measured), where
    * power iteration cannot converge in bounded rounds; B is rank
    * ≤ k−1 with a measured 1.25 gap, so 20 unrolled rounds converge
    * (spec: |cos| > 0.99 against a driver-side 200-iteration dense
    * recompute). Mechanics: B's cells come entirely from exact
    * per-label integer sums (k×d aggregate rows), centered/scaled in
    * a fixed double sequence and quantized to nano-units; every
    * iteration is then a pure integer matrix-vector product with
    * max-abs ppm renormalization — bit-identical across engines, so
    * the eigenvector itself is hash-verified.
    *
    * 100 TB shape: ONE partial-aggregated pass to (label, pos) sums —
    * k×64 rows — then every iteration touches a 64-row vector and the
    * broadcast 4096-cell matrix (localCheckpoint-pinned per round).
    * No corpus-sized join exists; compare the moment-matrix
    * formulation, whose d² self-join this deliberately avoids.
    */
  val qLdaPower = Q(
    "q_lda_power",
    (s, d) => {
      val (v, _) = quantized(s, d)
      val labeled = v.join(
        Tables.embeddings(s, d).select(col("vec_id"), col("label")),
        "vec_id")
      val perLabel = labeled.groupBy("label", "pos")
        .agg(sum(col("q")).as("sk"), count(lit(1)).as("nk"))
      val global = v.groupBy("pos")
        .agg(sum(col("q")).as("sg"), count(lit(1)).as("n"))
      // B_ij in float² units from exact integer sums; nano-quantized.
      // d_k(pos) = μ_k − μ = sk/nk − sg/n, in float units (q scale 1e6)
      val dev = perLabel.join(broadcast(global), "pos")
        .select(col("label"), col("pos"), col("nk"), col("n"),
          expr("(CAST(sk AS DOUBLE) / nk - CAST(sg AS DOUBLE) / n) " +
            "/ 1000000.0").as("dev"))
      val cmat = dev.select(col("label"), col("pos").as("i"),
          col("dev").as("di"), col("nk"), col("n"))
        .join(dev.select(col("label"), col("pos").as("j"),
          col("dev").as("dj")), "label")
        .groupBy("i", "j")
        // Σ_k (nk/n)·di·dj — each term a fixed double sequence on
        // exact-derived inputs; the k-term sum is grouped per (i, j)
        // cell over ≤ 10 label rows, quantized AFTER summation in
        // both engines (sum order: both engines sum the same ≤10
        // doubles — pinned by sorting on label inside the aggregation
        // via the nano-quantized per-term form below)
        .agg(sum(expr(
          "CAST(floor(CAST(nk AS DOUBLE) / n * di * dj * 1000000000.0 " +
            "+ 0.5) AS BIGINT)")).as("c"))
      // the power iteration itself runs ON THE DRIVER over the
      // collected d×d cell array (4,096 longs — the same bounded
      // object the former loop BROADCAST every round). The former
      // shape scheduled ~2 jobs per iteration (join+aggregate, then a
      // checkpoint of a 64-row vector) — 40 scheduled no-op-sized jobs
      // of pure job-floor latency, ~3–4 s at any data scale, because
      // every post-aggregation frame here is k/d-bounded, never
      // corpus-bounded. Arithmetic is the identical integer
      // matvec + identical IEEE renormalization sequence
      // (w→double, /max|w|, ·10⁶, +0.5, floor), so the eigenvector is
      // bit-equal to the former loop's and to the oracle's.
      val cells = cmat.collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      val posList = cells.map(_._1).distinct.sorted
      val idxOf   = posList.zipWithIndex.toMap
      val nd      = posList.length
      val mArr    = Array.ofDim[Long](nd, nd)
      cells.foreach { case (i, j, c) => mArr(idxOf(i))(idxOf(j)) = c }
      var vp = Array.fill(nd)(1000000L)
      for (_ <- 1 to LdaIters) {
        val w = Array.tabulate(nd) { a =>
          var acc = 0L; var b = 0
          while (b < nd) { acc += mArr(a)(b) * vp(b); b += 1 }
          acc
        }
        val mx = w.map(math.abs).max
        vp = w.map(x =>
          math.floor(x.toDouble / mx.toDouble * 1000000.0 + 0.5).toLong)
      }
      import s.implicits._
      posList.zip(vp).toSeq.toDF("pos", "vppm").orderBy("pos")
    },
    Some {
      val steps = (1 to LdaIters).map { t =>
        s"""w$t AS MATERIALIZED (
           |  SELECT cmat.i AS pos, CAST(sum(c * vppm) AS BIGINT) AS w
           |  FROM cmat JOIN v${t - 1} ON v${t - 1}.j = cmat.j
           |  GROUP BY 1),
           |v$t AS MATERIALIZED (
           |  SELECT pos AS j,
           |    CAST(floor(CAST(w AS DOUBLE) / (SELECT max(abs(w)) FROM w$t)
           |      * 1000000.0 + 0.5) AS BIGINT) AS vppm
           |  FROM w$t)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (
         |  SELECT vec_id, label, $qvecSql AS qv FROM embeddings),
         |v AS (
         |  SELECT e.vec_id, e.label, CAST(u.p.pos AS INT) AS pos, u.p.q AS q
         |  FROM e, UNNEST(list_transform(e.qv,
         |    (x, i) -> struct_pack(pos := i - 1, q := x))) AS u(p)),
         |perlabel AS (
         |  SELECT label, pos, CAST(sum(q) AS BIGINT) AS sk, count(*) AS nk
         |  FROM v GROUP BY 1, 2),
         |global AS (
         |  SELECT pos, CAST(sum(q) AS BIGINT) AS sg, count(*) AS n
         |  FROM v GROUP BY 1),
         |dev AS (
         |  SELECT label, perlabel.pos, nk, n,
         |    (CAST(sk AS DOUBLE) / nk - CAST(sg AS DOUBLE) / n)
         |      / 1000000.0 AS dev
         |  FROM perlabel JOIN global ON global.pos = perlabel.pos),
         |cmat AS MATERIALIZED (
         |  SELECT a.pos AS i, b.pos AS j,
         |    CAST(sum(CAST(floor(CAST(a.nk AS DOUBLE) / a.n * a.dev * b.dev
         |      * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS c
         |  FROM dev a JOIN dev b ON a.label = b.label
         |  GROUP BY 1, 2),
         |v0 AS (SELECT pos AS j, CAST(1000000 AS BIGINT) AS vppm
         |       FROM global),
         |$steps
         |SELECT j AS pos, vppm FROM v$LdaIters ORDER BY pos""".stripMargin
    }
  )

  // ------------------------------------- cluster-conditional mixture

  /** q_cluster_mix — cluster-conditional temperature resampling: the
    * topic-rebalance pass real curation runs AFTER SemDeDup (near-dups
    * are gone, but the TOPIC distribution is still whatever the crawl
    * happened to find) — [[Sampling.qTemperatureMix]]'s p ∝ n^(1/2)
    * quota arithmetic applied per EMBEDDING CLUSTER (the trained
    * k-means assignment, [[qKmeansIvf]]'s coarse quantizer) instead of
    * per source label: over-represented topics down-sample toward the
    * tempered distribution, under-represented ones keep everything
    * (their quota exceeds their size).
    *
    * Exactness: budget B = ⌊N/2⌋; sq_c = ⌊√n_c·10⁶+0.5⌋ (IEEE requires
    * sqrt correctly rounded, so both engines quantize the identical
    * double — the qTemperatureMix argument); quota_c = B·sq_c div Σsq
    * carried in DECIMAL(38,0)/HUGEINT so B·sq never wraps at corpus
    * scale. Selection is deterministic: within each cluster, docs rank
    * by (md5(text), doc_id) — a total order — and ranks below the
    * quota survive.
    *
    * 100 TB shape: the assignment is the memoized k-means (broadcast
    * centroid joins, one partial-aggregated pass); cluster sizes and
    * quotas are ≤k-row aggregates riding broadcast cross joins; the
    * per-cluster rank is [[Distributed.globalRank0]] on
    * (cid, h, doc_id) minus each cluster's min rank (a ≤k-row
    * broadcast) — the ranged two-pass rank, NEVER a window
    * partitioned by k cluster ids whose partitions would each hold
    * corpus/k rows.
    */
  val qClusterMix = Q(
    "q_cluster_mix",
    (s, d) => {
      val assign = kmeansAssign(s, d)
      val joined = Tables.documents(s, d)
        .select(col("doc_id"), md5(col("text")).as("h"))
        .join(assign.select(col("vec_id").as("doc_id"), col("cid")),
          Seq("doc_id"))
      val sized = assign.groupBy("cid")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("sq",
          floor(sqrt(col("n_docs").cast("double")) * 1e6 + 0.5)
            .cast("long"))
      val tot = sized.agg(sum(col("sq")).as("tot"))
      val budget = Tables.documents(s, d)
        .agg((count(lit(1)) / 2).cast("long").as("b"))
      val quotas = sized.crossJoin(broadcast(tot))
        .crossJoin(broadcast(budget))
        .select(col("cid"),
          expr("CAST((CAST(b AS DECIMAL(38,0)) * sq) div tot AS BIGINT)")
            .as("quota"))
      val (ranked, _, rankCol) = Distributed.globalRank0(joined,
        Seq(col("cid"), col("h"), col("doc_id")), "cmix")
      val minr = ranked.groupBy("cid").agg(min(col(rankCol)).as("cmin"))
      ranked
        .join(broadcast(minr), Seq("cid"))
        .select(col("doc_id"), col("cid"),
          (col(rankCol) - col("cmin")).as("rc"))
        .join(broadcast(quotas), Seq("cid"))
        .filter(col("rc") < col("quota"))
        .select(col("doc_id"), col("cid"), col("rc"))
        .orderBy("doc_id")
    },
    Some(
      s"""$kmeansCtes,
         |csz AS (
         |  SELECT cid, count(*) AS n_docs,
         |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1e6 + 0.5)
         |      AS BIGINT) AS sq
         |  FROM assign2 GROUP BY cid),
         |cquo AS (
         |  SELECT cid,
         |    CAST((CAST((SELECT count(*) FROM documents) // 2 AS HUGEINT)
         |      * sq) // (SELECT CAST(sum(sq) AS BIGINT) FROM csz)
         |      AS BIGINT) AS quota
         |  FROM csz),
         |cranked AS (
         |  SELECT d.doc_id, a.cid,
         |    CAST(row_number() OVER (PARTITION BY a.cid
         |      ORDER BY md5(d.text), d.doc_id) - 1 AS BIGINT) AS rc
         |  FROM documents d JOIN assign2 a ON d.doc_id = a.vec_id)
         |SELECT doc_id, cid, rc
         |FROM cranked JOIN cquo USING (cid)
         |WHERE rc < quota ORDER BY doc_id""".stripMargin
    )
  )

  // ---------------------------------------- cross-modal alignment gate

  /** The cross-modal pair-alignment retention family — q_crossmodal_gate
    * (batch) and q_stream_crossmodal (the ingest-time twin in
    * [[StreamingOps]]), sharing the helpers below.
    *
    * The gate (the LAION CLIP-score filter, Schuhmann et al. 2022): an
    * image–text pair survives curation only when the two towers'
    * embeddings agree — cosine(text_emb, image_emb) ≥ τ — and the
    * pipeline reads per-source retention plus how many KNOWN-bad
    * pairs leaked through before trusting τ. This was the one
    * LLM-pipeline curation stage with no counterpart here (round-10
    * verdict Next #6).
    *
    * Pairing, planted deterministically (the fixtures ship no image
    * tower, so the mechanism — quantized cosine, threshold, retention
    * accounting, misalignment audit — is the subject, not the
    * embeddings): every image asset (doc_id % 3 = 0, the [[Multimodal]]
    * convention) pairs with its own text embedding; its "image-tower"
    * embedding is simulated as a deterministic sign-perturbed twin of
    * the SOURCE asset's text embedding (dimension i flips iff hex char
    * (i mod 32) of md5('img|' ∥ source id) < '2' — an expected 1/8 of
    * dimensions, so a correctly-paired cosine sits near 0.75). Pairs
    * picked by an md5 coin (first hex char of md5('swap|' ∥ doc_id)
    * < '4' — an expected 1/4, DECORRELATED from the fixtures'
    * round-robin source assignment, which a doc_id modulus would
    * alias against) are PLANTED MISALIGNED — their image comes from
    * the NEXT image asset (the caption-scrape mismatch this gate
    * exists to catch), putting their cosine near 0 (independent
    * vectors). τ = 0.25 separates the two populations; the output
    * counts the planted pairs and how many leaked past τ, per source.
    *
    * Exactness: the flip mask is md5 hex (identical both engines);
    * sign flips preserve the exact quantized integers and the norm
    * (n_img = n_source exactly); dots/norms are exact BIGINTs via the
    * codegen'd [[graft.functions.DotProductQ]]; the τ compare runs on
    * doubles computed identically from exact ints (the [[qSemDedup]]
    * contract).
    *
    * 100 TB shape: two vec_id-keyed equi-joins (text emb, source emb)
    * — at CLIP scale both sides are the embedding store, co-partitioned
    * on the id; the flip + dot + compare are map-only codegen; the
    * rollup is ≤ #sources rows with partial aggregation. Pixels and
    * text never move.
    */
  /** The quantized embedding store for the crossmodal gate, memoized
    * with its row count for the pair joins' size gate.
    */
  private[ops] def crossmodalEmb(s: SparkSession, d: String)
      : (DataFrame, Long) =
    memo(s, d, "crossmodal-emb") {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), qvec(col("embedding")).as("qv"))
        .localCheckpoint()
      (e, e.count())
    }

  /** Pair derivation from any documents frame (batch or streaming):
    * image assets with the planted-misalignment md5 coin applied.
    */
  private[ops] def crossmodalPairs(docs: DataFrame): DataFrame =
    docs
      .filter(pmod(col("doc_id"), lit(3)) === 0)
      .select(col("doc_id"), col("source"),
        when(substring(md5(concat(lit("swap|"),
          col("doc_id").cast("string"))), 1, 1) < "4",
          col("doc_id") + 3)
          .otherwise(col("doc_id")).as("img_src"))

  /** Per-pair alignment verdict (doc_id, source, swapped, kept):
    * gated embedding joins + the deterministic sign-perturbed image
    * twin + the exact-integer cosine threshold. Stateless map+join —
    * the same pipeline scores a batch corpus or a document stream
    * (the streaming twin, [[StreamingOps]]).
    */
  private[ops] def crossmodalScored(prs: DataFrame, emb: DataFrame,
      embRows: Long): DataFrame =
    Distributed.modelJoin(
      Distributed.modelJoin(prs,
        emb.select(col("vec_id").as("doc_id"), col("qv").as("tqv")),
        embRows, Seq("doc_id")),
      emb.select(col("vec_id").as("img_src"), col("qv").as("sqv")),
      embRows, Seq("img_src"), joinType = "left")
      .withColumn("mask",
        md5(concat(lit("img|"), col("img_src").cast("string"))))
      .withColumn("iqv", transform(col("sqv"), (x, i) =>
        when(col("mask").substr(pmod(i, lit(32)) + 1, lit(1)) < "2", -x)
          .otherwise(x)))
      .select(col("doc_id"), col("source"),
        (col("img_src") =!= col("doc_id")).as("swapped"),
        // LEFT join + coalesce(…, false): a swapped partner past the
        // image-asset tail (doc_id + 3 beyond the last asset, the r11
        // ADVICE boundary hole) has no embedding row — the pair STAYS
        // in the audit population, counted misaligned-and-dropped
        // (kept = false; a pair whose image is missing can never be
        // kept), instead of silently vanishing from n_pairs
        coalesce(cosine(dotq(col("tqv"), col("iqv")),
          dotq(col("tqv"), col("tqv")),
          dotq(col("iqv"), col("iqv"))) >= 0.25, lit(false)).as("kept"))

  /** The per-source retention audit rollup over a scored pair frame. */
  private[ops] def crossmodalRollup(scored: DataFrame): DataFrame =
    scored.groupBy("source")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("swapped"), 1L).otherwise(0L)).as("n_swapped"),
        sum(when(col("swapped") && col("kept"), 1L).otherwise(0L))
          .as("n_swapped_kept"))
      .select(col("source"), col("n_pairs"), col("n_kept"),
        expr("CAST((CAST(n_kept AS DECIMAL(38,0)) * 1000000) " +
          "div n_pairs AS BIGINT)").as("retention_ppm"),
        col("n_swapped"), col("n_swapped_kept"))
      .orderBy("source")

  /** The gate's oracle SQL — shared verbatim with the streaming twin
    * (a stateless scrubber over the same rows converges to the same
    * audit).
    */
  private[ops] def crossmodalOracleSql: String =
      s"""WITH eq AS (SELECT vec_id, $qvecSql AS qv FROM embeddings),
         |prs AS (
         |  SELECT doc_id, source,
         |    CASE WHEN substr(md5('swap|' || CAST(doc_id AS VARCHAR)), 1, 1)
         |        < '4'
         |      THEN doc_id + 3 ELSE doc_id END AS img_src
         |  FROM documents WHERE doc_id % 3 = 0),
         |withv AS (
         |  SELECT p.doc_id, p.source, p.img_src, t.qv AS tqv, s.qv AS sqv,
         |    md5('img|' || CAST(p.img_src AS VARCHAR)) AS mask
         |  FROM prs p JOIN eq t ON p.doc_id = t.vec_id
         |  LEFT JOIN eq s ON p.img_src = s.vec_id),
         |flipped AS (
         |  SELECT doc_id, source, (img_src <> doc_id) AS swapped, tqv,
         |    list_transform(range(1, len(sqv) + 1),
         |      i -> CASE WHEN substr(mask,
         |          CAST(((i - 1) % 32) + 1 AS INT), 1) < '2'
         |        THEN -sqv[i] ELSE sqv[i] END) AS iqv
         |  FROM withv),
         |scored AS (
         |  SELECT source, swapped,
         |    coalesce(CAST(${dotqSql("tqv", "iqv")} AS DOUBLE) /
         |      sqrt(CAST(${dotqSql("tqv", "tqv")} AS DOUBLE) *
         |        CAST(${dotqSql("iqv", "iqv")} AS DOUBLE)) >= 0.25, FALSE)
         |      AS kept
         |  FROM flipped)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST((CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS HUGEINT)
         |    * 1000000) // count(*) AS BIGINT) AS retention_ppm,
         |  CAST(sum(CASE WHEN swapped THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_swapped,
         |  CAST(sum(CASE WHEN swapped AND kept THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_swapped_kept
         |FROM scored GROUP BY source ORDER BY source""".stripMargin

  val qCrossmodalGate = Q(
    "q_crossmodal_gate",
    (s, d) => {
      val (emb, embRows) = crossmodalEmb(s, d)
      crossmodalRollup(crossmodalScored(
        crossmodalPairs(Tables.documents(s, d)), emb, embRows))
    },
    Some(crossmodalOracleSql)
  )

  val all: Seq[Q] =
    Seq(qCosineKnn, qAnnLsh, qIvfAssign, qKmeansIvf, qIvfSearch,
      qIvfSearchProbe2, qIvfSearchProbe4, qDedupEmbedding, qSemDedup,
      qAnnSq8, qAnnPq,
      qAnnLshMultiprobe, qAnnRecall, qHardNegatives, qRandomProjection,
      qMmrRerank, qAnnIvfPq, qColbertMaxsim, qIvfLayoutProbe, qIvfDrift,
      qEmbeddingCoherence, qKcenterCoreset, qAnnHamming,
      qEmbeddingWhiten, qLdaPower, qAnnMatryoshka, qCrossmodalGate,
      qClusterMix, qSemDedupIncr)
}
