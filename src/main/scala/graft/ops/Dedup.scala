package graft.ops

import graft.{Hash, OracleSql, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Deduplication operators for a training-data pipeline (builder-brief
  * extension; the reference has no dedup surface, SURVEY.md §2 notes).
  *
  * Hash primitive is md5 (identical hex in Spark and DuckDB), so every
  * stage — including MinHash signatures and LSH banding — is exactly
  * reproducible by the oracle.
  *
  * Scale design (100 TB):
  *  - exact dedup groups by a 128-bit digest, not the full text, so the
  *    shuffle carries 16-byte keys instead of documents;
  *  - MinHash signatures explode shingles and partial-aggregate the
  *    8 min-slices map-side, so the signature shuffle carries one row
  *    per (partition, doc) — measured faster than the zero-shuffle
  *    array-lambda formulation, which re-walks the digest array per
  *    component; the band-bucket self-join is the LSH point: the join
  *    key (band hash) has tiny cardinality per bucket;
  *  - SimHash is map-only per doc.
  */
object Dedup {

  /** Character 4-gram multiset of `text` (positions 1..len-3). */
  private[ops] def grams4(text: Column): Column =
    transform(
      sequence(lit(1), greatest(length(text) - 3, lit(1))),
      i => text.substr(i, lit(4))
    )

  private[ops] val gramsSql =
    "list_transform(range(1, greatest(length(text) - 3, 1) + 1), i -> substr(text, i, 4))"

  /** Word 3-shingles — the standard MinHash unit for text dedup (one
    * shingle per token instead of one per character keeps the hash
    * budget ~6× smaller than char grams at the same recall).
    */
  /** Shingles from an already-materialized token-array column. Callers
    * must bind `toks` to an attribute (e.g. via a generator), not a raw
    * split() expression — Catalyst inlines expressions into array
    * lambdas, which would re-split the text once per shingle position.
    */
  private[ops] def shinglesOfTokens(toks: Column): Column =
    transform(
      sequence(lit(1), greatest(size(toks) - 2, lit(1))),
      i =>
        // try_element_at: out-of-range → NULL (skipped by concat_ws),
        // matching DuckDB list indexing; plain element_at throws in ANSI
        concat_ws(" ",
          try_element_at(toks, i.cast("int")),
          try_element_at(toks, (i + 1).cast("int")),
          try_element_at(toks, (i + 2).cast("int")))
    )

  private[ops] val wordShinglesSql =
    """list_transform(range(1, greatest(len(string_split_regex(text, '\s+')) - 2, 1) + 1),
      |    i -> concat_ws(' ', string_split_regex(text, '\s+')[i],
      |      string_split_regex(text, '\s+')[i + 1],
      |      string_split_regex(text, '\s+')[i + 2]))""".stripMargin

  private val nHashes = 8

  /** Per-doc MinHash signature + 2 LSH bands (4 hashes per band).
    *
    * Hash-budget-optimized: TWO salted md5 digests per gram (not eight)
    * — the 8 minhash components are minima of disjoint 32-bit (8-hex)
    * slices of those digests (slices of a cryptographic digest are
    * independent enough for MinHash; the standard budget trick).
    *
    * Shape: explode grams → flat md5 columns (each digest computed
    * exactly once, whole-stage codegen, no array lambdas) → one hash
    * aggregate with 8 min() columns. Map-side partial aggregation means
    * the shuffle carries one 8-slice row per (partition, doc) — this is
    * the 100 TB-safe formulation.
    */
  private[graft] def signatures(s: SparkSession, d: String): DataFrame = {
    val exploded = Tables
      .documents(s, d)
      // 1-element explode = materialization barrier: split runs once
      // per document, the shingle lambda then indexes the bound array
      .select(col("doc_id"),
        explode(array(split(col("text"), "\\s+"))).as("toks"))
      // one codegen'd kernel call per shingle — both salted digests and
      // all 8 slices come out together (the explode over the
      // transformed array materializes each slice-array exactly once)
      .select(col("doc_id"),
        explode(transform(shinglesOfTokens(col("toks")),
          g => graft.functions.GraftFunctions.minhash_slices(g))).as("hs"))
    // components as BIGINT: min(long) hash-aggregates (min(string)
    // would fall back to SortAggregate)
    val mins = (0 until nHashes).map(j => min(col("hs").getItem(j)).as(s"h$j"))
    exploded
      .groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(
        col("doc_id") +:
          (0 until nHashes).map(j => col(s"h$j")) :+
          md5(concat_ws("|", (0 until 4).map(j => col(s"h$j")): _*)).as("b0") :+
          md5(concat_ws("|", (4 until 8).map(j => col(s"h$j")): _*)).as("b1"): _*
      )
  }

  private[ops] val signaturesSql: String = {
    val hs = (0 until nHashes).map { j =>
      val dig   = if (j < 4) "d0" else "d1"
      val start = (j % 4) * 8 + 1
      s"CAST(min(${OracleSql.hexToBigint(dig, start)}) AS BIGINT) AS h$j"
    }.mkString(",\n    ")
    s"""WITH e AS (
       |  SELECT doc_id, unnest($wordShinglesSql) AS g FROM documents),
       |d AS (
       |  SELECT doc_id, md5('0|' || g) AS d0, md5('1|' || g) AS d1 FROM e),
       |sig AS (
       |  SELECT doc_id,
       |    $hs
       |  FROM d GROUP BY doc_id)
       |SELECT doc_id, h0, h1, h2, h3, h4, h5, h6, h7,
       |  md5(concat_ws('|', h0, h1, h2, h3)) AS b0,
       |  md5(concat_ws('|', h4, h5, h6, h7)) AS b1
       |FROM sig""".stripMargin
  }

  /** q_dedup_exact — exact dedup via content digest: group by md5(text),
    * keep the smallest doc_id per group. The digest (not the document)
    * is the shuffle key.
    */
  val qDedupExact = Q(
    "q_dedup_exact",
    (s, d) =>
      Tables
        .documents(s, d)
        .groupBy(md5(col("text")).as("content_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id"),
    Some(
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin
    ),
    bench = true
  )

  /** q_minhash_signature — per-doc 8-component MinHash signature over
    * char 4-gram shingles, plus the 2 LSH band keys.
    */
  val qMinhashSignature = Q(
    "q_minhash_signature",
    (s, d) => signatures(s, d).orderBy("doc_id"),
    Some(s"$signaturesSql ORDER BY doc_id"),
    bench = true
  )

  /** Default giant-bucket cap: buckets above this size are
    * triangle-partitioned so no single reducer sees the whole bucket.
    */
  private[graft] val BucketCap = 1000

  /** Band rows replicated into triangle cells — the giant-bucket guard.
    *
    * A band self-join's work per bucket is O(n²) *on one reducer* when
    * all n members share the join key. The guard salts each member with
    * `salt = hash(doc_id) mod S` where `S = ceil(n / cap)` (bucket sizes
    * from a cheap partial-aggregated count pre-pass) and replicates it
    * into the S cells `(min(salt,t), max(salt,t))`, t < S. Two members
    * meet in exactly one cell — `(min(salts), max(salts))` — so the join
    * key `(band, bv, lo, hi)` spreads a size-n bucket over S(S+1)/2
    * reducer keys of ≤ ~2·cap members each, preserving the exact pair
    * set. Buckets at or under the cap get S = 1: the single cell (0,0),
    * i.e. the plain join, with no replication.
    *
    * Any columns beyond (doc_id, band, bv) ride along unchanged —
    * callers that need per-row payload at pair time (the PPJoin
    * positional filter's token ranks) join on the same cell keys.
    */
  private[graft] def bandCells(bands: DataFrame, cap: Int): DataFrame = {
    val sizes = bands.groupBy("band", "bv").agg(count(lit(1)).as("bn"))
    bands
      .join(sizes, Seq("band", "bv"))
      .withColumn("nsalt", greatest(lit(1L), ceil(col("bn") / cap)).cast("int"))
      .withColumn("salt", pmod(xxhash64(col("doc_id")), col("nsalt")).cast("int"))
      .withColumn("t", explode(sequence(lit(0), col("nsalt") - 1)))
      .withColumn("lo", least(col("salt"), col("t")))
      .withColumn("hi", greatest(col("salt"), col("t")))
      .drop("bn", "nsalt", "t")
  }

  /** Exact candidate pairs from band rows (id_a < id_b, distinct),
    * skew-safe via [[bandCells]].
    */
  private[graft] def bandPairs(bands: DataFrame, cap: Int): DataFrame = {
    // pin the band rows: they feed FOUR sub-DAGs below (the bucket-size
    // pre-pass inside bandCells plus both sides of the self-join), and
    // for the LSH callers each copy re-derives the whole signature
    // pipeline — measured r14 (SetsimProbe, last in commit b6c9ab4,
    // warm): the equivalent un-pinned prefix pipeline executed ~3×
    // inside one action
    val b = bands.localCheckpoint()
    val cells = bandCells(b, cap)
    cells
      .as("x")
      .join(
        cells.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.lo") === col("y.lo") && col("x.hi") === col("y.hi") &&
          // emit each pair only in its canonical cell (min,max of the two
          // salts) — same-salt pairs co-occur in S cells otherwise
          col("x.lo") === least(col("x.salt"), col("y.salt")) &&
          col("x.hi") === greatest(col("x.salt"), col("y.salt")) &&
          col("x.doc_id") < col("y.doc_id")
      )
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
  }

  /** LSH candidate pairs (id_a < id_b, distinct). */
  private[ops] def lshPairs(s: SparkSession, d: String): DataFrame = {
    val sig = signatures(s, d)
    val bands = sig
      .select(col("doc_id"), lit(0).as("band"), col("b0").as("bv"))
      .union(sig.select(col("doc_id"), lit(1).as("band"), col("b1").as("bv")))
    bandPairs(bands, BucketCap)
  }

  private[ops] val lshPairsSql: String =
    s"""WITH sigs AS ($signaturesSql),
       |bands AS (
       |  SELECT doc_id, 0 AS band, b0 AS bv FROM sigs
       |  UNION ALL SELECT doc_id, 1 AS band, b1 AS bv FROM sigs)
       |SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
       |FROM bands x JOIN bands y
       |  ON x.band = y.band AND x.bv = y.bv AND x.doc_id < y.doc_id""".stripMargin

  /** q_minhash_lsh_pairs — LSH candidate pairs: docs sharing at least
    * one band bucket. Skew-guarded: a bucket-size count pre-pass salts
    * oversized buckets into triangle cells (see [[bandPairs]]), so a
    * degenerate corpus (many identical docs) cannot pin one reducer.
    * Result set is exactly the plain self-join's, so the oracle is
    * unchanged.
    */
  val qMinhashLshPairs = Q(
    "q_minhash_lsh_pairs",
    (s, d) => lshPairs(s, d).orderBy("id_a", "id_b"),
    Some(s"$lshPairsSql\nORDER BY id_a, id_b")
  )

  /** q_dedup_clusters — near-dup clusters: connected components over the
    * LSH pair graph by iterative min-label propagation (labels only
    * decrease; fixpoint when the exact label sum stops changing). The
    * cluster id is the smallest doc_id in the component — the "keep one
    * per cluster" decision of a dedup pipeline.
    *
    * Scale notes: each round is one join + one partial-aggregated
    * groupBy; rounds = graph diameter (near-dup clusters are shallow).
    * `localCheckpoint` per round caps lineage; the driver holds one
    * Long per round. (The large-star/small-star optimization halves
    * rounds at extreme scale; plain propagation keeps oracle parity
    * simple.)
    */
  val qDedupClusters = Q(
    "q_dedup_clusters",
    (s, d) => {
      // large-star/small-star: O(log n) shuffle rounds regardless of
      // component diameter (plain min-label propagation, kept as the
      // equivalence baseline in ScaleToolsSpec, needs O(diameter))
      connectedComponentsStar(
        lshPairs(s, d).select(col("id_a").as("src"), col("id_b").as("dst")))
        .select(col("node").as("doc_id"), col("component_id"))
        .orderBy("doc_id")
    },
    Some(
      s"""WITH RECURSIVE pairs AS ($lshPairsSql),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |reach AS (
         |  SELECT src AS node, src AS r FROM edges
         |  UNION
         |  SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r
         |)
         |SELECT node AS doc_id, min(r) AS component_id
         |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin
    )
  )

  /** q_simhash — 16-bit SimHash over char 4-grams: bit k is the sign of
    * the gram-count-weighted ±1 vote taken from hex digit k of each
    * gram's md5. Near-dups differ in few bits (Hamming distance).
    */
  val qSimhash = Q(
    "q_simhash",
    (s, d) =>
      // one digest per gram via the fused kernel (the per-bit aggregate
      // form re-hashes every gram 16 times); oracle keeps the per-bit
      // form — values are bit-identical. One md5 per char 4-gram is
      // the whole cost and sits fused on the one-row-group scan —
      // spread first (3.9 → 0.7 s at sf0.1×32; no-op at scale)
      Tables
        .spreadForCompute(Tables.documents(s, d), s, d, "documents")
        .withColumn("grams", grams4(col("text")))
        .select(col("doc_id"),
          graft.functions.GraftFunctions.simhash16(col("grams")).as("simhash"))
        .orderBy("doc_id"),
    Some {
      val bits = (1 to 16)
        .map(k =>
          s"""CASE WHEN list_sum(list_transform(grams,
             |    g -> CASE WHEN substr(md5(g), $k, 1) >= '8' THEN 1 ELSE -1 END)) > 0
             |  THEN '1' ELSE '0' END""".stripMargin
        )
        .mkString(" || ")
      s"""WITH g AS (SELECT doc_id, $gramsSql AS grams FROM documents)
         |SELECT doc_id, $bits AS simhash FROM g ORDER BY doc_id""".stripMargin
    }
  )

  /** q_ngram_jaccard — the exact-Jaccard VERIFY stage of near-dup
    * dedup: every LSH candidate pair (from [[lshPairs]], the same
    * banding as `q_minhash_lsh_pairs`) is scored with its exact
    * 3-gram-set Jaccard similarity — |A∩B| via a pair-scoped gram
    * join, |A∪B| = |A|+|B|−|A∩B|. Every candidate pair appears, with
    * jaccard 0.0 when the gram sets are disjoint (a banding false
    * positive).
    *
    * 100 TB shape: work is proportional to the CANDIDATE set, never
    * all pairs — gram streams are computed only for docs that appear
    * in a candidate pair (semi-join on the scan), and the
    * intersection join is keyed by (pair, gram), so a doc's grams are
    * replicated once per candidate pair it joined, bounded by its LSH
    * bucket degree. No all-pairs gram self-join exists in the plan
    * (spec-asserted).
    */
  /** Candidate-pair 3-gram overlap counts shared by the exact-verify
    * scorers ([[qNgramJaccard]], [[qContainment]]):
    * (id_a, id_b, n_inter, s_a, s_b) for every LSH candidate pair.
    */
  private def pairGramCounts(s: SparkSession, d: String): DataFrame = {
    val cand = lshPairs(s, d)
    val ids = cand.select(col("id_a").as("doc_id"))
      .union(cand.select(col("id_b").as("doc_id"))).distinct()
    val grams3 = array_distinct(
      transform(
        sequence(lit(1), greatest(length(col("text")) - 2, lit(1))),
        i => col("text").substr(i, lit(3))
      )
    )
    // broadcast the candidate id set (bare longs) so the corpus text
    // never shuffles for the semi join — the BroadcastHashJoin sits
    // directly on the scan
    val g = Tables.documents(s, d)
      .join(broadcast(ids), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(grams3).as("g"))
    val sizes = g.groupBy("doc_id").agg(count(lit(1)).as("s"))
    val ga = cand.join(g.as("ga"), col("id_a") === col("ga.doc_id"))
      .select(col("id_a"), col("id_b"), col("ga.g").as("gram"))
    val inter = ga
      .join(g.as("gb"),
        col("id_b") === col("gb.doc_id") && col("gram") === col("gb.g"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_inter"))
    cand
      .join(inter, Seq("id_a", "id_b"), "left")
      .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
      .join(sizes.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"), col("n_inter"),
        col("sa.s").as("s_a"), col("sb.s").as("s_b"))
  }

  val qNgramJaccard = Q(
    "q_ngram_jaccard",
    (s, d) =>
      pairGramCounts(s, d)
        .select(
          col("id_a"),
          col("id_b"),
          col("n_inter"),
          (col("s_a") + col("s_b") - col("n_inter")).as("n_union"),
          (col("n_inter").cast("double") /
            (col("s_a") + col("s_b") - col("n_inter"))).as("jaccard")
        )
        .orderBy("id_a", "id_b"),
    Some(
      s"""$pairGramCtes
         |SELECT p.id_a, p.id_b,
         |  CAST(coalesce(n_inter, 0) AS BIGINT) AS n_inter,
         |  CAST(sa.s + sb.s - coalesce(n_inter, 0) AS BIGINT) AS n_union,
         |  CAST(coalesce(n_inter, 0) AS DOUBLE)
         |    / (sa.s + sb.s - coalesce(n_inter, 0)) AS jaccard
         |FROM pairs p
         |LEFT JOIN inter ON inter.id_a = p.id_a AND inter.id_b = p.id_b
         |JOIN sz sa ON sa.doc_id = p.id_a
         |JOIN sz sb ON sb.doc_id = p.id_b
         |ORDER BY p.id_a, p.id_b""".stripMargin
    )
  )

  /** Shared CTE prelude for the candidate-pair gram scorers — the SQL
    * mirror of [[pairGramCounts]].
    */
  private lazy val pairGramCtes: String =
    s"""WITH pairs AS ($lshPairsSql),
       |ids AS (
       |  SELECT id_a AS doc_id FROM pairs
       |  UNION SELECT id_b FROM pairs),
       |g AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, greatest(length(text) - 2, 1) + 1),
       |    i -> substr(text, i, 3)))) AS g
       |  FROM documents WHERE doc_id IN (SELECT doc_id FROM ids)),
       |sz AS (SELECT doc_id, count(*) AS s FROM g GROUP BY doc_id),
       |ga AS (
       |  SELECT id_a, id_b, g.g AS gram
       |  FROM pairs JOIN g ON g.doc_id = id_a),
       |inter AS (
       |  SELECT id_a, id_b, count(*) AS n_inter
       |  FROM ga JOIN g gb ON gb.doc_id = id_b AND gb.g = gram
       |  GROUP BY 1, 2)""".stripMargin

  /** q_containment — Broder's asymmetric CONTAINMENT score over the
    * same LSH candidate set: c_a = |A∩B|/|A| (how much of document A
    * lives inside B) and the symmetric max. Jaccard misses doc-in-doc
    * relations — a short document wholly quoted inside a long one has
    * tiny Jaccard but c_a = 1.0 — so dedup pipelines score containment
    * to catch quotation/boilerplate inclusion that near-dup banding
    * surfaced but Jaccard would wave through.
    *
    * 100 TB shape: identical to [[qNgramJaccard]] — work proportional
    * to the candidate set, text never shuffles, no all-pairs join.
    */
  val qContainment = Q(
    "q_containment",
    (s, d) =>
      pairGramCounts(s, d)
        .select(
          col("id_a"), col("id_b"), col("n_inter"),
          col("s_a"), col("s_b"),
          (col("n_inter").cast("double") / col("s_a")).as("c_a"),
          (col("n_inter").cast("double") / col("s_b")).as("c_b"))
        .withColumn("containment", greatest(col("c_a"), col("c_b")))
        .orderBy("id_a", "id_b"),
    Some(
      s"""$pairGramCtes
         |SELECT p.id_a, p.id_b,
         |  CAST(coalesce(n_inter, 0) AS BIGINT) AS n_inter,
         |  CAST(sa.s AS BIGINT) AS s_a,
         |  CAST(sb.s AS BIGINT) AS s_b,
         |  CAST(coalesce(n_inter, 0) AS DOUBLE) / sa.s AS c_a,
         |  CAST(coalesce(n_inter, 0) AS DOUBLE) / sb.s AS c_b,
         |  greatest(CAST(coalesce(n_inter, 0) AS DOUBLE) / sa.s,
         |    CAST(coalesce(n_inter, 0) AS DOUBLE) / sb.s) AS containment
         |FROM pairs p
         |LEFT JOIN inter ON inter.id_a = p.id_a AND inter.id_b = p.id_b
         |JOIN sz sa ON sa.doc_id = p.id_a
         |JOIN sz sb ON sb.doc_id = p.id_b
         |ORDER BY p.id_a, p.id_b""".stripMargin
    )
  )

  /** Connected components via alternating large-star / small-star
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the scale path for dedup clustering: each
    * round is two shuffles and the edge set converges in O(log n)
    * rounds on real graphs, vs O(graph diameter) rounds for plain
    * min-label propagation (a 10k-long near-dup chain needs ~14 star
    * rounds instead of 10k propagation rounds).
    *
    * Input: undirected edges (src, dst); output: (node, component_id)
    * with component_id = the component's minimum node id — identical
    * labels to the propagation in `q_dedup_clusters` (equivalence is
    * spec-tested on chains, stars, and the fixture's LSH pair graph).
    * Isolated nodes don't appear (no edges), matching the propagation.
    */
  def connectedComponentsStar(edges0: DataFrame): DataFrame = {
    def canon(df: DataFrame): DataFrame = df
      .union(df.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()

    var e = canon(edges0.select(col("src"), col("dst"))).localCheckpoint()

    // convergence probe: one tiny row (count + two order-independent
    // 64-bit sums) per round — never the edge set on the driver. Both
    // xxhash64 over the pair and the raw endpoint sum must collide
    // simultaneously for two different edge sets to compare equal, so a
    // premature stop needs a joint 128-bit collision (vs the old single
    // 32-bit hash sum, where one collision could emit wrong labels).
    // (decimal(38,0) sums: a plain BIGINT sum of full-range xxhash64
    // values overflows — an ANSI-mode error — after a handful of rows)
    def checksum(df: DataFrame): (Long, BigDecimal, BigDecimal) = {
      val dec = DecimalType(38, 0)
      val r = df.agg(
        count(lit(1)),
        coalesce(sum(xxhash64(col("src"), col("dst")).cast(dec)), lit(0L).cast(dec)),
        // cast each endpoint BEFORE adding: a 64-bit add first would
        // itself be the ANSI overflow for node ids near 2^63
        coalesce(sum(col("src").cast(dec) + col("dst").cast(dec)), lit(0L).cast(dec)))
        .collect()(0)
      (r.getLong(0), BigDecimal(r.getDecimal(1)), BigDecimal(r.getDecimal(2)))
    }

    var prev = checksum(e)
    var done = prev._1 == 0L
    while (!done) {
      // large-star: every strictly-larger neighbor of u links to
      // m(u) = min(N(u) ∪ {u})
      val minsAll = e.groupBy("src").agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      val large = e.filter(col("dst") > col("src"))
        .join(minsAll, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
      val e1 = canon(large).localCheckpoint()

      // small-star: every ≤-neighbor of u (and u itself) links to
      // m(u) = min over those neighbors
      val smallNbrs = e1.filter(col("dst") <= col("src"))
      val minsSmall = smallNbrs.groupBy("src").agg(min(col("dst")).as("m"))
      val small = smallNbrs.join(minsSmall, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(minsSmall.select(col("src"), col("m").as("dst")))
      val e2 = canon(small).localCheckpoint()

      val cur = checksum(e2)
      if (cur == prev) done = true
      prev = cur
      e = e2
    }
    e.groupBy("src").agg(min(col("dst")).as("mn"))
      .select(col("src").as("node"),
        least(col("src"), col("mn")).as("component_id"))
  }

  /** Aggregation column building the Bloom sketch of `xxhash64(digest)`. */
  private[graft] def digestSketch(expectedItems: Long): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(
      new BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(col("digest"))),
        Literal(expectedItems),
        Literal(math.max(expectedItems * 10L, 1L << 16))
      ).toAggregateExpression())
  }

  /** Probe predicate: may `digest` be in the sketch? (no false negatives) */
  private[graft] def digestMightContain(sketch: Array[Byte]): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types.BinaryType
    ColumnBridge.column(BloomFilterMightContain(
      Literal.create(sketch, BinaryType),
      ColumnBridge.expression(xxhash64(col("digest")))))
  }

  /** Bloom-prefiltered anti-join: the rows of `batch` whose `digest` is
    * NOT present in `corpus` — equal to a plain left-anti join, but the
    * batch side is first split by a broadcast Bloom sketch of the corpus
    * digests:
    *  - might_contain = false → definitely new (Bloom has no false
    *    negatives), emitted with NO join at all;
    *  - might_contain = true → duplicate or false positive, confirmed by
    *    the exact anti-join — only this residue (dup fraction + fpp)
    *    ever reaches the shuffle.
    *
    * 100 TB shape: re-deduplicating a daily batch against a corpus of
    * N digests shuffles only ~(dupRate + fpp) of the batch instead of
    * all of it. The sketch is one aggregated row (`numBits/8` bytes —
    * ~1.2 MB per 10⁶ expected items at 1% fpp); beyond ~10⁹ corpus keys
    * shard the sketch by digest prefix rather than growing one filter.
    */
  def incrementalNew(corpus: DataFrame, batch: DataFrame,
      expectedItems: Long): DataFrame = {
    // one sketch row to the driver (the size of the filter, never the
    // corpus), then folded into the probe as a literal → broadcast
    val sketch = corpus.agg(digestSketch(expectedItems).as("bf"))
      .head.getAs[Array[Byte]](0)
    // empty corpus → the aggregate yields null, and a null
    // might_contain would drop EVERY batch row from both branches;
    // day-one bootstrap must emit the whole batch as new
    if (sketch == null) return batch
    val might = digestMightContain(sketch)

    val definitelyNew = batch.filter(!might)
    val confirmedNew  = batch.filter(might)
      .join(corpus.select("digest"), Seq("digest"), "left_anti")
    definitelyNew.unionByName(confirmedNew)
  }

  /** q_cluster_stats — the dedup report: distribution of near-dup
    * cluster sizes (how much of the corpus is duplicated, and in what
    * shape — many pairs vs few giant clusters). Sizes come from the
    * same star-CC labels as q_dedup_clusters; the histogram is two
    * tiny aggregates over (node, component) rows.
    */
  val qClusterStats = Q(
    "q_cluster_stats",
    (s, d) =>
      connectedComponentsStar(
        lshPairs(s, d).select(col("id_a").as("src"), col("id_b").as("dst")))
        .groupBy("component_id")
        .agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size"),
    Some(
      s"""WITH RECURSIVE pairs AS ($lshPairsSql),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |reach AS (
         |  SELECT src AS node, src AS r FROM edges
         |  UNION
         |  SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r
         |),
         |comp AS (
         |  SELECT node, min(r) AS component_id FROM reach GROUP BY node),
         |sizes AS (
         |  SELECT component_id, count(*) AS cluster_size
         |  FROM comp GROUP BY component_id)
         |SELECT cluster_size, count(*) AS n_clusters
         |FROM sizes GROUP BY cluster_size ORDER BY cluster_size""".stripMargin
    )
  )

  /** q_dedup_survivorship — representative choice as a POLICY, not an
    * artifact: within each near-dup cluster keep the longest document
    * (ties → smallest doc_id) instead of the arbitrary min-id the
    * cluster label happens to use. The real-pipeline concern this
    * captures: which copy of a duplicated document survives decides
    * corpus quality, so survivorship must be an explicit ranked choice
    * over document attributes.
    *
    * Shape: cluster labels (star-CC) joined to per-doc attributes, one
    * row_number window per cluster — the window partition is a cluster
    * (bounded), never the corpus.
    */
  val qDedupSurvivorship = Q(
    "q_dedup_survivorship",
    (s, d) => {
      val comp = connectedComponentsStar(
        lshPairs(s, d).select(col("id_a").as("src"), col("id_b").as("dst")))
        .select(col("node").as("doc_id"), col("component_id"))
      val docs = Tables.documents(s, d).select("doc_id", "n_chars")
      val w = Window.partitionBy("component_id")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      comp.join(docs, "doc_id")
        .withColumn("rk", row_number().over(w))
        .select(col("component_id"), col("doc_id"), col("n_chars"),
          (col("rk") === 1).as("survivor"))
        .orderBy("component_id", "doc_id")
    },
    Some(
      s"""WITH RECURSIVE pairs AS ($lshPairsSql),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |reach AS (
         |  SELECT src AS node, src AS r FROM edges
         |  UNION
         |  SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r
         |),
         |comp AS (
         |  SELECT node AS doc_id, min(r) AS component_id
         |  FROM reach GROUP BY node)
         |SELECT component_id, comp.doc_id AS doc_id, n_chars,
         |  row_number() OVER (PARTITION BY component_id
         |    ORDER BY n_chars DESC, comp.doc_id ASC) = 1 AS survivor
         |FROM comp JOIN documents d ON comp.doc_id = d.doc_id
         |ORDER BY component_id, doc_id""".stripMargin
    )
  )

  /** q_edit_verify — exact edit-distance verification of the LSH
    * candidate pairs: the confirm stage of a near-dup pipeline
    * (candidates come from bucketing, the KEEP/DROP decision from an
    * exact metric on the candidate set only). Levenshtein runs on
    * 200-char prefixes — the O(len²) DP cost is bounded per pair
    * regardless of document size — and a pair is confirmed when the
    * prefix distance is within 20% of the prefix length. Both engines
    * implement classic Levenshtein → exact integer parity.
    *
    * 100 TB shape: the quadratic metric touches ONLY candidate pairs
    * (LSH-bounded, skew-guarded), never the corpus cross product; the
    * join ships 200-char prefixes, not documents.
    */
  val qEditVerify = Q(
    "q_edit_verify",
    (s, d) => {
      val pref = Tables.documents(s, d)
        .select(col("doc_id"), substring(col("text"), 1, 200).as("pref"))
      val pairs = lshPairs(s, d)
      pairs
        .join(pref.select(col("doc_id").as("id_a"), col("pref").as("pa")), "id_a")
        .join(pref.select(col("doc_id").as("id_b"), col("pref").as("pb")), "id_b")
        .select(col("id_a"), col("id_b"),
          levenshtein(col("pa"), col("pb")).as("edit_dist"),
          greatest(length(col("pa")), length(col("pb"))).as("pref_len"))
        .withColumn("confirmed",
          col("edit_dist") * lit(5) <= col("pref_len"))
        .orderBy("id_a", "id_b")
    },
    Some(
      s"""WITH pairs AS ($lshPairsSql),
         |pref AS (SELECT doc_id, substr(text, 1, 200) AS pref FROM documents)
         |SELECT id_a, id_b,
         |  CAST(levenshtein(a.pref, b.pref) AS INT) AS edit_dist,
         |  CAST(greatest(length(a.pref), length(b.pref)) AS INT) AS pref_len,
         |  levenshtein(a.pref, b.pref) * 5 <= greatest(length(a.pref), length(b.pref)) AS confirmed
         |FROM pairs JOIN pref a ON a.doc_id = id_a
         |JOIN pref b ON b.doc_id = id_b
         |ORDER BY id_a, id_b""".stripMargin
    )
  )

  /** q_dedup_incremental — incremental batch-vs-corpus dedup: documents
    * with doc_id % 10 == 0 are "today's batch", the rest the standing
    * corpus; result = batch rows whose content digest is new.
    */
  val qDedupIncremental = Q(
    "q_dedup_incremental",
    (s, d) => {
      val docs   = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
        .select(md5(col("text")).as("digest"))
      val batch  = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), md5(col("text")).as("digest"))
      incrementalNew(corpus, batch, expectedItems = 100000L)
        .select(col("doc_id"), col("digest"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id, md5(text) AS digest FROM documents b
        |WHERE doc_id % 10 = 0 AND NOT EXISTS (
        |  SELECT 1 FROM documents c
        |  WHERE c.doc_id % 10 <> 0 AND md5(c.text) = md5(b.text))
        |ORDER BY doc_id""".stripMargin
    )
  )

  /** q_substr_regions — ExactSubstr-style duplicated-region detection
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better": remove exact substrings repeated across the corpus). The
    * distributed formulation replaces the suffix array with stride-1
    * token 8-grams: an 8-gram occurring in more than one document marks
    * token positions [o, o+7] as duplicated; per document, consecutive
    * duplicated offsets merge into maximal regions via the
    * offset−row_number island trick. Emits each document's duplicated
    * regions in token coordinates — the spans a substring-dedup pass
    * would cut.
    *
    * 100 TB shape: the shuffle carries md5(8-gram) digests + offsets,
    * never text; the >1-document test is one partial-aggregated
    * count(DISTINCT doc) per digest (a Bloom-side prefilter fits the
    * [[incrementalNew]] pattern when the duplicate rate is low); island
    * merging is a per-doc window on data already grouped by doc_id.
    */
  val qSubstrRegions = Q(
    "q_substr_regions",
    (s, d) => {
      val k = 8
      // one md5 per stride-1 8-gram fused on the one-row-group scan —
      // spread first (no-op at scale; see Tables.spreadForCompute)
      val toks = Tables
        .spreadForCompute(Tables.documents(s, d), s, d, "documents")
        .select(col("doc_id"), TextOps.wsTokens(col("text")).as("t"))
        .filter(size(col("t")) >= k)
      val grams = toks.select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), size(col("t")) - k),
          i => md5(concat_ws(" ", slice(col("t"), i + 1, lit(k)))))))
        .withColumnRenamed("pos", "off")
        .withColumnRenamed("col", "g")
      // "appears in >1 document" as min≠max over a window by gram —
      // ONE shuffle of the gram stream, vs aggregate + join-back which
      // would explode the token stream twice and shuffle twice
      val wg = org.apache.spark.sql.expressions.Window.partitionBy("g")
      val marked = grams
        .withColumn("d0", min(col("doc_id")).over(wg))
        .withColumn("d1", max(col("doc_id")).over(wg))
        .filter(col("d0") =!= col("d1"))
        .select(col("doc_id"), col("off"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("off")
      marked
        .withColumn("island", col("off") - row_number().over(w))
        .groupBy("doc_id", "island")
        .agg(min(col("off")).as("region_start"),
          (max(col("off")) + lit(k - 1)).as("region_end"))
        .select(col("doc_id"), col("region_start").cast("int").as("region_start"),
          col("region_end").cast("int").as("region_end"),
          (col("region_end") - col("region_start") + 1).cast("int")
            .as("region_len"))
        .orderBy("doc_id", "region_start")
    },
    Some(
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, CAST(u.i AS INT) AS "off",
        |    md5(array_to_string(t[u.i+1 : u.i+8], ' ')) AS g
        |  FROM toks, UNNEST(range(0, len(t) - 8 + 1)) AS u(i)
        |  WHERE len(t) >= 8),
        |dup AS (
        |  SELECT g FROM grams GROUP BY g
        |  HAVING count(DISTINCT doc_id) > 1),
        |marked AS (
        |  SELECT doc_id, "off" FROM grams JOIN dup USING (g)),
        |islands AS (
        |  SELECT doc_id, "off",
        |    "off" - row_number() OVER (PARTITION BY doc_id ORDER BY "off")
        |      AS island
        |  FROM marked)
        |SELECT doc_id,
        |  CAST(min("off") AS INT) AS region_start,
        |  CAST(max("off") + 7 AS INT) AS region_end,
        |  CAST(max("off") + 7 - min("off") + 1 AS INT) AS region_len
        |FROM islands
        |GROUP BY doc_id, island
        |ORDER BY doc_id, region_start""".stripMargin
    )
  )

  /** q_substr_cut — the APPLY half of ExactSubstr dedup: every repeated
    * 8-gram occurrence except its global first (min over the exact key
    * doc_id·100000+offset) is cut; a token survives unless every
    * covering decision says cut — implemented as cover-position
    * expansion (each cut occurrence covers [o, o+7]) anti-joined
    * against the token stream, then per-doc re-assembly in order.
    * Within-doc repeats count as repeats, per the paper.
    *
    * 100 TB shape: the gram stream shuffles ONCE (window by gram digest
    * computes occurrence count + global first occurrence together);
    * cover expansion is a bounded ×8 map-side explode; the final
    * anti-join and re-assembly are co-partitioned on doc_id.
    */
  val qSubstrCut = Q(
    "q_substr_cut",
    (s, d) => {
      val k = 8
      // toks keeps EVERY doc (short docs pass through uncut, like the
      // oracle); only gram generation needs ≥ k tokens. Spread the
      // scan: one md5 per stride-1 8-gram otherwise runs one-task
      // (no-op at scale; see Tables.spreadForCompute)
      val toks = Tables
        .spreadForCompute(Tables.documents(s, d), s, d, "documents")
        .select(col("doc_id"), TextOps.wsTokens(col("text")).as("t"))
      val grams = toks.filter(size(col("t")) >= k)
        .select(col("doc_id"),
          posexplode(transform(
            sequence(lit(0), size(col("t")) - k),
            i => md5(concat_ws(" ", slice(col("t"), i + 1, lit(k)))))))
        .withColumnRenamed("pos", "off")
        .withColumnRenamed("col", "g")
        .withColumn("key", col("doc_id") * 100000L + col("off"))
      // occurrence count + global first occurrence via ONE window pass
      // by gram (single shuffle of the gram stream; the aggregate +
      // join-back alternative would tokenize and shuffle twice)
      val wg = org.apache.spark.sql.expressions.Window.partitionBy("g")
      val cuts = grams
        .withColumn("cnt", count(lit(1)).over(wg))
        .withColumn("mk", min(col("key")).over(wg))
        .filter(col("cnt") > 1 && col("key") =!= col("mk"))
        .select(col("doc_id"), col("off"))
      val cover = cuts
        .select(col("doc_id"),
          explode(sequence(col("off"), col("off") + (k - 1))).as("p"))
        .distinct()
      val pos = toks.select(col("doc_id"), posexplode(col("t")))
        .withColumnRenamed("pos", "p")
        .withColumnRenamed("col", "tok")
      pos.join(cover, Seq("doc_id", "p"), "left_anti")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_kept"),
          array_join(
            transform(array_sort(collect_list(struct(col("p"), col("tok")))),
              x => x.getField("tok")), " ").as("text_clean"))
        .join(toks.select(col("doc_id"), size(col("t")).as("n_tokens")),
          Seq("doc_id"), "right")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_kept"), lit(0)).as("n_kept"),
          coalesce(col("text_clean"), lit("")).as("text_clean"))
        .orderBy("doc_id")
    },
    Some(
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, CAST(u.i AS INT) AS o,
        |    md5(array_to_string(t[u.i+1 : u.i+8], ' ')) AS g,
        |    doc_id*100000 + u.i AS key
        |  FROM toks, UNNEST(range(0, len(t) - 8 + 1)) AS u(i)
        |  WHERE len(t) >= 8),
        |stats AS (
        |  SELECT g, min(key) AS mk FROM grams GROUP BY g
        |  HAVING count(*) > 1),
        |cuts AS (
        |  SELECT doc_id, o FROM grams JOIN stats USING (g)
        |  WHERE key <> mk),
        |cover AS (
        |  SELECT DISTINCT doc_id, CAST(o + u.j AS INT) AS p
        |  FROM cuts, UNNEST(range(0, 8)) AS u(j)),
        |pos AS (
        |  SELECT doc_id, CAST(u.i - 1 AS INT) AS p, t[u.i] AS tok
        |  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)),
        |kept AS (
        |  SELECT pos.doc_id, pos.p, pos.tok
        |  FROM pos LEFT JOIN cover
        |    ON pos.doc_id = cover.doc_id AND pos.p = cover.p
        |  WHERE cover.p IS NULL)
        |SELECT toks.doc_id AS doc_id,
        |  CAST(len(t) AS INT) AS n_tokens,
        |  CAST(coalesce(cnt, 0) AS INT) AS n_kept,
        |  coalesce(txt, '') AS text_clean
        |FROM toks LEFT JOIN (
        |  SELECT doc_id, count(*) AS cnt,
        |    string_agg(tok, ' ' ORDER BY p) AS txt
        |  FROM kept GROUP BY doc_id) r ON toks.doc_id = r.doc_id
        |ORDER BY toks.doc_id""".stripMargin
    )
  )

  /** q_jaccard_est — MinHash estimator calibration: for every LSH
    * candidate pair, the signature-agreement estimate (matching
    * components / nHashes — the unbiased MinHash Jaccard estimator)
    * next to the exact 3-gram Jaccard, with the signed error. The
    * table a dedup pipeline reads to tune bands/rows before trusting
    * the estimator at scale, computed from the SAME shipped signature
    * and exact-verify operators. nHashes is a power of two so the
    * estimate is dyadic and exact in both engines; the error is one
    * subtraction of identical doubles.
    *
    * 100 TB shape: candidate-bounded like the verify stage — the
    * signature table (9 longs/doc) joins the pair list twice by id;
    * no gram or text movement beyond what the exact measure already
    * does.
    */
  val qJaccardEst = Q(
    "q_jaccard_est",
    (s, d) => {
      val jac = qNgramJaccard.fn(s, d).select("id_a", "id_b", "jaccard")
      val sig = signatures(s, d)
      val sa = sig.select(col("doc_id").as("id_a") +:
        (0 until nHashes).map(j => col(s"h$j").as(s"a$j")): _*)
      val sb = sig.select(col("doc_id").as("id_b") +:
        (0 until nHashes).map(j => col(s"h$j").as(s"b$j")): _*)
      val agree = (0 until nHashes)
        .map(j => when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
        .reduce(_ + _)
      jac.join(sa, "id_a").join(sb, "id_b")
        .select(col("id_a"), col("id_b"),
          agree.cast("int").as("n_agree"),
          (agree.cast("double") / lit(nHashes.toDouble)).as("est_jaccard"),
          col("jaccard"),
          ((agree.cast("double") / lit(nHashes.toDouble)) - col("jaccard"))
            .as("err"))
        .orderBy("id_a", "id_b")
    },
    Some {
      val agreeSql = (0 until nHashes)
        .map(j => s"CASE WHEN a.h$j = b.h$j THEN 1 ELSE 0 END")
        .mkString("(", " + ", ")")
      s"""WITH jac AS (
         |  SELECT id_a, id_b, jaccard FROM (${qNgramJaccard.oracle.get})),
         |sigs AS ($signaturesSql)
         |SELECT j.id_a, j.id_b,
         |  CAST($agreeSql AS INT) AS n_agree,
         |  CAST($agreeSql AS DOUBLE) / ${nHashes}.0 AS est_jaccard,
         |  j.jaccard,
         |  CAST($agreeSql AS DOUBLE) / ${nHashes}.0 - j.jaccard AS err
         |FROM jac j
         |JOIN sigs a ON a.doc_id = j.id_a
         |JOIN sigs b ON b.doc_id = j.id_b
         |ORDER BY id_a, id_b""".stripMargin
    }
  )

  /** q_bbit_minhash — b-bit MinHash (Li & König 2010): store only the
    * lowest b = 2 bits of each signature component, an instant 16×
    * compression of the full 32-bit slices, and correct the resulting
    * accidental collisions analytically: E[agreement] = C + (1−C)·J
    * with collision baseline C = 2^−b, so Ĵ_b = (A − C)/(1 − C). For
    * every LSH candidate pair this reports the full-width estimate,
    * the b-bit estimate, and both errors against the exact 3-gram
    * Jaccard — the calibration table that justifies shipping 2-bit
    * registers at scale. A is dyadic (k/8), C = 0.25 exact, and the
    * correction is two IEEE ops on identical operands, so both
    * engines agree bitwise.
    *
    * 100 TB shape: identical to q_jaccard_est — candidate-bounded
    * joins of the (now 8×2-bit) signature table; at a trillion docs
    * the b-bit table is 2 bytes/doc where the full signature is 64,
    * which is the difference between an in-memory broadcast tier and
    * a shuffle.
    */
  val qBbitMinhash = Q(
    "q_bbit_minhash",
    (s, d) => {
      val jac = qNgramJaccard.fn(s, d).select("id_a", "id_b", "jaccard")
      val sig = signatures(s, d)
      val sa = sig.select(col("doc_id").as("id_a") +:
        (0 until nHashes).map(j => col(s"h$j").as(s"a$j")): _*)
      val sb = sig.select(col("doc_id").as("id_b") +:
        (0 until nHashes).map(j => col(s"h$j").as(s"b$j")): _*)
      val agreeFull = (0 until nHashes)
        .map(j => when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
        .reduce(_ + _)
      val agreeB = (0 until nHashes)
        .map(j => when(col(s"a$j") % 4 === col(s"b$j") % 4, 1).otherwise(0))
        .reduce(_ + _)
      val estFull = agreeFull.cast("double") / lit(nHashes.toDouble)
      val estB = (agreeB.cast("double") / lit(nHashes.toDouble) - lit(0.25)) /
        lit(0.75)
      jac.join(sa, "id_a").join(sb, "id_b")
        .select(col("id_a"), col("id_b"),
          agreeFull.cast("int").as("n_agree_full"),
          agreeB.cast("int").as("n_agree_b"),
          estFull.as("est_full"),
          estB.as("est_b"),
          col("jaccard"),
          (estB - col("jaccard")).as("err_b"))
        .orderBy("id_a", "id_b")
    },
    Some {
      val aFull = (0 until nHashes)
        .map(j => s"CASE WHEN a.h$j = b.h$j THEN 1 ELSE 0 END")
        .mkString("(", " + ", ")")
      val aB = (0 until nHashes)
        .map(j => s"CASE WHEN a.h$j % 4 = b.h$j % 4 THEN 1 ELSE 0 END")
        .mkString("(", " + ", ")")
      s"""WITH jac AS (
         |  SELECT id_a, id_b, jaccard FROM (${qNgramJaccard.oracle.get})),
         |sigs AS ($signaturesSql)
         |SELECT j.id_a, j.id_b,
         |  CAST($aFull AS INT) AS n_agree_full,
         |  CAST($aB AS INT) AS n_agree_b,
         |  CAST($aFull AS DOUBLE) / ${nHashes}.0 AS est_full,
         |  (CAST($aB AS DOUBLE) / ${nHashes}.0 - 0.25) / 0.75 AS est_b,
         |  j.jaccard,
         |  (CAST($aB AS DOUBLE) / ${nHashes}.0 - 0.25) / 0.75 - j.jaccard
         |    AS err_b
         |FROM jac j
         |JOIN sigs a ON a.doc_id = j.id_a
         |JOIN sigs b ON b.doc_id = j.id_b
         |ORDER BY id_a, id_b""".stripMargin
    }
  )

  /** q_lsh_recall — end-to-end recall/precision audit of the LSH
    * banding against exact ground truth: within a bounded audit block
    * (≤ 25 docs per source, deterministic lowest-doc_id sample), ALL
    * intra-source pairs are scored with exact 3-gram Jaccard, and for
    * each threshold the table reports how many truth pairs the
    * banding surfaced (recall) and how clean the candidate set is
    * (precision). q_jaccard_est calibrates the ESTIMATOR on pairs the
    * banding already found; this measures what the banding MISSES —
    * the number a dedup pipeline must know before trusting 2 bands ×
    * 4 rows at scale.
    *
    * 100 TB shape: exact all-pairs ground truth is inherently
    * quadratic, so the audit is block-bounded by construction — the
    * per-source cap fixes the pair count at cap²/2 × sources
    * regardless of corpus size (the standard recall-auditing pattern:
    * sample blocks, not the corpus). The gram-intersection join is
    * keyed (source, gram) inside the capped sample; the full corpus
    * is never pair-joined.
    */
  val qLshRecall = Q(
    "q_lsh_recall",
    (s, d) => {
      import s.implicits._
      val cap = 25
      // the audit-block id pick runs on a pruned (doc_id, source) scan
      // — windowing the full row would ship the corpus text through
      // the partition-by-source exchange; instead the capped id set
      // (sources × 25 bare longs) broadcasts back onto the text scan
      // docs with NULL text are excluded up front, on BOTH engines —
      // stating the no-3-grams edge once instead of encoding it as a
      // left-join fill here and an inner-join drop in the oracle
      val sampleIds = Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .select("doc_id", "source")
        .withColumn("rn", row_number().over(
          Window.partitionBy("source").orderBy("doc_id")))
        .filter(col("rn") <= cap)
        .select("doc_id", "source")
      val sample = Tables.documents(s, d)
        .select("doc_id", "source", "text")
        .join(broadcast(sampleIds.select("doc_id")), Seq("doc_id"),
          "left_semi")
      val grams3 = array_distinct(
        transform(
          sequence(lit(1), greatest(length(col("text")) - 2, lit(1))),
          i => col("text").substr(i, lit(3))))
      val g = sample.select(col("source"), col("doc_id"),
        explode(grams3).as("g"))
      val sizes = g.groupBy("doc_id").agg(count(lit(1)).as("s"))
      val inter = g.as("a").join(g.as("b"),
          col("a.source") === col("b.source") && col("a.g") === col("b.g") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("n_inter"))
      val scored = inter
        .join(sizes.as("sa"), col("id_a") === col("sa.doc_id"))
        .join(sizes.as("sb"), col("id_b") === col("sb.doc_id"))
        .select(col("id_a"), col("id_b"),
          (col("n_inter").cast("double") /
            (col("sa.s") + col("sb.s") - col("n_inter"))).as("jaccard"))
      val pairsAll = sampleIds
        .select(col("doc_id").as("id_a"), col("source"))
        .join(sampleIds.select(col("doc_id").as("id_b"), col("source")),
          "source")
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
      val cand = lshPairs(s, d).withColumn("cand", lit(1L))
      val truth = pairsAll
        .join(scored, Seq("id_a", "id_b"), "left")
        .na.fill(0.0, Seq("jaccard"))
        .join(cand, Seq("id_a", "id_b"), "left")
        .na.fill(0L, Seq("cand"))
      val ths = Seq(0.1, 0.3, 0.5, 0.7).toDF("th")
      truth.crossJoin(broadcast(ths))
        .groupBy("th")
        .agg(
          sum(when(col("jaccard") >= col("th"), 1L).otherwise(0L))
            .as("n_truth"),
          sum(when(col("jaccard") >= col("th") && col("cand") === 1L, 1L)
            .otherwise(0L)).as("n_caught"),
          sum(col("cand")).as("n_cand"))
        .select(col("th"), col("n_truth"), col("n_caught"),
          expr("CASE WHEN n_truth = 0 THEN CAST(NULL AS BIGINT) " +
            "ELSE n_caught * 1000000 div n_truth END").as("recall_ppm"),
          col("n_cand"),
          expr("CASE WHEN n_cand = 0 THEN CAST(NULL AS BIGINT) " +
            "ELSE n_caught * 1000000 div n_cand END").as("precision_ppm"))
        .orderBy("th")
    },
    Some(
      s"""WITH sample AS (
         |  SELECT doc_id, source, text FROM (
         |    SELECT doc_id, source, text,
         |      row_number() OVER (PARTITION BY source ORDER BY doc_id)
         |        AS rn
         |    FROM documents WHERE text IS NOT NULL) WHERE rn <= 25),
         |g AS (
         |  SELECT source, doc_id, unnest(list_distinct(list_transform(
         |    range(1, greatest(length(text) - 2, 1) + 1),
         |    i -> substr(text, i, 3)))) AS g
         |  FROM sample),
         |sz AS (SELECT doc_id, count(*) AS s FROM g GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
         |  FROM g a JOIN g b ON a.source = b.source AND a.g = b.g
         |    AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sample a JOIN sample b
         |    ON a.source = b.source AND a.doc_id < b.doc_id),
         |cand AS ($lshPairsSql),
         |scored AS (
         |  SELECT p.id_a, p.id_b,
         |    coalesce(CAST(n_inter AS DOUBLE)
         |      / (sa.s + sb.s - n_inter), 0.0) AS jaccard,
         |    CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS cand
         |  FROM pairs p
         |  LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
         |  JOIN sz sa ON sa.doc_id = p.id_a
         |  JOIN sz sb ON sb.doc_id = p.id_b
         |  LEFT JOIN cand c ON c.id_a = p.id_a AND c.id_b = p.id_b),
         |ths AS (SELECT CAST(unnest([0.1, 0.3, 0.5, 0.7]) AS DOUBLE)
         |          AS th)
         |SELECT th,
         |  CAST(sum(CASE WHEN jaccard >= th THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_truth,
         |  CAST(sum(CASE WHEN jaccard >= th AND cand = 1 THEN 1 ELSE 0
         |    END) AS BIGINT) AS n_caught,
         |  CASE WHEN sum(CASE WHEN jaccard >= th THEN 1 ELSE 0 END) = 0
         |    THEN CAST(NULL AS BIGINT)
         |    ELSE CAST(sum(CASE WHEN jaccard >= th AND cand = 1
         |        THEN 1 ELSE 0 END) * 1000000 AS BIGINT)
         |      // CAST(sum(CASE WHEN jaccard >= th THEN 1 ELSE 0 END)
         |        AS BIGINT) END AS recall_ppm,
         |  CAST(sum(cand) AS BIGINT) AS n_cand,
         |  CASE WHEN sum(cand) = 0 THEN CAST(NULL AS BIGINT)
         |    ELSE CAST(sum(CASE WHEN jaccard >= th AND cand = 1
         |        THEN 1 ELSE 0 END) * 1000000 AS BIGINT)
         |      // CAST(sum(cand) AS BIGINT) END AS precision_ppm
         |FROM scored, ths GROUP BY th ORDER BY th""".stripMargin
    )
  )

  /** q_record_linkage — classic blocking-based entity resolution
    * (Fellegi–Sunter shape): candidate pairs come from an equi-join
    * on the blocking key (p_brand, p_type) — never all-pairs — and
    * each candidate is scored with Levenshtein edit distance; pairs
    * within distance 2 are emitted as links with an integer
    * similarity in ppm. The Spark side uses the THRESHOLD form
    * `levenshtein(a, b, 2)`, which runs the banded O(k·n) DP and
    * bails at distance 3+ instead of filling the full O(n·m) matrix
    * — same kept rows as the oracle's plain distance + filter.
    *
    * 100 TB shape: the pair count is quadratic only within a block,
    * so the blocking key bounds the work exactly like LSH buckets
    * bound near-dup: (brand × type) fixes the block count and the
    * per-block join is an ordinary shuffled equi-join. A skewed
    * block would get the [[bandCells]] triangle treatment; name
    * strings move once to their block, no global pair set exists.
    */
  val qRecordLinkage = Q(
    "q_record_linkage",
    (s, d) => {
      val p = Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"), col("p_type"),
          col("p_name"))
      val a = p.select(col("p_brand"), col("p_type"),
        col("p_partkey").as("id_a"), col("p_name").as("name_a"))
      val b = p.select(col("p_brand"), col("p_type"),
        col("p_partkey").as("id_b"), col("p_name").as("name_b"))
      a.join(b, Seq("p_brand", "p_type"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 2))
        .filter(col("dist") >= 0)
        .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"),
          col("dist"),
          expr("(greatest(length(name_a), length(name_b)) - dist) " +
            "* 1000000 div greatest(length(name_a), length(name_b))")
            .cast("long").as("sim_ppm"))
        .orderBy("id_a", "id_b")
    },
    Some(
      """SELECT id_a, id_b, name_a, name_b, CAST(dist AS INT) AS dist,
        |  CAST((greatest(length(name_a), length(name_b)) - dist)
        |    * 1000000 // greatest(length(name_a), length(name_b))
        |    AS BIGINT) AS sim_ppm
        |FROM (
        |  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |    a.p_name AS name_a, b.p_name AS name_b,
        |    levenshtein(a.p_name, b.p_name) AS dist
        |  FROM part a JOIN part b
        |    ON a.p_brand = b.p_brand AND a.p_type = b.p_type
        |    AND a.p_partkey < b.p_partkey)
        |WHERE dist <= 2
        |ORDER BY id_a, id_b""".stripMargin
    )
  )

  /** q_contrastive_pairs — the SimCSE/contrastive training-set build:
    * every doc that has an LSH near-dup candidate becomes an ANCHOR
    * with one positive (its smallest-id candidate partner — a
    * deterministic stand-in for similarity-ranked choice; the
    * estimator that would rank partners is q_jaccard_est's) and three
    * hash-derived negatives: probe = u32(md5("neg-anchor-i")) mod n —
    * the repo's bounded md5-prefix hash convention, so the arithmetic
    * can never overflow BIGINT no matter how large doc ids grow
    * (anchor×prime would wrap in Spark but RAISE in DuckDB — a silent
    * cross-engine divergence); probes are then semi-joined back to
    * `documents` so only EXISTING doc ids survive (no contiguity
    * assumption on the id space). A probe colliding with the anchor,
    * its positive, or a gap in the id space is dropped rather than
    * re-drawn — deterministic on both engines, stated once.
    * Long format: (anchor, role, rank, pair_id).
    *
    * 100 TB shape: positives ride the already-bounded LSH candidate
    * pairs (banded buckets + skew guard); negatives are hash
    * arithmetic on the anchor frame plus one doc_id-keyed semi-join
    * against the pruned single-column id scan. The
    * in-batch-negatives trick real contrastive training uses makes
    * even this column unnecessary at train time; materializing it
    * here keeps the sampling auditable.
    */
  val qContrastivePairs = Q(
    "q_contrastive_pairs",
    (s, d) => {
      val pairs = lshPairs(s, d)
      val sym = pairs.select(col("id_a").as("anchor"),
          col("id_b").as("partner"))
        .unionAll(pairs.select(col("id_b").as("anchor"),
          col("id_a").as("partner")))
      val pos = sym.groupBy("anchor").agg(min(col("partner")).as("pos_id"))
      val nDocs = Tables.documents(s, d).agg(count(lit(1)).as("n"))
      val posRows = pos.select(col("anchor"), lit("pos").as("role"),
        lit(1).as("rank"), col("pos_id").as("pair_id"))
      val negRows = pos.crossJoin(broadcast(nDocs))
        .select(col("anchor"), col("pos_id"),
          explode(sequence(lit(1), lit(3))).as("i"), col("n"))
        .select(col("anchor"), lit("neg").as("role"),
          (col("i") + 1).as("rank"),
          pmod(Hash.hexToBigint(md5(concat_ws("-", lit("neg"),
            col("anchor"), col("i")))).cast("long"),
            col("n")).as("pair_id"), col("pos_id"))
        .filter(col("pair_id") =!= col("anchor") &&
          col("pair_id") =!= col("pos_id"))
        .drop("pos_id")
        .join(Tables.documents(s, d).select(col("doc_id").as("pair_id")),
          Seq("pair_id"), "left_semi")
      posRows.unionByName(negRows)
        .orderBy("anchor", "rank", "pair_id")
    },
    Some(
      s"""WITH pairs AS ($lshPairsSql),
         |sym AS (
         |  SELECT id_a AS anchor, id_b AS partner FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |pos AS (SELECT anchor, min(partner) AS pos_id FROM sym GROUP BY 1),
         |nd AS (SELECT count(*) AS n FROM documents),
         |negh AS (
         |  SELECT anchor, pos_id, v.i AS i,
         |    md5('neg-' || CAST(anchor AS VARCHAR) || '-'
         |      || CAST(v.i AS VARCHAR)) AS h
         |  FROM pos, UNNEST(range(1, 4)) AS v(i)),
         |neg AS (
         |  SELECT anchor, 'neg' AS role, CAST(i + 1 AS INT) AS rank,
         |    CAST(${OracleSql.hexToBigint("h")} AS BIGINT)
         |      % (SELECT n FROM nd) AS pair_id,
         |    pos_id
         |  FROM negh)
         |SELECT anchor, role, rank, pair_id FROM (
         |  SELECT anchor, 'pos' AS role, 1 AS rank, pos_id AS pair_id
         |  FROM pos
         |  UNION ALL
         |  SELECT anchor, role, rank, pair_id FROM neg
         |  WHERE pair_id <> anchor AND pair_id <> pos_id
         |    AND pair_id IN (SELECT doc_id FROM documents))
         |ORDER BY anchor, rank, pair_id""".stripMargin
    )
  )

  /** q_jaro_linkage — the same blocked entity resolution scored with
    * the native [[graft.functions.JaroWinkler]] expression instead of
    * edit distance: Jaro-Winkler is transposition-tolerant and
    * prefix-weighted (Winkler 1990), the scorer record linkage
    * literature prefers for name fields — levenshtein charges a swap
    * 2 edits, JW barely at all. The expression's semantics are pinned
    * to DuckDB's `jaro_winkler_similarity` (UTF-8 bytes, empty→0,
    * strict 0.7 boost threshold — fuzz-verified over 3000 random
    * unicode pairs), so the oracle calls the built-in directly; the
    * score is ppm-quantized on both engines before the ≥ 0.9
    * threshold so a last-ulp double difference cannot flip a link.
    *
    * 100 TB shape: identical to q_record_linkage — pairs exist only
    * within the (brand, type) block, names move once, the O(len²)
    * scorer runs per candidate inside whole-stage codegen.
    */
  val qJaroLinkage = Q(
    "q_jaro_linkage",
    (s, d) => {
      val p = Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"), col("p_type"),
          col("p_name"))
      val a = p.select(col("p_brand"), col("p_type"),
        col("p_partkey").as("id_a"), col("p_name").as("name_a"))
      val b = p.select(col("p_brand"), col("p_type"),
        col("p_partkey").as("id_b"), col("p_name").as("name_b"))
      a.join(b, Seq("p_brand", "p_type"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("jw_ppm",
          floor(graft.functions.GraftFunctions
            .jaro_winkler(col("name_a"), col("name_b")) * 1000000 + 0.5)
            .cast("long"))
        .filter(col("jw_ppm") >= 900000L)
        .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"),
          col("jw_ppm"))
        .orderBy("id_a", "id_b")
    },
    Some(
      """SELECT id_a, id_b, name_a, name_b, jw_ppm
        |FROM (
        |  SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |    a.p_name AS name_a, b.p_name AS name_b,
        |    CAST(floor(jaro_winkler_similarity(a.p_name, b.p_name)
        |      * 1000000 + 0.5) AS BIGINT) AS jw_ppm
        |  FROM part a JOIN part b
        |    ON a.p_brand = b.p_brand AND a.p_type = b.p_type
        |    AND a.p_partkey < b.p_partkey)
        |WHERE jw_ppm >= 900000
        |ORDER BY id_a, id_b""".stripMargin
    )
  )

  /** q_cdc_chunks — content-defined chunking (the Rabin/Gear rolling-
    * hash pattern storage dedup uses, applied to corpus text): a chunk
    * boundary falls after every position whose 4-char window hashes to
    * 0 mod 64 (expected chunk ≈ 64 chars), so chunk edges are defined
    * by CONTENT — an insertion early in a document shifts every
    * fixed-width block but leaves all CDC chunks after the next
    * boundary identical, which is what makes chunk-digest dedup robust
    * to edits. Per source: chunk count, duplicate-chunk instances
    * (same md5 digest seen earlier by (doc_id, start) order anywhere
    * in the corpus), and the duplicated bytes — the storage-style
    * dedup ratio at sub-document granularity.
    *
    * 100 TB shape: boundary detection, chunk assembly, and digesting
    * are ONE map-side projection (higher-order functions over the
    * in-row text; no position explosion ships, no text ever shuffles
    * — spec-asserted); the only shuffles carry (digest, source, len)
    * for the survivor window and the 20-row source rollup.
    */
  /** CDC chunk rows (start, clen, digest per chunk) for any frame with
    * a `text` column; `keep` columns pass through. The boundary scan
    * materializes through a 1-element explode barrier — see the
    * q_cdc_chunks scaladoc. Shared by the registry query and the
    * edit-stability property spec.
    */
  private[graft] def cdcChunkRows(df: DataFrame,
      keep: Seq[String]): DataFrame = {
    val lenT = length(col("text"))
    val posSeq = when(lenT >= 4, sequence(lit(1), (lenT - 3).cast("int")))
      .otherwise(expr("CAST(array() AS ARRAY<INT>)"))
    val isBoundary = (i: Column) =>
      Hash.hexToBigint(md5(col("text").substr(i, lit(4))))
        .cast("long") % 64 === 0
    val ends = concat(
      filter(transform(filter(posSeq, isBoundary), i => i + 3),
        e => e < lenT),
      array(lenT.cast("int")))
    // 1-element explode = materialization barrier: the boundary scan
    // (one md5 per text position) runs ONCE per document and `ends`
    // becomes a bound attribute — inlined into the chunk lambda's
    // element_at calls it would re-run per chunk (measured 117 s →
    // ~3 s per bench pass at sf0.1)
    val withEnds = df
      .filter(lenT >= 1)
      .select(keep.map(col) ++ Seq(col("text"),
        explode(array(ends)).as("ends")): _*)
    val chunks = transform(
      sequence(lit(0), size(col("ends")) - 1),
      k => {
        val start = when(k === 0, lit(1))
          .otherwise(element_at(col("ends"), k) + 1)
        val clen = element_at(col("ends"), k + 1) - start + 1
        struct(k.as("chunk_no"), start.as("start"), clen.as("clen"),
          md5(col("text").substr(start, clen)).as("digest"))
      })
    withEnds
      .select(keep.map(col) :+ explode(chunks).as("c"): _*)
      .select(keep.map(col) ++ Seq(col("c.start").as("start"),
        col("c.clen").as("clen"), col("c.digest").as("digest")): _*)
  }

  val qCdcChunks = Q(
    "q_cdc_chunks",
    (s, d) => {
      // one md5 per text POSITION (the boundary scan) fused on the
      // one-row-group scan — spread first (3.6 → 1.2 s at sf0.1×32;
      // no-op at scale)
      val rows = cdcChunkRows(
        Tables.spreadForCompute(Tables.documents(s, d), s, d, "documents"),
        Seq("doc_id", "source"))
      val inst = rows.withColumn("rn", row_number().over(
        Window.partitionBy("digest").orderBy("doc_id", "start")))
      inst.groupBy("source")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_dup"),
          sum(col("clen").cast("long")).as("bytes_total"),
          sum(when(col("rn") > 1, col("clen").cast("long")).otherwise(0L))
            .as("bytes_dup"))
        .select(col("source"), col("n_chunks"), col("n_dup"),
          expr("n_dup * 1000000 div n_chunks").as("dup_ppm"),
          col("bytes_total"), col("bytes_dup"))
        .orderBy("source")
    },
    Some {
      val h = OracleSql.hexToBigint("md5(substr(text, CAST(i AS INT), 4))")
      s"""WITH base AS (
         |  SELECT doc_id, source, text, length(text) AS n
         |  FROM documents WHERE length(text) >= 1),
         |withends AS (
         |  SELECT doc_id, source, text, n,
         |    list_concat(
         |      list_filter(list_transform(
         |        list_filter(range(1, greatest(n - 3, 0) + 1),
         |          i -> ($h) % 64 = 0),
         |        i -> i + 3),
         |        e -> e < n),
         |      [n]) AS ends
         |  FROM base),
         |chunkrows AS (
         |  SELECT doc_id, source,
         |    CASE WHEN t.k = 0 THEN 1 ELSE ends[CAST(t.k AS INT)] + 1 END
         |      AS start,
         |    ends[CAST(t.k AS INT) + 1]
         |      - CASE WHEN t.k = 0 THEN 1 ELSE ends[CAST(t.k AS INT)] + 1
         |        END + 1 AS clen,
         |    md5(substr(text,
         |      CAST(CASE WHEN t.k = 0 THEN 1
         |        ELSE ends[CAST(t.k AS INT)] + 1 END AS INT),
         |      CAST(ends[CAST(t.k AS INT) + 1]
         |        - CASE WHEN t.k = 0 THEN 1 ELSE ends[CAST(t.k AS INT)] + 1
         |          END + 1 AS INT))) AS digest
         |  FROM withends, UNNEST(range(0, len(ends))) AS t(k)),
         |inst AS (
         |  SELECT source, clen,
         |    row_number() OVER (PARTITION BY digest ORDER BY doc_id, start)
         |      AS rn
         |  FROM chunkrows)
         |SELECT source, count(*) AS n_chunks,
         |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup,
         |  (CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    * 1000000) // count(*) AS dup_ppm,
         |  CAST(sum(clen) AS BIGINT) AS bytes_total,
         |  CAST(sum(CASE WHEN rn > 1 THEN clen ELSE 0 END) AS BIGINT)
         |    AS bytes_dup
         |FROM inst GROUP BY source ORDER BY source""".stripMargin
    }
  )

  /** The q_setsim_join pipeline up to candidate generation, exposed so
    * the losslessness spec can count candidates with and without the
    * PPJoin filters. Returns (toks, sz, candidates):
    *  - `toks`: the pinned distinct (doc_id, shingle) stream;
    *  - `sz`: per-doc distinct-shingle counts;
    *  - candidates: prefix-sharing pairs that ALSO pass the PPJoin
    *    length filter (2·min(|x|,|y|) ≥ max(|x|,|y|)) and positional
    *    filter (`withPpjoinFilters = true`), or the bare prefix join
    *    (`false` — the round-6 shape, for the reduction measurement).
    */
  private[graft] def setsimCandidates(
      s: SparkSession, d: String,
      withPpjoinFilters: Boolean = true): (DataFrame, DataFrame, DataFrame) = {
    // the distinct shingle stream feeds FOUR sub-DAGs (df, the rank
    // join, and both sides of the verification join) — pin it once
    // instead of re-splitting and re-shuffling the corpus per use.
    // SPREAD KEPT, re-vindicated with the r14 pins in place: r13's
    // close pair measured this site as a loss (4.37 → 5.25 s) when the
    // un-pinned pipeline re-executed per consumer; with prefix/bands
    // pinned the scan-fused shingle explode+distinct runs exactly ONCE,
    // so parallelizing it pays again — same-box A/B (sentinels
    // 0.22–0.32): with spread 4.86–5.9 s vs without 5.20–6.5 s
    // (OPTIMIZATION_r14.md has the full runs). No-op at scale by the
    // row-group gate either way.
    val toks = Tables
      .spreadForCompute(Tables.documents(s, d), s, d, "documents")
      .select(col("doc_id"),
        explode(array(split(col("text"), "\\s+"))).as("tk"))
      .select(col("doc_id"),
        explode(shinglesOfTokens(col("tk"))).as("tok"))
      .distinct()
      .localCheckpoint()
    val df = toks.groupBy("tok").agg(count(lit(1)).as("df"))
    val sz = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val ranked = toks.join(df, "tok").join(sz, "doc_id")
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy("df", "tok")))
    // prefix rows carry the token's rank and the doc size so the
    // PPJoin positional/length filters (Xiao et al., WWW'08) can
    // reject candidates BEFORE the verification join
    val prefix = ranked.filter(expr("rk <= sz div 2 + 1"))
      .select(col("doc_id"), lit(0).as("band"), col("tok").as("bv"),
        col("rk"), col("sz"))
    // bandPairs pins its own input
    if (!withPpjoinFilters)
      return (toks, sz, bandPairs(prefix, BucketCap))
    // prefix-shingle buckets through the SAME giant-bucket triangle
    // guard as the LSH bands: a freak high-df prefix shingle cannot
    // pin one reducer; the surviving pair set is a filter-pruned
    // subset of the plain join's (every pruned pair provably fails
    // the threshold, so the RESULT is identical — spec-asserted
    // lossless vs brute force)
    // pin the prefix rows: like bandPairs, they feed the bucket-size
    // pre-pass AND both self-join sides below — without the pin the
    // df/sz joins + per-doc rank window over the full shingle stream
    // execute once PER OCCURRENCE (~3× in the static plan; the r14
    // before-plan shows three copies of the Window pipeline)
    val cells = bandCells(prefix.localCheckpoint(), BucketCap)
    val shared = cells.as("x").join(cells.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.lo") === col("y.lo") && col("x.hi") === col("y.hi") &&
          col("x.lo") === least(col("x.salt"), col("y.salt")) &&
          col("x.hi") === greatest(col("x.salt"), col("y.salt")) &&
          col("x.doc_id") < col("y.doc_id") &&
          // LENGTH filter: J ≥ 1/2 forces 2·min(|x|,|y|) ≥ max(|x|,|y|)
          lit(2) * least(col("x.sz"), col("y.sz")) >=
            greatest(col("x.sz"), col("y.sz")))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        col("x.rk").as("rka"), col("y.rk").as("rkb"),
        col("x.sz").as("sza"), col("y.sz").as("szb"))
    // POSITIONAL filter, applied at the pair's FIRST shared prefix
    // token (min rank — the global (df, tok) order makes per-doc
    // ranks mutually consistent, so at that token the common-prefix
    // count is exactly 1): overlap ≤ 1 + min(|x|−i, |y|−j) must
    // reach the J ≥ 1/2 overlap threshold ⌈(|x|+|y|)/3⌉
    val cand = shared.groupBy("id_a", "id_b", "sza", "szb")
      .agg(min(struct(col("rka"), col("rkb"))).as("m"))
      .filter(lit(1) +
        least(col("sza") - col("m.rka"), col("szb") - col("m.rkb")) >=
        expr("(sza + szb + 2) div 3"))
      .select("id_a", "id_b")
    (toks, sz, cand)
  }

  /** q_setsim_join — EXACT set-similarity join via prefix filtering
    * plus the PPJoin positional and length filters (Bayardo et al.
    * WWW'07; Xiao et al. WWW'08): two documents with shingle-Jaccard
    * ≥ t = 0.5 MUST share at least one shingle among each one's
    * ⌊(1−t)·|x|⌋+1 globally RAREST shingles, so candidates come from
    * an equi-join on prefix shingles only — then the length filter
    * (compatible sizes) and the positional filter (enough remaining
    * tokens after the first shared prefix token to reach the overlap
    * threshold) reject provably-unreachable pairs before any
    * verification work. The result is guaranteed complete — the
    * deterministic complement to the LSH banding (which trades recall
    * for fewer candidates; q_lsh_recall measures that trade, this
    * join has recall 1 by construction, spec-asserted against brute
    * force). Uses the SAME word 3-shingle unit as the MinHash
    * signatures. On the sf0.01 fixture corpus the prefix filter cuts
    * 124,750 possible pairs to 977 candidates and the PPJoin filters
    * cut those to 27 (4,620× total) before exact verification — the
    * candidate set is now barely larger than the 25-pair answer
    * (QueryPlanSpec's losslessness test measures the same reduction
    * at sf0.001: 1,139 → 29).
    *
    * 100 TB shape: the global shingle-frequency table co-joins on the
    * shingle key (never broadcast — vocabulary-sized); the prefix
    * rank is a per-doc window; candidate buckets are keyed by RARE
    * shingles so bucket sizes are df-bounded (a skewed bucket would
    * get the [[bandCells]] triangle treatment); verification is
    * candidate-bounded like q_ngram_jaccard. No all-pairs shape
    * exists at any stage.
    */
  val qSetsimJoin = Q(
    "q_setsim_join",
    (s, d) => {
      val (toks, sz, cand) = setsimCandidates(s, d)
      val inter = cand
        .join(toks.as("ta"), col("id_a") === col("ta.doc_id"))
        .join(toks.as("tb"),
          col("id_b") === col("tb.doc_id") && col("ta.tok") === col("tb.tok"))
        .groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(sz.as("sa"), col("id_a") === col("sa.doc_id"))
        .join(sz.as("sb"), col("id_b") === col("sb.doc_id"))
        .select(col("id_a"), col("id_b"), col("n_inter"),
          (col("sa.sz") + col("sb.sz") - col("n_inter")).as("n_union"),
          (col("n_inter").cast("double") /
            (col("sa.sz") + col("sb.sz") - col("n_inter"))).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
        .orderBy("id_a", "id_b")
    },
    Some(
      s"""WITH toks AS (
         |  SELECT DISTINCT doc_id, u.t AS tok
         |  FROM (SELECT doc_id, $wordShinglesSql AS t FROM documents),
         |    UNNEST(t) AS u(t)),
         |df AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
         |sz AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
         |ranked AS (
         |  SELECT t.doc_id, t.tok, sz.sz,
         |    row_number() OVER (PARTITION BY t.doc_id ORDER BY df.df, t.tok)
         |      AS rk
         |  FROM toks t JOIN df ON df.tok = t.tok
         |  JOIN sz ON sz.doc_id = t.doc_id),
         |prefix AS (
         |  SELECT doc_id, tok FROM ranked WHERE rk <= sz // 2 + 1),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM prefix a JOIN prefix b
         |    ON a.tok = b.tok AND a.doc_id < b.doc_id),
         |inter AS (
         |  SELECT c.id_a, c.id_b, count(*) AS n_inter
         |  FROM cand c
         |  JOIN toks ta ON ta.doc_id = c.id_a
         |  JOIN toks tb ON tb.doc_id = c.id_b AND tb.tok = ta.tok
         |  GROUP BY 1, 2)
         |SELECT i.id_a, i.id_b, CAST(n_inter AS BIGINT) AS n_inter,
         |  CAST(sa.sz + sb.sz - n_inter AS BIGINT) AS n_union,
         |  CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) AS jaccard
         |FROM inter i
         |JOIN sz sa ON sa.doc_id = i.id_a
         |JOIN sz sb ON sb.doc_id = i.id_b
         |WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin
    )
  )

  /** q_lsh_scurve — the exact S-curve tuning table for the SHIPPED
    * banding (8 minhash slices → b = 2 bands × r = 4 rows, the scheme
    * [[qMinhashSignature]] emits and the LSH pair join buckets on):
    * per Jaccard similarity s = k/10, the pair-collision probability
    * P(s) = 1 − (1 − s⁴)² — the table an operator reads to know what
    * similarity the banding actually recalls before trusting
    * [[qLshRecall]]'s empirical numbers (the curve's exact half-point
    * (1 − 2^-½)^¼ ≈ 0.736 is WHY measured recall collapses below
    * s ≈ 0.7 and saturates above s ≈ 0.8; the common large-b
    * (1/b)^(1/r) heuristic would overshoot to 0.84 at b = 2).
    *
    * Cross-engine exactness: at s = k/10 the curve is RATIONAL —
    * P·10⁸ = 10⁸ − (10⁴ − k⁴)², so every row is pure int64 arithmetic
    * (max 10¹⁴), no pow(), no floating point at all. Both engines
    * compute the identical BIGINT.
    *
    * 100 TB shape: a 9-row generated frame; nothing reads the corpus.
    */
  val qLshScurve = Q(
    "q_lsh_scurve",
    (s, d) => {
      val _ = d // the tuning table is corpus-independent by design
      s.range(1, 10).toDF("k")
        .select(col("k").cast("int").as("s_tenths"),
          (col("k") * col("k") * col("k") * col("k") * lit(100L))
            .as("p_band_ppm"),
          expr("(100000000 - (10000 - k*k*k*k) * (10000 - k*k*k*k)) " +
            "* 1000000 div 100000000").as("p_pair_ppm"))
        .orderBy("s_tenths")
    },
    Some(
      """SELECT CAST(k AS INT) AS s_tenths,
        |  CAST(k*k*k*k * 100 AS BIGINT) AS p_band_ppm,
        |  CAST((100000000 - (10000 - k*k*k*k) * (10000 - k*k*k*k))
        |    * 1000000 // 100000000 AS BIGINT) AS p_pair_ppm
        |FROM range(1, 10) t(k)
        |ORDER BY s_tenths""".stripMargin
    )
  )

  /** q_winnow_pairs — winnowing's actual payoff: candidate near-dup /
    * plagiarism pairs from SHARED selected fingerprints (any two
    * documents sharing a ≥ 23-char run share one by the winnowing
    * guarantee — [[graft.functions.WinnowKernel]]), with the shared-
    * fingerprint count as the match strength. The index entries come
    * from the fused `winnow_fps` kernel; pair formation is the same
    * bucket-join shape as MinHash LSH, with the same giant-bucket
    * guard: fingerprints held by > 32 documents (boilerplate) are
    * dropped on BOTH engines before the join, so no bucket can go
    * quadratic — the rare-prefix rule PPJoin and the LSH pair join
    * already follow.
    *
    * Cross-engine exactness: fingerprints are md5 hex strings; the
    * DuckDB oracle replays the selection with the materialized
    * array_min(slice(...)) formulation the fused kernel is
    * property-proven equal to.
    *
    * 100 TB shape: one map-only kernel pass emits ~2n/w fingerprints
    * per doc; one shuffle keyed by fingerprint; the bucket-size guard
    * caps join fan-out at 32²/2 per bucket. Document text never
    * moves.
    */
  val qWinnowPairs = Q(
    "q_winnow_pairs",
    (s, d) => {
      import graft.functions.GraftFunctions.winnow_fps
      val fps = Tables.documents(s, d)
        .filter(length(col("text")) >= 16)
        .select(col("doc_id"), explode(winnow_fps(col("text"))).as("fp"))
      val sizes = fps.groupBy("fp").agg(count(lit(1)).as("bn"))
      val rare = fps.join(sizes.filter(col("bn") <= 32), "fp")
        .select("doc_id", "fp")
      rare.as("a").join(rare.as("b"),
          col("a.fp") === col("b.fp") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("id_a", "id_b")
    },
    Some(s"$winnowPairsSql\nORDER BY id_a, id_b")
  )

  /** The winnowing candidate-pair query as a composable SQL fragment
    * (no ORDER BY) — shared by [[qWinnowPairs]] and the
    * method-agreement audit [[qDedupMethodOverlap]].
    */
  private[ops] lazy val winnowPairsSql: String =
    """WITH g AS (
      |  SELECT doc_id, len(text) - 15 AS ng,
      |    list_transform(range(1, len(text) - 15 + 1),
      |      i -> md5(substr(text, CAST(i AS INT), 16))) AS h
      |  FROM documents WHERE len(text) >= 16),
      |w AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, greatest(ng - 7, 1) + 1),
      |      j -> list_min(h[j:j+7]))) AS fps
      |  FROM g),
      |f AS (SELECT doc_id, fp FROM w, UNNEST(fps) AS u(fp)),
      |sz AS (SELECT fp, count(*) AS bn FROM f GROUP BY fp),
      |r AS (SELECT f.doc_id, f.fp FROM f JOIN sz USING (fp)
      |      WHERE sz.bn <= 32)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(count(*) AS BIGINT) AS n_shared
      |FROM r a JOIN r b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |GROUP BY 1, 2""".stripMargin

  /** q_dedup_method_overlap — method-agreement audit between the two
    * corpus-wide candidate-pair generators: MinHash-LSH banding
    * ([[qMinhashLshPairs]], token-shingle Jaccard proxy) and
    * winnowing fingerprints ([[qWinnowPairs]], character-level
    * near-duplication). Reports each set's size, the intersection,
    * union, and pair-set agreement in ppm — the governance number a
    * dedup pipeline owner checks before swapping methods: low
    * agreement means the two detect DIFFERENT duplication phenomena
    * (token-level rewording vs verbatim character runs), not that one
    * is broken. Composes both generators' frames and both oracle
    * fragments verbatim, so the audit can never drift from the
    * audited queries.
    *
    * 100 TB shape: the sum of the two generators' costs (each already
    * bucketed/guarded) plus one pair-keyed join of the candidate
    * sets — candidate-scale, never corpus-scale — and three 1-row
    * aggregates broadcast-cross-joined.
    */
  val qDedupMethodOverlap = Q(
    "q_dedup_method_overlap",
    (s, d) => {
      val l = qMinhashLshPairs.fn(s, d).select("id_a", "id_b")
      val w = qWinnowPairs.fn(s, d).select("id_a", "id_b")
      val nl = l.agg(count(lit(1)).as("n_lsh"))
      val nw = w.agg(count(lit(1)).as("n_win"))
      val nb = l.join(w, Seq("id_a", "id_b")).agg(count(lit(1)).as("n_both"))
      nl.crossJoin(broadcast(nw)).crossJoin(broadcast(nb))
        .select(col("n_lsh"), col("n_win"), col("n_both"),
          (col("n_lsh") + col("n_win") - col("n_both")).as("n_union"),
          expr("CASE WHEN n_lsh + n_win - n_both = 0 THEN 0 " +
            "ELSE n_both * 1000000 div (n_lsh + n_win - n_both) END")
            .as("agree_ppm"),
          // asymmetric containments: at the shipped thresholds the
          // high-precision LSH set sits INSIDE the permissive winnow
          // set (measured 100% at sf0.1) — the number that tells you
          // banding is a strictly stricter detector here, not a
          // different-phenomenon one
          expr("CASE WHEN n_lsh = 0 THEN 0 " +
            "ELSE n_both * 1000000 div n_lsh END").as("lsh_in_win_ppm"),
          expr("CASE WHEN n_win = 0 THEN 0 " +
            "ELSE n_both * 1000000 div n_win END").as("win_in_lsh_ppm"))
    },
    Some(
      s"""WITH RECURSIVE lshp AS ($lshPairsSql),
         |winp AS ($winnowPairsSql),
         |c AS (
         |  SELECT
         |    (SELECT count(*) FROM lshp) AS n_lsh,
         |    (SELECT count(*) FROM winp) AS n_win,
         |    (SELECT count(*) FROM lshp JOIN winp USING (id_a, id_b))
         |      AS n_both)
         |SELECT n_lsh, n_win, n_both,
         |  n_lsh + n_win - n_both AS n_union,
         |  CAST(CASE WHEN n_lsh + n_win - n_both = 0 THEN 0
         |    ELSE n_both * 1000000 // (n_lsh + n_win - n_both) END
         |    AS BIGINT) AS agree_ppm,
         |  CAST(CASE WHEN n_lsh = 0 THEN 0
         |    ELSE n_both * 1000000 // n_lsh END AS BIGINT) AS lsh_in_win_ppm,
         |  CAST(CASE WHEN n_win = 0 THEN 0
         |    ELSE n_both * 1000000 // n_win END AS BIGINT) AS win_in_lsh_ppm
         |FROM c""".stripMargin
    )
  )

  /** q_sorted_blocking — sorted-neighborhood entity-resolution
    * blocking (Hernández & Stolfo, SIGMOD'95): sort every record by a
    * fuzzy key (name, tie-broken by id), slide a window of w = 4, and
    * score only window-mates — the blocking strategy that catches
    * matches EQUALITY blocking ([[qRecordLinkage]]/[[qJaroLinkage]]'s
    * (brand, type) blocks) misses when the blocking attribute itself
    * carries the typo. Pairs scored with the native
    * [[graft.functions.JaroWinkler]] (ppm-quantized before the ≥ 0.9
    * threshold, the qJaroLinkage convention), kept with their window
    * distance.
    *
    * Scale shape: the global sort is [[Distributed.globalRank0]]'s
    * ranged two-pass rank (never a single-partition window), and the
    * "within w of each other" pairing is NOT a range join — rank
    * distance δ ∈ {1,2,3} makes it a UNION of δ-shifted EQUI-joins on
    * the rank (one co-partitioned shuffle), each record pairing with
    * exactly w−1 successors regardless of corpus size. O(n·w) pairs,
    * names move once, the O(len²) scorer runs inside codegen.
    */
  val qSortedBlocking = Q(
    "q_sorted_blocking",
    (s, d) => {
      val p = Tables.part(s, d)
        .select(col("p_partkey").as("id"), col("p_name").as("name"))
      val (ranked, _, rc) =
        Distributed.globalRank0(p, Seq(col("name"), col("id")), "snm")
      val r = ranked.withColumnRenamed(rc, "rk")
      val right = r.select(col("rk").as("rk_b"), col("id").as("id_b"),
        col("name").as("name_b"))
      r.select(col("rk"), col("id").as("id_a"), col("name").as("name_a"),
          explode(sequence(lit(1), lit(3))).as("delta"))
        .withColumn("rk_b", col("rk") + col("delta"))
        .join(right, "rk_b")
        .withColumn("jw_ppm",
          floor(graft.functions.GraftFunctions
            .jaro_winkler(col("name_a"), col("name_b")) * 1000000 + 0.5)
            .cast("long"))
        .filter(col("jw_ppm") >= 900000L)
        .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"),
          col("delta").cast("long").as("delta"), col("jw_ppm"))
        .orderBy("id_a", "id_b")
    },
    Some(
      """WITH p AS (SELECT p_partkey AS id, p_name AS name FROM part),
        |r AS (
        |  SELECT id, name,
        |    row_number() OVER (ORDER BY name, id) - 1 AS rk
        |  FROM p),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b, a.name AS name_a,
        |    b.name AS name_b, CAST(b.rk - a.rk AS BIGINT) AS delta,
        |    CAST(floor(jaro_winkler_similarity(a.name, b.name)
        |      * 1000000 + 0.5) AS BIGINT) AS jw_ppm
        |  FROM r a JOIN r b ON b.rk BETWEEN a.rk + 1 AND a.rk + 3)
        |SELECT id_a, id_b, name_a, name_b, delta, jw_ppm
        |FROM pairs WHERE jw_ppm >= 900000
        |ORDER BY id_a, id_b""".stripMargin
    )
  )

  val all: Seq[Q] = Seq(
    qLshScurve,
    qWinnowPairs,
    qSubstrRegions,
    qSubstrCut,
    qDedupExact,
    qMinhashSignature,
    qJaccardEst,
    qBbitMinhash,
    qLshRecall,
    qRecordLinkage,
    qJaroLinkage,
    qContrastivePairs,
    qCdcChunks,
    qSetsimJoin,
    qMinhashLshPairs,
    qDedupClusters,
    qSimhash,
    qNgramJaccard,
    qContainment,
    qDedupIncremental,
    qEditVerify,
    qClusterStats,
    qDedupSurvivorship,
    qSortedBlocking,
    qDedupMethodOverlap
  )
}
