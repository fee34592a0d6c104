package graft.ops

import graft.{Hash, OracleSql, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable sketch structures — the bounded-memory summaries a
  * 100 TB profiling pass keeps per partition/source where exact state
  * would not fit: KMV (k-minimum-values) distinct-count sketches
  * (Bar-Yossef et al. 2002; the theta-sketch ancestor) and a
  * count-min sketch (Cormode & Muthukrishnan 2005) for heavy-hitter
  * frequency estimates.
  *
  * Spark ships approx_count_distinct (HLL++) and approx_percentile,
  * but their binary registers are engine-private — no DuckDB oracle
  * can reproduce them. These sketches instead use the repo's
  * md5-prefix uniform hash (same convention as [[Sampling]] /
  * [[Dedup]]), making every register value, merge, and estimate an
  * exact integer BOTH engines compute bit-identically — the sketch
  * math itself is verified, not just its output shape.
  *
  * 100 TB shape: a KMV sketch is 64 longs per group — per-executor
  * partial sets union by keeping the k smallest (associative,
  * commutative), so the shuffle carries ≤ 64 values per (partition,
  * group) regardless of input size; merging per-source sketches into
  * a global one (the 'ALL' row) touches 5×64 values, never the data.
  * The count-min counter table is d×w = 4×256 cells total — it
  * partial-aggregates map-side and broadcasts back for estimation.
  */
object Sketches {

  /** q_kmv_distinct — per-priority KMV distinct-customer estimates
    * plus the merged global sketch. k = 64; estimate = (k−1)·2^32 / m
    * where m is the k-th smallest distinct hash (floor division —
    * identical on positive BIGINTs in both engines). The 'ALL' row is
    * computed by MERGING the five per-group k-min sets (the sketch
    * union), not by re-scanning the data — exactly how a 1000-executor
    * rollup would combine per-source summaries.
    */
  val qKmvDistinct = Q(
    "q_kmv_distinct",
    (s, d) => {
      val k = 64
      val hashed = Tables.orders(s, d)
        .select(col("o_orderpriority").as("g"),
          Hash.hexToBigint(md5(col("o_custkey").cast("string")))
            .cast("long").as("h"))
        .distinct()
      val topk = hashed
        .withColumn("rk", row_number().over(Window.partitionBy("g").orderBy("h")))
        .filter(col("rk") <= k)
      val perG = topk.filter(col("rk") === k)
        .select(col("g").as("scope"), expr(s"${(k - 1).toLong * 4294967296L} div h").as("kmv_est"))
      // sketch merge: union of the five k-min sets, re-take the k smallest
      val merged = topk.select("h").distinct()
        .withColumn("rk", row_number().over(Window.orderBy("h")))
        .filter(col("rk") === k)
        .select(lit("ALL").as("scope"), expr(s"${(k - 1).toLong * 4294967296L} div h").as("kmv_est"))
      val exactG = Tables.orders(s, d).groupBy(col("o_orderpriority").as("scope"))
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      val exactAll = Tables.orders(s, d)
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
        .select(lit("ALL").as("scope"), col("n_exact"))
      perG.unionByName(merged)
        .join(exactG.unionByName(exactAll), "scope")
        .select(col("scope"), col("n_exact"), col("kmv_est"))
        .orderBy("scope")
    },
    Some {
      val h = OracleSql.hexToBigint("md5(CAST(o_custkey AS VARCHAR))")
      """WITH hashed AS (
        |  SELECT DISTINCT o_orderpriority AS g, HEXPR AS h FROM orders),
        |topk AS (
        |  SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rk
        |  FROM hashed),
        |perg AS (
        |  SELECT g AS scope, (63 * 4294967296) // h AS kmv_est
        |  FROM topk WHERE rk = 64),
        |merged AS (
        |  SELECT 'ALL' AS scope, (63 * 4294967296) // h AS kmv_est FROM (
        |    SELECT h, row_number() OVER (ORDER BY h) AS rk
        |    FROM (SELECT DISTINCT h FROM topk WHERE rk <= 64))
        |  WHERE rk = 64),
        |exact AS (
        |  SELECT o_orderpriority AS scope, count(DISTINCT o_custkey) AS n_exact
        |  FROM orders GROUP BY 1
        |  UNION ALL
        |  SELECT 'ALL', count(DISTINCT o_custkey) FROM orders)
        |SELECT scope, n_exact, CAST(kmv_est AS BIGINT) AS kmv_est
        |FROM perg JOIN exact USING (scope)
        |UNION ALL
        |SELECT scope, n_exact, CAST(kmv_est AS BIGINT)
        |FROM merged JOIN exact USING (scope)
        |ORDER BY scope""".stripMargin.replace("HEXPR", h)
    }
  )

  /** q_countmin — count-min heavy hitters over the document token
    * stream: d = 4 hash rows × w = 256 buckets; each row j hashes
    * `j:token`; estimate = min over rows of the bucket counter (an
    * overestimate by construction, never under). Reports the top-20
    * exact tokens with exact count, CM estimate, and the
    * overestimation the 4×256 table cost at this vocabulary size.
    */
  val qCountMin = Q(
    "q_countmin",
    (s, d) => {
      val tokcnt = Tables.documents(s, d)
        .select(explode(TextOps.wsTokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("c"))
      val buckets = tokcnt
        .select(col("token"), col("c"), explode(sequence(lit(0), lit(3))).as("j"))
        .withColumn("b",
          Hash.hexToBigint(md5(concat(col("j").cast("string"), lit(":"),
            col("token")))).cast("long") % 256)
      val counters = buckets.groupBy("j", "b").agg(sum(col("c")).as("tot"))
      buckets.join(broadcast(counters), Seq("j", "b"))
        .groupBy("token", "c")
        .agg(min(col("tot")).as("cm_est"))
        .select(col("token"), col("c").as("exact"), col("cm_est"),
          (col("cm_est") - col("c")).as("overcount"))
        .orderBy(col("exact").desc, col("token"))
        .limit(20)
    },
    Some {
      val h = OracleSql.hexToBigint("md5(CAST(j AS VARCHAR) || ':' || token)")
      """WITH tokcnt AS (
        |  SELECT u.t AS token, count(*) AS c
        |  FROM (SELECT list_filter(string_split_regex(text, '\s+'),
        |          t -> t <> '') AS toks FROM documents),
        |    UNNEST(toks) AS u(t)
        |  GROUP BY u.t),
        |buckets AS (
        |  SELECT token, c, CAST(v.j AS INT) AS j, HEXPR % 256 AS b
        |  FROM tokcnt, UNNEST(range(0, 4)) AS v(j)),
        |counters AS (
        |  SELECT j, b, CAST(sum(c) AS BIGINT) AS tot
        |  FROM buckets GROUP BY j, b)
        |SELECT token, c AS exact, min(tot) AS cm_est,
        |  min(tot) - c AS overcount
        |FROM buckets JOIN counters USING (j, b)
        |GROUP BY token, c
        |ORDER BY exact DESC, token LIMIT 20""".stripMargin.replace("HEXPR", h)
    }
  )

  /** q_kmv_intersect — theta-sketch-style SET INTERSECTION estimates
    * from per-group KMV sketches (the audience-overlap primitive):
    * for each priority pair, θ = min of the two k-th-smallest hashes;
    * every hash below θ is guaranteed present in BOTH sketches if it
    * is in the set, so |S_A ∩ S_B ∩ [0,θ)| · 2³² / θ estimates the
    * true overlap — computed purely from the two 64-long sketches,
    * never the data. Reported next to the exact overlap.
    */
  val qKmvIntersect = Q(
    "q_kmv_intersect",
    (s, d) => {
      val k = 64
      val hashed = Tables.orders(s, d)
        .select(col("o_orderpriority").as("g"),
          col("o_custkey").as("key"),
          Hash.hexToBigint(md5(col("o_custkey").cast("string")))
            .cast("long").as("h"))
        .distinct()
      val topk = hashed.select("g", "h").distinct()
        .withColumn("rk", row_number().over(Window.partitionBy("g").orderBy("h")))
        .filter(col("rk") <= k)
        .cache()
      val theta = topk.filter(col("rk") === k)
        .select(col("g"), col("h").as("theta"))
      val sk1 = topk.select(col("g").as("g1"), col("h"))
      val sk2 = topk.select(col("g").as("g2"), col("h"))
      val th1 = theta.select(col("g").as("g1"), col("theta").as("t1"))
      val th2 = theta.select(col("g").as("g2"), col("theta").as("t2"))
      val common = sk1.join(sk2, "h").filter(col("g1") < col("g2"))
        .join(broadcast(th1), "g1").join(broadcast(th2), "g2")
        .filter(col("h") < least(col("t1"), col("t2")))
        .groupBy("g1", "g2")
        .agg(count(lit(1)).as("c"),
          min(least(col("t1"), col("t2"))).as("theta"))
        .select(col("g1"), col("g2"),
          expr("c * 4294967296 div theta").as("kmv_est"))
      val ex1 = hashed.select(col("g").as("g1"), col("key"))
      val ex2 = hashed.select(col("g").as("g2"), col("key"))
      val exact = ex1.join(ex2, "key").filter(col("g1") < col("g2"))
        .groupBy("g1", "g2").agg(countDistinct(col("key")).as("n_exact"))
      exact.join(common, Seq("g1", "g2"), "left")
        .select(col("g1"), col("g2"), col("n_exact"),
          coalesce(col("kmv_est"), lit(0L)).as("kmv_est"))
        .orderBy("g1", "g2")
    },
    Some {
      val h = OracleSql.hexToBigint("md5(CAST(o_custkey AS VARCHAR))")
      """WITH hashed AS (
        |  SELECT DISTINCT o_orderpriority AS g, o_custkey AS key,
        |    HEXPR AS h
        |  FROM orders),
        |topk AS (
        |  SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rk
        |  FROM (SELECT DISTINCT g, h FROM hashed)),
        |sk AS (SELECT g, h FROM topk WHERE rk <= 64),
        |theta AS (SELECT g, h AS theta FROM topk WHERE rk = 64),
        |common AS (
        |  SELECT a.g AS g1, b.g AS g2, count(*) AS c,
        |    min(least(ta.theta, tb.theta)) AS th
        |  FROM sk a JOIN sk b ON a.h = b.h AND a.g < b.g
        |  JOIN theta ta ON ta.g = a.g
        |  JOIN theta tb ON tb.g = b.g
        |  WHERE a.h < least(ta.theta, tb.theta)
        |  GROUP BY 1, 2),
        |exact AS (
        |  SELECT a.g AS g1, b.g AS g2, count(DISTINCT a.key) AS n_exact
        |  FROM hashed a JOIN hashed b ON a.key = b.key AND a.g < b.g
        |  GROUP BY 1, 2)
        |SELECT g1, g2, n_exact,
        |  CAST(coalesce((c * 4294967296) // th, 0) AS BIGINT) AS kmv_est
        |FROM exact LEFT JOIN common USING (g1, g2)
        |ORDER BY g1, g2""".stripMargin.replace("HEXPR", h)
    }
  )

  /** q_bloom_prefilter — engine-reproducible Bloom-filter semi-join
    * pruning, the runtime-filter pattern big joins use to kill probe
    * rows before the shuffle: build an m=8192-bit / 3-hash Bloom over
    * the BUILDING-segment customer keys, probe every order through it,
    * and measure the reduction exactly — probe rows, Bloom survivors,
    * true matches, false positives, and the FP rate in ppm against
    * the reference 0.6185^(m/n) bound.
    *
    * 100 TB shape: the "filter" that ships is the distinct set-bit
    * table (≤ m = 8192 rows — broadcast, like Spark's own
    * InjectRuntimeFilter bloom). The probe side computes its 3
    * positions map-side and keeps a row only when all 3 hit, so the
    * expensive downstream join (here: the exact-match check) sees
    * orders × bloom-pass, not orders × all. No row ever shuffles to
    * build the filter — the bit table partial-aggregates.
    */
  val qBloomPrefilter = Q(
    "q_bloom_prefilter",
    (s, d) => {
      val m = 8192L
      def pos(key: Column, i: Int): Column =
        Hash.hexToBigint(md5(concat(key.cast("string"), lit(s":$i"))))
          .cast("long") % m
      val custs = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("key"))
      // set-bit table: ≤ m distinct positions, broadcast to the probe
      val bits = custs
        .select(explode(array((1 to 3).map(i => pos(col("key"), i)): _*))
          .as("bit"))
        .distinct()
      val probe = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"),
        array((1 to 3).map(i => pos(col("o_custkey"), i)): _*).as("ps"))
      val hits = probe
        .select(col("o_orderkey"), col("o_custkey"),
          posexplode(col("ps")).as(Seq("i", "bit")))
        .join(broadcast(bits), "bit")
        .groupBy("o_orderkey", "o_custkey")
        .agg(count(lit(1)).as("nhit"))
        .filter(col("nhit") === 3)
      val truth = custs.distinct()
      val passTrue = hits.join(broadcast(truth),
        hits("o_custkey") === truth("key"), "left")
        .agg(count(lit(1)).as("bloom_pass"),
          sum(when(col("key").isNotNull, 1L).otherwise(0L)).as("true_match"))
      val totals = Tables.orders(s, d)
        .agg(count(lit(1)).as("n_probe"))
      totals.crossJoin(broadcast(passTrue))
        .select(col("n_probe"), col("bloom_pass"), col("true_match"),
          (col("bloom_pass") - col("true_match")).as("false_pos"),
          expr("(bloom_pass - true_match) * 1000000 div " +
            "(n_probe - true_match)").as("fp_ppm"))
    },
    Some {
      def posSql(keyExpr: String, i: Int): String =
        s"(${OracleSql.hexToBigint(
          s"md5(CAST($keyExpr AS VARCHAR) || ':$i')")} % 8192)"
      val bitsSel = (1 to 3)
        .map(i => s"SELECT ${posSql("key", i)} AS bit FROM custs")
        .mkString("\n  UNION\n  ")
      val probePs = (1 to 3)
        .map(i => s"${posSql("o_custkey", i)} AS p$i").mkString(", ")
      s"""WITH custs AS (
         |  SELECT c_custkey AS key FROM customer
         |  WHERE c_mktsegment = 'BUILDING'),
         |bits AS (
         |  $bitsSel),
         |probe AS (
         |  SELECT o_orderkey, o_custkey, $probePs FROM orders),
         |pass AS (
         |  SELECT p.o_orderkey, p.o_custkey
         |  FROM probe p
         |  WHERE EXISTS (SELECT 1 FROM bits b WHERE b.bit = p.p1)
         |    AND EXISTS (SELECT 1 FROM bits b WHERE b.bit = p.p2)
         |    AND EXISTS (SELECT 1 FROM bits b WHERE b.bit = p.p3)),
         |agg AS (
         |  SELECT count(*) AS bloom_pass,
         |    CAST(sum(CASE WHEN c.key IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS true_match
         |  FROM pass LEFT JOIN (SELECT DISTINCT key FROM custs) c
         |    ON c.key = pass.o_custkey)
         |SELECT (SELECT count(*) FROM orders) AS n_probe,
         |  bloom_pass, true_match,
         |  bloom_pass - true_match AS false_pos,
         |  ((bloom_pass - true_match) * 1000000)
         |    // ((SELECT count(*) FROM orders) - true_match) AS fp_ppm
         |FROM agg""".stripMargin
    }
  )

  /** q_quantile_sketch — mergeable rank-based quantile summary (the
    * GK/t-digest role with engine-reproducible registers, like KMV for
    * distinct counts): each order-priority group is summarized by its
    * k=32 evenly-spaced order statistics, each register carrying the
    * group's row count as weight; the five per-group summaries merge
    * by weighted cumulative rank into global p50/p90/p99 estimates,
    * reported next to the exact percentiles with the signed error —
    * the accuracy contract a 1000-executor rollup relies on when it
    * combines per-shard summaries instead of re-sorting the data.
    *
    * 100 TB shape — every corpus-sized stage runs at full
    * parallelism; NO window in this query is unpartitioned:
    * (a) the per-group register rank is [[Distributed.globalRank0]]'s
    * ranged two-pass rank over the total (g, v) order minus each
    * group's broadcast cumulative offset — a 5-value partition key
    * would cap parallelism at 5 (~20 TB per task at 100 TB), whereas
    * the ranged form keys the window on the range-partition id;
    * (b) the groups×k = 160-row register merge is a broadcast
    * non-equi self-join + re-aggregate (O(160²) comparisons) instead
    * of even a bounded single-partition window, so the executed plan
    * is provably free of SinglePartition exchanges;
    * (c) the exact baseline pre-aggregates by value then takes
    * [[Distributed.globalCumSum]]'s ranged two-pass running count —
    * prices are near-unique, so a plain `Window.orderBy` here would
    * funnel ~n rows through ONE task.
    *
    * Cross-engine exactness: registers are selected by integer rank
    * arithmetic; cumulative weights and thresholds are exact BIGINTs;
    * estimates/exacts are picked values (no interpolation), so the
    * only doubles are the data itself.
    */
  val qQuantileSketch = Q(
    "q_quantile_sketch",
    (s, d) => {
      import s.implicits._
      val k = 32
      val vals = Tables.orders(s, d)
        .select(col("o_orderpriority").as("g"), col("o_totalprice").as("v"))
      val ng = vals.groupBy("g").agg(count(lit(1)).as("n"))
      // per-group rank at full parallelism: ranged two-pass global rank
      // over the total (g, v) order, minus each group's broadcast
      // cumulative offset (5 scalars) — ties on v share the same value,
      // so the register VALUES are order-independent
      val (ranked0, _, rc) = Distributed.globalRank0(
        vals, Seq(col("g"), col("v")), "qsk")
      val ngRows = ng.orderBy("g").collect()
      val gOff = ngRows.map(_.getString(0)).zip(
        ngRows.map(_.getLong(1)).scanLeft(0L)(_ + _).dropRight(1))
      val offDf = gOff.toSeq.toDF("g", "goff")
      val ranked = ranked0.join(broadcast(offDf), "g")
        .withColumn("rn", col(rc) - col("goff") + 1L)
      val regs = ranked.join(broadcast(ng), "g")
        .filter(expr(s"array_contains(transform(sequence(0, ${k - 1}), " +
          s"i -> 1L + (CAST(i AS BIGINT) * (n - 1)) div ${k - 1}), rn)"))
        .select(col("g"), col("v"), col("rn"), col("n"))
      val tot = ng.agg((sum(col("n")) * k).as("w"))
      // groups×k = 160-row register merge: cumulative weight by
      // broadcast non-equi self-join (sum n over registers at or
      // before (v, g, rn) in the unique merge order) — equivalent to
      // the ordered running sum, with no SinglePartition exchange
      val r2 = regs.select(col("v").as("v2"), col("g").as("g2"),
        col("rn").as("rn2"), col("n").as("n2"))
      val cum = regs.join(broadcast(r2),
          col("v2") < col("v") ||
          (col("v2") === col("v") && col("g2") < col("g")) ||
          (col("v2") === col("v") && col("g2") === col("g") &&
            col("rn2") <= col("rn")))
        .groupBy("g", "v", "rn").agg(sum(col("n2")).as("cw"))
        .crossJoin(broadcast(tot))
      val pcts = Seq(50, 90, 99).toDF("pct")
      val est = cum.crossJoin(broadcast(pcts))
        .filter(col("cw") >= expr("(pct * w + 99) div 100"))
        .groupBy("pct").agg(min(col("v")).as("est"))
      // exact side = the distributed order statistic (the
      // q_weighted_median machinery): pre-aggregate by VALUE, then a
      // cumulative-count threshold scan over the aggregated rows —
      // value-identical to indexing a sorted list at ceil(pct·n/100)
      // (min v with cumcount ≥ r IS the r-th order statistic); the
      // running count is the ranged two-pass prefix sum because
      // distinct prices are ~n rows — never an unpartitioned window
      val byV = vals.groupBy(col("v").as("ev")).agg(count(lit(1)).as("c"))
      val nTot = vals.agg(count(lit(1)).as("n"))
      val exact = Distributed.globalCumSum(
          byV, Seq(col("ev")), col("c"), "ecw")
        .crossJoin(broadcast(nTot))
        .crossJoin(broadcast(pcts))
        .filter(col("ecw") >= expr("(pct * n + 99) div 100"))
        .groupBy("pct").agg(min(col("ev")).as("exact"))
      est.join(exact, "pct")
        .select(col("pct"), col("est"), col("exact"),
          (col("est") - col("exact")).as("err"))
        .orderBy("pct")
    },
    Some(
      """WITH vals AS (
        |  SELECT o_orderpriority AS g, o_totalprice AS v FROM orders),
        |ng AS (SELECT g, count(*) AS n FROM vals GROUP BY g),
        |ranked AS (
        |  SELECT g, v,
        |    CAST(row_number() OVER (PARTITION BY g ORDER BY v) AS BIGINT)
        |      AS rn
        |  FROM vals),
        |regs AS (
        |  SELECT r.g, r.v, r.rn, ng.n
        |  FROM ranked r JOIN ng USING (g)
        |  WHERE list_contains(list_transform(range(0, 32),
        |    i -> 1 + (i * (n - 1)) // 31), r.rn)),
        |tot AS (SELECT CAST(sum(n) * 32 AS BIGINT) AS w FROM ng),
        |cum AS (
        |  SELECT g, v, rn, n,
        |    CAST(sum(n) OVER (ORDER BY v, g, rn) AS BIGINT) AS cw
        |  FROM regs),
        |pcts AS (SELECT unnest([50, 90, 99]) AS pct),
        |est AS (
        |  SELECT pct, min(v) AS est FROM cum, tot, pcts
        |  WHERE cw >= (pct * w + 99) // 100 GROUP BY pct),
        |byv AS (SELECT v AS ev, count(*) AS c FROM vals GROUP BY v),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM vals),
        |ecum AS (
        |  SELECT ev, CAST(sum(c) OVER (ORDER BY ev) AS BIGINT) AS ecw
        |  FROM byv),
        |exact AS (
        |  SELECT pct, min(ev) AS exact
        |  FROM ecum, nn, pcts
        |  WHERE ecw >= (pct * n + 99) // 100
        |  GROUP BY pct)
        |SELECT e.pct, e.est, x.exact, e.est - x.exact AS err
        |FROM est e JOIN exact x USING (pct) ORDER BY pct""".stripMargin
    )
  )

  /** q_hll_distinct — HyperLogLog distinct-count sketch (Flajolet et
    * al. 2007) with engine-reproducible registers, completing the
    * sketch family next to KMV: p = 6 → m = 64 registers; bucket =
    * top-6 bits of the md5-prefix hash, register = max over rows of
    * the leading-zero rank of the remaining 26 bits. The rank is pure
    * integer/string arithmetic — `position('1' in lpad(bin(rem), 26,
    * '0'))` — deliberately NOT floor(log2(x)), whose exact-power
    * rounding could differ between libm implementations; `bin` emits
    * the same minimal-width binary string in both engines. The 'ALL'
    * row merges the five per-group sketches register-wise by max (the
    * HLL union), never re-scanning the data. Estimate = α₆₄·m²/Σ2^−M_j;
    * each 2^−M_j term and every partial sum is an exactly-representable
    * power-of-two combination (exponent spread 33 < 53 bits), so the
    * double sum is shuffle-order-independent and bit-identical across
    * engines; the α multiply/divide are single IEEE ops on identical
    * operands. The small-range linear-counting branch (E ≤ 2.5m with
    * empty registers) uses the repo's quantized-ln convention.
    *
    * 100 TB shape: registers partial-aggregate map-side (max is
    * algebraic), so the shuffle carries ≤ 64 rows per (partition,
    * group); merging per-source sketches into the global estimate
    * touches 5×64 rows — the same bounded-summary contract as KMV,
    * with O(m) memory instead of KMV's O(k) values.
    */
  val qHllDistinct = Q(
    "q_hll_distinct",
    (s, d) => {
      val rankExpr =
        "CASE WHEN rem = 0 THEN 27 " +
          "ELSE position('1' in lpad(bin(rem), 26, '0')) END"
      val hashed = Tables.orders(s, d)
        .select(col("o_orderpriority").as("g"),
          Hash.hexToBigint(md5(col("o_custkey").cast("string")))
            .cast("long").as("h"))
        .distinct()
        .withColumn("bucket", expr("h div 67108864"))
        .withColumn("rem", expr("h % 67108864"))
        .withColumn("r", expr(rankExpr).cast("long"))
      val regs = hashed.groupBy("g", "bucket").agg(max(col("r")).as("r"))
      val buckets = s.range(0, 64).select(col("id").as("bucket"))
      val gs = regs.select("g").distinct()
      val perG = gs.crossJoin(broadcast(buckets))
        .join(regs, Seq("g", "bucket"), "left")
        .select(col("g").as("scope"), col("bucket"),
          coalesce(col("r"), lit(0L)).as("r"))
      // sketch union: register-wise max across the five group sketches
      val merged = regs.groupBy("bucket").agg(max(col("r")).as("r"))
      val mergedFull = buckets
        .join(merged, Seq("bucket"), "left")
        .select(lit("ALL").as("scope"), col("bucket"),
          coalesce(col("r"), lit(0L)).as("r"))
      val est = perG.unionByName(mergedFull)
        .groupBy("scope")
        // CAST(1 AS DOUBLE): a bare 1.0 literal parses as DECIMAL in
        // Spark (DOUBLE in DuckDB), putting the estimator sum in two
        // different numeric domains; both engines are forced to IEEE
        // double here so the power-of-two-sum determinism argument in
        // the scaladoc actually holds (same for 64/v0 in the
        // linear-counting branch, whose DECIMAL/BIGINT division would
        // round before ln)
        .agg(sum(expr(
          "CAST(1 AS DOUBLE) / shiftleft(CAST(1 AS BIGINT), CAST(r AS INT))"))
          .as("ssum"),
          sum(when(col("r") === 0, 1L).otherwise(0L)).as("v0"))
        .withColumn("hll_est", expr(
          "CASE WHEN 0.709 * 4096.0 / ssum <= 160.0 AND v0 > 0 " +
            "THEN CAST(floor(CAST(64 AS DOUBLE) * ln(CAST(64 AS DOUBLE) / v0) " +
            "* 1000000.0 + 0.5) " +
            "AS BIGINT) div 1000000 " +
            "ELSE CAST(floor(0.709 * 4096.0 / ssum + 0.5) AS BIGINT) END"))
        .select(col("scope"), col("hll_est"))
      val exactG = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("scope"))
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      val exactAll = Tables.orders(s, d)
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
        .select(lit("ALL").as("scope"), col("n_exact"))
      est.join(exactG.unionByName(exactAll), "scope")
        .select(col("scope"), col("n_exact"), col("hll_est"),
          expr("(hll_est - n_exact) * 1000000 div n_exact").as("err_ppm"))
        .orderBy("scope")
    },
    Some(hllOracle)
  )

  /** Shared DuckDB formulation of the m=64 HLL register DAG + estimator
    * — the oracle for BOTH q_hll_distinct (hand-assembled register
    * aggregation) and q_hll_agg (the native [[graft.functions
    * .HllSketchAgg]] aggregate): two different Spark plans, one defined
    * result. Duplicate (g, h) pairs cannot change a register max, so
    * the DISTINCT here is semantics-neutral between the two.
    */
  private lazy val hllOracle: String = {
      val h = OracleSql.hexToBigint("md5(CAST(o_custkey AS VARCHAR))")
      """WITH hashed AS (
        |  SELECT g, h, h // 67108864 AS bucket, h % 67108864 AS rem
        |  FROM (SELECT DISTINCT o_orderpriority AS g, HEXPR AS h
        |        FROM orders)),
        |ranked AS (
        |  SELECT g, bucket,
        |    CAST(CASE WHEN rem = 0 THEN 27
        |      ELSE position('1' in lpad(bin(rem), 26, '0')) END AS BIGINT)
        |      AS r
        |  FROM hashed),
        |regs AS (SELECT g, bucket, max(r) AS r FROM ranked GROUP BY 1, 2),
        |buckets AS (SELECT CAST(v.b AS BIGINT) AS bucket
        |            FROM UNNEST(range(0, 64)) AS v(b)),
        |perg AS (
        |  SELECT gs.g AS scope, b.bucket, coalesce(regs.r, 0) AS r
        |  FROM (SELECT DISTINCT g FROM regs) gs
        |  CROSS JOIN buckets b
        |  LEFT JOIN regs ON regs.g = gs.g AND regs.bucket = b.bucket),
        |merged AS (
        |  SELECT 'ALL' AS scope, b.bucket, coalesce(m.r, 0) AS r
        |  FROM buckets b LEFT JOIN
        |    (SELECT bucket, max(r) AS r FROM regs GROUP BY 1) m
        |    ON m.bucket = b.bucket),
        |est AS (
        |  SELECT scope,
        |    sum(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << CAST(r AS INT)))
        |      AS ssum,
        |    CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v0
        |  FROM (SELECT * FROM perg UNION ALL SELECT * FROM merged)
        |  GROUP BY scope),
        |final_est AS (
        |  SELECT scope,
        |    CASE WHEN 0.709 * 4096.0 / ssum <= 160.0 AND v0 > 0
        |      THEN CAST(floor(CAST(64 AS DOUBLE)
        |          * ln(CAST(64 AS DOUBLE) / v0) * 1000000.0 + 0.5)
        |        AS BIGINT) // 1000000
        |      ELSE CAST(floor(0.709 * 4096.0 / ssum + 0.5) AS BIGINT) END
        |      AS hll_est
        |  FROM est),
        |exact AS (
        |  SELECT o_orderpriority AS scope, count(DISTINCT o_custkey)
        |    AS n_exact
        |  FROM orders GROUP BY 1
        |  UNION ALL
        |  SELECT 'ALL', count(DISTINCT o_custkey) FROM orders)
        |SELECT scope, n_exact, hll_est,
        |  ((hll_est - n_exact) * 1000000) // n_exact AS err_ppm
        |FROM final_est JOIN exact USING (scope)
        |ORDER BY scope""".stripMargin.replace("HEXPR", h)
  }

  /** q_hll_agg — the SAME HLL distinct-count as q_hll_distinct, but run
    * through [[graft.functions.HllSketchAgg]]: graft's native Catalyst
    * aggregate function (`graft_hll`, registered both via
    * GraftExtensions.injectFunction and as a session temp function), so
    * the whole register DAG collapses into ONE aggregate call per scope.
    * The sketch buffer partial-aggregates map-side under
    * ObjectHashAggregate and serializes to 64 bytes per (partition,
    * group) for the shuffle — the mergeable-summary contract expressed
    * as a first-class aggregate rather than a hand-assembled
    * bucket/register join (plan- and value-asserted in HllAggSpec).
    *
    * 100 TB shape: two aggregations over orders (sketch + exact
    * comparison column), each with algebraic partial aggregation; the
    * broadcast-joined summary is 6 rows. At a real 100 TB run the
    * n_exact audit column would be dropped and only the O(m)-state
    * sketch pass would remain.
    */
  val qHllAgg = Q(
    "q_hll_agg",
    (s, d) => {
      import graft.functions.GraftFunctions.graft_hll
      val est = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("scope"))
        .agg(graft_hll(col("o_custkey").cast("string")).as("hll_est"))
      val estAll = Tables.orders(s, d)
        .agg(graft_hll(col("o_custkey").cast("string")).as("hll_est"))
        .select(lit("ALL").as("scope"), col("hll_est"))
      val exactG = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("scope"))
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      val exactAll = Tables.orders(s, d)
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
        .select(lit("ALL").as("scope"), col("n_exact"))
      est.unionByName(estAll)
        .join(exactG.unionByName(exactAll), "scope")
        .select(col("scope"), col("n_exact"), col("hll_est"),
          expr("(hll_est - n_exact) * 1000000 div n_exact").as("err_ppm"))
        .orderBy("scope")
    },
    Some(hllOracle)
  )

  /** q_kmv_median — the native KMV sampled-median aggregate
    * ([[graft.functions.KmvMedianAgg]]) audited per order priority
    * against the EXACT lower median: the sketch keeps the 64 distinct
    * cents values with the smallest md5 digests (hash-min selection —
    * order-independent, duplicate-insensitive, so partials merge
    * exactly and the DuckDB oracle replays the identical selection
    * with `ORDER BY md5(...) LIMIT 64`), and its median-of-sample
    * estimates the median of distinct values. err_ppm quantifies the
    * sampling error against the exact distinct-value lower median so
    * the sketch's accuracy is MEASURED, not asserted (the same
    * estimate-vs-exact audit shape as [[qHllAgg]]).
    *
    * Exact side: per-group lower median over the near-unique cents
    * domain without a per-group one-task sort — the q_auc pattern:
    * ONE [[Distributed.globalCumSum]] ranged prefix count over the
    * TOTAL (priority, cents) order minus each group's broadcast
    * offset, then the smallest value with 2·cum ≥ n (offsets are one
    * row per PRIORITY — catalog-bounded).
    *
    * 100 TB shape: the sketch side shuffles ≤ 64×24 B per
    * (partition, priority) under ObjectHashAggregate; the exact audit
    * column costs one distinct-value shuffle and would be dropped in
    * a production run, leaving the bounded-summary pass only.
    */
  val qKmvMedian = Q(
    "q_kmv_median",
    (s, d) => {
      import graft.functions.GraftFunctions.graft_kmv_median
      import s.implicits._
      val cents = Tables.orders(s, d).select(
        col("o_orderpriority").as("g"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("v"))
      val dv = cents.distinct() // KMV semantics: distinct values
      val est = dv.groupBy("g").agg(graft_kmv_median(col("v")).as("kmv_med"))
      // exact distinct-value lower median, q_auc-style ranged rank
      val byv = dv.groupBy("g", "v").agg(count(lit(1)).as("one"))
      val cum = Distributed.globalCumSum(
        byv, Seq(col("g"), col("v")), col("one"), "cumAll")
      val gt = byv.groupBy("g").agg(sum(col("one")).as("n_g"))
      val gRows = gt.orderBy("g").collect()
      val gOff = gRows.map(_.getString(0)).zip(
        gRows.map(_.getLong(1)).scanLeft(0L)(_ + _).dropRight(1))
      val offDf = gOff.toSeq.toDF("g", "goff")
      val exact = cum.join(broadcast(offDf), "g")
        .join(broadcast(gt), "g")
        .withColumn("cum", col("cumAll") - col("goff"))
        .filter(col("cum") * 2 >= col("n_g"))
        .groupBy("g").agg(min(col("v")).as("exact_med"))
      est.join(exact, "g")
        .select(col("g").as("scope"), col("exact_med"), col("kmv_med"),
          // sign-split so a negative numerator can't floor differently
          // across engines (the q_trend_test convention)
          expr("CASE WHEN kmv_med >= exact_med " +
            "THEN (kmv_med - exact_med) * 1000000 div exact_med " +
            "ELSE -((exact_med - kmv_med) * 1000000 div exact_med) END")
            .as("err_ppm"))
        .orderBy("scope")
    },
    Some(
      """WITH cents AS (
        |  SELECT DISTINCT o_orderpriority AS g,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
        |  FROM orders),
        |kept AS (
        |  SELECT g, v,
        |    row_number() OVER (PARTITION BY g
        |      ORDER BY md5(CAST(v AS VARCHAR))) AS rn
        |  FROM cents),
        |est AS (
        |  SELECT g, v AS kmv_med FROM (
        |    SELECT g, v,
        |      row_number() OVER (PARTITION BY g ORDER BY v) AS vr,
        |      count(*) OVER (PARTITION BY g) AS m
        |    FROM kept WHERE rn <= 64)
        |  WHERE vr = (m + 1) // 2),
        |exact AS (
        |  SELECT g, v AS exact_med FROM (
        |    SELECT g, v,
        |      row_number() OVER (PARTITION BY g ORDER BY v) AS vr,
        |      count(*) OVER (PARTITION BY g) AS m
        |    FROM cents)
        |  WHERE vr = (m + 1) // 2)
        |SELECT est.g AS scope, exact_med, kmv_med,
        |  CASE WHEN kmv_med >= exact_med
        |    THEN ((kmv_med - exact_med) * 1000000) // exact_med
        |    ELSE -(((exact_med - kmv_med) * 1000000) // exact_med)
        |  END AS err_ppm
        |FROM est JOIN exact ON exact.g = est.g
        |ORDER BY scope""".stripMargin
    )
  )

  /** q_ams_f2 — per-source self-join-size (F2 = Σ_t f_t²) estimate
    * from the native AMS tug-of-war aggregate
    * ([[graft.functions.F2SketchAgg]]), audited against the exact F2
    * computed in the SAME single aggregation pass. F2 prices a
    * shuffle join on the token column and measures corpus skew — the
    * estimate a 100 TB planner wants from a 256-byte summary instead
    * of a vocabulary-sized shuffle. The sketch is LINEAR (merge =
    * vector add), so the DuckDB oracle rebuilds the identical 32
    * signed counters relationally and replays the same
    * median-of-4-group-means, exact BIGINT end to end.
    *
    * 100 TB shape: one groupBy(source, token) partial-aggregated
    * count (the vocabulary pass the pipeline already runs), then one
    * ObjectHashAggregate whose shuffle carries 256 B + 8 B per
    * (partition, source) — the exact column is the audit and would
    * be dropped in production.
    */
  val qAmsF2 = Q(
    "q_ams_f2",
    (s, d) => {
      import graft.functions.GraftFunctions.graft_f2
      val tokcnt = Tables.documents(s, d)
        .select(col("source"), explode(TextOps.wsTokens(col("text"))).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("c"))
      tokcnt.groupBy("source")
        .agg(graft_f2(col("token"), col("c")).as("f2_est"),
          sum(col("c") * col("c")).as("f2_exact"))
        .select(col("source"), col("f2_exact"), col("f2_est"),
          expr("CASE WHEN f2_est >= f2_exact " +
            "THEN (f2_est - f2_exact) * 1000000 div f2_exact " +
            "ELSE -((f2_exact - f2_est) * 1000000 div f2_exact) END")
            .as("err_ppm"))
        .orderBy("source")
    },
    Some {
      val sign = "CASE WHEN (strpos('0123456789abcdef', " +
        "substr(md5(CAST(v.j AS VARCHAR) || ':' || token), 1, 1)) - 1) % 2 = 0 " +
        "THEN c ELSE -c END"
      s"""WITH tokcnt AS (
         |  SELECT source, u.t AS token, count(*) AS c
         |  FROM (SELECT source, list_filter(string_split_regex(text, '\\s+'),
         |          t -> t <> '') AS toks FROM documents),
         |    UNNEST(toks) AS u(t)
         |  GROUP BY source, u.t),
         |counters AS (
         |  SELECT source, CAST(v.j AS INT) AS j, SUM($sign) AS ctr
         |  FROM tokcnt, UNNEST(range(0, 32)) AS v(j)
         |  GROUP BY source, v.j),
         |gsums AS (
         |  SELECT source, j // 8 AS g, SUM(ctr * ctr) AS gs
         |  FROM counters GROUP BY source, j // 8),
         |med AS (
         |  SELECT source, gs FROM (
         |    SELECT source, gs,
         |      row_number() OVER (PARTITION BY source ORDER BY gs) AS rn
         |    FROM gsums) WHERE rn = 2),
         |exact AS (
         |  SELECT source, SUM(c * c) AS f2_exact FROM tokcnt GROUP BY source)
         |SELECT source, CAST(f2_exact AS BIGINT) AS f2_exact,
         |  CAST(gs // 8 AS BIGINT) AS f2_est,
         |  CAST(CASE WHEN gs // 8 >= f2_exact
         |    THEN ((gs // 8 - f2_exact) * 1000000) // f2_exact
         |    ELSE -(((f2_exact - gs // 8) * 1000000) // f2_exact)
         |  END AS BIGINT) AS err_ppm
         |FROM med JOIN exact USING (source)
         |ORDER BY source""".stripMargin
    }
  )

  /** q_count_sketch — Count-Sketch point estimates (Charikar, Chen &
    * Farach-Colton ICALP'02) for the top-20 tokens: d = 5 hash rows ×
    * w = 256 SIGNED buckets; row j adds `sign_j(t) · c` into bucket
    * `b_j(t)`, and the estimate is the exact integer MEDIAN of the 5
    * per-row values `sign_j(t) · counter[j, b_j(t)]`. Unlike
    * count-min ([[qCountMin]], min over unsigned rows — a one-sided
    * overestimate), the signed median is UNBIASED: colliding tokens
    * cancel in expectation, so err can be negative — the report keeps
    * the sign. Both hash families are the repo's md5-prefix hash with
    * distinct salts ('b:'/'s:'), replayed verbatim by the oracle.
    *
    * 100 TB shape: the counter table is d×w = 1 280 cells total —
    * partial-aggregated map-side, broadcast back for estimation; the
    * bounded 5-element median is a sort_array over a collect_list
    * capped at d by construction, never a data-sized window.
    */
  val qCountSketch = Q(
    "q_count_sketch",
    (s, d) => {
      val tokcnt = Tables.documents(s, d)
        .select(explode(TextOps.wsTokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("c"))
      val buckets = tokcnt
        .select(col("token"), col("c"), explode(sequence(lit(0), lit(4))).as("j"))
        .withColumn("b",
          Hash.hexToBigint(md5(concat(lit("b:"), col("j").cast("string"),
            lit(":"), col("token")))).cast("long") % 256)
        .withColumn("sgn",
          when(Hash.hexToBigint(md5(concat(lit("s:"), col("j").cast("string"),
            lit(":"), col("token")))).cast("long") % 2 === 0, 1L)
            .otherwise(-1L))
      val counters = buckets.groupBy("j", "b")
        .agg(sum(col("sgn") * col("c")).as("tot"))
      buckets.join(broadcast(counters), Seq("j", "b"))
        .withColumn("e", col("sgn") * col("tot"))
        .groupBy("token", "c")
        .agg(element_at(sort_array(collect_list(col("e"))), 3).as("cs_est"))
        .select(col("token"), col("c").as("exact"), col("cs_est"),
          (col("cs_est") - col("c")).as("err"))
        .orderBy(col("exact").desc, col("token"))
        .limit(20)
    },
    Some {
      val hb = OracleSql.hexToBigint(
        "md5('b:' || CAST(v.j AS VARCHAR) || ':' || token)")
      val hs = OracleSql.hexToBigint(
        "md5('s:' || CAST(v.j AS VARCHAR) || ':' || token)")
      s"""WITH tokcnt AS (
         |  SELECT u.t AS token, count(*) AS c
         |  FROM (SELECT list_filter(string_split_regex(text, '\\s+'),
         |          t -> t <> '') AS toks FROM documents),
         |    UNNEST(toks) AS u(t)
         |  GROUP BY u.t),
         |buckets AS (
         |  SELECT token, c, CAST(v.j AS INT) AS j, $hb % 256 AS b,
         |    CASE WHEN $hs % 2 = 0 THEN 1 ELSE -1 END AS sgn
         |  FROM tokcnt, UNNEST(range(0, 5)) AS v(j)),
         |counters AS (
         |  SELECT j, b, CAST(sum(sgn * c) AS BIGINT) AS tot
         |  FROM buckets GROUP BY j, b)
         |SELECT token, c AS exact,
         |  (array_agg(sgn * tot ORDER BY sgn * tot))[3] AS cs_est,
         |  (array_agg(sgn * tot ORDER BY sgn * tot))[3] - c AS err
         |FROM buckets JOIN counters USING (j, b)
         |GROUP BY token, c
         |ORDER BY exact DESC, token LIMIT 20""".stripMargin
    }
  )

  /** q_join_size_est — JOIN SIZE estimation from two independent AMS
    * sign sketches (Alon-Gibbons-Matias-Szegedy, PODS'99: for
    * tug-of-war counters built with the SAME hash family,
    * E[c₁ⱼ·c₂ⱼ] = Σ_k f₁(k)·f₂(k) = |R₁ ⋈ R₂| — the inner-product
    * generalization of F2), the equi-join cardinality a cost-based
    * planner wants BEFORE running the join, priced from two bounded
    * counter vectors instead of the data. Estimates
    * |lineitem ⋈ part| on partkey at TWO sketch widths (m = 32 and
    * m = 256, hash families salted by m — an unsalted first cut
    * shared counters j < 32 across widths and its "independent"
    * estimates moved in lockstep) with TWO estimators each, next to
    * the exact size Σ_k f_li(k)·f_p(k) (from the key-count frames —
    * never a row-level join): `est_mean` (Σⱼ c₁ⱼc₂ⱼ / m — unbiased)
    * and `est_med` (lower-median of 4 group means — heavy-tail
    * robust, but the lower median of 4 sits at the ⅜ quantile, a
    * deliberate small-sample downward bias: the first cut reported
    * est_med alone and read its one-sided −10% to −37% errs as
    * noise). The 1/√m contraction is MEASURED across the two rows,
    * not asserted. All arithmetic exact BIGINT; every division
    * sign-split (signed products — Spark `div` truncates, DuckDB
    * `//` floors; they agree only on non-negatives).
    *
    * 100 TB shape: each side is one partial-aggregated key-count pass
    * + an m-row counter aggregate; the estimate joins two m-row
    * tables. The exact audit column costs one key-count join and
    * would be dropped in production — the sketch path never joins
    * anything data-sized.
    */
  val qJoinSizeEst = Q(
    "q_join_size_est",
    (s, d) => {
      val sign = (m: Int, j: Column, k: Column) =>
        when(Hash.hexToBigint(md5(concat(lit(s"$m:"), j.cast("string"),
          lit(":"), k.cast("string")))).cast("long") % 2 === 0, 1L)
          .otherwise(-1L)
      val pk = Tables.part(s, d)
        .select(col("p_partkey").as("k"))
        .groupBy("k").agg(count(lit(1)).as("c"))
      val lk = Tables.lineitem(s, d)
        .select(col("l_partkey").as("k"))
        .groupBy("k").agg(count(lit(1)).as("c"))
      def counters(cnt: DataFrame, m: Int): DataFrame = cnt
        .select(col("k"), col("c"),
          explode(sequence(lit(0), lit(m - 1))).as("j"))
        .withColumn("sgn", sign(m, col("j"), col("k")))
        .groupBy("j").agg(sum(col("sgn") * col("c")).as("ctr"))
      def estimate(m: Int): DataFrame = {
        val per = m / 4
        val gs = counters(pk, m)
          .join(counters(lk, m).withColumnRenamed("ctr", "ctr2"), "j")
          .withColumn("grp", expr(s"j div $per"))
          .groupBy("grp").agg(sum(col("ctr") * col("ctr2")).as("gs"))
        val mean = gs.agg(sum(col("gs")).as("tot"))
          .select(expr(s"CASE WHEN tot >= 0 THEN tot div $m " +
            s"ELSE -((-tot) div $m) END").as("est_mean"))
        val med = gs
          .withColumn("rn", row_number().over(
            Window.partitionBy(lit(1)).orderBy("gs")))
          .filter(col("rn") === 2)
          .select(expr(s"CASE WHEN gs >= 0 THEN gs div $per " +
            s"ELSE -((-gs) div $per) END").as("est_med"))
        mean.crossJoin(broadcast(med))
          .select(lit(m.toLong).as("n_counters"), col("est_mean"),
            col("est_med"))
      }
      def errPpm(est: String): Column = expr(
        s"CASE WHEN $est >= join_exact " +
          s"THEN ($est - join_exact) * 1000000 div join_exact " +
          s"ELSE -((join_exact - $est) * 1000000 div join_exact) END")
      val exact = pk.join(lk.withColumnRenamed("c", "c2"), "k")
        .agg(sum(col("c") * col("c2")).as("join_exact"))
      estimate(32).unionByName(estimate(256))
        .crossJoin(broadcast(exact))
        .select(col("n_counters"), col("join_exact"),
          col("est_mean"), errPpm("est_mean").as("err_mean_ppm"),
          col("est_med"), errPpm("est_med").as("err_med_ppm"))
        .orderBy("n_counters")
    },
    Some {
      def chain(m: Int): String = {
        val per = m / 4
        val h = OracleSql.hexToBigint(
          s"md5('$m:' || CAST(v.j AS VARCHAR) || ':' || CAST(k AS VARCHAR))")
        val sgn = s"CASE WHEN $h % 2 = 0 THEN 1 ELSE -1 END"
        s"""c1_$m AS (
           |  SELECT CAST(v.j AS INT) AS j, SUM($sgn * c) AS ctr
           |  FROM pk, UNNEST(range(0, $m)) AS v(j) GROUP BY v.j),
           |c2_$m AS (
           |  SELECT CAST(v.j AS INT) AS j, SUM($sgn * c) AS ctr2
           |  FROM lk, UNNEST(range(0, $m)) AS v(j) GROUP BY v.j),
           |gs_$m AS MATERIALIZED (
           |  SELECT j // $per AS grp, SUM(ctr * ctr2) AS gs
           |  FROM c1_$m JOIN c2_$m USING (j) GROUP BY j // $per),
           |est_$m AS (
           |  SELECT CAST($m AS BIGINT) AS n_counters,
           |    (SELECT CASE WHEN SUM(gs) >= 0 THEN SUM(gs) // $m
           |       ELSE -((-SUM(gs)) // $m) END FROM gs_$m) AS est_mean,
           |    CASE WHEN gs >= 0 THEN gs // $per
           |      ELSE -((-gs) // $per) END AS est_med
           |  FROM (SELECT gs, row_number() OVER (ORDER BY gs) AS rn
           |        FROM gs_$m) WHERE rn = 2)""".stripMargin
      }
      def errPpm(est: String): String =
        s"""CAST(CASE WHEN $est >= join_exact
           |    THEN (($est - join_exact) * 1000000) // join_exact
           |    ELSE -(((join_exact - $est) * 1000000) // join_exact)
           |  END AS BIGINT)""".stripMargin
      s"""WITH pk AS MATERIALIZED (
         |  SELECT p_partkey AS k, count(*) AS c FROM part GROUP BY 1),
         |lk AS MATERIALIZED (
         |  SELECT l_partkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
         |${chain(32)},
         |${chain(256)},
         |exact AS (
         |  SELECT SUM(pk.c * lk.c) AS join_exact
         |  FROM pk JOIN lk USING (k))
         |SELECT n_counters, CAST(join_exact AS BIGINT) AS join_exact,
         |  CAST(est_mean AS BIGINT) AS est_mean,
         |  ${errPpm("est_mean")} AS err_mean_ppm,
         |  CAST(est_med AS BIGINT) AS est_med,
         |  ${errPpm("est_med")} AS err_med_ppm
         |FROM (SELECT * FROM est_32 UNION ALL SELECT * FROM est_256), exact
         |ORDER BY n_counters""".stripMargin
    }
  )

  val all: Seq[Q] = Seq(qKmvDistinct, qCountMin, qKmvIntersect,
    qBloomPrefilter, qQuantileSketch, qHllDistinct, qHllAgg, qKmvMedian,
    qAmsF2, qCountSketch, qJoinSizeEst)
}
