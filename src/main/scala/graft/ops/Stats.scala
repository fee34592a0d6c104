package graft.ops

import graft.{Exact, Hash, OracleSql, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistics + ordered-aggregation surface. Where engine-internal
  * algorithms differ across systems (variance accumulation order,
  * quantile interpolation), the computation is expressed from
  * order-independent exact primitives so both engines produce the same
  * bits.
  */
object Stats {

  /** Element ceil(p·n) (at least 1) of the sorted list column `vals`:
    * the exact discrete quantile the oracles index the same way.
    */
  private def qAt(p: Double): Column =
    element_at(
      col("vals"),
      greatest(ceil(size(col("vals")) * lit(p)), lit(1L)).cast("int"))

  /** q_listagg — ordered string aggregation: concat of sorted values
    * (DuckDB string_agg ORDER BY ≡ concat over a sorted collected list).
    */
  val qListagg = Q(
    "q_listagg",
    (s, d) =>
      Tables
        .customer(s, d)
        .filter(col("c_custkey") < 100)
        .groupBy("c_nationkey")
        .agg(
          concat_ws(",",
            sort_array(collect_list(col("c_custkey").cast("string")))
          ).as("cust_list"),
          count(lit(1)).as("n")
        )
        .orderBy("c_nationkey"),
    Some(
      """SELECT c_nationkey,
        |  string_agg(CAST(c_custkey AS VARCHAR), ','
        |    ORDER BY CAST(c_custkey AS VARCHAR)) AS cust_list,
        |  count(*) AS n
        |FROM customer WHERE c_custkey < 100
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin
    )
  )

  /** q_quantiles — exact discrete quantiles per group, computed as
    * element ceil(p·n) of the sorted value list (identical indexing in
    * both engines — no reliance on engine quantile interpolation).
    */
  val qQuantiles = Q(
    "q_quantiles",
    (s, d) => {
      val sorted = sort_array(collect_list(col("o_totalprice")))
      Tables
        .orders(s, d)
        .groupBy("o_orderstatus")
        .agg(sorted.as("vals"))
        .select(
          col("o_orderstatus"),
          qAt(0.25).as("p25"),
          qAt(0.50).as("p50"),
          qAt(0.90).as("p90"),
          size(col("vals")).as("n")
        )
        .orderBy("o_orderstatus")
    },
    Some(
      """SELECT o_orderstatus,
        |  vals[CAST(greatest(ceil(len(vals) * 0.25), 1) AS INT)] AS p25,
        |  vals[CAST(greatest(ceil(len(vals) * 0.50), 1) AS INT)] AS p50,
        |  vals[CAST(greatest(ceil(len(vals) * 0.90), 1) AS INT)] AS p90,
        |  CAST(len(vals) AS INT) AS n
        |FROM (SELECT o_orderstatus, list_sort(list(o_totalprice)) AS vals
        |      FROM orders GROUP BY o_orderstatus) t
        |ORDER BY o_orderstatus""".stripMargin
    )
  )

  /** q_variance — sample variance/stddev from order-independent exact
    * decimal sums: var = (Σx² − (Σx)²/n) / (n−1), evaluated in double
    * from exact inputs — bit-identical across engines (native var_samp
    * accumulates doubles in engine-specific order).
    */
  val qVariance = Q(
    "q_variance",
    (s, d) => {
      val x    = Exact.dec(col("l_quantity"))
      val sx   = sum(x).cast("double")
      val sxx  = sum(x * x).cast("double")
      val n    = count(lit(1)).cast("double")
      val vari = (sxx - sx * sx / n) / (n - lit(1.0))
      Tables
        .lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          vari.as("var_qty"),
          sqrt(vari).as("std_qty"),
          n.cast("long").as("n")
        )
        .orderBy("l_returnflag")
    },
    Some(
      """SELECT l_returnflag,
        |  (sxx - sx * sx / n) / (n - 1.0) AS var_qty,
        |  sqrt((sxx - sx * sx / n) / (n - 1.0)) AS std_qty,
        |  CAST(n AS BIGINT) AS n
        |FROM (
        |  SELECT l_returnflag,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
        |         * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM lineitem GROUP BY l_returnflag) t
        |ORDER BY l_returnflag""".stripMargin
    )
  )

  /** q_window_navigation — first/last/nth frame navigation over the
    * full partition frame with a unique ordering key.
    */
  val qWindowNavigation = Q(
    "q_window_navigation",
    (s, d) => {
      val w = Window
        .partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables
        .orders(s, d)
        .select(
          col("o_custkey"),
          col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_order"),
          last(col("o_orderkey")).over(w).as("last_order"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_order")
        )
        .orderBy("o_custkey", "o_orderkey")
    },
    Some(
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_orderkey) OVER w AS first_order,
        |  last_value(o_orderkey) OVER w AS last_order,
        |  nth_value(o_orderkey, 2) OVER w AS second_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin
    )
  )

  /** q_window_distribution — distribution window functions (ntile,
    * percent_rank, cume_dist — exact rationals, so identical doubles)
    * plus a RANGE frame keyed on the numeric order value.
    */
  val qWindowDistribution = Q(
    "q_window_distribution",
    (s, d) => {
      val w = Window.partitionBy("o_orderstatus").orderBy("o_orderkey")
      val wRange = Window
        .partitionBy("o_orderstatus")
        .orderBy("o_orderkey")
        .rangeBetween(-10L, 0L)
      Tables
        .orders(s, d)
        .select(
          col("o_orderstatus"),
          col("o_orderkey"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cdist"),
          count(lit(1)).over(wRange).as("n_in_range")
        )
        .orderBy("o_orderstatus", "o_orderkey")
    },
    Some(
      """SELECT o_orderstatus, o_orderkey,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cdist,
        |  count(*) OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey
        |    RANGE BETWEEN 10 PRECEDING AND CURRENT ROW) AS n_in_range
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin
    )
  )

  /** q_approx_quantiles — sketch-based per-group quantiles, the 100 TB
    * path: a bounded-size sketch (Spark: Greenwald-Khanna
    * `approx_percentile`; DuckDB oracle: t-digest `approx_quantile`)
    * aggregates in O(1/ε) memory per group with no per-group value
    * materialization — contrast `q_quantiles`, whose exact collect_list
    * formulation holds a group's values in one task. Sketches differ
    * across engines, so only DETERMINISTIC values are hash-compared:
    * the exact discrete quantiles the sketch targets, computed by both
    * engines from the same sorted lists. The estimator itself is
    * asserted within its error bound in ScaleToolsSpec ("approximate
    * quantile sketch stays within bound") — an estimator-dependent
    * boolean in the hashed row would flip spuriously on a distribution
    * where either engine's sketch drifts near the bound edge.
    */
  val qApproxQuantiles = Q(
    "q_approx_quantiles",
    (s, d) => {
      Tables
        .lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          sort_array(collect_list(col("l_quantity"))).as("vals"))
        .select(
          col("l_returnflag"),
          qAt(0.5).as("e50"),
          qAt(0.9).as("e90"),
          size(col("vals")).as("n"))
        .orderBy("l_returnflag")
    },
    Some(
      """SELECT l_returnflag,
        |  vals[CAST(greatest(ceil(len(vals) * 0.5), 1) AS INT)] AS e50,
        |  vals[CAST(greatest(ceil(len(vals) * 0.9), 1) AS INT)] AS e90,
        |  CAST(len(vals) AS INT) AS n
        |FROM (
        |  SELECT l_returnflag, list_sort(list(l_quantity)) AS vals
        |  FROM lineitem GROUP BY l_returnflag) t
        |ORDER BY l_returnflag""".stripMargin
    )
  )

  /** q_window_firstlast — frame-boundary window navigation: first /
    * last / 2nd value of each status partition in orderkey order, over
    * the full-partition frame (last_value on the default frame would be
    * the current row — the classic trap; the explicit unbounded frame
    * is asserted here to match DuckDB's semantics exactly).
    */
  val qWindowFirstlast = Q(
    "q_window_firstlast",
    (s, d) => {
      val w = Window.partitionBy("o_orderstatus").orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, d)
        .select(
          col("o_orderstatus"), col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_key"),
          last(col("o_orderkey")).over(w).as("last_key"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
        .orderBy("o_orderstatus", "o_orderkey")
    },
    Some(
      """SELECT o_orderstatus, o_orderkey,
        |  first_value(o_orderkey) OVER w AS first_key,
        |  last_value(o_orderkey) OVER w AS last_key,
        |  nth_value(o_orderkey, 2) OVER w AS second_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin
    )
  )

  /** q_winsorize — outlier-robust aggregation: per group, values are
    * clamped to the exact discrete [p05, p95] quantiles before the
    * aggregate (the data-cleaning step before any mean-based feature).
    * Quantile bounds come from the same sorted-list formulation as
    * q_quantiles, broadcast back over the row stream; the clamped sum
    * is decimal-exact.
    */
  val qWinsorize = Q(
    "q_winsorize",
    (s, d) => {
      val bounds = Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(sort_array(collect_list(col("l_quantity"))).as("vals"))
        .select(col("l_returnflag"), qAt(0.05).as("p05"), qAt(0.95).as("p95"))
      Tables.lineitem(s, d)
        .join(broadcast(bounds), "l_returnflag")
        .select(col("l_returnflag"),
          least(greatest(col("l_quantity"), col("p05")), col("p95"))
            .as("clamped"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          Exact.dsum(col("clamped")).as("sum_clamped"),
          min(col("clamped")).as("min_clamped"),
          max(col("clamped")).as("max_clamped"))
        .orderBy("l_returnflag")
    },
    Some(
      """WITH bounds AS (
        |  SELECT l_returnflag,
        |    vals[CAST(greatest(ceil(len(vals) * 0.05), 1) AS INT)] AS p05,
        |    vals[CAST(greatest(ceil(len(vals) * 0.95), 1) AS INT)] AS p95
        |  FROM (SELECT l_returnflag, list_sort(list(l_quantity)) AS vals
        |        FROM lineitem GROUP BY l_returnflag)),
        |clamped AS (
        |  SELECT l.l_returnflag AS l_returnflag,
        |    least(greatest(l_quantity, p05), p95) AS c
        |  FROM lineitem l JOIN bounds b ON l.l_returnflag = b.l_returnflag)
        |SELECT l_returnflag, count(*) AS n,
        |  CAST(SUM(CAST(c AS DECIMAL(18,2))) AS DOUBLE) AS sum_clamped,
        |  min(c) AS min_clamped, max(c) AS max_clamped
        |FROM clamped GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    )
  )

  /** The sketch path of q_approx_quantiles, exposed for the spec that
    * asserts the Greenwald-Khanna estimate lands within 5% of the exact
    * discrete quantile (the bound the hashed row no longer carries).
    */
  def approxQuantileSketch(s: SparkSession, d: String): DataFrame =
    Tables
      .lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        sort_array(collect_list(col("l_quantity"))).as("vals"),
        percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("a50"),
        percentile_approx(col("l_quantity"), lit(0.9), lit(10000)).as("a90"))

  /** q_correlation — Pearson correlation per group from exact decimal
    * sums: n, Σx, Σy, Σxx, Σyy, Σxy aggregate exactly (order-free);
    * the closed form then runs in double on identical inputs in both
    * engines (IEEE multiply/subtract/sqrt/divide are deterministic) —
    * never the engines' own order-sensitive `corr()` streams.
    */
  val qCorrelation = Q(
    "q_correlation",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          sum(Exact.dec(col("l_quantity"))).as("sx"),
          sum(Exact.dec(col("l_extendedprice"))).as("sy"),
          sum(Exact.dec(col("l_quantity")) * Exact.dec(col("l_quantity"))).as("sxx"),
          sum(Exact.dec(col("l_extendedprice")) * Exact.dec(col("l_extendedprice"))).as("syy"),
          sum(Exact.dec(col("l_quantity")) * Exact.dec(col("l_extendedprice"))).as("sxy"))
        .select(
          col("l_returnflag"), col("n"),
          ((col("n") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
            / (sqrt(col("n") * col("sxx").cast("double")
                - col("sx").cast("double") * col("sx").cast("double"))
              * sqrt(col("n") * col("syy").cast("double")
                - col("sy").cast("double") * col("sy").cast("double"))))
            .as("corr_qty_price"))
        .orderBy("l_returnflag"),
    Some(
      // decimal → double rides THROUGH VARCHAR on the oracle side:
      // DuckDB casts DECIMAL(38,4) to DOUBLE by converting the int128
      // mantissa and dividing by 10⁴ — two roundings, one ULP off the
      // correctly-rounded value once mantissa·10⁴ > 2⁵³ (measured at
      // sf0.001: syy = 7096786968835.8685 → ...869 vs Spark's
      // BigDecimal ...868). VARCHAR → DOUBLE is correctly rounded in
      // both engines, so the oracle now expresses the same conversion
      // Spark performs; the Spark side is untouched.
      """SELECT l_returnflag, n,
        |  (n * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
        |     - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
        |    / (sqrt(n * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
        |        - CAST(CAST(sx AS VARCHAR) AS DOUBLE) * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
        |      * sqrt(n * CAST(CAST(syy AS VARCHAR) AS DOUBLE)
        |        - CAST(CAST(sy AS VARCHAR) AS DOUBLE) * CAST(CAST(sy AS VARCHAR) AS DOUBLE)))
        |    AS corr_qty_price
        |FROM (
        |  SELECT l_returnflag, count(*) AS n,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))
        |      * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))
        |      * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |ORDER BY l_returnflag""".stripMargin
    )
  )

  /** q_linreg — per-group OLS fit (price on quantity) from the same
    * exact-sums closed form: slope = (nΣxy − ΣxΣy)/(nΣxx − Σx²),
    * intercept = (Σy − slope·Σx)/n; sums exact, final math double.
    */
  val qLinreg = Q(
    "q_linreg",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_linestatus")
        .agg(
          count(lit(1)).as("n"),
          sum(Exact.dec(col("l_quantity"))).as("sx"),
          sum(Exact.dec(col("l_extendedprice"))).as("sy"),
          sum(Exact.dec(col("l_quantity")) * Exact.dec(col("l_quantity"))).as("sxx"),
          sum(Exact.dec(col("l_quantity")) * Exact.dec(col("l_extendedprice"))).as("sxy"))
        .select(
          col("l_linestatus"), col("n"), col("sx"), col("sy"),
          ((col("n") * col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double"))
            / (col("n") * col("sxx").cast("double")
              - col("sx").cast("double") * col("sx").cast("double")))
            .as("slope"))
        .withColumn("intercept",
          (col("sy").cast("double") - col("slope") * col("sx").cast("double"))
            / col("n"))
        .select(col("l_linestatus"), col("n"), col("slope"), col("intercept"))
        .orderBy("l_linestatus"),
    Some(
      """SELECT l_linestatus, n, slope,
        |  (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / n AS intercept
        |FROM (
        |  SELECT l_linestatus, n, sx, sy,
        |    (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      AS slope
        |  FROM (
        |    SELECT l_linestatus, count(*) AS n,
        |      SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |      SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |      SUM(CAST(l_quantity AS DECIMAL(18,2))
        |        * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
        |      SUM(CAST(l_quantity AS DECIMAL(18,2))
        |        * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
        |    FROM lineitem GROUP BY l_linestatus))
        |ORDER BY l_linestatus""".stripMargin
    )
  )

  /** q_weighted_median — revenue-weighted median quantity per group:
    * the smallest quantity whose cumulative weight (decimal-exact
    * revenue) reaches half the group total.
    *
    * Scale shape: weight is PRE-AGGREGATED by (group, quantity) —
    * partial-aggregated, distributed — so the per-group window runs
    * over #distinct-quantity rows (≤ 50 here), not the corpus. The
    * row-level and grouped forms are provably identical: the crossing
    * row's whole quantity-group has cumulative weight ≥ half-total,
    * and every earlier group stays below it (the oracle keeps the
    * definitional row-level form). With few groups, the naive
    * per-group sort funnels everything through 3 tasks — this form
    * carries ~50 rows per group regardless of corpus size; a
    * continuous weight column would quantize first the same way.
    * The 2·cum ≥ total comparison is exact decimal arithmetic, so the
    * selected value is cross-engine stable.
    */
  val qWeightedMedian = Q(
    "q_weighted_median",
    (s, d) => {
      val byQty = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(sum(Exact.dec(col("l_extendedprice"))).as("wq"))
      val w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("l_returnflag")
      byQty
        .withColumn("cum", sum(col("wq")).over(w))
        .withColumn("tot", sum(col("wq")).over(wAll))
        .filter(col("cum") * 2 >= col("tot"))
        .groupBy("l_returnflag")
        .agg(min(col("l_quantity")).as("weighted_median_qty"),
          max(col("tot")).cast("double").as("total_weight"))
        .orderBy("l_returnflag")
    },
    Some(
      """WITH ranked AS (
        |  SELECT l_returnflag, l_quantity,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
        |      OVER (PARTITION BY l_returnflag
        |        ORDER BY l_quantity, l_orderkey, l_linenumber
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
        |      OVER (PARTITION BY l_returnflag) AS tot
        |  FROM lineitem)
        |SELECT l_returnflag, min(l_quantity) AS weighted_median_qty,
        |  CAST(max(tot) AS DOUBLE) AS total_weight
        |FROM ranked WHERE cum * 2 >= tot
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin
    )
  )

  /** q_mad_outliers — robust outlier detection by median absolute
    * deviation (the estimator that, unlike q_outliers' mean/stddev
    * z-score, is not dragged by the outliers it is hunting): per
    * return-flag group, med = lower median of exact price cents, MAD =
    * lower median of |cents − med|, and a row is an outlier when
    * dev > 3·1.4826·MAD (the normal-consistency constant, applied as
    * the exact integer comparison dev·10000 > 44478·MAD — no float
    * enters the decision). Reports per-group med/MAD and outlier
    * counts.
    *
    * Scale shape: BOTH medians run on the q_weighted_median
    * pre-aggregated form — counts by (group, value) — so the per-group
    * windows see #distinct-value rows, never the corpus; the dev pass
    * re-joins the broadcast 3-row median table map-side. The oracle
    * keeps the definitional row-level windows.
    */
  val qMadOutliers = Q(
    "q_mad_outliers",
    (s, d) => {
      // ONE corpus pass: the whole query runs off the (g, cents, n)
      // counted-value frame — both medians AND the final rollup are
      // weighted forms over it. The former shape scanned lineitem
      // three times (median pass, deviation pass, rollup pass) and ran
      // its second median's groupBy over the full corpus; every
      // downstream frame here is bounded by #distinct (g, value).
      val byV = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("g"),
          floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long")
            .as("cents"))
        .groupBy(col("g"), col("cents"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint() // feeds both median selections + the rollup
      // both medians by grouped radix selection, sharing ONE stats job
      // (r13 shipped the shape but its claimed delta did not reproduce
      // — the saved scans were repaid in small-job floors; this round
      // removes three of those floors): the deviation stream's stats
      // derive in closed form from the value stream's (n unchanged,
      // lo = 0 — the lower median is an attained value — and
      // hi = max(hi − med, med − lo)), and the per-group med/mad
      // constants fold into the rollup as literal when-chains instead
      // of two broadcast-joined 3-row frames (two fewer broadcast
      // exchanges, one less shuffle input)
      val stats = byV.groupBy(col("g"))
        .agg(sum(col("n")).as("tw"), min(col("cents")).as("lo"),
          max(col("cents")).as("hi"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      val med = Distributed.groupedLowerMedianLong(
        byV, col("g"), col("cents"), col("n"), Some(stats))
      // empty input: no groups, no medians — emit the typed empty frame
      if (med.isEmpty)
        byV.select(col("g"), col("cents").as("med_cents"),
          col("cents").as("mad_cents"), col("n").as("n_outliers"),
          col("n").as("n_rows")).limit(0)
      else {
        def litByG(m: Map[String, Long]): Column = {
          val gs = m.toSeq.sortBy(_._1)
          gs.tail.foldLeft(when(col("g") === gs.head._1, lit(gs.head._2))) {
            case (acc, (g, v)) => acc.when(col("g") === g, lit(v))
          }
        }
        val medCol = litByG(med)
        val devStats = stats.collect {
          case (g, tw, lo, hi) if med.contains(g) =>
            (g, tw, 0L, math.max(hi - med(g), med(g) - lo))
        }
        // weighted deviations off the pin: |cents − med| with the
        // value's multiplicity (equal deviations from opposite sides
        // merge by n — the weighted median and the outlier counts are
        // unchanged)
        val mad = Distributed.groupedLowerMedianLong(
          byV, col("g"), abs(col("cents") - medCol), col("n"),
          Some(devStats))
        val madCol = litByG(mad)
        byV
          .select(col("g"), abs(col("cents") - medCol).as("dev"), col("n"))
          .groupBy("g")
          .agg(
            sum(when(col("dev") * 10000 > madCol * 44478, col("n"))
              .otherwise(0L)).as("n_outliers"),
            sum(col("n")).as("n_rows"))
          .select(col("g"), medCol.as("med_cents"), madCol.as("mad_cents"),
            col("n_outliers"), col("n_rows"))
          .orderBy("g")
      }
    },
    Some(
      """WITH cents AS (
        |  SELECT l_returnflag AS g,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM lineitem),
        |m1 AS (
        |  SELECT g, min(cents) AS med FROM (
        |    SELECT g, cents,
        |      count(*) OVER (PARTITION BY g ORDER BY cents
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |      count(*) OVER (PARTITION BY g) AS tot
        |    FROM cents)
        |  WHERE cum * 2 >= tot GROUP BY g),
        |dev AS (
        |  SELECT c.g, c.cents, abs(c.cents - m1.med) AS dev
        |  FROM cents c JOIN m1 ON m1.g = c.g),
        |m2 AS (
        |  SELECT g, min(dev) AS mad FROM (
        |    SELECT g, dev,
        |      count(*) OVER (PARTITION BY g ORDER BY dev
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |      count(*) OVER (PARTITION BY g) AS tot
        |    FROM dev)
        |  WHERE cum * 2 >= tot GROUP BY g)
        |SELECT dev.g, max(m1.med) AS med_cents, max(m2.mad) AS mad_cents,
        |  CAST(sum(CASE WHEN dev.dev * 10000 > m2.mad * 44478
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  count(*) AS n_rows
        |FROM dev JOIN m1 ON m1.g = dev.g JOIN m2 ON m2.g = dev.g
        |GROUP BY dev.g ORDER BY dev.g""".stripMargin
    )
  )

  /** q_bootstrap_ci — a Poissonized bootstrap confidence interval for
    * the mean order value: 32 resampling replicates where each row's
    * weight in replicate r is an independent Poisson(1) draw (the
    * standard large-N approximation of multinomial resampling —
    * Chamandy et al., "Estimating Uncertainty for Massive Data
    * Streams", the shape Poisson bootstrap was invented for: each
    * replicate is ONE map-side weighted aggregation, no resample
    * materialization). Draws are derandomized through the repo's
    * md5-prefix uniform hash of (order, replicate) against the exact
    * ppm inverse-CDF thresholds of Poisson(1), so both engines see
    * identical weights; replicate means are exact integer cents
    * (weighted cents div weight), and the CI is the 2nd-smallest /
    * 2nd-largest replicate mean (≈ the 3–97% band for R = 32) around
    * the plain mean — every output an exact BIGINT.
    *
    * 100 TB shape: the 32-way expansion happens map-side (explode of a
    * literal range), partial-aggregates to 32 (replicate) rows, and
    * the order-statistic pass touches 32 rows — uncertainty
    * quantification at corpus scale for one extra scan constant.
    */
  val qBootstrapCi = Q(
    "q_bootstrap_ci",
    (s, d) => {
      // cumulative ppm thresholds of Poisson(1): floor(F(k)·1e6)
      val t = Seq(367879L, 735758L, 919698L, 981011L, 996340L)
      val cents = Tables.orders(s, d)
        .select(col("o_orderkey"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")
            .as("cents"))
      // the 32-way explode + one md5 PER (order, replicate) is the
      // query's entire cost and is fused into the scan stage — spread
      // the 16-byte cents rows so the digest work uses every core
      // (9.1 → 1.4 s at sf0.1×32; no-op at scale — Tables.spreadForCompute)
      val reps = Tables.spreadForCompute(cents, s, d, "orders")
        .select(col("o_orderkey"), col("cents"),
          explode(sequence(lit(0), lit(31))).as("r"))
        .withColumn("u",
          Hash.hexToBigint(md5(concat(col("o_orderkey").cast("string"),
            lit(":"), col("r").cast("string"))))
            .cast("long") % 1000000L)
        .withColumn("w",
          when(col("u") < t(0), 0L).when(col("u") < t(1), 1L)
            .when(col("u") < t(2), 2L).when(col("u") < t(3), 3L)
            .when(col("u") < t(4), 4L).otherwise(5L))
      val means = reps.groupBy("r")
        .agg(sum(col("w") * col("cents")).as("sw"), sum(col("w")).as("nw"))
        .select(col("r"), expr("sw div nw").as("mean_r"))
      // 2nd smallest / 2nd largest of the 32 replicate means
      val ranked = means
        .withColumn("ra", row_number().over(
          Window.orderBy(col("mean_r").asc, col("r").asc)))
        .withColumn("rd", row_number().over(
          Window.orderBy(col("mean_r").desc, col("r").desc)))
      val ci = ranked.agg(
        max(when(col("ra") === 2, col("mean_r"))).as("ci_lo_cents"),
        max(when(col("rd") === 2, col("mean_r"))).as("ci_hi_cents"))
      val point = cents.agg(sum(col("cents")).as("sc"),
          count(lit(1)).as("nc"))
        .select(expr("sc div nc").as("mean_cents"))
      point.crossJoin(ci)
        .select(col("mean_cents"), col("ci_lo_cents"), col("ci_hi_cents"))
    },
    Some(
      """WITH cents AS (
        |  SELECT o_orderkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |reps AS (
        |  SELECT o_orderkey, cents, CAST(v.r AS INT) AS r,
        |    (HEXPR) % 1000000 AS u
        |  FROM cents, UNNEST(range(0, 32)) AS v(r)),
        |wts AS (
        |  SELECT r, cents,
        |    CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
        |      WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
        |      WHEN u < 996340 THEN 4 ELSE 5 END AS w
        |  FROM reps),
        |means AS (
        |  SELECT r, CAST(sum(w * cents) // sum(w) AS BIGINT) AS mean_r
        |  FROM wts GROUP BY r),
        |ranked AS (
        |  SELECT mean_r,
        |    row_number() OVER (ORDER BY mean_r ASC, r ASC) AS ra,
        |    row_number() OVER (ORDER BY mean_r DESC, r DESC) AS rd
        |  FROM means),
        |ci AS (
        |  SELECT max(CASE WHEN ra = 2 THEN mean_r END) AS ci_lo_cents,
        |    max(CASE WHEN rd = 2 THEN mean_r END) AS ci_hi_cents
        |  FROM ranked),
        |pt AS (
        |  SELECT CAST(sum(cents) // count(*) AS BIGINT) AS mean_cents
        |  FROM cents)
        |SELECT mean_cents, ci_lo_cents, ci_hi_cents FROM pt, ci""".stripMargin
        .replace("HEXPR",
          OracleSql.hexToBigint(
            "md5(CAST(o_orderkey AS VARCHAR) || ':' || CAST(v.r AS VARCHAR))"))
    )
  )

  /** q_trend_test — the Mann-Kendall monotone-trend test (Mann 1945;
    * Kendall 1975), the nonparametric drift detector dashboards run
    * on daily series because it needs no distribution assumption and
    * is exact on ties: per event_type, over the DAILY event-count
    * series, S = Σ_{i<j} sign(c_j − c_i), the tie-corrected variance
    * numerator 18·Var(S) = n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5), and
    * Kendall's tau ppm-quantized as S·10⁶ div (n(n−1)/2). Every
    * quantity is exact BIGINT arithmetic — no doubles anywhere, so
    * both engines agree bit-for-bit; the z-score (S/√Var) is left to
    * the consumer because √ is the one step that is display-side.
    *
    * 100 TB shape: ONE corpus shuffle (events partial-aggregate to
    * (type, day) counts); the pairwise sign sum is a self-join over
    * the DAILY frame — O(types·days²) on a frame of O(types·days)
    * rows, thousands of rows at any corpus size since days are
    * calendar-bounded. The tie correction is a second aggregate over
    * the same tiny frame.
    */
  val qTrendTest = Q(
    "q_trend_test",
    (s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"))
        .agg(count(lit(1)).as("c"))
      val a = daily.select(col("event_type"), col("day").as("d1"),
        col("c").as("c1"))
      val b = daily.select(col("event_type"), col("day").as("d2"),
        col("c").as("c2"))
      val sStat = a.join(b, Seq("event_type"))
        .filter(col("d1") < col("d2"))
        .groupBy("event_type")
        .agg(sum(when(col("c2") > col("c1"), 1L)
          .when(col("c2") < col("c1"), -1L).otherwise(0L)).as("s_stat"))
      val nDays = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"))
      val ties = daily.groupBy("event_type", "c")
        .agg(count(lit(1)).as("t"))
        .groupBy("event_type")
        .agg(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5))
          .as("tie_corr"))
      sStat.join(nDays, "event_type").join(ties, "event_type")
        .select(col("event_type"), col("n_days"), col("s_stat"),
          (col("n_days") * (col("n_days") - 1) * (lit(2) * col("n_days") + 5)
            - col("tie_corr")).as("var18"),
          // sign × magnitude: integer division of a NEGATIVE numerator
          // truncates in Spark but floors in some engines — divide the
          // absolute value and re-apply the sign so both agree
          expr("(CASE WHEN s_stat < 0 THEN -1 ELSE 1 END) * " +
            "(abs(s_stat) * 1000000 div (n_days * (n_days - 1) div 2))")
            .as("tau_ppm"))
        .withColumn("direction",
          when(col("s_stat") > 0, lit("up"))
            .when(col("s_stat") < 0, lit("down")).otherwise(lit("flat")))
        .orderBy("event_type")
    },
    Some(
      """WITH daily AS (
        |  SELECT event_type, date_trunc('day', ts) AS day,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT a.event_type,
        |    CAST(sum(CASE WHEN b.c > a.c THEN 1
        |      WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.day < b.day
        |  GROUP BY 1),
        |nd AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
        |  FROM daily GROUP BY 1),
        |ties AS (
        |  SELECT event_type,
        |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_corr
        |  FROM (SELECT event_type, c, CAST(count(*) AS BIGINT) AS t
        |        FROM daily GROUP BY 1, 2)
        |  GROUP BY 1)
        |SELECT s.event_type, nd.n_days, s.s_stat,
        |  CAST(nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5)
        |    - ties.tie_corr AS BIGINT) AS var18,
        |  CAST((CASE WHEN s.s_stat < 0 THEN -1 ELSE 1 END)
        |    * (abs(s.s_stat) * 1000000
        |       // (nd.n_days * (nd.n_days - 1) // 2)) AS BIGINT)
        |    AS tau_ppm,
        |  CASE WHEN s.s_stat > 0 THEN 'up'
        |       WHEN s.s_stat < 0 THEN 'down' ELSE 'flat' END AS direction
        |FROM s JOIN nd USING (event_type) JOIN ties USING (event_type)
        |ORDER BY event_type""".stripMargin
    )
  )

  /** q_key_skew — the join-key skew audit run before picking a
    * shuffle strategy (salt? AQE skew join? broadcast?): over the
    * per-user event counts it reports the key count, total, the
    * hottest key's share (ppm), the p99 per-key count (the exact
    * order statistic), and the Gini concentration index in exact ppm
    * form — gini = 2·Σ rank·cnt / (n·Σcnt) − (n+1)/n over counts
    * sorted ascending, quantized as two exact BIGINT divisions (both
    * engines truncate non-negative operands identically; numerator
    * bound 2·10⁶·n·Σ needs n·Σ < 9·10¹², so shard the audit per
    * tenant/day past ~10⁹ keys × 10⁴ events — stated, not silent).
    *
    * 100 TB shape: one corpus shuffle to per-key counts, then the
    * rank is [[Distributed.globalRank0]]'s ranged two-pass form over
    * the KEY frame — key cardinality is unbounded, so a plain
    * `row_number() OVER (ORDER BY cnt)` would funnel every key
    * through one task (the q_quantile_sketch lesson); the final
    * rollup is one row.
    */
  val qKeySkew = Q(
    "q_key_skew",
    (s, d) => {
      val counts = Tables.events(s, d)
        .groupBy("user_id").agg(count(lit(1)).as("cnt"))
      val (ranked, n, rc) = Distributed.globalRank0(
        counts, Seq(col("cnt"), col("user_id")), "skew")
      val agg = ranked.agg(
        count(lit(1)).as("n_keys"),
        sum(col("cnt")).as("total_events"),
        max(col("cnt")).as("max_cnt"),
        sum((col(rc) + 1L) * col("cnt")).as("num"))
      val r99 = (99L * n + 99L) / 100L // exact ceil(0.99·n), both engines
      val p99 = ranked.filter(col(rc) + 1L >= r99)
        .agg(min(col("cnt")).as("p99_cnt"))
      agg.crossJoin(broadcast(p99))
        .select(col("n_keys"), col("total_events"), col("max_cnt"),
          expr("max_cnt * 1000000 div total_events").as("top1_ppm"),
          col("p99_cnt"),
          expr("(2000000 * num) div (n_keys * total_events) " +
            "- (1000000 * (n_keys + 1)) div n_keys").as("gini_ppm"))
    },
    Some(
      """WITH c AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1),
        |r AS (
        |  SELECT cnt,
        |    CAST(row_number() OVER (ORDER BY cnt, user_id) AS BIGINT)
        |      AS rk
        |  FROM c),
        |a AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(cnt) AS BIGINT) AS total_events,
        |    CAST(max(cnt) AS BIGINT) AS max_cnt,
        |    CAST(sum(rk * cnt) AS BIGINT) AS num
        |  FROM r),
        |p AS (
        |  SELECT CAST(min(cnt) AS BIGINT) AS p99_cnt
        |  FROM r, a WHERE rk >= (99 * a.n_keys + 99) // 100)
        |SELECT n_keys, total_events, max_cnt,
        |  CAST(max_cnt * 1000000 // total_events AS BIGINT) AS top1_ppm,
        |  p99_cnt,
        |  CAST((2000000 * num) // (n_keys * total_events)
        |    - (1000000 * (n_keys + 1)) // n_keys AS BIGINT) AS gini_ppm
        |FROM a, p""".stripMargin
    )
  )

  /** q_auc — per-source ROC-AUC of a scorer against a binary label
    * via the tie-corrected Mann-Whitney rank statistic (Hanley &
    * McNeil 1982): with the score pre-aggregated per value into
    * (pos p_v, neg q_v) counts, AUC·2PN = Σ_v p_v·(2·negBelow(v) +
    * q_v) — each positive beats every lower-scored negative once and
    * half-counts each same-score tie. Scorer = n_chars (a crude
    * "longer is higher-quality" ranker), label = lang='en'; the
    * output is the audit a curation pipeline runs on every candidate
    * quality signal before gating on it.
    *
    * Cross-engine exactness: counts are BIGINT; the pair products are
    * DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) because 2·P·N overflows
    * int64 once a source holds ≳2³¹ docs — Spark would silently wrap
    * where DuckDB raises (the contrastive-pairs lesson); auc_ppm is
    * one exact integral division on both engines (`div` on decimals
    * returns BIGINT; `//` on HUGEINT is exact floor for non-negative
    * operands). Sources with no positives or no negatives (AUC
    * undefined) are excluded on both sides.
    *
    * 100 TB shape: one corpus shuffle to the (source, score) count
    * frame; the per-source running negative count is
    * [[Distributed.globalCumSum]]'s ranged two-pass prefix sum over
    * the TOTAL (source, score) order minus each source's broadcast
    * offset (the q_quantile_sketch pattern — score cardinality is
    * unbounded, so a per-source `sum() OVER (ORDER BY v)` window
    * would be 20-way parallel at best); the offset collect is one row
    * per SOURCE (bounded by the catalog, not the corpus).
    */
  val qAuc = Q(
    "q_auc",
    (s, d) => {
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val dec = DecimalType(38, 0)
      val docs = Tables.documents(s, d).select(
        col("source").as("g"), col("n_chars").as("v"),
        when(col("lang") === "en", 1L).otherwise(0L).as("isp"))
      val byv = docs.groupBy("g", "v").agg(
        sum(col("isp")).as("p"),
        (count(lit(1)) - sum(col("isp"))).as("q"))
      val cumAll = Distributed.globalCumSum(
        byv, Seq(col("g"), col("v")), col("q"), "aq")
      val gt = byv.groupBy("g").agg(
        sum(col("p")).as("pn"), sum(col("q")).as("qn"))
      val gRows = gt.orderBy("g").collect()
      val gOff = gRows.map(_.getString(0)).zip(
        gRows.map(_.getLong(2)).scanLeft(0L)(_ + _).dropRight(1))
      val offDf = gOff.toSeq.toDF("g", "goff")
      val num2 = cumAll.join(broadcast(offDf), "g")
        // running neg within g including v's own ties
        .withColumn("cq", col("aq") - col("goff"))
        .groupBy("g")
        .agg(sum(col("p").cast(dec) *
          (lit(2) * (col("cq") - col("q")).cast(dec) + col("q").cast(dec)))
          .as("num2"))
      num2.join(broadcast(gt), "g")
        .filter(col("pn") > 0 && col("qn") > 0)
        .select(col("g").as("source"),
          col("pn").as("pos_n"), col("qn").as("neg_n"),
          expr("CAST((num2 * 1000000) div " +
            "(2 * CAST(pn AS DECIMAL(38,0)) * CAST(qn AS DECIMAL(38,0))) " +
            "AS BIGINT)").as("auc_ppm"))
        .orderBy("source")
    },
    Some(
      """WITH docs AS (
        |  SELECT source AS g, n_chars AS v,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS isp
        |  FROM documents),
        |byv AS (
        |  SELECT g, v, CAST(sum(isp) AS BIGINT) AS p,
        |    CAST(count(*) - sum(isp) AS BIGINT) AS q
        |  FROM docs GROUP BY g, v),
        |cum AS (
        |  SELECT g, p, q,
        |    CAST(sum(q) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cq
        |  FROM byv),
        |gt AS (
        |  SELECT g, CAST(sum(p) AS BIGINT) AS pn,
        |    CAST(sum(q) AS BIGINT) AS qn
        |  FROM byv GROUP BY g),
        |n2 AS (
        |  SELECT g, sum(CAST(p AS HUGEINT) * (2 * (cq - q) + q)) AS num2
        |  FROM cum GROUP BY g)
        |SELECT n2.g AS source, pn AS pos_n, qn AS neg_n,
        |  CAST((num2 * 1000000) // (2 * CAST(pn AS HUGEINT) * qn)
        |    AS BIGINT) AS auc_ppm
        |FROM n2 JOIN gt USING (g)
        |WHERE pn > 0 AND qn > 0
        |ORDER BY source""".stripMargin
    )
  )

  /** q_ks_test — two-sample Kolmogorov-Smirnov distance between the
    * order-price distributions of urgent (priority 1-2) and normal
    * orders: D = sup_x |F1(x) − F2(x)|, the standard drift test run
    * between a corpus snapshot and its refresh before retraining.
    * Computed exactly on integer cents: per distinct value the two
    * cumulative counts k1, k2, then D·n1·n2 = max |k1·n2 − k2·n1|
    * (cross-multiplied — no per-row division anywhere), surfaced as
    * d_ppm plus the value attaining the supremum (min such cents —
    * the sup is reached at a jump point, i.e. at some observed
    * value, so scanning observed values is exact).
    *
    * Cross-engine exactness: cents = floor(price·100 + 0.5) (the
    * repo-wide convention); the cross products are DECIMAL(38,0) /
    * HUGEINT because k·n overflows int64 past ~3·10⁹ rows per side;
    * d_ppm is one exact integral division. The argmax filter compares
    * exact decimals, so both engines pick identical rows.
    *
    * 100 TB shape: one corpus shuffle to the per-cents count frame,
    * then TWO ranged two-pass prefix sums ([[Distributed.globalCumSum]]
    * — cents are near-unique, an unpartitioned `sum() OVER (ORDER BY
    * cents)` would funnel ~n rows through one task); the supremum is
    * an ordinary max-aggregate plus a one-row broadcast back. Driver
    * state is 2·P partition offsets.
    */
  val qKsTest = Q(
    "q_ks_test",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val dec = DecimalType(38, 0)
      val c = Tables.orders(s, d).select(
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("cents"),
        when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L).as("g1"))
      val byv = c.groupBy("cents").agg(
        sum(col("g1")).as("c1"),
        (count(lit(1)) - sum(col("g1"))).as("c2"))
      val cums = Distributed.globalCumSum(
        Distributed.globalCumSum(byv, Seq(col("cents")), col("c1"), "k1"),
        Seq(col("cents")), col("c2"), "k2")
      val tot = byv.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      val diffs = cums.crossJoin(broadcast(tot))
        .withColumn("dn",
          abs(col("k1").cast(dec) * col("n2").cast(dec) -
            col("k2").cast(dec) * col("n1").cast(dec)))
      val mx = diffs.agg(max(col("dn")).as("mx"))
      diffs.join(broadcast(mx), col("dn") === col("mx"))
        .agg(min(col("cents")).as("at_cents"),
          max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          max(col("mx")).as("mxv"))
        .select(col("at_cents"), col("n1"), col("n2"),
          expr("CAST((mxv * 1000000) div " +
            "(CAST(n1 AS DECIMAL(38,0)) * CAST(n2 AS DECIMAL(38,0))) " +
            "AS BIGINT)").as("d_ppm"))
    },
    Some(
      """WITH c AS (
        |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END AS g1
        |  FROM orders),
        |byv AS (
        |  SELECT cents, CAST(sum(g1) AS BIGINT) AS c1,
        |    CAST(count(*) - sum(g1) AS BIGINT) AS c2
        |  FROM c GROUP BY cents),
        |cum AS (
        |  SELECT cents,
        |    CAST(sum(c1) OVER (ORDER BY cents) AS BIGINT) AS k1,
        |    CAST(sum(c2) OVER (ORDER BY cents) AS BIGINT) AS k2
        |  FROM byv),
        |t AS (
        |  SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |    CAST(sum(c2) AS BIGINT) AS n2
        |  FROM byv),
        |d AS (
        |  SELECT cents,
        |    abs(CAST(k1 AS HUGEINT) * n2 - CAST(k2 AS HUGEINT) * n1) AS dn,
        |    n1, n2
        |  FROM cum, t),
        |m AS (SELECT max(dn) AS mx FROM d)
        |SELECT min(cents) AS at_cents, max(n1) AS n1, max(n2) AS n2,
        |  CAST((max(mx) * 1000000) // (CAST(max(n1) AS HUGEINT) * max(n2))
        |    AS BIGINT) AS d_ppm
        |FROM d, m WHERE dn = mx""".stripMargin
    )
  )

  /** q_stump — exact best decision-stump split: the threshold on
    * n_chars that minimizes weighted Gini impurity for the lang='en'
    * label (the first split a gradient-boosted quality classifier
    * would learn; also THE audit that a candidate numeric signal has
    * any class-separating power at all). For split "v ≤ t": weighted
    * impurity ∝ S(t) = pL·(nL−pL)·nR + pR·(nR−pR)·nL (the common-
    * denominator nL·nR form — every term integral, no per-candidate
    * division), minimized over all observed thresholds with nR > 0;
    * ties break to the smallest threshold.
    *
    * Cross-engine exactness: S and the reported gini values are
    * DECIMAL(38,0) / HUGEINT (pL·nL·nR ≤ N³ overflows int64 past
    * N ≈ 2M rows); gini_split_ppm = 2·S·10⁶ div (nL·nR·M) and
    * gini_parent_ppm = 2·P·(M−P)·10⁶ div (M·M) are single exact
    * integral divisions on both engines.
    *
    * 100 TB shape: one corpus shuffle to the per-value (pos, total)
    * count frame, then [[Distributed.globalCumSum]]'s ranged two-pass
    * prefix sums (char counts are unbounded — an unpartitioned
    * `sum() OVER (ORDER BY v)` would funnel the distinct-value frame
    * through one task); the argmin is a 1-row broadcast back and the
    * class totals are a 1-row scalar aggregate.
    */
  val qStump = Q(
    "q_stump",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val dec = DecimalType(38, 0)
      val docs = Tables.documents(s, d).select(
        col("n_chars").as("v"),
        when(col("lang") === "en", 1L).otherwise(0L).as("isp"))
      val byv = docs.groupBy("v").agg(
        sum(col("isp")).as("p"), count(lit(1)).as("m"))
      val cums = Distributed.globalCumSum(
        Distributed.globalCumSum(byv, Seq(col("v")), col("p"), "cp"),
        Seq(col("v")), col("m"), "cm")
      val tot = byv.agg(sum(col("p")).as("pt"), sum(col("m")).as("mt"))
      val scored = cums.crossJoin(broadcast(tot))
        .filter(col("cm") < col("mt")) // nR = 0 is not a split
        .withColumn("nl", col("cm").cast(dec))
        .withColumn("pl", col("cp").cast(dec))
        .withColumn("nr", (col("mt") - col("cm")).cast(dec))
        .withColumn("pr", (col("pt") - col("cp")).cast(dec))
        .withColumn("sv",
          col("pl") * (col("nl") - col("pl")) * col("nr") +
          col("pr") * (col("nr") - col("pr")) * col("nl"))
      val mn = scored.agg(min(col("sv")).as("mn"))
      scored.join(broadcast(mn), col("sv") === col("mn"))
        .orderBy("v").limit(1)
        .select(col("v").as("threshold"),
          col("cm").as("n_left"),
          (col("mt") - col("cm")).as("n_right"),
          expr("CAST((2 * sv * 1000000) div (nl * nr * CAST(mt AS DECIMAL(38,0))) AS BIGINT)")
            .as("gini_split_ppm"),
          expr("CAST((2 * CAST(pt AS DECIMAL(38,0)) * (mt - pt) * 1000000) div " +
            "(CAST(mt AS DECIMAL(38,0)) * mt) AS BIGINT)")
            .as("gini_parent_ppm"))
    },
    Some(
      """WITH docs AS (
        |  SELECT n_chars AS v,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS isp
        |  FROM documents),
        |byv AS (
        |  SELECT v, CAST(sum(isp) AS BIGINT) AS p,
        |    CAST(count(*) AS BIGINT) AS m
        |  FROM docs GROUP BY v),
        |cum AS (
        |  SELECT v,
        |    CAST(sum(p) OVER (ORDER BY v) AS BIGINT) AS cp,
        |    CAST(sum(m) OVER (ORDER BY v) AS BIGINT) AS cm
        |  FROM byv),
        |t AS (
        |  SELECT CAST(sum(p) AS BIGINT) AS pt,
        |    CAST(sum(m) AS BIGINT) AS mt
        |  FROM byv),
        |scored AS (
        |  SELECT v, cm, mt, pt,
        |    CAST(cm AS HUGEINT) AS nl, CAST(cp AS HUGEINT) AS pl,
        |    CAST(mt - cm AS HUGEINT) AS nr, CAST(pt - cp AS HUGEINT) AS pr,
        |    CAST(cp AS HUGEINT) * (cm - cp) * (mt - cm) +
        |      CAST(pt - cp AS HUGEINT) * ((mt - cm) - (pt - cp)) * cm AS sv
        |  FROM cum, t WHERE cm < mt)
        |SELECT v AS threshold, cm AS n_left, mt - cm AS n_right,
        |  CAST((2 * sv * 1000000) // (nl * nr * mt) AS BIGINT)
        |    AS gini_split_ppm,
        |  CAST((2 * CAST(pt AS HUGEINT) * (mt - pt) * 1000000)
        |    // (CAST(mt AS HUGEINT) * mt) AS BIGINT) AS gini_parent_ppm
        |FROM scored WHERE sv = (SELECT min(sv) FROM scored)
        |ORDER BY v LIMIT 1""".stripMargin
    )
  )

  /** q_cusum — exact CUSUM change-point over the daily-revenue
    * series: the day t maximizing |S_t − (t/T)·S_T| (cumulative
    * revenue vs the constant-rate line — Page 1954's cumulative-sum
    * drift detector, run on a corpus's daily ingest volume before
    * retraining to locate WHEN a shift happened, complementing
    * [[qKsTest]]'s "did it shift" and [[qTrendTest]]'s "is it
    * monotone"). Cross-multiplied to |S_t·T − t·S_T| so no per-row
    * division exists; the supremum day is the earliest attaining it.
    *
    * Cross-engine exactness: revenue in integer cents; the cross
    * products are DECIMAL(38,0) / HUGEINT (S_t·T overflows int64 once
    * total cents ≳ 2⁶³/T); stat_ppm = max·10⁶ div (S_T·T) is one
    * exact integral division. Both engines pick the same argmax row
    * because the compared decimals are exact.
    *
    * 100 TB shape: one corpus shuffle to the per-day frame, then two
    * ranged two-pass prefix sums ([[Distributed.globalCumSum]] — the
    * day index t is itself a prefix sum of ones, so no row_number
    * window is needed anywhere); the supremum is a scalar aggregate
    * plus a 1-row broadcast back. Nothing driver-side beyond the 2·P
    * partition offsets.
    */
  val qCusum = Q(
    "q_cusum",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val dec = DecimalType(38, 0)
      val byday = Tables.orders(s, d).groupBy(col("o_orderdate").as("day"))
        .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
          .as("rev"))
        .withColumn("one", lit(1L))
      val cums = Distributed.globalCumSum(
        Distributed.globalCumSum(byday, Seq(col("day")), col("rev"), "st"),
        Seq(col("day")), col("one"), "t")
      val tot = byday.agg(sum(col("rev")).as("sn"), sum(col("one")).as("tn"))
      val scored = cums.crossJoin(broadcast(tot))
        .withColumn("dn",
          abs(col("st").cast(dec) * col("tn").cast(dec) -
            col("t").cast(dec) * col("sn").cast(dec)))
      val mx = scored.agg(max(col("dn")).as("mx"))
      scored.join(broadcast(mx), col("dn") === col("mx"))
        .orderBy("day").limit(1)
        .select(col("day").as("change_date"), col("t").as("day_index"),
          col("tn").as("n_days"),
          expr("CAST((dn * 1000000) div " +
            "(CAST(sn AS DECIMAL(38,0)) * tn) AS BIGINT)").as("stat_ppm"))
    },
    Some(
      """WITH byday AS (
        |  SELECT o_orderdate AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM orders GROUP BY day),
        |cum AS (
        |  SELECT day,
        |    CAST(sum(rev) OVER (ORDER BY day) AS BIGINT) AS st,
        |    CAST(count(*) OVER (ORDER BY day) AS BIGINT) AS t
        |  FROM byday),
        |tot AS (
        |  SELECT CAST(sum(rev) AS BIGINT) AS sn,
        |    CAST(count(*) AS BIGINT) AS tn
        |  FROM byday),
        |scored AS (
        |  SELECT day, t, tn, sn,
        |    abs(CAST(st AS HUGEINT) * tn - CAST(t AS HUGEINT) * sn) AS dn
        |  FROM cum, tot)
        |SELECT day AS change_date, t AS day_index, tn AS n_days,
        |  CAST((dn * 1000000) // (CAST(sn AS HUGEINT) * tn) AS BIGINT)
        |    AS stat_ppm
        |FROM scored WHERE dn = (SELECT max(dn) FROM scored)
        |ORDER BY day LIMIT 1""".stripMargin
    )
  )

  /** q_benford — Benford first-significant-digit audit of order
    * totals: observed vs expected leading-digit frequency (Benford
    * 1938: P(d) = log10(1+1/d)), the standard fabricated-data /
    * synthetic-leak screen a pipeline runs over numeric columns. The
    * expected distribution enters as the SAME nine ppm literals on
    * both engines (floor(log10(1+1/d)·10⁶) precomputed — no
    * runtime transcendental anywhere), so the comparison is pure
    * integer arithmetic.
    *
    * Cross-engine exactness: digit = first character of the decimal
    * rendering of positive integer cents (identical on both engines —
    * no sign, no leading zero); obs_ppm = n·10⁶ div N in
    * DECIMAL(38,0) / HUGEINT (n·10⁶ overflows int64 past ~9.2e12
    * rows).
    *
    * 100 TB shape: map-only digit extraction into a 9-group
    * aggregate; the total is a 1-row broadcast. Nothing else moves.
    */
  val qBenford = Q(
    "q_benford",
    (s, d) => {
      val expPpm = "array(301029, 176091, 124938, 96910, 79181, " +
        "66946, 57991, 51152, 45757)"
      val c = Tables.orders(s, d).select(
        substring(floor(col("o_totalprice") * 100 + lit(0.5))
          .cast("long").cast("string"), 1, 1).cast("int").as("digit"))
      val byd = c.groupBy("digit").agg(count(lit(1)).as("n"))
      val tot = byd.agg(sum(col("n")).as("nt"))
      byd.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          expr("CAST((CAST(n AS DECIMAL(38,0)) * 1000000) div nt AS BIGINT)")
            .as("obs_ppm"),
          expr(s"element_at($expPpm, digit)").cast("long").as("exp_ppm"))
        .withColumn("dev_ppm", abs(col("obs_ppm") - col("exp_ppm")))
        .orderBy("digit")
    },
    Some(
      """WITH c AS (
        |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5)
        |    AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders),
        |byd AS (SELECT digit, CAST(count(*) AS BIGINT) AS n
        |  FROM c GROUP BY digit),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM byd),
        |e AS (SELECT digit, n,
        |    CAST((CAST(n AS HUGEINT) * 1000000) // nt AS BIGINT) AS obs_ppm,
        |    CAST([301029, 176091, 124938, 96910, 79181,
        |          66946, 57991, 51152, 45757][digit] AS BIGINT) AS exp_ppm
        |  FROM byd, tot)
        |SELECT digit, n, obs_ppm, exp_ppm,
        |  abs(obs_ppm - exp_ppm) AS dev_ppm
        |FROM e ORDER BY digit""".stripMargin
    )
  )

  /** q_cramers_v — Cramér's V association between two categorical
    * columns (source × lang over documents): V² = χ²/(N·(min(R,C)−1)),
    * the audit that tells a mixture designer whether language is
    * confounded with source before setting per-source sampling
    * temperatures (a strong association means reweighting one silently
    * reweights the other). χ²·N is computed as the per-cell integral
    * form Σ_ij ((o_ij·N − r_i·c_j)² div (r_i·c_j)) over the COMPLETE
    * R×C grid — absent cells contribute exactly r_i·c_j (no floor
    * loss since (r·c)² div (r·c) is exact) — so both engines run
    * identical integer arithmetic; v2_ppm is one more exact division
    * by N²·(min(R,C)−1).
    *
    * Cross-engine exactness: all counts BIGINT; the squared terms are
    * DECIMAL(38,0) / HUGEINT (o·N overflows int64 past ~3e9 rows);
    * per-cell floor division is the same documented two-step-floor
    * convention as [[TextOps.qChi2Terms]].
    *
    * 100 TB shape: one corpus shuffle to the (source, lang) count
    * frame; marginals and the grid are catalog-sized (R×C rows);
    * totals are a 1-row broadcast. Requires min(R,C) > 1 on both
    * sides (V undefined otherwise).
    */
  val qCramersV = Q(
    "q_cramers_v",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val dec = DecimalType(38, 0)
      val docs = Tables.documents(s, d).select("source", "lang")
      val o = docs.groupBy("source", "lang").agg(count(lit(1)).as("o"))
      val r = docs.groupBy("source").agg(count(lit(1)).as("r"))
      val c = docs.groupBy("lang").agg(count(lit(1)).as("c"))
      val tot = docs.agg(count(lit(1)).as("n"))
        .crossJoin(r.agg(count(lit(1)).as("rc")))
        .crossJoin(c.agg(count(lit(1)).as("cc")))
      val grid = r.crossJoin(broadcast(c))
        .join(o, Seq("source", "lang"), "left")
        .na.fill(0L, Seq("o"))
        .crossJoin(broadcast(tot))
        .withColumn("dev",
          col("o").cast(dec) * col("n").cast(dec) -
            col("r").cast(dec) * col("c").cast(dec))
        .withColumn("term",
          expr("(dev * dev) div (CAST(r AS DECIMAL(38,0)) * c)"))
      grid.groupBy("n", "rc", "cc")
        .agg(sum(col("term").cast(dec)).as("chi2n"))
        .filter(least(col("rc"), col("cc")) > 1)
        .select(col("n").as("n_rows"), col("rc").as("r_cats"),
          col("cc").as("c_cats"),
          expr("CAST((chi2n * 1000000) div " +
            "(CAST(n AS DECIMAL(38,0)) * n * (least(rc, cc) - 1)) " +
            "AS BIGINT)").as("v2_ppm"))
    },
    Some(
      """WITH docs AS (SELECT source, lang FROM documents),
        |o AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS o
        |  FROM docs GROUP BY 1, 2),
        |r AS (SELECT source, CAST(count(*) AS BIGINT) AS r
        |  FROM docs GROUP BY 1),
        |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS c
        |  FROM docs GROUP BY 1),
        |tot AS (
        |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM docs) AS n,
        |    (SELECT CAST(count(*) AS BIGINT) FROM r) AS rc,
        |    (SELECT CAST(count(*) AS BIGINT) FROM c) AS cc),
        |grid AS (
        |  SELECT r.source, c.lang, r.r, c.c, coalesce(o.o, 0) AS o,
        |    t.n, t.rc, t.cc
        |  FROM r CROSS JOIN c
        |  LEFT JOIN o ON o.source = r.source AND o.lang = c.lang
        |  CROSS JOIN tot t),
        |terms AS (
        |  SELECT n, rc, cc,
        |    ((CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c) *
        |     (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c))
        |      // (CAST(r AS HUGEINT) * c) AS term
        |  FROM grid),
        |agg AS (
        |  SELECT n, rc, cc, sum(term) AS chi2n
        |  FROM terms GROUP BY 1, 2, 3)
        |SELECT n AS n_rows, rc AS r_cats, cc AS c_cats,
        |  CAST((chi2n * 1000000) //
        |    (CAST(n AS HUGEINT) * n * (least(rc, cc) - 1)) AS BIGINT)
        |    AS v2_ppm
        |FROM agg WHERE least(rc, cc) > 1""".stripMargin
    )
  )

  /** q_theil_sen — Theil-Sen robust slope of the daily-revenue
    * series: the median over all C(T,2) pairwise slopes, the
    * outlier-resistant companion to [[qTrendTest]]'s Mann-Kendall
    * direction test (MK says WHETHER the corpus drifts, Theil-Sen
    * says HOW FAST — together the standard pre-retraining trend
    * readout; Sen 1968). Each pair slope is quantized to ppm with the
    * SIGN-SPLIT floor division ([[qTrendTest]]'s convention:
    * sign·(|Δrev|·10⁶ div Δt), so negative numerators can't floor
    * differently across engines), and the median is the lower median
    * (smallest slope with 2·cum ≥ n) — determinate on ties.
    *
    * Cross-engine exactness: revenue in integer cents; |Δrev|·10⁶ is
    * DECIMAL(38,0) / HUGEINT (daily cents ≳ 9.2e12 would wrap int64);
    * the quantized slopes and counts are BIGINT.
    *
    * 100 TB shape: the pair frame is C(T,2) over the DAILY aggregate
    * — bounded by the calendar (T ≈ thousands), not the corpus, the
    * same bounded-by-construction frame [[qTrendTest]] pairs over.
    * The median's cumulative count runs through
    * [[Distributed.globalCumSum]] because the slope-VALUE domain is
    * not bounded (up to C(T,2) distinct values).
    */
  val qTheilSen = Q(
    "q_theil_sen",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val dec = DecimalType(38, 0)
      val byday = Tables.orders(s, d).groupBy(col("o_orderdate").as("day"))
        .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
          .as("rev"))
      val w = Window.orderBy("day") // daily frame: calendar-bounded
      // pin: the explode side, the broadcast side, and n_days re-derive
      // the frame — without the pin the orders aggregate scans the
      // corpus three times
      val idx = byday.withColumn("t", row_number().over(w).cast("long"))
        .localCheckpoint()
      // n_days and n_pairs both derive from T in closed form
      // (n_pairs = C(T,2) — every t1<t2 pair exists by construction);
      // the same job yields the revenue range, which BOUNDS every pair
      // slope (|slope| = |Δrev|·10⁶ div dt ≤ (max−min)·10⁶) so the
      // median selection below needs no min/max pass of its own
      val st = idx.agg(count(lit(1)).as("n"),
        min(col("rev")).as("lo"), max(col("rev")).as("hi")).collect()(0)
      val tDays  = st.getLong(0)
      val nPairs = tDays * (tDays - 1) / 2
      val slopeBound =
        if (tDays == 0) 0L
        else (BigInt(st.getLong(2) - st.getLong(1)) * 1000000)
          .min(Long.MaxValue).toLong
      // pair generation: explode each t1 into its (t1, T] partner range
      // and equi-join the partner revenue from a BROADCAST of the
      // calendar-sized frame. The former `a.join(b, t1 < t2)` was a
      // broadcast nested-loop join — T² predicate probes producing the
      // same C(T,2) rows this explode emits directly, and a non-equi
      // shape no hash strategy can serve (guide §3.1: pick the strategy
      // deliberately). The explode source is re-spread first: idx comes
      // out of the calendar window in ONE partition, which would fuse
      // the whole C(T,2) expansion into one task. sequence() needs the
      // t1 = T guard because its start > stop form counts DOWN, not
      // empty. The (slope_ppm-only) pair stream is pinned ONCE; the
      // median selection below re-reads the pin, never the generation.
      val b = idx.select(col("t").as("t2"), col("rev").as("r2"))
      val slopes = idx
        .repartition(s.sparkContext.defaultParallelism, col("t"))
        .select(col("t").as("t1"), col("rev").as("r1"),
          explode(when(col("t") < lit(tDays),
            sequence(col("t") + 1, lit(tDays)))
            .otherwise(expr("CAST(array() AS ARRAY<BIGINT>)"))).as("t2"))
        .join(broadcast(b), "t2")
        .withColumn("dr", col("r2") - col("r1"))
        .withColumn("dt", col("t2") - col("t1"))
        .withColumn("mag",
          expr("CAST((CAST(abs(dr) AS DECIMAL(38,0)) * 1000000) div dt AS BIGINT)"))
        .withColumn("slope_ppm",
          when(col("dr") >= 0, col("mag")).otherwise(-col("mag")))
        .select(col("slope_ppm"))
        .localCheckpoint()
      // lower median by radix bucket selection (three ≤ 2¹⁶-row
      // aggregate passes over the pin) — replaces the former
      // groupBy(slope) + second checkpoint + globalCumSum range
      // shuffle + partitioned window + TakeOrdered tail, all of which
      // moved ~C(T,2) rows (slope values barely collide: 2,890,779
      // distinct of 2,890,810 pairs at sf0.1, so the pre-aggregation
      // shrank nothing). Same determinate-on-ties lower median.
      Distributed.lowerMedianLong(slopes, col("slope_ppm"), nPairs,
        bounds = Some((-slopeBound, slopeBound))) match {
        case Some(m) =>
          s.range(1).select(lit(m).as("median_slope_ppm"),
            lit(nPairs).as("n_pairs"), lit(tDays).as("n_days"))
        case None => // empty orders: same 0-row shape as the old tail
          s.range(0).select(lit(0L).as("median_slope_ppm"),
            lit(nPairs).as("n_pairs"), lit(tDays).as("n_days"))
      }
    },
    Some(
      """WITH byday AS (
        |  SELECT o_orderdate AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM orders GROUP BY day),
        |idx AS (
        |  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t, rev
        |  FROM byday),
        |slopes AS (
        |  SELECT CASE WHEN b.rev - a.rev >= 0
        |      THEN CAST((CAST(abs(b.rev - a.rev) AS HUGEINT) * 1000000)
        |        // (b.t - a.t) AS BIGINT)
        |      ELSE -CAST((CAST(abs(b.rev - a.rev) AS HUGEINT) * 1000000)
        |        // (b.t - a.t) AS BIGINT) END AS slope_ppm
        |  FROM idx a JOIN idx b ON a.t < b.t),
        |byv AS (
        |  SELECT slope_ppm, CAST(count(*) AS BIGINT) AS cnt
        |  FROM slopes GROUP BY slope_ppm),
        |cum AS (
        |  SELECT slope_ppm,
        |    CAST(sum(cnt) OVER (ORDER BY slope_ppm) AS BIGINT) AS cum
        |  FROM byv),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_pairs FROM byv),
        |nd AS (SELECT CAST(max(t) AS BIGINT) AS n_days FROM idx)
        |SELECT slope_ppm AS median_slope_ppm, n_pairs, n_days
        |FROM cum, tot, nd
        |WHERE cum * 2 >= n_pairs
        |ORDER BY slope_ppm LIMIT 1""".stripMargin
    )
  )

  /** q_source_divergence — per-source squared Hellinger distance
    * between the source's language mix and the corpus-wide reference
    * mix: H² = 1 − Σ_l √(p_l·q_l) — the "which source is
    * distributionally atypical" ranking a mixture designer reads
    * next to [[qCramersV]]'s single global association number (V says
    * THE columns are confounded; H² says WHICH sources drive it).
    *
    * Why Hellinger and not KL/JS: the only transcendental is sqrt,
    * which IEEE-754 requires to be CORRECTLY ROUNDED — so
    * floor(√(o·c/(r·N))·10⁶ + ½) is the bit-identical integer on both
    * engines (the [[Sampling]] temperature-mix argument; ln-based
    * divergences have no such guarantee). Each per-language term
    * quantizes independently and the sum of integers is exact;
    * absent (source, language) cells contribute √0 = 0, so no grid
    * completion is needed. h2_ppm = 10⁶ − Σ terms (≤ 10⁶ by
    * Cauchy-Schwarz, up to per-term half-ulp quantization).
    *
    * 100 TB shape: one corpus shuffle to the (source, lang) count
    * frame (the [[qCramersV]] frame); marginals broadcast; everything
    * after is catalog-sized. Ordered by h2_ppm descending — the
    * atypical sources first.
    */
  val qSourceDivergence = Q(
    "q_source_divergence",
    (s, d) => {
      val docs = Tables.documents(s, d).select("source", "lang")
      val o = docs.groupBy("source", "lang").agg(count(lit(1)).as("o"))
      val r = docs.groupBy("source").agg(count(lit(1)).as("r"))
      val c = docs.groupBy("lang").agg(count(lit(1)).as("c"))
      val n = docs.agg(count(lit(1)).as("n"))
      val terms = o.join(broadcast(r), "source")
        .join(broadcast(c), "lang")
        .crossJoin(broadcast(n))
        .withColumn("t_ppm",
          floor(sqrt(
            (col("o").cast("double") * col("c").cast("double")) /
            (col("r").cast("double") * col("n").cast("double"))) * 1e6
            + lit(0.5)).cast("long"))
      terms.groupBy("source")
        .agg(max(col("r")).as("n_docs"),
          (lit(1000000L) - sum(col("t_ppm"))).as("h2_ppm"))
        .orderBy(desc("h2_ppm"), col("source"))
    },
    Some(
      """WITH docs AS (SELECT source, lang FROM documents),
        |o AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS o
        |  FROM docs GROUP BY 1, 2),
        |r AS (SELECT source, CAST(count(*) AS BIGINT) AS r
        |  FROM docs GROUP BY 1),
        |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS c
        |  FROM docs GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docs),
        |terms AS (
        |  SELECT o.source, r.r,
        |    CAST(floor(sqrt(
        |      (CAST(o AS DOUBLE) * CAST(c AS DOUBLE)) /
        |      (CAST(r AS DOUBLE) * CAST(n AS DOUBLE))) * 1e6 + 0.5)
        |      AS BIGINT) AS t_ppm
        |  FROM o JOIN r ON r.source = o.source
        |  JOIN c ON c.lang = o.lang CROSS JOIN n)
        |SELECT source, max(r) AS n_docs,
        |  1000000 - CAST(sum(t_ppm) AS BIGINT) AS h2_ppm
        |FROM terms GROUP BY source
        |ORDER BY h2_ppm DESC, source""".stripMargin
    )
  )

  /** q_perm_test — derandomized two-sample randomization test: is the
    * en-vs-de difference in mean document length explainable by
    * chance? K = 64 pseudo-relabelings assign each doc to side A or B
    * by the parity of the md5-prefix hash of `k:doc_id` (Fisher-style
    * random relabeling — the sign-flip variant whose null distribution
    * approximates the permutation null without needing fixed group
    * sizes); the test statistic is the CROSS-MULTIPLIED mean gap
    * |sumA·nB − sumB·nA|
    * (exact BIGINT — never a mean, so no float division diverges
    * between engines), and p_ppm = 10⁶·(1 + #{k: stat_k ≥ obs})/(K+1)
    * — the add-one Monte-Carlo estimator (Phipson & Smyth 2010), in
    * integer ppm. Derandomized like [[qBootstrapCi]]'s replicates:
    * both engines enumerate the SAME 64 relabelings, so the p-value
    * is bit-reproducible.
    *
    * 100 TB shape: one map-side 64-way expansion of (doc, k) carrying
    * only (k, parity, n_chars) — the text never moves — partial-
    * aggregated into 64 rows, then a 1-row broadcast join against the
    * observed statistic. No window, no sort.
    */
  val qPermTest = Q(
    "q_perm_test",
    (s, d) => {
      val xs = Tables.documents(s, d)
        .filter(col("lang").isin("en", "de"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val obs = xs.agg(
        sum(when(col("lang") === "en", col("n_chars"))).as("sa"),
        sum(when(col("lang") === "en", 1L)).as("na"),
        sum(when(col("lang") === "de", col("n_chars"))).as("sb"),
        sum(when(col("lang") === "de", 1L)).as("nb"))
        .select(col("na"), col("nb"),
          abs(col("sa") * col("nb") - col("sb") * col("na")).as("obs_stat"))
      val perms = xs
        .select(col("doc_id"), col("n_chars"),
          explode(sequence(lit(1), lit(64))).as("k"))
        .withColumn("side",
          Hash.hexToBigint(md5(concat(col("k").cast("string"), lit(":"),
            col("doc_id").cast("string")))).cast("long") % 2)
        .groupBy("k")
        .agg(
          sum(when(col("side") === 0, col("n_chars"))).as("sa"),
          sum(when(col("side") === 0, 1L)).as("na"),
          sum(when(col("side") === 1, col("n_chars"))).as("sb"),
          sum(when(col("side") === 1, 1L)).as("nb"))
        .select(col("k"),
          abs(col("sa") * col("nb") - col("sb") * col("na")).as("stat"))
      perms.crossJoin(broadcast(obs))
        .agg(max(col("na")).as("n_en"), max(col("nb")).as("n_de"),
          max(col("obs_stat")).as("obs_stat"),
          sum(when(col("stat") >= col("obs_stat"), 1L).otherwise(0L))
            .as("n_ge"))
        .select(col("n_en"), col("n_de"), col("obs_stat"), col("n_ge"),
          expr("(1 + n_ge) * 1000000 div 65").as("p_ppm"))
    },
    Some {
      val h = OracleSql.hexToBigint(
        "md5(CAST(v.k AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))")
      s"""WITH xs AS (
         |  SELECT doc_id, lang, n_chars FROM documents
         |  WHERE lang IN ('en', 'de')),
         |obs AS (
         |  SELECT sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS na,
         |    sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS nb,
         |    abs(sum(CASE WHEN lang = 'en' THEN n_chars ELSE 0 END)
         |        * sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END)
         |      - sum(CASE WHEN lang = 'de' THEN n_chars ELSE 0 END)
         |        * sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)) AS obs_stat
         |  FROM xs),
         |perms AS (
         |  SELECT CAST(v.k AS INT) AS k,
         |    abs(sum(CASE WHEN $h % 2 = 0 THEN n_chars ELSE 0 END)
         |        * sum(CASE WHEN $h % 2 = 1 THEN 1 ELSE 0 END)
         |      - sum(CASE WHEN $h % 2 = 1 THEN n_chars ELSE 0 END)
         |        * sum(CASE WHEN $h % 2 = 0 THEN 1 ELSE 0 END)) AS stat
         |  FROM xs, UNNEST(range(1, 65)) AS v(k)
         |  GROUP BY v.k)
         |SELECT CAST(max(na) AS BIGINT) AS n_en, CAST(max(nb) AS BIGINT) AS n_de,
         |  CAST(max(obs_stat) AS BIGINT) AS obs_stat,
         |  CAST(sum(CASE WHEN stat >= obs_stat THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_ge,
         |  CAST(((1 + sum(CASE WHEN stat >= obs_stat THEN 1 ELSE 0 END))
         |    * 1000000) // 65 AS BIGINT) AS p_ppm
         |FROM perms, obs""".stripMargin
    }
  )

  /** q_anova — one-way ANOVA F statistic across the language groups
    * on document length, completing the test ladder (two-sample:
    * [[qPermTest]]/[[qKsTest]]; paired: TextOps.qMcnemar; k-sample:
    * here). Sum-of-squares decomposition in integer arithmetic with
    * ONE stated quantization: the per-group term S_g²/n_g and the
    * grand term S²/n are floor divisions (identical `div`/`//` on
    * positives — each floors away < 1 unit on ~10¹⁰-unit quantities,
    * a deliberate determinism-over-last-unit trade, the repo's ppm
    * convention). F_ppm = SSB·(n−k)·10⁶ / (SSW·(k−1)) runs in
    * DECIMAL(38,0)/HUGEINT (the numerator passes int64 past ~3·10¹⁸
    * — the q_auc precedent), and the squared terms themselves — S_g²,
    * S², Σx² — are cast to DECIMAL(38,0)/HUGEINT BEFORE squaring:
    * group char-sums past ~3e9 would overflow a BIGINT square on
    * both engines, so the 128-bit headroom covers the whole pipeline,
    * not just the final f_ppm step; on 4-and-large df, F_ppm ≥ ~2.4·10⁶
    * rejects equal means at 95%.
    *
    * 100 TB shape: ONE partial-aggregated groupBy(lang) pass to
    * k rows, then a k-row reduce — no window, no second scan.
    */
  val qAnova = Q(
    "q_anova",
    (s, d) => {
      val g = Tables.documents(s, d)
        .select(col("lang").as("g"), col("n_chars").as("x"))
        .groupBy("g").agg(count(lit(1)).as("ng"), sum(col("x")).as("sg"),
          sum(col("x").cast("decimal(38,0)") * col("x")).as("qg"))
      g.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
          sum(col("sg").cast("decimal(38,0)")).as("s"), sum(col("qg")).as("q"),
          sum(expr("(CAST(sg AS DECIMAL(38,0)) * sg) div ng")).as("a"))
        .select(col("k"), col("n"),
          expr("a - (s * s) div n").as("ssb_d"), expr("q - a").as("ssw_d"))
        // ssb_d/ssw_d stay DECIMAL(38,0) through f_ppm — only the
        // REPORTED ssb/ssw diagnostics narrow to BIGINT (the oracle's
        // output type); naming the decimal inputs ssb_d/ssw_d keeps
        // the f_ppm expression unambiguously 128-bit (no same-select
        // name collision with the narrowed output columns)
        .select(col("k"), col("n"),
          col("ssb_d").cast("long").as("ssb"),
          col("ssw_d").cast("long").as("ssw"),
          expr("CAST((ssb_d * (n - k) * 1000000) div " +
            "(ssw_d * (k - 1)) AS BIGINT)").as("f_ppm"))
    },
    Some(
      """WITH g AS (
        |  SELECT lang AS g, count(*) AS ng, sum(n_chars) AS sg,
        |    sum(CAST(n_chars AS HUGEINT) * n_chars) AS qg
        |  FROM documents GROUP BY lang),
        |t AS (
        |  SELECT count(*) AS k, CAST(sum(ng) AS HUGEINT) AS n,
        |    CAST(sum(sg) AS HUGEINT) AS s, CAST(sum(qg) AS HUGEINT) AS q,
        |    CAST(sum((CAST(sg AS HUGEINT) * sg) // ng) AS HUGEINT) AS a
        |  FROM g)
        |SELECT CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
        |  CAST(a - (s * s) // n AS BIGINT) AS ssb,
        |  CAST(q - a AS BIGINT) AS ssw,
        |  CAST((a - (s * s) // n) * (n - k) * 1000000
        |    // ((q - a) * (k - 1)) AS BIGINT) AS f_ppm
        |FROM t""".stripMargin
    )
  )

  /** q_equidepth_hist — a 32-bucket EQUI-DEPTH histogram of order
    * totals (per-bucket lo/hi bounds, row count, distinct values):
    * the cost-model statistic a planner keeps per column — equi-depth
    * (equal row mass) beats equi-width on skewed data because every
    * bucket carries the same selectivity weight, and the per-bucket
    * NDV feeds equality-selectivity estimates the same way
    * [[graft.ops.Sketches.qJoinSizeEst]]'s sketches feed join sizes.
    * Bucket assignment is exact SQL ntile semantics over the total
    * order (cents, o_orderkey) — by [[Distributed.globalNtile]]'s
    * ranged two-pass rank, never a single-partition window.
    *
    * 100 TB shape: range repartition + partitioned rank (P offset
    * scalars on the driver), then one partial-aggregated groupBy over
    * 32 buckets. The distinct count per bucket shuffles (bucket,
    * value) pairs — value-domain-sized, not corpus-sized.
    */
  val qEquidepthHist = Q(
    "q_equidepth_hist",
    (s, d) => {
      val cents = Tables.orders(s, d).select(
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("v"),
        col("o_orderkey").as("k"))
      val bucketed = Distributed.globalNtile(
        cents, 32, Seq(col("v"), col("k")), "bucket")
      bucketed.groupBy("bucket")
        .agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
          count(lit(1)).as("n"),
          countDistinct(col("v")).as("ndv"))
        .orderBy("bucket")
    },
    Some(
      """WITH cents AS (
        |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v,
        |    o_orderkey AS k
        |  FROM orders),
        |b AS (
        |  SELECT v, ntile(32) OVER (ORDER BY v, k) AS bucket FROM cents)
        |SELECT CAST(bucket AS INT) AS bucket, min(v) AS lo, max(v) AS hi,
        |  count(*) AS n, count(DISTINCT v) AS ndv
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
    )
  )

  val all: Seq[Q] =
    Seq(qListagg, qQuantiles, qVariance, qWindowNavigation, qWindowDistribution,
      qApproxQuantiles, qWindowFirstlast, qWinsorize, qCorrelation, qLinreg,
      qWeightedMedian, qMadOutliers, qBootstrapCi, qTrendTest, qKeySkew,
      qAuc, qKsTest, qStump, qCusum, qBenford, qCramersV, qTheilSen,
      qSourceDivergence, qPermTest, qAnova, qEquidepthHist)
}
