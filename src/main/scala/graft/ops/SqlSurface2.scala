package graft.ops

import graft.Q
import SqlSurface.sqlQ

/** TPC-H-shaped SQL surface, part 2 — the decision-support query shapes
  * not yet covered by [[SqlSurface]]: EXISTS / NOT EXISTS semi- and
  * anti-joins, left-outer count distributions, CTE + scalar-max
  * selection, disjunctive pushdown predicates, nested semi-join chains,
  * and exact-arithmetic threshold subqueries.
  *
  * The synthetic schema has no partsupp table and no
  * l_commitdate/l_receiptdate/l_shipmode columns, so the shapes that
  * need them (Q2/Q9/Q11/Q12/Q16/Q20/Q21) are re-expressed over the
  * columns that exist: "late" means `l_shipdate > o_orderdate +
  * INTERVAL n DAY`, and supplier/part capability comes from lineitem
  * itself. The *plan shapes* — which is what these queries exercise —
  * are unchanged.
  *
  * Cross-engine exactness rules (same as [[SqlSurface]]):
  * - money math in DECIMAL(18,2), cast to DOUBLE only at the end;
  * - conditional counts cast to BIGINT (DuckDB sums INTEGER→HUGEINT);
  * - EXTRACT(...) cast to INT (DuckDB yields BIGINT, Spark INT);
  * - no floating-point value may decide row membership: every
  *   threshold against an average is restated as an exact
  *   decimal-integer cross-multiplication (qty * 5 * cnt < sum instead
  *   of qty < 0.2 * avg).
  */
object SqlSurface2 {

  /** q_sql_pricing_summary — the full TPC-H Q1 pricing-summary report:
    * all eight aggregates (conditional sums, three averages, count) per
    * (returnflag, linestatus). Sums are decimal-exact; each average is
    * one division of an exact sum by an exact count, in double, so both
    * engines produce the identical IEEE result.
    */
  val qSqlPricingSummary = sqlQ(
    "q_sql_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
      |    AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (1 - CAST(l_discount AS DECIMAL(18,2)))
      |    * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |    AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    / count(*) AS avg_price,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*)
      |    AS avg_disc,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    bench = false
  )

  /** q_sql_forecast_revenue — TPC-H Q6 forecasting-revenue change: one
    * range-band scan-side filter (year × discount band × quantity cap),
    * no join, one global conditional sum — every predicate reaches the
    * parquet scan.
    */
  val qSqlForecastRevenue = sqlQ(
    "q_sql_forecast_revenue",
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.02 AND 0.08
      |  AND l_quantity < 24""".stripMargin
  )

  /** q_sql_waiting_orders — TPC-H Q4 shape: orders in a quarter with at
    * least one line shipped after the order date (correlated EXISTS →
    * left-semi hash join on the fact's key; the date range is pushed to
    * the orders scan).
    */
  val qSqlWaitingOrders = sqlQ(
    "q_sql_waiting_orders",
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem
      |    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin
  )

  /** q_sql_volume_shipping — TPC-H Q7 shape: shipping volume between two
    * nations by year. The nation dimension joins twice (supplier side
    * and customer side) — both broadcast; the disjunctive nation-pair
    * predicate is evaluated after both joins.
    */
  val qSqlVolumeShipping = sqlQ(
    "q_sql_volume_shipping",
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(SUM(volume) AS DOUBLE) AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
      |    CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume
      |  FROM supplier
      |  JOIN lineitem ON s_suppkey = l_suppkey
      |  JOIN orders   ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      |      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
      |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00') shipping
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin
  )

  /** q_sql_market_share — TPC-H Q8 shape: one nation's share of a
    * region's revenue in PROMO parts per year. The share is a division
    * of two decimal-exact conditional sums, taken as DOUBLE only at the
    * end (both engines divide the same two exact values).
    */
  val qSqlMarketShare = sqlQ(
    "q_sql_market_share",
    """SELECT o_year,
      |  CAST(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume
      |                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
      |    / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
      |FROM (
      |  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
      |    CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume,
      |    n1.n_name AS nation
      |  FROM part
      |  JOIN lineitem ON p_partkey = l_partkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN orders   ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  JOIN region   ON n2.n_regionkey = r_regionkey
      |  WHERE r_name = 'ASIA' AND p_type = 'PROMO'
      |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00') all_nations
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin
  )

  /** q_sql_late_lines — TPC-H Q12 shape: high/low-priority line counts
    * among late shipments (no l_shipmode column; the grouping key is
    * l_linestatus and "late" is shipdate > orderdate + 60 days).
    */
  val qSqlLateLines = sqlQ(
    "q_sql_late_lines",
    """SELECT l_linestatus,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
      |  AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY l_linestatus
      |ORDER BY l_linestatus""".stripMargin
  )

  /** q_sql_cust_distribution — TPC-H Q13 shape: distribution of
    * per-customer order counts, keeping zero-order customers via the
    * left outer join (the join predicate filters orders *inside* the
    * join so those customers still appear with count 0).
    */
  val qSqlCustDistribution = sqlQ(
    "q_sql_cust_distribution",
    """SELECT c_count, count(*) AS custdist
      |FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |  GROUP BY c_custkey) c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin
  )

  /** q_sql_top_supplier — TPC-H Q15 shape: the supplier(s) with maximum
    * revenue in a quarter. The CTE is referenced twice (join input and
    * scalar-max subquery); revenue stays DECIMAL through the equality so
    * the max comparison is exact on both engines.
    */
  val qSqlTopSupplier = sqlQ(
    "q_sql_top_supplier",
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
      |FROM supplier JOIN revenue ON s_suppkey = supplier_no
      |WHERE total_rev = (SELECT max(total_rev) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin
  )

  /** q_sql_parts_suppliers — TPC-H Q16 shape: distinct supplier counts
    * per part attribute combo, excluding suppliers matched by a NOT IN
    * subquery (null-aware anti-join; s_acctbal < 0 plays the role of
    * the comment-pattern exclusion).
    */
  val qSqlPartsSuppliers = sqlQ(
    "q_sql_parts_suppliers",
    """SELECT p_brand, p_type, p_size,
      |  count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> 'Brand#1'
      |  AND p_size IN (1, 2, 3, 4, 5)
      |  AND l_suppkey NOT IN (
      |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin
  )

  /** q_sql_small_qty_revenue — TPC-H Q17 shape: revenue from lines whose
    * quantity is below 20% of the part's average. The avg threshold is
    * cross-multiplied into exact decimal-integer form
    * (qty * 5 * cnt < sum ⇔ qty < 0.2 * sum/cnt) so no floating-point
    * average can flip row membership between engines.
    */
  val qSqlSmallQtyRevenue = sqlQ(
    "q_sql_small_qty_revenue",
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    / 7.0 AS avg_yearly,
      |  count(*) AS n_lines
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |JOIN (
      |  SELECT l_partkey AS agg_pk,
      |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
      |    count(*) AS cnt_qty
      |  FROM lineitem GROUP BY l_partkey) part_agg
      |  ON agg_pk = p_partkey
      |WHERE p_brand = 'Brand#9'
      |  AND CAST(l_quantity AS DECIMAL(18,2)) * 5 * cnt_qty < sum_qty""".stripMargin
  )

  /** q_sql_disjunctive — TPC-H Q19 shape: an OR of three conjunctive
    * brand/size/quantity clauses. The whole disjunction references only
    * scan columns of the two tables, so Catalyst pushes the
    * brand∨brand∨brand and quantity-range envelopes into both scans and
    * evaluates the full predicate after the (broadcast) join.
    */
  val qSqlDisjunctive = sqlQ(
    "q_sql_disjunctive",
    """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity >= 1 AND l_quantity <= 21)
      |   OR (p_brand = 'Brand#9' AND p_size BETWEEN 1 AND 30
      |       AND l_quantity >= 10 AND l_quantity <= 40)
      |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 50
      |       AND l_quantity >= 20 AND l_quantity <= 50)""".stripMargin
  )

  /** q_sql_excess_shipments — TPC-H Q20 shape: suppliers who shipped
    * disproportionately much of the 'red' parts — a two-level semi-join
    * chain (supplier IN (lineitem⋉part group-having)). The threshold is
    * scale-relative (supplier's red volume > 1.5× the mean red volume
    * per shipping supplier), restated as an exact decimal
    * cross-multiplication so it stays selective AND float-free at every
    * scale factor.
    */
  val qSqlExcessShipments = sqlQ(
    "q_sql_excess_shipments",
    """WITH red AS (
      |  SELECT l_suppkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q
      |  FROM lineitem
      |  WHERE l_partkey IN (
      |    SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name
      |FROM supplier
      |WHERE s_suppkey IN (
      |  SELECT l_suppkey FROM red
      |  WHERE q * (SELECT count(*) FROM red) * 2
      |      > (SELECT SUM(q) FROM red) * 3)
      |ORDER BY s_suppkey""".stripMargin
  )

  /** q_sql_waiting_suppliers — TPC-H Q21 shape: suppliers whose line was
    * late on a multi-supplier finished order where no OTHER supplier was
    * late — EXISTS plus NOT EXISTS against the same fact table
    * (left-semi then left-anti join in the plan).
    */
  val qSqlWaitingSuppliers = sqlQ(
    "q_sql_waiting_suppliers",
    """SELECT s_name, count(*) AS numwait
      |FROM supplier
      |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |JOIN orders ON o_orderkey = l1.l_orderkey
      |WHERE o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (
      |    SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM lineitem l3 JOIN orders o3
      |      ON o3.o_orderkey = l3.l_orderkey
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 25""".stripMargin
  )

  /** q_sql_no_order_customers — TPC-H Q22 shape: well-funded customers
    * who never ordered, by nation. The "above average balance" cut is
    * cross-multiplied into exact decimal form (bal * cnt > sum ⇔
    * bal > avg) and the no-orders test is a NOT EXISTS anti-join.
    */
  val qSqlNoOrderCustomers = sqlQ(
    "q_sql_no_order_customers",
    """SELECT c_nationkey, count(*) AS numcust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
      |FROM customer
      |WHERE CAST(c_acctbal AS DECIMAL(18,2))
      |    * (SELECT count(*) FROM customer WHERE c_acctbal > 0.0)
      |  > (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2)))
      |     FROM customer WHERE c_acctbal > 0.0)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |GROUP BY c_nationkey
      |ORDER BY c_nationkey""".stripMargin
  )

  /** Synthetic partsupp — the fixture schema has no partsupp table, so
    * the three TPC-H shapes that need one (Q2/Q9/Q11) derive it
    * deterministically from the fact table: one row per distinct
    * (l_partkey, l_suppkey) pair (which guarantees the referential
    * integrity real TPC-H has — every lineitem joins back to a
    * partsupp row), with availqty/supplycost computed by integer
    * arithmetic on the keys. Identical SQL text runs in both engines,
    * so both see byte-identical partsupp contents at any scale factor
    * with no fixture files or driver changes.
    *
    * 100 TB note: deriving partsupp re-aggregates the fact table once
    * per query; with a real partsupp table these queries would scan it
    * directly. The distinct is a partial-aggregated shuffle on the two
    * join keys only — no payload columns travel.
    */
  private val partsuppCte =
    """partsupp AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |    CAST((l_partkey * 31 + l_suppkey * 17) % 9999 + 1 AS INT)
      |      AS ps_availqty,
      |    CAST((l_partkey * 7 + l_suppkey * 13) % 1000 + 1 AS INT)
      |      AS ps_supplycost
      |  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs)""".stripMargin

  /** q_sql_min_cost_supplier — TPC-H Q2 minimum-cost supplier: for each
    * qualifying part, the European supplier(s) offering it at the
    * region-wide minimum cost (correlated scalar-min subquery over the
    * same partsupp relation, re-filtered by region). ps_supplycost is
    * an exact INT, so the min-equality can never be flipped by float
    * representation; the ORDER BY is total (unique (p_partkey,
    * ps_suppkey) tail) so LIMIT 100 is deterministic in both engines.
    */
  val qSqlMinCostSupplier = sqlQ(
    "q_sql_min_cost_supplier",
    s"""WITH $partsuppCte
       |SELECT s_acctbal, s_name, n_name, p_partkey, p_type, ps_supplycost
       |FROM part
       |JOIN partsupp ON p_partkey = ps_partkey
       |JOIN supplier ON s_suppkey = ps_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'
       |  AND r_name = 'EUROPE'
       |  AND ps_supplycost = (
       |    SELECT min(ps2.ps_supplycost)
       |    FROM partsupp ps2
       |    JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
       |    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
       |    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
       |    WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
       |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, ps_suppkey
       |LIMIT 100""".stripMargin
  )

  /** q_sql_product_profit — TPC-H Q9 product-type profit: per-nation,
    * per-year profit on 'blue' parts, where profit = revenue minus
    * supply cost. All money math is exact DECIMAL (price and discount
    * at scale 2, products at scale 4) and the synthetic supplycost is
    * an exact INT, so the per-group sums are order-independent and the
    * single DOUBLE cast happens after aggregation.
    */
  val qSqlProductProfit = sqlQ(
    "q_sql_product_profit",
    s"""WITH $partsuppCte
       |SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit,
       |  count(*) AS n_lines
       |FROM (
       |  SELECT n_name AS nation,
       |    CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
       |    CAST(l_extendedprice AS DECIMAL(18,2))
       |      * (1 - CAST(l_discount AS DECIMAL(18,2)))
       |      - CAST(ps_supplycost AS DECIMAL(18,2))
       |        * CAST(l_quantity AS DECIMAL(18,2)) AS amount
       |  FROM lineitem
       |  JOIN part ON p_partkey = l_partkey
       |  JOIN supplier ON s_suppkey = l_suppkey
       |  JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
       |  JOIN orders ON o_orderkey = l_orderkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  WHERE p_name LIKE 'blue%') profit
       |GROUP BY nation, o_year
       |ORDER BY nation, o_year DESC""".stripMargin
  )

  /** q_sql_important_stock — TPC-H Q11 important-stock identification:
    * parts whose inventory value held by one nation's suppliers exceeds
    * a threshold share of that nation's total. TPC-H's 0.0001/SF float
    * threshold is both scale-dependent and float-deciding; it is
    * restated scale-free and exact as "value exceeds 3× the average
    * per-part value" via integer cross-multiplication (value × #parts
    * > total × 3) — supplycost and availqty are exact INTs, so
    * membership is pure BIGINT arithmetic in both engines. The
    * per-group and total sums are cast to BIGINT (DuckDB sums BIGINT
    * into HUGEINT).
    */
  val qSqlImportantStock = sqlQ(
    "q_sql_important_stock",
    s"""WITH $partsuppCte,
       |ps_val AS (
       |  SELECT ps_partkey,
       |    CAST(ps_supplycost AS BIGINT) * ps_availqty AS val
       |  FROM partsupp
       |  JOIN supplier ON s_suppkey = ps_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  WHERE n_name = 'NATION_3')
       |SELECT ps_partkey, CAST(SUM(val) AS BIGINT) AS value
       |FROM ps_val
       |GROUP BY ps_partkey
       |HAVING CAST(SUM(val) AS BIGINT)
       |     * (SELECT count(DISTINCT ps_partkey) FROM ps_val)
       |     > (SELECT CAST(SUM(val) AS BIGINT) FROM ps_val) * 3
       |ORDER BY value DESC, ps_partkey""".stripMargin
  )

  /** q_sql_recursive — native `WITH RECURSIVE` (Spark 4 supports the
    * ANSI form; same text in DuckDB): each part node walks the implicit
    * binary-heap ancestry k → ⌊k/2⌋ to the root, emitting path length
    * and path sum. Complements `q_recursive_tree`, which implements the
    * same fixpoint as an iterative DataFrame loop — here the engine's
    * own recursion operator does the driving.
    *
    * (floor() before the BIGINT cast: DuckDB CAST rounds half-up while
    * Spark truncates, so a bare CAST(cur/2) would diverge.)
    */
  val qSqlRecursive = sqlQ(
    "q_sql_recursive",
    """WITH RECURSIVE anc AS (
      |  SELECT p_partkey AS node, p_partkey AS cur, 0 AS depth
      |  FROM part WHERE p_partkey < 64
      |  UNION ALL
      |  SELECT node, CAST(floor(cur / 2) AS BIGINT) AS cur, depth + 1
      |  FROM anc WHERE cur > 1)
      |SELECT node, CAST(count(*) AS BIGINT) AS path_len,
      |  CAST(sum(cur) AS BIGINT) AS path_sum,
      |  CAST(max(depth) AS INT) AS height
      |FROM anc GROUP BY node ORDER BY node""".stripMargin
  )

  val all: Seq[Q] = Seq(qSqlPricingSummary, qSqlForecastRevenue,
    qSqlRecursive, qSqlWaitingOrders, qSqlVolumeShipping,
    qSqlMarketShare, qSqlLateLines, qSqlCustDistribution, qSqlTopSupplier,
    qSqlPartsSuppliers, qSqlSmallQtyRevenue, qSqlDisjunctive,
    qSqlExcessShipments, qSqlWaitingSuppliers, qSqlNoOrderCustomers,
    qSqlMinCostSupplier, qSqlProductProfit, qSqlImportantStock)
}
