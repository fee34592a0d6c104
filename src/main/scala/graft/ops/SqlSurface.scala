package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}

/** SQL-text entry points: the reference's users write SQL against the
  * DuckDB host, so the rebuilt engine must answer the same queries via
  * `spark.sql`. The fixture tables a query names are registered as temp
  * views over its scale dir, and the Spark SQL text is near-verbatim the
  * oracle SQL (dialect-shared subset).
  */
object SqlSurface {

  private val fixtureTables = Set("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "documents")

  /** Relation names `plan` reads, CTE bodies included: the parser keeps
    * those in `UnresolvedWith.cteRelations`, which are neither children
    * nor subquery expressions, so `collectWithSubqueries` alone misses
    * them.
    */
  private def relationsNamed(plan: LogicalPlan): Seq[String] =
    plan.collectWithSubqueries {
      case r: UnresolvedRelation =>
        Seq(r.multipartIdentifier.last.toLowerCase(java.util.Locale.ROOT))
      case w: UnresolvedWith => w.cteRelations.flatMap(c => relationsNamed(c._2))
    }.flatten

  /** Registers as temp views exactly the fixture tables `sql` names. */
  private def registerViews(s: SparkSession, d: String, sql: String): Unit =
    relationsNamed(s.sessionState.sqlParser.parsePlan(sql)).distinct
      .filter(fixtureTables).foreach { t =>
        Tables.table(s, d, t).createOrReplaceTempView(t)
      }

  /** A query whose Spark side is `sparkSql` over the fixture views; the
    * oracle runs `duckSql`, or the same text when that is shared.
    */
  private[ops] def sqlQ(name: String, sparkSql: String,
      duckSql: Option[String] = None, bench: Boolean = false): Q =
    Q(
      name,
      (s, d) => { registerViews(s, d, sparkSql); s.sql(sparkSql) },
      Some(duckSql.getOrElse(sparkSql)),
      bench)

  /** q_sql_pricing — TPC-H Q3-shaped revenue query, same text on both
    * engines (decimal-exact revenue).
    */
  val qSqlPricing = sqlQ(
    "q_sql_pricing",
    // measured: a BROADCAST(orders) hint does NOT pay here (1.30 →
    // 1.35 s at sf0.1) — the l_orderkey aggregate's 150k-group
    // shuffle dominates, not the join — so the text stays plain
    """SELECT l_orderkey,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  count(*) AS n_lines
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderstatus = 'O'
      |GROUP BY l_orderkey
      |HAVING count(*) >= 5
      |ORDER BY l_orderkey""".stripMargin,
    bench = true
  )

  /** q_sql_nested — subqueries + IN + scalar expressions, same text. */
  val qSqlNested = sqlQ(
    "q_sql_nested",
    """SELECT n_name, big_cust
      |FROM (
      |  SELECT n_name, count(*) AS big_cust
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  WHERE c_acctbal > 5000
      |    AND c_mktsegment IN ('BUILDING', 'MACHINERY')
      |  GROUP BY n_name) t
      |WHERE big_cust >= 2
      |ORDER BY n_name""".stripMargin
  )

  /** q_sql_union_all — UNION ALL with branch tagging, same text. */
  val qSqlUnionAll = sqlQ(
    "q_sql_union_all",
    """SELECT 'customer' AS side, CAST(c_nationkey AS INT) AS nk FROM customer
      |UNION ALL
      |SELECT 'supplier' AS side, CAST(s_nationkey AS INT) AS nk FROM supplier
      |ORDER BY side, nk""".stripMargin
  )

  /** q_sql_case_agg — conditional aggregation in SQL text. */
  val qSqlCaseAgg = sqlQ(
    "q_sql_case_agg",
    """SELECT l_returnflag,
      |  SUM(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS n_big,
      |  SUM(CASE WHEN l_quantity <= 25 THEN 1 ELSE 0 END) AS n_small
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // DuckDB sums INTEGER into HUGEINT; pin both to BIGINT
    duckSql = Some(
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
        |  CAST(SUM(CASE WHEN l_quantity <= 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_small
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  )

  /** q_sql_local_supply — TPC-H Q5 shape: revenue by nation where the
    * supplier and customer share the nation, one region, one year.
    * Five-table join; dims broadcast, fact never shuffles for the join.
    */
  val qSqlLocalSupply = sqlQ(
    "q_sql_local_supply",
    // the Spark text names the join shape the scaladoc promises: the
    // date-filtered customer⋈orders subtree is a CTE so it can carry a
    // BROADCAST hint (without it, Catalyst's size estimate for the
    // subtree exceeds the auto-broadcast threshold at sf0.1 and the
    // 600k-row lineitem fact gets shuffled into a sort-merge join —
    // measured 1.46 → 1.04 s median at sf0.1); the oracle keeps the
    // plain join text, which is semantically identical
    """WITH co AS (
      |  SELECT /*+ BROADCAST(customer) */ o_orderkey, c_nationkey
      |  FROM orders JOIN customer ON c_custkey = o_custkey
      |  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00')
      |SELECT /*+ BROADCAST(co, supplier, nation, region) */ n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN co       ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    duckSql = Some(
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),
    bench = true
  )

  /** q_sql_returned_items — TPC-H Q10 shape: revenue lost to returned
    * items per customer, top 20.
    */
  val qSqlReturnedItems = sqlQ(
    "q_sql_returned_items",
    """SELECT c_custkey, c_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  n_name
      |FROM customer
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin
  )

  /** q_sql_promo — TPC-H Q14-shaped promotion-revenue share: the
    * fraction of one month's revenue from ECONOMY-type parts
    * (conditional decimal-exact sums, one final double division).
    */
  val qSqlPromo = sqlQ(
    "q_sql_promo",
    """SELECT CAST(100.0 * CAST(SUM(CASE WHEN p_type = 'ECONOMY'
      |    THEN CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (1 - CAST(l_discount AS DECIMAL(18,2)))
      |    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
      |  / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
      |  AS DOUBLE) AS promo_share,
      |  count(*) AS n_lines
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= DATE '1996-01-01'
      |  AND l_shipdate < DATE '1996-02-01'""".stripMargin
  )

  /** q_sql_big_orders — TPC-H Q18-shaped large-quantity orders: the
    * customers behind orders whose total quantity clears a threshold
    * (group-having subquery feeding a three-way join).
    */
  val qSqlBigOrders = sqlQ(
    "q_sql_big_orders",
    """SELECT c_custkey, c_name, o_orderkey,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE o_orderkey IN (
      |  SELECT l_orderkey FROM lineitem
      |  GROUP BY l_orderkey
      |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150)
      |GROUP BY c_custkey, c_name, o_orderkey
      |ORDER BY total_qty DESC, o_orderkey LIMIT 50""".stripMargin
  )

  val all: Seq[Q] = Seq(qSqlPricing, qSqlNested, qSqlUnionAll, qSqlCaseAgg,
    qSqlLocalSupply, qSqlReturnedItems, qSqlPromo, qSqlBigOrders)
}
