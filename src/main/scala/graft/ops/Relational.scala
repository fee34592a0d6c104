package graft.ops

import graft.{Exact, Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tier B relational operator library (SURVEY.md §2, B1–B20).
  *
  * Each query is declared with the DataFrame API so Catalyst plans it:
  * filters and projections push into the parquet scan, aggregates get
  * map-side partial aggregation, small dimension tables are broadcast.
  * Every query has a deterministic ORDER BY and a DuckDB oracle.
  *
  * Scale notes (100 TB): every query here is shuffle-minimal — group-bys
  * are partial-aggregated before exchange, joins against `nation`/`region`
  * /`supplier` are broadcast (no shuffle of the fact table), sorts that
  * feed a LIMIT use TakeOrderedAndProject (no global sort materialized).
  */
object Relational {

  /** B1 — scan + projection, pushed down to the parquet reader.
    * Reference: full scan `SELECT *` (README.md:42-56).
    */
  val qScanProject = Q(
    "q_scan_project",
    (s, d) => {
      Tables
        .lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin
    ),
    bench = true
  )

  /** B2 — count(*); answered from parquet footer statistics (the Spark
    * analog of the reference's stats-backed count, SURVEY §3.2/A9).
    */
  val qCountStar = Q(
    "q_count_star",
    (s, d) => Tables.lineitem(s, d).agg(count(lit(1)).as("cnt")),
    Some("SELECT count(*) AS cnt FROM lineitem"),
    bench = true
  )

  /** B3 — count(DISTINCT). Reference: read_pst_folders.test:20-23. */
  val qCountDistinct = Q(
    "q_count_distinct",
    (s, d) =>
      Tables
        .lineitem(s, d)
        .agg(
          countDistinct(col("l_orderkey")).as("n_orders"),
          countDistinct(col("l_partkey")).as("n_parts")
        ),
    Some(
      """SELECT count(DISTINCT l_orderkey) AS n_orders,
        |       count(DISTINCT l_partkey) AS n_parts FROM lineitem""".stripMargin
    )
  )

  /** B4 — SELECT DISTINCT. Reference: read_pst_folders.test:26-29. */
  val qDistinct = Q(
    "q_distinct",
    (s, d) =>
      Tables
        .lineitem(s, d)
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus"),
    Some(
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin
    )
  )

  /** B5+B6 flagship — hash group-by aggregate (the reference's README
    * headline query shape, README.md:25-37), TPC-H Q1 flavored.
    * Decimal-exact sums per [[graft.Exact]].
    */
  val qGroupbyAgg = Q(
    "q_groupby_agg",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      li.filter(col("l_shipdate") <= lit("1999-01-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          Exact.dsum(col("l_quantity")).as("sum_qty"),
          Exact.dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(
            Exact.dec(col("l_extendedprice")) *
              (lit(1) - Exact.dec(col("l_discount")))
          ).cast("double").as("sum_disc_price"),
          (Exact.dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order")
        )
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin
    ),
    bench = true
  )

  /** B6 — multi-key ORDER BY asc/desc (README.md:25 `order by c desc`). */
  val qOrderby = Q(
    "q_orderby",
    (s, d) =>
      Tables
        .orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy(
          col("o_orderstatus").asc,
          col("o_totalprice").desc,
          col("o_orderkey").asc
        ),
    Some(
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |ORDER BY o_orderstatus ASC, o_totalprice DESC, o_orderkey ASC""".stripMargin
    ),
    bench = true
  )

  /** B7 — top-k: ORDER BY + LIMIT → Spark TakeOrderedAndProject (no full
    * sort materialization; per-partition heaps at scale).
    * Reference: query_optimizations.test:51.
    */
  val qTopk = Q(
    "q_topk",
    (s, d) =>
      Tables
        .orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select("o_orderkey", "o_totalprice"),
    Some(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin
    )
  )

  /** B8 — predicate mix: equality, LIKE prefix, range, IS NOT NULL; all
    * pushed to the parquet scan. Reference: query_optimizations.test:51,
    * table_function_parameters.test:21-39.
    */
  val qFilterPredicates = Q(
    "q_filter_predicates",
    (s, d) =>
      Tables
        .orders(s, d)
        .filter(
          col("o_orderstatus") === "F" &&
            col("o_totalprice") >= 50000.0 &&
            col("o_orderpriority").like("1%") &&
            col("o_orderdate").isNotNull
        )
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey"),
    Some(
      """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |WHERE o_orderstatus = 'F' AND o_totalprice >= 50000.0
        |  AND o_orderpriority LIKE '1%' AND o_orderdate IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin
    )
  )

  /** B9 — inner equi-joins; dimensions broadcast so the fact table never
    * shuffles (reference late-materialization HASH_JOIN analog,
    * query_optimizations.test:49-53).
    */
  val qJoinDims = Q(
    "q_join_dims",
    (s, d) => {
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d)
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .filter(r("r_name") === "ASIA")
        .groupBy("n_name")
        .agg(
          count(lit(1)).as("n_cust"),
          Exact.dsum(col("c_acctbal")).as("total_bal")
        )
        .orderBy("n_name")
    },
    Some(
      """SELECT n_name, count(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin
    ),
    bench = true
  )

  /** B11 — UNION with dedup (Spark union is UNION ALL; dedup explicit).
    * Reference: recursive CTE UNION, README.md:407-412.
    */
  val qUnionDedup = Q(
    "q_union_dedup",
    (s, d) =>
      Tables
        .customer(s, d)
        .select(col("c_nationkey").as("nk"))
        .union(Tables.supplier(s, d).select(col("s_nationkey")))
        .distinct()
        .orderBy("nk"),
    Some(
      """SELECT c_nationkey AS nk FROM customer
        |UNION SELECT s_nationkey FROM supplier ORDER BY nk""".stripMargin
    )
  )

  /** B12 — list build + lateral expansion (unnest ↔ explode).
    * Reference: read_unittest_pst.test:65-69. `sort_array` makes the
    * collected list order-independent (collect_list order is not
    * deterministic under parallelism).
    */
  val qExplodeCollect = Q(
    "q_explode_collect",
    (s, d) =>
      Tables
        .lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_linenumber"))).as("lines"))
        .select(col("l_orderkey"), explode(col("lines")).as("ln"))
        .orderBy("l_orderkey", "ln"),
    Some(
      """SELECT l_orderkey, ln FROM (
        |  SELECT l_orderkey, unnest(list_sort(list(l_linenumber))) AS ln
        |  FROM lineitem GROUP BY l_orderkey) t
        |ORDER BY l_orderkey, ln""".stripMargin
    )
  )

  /** B13 — struct build + field navigation (x['field'] ↔ dot path).
    * Reference: read_unittest_pst.test:66.
    */
  val qStructNav = Q(
    "q_struct_nav",
    (s, d) =>
      Tables
        .customer(s, d)
        .select(
          col("c_custkey"),
          struct(
            col("c_name").as("name"),
            col("c_acctbal").as("bal")
          ).as("info")
        )
        .select(
          col("c_custkey"),
          col("info.name").as("name"),
          col("info.bal").as("bal")
        )
        .orderBy("c_custkey"),
    Some(
      """SELECT c_custkey, c_name AS name, c_acctbal AS bal
        |FROM customer ORDER BY c_custkey""".stripMargin
    )
  )

  /** B14 — list functions: element_at first/last, size.
    * Reference: list_first, table_function_parameters.test:33-39.
    */
  val qElementAt = Q(
    "q_element_at",
    (s, d) =>
      Tables
        .lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_linenumber"))).as("lines"))
        .select(
          col("l_orderkey"),
          element_at(col("lines"), 1).as("first_line"),
          element_at(col("lines"), -1).as("last_line"),
          size(col("lines")).as("n_lines")
        )
        .orderBy("l_orderkey"),
    Some(
      """SELECT l_orderkey, min(l_linenumber) AS first_line,
        |  max(l_linenumber) AS last_line, CAST(count(*) AS INT) AS n_lines
        |FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin
    )
  )

  /** B15 — string scalar functions (length, upper, substr, concat).
    * Reference: length(body_html), table_function_parameters.test:21.
    */
  val qStringFuncs = Q(
    "q_string_funcs",
    (s, d) =>
      Tables
        .part(s, d)
        .select(
          col("p_partkey"),
          length(col("p_name")).as("name_len"),
          upper(col("p_brand")).as("brand_uc"),
          substring(col("p_type"), 1, 5).as("type_pre"),
          concat(col("p_brand"), lit("-"), col("p_name")).as("tag")
        )
        .orderBy("p_partkey"),
    Some(
      """SELECT p_partkey, CAST(length(p_name) AS INT) AS name_len,
        |  upper(p_brand) AS brand_uc, substr(p_type, 1, 5) AS type_pre,
        |  concat(p_brand, '-', p_name) AS tag
        |FROM part ORDER BY p_partkey""".stripMargin
    )
  )

  /** B16 — CASE WHEN. Reference: read_unittest_pst.test:20. */
  val qCaseWhen = Q(
    "q_case_when",
    (s, d) =>
      Tables
        .orders(s, d)
        .select(
          col("o_orderkey"),
          when(col("o_totalprice") > 300000, "big")
            .when(col("o_totalprice") > 100000, "mid")
            .otherwise("small")
            .as("bucket")
        )
        .orderBy("o_orderkey"),
    Some(
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 300000 THEN 'big'
        |       WHEN o_totalprice > 100000 THEN 'mid'
        |       ELSE 'small' END AS bucket
        |FROM orders ORDER BY o_orderkey""".stripMargin
    )
  )

  /** B18 — aggregate over a derived table with LIMIT (the limit result is
    * nondeterministic row-wise but the count is exact).
    * Reference: table_function_parameters.test:14-16.
    */
  val qSubqueryLimitAgg = Q(
    "q_subquery_limit_agg",
    (s, d) => Tables.orders(s, d).limit(100).agg(count(lit(1)).as("cnt")),
    Some("SELECT count(*) AS cnt FROM (SELECT * FROM orders LIMIT 100) t")
  )

  /** B19 — per-file lineage column from the scan (pst_path/pst_name
    * analog, schema.hpp:125-126): input_file_name() surfaced as a column.
    */
  val qFileLineage = Q(
    "q_file_lineage",
    (s, d) =>
      Tables
        // bare scan, never spread: input_file_name() is scan-local and
        // would return '' past the spread exchange
        .table(s, d, "lineitem")
        .select(
          regexp_extract(input_file_name(), "([a-z_]+)\\.parquet", 1)
            .as("table_name")
        )
        .groupBy("table_name")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("table_name"),
    Some("SELECT 'lineitem' AS table_name, count(*) AS cnt FROM lineitem")
  )

  /** B10 — recursive tree traversal (WITH RECURSIVE analog). Spark has no
    * recursive CTE, so this is the iterative frontier-join loop from
    * SURVEY §7.4 risk #1: BFS from the root with `localCheckpoint` per
    * iteration to cut lineage (at 100 TB the frontier join is a broadcast
    * of the frontier, and checkpointing bounds plan growth).
    *
    * Tree: node = c_custkey, parent = floor(c_custkey / 2) — the root
    * (custkey 0) is its own parent, reproducing the reference fixture's
    * root self-loop 290→290 (read_unittest_pst.test:22) that makes naive
    * traversal loop forever.
    */
  val qRecursiveTree = Q(
    "q_recursive_tree",
    (s, d) => {
      val tree = Tables
        .customer(s, d)
        .select(
          col("c_custkey").cast("long").as("node"),
          floor(col("c_custkey") / 2.0).cast("long").as("parent")
        )
        .localCheckpoint()
      var result = tree
        .filter(col("node") === 0L)
        .select(col("node"), lit(0).as("depth"))
      var frontier = result
      var done = false
      while (!done) {
        val next = tree
          .as("t")
          .join(
            broadcast(frontier.select(col("node").as("fnode"), col("depth"))),
            col("t.parent") === col("fnode")
          )
          .filter(col("t.node") =!= col("t.parent")) // break the root self-loop
          .select(col("t.node").as("node"), (col("depth") + 1).as("depth"))
          .localCheckpoint()
        if (next.isEmpty) done = true
        else {
          result = result.union(next)
          frontier = next
        }
      }
      result.orderBy("node")
    },
    Some(
      """WITH RECURSIVE tree AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS node,
        |         CAST(FLOOR(c_custkey / 2.0) AS BIGINT) AS parent
        |  FROM customer
        |), walk AS (
        |  SELECT node, 0 AS depth FROM tree WHERE node = 0
        |  UNION ALL
        |  SELECT t.node, w.depth + 1 FROM tree t
        |  JOIN walk w ON t.parent = w.node
        |  WHERE t.node <> t.parent
        |)
        |SELECT node, depth FROM walk ORDER BY node""".stripMargin
    )
  )

  val all: Seq[Q] = Seq(
    qScanProject,
    qCountStar,
    qCountDistinct,
    qDistinct,
    qGroupbyAgg,
    qOrderby,
    qTopk,
    qFilterPredicates,
    qJoinDims,
    qUnionDedup,
    qExplodeCollect,
    qStructNav,
    qElementAt,
    qStringFuncs,
    qCaseWhen,
    qSubqueryLimitAgg,
    qFileLineage,
    qRecursiveTree
  )
}
