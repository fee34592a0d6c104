package graft

import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** B20 — plan-shape assertions (the Spark analog of the reference's
  * EXPLAIN regex tests, query_optimizations.test:14-53) plus a smoke
  * run of every registered query at sf0.001.
  */
class QueryPlanSpec extends AnyFunSuite with SessionSuite {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("q_scan_project pushes the projection into the parquet scan") {
    val p = plan("q_scan_project")
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_comment") && !p.contains("l_returnflag"),
      "unprojected columns leaked into the scan")
  }

  test("q_filter_predicates pushes filters to the parquet reader") {
    val p = plan("q_filter_predicates")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("IsNotNull") || p.contains("EqualTo"), p)
  }

  test("q_topk plans TakeOrderedAndProject (no global sort)") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_join_dims broadcasts the dimension tables") {
    val p = plan("q_join_dims")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "fact table should not shuffle")
  }

  test("q_groupby_agg uses partial (map-side) aggregation") {
    val p = plan("q_groupby_agg")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial"), "expected a partial aggregate before the exchange")
  }

  test("q_count_star answers from parquet statistics (no full scan)") {
    val p = plan("q_count_star")
    // Spark's parquet count(*) path reads footer metadata only
    assert(p.contains("HashAggregate") || p.contains("LocalTableScan"), p)
    assert(!p.contains("l_quantity"), "count(*) should not read data columns")
  }

  test("registry has no duplicate query names") {
    val dups = SparkEntry.registry.groupBy(_.name).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate names: ${dups.mkString(", ")}")
    assert(SparkEntry.queries.size === SparkEntry.registry.size)
  }

  test("every registered query executes at sf0.001") {
    val failures = SparkEntry.registry.flatMap { q =>
      try { q.fn(spark, sf).collect(); None }
      catch { case e: Throwable => Some(s"${q.name}: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("entry() returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q_decontaminate broadcasts the benchmark gram set") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_count"),
      "per-doc collision counts must partial-aggregate before the exchange")
  }

  test("q_dedup_incremental probes the bloom sketch before any join") {
    val p = plan("q_dedup_incremental")
    assert(p.contains("might_contain"), p)
  }

  test("q_bm25 broadcasts term stats and partial-aggregates tf") {
    val p = plan("q_bm25")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "the tf stream must not shuffle for the idf join")
    assert(p.contains("partial_count"), "tf counts must partial-aggregate")
  }

  test("q_repetition is map-only: one scan, no gram aggregation at all") {
    val p = plan("q_repetition")
    assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") == 1,
      s"expected one corpus scan:\n$p")
    // the fused gram_run_stats kernel computes every signal in place —
    // no gram ever reaches an aggregate or a shuffle; the only
    // exchange is the output ORDER BY's range partitioning
    assert(p.toLowerCase.contains("gramrunstats"),
      s"expected the fused kernel in the plan:\n$p")
    assert(!p.contains("HashAggregate"),
      s"map-only shape must not aggregate grams:\n$p")
  }

  test("q_ann_sq8 and q_ann_pq rank candidates with pre-shuffle group limits") {
    for (n <- Seq("q_ann_sq8", "q_ann_pq")) {
      val p = plan(n)
      assert(p.contains("WindowGroupLimit"), s"$n: $p")
      assert(p.contains("Partial"), s"$n: top-k must drop rows before the exchange")
      assert(p.contains("BroadcastHashJoin"), s"$n: rerank joins must broadcast")
    }
  }

  test("q_profile computes all column stats in one scan") {
    val p = plan("q_profile")
    assert(p.sliding("Scan parquet".length).count(_ == "Scan parquet") == 1,
      s"expected one orders scan:\n$p")
  }

  test("q_gap_fill joins the generated spine without shuffling the daily aggregate") {
    val p = plan("q_gap_fill")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"spine join should broadcast:\n$p")
  }

  test("q_importance_sample is a map-only filter over the scan") {
    val p = plan("q_importance_sample")
    assert(!p.contains("Exchange hashpartitioning"),
      s"no shuffle expected before the output sort:\n$p")
  }

  test("q_sql_waiting_orders plans EXISTS as a semi join with pushed dates") {
    val p = plan("q_sql_waiting_orders")
    assert(p.contains("LeftSemi"), s"EXISTS should become a semi join:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"order-date range should reach the scan:\n$p")
  }

  test("q_sql_parts_suppliers plans NOT IN as an anti join on the filtered build side") {
    val p = plan("q_sql_parts_suppliers")
    assert(p.contains("LeftAnti"), s"NOT IN should become an anti join:\n$p")
    assert(p.contains("LessThan(s_acctbal,0.0)"),
      s"the exclusion filter should reach the supplier scan:\n$p")
  }

  test("q_sql_cust_distribution keeps zero-order customers via left outer join") {
    val p = plan("q_sql_cust_distribution")
    assert(p.contains("LeftOuter"), s"expected a left outer join:\n$p")
    assert(p.contains("Not(EqualTo(o_orderpriority,1-URGENT))"),
      s"the join-side order filter should reach the orders scan:\n$p")
  }

  test("q_sql_disjunctive pushes the OR-of-brands envelope to the part scan") {
    val p = plan("q_sql_disjunctive")
    assert(p.contains("Or(") && p.contains("p_brand"),
      s"disjunctive predicate should be pushed:\n$p")
  }

  test("q_lm_quality broadcasts the vocabulary to the token stream") {
    val p = plan("q_lm_quality")
    assert(p.contains("BroadcastHashJoin"),
      s"token->logprob join should broadcast the vocab:\n$p")
  }

  test("q_pack_sequences windows per source shard (no global single partition)") {
    // at sf0.001 the final ORDER BY's input fits one advisory partition,
    // so SinglePartitionExchanges plans it as SinglePartition or drops it;
    // an advisory size below the input reproduces the at-scale plan
    val p = withConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES.key, "1024") {
      plan("q_pack_sequences")
    }
    assert(p.contains("hashpartitioning(source"),
      s"the running offset must partition by the shard key:\n$p")
    assert(!p.contains("SinglePartition"),
      s"no global single-partition window allowed:\n$p")
  }

  test("q_chunk_windows explodes map-side (no shuffle before the output sort)") {
    val p = plan("q_chunk_windows")
    assert(!p.contains("Exchange hashpartitioning"),
      s"windows of a document must not leave its partition:\n$p")
  }

  test("q_entropy broadcasts per-source totals to the count stream") {
    val p = plan("q_entropy")
    assert(p.contains("BroadcastHashJoin"),
      s"totals join should broadcast:\n$p")
  }

  /** `body` with the sf0.001 fixture files split into 16 KiB partitions,
    * as inputs are split at scale: over a single partition
    * [[graft.plans.SinglePartitionExchanges]] drops the exchanges a
    * plan-shape test looks for.
    */
  private def atScaleSplits[T](body: => T): T =
    withConf(SQLConf.FILES_MAX_PARTITION_BYTES.key, "16384")(body)

  test("q_attribution is one shuffle by user then a map-side window") {
    val p = atScaleSplits(plan("q_attribution"))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles == 1,
      s"expected exactly one user_id shuffle, got $shuffles:\n$p")
    assert(p.contains("hashpartitioning(user_id"), p)
  }

  test("q_substr_regions shuffles gram digests once for the dup window") {
    val p = atScaleSplits(plan("q_substr_regions"))
    assert(p.contains("hashpartitioning(g#") || p.contains("hashpartitioning(g,"),
      s"expected the single window shuffle by gram digest:\n$p")
  }

  /** Output column names of every shuffle exchange's child — the
    * payload that actually travels. Exchanges are inserted by the
    * executedPlan preparations, and AQE wraps the tree in an
    * untraversable AdaptiveSparkPlanExec, so plan with AQE off just
    * for the inspection.
    */
  private def shufflePayloads(name: String): Seq[Seq[String]] = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan
      .collect { case e: ShuffleExchangeExec => e.child.output.map(_.name).toSeq }
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  /** (partitioning keys, payload columns) per shuffle — for asserting
    * WHAT a payload is keyed on, not just what rides it.
    */
  private def shuffleKeyed(name: String): Seq[(Seq[String], Seq[String])] = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan
      .collect { case e: ShuffleExchangeExec =>
        val keys = e.outputPartitioning match {
          case h: HashPartitioning => h.expressions.map(_.sql).toSeq
          case p => Seq(p.getClass.getSimpleName)
        }
        (keys, e.child.output.map(_.name).toSeq)
      }
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q_semdedup_incr pushes the batch filter to the scan and " +
    "shuffles embedding codes keyed on cluster id only") {
    val p = plan("q_semdedup_incr")
    assert(p.contains("GreaterThan(vec_id"),
      "the batch boundary must reach the parquet scan as a pushed filter")
    val keyed = shuffleKeyed("q_semdedup_incr")
    val carryingCodes = keyed.filter(_._2.contains("qv"))
    assert(carryingCodes.nonEmpty,
      "expected the in-cluster pair join to shuffle quantized codes")
    carryingCodes.foreach { case (keys, cols) =>
      assert(keys.exists(_.contains("cid")),
        s"embedding codes shuffled on ${keys.mkString(",")} " +
          s"(payload ${cols.mkString(",")}) — only the cid equi-join " +
          "may move codes")
    }
  }

  test("q_source_overlap shuffles token vocabulary only, never document text") {
    val payloads = shufflePayloads("q_source_overlap")
    assert(payloads.nonEmpty, "expected vocab shuffles")
    payloads.foreach { cols =>
      assert(!cols.contains("text"),
        s"document text leaked into a shuffle: ${cols.mkString(", ")}")
    }
  }

  test("q_span_dedup shuffles (span, key) pairs only, never document text") {
    val payloads = shufflePayloads("q_span_dedup")
    assert(payloads.nonEmpty, "expected span shuffles")
    payloads.foreach { cols =>
      assert(!cols.contains("text"),
        s"document text leaked into a shuffle: ${cols.mkString(", ")}")
    }
  }

  test("q_bigram_lm broadcasts the model and never shuffles document text") {
    val p = plan("q_bigram_lm")
    assert(p.contains("BroadcastHashJoin"),
      "bigram model should broadcast to the token stream")
    val payloads = shufflePayloads("q_bigram_lm")
    payloads.foreach { cols =>
      assert(!cols.contains("text"),
        s"document text leaked into a shuffle: ${cols.mkString(", ")}")
    }
  }

  test("q_bpe_encode joins the form-gated per-word counts back to the " +
    "token stream; document text never shuffles") {
    // training and the per-word merge application run their own
    // (vocabulary-sized) jobs while the plan is built and land in a
    // pinned memo; the RETURNED plan — the corpus-wide pass — is
    // tokenize → size-gated word join (broadcast at toy model size) →
    // doc-keyed partial rollup → output sort
    val p = plan("q_bpe_encode")
    assert(p.contains("BroadcastHashJoin"),
      "toy per-word counts should ride the gate's broadcast arm")
    val payloads = shufflePayloads("q_bpe_encode")
    payloads.foreach { cols =>
      assert(!cols.contains("text"),
        s"document text leaked into a shuffle: ${cols.mkString(", ")}")
    }
  }

  test("q_classifier_score broadcasts weights; only (doc, bucket) shuffles") {
    val p = plan("q_classifier_score")
    assert(p.contains("BroadcastHashJoin"),
      "the O(D) weight table should broadcast")
    val payloads = shufflePayloads("q_classifier_score")
    payloads.foreach { cols =>
      assert(!cols.contains("text") && !cols.contains("token"),
        s"corpus text/tokens leaked into a shuffle: ${cols.mkString(", ")}")
    }
  }

  test("q_scd2_history shuffles event rows by user exactly once") {
    // both windows (lag over run detection, lead over interval close)
    // partition by user_id: the second must reuse the first's
    // partitioning — re-shuffling between windows would double the
    // movement of every event row at 100 TB
    val payloads = shufflePayloads("q_scd2_history")
    // raw event rows (carrying event_type) move once; the only other
    // exchange is the final global-sort range partitioning of the
    // finished intervals (carrying is_current) — the output contract
    val eventShuffles = payloads.filter(_.contains("event_type"))
    assert(eventShuffles.size === 1,
      s"expected one raw-event shuffle, got: $payloads")
    assert(payloads.size === 2,
      s"expected event shuffle + final sort only, got: $payloads")
  }

  test("q_ngram_jaccard scores only LSH candidate pairs (no all-pairs gram join)") {
    val p = plan("q_ngram_jaccard")
    // the intersection join must be keyed by (candidate pair, gram) —
    // a bare gram-only self-join would score all pairs sharing a gram
    val joinLines = p.linesIterator.filter(_.contains("Join")).toSeq
    assert(joinLines.exists(l => l.contains("id_b") && l.contains("gram")),
      s"expected the pair-scoped intersection join keyed by (id_b, gram):\n$p")
    // document text never shuffles: grams/pairs only
    shufflePayloads("q_ngram_jaccard").foreach { cols =>
      assert(!cols.contains("text"),
        s"document text leaked into a shuffle: ${cols.mkString(", ")}")
    }
  }

  test("q_containment dominates jaccard on every candidate pair") {
    val j = SparkEntry.queries("q_ngram_jaccard")(spark, sf).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("jaccard")).toMap
    val rows = SparkEntry.queries("q_containment")(spark, sf).collect()
    assert(rows.length == j.size, "same candidate set as the jaccard scorer")
    rows.foreach { r =>
      val ca = r.getAs[Double]("c_a"); val cb = r.getAs[Double]("c_b")
      val c = r.getAs[Double]("containment")
      assert(ca >= 0.0 && ca <= 1.0 && cb >= 0.0 && cb <= 1.0, r.toString)
      assert(c == math.max(ca, cb), r.toString)
      // |A∩B|/min ≥ |A∩B|/|A∪B|: containment can only exceed jaccard
      assert(c >= j((r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))) - 1e-12)
    }
  }

  test("q_semdedup bounds candidate pairs by cluster (cid-keyed pair join)") {
    val p = plan("q_semdedup")
    // the pair join must be an equi-join on the cluster id — a pair
    // join not keyed by cid would score the quadratic all-pairs set
    // SemDeDup exists to avoid
    val joinLines = p.linesIterator.filter(_.contains("Join")).toSeq
    assert(joinLines.exists(l => l.contains("cid")),
      s"expected the cluster-bounded pair join keyed by cid:\n$p")
    // the raw float embedding never shuffles — only quantized codes
    // and (vec_id, cid) assignments travel
    shufflePayloads("q_semdedup").foreach { cols =>
      assert(!cols.contains("embedding"),
        s"raw embeddings leaked into a shuffle: ${cols.mkString(", ")}")
    }
  }

  test("q_rfm quartiles use only PARTITIONED windows (no global ntile sort)") {
    // the physical plan hides behind AdaptiveSparkPlanExec pre-execution,
    // so assert on the optimized logical plan
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("q_rfm")(spark, sf)
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "expected the globalNtile partitioned windows")
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        "a single-partition Window survived in q_rfm — at scale one task " +
          "would sort every user")
    }
  }

  test("q_vocab_coverage bounds its global window with a top-k limit") {
    val p = plan("q_vocab_coverage")
    // the vocabulary is never globally sorted: orderBy+limit plans
    // TakeOrderedAndProject (per-partition top-50, one 50-row merge),
    // and only that 50-row frame enters the rank/cumsum window
    assert(p.contains("TakeOrderedAndProject"),
      s"expected a top-k limit under the window:\n${p.take(2000)}")
  }

  test("q_hard_negatives broadcasts queries; vectors never shuffle") {
    val p = plan("q_hard_negatives")
    // the label-mismatch predicate makes this a broadcast nested-loop
    // over the (tiny) query set — the corpus scans once, no shuffle join
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "corpus should never shuffle for the query join")
    shufflePayloads("q_hard_negatives").foreach { cols =>
      assert(!cols.exists(c => c.contains("qv") || c.contains("embedding")),
        s"raw vectors leaked into a shuffle: ${cols.mkString(", ")}")
    }
  }

  test("q_rrf_fusion broadcasts term stats into the posting join") {
    val p = plan("q_rrf_fusion")
    // idf/avgdl stats join the (doc, term) postings broadcast — the
    // posting stream never shuffles to meet a 3-row stats table
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q_boilerplate shuffles span digests only, never document text") {
    val payloads = shufflePayloads("q_boilerplate")
    assert(payloads.nonEmpty, "expected span-rollup shuffles")
    payloads.foreach { cols =>
      assert(!cols.contains("text") && !cols.contains("t"),
        s"document text leaked into a shuffle: ${cols.mkString(", ")}")
    }
  }

  test("q_pack_efficiency partial-aggregates the shard rollup") {
    val p = plan("q_pack_efficiency")
    assert(p.contains("partial"),
      "expected a map-side partial aggregate before the exchange")
    shufflePayloads("q_pack_efficiency").foreach { cols =>
      assert(!cols.contains("text"),
        s"document text leaked into a shuffle: ${cols.mkString(", ")}")
    }
  }

  test("q_weighted_reservoir pushes the per-source top-k below the shuffle") {
    val p = plan("q_weighted_reservoir")
    // rank<=5 must plan a Partial WindowGroupLimit before the exchange —
    // the shuffle then carries at most 5 rows per source per partition
    assert(p.contains("WindowGroupLimit") && p.contains("Partial"),
      s"expected a partial group limit:\n${p.take(2000)}")
    shufflePayloads("q_weighted_reservoir").foreach { cols =>
      assert(!cols.contains("text"),
        s"document text leaked into a shuffle: ${cols.mkString(", ")}")
    }
  }

  test("q_random_projection is map-only (no join, no pre-sort shuffle)") {
    val p = plan("q_random_projection")
    // the sign matrix is a plan literal: projection must not plan any
    // join, and the only exchange is the output sort
    assert(!p.contains("Join"), s"unexpected join:\n${p.take(2000)}")
    val payloads = shufflePayloads("q_random_projection")
    assert(payloads.size <= 1, s"expected only the sort exchange: $payloads")
    payloads.foreach { cols =>
      assert(!cols.exists(c => c.contains("embedding") || c.contains("qv")),
        s"raw vectors leaked into a shuffle: ${cols.mkString(", ")}")
    }
  }

  test("q_mmr_rerank broadcasts queries for candidate generation") {
    // the query itself localCheckpoints the candidate set (the greedy
    // rounds would otherwise re-run candidate generation), so assert
    // on the exposed pre-checkpoint candidate stage
    val p = ops.Similarity.mmrCandidates(spark, sf)
      .queryExecution.executedPlan.toString
    // the corpus never shuffles to meet the query set; the greedy
    // rounds operate on <= 8 rows/query downstream
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("WindowGroupLimit"),
      "expected group-limited candidate ranking")
  }

  test("q_dialog_flatten and q_fim_split are map-only transforms") {
    for (name <- Seq("q_dialog_flatten", "q_fim_split")) {
      val p = plan(name)
      assert(!p.contains("Join"), s"$name planned a join:\n${p.take(1500)}")
      val payloads = shufflePayloads(name)
      assert(payloads.size <= 1,
        s"$name: expected only the output-sort exchange: $payloads")
    }
  }

  test("q_token_budget windows reuse the source partitioning, text stays put") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("q_token_budget")(spark, sf)
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      "expected only source-partitioned running-sum windows")
    shufflePayloads("q_token_budget").foreach { cols =>
      assert(!cols.contains("text"),
        s"document text leaked into a shuffle: ${cols.mkString(", ")}")
    }
  }

  test("q_topic_clusters partitions the corpus; text never shuffles") {
    shufflePayloads("q_topic_clusters").foreach { cols =>
      assert(!cols.contains("text") && !cols.contains("tok"),
        s"text/tokens leaked into a shuffle: ${cols.mkString(", ")}")
    }
    val rows = SparkEntry.queries("q_topic_clusters")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("cid")).toSeq == Seq(0L, 1L, 2L, 3L))
    val n = Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == n,
      "every document must land in exactly one cluster")
    rows.foreach { r =>
      val td = r.getAs[Long]("top_dim")
      assert(td >= 0L && td < 16L && r.getAs[Long]("top_weight") >= 0L)
    }
  }

  test("q_salted_join shuffles on (key, salt) — the skew split is in the plan") {
    // at test scale the replicated build side broadcasts (also fine);
    // force the at-scale shuffle-join shape to assert the salt split
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val exec = SparkEntry.queries("q_salted_join")(spark, sf)
        .queryExecution.executedPlan
      val shuffleKeys = exec.collect { case e: ShuffleExchangeExec =>
        e.outputPartitioning.toString }
      assert(shuffleKeys.exists(_.contains("__salt")),
        s"expected __salt among the join shuffle keys: $shuffleKeys")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("q_prf_expansion broadcasts the feedback set; text never shuffles") {
    val p = plan("q_prf_expansion")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    shufflePayloads("q_prf_expansion").foreach { cols =>
      assert(!cols.contains("text"),
        s"corpus text leaked into a shuffle: ${cols.mkString(", ")}")
    }
    val rows = SparkEntry.queries("q_prf_expansion")(spark, sf).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val t = r.getAs[String]("term")
      assert(t.length >= 4 && !Seq("spark", "join", "window").contains(t))
      assert(r.getAs[Long]("df") >= 1L && r.getAs[Long]("tf_top") >= 1L)
    }
  }

  test("q_media_audio_windows gates map-side; payload text never shuffles") {
    shufflePayloads("q_media_audio_windows").foreach { cols =>
      assert(!cols.contains("text"),
        s"audio payload leaked into a shuffle: ${cols.mkString(", ")}")
    }
    val rows = SparkEntry.queries("q_media_audio_windows")(spark, sf).collect()
    assert(rows.nonEmpty)
    val lens = Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.expr("doc_id % 3 = 1"))
      .selectExpr("doc_id", "length(text) AS len").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("len")).toMap
    assert(rows.length == lens.size, "one rollup row per audio asset")
    rows.foreach { r =>
      val nw = r.getAs[Long]("n_windows"); val nv = r.getAs[Long]("n_voiced")
      val len = lens(r.getAs[Long]("doc_id"))
      val expect = if (len >= 400) 1L + (len - 400L) / 160L else 1L
      assert(nw == expect, s"window count for len=$len: $nw vs $expect")
      assert(nv >= 0L && nv <= nw, r.toString)
    }
  }

  test("q_dp_contribution bounds sensitivity without moving payloads") {
    shufflePayloads("q_dp_contribution").foreach { cols =>
      assert(!cols.contains("props") && !cols.contains("value"),
        s"event payload leaked into a shuffle: ${cols.mkString(", ")}")
    }
    SparkEntry.queries("q_dp_contribution")(spark, sf).collect().foreach { r =>
      val raw = r.getAs[Long]("raw_count"); val b = r.getAs[Long]("bounded_count")
      val nu = r.getAs[Long]("n_users"); val cu = r.getAs[Long]("clipped_users")
      // bounded ≤ raw, bounded ≤ C·users (the sensitivity bound DP needs),
      // and clipping accounting is consistent
      assert(b <= raw && b <= 10L * nu && cu <= nu, r.toString)
      assert((cu == 0L) == (raw == b) || raw > b, r.toString)
      assert(r.getAs[Long]("max_contribution") >= raw / math.max(nu, 1L))
    }
  }

  test("q_ivf_drift never shuffles raw embeddings and is share-consistent") {
    shufflePayloads("q_ivf_drift").foreach { cols =>
      assert(!cols.contains("embedding"),
        s"raw embeddings leaked into a shuffle: ${cols.mkString(", ")}")
    }
    val rows = SparkEntry.queries("q_ivf_drift")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 8, s"k=8 lists, got ${rows.length}")
    val shareBase = rows.map(_.getAs[Long]("share_base_ppm")).sum
    val shareNew = rows.map(_.getAs[Long]("share_new_ppm")).sum
    // floor-div shares must sum to ≤ 1e6 and within k of it
    assert(shareBase <= 1000000L && shareBase > 1000000L - 8, shareBase.toString)
    assert(shareNew <= 1000000L && shareNew > 1000000L - 8, shareNew.toString)
    rows.foreach { r =>
      assert(r.getAs[Long]("drift_ppm") ==
        math.abs(r.getAs[Long]("share_new_ppm") - r.getAs[Long]("share_base_ppm")))
    }
  }

  test("q_ivf_layout_probe prunes index partitions dynamically") {
    // the probed-list join must drive dynamic partition pruning on the
    // cid directory layout — the scan reads only probed lists' files
    val p = plan("q_ivf_layout_probe")
    assert(p.contains("dynamicpruning"),
      s"expected DPP on the cid partition column:\n${p.take(2000)}")
  }

  test("q_shard_balance ranks with the partitioned two-pass form") {
    // globalRank0's window must be partitioned by the range-partition id
    // (broadcast offsets supply global positions) — a bare global
    // row_number() would sort every document in one task at scale
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("q_shard_balance")(spark, sf)
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "expected the partitioned rank window")
    wins.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        "a single-partition Window survived in q_shard_balance")
    }
    shufflePayloads("q_shard_balance").foreach { cols =>
      assert(!cols.contains("text"),
        s"document text leaked into a shuffle: ${cols.mkString(", ")}")
    }
  }

  test("q_bbit_minhash: 2-bit agreement dominates full-width agreement") {
    val rows = SparkEntry.queries("q_bbit_minhash")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val full = r.getAs[Int]("n_agree_full")
      val b = r.getAs[Int]("n_agree_b")
      // equal 32-bit slices always have equal low bits, so b-bit
      // agreement can only ADD accidental collisions, never lose one
      assert(b >= full, r.toString)
      assert(b <= 8 && full >= 0, r.toString)
      // the correction maps baseline agreement (A = 1/4) to Ĵ = 0
      val estB = r.getAs[Double]("est_b")
      assert(estB == (b / 8.0 - 0.25) / 0.75, r.toString)
    }
  }

  test("q_lsh_recall: truth tiers are monotone and text never shuffles") {
    val rows = SparkEntry.queries("q_lsh_recall")(spark, sf).collect()
    assert(rows.length == 4, "one row per audit threshold")
    val byTh = rows.sortBy(_.getAs[Double]("th"))
    val truths = byTh.map(_.getAs[Long]("n_truth"))
    // raising the Jaccard threshold can only shrink the truth set
    assert(truths.zip(truths.tail).forall { case (a, b) => a >= b },
      truths.mkString(","))
    byTh.foreach { r =>
      assert(r.getAs[Long]("n_caught") <= r.getAs[Long]("n_truth"),
        r.toString)
    }
    // the candidate count is threshold-independent (one audit block)
    assert(byTh.map(_.getAs[Long]("n_cand")).distinct.length == 1)
    shufflePayloads("q_lsh_recall").foreach { cols =>
      assert(!cols.contains("text"),
        s"document text leaked into a shuffle: ${cols.mkString(", ")}")
    }
  }

  test("q_record_linkage pairs only within blocks (equi-join on the key)") {
    val p = plan("q_record_linkage")
    // the candidate join must be keyed by the blocking attributes — a
    // theta-only join (p_partkey <) would enumerate all part pairs
    assert(p.contains("p_brand") && p.contains("p_type"), p)
    val joins = p.linesIterator.filter(_.contains("Join")).toSeq
    assert(joins.exists(l => l.contains("p_brand") && l.contains("p_type")),
      s"expected the blocking equi-join on (p_brand, p_type):\n$joins")
    val rows = SparkEntry.queries("q_record_linkage")(spark, sf).collect()
    rows.foreach { r =>
      val dist = r.getAs[Int]("dist")
      assert(dist >= 0 && dist <= 2, r.toString)
      assert(r.getAs[Long]("sim_ppm") <= 1000000L, r.toString)
    }
  }

  test("q_epoch_shuffle: every doc once per epoch, permutations differ") {
    val rows = SparkEntry.queries("q_epoch_shuffle")(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    val byEpoch = rows.groupBy(_.getAs[Int]("epoch"))
    assert(byEpoch.keySet == Set(0, 1, 2))
    byEpoch.values.foreach { es =>
      assert(es.map(_.getAs[Long]("doc_id")).distinct.length == nDocs,
        "an epoch must contain every document exactly once")
      // positions are dense per shard starting at 1
      es.groupBy(_.getAs[Int]("shard")).values.foreach { sh =>
        val ps = sh.map(_.getAs[Int]("pos")).sorted
        assert(ps.toSeq == (1 to sh.length).toSeq, "dense shard order")
      }
    }
    // epoch-seeded hashing must yield different read orders per epoch
    def order(e: Int) = byEpoch(e)
      .sortBy(r => (r.getAs[Int]("shard"), r.getAs[Int]("pos")))
      .map(_.getAs[Long]("doc_id")).toSeq
    assert(order(0) != order(1) && order(1) != order(2))
    // the position window is partitioned — never a single global sort
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val wins = SparkEntry.queries("q_epoch_shuffle")(spark, sf)
      .queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      "epoch order must be computed per (epoch, shard), not globally")
  }

  test("q_cdc_chunks: chunks partition the text exactly, text never shuffles") {
    val rows = SparkEntry.queries("q_cdc_chunks")(spark, sf).collect()
    val charsBySource = Tables.documents(spark, sf)
      .groupBy("source")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text"))).as("n"))
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("n"))
      .toMap
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      // CDC boundaries split text without loss: chunk bytes == text bytes
      assert(r.getAs[Long]("bytes_total") == charsBySource(src),
        s"chunks must partition the text exactly: $r")
      assert(r.getAs[Long]("bytes_dup") <= r.getAs[Long]("bytes_total"))
      assert(r.getAs[Long]("n_dup") <= r.getAs[Long]("n_chunks"))
    }
    shufflePayloads("q_cdc_chunks").foreach { cols =>
      assert(!cols.contains("text"),
        s"document text leaked into a shuffle: ${cols.mkString(", ")}")
    }
  }

  test("q_calibration: bins cover the margin range, fractions bounded") {
    val rows = SparkEntry.queries("q_calibration")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 10)
    rows.foreach { r =>
      val bin = r.getAs[Int]("bin")
      assert(bin >= 0 && bin <= 9, r.toString)
      assert(r.getAs[Long]("pos_ppm") <= 1000000L, r.toString)
      assert(r.getAs[Long]("n_pos") <= r.getAs[Long]("n_docs"), r.toString)
    }
    // mean margins are strictly increasing across bins (equal-width
    // bins over the margin axis)
    val means = rows.sortBy(_.getAs[Int]("bin")).map(_.getAs[Long]("mean_margin"))
    assert(means.zip(means.tail).forall { case (a, b) => a < b },
      means.mkString(","))
  }

  test("q_embedding_coherence: own-label cosine is positive and bounded") {
    val rows = SparkEntry.queries("q_embedding_coherence")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (mn, mean, mx) = (r.getAs[Long]("min_cos_ppm"),
        r.getAs[Long]("mean_cos_ppm"), r.getAs[Long]("max_cos_ppm"))
      assert(mn <= mean && mean <= mx, r.toString)
      assert(mx <= 1000001L, s"cosine cannot exceed 1: $r")
      // labeled clusters must cohere: members lean toward their own
      // centroid on average
      assert(mean > 0, s"collapsed or mislabeled cluster: $r")
    }
  }

  test("q_ccnet_buckets: terciles ordered head>=middle>=tail per source") {
    val rows = SparkEntry.queries("q_ccnet_buckets")(spark, sf).collect()
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val byB = rs.sortBy(_.getAs[Int]("bucket"))
      assert(byB.map(_.getAs[Int]("bucket")).toSeq == Seq(1, 2, 3),
        s"$src must have exactly the three CCNet buckets")
      val means = byB.map(_.getAs[Long]("mean_lp_micro"))
      assert(means.zip(means.tail).forall { case (a, b) => a >= b },
        s"$src: head must be most LM-like: ${means.mkString(",")}")
      // ntile deals sizes within 1 of each other
      val sizes = byB.map(_.getAs[Long]("n_docs"))
      assert(sizes.max - sizes.min <= 1, s"$src: ${sizes.mkString(",")}")
    }
  }

  test("q_setsim_join: prefix filtering is lossless vs brute force") {
    import org.apache.spark.sql.functions.{col, collect_set, lower => _}
    val rows = SparkEntry.queries("q_setsim_join")(spark, sf).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("jaccard")).toMap
    // brute force over every pair via collected shingle sets — the
    // shingling mirrors shinglesOfTokens exactly (raw split tokens,
    // out-of-range positions skipped like concat_ws skips NULLs)
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val toks = r.getAs[String]("text").split("\\s+")
        val n = toks.length
        val sh = (1 to math.max(n - 2, 1)).map { i =>
          Seq(i - 1, i, i + 1).filter(k => k >= 0 && k < n)
            .map(toks).mkString(" ")
        }.toSet
        r.getAs[Long]("doc_id") -> sh
      }.sortBy(_._1)
    val expected = (for {
      i <- docs.indices; j <- (i + 1) until docs.length
      (ida, sa) = docs(i); (idb, sb) = docs(j)
      inter = (sa & sb).size
      uni = sa.size + sb.size - inter
      if uni > 0 && inter.toDouble / uni >= 0.5
    } yield (ida, idb)).toSet
    assert(rows.keySet == expected,
      s"missed: ${(expected -- rows.keySet).take(5)}; " +
        s"extra: ${(rows.keySet -- expected).take(5)}")
    // the PPJoin positional+length filters must prune candidates the
    // bare prefix join admits WITHOUT losing a single true pair
    // (completeness is the assertion above); measured so the scaladoc
    // reduction numbers stay real
    val bare = graft.ops.Dedup
      .setsimCandidates(spark, sf, withPpjoinFilters = false)._3.count()
    val filtered = graft.ops.Dedup.setsimCandidates(spark, sf)._3.count()
    info(s"setsim candidates: bare prefix $bare -> ppjoin-filtered $filtered")
    assert(filtered < bare,
      s"positional/length filters pruned nothing ($bare -> $filtered)")
    assert(filtered >= expected.size.toLong)
  }

  test("q_split_leakage: content-hash split makes exact leakage impossible") {
    val r = SparkEntry.queries("q_split_leakage")(spark, sf).collect().head
    // identical text hashes to the same side — the audit must PROVE 0
    assert(r.getAs[Long]("exact_leak_docs") == 0L, r.toString)
    val nVal = r.getAs[Long]("n_val")
    val leaked = r.getAs[Long]("leaked_val_docs")
    assert(leaked <= nVal && leaked <= r.getAs[Long]("neardup_leak_pairs"),
      r.toString)
    assert(r.getAs[Long]("n_train") + nVal ==
      Tables.documents(spark, sf).count(), r.toString)
  }

  test("q_rank_correlation: rho bounded, d-squared sum has even parity") {
    val rows = SparkEntry.queries("q_rank_correlation")(spark, sf).collect()
    assert(rows.length == 3, "one row per query term")
    rows.foreach { r =>
      val rho = r.getAs[Double]("spearman")
      assert(rho >= -1.0 && rho <= 1.0, r.toString)
      // both rankings are permutations of the same set, so Σd is 0 and
      // Σd² ≡ Σd (mod 2) — an exact structural invariant
      assert(r.getAs[Long]("sum_d2") % 2 == 0, r.toString)
    }
  }

  test("q_dataset_diff: change accounting conserves the snapshot sizes") {
    import org.apache.spark.sql.functions.{col, md5, concat, lit, substring}
    val rows = SparkEntry.queries("q_dataset_diff")(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
    val curBySource = docs.groupBy("source").count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    val goneBySource = docs
      .filter(substring(md5(concat(lit("del:"),
        col("doc_id").cast("string"))), 1, 1) === "0")
      .groupBy("source").count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      // every current doc is added, changed, or unchanged
      assert(r.getAs[Long]("n_added") + r.getAs[Long]("n_changed") +
        r.getAs[Long]("n_unchanged") == curBySource(src), r.toString)
      // removed rows are exactly the tombstones
      assert(r.getAs[Long]("n_removed") == goneBySource.getOrElse(src, 0L),
        r.toString)
    }
  }

  test("q_stream_late: the gate drops a prefix and spares the fresh batch") {
    val rows = SparkEntry.queries("q_stream_late")(spark, sf).collect()
      .sortBy(_.getAs[java.time.LocalDateTime]("day").toString)
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_stream") + r.getAs[Long]("n_dropped") ==
        r.getAs[Long]("n_batch"), r.toString)
    }
    // lateness is monotone in event time: dropped days form a prefix
    val droppedFlags = rows.map(_.getAs[Long]("n_dropped") > 0)
    assert(!droppedFlags.dropWhile(identity).exists(identity),
      s"dropped days must be a prefix: ${droppedFlags.mkString(",")}")
    // the fresh (batch-1) days — the last 4 — are never gated
    assert(rows.takeRight(4).forall(_.getAs[Long]("n_dropped") == 0L))
    // and the gate actually dropped something on this replay
    assert(rows.head.getAs[Long]("n_dropped") > 0L)
  }

  test("q_pareto_front: sweep result equals the brute-force skyline") {
    import org.apache.spark.sql.functions.{col, floor, lit}
    val front = SparkEntry.queries("q_pareto_front")(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"))).toSet
    val docs = SparkEntry.queries("q_quality_score")(spark, sf)
      .select(col("doc_id"),
        floor(col("quality") * lit(1000000.0) + lit(0.5)).cast("long")
          .as("qm"))
      .join(Tables.documents(spark, sf).select("doc_id", "source", "n_chars"),
        "doc_id")
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("qm"), r.getAs[Long]("n_chars")))
    val expected = docs.filter { case (src, id, q, n) =>
      !docs.exists { case (s2, id2, q2, n2) =>
        s2 == src && id2 != id && q2 >= q && n2 >= n && (q2 > q || n2 > n)
      }
    }.map(t => (t._1, t._2)).toSet
    assert(front == expected,
      s"missed: ${(expected -- front).take(5)}; extra: ${(front -- expected).take(5)}")
  }

  test("q_source_minhash: estimator dyadic, error honest vs exact") {
    val rows = SparkEntry.queries("q_source_minhash")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val agree = r.getAs[Int]("n_agree")
      assert(agree >= 0 && agree <= 8, r.toString)
      assert(r.getAs[Double]("est_jaccard") == agree / 8.0, r.toString)
      assert(math.abs(r.getAs[Double]("err")) <= 1.0, r.toString)
    }
    // the pair set is exactly the exact-overlap pair set
    val exact = SparkEntry.queries("q_source_overlap")(spark, sf).count()
    assert(rows.length.toLong == exact)
  }

  test("q_time_decay_sample: decay curve is monotone toward recency") {
    val rows = SparkEntry.queries("q_time_decay_sample")(spark, sf).collect()
      .sortBy(_.getAs[java.time.LocalDateTime]("day").toString)
    assert(rows.nonEmpty)
    // mean keep-probability rises monotonically toward the newest day
    val ps = rows.map(_.getAs[Long]("mean_p_ppm"))
    assert(ps.zip(ps.tail).forall { case (a, b) => a <= b },
      ps.mkString(","))
    rows.foreach { r =>
      assert(r.getAs[Long]("mean_p_ppm") <= 1000000L, r.toString)
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_events"), r.toString)
    }
    // the newest day keeps nearly everything, the oldest nearly nothing
    assert(ps.last > 900000L && ps.head < 100000L, s"${ps.head}..${ps.last}")
  }

  test("q_kneser_ney: probabilities proper, smoothing beats MLE on tail mass") {
    val kn = SparkEntry.queries("q_kneser_ney")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_bigrams"), r.getAs[Double]("kn_logprob"))).toMap
    val mle = SparkEntry.queries("q_bigram_lm")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_bigrams"), r.getAs[Double]("avg_logprob"))).toMap
    assert(kn.keySet == mle.keySet, "same scored document set")
    kn.foreach { case (id, (n, lp)) =>
      assert(n == mle(id)._1, s"doc $id: same bigram count")
      assert(lp < 0.0, s"doc $id: log-probabilities must be negative")
    }
    // smoothing must actually change scores (per-doc direction is NOT
    // fixed: the continuation bonus can exceed the discount for very
    // common words, so only divergence itself is asserted)
    val changed = kn.count { case (id, (_, lp)) =>
      math.abs(lp - mle(id)._2) > 1e-9
    }
    assert(changed >= kn.size * 9 / 10,
      s"smoothing changed only $changed/${kn.size} docs")
  }

  test("q_kcenter_coreset: radius shrinks monotonically, picks distinct") {
    val rows = SparkEntry.queries("q_kcenter_coreset")(spark, sf).collect()
      .sortBy(_.getAs[Int]("pick_no"))
    assert(rows.length == 8)
    assert(rows.map(_.getAs[Long]("vec_id")).distinct.length == 8,
      "a center can never be re-picked (its min-distance is 0)")
    assert(rows.head.isNullAt(rows.head.fieldIndex("d2_at_pick")),
      "the seed has no distance-at-pick")
    // Gonzalez invariant: each pick's covering radius is <= the last —
    // the min-distance vector only shrinks as centers are added
    val radii = rows.tail.map(_.getAs[Long]("d2_at_pick"))
    assert(radii.zip(radii.tail).forall { case (a, b) => a >= b },
      radii.mkString(","))
    assert(radii.forall(_ > 0L))
  }

  test("q_dp_release_sim: pinned-seed noise is reproducible and b-scaled") {
    val a = SparkEntry.queries("q_dp_release_sim")(spark, sf).collect()
    val b = SparkEntry.queries("q_dp_release_sim")(spark, sf).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq,
      "the dry-run mechanism must be deterministic")
    a.foreach { r =>
      val noise = r.getAs[Long]("noise_micros")
      // Laplace(b=10) micro-units: |noise| = 10·|ln(1−2|u−½|)|·1e6;
      // u has 32 random bits so |ln| < 23 → |noise| < 230e6
      assert(math.abs(noise) < 230L * 1000000L, r.toString)
      val released = r.getAs[Long]("released")
      val bounded = r.getAs[Long]("bounded_count")
      assert(math.abs(released - bounded) <= math.abs(noise) / 1000000 + 1,
        r.toString)
    }
  }

  test("q_quantile_sketch: exact side is distributed (no whole-table collect_list)") {
    val p = plan("q_quantile_sketch")
    assert(!p.contains("collect_list"),
      "the exact quantile must be the pre-aggregated threshold scan, " +
        "not a single-buffer sorted list:\n" + p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q_quantile_sketch: no single-partition Window or Sort in the executed plan") {
    // the ranged two-pass rank / prefix sum replace both former
    // one-task funnels (5-way per-group rank; unpartitioned running
    // count over near-unique prices). The only SinglePartition
    // exchanges allowed are the final stages of 1-row global scalar
    // aggregates (tot/nTot — partials arrive pre-aggregated, one row
    // per upstream partition); a Sort or Window parent would be a
    // whole-data one-task funnel
    val lines = plan("q_quantile_sketch").linesIterator.toVector
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition"))
      .foreach { case (l, i) =>
        val parent = lines(i - 1)
        assert(parent.contains("HashAggregate(keys=[]"),
          s"SinglePartition exchange feeds a non-scalar-agg parent:\n$parent\n$l")
      }
    // and EVERY window in the plan is partitioned (prints with the
    // synthetic range-partition-id key)
    lines.filter(_.contains("windowspecdefinition(")).foreach { l =>
      assert(l.contains("__pid_"),
        s"window not keyed on the range-partition id: $l")
    }
  }

  test("q_ann_hamming: float vectors never enter the Hamming-ranking shuffle") {
    // the candidate pass carries only (qid, neighbor_id, ham[, sig]);
    // quantized vectors (qv/quv) join in after the top-20 filter
    shufflePayloads("q_ann_hamming").foreach { cols =>
      assert(!cols.contains("qv") && !cols.contains("quv"),
        s"vector columns leaked into a shuffle: ${cols.mkString(", ")}")
      assert(!cols.contains("embedding"),
        s"raw embedding leaked into a shuffle: ${cols.mkString(", ")}")
    }
    val rows = SparkEntry.queries("q_ann_hamming")(spark, sf).collect()
    // 8 queries × top 3, Hamming distance within [0, 64], cosine in [-1, 1]
    assert(rows.length === 24)
    rows.foreach { r =>
      val ham = r.getAs[Int]("ham")
      assert(ham >= 0 && ham <= 64, r.toString)
      val cs = r.getAs[Double]("cos_sim")
      assert(cs >= -1.0 - 1e-9 && cs <= 1.0 + 1e-9, r.toString)
    }
  }

  test("q_ann_recall covers every compression rung including binary Hamming") {
    val rows = SparkEntry.queries("q_ann_recall")(spark, sf).collect()
    val methods = rows.map(_.getAs[String]("method")).sorted
    assert(methods.toSeq ===
      Seq("ham", "ivf_p1", "ivf_p2", "ivf_p4", "ivfpq", "lsh", "lsh_mp",
        "pq", "sq8"))
    rows.foreach { r =>
      val rec = r.getAs[Double]("recall_at_3")
      assert(rec >= 0.0 && rec <= 1.0, r.toString)
      assert(r.getAs[Long]("n_hits") === math.round(rec * 24), r.toString)
    }
  }

  test("q_sql_local_supply: the lineitem fact never enters a shuffle") {
    // the hinted CTE form must keep every join broadcast — the only
    // exchanges are the 6-row aggregate and the output sort
    val payloads = shufflePayloads("q_sql_local_supply")
    assert(payloads.nonEmpty)
    payloads.foreach { cols =>
      assert(!cols.exists(_.startsWith("l_")),
        s"fact columns leaked into a shuffle: ${cols.mkString(", ")}")
    }
  }

  test("q_mad_outliers matches a driver-side brute-force recompute") {
    import org.apache.spark.sql.functions.{col, floor, lit}
    val rows = SparkEntry.queries("q_mad_outliers")(spark, sf).collect()
    val cents = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"),
        floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def lowerMedian(xs: Seq[Long]): Long = {
      val s = xs.sorted
      s((s.length - 1) / 2) // smallest x with 2*cum >= n
    }
    rows.foreach { r =>
      val g = r.getAs[String]("g")
      val vals = cents.filter(_._1 == g).map(_._2).toSeq
      val med = lowerMedian(vals)
      val mad = lowerMedian(vals.map(v => math.abs(v - med)))
      assert(r.getAs[Long]("med_cents") === med, g)
      assert(r.getAs[Long]("mad_cents") === mad, g)
      val n = vals.count(v => math.abs(v - med) * 10000 > mad * 44478)
      assert(r.getAs[Long]("n_outliers") === n, g)
      assert(r.getAs[Long]("n_rows") === vals.length, g)
    }
  }

  test("q_bootstrap_ci: interval brackets the point estimate") {
    val r = SparkEntry.queries("q_bootstrap_ci")(spark, sf).collect().head
    val (pt, lo, hi) = (r.getAs[Long]("mean_cents"),
      r.getAs[Long]("ci_lo_cents"), r.getAs[Long]("ci_hi_cents"))
    assert(lo <= hi)
    assert(lo <= pt && pt <= hi, s"pt=$pt lo=$lo hi=$hi")
    // bootstrap spread of a mean over thousands of rows is small
    // relative to the mean itself
    assert((hi - lo).toDouble / pt < 0.2, s"pt=$pt lo=$lo hi=$hi")
  }

  test("q_itemsets: supports and lift are internally consistent") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    val rows = SparkEntry.queries("q_itemsets")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_pair") >= 2, r.toString)
      assert(r.getAs[Long]("pa") < r.getAs[Long]("pb"), r.toString)
    }
    // recompute one pair's support + lift brute-force
    val top = rows.head
    val b = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val nBaskets = b.map(_._1).distinct.length
    val byOrder = b.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val (pa, pb) = (top.getAs[Long]("pa"), top.getAs[Long]("pb"))
    val nPair = byOrder.valuesIterator.count(s => s(pa) && s(pb))
    val na = b.count(_._2 == pa)
    val nb = b.count(_._2 == pb)
    assert(top.getAs[Long]("n_pair") === nPair)
    assert(top.getAs[Long]("lift_ppm") ===
      nPair.toLong * nBaskets * 1000000L / (na.toLong * nb))
  }

  test("q_contrastive_pairs: one positive per anchor, clean negatives") {
    val rows = SparkEntry.queries("q_contrastive_pairs")(spark, sf).collect()
    assert(rows.nonEmpty)
    val byAnchor = rows.groupBy(_.getAs[Long]("anchor"))
    val lsh = SparkEntry.queries("q_minhash_lsh_pairs")(spark, sf).collect()
      .flatMap(r => Seq(r.getLong(0) -> r.getLong(1),
        r.getLong(1) -> r.getLong(0))).toSet
    byAnchor.foreach { case (a, rs) =>
      val pos = rs.filter(_.getAs[String]("role") == "pos")
      val negs = rs.filter(_.getAs[String]("role") == "neg")
      assert(pos.length === 1, s"anchor $a")
      // the positive is a genuine LSH candidate partner
      assert(lsh((a, pos.head.getAs[Long]("pair_id"))), s"anchor $a")
      assert(negs.length <= 3 && negs.length >= 1, s"anchor $a")
      negs.foreach { n =>
        val id = n.getAs[Long]("pair_id")
        assert(id != a && id != pos.head.getAs[Long]("pair_id"),
          s"anchor $a neg $id")
      }
    }
    // anchors are exactly the docs with at least one LSH candidate
    assert(byAnchor.keySet === lsh.map(_._1))
  }

  test("q_window_funnel matches a driver-side sequential-first-match recompute") {
    import org.apache.spark.sql.functions.{col, unix_micros}
    val r = SparkEntry.queries("q_window_funnel")(spark, sf).collect().head
    val (nu, n1, n2, n3) = (r.getAs[Long]("n_users"), r.getAs[Long]("n_view"),
      r.getAs[Long]("n_view_click"), r.getAs[Long]("n_full_funnel"))
    assert(nu >= n1 && n1 >= n2 && n2 >= n3 && n3 >= 0)
    val w = 72L * 3600L * 1000000L
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")))
      .collect().map(x => (x.getLong(0), x.getString(1), x.getLong(2)))
      .groupBy(_._1)
    var (c1, c2, c3) = (0L, 0L, 0L)
    ev.values.foreach { rows =>
      val byType: Map[String, Seq[Long]] =
        rows.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).sorted.toSeq }
      byType.getOrElse("view", Nil).headOption.foreach { t1 =>
        c1 += 1
        byType.getOrElse("click", Nil)
          .find(t => t > t1 && t <= t1 + w).foreach { t2 =>
            c2 += 1
            if (byType.getOrElse("purchase", Nil)
              .exists(t => t > t2 && t <= t2 + w)) c3 += 1
          }
      }
    }
    assert((n1, n2, n3) === ((c1, c2, c3)))
    assert(nu === ev.size)
  }

  test("q_lda_power converges to the dominant between-class direction") {
    import org.apache.spark.sql.functions.col
    val got = SparkEntry.queries("q_lda_power")(spark, sf).collect()
      .map(r => r.getAs[Int]("pos") -> r.getAs[Long]("vppm"))
      .sortBy(_._1).map(_._2.toDouble)
    assert(got.length === 64)
    assert(got.map(math.abs).max === 1000000.0, "max-abs normalization")
    // independent driver-side recompute: dense between-class scatter
    // B = Σ_k (n_k/n)(μ_k−μ)(μ_k−μ)ᵀ + 300 power iterations in doubles
    val rows = Tables.embeddings(spark, sf)
      .select(col("embedding"), col("label")).collect()
      .map(r => (r.getSeq[Float](0).map(_.toDouble).toArray, r.getInt(1)))
    val n = rows.length
    val dim = 64
    val mean = Array.tabulate(dim)(j => rows.map(_._1(j)).sum / n)
    val b = Array.ofDim[Double](dim, dim)
    rows.groupBy(_._2).values.foreach { grp =>
      val nk = grp.length
      val mk = Array.tabulate(dim)(j => grp.map(_._1(j)).sum / nk)
      for (i <- 0 until dim; j <- 0 until dim)
        b(i)(j) += nk.toDouble / n * (mk(i) - mean(i)) * (mk(j) - mean(j))
    }
    var ev = Array.fill(dim)(1.0)
    for (_ <- 1 to 300) {
      val w = Array.tabulate(dim)(i =>
        (0 until dim).map(j => b(i)(j) * ev(j)).sum)
      val m = w.map(math.abs).max
      ev = w.map(_ / m)
    }
    val dot = got.zip(ev).map { case (a, x) => a * x }.sum
    val cos = dot / math.sqrt(got.map(x => x * x).sum *
      ev.map(x => x * x).sum)
    assert(math.abs(cos) > 0.99, s"cosine to converged eigvec: $cos")
  }

  test("q_augment_mask: map-only; counts reconcile with the views") {
    val payloads = shufflePayloads("q_augment_mask")
    assert(payloads.size <= 1, payloads.toString) // only the output sort
    val rows = SparkEntry.queries("q_augment_mask")(spark, sf).collect()
    rows.foreach { r =>
      val masked = r.getAs[String]("aug_masked")
      val nMask = r.getAs[Long]("n_masked")
      // fixture tokens never equal the sentinel, so occurrences == label
      val occ = masked.split("\\s+").count(_ == "[MASK]")
      assert(occ.toLong === nMask, r.toString)
      val nTok = masked.split("\\s+").count(_.nonEmpty)
      val nDropped = r.getAs[Long]("n_dropped")
      val kept = r.getAs[String]("aug_dropped").split("\\s+")
        .count(_.nonEmpty)
      assert(kept.toLong === nTok - nDropped, r.toString)
      // draws are independent per channel but rates should be sane
      assert(nMask <= nTok && nDropped <= nTok)
    }
  }

  test("q_ndcg: ppm metrics bounded, dcg never exceeds idcg") {
    val rows = SparkEntry.queries("q_ndcg")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val dcg = r.getAs[Long]("dcg_ppm")
      val idcg = r.getAs[Long]("idcg_ppm")
      val ndcg = r.getAs[Long]("ndcg_ppm")
      assert(dcg >= 0 && idcg >= 0, r.toString)
      // the ideal ordering maximizes DCG, so dcg <= idcg always
      assert(dcg <= idcg, r.toString)
      assert(ndcg >= 0 && ndcg <= 1000000L, r.toString)
    }
  }

  test("q_auc matches a driver-side brute-force Mann-Whitney recompute") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_auc")(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("n_chars"), col("lang"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2) == "en"))
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val pos = docs.filter(d => d._1 == src && d._3).map(_._2)
      val neg = docs.filter(d => d._1 == src && !d._3).map(_._2)
      assert(r.getAs[Long]("pos_n") === pos.length.toLong, src)
      assert(r.getAs[Long]("neg_n") === neg.length.toLong, src)
      // brute-force pair count: wins + half-ties, doubled to stay integral
      var num2 = BigInt(0)
      for (p <- pos; n <- neg)
        num2 += (if (p > n) 2 else if (p == n) 1 else 0)
      val expect =
        num2 * 1000000 / (BigInt(2) * pos.length * neg.length)
      assert(BigInt(r.getAs[Long]("auc_ppm")) === expect, src)
      assert(r.getAs[Long]("auc_ppm") >= 0L &&
        r.getAs[Long]("auc_ppm") <= 1000000L, src)
    }
    // every source with both classes present must appear
    val expected = docs.groupBy(_._1).filter { case (_, ds) =>
      ds.exists(_._3) && ds.exists(!_._3)
    }.keySet
    assert(rows.map(_.getAs[String]("source")).toSet === expected)
  }

  test("q_ks_test matches a driver-side brute-force KS recompute") {
    import org.apache.spark.sql.functions.{col, floor, lit}
    val r = SparkEntry.queries("q_ks_test")(spark, sf).collect().head
    val samples = Tables.orders(spark, sf)
      .select(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"),
        col("o_orderpriority"))
      .collect()
      .map(x => (x.getLong(0),
        Set("1-URGENT", "2-HIGH")(x.getString(1))))
    val s1 = samples.filter(_._2).map(_._1).sorted
    val s2 = samples.filterNot(_._2).map(_._1).sorted
    assert(r.getAs[Long]("n1") === s1.length.toLong)
    assert(r.getAs[Long]("n2") === s2.length.toLong)
    val values = (s1 ++ s2).distinct.sorted
    var best = BigInt(-1); var bestAt = Long.MaxValue
    for (v <- values) {
      val k1 = BigInt(s1.count(_ <= v)) * s2.length
      val k2 = BigInt(s2.count(_ <= v)) * s1.length
      val d = (k1 - k2).abs
      if (d > best) { best = d; bestAt = v }
    }
    assert(r.getAs[Long]("at_cents") === bestAt)
    val expect = best * 1000000 / (BigInt(s1.length) * s2.length)
    assert(BigInt(r.getAs[Long]("d_ppm")) === expect)
    assert(r.getAs[Long]("d_ppm") >= 0L && r.getAs[Long]("d_ppm") <= 1000000L)
  }

  test("q_stump matches a driver-side brute-force best-split recompute") {
    import org.apache.spark.sql.functions.col
    val r = SparkEntry.queries("q_stump")(spark, sf).collect().head
    val docs = Tables.documents(spark, sf)
      .select(col("n_chars"), col("lang")).collect()
      .map(x => (x.getLong(0), x.getString(1) == "en"))
    val byv = docs.groupBy(_._1).view.mapValues { ds =>
      (ds.count(_._2).toLong, ds.length.toLong)
    }.toMap
    val vs = byv.keys.toSeq.sorted
    val mt = docs.length.toLong
    val pt = docs.count(_._2).toLong
    var cp = 0L; var cm = 0L
    var best = BigInt(-1); var bestV = 0L
    var bestNl = 0L
    for (v <- vs) {
      val (p, m) = byv(v); cp += p; cm += m
      if (cm < mt) {
        val (nl, pl, nr, pr) =
          (BigInt(cm), BigInt(cp), BigInt(mt - cm), BigInt(pt - cp))
        val sv = pl * (nl - pl) * nr + pr * (nr - pr) * nl
        if (best < 0 || sv < best) { best = sv; bestV = v; bestNl = cm }
      }
    }
    assert(r.getAs[Long]("threshold") === bestV)
    assert(r.getAs[Long]("n_left") === bestNl)
    assert(r.getAs[Long]("n_right") === mt - bestNl)
    val giniSplit =
      BigInt(2) * best * 1000000 / (BigInt(bestNl) * (mt - bestNl) * mt)
    val giniParent = BigInt(2) * pt * (mt - pt) * 1000000 / (BigInt(mt) * mt)
    assert(BigInt(r.getAs[Long]("gini_split_ppm")) === giniSplit)
    assert(BigInt(r.getAs[Long]("gini_parent_ppm")) === giniParent)
    // a useful split can only reduce impurity
    assert(r.getAs[Long]("gini_split_ppm") <=
      r.getAs[Long]("gini_parent_ppm"))
  }

  test("q_cusum matches a driver-side brute-force CUSUM recompute") {
    import org.apache.spark.sql.functions.{col, floor, lit, sum}
    val r = SparkEntry.queries("q_cusum")(spark, sf).collect().head
    val days = Tables.orders(spark, sf)
      .groupBy(col("o_orderdate"))
      .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
        .as("rev"))
      .collect()
      .map(x => (x.get(0).toString, x.getLong(1)))
      .sortBy(_._1)
    val sn = days.map(_._2).sum
    val tn = days.length.toLong
    var st = 0L; var best = BigInt(-1); var bestDay = ""; var bestT = 0L
    days.zipWithIndex.foreach { case ((day, rev), i) =>
      st += rev
      val dn = (BigInt(st) * tn - BigInt(i + 1) * sn).abs
      if (dn > best) { best = dn; bestDay = day; bestT = i + 1 }
    }
    assert(r.getAs[Any]("change_date").toString === bestDay)
    assert(r.getAs[Long]("day_index") === bestT)
    assert(r.getAs[Long]("n_days") === tn)
    assert(BigInt(r.getAs[Long]("stat_ppm")) ===
      best * 1000000 / (BigInt(sn) * tn))
  }

  test("q_benford: ppm columns are consistent and sum to ~1e6") {
    val rows = SparkEntry.queries("q_benford")(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("digit")).toSeq === (1 to 9))
    val nTot = rows.map(_.getAs[Long]("n")).sum
    var obsSum = 0L
    rows.foreach { r =>
      val obs = r.getAs[Long]("obs_ppm")
      assert(obs === r.getAs[Long]("n") * 1000000L / nTot, r.toString)
      assert(r.getAs[Long]("dev_ppm") ===
        math.abs(obs - r.getAs[Long]("exp_ppm")), r.toString)
      obsSum += obs
    }
    // floor rounding loses at most 1 ppm per digit
    assert(obsSum > 1000000L - 9 && obsSum <= 1000000L, obsSum.toString)
    // Benford expectation literals sum to ~1e6 too (sanity of constants)
    val expSum = rows.map(_.getAs[Long]("exp_ppm")).sum
    assert(expSum > 1000000L - 9 && expSum <= 1000000L, expSum.toString)
  }

  test("q_chi2_terms: cells and two-step phi2 recompute exactly") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_chi2_terms")(spark, sf).collect()
    assert(rows.length > 0 && rows.length <= 30)
    val docs = Tables.documents(spark, sf)
      .select(col("text"), col("lang")).collect()
      .map(x => (x.getString(0).toLowerCase.split("\\s+")
        .filter(_.nonEmpty).toSet, x.getString(1) == "en"))
    val np = docs.count(_._2).toLong
    val nn = docs.length.toLong - np
    rows.foreach { r =>
      val term = r.getAs[String]("term")
      val a = docs.count(d => d._2 && d._1(term)).toLong
      val b = docs.count(d => !d._2 && d._1(term)).toLong
      assert(r.getAs[Long]("df") === a + b, term)
      assert(r.getAs[Long]("df_pos") === a, term)
      val num = (BigInt(a) * (nn - b) - BigInt(b) * (np - a)).pow(2)
      val phi2 = num / (BigInt(a + b) * (np + nn - a - b)) *
        1000000 / (BigInt(np) * nn)
      assert(BigInt(r.getAs[Long]("phi2_ppm")) === phi2, term)
    }
    // ranked descending
    val ppms = rows.map(_.getAs[Long]("phi2_ppm")).toSeq
    assert(ppms === ppms.sorted.reverse)
  }

  test("q_cramers_v matches a driver-side brute-force recompute") {
    val r = SparkEntry.queries("q_cramers_v")(spark, sf).collect().head
    val docs = Tables.documents(spark, sf)
      .select("source", "lang").collect()
      .map(x => (x.getString(0), x.getString(1)))
    val n = docs.length.toLong
    val rm = docs.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val cm = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    assert(r.getAs[Long]("n_rows") === n)
    assert(r.getAs[Long]("r_cats") === rm.size.toLong)
    assert(r.getAs[Long]("c_cats") === cm.size.toLong)
    var chi2n = BigInt(0)
    for ((src, rv) <- rm; (lg, cv) <- cm) {
      val o = docs.count(d => d._1 == src && d._2 == lg).toLong
      val dev = BigInt(o) * n - BigInt(rv) * cv
      chi2n += dev * dev / (BigInt(rv) * cv)
    }
    val m = math.min(rm.size, cm.size).toLong
    val expect = chi2n * 1000000 / (BigInt(n) * n * (m - 1))
    assert(BigInt(r.getAs[Long]("v2_ppm")) === expect)
    assert(r.getAs[Long]("v2_ppm") >= 0L &&
      r.getAs[Long]("v2_ppm") <= 1000000L)
  }

  test("q_waterfill: allocation is feasible, max-min fair, and budget-tight") {
    val rows = SparkEntry.queries("q_waterfill")(spark, sf).collect()
    assert(rows.nonEmpty)
    val caps = rows.map(_.getAs[Long]("cap"))
    val allocs = rows.map(_.getAs[Long]("alloc"))
    val b = 9L * caps.sum / 10L
    // feasibility: never exceed a source's supply
    rows.foreach { r =>
      assert(r.getAs[Long]("alloc") <= r.getAs[Long]("cap"), r.toString)
    }
    // water level: every unsaturated source gets exactly the level,
    // every saturated one has cap ≤ level
    val level = rows.head.getAs[Long]("level")
    rows.foreach { r =>
      if (r.getAs[Boolean]("saturated"))
        assert(r.getAs[Long]("cap") <= level, r.toString)
      else assert(r.getAs[Long]("alloc") === level, r.toString)
    }
    // budget-tight up to floor remainder: 0 ≤ B − Σalloc < #unsaturated
    val slack = b - allocs.sum
    val nUnsat = rows.count(!_.getAs[Boolean]("saturated"))
    assert(slack >= 0 && (nUnsat === 0 || slack < nUnsat), s"slack=$slack")
    // brute-force the level: Σ min(cap, L) ≤ B < Σ min(cap, L+1)
    def used(l: Long) = caps.map(math.min(_, l)).sum
    assert(used(level) <= b && (nUnsat === 0 || used(level + 1) > b))
  }

  test("q_theil_sen matches a driver-side brute-force recompute") {
    import org.apache.spark.sql.functions.{col, floor, lit, sum}
    val r = SparkEntry.queries("q_theil_sen")(spark, sf).collect().head
    val revs = Tables.orders(spark, sf)
      .groupBy(col("o_orderdate"))
      .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
        .as("rev"))
      .collect().map(x => (x.get(0).toString, x.getLong(1)))
      .sortBy(_._1).map(_._2)
    val t = revs.length
    val slopes = for {
      i <- 0 until t; j <- (i + 1) until t
    } yield {
      val dr = revs(j) - revs(i)
      val mag = (BigInt(dr).abs * 1000000 / (j - i)).toLong
      if (dr >= 0) mag else -mag
    }
    assert(r.getAs[Long]("n_days") === t.toLong)
    assert(r.getAs[Long]("n_pairs") === slopes.length.toLong)
    val sorted = slopes.sorted
    val med = sorted((sorted.length - 1) / 2) // smallest with 2·cum ≥ n
    assert(r.getAs[Long]("median_slope_ppm") === med)
  }

  test("q_auc: flipping the label complements the statistic exactly") {
    // tie-corrected Mann-Whitney satisfies AUC(pos) + AUC(neg) = 1
    // EXACTLY in the doubled-integer form: wins + losses + 2·(ties/2)
    // = P·N pairs. The floor quantizations of x/(2PN) and
    // (2PN−x)/(2PN) sum to 1e6 or 1e6−1 (exact iff 2PN | x·1e6).
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_auc")(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("n_chars"), col("lang")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2) == "en"))
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val pos = docs.filter(d => d._1 == src && d._3).map(_._2)
      val neg = docs.filter(d => d._1 == src && !d._3).map(_._2)
      var numFlipped = BigInt(0) // negatives as the "positive" class
      for (n <- neg; p <- pos)
        numFlipped += (if (n > p) 2 else if (n == p) 1 else 0)
      val flipped =
        numFlipped * 1000000 / (BigInt(2) * pos.length * neg.length)
      val sum = BigInt(r.getAs[Long]("auc_ppm")) + flipped
      assert(sum === BigInt(1000000) || sum === BigInt(999999),
        s"$src: auc + flipped = $sum")
    }
  }

  test("q_chi2_terms shuffles (term, counts) only — document text never moves") {
    val payloads = shufflePayloads("q_chi2_terms")
    assert(payloads.nonEmpty, "expected the term-count shuffle")
    payloads.foreach { cols =>
      assert(!cols.contains("text"),
        s"document text leaked into a shuffle: ${cols.mkString(", ")}")
    }
  }

  test("q_winnow is map-only: no shuffle carries text or the gram array") {
    val payloads = shufflePayloads("q_winnow")
    payloads.foreach { cols =>
      assert(!cols.contains("text") && !cols.contains("h"),
        s"corpus-sized payload leaked into a shuffle: ${cols.mkString(", ")}")
    }
  }

  test("q_len_hist / q_bpe_fertility shuffle catalog-sized aggregates only") {
    Seq("q_len_hist", "q_bpe_fertility").foreach { q =>
      shufflePayloads(q).foreach { cols =>
        assert(!cols.contains("text") && !cols.contains("e"),
          s"$q: corpus-sized payload in a shuffle: ${cols.mkString(", ")}")
      }
    }
  }

  test("q_kappa matches a brute-force Cohen's kappa recompute") {
    val r = SparkEntry.queries("q_kappa")(spark, sf).collect().head
    val preds = SparkEntry.queries("q_lang_id")(spark, sf).collect()
      .map(x => (x.getAs[String]("lang"), x.getAs[String]("predicted")))
    val n = preds.length.toLong
    val agree = preds.count(p => p._1 == p._2).toLong
    assert(r.getAs[Long]("n_docs") === n)
    assert(r.getAs[Long]("n_agree") === agree)
    val rowM = preds.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val colM = preds.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val pen2 = (rowM.keySet ++ colM.keySet).toSeq.map { c =>
      BigInt(rowM.getOrElse(c, 0L)) * BigInt(colM.getOrElse(c, 0L))
    }.foldLeft(BigInt(0))(_ + _)
    val num = BigInt(agree) * n - pen2
    val den = BigInt(n) * n - pen2
    val expect =
      if (num >= 0) num * 1000000 / den else -((-num) * 1000000 / den)
    assert(BigInt(r.getAs[Long]("kappa_ppm")) === expect)
    // κ ∈ [−1, 1]. On the synthetic corpus the stopword scores are
    // all zero, the argmax degenerates to the constant 'en'
    // classifier, and κ is EXACTLY 0 at every sf — the audit working
    // as designed: raw accuracy reads 44% (the en share) while κ
    // correctly reports the labeler has no skill beyond the class
    // prior. That verdict is precisely what the op exists to catch.
    assert(r.getAs[Long]("kappa_ppm") >= -1000000L &&
      r.getAs[Long]("kappa_ppm") <= 1000000L)
  }

  test("q_winnow_pairs: exactly the rare-fingerprint intersections, both directions") {
    import org.apache.spark.sql.functions.{col, explode, length}
    import graft.functions.GraftFunctions.winnow_fps
    val got = SparkEntry.queries("q_winnow_pairs")(spark, sf).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Long]("n_shared")).toMap
    // per-doc fingerprint sets via the (parity-proven) kernel
    val fps = Tables.documents(spark, sf)
      .filter(length(col("text")) >= 16)
      .select(col("doc_id"), explode(winnow_fps(col("text"))).as("fp"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byFp = fps.groupBy(_._2)
    val rare = fps.filter(p => byFp(p._2).length <= 32)
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ids = rare.keys.toSeq.sorted
    var expected = 0
    for (i <- ids.indices; j <- (i + 1) until ids.length) {
      val shared = rare(ids(i)).intersect(rare(ids(j))).size
      if (shared > 0) {
        expected += 1
        assert(got((ids(i), ids(j))) === shared.toLong,
          s"pair (${ids(i)}, ${ids(j)})")
      } else assert(!got.contains((ids(i), ids(j))),
        s"phantom pair (${ids(i)}, ${ids(j)})")
    }
    assert(got.size === expected)
    assert(expected > 0, "fixture should contain near-dup pairs")
  }

  test("q_lsh_scurve: exact rational S-curve for the shipped b=2, r=4 banding") {
    val rows = SparkEntry.queries("q_lsh_scurve")(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("s_tenths")).toSeq === (1 to 9))
    rows.foreach { r =>
      val k = r.getAs[Int]("s_tenths").toLong
      val k4 = k * k * k * k
      assert(r.getAs[Long]("p_band_ppm") === k4 * 100L)
      assert(r.getAs[Long]("p_pair_ppm") ===
        (100000000L - (10000L - k4) * (10000L - k4)) * 1000000L / 100000000L)
    }
    // monotone increasing, and the exact half-point falls in
    // (0.7, 0.8): (1−s⁴)² = ½ → s = (1−2^-½)^¼ ≈ 0.736 (the large-b
    // (1/b)^(1/r) ≈ 0.84 heuristic overshoots at b = 2)
    val ps = rows.map(_.getAs[Long]("p_pair_ppm")).toSeq
    assert(ps === ps.sorted)
    assert(ps(6) < 500000L && ps(7) > 500000L,
      s"half-point not between s=0.7 and s=0.8: $ps")
  }

  test("q_winnow matches a brute-force recompute and keeps the coverage guarantee") {
    import org.apache.spark.sql.functions.{col, length}
    val rows = SparkEntry.queries("q_winnow")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_fp"),
          r.getAs[String]("min_fp"))).toMap
    val texts = Tables.documents(spark, sf)
      .filter(length(col("text")) >= 16)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(rows.size === texts.length && texts.nonEmpty)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    texts.take(50).foreach { case (id, text) =>
      // substr semantics are CODEPOINT-based in both engines
      val cps = text.codePoints().toArray
      val ng = cps.length - 15
      val h = (0 until ng).map(i =>
        md5hex(new String(cps, i, 16)))
      val wins = (0 until math.max(ng - 7, 1)).map(j =>
        h.slice(j, j + 8).min)
      val (gotNg, gotFp, gotMin) = rows(id)
      assert(gotNg === ng.toLong, id)
      assert(gotFp === wins.distinct.length.toLong, id)
      assert(gotMin === h.min, id)
      // winnowing guarantee: every full window contains a selected gram
      val sel = wins.toSet
      (0 until math.max(ng - 7, 1)).foreach { j =>
        assert(h.slice(j, j + 8).exists(sel), s"doc $id window $j uncovered")
      }
      // density: at most one new fingerprint per window
      assert(wins.distinct.length <= wins.length)
    }
  }

  test("q_source_divergence matches a brute-force Hellinger recompute") {
    val rows = SparkEntry.queries("q_source_divergence")(spark, sf).collect()
    assert(rows.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .select("source", "lang").collect()
      .map(x => (x.getString(0), x.getString(1)))
    val n = docs.length.toLong
    val byLang = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val bySrc = docs.groupBy(_._1)
    assert(rows.length === bySrc.size)
    rows.foreach { r =>
      val src = r.getString(0)
      val ds = bySrc(src)
      val rv = ds.length.toLong
      assert(r.getAs[Long]("n_docs") === rv, src)
      val tsum = byLang.map { case (lang, cv) =>
        val o = ds.count(_._2 == lang).toLong
        math.floor(math.sqrt(
          (o.toDouble * cv.toDouble) / (rv.toDouble * n.toDouble)) * 1e6
          + 0.5).toLong
      }.sum
      assert(r.getAs[Long]("h2_ppm") === 1000000L - tsum, src)
      // H² ∈ [0, 1] up to per-term half-ulp quantization
      assert(r.getAs[Long]("h2_ppm") >= -byLang.size &&
        r.getAs[Long]("h2_ppm") <= 1000000L, src)
    }
    // ranked descending: most atypical source first
    val ppms = rows.map(_.getAs[Long]("h2_ppm")).toSeq
    assert(ppms === ppms.sorted.reverse)
  }

  test("q_len_hist: buckets are exact bit-lengths, shares rollup per source") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q_len_hist")(spark, sf).collect()
    assert(rows.nonEmpty)
    val lens = Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0),
        r.getString(1).split("\\s+").count(_.nonEmpty).toLong))
      .filter(_._2 > 0)
    val byKey = lens.groupBy { case (src, n) =>
      (src, (63 - java.lang.Long.numberOfLeadingZeros(n)).toLong)
    }.view.mapValues(_.length.toLong).toMap
    assert(rows.length === byKey.size)
    val bySrc = lens.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    rows.foreach { r =>
      val key = (r.getString(0), r.getAs[Long]("bucket"))
      assert(byKey(key) === r.getAs[Long]("n"), key.toString)
      assert(r.getAs[Long]("lo_tokens") === (1L << key._2), key.toString)
      assert(r.getAs[Long]("share_ppm") ===
        r.getAs[Long]("n") * 1000000L / bySrc(key._1), key.toString)
    }
  }

  test("q_auc / q_ks_test / q_stump / q_cusum: every window is ranged-partitioned (no one-task funnel)") {
    // all prefix sums route through Distributed.globalCumSum — the
    // score/cents domains are unbounded, so any windowspec without the
    // synthetic range-partition-id key would sort ~n rows in ONE task
    Seq("q_auc", "q_ks_test", "q_stump", "q_cusum").foreach { q =>
      val lines = plan(q).linesIterator.toVector
      val wins = lines.filter(_.contains("windowspecdefinition("))
      assert(wins.nonEmpty, s"$q: expected the two-pass prefix-sum window")
      wins.foreach { l =>
        assert(l.contains("__pid_"),
          s"$q: window not keyed on the range-partition id: $l")
      }
      lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition"))
        .foreach { case (l, i) =>
          val parent = lines(i - 1)
          assert(parent.contains("HashAggregate(keys=[]"),
            s"$q: SinglePartition feeds a non-scalar-agg parent:\n$parent\n$l")
        }
    }
  }

  test("q_nb_auc_holdout / q_nb_test_report: prefix sums stay " +
    "ranged-partitioned (the score domain is corpus-sized)") {
    Seq("q_nb_auc_holdout", "q_nb_test_report").foreach { q =>
      val lines = plan(q).linesIterator.toVector
      val wins = lines.filter(_.contains("windowspecdefinition("))
      wins.foreach { l =>
        assert(l.contains("__pid_"),
          s"$q: window not keyed on the range-partition id: $l")
      }
    }
  }

  test("q_nb_split: cluster-domain rollups only — no window, no " +
    "corpus-keyed sort") {
    val p = plan("q_nb_split")
    assert(!p.contains("windowspecdefinition("),
      "the split audit must be pure partial-aggregated rollups")
    assert(p.contains("HashAggregate"), p.take(500))
  }

  test("q_crossmodal_gate: map-only scoring — the only exchanges are " +
    "the gated pair joins and the <=#sources rollup") {
    val p = plan("q_crossmodal_gate")
    assert(!p.contains("windowspecdefinition("), "no window anywhere")
    assert(p.contains("BroadcastHashJoin"),
      "fixture-sized embedding store rides the gate's broadcast arm")
    // dot products are the fused codegen kernel, not a lambda chain
    assert(p.contains("dot_product_q") || p.contains("dotproductq") ||
      p.toLowerCase.contains("dotproduct"), p.take(800))
  }
}
