package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation: the operators of this library
  * chained the way a 100 TB pretraining pipeline runs them —
  *
  *   ingest → quality filter → repetition filter → exact dedup →
  *   near-dup cluster dedup → language filter → length filter →
  *   benchmark decontamination → curated corpus (partitioned).
  *
  * Every stage reuses a verified `SparkEntry` operator, so the pipeline
  * inherits their oracle-checked semantics. Stage outputs are persisted
  * once each (the per-stage funnel counts and the final write would
  * otherwise re-run the whole upstream DAG per action); nothing beyond
  * the scalar counts ever reaches the driver.
  */
object CuratePipeline {

  final case class CurateStats(
      nInput: Long,
      nAfterQuality: Long,
      nAfterRepetition: Long,
      nAfterExactDedup: Long,
      nAfterNearDedup: Long,
      nAfterLanguage: Long,
      nAfterTokens: Long,
      nCurated: Long)

  def curate(
      s: SparkSession,
      sfDir: String,
      outDir: Option[String] = None,
      minQuality: Double = 0.45,
      keepLangs: Seq[String] = Seq("en"),
      minTokens: Int = 10,
      maxTopBigramFrac: Double = 0.20): (DataFrame, CurateStats) = {
    // the fused projection below (language scores + quality + two
    // tokenizations, shared by codegen) is the funnel's heaviest
    // map work and sits on the one-row-group scan — spread it
    // (no-op at scale; see Tables.spreadForCompute)
    val docs = Tables.spreadForCompute(
      Tables.documents(s, sfDir), s, sfDir, "documents")

    // Quality score, language ID, and token count are per-row
    // expressions over the same text column (the exact expressions of
    // the oracle-checked q_quality_score / q_lang_id / q_token_count
    // ops — shared defs, so they cannot drift): computed in ONE fused
    // projection over ONE corpus scan, instead of three separate scans
    // each joined back on doc_id. Whole-stage codegen shares the
    // tokenization across the three via subexpression elimination.
    // The repetition signal rides the same fused projection: the
    // funnel consumes ONLY top_bigram_frac, and the fused
    // `gram_run_stats` kernel computes the top-bigram count in place —
    // max(count)/sum(count) over per-doc bigram counts equals
    // top-run / (n_tokens - 1), so the double compares identically and
    // the old explode → two groupBys → join sub-DAG disappears. Docs
    // with < 2 tokens get NULL (they were absent from the old rep
    // frame → null after its left join), which the repetition cut
    // passes, same as before.
    val bigramFrac = {
      val t = TextOps.wsTokens(lower(col("text")))
      when(size(t) >= 2,
        element_at(graft.functions.GraftFunctions.gram_run_stats(t, 2), 1)
          .cast("double") / (size(t) - 1))
    }
    val base = TextOps.withLangPredicted(docs)
      .drop(TextOps.langStops.map(p => s"score_${p._1}"): _*)
      .withColumn("quality",
        TextOps.qualityColumns.last) // the weighted score, aliased "quality"
      .withColumn("n_tokens", size(TextOps.wsTokens(col("text"))))
      .withColumn("top_bigram_frac", bigramFrac)

    // The aggregating/global stages keep their own (oracle-verified)
    // DAGs and join ONCE each on doc_id; the accumulating frame stays
    // hash-partitioned by doc_id across the whole chain, so these are
    // co-partitioned joins after the first exchange.
    val exactKeep = Dedup.qDedupExact.fn(s, sfDir)
      .select(col("keep_id").as("doc_id"))
      .withColumn("exact_keep", lit(true))
    val nearKeep = Advanced.qDedupDecision.fn(s, sfDir)
      .select(col("doc_id"), col("keep").as("near_keep"))
    val contaminated = TextOps.qDecontaminate.fn(s, sfDir)
      .select(col("train_id").as("doc_id")).distinct()
      .withColumn("contaminated", lit(true))

    val fused = base
      .join(exactKeep, Seq("doc_id"), "left")
      .join(nearKeep, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .persist() // materialized once; read by the stats pass + the write

    // Cumulative stage predicates — identical decisions to the former
    // stage-by-stage semi-join chain:
    //  - repetition (Gopher-style, Rae et al. 2021 use 0.20 for the
    //    top-bigram share precisely so short documents are not
    //    mass-rejected): NULL frac passes, but a zero-token doc does
    //    NOT — the oracle's JOIN to the repetition CTE (which emits a
    //    row iff the doc has ≥ 1 unigram) excludes it, mirrored here
    //    as n_tokens >= 1;
    //  - exact/near dedup keep their keeper flags;
    //  - decontamination is the final anti condition.
    val c1 = col("quality") >= minQuality
    val c2 = c1 && col("n_tokens") >= 1 &&
      coalesce(col("top_bigram_frac") <= maxTopBigramFrac, lit(true))
    val c3 = c2 && coalesce(col("exact_keep"), lit(false))
    val c4 = c3 && coalesce(col("near_keep"), lit(false))
    val c5 = c4 && col("predicted").isin(keepLangs: _*)
    val c6 = c5 && col("n_tokens") >= minTokens
    val c7 = c6 && !coalesce(col("contaminated"), lit(false))

    // ONE job computes the whole funnel (conditional sums), where the
    // former chain persisted six intermediates and ran eight count()
    // actions — each a separate job over the cached lineage
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    val r = fused.agg(count(lit(1)), cnt(c1), cnt(c2), cnt(c3), cnt(c4),
      cnt(c5), cnt(c6), cnt(c7)).head()
    val stats = CurateStats(r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))

    val curated = fused.filter(c7)
      .select(docs.columns.map(col) :+ col("quality") :+ col("n_tokens"): _*)
    outDir.foreach { dir =>
      curated.write.mode("overwrite").partitionBy("lang").parquet(dir)
    }
    // Release the corpus-wide cache entry now that the stats job (and
    // the optional write) consumed it — repeated curate() calls in one
    // JVM (bench warmup + timed passes) must not accumulate cached
    // copies of the unfiltered corpus. A later action on the returned
    // `curated` recomputes its lineage, which is the right trade.
    fused.unpersist()
    (curated, stats)
  }

  /** q_curation_funnel — the WHOLE pipeline, oracle-verified: runs
    * [[curate]] with its defaults and emits the per-stage retention
    * funnel; the DuckDB oracle recomputes every stage by composing the
    * stage operators' own oracle SQL as CTEs (quality, repetition,
    * exact-dedup keepers, near-dup decision, language ID, token floor,
    * decontamination) and chains the same filters. One hash-matched
    * result proves the end-to-end composition, not just each stage.
    */
  val qCurationFunnel = graft.Q(
    "q_curation_funnel",
    (s, d) => {
      val (_, st) = curate(s, d)
      import s.implicits._
      Seq(
        (0, "input", st.nInput),
        (1, "quality", st.nAfterQuality),
        (2, "repetition", st.nAfterRepetition),
        (3, "exact_dedup", st.nAfterExactDedup),
        (4, "near_dedup", st.nAfterNearDedup),
        (5, "language", st.nAfterLanguage),
        (6, "token_floor", st.nAfterTokens),
        (7, "decontaminated", st.nCurated)
      ).toDF("stage", "stage_name", "n")
        .orderBy("stage")
    },
    Some {
      val qual = TextOps.qQualityScore.oracle.get
      val rep  = TextOps.qRepetition.oracle.get
      val ex   = Dedup.qDedupExact.oracle.get
      val near = Advanced.qDedupDecision.oracle.get
      val lang = TextOps.qLangId.oracle.get
      val tok  = TextOps.qTokenCount.oracle.get
      val cont = TextOps.qDecontaminate.oracle.get
      s"""WITH qual AS ($qual),
         |rep AS ($rep),
         |ex AS ($ex),
         |near AS ($near),
         |lang AS ($lang),
         |tok AS ($tok),
         |cont AS ($cont),
         |s1 AS (SELECT d.doc_id FROM documents d JOIN qual USING (doc_id)
         |       WHERE quality >= 0.45),
         |s2 AS (SELECT s1.doc_id FROM s1 JOIN rep USING (doc_id)
         |       WHERE coalesce(top_bigram_frac <= 0.20, true)),
         |s3 AS (SELECT s2.doc_id FROM s2
         |       JOIN (SELECT keep_id AS doc_id FROM ex) k USING (doc_id)),
         |s4 AS (SELECT s3.doc_id FROM s3
         |       JOIN (SELECT doc_id FROM near WHERE keep) nk USING (doc_id)),
         |s5 AS (SELECT s4.doc_id FROM s4 JOIN lang USING (doc_id)
         |       WHERE predicted = 'en'),
         |s6 AS (SELECT s5.doc_id FROM s5 JOIN tok USING (doc_id)
         |       WHERE n_tokens >= 10),
         |s7 AS (SELECT s6.doc_id FROM s6
         |       WHERE doc_id NOT IN (SELECT train_id FROM cont))
         |SELECT stage, stage_name, n FROM (
         |  SELECT 0 AS stage, 'input' AS stage_name,
         |    CAST(count(*) AS BIGINT) AS n FROM documents
         |  UNION ALL SELECT 1, 'quality', count(*) FROM s1
         |  UNION ALL SELECT 2, 'repetition', count(*) FROM s2
         |  UNION ALL SELECT 3, 'exact_dedup', count(*) FROM s3
         |  UNION ALL SELECT 4, 'near_dedup', count(*) FROM s4
         |  UNION ALL SELECT 5, 'language', count(*) FROM s5
         |  UNION ALL SELECT 6, 'token_floor', count(*) FROM s6
         |  UNION ALL SELECT 7, 'decontaminated', count(*) FROM s7)
         |ORDER BY stage""".stripMargin
    }
  )

  val all: Seq[graft.Q] = Seq(qCurationFunnel)

  def main(args: Array[String]): Unit = {
    val sfDir  = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) Some(args(1)) else None
    val spark = graft.Sessions.local(graft.Sessions.cpus)
    val (_, stats) = curate(spark, sfDir, outDir)
    println(s"curate: $stats")
    spark.stop()
  }
}
