package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see SURVEY.md §7. */
object SparkEntry {
  /** The registry in titled groups, one per operator object: the
    * sections of OPERATORS.md ([[CatalogDump]]). Order is the §7.2
    * build order.
    */
  def groups: Seq[(String, Seq[Q])] = Seq(
    "Relational core (Tier B)"       -> ops.Relational.all,
    "Text analysis"                  -> ops.TextOps.all,
    "Deduplication"                  -> ops.Dedup.all,
    "Similarity search"              -> ops.Similarity.all,
    "SQL analytics"                  -> ops.Analytics.all,
    "Streaming"                      -> ops.StreamingOps.all,
    "Mailbox connector (Tier A)"     -> ops.MailboxQueries.all,
    "Real PST binary (Tier A)"       -> ops.PstQueries.all,
    "Multimodal"                     -> ops.Multimodal.all,
    "Custom expressions"             -> ops.CustomFnQueries.all,
    "Temporal joins"                 -> ops.Temporal.all,
    "Scalars & predicates"           -> ops.Scalars.all,
    "Collections & subqueries"       -> ops.Collections.all,
    "SQL-text entry points"          -> ops.SqlSurface.all,
    "SQL-text entry points, pt 2"    -> ops.SqlSurface2.all,
    "Statistics & ordered aggs"      -> ops.Stats.all,
    "Composed operators"             -> ops.Advanced.all,
    "Reshaping & sessions"           -> ops.Reshape.all,
    "Reproducible sampling"          -> ops.Sampling.all,
    "Histograms, cross join, mode"   -> ops.Extras.all,
    "Event analytics"                -> ops.EventAnalytics.all,
    "Data layout"                    -> ops.Layout.all,
    "Relevance ranking"              -> ops.Ranking.all,
    "Profiling & time series"        -> ops.Profiling.all,
    "Corpus construction"            -> ops.Corpus.all,
    "Curation pipeline"              -> ops.CuratePipeline.all,
    "Tokenizer training (BPE)"       -> ops.Bpe.all,
    "Tokenizer training (unigram LM)" -> ops.Unigram.all,
    "Tokenizer training (WordPiece)" -> ops.Wordpiece.all,
    "Production-vocab encoding"      -> ops.WordpieceXl.all,
    "Trained quality classifier"     -> ops.Classifier.all,
    "Safety (PII)"                   -> ops.Safety.all,
    "Sketches"                       -> ops.Sketches.all,
    "Graph analytics"                -> ops.Graph.all,
    "Persisted model artifacts"      -> ops.ModelStore.all
  )

  /** Full registry of implemented operators (SURVEY.md §2 + pipeline
    * extensions), in [[groups]] order.
    */
  def registry: Seq[Q] = groups.flatMap(_._2)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Relational.qGroupbyAgg.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Headline queries for Bench.scala. Kept stable across rounds so
    * BENCH_r{N}.json totals stay comparable.
    */
  def benchQueries: Seq[Q] = registry.filter(_.bench)

  /** Second, non-headline bench tier: the heavy pipeline operators the
    * headline set doesn't cover (span dedup, ExactSubstr both halves,
    * PQ ANN, vocabulary overlap, the end-to-end curation funnel).
    * Reported in the same Bench JSON under `queries_tier2` so
    * regressions here are visible in the artifact without touching the
    * headline total.
    */
  def benchTier2: Seq[Q] = {
    val names = Seq("q_span_dedup", "q_substr_regions", "q_substr_cut",
      "q_ann_pq", "q_source_overlap", "q_curation_funnel", "q_simhash",
      "q_bpe_encode", "q_bigram_lm", "q_classifier_score",
      "q_ppr_seed", "q_pmi_cooccur", "q_boilerplate", "q_mmr_rerank",
      "q_random_projection", "q_weighted_reservoir", "q_ann_ivfpq",
      "q_colbert_maxsim", "q_setsim_join", "q_cdc_chunks", "q_hilbert",
      "q_kcore", "q_stream_merge", "q_lda_power", "q_bootstrap_ci",
      "q_mad_outliers", "q_span_corruption", "q_t_closeness", "q_key_skew",
      "q_auc", "q_chi2_terms", "q_theil_sen", "q_stream_drift",
      "q_winnow", "q_bpe_fertility",
      "q_hits", "q_coverage_select", "q_secret_scan", "q_ams_f2",
      "q_sorted_blocking", "q_deletion_vectors", "q_media_y4m",
      // round 9: the perceptual dedup pair + the importance selector
      "q_media_dhash_dedup", "q_media_audio_fingerprint",
      "q_importance_weights",
      // round 10: the round-9 second-session ops (q_heaps_law's
      // token→first-doc shuffle is the only vocabulary-sized stage
      // added that round) + the de-skewed survivors rollup
      "q_heaps_law", "q_pass_at_k", "q_media_dhash_survivors",
      "q_cluster_safe_split",
      // round 10: unigram-LM tokenizer (train feeds encode's memo) +
      // the spectral audio rung
      "q_unigram_train", "q_unigram_encode", "q_media_audio_spectral",
      "q_tokenizer_compare",
      // round 10 second wave: WordPiece completes the tokenizer triad;
      // the NB classifier pair is the trained-filter workflow
      // (q_nb_auc's globalCumSum is its only corpus-sized shuffle)
      "q_wordpiece_train", "q_wordpiece_encode",
      "q_nb_train", "q_nb_score", "q_nb_auc",
      // the write-time CHECK-constraint gate (two writes + dup audit)
      // and its continuous-ingest twin
      "q_constrained_write", "q_stream_constrained",
      // the MRL prefix-truncation recall ladder (4 exact-KNN rungs)
      // and the classifier retention-threshold sweep
      "q_ann_matryoshka", "q_nb_thresholds",
      // round 11: the table-held-vocabulary MaxMatch rung (the only
      // new corpus-sized intermediate — 31·7 candidates per distinct
      // derived word), the leakage-safe split + holdout AUC pair
      // (LSH-CC labels + a train-scoped counting pass), and the
      // cross-modal alignment gate (two vec_id joins, map-only score)
      "q_wordpiece_encode_xl", "q_nb_split", "q_nb_auc_holdout",
      "q_crossmodal_gate", "q_nb_test_report", "q_stream_crossmodal",
      // round 12: cluster-conditional mixture (memoized k-means
      // assignment + ranged two-pass per-cluster rank)
      "q_cluster_mix",
      // round 13: the persisted-model round trips (each re-runs its
      // corpus-sized serving pass from the stored artifact) and the
      // batch-incremental embedding dedup
      "q_model_artifact_bpe", "q_model_artifact_nb",
      "q_model_artifact_kmeans", "q_semdedup_incr",
      "q_model_artifact_wordpiece", "q_model_artifact_unigram",
      "q_model_artifact_pq")
    val byName = registry.map(q => q.name -> q).toMap
    names.map(byName)
  }
}
