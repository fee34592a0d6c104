package graft.tools

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** Scale probe beyond sf0.1 — the sf0.1→sf1 runtime-ratio sweep
  * recorded in SCALE.md.
  *
  * Every 100 TB claim in this repo otherwise rests on sf0.1 plan
  * shapes, and two past bugs (the q_cdc_chunks Catalyst-inlining trap,
  * the q_rfm range-sampling misalignment) were invisible at the small
  * scale. This main (a) materializes a ~sf1 dataset under
  * `target/sf1` — NEVER touching /root/testdata — by unioning 10
  * key-shifted copies of the driver's sf0.1 tables, and (b) times the
  * heaviest tier-2 operators at both scales, printing a
  * median-of-passes table with the growth ratio. A ratio well above
  * ~12× (10× data on fixed cores, plus noise headroom) flags a
  * super-linear stage.
  *
  * Key shifting preserves referential integrity copy by copy: fact
  * and entity keys get `+ k·(max+1)` per copy k (orders.o_custkey
  * shifts by the CUSTOMER stride, lineitem's three foreign keys by
  * their parents' strides), while the fixed dimensions
  * (region/nation) copy once — scaling data does not mint new
  * nations. Content perturbation keeps the dup/similarity structure
  * comparable to sf0.1 instead of pathological: copy k ≥ 1 suffixes
  * document text with a copy tag (n_chars recomputed) and rotates
  * embedding vectors by k positions (norm-preserving), so exact
  * replicas do not explode LSH buckets 100×.
  */
object ScaleProbe {

  private val Copies = 10

  /** The heaviest tier-2 operators by driver r07 medians, plus the
    * round-8 analytics batch's corpus-shuffling ops (the calendar-
    * bounded ones — q_theil_sen, q_cusum — should ratio near 1×: ten
    * key-shifted copies add rows per DAY, not days).
    */
  private val Heavy = Seq(
    "q_curation_funnel", "q_setsim_join", "q_simhash", "q_lda_power",
    "q_stream_merge", "q_bootstrap_ci", "q_mad_outliers", "q_cdc_chunks",
    "q_bpe_encode", "q_ppr_seed", "q_kcore", "q_ann_ivfpq",
    "q_auc", "q_ks_test", "q_stump", "q_cusum", "q_theil_sen",
    "q_chi2_terms", "q_winnow", "q_bpe_fertility", "q_stream_drift",
    "q_kmv_median",
    // round-8 third wave: the iterative/heavy additions
    "q_hits", "q_coverage_select", "q_secret_scan", "q_ams_f2",
    "q_count_sketch", "q_perm_test",
    "q_sorted_blocking", "q_deletion_vectors", "q_media_y4m", "q_mcnemar",
    // round-8 post-gate additions + round-9 batch. q_dedup_method_overlap
    // joins the FULL winnow pair set (~2000× the LSH set at shipped
    // thresholds), so its ratio is the one genuinely worth measuring.
    "q_range_frame", "q_license_scan", "q_dedup_method_overlap",
    "q_equidepth_hist", "q_media_dhash_dedup", "q_ann_recall",
    "q_media_audio_fingerprint", "q_importance_weights",
    // round-10 additions: heaps_law's token→first-doc shuffle is the
    // only vocabulary-sized stage of the round-9 second session;
    // unigram encode is one corpus tokenize + broadcast join
    "q_heaps_law", "q_unigram_encode", "q_media_dhash_survivors",
    "q_media_audio_spectral",
    // round-10 second wave: wordpiece encode is distinct-word MaxMatch
    // + broadcast join; nb_score is one token pass + broadcast model;
    // nb_auc adds the ranged prefix-sum over the score order
    "q_wordpiece_encode", "q_nb_score", "q_nb_auc",
    "q_constrained_write", "q_stream_constrained", "q_ann_matryoshka",
    "q_nb_thresholds",
    // round-11: the XL encode's substring-explode is the largest
    // intermediate added this round (≤ 31·7 candidate rows per
    // DISTINCT derived word); nb_split/holdout add the LSH-CC label
    // join + a second (train-scoped) counting pass; the crossmodal
    // gate is two vec_id equi-joins + map-only codegen
    "q_wordpiece_encode_xl", "q_nb_split", "q_nb_auc_holdout",
    "q_crossmodal_gate", "q_nb_test_report", "q_stream_crossmodal",
    // round-12: cluster-conditional mixture (k-means assignment +
    // ranged per-cluster rank) and the two encode paths whose serving
    // form changed (per-distinct-word gated joins replacing the
    // per-doc literal replace chain)
    "q_cluster_mix", "q_tokenizer_compare",
    // round-13: the artifact round trips re-run their in-session
    // twins' corpus-sized serving passes from a stored model (plus a
    // model-sized write + verification scan); the incremental SemDeDup
    // adds the batch-restricted in-cluster pair join
    "q_model_artifact_bpe", "q_model_artifact_nb",
    "q_model_artifact_kmeans", "q_semdedup_incr",
    "q_model_artifact_wordpiece", "q_model_artifact_unigram",
    "q_model_artifact_pq")

  def main(args: Array[String]): Unit = {
    val cpus = graft.Sessions.cpus
    val spark = graft.Sessions.local(cpus)

    val src = "/root/testdata/sf0.1"
    val dst = "target/sf1"
    if (!new File(dst, "_DONE").exists()) generate(spark, src, dst)

    val only: Set[String] = args.toSet
    val queries = Heavy.filter(n => only.isEmpty || only(n))
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap

    // the noop sink, exactly like Bench: a count() would let Catalyst
    // prune the map-side compute and drop output sorts (measured:
    // q_simhash "ran" in 0.09 s under count() vs ~4 s for the real plan)
    def time(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      byName(name).fn(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
    println("query,sf01_median,sf1_median,ratio")
    queries.foreach { q =>
      time(q, src) // warmup (memo training, page cache)
      val small = Vector.fill(passes)(time(q, src)).sorted.apply(passes / 2)
      time(q, dst)
      val big = Vector.fill(passes)(time(q, dst)).sorted.apply(passes / 2)
      println(f"$q,$small%.2f,$big%.2f,${big / small}%.1f")
    }
    spark.stop()
  }

  private def generate(spark: SparkSession, src: String, dst: String): Unit = {
    val t0 = System.nanoTime()
    new File(dst).mkdirs()

    def load(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    // Write each table as a single FILE named exactly <table>.parquet,
    // mirroring the driver's testdata layout. The distinction matters:
    // streaming readers glob with pathGlobFilter '<table>.parquet',
    // which matches FILE names only — against a part-file DIRECTORY of
    // that name they list zero inputs and the probe silently times an
    // EMPTY stream (this bit q_stream_drift's earlier sf1 ratio).
    def save(t: String, df: DataFrame): Unit = {
      val tmp = s"$dst/_tmp_$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val conf = spark.sessionState.newHadoopConf()
      val fs = new org.apache.hadoop.fs.Path(tmp).getFileSystem(conf)
      val part = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet"))(0).getPath
      val out = new org.apache.hadoop.fs.Path(s"$dst/$t.parquet")
      fs.delete(out, true)
      fs.rename(part, out)
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    // fixed dimensions: copy once
    save("region", load("region"))
    save("nation", load("nation"))

    def copies(df: DataFrame)(shift: (DataFrame, Int) => DataFrame)
        : DataFrame =
      (0 until Copies).map(k => shift(df, k)).reduce(_ unionByName _)

    val cust = load("customer"); val custS = stride(cust, "c_custkey")
    save("customer", copies(cust) { (d, k) =>
      d.withColumn("c_custkey", col("c_custkey") + lit(k * custS))
    })
    val supp = load("supplier"); val suppS = stride(supp, "s_suppkey")
    save("supplier", copies(supp) { (d, k) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(k * suppS))
    })
    val part = load("part"); val partS = stride(part, "p_partkey")
    save("part", copies(part) { (d, k) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(k * partS))
    })
    val ord = load("orders"); val ordS = stride(ord, "o_orderkey")
    save("orders", copies(ord) { (d, k) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(k * ordS))
        .withColumn("o_custkey", col("o_custkey") + lit(k * custS))
    })
    save("lineitem", copies(load("lineitem")) { (d, k) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(k * ordS))
        .withColumn("l_partkey", col("l_partkey") + lit(k * partS))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * suppS))
    })
    val ev = load("events"); val evS = stride(ev, "event_id")
    val userS = ev.agg(max(col("user_id"))).head().getLong(0) + 1L
    save("events", copies(ev) { (d, k) =>
      d.withColumn("event_id", col("event_id") + lit(k * evS))
        .withColumn("user_id", col("user_id") + lit(k * userS))
    })
    val docs = load("documents"); val docS = stride(docs, "doc_id")
    save("documents", copies(docs) { (d, k) =>
      // copy k ≥ 1 prefixes EVERY token with the copy digit: token
      // sets (and so shingles, minhashes, LSH buckets) are disjoint
      // across copies — a plain replica suffix would make every doc a
      // mutual near-dup of its 9 copies and quadratically explode any
      // similarity join's TRUE output, poisoning the ratio with data
      // growth that is not engine scaling
      val t = if (k == 0) col("text")
        else concat(lit(s"$k"),
          regexp_replace(col("text"), " ", s" $k"))
      d.withColumn("doc_id", col("doc_id") + lit(k * docS))
        .withColumn("text", t)
        .withColumn("n_chars", length(col("text")).cast("long"))
    })
    val emb = load("embeddings"); val embS = stride(emb, "vec_id")
    save("embeddings", copies(emb) { (d, k) =>
      val e = if (k == 0) col("embedding")
        else concat(slice(col("embedding"), k + 1, 64 - k),
          slice(col("embedding"), 1, k))
      d.withColumn("vec_id", col("vec_id") + lit(k * embS))
        .withColumn("embedding", e)
    })
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dst, "_DONE"), Array.empty[Byte])
    println(f"generated sf1 under $dst in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}
