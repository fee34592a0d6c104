package graft.ops

import graft.{Hash, OracleSql, Q, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline
  * (builder-brief extension beyond the reference; SURVEY.md §2 notes).
  *
  * All ops run on the `documents` table and are engineered so the exact
  * same arithmetic is expressible in DuckDB for the oracle: counting via
  * regex/list operations, single-division ratios (deterministic IEEE),
  * and md5 (identical hex in both engines) as the only hash primitive.
  *
  * Scale notes (100 TB): every op here is a narrow per-row map — no
  * shuffle at all. They pipeline inside whole-stage codegen over the
  * parquet scan, so throughput is scan-bound; at cluster scale they
  * parallelize embarrassingly per file split.
  */
object TextOps {

  /** Non-empty whitespace-separated tokens of `c` — THE tokenization
    * rule; shared with Ranking so text stats, dedup shingling, and
    * relevance scoring can never drift apart.
    */
  private[ops] def wsTokens(c: Column): Column =
    filter(split(c, "\\s+"), t => t =!= lit(""))

  /** q_token_count — whitespace tokenization + BPE-ish size estimate
    * (`ceil(chars/4)`, the usual subword-token rule of thumb).
    */
  val qTokenCount = Q(
    "q_token_count",
    (s, d) =>
      Tables
        .documents(s, d)
        .select(
          col("doc_id"),
          size(wsTokens(col("text"))).as("n_tokens"),
          ceil(length(col("text")) / lit(4.0)).cast("int").as("n_bpe_est"),
          length(col("text")).as("n_chars_m")
        )
        .orderBy("doc_id"),
    Some(
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t <> '')) AS INT) AS n_tokens,
        |  CAST(ceil(length(text) / 4.0) AS INT) AS n_bpe_est,
        |  CAST(length(text) AS INT) AS n_chars_m
        |FROM documents ORDER BY doc_id""".stripMargin
    ),
    bench = true
  )

  /** The q_quality_score ratio/score expressions over the `text`
    * column — ONE definition, used by the registered op and by the
    * fused single-scan projection in [[CuratePipeline]]. Order:
    * alpha_ratio, ws_ratio, stop_ratio, len_sat, quality.
    */
  private[ops] def qualityColumns: Seq[Column] = {
    import graft.functions.GraftFunctions.chars_in_ranges
    val text  = col("text")
    val n     = greatest(length(text), lit(1))
    // chars_in_ranges == length(regexp_replace(text, "[^class]", ""))
    // (the oracle keeps the regex form), codegen'd without the regex
    // pass or the stripped-string allocation
    val alpha = chars_in_ranges(text, Seq('a'.toInt -> 'z'.toInt, 'A'.toInt -> 'Z'.toInt))
    val ws    = chars_in_ranges(text, Seq(' '.toInt -> ' '.toInt, 9 -> 9, 10 -> 10))
    val toks  = wsTokens(text)
    val stops = size(
      filter(toks, t => t.isin("the", "a", "and", "of", "to", "in"))
    )
    val alphaRatio = alpha.cast("double") / n
    val wsRatio    = ws.cast("double") / n
    val stopRatio  = stops.cast("double") / greatest(size(toks), lit(1))
    val lenSat     = least(lit(1.0), length(text).cast("double") / lit(500.0))
    Seq(
      alphaRatio.as("alpha_ratio"),
      wsRatio.as("ws_ratio"),
      stopRatio.as("stop_ratio"),
      lenSat.as("len_sat"),
      (alphaRatio * lit(0.4) + (lit(1.0) - wsRatio) * lit(0.2) +
        stopRatio * lit(0.2) + lenSat * lit(0.2)).as("quality")
    )
  }

  /** q_quality_score — document-quality heuristics: alphabetic ratio,
    * whitespace ratio, stopword ratio, length saturation; combined into
    * one weighted score. Ratios are a single division of exact ints so
    * both engines produce bit-identical doubles.
    */
  val qQualityScore = Q(
    "q_quality_score",
    (s, d) =>
      Tables
        .documents(s, d)
        .select(col("doc_id") +: qualityColumns: _*)
        .orderBy("doc_id"),
    Some(
      """WITH q AS (
        |  SELECT doc_id,
        |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) AS alpha_ratio,
        |    CAST(length(regexp_replace(text, '[^ \t\n]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) AS ws_ratio,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |           t -> t IN ('the','a','and','of','to','in'))) AS DOUBLE)
        |      / greatest(len(list_filter(string_split_regex(text, '\s+'),
        |           t -> t <> '')), 1) AS stop_ratio,
        |    least(1.0, CAST(length(text) AS DOUBLE) / 500.0) AS len_sat
        |  FROM documents)
        |SELECT doc_id, alpha_ratio, ws_ratio, stop_ratio, len_sat,
        |  alpha_ratio * 0.4 + (1.0 - ws_ratio) * 0.2 + stop_ratio * 0.2
        |    + len_sat * 0.2 AS quality
        |FROM q ORDER BY doc_id""".stripMargin
    ),
    bench = true
  )

  /** Stopword profiles for the language-ID heuristic. Real-world lists;
    * on the synthetic corpus most docs score as 'en', which is fine —
    * the op's contract is the deterministic heuristic, oracle-mirrored.
    */
  private[ops] val langStops: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "la", "y", "los", "que")
  )

  /** Adds `score_<lang>` columns and the `predicted` language to a
    * frame with a `text` column — ONE definition, used by the
    * registered q_lang_id op and the fused scan in [[CuratePipeline]].
    *
    * Two projection levels on purpose: tokens and per-language scores
    * materialize first, then the argmax fold references the score
    * ATTRIBUTES. Folding over the score expressions directly would
    * duplicate each (interpreted higher-order filter + re-split of the
    * text) up to ~10× per row through the when-chains — CollapseProject
    * keeps the levels separate because the aliases are referenced more
    * than once.
    */
  private[ops] def withLangPredicted(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.GraftFunctions.chars_in_ranges
    val toks = wsTokens(col("text"))
    val nTok = greatest(size(toks), lit(1))
    // counts the same class as regexp_replace(text,'[^\x{4e00}-\x{9fff}]','')
    // in the oracle, without the regex pass
    val cjk = chars_in_ranges(col("text"), Seq(0x4e00 -> 0x9fff))
      .cast("double") / greatest(length(col("text")), lit(1))
    val scored = df.select(
      col("*") +: cjk.as("__cjk") +: langStops.map { case (lang, stops) =>
        (size(filter(toks, t => t.isin(stops: _*))).cast("double") / nTok)
          .as(s"score_$lang")
      }: _*)
    // argmax with fixed tie-break order (en, de, fr, es), zh shortcut
    val best = langStops.tail.foldLeft(
      (col(s"score_${langStops.head._1}"), lit(langStops.head._1))
    ) { case ((bestScore, bestLang), (lang, _)) =>
      val score = col(s"score_$lang")
      (
        when(score > bestScore, score).otherwise(bestScore),
        when(score > bestScore, lit(lang)).otherwise(bestLang)
      )
    }
    scored
      .withColumn("predicted", when(col("__cjk") > 0.3, "zh").otherwise(best._2))
      .drop("__cjk")
  }

  /** q_lang_id — stopword-frequency language ID with a CJK-character
    * ratio shortcut for zh. Ties broken by the fixed profile order.
    */
  /** The DuckDB mirror of [[withLangPredicted]] as a CTE chain ending
    * in `pred(doc_id, lang, score_*, predicted)` — shared by the
    * q_lang_id oracle and the agreement audit built on it.
    */
  private def oraclePredCtes: String = {
    val toks = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"
    val scoreDefs = langStops
      .map { case (lang, stops) =>
        val set = stops.map(w => s"'$w'").mkString(",")
        s"""CAST(len(list_filter($toks, t -> t IN ($set))) AS DOUBLE)
           |      / greatest(len($toks), 1) AS score_$lang""".stripMargin
      }
      .mkString(",\n    ")
    // mirror of the fold: strict > keeps the earlier lang on ties
    val arg = langStops.map(_._1).tail.foldLeft("'" + langStops.head._1 + "'") {
      case (acc, lang) =>
        val better = langStops
          .map(_._1)
          .takeWhile(_ != lang)
          .map(prev => s"score_$lang > score_$prev")
          .mkString(" AND ")
        s"CASE WHEN $better THEN '$lang' ELSE $acc END"
    }
    s"""sc AS (
       |  SELECT doc_id, lang,
       |    $scoreDefs,
       |    CAST(length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS DOUBLE)
       |      / greatest(length(text), 1) AS cjk
       |  FROM documents),
       |pred AS (
       |  SELECT doc_id, lang, score_en, score_de, score_fr, score_es,
       |    CASE WHEN cjk > 0.3 THEN 'zh' ELSE $arg END AS predicted
       |  FROM sc)""".stripMargin
  }

  val qLangId = Q(
    "q_lang_id",
    (s, d) =>
      withLangPredicted(Tables.documents(s, d))
        .select(
          col("doc_id") +: col("lang") +: col("predicted") +:
            langStops.map { case (l, _) => col(s"score_$l") }: _*
        )
        .orderBy("doc_id"),
    Some(
      s"""WITH $oraclePredCtes
         |SELECT doc_id, lang, predicted,
         |  score_en, score_de, score_fr, score_es
         |FROM pred ORDER BY doc_id""".stripMargin
    )
  )

  /** q_label_noise — label-quality audit: the declared `lang` column
    * checked against the text-derived language-ID prediction, per
    * source (the "trust your metadata?" pass a curation pipeline runs
    * before using provider labels for mixture decisions — disagreement
    * concentrating in one source usually means that source's metadata
    * is wrong, not the classifier). Reuses q_lang_id's predictor
    * verbatim on both engines; reports per-source mismatch in exact
    * ppm. (The fixture's lang labels are assigned independently of
    * text, so the measured disagreement is high — which is exactly
    * what the audit is FOR.)
    *
    * 100 TB shape: the predictor is map-only (stopword counts inside
    * the scan projection); the audit aggregate carries one row per
    * source.
    */
  val qLabelNoise = Q(
    "q_label_noise",
    (s, d) =>
      withLangPredicted(Tables.documents(s, d))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("predicted") =!= col("lang"), 1L).otherwise(0L))
            .as("n_mismatch"))
        .select(col("source"), col("n_docs"), col("n_mismatch"),
          expr("n_mismatch * 1000000 div n_docs").as("mismatch_ppm"))
        .orderBy("source"),
    Some(
      s"""WITH pred AS (
         |${qLangId.oracle.get}
         |)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN p.predicted <> p.lang THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_mismatch,
         |  CAST(sum(CASE WHEN p.predicted <> p.lang THEN 1 ELSE 0 END)
         |    AS BIGINT) * 1000000 // count(*) AS mismatch_ppm
         |FROM pred p JOIN documents d ON d.doc_id = p.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin
    )
  )

  /** q_fingerprint — winnowing-style document fingerprint: md5 over
    * sliding 32-char windows (step 8), keep the lexicographic minimum.
    * Robust to small edits away from the minimal window; the standard
    * rolling-hash fingerprint for near-dup detection at corpus scale.
    */
  val qFingerprint = Q(
    "q_fingerprint",
    (s, d) => {
      val starts =
        sequence(lit(1), greatest(length(col("text")) - 31, lit(1)), lit(8))
      val fp = array_min(transform(starts, i => md5(col("text").substr(i, lit(32)))))
      Tables
        .documents(s, d)
        .select(col("doc_id"), fp.as("fp"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id,
        |  list_aggregate(list_transform(
        |    range(1, greatest(length(text) - 31, 1) + 1, 8),
        |    i -> md5(substr(text, i, 32))), 'min') AS fp
        |FROM documents ORDER BY doc_id""".stripMargin
    )
  )

  /** q_text_normalize — canonicalization before dedup/hashing: lower-
    * case, strip non-alphanumerics, collapse whitespace, trim. Emitted
    * with the canonical md5 so downstream exact-dedup keys on it.
    */
  val qTextNormalize = Q(
    "q_text_normalize",
    (s, d) => {
      val canon = trim(
        regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9\\s]", " "),
          "\\s+", " "))
      Tables
        .documents(s, d)
        .select(
          col("doc_id"),
          canon.as("canon_text"),
          md5(canon).as("canon_hash"),
          length(canon).as("canon_len"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
        |       '\s+', ' ', 'g')) AS canon_text,
        |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
        |       '\s+', ' ', 'g'))) AS canon_hash,
        |  CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', ' ', 'g'),
        |       '\s+', ' ', 'g'))) AS INT) AS canon_len
        |FROM documents ORDER BY doc_id""".stripMargin
    )
  )

  /** q_redact — PII scrubbing: emails and long digit runs replaced with
    * placeholder tokens (the pre-training privacy pass). The fixture
    * text has no PII, so a deterministic synthetic suffix containing an
    * email and an id is appended first — the redaction regexes are the
    * operator under test.
    */
  val qRedact = Q(
    "q_redact",
    (s, d) => {
      val withPii = concat(
        substring(col("text"), 1, 40),
        lit(" contact: user"), col("doc_id"), lit("@example.com id "),
        (col("doc_id") * 7919).cast("string"))
      val redacted = regexp_replace(
        regexp_replace(withPii, "[A-Za-z0-9._]+@[A-Za-z0-9.]+", "<EMAIL>"),
        "\\d{3,}", "<NUM>")
      Tables
        .documents(s, d)
        .select(col("doc_id"), redacted.as("redacted"))
        .orderBy("doc_id")
    },
    Some(
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(
        |    substr(text, 1, 40) || ' contact: user' || doc_id
        |      || '@example.com id ' || CAST(doc_id * 7919 AS VARCHAR),
        |    '[A-Za-z0-9._]+@[A-Za-z0-9.]+', '<EMAIL>', 'g'),
        |    '\d{3,}', '<NUM>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin
    )
  )

  /** q_decontaminate — benchmark decontamination, the standard 13-gram
    * collision check run before any training corpus ships: a training
    * document is contaminated if it shares at least one word-level
    * 13-gram with the held-out benchmark set (docs with doc_id % 20 == 0
    * stand in for the benchmark here). Output: contaminated training
    * docs with their distinct shared-gram counts.
    *
    * 100 TB shape: grams travel as 16-byte md5 digests, the benchmark
    * gram set is tiny relative to the corpus (eval sets are thousands
    * of docs) and is broadcast — the training side is scanned once,
    * map-side joined, and only per-doc counts are aggregated; the
    * corpus text never shuffles.
    */
  val qDecontaminate = Q(
    "q_decontaminate",
    (s, d) => {
      // one md5 per 13-gram (stride 1) fused on the one-row-group scan
      // — spread first (no-op at scale; see Tables.spreadForCompute)
      val docs = Tables.spreadForCompute(
        Tables.documents(s, d), s, d, "documents")
      def grams(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"), wsTokens(lower(col("text"))).as("t"))
        .filter(size(col("t")) >= 13)
        .select(col("doc_id"), explode(
          transform(sequence(lit(1), size(col("t")) - 12),
            i => md5(concat_ws(" ", slice(col("t"), i, lit(13)))))).as("g"))
        .distinct()
      val g = grams(docs)
      val train = g.filter(col("doc_id") % 20 =!= 0)
        .withColumnRenamed("doc_id", "train_id")
      val bench = g.filter(col("doc_id") % 20 === 0).select("g").distinct()
      train
        .join(broadcast(bench), "g")
        .groupBy("train_id")
        .agg(count_distinct(col("g")).as("n_shared"))
        .orderBy("train_id")
    },
    Some(
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT DISTINCT doc_id, md5(array_to_string(t[i:i+12], ' ')) AS g
        |  FROM toks, UNNEST(range(1, len(t) - 11)) AS u(i)
        |  WHERE len(t) >= 13)
        |SELECT tr.doc_id AS train_id, count(DISTINCT tr.g) AS n_shared
        |FROM grams tr
        |JOIN (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0) be
        |  ON tr.g = be.g
        |WHERE tr.doc_id % 20 <> 0
        |GROUP BY 1 ORDER BY train_id""".stripMargin
    )
  )

  /** q_repetition — Gopher-style within-document repetition signals,
    * the quality filters a pretraining pipeline applies before dedup
    * (Rae et al. 2021 §A1.1: documents dominated by repeated lines or
    * n-grams are low-quality): per document,
    *  - `dup_word_frac`   — fraction of word occurrences beyond each
    *    word's first (1 - distinct/total),
    *  - `top_bigram_frac` — share of bigram occurrences taken by the
    *    single most frequent bigram,
    *  - `dup_trigram_frac` — fraction of trigram occurrences whose gram
    *    appears more than once.
    *
    * Shape: MAP-ONLY — every signal is per-document, so instead of
    * exploding (doc_id, n, gram) and shuffling every gram string, each
    * task computes its documents' stats in place with the fused
    * `gram_run_stats` kernel ([[graft.functions.TextKernel]]: build
    * grams, sort, fold runs — longest equal run = top gram count,
    * occurrences in runs > 1 = duplicated occurrences). No gram ever
    * leaves its task; the only exchange is the output ORDER BY.
    * Fractions are single divisions of exact ints → bit-identical
    * doubles in both engines (the oracle keeps the definitional
    * explode-and-count form).
    */
  val qRepetition = Q(
    "q_repetition",
    (s, d) => {
      import graft.functions.GraftFunctions.gram_run_stats
      Tables.documents(s, d)
        .select(col("doc_id"), wsTokens(lower(col("text"))).as("t"))
        // the explode form dropped zero-token docs (no gram rows);
        // keep that contract explicitly
        .filter(size(col("t")) > 0)
        .select(col("doc_id"),
          size(col("t")).cast("long").as("n_words"),
          (size(col("t")) - size(array_distinct(col("t")))).cast("long")
            .as("dup_w"),
          element_at(gram_run_stats(col("t"), 2), 1).as("top_bg"),
          when(size(col("t")) >= 2, size(col("t")) - 1).cast("long")
            .as("n_bg"),
          element_at(gram_run_stats(col("t"), 3), 2).as("dup_tg"),
          when(size(col("t")) >= 3, size(col("t")) - 2).cast("long")
            .as("n_tg"))
        .select(
          col("doc_id"),
          col("n_words").cast("int").as("n_words"),
          (col("dup_w").cast("double") / col("n_words")).as("dup_word_frac"),
          (col("top_bg").cast("double") / col("n_bg")).as("top_bigram_frac"),
          (col("dup_tg").cast("double") / col("n_tg")).as("dup_trigram_frac"))
        .orderBy("doc_id")
    },
    Some(
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, n.n AS n, array_to_string(t[i:i+n.n-1], ' ') AS g
        |  FROM toks
        |  CROSS JOIN (SELECT UNNEST(ARRAY[1,2,3]) AS n) n,
        |  UNNEST(range(1, len(t) - n.n + 2)) AS u(i)
        |  WHERE len(t) >= n.n),
        |counts AS (
        |  SELECT doc_id, n, g, count(*) AS c FROM grams GROUP BY 1, 2, 3),
        |per_n AS (
        |  SELECT doc_id, n, sum(c) AS total, count(*) AS distinct_,
        |    max(c) AS maxc,
        |    coalesce(sum(c) FILTER (WHERE c > 1), 0) AS dup_occ
        |  FROM counts GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(max(total) FILTER (WHERE n = 1) AS INT) AS n_words,
        |  CAST(max(total - distinct_) FILTER (WHERE n = 1) AS DOUBLE)
        |    / max(total) FILTER (WHERE n = 1) AS dup_word_frac,
        |  CAST(max(maxc) FILTER (WHERE n = 2) AS DOUBLE)
        |    / max(total) FILTER (WHERE n = 2) AS top_bigram_frac,
        |  CAST(max(dup_occ) FILTER (WHERE n = 3) AS DOUBLE)
        |    / max(total) FILTER (WHERE n = 3) AS dup_trigram_frac
        |FROM per_n GROUP BY doc_id ORDER BY doc_id""".stripMargin
    )
  )

  /** q_vocab_coverage — corpus vocabulary coverage curve: the top-50
    * words by frequency with each prefix's cumulative share of all
    * token occurrences — the "how big must the vocab be to cover X% of
    * the corpus" curve a tokenizer design starts from.
    *
    * 100 TB shape: one tokenize+explode pass partial-aggregated to
    * (word, count); the ranking touches vocabulary-sized data (≪
    * corpus); shares are single divisions of exact counts.
    */
  val qVocabCoverage = Q(
    "q_vocab_coverage",
    (s, d) => {
      val counts = Tables.documents(s, d)
        .select(explode(wsTokens(lower(col("text")))).as("word"))
        .groupBy("word")
        .agg(count(lit(1)).as("n"))
      val total = counts.agg(sum(col("n")).as("total"))
      // top-50 FIRST via orderBy+limit (TakeOrderedAndProject: per-
      // partition top-k, merged on one task over 50-row candidates) —
      // the global window then runs over ≤50 rows by construction,
      // never the whole vocabulary
      val top = counts.orderBy(col("n").desc, col("word").asc).limit(50)
      val w = Window.orderBy(col("n").desc, col("word").asc)
      top
        .withColumn("rank", row_number().over(w))
        .withColumn("cum_n", sum(col("n")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(total))
        .select(col("rank"), col("word"), col("n"),
          (col("cum_n").cast("double") / col("total")).as("cum_share"))
        .orderBy("rank")
    },
    Some(
      """WITH counts AS (
        |  SELECT word, count(*) AS n
        |  FROM (SELECT unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), t -> t <> '')) AS word
        |    FROM documents)
        |  GROUP BY word),
        |ranked AS (
        |  SELECT word, n,
        |    row_number() OVER (ORDER BY n DESC, word ASC) AS rank,
        |    sum(n) OVER (ORDER BY n DESC, word ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
        |  FROM counts)
        |SELECT CAST(rank AS INT) AS rank, word, n,
        |  CAST(cum_n AS DOUBLE) / (SELECT sum(n) FROM counts) AS cum_share
        |FROM ranked WHERE rank <= 50 ORDER BY rank""".stripMargin
    )
  )

  /** q_dialog_flatten — SFT conversation prep: each document's token
    * stream is segmented into alternating user/assistant turns of 12
    * tokens (the deterministic stand-in for a real turn splitter), and
    * flattened to one row per turn with the loss mask an instruction-
    * tuning trainer consumes — `loss_mask` true only on assistant
    * turns, so the loss is computed on responses and not prompts.
    *
    * 100 TB shape: pure map-side explode on the scan (turn spans are
    * built with slice/transform inside codegen, no join, no state);
    * the only exchange is the output sort, which a real pipeline
    * replaces with a partitioned write.
    */
  val qDialogFlatten = Q(
    "q_dialog_flatten",
    (s, d) => {
      val T = 12
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), wsTokens(col("text")).as("t"))
        .filter(size(col("t")) > 0)
      val nTurns = (floor((size(col("t")) - 1) / T) + 1).cast("int")
      docs
        .select(col("doc_id"), col("t"),
          posexplode(sequence(lit(0), nTurns - 1)).as(Seq("pos", "k")))
        .select(
          col("doc_id"),
          col("k").as("turn_idx"),
          when(pmod(col("k"), lit(2)) === 0, lit("user"))
            .otherwise(lit("assistant")).as("role"),
          size(slice(col("t"), col("k") * T + 1, lit(T))).as("n_tok"),
          (pmod(col("k"), lit(2)) === 1).as("loss_mask"),
          concat_ws(" ", slice(col("t"), col("k") * T + 1, lit(T)))
            .as("turn_text"))
        .orderBy("doc_id", "turn_idx")
    },
    Some(
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
        |  FROM documents),
        |turns AS (
        |  SELECT doc_id, CAST(u.k AS INT) AS turn_idx,
        |    t[u.k*12+1 : u.k*12+12] AS seg
        |  FROM toks, UNNEST(range(0, (len(t)-1)//12 + 1)) AS u(k)
        |  WHERE len(t) > 0)
        |SELECT doc_id, turn_idx,
        |  CASE WHEN turn_idx % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
        |  CAST(len(seg) AS INT) AS n_tok,
        |  turn_idx % 2 = 1 AS loss_mask,
        |  array_to_string(seg, ' ') AS turn_text
        |FROM turns ORDER BY doc_id, turn_idx""".stripMargin
    )
  )

  /** q_fim_split — fill-in-the-middle training split (the PSM
    * transform code models train on): each document ≥ 3 tokens is cut
    * at two deterministic md5-derived points into (prefix, middle,
    * suffix) and re-serialized in prefix-suffix-middle order with
    * sentinel markers, so the model learns to infill. No RNG: the cut
    * points are md5-uniforms of the doc_id reduced modulo the valid
    * ranges — exact integer arithmetic, identical in both engines.
    *
    * 100 TB shape: map-only (two md5s + array slices per row, all
    * codegen); the only exchange is the output sort.
    */
  val qFimSplit = Q(
    "q_fim_split",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), wsTokens(col("text")).as("t"))
        .withColumn("n", size(col("t")))
        .filter(col("n") >= 3)
      def u(tag: String) =
        Hash.hexToBigint(md5(concat(lit(tag), col("doc_id").cast("string"))))
          .cast("long")
      val p1 = (u("fim1-") % (col("n") - 2) + 1).cast("int")
      val withP1 = docs.withColumn("p1", p1)
      val p2 = (u("fim2-") % (col("n") - 1 - col("p1")) + col("p1") + 1)
        .cast("int")
      withP1.withColumn("p2", p2)
        .select(col("doc_id"), col("n").as("n_tok"), col("p1"), col("p2"),
          concat_ws(" ", slice(col("t"), lit(1), col("p1"))).as("prefix"),
          concat_ws(" ", slice(col("t"), col("p1") + 1, col("p2") - col("p1")))
            .as("middle"),
          concat_ws(" ", slice(col("t"), col("p2") + 1, col("n") - col("p2")))
            .as("suffix"))
        .withColumn("fim_text",
          concat(lit("<PRE>"), col("prefix"), lit("<SUF>"), col("suffix"),
            lit("<MID>"), col("middle")))
        .orderBy("doc_id")
    },
    Some {
      val h1 = "substr(md5('fim1-' || doc_id), 1, 8)"
      val h2 = "substr(md5('fim2-' || doc_id), 1, 8)"
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t
         |  FROM documents),
         |cut1 AS (
         |  SELECT doc_id, t, CAST(len(t) AS INT) AS n,
         |    CAST(${OracleSql.hexToBigint(h1)} % (len(t) - 2) + 1 AS INT) AS p1
         |  FROM toks WHERE len(t) >= 3),
         |cut2 AS (
         |  SELECT doc_id, t, n, p1,
         |    CAST(${OracleSql.hexToBigint(h2)} % (n - 1 - p1) + p1 + 1 AS INT) AS p2
         |  FROM cut1),
         |parts AS (
         |  SELECT doc_id, n AS n_tok, p1, p2,
         |    array_to_string(t[1 : p1], ' ') AS prefix,
         |    array_to_string(t[p1+1 : p2], ' ') AS middle,
         |    array_to_string(t[p2+1 : n], ' ') AS suffix
         |  FROM cut2)
         |SELECT doc_id, n_tok, p1, p2, prefix, middle, suffix,
         |  '<PRE>' || prefix || '<SUF>' || suffix || '<MID>' || middle
         |    AS fim_text
         |FROM parts ORDER BY doc_id""".stripMargin
    }
  )

  /** q_dpo_pairs — preference-pair construction for DPO/reward-model
    * training: within each source, documents rank by the oracle-checked
    * quality score and the i-th best pairs with the i-th worst
    * (chosen, rejected), keeping pairs with a quality margin ≥ 0.1 —
    * the max-contrast pairing a synthetic-preference pipeline emits
    * when no human labels exist. The quality double is built from
    * single divisions of exact ints (the q_quality_score contract), so
    * ranks, margins, and the filter agree bit-for-bit across engines.
    *
    * 100 TB shape: one shuffle by source; both rank windows and the
    * per-source count reuse that partitioning, and the pair join is
    * co-partitioned on (source, pair_idx) — documents move once.
    */
  val qDpoPairs = Q(
    "q_dpo_pairs",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), qualityColumns.last)
      val wUp = Window.partitionBy("source")
        .orderBy(col("quality").desc, col("doc_id").asc)
      val wDn = Window.partitionBy("source")
        .orderBy(col("quality").asc, col("doc_id").desc)
      val ranked = docs
        .withColumn("r_best", row_number().over(wUp))
        .withColumn("r_worst", row_number().over(wDn))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
      val best = ranked.select(col("source"), col("r_best").as("pair_idx"),
        col("doc_id").as("chosen_id"), col("quality").as("chosen_q"),
        col("n"))
      val worst = ranked.select(col("source"), col("r_worst").as("pair_idx"),
        col("doc_id").as("rejected_id"), col("quality").as("rejected_q"))
      best.join(worst, Seq("source", "pair_idx"))
        .filter(col("pair_idx") * 2 <= col("n"))
        .withColumn("margin", col("chosen_q") - col("rejected_q"))
        .filter(col("margin") >= 0.1)
        .select("source", "pair_idx", "chosen_id", "rejected_id",
          "chosen_q", "rejected_q", "margin")
        .orderBy("source", "pair_idx")
    },
    Some(
      """WITH q AS (
        |  SELECT doc_id, source,
        |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) * 0.4
        |    + (1.0 - CAST(length(regexp_replace(text, '[^ \t\n]', '', 'g'))
        |        AS DOUBLE) / greatest(length(text), 1)) * 0.2
        |    + CAST(len(list_filter(string_split_regex(text, '\s+'),
        |        t -> t IN ('the','a','and','of','to','in'))) AS DOUBLE)
        |      / greatest(len(list_filter(string_split_regex(text, '\s+'),
        |        t -> t <> '')), 1) * 0.2
        |    + least(1.0, CAST(length(text) AS DOUBLE) / 500.0) * 0.2
        |      AS quality
        |  FROM documents),
        |ranked AS (
        |  SELECT doc_id, source, quality,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY quality DESC, doc_id ASC) AS r_best,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY quality ASC, doc_id DESC) AS r_worst,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM q),
        |pairs AS (
        |  SELECT b.source, b.r_best AS pair_idx,
        |    b.doc_id AS chosen_id, w.doc_id AS rejected_id,
        |    b.quality AS chosen_q, w.quality AS rejected_q,
        |    b.quality - w.quality AS margin
        |  FROM ranked b JOIN ranked w
        |    ON b.source = w.source AND b.r_best = w.r_worst
        |  WHERE b.r_best * 2 <= b.n)
        |SELECT source, CAST(pair_idx AS INT) AS pair_idx, chosen_id,
        |  rejected_id, chosen_q, rejected_q, margin
        |FROM pairs WHERE margin >= 0.1
        |ORDER BY source, pair_idx""".stripMargin
    )
  )

  /** q_pareto_front — per-source skyline (Pareto-optimal) document
    * selection over (quality, length): a document is on the front iff
    * no other document in its source has ≥ quality AND ≥ chars with
    * at least one strict — the multi-metric curation pick when a
    * single blended score would hide the tradeoff. Computed by the
    * sorted-sweep skyline, not the quadratic pair join: one window
    * gives the running max length over STRICTLY higher quality
    * (integer-quantized, so the RANGE frame excludes ties exactly),
    * a second the max length within the quality tie group; a row
    * survives iff neither dominates it. Quality is ppm-quantized with
    * the repo convention so both engines rank identically.
    *
    * 100 TB shape: both windows are partitioned by source (the
    * skyline's natural block); no pair join exists — the sweep is
    * O(n log n) in the partition sort.
    */
  val qParetoFront = Q(
    "q_pareto_front",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"),
          qualityColumns.last)
        .withColumn("qm",
          floor(col("quality") * lit(1000000.0) + lit(0.5)).cast("long"))
      val wStrict = Window.partitionBy("source").orderBy(col("qm").desc)
        .rangeBetween(Window.unboundedPreceding, -1)
      val wTie = Window.partitionBy("source", "qm")
      scored
        .withColumn("rm_strict", max(col("n_chars")).over(wStrict))
        .withColumn("rm_tie", max(col("n_chars")).over(wTie))
        .filter((col("rm_strict").isNull ||
          col("rm_strict") < col("n_chars")) &&
          col("rm_tie") === col("n_chars"))
        .select(col("source"), col("doc_id"), col("qm"), col("n_chars"))
        .orderBy(col("source"), col("qm").desc, col("doc_id"))
    },
    Some(
      """WITH q AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(floor((
        |      CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        |        / greatest(length(text), 1) * 0.4
        |      + (1.0 - CAST(length(regexp_replace(text, '[^ \t\n]', '', 'g')) AS DOUBLE)
        |        / greatest(length(text), 1)) * 0.2
        |      + CAST(len(list_filter(string_split_regex(text, '\s+'),
        |          t -> t IN ('the','a','and','of','to','in'))) AS DOUBLE)
        |        / greatest(len(list_filter(string_split_regex(text, '\s+'),
        |          t -> t <> '')), 1) * 0.2
        |      + least(1.0, CAST(length(text) AS DOUBLE) / 500.0) * 0.2
        |    ) * 1000000.0 + 0.5) AS BIGINT) AS qm
        |  FROM documents),
        |w AS (
        |  SELECT source, doc_id, qm, n_chars,
        |    max(n_chars) OVER (PARTITION BY source ORDER BY qm DESC
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS rm_strict,
        |    max(n_chars) OVER (PARTITION BY source, qm) AS rm_tie
        |  FROM q)
        |SELECT source, doc_id, qm, n_chars FROM w
        |WHERE (rm_strict IS NULL OR rm_strict < n_chars)
        |  AND rm_tie = n_chars
        |ORDER BY source, qm DESC, doc_id""".stripMargin
    )
  )

  /** q_gopher_rules — the hard pass/fail quality-rule suite of Rae et
    * al. 2021 (Gopher, Table A1), the standard pre-filter a web-scale
    * corpus runs BEFORE any model-based scoring (and the rule-flag
    * complement of q_quality_score's continuous heuristics): word
    * count bounds, mean-word-length band, symbol-to-word ratio,
    * alphabetic-word fraction, and the ≥2-distinct-stopwords test.
    * Bounds are the paper's where the synthetic corpus can exercise
    * them and tightened where it cannot: word count ≥ 50 (corpus range
    * 10–99; the paper's 50 lower bound kept, its 100k upper bound
    * unreachable here), mean word length in [4.0, 5.0] (corpus range
    * 3.7–5.3; paper band 3–10 would never fire), stopword set = the
    * repo's {the, a, and, of, to, in} (the paper's eight-word set has
    * one member in this vocabulary). Every metric is an exact-integer
    * count or a single IEEE division of exact ints, so both engines
    * compute bit-identical flags.
    *
    * 100 TB shape: map-only projection over the document scan — no
    * shuffle at all (the output sort is the test harness's, not the
    * operator's); rule flags partition the corpus for downstream
    * routing without materializing anything.
    */
  val qGopherRules = Q(
    "q_gopher_rules",
    (s, d) => {
      val text = col("text")
      val toks = wsTokens(text)
      val wc = greatest(size(toks), lit(1))
      val alphaChars = graft.functions.GraftFunctions
        .chars_in_ranges(text, Seq('a'.toInt -> 'z'.toInt, 'A'.toInt -> 'Z'.toInt))
      val mwl = alphaChars.cast("double") / wc
      val symbols = graft.functions.GraftFunctions
        .chars_in_ranges(text, Seq('#'.toInt -> '#'.toInt)) +
        (length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / lit(3)
      val alphaWords = size(filter(toks, t => t.rlike("[a-zA-Z]")))
      val stopHits = size(array_intersect(toks,
        array(lit("the"), lit("a"), lit("and"), lit("of"), lit("to"), lit("in"))))
      Tables.documents(s, d)
        // NULL text would diverge (Spark size(null) = -1 vs DuckDB
        // NULL propagation) — excluded explicitly on BOTH engines so
        // the semantics are stated once (the q_lsh_recall lesson)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), size(toks).as("wc"),
          mwl.as("mean_word_len"),
          (size(toks) >= 50).as("wc_ok"),
          (mwl >= 4.0 && mwl <= 5.0).as("mwl_ok"),
          (symbols.cast("double") / wc <= 0.1).as("sym_ok"),
          (alphaWords.cast("double") / wc >= 0.8).as("alpha_ok"),
          (stopHits >= 2).as("stop_ok"))
        .withColumn("keep",
          col("wc_ok") && col("mwl_ok") && col("sym_ok") &&
            col("alpha_ok") && col("stop_ok"))
        .orderBy("doc_id")
    },
    Some(
      """WITH m AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))
        |      AS wc,
        |    length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars,
        |    length(regexp_replace(text, '[^#]', '', 'g'))
        |      + (length(text) - length(replace(text, '...', ''))) // 3
        |      AS symbols,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |        t -> regexp_matches(t, '[a-zA-Z]'))) AS alpha_words,
        |    len(list_intersect(
        |        list_filter(string_split_regex(text, '\s+'), t -> t <> ''),
        |        ['the', 'a', 'and', 'of', 'to', 'in'])) AS stop_hits
        |  FROM documents WHERE text IS NOT NULL),
        |f AS (
        |  SELECT doc_id, wc,
        |    CAST(alpha_chars AS DOUBLE) / greatest(wc, 1) AS mean_word_len,
        |    wc >= 50 AS wc_ok,
        |    CAST(alpha_chars AS DOUBLE) / greatest(wc, 1) >= 4.0
        |      AND CAST(alpha_chars AS DOUBLE) / greatest(wc, 1) <= 5.0
        |      AS mwl_ok,
        |    CAST(symbols AS DOUBLE) / greatest(wc, 1) <= 0.1 AS sym_ok,
        |    CAST(alpha_words AS DOUBLE) / greatest(wc, 1) >= 0.8 AS alpha_ok,
        |    stop_hits >= 2 AS stop_ok
        |  FROM m)
        |SELECT doc_id, wc, mean_word_len, wc_ok, mwl_ok, sym_ok, alpha_ok,
        |  stop_ok,
        |  wc_ok AND mwl_ok AND sym_ok AND alpha_ok AND stop_ok AS keep
        |FROM f ORDER BY doc_id""".stripMargin
    )
  )

  /** q_augment_mask — deterministic data augmentation, the family a
    * training pipeline runs to multiply contrastive/denoising
    * examples: per token position, a derandomized uniform draw
    * (md5(doc_id:pos) ppm — the repo's hash-sampling convention)
    * routes the token to BERT-style [MASK] substitution (p = 0.15) or
    * dropout deletion (next 0.10 of the unit interval), leaving the
    * rest intact. Both augmented views are emitted next to exact
    * per-channel counts, so the label side (which positions were
    * masked) is reproducible — the property that lets a denoising
    * objective regenerate its targets instead of storing them.
    *
    * 100 TB shape: map-only (tokenize → per-position hash →
    * re-join), no shuffle below the harness sort; augmentation
    * multiplicity at scale is a generated column, not stored copies.
    */
  val qAugmentMask = Q(
    "q_augment_mask",
    (s, d) => {
      val toks = wsTokens(col("text"))
      // ppm draw for 1-based position p of doc_id — identical text on
      // both engines (Spark lambda index is 0-based, DuckDB's 1-based)
      def u(p: Column) = Hash.hexToBigint(md5(
        concat(col("doc_id").cast("string"), lit(":"), p.cast("string"))))
        .cast("long") % 1000000L
      val masked = transform(toks, (t, i) =>
        when(u(i + 1) < 150000L, lit("[MASK]")).otherwise(t))
      val dropped = filter(toks, (t, i) =>
        !(u(i + 1) >= 150000L && u(i + 1) < 250000L))
      val nMasked = size(filter(toks, (t, i) => u(i + 1) < 150000L))
      Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          concat_ws(" ", masked).as("aug_masked"),
          concat_ws(" ", dropped).as("aug_dropped"),
          nMasked.cast("long").as("n_masked"),
          (size(toks) - size(dropped)).cast("long").as("n_dropped"))
        .orderBy("doc_id")
    },
    Some {
      val u = OracleSql.hexToBigint(
        "md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR))") + " % 1000000"
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT doc_id,
         |  array_to_string(list_transform(t, (x, i) ->
         |    CASE WHEN $u < 150000 THEN '[MASK]' ELSE x END), ' ')
         |    AS aug_masked,
         |  array_to_string(list_filter(t, (x, i) ->
         |    NOT ($u >= 150000 AND $u < 250000)), ' ') AS aug_dropped,
         |  CAST(len(list_filter(t, (x, i) -> $u < 150000)) AS BIGINT)
         |    AS n_masked,
         |  CAST(len(t) - len(list_filter(t, (x, i) ->
         |    NOT ($u >= 150000 AND $u < 250000))) AS BIGINT) AS n_dropped
         |FROM toks ORDER BY doc_id""".stripMargin
    }
  )

  /** q_span_corruption — T5-style span corruption bookkeeping (Raffel
    * et al., JMLR 2020), completing the denoising-augmentation family
    * next to BERT-style [[qAugmentMask]] and [[qFimSplit]]: token
    * position p STARTS a span when its derandomized u32 draw
    * (md5(doc_id#p), the repo convention) lands in the 5% start band,
    * with span length 1 + (u32 div 1000) mod 5 ∈ [1,5]; a token is
    * corrupted when ANY span covers it (overlaps merge into maximal
    * runs, exactly like the reference implementation's greedy merge).
    * Emitted per doc: token/masked/span counts and the derived
    * encoder/decoder lengths — input = n − masked + spans (each run
    * collapses to one sentinel), target = masked + spans (sentinel +
    * span tokens per run) — the quantities a seq2seq packing planner
    * budgets on. The label side is regenerable from doc_id alone, so
    * targets are never stored.
    *
    * Exactness: coverage is pure integer interval logic; the only
    * division (u32 div 1000) is floor on non-negatives, identical in
    * both engines; mask_ppm is exact BIGINT division.
    *
    * 100 TB shape: map-only — tokenize, per-position hash arrays, an
    * O(5) bounded lookback per token, all inside one projection; no
    * shuffle below the harness sort. The start/length arrays and the
    * coverage mask each sit behind a 1-element explode barrier (the
    * measured q_cdc_chunks technique): without it Catalyst inlines
    * the array expressions into every element_at lambda and the
    * per-position md5 scan reruns once per lookback probe —
    * measured 160 s → ~1 s per bench pass at sf0.1.
    */
  val qSpanCorruption = Q(
    "q_span_corruption",
    (s, d) => {
      def u(p: Column) = Hash.hexToBigint(md5(
        concat(col("doc_id").cast("string"), lit("#"), p.cast("string"))))
        .cast("long")
      // ONE md5 per token position: the start/length arrays both
      // derive from the same hash draw, so `us` materializes through
      // its own explode barrier first — the former shape inlined u(p)
      // into both transforms and hashed every position twice. The
      // per-position hashing is the query's entire cost and sits fused
      // on the one-row-group scan — spread it (no-op at scale).
      val withArrays = Tables
        .spreadForCompute(Tables.documents(s, d), s, d, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), size(wsTokens(col("text"))).as("n"))
        .filter(col("n") > 0)
        .select(col("doc_id"), col("n"),
          explode(array(transform(sequence(lit(1), col("n")),
            p => u(p)))).as("us"))
        .select(col("doc_id"), col("n"),
          explode(array(struct(
            transform(col("us"), x => x % 1000 < 50).as("st"),
            transform(col("us"),
              x => (floor(x / lit(1000)) % 5 + 1).cast("int"))
              .as("ln")))).as("a"))
        .select(col("doc_id"), col("n"),
          col("a.st").as("st"), col("a.ln").as("ln"))
      val base = withArrays
        .select(col("doc_id"), col("n"),
          explode(array(transform(sequence(lit(1), col("n")), j =>
            exists(sequence(greatest(j - 4, lit(1)), j), i =>
              element_at(col("st"), i) &&
                (j < i + element_at(col("ln"), i)))))).as("m"))
      base
        .withColumn("n_masked",
          size(filter(col("m"), x => x)).cast("long"))
        .withColumn("n_spans",
          size(filter(sequence(lit(1), col("n")), j =>
            element_at(col("m"), j) &&
              (j === 1 || !element_at(col("m"), greatest(j - 1, lit(1))))))
            .cast("long"))
        .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
          col("n_masked"), col("n_spans"),
          (col("n") - col("n_masked") + col("n_spans")).as("input_len"),
          (col("n_masked") + col("n_spans")).as("target_len"))
        .withColumn("mask_ppm",
          expr("n_masked * 1000000 div n_tokens"))
        .orderBy("doc_id")
    },
    Some {
      val u = OracleSql.hexToBigint(
        "md5(CAST(doc_id AS VARCHAR) || '#' || CAST(p AS VARCHAR))")
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t
         |  FROM documents WHERE text IS NOT NULL),
         |arr AS (
         |  SELECT doc_id, len(t) AS n,
         |    list_transform(range(1, len(t) + 1), p ->
         |      CASE WHEN $u % 1000 < 50 THEN 1 ELSE 0 END) AS st,
         |    list_transform(range(1, len(t) + 1), p ->
         |      1 + ($u // 1000) % 5) AS ln
         |  FROM toks WHERE len(t) > 0),
         |msk AS (
         |  SELECT doc_id, n,
         |    list_transform(range(1, n + 1), j ->
         |      CASE WHEN len(list_filter(range(greatest(j - 4, 1), j + 1),
         |        i -> st[i] = 1 AND j < i + ln[i])) > 0
         |      THEN 1 ELSE 0 END) AS m
         |  FROM arr),
         |agg AS (
         |  SELECT doc_id, n, CAST(list_sum(m) AS BIGINT) AS n_masked,
         |    CAST(len(list_filter(range(1, n + 1), j ->
         |      m[j] = 1 AND (j = 1 OR m[greatest(j - 1, 1)] = 0)))
         |      AS BIGINT) AS n_spans
         |  FROM msk)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, n_masked, n_spans,
         |  CAST(n - n_masked + n_spans AS BIGINT) AS input_len,
         |  CAST(n_masked + n_spans AS BIGINT) AS target_len,
         |  CAST(n_masked * 1000000 // n AS BIGINT) AS mask_ppm
         |FROM agg ORDER BY doc_id""".stripMargin
    }
  )

  /** q_chi2_terms — χ²-style feature selection: the terms whose
    * document-level presence most separates lang='en' from the rest,
    * ranked by the exact φ² association of the 2×2 contingency
    * (a = en docs with term, b = other docs with term, c/d their
    * complements): φ² = (ad−bc)²/((a+b)(c+d)(a+c)(b+d)) = χ²/N — the
    * classic vocabulary-pruning step before training a fastText-style
    * quality/language classifier. min-df 5, top 30, term-ascending
    * tie-break.
    *
    * Cross-engine exactness: all four cells are BIGINT; (ad−bc)² is
    * DECIMAL(38,0) / HUGEINT (ad ≤ N² overflows int64 past ~3e9
    * docs); φ²·10⁶ is computed as the SAME two-step floor division on
    * both engines — ((ad−bc)² div (a+b)(c+d)) · 10⁶ div (a+c)(b+d) —
    * because the single-step numerator (ad−bc)²·10⁶ would overflow
    * even 128-bit at ~10⁹ docs; two-step floor ≠ exact φ²·10⁶ in the
    * last unit, but it is IDENTICAL integer arithmetic on both
    * engines, which is the property the oracle checks.
    *
    * 100 TB shape: doc-distinct terms explode map-side (the only
    * corpus-sized stage, fused into the scan projection); one shuffle
    * keyed by term to the (df, df_pos) count frame; class totals are
    * a 1-row broadcast; ranking is a top-30 TakeOrdered. Text never
    * moves — only (term, 1, isp) pairs.
    */
  val qChi2Terms = Q(
    "q_chi2_terms",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val dec = DecimalType(38, 0)
      val docs = Tables.documents(s, d).select(
        when(col("lang") === "en", 1L).otherwise(0L).as("isp"),
        explode(array_distinct(wsTokens(lower(col("text"))))).as("term"))
      val byTerm = docs.groupBy("term").agg(
        sum(col("isp")).as("a"),
        (count(lit(1)) - sum(col("isp"))).as("b"))
      val totDocs = Tables.documents(s, d).agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("np"),
        sum(when(col("lang") === "en", 0L).otherwise(1L)).as("nn"))
      byTerm.crossJoin(broadcast(totDocs))
        .filter(col("a") + col("b") >= 5 &&
          col("a") + col("b") < col("np") + col("nn") &&
          col("np") > 0 && col("nn") > 0)
        .withColumn("c", (col("np") - col("a")).cast(dec))
        .withColumn("dd", (col("nn") - col("b")).cast(dec))
        .withColumn("num",
          (col("a").cast(dec) * col("dd") - col("b").cast(dec) * col("c")) *
          (col("a").cast(dec) * col("dd") - col("b").cast(dec) * col("c")))
        .withColumn("phi2_ppm",
          // the first quotient fits BIGINT (≤ N²/4); re-widen to
          // decimal before ·10⁶ so the product can't wrap
          expr("CAST(CAST(num div ((a + b) * " +
            "CAST(np + nn - a - b AS DECIMAL(38,0))) AS DECIMAL(38,0))" +
            " * 1000000 div (CAST(np AS DECIMAL(38,0)) * nn) AS BIGINT)"))
        .select(col("term"), (col("a") + col("b")).as("df"),
          col("a").as("df_pos"), col("phi2_ppm"))
        .orderBy(desc("phi2_ppm"), col("term"))
        .limit(30)
    },
    Some(
      """WITH toks AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS isp,
        |    list_distinct(list_filter(
        |      string_split_regex(lower(text), '\s+'), t -> t <> '')) AS t
        |  FROM documents),
        |byterm AS (
        |  SELECT term, CAST(sum(isp) AS BIGINT) AS a,
        |    CAST(count(*) - sum(isp) AS BIGINT) AS b
        |  FROM toks, UNNEST(t) AS u(term) GROUP BY term),
        |tot AS (
        |  SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS np,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
        |      AS BIGINT) AS nn
        |  FROM documents),
        |scored AS (
        |  SELECT term, a + b AS df, a AS df_pos,
        |    CAST(((CAST(a AS HUGEINT) * (nn - b) -
        |           CAST(b AS HUGEINT) * (np - a)) *
        |          (CAST(a AS HUGEINT) * (nn - b) -
        |           CAST(b AS HUGEINT) * (np - a))
        |      // (CAST(a + b AS HUGEINT) * (np + nn - a - b)))
        |      * 1000000 // (CAST(np AS HUGEINT) * nn) AS BIGINT) AS phi2_ppm
        |  FROM byterm, tot
        |  WHERE a + b >= 5 AND a + b < np + nn AND np > 0 AND nn > 0)
        |SELECT term, df, df_pos, phi2_ppm
        |FROM scored ORDER BY phi2_ppm DESC, term LIMIT 30""".stripMargin
    )
  )

  /** q_len_hist — log2-bucketed token-length histogram per source:
    * the distribution readout that sizes sequence-packing bins and
    * max-length truncation before training (a source whose mass sits
    * in bucket 2⁹–2¹⁰ packs differently from one at 2⁴–2⁵; see
    * [[Corpus]]'s packing ops for the consumer). The bucket is the
    * EXACT integer log2 — the bit length of the token count,
    * length(bin(n)) − 1, identical in both engines (`bin` renders a
    * positive BIGINT without leading zeros in Spark and DuckDB) — so
    * no floating log2 rounds differently at bucket edges.
    *
    * Cross-engine exactness: counts BIGINT; share_ppm = n·10⁶ div
    * n_src is DECIMAL(38,0) / HUGEINT (wraps int64 past ~9.2e12 docs
    * per source); bucket boundaries lo = 2^b are exact shifts.
    *
    * 100 TB shape: map-only token count + bit-length into a
    * (source × ≤64 buckets) aggregate; per-source totals broadcast
    * back. One catalog-sized shuffle, nothing corpus-sized moves.
    */
  val qLenHist = Q(
    "q_len_hist",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val dec = DecimalType(38, 0)
      val lens = Tables.documents(s, d).select(
        col("source"),
        size(wsTokens(col("text"))).cast("long").as("n_tok"))
        .filter(col("n_tok") > 0)
        .withColumn("bucket", (length(bin(col("n_tok"))) - 1).cast("long"))
      val byb = lens.groupBy("source", "bucket")
        .agg(count(lit(1)).as("n"))
      val tot = byb.groupBy("source").agg(sum(col("n")).as("n_src"))
      byb.join(broadcast(tot), "source")
        .select(col("source"), col("bucket"),
          expr("CAST(1 AS BIGINT) << CAST(bucket AS INT)").as("lo_tokens"),
          col("n"),
          expr("CAST((CAST(n AS DECIMAL(38,0)) * 1000000) div n_src " +
            "AS BIGINT)").as("share_ppm"))
        .orderBy("source", "bucket")
    },
    Some(
      """WITH lens AS (
        |  SELECT source,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |bucketed AS (
        |  SELECT source, CAST(len(bin(n_tok)) - 1 AS BIGINT) AS bucket
        |  FROM lens WHERE n_tok > 0),
        |byb AS (
        |  SELECT source, bucket, CAST(count(*) AS BIGINT) AS n
        |  FROM bucketed GROUP BY 1, 2),
        |tot AS (
        |  SELECT source, CAST(sum(n) AS BIGINT) AS n_src
        |  FROM byb GROUP BY source)
        |SELECT byb.source, bucket,
        |  CAST(1 AS BIGINT) << CAST(bucket AS INT) AS lo_tokens, n,
        |  CAST((CAST(n AS HUGEINT) * 1000000) // n_src AS BIGINT)
        |    AS share_ppm
        |FROM byb JOIN tot ON tot.source = byb.source
        |ORDER BY byb.source, bucket""".stripMargin
    )
  )

  /** q_winnow — FULL winnowing fingerprint selection (Schleimer et
    * al. SIGMOD'03, the MOSS algorithm): md5 over every 16-char gram,
    * then the minimum of each sliding 8-gram window — the selected
    * set carries the winnowing guarantee (every ≥ 23-char match
    * between two documents shares at least one selected fingerprint),
    * which the single-min [[qFingerprint]] does not. The per-doc
    * distinct-fingerprint count is the index size a plagiarism /
    * near-dup index pays per document (density ≈ 2/(w+1) of grams).
    *
    * Cross-engine exactness: fingerprints stay md5 HEX STRINGS —
    * window minima are lexicographic string minima, identical
    * byte-wise in both engines (ASCII hex); no numeric conversion
    * anywhere. Window j covers grams [j, j+7]; a document shorter
    * than one full window keeps the minimum of what exists (both
    * engines' slice truncates past the end identically).
    *
    * 100 TB shape: map-only inside one projection — the fused
    * [[graft.functions.WinnowStats]] kernel (one md5 per gram, a
    * monotonic-deque O(n) sliding minimum, selected digests only ever
    * rendered to hex), codegen'd via the same static-call pattern as
    * minhash_slices/simhash16. The first version materialized one
    * 32-char hex string per gram plus an O(n·w) slice/array_min
    * lambda chain behind an explode barrier — measured 8.8 s → the
    * kernel form at sf0.1 (see SCALE.md). No shuffle below the
    * output sort; parity with the array formulation is spec-pinned.
    */
  val qWinnow = Q(
    "q_winnow",
    (s, d) => {
      import graft.functions.GraftFunctions.winnow_stats
      // one md5 per 16-char gram (the fused kernel) — the whole cost,
      // fused on the one-row-group scan; spread first (1.08 → 0.50 s
      // measured at sf0.1×32; no-op at scale)
      Tables.spreadForCompute(Tables.documents(s, d), s, d, "documents")
        .filter(length(col("text")) >= 16)
        .select(col("doc_id"), winnow_stats(col("text")).as("ws"))
        .select(col("doc_id"), col("ws.n_grams").as("n_grams"),
          col("ws.n_fp").as("n_fp"), col("ws.min_fp").as("min_fp"))
        .orderBy("doc_id")
    },
    Some(
      """WITH g AS (
        |  SELECT doc_id, len(text) - 15 AS ng,
        |    list_transform(range(1, len(text) - 15 + 1),
        |      i -> md5(substr(text, CAST(i AS INT), 16))) AS h
        |  FROM documents WHERE len(text) >= 16),
        |w AS (
        |  SELECT doc_id, ng,
        |    list_transform(range(1, greatest(ng - 7, 1) + 1),
        |      j -> list_min(h[j:j+7])) AS wins,
        |    h
        |  FROM g)
        |SELECT doc_id, CAST(ng AS BIGINT) AS n_grams,
        |  CAST(len(list_distinct(wins)) AS BIGINT) AS n_fp,
        |  list_min(h) AS min_fp
        |FROM w ORDER BY doc_id""".stripMargin
    )
  )

  /** q_kappa — Cohen's κ agreement between the stopword language-ID
    * heuristic ([[qLangId]]'s predictor, the weak labeler) and the
    * gold `lang` column: the chance-corrected agreement score that
    * tells a curation pipeline whether a cheap classifier is good
    * enough to gate on (raw accuracy flatters any skewed class mix —
    * κ subtracts the agreement a label-marginal-preserving random
    * assignment would get).
    *
    * Cross-engine exactness: κ = (p_o − p_e)/(1 − p_e) is computed in
    * the cross-multiplied integer form (agree·N − Σ_c row_c·col_c) /
    * (N² − Σ_c row_c·col_c) over the shared class set; the one
    * division is sign-split ppm (κ can be negative) in DECIMAL(38,0)
    * / HUGEINT (N² wraps int64 past ~3e9 docs). Both engines derive
    * the prediction from the SAME scoring definition, so the
    * confusion matrix is identical by construction.
    *
    * 100 TB shape: one map-only prediction pass into two
    * catalog-sized marginal aggregates (≤ #langs rows each) plus a
    * 1-row agreement count; the marginal product joins on the
    * ≤ #langs class key. Text never shuffles.
    */
  val qKappa = Q(
    "q_kappa",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      val dec = DecimalType(38, 0)
      val pred = withLangPredicted(Tables.documents(s, d))
        .select(col("lang"), col("predicted"))
      val tot = pred.agg(count(lit(1)).as("n"),
        sum(when(col("lang") === col("predicted"), 1L).otherwise(0L))
          .as("agree"))
      val rows = pred.groupBy(col("predicted").as("cls"))
        .agg(count(lit(1)).as("rc"))
      val cols = pred.groupBy(col("lang").as("cls"))
        .agg(count(lit(1)).as("cc"))
      val pe = rows.join(cols, Seq("cls"), "full_outer")
        .na.fill(0L, Seq("rc", "cc"))
        .agg(sum(col("rc").cast(dec) * col("cc").cast(dec)).as("pen2"))
      tot.crossJoin(broadcast(pe))
        .select(col("n").as("n_docs"), col("agree").as("n_agree"),
          expr("CASE WHEN agree * CAST(n AS DECIMAL(38,0)) >= pen2 " +
            "THEN CAST((agree * CAST(n AS DECIMAL(38,0)) - pen2) * 1000000 " +
            "div (CAST(n AS DECIMAL(38,0)) * n - pen2) AS BIGINT) " +
            "ELSE -CAST((pen2 - agree * CAST(n AS DECIMAL(38,0))) * 1000000 " +
            "div (CAST(n AS DECIMAL(38,0)) * n - pen2) AS BIGINT) END")
            .as("kappa_ppm"))
    },
    Some(
      s"""WITH $oraclePredCtes,
         |p AS (SELECT lang, predicted FROM pred),
         |tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN lang = predicted THEN 1 ELSE 0 END)
         |      AS BIGINT) AS agree
         |  FROM p),
         |r AS (SELECT predicted AS cls, CAST(count(*) AS BIGINT) AS rc
         |  FROM p GROUP BY 1),
         |c AS (SELECT lang AS cls, CAST(count(*) AS BIGINT) AS cc
         |  FROM p GROUP BY 1),
         |pe AS (
         |  SELECT sum(CAST(coalesce(rc, 0) AS HUGEINT)
         |    * coalesce(cc, 0)) AS pen2
         |  FROM r FULL OUTER JOIN c USING (cls))
         |SELECT n AS n_docs, agree AS n_agree,
         |  CASE WHEN CAST(agree AS HUGEINT) * n >= pen2
         |    THEN CAST((CAST(agree AS HUGEINT) * n - pen2) * 1000000
         |      // (CAST(n AS HUGEINT) * n - pen2) AS BIGINT)
         |    ELSE -CAST((pen2 - CAST(agree AS HUGEINT) * n) * 1000000
         |      // (CAST(n AS HUGEINT) * n - pen2) AS BIGINT) END
         |    AS kappa_ppm
         |FROM tot, pe""".stripMargin
    )
  )

  /** q_filter_ablation — per-rule kill attribution for the Gopher
    * hard-rule suite ([[qGopherRules]], whose per-doc flag frame this
    * composes directly — the q_curation_funnel reuse pattern): for
    * each rule, how many documents it fails (`fails`) and how many it
    * ALONE removes (`unique_fails` — every other rule passes). The
    * ablation a curation team runs before tightening a threshold:
    * a rule with large `fails` but zero `unique_fails` is redundant
    * (its kills are already covered), while `unique_fails` is the
    * exact marginal corpus cost of keeping it. The 'ANY' row gives
    * the union kill count and the docs killed by EXACTLY ONE rule
    * (= Σ unique_fails — the accounting identity the spec pins).
    *
    * 100 TB shape: the flag projection is map-only (qGopherRules'
    * plan); everything else is ONE 1-row aggregate of boolean sums
    * unpivoted to 6 rows — no second corpus pass, no shuffle of text.
    */
  val qFilterAblation = Q(
    "q_filter_ablation",
    (s, d) => {
      val flags = qGopherRules.fn(s, d)
      val rules = Seq("wc_ok", "mwl_ok", "sym_ok", "alpha_ok", "stop_ok")
      def fails(r: String): Column =
        sum(when(!col(r), 1L).otherwise(0L))
      def unique(r: String): Column =
        sum(when(!col(r) &&
          rules.filterNot(_ == r).map(col).reduce(_ && _), 1L).otherwise(0L))
      val nFailed: Column = expr(
        rules.map(r => s"(CASE WHEN $r THEN 0 ELSE 1 END)").mkString(" + "))
      val aggRow = flags.agg(
        fails("wc_ok").as("f_wc"), unique("wc_ok").as("u_wc"),
        fails("mwl_ok").as("f_mwl"), unique("mwl_ok").as("u_mwl"),
        fails("sym_ok").as("f_sym"), unique("sym_ok").as("u_sym"),
        fails("alpha_ok").as("f_alpha"), unique("alpha_ok").as("u_alpha"),
        fails("stop_ok").as("f_stop"), unique("stop_ok").as("u_stop"),
        sum(when(nFailed >= 1, 1L).otherwise(0L)).as("f_any"),
        sum(when(nFailed === 1, 1L).otherwise(0L)).as("u_any"))
      aggRow.select(expr(
        """stack(6,
          |  'alpha', f_alpha, u_alpha,
          |  'any', f_any, u_any,
          |  'mwl', f_mwl, u_mwl,
          |  'stop', f_stop, u_stop,
          |  'sym', f_sym, u_sym,
          |  'wc', f_wc, u_wc) AS (rule, fails, unique_fails)""".stripMargin))
        .orderBy("rule")
    },
    Some(
      """WITH m AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))
        |      AS wc,
        |    length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars,
        |    length(regexp_replace(text, '[^#]', '', 'g'))
        |      + (length(text) - length(replace(text, '...', ''))) // 3
        |      AS symbols,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |        t -> regexp_matches(t, '[a-zA-Z]'))) AS alpha_words,
        |    len(list_intersect(
        |        list_filter(string_split_regex(text, '\s+'), t -> t <> ''),
        |        ['the', 'a', 'and', 'of', 'to', 'in'])) AS stop_hits
        |  FROM documents WHERE text IS NOT NULL),
        |f AS (
        |  SELECT doc_id,
        |    wc >= 50 AS wc_ok,
        |    CAST(alpha_chars AS DOUBLE) / greatest(wc, 1) >= 4.0
        |      AND CAST(alpha_chars AS DOUBLE) / greatest(wc, 1) <= 5.0
        |      AS mwl_ok,
        |    CAST(symbols AS DOUBLE) / greatest(wc, 1) <= 0.1 AS sym_ok,
        |    CAST(alpha_words AS DOUBLE) / greatest(wc, 1) >= 0.8 AS alpha_ok,
        |    stop_hits >= 2 AS stop_ok
        |  FROM m),
        |n AS (
        |  SELECT *,
        |    (CASE WHEN wc_ok THEN 0 ELSE 1 END)
        |    + (CASE WHEN mwl_ok THEN 0 ELSE 1 END)
        |    + (CASE WHEN sym_ok THEN 0 ELSE 1 END)
        |    + (CASE WHEN alpha_ok THEN 0 ELSE 1 END)
        |    + (CASE WHEN stop_ok THEN 0 ELSE 1 END) AS nf
        |  FROM f),
        |agg AS MATERIALIZED (
        |  SELECT
        |    sum(CASE WHEN NOT wc_ok THEN 1 ELSE 0 END) AS f_wc,
        |    sum(CASE WHEN NOT wc_ok AND mwl_ok AND sym_ok AND alpha_ok
        |      AND stop_ok THEN 1 ELSE 0 END) AS u_wc,
        |    sum(CASE WHEN NOT mwl_ok THEN 1 ELSE 0 END) AS f_mwl,
        |    sum(CASE WHEN NOT mwl_ok AND wc_ok AND sym_ok AND alpha_ok
        |      AND stop_ok THEN 1 ELSE 0 END) AS u_mwl,
        |    sum(CASE WHEN NOT sym_ok THEN 1 ELSE 0 END) AS f_sym,
        |    sum(CASE WHEN NOT sym_ok AND wc_ok AND mwl_ok AND alpha_ok
        |      AND stop_ok THEN 1 ELSE 0 END) AS u_sym,
        |    sum(CASE WHEN NOT alpha_ok THEN 1 ELSE 0 END) AS f_alpha,
        |    sum(CASE WHEN NOT alpha_ok AND wc_ok AND mwl_ok AND sym_ok
        |      AND stop_ok THEN 1 ELSE 0 END) AS u_alpha,
        |    sum(CASE WHEN NOT stop_ok THEN 1 ELSE 0 END) AS f_stop,
        |    sum(CASE WHEN NOT stop_ok AND wc_ok AND mwl_ok AND sym_ok
        |      AND alpha_ok THEN 1 ELSE 0 END) AS u_stop,
        |    sum(CASE WHEN nf >= 1 THEN 1 ELSE 0 END) AS f_any,
        |    sum(CASE WHEN nf = 1 THEN 1 ELSE 0 END) AS u_any
        |  FROM n)
        |SELECT rule, CAST(fails AS BIGINT) AS fails,
        |  CAST(unique_fails AS BIGINT) AS unique_fails
        |FROM (
        |  SELECT 'alpha' AS rule, f_alpha AS fails, u_alpha AS unique_fails FROM agg
        |  UNION ALL SELECT 'any', f_any, u_any FROM agg
        |  UNION ALL SELECT 'mwl', f_mwl, u_mwl FROM agg
        |  UNION ALL SELECT 'stop', f_stop, u_stop FROM agg
        |  UNION ALL SELECT 'sym', f_sym, u_sym FROM agg
        |  UNION ALL SELECT 'wc', f_wc, u_wc FROM agg)
        |ORDER BY rule""".stripMargin
    )
  )

  /** q_mcnemar — McNemar's paired test (Psychometrika 1947) between
    * every pair of Gopher rules on the SAME documents: are two
    * filters' disagreements symmetric, or does one systematically
    * fail documents the other passes? Unlike the independent-sample
    * tests ([[graft.ops.Stats]]'s q_perm_test / q_ks_test), McNemar
    * conditions on the PAIRING — only the discordant counts matter:
    * b = #(A passes, B fails), c = #(A fails, B passes),
    * χ²_ppm = (b−c)²·10⁶/(b+c) on 1 df (≥ 3.84·10⁶ ⇒ the two rules
    * are not interchangeable at 95%). The filter-governance
    * companion to [[qFilterAblation]]: ablation says how much each
    * rule uniquely kills, McNemar says whether two rules even
    * measure the same thing. All-integer, zero-discordance pairs
    * reported with χ² = 0 (not NULL — stated).
    *
    * 100 TB shape: the flag frame is map-only; pairing costs one
    * doc-keyed self-join of the 5-rows-per-doc flag long-form (≤ 10
    * pair rows per doc) partial-aggregated into 10 output rows.
    */
  val qMcnemar = Q(
    "q_mcnemar",
    (s, d) => {
      val rules = Seq("wc_ok", "mwl_ok", "sym_ok", "alpha_ok", "stop_ok")
      val flags = qGopherRules.fn(s, d)
        .select(col("doc_id") +: rules.map(col): _*)
      val long = flags.select(col("doc_id"),
        explode(array(rules.map(r =>
          struct(lit(r).as("rule"), col(r).as("ok"))): _*)).as("f"))
        .select(col("doc_id"), col("f.rule").as("rule"), col("f.ok").as("ok"))
      val a = long.select(col("doc_id"), col("rule").as("rule_a"),
        col("ok").as("ok_a"))
      val b = long.select(col("doc_id"), col("rule").as("rule_b"),
        col("ok").as("ok_b"))
      a.join(b, "doc_id")
        .filter(col("rule_a") < col("rule_b"))
        .groupBy("rule_a", "rule_b")
        .agg(
          sum(when(col("ok_a") && !col("ok_b"), 1L).otherwise(0L)).as("n_b"),
          sum(when(!col("ok_a") && col("ok_b"), 1L).otherwise(0L)).as("n_c"))
        .select(col("rule_a"), col("rule_b"), col("n_b"), col("n_c"),
          expr("CASE WHEN n_b + n_c = 0 THEN 0 " +
            "ELSE (n_b - n_c) * (n_b - n_c) * 1000000 div (n_b + n_c) END")
            .as("chi2_ppm"))
        .orderBy("rule_a", "rule_b")
    },
    Some(
      """WITH m AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))
        |      AS wc,
        |    length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars,
        |    length(regexp_replace(text, '[^#]', '', 'g'))
        |      + (length(text) - length(replace(text, '...', ''))) // 3
        |      AS symbols,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |        t -> regexp_matches(t, '[a-zA-Z]'))) AS alpha_words,
        |    len(list_intersect(
        |        list_filter(string_split_regex(text, '\s+'), t -> t <> ''),
        |        ['the', 'a', 'and', 'of', 'to', 'in'])) AS stop_hits
        |  FROM documents WHERE text IS NOT NULL),
        |f AS (
        |  SELECT doc_id,
        |    wc >= 50 AS wc_ok,
        |    CAST(alpha_chars AS DOUBLE) / greatest(wc, 1) >= 4.0
        |      AND CAST(alpha_chars AS DOUBLE) / greatest(wc, 1) <= 5.0
        |      AS mwl_ok,
        |    CAST(symbols AS DOUBLE) / greatest(wc, 1) <= 0.1 AS sym_ok,
        |    CAST(alpha_words AS DOUBLE) / greatest(wc, 1) >= 0.8 AS alpha_ok,
        |    stop_hits >= 2 AS stop_ok
        |  FROM m),
        |long AS (
        |  SELECT doc_id, 'wc_ok' AS rule, wc_ok AS ok FROM f
        |  UNION ALL SELECT doc_id, 'mwl_ok', mwl_ok FROM f
        |  UNION ALL SELECT doc_id, 'sym_ok', sym_ok FROM f
        |  UNION ALL SELECT doc_id, 'alpha_ok', alpha_ok FROM f
        |  UNION ALL SELECT doc_id, 'stop_ok', stop_ok FROM f)
        |SELECT a.rule AS rule_a, b.rule AS rule_b,
        |  CAST(sum(CASE WHEN a.ok AND NOT b.ok THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_b,
        |  CAST(sum(CASE WHEN NOT a.ok AND b.ok THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_c,
        |  CAST(CASE WHEN sum(CASE WHEN a.ok <> b.ok THEN 1 ELSE 0 END) = 0
        |    THEN 0
        |    ELSE (sum(CASE WHEN a.ok AND NOT b.ok THEN 1 ELSE 0 END)
        |        - sum(CASE WHEN NOT a.ok AND b.ok THEN 1 ELSE 0 END))
        |      * (sum(CASE WHEN a.ok AND NOT b.ok THEN 1 ELSE 0 END)
        |        - sum(CASE WHEN NOT a.ok AND b.ok THEN 1 ELSE 0 END))
        |      * 1000000
        |      // sum(CASE WHEN a.ok <> b.ok THEN 1 ELSE 0 END)
        |  END AS BIGINT) AS chi2_ppm
        |FROM long a JOIN long b ON b.doc_id = a.doc_id AND a.rule < b.rule
        |GROUP BY a.rule, b.rule
        |ORDER BY rule_a, rule_b""".stripMargin
    )
  )

  /** q_texttile — TextTiling-style lexical boundary detection
    * (Hearst, CL 1997): candidate gaps every 5 tokens get the exact
    * Jaccard (ppm) between the DISTINCT-token sets of the 10-token
    * windows on either side; a gap whose similarity drops below 0.20
    * is a topic boundary. This is the CONTENT-AWARE chunker a RAG
    * pipeline wants where [[Corpus.qChunkWindows]] cuts at fixed
    * strides and q_cdc_chunks cuts at byte-hash boundaries — lexical
    * shift, not position or bytes, decides the cut, so an inserted
    * paragraph moves boundaries with the topics.
    *
    * 100 TB shape: ENTIRELY in-row — the gap sequence, both window
    * slices, and the intersection sizes are higher-order array
    * functions inside the scan projection (no position explode, no
    * shuffle of text; the only exchange is the output sort of
    * (doc_id, gap_pos, sim_ppm) boundary rows).
    */
  val qTexttile = Q(
    "q_texttile",
    (s, d) => {
      val toks = wsTokens(col("text"))
      val tiles = expr(
        """filter(
          |  transform(
          |    CASE WHEN size(toks) < 20 THEN array()
          |         ELSE sequence(10, size(toks) - 10, 5) END,
          |    p -> named_struct(
          |      'gap_pos', CAST(p AS BIGINT),
          |      'sim_ppm',
          |        CAST(size(array_intersect(
          |            array_distinct(slice(toks, p - 9, 10)),
          |            array_distinct(slice(toks, p + 1, 10)))) AS BIGINT)
          |          * 1000000 div
          |        (CAST(size(array_distinct(slice(toks, p - 9, 10))) AS BIGINT)
          |          + size(array_distinct(slice(toks, p + 1, 10)))
          |          - size(array_intersect(
          |              array_distinct(slice(toks, p - 9, 10)),
          |              array_distinct(slice(toks, p + 1, 10))))))),
          |  w -> w.sim_ppm < 200000)""".stripMargin)
      Tables.documents(s, d)
        .select(col("doc_id"), toks.as("toks"))
        .select(col("doc_id"), explode(tiles).as("b"))
        .select(col("doc_id"), col("b.gap_pos").as("gap_pos"),
          col("b.sim_ppm").as("sim_ppm"))
        .orderBy("doc_id", "gap_pos")
    },
    Some(
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |gaps AS (
        |  SELECT doc_id, CAST(u.p AS BIGINT) AS gap_pos,
        |    list_distinct(toks[u.p - 9 : u.p]) AS pre,
        |    list_distinct(toks[u.p + 1 : u.p + 10]) AS post
        |  FROM t, UNNEST(range(10, greatest(len(toks) - 10 + 1, 10), 5))
        |    AS u(p)),
        |sims AS (
        |  SELECT doc_id, gap_pos,
        |    CAST(len(list_intersect(pre, post)) AS BIGINT) * 1000000
        |      // (len(pre) + len(post) - len(list_intersect(pre, post)))
        |      AS sim_ppm
        |  FROM gaps)
        |SELECT doc_id, gap_pos, CAST(sim_ppm AS BIGINT) AS sim_ppm
        |FROM sims WHERE sim_ppm < 200000
        |ORDER BY doc_id, gap_pos""".stripMargin
    )
  )

  val all: Seq[Q] =
    Seq(qTokenCount, qQualityScore, qLangId, qFingerprint, qTextNormalize,
      qRedact, qDecontaminate, qRepetition, qVocabCoverage, qDialogFlatten,
      qFimSplit, qDpoPairs, qParetoFront, qGopherRules, qAugmentMask,
      qLabelNoise, qSpanCorruption, qChi2Terms, qLenHist, qWinnow, qKappa,
      qFilterAblation, qMcnemar, qTexttile)
}
