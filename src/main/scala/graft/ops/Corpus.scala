package graft.ops

import graft.{Hash, OracleSql, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-construction operators a large-scale training-data pipeline
  * runs between raw text and the tokenizer: span-level exact dedup
  * (C4/RefinedWeb-style repeated-span removal), unigram LM quality
  * scoring, sequence packing, overlapping context-window chunking, and
  * source-mixture resampling.
  *
  * Cross-engine exactness: spans/tokens are exact strings, positions
  * and budgets exact ints, survivorship keys exact integer minima; the
  * only transcendental (ln in the LM score) is quantized to 1e-6
  * before aggregation (the [[Ranking]] guard), and sampling uses the
  * md5-prefix uniform (the [[Sampling]] guard) — no RNG, no
  * engine-dependent float may decide row membership or ordering.
  */
object Corpus {

  private val SpanW = 5

  /** q_span_dedup — C4-style repeated-span removal: each document is
    * segmented into consecutive 5-token spans; a span text that occurs
    * anywhere else in the corpus survives only at its lexicographically
    * first position (min over the exact integer key doc_id*100000+idx);
    * every other occurrence is cut and the document re-assembled from
    * its surviving spans in order.
    *
    * 100 TB shape: the shuffle carries (span, key) pairs — never
    * documents; the survivor choice is one partial-aggregated min per
    * span text, and re-assembly groups by doc_id, the same key the
    * corpus is already laid out on. The span→min(key) map could
    * alternatively be a broadcast Bloom prefilter when the duplicate
    * rate is low ([[Dedup.incrementalNew]] pattern).
    */
  val qSpanDedup = Q(
    "q_span_dedup",
    (s, d) => {
      // span slicing + concat is fused on the one-row-group scan —
      // spread first (no-op at scale; see Tables.spreadForCompute)
      val docs = Tables
        .spreadForCompute(Tables.documents(s, d), s, d, "documents")
        .select(col("doc_id"), TextOps.wsTokens(col("text")).as("t"))
      val nSpans = (floor((size(col("t")) - 1) / SpanW) + 1).cast("int")
      // zero-token docs must produce NO spans: sequence(0, -1) would
      // yield [0, -1] (step defaults to -1), diverging from the
      // oracle's empty range(0, 0) — guard matches q_substr_regions
      val spans = docs
        .filter(size(col("t")) > 0)
        .select(col("doc_id"), nSpans.as("n_spans"),
          posexplode(transform(
            sequence(lit(0), nSpans - 1),
            k => concat_ws(" ", slice(col("t"), k * SpanW + 1, lit(SpanW))))))
        .withColumnRenamed("pos", "idx")
        .withColumnRenamed("col", "span")
        .withColumn("k", col("doc_id") * 100000L + col("idx"))
      val surv = spans.groupBy("span").agg(min(col("k")).as("mk"))
      val kept = spans.join(surv, "span").filter(col("k") === col("mk"))
      val rebuilt = kept.groupBy("doc_id").agg(
        count(lit(1)).cast("int").as("n_spans_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("idx"), col("span")))),
            x => x.getField("span")), " ").as("text_dedup"))
      docs.select(col("doc_id"), nSpans.as("n_spans"))
        .join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_spans"),
          coalesce(col("n_spans_kept"), lit(0)).as("n_spans_kept"),
          coalesce(col("text_dedup"), lit("")).as("text_dedup"))
        .orderBy("doc_id")
    },
    Some(
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t
         |  FROM documents),
         |spans AS (
         |  SELECT doc_id, CAST(u.k AS INT) AS idx,
         |    array_to_string(t[u.k*$SpanW+1 : u.k*$SpanW+$SpanW], ' ') AS span,
         |    doc_id*100000 + u.k AS k
         |  FROM toks, UNNEST(range(0, (len(t)-1)//$SpanW + 1)) AS u(k)),
         |surv AS (SELECT span, min(k) AS mk FROM spans GROUP BY span),
         |kept AS (
         |  SELECT doc_id, idx, spans.span FROM spans
         |  JOIN surv ON spans.span = surv.span AND spans.k = surv.mk),
         |rebuilt AS (
         |  SELECT doc_id, CAST(count(*) AS INT) AS n_spans_kept,
         |    string_agg(span, ' ' ORDER BY idx) AS text_dedup
         |  FROM kept GROUP BY doc_id)
         |SELECT toks.doc_id AS doc_id,
         |  CAST((len(t)-1)//$SpanW + 1 AS INT) AS n_spans,
         |  coalesce(n_spans_kept, 0) AS n_spans_kept,
         |  coalesce(text_dedup, '') AS text_dedup
         |FROM toks LEFT JOIN rebuilt ON toks.doc_id = rebuilt.doc_id
         |ORDER BY toks.doc_id""".stripMargin
    )
  )

  /** q_lm_quality — unigram language-model quality score: the corpus
    * itself is the LM (token → count over all documents), and each
    * document scores the mean log-probability of its own tokens —
    * the KenLM-style perplexity filter of CCNet/RedPajama, with the
    * n-gram model degenerated to unigrams so both engines can train it
    * in one aggregation.
    *
    * 100 TB shape: the vocabulary is tiny relative to the corpus
    * (Heaps' law), so token→logprob is a broadcast join against the
    * exploded token stream; per-doc aggregation is partial-aggregated
    * on the corpus's own doc_id layout. ln is quantized to 1e-6 into
    * exact BIGINTs, so the per-doc sum is exact integer math and the
    * final division is one IEEE op on identical inputs.
    */
  val qLmQuality = Q(
    "q_lm_quality",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextOps.wsTokens(col("text"))).as("token"))
      val vocab = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
      val total = vocab.agg(sum(col("cnt")).cast("double").as("total"))
      val lm = vocab.crossJoin(broadcast(total))
        .select(col("token"),
          floor(log(col("cnt") / col("total")) * 1e6 + 0.5)
            .cast("long").as("lpq"))
      toks.join(broadcast(lm), "token")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_tokens"),
          sum(col("lpq")).as("sumq"))
        .select(col("doc_id"), col("n_tokens"),
          (col("sumq").cast("double") / 1e6 / col("n_tokens"))
            .as("avg_logprob"))
        .orderBy("doc_id")
    },
    Some(
      """WITH toks AS (
        |  SELECT doc_id, token
        |  FROM (SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
        |    FROM documents), UNNEST(t) AS u(token)),
        |vocab AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
        |lm AS (
        |  SELECT token,
        |    CAST(floor(ln(CAST(cnt AS DOUBLE)
        |      / (SELECT CAST(sum(cnt) AS DOUBLE) FROM vocab)) * 1e6 + 0.5)
        |      AS BIGINT) AS lpq
        |  FROM vocab)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
        |  CAST(sum(lpq) AS DOUBLE) / 1e6 / count(*) AS avg_logprob
        |FROM toks JOIN lm USING (token)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    )
  )

  /** q_pack_sequences — training-sequence packing by concatenation:
    * within each source shard, documents are concatenated in doc_id
    * order and split into fixed 256-token training sequences; each
    * document reports its token offset and the first/last sequence it
    * lands in (documents cross sequence boundaries, as in GPT-style
    * pretraining packing).
    *
    * 100 TB shape: the running offset is a window partitioned by the
    * shard key — each shard's prefix sum is independent, so the window
    * distributes; no global single-partition sort exists. Budget math
    * is exact integer division.
    *
    * Exactness: the oracle's window sum over an INT expression returns
    * HUGEINT in DuckDB while Spark emits BIGINT — the oracle casts the
    * whole coalesce to BIGINT so both engines hash identically.
    */
  val qPackSequences = Q(
    "q_pack_sequences",
    (s, d) => {
      val B = 256
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          size(TextOps.wsTokens(col("text"))).as("n_tok"))
        .withColumn("off", coalesce(sum(col("n_tok")).over(w), lit(0L)))
        .select(col("source"), col("doc_id"), col("n_tok"), col("off"),
          floor(col("off") / B).cast("int").as("seq_start"),
          floor((col("off") + col("n_tok") - 1) / B).cast("int")
            .as("seq_end"))
        .orderBy("source", "doc_id")
    },
    Some(
      """SELECT source, doc_id, n_tok, off,
        |  CAST(off // 256 AS INT) AS seq_start,
        |  CAST((off + n_tok - 1) // 256 AS INT) AS seq_end
        |FROM (
        |  SELECT source, doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t <> '')) AS INT) AS n_tok,
        |    CAST(coalesce(sum(CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t <> '')) AS INT)) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM documents)
        |ORDER BY source, doc_id""".stripMargin
    )
  )

  /** q_chunk_windows — overlapping context windows: each document's
    * token stream is cut into windows of 64 tokens at stride 32 (the
    * sliding-window chunking of long-document embedding/eval
    * pipelines); emits each window's start, length, and first token.
    *
    * 100 TB shape: pure map-side explode — windows of a document never
    * leave its partition, and the output size is a fixed ~2× multiple
    * of the token count set by the stride/window ratio.
    */
  val qChunkWindows = Q(
    "q_chunk_windows",
    (s, d) => {
      val (win, stride) = (64, 32)
      Tables.documents(s, d)
        .select(col("doc_id"), TextOps.wsTokens(col("text")).as("t"))
        // zero-token guard: sequence(0, -1) = [0, -1], not empty
        .filter(size(col("t")) > 0)
        .select(col("doc_id"), col("t"), size(col("t")).as("n"),
          posexplode(sequence(lit(0), floor((size(col("t")) - 1) / stride)
            .cast("int"))))
        .select(col("doc_id"),
          col("pos").cast("int").as("win_id"),
          (col("pos") * stride).cast("int").as("tok_start"),
          least(lit(win), col("n") - col("pos") * stride).cast("int")
            .as("tok_len"),
          element_at(col("t"), col("pos") * stride + 1).as("first_tok"))
        .orderBy("doc_id", "win_id")
    },
    Some(
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
        |  FROM documents)
        |SELECT doc_id, CAST(u.k AS INT) AS win_id,
        |  CAST(u.k * 32 AS INT) AS tok_start,
        |  CAST(least(64, len(t) - u.k * 32) AS INT) AS tok_len,
        |  t[u.k * 32 + 1] AS first_tok
        |FROM toks, UNNEST(range(0, (len(t)-1)//32 + 1)) AS u(k)
        |ORDER BY doc_id, win_id""".stripMargin
    )
  )

  /** q_mixture_sample — source-mixture resampling: curation pins a
    * target corpus mix (keep the head sources whole, downsample the
    * tail to 40%) and the filter decides membership from the md5-prefix
    * uniform against an exact integer threshold — deterministic,
    * stable under repartitioning, identical keep-set in both engines.
    *
    * 100 TB shape: map-side filter on the scan, then a partial-agg
    * count per source; no shuffle of document text.
    */
  val qMixtureSample = Q(
    "q_mixture_sample",
    (s, d) => {
      val headSrc = Seq("src0", "src1", "src2", "src3", "src4")
      // floor(0.4 * 2^32) — tail sources keep u32 < this
      val tailThresh = 1717986918L
      val u32 = Hash.hexToBigint(md5(col("text"))).cast("long")
      val kept = Tables.documents(s, d)
        .withColumn("u32", u32)
        .filter(col("source").isin(headSrc: _*) || col("u32") < tailThresh)
      kept.groupBy("source")
        .agg(count(lit(1)).cast("int").as("n_kept"),
          sum(col("n_chars")).as("chars_kept"))
        .orderBy("source")
    },
    Some(
      s"""SELECT source, CAST(count(*) AS INT) AS n_kept,
         |  CAST(sum(n_chars) AS BIGINT) AS chars_kept
         |FROM (SELECT source, n_chars, substr(md5(text), 1, 8) AS h
         |      FROM documents)
         |WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')
         |   OR ${OracleSql.hexToBigint("h")} < 1717986918
         |GROUP BY source
         |ORDER BY source""".stripMargin
    )
  )

  /** q_entropy — per-source token-distribution Shannon entropy, the
    * corpus-diversity metric of curation dashboards. Exactness: the
    * per-token term is cnt × lnq(cnt/total) with lnq the 1e-6-quantized
    * ln — an exact BIGINT product summed exactly; entropy surfaces as
    * −Σ/1e6/total, one double division chain on identical inputs.
    * (A naive Σ p·ln p sums doubles in engine-dependent order.)
    */
  val qEntropy = Q(
    "q_entropy",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("source"),
          explode(TextOps.wsTokens(col("text"))).as("token"))
      val cnts = toks.groupBy("source", "token").agg(count(lit(1)).as("cnt"))
      val totals = cnts.groupBy("source").agg(sum(col("cnt")).as("total"))
      cnts.join(broadcast(totals), "source")
        .select(col("source"), col("total"),
          (col("cnt") * floor(log(col("cnt") / col("total")) * 1e6 + 0.5)
            .cast("long")).as("term"))
        .groupBy("source", "total")
        .agg(sum(col("term")).as("sumq"), count(lit(1)).as("n_types"))
        .select(col("source"),
          (-col("sumq").cast("double") / 1e6 / col("total")).as("entropy"),
          col("n_types").cast("int").as("n_types"),
          col("total").as("n_tokens"))
        .orderBy("source")
    },
    Some(
      """WITH toks AS (
        |  SELECT source, token
        |  FROM (SELECT source,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
        |    FROM documents), UNNEST(t) AS u(token)),
        |cnts AS (
        |  SELECT source, token, count(*) AS cnt
        |  FROM toks GROUP BY source, token),
        |totals AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS total
        |           FROM cnts GROUP BY source)
        |SELECT source,
        |  -CAST(SUM(cnt * CAST(floor(ln(CAST(cnt AS DOUBLE) / total)
        |      * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6 / total AS entropy,
        |  CAST(count(*) AS INT) AS n_types,
        |  total AS n_tokens
        |FROM cnts JOIN totals USING (source)
        |GROUP BY source, total
        |ORDER BY source""".stripMargin
    )
  )

  /** q_domain_shift — KL divergence of each source's token distribution
    * from the whole-corpus distribution: KL(s‖c) = Σ_t p_s(t) ·
    * (ln p_s(t) − ln p_c(t)) — the domain-shift score curation uses to
    * spot outlier sources before mixing. Same exact-BIGINT shape as
    * [[qEntropy]]: Σ cnt_s × (lnqS − lnqC), one final division. Every
    * source token also occurs in the corpus distribution by
    * construction, so no term is undefined.
    */
  val qDomainShift = Q(
    "q_domain_shift",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("source"),
          explode(TextOps.wsTokens(col("text"))).as("token"))
      val srcCnt = toks.groupBy("source", "token").agg(count(lit(1)).as("cs"))
      val srcTot = srcCnt.groupBy("source").agg(sum(col("cs")).as("ts"))
      val corpCnt = srcCnt.groupBy("token").agg(sum(col("cs")).as("cc"))
      val corpTot = corpCnt.agg(sum(col("cc")).as("tc"))
      def lnq(p: Column): Column = floor(log(p) * 1e6 + 0.5).cast("long")
      srcCnt.join(broadcast(corpCnt), "token")
        .join(broadcast(srcTot), "source")
        .crossJoin(broadcast(corpTot))
        .select(col("source"), col("ts"),
          (col("cs") * (lnq(col("cs") / col("ts"))
            - lnq(col("cc") / col("tc")))).as("term"))
        .groupBy("source", "ts")
        .agg(sum(col("term")).as("sumq"))
        .select(col("source"),
          (col("sumq").cast("double") / 1e6 / col("ts")).as("kl_from_corpus"))
        .orderBy("source")
    },
    Some(
      """WITH toks AS (
        |  SELECT source, token
        |  FROM (SELECT source,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
        |    FROM documents), UNNEST(t) AS u(token)),
        |sc AS (SELECT source, token, count(*) AS cs
        |       FROM toks GROUP BY source, token),
        |st AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ts
        |       FROM sc GROUP BY source),
        |cc AS (SELECT token, CAST(sum(cs) AS BIGINT) AS cc
        |       FROM sc GROUP BY token),
        |ct AS (SELECT CAST(sum(cc) AS BIGINT) AS tc FROM cc)
        |SELECT source,
        |  CAST(SUM(cs * (CAST(floor(ln(CAST(cs AS DOUBLE) / ts) * 1e6 + 0.5) AS BIGINT)
        |    - CAST(floor(ln(CAST(cc.cc AS DOUBLE) / tc) * 1e6 + 0.5) AS BIGINT)))
        |    AS DOUBLE) / 1e6 / ts AS kl_from_corpus
        |FROM sc JOIN cc USING (token) JOIN st USING (source) CROSS JOIN ct
        |GROUP BY source, ts
        |ORDER BY source""".stripMargin
    )
  )

  /** q_source_overlap — vocabulary Jaccard between every source pair:
    * |V_a ∩ V_b| from a self-join of the (source, token) distinct set
    * on token, |V_a ∪ V_b| = |V_a| + |V_b| − |∩| from exact counts —
    * the source-similarity matrix curation consults when collapsing
    * near-identical crawls. Counts exact; one final double division.
    *
    * 100 TB shape: the shuffle carries distinct (source, token) pairs
    * (vocabulary-sized, Heaps-law small); the token self-join groups
    * by pair with partial aggregation; no document text moves.
    */
  val qSourceOverlap = Q(
    "q_source_overlap",
    (s, d) => {
      val vocab = Tables.documents(s, d)
        .select(col("source"),
          explode(TextOps.wsTokens(col("text"))).as("token"))
        .distinct()
      val sizes = vocab.groupBy("source").agg(count(lit(1)).as("vs"))
      val inter = vocab.as("a")
        .join(vocab.as("b"), Seq("token"))
        .filter(col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(broadcast(sizes.select(col("source").as("src_a"), col("vs").as("va"))), "src_a")
        .join(broadcast(sizes.select(col("source").as("src_b"), col("vs").as("vb"))), "src_b")
        .select(col("src_a"), col("src_b"), col("n_inter"),
          (col("va") + col("vb") - col("n_inter")).as("n_union"),
          (col("n_inter").cast("double")
            / (col("va") + col("vb") - col("n_inter"))).as("jaccard"))
        .orderBy("src_a", "src_b")
    },
    Some(
      """WITH vocab AS (
        |  SELECT DISTINCT source, token
        |  FROM (SELECT source,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
        |    FROM documents), UNNEST(t) AS u(token)),
        |sizes AS (SELECT source, count(*) AS vs FROM vocab GROUP BY source),
        |inter AS (
        |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_inter
        |  FROM vocab a JOIN vocab b ON a.token = b.token
        |    AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, n_inter,
        |  sa.vs + sb.vs - n_inter AS n_union,
        |  CAST(n_inter AS DOUBLE) / (sa.vs + sb.vs - n_inter) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.source = src_a
        |JOIN sizes sb ON sb.source = src_b
        |ORDER BY src_a, src_b""".stripMargin
    )
  )

  /** q_source_minhash — source-level similarity from MERGEABLE
    * signatures: each source is summarized by an 8-slot MinHash over
    * its distinct token vocabulary (slot = min of the fused
    * `minhash_slices` kernel's digest slices — the same hash family
    * as the per-doc signatures), and every source pair gets the
    * agreement estimate next to q_source_overlap's exact vocabulary
    * Jaccard with the signed error. The point is the merge property:
    * slot-min is associative/commutative, so a source's signature
    * partial-aggregates map-side and two shards' signatures combine
    * by element-wise min — at 100 TB a source's similarity summary is
    * 8 longs, while the exact pair intersection re-joins the whole
    * vocabulary. The estimator's coarseness (8 slots) is visible in
    * `err` — the same calibration contract as q_jaccard_est.
    *
    * 100 TB shape: the signature aggregate shuffles ≤ 8 longs per
    * (partition, source); the pair scoring is a broadcast of
    * sources×8 longs onto the exact table.
    */
  val qSourceMinhash = Q(
    "q_source_minhash",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("source"),
          explode(TextOps.wsTokens(col("text"))).as("token"))
        .distinct()
      val sliced = toks.select(col("source"),
        graft.functions.GraftFunctions.minhash_slices(col("token"))
          .as("hs"))
      val mins = (0 until 8).map(j => min(col("hs").getItem(j)).as(s"h$j"))
      val sig = sliced.groupBy("source").agg(mins.head, mins.tail: _*)
      val sa = sig.select(col("source").as("src_a") +:
        (0 until 8).map(j => col(s"h$j").as(s"a$j")): _*)
      val sb = sig.select(col("source").as("src_b") +:
        (0 until 8).map(j => col(s"h$j").as(s"b$j")): _*)
      val agree = (0 until 8)
        .map(j => when(col(s"a$j") === col(s"b$j"), 1).otherwise(0))
        .reduce(_ + _)
      qSourceOverlap.fn(s, d).select("src_a", "src_b", "jaccard")
        .join(broadcast(sa), "src_a")
        .join(broadcast(sb), "src_b")
        .select(col("src_a"), col("src_b"),
          agree.cast("int").as("n_agree"),
          (agree.cast("double") / lit(8.0)).as("est_jaccard"),
          col("jaccard"),
          ((agree.cast("double") / lit(8.0)) - col("jaccard")).as("err"))
        .orderBy("src_a", "src_b")
    },
    Some {
      val hs = (0 until 8).map { j =>
        val dig = if (j < 4) "d0" else "d1"
        val st = (j % 4) * 8 + 1
        s"CAST(min(${OracleSql.hexToBigint(dig, st)}) AS BIGINT) AS h$j"
      }.mkString(",\n    ")
      val agreeSql = (0 until 8)
        .map(j => s"CASE WHEN a.h$j = b.h$j THEN 1 ELSE 0 END")
        .mkString("(", " + ", ")")
      s"""WITH vocab AS (
         |  SELECT DISTINCT source, token
         |  FROM (SELECT source,
         |    list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t
         |    FROM documents), UNNEST(t) AS u(token)),
         |dg AS (
         |  SELECT source, md5('0|' || token) AS d0, md5('1|' || token) AS d1
         |  FROM vocab),
         |sig AS (
         |  SELECT source,
         |    $hs
         |  FROM dg GROUP BY source),
         |exact AS (${qSourceOverlap.oracle.get})
         |SELECT e.src_a, e.src_b,
         |  CAST($agreeSql AS INT) AS n_agree,
         |  CAST($agreeSql AS DOUBLE) / 8.0 AS est_jaccard,
         |  e.jaccard,
         |  CAST($agreeSql AS DOUBLE) / 8.0 - e.jaccard AS err
         |FROM exact e
         |JOIN sig a ON a.source = e.src_a
         |JOIN sig b ON b.source = e.src_b
         |ORDER BY e.src_a, e.src_b""".stripMargin
    }
  )

  /** q_minhash_agg — the same per-source 8-slot MinHash signatures as
    * q_source_minhash's hand-assembled min aggregation, computed by
    * [[graft.functions.MinHashAgg]]: graft's native `graft_minhash`
    * Catalyst aggregate (registered via both the extensions hook and
    * the session temp function). Slot-min is order-independent —
    * unlike order-sensitive sketches (a Misra-Gries counter set
    * depends on arrival order, so under Spark's nondeterministic
    * partition order it could never be hash-compared; that design was
    * considered for a heavy-hitters aggregate and rejected) — so the
    * native signature is deterministic and shares its defined result
    * with the SQL register DAG. The 'ALL' row aggregates the whole
    * vocabulary stream: because merge is element-wise min, it equals
    * the merge of the per-source sketches (the union property, spec-
    * asserted); signatures are flattened to h0..h7 columns (array
    * cells crash the driver's sort — the q_inverted_index lesson).
    *
    * 100 TB shape: one tokenize pass; the aggregate buffer is 64 bytes
    * per (partition, source) under ObjectHashAggregate partial
    * aggregation — the text never shuffles, only 8-long sketch rows.
    */
  val qMinhashAgg = Q(
    "q_minhash_agg",
    (s, d) => {
      import graft.functions.GraftFunctions.graft_minhash
      val toks = Tables.documents(s, d)
        .select(col("source"),
          explode(TextOps.wsTokens(col("text"))).as("token"))
        .distinct()
      val perSrc = toks.groupBy("source")
        .agg(graft_minhash(col("token")).as("sig"))
      val allRow = toks.agg(graft_minhash(col("token")).as("sig"))
        .select(lit("ALL").as("source"), col("sig"))
      perSrc.unionByName(allRow)
        .select(col("source") +:
          (0 until 8).map(j => element_at(col("sig"), j + 1).as(s"h$j")): _*)
        .orderBy("source")
    },
    Some {
      val hs = (0 until 8).map { j =>
        val dig = if (j < 4) "d0" else "d1"
        val st = (j % 4) * 8 + 1
        s"CAST(min(${OracleSql.hexToBigint(dig, st)}) AS BIGINT) AS h$j"
      }.mkString(",\n    ")
      s"""WITH vocab AS (
         |  SELECT DISTINCT source, token
         |  FROM (SELECT source,
         |    list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t
         |    FROM documents), UNNEST(t) AS u(token)),
         |dg AS (
         |  SELECT source, md5('0|' || token) AS d0, md5('1|' || token) AS d1
         |  FROM vocab),
         |sig AS (
         |  SELECT source,
         |    $hs
         |  FROM dg GROUP BY source
         |  UNION ALL
         |  SELECT 'ALL',
         |    $hs
         |  FROM dg)
         |SELECT source, h0, h1, h2, h3, h4, h5, h6, h7
         |FROM sig ORDER BY source""".stripMargin
    }
  )

  /** q_concentration — per-source token concentration: Herfindahl index
    * HHI = Σ cnt² / total² (and the equivalent effective vocabulary size
    * 1/HHI) — the inverse view of [[qEntropy]]'s diversity, fully exact:
    * Σ cnt² is an exact BIGINT aggregate, the division one double op on
    * identical inputs. A source whose token mass concentrates in few
    * types (template/boilerplate heavy) scores high and gets flagged
    * before mixing.
    *
    * 100 TB shape: identical to entropy — one token explode, one
    * partial-aggregated count per (source, token), one per-source sum.
    */
  val qConcentration = Q(
    "q_concentration",
    (s, d) => {
      val cnts = Tables.documents(s, d)
        .select(col("source"),
          explode(TextOps.wsTokens(col("text"))).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("cnt"))
      cnts.groupBy("source")
        .agg(sum(col("cnt")).as("total"),
          sum(col("cnt") * col("cnt")).as("sumsq"),
          count(lit(1)).cast("int").as("n_types"))
        .select(col("source"),
          // square in double (exact for totals < 2^53): a BIGINT
          // total² would overflow near 3e9 tokens per source
          (col("sumsq").cast("double")
            / (col("total").cast("double") * col("total").cast("double")))
            .as("hhi"),
          (col("total").cast("double") * col("total").cast("double")
            / col("sumsq").cast("double")).as("effective_vocab"),
          col("n_types"))
        .orderBy("source")
    },
    Some(
      """WITH cnts AS (
        |  SELECT source, token, count(*) AS cnt
        |  FROM (SELECT source,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
        |    FROM documents), UNNEST(t) AS u(token)
        |  GROUP BY source, token),
        |agg AS (
        |  SELECT source, CAST(sum(cnt) AS BIGINT) AS total,
        |    CAST(sum(cnt * cnt) AS BIGINT) AS sumsq,
        |    CAST(count(*) AS INT) AS n_types
        |  FROM cnts GROUP BY source)
        |SELECT source,
        |  CAST(sumsq AS DOUBLE)
        |    / (CAST(total AS DOUBLE) * CAST(total AS DOUBLE)) AS hhi,
        |  CAST(total AS DOUBLE) * CAST(total AS DOUBLE)
        |    / CAST(sumsq AS DOUBLE) AS effective_vocab,
        |  n_types
        |FROM agg ORDER BY source""".stripMargin
    )
  )

  /** q_bigram_lm — bigram language-model quality score: the corpus
    * trains its own conditional model P(w₂|w₁) = c(w₁w₂)/c(w₁·) in one
    * aggregation (c(w₁·) counted over bigram starts, so the
    * normalization is exact without end-of-document bookkeeping), and
    * each document scores the mean log-probability of its own bigram
    * stream — the next step up from [[qLmQuality]]'s unigram filter
    * toward the KenLM 5-gram of CCNet. No smoothing is needed because
    * the model is self-trained: every scored bigram has count ≥ 1.
    *
    * 100 TB shape: bigram types grow faster than the unigram
    * vocabulary but stay corpus-sublinear (Heaps); the model broadcasts
    * here and would fall back to a bigram-keyed shuffle join (or a
    * pruned top-K model with unigram backoff) past the broadcast
    * threshold. The document side is a map-only explode; per-doc
    * scoring partial-aggregates on the corpus's own layout. ln is
    * 1e-6-quantized into exact BIGINTs (the file's standing rule), so
    * only the final per-doc division is floating point.
    */
  val qBigramLm = Q(
    "q_bigram_lm",
    (s, d) => {
      val bigrams = Tables.documents(s, d)
        .select(col("doc_id"), TextOps.wsTokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2) // sequence(1, 0) would descend
        .select(col("doc_id"),
          explode(transform(
            sequence(lit(1), size(col("t")) - 1),
            i => struct(element_at(col("t"), i).as("w1"),
              element_at(col("t"), i + 1).as("w2")))).as("b"))
        .select(col("doc_id"), col("b.w1"), col("b.w2"))
      val pairCnt = bigrams.groupBy("w1", "w2")
        .agg(count(lit(1)).as("c2"))
      val startCnt = bigrams.groupBy("w1").agg(count(lit(1)).as("c1"))
      val model = pairCnt.join(startCnt, "w1")
        .select(col("w1"), col("w2"),
          floor(log(col("c2").cast("double") / col("c1").cast("double"))
            * 1e6 + 0.5).cast("long").as("lpq"))
      bigrams.join(broadcast(model), Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_bigrams"),
          sum(col("lpq")).as("sumq"))
        .select(col("doc_id"), col("n_bigrams"),
          (col("sumq").cast("double") / 1e6 / col("n_bigrams"))
            .as("avg_logprob"))
        .orderBy("doc_id")
    },
    Some(
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        |  FROM toks, UNNEST(range(1, len(t))) AS u(i)
        |  WHERE len(t) >= 2),
        |pair_cnt AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
        |start_cnt AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
        |model AS (
        |  SELECT w1, w2,
        |    CAST(floor(ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))
        |      * 1e6 + 0.5) AS BIGINT) AS lpq
        |  FROM pair_cnt JOIN start_cnt USING (w1))
        |SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
        |  CAST(sum(lpq) AS DOUBLE) / 1e6 / count(*) AS avg_logprob
        |FROM bg JOIN model USING (w1, w2)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    )
  )

  /** q_kneser_ney — interpolated Kneser–Ney bigram scoring (the
    * smoothing KenLM uses, i.e. what CCNet-style quality filtering
    * actually runs — the plain MLE q_bigram_lm assigns zero mass to
    * unseen continuations; KN discounts every seen bigram by d = 0.75
    * and redistributes via the CONTINUATION unigram, "how many
    * contexts does this word complete", not raw frequency):
    * P(w₂|w₁) = max(c(w₁w₂)−d, 0)/c(w₁) + d·N₁₊(w₁·)/c(w₁) ·
    * N₁₊(·w₂)/D. All counts are exact integers from two aggregate
    * passes over the bigram stream; each bigram's ln P is quantized
    * to 1e-6 (repo convention) and summed as integers per document —
    * no shuffle-order float sum. Emits per-doc n_bigrams and the
    * KN average log-probability.
    *
    * 100 TB shape: the q_bigram_lm shape plus one more
    * vocabulary-sized aggregate (continuation counts); the model
    * tables broadcast back onto the corpus-layout bigram stream, so
    * document text never shuffles.
    */
  val qKneserNey = Q(
    "q_kneser_ney",
    (s, d) => {
      val bigrams = Tables.documents(s, d)
        .select(col("doc_id"), TextOps.wsTokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"),
          explode(transform(
            sequence(lit(1), size(col("t")) - 1),
            i => struct(element_at(col("t"), i).as("w1"),
              element_at(col("t"), i + 1).as("w2")))).as("b"))
        .select(col("doc_id"), col("b.w1"), col("b.w2"))
      val pairCnt = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      val c1 = pairCnt.groupBy("w1").agg(sum(col("c2")).as("c1"),
        count(lit(1)).as("n1f"))
      val n1b = pairCnt.groupBy("w2").agg(count(lit(1)).as("n1b"))
      val dTot = pairCnt.agg(count(lit(1)).as("dd"))
      val model = pairCnt.join(c1, "w1").join(n1b, "w2")
        .crossJoin(broadcast(dTot))
        .select(col("w1"), col("w2"),
          floor(log(
            (greatest(col("c2").cast("double") - lit(0.75), lit(0.0)) +
              lit(0.75) * col("n1f") *
                (col("n1b").cast("double") / col("dd"))) /
              col("c1")) * lit(1000000.0) + lit(0.5)).cast("long")
            .as("lpq"))
      bigrams.join(model, Seq("w1", "w2"))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_bigrams"),
          sum(col("lpq")).as("sumq"))
        .select(col("doc_id"), col("n_bigrams"),
          (col("sumq").cast("double") / 1e6 / col("n_bigrams"))
            .as("kn_logprob"))
        .orderBy("doc_id")
    },
    Some(
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        |  FROM toks, UNNEST(range(1, len(t))) AS u(i)
        |  WHERE len(t) >= 2),
        |pair_cnt AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
        |c1 AS (
        |  SELECT w1, CAST(sum(c2) AS BIGINT) AS c1, count(*) AS n1f
        |  FROM pair_cnt GROUP BY w1),
        |n1b AS (SELECT w2, count(*) AS n1b FROM pair_cnt GROUP BY w2),
        |dtot AS (SELECT count(*) AS dd FROM pair_cnt),
        |model AS (
        |  SELECT p.w1, p.w2,
        |    CAST(floor(ln(
        |      (greatest(CAST(c2 AS DOUBLE) - 0.75, 0.0)
        |        + 0.75 * n1f * (CAST(n1b AS DOUBLE) / dd)) / c1)
        |      * 1000000.0 + 0.5) AS BIGINT) AS lpq
        |  FROM pair_cnt p
        |  JOIN c1 ON c1.w1 = p.w1
        |  JOIN n1b ON n1b.w2 = p.w2
        |  CROSS JOIN dtot)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams,
        |  CAST(sum(lpq) AS DOUBLE) / 1e6 / count(*) AS kn_logprob
        |FROM bg JOIN model USING (w1, w2)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    )
  )

  /** q_shard_balance — balanced training-shard assignment: documents
    * are dealt onto 8 shards in SNAKE (boustrophedon) order of global
    * token-count rank (1st..8th largest → shards 0..7, 9th..16th →
    * shards 7..0, …) — the deterministic folded-deal approximation of
    * LPT packing: each 16-row double round gives every shard one
    * large+small pair, so shard token totals stay near-equal without
    * a sequential packing loop. Emits the per-shard document count
    * and token total — the job-placement manifest a multi-host
    * training run reads.
    *
    * 100 TB shape: the global rank is [[Distributed.globalRank0]]'s
    * two-pass ranged form (range repartition + per-partition counts +
    * broadcast offsets + a PARTITIONED row_number) — no global
    * single-task window; the final aggregate is 8 rows.
    */
  val qShardBalance = Q(
    "q_shard_balance",
    (s, d) => {
      val S = 8
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
          size(TextOps.wsTokens(col("text"))).cast("long").as("n_tokens"))
      val (ranked, _, rankCol) = Distributed.globalRank0(
        toks, Seq(col("n_tokens").desc, col("doc_id").asc), "shard")
      val round = floor(col(rankCol) / S).cast("long")
      val pos   = pmod(col(rankCol), lit(S)).cast("long")
      ranked
        .withColumn("shard",
          when(pmod(round, lit(2)) === 0, pos).otherwise(lit(S - 1) - pos)
            .cast("int"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
        .orderBy("shard")
    },
    Some(
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT n_tokens,
        |    row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS rank0
        |  FROM t)
        |SELECT CAST(CASE WHEN (rank0 // 8) % 2 = 0 THEN rank0 % 8
        |            ELSE 7 - rank0 % 8 END AS INT) AS shard,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM r GROUP BY shard ORDER BY shard""".stripMargin
    )
  )

  /** q_boilerplate — cross-document frequent-span mining (the CCNet /
    * RefinedWeb boilerplate detector): the corpus's 5-token spans
    * (same segmentation as [[qSpanDedup]]) ranked by document
    * frequency; spans appearing in ≥ 3 distinct documents are the
    * navigation chrome / license footers / template text a curation
    * pipeline strips corpus-wide. Emits the top 20 by (df, total
    * occurrences, span).
    *
    * 100 TB shape: the per-(span, doc) pre-aggregate is the classic
    * two-level distinct — partial-aggregated on the scan layout, so
    * the shuffle carries (span, doc_id) pairs once per distinct
    * combination, never documents; the df rollup then touches one row
    * per distinct pair and the result is top-k small.
    */
  val qBoilerplate = Q(
    "q_boilerplate",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), TextOps.wsTokens(col("text")).as("t"))
        .filter(size(col("t")) > 0)
      val nSpans = (floor((size(col("t")) - 1) / SpanW) + 1).cast("int")
      val spans = docs
        .select(col("doc_id"),
          explode(transform(
            sequence(lit(0), nSpans - 1),
            k => concat_ws(" ", slice(col("t"), k * SpanW + 1, lit(SpanW)))))
            .as("span"))
      spans
        .groupBy("span", "doc_id").agg(count(lit(1)).as("n_occ"))
        .groupBy("span")
        .agg(count(lit(1)).as("df"), sum(col("n_occ")).as("n_occ"))
        .filter(col("df") >= 3)
        .orderBy(desc("df"), desc("n_occ"), col("span"))
        .limit(20)
    },
    Some(
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t
         |  FROM documents),
         |spans AS (
         |  SELECT doc_id, array_to_string(t[u.k*$SpanW+1 : u.k*$SpanW+$SpanW], ' ') AS span
         |  FROM toks, UNNEST(range(0, (len(t)-1)//$SpanW + 1)) AS u(k)
         |  WHERE len(t) > 0),
         |perdoc AS (SELECT span, doc_id, count(*) AS n_occ FROM spans GROUP BY 1, 2)
         |SELECT span, count(*) AS df, CAST(sum(n_occ) AS BIGINT) AS n_occ
         |FROM perdoc GROUP BY span
         |HAVING count(*) >= 3
         |ORDER BY df DESC, n_occ DESC, span LIMIT 20""".stripMargin
    )
  )

  /** q_pack_efficiency — the packing manifest [[qPackSequences]]'s
    * consumers read: per source shard, the document count, exact token
    * total, number of 256-token training sequences the concatenated
    * shard fills (ceil division), padding tokens wasted in the final
    * partial sequence, and the fill ratio — the number a pipeline
    * watches to decide whether shard sizes amortize padding.
    *
    * 100 TB shape: one partial-aggregated groupBy on the shard key;
    * all arithmetic on exact BIGINTs, the fill ratio one IEEE divide
    * of exact ints.
    */
  val qPackEfficiency = Q(
    "q_pack_efficiency",
    (s, d) => {
      val B = 256
      val agg = Tables.documents(s, d)
        .select(col("source"),
          size(TextOps.wsTokens(col("text"))).cast("long").as("n_tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      val nSeq = floor((col("n_tokens") + (B - 1)) / B).cast("long")
      agg
        .select(col("source"), col("n_docs"), col("n_tokens"),
          nSeq.as("n_seqs"),
          (nSeq * B - col("n_tokens")).as("pad_tokens"),
          (col("n_tokens").cast("double") / (nSeq * B).cast("double"))
            .as("fill_ratio"))
        .orderBy("source")
    },
    Some(
      """WITH agg AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t <> ''))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source)
        |SELECT source, n_docs, n_tokens,
        |  CAST((n_tokens + 255) // 256 AS BIGINT) AS n_seqs,
        |  CAST(((n_tokens + 255) // 256) * 256 - n_tokens AS BIGINT) AS pad_tokens,
        |  CAST(n_tokens AS DOUBLE) / CAST(((n_tokens + 255) // 256) * 256 AS DOUBLE)
        |    AS fill_ratio
        |FROM agg ORDER BY source""".stripMargin
    )
  )

  /** q_token_budget — per-source token-budget trim: documents ranked
    * by token count (largest first, doc_id tie-break) accumulate into
    * an 800-token budget per source; a document is kept only while the
    * running total through it stays within budget — the greedy
    * fill a fixed-size data mixture applies per source after quotas
    * are set. Running totals are exact BIGINT window sums.
    *
    * 100 TB shape: one shuffle by source; the cumulative window reuses
    * that partitioning (no global sort), and the budget predicate
    * prunes map-side after the window. Sources are the partition key,
    * so parallelism = #sources × AQE splits, same as every per-source
    * rollup here.
    */
  val qTokenBudget = Q(
    "q_token_budget",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(TextOps.wsTokens(col("text"))).cast("long").as("n_tok"))
      val w = Window.partitionBy("source")
        .orderBy(col("n_tok").desc, col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      toks
        .withColumn("cum_tok", sum(col("n_tok")).over(w))
        .filter(col("cum_tok") <= 800)
        .select(col("source"), col("doc_id"), col("n_tok"), col("cum_tok"))
        .orderBy("source", "cum_tok", "doc_id")
    },
    Some(
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, n_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY source
        |      ORDER BY n_tok DESC, doc_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_tok
        |  FROM toks)
        |SELECT source, doc_id, n_tok, cum_tok
        |FROM c WHERE cum_tok <= 800
        |ORDER BY source, cum_tok, doc_id""".stripMargin
    )
  )

  /** q_novelty — per-document span novelty: the fraction of a
    * document's 5-token spans (the [[qSpanDedup]]/[[qBoilerplate]]
    * segmentation) whose text occurs NOWHERE else in the corpus
    * (df = 1) — the inverse signal of boilerplate mining: high
    * novelty marks original content, low novelty templated chrome.
    * The fraction is one IEEE divide of exact counts.
    *
    * 100 TB shape: the same (span, doc) two-level partial aggregate as
    * boilerplate mining; the df table joins back to the per-doc span
    * stream on the span key — only (span, df) pairs and exact counters
    * move, never documents.
    */
  val qNovelty = Q(
    "q_novelty",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), TextOps.wsTokens(col("text")).as("t"))
        .filter(size(col("t")) > 0)
      val nSpans = (floor((size(col("t")) - 1) / SpanW) + 1).cast("int")
      val spans = docs
        .select(col("doc_id"),
          explode(transform(
            sequence(lit(0), nSpans - 1),
            k => concat_ws(" ", slice(col("t"), k * SpanW + 1, lit(SpanW)))))
            .as("span"))
      val df = spans.groupBy("span")
        .agg(countDistinct(col("doc_id")).as("df"))
      spans
        .join(df, "span")
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_spans"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).cast("int")
            .as("n_unique"))
        .select(col("doc_id"), col("n_spans"), col("n_unique"),
          (col("n_unique").cast("double") / col("n_spans").cast("double"))
            .as("novelty"))
        .orderBy("doc_id")
    },
    Some(
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS t
         |  FROM documents),
         |spans AS (
         |  SELECT doc_id,
         |    array_to_string(t[u.k*$SpanW+1 : u.k*$SpanW+$SpanW], ' ') AS span
         |  FROM toks, UNNEST(range(0, (len(t)-1)//$SpanW + 1)) AS u(k)
         |  WHERE len(t) > 0),
         |df AS (SELECT span, count(DISTINCT doc_id) AS df
         |       FROM spans GROUP BY span)
         |SELECT s.doc_id, CAST(count(*) AS INT) AS n_spans,
         |  CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS INT)
         |    AS n_unique,
         |  CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS novelty
         |FROM spans s JOIN df ON s.span = df.span
         |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin
    )
  )

  /** q_zipf_fit — per-source Zipf-law fit: OLS of ln(count) on
    * ln(rank) over each source's top-50 tokens — the slope (≈ −1 for
    * natural language) is the corpus-health diagnostic that flags
    * template-heavy or synthetic sources (flat head) and boilerplate
    * floods (steep head). Both logs are quantized to 1e-6 exact
    * BIGINTs (equal scaling cancels in the slope), the OLS sums are
    * exact integers, and the closed form is the same double arithmetic
    * as q_linreg — identical in both engines.
    *
    * 100 TB shape: one (source, token) partial-aggregated count, the
    * top-50 rank group-limited below its shuffle, then a #sources-row
    * aggregate.
    */
  val qZipfFit = Q(
    "q_zipf_fit",
    (s, d) => {
      val tc = Tables.documents(s, d)
        .select(col("source"),
          explode(TextOps.wsTokens(col("text"))).as("token"))
        .groupBy("source", "token")
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("source")
        .orderBy(col("cnt").desc, col("token").asc)
      val ranked = tc
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 50)
        .select(col("source"),
          floor(log(col("rank").cast("double")) * 1e6 + 0.5)
            .cast("long").as("x"),
          floor(log(col("cnt").cast("double")) * 1e6 + 0.5)
            .cast("long").as("y"))
      // degenerate guard: one ranked token → denom 0; NULL, not NaN,
      // so the cross-engine hash can't depend on float-division modes
      val numer = col("n") * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")
      val denom = col("n") * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")
      ranked.groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
        .select(col("source"), col("n"),
          when(denom =!= lit(0.0d), numer / denom).as("zipf_slope"))
        .orderBy("source")
    },
    Some(
      """WITH tc AS (
        |  SELECT source, token, count(*) AS cnt FROM (
        |    SELECT source,
        |      unnest(list_filter(string_split_regex(text, '\s+'),
        |        t -> t <> '')) AS token
        |    FROM documents) GROUP BY 1, 2),
        |r AS (
        |  SELECT source,
        |    CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS x,
        |    CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS y
        |  FROM (SELECT source, cnt,
        |          row_number() OVER (PARTITION BY source
        |            ORDER BY cnt DESC, token ASC) AS rank
        |        FROM tc)
        |  WHERE rank <= 50),
        |a AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM r GROUP BY source)
        |SELECT source, n,
        |  CASE WHEN n * CAST(sxx AS DOUBLE)
        |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0
        |    THEN (n * CAST(sxy AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (n * CAST(sxx AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    ELSE NULL END AS zipf_slope
        |FROM a ORDER BY source""".stripMargin
    )
  )

  /** q_doc_entropy — PER-DOCUMENT token-distribution entropy (the
    * [[qEntropy]] construction at document grain): low entropy marks
    * repetitive/templated documents, the per-row diversity signal a
    * quality filter thresholds where the per-source roll-up can't see
    * individual outliers. Same exactness scheme: the per-type term is
    * cnt × lnq(cnt/n) as an exact BIGINT, entropy = −Σ/1e6/n, one
    * double division chain on identical inputs.
    *
    * 100 TB shape: one (doc_id, token) partial-aggregated count (the
    * shuffle key is doc_id — the corpus's own layout), then a per-doc
    * rollup on the same key; no broadcast needed since n rides the
    * group.
    */
  val qDocEntropy = Q(
    "q_doc_entropy",
    (s, d) => {
      val cnts = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextOps.wsTokens(col("text"))).as("token"))
        .groupBy("doc_id", "token")
        .agg(count(lit(1)).as("cnt"))
      val perDoc = cnts.groupBy("doc_id")
        .agg(sum(col("cnt")).as("n"), count(lit(1)).as("n_types"),
          sum(col("cnt") * floor(log(col("cnt").cast("double")) * 1e6 + 0.5)
            .cast("long")).as("s_cnt_ln"))
      // H = ln(n) − (Σ cnt·ln cnt)/n, all from exact quantized parts
      perDoc
        .select(col("doc_id"), col("n").cast("int").as("n_tokens"),
          col("n_types").cast("int").as("n_types"),
          ((floor(log(col("n").cast("double")) * 1e6 + 0.5).cast("long")
            .cast("double")
            - col("s_cnt_ln").cast("double") / col("n").cast("double"))
            / 1e6).as("entropy"))
        .orderBy("doc_id")
    },
    Some(
      """WITH cnts AS (
        |  SELECT doc_id, token, count(*) AS cnt FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split_regex(text, '\s+'),
        |        t -> t <> '')) AS token
        |    FROM documents) GROUP BY 1, 2),
        |pd AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(sum(cnt * CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e6 + 0.5)
        |      AS BIGINT)) AS BIGINT) AS s_cnt_ln
        |  FROM cnts GROUP BY doc_id)
        |SELECT doc_id, CAST(n AS INT) AS n_tokens,
        |  CAST(n_types AS INT) AS n_types,
        |  (CAST(CAST(floor(ln(CAST(n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
        |      AS DOUBLE)
        |    - CAST(s_cnt_ln AS DOUBLE) / CAST(n AS DOUBLE)) / 1e6 AS entropy
        |FROM pd ORDER BY doc_id""".stripMargin
    )
  )

  /** q_topic_clusters — lexical document clustering: k-means (k=4,
    * two exact Lloyd iterations, seeds = docs 0–3) over 16-dim hashed
    * bag-of-words features (feature j = count of tokens with
    * md5-hash ≡ j mod 16 — the hashing trick), the no-embedding-model
    * topic grouping a corpus pipeline uses for mixture balancing
    * before any encoder exists ([[Similarity]]'s k-means clusters
    * embeddings; this clusters raw text). Emits per cluster its size
    * and the dominant hashed dimension of the final centroid.
    *
    * Cross-engine exactness: features and centroids are exact BIGINTs
    * (Lloyd means round via floor(x+0.5), the shared convention);
    * distance is exact integer L2 decomposed as
    * Σc² + Σ_{j∈doc}(f²−2fc), so sparse docs never densify. Ties →
    * smaller cid, matching the embeddings trainer.
    *
    * 100 TB shape: one tokenize pass partial-aggregates to
    * (doc, dim, count) — 16 dims max per doc, smaller than the text;
    * centroids are a 64-row broadcast per iteration; assignment is a
    * per-doc window over k=4 candidate rows. The feature frame is
    * cached across the three assignment passes.
    */
  val qTopicClusters = Q(
    "q_topic_clusters",
    (s, d) => {
      val k = 4
      val dims = 16
      val f = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextOps.wsTokens(lower(col("text")))).as("tok"))
        .select(col("doc_id"),
          (Hash.hexToBigint(md5(col("tok"))).cast("long")
            % dims).as("j"))
        .groupBy("doc_id", "j").agg(count(lit(1)).as("cnt"))
        .cache()
      val grid = s.range(k).select(col("id").as("cid"))
        .crossJoin(s.range(dims).select(col("id").as("j")))
      // per-doc cluster assignment against the current centroid table
      def assignTo(cent: DataFrame): DataFrame = {
        val nc = cent.groupBy("cid").agg(sum(col("c") * col("c")).as("nc"))
        val pd = f.join(broadcast(cent), Seq("j"))
          .groupBy(col("doc_id"), col("cid"))
          .agg(sum(col("cnt") * col("cnt")
            - lit(2L) * col("cnt") * col("c")).as("part"))
        val dist = pd.join(broadcast(nc), Seq("cid"))
          .select(col("doc_id"), col("cid"),
            (col("part") + col("nc")).as("dist"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("dist").asc, col("cid").asc)
        dist.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).select("doc_id", "cid")
      }
      var cent = grid
        .join(f.filter(col("doc_id") < k)
          .select(col("doc_id").as("fcid"), col("j").as("fj"),
            col("cnt")),
          grid("cid") === col("fcid") && grid("j") === col("fj"), "left")
        .select(grid("cid"), grid("j"), coalesce(col("cnt"), lit(0L)).as("c"))
        .localCheckpoint()
      for (_ <- 0 until 2) {
        val a = assignTo(cent)
        val n = a.groupBy("cid").agg(count(lit(1)).as("na"))
        val sf = a.join(f, "doc_id").groupBy("cid", "j")
          .agg(sum(col("cnt")).as("sf"))
        cent = grid
          .join(sf, Seq("cid", "j"), "left")
          .join(n, Seq("cid"), "left")
          .join(cent.select(col("cid"), col("j"), col("c").as("cprev")),
            Seq("cid", "j"))
          .select(col("cid"), col("j"),
            when(col("na").isNull, col("cprev"))
              .otherwise(floor(coalesce(col("sf"), lit(0L)).cast("double")
                / col("na") + lit(0.5)).cast("long")).as("c"))
          .localCheckpoint()
      }
      val sizes = assignTo(cent).groupBy("cid")
        .agg(count(lit(1)).as("n_docs"))
      val top = cent.withColumn("rn", row_number().over(
          Window.partitionBy("cid").orderBy(col("c").desc, col("j").asc)))
        .filter(col("rn") === 1)
        .select(col("cid"), col("j").as("top_dim"),
          col("c").as("top_weight"))
      s.range(k).select(col("id").as("cid"))
        .join(sizes, Seq("cid"), "left")
        .join(top, Seq("cid"))
        .select(col("cid"), coalesce(col("n_docs"), lit(0L)).as("n_docs"),
          col("top_dim"), col("top_weight"))
        .orderBy("cid")
    },
    Some {
      def iter(x: Int): String =
        s"""nc$x AS (SELECT cid, sum(c * c) AS nc FROM c$x GROUP BY cid),
           |pd$x AS (
           |  SELECT f.doc_id, c.cid,
           |    sum(f.cnt * f.cnt - 2 * f.cnt * c.c) AS part
           |  FROM f JOIN c$x c ON c.j = f.j GROUP BY 1, 2),
           |dist$x AS (
           |  SELECT p.doc_id, p.cid, p.part + n.nc AS dist
           |  FROM pd$x p JOIN nc$x n ON n.cid = p.cid),
           |a$x AS (
           |  SELECT doc_id, cid FROM (
           |    SELECT doc_id, cid, row_number() OVER (PARTITION BY doc_id
           |      ORDER BY dist ASC, cid ASC) AS rn
           |    FROM dist$x) t WHERE rn = 1),
           |n$x AS (SELECT cid, count(*) AS na FROM a$x GROUP BY cid),
           |s$x AS (
           |  SELECT a.cid, f.j, CAST(sum(f.cnt) AS BIGINT) AS sf
           |  FROM a$x a JOIN f ON f.doc_id = a.doc_id GROUP BY 1, 2),
           |c${x + 1} AS (
           |  SELECT g.cid, g.j,
           |    CASE WHEN n.na IS NULL THEN c.c
           |    ELSE CAST(floor(CAST(coalesce(s.sf, 0) AS DOUBLE) / n.na
           |      + 0.5) AS BIGINT) END AS c
           |  FROM grid g
           |  LEFT JOIN s$x s ON s.cid = g.cid AND s.j = g.j
           |  LEFT JOIN n$x n ON n.cid = g.cid
           |  JOIN c$x c ON c.cid = g.cid AND c.j = g.j)""".stripMargin
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(list_filter(
         |    string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS tok
         |  FROM documents),
         |hs AS (SELECT doc_id, md5(tok) AS h FROM toks),
         |f AS (
         |  SELECT doc_id, ${OracleSql.hexToBigint("h")} % 16 AS j, count(*) AS cnt
         |  FROM hs GROUP BY 1, 2),
         |grid AS (
         |  SELECT c.cid, d.j
         |  FROM range(0, 4) c(cid), range(0, 16) d(j)),
         |c0 AS (
         |  SELECT g.cid, g.j, CAST(coalesce(f.cnt, 0) AS BIGINT) AS c
         |  FROM grid g
         |  LEFT JOIN f ON f.doc_id = g.cid AND f.j = g.j),
         |${iter(0)},
         |${iter(1)},
         |${iter(2).split(",\\n\\|?n2 AS")(0)}
         |SELECT g.cid,
         |  coalesce(sz.n_docs, 0) AS n_docs, t.top_dim, t.top_weight
         |FROM (SELECT DISTINCT cid FROM grid) g
         |LEFT JOIN (SELECT cid, count(*) AS n_docs FROM a2 GROUP BY cid) sz
         |  ON sz.cid = g.cid
         |JOIN (
         |  SELECT cid, j AS top_dim, c AS top_weight FROM (
         |    SELECT cid, j, c, row_number() OVER (PARTITION BY cid
         |      ORDER BY c DESC, j ASC) AS rn
         |    FROM c2) t WHERE rn = 1) t ON t.cid = g.cid
         |ORDER BY g.cid""".stripMargin
    }
  )

  /** q_ccnet_buckets — the CCNet head/middle/tail split (Wenzek et
    * al. 2020): within each source, documents are ranked by bigram-LM
    * average log-probability (the q_bigram_lm model) and dealt into
    * perplexity terciles — bucket 1 = head (most LM-like), 3 = tail
    * (least). CCNet keeps head+middle and drops or down-weights tail;
    * this emits the per-(source, bucket) manifest with the exact
    * per-doc metric range so the cut is auditable. The per-doc metric
    * is integer micro-units (quantized-ln model scores summed, then
    * one integer division), so ranking and the bucket means are exact
    * in both engines.
    *
    * 100 TB shape: the model build is the q_bigram_lm shape (two
    * partial-aggregated count passes, model broadcast back); the
    * tercile is ntile over a window PARTITIONED BY source — per-source
    * sort, no global order; the rollup is 3×sources rows.
    */
  val qCcnetBuckets = Q(
    "q_ccnet_buckets",
    (s, d) => {
      val bigrams = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          TextOps.wsTokens(col("text")).as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("doc_id"), col("source"),
          explode(transform(
            sequence(lit(1), size(col("t")) - 1),
            i => struct(element_at(col("t"), i).as("w1"),
              element_at(col("t"), i + 1).as("w2")))).as("b"))
        .select(col("doc_id"), col("source"), col("b.w1"), col("b.w2"))
      val pairCnt = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      val startCnt = bigrams.groupBy("w1").agg(count(lit(1)).as("c1"))
      val model = pairCnt.join(startCnt, "w1")
        .select(col("w1"), col("w2"),
          floor(log(col("c2").cast("double") / col("c1").cast("double"))
            * 1e6 + 0.5).cast("long").as("lpq"))
      val perDoc = bigrams.join(broadcast(model), Seq("w1", "w2"))
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("lpq")).as("sumq"))
        .select(col("doc_id"), col("source"),
          expr("sumq div n_bigrams").as("lp_micro"))
      val w = Window.partitionBy("source")
        .orderBy(col("lp_micro").desc, col("doc_id").asc)
      perDoc
        .withColumn("bucket", ntile(3).over(w))
        .groupBy("source", "bucket")
        .agg(count(lit(1)).as("n_docs"), sum(col("lp_micro")).as("lsum"),
          min(col("lp_micro")).as("min_lp_micro"),
          max(col("lp_micro")).as("max_lp_micro"))
        .select(col("source"), col("bucket"), col("n_docs"),
          expr("lsum div n_docs").as("mean_lp_micro"),
          col("min_lp_micro"), col("max_lp_micro"))
        .orderBy("source", "bucket")
    },
    Some(
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS t
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, source, t[i] AS w1, t[i + 1] AS w2
        |  FROM toks, UNNEST(range(1, len(t))) AS u(i)
        |  WHERE len(t) >= 2),
        |pair_cnt AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
        |start_cnt AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
        |model AS (
        |  SELECT w1, w2,
        |    CAST(floor(ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))
        |      * 1e6 + 0.5) AS BIGINT) AS lpq
        |  FROM pair_cnt JOIN start_cnt USING (w1)),
        |per_doc AS (
        |  SELECT doc_id, source,
        |    CAST(sum(lpq) AS BIGINT) // count(*) AS lp_micro
        |  FROM bg JOIN model USING (w1, w2)
        |  GROUP BY doc_id, source),
        |bucketed AS (
        |  SELECT source, lp_micro,
        |    ntile(3) OVER (PARTITION BY source
        |      ORDER BY lp_micro DESC, doc_id ASC) AS bucket
        |  FROM per_doc)
        |SELECT source, CAST(bucket AS INT) AS bucket, count(*) AS n_docs,
        |  CAST(sum(lp_micro) AS BIGINT) // count(*) AS mean_lp_micro,
        |  min(lp_micro) AS min_lp_micro, max(lp_micro) AS max_lp_micro
        |FROM bucketed GROUP BY source, bucket
        |ORDER BY source, bucket""".stripMargin
    )
  )

  /** q_coverage_select — greedy maximum-coverage subset selection
    * (Nemhauser-Wolsey-Fisher '78: the (1−1/e)-approximate greedy for
    * a monotone submodular objective): pick up to 8 documents that
    * together cover the most distinct word BIGRAMS — the
    * diversity-first seed-set primitive (facility location / coreset
    * flavor) a curation pipeline uses to pick few-shot exemplars or
    * an eval slice that spans the corpus, where [[qMixtureSample]]
    * balances sources and MMR re-ranks a retrieval list, this
    * maximizes raw construct coverage. Each step: anti-join the gram
    * table against the covered set (broadcast — ≤ 8 docs' grams by
    * construction), partial-aggregated gain per doc, 1-row bounded
    * argmax fetch (the BPE/k-center loop convention), ties to the
    * smallest doc_id. Stops early when every remaining document adds
    * zero new grams — the DuckDB oracle's unrolled MATERIALIZED CTEs
    * terminate identically because `LIMIT 1` of an empty gain table
    * is empty and empties every later step.
    *
    * 100 TB shape: K bounded passes, each one shuffle of (doc, gain)
    * partials; the covered set is K·|doc grams| — driver-bounded
    * metadata, broadcast back; document text never shuffles (grams
    * are exploded map-side). Lazy-greedy (Minoux) would cut the K
    * passes to ~1 + re-checks at identical output — noted, not
    * needed at K = 8.
    */
  val qCoverageSelect = Q(
    "q_coverage_select",
    (s, d) => {
      import s.implicits._
      // spread BEFORE the cache: a cache of a one-partition frame
      // keeps one partition, so all 8 greedy gain passes would run
      // single-task against it (no-op at scale)
      val toks = Tables
        .spreadForCompute(Tables.documents(s, d), s, d, "documents")
        .select(col("doc_id"), TextOps.wsTokens(col("text")).as("toks"))
        .select(col("doc_id"), explode(array_distinct(
          // guard: sequence(1, 0) DESCENDS in Spark, so a 1-token doc
          // would index past the array under ANSI — empty list instead
          expr("CASE WHEN size(toks) < 2 THEN array() " +
            "ELSE transform(sequence(1, size(toks) - 1), " +
            "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))) END")))
          .as("g"))
        .cache()
      val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
      var covered = Set.empty[String]
      var selected = Set.empty[Long]
      var step = 1
      var done = false
      while (step <= 8 && !done) {
        val coveredDf = covered.toSeq.toDF("g")
        val gains = toks
          .filter(if (selected.isEmpty) lit(true)
            else !col("doc_id").isin(selected.toSeq: _*))
          .join(broadcast(coveredDf), Seq("g"), "left_anti")
          .groupBy("doc_id").agg(count(lit(1)).as("gain"))
          .orderBy(col("gain").desc, col("doc_id")).limit(1)
          .collect() // 1-row bounded argmax (BPE/k-center convention)
        if (gains.isEmpty) done = true
        else {
          val best = gains.head.getLong(0)
          val gain = gains.head.getLong(1)
          covered = covered ++ toks.filter(col("doc_id") === best)
            .select("g").collect().map(_.getString(0))
          selected += best
          picked += ((step, best, gain, covered.size.toLong))
          step += 1
        }
      }
      toks.unpersist()
      picked.toSeq.toDF("step", "doc_id", "gain", "covered_total")
        .orderBy("step")
    },
    Some {
      val grams =
        """SELECT doc_id, unnest(list_distinct(list_transform(
          |    range(1, len(toks)),
          |    i -> toks[i] || ' ' || toks[i + 1]))) AS g
          |  FROM (SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
          |          t -> t <> '') AS toks FROM documents)""".stripMargin
      val steps = (1 to 8).map { k =>
        val notSel =
          if (k == 1) ""
          else "AND t.doc_id NOT IN (" +
            (1 until k).map(i => s"SELECT doc_id FROM s$i").mkString(" UNION ") + ")"
        val notCov =
          if (k == 1) ""
          else s"LEFT JOIN c${k - 1} cc ON cc.g = t.g"
        val covWhere = if (k == 1) "" else "WHERE cc.g IS NULL"
        val prevCov =
          if (k == 1) s"SELECT DISTINCT g.g FROM g JOIN s1 USING (doc_id)"
          else s"SELECT g FROM c${k - 1} UNION " +
            s"SELECT g.g FROM g JOIN s$k USING (doc_id)"
        s"""s$k AS MATERIALIZED (
           |  SELECT t.doc_id, count(*) AS gain
           |  FROM g t $notCov
           |  $covWhere $notSel
           |  GROUP BY t.doc_id
           |  ORDER BY gain DESC, t.doc_id LIMIT 1),
           |c$k AS MATERIALIZED ($prevCov)""".stripMargin
      }.mkString(",\n")
      val out = (1 to 8).map { k =>
        s"""SELECT $k AS step, doc_id, CAST(gain AS BIGINT) AS gain,
           |  CAST((SELECT count(*) FROM c$k) AS BIGINT) AS covered_total
           |FROM s$k""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH g AS MATERIALIZED ($grams),
         |$steps
         |$out
         |ORDER BY step""".stripMargin
    }
  )

  /** q_heaps_law — vocabulary-growth curve (Heaps' law V ≈ K·T^β,
    * β ≈ 0.4–0.6 for natural text): distinct-vocabulary size and
    * total token count at doubling document-prefix checkpoints in
    * ingestion (doc_id) order, plus the inter-checkpoint growth
    * exponent β = Δln V / Δln T — the corpus-scaling diagnostic that
    * says whether vocabulary (and hence tokenizer coverage, dedup
    * shingle tables, inverted-index size) saturates or keeps growing
    * as the corpus scales to 100 TB. A β collapsing toward 0 flags a
    * template/duplicate flood; β near 1 flags synthetic or id-heavy
    * text. Counts are exact: V(cp) needs no per-checkpoint rescan —
    * each token's FIRST document is a vocabulary-sized aggregate and
    * V(cp) counts first_doc < cp; the logs in β are the [[qZipfFit]]
    * 1e-6 quantization (equal scaling cancels in the ratio; the
    * final division is one double op, identical in both engines).
    *
    * 100 TB shape: one vocabulary-sized shuffle (token → min doc_id,
    * partial-aggregated map-side), one doc-sized token-count
    * aggregate, then an 8-row checkpoint frame joined by broadcast
    * range predicates. Document text never shuffles.
    */
  val qHeapsLaw = Q(
    "q_heaps_law",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), size(TextOps.wsTokens(col("text")))
          .cast("long").as("n_tok"))
      val firstDoc = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextOps.wsTokens(col("text")))
          .as("token"))
        .groupBy("token").agg(min(col("doc_id")).as("first_doc"))
      val nDocs = docs.count() // fixture-bounded scalar (doc count)
      val cps = Iterator.iterate(16L)(_ * 2).takeWhile(_ < nDocs)
        .toSeq :+ nDocs
      import s.implicits._
      val cpDf = cps.toDF("cp")
      val vocab = firstDoc.join(broadcast(cpDf),
          col("first_doc") < col("cp"))
        .groupBy("cp").agg(count(lit(1)).as("v"))
      val toks = docs.join(broadcast(cpDf), col("doc_id") < col("cp"))
        .groupBy("cp").agg(sum(col("n_tok")).as("t"))
      def lnq(c: Column): Column =
        floor(log(c.cast("double")) * 1e6 + 0.5).cast("long")
      // LEFT join from the checkpoint frame: a degenerate prefix with
      // zero tokens (possible on an all-empty-document corpus) must
      // still emit its row with v = t = 0, matching the oracle's
      // correlated-subquery semantics, instead of silently dropping
      // from an inner join; the quantized logs are guarded (> 0) on
      // BOTH engines because ln(0) diverges (Spark null vs DuckDB
      // -inf, whose BIGINT cast errors)
      val curve = cpDf.join(vocab, Seq("cp"), "left")
        .join(toks, Seq("cp"), "left")
        .select(col("cp"), coalesce(col("v"), lit(0L)).as("v"),
          coalesce(col("t"), lit(0L)).as("t"))
        .select(col("cp"), col("v"), col("t"),
          when(col("v") > 0, lnq(col("v"))).as("lv"),
          when(col("t") > 0, lnq(col("t"))).as("lt"))
      val w = Window.orderBy("cp") // 8-row frame: single partition fine
      curve
        .withColumn("plv", lag(col("lv"), 1).over(w))
        .withColumn("plt", lag(col("lt"), 1).over(w))
        .select(col("cp"), col("v"), col("t"),
          when(col("plt").isNotNull && col("lt") =!= col("plt"),
            (col("lv") - col("plv")).cast("double") /
              (col("lt") - col("plt")).cast("double")).as("beta"))
        .orderBy("cp")
    },
    Some(
      """WITH docs AS (
        |  SELECT doc_id, CAST(len(list_filter(
        |    string_split_regex(text, '\s+'), t -> t <> '')) AS BIGINT)
        |    AS n_tok
        |  FROM documents),
        |fd AS (
        |  SELECT token, min(doc_id) AS first_doc
        |  FROM (SELECT doc_id, unnest(list_filter(
        |    string_split_regex(text, '\s+'), t -> t <> '')) AS token
        |    FROM documents)
        |  GROUP BY token),
        |nd AS (SELECT count(*) AS n FROM docs),
        |cps AS (
        |  SELECT CAST(p AS BIGINT) AS cp
        |  FROM (SELECT unnest(list_transform(range(4, 63),
        |    e -> 1 << e)) AS p), nd
        |  WHERE p < n
        |  UNION ALL SELECT CAST(n AS BIGINT) FROM nd),
        |curve AS (
        |  SELECT cp,
        |    (SELECT count(*) FROM fd WHERE first_doc < cp) AS v,
        |    COALESCE((SELECT sum(n_tok) FROM docs WHERE doc_id < cp), 0) AS t
        |  FROM cps),
        |q AS (
        |  SELECT cp, CAST(v AS BIGINT) AS v, CAST(t AS BIGINT) AS t,
        |    CASE WHEN v > 0 THEN CAST(floor(ln(CAST(v AS DOUBLE)) * 1e6
        |      + 0.5) AS BIGINT) END AS lv,
        |    CASE WHEN t > 0 THEN CAST(floor(ln(CAST(t AS DOUBLE)) * 1e6
        |      + 0.5) AS BIGINT) END AS lt
        |  FROM curve),
        |lagged AS (
        |  SELECT cp, v, t, lv, lt,
        |    lag(lv) OVER (ORDER BY cp) AS plv,
        |    lag(lt) OVER (ORDER BY cp) AS plt
        |  FROM q)
        |SELECT cp, v, t,
        |  CASE WHEN plt IS NOT NULL AND lt <> plt
        |    THEN CAST(lv - plv AS DOUBLE) / CAST(lt - plt AS DOUBLE)
        |  END AS beta
        |FROM lagged ORDER BY cp""".stripMargin
    )
  )

  /** q_importance_weights — DSIR-style data selection (Xie et al.,
    * NeurIPS 2023 "Data Selection for Language Models via Importance
    * Resampling", linearized): score every document by how much its
    * hashed-unigram profile looks like a TARGET domain (here the `en`
    * slice) relative to the whole corpus, then keep the top scorers —
    * the cheap importance-weighting pass that picks domain-relevant
    * documents out of a general crawl before expensive curation.
    * Tokens hash into D=1024 buckets (the [[graft.ops.Ranking]]
    * q_classifier_score hashing-trick convention); each bucket's
    * weight is the Laplace-smoothed frequency ratio
    * (ct+1)·Nc·10⁶ div ((cc+1)·Nt) in exact ppm (cross-multiplied in
    * DECIMAL(38,0)/HUGEINT — ct·Nc·10⁶ wraps int64 on large corpora);
    * a document's importance is the floor-mean of its tokens' bucket
    * weights. No logarithms anywhere, so both engines agree to the
    * last digit (the product-of-ratios form DSIR actually uses needs
    * log-space; the linear mean is the engine-exact surrogate and
    * preserves the ranking semantics the selection step consumes).
    *
    * 100 TB shape: two corpus token passes (bucket counting, doc
    * scoring), both partial-aggregated on the scan layout; the weight
    * table is O(D) rows and broadcasts at any corpus size; document
    * text never shuffles; the output is a top-20
    * TakeOrderedAndProject.
    */
  val qImportanceWeights = Q(
    "q_importance_weights",
    (s, d) => {
      val D = 1024
      // one md5 per token, run TWICE (the stats pass and the scoring
      // pass re-derive toks through lineage) and fused on the
      // one-row-group scan — spread first (no-op at scale)
      val toks = Tables
        .spreadForCompute(Tables.documents(s, d), s, d, "documents")
        .select(col("doc_id"), col("lang"),
          explode(TextOps.wsTokens(col("text"))).as("token"))
        .select(col("doc_id"), col("lang"),
          (Hash.hexToBigint(md5(col("token")))
            .cast("long") % D).cast("int").as("bucket"))
      // ONE (bucket, lang) rollup — O(D × #langs) rows — pinned with
      // localCheckpoint, then corp and targ derive from the pinned
      // frame: without the pin, corp and targ would each re-run the
      // tokenization through lineage and the "two corpus token
      // passes" claim would silently be three
      val byLang = toks.groupBy("bucket", "lang")
        .agg(count(lit(1)).as("c")).localCheckpoint()
      val corp = byLang.groupBy("bucket").agg(sum(col("c")).as("cc"))
      val targ = byLang.filter(col("lang") === "en")
        .select(col("bucket"), col("c").as("ct"))
      // dense D-row table with +1 smoothing: unseen buckets get a
      // finite weight instead of a 0/0 hole
      val table = s.range(D).select(col("id").cast("int").as("bucket"))
        .join(corp, Seq("bucket"), "left")
        .join(targ, Seq("bucket"), "left")
        .select(col("bucket"),
          (coalesce(col("cc"), lit(0L)) + 1L).as("cc1"),
          (coalesce(col("ct"), lit(0L)) + 1L).as("ct1"))
      val tots = table.agg(sum(col("cc1")).as("nc"), sum(col("ct1")).as("nt"))
      val wtab = table.crossJoin(broadcast(tots))
        .select(col("bucket"),
          expr("CAST((CAST(ct1 AS DECIMAL(38,0)) * nc * 1000000) div " +
            "(CAST(cc1 AS DECIMAL(38,0)) * nt) AS BIGINT)").as("w_ppm"))
      toks.join(broadcast(wtab), "bucket")
        .groupBy("doc_id", "lang")
        .agg(count(lit(1)).cast("int").as("n_tok"),
          sum(col("w_ppm")).as("wsum"))
        .select(col("doc_id"), col("lang"), col("n_tok"),
          expr("wsum div n_tok").as("imp_ppm"))
        .orderBy(col("imp_ppm").desc, col("doc_id")).limit(20)
    },
    Some {
      s"""WITH toks AS (
         |  SELECT doc_id, lang, CAST(
         |    ${OracleSql.hexToBigint("substr(md5(token), 1, 8)")} % 1024 AS INT) AS bucket
         |  FROM (SELECT doc_id, lang, unnest(list_filter(
         |    string_split_regex(text, '\\s+'), t -> t <> '')) AS token
         |    FROM documents)),
         |corp AS (SELECT bucket, count(*) AS cc FROM toks GROUP BY bucket),
         |targ AS (SELECT bucket, count(*) AS ct FROM toks
         |  WHERE lang = 'en' GROUP BY bucket),
         |tab AS (
         |  SELECT CAST(i AS INT) AS bucket,
         |    COALESCE(cc, 0) + 1 AS cc1, COALESCE(ct, 0) + 1 AS ct1
         |  FROM range(1024) t(i)
         |  LEFT JOIN corp ON corp.bucket = i
         |  LEFT JOIN targ ON targ.bucket = i),
         |tots AS (SELECT CAST(sum(cc1) AS HUGEINT) AS nc,
         |  CAST(sum(ct1) AS HUGEINT) AS nt FROM tab),
         |wt AS (
         |  SELECT bucket,
         |    CAST((CAST(ct1 AS HUGEINT) * nc * 1000000)
         |      // (CAST(cc1 AS HUGEINT) * nt) AS BIGINT) AS w_ppm
         |  FROM tab, tots)
         |SELECT doc_id, lang, CAST(count(*) AS INT) AS n_tok,
         |  CAST(sum(w_ppm) // count(*) AS BIGINT) AS imp_ppm
         |FROM toks JOIN wt USING (bucket)
         |GROUP BY doc_id, lang
         |ORDER BY imp_ppm DESC, doc_id LIMIT 20""".stripMargin
    }
  )

  val all: Seq[Q] = Seq(qSpanDedup, qLmQuality, qPackSequences,
    qChunkWindows, qMixtureSample, qEntropy, qDomainShift, qSourceOverlap,
    qConcentration, qSourceMinhash, qMinhashAgg, qBigramLm, qKneserNey, qShardBalance, qBoilerplate, qPackEfficiency,
    qTokenBudget, qNovelty, qZipfFit, qDocEntropy, qTopicClusters,
    qCcnetBuckets, qCoverageSelect, qImportanceWeights, qHeapsLaw)
}
