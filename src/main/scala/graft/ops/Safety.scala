package graft.ops

import graft.{Hash, OracleSql, Q, Tables}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Data-safety passes a production corpus pipeline runs before
  * training: PII detection and PII redaction (the C4/RefinedWeb-style
  * scrub; benchmark decontamination is [[TextOps.qDecontaminate]]).
  * Both passes are map-only over the corpus.
  *
  * The synthetic corpus contains no organic PII, so the PII queries
  * first INJECT deterministic PII snippets into 1-in-4 documents —
  * derived purely from `doc_id` with the same integer/string ops in
  * both engines — then detect/redact them. The detectors run over the
  * full augmented text, so they would also surface organic hits.
  *
  * Cross-engine exactness: the three patterns use only character
  * classes, bounded repetition, and `\b` — constructs with identical
  * leftmost-non-overlapping semantics in Java regex (Spark codegen)
  * and RE2 (DuckDB). No alternation-order or lazy-quantifier
  * subtleties. Counts are exact ints; fingerprints are md5 of the
  * redacted text.
  *
  * 100 TB shape: injection/detection/redaction are per-row expressions
  * inside whole-stage codegen — zero shuffle; the per-source rollup
  * shuffles one small row per (partition, source). Decontamination
  * broadcasts the benchmark gram set (eval suites are ~10^5 grams in
  * practice) so the corpus-side gram stream is filtered map-side and
  * only surviving (doc_id, gram) pairs shuffle for the distinct-count.
  */
object Safety {

  /** Email/IPv4/US-phone detectors — see object doc for why these
    * exact constructs are safe cross-engine.
    */
  private val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Pat  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val PhonePat = "\\b555-\\d{3}-\\d{4}\\b"

  /** Deterministic PII snippet for doc_id ≡ 0 (mod 4): one email, one
    * IPv4, one phone, all derived from doc_id so both engines build
    * byte-identical text.
    */
  private def augmented(text: Column, id: Column): Column = {
    val snippet = concat(
      lit(" contact user"), id.cast("string"), lit("@example.com ip 10."),
      (id % 200).cast("string"), lit(".0."),
      ((id * 7) % 200).cast("string"), lit(" call 555-"),
      lpad((id % 1000).cast("string"), 3, "0"), lit("-"),
      lpad(((id * 3) % 10000).cast("string"), 4, "0"))
    when(id % 4 === 0, concat(text, snippet)).otherwise(text)
  }

  /** Same augmentation in DuckDB SQL (identical arithmetic/lpad). */
  private val AugSql =
    """CASE WHEN doc_id % 4 = 0 THEN text ||
      |  ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com ip 10.' ||
      |  CAST(doc_id % 200 AS VARCHAR) || '.0.' ||
      |  CAST((doc_id * 7) % 200 AS VARCHAR) || ' call 555-' ||
      |  lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
      |  lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0')
      |ELSE text END""".stripMargin

  /** q_pii_scan — per-source PII audit: how many documents carry each
    * PII kind, and total hit counts. The per-doc detector is
    * `size(regexp_extract_all(...))` (codegen'd, map-only); the rollup
    * is one partial-aggregated groupBy over 5 source values.
    */
  val qPiiScan = Q(
    "q_pii_scan",
    (s, d) => {
      val aug = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          augmented(col("text"), col("doc_id")).as("t"))
        .select(col("source"),
          size(regexp_extract_all(col("t"), lit(EmailPat), lit(0)))
            .as("n_email"),
          size(regexp_extract_all(col("t"), lit(Ipv4Pat), lit(0)))
            .as("n_ipv4"),
          size(regexp_extract_all(col("t"), lit(PhonePat), lit(0)))
            .as("n_phone"))
      aug.groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("n_email") + col("n_ipv4") + col("n_phone") > 0, 1L)
            .otherwise(0L)).as("docs_with_pii"),
          sum(col("n_email")).cast("long").as("emails"),
          sum(col("n_ipv4")).cast("long").as("ipv4s"),
          sum(col("n_phone")).cast("long").as("phones"))
        .orderBy("source")
    },
    Some(
      s"""WITH aug AS (
         |  SELECT source, doc_id, $AugSql AS t FROM documents),
         |per_doc AS (
         |  SELECT source,
         |    len(regexp_extract_all(t, '$EmailPat')) AS n_email,
         |    len(regexp_extract_all(t, '$Ipv4Pat')) AS n_ipv4,
         |    len(regexp_extract_all(t, '$PhonePat')) AS n_phone
         |  FROM aug)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN n_email + n_ipv4 + n_phone > 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS docs_with_pii,
         |  CAST(sum(n_email) AS BIGINT) AS emails,
         |  CAST(sum(n_ipv4) AS BIGINT) AS ipv4s,
         |  CAST(sum(n_phone) AS BIGINT) AS phones
         |FROM per_doc GROUP BY source ORDER BY source""".stripMargin
    )
  )

  /** q_pii_redact — the APPLY half: replace every match with a typed
    * placeholder (email → IP → phone, fixed order so overlapping
    * rewrites are identical cross-engine) and emit a fingerprint of
    * the redacted text for the documents that changed. Map-only;
    * the corpus text never shuffles (the final sort carries doc_id,
    * counts, and a 32-char digest).
    */
  /** The full redaction pass as a stateless projection over any
    * documents-schema frame — shared verbatim by the batch query and
    * the streaming one (q_stream_pii), so batch/stream parity is by
    * construction, not by parallel maintenance.
    */
  private[ops] def redactProjection(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val aug = df.select(col("doc_id"),
      augmented(col("text"), col("doc_id")).as("t"))
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(col("t"), EmailPat, "<EMAIL>"),
        Ipv4Pat, "<IP>"),
      PhonePat, "<PHONE>")
    aug.select(col("doc_id"), col("t"), redacted.as("r"))
      .filter(col("r") =!= col("t"))
      .select(col("doc_id"),
        (length(col("t")) - length(col("r"))).as("chars_removed"),
        md5(col("r")).as("fingerprint"))
  }

  val qPiiRedact = Q(
    "q_pii_redact",
    (s, d) => redactProjection(Tables.documents(s, d)).orderBy("doc_id"),
    Some(
      s"""WITH aug AS (
         |  SELECT doc_id, $AugSql AS t FROM documents),
         |red AS (
         |  SELECT doc_id, t,
         |    regexp_replace(regexp_replace(regexp_replace(t,
         |      '$EmailPat', '<EMAIL>', 'g'),
         |      '$Ipv4Pat', '<IP>', 'g'),
         |      '$PhonePat', '<PHONE>', 'g') AS r
         |  FROM aug)
         |SELECT doc_id,
         |  CAST(length(t) - length(r) AS INT) AS chars_removed,
         |  md5(r) AS fingerprint
         |FROM red WHERE r <> t ORDER BY doc_id""".stripMargin
    )
  )

  // Benchmark decontamination (13-gram eval-set overlap) already lives
  // in [[TextOps.qDecontaminate]]; the safety module adds only the PII
  // passes so the two never drift into duplicate registry names.

  /** q_k_anonymity — re-identification audit over the event log: rows
    * whose quasi-identifier tuple (coarse user bucket, event_type,
    * activity day) lands in an equivalence class smaller than k=5 are
    * individually distinguishable and would need suppression or
    * generalization before release (Sweeney's k-anonymity; the audit a
    * pipeline runs before sharing interaction logs for training).
    * Emits per event_type the class count, small-class count, rows at
    * risk, and the at-risk fraction in exact ppm.
    *
    * 100 TB shape: two partial-aggregated shuffles — the first carries
    * only the 3-column QI tuple (never props/value), the second one
    * row per equivalence class; both combine map-side. The ppm ratio
    * is BIGINT floor division, identical cross-engine.
    */
  val qKAnonymity = Q(
    "q_k_anonymity",
    (s, d) => {
      val k = 5
      val classes = Tables.events(s, d)
        .groupBy(col("event_type"), (col("user_id") % 50).as("user_bucket"),
          date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"))
        .agg(count(lit(1)).as("sz"))
      classes.groupBy("event_type")
        .agg(
          count(lit(1)).as("n_classes"),
          sum(when(col("sz") < k, 1L).otherwise(0L)).as("small_classes"),
          sum(when(col("sz") < k, col("sz")).otherwise(0L)).as("rows_at_risk"),
          sum(col("sz")).as("n_rows"))
        .select(col("event_type"), col("n_classes"), col("small_classes"),
          col("rows_at_risk"), col("n_rows"),
          expr("rows_at_risk * 1000000 div n_rows").as("risk_ppm"))
        .orderBy("event_type")
    },
    Some(
      """WITH classes AS (
        |  SELECT event_type, user_id % 50 AS user_bucket,
        |    date_trunc('day', ts) AS day, count(*) AS sz
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT event_type, count(*) AS n_classes,
        |  CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS small_classes,
        |  CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
        |    AS rows_at_risk,
        |  CAST(sum(sz) AS BIGINT) AS n_rows,
        |  (CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
        |    * 1000000) // CAST(sum(sz) AS BIGINT) AS risk_ppm
        |FROM classes GROUP BY event_type ORDER BY event_type""".stripMargin
    )
  )

  /** q_l_diversity — the homogeneity-attack audit k-anonymity alone
    * misses (Machanavajjhala et al. 2007): a class can be large (k-safe)
    * yet expose its members anyway if everyone in it shares one
    * sensitive value. Per activity day, each (user-bucket, day)
    * equivalence class is scored by its count of DISTINCT sensitive
    * values (event_type here); classes with < l = 3 are flagged, with
    * the rows they cover and the day's worst (minimum) diversity.
    * Complements q_k_anonymity — size-of-class vs
    * variety-within-class, the two halves of a release audit.
    *
    * 100 TB shape: one partial-aggregated distinct pass carrying the
    * 3-column (bucket, day, type) tuple, one class-sized rollup —
    * the same bounded-shuffle contract as q_k_anonymity.
    */
  val qLDiversity = Q(
    "q_l_diversity",
    (s, d) => {
      val l = 3
      val classes = Tables.events(s, d)
        .groupBy((col("user_id") % 50).as("user_bucket"),
          date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"))
        .agg(countDistinct(col("event_type")).as("div"),
          count(lit(1)).as("sz"))
      classes.groupBy("day")
        .agg(count(lit(1)).as("n_classes"),
          sum(when(col("div") < l, 1L).otherwise(0L)).as("low_div_classes"),
          sum(when(col("div") < l, col("sz")).otherwise(0L))
            .as("rows_at_risk"),
          min(col("div")).as("min_diversity"),
          sum(col("sz")).as("n_rows"))
        .select(col("day"), col("n_classes"), col("low_div_classes"),
          col("rows_at_risk"), col("min_diversity"), col("n_rows"),
          expr("rows_at_risk * 1000000 div n_rows").as("risk_ppm"))
        .orderBy("day")
    },
    Some(
      """WITH classes AS (
        |  SELECT user_id % 50 AS user_bucket, date_trunc('day', ts) AS day,
        |    count(DISTINCT event_type) AS div, count(*) AS sz
        |  FROM events GROUP BY 1, 2)
        |SELECT day, count(*) AS n_classes,
        |  CAST(sum(CASE WHEN div < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS low_div_classes,
        |  CAST(sum(CASE WHEN div < 3 THEN sz ELSE 0 END) AS BIGINT)
        |    AS rows_at_risk,
        |  CAST(min(div) AS BIGINT) AS min_diversity,
        |  CAST(sum(sz) AS BIGINT) AS n_rows,
        |  (CAST(sum(CASE WHEN div < 3 THEN sz ELSE 0 END) AS BIGINT)
        |    * 1000000) // CAST(sum(sz) AS BIGINT) AS risk_ppm
        |FROM classes GROUP BY day ORDER BY day""".stripMargin
    )
  )

  /** q_t_closeness — the distribution-skew audit that completes the
    * k-anonymity → l-diversity ladder (Li, Li & Venkatasubramanian,
    * ICDE 2007): l-diversity only counts DISTINCT sensitive values
    * per equivalence class, so a class can pass while its value
    * DISTRIBUTION still leaks (99% one diagnosis, 1% two others).
    * t-closeness bounds the distance between each class's sensitive
    * distribution and the global one; with the equal-distance ground
    * metric that distance is the variational distance
    * ½·Σ_v |p_v − q_v|. Classes are the same QI cells as
    * q_l_diversity ((user_id mod 50, day)); the sensitive attribute
    * is event_type; threshold t = 0.3.
    *
    * Exactness: fractions never materialize — the distance is the
    * cross-multiplied integer form Σ_v |cnt_v·N − g_v·sz| over
    * PRESENT values plus sz·(N − Σ_present g_v) for the class's
    * ABSENT values (each contributes |0 − q_v|), then ppm-quantized
    * by the exact BIGINT division t_ppm = num·10⁶ div (2·sz·N). Both
    * engines do identical integer arithmetic; bound: num ≤ 2·sz·N ≤
    * 2·N², so ppm scaling stays inside int64 up to N ≈ 3·10⁹ events
    * per audit scope (shard the audit by day/tenant past that).
    *
    * 100 TB shape: two partial-aggregated shuffles over (QI, type)
    * cells and one co-keyed join of cells to class sizes — payload
    * is counts only; the global distribution (|types| rows)
    * broadcasts. Final rollup is O(days).
    */
  val qTCloseness = Q(
    "q_t_closeness",
    (s, d) => {
      val tPpm = 300000L // t = 0.3
      val ev = Tables.events(s, d)
        .select((col("user_id") % 50).as("ub"),
          date_trunc("day", col("ts")).cast("timestamp_ntz").as("day"),
          col("event_type"))
      val global = ev.groupBy("event_type").agg(count(lit(1)).as("g"))
      val nTot = ev.agg(count(lit(1)).as("n"))
      val cells = ev.groupBy("ub", "day", "event_type")
        .agg(count(lit(1)).as("cnt"))
      val sz = cells.groupBy("ub", "day").agg(sum(col("cnt")).as("sz"))
      val perClass = cells
        .join(sz, Seq("ub", "day"))
        .join(broadcast(global), "event_type")
        .crossJoin(broadcast(nTot))
        .groupBy("ub", "day", "sz", "n")
        .agg(
          sum(abs(col("cnt") * col("n") - col("g") * col("sz")))
            .as("present_num"),
          sum(col("g")).as("g_present"))
        .select(col("ub"), col("day"), col("sz"),
          (col("present_num") +
            col("sz") * (col("n") - col("g_present"))).as("t_num"),
          col("n"))
        .withColumn("t_ppm",
          expr("t_num * 1000000 div (2 * sz * n)"))
      perClass.groupBy("day")
        .agg(count(lit(1)).as("n_classes"),
          max(col("t_ppm")).as("max_t_ppm"),
          sum(when(col("t_ppm") > tPpm, 1L).otherwise(0L))
            .as("violating_classes"),
          sum(when(col("t_ppm") > tPpm, col("sz")).otherwise(0L))
            .as("rows_at_risk"),
          sum(col("sz")).as("n_rows"))
        .orderBy("day")
    },
    Some(
      """WITH ev AS (
        |  SELECT user_id % 50 AS ub, date_trunc('day', ts) AS day,
        |    event_type
        |  FROM events),
        |global AS (SELECT event_type, count(*) AS g FROM ev GROUP BY 1),
        |nt AS (SELECT count(*) AS n FROM ev),
        |cells AS (
        |  SELECT ub, day, event_type, count(*) AS cnt
        |  FROM ev GROUP BY 1, 2, 3),
        |szs AS (SELECT ub, day, sum(cnt) AS sz FROM cells GROUP BY 1, 2),
        |per AS (
        |  SELECT c.ub, c.day, CAST(s.sz AS BIGINT) AS sz,
        |    CAST(nt.n AS BIGINT) AS n,
        |    CAST(sum(abs(c.cnt * nt.n - global.g * s.sz)) AS BIGINT)
        |      AS present_num,
        |    CAST(sum(global.g) AS BIGINT) AS g_present
        |  FROM cells c
        |  JOIN szs s ON c.ub = s.ub AND c.day = s.day
        |  JOIN global USING (event_type), nt
        |  GROUP BY 1, 2, 3, 4),
        |cls AS (
        |  SELECT ub, day, sz,
        |    (present_num + sz * (n - g_present)) * 1000000
        |      // (2 * sz * n) AS t_ppm
        |  FROM per)
        |SELECT day, CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(max(t_ppm) AS BIGINT) AS max_t_ppm,
        |  CAST(sum(CASE WHEN t_ppm > 300000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS violating_classes,
        |  CAST(sum(CASE WHEN t_ppm > 300000 THEN sz ELSE 0 END) AS BIGINT)
        |    AS rows_at_risk,
        |  CAST(sum(sz) AS BIGINT) AS n_rows
        |FROM cls GROUP BY day ORDER BY day""".stripMargin
    )
  )

  /** q_dp_contribution — per-user contribution bounding, the
    * sensitivity-control step every differentially-private release
    * runs BEFORE adding noise (DP-SQL / Wilson et al., VLDB 2020):
    * cap each user's events per event_type at C=10, and report the
    * raw count, the bounded count, how many users were clipped, and
    * the max single-user contribution — the quantities that determine
    * the noise scale (sensitivity = C) and the clipping bias. The
    * noise draw itself is out of scope by design: it must come from a
    * secure RNG at release time, while everything before it is exact
    * and auditable.
    *
    * 100 TB shape: one partial-aggregated shuffle to per-(user, type)
    * counts (the heavy one — carries two key columns), then a k-row
    * rollup; no event payload moves.
    */
  val qDpContribution = Q(
    "q_dp_contribution",
    (s, d) => {
      val cap = 10
      val per = Tables.events(s, d)
        .groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("cnt"))
      per.groupBy("event_type")
        .agg(
          sum(col("cnt")).as("raw_count"),
          sum(least(col("cnt"), lit(cap.toLong))).as("bounded_count"),
          count(lit(1)).as("n_users"),
          sum(when(col("cnt") > cap, 1L).otherwise(0L)).as("clipped_users"),
          max(col("cnt")).as("max_contribution"))
        .orderBy("event_type")
    },
    Some(
      """WITH per AS (
        |  SELECT event_type, user_id, count(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type,
        |  CAST(sum(cnt) AS BIGINT) AS raw_count,
        |  CAST(sum(least(cnt, 10)) AS BIGINT) AS bounded_count,
        |  count(*) AS n_users,
        |  CAST(sum(CASE WHEN cnt > 10 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS clipped_users,
        |  max(cnt) AS max_contribution
        |FROM per GROUP BY event_type ORDER BY event_type""".stripMargin
    )
  )

  /** q_dp_release_sim — a deterministic DRY-RUN of the Laplace release
    * mechanism over the q_dp_contribution bounds: pipeline validation
    * for the noise-scale arithmetic (b = sensitivity/ε = 10/1.0), not
    * a secure release — a real release draws from a secure RNG at
    * publish time (the q_dp_contribution design note); CI needs the
    * same mechanism with a PINNED seed so the expected |error| ≈ b
    * and the released values are reproducible. The draw is inverse-CDF
    * Laplace from the md5-uniform u ∈ (0,1): noise = −b·sign(u−½)·
    * ln(1−2|u−½|), with the single transcendental ln quantized to
    * 1e-6 (the repo convention) and everything after it exact integer
    * micro-units, so both engines agree bitwise.
    *
    * 100 TB shape: identical to q_dp_contribution — the noise step
    * adds one map-side expression over the k-row release table.
    */
  val qDpReleaseSim = Q(
    "q_dp_release_sim",
    (s, d) => {
      val cap = 10
      val per = Tables.events(s, d)
        .groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("cnt"))
      val bounded = per.groupBy("event_type")
        .agg(sum(least(col("cnt"), lit(cap.toLong))).as("bounded_count"))
      val u = (Hash.hexToBigint(md5(concat(lit("dp:"), col("event_type"))))
        .cast("long").cast("double") + lit(0.5)) / lit(4294967296.0)
      bounded
        .withColumn("u", u)
        // lnq in micro-units; |noise| = b * |ln(1-2|u-1/2|)|, b = 10
        .withColumn("lnq", floor(
          log(lit(1.0) - lit(2.0) * abs(col("u") - lit(0.5))) *
            lit(1000000.0) + lit(0.5)).cast("long"))
        .withColumn("noise_micros",
          when(col("u") >= 0.5, lit(-10L) * col("lnq"))
            .otherwise(lit(10L) * col("lnq")))
        .select(col("event_type"), col("bounded_count"),
          col("noise_micros"),
          expr("(bounded_count * 1000000 + noise_micros) div 1000000")
            .as("released"))
        .orderBy("event_type")
    },
    Some {
      s"""WITH per AS (
         |  SELECT event_type, user_id, count(*) AS cnt
         |  FROM events GROUP BY 1, 2),
         |bounded AS (
         |  SELECT event_type, CAST(sum(least(cnt, 10)) AS BIGINT)
         |    AS bounded_count
         |  FROM per GROUP BY event_type),
         |seeded AS (
         |  SELECT event_type, bounded_count,
         |    (CAST(${OracleSql.hexToBigint("h")} AS DOUBLE) + 0.5) / 4294967296.0e0 AS u
         |  FROM (SELECT event_type, bounded_count,
         |          substr(md5('dp:' || event_type), 1, 8) AS h
         |        FROM bounded)),
         |noised AS (
         |  SELECT event_type, bounded_count,
         |    CASE WHEN u >= 0.5 THEN -10 ELSE 10 END *
         |      CAST(floor(ln(1.0e0 - 2.0e0 * abs(u - 0.5e0))
         |        * 1000000.0e0 + 0.5e0) AS BIGINT) AS noise_micros
         |  FROM seeded)
         |SELECT event_type, bounded_count, noise_micros,
         |  (bounded_count * 1000000 + noise_micros) // 1000000 AS released
         |FROM noised ORDER BY event_type""".stripMargin
    }
  )

  /** q_pii_luhn — checksum-validated PII detection: a 16-digit run is
    * redacted ONLY if its Luhn check digit verifies (ISO/IEC 7812) —
    * the precision upgrade over q_redact's bare `\d{3,}` rule, because
    * order ids / timestamps / hashes are digit runs too and
    * over-redaction destroys exactly the data a pipeline wants to
    * keep. Half the injected numbers carry a correct check digit and
    * half a deliberately broken one; the detector must redact exactly
    * the valid half. The Luhn sum is pure positional integer
    * arithmetic (doubling at odd right-positions, −9 folding),
    * identical in both engines.
    *
    * 100 TB shape: map-only — extraction, checksum, and conditional
    * replacement all inside one whole-stage-codegen projection; only
    * the harness sort exchanges.
    */
  val qPiiLuhn = Q(
    "q_pii_luhn",
    (s, d) => {
      val injected = Tables.documents(s, d)
        .withColumn("b15",
          lpad((col("doc_id") * 37 + 11).cast("string"), 15, "7"))
        // base digit at left-position i has right-position 16-i in the
        // final number → doubled iff i is odd
        .withColumn("sum_base", expr(
          """aggregate(sequence(1, 15), 0, (acc, i) -> acc +
            |  CASE WHEN i % 2 = 1 THEN
            |    CASE WHEN 2 * CAST(substring(b15, i, 1) AS INT) > 9
            |      THEN 2 * CAST(substring(b15, i, 1) AS INT) - 9
            |      ELSE 2 * CAST(substring(b15, i, 1) AS INT) END
            |  ELSE CAST(substring(b15, i, 1) AS INT) END)""".stripMargin))
        .withColumn("chk", expr("(10 - sum_base % 10) % 10"))
        .withColumn("num", concat(col("b15"),
          when(col("doc_id") % 10 === 0, col("chk"))
            .otherwise((col("chk") + 5) % 10).cast("string")))
        .withColumn("t2",
          when(col("doc_id") % 5 === 0,
            concat(substring(col("text"), 1, 40), lit(" card "), col("num")))
            .otherwise(substring(col("text"), 1, 40)))
      injected
        .withColumn("found", regexp_extract(col("t2"), "\\d{16}", 0))
        .withColumn("has_card", col("found") =!= "")
        // CASE-gated so the digit casts never see the empty no-match
        // string (ANSI cast would raise; DuckDB likewise)
        .withColumn("luhn_valid", when(col("has_card"), expr(
          """aggregate(sequence(1, 16), 0, (acc, i) -> acc +
            |  CASE WHEN i % 2 = 1 THEN
            |    CASE WHEN 2 * CAST(substring(found, i, 1) AS INT) > 9
            |      THEN 2 * CAST(substring(found, i, 1) AS INT) - 9
            |      ELSE 2 * CAST(substring(found, i, 1) AS INT) END
            |  ELSE CAST(substring(found, i, 1) AS INT) END)
            |% 10 = 0""".stripMargin)).otherwise(lit(false)))
        .withColumn("redacted",
          when(col("luhn_valid"),
            regexp_replace(col("t2"), "\\d{16}", "[CARD]"))
            .otherwise(col("t2")))
        .select(col("doc_id"), col("has_card"), col("luhn_valid"),
          expr("right(redacted, 30)").as("tail"))
        .orderBy("doc_id")
    },
    Some(
      """WITH base AS (
        |  SELECT doc_id, text,
        |    lpad(CAST(doc_id * 37 + 11 AS VARCHAR), 15, '7') AS b15
        |  FROM documents),
        |sums AS (
        |  SELECT doc_id, text, b15,
        |    list_sum(list_transform(range(1, 16), i ->
        |      CASE WHEN i % 2 = 1 THEN
        |        CASE WHEN 2 * CAST(substring(b15, CAST(i AS INT), 1) AS INT) > 9
        |          THEN 2 * CAST(substring(b15, CAST(i AS INT), 1) AS INT) - 9
        |          ELSE 2 * CAST(substring(b15, CAST(i AS INT), 1) AS INT) END
        |      ELSE CAST(substring(b15, CAST(i AS INT), 1) AS INT) END))
        |      AS sum_base
        |  FROM base),
        |nums AS (
        |  SELECT doc_id, text,
        |    b15 || CAST(CASE WHEN doc_id % 10 = 0
        |      THEN (10 - sum_base % 10) % 10
        |      ELSE ((10 - sum_base % 10) % 10 + 5) % 10 END AS VARCHAR)
        |      AS num
        |  FROM sums),
        |injected AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0
        |      THEN substr(text, 1, 40) || ' card ' || num
        |      ELSE substr(text, 1, 40) END AS t2
        |  FROM nums),
        |detected AS (
        |  SELECT doc_id, t2,
        |    coalesce(regexp_extract(t2, '\d{16}', 0), '') AS found
        |  FROM injected),
        |validated AS (
        |  SELECT doc_id, t2, found, found <> '' AS has_card,
        |    CASE WHEN found <> '' THEN
        |      list_sum(list_transform(range(1, 17), i ->
        |        CASE WHEN i % 2 = 1 THEN
        |          CASE WHEN 2 * CAST(substring(found, CAST(i AS INT), 1) AS INT) > 9
        |            THEN 2 * CAST(substring(found, CAST(i AS INT), 1) AS INT) - 9
        |            ELSE 2 * CAST(substring(found, CAST(i AS INT), 1) AS INT) END
        |        ELSE CAST(substring(found, CAST(i AS INT), 1) AS INT) END))
        |        % 10 = 0
        |    ELSE false END AS luhn_valid
        |  FROM detected)
        |SELECT doc_id, has_card, luhn_valid,
        |  right(CASE WHEN luhn_valid
        |    THEN regexp_replace(t2, '\d{16}', '[CARD]', 'g')
        |    ELSE t2 END, 30) AS tail
        |FROM validated ORDER BY doc_id""".stripMargin
    )
  )

  /** q_secret_scan — credential/secret detection over the corpus, the
    * screen a code-heavy training set runs before release (leaked API
    * keys are both a privacy incident and a memorization hazard).
    * Three detector classes in fixed precedence, every gate an exact
    * string computation both engines evaluate identically:
    * `hex_key` (a bare 32+ lowercase-hex token — raw MD5/SHA/API
    * digests), `prefixed_key` (known issuer prefixes `sk_live_` /
    * `ghp_` / `AKIA` followed by ≥8 key chars — the detect-secrets
    * keyword heuristic), and `high_mix` (length ≥ 20, key charset,
    * and ≥2 each of upper/lower/digit — class counts via
    * length-difference after regexp_replace, not per-char loops).
    * Secrets are PLANTED deterministically from doc_id (the
    * [[qPiiScan]] augmentation convention — organic word-soup text
    * cannot hit, so the oracle checks the detector, not luck).
    *
    * 100 TB shape: map-only per-token regexp/count projection fused
    * into the scan, then one partial-aggregated groupBy over
    * (source, class) — ≤ 3 rows per source; text never shuffles.
    */
  val qSecretScan = Q(
    "q_secret_scan",
    (s, d) => {
      val planted = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 5 === 0,
              concat(lit(" sk_live_"), md5(col("doc_id").cast("string"))))
              .otherwise(lit("")),
            when(col("doc_id") % 7 === 0,
              concat(lit(" "), md5(concat(lit("h:"), col("doc_id").cast("string")))))
              .otherwise(lit("")),
            when(col("doc_id") % 11 === 0,
              concat(lit(" T0k"),
                upper(substring(md5(concat(lit("m:"), col("doc_id").cast("string"))), 1, 8)),
                substring(md5(concat(lit("n:"), col("doc_id").cast("string"))), 1, 12)))
              .otherwise(lit(""))).as("t"))
      val toks = planted
        .select(col("source"), col("doc_id"),
          explode(TextOps.wsTokens(col("t"))).as("tok"))
        .filter(length(col("tok")) >= 20 &&
          col("tok").rlike("^[A-Za-z0-9+/=_-]+$"))
        .withColumn("n_up",
          length(col("tok")) - length(regexp_replace(col("tok"), "[A-Z]", "")))
        .withColumn("n_lo",
          length(col("tok")) - length(regexp_replace(col("tok"), "[a-z]", "")))
        .withColumn("n_di",
          length(col("tok")) - length(regexp_replace(col("tok"), "[0-9]", "")))
        .withColumn("cls",
          when(col("tok").rlike("^[0-9a-f]{32,}$"), "hex_key")
            .when(col("tok").rlike("^(sk_live_|ghp_|AKIA)[A-Za-z0-9_]{8,}$"),
              "prefixed_key")
            .when(col("n_up") >= 2 && col("n_lo") >= 2 && col("n_di") >= 2,
              "high_mix"))
        .filter(col("cls").isNotNull)
      toks.groupBy("source", "cls")
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(length(col("tok"))).cast("long").as("total_chars"))
        .orderBy("source", "cls")
    },
    Some(
      """WITH planted AS (
        |  SELECT source, doc_id, text
        |    || CASE WHEN doc_id % 5 = 0
        |         THEN ' sk_live_' || md5(CAST(doc_id AS VARCHAR)) ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0
        |         THEN ' ' || md5('h:' || CAST(doc_id AS VARCHAR)) ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0
        |         THEN ' T0k' || upper(substr(md5('m:' || CAST(doc_id AS VARCHAR)), 1, 8))
        |           || substr(md5('n:' || CAST(doc_id AS VARCHAR)), 1, 12) ELSE '' END
        |    AS t
        |  FROM documents),
        |toks AS (
        |  SELECT source, doc_id, u.tok,
        |    length(u.tok) - length(regexp_replace(u.tok, '[A-Z]', '', 'g')) AS n_up,
        |    length(u.tok) - length(regexp_replace(u.tok, '[a-z]', '', 'g')) AS n_lo,
        |    length(u.tok) - length(regexp_replace(u.tok, '[0-9]', '', 'g')) AS n_di
        |  FROM (SELECT source, doc_id,
        |          list_filter(string_split_regex(t, '\s+'), x -> x <> '') AS l
        |        FROM planted),
        |    UNNEST(l) AS u(tok)
        |  WHERE length(u.tok) >= 20
        |    AND regexp_matches(u.tok, '^[A-Za-z0-9+/=_-]+$')),
        |classified AS (
        |  SELECT source, doc_id, tok,
        |    CASE WHEN regexp_matches(tok, '^[0-9a-f]{32,}$') THEN 'hex_key'
        |         WHEN regexp_matches(tok, '^(sk_live_|ghp_|AKIA)[A-Za-z0-9_]{8,}$')
        |           THEN 'prefixed_key'
        |         WHEN n_up >= 2 AND n_lo >= 2 AND n_di >= 2 THEN 'high_mix'
        |    END AS cls
        |  FROM toks)
        |SELECT source, cls, count(*) AS n_tokens,
        |  count(DISTINCT doc_id) AS n_docs,
        |  CAST(sum(length(tok)) AS BIGINT) AS total_chars
        |FROM classified WHERE cls IS NOT NULL
        |GROUP BY source, cls ORDER BY source, cls""".stripMargin
    )
  )

  /** q_secret_redact — the APPLY half of [[qSecretScan]] (the
    * [[qPiiRedact]] pattern): every detected credential token is
    * replaced by a typed placeholder in fixed precedence order
    * (hex → prefixed → NOTHING for high_mix: mixed-class tokens are
    * flagged for review, not destroyed — redacting every
    * high-entropy-looking token would mangle code identifiers, a
    * stated precision/recall trade), and changed documents emit a
    * digest of the redacted text plus removal accounting. Token-level
    * regexes use word boundaries so a digest embedded in a longer
    * token is not clipped mid-string.
    *
    * Each pattern is applied TWICE: the boundary groups `(^|\s)…(\s|$)`
    * are consumed by a match, so two secrets separated by a single
    * whitespace leave the second untouched in a non-overlapping scan —
    * the second (idempotent) pass catches those alternate tokens. The
    * 1-in-11 planting below puts two hex digests one space apart so
    * the oracle row exercises exactly this case.
    *
    * 100 TB shape: map-only regexp_replace projection fused into the
    * scan; only (doc_id, counts, 32-char digest) ever shuffle — the
    * corpus text never moves.
    */
  val qSecretRedact = Q(
    "q_secret_redact",
    (s, d) => {
      val planted = Tables.documents(s, d)
        .select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 5 === 0,
              concat(lit(" sk_live_"), md5(col("doc_id").cast("string"))))
              .otherwise(lit("")),
            when(col("doc_id") % 7 === 0,
              concat(lit(" "), md5(concat(lit("h:"), col("doc_id").cast("string")))))
              .otherwise(lit("")),
            when(col("doc_id") % 11 === 0,
              concat(lit(" "), md5(concat(lit("a:"), col("doc_id").cast("string"))),
                lit(" "), md5(concat(lit("b:"), col("doc_id").cast("string")))))
              .otherwise(lit(""))).as("t"))
      // boundaries are CAPTURED and re-emitted (\1…\3), not lookahead:
      // DuckDB's RE2 has no lookahead, and the engines must run the
      // byte-identical pattern
      val hexPat  = "(^|\\s)([0-9a-f]{32,})(\\s|$)"
      val prefPat = "(^|\\s)((sk_live_|ghp_|AKIA)[A-Za-z0-9_]{8,})(\\s|$)"
      def twice(c: Column, pat: String, rep: String): Column =
        regexp_replace(regexp_replace(c, pat, rep), pat, rep)
      planted
        .withColumn("r",
          twice(twice(col("t"), hexPat, "$1<HEX_KEY>$3"),
            prefPat, "$1<API_KEY>$4"))
        .filter(col("r") =!= col("t"))
        .select(col("doc_id"),
          (length(col("t")) - length(col("r"))).cast("int").as("chars_removed"),
          md5(col("r")).as("fingerprint"))
        .orderBy("doc_id")
    },
    Some(
      """WITH planted AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 5 = 0
        |         THEN ' sk_live_' || md5(CAST(doc_id AS VARCHAR)) ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0
        |         THEN ' ' || md5('h:' || CAST(doc_id AS VARCHAR)) ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0
        |         THEN ' ' || md5('a:' || CAST(doc_id AS VARCHAR))
        |           || ' ' || md5('b:' || CAST(doc_id AS VARCHAR)) ELSE '' END
        |    AS t
        |  FROM documents),
        |red AS (
        |  SELECT doc_id, t,
        |    regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(t,
        |      '(^|\s)([0-9a-f]{32,})(\s|$)', '\1<HEX_KEY>\3', 'g'),
        |      '(^|\s)([0-9a-f]{32,})(\s|$)', '\1<HEX_KEY>\3', 'g'),
        |      '(^|\s)((sk_live_|ghp_|AKIA)[A-Za-z0-9_]{8,})(\s|$)',
        |      '\1<API_KEY>\4', 'g'),
        |      '(^|\s)((sk_live_|ghp_|AKIA)[A-Za-z0-9_]{8,})(\s|$)',
        |      '\1<API_KEY>\4', 'g') AS r
        |  FROM planted)
        |SELECT doc_id,
        |  CAST(length(t) - length(r) AS INT) AS chars_removed,
        |  md5(r) AS fingerprint
        |FROM red WHERE r <> t ORDER BY doc_id""".stripMargin
    )
  )

  /** q_license_scan — license-compliance triage for a code/text
    * corpus (the governance gate an LLM data pipeline runs before a
    * source enters training): detect an SPDX tag
    * (`SPDX-License-Identifier: <id>` — the machine-readable header)
    * or GPL license prose, map to a family, and assign the ingest
    * decision — copyleft → exclude, permissive → keep with
    * attribution, no license → keep per corpus policy. Licenses are
    * PLANTED deterministically (the [[qPiiScan]] convention): 1-in-7
    * docs get an SPDX header cycling MIT / Apache-2.0 / GPL-3.0-only,
    * a further 1-in-11 get GPL prose with no tag — exercising both
    * detector arms and the tag-beats-prose precedence.
    *
    * 100 TB shape: map-only regexp projection fused into the scan,
    * one partial-aggregated rollup over (source, license) — text
    * never shuffles.
    */
  val qLicenseScan = Q(
    "q_license_scan",
    (s, d) => {
      val spdxId = when(col("doc_id") % 3 === 0, "MIT")
        .when(col("doc_id") % 3 === 1, "Apache-2.0")
        .otherwise("GPL-3.0-only")
      val planted = Tables.documents(s, d)
        .select(col("source"), col("doc_id"), col("n_chars"),
          concat(
            when(col("doc_id") % 7 === 0,
              concat(lit("// SPDX-License-Identifier: "), spdxId, lit(" ")))
              .otherwise(lit("")),
            col("text"),
            when(col("doc_id") % 7 =!= 0 && col("doc_id") % 11 === 0,
              lit(" This program is free software: you can redistribute " +
                "it under the terms of the GNU General Public License."))
              .otherwise(lit(""))).as("t"))
      val tagged = planted
        .withColumn("spdx",
          regexp_extract(col("t"), "SPDX-License-Identifier: ([A-Za-z0-9.+-]+)", 1))
        .withColumn("license",
          when(col("spdx") =!= "", col("spdx"))
            .when(col("t").contains("GNU General Public License"),
              "GPL-prose")
            .otherwise("none"))
        .withColumn("family",
          when(col("license").isin("MIT", "Apache-2.0"), "permissive")
            .when(col("license").startsWith("GPL"), "copyleft")
            .otherwise("none"))
        .withColumn("decision",
          when(col("family") === "copyleft", "exclude")
            .when(col("family") === "permissive", "keep_attrib")
            .otherwise("keep"))
      tagged.groupBy("source", "license", "family", "decision")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .orderBy("source", "license")
    },
    Some(
      """WITH planted AS (
        |  SELECT source, doc_id, n_chars,
        |    CASE WHEN doc_id % 7 = 0
        |      THEN '// SPDX-License-Identifier: ' ||
        |        CASE WHEN doc_id % 3 = 0 THEN 'MIT'
        |             WHEN doc_id % 3 = 1 THEN 'Apache-2.0'
        |             ELSE 'GPL-3.0-only' END || ' '
        |      ELSE '' END
        |    || text
        |    || CASE WHEN doc_id % 7 <> 0 AND doc_id % 11 = 0
        |         THEN ' This program is free software: you can redistribute'
        |           || ' it under the terms of the GNU General Public License.'
        |         ELSE '' END AS t
        |  FROM documents),
        |tagged AS (
        |  SELECT source, n_chars,
        |    CASE WHEN regexp_extract(t,
        |        'SPDX-License-Identifier: ([A-Za-z0-9.+-]+)', 1) <> ''
        |      THEN regexp_extract(t,
        |        'SPDX-License-Identifier: ([A-Za-z0-9.+-]+)', 1)
        |      WHEN contains(t, 'GNU General Public License') THEN 'GPL-prose'
        |      ELSE 'none' END AS license
        |  FROM planted),
        |fam AS (
        |  SELECT source, n_chars, license,
        |    CASE WHEN license IN ('MIT', 'Apache-2.0') THEN 'permissive'
        |         WHEN license LIKE 'GPL%' THEN 'copyleft'
        |         ELSE 'none' END AS family
        |  FROM tagged)
        |SELECT source, license, family,
        |  CASE WHEN family = 'copyleft' THEN 'exclude'
        |       WHEN family = 'permissive' THEN 'keep_attrib'
        |       ELSE 'keep' END AS decision,
        |  count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM fam GROUP BY source, license, family
        |ORDER BY source, license""".stripMargin
    )
  )

  val all: Seq[Q] = Seq(qPiiScan, qPiiRedact, qKAnonymity, qLDiversity,
    qTCloseness, qDpContribution, qDpReleaseSim, qPiiLuhn, qSecretScan,
    qSecretRedact, qLicenseScan)
}
