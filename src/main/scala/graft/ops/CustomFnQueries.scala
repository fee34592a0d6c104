package graft.ops

import graft.{Q, Tables}
import graft.functions.GraftFunctions.{filetime_to_timestamp, hamming_distance}
import org.apache.spark.sql.functions._

/** Queries exercising the custom codegen'd Catalyst expressions
  * (graft.functions): FILETIME conversion (reference
  * row_serializer.cpp:44-47) and Hamming distance over SimHash bit
  * strings. Both stay inside whole-stage codegen — no UDF boxing.
  */
object CustomFnQueries {

  /** 1601→1970 epoch shift in microseconds (Windows FILETIME). */
  private val shiftMicros = 11644473600000000L

  /** q_filetime_roundtrip — build a FILETIME from each order date, then
    * convert back with the native expression; proves the conversion
    * against the oracle's identity.
    */
  val qFiletimeRoundtrip = Q(
    "q_filetime_roundtrip",
    (s, d) => {
      // o_orderdate is TIMESTAMP_NTZ in the parquet; under the UTC
      // session the TZ cast is value-preserving both ways
      val ft =
        (unix_micros(col("o_orderdate").cast("timestamp")) + lit(shiftMicros)) * lit(10L)
      Tables
        .orders(s, d)
        .select(
          col("o_orderkey"),
          filetime_to_timestamp(ft).cast("timestamp_ntz").as("converted")
        )
        .orderBy("o_orderkey")
    },
    Some(
      """SELECT o_orderkey, o_orderdate AS converted
        |FROM orders ORDER BY o_orderkey""".stripMargin
    )
  )

  /** The 16-bit SimHash column (same recipe as Dedup.qSimhash — the
    * fused one-digest-per-gram kernel).
    */
  private def simhashCol = graft.functions.GraftFunctions.simhash16(col("grams"))

  private val simhashSql = (1 to 16)
    .map(k =>
      s"""CASE WHEN list_sum(list_transform(grams,
         |    g -> CASE WHEN substr(md5(g), $k, 1) >= '8' THEN 1 ELSE -1 END)) > 0
         |  THEN '1' ELSE '0' END""".stripMargin)
    .mkString(" || ")

  /** q_simhash_pairs — near-dup candidates by SimHash Hamming distance
    * ≤ 3 among docs 0..63, using the native hamming_distance expression.
    * At scale the all-pairs join is replaced by multi-probe bucketing on
    * simhash prefixes; the distance primitive is the same.
    */
  val qSimhashPairs = Q(
    "q_simhash_pairs",
    (s, d) => {
      val sig = Tables
        .documents(s, d)
        .filter(col("doc_id") < 64)
        .withColumn("grams", Dedup.grams4(col("text")))
        .select(col("doc_id"), simhashCol.as("simhash"))
      sig
        .as("a")
        .join(sig.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(
          col("a.doc_id").as("id_a"),
          col("b.doc_id").as("id_b"),
          hamming_distance(col("a.simhash"), col("b.simhash")).as("dist")
        )
        .filter(col("dist") <= 3)
        .orderBy("id_a", "id_b")
    },
    Some(
      s"""WITH g AS (
         |  SELECT doc_id, ${Dedup.gramsSql} AS grams
         |  FROM documents WHERE doc_id < 64),
         |sig AS (SELECT doc_id, $simhashSql AS simhash FROM g),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(list_sum(list_transform(range(1, 17),
         |      k -> CASE WHEN substr(a.simhash, CAST(k AS INT), 1)
         |                  <> substr(b.simhash, CAST(k AS INT), 1)
         |           THEN 1 ELSE 0 END)) AS INT) AS dist
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, dist FROM pairs
         |WHERE dist <= 3 ORDER BY id_a, id_b""".stripMargin
    )
  )

  val all: Seq[Q] = Seq(qFiletimeRoundtrip, qSimhashPairs, qSqlNativeFuncs)

  /** q_sql_native_funcs — the SQL surface of graft's codegen'd scalar
    * kernels: `chars_in_ranges(text, 'a-zA-Z')` (character-class
    * literal parsed by the SQL builder into codepoint ranges),
    * `simhash16(tokens)`, and `hamming_distance(sig, zeros)` invoked
    * by NAME from `spark.sql` — GraftExtensions.injectFunction
    * registers them in every session, so a SQL-only user has full
    * parity with the Column API (the reference's users only ever had
    * SQL). The oracle retains the hex/regex formulations each kernel
    * is proven against.
    *
    * 100 TB shape: all three are map-side whole-stage-codegen
    * expressions — the only exchange is the harness sort.
    */
  lazy val qSqlNativeFuncs: Q = Q(
    "q_sql_native_funcs",
    (s, d) => {
      Tables.documents(s, d).createOrReplaceTempView("documents_nf")
      s.sql(
        """SELECT doc_id,
          |  chars_in_ranges(text, 'a-zA-Z') AS n_alpha,
          |  simhash16(filter(split(text, '\\s+'), t -> t != '')) AS sig,
          |  hamming_distance(
          |    simhash16(filter(split(text, '\\s+'), t -> t != '')),
          |    repeat('0', 16)) AS n_ones
          |FROM documents_nf
          |WHERE text IS NOT NULL
          |ORDER BY doc_id""".stripMargin)
    },
    Some {
      val sig = simhashSql.replace("grams",
        "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')")
      s"""WITH sigs AS (
         |  SELECT doc_id,
         |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS INT)
         |      AS n_alpha,
         |    $sig AS sig
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT doc_id, n_alpha, sig,
         |  CAST(length(replace(sig, '0', '')) AS INT) AS n_ones
         |FROM sigs ORDER BY doc_id""".stripMargin
    }
  )
}
