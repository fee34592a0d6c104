package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** Property tests for the custom codegen'd expressions (an upgrade over
  * the reference's golden-only testing, SURVEY.md §5).
  */
class ExpressionsSpec extends AnyFunSuite with SessionSuite {

  override protected def cpus: Int = 2

  private val shift = 11644473600000000L

  test("filetime_to_timestamp roundtrips arbitrary microsecond instants") {
    import spark.implicits._
    // sane instant range: 1700-01-01 .. 2500-01-01 in micros
    val gen     = Gen.choose(-8520336000000000L, 16725225600000000L)
    val samples = (0 until 100).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)))
    val got = samples.map(m => (m + shift) * 10L).toDF("ft")
      .select(GraftFunctions.filetime_to_timestamp(col("ft")).as("ts"))
      .select(unix_micros(col("ts")))
      .collect().map(_.getLong(0)).toSeq
    assert(got === samples)
  }

  test("hamming_distance: zero, symmetric, length mismatch = -1") {
    import spark.implicits._
    val df = Seq(
      ("0101", "0101"), ("0101", "1010"), ("abc", "abd"), ("ab", "abc")
    ).toDF("a", "b")
      .select(GraftFunctions.hamming_distance(col("a"), col("b")).as("d"))
    assert(df.collect().map(_.getInt(0)).toSeq === Seq(0, 4, 1, -1))
  }

  /** Runs `body` on a new session state over the shared context, built
    * by the factory, and restores the suite's session afterwards.
    */
  private def withFreshSession(body: SparkSession => Unit): Unit = {
    spark // force the shared session first so it can be restored after
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = Sessions.local(cpus)
      assert(s2 ne spark)
      body(s2)
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("GraftExtensions injects the functions into a fresh session") {
    withFreshSession { s2 =>
      val d = s2
        .sql("SELECT hamming_distance('111', '010') AS d")
        .collect()(0).getInt(0)
      assert(d === 2)
      // injected optimizer rule folds hamming(x, x) → 0 at plan time
      import org.apache.spark.sql.functions.col
      val df = s2.range(3).toDF("x")
        .select(graft.functions.GraftFunctions
          .hamming_distance(col("x").cast("string"), col("x").cast("string"))
          .as("d"))
      assert(df.queryExecution.optimizedPlan.toString.contains("0 AS d"),
        df.queryExecution.optimizedPlan.toString)
      assert(df.collect().map(_.getInt(0)).toSeq === Seq(0, 0, 0))
    }
  }

  test("expressions are SQL-registered and codegen survives wholestage") {
    val row = spark
      .sql(s"""SELECT hamming_distance('1100', '1001') AS d,
              |  unix_micros(filetime_to_timestamp(${shift * 10L})) AS e
              |FROM range(1)""".stripMargin)
      .collect()(0)
    assert(row.getInt(0) === 2)
    assert(row.getLong(1) === 0L) // 1970 epoch
  }

  test("dot_product_q matches the higher-order form incl. null semantics") {
    // value, length-mismatch → NULL, null-element → NULL over literals:
    // constant folding evaluates them, so this checks the interpreted
    // path; the agreement test below runs the same cases through codegen
    val rows = spark.sql(
      """SELECT
        |  dot_product_q(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS v,
        |  aggregate(zip_with(array(1L, 2L, 3L), array(4L, 5L, 6L),
        |    (x, y) -> x * y), 0L, (a, x) -> a + x) AS ref,
        |  dot_product_q(array(1L, 2L), array(1L)) AS mismatch,
        |  dot_product_q(array(1L, CAST(NULL AS BIGINT)), array(1L, 1L))
        |    AS nullelem,
        |  dot_product_q(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS nullarr
        |FROM range(1)""".stripMargin).collect()(0)
    assert(rows.getLong(0) === 32L)
    assert(rows.getLong(0) === rows.getLong(1))
    assert(rows.isNullAt(2) && rows.isNullAt(3) && rows.isNullAt(4))
  }

  test("dot_product_q equals the HOF form on random vectors (property)") {
    // elements within the 1e-6 quantization contract (|e| ≤ 2^21)
    val gen = Gen.listOfN(64, Gen.choose(-2097152L, 2097152L))
    val vecs = (0 until 60).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(7L + i)))
    import spark.implicits._
    val df = viaParquet(vecs.grouped(2).zipWithIndex.collect {
      case (scala.collection.Seq(a, b), i) => (i, a, b)
    }.toSeq.toDF("i", "a", "b"))
    val fused = df.selectExpr("i", "dot_product_q(a, b) AS v")
    assert(wholeStageExprs(fused).contains(classOf[graft.functions.DotProductQ]))
    // the HOF reference with FuseDotProduct off, which would otherwise
    // rewrite it into dot_product_q as well
    val hof = withConf("spark.sql.optimizer.excludedRules",
        FuseDotProduct.ruleName) {
      val h = df.selectExpr("i",
        """aggregate(zip_with(a, b, (x, y) -> x * y), 0L,
          |  (acc, x) -> acc + x) AS v""".stripMargin)
      assert(!wholeStageExprs(h).contains(classOf[graft.functions.DotProductQ]))
      h.collect()
    }
    val rows = withConf("spark.sql.codegen.fallback", "false")(fused.collect())
    assert(rows.length === 30)
    assert(rows.sortBy(_.getInt(0)).toSeq === hof.sortBy(_.getInt(0)).toSeq)
  }

  test("chars_in_ranges equals the length(regexp_replace) idiom it replaces") {
    import spark.implicits._
    val hostile = Seq(
      "", "hello World", "a b\tc\nd", "no-letters 123 !!!",
      "中文混合 text 漢字", "emoji 🎉 mix", " \t\n",
      "ÄÖÜ umlauts stay out", "一鿿䷿ꀀ" // range edges
    )
    val df = hostile.toDF("text")
    val alphaRanges = Seq('a'.toInt -> 'z'.toInt, 'A'.toInt -> 'Z'.toInt)
    val wsRanges    = Seq(' '.toInt -> ' '.toInt, 9 -> 9, 10 -> 10)
    val cjkRanges   = Seq(0x4e00 -> 0x9fff)
    val rows = df.select(
      GraftFunctions.chars_in_ranges(col("text"), alphaRanges).as("a1"),
      length(regexp_replace(col("text"), "[^a-zA-Z]", "")).as("a2"),
      GraftFunctions.chars_in_ranges(col("text"), wsRanges).as("w1"),
      length(regexp_replace(col("text"), "[^ \\t\\n]", "")).as("w2"),
      GraftFunctions.chars_in_ranges(col("text"), cjkRanges).as("c1"),
      length(regexp_replace(col("text"), "[^\\x{4e00}-\\x{9fff}]", "")).as("c2")
    ).collect()
    rows.zip(hostile).foreach { case (r, s) =>
      assert(r.getInt(0) === r.getInt(1), s"alpha on '$s'")
      assert(r.getInt(2) === r.getInt(3), s"ws on '$s'")
      assert(r.getInt(4) === r.getInt(5), s"cjk on '$s'")
    }
    // null propagates
    val nr = Seq[Option[String]](None).toDF("text")
      .select(GraftFunctions.chars_in_ranges(col("text"), alphaRanges))
      .collect()(0)
    assert(nr.isNullAt(0))
  }

  test("minhash_slices equals the md5-hex/conv formulation it replaces") {
    import spark.implicits._
    val hostile = Seq(
      "", "a", "the quick brown fox", "gram with spaces  doubled",
      "中文 shingle 漢字", "emoji 🎉 tail", "\t\n edge", "ÄÖÜß",
      "0123456789abcdef" * 8 // long gram
    )
    val df = hostile.toDF("g")
    val slow = (0 until 8).map { j =>
      val dig   = if (j < 4) md5(concat(lit("0|"), col("g")))
                  else md5(concat(lit("1|"), col("g")))
      conv(substring(dig, (j % 4) * 8 + 1, 8), 16, 10).cast("long").as(s"s$j")
    }
    val rows = df.select(
      GraftFunctions.minhash_slices(col("g")).as("fast") +: slow: _*).collect()
    rows.zip(hostile).foreach { case (r, g) =>
      val fast = r.getSeq[Long](0)
      (0 until 8).foreach { j =>
        assert(fast(j) === r.getLong(1 + j), s"slice $j of '$g'")
        assert(fast(j) >= 0L && fast(j) <= 0xFFFFFFFFL, s"range of slice $j")
      }
    }
    // null propagates
    val nr = Seq[Option[String]](None).toDF("g")
      .select(GraftFunctions.minhash_slices(col("g"))).collect()(0)
    assert(nr.isNullAt(0))
  }

  test("gram_run_stats equals the explode-and-count formulation it replaces") {
    import spark.implicits._
    // hostile docs: empty, shorter-than-n, all-same token, heavy dups,
    // unicode, tokens containing characters that sort around ' '
    val docs = Seq(
      Array[String](),
      Array("one"),
      Array("a", "a", "a", "a"),
      Array("a", "b", "a", "b", "a"),
      Array("the", "quick", "the", "quick", "fox"),
      Array("中", "文", "中", "文"),
      Array("x!", "x", "!x", "x !", "x"),
      (1 to 200).map(i => s"t${i % 7}").toArray
    )
    val df = docs.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "t")
    for (n <- Seq(1, 2, 3)) {
      val fast = df.select(col("id"),
          GraftFunctions.gram_run_stats(col("t"), n).as("rs"))
        .collect().map(r =>
          r.getInt(0) -> (if (r.isNullAt(1)) null else r.getSeq[Long](1)))
        .toMap
      val slow = df
        .select(col("id"), explode(when(size(col("t")) >= n, transform(
          sequence(lit(1), size(col("t")) - (n - 1)),
          i => concat_ws(" ", slice(col("t"), i, lit(n)))))).as("g"))
        .groupBy("id", "g").agg(count(lit(1)).as("c"))
        .groupBy("id")
        .agg(max(col("c")).as("maxc"),
          coalesce(sum(when(col("c") > 1, col("c"))), lit(0L)).as("dup"))
        .collect().map(r => r.getInt(0) -> Seq(r.getLong(1), r.getLong(2)))
        .toMap
      docs.indices.foreach { i =>
        assert(fast(i) === slow.getOrElse(i, null),
          s"doc $i n=$n: kernel=${fast(i)} explode=${slow.get(i)}")
      }
    }
  }

  test("simhash16 equals the per-bit aggregate formulation it replaces") {
    import spark.implicits._
    val hostile = Seq(
      "", "abc", "abcd", "the quick brown fox jumps over the lazy dog",
      "中文混合 text 漢字 with 🎉 emoji", "aaaa" * 50, "x\ty\nz"
    )
    val df = hostile.toDF("text")
      .withColumn("grams", transform(
        sequence(lit(1), greatest(length(col("text")) - 3, lit(1))),
        i => col("text").substr(i, lit(4))))
    val slowBits = (1 to 16).map { k =>
      val vote = aggregate(col("grams"), lit(0),
        (acc, g) => acc + when(substring(md5(g), k, 1) >= "8", 1).otherwise(-1))
      when(vote > 0, "1").otherwise("0")
    }
    val rows = df.select(
      GraftFunctions.simhash16(col("grams")).as("fast"),
      concat(slowBits: _*).as("slow")).collect()
    rows.zip(hostile).foreach { case (r, s) =>
      assert(r.getString(0) === r.getString(1), s"simhash of '$s'")
    }
    // empty array → all-zero bits; null array → null; null gram = -1 votes
    val edge = spark.sql(
      "SELECT CAST(array() AS ARRAY<STRING>) AS empty, " +
      "CAST(NULL AS ARRAY<STRING>) AS na, " +
      "array(CAST(NULL AS STRING)) AS oneNull")
    val er = edge.select(
      GraftFunctions.simhash16(col("empty")),
      GraftFunctions.simhash16(col("na")),
      GraftFunctions.simhash16(col("oneNull"))).collect()(0)
    assert(er.getString(0) === "0" * 16)
    assert(er.isNullAt(1))
    assert(er.getString(2) === "0" * 16) // every bit votes -1 → '0'
  }

  /** `df` written to parquet in a temp dir and read back: a relation
    * that is neither local nor foldable. Over a local relation Spark's
    * ConvertToLocalRelation evaluates a projection during optimization
    * with an interpreted projection, so a query over `Seq(...).toDF`
    * never runs generated code.
    */
  private def viaParquet(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("expr-spec")
      .resolve("in").toString
    df.write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** The classes of the expressions inside whole-stage codegen stages of
    * `df`'s executed plan.
    */
  private def wholeStageExprs(df: org.apache.spark.sql.DataFrame): Set[Class[_]] =
    df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.flatMap(_.child.collect { case p => p.expressions }.flatten)
      .flatMap(_.collect { case e => e.getClass }).toSet

  test("interpreted eval agrees with codegen for every fused kernel") {
    // codegen (a whole-stage projection over parquet, fallback off) vs
    // the interpreted nullSafeEval path (eval over literals) — the path
    // Spark falls back to when a plan exceeds codegen limits; a
    // divergence would corrupt results silently only on wide plans
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import graft.functions._
    import spark.implicits._

    val gram  = "the quick 中文 brown 🎉 fox"
    val grams = Seq("the quick brown fox", "jumps over", "the lazy dog",
      "中文漢字", "", "aaaa")
    val toks = Seq("a", "b", "a", "b", "a", "c")
    val ranges = Seq((0x61, 0x7a), (0x4e00, 0x9fff))
    // hamming: equal and unequal lengths; dot product: a value, a length
    // mismatch, a null element (winnow_stats needs ≥ 16 code points of g)
    val in = viaParquet(Seq(
      (0, gram, "0110", "1100", Seq(Option(2L), Option(3L)),
        Seq(Option(5L), Option(7L))),
      (1, "aaaa" * 5, "abc", "abcd", Seq(Option(1L), Option(2L)),
        Seq(Option(1L))),
      (2, "中文字 漢字 text 🎉 tail", "中文", "中字", Seq(Option(1L), None),
        Seq(Option(1L), Option(1L)))
    ).toDF("id", "g", "ha", "hb", "va", "vb")
      .withColumn("grams", typedLit(grams))
      .withColumn("t", typedLit(toks)))

    // each kernel over its input columns, given how to read a column
    val kernels: Seq[(String, (String => Expression) => Expression)] = Seq(
      "minhash_slices" -> (c => MinhashSlices(c("g"))),
      "simhash16" -> (c => Simhash16(c("grams"))),
      "gram_run_stats" -> (c => GramRunStats(c("t"), 2)),
      "chars_in_ranges" -> (c => CountCharsInRanges(c("g"), ranges)),
      "winnow_stats" -> (c => WinnowStats(c("g"))),
      "hamming_distance" -> (c => HammingDistance(c("ha"), c("hb"))),
      "dot_product_q" -> (c => DotProductQ(c("va"), c("vb"))))

    val df = in.select(col("*") +: kernels.map { case (name, k) =>
      ColumnBridge.column(k(n => ColumnBridge.expression(col(n)))).as(name)
    }: _*)
    val fused = wholeStageExprs(df)
    kernels.foreach { case (name, k) =>
      val cls = k(n => ColumnBridge.expression(col(n))).getClass
      assert(fused.contains(cls), s"$name is not in a whole-stage codegen stage")
    }
    val cg = withConf("spark.sql.codegen.fallback", "false")(df.collect())
      .sortBy(_.getAs[Int]("id"))
    assert(cg.length === 3)
    cg.foreach { row =>
      val literal = (n: String) =>
        Literal.create(row.getAs[Any](n), in.schema(n).dataType)
      kernels.foreach { case (name, k) =>
        val e = k(literal)
        val interpreted =
          CatalystTypeConverters.convertToScala(e.eval(null), e.dataType)
        assert(interpreted === row.getAs[Any](name),
          s"$name eval vs codegen on row ${row.getAs[Int]("id")}")
      }
    }
    // the new inputs reach every branch of their kernels
    assert(cg.map(_.getAs[Int]("hamming_distance")).toSeq === Seq(2, -1, 1))
    assert(cg.map(r => Option(r.getAs[Any]("dot_product_q"))).toSeq ===
      Seq(Some(31L), None, None))
  }

  test("winnow_stats equals the array formulation it replaced (property)") {
    // the fused kernel (byte-compared digests, monotonic deque) must
    // select the EXACT values the md5-hex array_min(slice(...)) form
    // selects — including repeated text (duplicate digests), multi-byte
    // codepoints, and the short-document single-window case
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val alphabet = "ab 中🎉xyz"
    val texts = (0 until 40).map { i =>
      val n = 16 + rnd.nextInt(120)
      val s = (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length)))
        .mkString
      if (i % 4 == 0) s + s.take(32) else s // force repeated regions
    } :+ "exactlysixteench" // ng == 1 (single short window)
    val df = texts.toDF("text")
    val rows = df
      .select(col("text"),
        GraftFunctions.winnow_stats(col("text")).as("ws"))
      .selectExpr("ws.n_grams", "ws.n_fp", "ws.min_fp",
        """transform(sequence(1, greatest(char_length(text) - 15 - 7, 1)),
          |  j -> array_min(slice(
          |    transform(sequence(1, char_length(text) - 15),
          |      i -> md5(substr(text, i, 16))), j, 8))) AS wins""".stripMargin,
        """array_min(transform(sequence(1, char_length(text) - 15),
          |  i -> md5(substr(text, i, 16)))) AS amin""".stripMargin)
      .collect()
    rows.foreach { r =>
      assert(r.getLong(1) ===
        r.getSeq[String](3).distinct.length.toLong, r.toString)
      assert(r.getString(2) === r.getString(4), r.toString)
    }
  }

  test("jaro_winkler matches the DuckDB-pinned semantics") {
    import spark.implicits._
    // expected values computed by DuckDB jaro_winkler_similarity
    // (the oracle engine) on these exact pairs
    val vectors = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("JELLYFISH", "SMELLYFISH", 0.8962962962962964),
      ("", "", 0.0), // DuckDB scores empty-empty 0, not the textbook 1
      ("a", "", 0.0),
      ("abc", "abc", 1.0),
      ("CRATE", "TRACE", 0.7333333333333334),
      ("ab", "ba", 0.0), // window 0: no cross-position matches
      ("ab", "abcdefgh", 0.8),
      // BYTE semantics: multi-byte codepoints compare per UTF-8 byte
      ("ßü", "ßu", 0.7777777777777778),
      ("中文字", "中字文", 0.9222222222222223)
    )
    val jw = viaParquet(vectors.zipWithIndex.map { case ((a, b, _), i) =>
      (i, a, b) }.toDF("i", "a", "b"))
      .select(col("i"), GraftFunctions.jaro_winkler(col("a"), col("b")))
    assert(wholeStageExprs(jw).contains(classOf[graft.functions.JaroWinkler]))
    val rows = withConf("spark.sql.codegen.fallback", "false")(jw.collect())
      .sortBy(_.getInt(0)).map(_.getDouble(1))
    rows.zip(vectors).foreach { case (got, (a, b, want)) =>
      assert(math.abs(got - want) < 1e-12, s"('$a', '$b'): $got vs $want")
    }
    // interpreted eval agrees with the same values
    vectors.foreach { case (a, b, want) =>
      val e = graft.functions.JaroWinkler(
        org.apache.spark.sql.catalyst.expressions.Literal(a),
        org.apache.spark.sql.catalyst.expressions.Literal(b))
      assert(math.abs(e.eval(null).asInstanceOf[Double] - want) < 1e-12,
        s"interpreted ('$a', '$b')")
    }
    // null propagation
    val nr = Seq((Some("x"), Option.empty[String])).toDF("a", "b")
      .select(GraftFunctions.jaro_winkler(col("a"), col("b")))
      .collect()(0)
    assert(nr.isNullAt(0))
  }

  test("SQL surface of the parameterized kernels equals the Column API") {
    import graft.functions.GraftFunctions
    spark.range(0, 50)
      .selectExpr("concat('doc ', id, ' aaa#b\tx aaa aaa') AS text")
      .createOrReplaceTempView("kernel_sql_t")
    // chars_in_ranges with a parsed character-class literal
    val viaSql = spark.sql(
      """SELECT chars_in_ranges(text, 'a-zA-Z#') AS n,
        |  gram_run_stats(filter(split(text, '\\s+'), t -> t != ''), 3) AS g,
        |  simhash16(filter(split(text, '\\s+'), t -> t != '')) AS sig,
        |  minhash_slices(text) AS mh
        |FROM kernel_sql_t ORDER BY text""".stripMargin).collect()
    val toks = org.apache.spark.sql.functions.filter(
      org.apache.spark.sql.functions.split(
        org.apache.spark.sql.functions.col("text"), "\\s+"),
      t => t =!= org.apache.spark.sql.functions.lit(""))
    val viaCol = spark.table("kernel_sql_t")
      .select(
        GraftFunctions.chars_in_ranges(
          org.apache.spark.sql.functions.col("text"),
          Seq('a'.toInt -> 'z'.toInt, 'A'.toInt -> 'Z'.toInt,
            '#'.toInt -> '#'.toInt)).as("n"),
        GraftFunctions.gram_run_stats(toks, 3).as("g"),
        GraftFunctions.simhash16(toks).as("sig"),
        GraftFunctions.minhash_slices(
          org.apache.spark.sql.functions.col("text")).as("mh"))
      .orderBy("text").collect()
    assert(viaSql.map(_.toSeq).toSeq === viaCol.map(_.toSeq).toSeq)
    // a non-literal parameter argument is rejected with a clear error
    val err = intercept[Exception] {
      spark.sql("SELECT chars_in_ranges(text, text) FROM kernel_sql_t")
        .collect()
    }
    assert(err.getMessage.contains("literal"), err.getMessage)
  }

  test("FuseDotProduct rewrites the HOF idiom into dot_product_q") {
    withFreshSession { s2 =>
      // non-foldable input (id column) so the fused form is observable
      val df = s2.sql(
        """SELECT aggregate(zip_with(array(id, 2L, 3L), array(4L, 5L, id),
          |  (x, y) -> x * y), 0L, (acc, x) -> acc + x) AS dot
          |FROM range(7, 8)""".stripMargin)
      assert(df.queryExecution.optimizedPlan.toString
        .toLowerCase.contains("dotproductq"),
        df.queryExecution.optimizedPlan.toString)
      assert(df.collect()(0).getLong(0) === 7L * 4 + 2 * 5 + 3 * 7)
      // non-matching shape (sum of plain elements) is left alone
      val other = s2.sql(
        """SELECT aggregate(array(1L, 2L), 0L, (acc, x) -> acc + x) AS s
          |FROM range(1)""".stripMargin)
      assert(!other.queryExecution.optimizedPlan.toString
        .toLowerCase.contains("dotproductq"))
      assert(other.collect()(0).getLong(0) === 3L)
    }
  }

}
