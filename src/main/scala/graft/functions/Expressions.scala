package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions (SURVEY.md §4 "custom but optional"
  * items, done properly): native codegen'd scalar functions, not UDFs —
  * they stay inside whole-stage codegen so the hot path never boxes.
  */

/** Windows FILETIME (100 ns ticks since 1601-01-01) → TimestampType.
  *
  * The reference's serializer conversion (row_serializer.cpp:44-47,
  * `filetime_to_time_t`), lifted to an expression: the reference
  * truncates to seconds (TIMESTAMP_S); we keep microseconds and let
  * callers `date_trunc` when second precision is wanted.
  */
case class FiletimeToTimestamp(child: Expression) extends UnaryExpression {

  override def dataType: DataType = TimestampType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"filetime_to_timestamp needs BIGINT, got ${child.dataType.sql}")

  /** 1601-01-01 → 1970-01-01 in microseconds. */
  private val epochShiftMicros = 11644473600000000L

  override def nullSafeEval(v: Any): Any =
    v.asInstanceOf[Long] / 10L - epochShiftMicros

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"($c / 10L - ${epochShiftMicros}L)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Static kernels behind [[HammingDistance]], [[DotProductQ]] and
  * [[CountCharsInRanges]]: both their interpreted `nullSafeEval` and
  * their generated code call these (the [[MinhashKernel]] pattern).
  */
object ScalarKernel {

  /** Positions at which the UTF-16 renderings of `a` and `b` differ, or
    * -1 when their lengths differ.
    */
  def hamming(a: UTF8String, b: UTF8String): Int = {
    val sa = a.toString
    val sb = b.toString
    if (sa.length != sb.length) return -1
    var d = 0
    var i = 0
    while (i < sa.length) { if (sa.charAt(i) != sb.charAt(i)) d += 1; i += 1 }
    d
  }

  /** Whether [[dot]] has a value: equal lengths and no null element. */
  def dotDefined(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Boolean = {
    val n = a.numElements()
    if (n != b.numElements()) return false
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return false
      i += 1
    }
    true
  }

  /** The dot product of two arrays [[dotDefined]] accepts. */
  def dot(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val n = a.numElements()
    var s = 0L
    var i = 0
    while (i < n) { s += a.getLong(i) * b.getLong(i); i += 1 }
    s
  }

  /** Code points of `v` inside any inclusive range of `bounds`, a flat
    * `[lo0, hi0, lo1, hi1, …]` array.
    */
  def countInRanges(v: UTF8String, bounds: Array[Int]): Int = {
    val s = v.toString
    var cnt = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      var k = 0
      while (k < bounds.length) {
        if (cp >= bounds(k) && cp <= bounds(k + 1)) { cnt += 1; k = bounds.length }
        else k += 2
      }
    }
    cnt
  }
}

/** Hamming distance between two equal-length strings (e.g. SimHash bit
  * strings): the near-dup distance primitive, codegen'd.
  * Unequal lengths yield -1 (callers treat as "not comparable").
  */
case class HammingDistance(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "hamming_distance needs (STRING, STRING)")

  override def nullSafeEval(l: Any, r: Any): Any =
    ScalarKernel.hamming(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ScalarKernel.hamming($a, $b)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** Exact integer dot product of two ARRAY<BIGINT> vectors — the hot
  * inner loop of every vector-similarity operator (KNN scoring, IVF
  * probe, semantic dedup). The higher-order-function formulation
  * (`aggregate(zip_with(a, b, _*_), 0, _+_)`) materializes an
  * intermediate array and evaluates two lambdas per element outside
  * whole-stage codegen; this expression is one fused loop over the two
  * `ArrayData`, codegen'd, no allocation.
  *
  * Semantics match the HOF form exactly: null if either array is null,
  * length mismatch → null (zip_with pads with null, poisoning the sum),
  * any null element → null.
  */
case class DotProductQ(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "dot_product_q needs (ARRAY<BIGINT>, ARRAY<BIGINT>)")
    }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val b = r.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (ScalarKernel.dotDefined(a, b)) ScalarKernel.dot(a, b) else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |if (graft.functions.ScalarKernel.dotDefined($a, $b)) {
      |  ${ev.value} = graft.functions.ScalarKernel.dot($a, $b);
      |} else {
      |  ${ev.isNull} = true;
      |}""".stripMargin)

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** Count of code points falling in any of the inclusive `ranges` —
  * the char-class counter behind quality scoring and language ID.
  *
  * Replaces the `length(regexp_replace(text, "[^class]", ""))` idiom,
  * which runs a regex over every character AND materializes the
  * stripped string just to take its length. Same value (Spark's
  * `length` counts code points; so does this loop), no allocation,
  * codegen'd. The DuckDB oracle keeps the regex form — the counts are
  * definitionally equal.
  */
case class CountCharsInRanges(child: Expression, ranges: Seq[(Int, Int)])
    extends UnaryExpression {

  require(ranges.nonEmpty, "CountCharsInRanges needs at least one range")

  /** `ranges` as [[ScalarKernel.countInRanges]] takes them. */
  @transient private lazy val bounds: Array[Int] =
    ranges.flatMap { case (lo, hi) => Seq(lo, hi) }.toArray

  override def dataType: DataType = IntegerType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"chars_in_ranges needs STRING, got ${child.dataType.sql}")

  override def nullSafeEval(v: Any): Any =
    ScalarKernel.countInRanges(v.asInstanceOf[UTF8String], bounds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("bounds", bounds, "int[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ScalarKernel.countInRanges($c, $b)")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Static kernel behind [[MinhashSlices]] — kept as a plain object so
  * generated code calls it via the class's static forwarder.
  */
object MinhashKernel {
  private val mdPool = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The 8 MinHash component values of one shingle: big-endian unsigned
    * 32-bit slices of md5("0|"+g) (components 0-3) and md5("1|"+g)
    * (4-7). Equal by construction to
    * `conv(substring(hex(md5(..)), (j%4)*8+1, 8), 16, 10)` — a slice of
    * the lowercase hex string parsed base-16 IS the big-endian read of
    * the underlying digest bytes — which is what the DuckDB oracle
    * still computes.
    */
  def slices8(g: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val md = mdPool.get()
    val gb = g.getBytes
    val out = new Array[Long](8)
    var salt = 0
    while (salt < 2) {
      md.reset()
      md.update(('0' + salt).toByte)
      md.update('|'.toByte)
      md.update(gb)
      val d = md.digest()
      var j = 0
      while (j < 4) {
        out(4 * salt + j) =
          ((d(4 * j) & 0xFFL) << 24) | ((d(4 * j + 1) & 0xFFL) << 16) |
            ((d(4 * j + 2) & 0xFFL) << 8) | (d(4 * j + 3) & 0xFFL)
        j += 1
      }
      salt += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** 16-bit SimHash of a gram array: one md5 per gram, bit k votes on
    * the sign of hex-digit k ≥ '8' (= high bit of nibble k of the
    * digest). Matches the per-bit
    * `aggregate(grams, 0, (acc, g) => acc + when(substring(md5(g), k,
    * 1) >= "8", 1).otherwise(-1))` formulation bit-for-bit — including
    * a NULL gram voting −1 on every bit (the `otherwise` branch) and an
    * empty array yielding all-zero votes → "0000000000000000".
    */
  def simhash16(grams: org.apache.spark.sql.catalyst.util.ArrayData): UTF8String = {
    val md = mdPool.get()
    val votes = new Array[Int](16)
    val n = grams.numElements()
    var i = 0
    while (i < n) {
      if (grams.isNullAt(i)) {
        var k = 0
        while (k < 16) { votes(k) -= 1; k += 1 }
      } else {
        md.reset()
        md.update(grams.getUTF8String(i).getBytes)
        val d = md.digest()
        var k = 0
        while (k < 16) {
          val nib = if ((k & 1) == 0) (d(k >> 1) >> 4) & 0xF else d(k >> 1) & 0xF
          votes(k) += (if (nib >= 8) 1 else -1)
          k += 1
        }
      }
      i += 1
    }
    val bytes = new Array[Byte](16)
    var k = 0
    while (k < 16) { bytes(k) = if (votes(k) > 0) '1' else '0'; k += 1 }
    UTF8String.fromBytes(bytes)
  }
}

/** `minhash_slices(g)` → ARRAY<BIGINT>[8]: both salted digests and all
  * 8 MinHash components of one shingle in a single codegen'd call.
  *
  * Replaces the `md5(concat(...))` × 2 → `conv(substring(hex, ...))` ×
  * 8 pipeline, which materializes two 32-char hex strings and parses 8
  * substrings per shingle row; this computes the digests once each and
  * reads the slices straight off the digest bytes. Values are
  * bit-identical (see [[MinhashKernel.slices8]]), so the DuckDB oracle
  * SQL keeps the hex formulation.
  */
case class MinhashSlices(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"minhash_slices needs STRING, got ${child.dataType.sql}")

  override def nullSafeEval(v: Any): Any =
    MinhashKernel.slices8(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.functions.MinhashKernel.slices8($c);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `simhash16(grams)` → 16-char '0'/'1' string: the whole SimHash in
  * one codegen'd pass — one digest per gram instead of the 16 the
  * per-bit `aggregate` formulation pays (each bit's lambda re-hashes
  * every gram). Values are bit-identical (see
  * [[MinhashKernel.simhash16]]); the DuckDB oracle keeps the per-bit
  * list_transform form.
  */
case class Simhash16(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash16 needs ARRAY<STRING>, got ${other.sql}")
    }

  override def nullSafeEval(v: Any): Any =
    MinhashKernel.simhash16(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.functions.MinhashKernel.simhash16($c);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Static kernel behind [[WinnowStats]]: full winnowing fingerprint
  * selection (Schleimer et al. SIGMOD'03) in one pass — one md5 per
  * 16-char gram, a monotonic-deque sliding minimum over 8-gram
  * windows (O(n) total pops), and a small hash set of the SELECTED
  * digests only. Digests are compared as unsigned bytes, which is
  * exactly the lexicographic order of their lowercase-hex renderings
  * — so the selection is identical to the array formulation
  * `array_min(slice(transform(md5 hex)))` the DuckDB oracle keeps,
  * without materializing n 32-char hex strings per document.
  */
object WinnowKernel {
  private val mdPool = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val K = 16 // gram length (codepoints)
  private val W = 8  // window size (grams)

  private def cmp(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < 16) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    0
  }

  private val HEX = "0123456789abcdef".toCharArray

  private def hex(d: Array[Byte]): String = {
    // manual nibble lookup: f"%02x"-style formatting parses the format
    // string per byte — measured 2.6× slower for the whole kernel
    val cs = new Array[Char](32)
    var i = 0
    while (i < 16) {
      val v = d(i) & 0xff
      cs(2 * i) = HEX(v >> 4)
      cs(2 * i + 1) = HEX(v & 15)
      i += 1
    }
    new String(cs)
  }

  /** The distinct SELECTED fingerprints (lowercase hex, sorted for a
    * deterministic array value) — the per-document index entries a
    * winnowing-based near-dup/plagiarism index stores. Same selection
    * pass as [[winnowStats]].
    */
  def winnowFps(text: UTF8String)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val selected = selectFps(text)
    val arr = new Array[UTF8String](selected.size)
    val it = selected.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = UTF8String.fromString(it.next()); i += 1 }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(arr)
  }

  private def selectFps(text: UTF8String): java.util.TreeSet[String] = {
    val bytes = text.getBytes
    val offs = new Array[Int](text.numChars() + 1)
    var nCp = 0
    var i = 0
    while (i < bytes.length) {
      if ((bytes(i) & 0xc0) != 0x80) { offs(nCp) = i; nCp += 1 }
      i += 1
    }
    offs(nCp) = bytes.length
    val ng = nCp - K + 1
    val md = mdPool.get()
    val idxQ = new Array[Int](ng)
    val digQ = new Array[Array[Byte]](ng)
    var qHead = 0; var qTail = 0
    val selected = new java.util.TreeSet[String]()
    var g = 0
    while (g < ng) {
      md.reset()
      md.update(bytes, offs(g), offs(g + K) - offs(g))
      val d = md.digest()
      while (qTail > qHead && cmp(d, digQ(qTail - 1)) <= 0) qTail -= 1
      idxQ(qTail) = g; digQ(qTail) = d; qTail += 1
      if (idxQ(qHead) <= g - W) qHead += 1
      if (g >= W - 1) selected.add(hex(digQ(qHead)))
      g += 1
    }
    if (ng < W) selected.add(hex(digQ(qHead)))
    selected
  }

  /** (n_grams, n_fp, min_fp) over `text`; text must have ≥ K
    * codepoints (mirrors the query's length filter).
    */
  def winnowStats(text: UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    // the global-minimum gram is ALWAYS selected (it wins every window
    // containing it, and every gram lies in at least one window), so
    // min_fp is the sorted selection's first element — one pass serves
    // both outputs; the fused-vs-array property spec pins this claim
    val selected = selectFps(text)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any]((text.numChars() - K + 1).toLong, selected.size.toLong,
        UTF8String.fromString(selected.first())))
  }
}

/** `winnow_stats(text)` → STRUCT<n_grams, n_fp, min_fp> — the whole
  * winnowing selection in one codegen'd pass; see [[WinnowKernel]].
  * Replaces the array formulation that materialized one 32-char hex
  * string per gram plus an O(n·w) slice/array_min lambda chain.
  */
case class WinnowStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_grams",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_fp",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("min_fp", StringType,
        nullable = false)))

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"winnow_stats needs STRING, got ${child.dataType.sql}")

  override def nullSafeEval(v: Any): Any =
    WinnowKernel.winnowStats(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.functions.WinnowKernel.winnowStats($c);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `winnow_fps(text)` → ARRAY<STRING>: the distinct selected
  * winnowing fingerprints (the index entries); see
  * [[WinnowKernel.winnowFps]].
  */
case class WinnowFps(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"winnow_fps needs STRING, got ${child.dataType.sql}")

  override def nullSafeEval(v: Any): Any =
    WinnowKernel.winnowFps(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.functions.WinnowKernel.winnowFps($c);")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Static kernel behind [[GramRunStats]]. */
object TextKernel {

  /** `[longest equal-run, duplicated occurrences]` over the n-grams of
    * `toks` (space-joined token slices), or null when the doc has
    * fewer than n tokens (the explode→count formulation emits no
    * n-rows then). Grouping equal grams needs only SOME total order,
    * so the sort order itself never affects the counts — they equal
    * the `groupBy(gram).count` stats by construction.
    */
  def gramRunStats(toks: org.apache.spark.sql.catalyst.util.ArrayData,
      n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val m = toks.numElements() - n + 1
    if (m <= 0) return null
    val sep   = UTF8String.fromString(" ")
    val grams = new Array[UTF8String](m)
    var i = 0
    while (i < m) {
      if (n == 1) grams(i) = toks.getUTF8String(i)
      else {
        val parts = new Array[UTF8String](n)
        var j = 0
        while (j < n) { parts(j) = toks.getUTF8String(i + j); j += 1 }
        grams(i) = UTF8String.concatWs(sep, parts: _*)
      }
      i += 1
    }
    java.util.Arrays.sort(grams.asInstanceOf[Array[AnyRef]])
    var best = 0L
    var uniq = 0L
    var run  = 0L
    var prev: UTF8String = null
    var k = 0
    while (k < m) {
      val x = grams(k)
      if (prev != null && x.equals(prev)) run += 1
      else { if (run == 1) uniq += 1; run = 1; prev = x }
      if (run > best) best = run
      k += 1
    }
    if (run == 1) uniq += 1
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array(best, m - uniq))
  }
}

/** `gram_run_stats(tokens, n)` → ARRAY<BIGINT>[2]: `[top n-gram count,
  * occurrences of duplicated n-grams]` in ONE fused pass (build grams,
  * sort, fold runs — [[TextKernel.gramRunStats]]), replacing an
  * explode → `groupBy(doc, gram).count` shuffle of every gram string,
  * or a per-element `aggregate` HOF that allocates a state struct per
  * gram. NULL when the document is shorter than n tokens, matching
  * the explode form (which emits no rows then).
  */
case class GramRunStats(child: Expression, n: Int) extends UnaryExpression {

  require(n >= 1, "gram_run_stats needs n >= 1")

  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"gram_run_stats needs ARRAY<STRING>, got ${other.sql}")
    }

  override def nullSafeEval(v: Any): Any =
    TextKernel.gramRunStats(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = graft.functions.TextKernel.gramRunStats($c, $n);
      |if (${ev.value} == null) { ${ev.isNull} = true; }
     """.stripMargin)

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Static kernel behind [[JaroWinkler]] — generated code calls it via
  * the class's static forwarder (the MinhashKernel pattern).
  *
  * Semantics are pinned to DuckDB's `jaro_winkler_similarity` so the
  * expression is value-oracle-able against it (fuzzed on 3000 random
  * unicode pairs, 0 diffs): the comparison runs over UTF-8 BYTES (not
  * codepoints), two empty strings score 0.0 (not the textbook 1.0),
  * match window = max(len)/2 − 1 clamped at 0, transpositions halve by
  * integer division, and the Winkler boost applies only when jaro is
  * STRICTLY above 0.7, with prefix capped at 4 bytes and weight 0.1.
  */
object JaroKernel {
  def jw(a: UTF8String, b: UTF8String): Double = {
    val b1 = a.getBytes
    val b2 = b.getBytes
    val l1 = b1.length
    val l2 = b2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val win = math.max(0, math.max(l1, l2) / 2 - 1)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - win)
      val hi = math.min(l2 - 1, i + win)
      var j = lo
      var done = false
      while (j <= hi && !done) {
        if (!m2(j) && b2(j) == b1(i)) {
          m1(i) = true; m2(j) = true; m += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (b1(i) != b2(k)) t += 1
        k += 1
      }
      i += 1
    }
    t /= 2
    val jaro = (m.toDouble / l1 + m.toDouble / l2 +
      (m - t).toDouble / m) / 3.0
    if (jaro > 0.7) {
      var l = 0
      val cap = math.min(4, math.min(l1, l2))
      while (l < cap && b1(l) == b2(l)) l += 1
      jaro + 0.1 * l * (1.0 - jaro)
    } else jaro
  }
}

/** Jaro-Winkler similarity over UTF-8 bytes, codegen'd — the
  * record-linkage scoring primitive levenshtein alone misses
  * (transposition-tolerant, prefix-weighted; Winkler 1990). See
  * [[JaroKernel]] for the DuckDB-pinned semantics.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "jaro_winkler needs (STRING, STRING)")

  override def nullSafeEval(l: Any, r: Any): Any =
    JaroKernel.jw(l.asInstanceOf[UTF8String], r.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.JaroKernel.jw($a, $b);")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** Column-API and SQL-registry surface for the custom expressions. */
object GraftFunctions {

  def filetime_to_timestamp(c: Column): Column =
    ColumnBridge.column(FiletimeToTimestamp(ColumnBridge.expression(c)))

  def hamming_distance(a: Column, b: Column): Column =
    ColumnBridge.column(
      HammingDistance(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def dot_product_q(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProductQ(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def chars_in_ranges(c: Column, ranges: Seq[(Int, Int)]): Column =
    ColumnBridge.column(
      CountCharsInRanges(ColumnBridge.expression(c), ranges))

  def minhash_slices(c: Column): Column =
    ColumnBridge.column(MinhashSlices(ColumnBridge.expression(c)))

  def simhash16(c: Column): Column =
    ColumnBridge.column(Simhash16(ColumnBridge.expression(c)))

  def gram_run_stats(c: Column, n: Int): Column =
    ColumnBridge.column(GramRunStats(ColumnBridge.expression(c), n))

  def winnow_stats(c: Column): Column =
    ColumnBridge.column(WinnowStats(ColumnBridge.expression(c)))

  def winnow_fps(c: Column): Column =
    ColumnBridge.column(WinnowFps(ColumnBridge.expression(c)))

  /** The native HLL aggregate ([[HllSketchAgg]]) as a Column — wraps
    * the aggregate in its AggregateExpression(Complete) form.
    */
  def graft_hll(c: Column): Column =
    ColumnBridge.column(
      HllSketchAgg(ColumnBridge.expression(c)).toAggregateExpression())

  def jaro_winkler(a: Column, b: Column): Column =
    ColumnBridge.column(
      JaroWinkler(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** The native 8-slot MinHash aggregate ([[MinHashAgg]]) as a Column. */
  def graft_minhash(c: Column): Column =
    ColumnBridge.column(
      MinHashAgg(ColumnBridge.expression(c)).toAggregateExpression())

  /** The native KMV sampled-median aggregate ([[KmvMedianAgg]]). */
  def graft_kmv_median(c: Column): Column =
    ColumnBridge.column(
      KmvMedianAgg(ColumnBridge.expression(c)).toAggregateExpression())

  /** The native AMS F2 (self-join-size) sketch aggregate
    * ([[F2SketchAgg]]): `graft_f2(key, weight)`.
    */
  def graft_f2(key: Column, weight: Column): Column =
    ColumnBridge.column(
      F2SketchAgg(ColumnBridge.expression(key), ColumnBridge.expression(weight))
        .toAggregateExpression())

  /** Parse a character-class-like literal (`"a-zA-Z0-9#"`) into the
    * inclusive codepoint ranges [[CountCharsInRanges]] takes — the SQL
    * surface's argument encoding (a bare char is a 1-char range).
    */
  def parseRanges(spec: String): Seq[(Int, Int)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var i = 0
    while (i < spec.length) {
      if (i + 2 < spec.length && spec.charAt(i + 1) == '-') {
        out += (spec.charAt(i).toInt -> spec.charAt(i + 2).toInt)
        i += 3
      } else {
        out += (spec.charAt(i).toInt -> spec.charAt(i).toInt)
        i += 1
      }
    }
    out.toSeq
  }

  /** A foldable string literal argument (SQL-surface builders). */
  def litString(e: Expression, fn: String): String = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: UTF8String, _) =>
      v.toString
    case _ => throw new IllegalArgumentException(
      s"$fn expects a foldable string literal argument, got $e")
  }

  /** A foldable integer literal argument (SQL-surface builders). */
  def litInt(e: Expression, fn: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case _ => throw new IllegalArgumentException(
      s"$fn expects a foldable integer literal argument, got $e")
  }

  /** Every graft SQL function: (name, expression class, builder).
    * GraftExtensions injects it into every session it is installed in,
    * which `graft.Sessions.local` does for every session. The
    * parameterized kernels take literal arguments.
    */
  val sqlFunctions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("filetime_to_timestamp", classOf[FiletimeToTimestamp],
      e => FiletimeToTimestamp(e.head)),
    ("hamming_distance", classOf[HammingDistance],
      e => HammingDistance(e.head, e(1))),
    ("dot_product_q", classOf[DotProductQ], e => DotProductQ(e.head, e(1))),
    // native AGGREGATE functions: the analyzer wraps an
    // AggregateFunction-valued builder in AggregateExpression itself
    ("graft_hll", classOf[HllSketchAgg], e => HllSketchAgg(e.head)),
    ("graft_minhash", classOf[MinHashAgg], e => MinHashAgg(e.head)),
    ("graft_kmv_median", classOf[KmvMedianAgg], e => KmvMedianAgg(e.head)),
    ("graft_f2", classOf[F2SketchAgg], e => F2SketchAgg(e.head, e(1))),
    ("winnow_stats", classOf[WinnowStats], e => WinnowStats(e.head)),
    ("winnow_fps", classOf[WinnowFps], e => WinnowFps(e.head)),
    ("minhash_slices", classOf[MinhashSlices], e => MinhashSlices(e.head)),
    ("simhash16", classOf[Simhash16], e => Simhash16(e.head)),
    ("chars_in_ranges", classOf[CountCharsInRanges],
      e => CountCharsInRanges(e.head,
        parseRanges(litString(e(1), "chars_in_ranges")))),
    ("gram_run_stats", classOf[GramRunStats],
      e => GramRunStats(e.head, litInt(e(1), "gram_run_stats"))),
    ("jaro_winkler", classOf[JaroWinkler], e => JaroWinkler(e.head, e(1))))
}
