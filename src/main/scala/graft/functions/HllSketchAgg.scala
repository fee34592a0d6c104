package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared register arithmetic for [[HllSketchAgg]] — identical, by
  * construction, to the SQL formulation `q_hll_distinct` retains as its
  * DuckDB oracle (ops/Sketches.scala): p = 6 → m = 64 registers; the
  * 32-bit hash is the first 8 hex chars of md5 ([[graft.Hash]]);
  * bucket = top-6 bits, rank = leading-zero position of the remaining
  * 26 bits (27 for an all-zero remainder). The estimator keeps the same
  * deterministic numeric domain as the SQL: the indicator sum is an
  * exactly-representable power-of-two combination (order-independent
  * in IEEE double), and the linear-counting branch quantizes ln to the
  * repo's 1e-6 convention before integer division.
  */
object HllKernel {
  val M = 64

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 8 hex chars of md5(s) as a long — bit-identical to
    * `conv(substring(md5(c), 1, 8), 16, 10)` (the first 4 digest bytes
    * read big-endian, unsigned).
    */
  def h32(s: UTF8String): Long = {
    val d = md5.get()
    d.reset()
    val digest = d.digest(s.getBytes)
    ((digest(0) & 0xffL) << 24) | ((digest(1) & 0xffL) << 16) |
      ((digest(2) & 0xffL) << 8) | (digest(3) & 0xffL)
  }

  /** Fold one value into the register array (max is idempotent, so
    * duplicate values are free).
    */
  def update(regs: Array[Long], s: UTF8String): Unit = {
    val h = h32(s)
    val bucket = (h >>> 26).toInt // h < 2^32 → bucket ∈ [0, 63]
    val rem = h & ((1L << 26) - 1)
    // position('1' in lpad(bin(rem), 26, '0')) = 27 - bitlength(rem)
    val r = if (rem == 0L) 27L else 27L - (64 - java.lang.Long.numberOfLeadingZeros(rem))
    if (r > regs(bucket)) regs(bucket) = r
  }

  /** Register-wise max — the HLL sketch union. */
  def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var j = 0
    while (j < M) { if (b(j) > a(j)) a(j) = b(j); j += 1 }
    a
  }

  /** α₆₄·m²/Σ2^−M_j with the small-range linear-counting branch —
    * the same arithmetic (same IEEE ops on the same operands) as the
    * `est`/`final_est` stages of the q_hll_distinct SQL.
    */
  def estimate(regs: Array[Long]): Long = {
    var ssum = 0.0
    var v0 = 0L
    var j = 0
    while (j < M) {
      ssum += 1.0 / (1L << regs(j)).toDouble
      if (regs(j) == 0L) v0 += 1
      j += 1
    }
    val raw = 0.709 * 4096.0 / ssum
    if (raw <= 160.0 && v0 > 0)
      math.floor(64.0 * math.log(64.0 / v0) * 1000000.0 + 0.5).toLong / 1000000L
    else math.floor(raw + 0.5).toLong
  }
}

/** `graft_hll(expr)` — HyperLogLog distinct-count as a NATIVE Catalyst
  * aggregate function: a [[TypedImperativeAggregate]] whose buffer is
  * the 64-register array, so Spark runs it with map-side partial
  * aggregation (partial_graft_hll under ObjectHashAggregate) and the
  * shuffle carries one 64-byte serialized sketch per (partition,
  * group) — the mergeable-summary contract as a first-class SQL
  * aggregate rather than a hand-assembled register DAG.
  *
  * This is the aggregate-function analog of the scalar surface the
  * reference registers through its host's extension API
  * (the reference's src/pst_extension.cpp:15-24 registers table
  * functions; DuckDB's own approx_count_distinct provides the HLL
  * aggregate there) — here registered via SparkSessionExtensions
  * .injectFunction.
  *
  * Value-identical to the q_hll_distinct register DAG by construction
  * (HllAggSpec asserts it, plus partition-count invariance of the
  * merge path). Returns the integer estimate; NULL inputs are skipped;
  * an empty group estimates 0 (v0 = 64 → linear counting of ln 1 = 0).
  *
  * 100 TB shape: O(m) memory per group, algebraic merge, 64-byte
  * shuffle rows — the canonical distributed-sketch layout.
  */
case class HllSketchAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]]
    with UnaryLike[Expression] {

  override def prettyName: String = "graft_hll"
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_hll expects STRING, got ${child.dataType.catalogString}")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](HllKernel.M)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) HllKernel.update(buf, v.asInstanceOf[UTF8String])
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] =
    HllKernel.merge(buf, other)

  override def eval(buf: Array[Long]): Any = HllKernel.estimate(buf)

  /** Registers are ≤ 27, so the sketch serializes to exactly 64 bytes. */
  override def serialize(buf: Array[Long]): Array[Byte] = {
    val out = new Array[Byte](HllKernel.M)
    var j = 0
    while (j < HllKernel.M) { out(j) = buf(j).toByte; j += 1 }
    out
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](HllKernel.M)
    var j = 0
    while (j < HllKernel.M) { out(j) = bytes(j).toLong; j += 1 }
    out
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(c: Expression): HllSketchAgg =
    copy(child = c)
}
