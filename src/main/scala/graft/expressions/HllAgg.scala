package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** HyperLogLog distinct-count sketch (Flajolet et al., "HyperLogLog:
  * the analysis of a near-optimal cardinality estimation algorithm",
  * AofA 2007) as a `TypedImperativeAggregate`, engineered so the whole
  * estimator is INTEGER arithmetic and therefore reproducible by an
  * independent SQL oracle:
  *
  *  - bucket = top `p` bits of xxhash64(value, 42); rank = leading-zero
  *    count of the remaining 58-bit suffix + 1 (suffix 0 → 59) — all
  *    integer bit ops, mirrored in generated DuckDB SQL.
  *  - the harmonic sum `Σ 2^-M_j` is kept as the EXACT dyadic integer
  *    `S = Σ 2^(59-M_j)` (≤ 64·2^59, inside int128), so the raw
  *    estimate `α·m²/Σ2^-M_j` becomes one 128-bit floor division with
  *    α pre-scaled to millionths — no float summation anywhere.
  *  - the small-range (linear-counting) correction `m·ln(m/V)` needs a
  *    logarithm only at 64 possible inputs, so it is a shared 64-entry
  *    scaled-integer table ([[Hll.LnTable]]) compiled into BOTH the
  *    aggregate and the oracle SQL.
  *
  * Why keep KMV ([[KmvAgg]]) too: KMV's state is 8·k bytes for
  * ~1/√(k−2) error; HLL reaches the same accuracy family in 64 BYTES
  * (m=64 → ~13% rel. error, exact under ~160 distinct via linear
  * counting) and its registers merge by elementwise max — the cheapest
  * possible mergeable distinct sketch for per-(day, key) rollup stores
  * at 100 TB. State is bounded, map-side partials reduce each partition
  * to 64 bytes per group before the shuffle, merges are lossless, so a
  * rolled-up estimate equals the single-pass estimate exactly.
  */
object Hll {
  /** Bucket-count exponent: m = 2^P = 64 registers. Chosen so the
    * oracle's per-bucket CASE expansion stays compact while the sketch
    * still demonstrates the full HLL estimator pipeline.
    */
  val P: Int = 6
  val M: Int = 1 << P
  /** Suffix width; rank ∈ [1, SuffixBits+1]. */
  val SuffixBits: Int = 64 - P
  /** α_64 = 0.7213/(1 + 1.079/64) in millionths, floored. The literal
    * is fixed by StrictMath (fdlibm), so every platform — and the
    * generated oracle SQL — sees the same constant.
    */
  val AlphaMillionths: Long =
    math.floor(0.7213 / (1.0 + 1.079 / M) * 1000000.0).toLong
  /** floor(ln(m/V)·10^6) for V = 1..m — the linear-counting log table
    * shared verbatim with the oracle. StrictMath.log is the
    * platform-independent fdlibm log.
    */
  val LnTable: IndexedSeq[Long] = (1 to M).map { v =>
    math.floor(StrictMath.log(M.toDouble / v) * 1000000.0).toLong
  }
  /** Numerator of the raw estimate: α_scaled · m² · 2^SuffixBits+1
    * (the harmonic sum is scaled by 2^(SuffixBits+1) because rank can
    * reach SuffixBits+1 → smallest term 2^0).
    */
  val RawNumerator: BigInt =
    BigInt(AlphaMillionths) * M * M * (BigInt(1) << (SuffixBits + 1))
  /** Linear-counting engages below 2.5·m (the published threshold). */
  val LinearThreshold: Long = 5L * M / 2

  def bucket(h: Long): Int = (h >>> SuffixBits).toInt

  def rank(h: Long): Int = {
    val suffix = h & ((1L << SuffixBits) - 1)
    if (suffix == 0L) SuffixBits + 1
    else java.lang.Long.numberOfLeadingZeros(suffix) - P + 1
  }

  /** The shared estimator over a register array: exact-integer raw
    * estimate, linear-counting fallback from the shared table.
    */
  def estimate(regs: Array[Byte]): Long = {
    var s = BigInt(0)
    var zeros = 0
    var j = 0
    while (j < M) {
      val m = regs(j).toInt
      s += BigInt(1) << (SuffixBits + 1 - m)
      if (m == 0) zeros += 1
      j += 1
    }
    val raw = RawNumerator / (s * 1000000L)
    val est =
      if (zeros > 0 && raw <= LinearThreshold)
        BigInt(M) * LnTable(zeros - 1) / 1000000L
      else raw
    est.min(BigInt(Long.MaxValue)).toLong
  }
}

final class HllBuffer {
  val regs: Array[Byte] = new Array[Byte](Hll.M)
  def add(h: Long): Unit = {
    val j = Hll.bucket(h)
    val r = Hll.rank(h)
    if (r > regs(j)) regs(j) = r.toByte
  }
  def mergeWith(other: HllBuffer): Unit = {
    var j = 0
    while (j < Hll.M) {
      if (other.regs(j) > regs(j)) regs(j) = other.regs(j)
      j += 1
    }
  }
  def estimate: Long = Hll.estimate(regs)
  def toBytes: Array[Byte] = regs.clone()
}

object HllBuffer {
  def fromBytes(bytes: Array[Byte]): HllBuffer = {
    require(bytes.length == Hll.M,
      s"hll state must be ${Hll.M} bytes, got ${bytes.length}")
    val b = new HllBuffer
    System.arraycopy(bytes, 0, b.regs, 0, Hll.M)
    b
  }
}

/** The HLL aggregate, one class for the four functions. Per row it
  * adds an xxhash64-hashed value (`hll_distinct`, `hll_state`; use
  * [[HllSketches]]) or elementwise-max-merges a stored 64-byte register
  * array (`hll_merge_est`, `hll_merge_state`). At the end it returns the
  * BIGINT estimate or the BINARY registers, the persistable form for
  * sketch stores. HLL merges losslessly (max of per-part maxes IS the
  * global max), so a rolled-up estimate equals the single-pass estimate
  * exactly — one oracle covers both. Merging states into a state is the
  * round step of ITERATED sketch dataflows (HyperANF: merge neighbor
  * states, keep the STATE for the next hop; only the final hop
  * estimates). The function name fixes the mode, so the plan text
  * leaves it out.
  */
case class HllAgg(child: Expression, fromState: Boolean, toState: Boolean,
                  mutableAggBufferOffset: Int = 0,
                  inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[HllBuffer] {
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = if (toState) BinaryType else LongType
  override def prettyName: String = (fromState, toState) match {
    case (false, false) => "hll_distinct"
    case (false, true) => "hll_state"
    case (true, false) => "hll_merge_est"
    case (true, true) => "hll_merge_state"
  }
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, mutableAggBufferOffset, inputAggBufferOffset)
  override def createAggregationBuffer(): HllBuffer = new HllBuffer
  override def update(buf: HllBuffer, input: InternalRow): HllBuffer = {
    val v = child.eval(input)
    if (v == null) buf
    else if (fromState)
      merge(buf, HllBuffer.fromBytes(v.asInstanceOf[Array[Byte]]))
    else { buf.add(v.asInstanceOf[Long]); buf }
  }
  override def merge(a: HllBuffer, b: HllBuffer): HllBuffer = {
    a.mergeWith(b); a
  }
  override def eval(buf: HllBuffer): Any =
    if (toState) buf.toBytes else buf.estimate
  override def serialize(buf: HllBuffer): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): HllBuffer =
    HllBuffer.fromBytes(bytes)
  override def withNewMutableAggBufferOffset(o: Int): HllAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): HllAgg = copy(child = c(0))
}

/** Scalar `hll_estimate(state)` → BIGINT: the shared estimator applied
  * to ONE stored register array — for reading a per-key sketch column
  * without another aggregation.
  */
case class HllEstimate(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "hll_estimate"
  override def nullSafeEval(input: Any): Any =
    HllBuffer.fromBytes(input.asInstanceOf[Array[Byte]]).estimate
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.HllBuffer.fromBytes($c).estimate()")
  override protected def withNewChildInternal(c: Expression): HllEstimate =
    copy(child = c)
}

object HllSketches {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  private def hashed(value: Column): Expression =
    XxHash64(Seq(expression(value)), 42L)

  private def agg(child: Expression, fromState: Boolean,
                  toState: Boolean): Column =
    column(HllAgg(child, fromState, toState).toAggregateExpression())

  /** `hll_distinct(value)` → BIGINT approximate distinct count (m=64
    * registers, xxhash64 seed 42 — covered end-to-end by the oracle's
    * bit-exact XXH64 emulation).
    */
  def hll_distinct(value: Column): Column =
    agg(hashed(value), fromState = false, toState = false)

  /** `hll_state(value)` → BINARY 64-byte persistable register array. */
  def hll_state(value: Column): Column =
    agg(hashed(value), fromState = false, toState = true)

  /** `hll_merge_est(state)` → BIGINT estimate from merged registers. */
  def hll_merge_est(state: Column): Column =
    agg(expression(state), fromState = true, toState = false)

  /** `hll_merge_state(state)` → BINARY merged register array. */
  def hll_merge_state(state: Column): Column =
    agg(expression(state), fromState = true, toState = true)

  /** Scalar `hll_estimate(state)` → BIGINT. */
  def hll_estimate(state: Column): Column =
    column(HllEstimate(expression(state)))
}
