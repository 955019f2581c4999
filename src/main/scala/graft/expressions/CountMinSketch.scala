package graft.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, CreateArray, Expression, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Count-min sketch: fixed `d × w` counter grid estimating per-item
  * frequencies over a stream/corpus far too large to hold exact counts
  * for. Row `r` buckets an item by an independent hash; a point estimate
  * is the MIN of the item's `d` counters — always ≥ the true count
  * (collisions only add), within `ε·N` with the textbook
  * `w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉`.
  *
  * Like [[KmvAgg]], every step is integer arithmetic on builtin
  * xxhash64 values: row hashes are `xxhash64(xxhash64(item, 42), seed_r)`
  * (string hashed once, then cheap long re-hashes per row — the oracle
  * emulates both bit-exactly), and `w` is a power of two so the unsigned
  * bucket `h mod w` is the low bits on BOTH the signed (JVM) and
  * unsigned (HUGEINT) representation. The estimate is therefore
  * reproducible EXACTLY by an independent SQL oracle — no float, no
  * summation order.
  *
  * Scale shape: map-side partials each reduce a partition to one
  * `d·w·8`-byte grid; merge is elementwise add. The sketch never moves
  * raw items, and the serialized state is persistable/mergeable across
  * days the same way as the KMV sketch-store rollup.
  */
final class CmsBuffer(val d: Int, val w: Int) {
  require(d >= 1, s"cms depth must be >= 1, got $d")
  require(w >= 2 && (w & (w - 1)) == 0,
    s"cms width must be a power of two, got $w")

  val counts = new Array[Long](d * w)

  def add(rowHashes: Array[Long]): Unit = {
    var r = 0
    while (r < d) {
      counts(r * w + (rowHashes(r) & (w - 1)).toInt) += 1L
      r += 1
    }
  }

  def mergeWith(other: CmsBuffer): Unit = {
    require(other.d == d && other.w == w,
      s"cms merge of mismatched grids: ($d,$w) vs (${other.d},${other.w})")
    var i = 0
    while (i < counts.length) { counts(i) += other.counts(i); i += 1 }
  }

  def toBytes: Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + counts.length * 8)
    bb.putInt(d).putInt(w)
    var i = 0
    while (i < counts.length) { bb.putLong(counts(i)); i += 1 }
    bb.array()
  }
}

object CmsBuffer {
  def fromBytes(bytes: Array[Byte]): CmsBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new CmsBuffer(bb.getInt, bb.getInt)
    var i = 0
    while (i < buf.counts.length) { buf.counts(i) = bb.getLong; i += 1 }
    buf
  }

  /** Point estimate straight off serialized state — static so codegen
    * calls it directly ([[CmsEstimate]]'s per-row hot path).
    */
  def estimate(bytes: Array[Byte], rowHashes: ArrayData): Long = {
    val bb = ByteBuffer.wrap(bytes)
    val d = bb.getInt
    val w = bb.getInt
    var min = Long.MaxValue
    var r = 0
    while (r < d) {
      val idx = r * w + (rowHashes.getLong(r) & (w - 1)).toInt
      val c = bb.getLong(8 + idx * 8)
      if (c < min) min = c
      r += 1
    }
    min
  }
}

/** `cms_state(h_1..h_d, w)` → BINARY serialized `d × w` grid. */
case class CmsAgg(rowHashes: Seq[Expression], w: Int,
                  mutableAggBufferOffset: Int = 0,
                  inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CmsBuffer] {

  override def children: Seq[Expression] = rowHashes
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "cms_state"

  override def createAggregationBuffer(): CmsBuffer =
    new CmsBuffer(rowHashes.length, w)

  // per-task-deserialized instance => single-threaded use; transient so
  // the closure stays serializable
  @transient private lazy val scratch = new Array[Long](rowHashes.length)

  override def update(buf: CmsBuffer, input: InternalRow): CmsBuffer = {
    val hs = scratch
    var r = 0
    while (r < rowHashes.length) {
      val h = rowHashes(r).eval(input)
      if (h == null) return buf // null item contributes nothing
      hs(r) = h.asInstanceOf[Long]
      r += 1
    }
    buf.add(hs)
    buf
  }

  override def merge(a: CmsBuffer, b: CmsBuffer): CmsBuffer = {
    a.mergeWith(b); a
  }

  override def eval(buf: CmsBuffer): Any = buf.toBytes
  override def serialize(buf: CmsBuffer): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): CmsBuffer =
    CmsBuffer.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): CmsAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CmsAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): CmsAgg = copy(rowHashes = c)
}

/** `cms_estimate(state, [h_1..h_d])` → BIGINT min-of-rows estimate. */
case class CmsEstimate(state: Expression, hashes: Expression)
    extends BinaryExpression {
  override def left: Expression = state
  override def right: Expression = hashes
  override def dataType: DataType = LongType
  override def prettyName: String = "cms_estimate"

  override def checkInputDataTypes(): TypeCheckResult = {
    if (state.dataType != BinaryType)
      TypeCheckResult.TypeCheckFailure(
        s"cms_estimate expects a BINARY state, got ${state.dataType}")
    else hashes.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"cms_estimate expects array<bigint> row hashes, got $other")
    }
  }

  override protected def nullSafeEval(s: Any, hs: Any): Any =
    CmsBuffer.estimate(s.asInstanceOf[Array[Byte]],
      hs.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, hs) =>
      s"graft.expressions.CmsBuffer.estimate($s, $hs)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CmsEstimate =
    copy(state = l, hashes = r)
}

object Cms {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  /** Row hashes `xxhash64(xxhash64(item, 42), 1000 + r)`: the item
    * string is hashed once by the builtin (codegen'd, oracle-emulated),
    * then re-hashed per row as a cheap long — the d-row derivation costs
    * d long-hashes, not d string scans.
    */
  private[graft] def rowHashExprsOf(item: Expression,
                                    d: Int): Seq[Expression] = {
    val base = XxHash64(Seq(item), 42L)
    (1 to d).map(r => XxHash64(Seq(base), 1000L + r): Expression)
  }

  private def rowHashExprs(item: Column, d: Int): Seq[Expression] =
    rowHashExprsOf(expression(item), d)

  /** `cms_state(item, d, w)` → BINARY serialized sketch (w must be a
    * power of two).
    */
  def cms_state(item: Column, d: Int, w: Int): Column =
    column(CmsAgg(rowHashExprs(item, d), w).toAggregateExpression())

  /** `cms_estimate(state, item, d)` → BIGINT frequency estimate
    * (≥ true count). `d` must match the state's depth.
    */
  def cms_estimate(state: Column, item: Column, d: Int): Column =
    column(CmsEstimate(expression(state),
      CreateArray(rowHashExprs(item, d))))
}
