package graft.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Mergeable quantile sketch via deterministic bottom-k row sampling:
  * keep the `k` (rowHash, value) pairs with the unsigned-smallest
  * xxhash64 row hashes; a quantile estimate is the exact quantile of the
  * retained values. Because membership depends only on each row's hash
  * — not on arrival order or partitioning — the sample is
  * deterministic, and the k-smallest of a union of per-part k-mins IS
  * the global k-min, so merges are lossless (same property as
  * [[KmvBuffer]]). An independent SQL oracle reproduces the estimate
  * EXACTLY: rank rows by the emulated hash, keep k, take the positional
  * quantile — no t-digest/GK merge-order nondeterminism, no float
  * accumulation.
  *
  * Accuracy: a uniform k-sample gives rank error ~ N/sqrt(k) (k=256 →
  * ~6% rank error) — same family as a fixed-ε GK summary. Below k rows
  * the sample is the whole group, so the quantile is exact.
  *
  * Scale shape: map-side partials bound every partition's contribution
  * to `k` 16-byte pairs per group; state is ≤16k bytes; sketches
  * persist/merge across days like the KMV sketch-store rollup.
  */
final class KqBuffer(val k: Int) {
  require(k >= 1, s"kq sketch needs k >= 1, got $k")

  // unsigned-ordered hash → value; bounded at k entries (boxed Double —
  // a scala.Double value type would silently unbox absent gets to 0.0)
  val map = new java.util.TreeMap[java.lang.Long, java.lang.Double](
    (a: java.lang.Long, b: java.lang.Long) =>
      java.lang.Long.compareUnsigned(a, b))

  def add(h: Long, v: Double): Unit = {
    val existing = map.get(h)
    if (existing != null) {
      // 64-bit collision (~never): keep the smaller value, deterministically
      if (v < existing.doubleValue) { map.put(h, v); () }
    } else if (map.size < k) { map.put(h, v); () }
    else if (java.lang.Long.compareUnsigned(h, map.lastKey()) < 0) {
      map.remove(map.lastKey())
      map.put(h, v)
      ()
    }
  }

  def mergeWith(other: KqBuffer): Unit = {
    val it = other.map.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); add(e.getKey, e.getValue) }
  }

  /** Value at 1-based rank `ceil(q * m)` (clamped to [1, m]) of the
    * sample's sorted values. IEEE double `q * m` and ceil are
    * bit-deterministic, so the oracle's `CAST(ceil(q * m) AS BIGINT)`
    * lands on the same rank.
    */
  def quantile(q: Double): Double = {
    val m = map.size
    require(m > 0, "quantile of an empty sketch")
    val vs = new Array[Double](m)
    val it = map.values().iterator()
    var i = 0
    while (it.hasNext) { vs(i) = it.next(); i += 1 }
    java.util.Arrays.sort(vs)
    val rank = math.min(m.toLong, math.max(1L, math.ceil(q * m).toLong))
    vs(rank.toInt - 1)
  }

  def toBytes: Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + map.size * 16)
    bb.putInt(k).putInt(map.size)
    val it = map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      bb.putLong(e.getKey).putDouble(e.getValue)
    }
    bb.array()
  }
}

object KqBuffer {
  def fromBytes(bytes: Array[Byte]): KqBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new KqBuffer(bb.getInt)
    val m = bb.getInt
    var i = 0
    while (i < m) { buf.add(bb.getLong, bb.getDouble); i += 1 }
    buf
  }

  /** Static entry for [[KqQuantile]]'s generated code. */
  def quantileOf(bytes: Array[Byte], q: Double): Double =
    fromBytes(bytes).quantile(q)
}

/** The bottom-k sample aggregate, one class for both functions; it
  * always returns the serialized sample. Over `Seq(rowHash, value)` it
  * folds each row into a k-sample (`kq_state`). Over `Seq(state)` it
  * merges stored samples (`kq_merge`, lossless — equals the single-pass
  * sketch over the union): the buffer starts as the empty `k = 1`
  * placeholder, adopts the first real state's k and rejects a mismatch.
  * The plan text of a merge leaves that placeholder out.
  */
case class KqAgg(inputs: Seq[Expression], k: Int,
                 mutableAggBufferOffset: Int = 0,
                 inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KqBuffer] {
  require(k >= 1, s"kq_state needs k >= 1, got $k")
  private def fromState: Boolean = inputs.length == 1

  override def children: Seq[Expression] = inputs
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = if (fromState) "kq_merge" else "kq_state"
  override protected def stringArgs: Iterator[Any] =
    if (!fromState) super.stringArgs
    else Iterator(inputs, mutableAggBufferOffset, inputAggBufferOffset)

  override def createAggregationBuffer(): KqBuffer = new KqBuffer(k)

  override def update(buf: KqBuffer, input: InternalRow): KqBuffer =
    if (fromState) {
      val raw = inputs(0).eval(input)
      if (raw == null) buf
      else merge(buf, KqBuffer.fromBytes(raw.asInstanceOf[Array[Byte]]))
    } else {
      val h = inputs(0).eval(input)
      val v = inputs(1).eval(input)
      if (h != null && v != null)
        buf.add(h.asInstanceOf[Long], v.asInstanceOf[Double])
      buf
    }

  override def merge(a: KqBuffer, b: KqBuffer): KqBuffer =
    if (b.map.isEmpty && b.k == 1) a
    else if (a.map.isEmpty && a.k == 1) { // adopt the first real state's k
      val n = new KqBuffer(b.k); n.mergeWith(b); n
    } else if (a.k != b.k)
      throw new IllegalArgumentException(
        s"kq_merge: mixed sample sizes k=${a.k} vs k=${b.k}")
    else { a.mergeWith(b); a }

  override def eval(buf: KqBuffer): Any = buf.toBytes
  override def serialize(buf: KqBuffer): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): KqBuffer =
    KqBuffer.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): KqAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KqAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): KqAgg = copy(inputs = c)
}

/** `kq_quantile(state, q)` → DOUBLE positional quantile of the sample. */
case class KqQuantile(state: Expression, q: Double)
    extends UnaryExpression {
  require(q >= 0.0 && q <= 1.0, s"quantile must be in [0,1], got $q")

  override def child: Expression = state
  override def dataType: DataType = DoubleType
  override def prettyName: String = "kq_quantile"

  override protected def nullSafeEval(s: Any): Any =
    KqBuffer.quantileOf(s.asInstanceOf[Array[Byte]], q)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s =>
      s"graft.expressions.KqBuffer.quantileOf($s, $q)")

  override protected def withNewChildInternal(c: Expression): KqQuantile =
    copy(state = c)
}

object Kq {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  /** `kq_state(value, k, rowKeys...)` → BINARY sample state. Row keys
    * should uniquely identify a row (e.g. the primary key columns);
    * they are hashed with the builtin xxhash64 (seed 42, chained over
    * the keys), which the oracle's hashLong chain emulates bit-exactly.
    * Rows sharing a key collapse to that key's MINIMUM value (the
    * deterministic duplicate rule — the sample is per distinct key).
    */
  def kq_state(value: Column, k: Int, rowKeys: Column*): Column =
    column(KqAgg(Seq(XxHash64(rowKeys.map(expression), 42L),
      expression(value.cast("double"))), k).toAggregateExpression())

  /** `kq_quantile(state, q)` → DOUBLE. */
  def kq_quantile(state: Column, q: Double): Column =
    column(KqQuantile(expression(state), q))

  /** `kq_merge(state)` → BINARY rolled-up sample (lossless). */
  def kq_merge(state: Column): Column =
    column(KqAgg(Seq(expression(state)), 1).toAggregateExpression())
}
