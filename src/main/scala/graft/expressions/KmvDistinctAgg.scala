package graft.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** KMV (k-minimum-values / bottom-k theta) distinct-count sketch as a
  * `TypedImperativeAggregate`: keeps the `k` smallest DISTINCT values of
  * a uniformly-hashed input (unsigned 64-bit order) and estimates
  * `|distinct|` from the k-th smallest.
  *
  * Why this sketch (vs HLL) for an oracle-checked engine: every step is
  * integer arithmetic — hash (xxhash64, already emulated bit-exactly in
  * generated DuckDB SQL), unsigned ordering, and the estimator
  * `(k-1) * 2^64 / u_k` in 128-bit floor division — so an independent
  * SQL oracle reproduces the estimate EXACTLY, no float summation-order
  * risk. Accuracy is the same family as HLL: relative error
  * ~ 1/sqrt(k-2) (k=256 → ~6%).
  *
  * Scale shape: map-side partials reduce each partition to ≤k longs per
  * group before the shuffle (like [[TopKByAgg]]); merge is a bounded
  * set-union; state is 8k bytes/group. Sketches over 100 TB merge in a
  * tree without ever moving raw values.
  *
  * Below k distinct inputs the sketch IS the distinct set, so the count
  * is exact — the estimator only engages past k.
  *
  * One class serves the three functions. Per row it adds a uniformly
  * hashed value (`kmv_distinct`, `kmv_state`; use [[Sketches]], which
  * wraps the column in `xxhash64` seed 42 — keeping the hot-path hash a
  * codegen'd builtin and this aggregate a pure bounded-set fold) or
  * merges a stored sketch (`kmv_merge_est`). At the end it returns the
  * estimate, or for `kmv_state` the SERIALIZED sketch — the persistable
  * form. The 100 TB pattern: pre-aggregate a sketch per (day, group)
  * partition once, STORE the ≤8k-byte states, and answer any
  * coarser-grained distinct-count query later by merging states without
  * touching raw data. KMV merges losslessly: the k smallest of a union
  * of per-part k-mins IS the global k-min, so a rolled-up estimate
  * equals the single-pass estimate exactly — one oracle covers both.
  *
  * A merge starts from the `k = 0` placeholder buffer, adopts the first
  * state's k and rejects a mismatch (merging sketches of different
  * resolution silently degrades accuracy, so it's an error, not a
  * coercion). The function name fixes the mode, so the plan text leaves
  * it out, and a merge's `k` with it.
  */
case class KmvAgg(child: Expression, k: Int, fromState: Boolean,
                  toState: Boolean,
                  mutableAggBufferOffset: Int = 0,
                  inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KmvBuffer] {
  require(fromState || k >= 2, s"$prettyName needs k >= 2, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = if (toState) BinaryType else LongType
  // no function merges stored sketches into a sketch
  override def prettyName: String =
    if (fromState) "kmv_merge_est"
    else if (toState) "kmv_state"
    else "kmv_distinct"
  override protected def stringArgs: Iterator[Any] = {
    val offsets = Iterator(mutableAggBufferOffset, inputAggBufferOffset)
    if (fromState) Iterator(child) ++ offsets else Iterator(child, k) ++ offsets
  }

  override def createAggregationBuffer(): KmvBuffer = new KmvBuffer(k)

  override def update(buf: KmvBuffer, input: InternalRow): KmvBuffer = {
    val v = child.eval(input)
    if (v == null) buf
    else if (fromState)
      merge(buf, KmvBuffer.fromBytes(v.asInstanceOf[Array[Byte]]))
    else { buf.add(v.asInstanceOf[Long]); buf }
  }

  override def merge(a: KmvBuffer, b: KmvBuffer): KmvBuffer =
    if (b.k == 0) a
    else if (a.k == 0) { val n = new KmvBuffer(b.k); n.mergeWith(b); n }
    else if (a.k != b.k)
      throw new IllegalArgumentException(
        s"kmv_merge_est: mixed sketch resolutions k=${a.k} vs k=${b.k}")
    else { a.mergeWith(b); a }

  override def eval(buf: KmvBuffer): Any =
    if (toState) buf.toBytes else buf.estimate

  override def serialize(buf: KmvBuffer): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): KmvBuffer =
    KmvBuffer.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): KmvAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): KmvAgg = copy(child = c(0))
}

/** Bounded distinct set of the k unsigned-smallest longs. TreeSet with
  * the unsigned comparator: O(log k) insert/evict, k is small (≤ a few
  * thousand), and distinctness checks are what a heap can't do.
  */
final class KmvBuffer(val k: Int) {
  private val set = new java.util.TreeSet[java.lang.Long](
    (a: java.lang.Long, b: java.lang.Long) =>
      java.lang.Long.compareUnsigned(a, b))

  def size: Int = set.size

  def add(h: Long): Unit = {
    if (set.size < k) { set.add(h); () }
    else if (java.lang.Long.compareUnsigned(h, set.last()) < 0 &&
        !set.contains(h)) {
      set.remove(set.last())
      set.add(h)
      ()
    }
  }

  def mergeWith(other: KmvBuffer): Unit = {
    val it = other.set.iterator()
    while (it.hasNext) add(it.next())
  }

  /** Exact size below k; `(k-1) * 2^64 / u_k` (floor) at or past k —
    * identical to the oracle's HUGEINT `//`. Capped at Long.MaxValue
    * (BigInt.toLong would wrap silently).
    */
  def estimate: Long =
    if (set.isEmpty || set.size < k) set.size.toLong
    else {
      val uk = set.last().longValue()
      val ukU = BigInt(uk) & ((BigInt(1) << 64) - 1)
      val est = (BigInt(k - 1) << 64) / ukU
      est.min(BigInt(Long.MaxValue)).toLong
    }

  def toBytes: Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + set.size * 8)
    bb.putInt(k).putInt(set.size)
    val it = set.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }
}

object KmvBuffer {
  def fromBytes(bytes: Array[Byte]): KmvBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val k = bb.getInt
    val n = bb.getInt
    val buf = new KmvBuffer(k)
    var i = 0
    while (i < n) { buf.add(bb.getLong); i += 1 }
    buf
  }
}

object Sketches {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  private def hashed(value: Column): Expression =
    XxHash64(Seq(expression(value)), 42L)

  /** Column API: `kmv_distinct(value, k)` → BIGINT approximate distinct
    * count; exact below k distinct. Hashes with the builtin xxhash64
    * (seed 42) so the oracle's existing bit-exact XXH64 emulation
    * covers the sketch end-to-end.
    */
  def kmv_distinct(value: Column, k: Int): Column =
    column(KmvAgg(hashed(value), k, fromState = false, toState = false)
      .toAggregateExpression())

  /** `kmv_state(value, k)` → BINARY serialized sketch (persistable;
    * merge later with [[kmv_merge_est]]).
    */
  def kmv_state(value: Column, k: Int): Column =
    column(KmvAgg(hashed(value), k, fromState = false, toState = true)
      .toAggregateExpression())

  /** `kmv_merge_est(state)` → BIGINT estimate from merged stored
    * sketches. Lossless vs a single-pass sketch over the union.
    */
  def kmv_merge_est(state: Column): Column =
    column(KmvAgg(expression(state), 0, fromState = true, toState = false)
      .toAggregateExpression())
}
