package graft.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Blocked bloom filter over xxhash64-hashed keys, as a
  * `TypedImperativeAggregate` producing the serialized filter (binary),
  * plus a membership expression ([[BloomContains]]) for pruning.
  *
  * The 100 TB use (see `graft.ops.Joins.bloomPrunedSemiJoin`): a
  * selective dimension-side predicate should cut the FACT side's shuffle,
  * not just the probe side of the join. Build the filter on the filtered
  * dim keys (bounded bytes: numBits/8), ship it to every fact scan task
  * as one broadcast-sized literal, and drop non-matching fact rows AT THE
  * SCAN — before any exchange. False positives survive the filter but are
  * removed by the exact join that follows, so the composed operator is
  * exact; false negatives are impossible, so no row is lost. This is the
  * same shape as Spark's own runtime bloom-filter join optimization,
  * re-expressed as an explicit, persistable operator (the filter bytes
  * can be stored and reused across queries, which the runtime optimizer
  * can't do).
  *
  * Hashing: two independent builtin xxhash64 passes (seeds 42 and 43) and
  * Kirsch-Mitzenmacher double hashing `g_i = h1 + i*h2` — i.e. one cheap
  * codegen'd hash pair per row regardless of `numHashes`, and the whole
  * derivation stays in exact integer arithmetic.
  *
  * Layout: 64-bit words; bit `g_i mod numBits` (floor-mod) per hash
  * function. Serialized as `[numBits: Int][numHashes: Int][words...]`.
  */
final class BloomBuffer(val numBits: Int, val numHashes: Int) {
  require(numBits % 64 == 0 && numBits > 0,
    s"bloom numBits must be a positive multiple of 64, got $numBits")
  require(numHashes >= 1, s"bloom numHashes must be >= 1, got $numHashes")

  val words = new Array[Long](numBits / 64)

  def add(h1: Long, h2: Long): Unit = {
    var i = 0
    while (i < numHashes) {
      val bit = java.lang.Math.floorMod(h1 + i * h2, numBits.toLong).toInt
      words(bit >>> 6) |= (1L << (bit & 63))
      i += 1
    }
  }

  def mergeWith(other: BloomBuffer): Unit = {
    require(other.numBits == numBits && other.numHashes == numHashes,
      s"bloom merge of mismatched filters: ($numBits,$numHashes) vs " +
        s"(${other.numBits},${other.numHashes})")
    var w = 0
    while (w < words.length) { words(w) |= other.words(w); w += 1 }
  }

  def toBytes: Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + words.length * 8)
    bb.putInt(numBits).putInt(numHashes)
    var w = 0
    while (w < words.length) { bb.putLong(words(w)); w += 1 }
    bb.array()
  }
}

object BloomBuffer {
  def fromBytes(bytes: Array[Byte]): BloomBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new BloomBuffer(bb.getInt, bb.getInt)
    var w = 0
    while (w < buf.words.length) { buf.words(w) = bb.getLong; w += 1 }
    buf
  }

  /** Membership test against serialized bytes without materializing a
    * buffer — the per-row hot path of [[BloomContains]]. Static so
    * whole-stage codegen calls it directly.
    */
  def contains(bytes: Array[Byte], h1: Long, h2: Long): Boolean = {
    val bb = ByteBuffer.wrap(bytes)
    val numBits = bb.getInt
    val numHashes = bb.getInt
    var i = 0
    while (i < numHashes) {
      val bit = java.lang.Math.floorMod(h1 + i * h2, numBits.toLong).toInt
      if ((bb.getLong(8 + (bit >>> 6) * 8) & (1L << (bit & 63))) == 0L)
        return false
      i += 1
    }
    true
  }
}

/** The Bloom aggregate, one class for both functions; it always returns
  * the serialized filter. Over `Seq(h1, h2)` it adds each key's hash pair
  * to a `numBits`/`numHashes` filter (`bloom_agg`): map-side partials are
  * each a full-width filter and merge is a bitwise OR, so the aggregate
  * shuffles `numBits/8` bytes per partition, never raw keys. Build it
  * over the SMALL (already filtered) side only. Over `Seq(state)` it ORs
  * stored filters (`bloom_merge`) — the sketch-store rollup (e.g. per-day
  * ingest-key filters merged into a month filter without re-touching raw
  * keys). OR-merge is exact for membership: the union filter reports a
  * key iff some input filter would (same bit positions — shapes must
  * match). A merge starts from the empty 64-bit, 1-hash placeholder,
  * adopts the first state's shape and rejects a mismatch; its plan text
  * leaves the placeholder shape out.
  */
case class BloomAgg(inputs: Seq[Expression], numBits: Int, numHashes: Int,
                    mutableAggBufferOffset: Int = 0,
                    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[BloomBuffer] {
  private def fromState: Boolean = inputs.length == 1

  override def children: Seq[Expression] = inputs
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String =
    if (fromState) "bloom_merge" else "bloom_agg"
  override protected def stringArgs: Iterator[Any] =
    if (!fromState) super.stringArgs
    else Iterator(inputs, mutableAggBufferOffset, inputAggBufferOffset)

  override def createAggregationBuffer(): BloomBuffer =
    new BloomBuffer(numBits, numHashes)

  override def update(buf: BloomBuffer, input: InternalRow): BloomBuffer =
    if (fromState) {
      val raw = inputs(0).eval(input)
      if (raw == null) buf
      else merge(buf, BloomBuffer.fromBytes(raw.asInstanceOf[Array[Byte]]))
    } else {
      val a = inputs(0).eval(input)
      val b = inputs(1).eval(input)
      if (a != null && b != null)
        buf.add(a.asInstanceOf[Long], b.asInstanceOf[Long])
      buf
    }

  private def isPlaceholder(b: BloomBuffer): Boolean =
    b.numBits == 64 && b.numHashes == 1 && b.words(0) == 0L
  override def merge(a: BloomBuffer, b: BloomBuffer): BloomBuffer =
    if (isPlaceholder(b)) a
    else if (isPlaceholder(a)) {
      val n = new BloomBuffer(b.numBits, b.numHashes); n.mergeWith(b); n
    } else { a.mergeWith(b); a } // mergeWith rejects mismatched shapes

  override def eval(buf: BloomBuffer): Any = buf.toBytes
  override def serialize(buf: BloomBuffer): Array[Byte] = buf.toBytes
  override def deserialize(bytes: Array[Byte]): BloomBuffer =
    BloomBuffer.fromBytes(bytes)

  override def withNewMutableAggBufferOffset(o: Int): BloomAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): BloomAgg = copy(inputs = c)
}

/** `bloom_contains(filter, [h1, h2])` → BOOLEAN. The filter side is a
  * literal in the intended use (collected once on the driver), the hash
  * side a 2-element array built by [[Blooms.bloom_contains]] from two
  * seeded xxhash64 passes. Per-row cost is ≤ numHashes word probes;
  * codegen is a single static call, so the probe stays inside
  * whole-stage codegen next to the parquet scan it prunes for.
  */
case class BloomContains(filter: Expression, hashes: Expression)
    extends BinaryExpression {
  override def left: Expression = filter
  override def right: Expression = hashes
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_contains"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (filter.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"bloom_contains expects a BINARY filter, got ${filter.dataType}")
    else hashes.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bloom_contains expects array<bigint> [h1, h2] hashes, got $other")
    }
  }

  override protected def nullSafeEval(f: Any, hs: Any): Any = {
    val arr = hs.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    BloomBuffer.contains(f.asInstanceOf[Array[Byte]],
      arr.getLong(0), arr.getLong(1))
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (f, hs) =>
      s"graft.expressions.BloomBuffer.contains($f, $hs.getLong(0), $hs.getLong(1))")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): BloomContains = copy(filter = l, hashes = r)
}

object Blooms {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
  import org.apache.spark.sql.catalyst.expressions.CreateArray

  private def hashPair(value: Column): (Expression, Expression) =
    (XxHash64(Seq(expression(value)), 42L),
      XxHash64(Seq(expression(value)), 43L))

  /** `bloom_agg(value, numBits, numHashes)` → BINARY filter over the
    * column's values. Size for the expected distinct count `n` and a
    * target false-positive rate `p` with the textbook
    * `numBits ≈ -n ln p / (ln 2)^2`, `numHashes ≈ (numBits/n) ln 2`.
    */
  def bloom_agg(value: Column, numBits: Int, numHashes: Int): Column = {
    val (h1, h2) = hashPair(value)
    column(BloomAgg(Seq(h1, h2), numBits, numHashes)
      .toAggregateExpression())
  }

  /** `bloom_contains(filter, value)` → BOOLEAN; no false negatives. */
  def bloom_contains(filter: Column, value: Column): Column = {
    val (h1, h2) = hashPair(value)
    column(BloomContains(expression(filter), CreateArray(Seq(h1, h2))))
  }

  /** `bloom_merge(state)` → BINARY rolled-up filter (exact union). */
  def bloom_merge(state: Column): Column =
    column(BloomAgg(Seq(expression(state)), 64, 1).toAggregateExpression())
}
