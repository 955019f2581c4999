package graft.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** EXACT distinct counting over integer key domains via a compressed
  * bitmap (roaring-style two-level layout): keys are split into a
  * 48-bit page index and a 16-bit in-page offset; each page holds
  * either a sorted array of offsets (sparse, ≤ 4096 entries ⇒
  * ≤ 8 KB) or a 65536-bit bitmap (dense, fixed 8 KB). Pages promote
  * from array to bitmap at the roaring crossover (4096 = the point
  * where 2-byte entries outgrow the 8 KB bitmap).
  *
  * Why this exists next to KMV/HLL: those trade exactness for bounded
  * state on ARBITRARY values. For dense surrogate-key domains (user
  * ids, order keys — exactly what [[graft.ops.Stamping]] mints), a
  * bitmap is both EXACT and small (1 bit/key in dense pages), and its
  * merge is a lossless page-wise OR. That makes pre-aggregated
  * distinct counts composable: sketch per (day, group) once, roll up
  * to any coarser grain later with zero error — the pattern ClickHouse
  * (`groupBitmap`) and Druid ship for exact-distinct at scale.
  *
  * Scale shape: map-side partials reduce each partition to one bitmap
  * per group before the shuffle; merge is O(pages) word-wise OR;
  * state is proportional to the number of OCCUPIED pages, not to the
  * row count. Not for hashed/sparse 64-bit values — a uniformly
  * hashed key occupies one page per value and the array containers
  * degrade to 10 bytes/key; use [[KmvAgg]]/[[HllAgg]] there.
  *
  * One class serves the four functions. Per row it adds a long key
  * (`bitmap_distinct`, `bitmap_state`) or ORs a stored serialized bitmap
  * (`bitmap_merge_count`, `bitmap_merge_state`). At the end it returns
  * the exact count or the SERIALIZED bitmap — the persistable state:
  * store one per (fine grain, group), answer any coarser distinct count
  * EXACTLY later without re-reading raw data. Unlike sketch merges there
  * is no resolution to mismatch — bitmap union is exact by construction.
  * Merging states into a state is the round step of iterated set
  * propagation (e.g. the HyperANF neighborhood loop: each round ORs
  * every vertex's neighbors' round-(h−1) sets). The function name fixes
  * the mode, so the plan text leaves it out.
  */
case class BitmapAgg(child: Expression, fromState: Boolean,
                     toState: Boolean,
                     mutableAggBufferOffset: Int = 0,
                     inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[RoaringBuffer]
    with ImplicitCastInputTypes {
  override def children: Seq[Expression] = Seq(child)
  // Declared input type: narrower integrals implicit-cast to LONG at
  // analysis; a non-integral key is an analysis error, not a runtime
  // ClassCastException in update().
  override def inputTypes = Seq(if (fromState) BinaryType else LongType)
  override def nullable: Boolean = false
  override def dataType: DataType = if (toState) BinaryType else LongType
  override def prettyName: String = (fromState, toState) match {
    case (false, false) => "bitmap_distinct"
    case (false, true) => "bitmap_state"
    case (true, false) => "bitmap_merge_count"
    case (true, true) => "bitmap_merge_state"
  }
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, mutableAggBufferOffset, inputAggBufferOffset)
  override def createAggregationBuffer(): RoaringBuffer = new RoaringBuffer
  override def update(buf: RoaringBuffer, in: InternalRow): RoaringBuffer = {
    val v = child.eval(in)
    if (v == null) buf
    else if (fromState)
      merge(buf, RoaringBuffer.fromBytes(v.asInstanceOf[Array[Byte]]))
    else { buf.add(v.asInstanceOf[Long]); buf }
  }
  override def merge(a: RoaringBuffer, b: RoaringBuffer): RoaringBuffer = {
    a.or(b); a
  }
  override def eval(buf: RoaringBuffer): Any =
    if (toState) buf.toBytes else buf.cardinality
  override def serialize(buf: RoaringBuffer): Array[Byte] = buf.toBytes
  override def deserialize(b: Array[Byte]): RoaringBuffer =
    RoaringBuffer.fromBytes(b)
  override def withNewMutableAggBufferOffset(o: Int): BitmapAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BitmapAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): BitmapAgg = copy(child = c(0))
}

/** Scalar cardinality of ONE serialized bitmap state — reads a stored
  * state without an aggregation (the per-row probe for per-key stored
  * sets; `bitmap_merge_count` answers the grouped form).
  */
case class BitmapCardinality(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes = Seq(BinaryType)
  override def dataType: DataType = LongType
  override def prettyName: String = "bitmap_cardinality"
  override protected def nullSafeEval(input: Any): Any =
    RoaringBuffer.fromBytes(input.asInstanceOf[Array[Byte]]).cardinality
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.RoaringBuffer.fromBytes($c).cardinality()")
  override protected def withNewChildInternal(
      c: Expression): BitmapCardinality = copy(child = c)
}

/** Two-level compressed bitmap over longs. Page key = value >> 16
  * (signed shift: negative keys get negative pages, ordering is still
  * total); offset = low 16 bits. Containers start as sorted offset
  * arrays and promote to 1024-word bitmaps past 4096 entries.
  */
final class RoaringBuffer {
  import RoaringBuffer._
  // TreeMap: deterministic page order for serialization + iteration
  private val pages = new java.util.TreeMap[java.lang.Long, Container]

  def add(v: Long): Unit = {
    val page = v >> 16
    val off = (v & 0xFFFFL).toInt
    val c = pages.get(page)
    if (c == null) {
      val nc = new ArrayContainer
      nc.add(off)
      pages.put(page, nc)
      ()
    } else {
      c match {
        case a: ArrayContainer =>
          a.add(off)
          if (a.size > PromoteAt) pages.put(page, a.toBitmap)
          ()
        case b: BitmapContainer => b.add(off)
      }
    }
  }

  def or(other: RoaringBuffer): Unit = {
    val it = other.pages.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val mine = pages.get(e.getKey)
      if (mine == null) pages.put(e.getKey, e.getValue.copy())
      else {
        val merged = (mine, e.getValue) match {
          case (a: BitmapContainer, b) => b.foreach(a.add); a
          case (a: ArrayContainer, b: BitmapContainer) =>
            val bm = b.copy().asInstanceOf[BitmapContainer]
            a.foreach(bm.add); bm
          case (a: ArrayContainer, b: ArrayContainer) =>
            b.foreach(a.add)
            if (a.size > PromoteAt) a.toBitmap else a
        }
        pages.put(e.getKey, merged)
        ()
      }
    }
  }

  def cardinality: Long = {
    var n = 0L
    val it = pages.values().iterator()
    while (it.hasNext) n += it.next().size
    n
  }

  def nPages: Int = pages.size

  def toBytes: Array[Byte] = {
    var bytes = 4
    val it0 = pages.values().iterator()
    while (it0.hasNext) bytes += 9 + it0.next().byteSize
    val bb = ByteBuffer.allocate(bytes)
    bb.putInt(pages.size)
    val it = pages.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      bb.putLong(e.getKey)
      e.getValue.writeTo(bb)
    }
    bb.array()
  }
}

object RoaringBuffer {
  /** Array containers hold 2-byte entries; past 4096 of them the 8 KB
    * fixed bitmap is smaller AND O(1) to update.
    */
  val PromoteAt = 4096

  sealed trait Container {
    def size: Int
    def foreach(f: Int => Unit): Unit
    def copy(): Container
    def byteSize: Int
    def writeTo(bb: ByteBuffer): Unit
  }

  /** Sorted unique offsets (0..65535), binary-search insert. */
  final class ArrayContainer extends Container {
    private var arr = new Array[Char](8)
    private var n = 0
    def size: Int = n
    def add(off: Int): Unit = {
      val c = off.toChar
      var lo = 0
      var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (arr(mid) < c) lo = mid + 1 else hi = mid
      }
      if (lo < n && arr(lo) == c) return
      if (n == arr.length) {
        val grown = new Array[Char](arr.length * 2)
        System.arraycopy(arr, 0, grown, 0, n)
        arr = grown
      }
      System.arraycopy(arr, lo, arr, lo + 1, n - lo)
      arr(lo) = c
      n += 1
    }
    def foreach(f: Int => Unit): Unit = {
      var i = 0
      while (i < n) { f(arr(i).toInt); i += 1 }
    }
    def toBitmap: BitmapContainer = {
      val b = new BitmapContainer
      foreach(b.add)
      b
    }
    def copy(): Container = {
      val c = new ArrayContainer
      foreach(c.add)
      c
    }
    def byteSize: Int = 4 + 2 * n
    def writeTo(bb: ByteBuffer): Unit = {
      bb.put(0: Byte).putInt(n)
      var i = 0
      while (i < n) { bb.putChar(arr(i)); i += 1 }
    }
  }

  /** Fixed 65536-bit page. */
  final class BitmapContainer extends Container {
    private val words = new Array[Long](1024)
    private var n = 0
    def size: Int = n
    def add(off: Int): Unit = {
      val w = off >>> 6
      val bit = 1L << (off & 63)
      if ((words(w) & bit) == 0L) {
        words(w) |= bit
        n += 1
      }
    }
    def foreach(f: Int => Unit): Unit = {
      var w = 0
      while (w < 1024) {
        var bits = words(w)
        while (bits != 0L) {
          val b = java.lang.Long.numberOfTrailingZeros(bits)
          f((w << 6) | b)
          bits &= bits - 1
        }
        w += 1
      }
    }
    def copy(): Container = {
      val c = new BitmapContainer
      System.arraycopy(words, 0, c.words, 0, 1024)
      c.n = n
      c
    }
    def byteSize: Int = 8192
    def writeTo(bb: ByteBuffer): Unit = {
      bb.put(1: Byte)
      var i = 0
      while (i < 1024) { bb.putLong(words(i)); i += 1 }
    }
  }

  def fromBytes(bytes: Array[Byte]): RoaringBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new RoaringBuffer
    val nPages = bb.getInt
    var p = 0
    while (p < nPages) {
      val page = bb.getLong
      val base = page << 16
      bb.get() match {
        case 0 =>
          val n = bb.getInt
          var i = 0
          while (i < n) { buf.add(base | bb.getChar.toLong); i += 1 }
        case 1 =>
          var w = 0
          while (w < 1024) {
            var bits = bb.getLong
            while (bits != 0L) {
              val b = java.lang.Long.numberOfTrailingZeros(bits)
              buf.add(base | ((w.toLong << 6) | b))
              bits &= bits - 1
            }
            w += 1
          }
      }
      p += 1
    }
    buf
  }
}

object Bitmaps {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  private def agg(child: Column, fromState: Boolean,
                  toState: Boolean): Column =
    column(BitmapAgg(expression(child), fromState, toState)
      .toAggregateExpression())

  /** `bitmap_distinct(key)` → BIGINT EXACT distinct count of a long
    * key column. Dense-id domains only (see [[BitmapAgg]]).
    */
  def bitmap_distinct(key: Column): Column =
    agg(key, fromState = false, toState = false)

  /** `bitmap_state(key)` → BINARY serialized bitmap (persistable;
    * merge later with [[bitmap_merge_count]] at zero error).
    */
  def bitmap_state(key: Column): Column =
    agg(key, fromState = false, toState = true)

  /** `bitmap_merge_count(state)` → BIGINT exact distinct of the union
    * of stored bitmaps.
    */
  def bitmap_merge_count(state: Column): Column =
    agg(state, fromState = true, toState = false)

  /** `bitmap_merge_state(state)` → BINARY union of stored bitmaps —
    * the iterable round step for set-propagation loops.
    */
  def bitmap_merge_state(state: Column): Column =
    agg(state, fromState = true, toState = true)

  /** `bitmap_cardinality(state)` → BIGINT exact count of one stored
    * bitmap (scalar, no aggregation).
    */
  def bitmap_cardinality(state: Column): Column =
    column(BitmapCardinality(expression(state)))
}
