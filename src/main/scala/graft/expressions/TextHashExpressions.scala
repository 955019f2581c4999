package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot dedup/similarity loops.
  *
  * The same semantics are expressible with higher-order array functions
  * (`aggregate`/`zip_with`), but those evaluate one interpreted lambda
  * per element — the 64-tally-per-token SimHash fold costs ~64 `when`
  * evaluations per token per row. These expressions do the loop in tight
  * JVM code on `UTF8String`/primitive arrays instead (~100× at sf0.001),
  * while keeping hash values IDENTICAL to the `xxhash64` builtin
  * (`XXH64.hashUTF8String`, seed 42) so results are reproducible.
  *
  * Each expression has one kernel: a static method (in [[TextHashImpl]]
  * or [[HashedLinearOps]]) that `nullSafeEval` calls and generated code
  * calls directly, so the interpreted and codegen paths agree by
  * construction.
  */
object TextHash {

  private[expressions] val XxSeed = 42L

  /** Whitespace tokens of lowercased/trimmed text, as UTF8Strings. */
  private[expressions] def tokenize(s: UTF8String): Array[UTF8String] = {
    val canonical = s.toLowerCase.trim()
    if (canonical.numBytes() == 0) Array.empty
    else canonical.split(UTF8String.fromString("\\s+"), -1)
  }

  private[expressions] def tokenHashes(s: UTF8String): Array[Long] = {
    val toks = tokenize(s)
    val out = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      out(i) = XXH64.hashUTF8String(toks(i), XxSeed)
      i += 1
    }
    out
  }
}

/** Static entry points for generated code (whole-stage codegen emits
  * direct calls here — no row materialization, no boxing).
  */
object TextHashImpl {

  def simhash(s: UTF8String): Long = {
    val hashes = TextHash.tokenHashes(s)
    val tallies = new Array[Int](64)
    var i = 0
    while (i < hashes.length) {
      val h = hashes(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) tallies(b) += 1 else tallies(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (tallies(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def shingleHashArray(s: UTF8String, shingleN: Int): Array[Long] = {
    val th = TextHash.tokenHashes(s)
    if (th.isEmpty) return Array.emptyLongArray
    val nShingles = if (th.length <= shingleN) 1 else th.length - shingleN + 1
    val width = math.min(shingleN, th.length)
    val hs = new Array[Long](nShingles)
    var i = 0
    while (i < nShingles) {
      var h = TextHash.XxSeed
      var j = 0
      while (j < width) {
        h = XXH64.hashLong(th(i + j), h)
        j += 1
      }
      hs(i) = h
      i += 1
    }
    hs
  }

  def shingleHashes(s: UTF8String, shingleN: Int): GenericArrayData = {
    val distinct = shingleHashArray(s, shingleN).distinct
    java.util.Arrays.sort(distinct)
    new GenericArrayData(distinct)
  }

  def minhashSig(s: UTF8String, shingleN: Int, numHashes: Int,
                 permA: Array[Long], permB: Array[Long]): GenericArrayData = {
    val hs = shingleHashArray(s, shingleN)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var p = 0
      while (p < numHashes) {
        val permuted = permA(p) * h + permB(p)
        if (permuted < mins(p)) mins(p) = permuted
        p += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Intersection size of two sorted long arrays by linear merge. */
  def sortedOverlap(l: ArrayData, r: ArrayData): Long = {
    val a = l.toLongArray()
    val b = r.toLongArray()
    var i = 0
    var j = 0
    var inter = 0L
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter
  }

  /** |A∩B| / |A∪B| of two sorted long arrays; 1.0 when both are empty. */
  def sortedJaccard(l: ArrayData, r: ArrayData): Double = {
    val na = l.numElements()
    val nb = r.numElements()
    if (na == 0 && nb == 0) 1.0
    else {
      val inter = sortedOverlap(l, r)
      inter.toDouble / (na + nb - inter)
    }
  }

  /** Cosine of two float vectors over their min-length overlap,
    * accumulated in double left to right; 0.0 when either norm is zero.
    */
  def cosine(l: ArrayData, r: ArrayData): Double = {
    val a = l.toFloatArray()
    val b = r.toFloatArray()
    val n = math.min(a.length, b.length)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom > 0) dot / denom else 0.0
  }

  /** Inner product of two float vectors over their min-length overlap,
    * accumulated in double left to right.
    */
  def dot(l: ArrayData, r: ArrayData): Double = {
    val a = l.toFloatArray()
    val b = r.toFloatArray()
    val n = math.min(a.length, b.length)
    var dot = 0.0
    var i = 0
    while (i < n) {
      dot += a(i).toDouble * b(i).toDouble
      i += 1
    }
    dot
  }

  /** splitmix64-derived affine permutation constants, fixed seed. */
  def permConstants(numHashes: Int): (Array[Long], Array[Long]) = {
    def splitmix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    val a = new Array[Long](numHashes)
    val b = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) {
      a(i) = splitmix(2L * i) | 1L // odd => bijective mod 2^64
      b(i) = splitmix(2L * i + 1)
      i += 1
    }
    (a, b)
  }
}

/** 64-bit SimHash over whitespace tokens of the (lowercased, trimmed)
  * input string. Per token-hash bit: tally +1/-1; sign of each tally
  * sets the output bit. Empty text hashes to 0L (all tallies 0 ⇒ no
  * bits set). Map-only, no shuffle.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(
      TextHashImpl.simhash(input.asInstanceOf[UTF8String]))

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.TextHashImpl.simhash($c)")

  override protected def withNewChildInternal(c: Expression): SimHash64 =
    copy(child = c)
}

/** MinHash signature: `numHashes` permuted minima over word-`shingleN`-gram
  * hashes of the input text.
  *
  * Shingle hash = xxhash64-style polynomial combination of the window's
  * token hashes (no string concatenation). Permutation i applies the
  * affine map `a(i)*h + b(i)` (odd multipliers from splitmix64, wrapping
  * arithmetic). Documents shorter than `shingleN` tokens contribute one
  * whole-document shingle. Empty text yields Long.MaxValue sentinels.
  */
case class MinHashSig(child: Expression, shingleN: Int, numHashes: Int)
    extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  @transient private lazy val (permA, permB) =
    TextHashImpl.permConstants(numHashes)

  override def nullSafeEval(input: Any): Any =
    TextHashImpl.minhashSig(input.asInstanceOf[UTF8String], shingleN,
      numHashes, permA, permB)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val pa = ctx.addReferenceObj("permA", permA, "long[]")
    val pb = ctx.addReferenceObj("permB", permB, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.TextHashImpl.minhashSig($c, $shingleN, $numHashes, $pa, $pb)")
  }

  override protected def withNewChildInternal(c: Expression): MinHashSig =
    copy(child = c)
}

/** Distinct word-`shingleN`-gram hashes of the text, sorted ascending —
  * the set representation for exact Jaccard via sorted-array
  * intersection (64-bit collisions are negligible at corpus scale).
  */
case class ShingleHashes(child: Expression, shingleN: Int)
    extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    TextHashImpl.shingleHashes(input.asInstanceOf[UTF8String], shingleN)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.TextHashImpl.shingleHashes($c, $shingleN)")

  override protected def withNewChildInternal(c: Expression): ShingleHashes =
    copy(child = c)
}

/** Jaccard similarity of two sorted long arrays (as produced by
  * [[ShingleHashes]]): |A∩B| / |A∪B| by linear merge — no per-element
  * lambda interpretation, no array materialization.
  */
case class SortedArrayJaccard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "sorted_array_jaccard"

  override def nullSafeEval(l: Any, r: Any): Any =
    java.lang.Double.valueOf(TextHashImpl.sortedJaccard(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData]))

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev,
      (l, r) => s"graft.expressions.TextHashImpl.sortedJaccard($l, $r)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SortedArrayJaccard = copy(l, r)
}

/** Intersection size of two sorted long arrays (as produced by
  * [[ShingleHashes]]) by the same linear merge as [[SortedArrayJaccard]].
  * The shared numerator of Jaccard and the asymmetric containment
  * measures: containment(A in B) = overlap / |A| catches near-SUBSET
  * duplicates (a doc embedded whole in a longer one) that symmetric
  * Jaccard under-scores by the length difference.
  */
case class SortedArrayOverlap(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_array_overlap"

  override def nullSafeEval(l: Any, r: Any): Any =
    java.lang.Long.valueOf(TextHashImpl.sortedOverlap(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData]))

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev,
      (l, r) => s"graft.expressions.TextHashImpl.sortedOverlap($l, $r)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SortedArrayOverlap = copy(l, r)
}

/** Cosine similarity of two float-vector columns, accumulated in double
  * left-to-right (deterministic). 0.0 when either norm is zero. One tight
  * primitive loop instead of three interpreted HOF folds.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(l: Any, r: Any): Any =
    java.lang.Double.valueOf(TextHashImpl.cosine(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData]))

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev,
      (l, r) => s"graft.expressions.TextHashImpl.cosine($l, $r)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CosineSim = copy(l, r)
}

/** Inner product of two float-vector columns, accumulated in double
  * left-to-right — the ADC primitive for product-quantized search
  * (and the numerator of [[CosineSim]] when inputs are pre-normalized).
  * Same determinism contract: one fold order, [[TextHashImpl.dot]]'s,
  * on the interpreted and codegen paths alike.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullSafeEval(l: Any, r: Any): Any =
    java.lang.Double.valueOf(TextHashImpl.dot(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData]))

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev,
      (l, r) => s"graft.expressions.TextHashImpl.dot($l, $r)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DotProduct = copy(l, r)
}

/** Hashing-trick linear text classifier in ONE map-only pass — the
  * fastText-style quality/domain filter of an LLM data pipeline
  * (Joulin et al., "Bag of Tricks for Efficient Text Classification",
  * arXiv:1607.01759): each whitespace token hashes (xxhash64, seed 42 —
  * the corpus-wide token hash) into one of `weights.length` buckets and
  * contributes that bucket's integer weight; the document's score is
  * the exact int64 sum. Vocabulary-free, model-as-array: at 100 TB the
  * learned weight vector (|W| = dim ints, typically ≤ 2²⁰) rides along
  * as a codegen reference object on every executor — no vocabulary
  * join, no shuffle, no per-token explode.
  *
  * Determinism contract: bucket = low bits of the UNSIGNED 64-bit hash
  * (`dim` must be a power of two, so the mask equals `hash mod dim` on
  * the unsigned value the DuckDB oracle computes); integer sums are
  * exact under any order. Blank/whitespace-only docs score (0, 0).
  */
object HashedLinearOps {

  /** Static entry point for generated code. */
  def score(s: UTF8String, weights: Array[Int]): InternalRow = {
    val hashes = TextHash.tokenHashes(s)
    val mask = weights.length - 1
    var sum = 0L
    var i = 0
    while (i < hashes.length) {
      sum += weights((hashes(i) & mask).toInt)
      i += 1
    }
    new GenericInternalRow(Array[Any](hashes.length, sum))
  }
}

/** `struct<n_tokens:int, score:bigint>` of the hashed linear model for
  * a text column (see [[HashedLinearOps.score]]).
  */
case class HashedLinearScore(child: Expression, weights: Array[Int])
    extends UnaryExpression {

  require(weights.length >= 2 && (weights.length & (weights.length - 1)) == 0,
    s"weights.length must be a power of two; got ${weights.length}")

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("score", LongType, nullable = false)))
  override def prettyName: String = "hashed_linear_score"

  override def nullSafeEval(input: Any): Any =
    HashedLinearOps.score(input.asInstanceOf[UTF8String], weights)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val w = ctx.addReferenceObj("weights", weights, "int[]")
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.HashedLinearOps.score($c, $w)")
  }

  override protected def withNewChildInternal(
      c: Expression): HashedLinearScore = copy(child = c)
}

/** Column-API entry points for the native expressions. Spark 4 wraps
  * Columns around ColumnNodes; `ExpressionUtils` is the classic-API
  * bridge between `Column` and catalyst `Expression`.
  */
object exprs {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  def simhash64(text: Column): Column = column(SimHash64(expression(text)))

  def minhash_sig(text: Column, shingleN: Int = 3,
                  numHashes: Int = 16): Column =
    column(MinHashSig(expression(text), shingleN, numHashes))

  def shingle_hashes(text: Column, shingleN: Int = 3): Column =
    column(ShingleHashes(expression(text), shingleN))

  def sorted_array_jaccard(a: Column, b: Column): Column =
    column(SortedArrayJaccard(expression(a), expression(b)))

  def sorted_array_overlap(a: Column, b: Column): Column =
    column(SortedArrayOverlap(expression(a), expression(b)))

  def multi_pattern_matches(text: Column,
                            patterns: Array[String]): Column =
    column(MultiPatternMatches(expression(text), patterns))

  def cosine_sim(a: Column, b: Column): Column =
    column(CosineSim(expression(a), expression(b)))

  def dot_product(a: Column, b: Column): Column =
    column(DotProduct(expression(a), expression(b)))

  def pq_encode_codes(vec: Column,
                      books: Array[Array[Array[Float]]]): Column =
    column(PqEncodeCodes(expression(vec), books))

  def kmeans_assign(vec: Column, cents: Array[Array[Float]]): Column =
    column(KmeansAssignExpr(expression(vec), cents))

  def hashed_linear_score(text: Column, weights: Array[Int]): Column =
    column(HashedLinearScore(expression(text), weights))

  def int8_cosine_sim(a: Column, b: Column): Column =
    column(Int8CosineSim(expression(a), expression(b)))

  def int8_quantize(vec: Column): Column =
    column(Int8Quantize(expression(vec)))

  def sign_pack(vec: Column): Column =
    column(SignPack(expression(vec)))

  def int8_sqdist(a: Column, b: Column): Column =
    column(Int8SqDist(expression(a), expression(b)))

  def hyperplane_sigs(vec: Column,
                      planes: Array[Array[Array[Double]]]): Column =
    column(HyperplaneSigs(expression(vec), planes))

  def pushdown_barrier(c: Column): Column =
    column(PushdownBarrier(expression(c)))
}
