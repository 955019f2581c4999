package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins `sorted_array_jaccard`, `sorted_array_overlap`, `cosine_sim` and
  * `dot_product`: each input row runs through the interpreted `eval` and
  * through a generated `UnsafeProjection`, and both must equal a fixed
  * expected value (`==` on doubles, so a changed fold order fails) and
  * each other. Also pins each expression's name, type and plan text.
  */
class SimilarityKernelPinSpec extends AnyFunSuite {

  private val longs = ArrayType(LongType, containsNull = false)
  private val floats = ArrayType(FloatType, containsNull = false)

  private def arr(xs: Any*): GenericArrayData =
    new GenericArrayData(xs.toArray[Any])

  /** Evaluates the expression over two bound array columns of type `t`
    * on each case's `(left, right)` row by the interpreted `eval` and by
    * a generated `UnsafeProjection`; both must equal the case's value.
    */
  private def check(mk: (Expression, Expression) => Expression,
                    t: DataType, cases: Seq[(String, Any, Any, Any)]): Unit = {
    val e = mk(BoundReference(0, t, nullable = true),
      BoundReference(1, t, nullable = true))
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    cases.foreach { case (name, l, r, want) =>
      val row = InternalRow(l, r)
      val out = proj(row)
      val generated = if (out.isNullAt(0)) null else out.get(0, e.dataType)
      val interpreted = e.eval(row)
      assert(interpreted == want, s"$name: interpreted $interpreted != $want")
      assert(generated == want, s"$name: generated $generated != $want")
      assert(interpreted == generated, s"$name: paths disagree")
    }
  }

  private val emptyL = arr()
  private val abc = arr(1L, 2L, 3L)

  test("sorted_array_jaccard: pinned values on both evaluation paths") {
    check(SortedArrayJaccard, longs, Seq(
      ("both empty", emptyL, emptyL, 1.0),
      ("one empty", abc, emptyL, 0.0),
      ("disjoint", abc, arr(4L, 5L), 0.0),
      ("identical", abc, abc, 1.0),
      ("partial", abc, arr(2L, 3L, 4L, 9L), 0.4),
      ("null argument", abc, null, null)))
  }

  test("sorted_array_overlap: pinned values on both evaluation paths") {
    check(SortedArrayOverlap, longs, Seq(
      ("both empty", emptyL, emptyL, 0L),
      ("one empty", emptyL, abc, 0L),
      ("disjoint", abc, arr(4L, 5L), 0L),
      ("identical", abc, abc, 3L),
      ("partial", abc, arr(2L, 3L, 4L, 9L), 2L),
      ("null argument", null, abc, null)))
  }

  private val emptyF = arr()
  private val f123 = arr(1.0f, 2.0f, 3.0f)
  private val frac = arr(0.1f, -0.7f, 2.5f)

  test("cosine_sim: pinned values on both evaluation paths") {
    check(CosineSim, floats, Seq(
      ("both empty", emptyF, emptyF, 0.0),
      ("one empty", f123, emptyF, 0.0),
      ("disjoint support", arr(1.0f, 0.0f), arr(0.0f, 2.0f), 0.0),
      ("identical", f123, f123, 1.0),
      ("unequal length", f123, arr(4.0f, 5.0f), 0.9778024140774094),
      ("fractional", frac, arr(0.3f, 0.4f, -0.2f), -0.5360562596779156),
      ("zero vector", arr(0.0f, 0.0f, 0.0f), f123, 0.0),
      ("null argument", null, f123, null)))
  }

  test("dot_product: pinned values on both evaluation paths") {
    check(DotProduct, floats, Seq(
      ("both empty", emptyF, emptyF, 0.0),
      ("one empty", emptyF, f123, 0.0),
      ("disjoint support", arr(1.0f, 0.0f), arr(0.0f, 2.0f), 0.0),
      ("identical", f123, f123, 14.0),
      ("unequal length", f123, arr(4.0f, 5.0f), 14.0),
      ("fractional", frac, arr(0.3f, 0.4f, -0.2f), -0.7500000052154063),
      ("zero vector", arr(0.0f, 0.0f, 0.0f), f123, 0.0),
      ("null argument", f123, null, null)))
  }

  test("names, result types and plan text are pinned") {
    val l = BoundReference(0, longs, nullable = true)
    val r = BoundReference(1, longs, nullable = true)
    val fl = BoundReference(0, floats, nullable = true)
    val fr = BoundReference(1, floats, nullable = true)
    val got = Seq(SortedArrayJaccard(l, r), SortedArrayOverlap(l, r),
      CosineSim(fl, fr), DotProduct(fl, fr))
      .map(e => (e.prettyName, e.dataType, e.toString, e.sql))
    assert(got == Seq(
      ("sorted_array_jaccard", DoubleType,
        "sorted_array_jaccard(input[0, array<bigint>, true], " +
          "input[1, array<bigint>, true])",
        "sorted_array_jaccard(boundreference(), boundreference())"),
      ("sorted_array_overlap", LongType,
        "sorted_array_overlap(input[0, array<bigint>, true], " +
          "input[1, array<bigint>, true])",
        "sorted_array_overlap(boundreference(), boundreference())"),
      ("cosine_sim", DoubleType,
        "cosine_sim(input[0, array<float>, true], " +
          "input[1, array<float>, true])",
        "cosine_sim(boundreference(), boundreference())"),
      ("dot_product", DoubleType,
        "dot_product(input[0, array<float>, true], " +
          "input[1, array<float>, true])",
        "dot_product(boundreference(), boundreference())")))
  }
}
