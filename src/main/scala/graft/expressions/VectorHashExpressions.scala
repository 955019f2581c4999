package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Static entry point for generated code (mirrors [[TextHashImpl]]'s
  * direct-dispatch pattern: whole-stage codegen emits one static call, no
  * boxing, no per-element lambda interpretation).
  */
object VectorHashImpl {

  /** All `nTables` hyperplane signatures of a float vector in one pass.
    * Bit `p` of table `l`'s signature is set iff
    * `dot(planes(l)(p), vec) >= 0`, accumulated in double left-to-right —
    * bit-identical to the HOF formulation
    * (`aggregate(zip_with(cast(vec), plane, _*_), 0.0, _+_)`), which the
    * generated DuckDB oracle reproduces.
    */
  def hyperplaneSigs(input: ArrayData,
                     planes: Array[Array[Array[Double]]]): GenericArrayData = {
    val v = input.toFloatArray()
    val out = new Array[Long](planes.length)
    var l = 0
    while (l < planes.length) {
      val table = planes(l)
      var sig = 0L
      var p = 0
      while (p < table.length) {
        val plane = table(p)
        val n = math.min(v.length, plane.length)
        var dot = 0.0
        var i = 0
        while (i < n) {
          dot += v(i).toDouble * plane(i)
          i += 1
        }
        if (dot >= 0) sig |= (1L << p)
        p += 1
      }
      out(l) = sig
      l += 1
    }
    new GenericArrayData(out)
  }
}

/** Multi-table random-hyperplane LSH signatures of an `array<float>`
  * vector: one long per table, sign bits packed. The plane tensor rides
  * along as a codegen reference object, so the plan stays one compact
  * expression instead of `nTables * nBits` literal-array HOF folds
  * (which at 12x3x64 doubles made the Catalyst tree the dominant cost of
  * the whole query).
  */
case class HyperplaneSigs(child: Expression,
                          planes: Array[Array[Array[Double]]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_sigs"

  override def nullSafeEval(input: Any): Any =
    VectorHashImpl.hyperplaneSigs(input.asInstanceOf[ArrayData], planes)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val pl = ctx.addReferenceObj("planes", planes, "double[][][]")
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.VectorHashImpl.hyperplaneSigs($c, $pl)")
  }

  override protected def withNewChildInternal(c: Expression): HyperplaneSigs =
    copy(child = c)

  // the plane tensor is part of this expression's identity; Array equality
  // is reference-based, which is fine (one instance per query)
}
