package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: dot product of two float32 vectors
  * accumulated in double, left to right — the hot scalar of graft's
  * similarity surface (SURVEY.md §2.9, extension path (b): custom
  * `Expression` beats Scala UDF beats anything else).
  *
  * Why not `aggregate(zip_with(...))`: higher-order functions execute
  * interpreted (per-element lambda dispatch, boxed accumulator) and
  * break whole-stage codegen. This expression generates a tight
  * primitive loop via `doGenCode` — identical semantics (sequential
  * double accumulation, so the DuckDB `list_sum` oracle still matches)
  * at a fraction of the cost.
  *
  * Lives under `org.apache.spark.sql` because `AbstractDataType` /
  * `ExpressionUtils` are `private[sql]` — the standard placement for
  * third-party native expressions.
  */
case class DotProductFloat(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductFloat =
    copy(left = newLeft, right = newRight)
}

object DotProductFloat {
  val name = "dot_f"

  /** Column-API entry point for the engine's internal use. */
  def dotF(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProductFloat(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}
