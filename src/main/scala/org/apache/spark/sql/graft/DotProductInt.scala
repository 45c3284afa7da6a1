package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, IntegerType, LongType}

/** Native Catalyst expression: dot product of two int32 vectors
  * accumulated in long — the coarse-scoring scalar of the scalar-
  * quantized (SQ-int8) similarity path. Exact integer arithmetic, so
  * the DuckDB `list_sum` oracle matches bit for bit with no rounding
  * discipline at all; |q|≤127 over 64 dims keeps the accumulator far
  * from overflow.
  *
  * Same design as [[DotProductFloat]] (SURVEY.md §2.9 extension path
  * (b)): a tight primitive `doGenCode` loop instead of the interpreted
  * `aggregate(zip_with(...))` HOF pair, living under
  * `org.apache.spark.sql` for the `private[sql]` helpers.
  */
case class DotProductInt(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(IntegerType), ArrayType(IntegerType))
  override def dataType: DataType = LongType
  override def prettyName: String = "dot_i"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getInt(i).toLong * y.getInt(i).toLong
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
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((long) $a.getInt($i)) * ((long) $b.getInt($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductInt =
    copy(left = newLeft, right = newRight)
}

object DotProductInt {
  val name = "dot_i"

  /** Column-API entry point for the engine's internal use. */
  def dotI(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProductInt(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}
