package org.apache.spark.sql.graft

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo}
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

  /** SQL-name registration for sessions not built with
    * [[GraftExtensions]] (the driver constructs its own SparkSession). */
  def ensureRegistered(spark: SparkSession): Unit =
    NativeFunctions.register(spark, name)
}

/** The engine's native SQL functions, one row each. Both registration
  * paths read this table: [[GraftExtensions]] injects every row, and
  * each function object's `ensureRegistered` registers its own rows in
  * a session built without the extensions. */
object NativeFunctions {
  val all: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn[DotProductFloat](DotProductFloat.name)(a => DotProductFloat(a(0), a(1))),
    fn[DotProductInt](DotProductInt.name)(a => DotProductInt(a(0), a(1))),
    fn[AvroEncodeEnvelope](AvroEnvelope.encodeName)(AvroEncodeEnvelope(_)),
    fn[AvroDecodeEnvelope](AvroEnvelope.decodeName)(a => AvroDecodeEnvelope(a.head)),
    fn[ProtoEncodeEnvelope](ProtoEnvelope.encodeName)(ProtoEncodeEnvelope(_)),
    fn[ProtoDecodeEnvelope](ProtoEnvelope.decodeName)(a => ProtoDecodeEnvelope(a.head)))

  private def fn[T: ClassTag](name: String)(build: FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(classTag[T].runtimeClass.getName, name), build)

  /** Registers the named rows in `spark`'s function registry; a name
    * already registered is left as it is. */
  def register(spark: SparkSession, names: String*): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (id, info, build) =>
      if (names.contains(id.funcName) && !reg.functionExists(id))
        reg.registerFunction(id, info, build)
    }
  }
}

/** `SparkSessionExtensions` entry point — enable with
  * `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions` to
  * expose the engine's native functions to any session (SQL CLI, thrift
  * server, notebooks). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // No injectOptimizerRule(RankLimitToTopK) here: injected rules run in
    // the 'Operator Optimization' batches, BEFORE SparkOptimizer's 'Infer
    // window group limit' batch creates the WindowGroupLimit node the
    // rule matches — via this path it would silently never fire (round-4
    // ADVICE). The rank-limit lowering for extensions sessions is anchored
    // in TopKPerKeyStrategy instead, which matches WindowGroupLimit on
    // the fully optimized plan (pinned by PlanSpec's extensions-path test).
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    NativeFunctions.all.foreach(ext.injectFunction)
  }
}
