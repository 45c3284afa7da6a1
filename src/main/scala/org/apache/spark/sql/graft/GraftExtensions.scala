package org.apache.spark.sql.graft

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** The engine's native SQL functions, one row each. */
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
}

/** The engine's one extension registry: the planner strategy of the
  * explicit top-K operator ([[TopKPerKeyStrategy]]) and
  * [[NativeFunctions]]. Enable it at launch
  * with `spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions`
  * (SQL CLI, thrift server, notebooks), or apply it to a session that is
  * already built with [[GraftExtensions.install]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    NativeFunctions.all.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  /** Applies to `spark` what [[GraftExtensions]] injects at launch: the
    * strategy goes into `extraStrategies` and every native function into
    * the session's function registry. Idempotent; a name already
    * registered is left as it is. */
  def install(spark: SparkSession): Unit = {
    val exps = spark.experimental
    if (!exps.extraStrategies.contains(TopKPerKeyStrategy))
      exps.extraStrategies = exps.extraStrategies :+ TopKPerKeyStrategy
    val reg = spark.sessionState.functionRegistry
    NativeFunctions.all.foreach { case (id, info, build) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, build)
    }
  }
}
