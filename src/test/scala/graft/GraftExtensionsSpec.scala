package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.graft.{GraftExtensions, NativeFunctions, TopKPerKeyExec, TopKPerKeyStrategy}

import graft.operators.RelationalOps

/** The one extension registry: `GraftExtensions.install` on a built
  * session and `GraftExtensions` injected at session build register the
  * same things and plan the same. */
class GraftExtensionsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private val d = "/root/testdata/sf0.001"

  test("install is idempotent: one strategy, no optimizer rules, all six native functions") {
    val s = spark.newSession()
    GraftExtensions.install(s)
    GraftExtensions.install(s)
    assert(s.experimental.extraStrategies == Seq(TopKPerKeyStrategy))
    assert(s.experimental.extraOptimizations.isEmpty)
    val ids = NativeFunctions.all.map(_._1)
    assert(ids.map(_.funcName).sorted == Seq("avro_envelope", "dot_f", "dot_i",
      "from_avro_envelope", "from_proto_envelope", "proto_envelope"))
    ids.foreach { id =>
      assert(s.sessionState.functionRegistry.functionExists(id), s"$id does not resolve")
    }
  }

  test("x_native_topk: install and extensions plan alike") {
    // the module's own entry: SparkEntry.queries would install into the
    // extensions session too
    val topk = RelationalOps.queries("x_native_topk")
    // (expression ids and exchange plan ids count per JVM, not per plan)
    def plan(s: SparkSession): (String, Int) = {
      val p = topk(s, d).queryExecution.executedPlan
      (p.toString.replaceAll("#\\d+", "#N").replaceAll("plan_id=\\d+", "plan_id=N"),
       collect(p) { case t: TopKPerKeyExec => t }.size)
    }
    val installed = spark.newSession()
    GraftExtensions.install(installed)
    val viaInstall = plan(installed)
    val viaExtensions = SparkSpec.withExtensionsSession(plan)
    assert(viaInstall._2 == 2, viaInstall._1)
    assert(viaInstall == viaExtensions)
  }
}
