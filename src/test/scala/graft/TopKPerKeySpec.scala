package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graft.{TopKPerKey, TopKPerKeyExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.Assertions

/** The native top-K-per-key physical operator (extension path (c)). */
class TopKPerKeySpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def sample = Seq(
    (1L, 10L, 1.0), (1L, 20L, 2.0), (1L, 30L, 3.0), (1L, 40L, 4.0),
    (2L, 15L, 5.0), (2L, 25L, 6.0),
    (3L, 7L, 7.0)
  ).toDF("k", "t", "v")

  test("keeps exactly the first K rows per key under the sort order") {
    val out = TopKPerKey(sample, 2, Seq("k"), Seq(("t", true)))
      .orderBy($"k", $"t")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toList == List((1L, 30L), (1L, 40L), (2L, 15L), (2L, 25L), (3L, 7L)))
  }

  test("ties broken by the secondary sort column") {
    val tied = Seq((1L, 10L, 1.0), (1L, 10L, 2.0), (1L, 10L, 3.0))
      .toDF("k", "t", "v")
    val out = TopKPerKey(tied, 2, Seq("k"), Seq(("t", true), ("v", true)))
      .collect().map(_.getDouble(2)).sorted
    assert(out.toList == List(2.0, 3.0))
  }

  test("plans as partial + final exec pair around the exchange") {
    val df = TopKPerKey(sample, 2, Seq("k"), Seq(("t", true)))
    val p = df.queryExecution.executedPlan
    p.execute()
    val execs = collectWithSubqueries(p) { case t: TopKPerKeyExec => t }
    assert(execs.map(_.partial).sorted == Seq(false, true), s"plan:\n$p")
  }

  test("an empty key list fails at the TopKPerKey call") {
    val e = intercept[IllegalArgumentException] {
      TopKPerKey(sample, 3, Nil, Seq(("t", true)))
    }
    assert(e.getMessage == "requirement failed: top-k needs at least one key column")
  }

  test("equals the window-rank formulation on the fixture table") {
    val d = "/root/testdata/sf0.001"
    val native = SparkEntry.queries("x_native_topk")(spark, d)
    val builtin = SparkEntry.queries("a3_top3_per_key")(spark, d)
    val builtinRows = TopKPerKeySpec.stockRows(builtin)
    assert(native.collect().toSeq.sortBy(_.toString) ==
           builtinRows.sortBy(_.toString))
  }
}

object TopKPerKeySpec extends Assertions with AdaptiveSparkPlanHelper {
  /** `df`'s rows, the stock reference of a top-K differential. Its plan
    * must hold no TopKPerKeyExec: otherwise both sides run the native
    * exec and the differential is a tautology. */
  def stockRows(df: DataFrame): Seq[Row] = {
    val rows = df.collect().toSeq
    val p = df.queryExecution.executedPlan
    assert(collectWithSubqueries(p) { case t: TopKPerKeyExec => t }.isEmpty,
           s"stock reference planned the native exec:\n$p")
    rows
  }
}
