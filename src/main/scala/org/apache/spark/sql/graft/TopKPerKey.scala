package org.apache.spark.sql.graft

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Native top-K-per-key operator (SURVEY.md §2.6 A3, extension path (c):
  * whole-operator semantics as `LogicalPlan` + `SparkStrategy` +
  * `SparkPlan`) — the engine's third extension point alongside the
  * codegen `Expression` (DotProductFloat, path (b)) and the typed
  * `Aggregator` (Top3Aggregator).
  *
  * Why a physical operator: the built-in formulation
  * (`row_number() over (partition by k order by o) <= K`) SORTS every
  * key's full row set before discarding all but K rows. This exec keeps
  * a bounded K-row heap per key on both sides of the exchange:
  *  - a PARTIAL instance prunes each map partition to ≤K rows per key
  *    before the shuffle (the top-K analogue of map-side combine), so
  *    the exchange moves O(keys·K) rows, not O(rows);
  *  - a FINAL instance (child clustered by key — `EnsureRequirements`
  *    inserts the exchange) merges to the exact per-key top K.
  * Memory is O(distinct keys per partition · K), held in an in-memory
  * `HashMap` of heaps with no spill path and no bound on the number of
  * keys. So the operator serves only explicit [[TopKPerKey]] callers;
  * the `row_number() <= K` idiom plans Spark's own window group limit,
  * which sits on a spillable sort.
  *
  * Row order within the output is unspecified (heap order) — callers
  * rank/sort the ≤K survivors, which is O(keys·K) work.
  */
case class TopKPerKeyPlan(k: Int, keyExprs: Seq[Expression],
                          order: Seq[SortOrder], child: LogicalPlan)
    extends UnaryNode {
  require(k > 0, s"top-k needs k > 0, got $k")
  require(keyExprs.nonEmpty, "top-k needs at least one key column")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyPlan =
    copy(child = newChild)
}

case class TopKPerKeyExec(k: Int, keyExprs: Seq[Expression],
                          order: Seq[SortOrder], partial: Boolean,
                          child: SparkPlan)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keyExprs) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val keyEs = keyExprs
    val so = order
    val childOut = child.output
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyEs, childOut)
      // "first K rows under the requested sort order" = the K smallest
      // under this ordering (a DESC SortOrder already inverts inside it)
      val ord = org.apache.spark.sql.catalyst.expressions.RowOrdering
        .create(so, childOut)
      // per-key max-heap of kept rows: head = worst kept row, evicted
      // when a better one arrives
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      iter.foreach { row =>
        val key = keyProj(row)
        heaps.get(key) match {
          case None =>
            val h = mutable.PriorityQueue.empty[InternalRow](ord)
            h.enqueue(row.copy())
            heaps.put(key.copy(), h)
          case Some(h) =>
            if (h.size < kLocal) h.enqueue(row.copy())
            else if (ord.compare(row, h.head) < 0) { h.dequeue(); h.enqueue(row.copy()) }
        }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Plans [[TopKPerKeyPlan]], which only the explicit [[TopKPerKey]] call
  * builds, as a partial + final [[TopKPerKeyExec]] pair. */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyPlan(k, keys, order, child) =>
      TopKPerKeyExec(k, keys, order, partial = false,
        TopKPerKeyExec(k, keys, order, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

object TopKPerKey {
  /** Prune `df` to the first `k` rows per key under `order`
    * (`(column, descending?)` — e.g. `("ts", true)` for latest-k).
    * Columns are resolved by name against the analyzed child up front,
    * yielding fully-resolved serializable catalyst expressions (a
    * `Column`-based signature would smuggle lazy `ColumnNodeExpression`
    * wrappers into the physical plan, which fail task serialization).
    * Installs [[GraftExtensions]] (idempotent) so driver-constructed
    * sessions plan the node without the extensions conf. */
  def apply(df: DataFrame, k: Int, keys: Seq[String],
            order: Seq[(String, Boolean)]): DataFrame = {
    val spark = df.sparkSession
    GraftExtensions.install(spark)
    val analyzed = df.queryExecution.analyzed
    def attr(n: String): Attribute = analyzed.output.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(
        s"top-k column '$n' not in ${analyzed.output.map(_.name).mkString(", ")}"))
    val sortOrders = order.map { case (n, desc) =>
      SortOrder(attr(n),
        if (desc) org.apache.spark.sql.catalyst.expressions.Descending
        else Ascending)
    }
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      TopKPerKeyPlan(k, keys.map(attr), sortOrders, analyzed))
  }
}
