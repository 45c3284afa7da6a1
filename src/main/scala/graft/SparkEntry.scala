package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.sources.SourceOps
import graft.streaming.StreamingOps

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The full query surface is assembled from per-domain modules; each maps
  * operators from SURVEY.md §2 (and the LLM-pipeline extension mandate)
  * onto the driver's parquet star schema with DuckDB oracle SQL.
  */
object SparkEntry {

  private val modules: Seq[QueryModule] = Seq(
    RelationalOps,
    TemporalJoinOps,
    SpatialJoinOps,
    FuzzyJoinOps,
    AisOps,
    WindowOps,
    AnalyticsOps,
    TextOps,
    CurationOps,
    DedupOps,
    SimilarityOps,
    MultimodalOps,
    GraphOps,
    MiningOps,
    ScaleOps,
    SurfaceOps,
    SourceOps,
    StreamingOps)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalOps.queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Every query runs with the engine's extensions live (the planner
    * strategy of `TopKPerKey` and the native SQL functions): the driver
    * constructs its own SparkSession without `spark.sql.extensions`,
    * so the session is enrolled here — one line, every entry point, no
    * per-query opt-in. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.flatMap(_.queries).toMap.map { case (name, fn) =>
      name -> { (s: SparkSession, d: String) =>
        org.apache.spark.sql.graft.GraftExtensions.install(s)
        fn(s, d)
      }
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.flatMap(_.oracles).toMap
}
