package graft
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Exits 1,
  * naming them, when any query failed. */
object Verify {
  def main(args: Array[String]): Unit = {
    JvmOpens.check() // fail fast on a bare-java launch (see JvmOpens)
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (fast local
    // iteration); an unknown name fails here, before the session is built
    val selected = Bench.select(
      if (args.length > 2) args(2).split(",").toSeq else Nil)
    val spark = Session.local()
    // INFO shows BlockManager eviction decisions (the small-heap stress
    // repro of the round-13 gate crash reads block ids from it)
    spark.sparkContext.setLogLevel(
      sys.env.getOrElse("SPARK_GRAFT_LOG_LEVEL", "WARN"))
    new java.io.File(outDir).mkdirs()
    val failed = dump(spark, sfDir, outDir, selected)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} of ${selected.size} " +
        s"queries failed: ${failed.mkString(" ")}")
      sys.exit(1)
    }
  }

  /** Writes each entry's result to `outDir/<name>` as one parquet file
    * and returns the names of the entries that threw. */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
                          entries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[String] =
    entries.flatMap { case (name, fn) =>
      val failed =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      Bench.reset(spark)
      failed
    }
}
