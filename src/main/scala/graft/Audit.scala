package graft

import org.apache.spark.sql.functions._

/** Decade-scale audit of the ed≤2 fuzzy join's blocking relation
  * (round-7 VERDICT item #5), kept as a main so the measurement is
  * reproducible, not archaeology:
  *
  *   runMain graft.Audit j9skew <sfDir>    — variant-hash key
  *     distribution: bucket size histogram + the candidate-pair mass
  *     each bucket size contributes (sum over buckets of C(sz,2)). A
  *     heavy key would show as top-bucket >> p99; near-singleton
  *     buckets mean the equi-join has no skew to fix.
  */
object Audit {
  def main(args: Array[String]): Unit = {
    JvmOpens.check() // fail fast on a bare-java launch (see JvmOpens)
    val cmd = args.headOption.getOrElse("j9skew")
    val sfDir = args.lift(1).getOrElse("/tmp/graft_sf10")
    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    cmd match {
      case "j9skew" =>
        // the ed≤2 blocking relation, via the SAME builder the query
        // runs (FuzzyJoinOps.deletionKeyed) — the audit measures the
        // exact relation, immune to construction drift (round-8 ADVICE)
        val rel = graft.operators.FuzzyJoinOps.hexNames(spark, sfDir)
        val keyed = graft.operators.FuzzyJoinOps.deletionKeyed(rel, 2)
        val buckets = keyed.groupBy($"kh").agg(count(lit(1)).as("sz")).persist()
        val stats = buckets.agg(
          count(lit(1)).as("n_buckets"), sum($"sz").as("n_rows"),
          max($"sz").as("max_sz"), avg($"sz").as("avg_sz"),
          expr("approx_percentile(sz, array(0.5, 0.99, 0.999))").as("p"),
          sum($"sz" * ($"sz" - 1) / 2).as("candidate_mass")).collect()(0)
        System.err.println(s"[audit] j9 blocking keys: $stats")
        val hist = buckets.groupBy($"sz").agg(
            count(lit(1)).as("n_buckets"),
            (count(lit(1)) * $"sz" * ($"sz" - 1) / 2).as("pair_mass"))
          .orderBy($"sz").collect()
        hist.foreach(r => System.err.println(s"[audit] bucket_sz=${r.get(0)} " +
          s"n=${r.get(1)} pair_mass=${r.get(2)}"))

      case other => sys.error(s"unknown audit: $other")
    }
    spark.stop()
  }
}
