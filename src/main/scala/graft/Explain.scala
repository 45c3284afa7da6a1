package graft

/** Plan-audit aid: print the formatted executed plan of registered
  * queries without running them to completion.
  * Usage: sbt "runMain graft.Explain [query...] [sfDir]" (no query =
  * every registered one; an unknown name exits 2 before the session is
  * built, listing the valid names). */
object Explain {
  def main(args: Array[String]): Unit = {
    JvmOpens.check() // fail fast on a bare-java launch (see JvmOpens)
    // the iterative ops' unroll knob is a SYSTEM PROPERTY only this
    // entrypoint sets (from the env var): an UNROLL var lingering in a
    // Bench/Verify shell must not change those runs' plans (r15 ADVICE)
    if (sys.env.contains("SPARK_GRAFT_UNROLL_PLANS"))
      System.setProperty("graft.unrollPlans", "1")
    val (names, dir) =
      if (args.nonEmpty && new java.io.File(args.last).isDirectory)
        (args.init.toSeq, args.last)
      else (args.toSeq, sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
        "/root/testdata/sf0.001"))
    val (selected, cpus) = Bench.orUsageExit((Bench.select(names), Session.cpus))
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_EXPLAIN_MODE=formatted prints the numbered-operator
    // form (PushedFilters/ReadSchema per scan) the optimization-round
    // plan artifacts use; default stays the compact tree.
    val mode = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_MODE", "simple")
    for ((name, q) <- selected) {
      println(s"===== $name =====")
      val qe = q(spark, dir).queryExecution
      if (mode == "formatted")
        println(qe.explainString(org.apache.spark.sql.execution.FormattedMode))
      else println(qe.executedPlan.toString)
    }
    spark.stop()
  }
}
