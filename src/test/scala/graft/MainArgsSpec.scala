package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** A bad argument or knob ends a main with its message on one line and
  * exit status 2, before any session is built: no stack trace. Each
  * main runs as a subprocess, launched the way `JvmOpensSpec` launches
  * `KryoProbe`. */
class MainArgsSpec extends AnyFunSuite {

  private val javaBin =
    new File(new File(sys.props("java.home"), "bin"), "java").getPath

  /** (exit status, stdout + stderr) of `main args`, with no inherited
    * `SPARK_GRAFT_*` variable and `env` added. */
  private def run(env: Map[String, String], main: String, args: String*): (Int, String) = {
    val opens = org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptionArray().toSeq
    val cmd = Seq(javaBin, "-Xmx512m") ++ opens ++
      Seq("-cp", sys.props("java.class.path"), main) ++ args
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    pb.environment().keySet().removeIf(_.startsWith("SPARK_GRAFT_"))
    env.foreach { case (k, v) => pb.environment().put(k, v) }
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes())
    (p.waitFor(), out)
  }

  private def assertUsageExit(exitAndOut: (Int, String), message: String): Unit = {
    val (exit, out) = exitAndOut
    assert(exit == 2, out.take(3000))
    assert(!out.contains("Exception in thread"), out.take(3000))
    assert(out.linesIterator.exists(_.startsWith(message)), out.take(3000))
  }

  test("Explain with an unknown query name exits 2 listing the valid names") {
    val r = run(Map.empty, "graft.Explain", "no_such_query")
    assertUsageExit(r, "unknown query no_such_query; valid names: ")
    assert(r._2.linesIterator.exists(l =>
      l.contains("valid names: ") && l.contains(" q1_pricing_summary ")), r._2.take(3000))
  }

  test("StreamBench with an unknown layout exits 2") {
    assertUsageExit(run(Map.empty, "graft.StreamBench", "no_such_layout"),
                    "unknown layout no_such_layout; valid names: ")
  }

  test("Bench with a malformed core count exits 2 naming the knob") {
    assertUsageExit(run(Map("SPARK_GRAFT_CPUS" -> "zero"), "graft.Bench", "q1_pricing_summary"),
                    "SPARK_GRAFT_CPUS 'zero' is not a positive integer")
  }
}
