package graft

import org.scalatest.funsuite.AnyFunSuite

/** The README's "Knobs" table is the inventory of every env var and
  * `spark.graft.*` conf the engine reads: a knob added to `src/main`
  * without a row, or a row whose knob is gone, fails here. */
class KnobInventorySpec extends AnyFunSuite {

  private val Knob = """SPARK_GRAFT_[A-Z0-9_]+|spark\.graft\.[A-Za-z0-9]+""".r

  private def read(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  private def sources(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(sources)
    else if (f.getName.endsWith(".scala")) Seq(f) else Nil

  test("README's Knobs table names exactly the knobs src/main mentions") {
    val main = new java.io.File("src/main")
    assert(main.isDirectory, "run from the repo root; cwd has no src/main")
    val inCode = sources(main).flatMap(f => Knob.findAllIn(read(f))).toSet
    val readme = read(new java.io.File("README.md"))
    val at = readme.indexOf("\n## Knobs\n")
    assert(at >= 0, "README has no '## Knobs' section")
    val section = readme.substring(at + 1).split("\n## ", 2).head
    val inTable = section.linesIterator.filter(_.startsWith("| `"))
      .flatMap(l => Knob.findFirstIn(l)).toSet
    assert(inCode.nonEmpty)
    assert((inCode -- inTable).isEmpty, s"knobs missing from README: ${inCode -- inTable}")
    assert((inTable -- inCode).isEmpty, s"README rows with no reader: ${inTable -- inCode}")
  }
}
