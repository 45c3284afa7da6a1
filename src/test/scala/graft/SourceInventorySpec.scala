package graft

import org.scalatest.funsuite.AnyFunSuite

/** `graft.streaming.Replay` is the one parquet file stream source in the
  * engine: a `readStream` chain anywhere else in `src/main` that ends in
  * `.parquet(…)` or names `format("parquet")` fails here, by file and
  * line. Other stream formats (pipecsv, text, kafka) are not counted. */
class SourceInventorySpec extends AnyFunSuite {

  // a call's argument list, parentheses balanced to a nesting depth of 4
  private val Args = (1 to 4).foldLeft("[^()]*")((inner, _) => s"(?:[^()]|\\($inner\\))*")
  private val Chain = s"""readStream((?:\\s*\\.\\s*\\w+\\s*(?:\\($Args\\))?)*)""".r
  // the call that turns the reader into a DataFrame ends the source
  private val Load = """\.\s*(?:load|parquet|text|textFile|csv|json|orc|table)\s*\(""".r
  private val Parquet = """\.\s*parquet\s*\(|format\s*\(\s*"parquet"\s*\)""".r

  /** Line numbers of the parquet `readStream` chains in `text`. */
  private def parquetStreams(text: String): Seq[Int] =
    Chain.findAllMatchIn(text).filter { m =>
      val calls = m.group(1)
      Parquet.findFirstIn(Load.findFirstMatchIn(calls).fold(calls)(l => calls.take(l.end))).nonEmpty
    }.map(m => text.substring(0, m.start).count(_ == '\n') + 1).toSeq

  private def sources(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(sources)
    else if (f.getName.endsWith(".scala")) Seq(f) else Nil

  test("the scan finds parquet stream chains and only those") {
    assert(parquetStreams("""val raw = s.readStream.schema(rawSchema(tsNanos))
                            |  .option("maxFilesPerTrigger", "1000000")
                            |  .parquet(dir.toString)""".stripMargin) == Seq(1))
    assert(parquetStreams("""x
                            |s.readStream.schema(StructType(Seq(StructField("a", LongType))))
                            |  .format("parquet").load(stage)""".stripMargin) == Seq(2))
    assert(parquetStreams("""s.readStream.format("pipecsv").schema(f).load(dir)""").isEmpty)
    assert(parquetStreams("""s.readStream.text(dir).where(x).parquet(y)""").isEmpty)
    assert(parquetStreams("""  * `spark.readStream` — the reference's .parquet(x)""").isEmpty)
  }

  test("src/main builds its one parquet readStream in Replay") {
    val main = new java.io.File("src/main")
    assert(main.isDirectory, "run from the repo root; cwd has no src/main")
    val found = sources(main).flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      parquetStreams(text).map(line => s"${f.getPath}:$line")
    }
    assert(found.length == 1 && found.head.startsWith("src/main/scala/graft/streaming/Replay.scala:"),
           s"parquet readStreams in src/main (one expected, in Replay): ${found.mkString(", ")}")
  }
}
