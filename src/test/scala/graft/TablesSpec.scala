package graft

import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Tbl`'s footer-schema cache: a load reuses the schema inferred for
  * the same (file fingerprint, inference confs), so it starts no Spark
  * job, and it never serves a schema the uncached read would not give. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** `df` as the single parquet file `dir/name.parquet` (replacing one). */
  private def writeTable(df: DataFrame, dir: String, name: String): Unit = {
    val dst = Paths.get(dir, s"$name.parquet")
    Files.deleteIfExists(dst)
    streaming.Replay.writeFile(df, dst)
  }

  /** An events.parquet whose ts is TIMESTAMP(NANOS), the original
    * testdata shape, which Spark itself cannot write. */
  private def nanosEventsDir(): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val dir = Tbl.scratchDir("tables_ns")
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,true));
        |  required double value;
        |}""".stripMargin)
    val conf = new org.apache.hadoop.conf.Configuration()
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/events.parquet"), conf))
      .withType(schema).withConf(conf).build()
    val rows = new SimpleGroupFactory(schema)
    try (1L to 8L).foreach { i =>
      w.write(rows.newGroup().append("event_id", i)
        .append("ts", 1700000000000000000L + i * 1000000000L)
        .append("value", i * 1.5))
    } finally w.close()
    dir
  }

  private def lineitemDir(): String = {
    val dir = Tbl.scratchDir("tables_li")
    writeTable(spark.range(40).select($"id".as("l_orderkey"),
        ($"id" % 7).cast("double").as("l_quantity"),
        date_add(lit(java.sql.Date.valueOf("1995-01-01")), $"id".cast("int"))
          .as("l_shipdate"),
        when($"id" % 3 === 0, "R").otherwise("N").as("l_returnflag")),
      dir, "lineitem")
    dir
  }

  /** (ReadSchema, PushedFilters) of each parquet scan in `df`'s plan. */
  private def scans(df: DataFrame): Seq[(String, String)] =
    df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec =>
      (f.metadata("ReadSchema"), f.metadata("PushedFilters"))
    }

  /** Jobs `body` starts, from a listener; a marker job started after the
    * body bounds the wait, since the bus delivers events in order. */
  private def jobsDuring(body: => Unit): Int = {
    val group = "tables_spec_" + System.nanoTime()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .flatMap(Option(_)).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "load")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "_marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.contains(group + "_marker") && System.currentTimeMillis() < deadline)
        Thread.sleep(10)
      assert(seen.contains(group + "_marker"), "marker job never reached the listener")
      seen.toArray.count(_ == group)
    } finally sc.removeSparkListener(l)
  }

  test("a file rewritten in place with a new schema is re-inferred") {
    val dir = Tbl.scratchDir("tables_rw")
    writeTable(Seq((1L, 2.5), (2L, 3.5)).toDF("k", "v"), dir, "t")
    val first = Tbl(spark, dir, "t")
    assert(first.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(first.as[(Long, Double)].collect().sorted.toSeq == Seq((1L, 2.5), (2L, 3.5)))

    val f = new java.io.File(s"$dir/t.parquet")
    val mtime = f.lastModified
    writeTable(Seq(("a", 7, true), ("b", 8, false), ("c", 9, true))
      .toDF("name", "n", "flag"), dir, "t")
    assert(f.setLastModified(mtime + 2000))
    val second = Tbl(spark, dir, "t")
    assert(second.schema == spark.read.parquet(f.getPath).schema)
    assert(second.schema.fieldNames.toSeq == Seq("name", "n", "flag"))
    assert(second.as[(String, Int, Boolean)].collect().sorted.toSeq ==
      Seq(("a", 7, true), ("b", 8, false), ("c", 9, true)))
  }

  test("inference confs are part of the key: nanosAsLong true then false") {
    val p = s"${nanosEventsDir()}/events.parquet"
    def both(v: String) = Session.withConf(spark, NanosAsLong -> v) {
      (Try(spark.read.parquet(p).schema).toEither.left.map(_.getClass),
       Try(Tbl.schema(spark, p)).toEither.left.map(_.getClass))
    }
    val (uncachedT, cachedT) = both("true")
    val (uncachedF, cachedF) = both("false")
    assert(cachedT == uncachedT && cachedF == uncachedF)
    assert(uncachedT.map(_("ts").dataType) == Right(LongType))
    // the two settings must disagree, or this test shows nothing
    assert(uncachedT != uncachedF)
    // and back: the true-keyed entry still serves the true schema
    assert(both("true") == ((uncachedT, uncachedT)))
  }

  test("a cached load plans the same scan as an uncached read") {
    val li = lineitemDir()
    def liQuery(df: DataFrame) =
      df.where($"l_quantity" > 3 && $"l_returnflag" === "R")
        .select($"l_orderkey", $"l_shipdate")
    val uncachedLi = spark.read.parquet(s"$li/lineitem.parquet")
    assert(Tbl.lineitem(spark, li).schema == uncachedLi.schema)
    assert(scans(liQuery(Tbl.lineitem(spark, li))) == scans(liQuery(uncachedLi)))
    assert(scans(liQuery(uncachedLi)).exists(_._2.contains("GreaterThan(l_quantity")))

    // events, both footer shapes: ns longs (the legacy conf) and NTZ µs
    // (an explicit LTZ schema), each against the uncached formula
    val ntz = Tbl.scratchDir("tables_ntz")
    writeTable(spark.range(1, 9).select($"id".as("event_id"),
        expr("CAST(timestamp_micros(1700000000000000 + id * 1000000) AS TIMESTAMP_NTZ)")
          .as("ts"),
        ($"id" * 1.5).as("value")),
      ntz, "events")
    def uncachedEvents(d: String) = {
      val p = s"$d/events.parquet"
      val inferred = spark.read.parquet(p)
      inferred.schema("ts").dataType match {
        case LongType =>
          inferred.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          spark.read.schema(StructType(inferred.schema.map(f =>
            if (f.name == "ts") f.copy(dataType = TimestampType) else f))).parquet(p)
        case other => fail(s"unexpected fixture ts type $other")
      }
    }
    def evQuery(df: DataFrame) = df.where($"value" > 4.0).select($"ts", $"event_id")
    for (d <- Seq(nanosEventsDir(), ntz)) Session.withConf(spark, NanosAsLong -> "true") {
      val cached = Tbl.events(spark, d)
      val uncached = uncachedEvents(d)
      assert(cached.schema == uncached.schema)
      assert(cached.schema("ts").dataType == TimestampType)
      assert(scans(evQuery(cached)) == scans(evQuery(uncached)))
      assert(scans(evQuery(uncached)).exists(_._2.contains("GreaterThan(value")))
      assert(evQuery(cached).as[(java.sql.Timestamp, Long)].collect().sortBy(_._2).toSeq ==
             evQuery(uncached).as[(java.sql.Timestamp, Long)].collect().sortBy(_._2).toSeq)
    }
  }

  test("a second load of the same table starts no Spark job") {
    val dir = Tbl.scratchDir("tables_jobs")
    writeTable(Seq((1L, "x"), (2L, "y")).toDF("k", "s"), dir, "t")
    assert(jobsDuring(Tbl(spark, dir, "t")) >= 1) // the one inference job
    assert(jobsDuring(Tbl(spark, dir, "t")) == 0)
    assert(jobsDuring(spark.read.parquet(s"$dir/t.parquet")) >= 1) // uncached
  }

  test("bpeApply trains again on a documents file rewritten in place") {
    def docs(word: String) = spark.range(20).select($"id".as("doc_id"),
      concat_ws(" ", array_repeat(lit(word), 3)).as("text"))
    val bpeApply = SparkEntry.queries("tx_bpe_apply")
    def ppm(d: String) = bpeApply(spark, d).select($"tok_per_char_ppm").as[Long].collect().toSet
    val dir = Tbl.scratchDir("tables_docs")
    writeTable(docs("aaaa"), dir, "documents")
    assert(ppm(dir) == Set(250000L)) // (a,a) then (aa,aa): one token per word

    val f = new java.io.File(s"$dir/documents.parquet")
    val mtime = f.lastModified
    writeTable(docs("bbbb"), dir, "documents")
    assert(f.setLastModified(mtime + 2000))
    // merges trained on the a-words would leave each b one token (1e6)
    assert(ppm(dir) == Set(250000L))
    val fresh = Tbl.scratchDir("tables_docs_fresh")
    writeTable(docs("bbbb"), fresh, "documents")
    assert(bpeApply(spark, dir).collect().toSeq == bpeApply(spark, fresh).collect().toSeq)
  }
}
