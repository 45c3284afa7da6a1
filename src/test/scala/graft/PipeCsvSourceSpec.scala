package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types._

/** DataSource V2 pipe-CSV frame reader (`graft.sources.pipecsv`):
  * correctness of the parse, split planning over computed byte ranges,
  * column pruning, and filter pushdown (the scan output itself, not a
  * post-scan Filter, drops the rows).
  */
class PipeCsvSourceSpec extends SparkSpec {

  private val frameLen = 40
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("kind", StringType),
    StructField("score", DoubleType), StructField("n", IntegerType)))

  /** 7 frames, fixed 40-byte bodies + '\n', two files. */
  private lazy val dir: String = {
    val d = Tbl.scratchDir("pipecsv_spec")
    def frame(s: String) = {
      require(s.length <= frameLen, s)
      s + " " * (frameLen - s.length) + "\n"
    }
    Files.writeString(Paths.get(d, "part-0.txt"),
      Seq("1|alpha|1.5|10", "2|beta|2.5|20", "3|alpha|3.5|30", "4|gamma|4.5|40")
        .map(frame).mkString)
    Files.writeString(Paths.get(d, "part-1.txt"),
      Seq("5|beta|5.5|50", "6|alpha|6.5|60", "7|delta|7.5|70")
        .map(frame).mkString)
    Files.writeString(Paths.get(d, "_SUCCESS"), "") // must be skipped
    d
  }

  private def read() =
    spark.read.format("pipecsv").schema(schema)
      .option("frameLen", frameLen).option("framesPerSplit", 2)
      .load(dir)

  test("full read parses every frame with types, across files and splits") {
    val rows = read().orderBy("id").collect()
    assert(rows.length === 7)
    assert(rows.head.toSeq === Seq(1L, "alpha", 1.5, 10))
    assert(rows.last.toSeq === Seq(7L, "delta", 7.5, 70))
    // framesPerSplit=2 over 4+3 frames → 2+2 splits planned
    assert(read().rdd.getNumPartitions === 4)
  }

  test("pushed filters prefilter inside the reader: scan emits only matches") {
    import spark.implicits._
    val df = read().where($"kind" === "alpha" && $"id" > 1).select($"id", $"n")
    assert(df.orderBy("id").collect().map(_.toSeq).toSeq ===
      Seq(Seq(3L, 30), Seq(6L, 60)))
    val scan = df.queryExecution.executedPlan.collectFirst {
      case s: BatchScanExec => s
    }.get
    // both predicates pushed into the DSv2 scan...
    assert(scan.scan.description().contains("EqualTo(kind,alpha)"))
    assert(scan.scan.description().contains("GreaterThan(id,1)"))
    // ...and the scan's own output is already filtered
    assert(scan.execute().count() === 2)
  }

  /** 2000-frame single file for the sample-pushdown statistics. */
  private lazy val bigDir: String = {
    val d = Tbl.scratchDir("pipecsv_sample")
    val sb = new StringBuilder
    (0 until 2000).foreach { i =>
      val s = s"$i|k${i % 4}|${i % 10}.5|${i % 100}"
      sb.append(s).append(" " * (frameLen - s.length)).append("\n")
    }
    Files.writeString(Paths.get(d, "part-0.txt"), sb.toString)
    d
  }

  private def readBig() =
    spark.read.format("pipecsv").schema(schema)
      .option("frameLen", frameLen).option("framesPerSplit", 256)
      .load(bigDir)

  test("TABLESAMPLE pushes into the scan: no Sample node, seekable frame skip") {
    readBig().createOrReplaceTempView("pcs_big")
    val df = spark.sql(
      "SELECT id FROM pcs_big TABLESAMPLE (20 PERCENT) REPEATABLE (7)")
    val plan = df.queryExecution.executedPlan
    // the Sample operator is GONE from the engine plan — the scan owns it
    assert(plan.collectFirst {
      case s: org.apache.spark.sql.execution.SampleExec => s }.isEmpty,
      s"SampleExec survived above the scan:\n$plan")
    val scan = plan.collectFirst { case s: BatchScanExec => s }.get
    assert(scan.scan.description().contains("PushedSample"))
    assert(scan.scan.description().contains("seed=7"))
    // rate-accurate: 2000 Bernoulli(0.2) trials, ±5σ ≈ ±89
    val n = df.count()
    assert(math.abs(n - 400L) <= 89L, s"sampled $n of 2000 at 20%")
    // REPEATABLE: same seed → identical row set, bit for bit
    val again = spark.sql(
      "SELECT id FROM pcs_big TABLESAMPLE (20 PERCENT) REPEATABLE (7)")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ===
           again.collect().map(_.getLong(0)).sorted.toSeq)
    // different seed → a different selection (P[identical] ≈ 0)
    val other = spark.sql(
      "SELECT id FROM pcs_big TABLESAMPLE (20 PERCENT) REPEATABLE (8)")
    assert(other.collect().map(_.getLong(0)).sorted.toSeq !==
           df.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("df.sample pushes when directly over the scan; engine composition pinned") {
    import spark.implicits._
    val df = readBig().sample(0.25, 42L).select($"id")
    val plan = df.queryExecution.executedPlan
    assert(plan.collectFirst {
      case s: org.apache.spark.sql.execution.SampleExec => s }.isEmpty)
    val scan = plan.collectFirst { case s: BatchScanExec => s }.get
    assert(scan.scan.description().contains("PushedSample"))
    // 2000 frames at 25%: ±5σ ≈ ±97
    val ids = df.collect().map(_.getLong(0))
    assert(math.abs(ids.length - 500) <= 97, s"got ${ids.length}")
    // engine behavior pin: Spark 4.1 pushes a sample ONLY when it sits
    // DIRECTLY over the relation — with a filter below it, the filter
    // pushes and SampleExec stays engine-side (correct, just not
    // IO-skipping). If a Spark upgrade starts composing them, this pin
    // flips and the reader's filter+sample path takes over.
    val mixed = readBig().where($"kind" === "k1").sample(0.25, 42L).select($"id")
    val mixedPlan = mixed.queryExecution.executedPlan
    assert(mixedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.SampleExec => s }.nonEmpty)
    val mixedScan = mixedPlan.collectFirst { case s: BatchScanExec => s }.get
    assert(mixedScan.scan.description().contains("EqualTo(kind,k1)"))
    // sampling WITH replacement is declined: Spark keeps its SampleExec
    val rep = readBig().sample(withReplacement = true, 0.25, 42L)
    assert(rep.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.SampleExec => s }.nonEmpty)
  }

  test("column pruning reaches the scan: 2-column projection reads 2 fields") {
    import spark.implicits._
    val df = read().select($"id", $"score")
    val scan = df.queryExecution.executedPlan.collectFirst {
      case s: BatchScanExec => s
    }.get
    assert(scan.scan.readSchema().fieldNames.toSeq === Seq("id", "score"))
    assert(df.orderBy("id").as[(Long, Double)].collect().head === ((1L, 1.5)))
  }

  test("headerless inference yields string fields c0..cN") {
    val inferred = spark.read.format("pipecsv")
      .option("frameLen", frameLen).load(dir)
    assert(inferred.schema.fieldNames.toSeq === Seq("c0", "c1", "c2", "c3"))
    assert(inferred.schema.fields.forall(_.dataType == StringType))
    assert(inferred.count() === 7)
  }

  test("micro-batch stream: admission control slices the replay into batches") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val q = spark.readStream.format("pipecsv").schema(schema)
      .option("frameLen", frameLen).option("maxFramesPerTrigger", 3)
      .load(dir)
      .groupBy($"kind").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .writeStream.format("memory").queryName("pipecsv_stream_test")
      .outputMode("complete")
      .option("checkpointLocation",
              Tbl.scratchDir("pipecsv_ck"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.stop()
    // 7 frames at 3 per trigger → 3 data batches
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches === 3, s"expected 3 micro-batches, got $dataBatches")
    val res = spark.table("pipecsv_stream_test")
      .as[(String, Long)].collect().toMap
    assert(res === Map("alpha" -> 3L, "beta" -> 2L, "gamma" -> 1L, "delta" -> 1L))
  }

  test("DSv2 write: per-task rename leaves only committed frame files") {
    import spark.implicits._
    val outDir = Tbl.scratchDir("pipecsv_write_spec")
    val in = Seq((1L, "a", 1.5, 10), (2L, "b", 2.5, 20), (3L, "c", 3.5, 30))
      .toDF("id", "kind", "score", "n")
    in.repartition(3)
      .write.format("pipecsv").option("frameLen", frameLen)
      .mode("append").save(outDir)
    // ignore dot-hidden files (Hadoop local-FS checksum sidecars); the
    // reader skips them too
    val visible = new java.io.File(outDir).listFiles()
      .filterNot(_.getName.startsWith(".")).sortBy(_.getName)
    val names = visible.map(_.getName)
    assert(names.forall(n => n.startsWith("part-") && n.endsWith(".pcsv")),
           s"unexpected files: ${names.mkString(",")}")
    assert(!names.exists(_.endsWith(".tmp")))
    // every committed file is whole frames
    assert(visible.forall(_.length % (frameLen + 1) == 0))
    val back = spark.read.format("pipecsv").schema(schema)
      .option("frameLen", frameLen).load(outDir)
      .orderBy("id").collect().map(_.toSeq).toSeq
    assert(back === in.orderBy("id").collect().map(_.toSeq).toSeq)
  }

  test("streaming sink: one deterministically-named file per (epoch, partition)") {
    import org.apache.spark.sql.streaming.Trigger
    val outDir = Tbl.scratchDir("pipecsv_sink_spec")
    val q = spark.readStream.format("pipecsv").schema(schema)
      .option("frameLen", frameLen).option("maxFramesPerTrigger", 2)
      .load(dir)
      .writeStream.format("pipecsv")
      .option("path", outDir).option("frameLen", frameLen)
      .option("checkpointLocation",
              Tbl.scratchDir("pipecsv_sink_ck"))
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.stop()
    val names = new java.io.File(outDir).listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).sorted
    assert(names.forall(_.matches("part-e\\d{10}-p\\d{5}\\.pcsv")),
           s"unexpected names: ${names.mkString(",")}")
    assert(names.length >= 4, s"expected >=4 epoch files, got: ${names.mkString(",")}")
    val back = spark.read.format("pipecsv").schema(schema)
      .option("frameLen", frameLen).load(outDir)
    assert(back.count() === 7)
    assert(back.orderBy("id").collect().map(_.getLong(0)).toSeq === (1L to 7L))
  }

  test("checkpoint restart resumes at the exact frame: no loss, no duplicates") {
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = Paths.get(Tbl.scratchDir("pipecsv_restart_src"))
    val outDir = Tbl.scratchDir("pipecsv_restart_out")
    val ckDir = Tbl.scratchDir("pipecsv_restart_ck")
    def run(): Unit = {
      val q = spark.readStream.format("pipecsv").schema(schema)
        .option("frameLen", frameLen)
        .load(srcDir.toString)
        .writeStream.format("pipecsv")
        .option("path", outDir).option("frameLen", frameLen)
        .option("checkpointLocation", ckDir)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.stop()
    }
    def readBack() = spark.read.format("pipecsv").schema(schema)
      .option("frameLen", frameLen).load(outDir)
    // run 1 sees only the first file (4 frames), drains, stops
    Files.copy(Paths.get(dir, "part-0.txt"), srcDir.resolve("part-0.txt"))
    run()
    assert(readBack().count() === 4)
    // the second file lands (names sort after — append-only contract);
    // the restarted query must resume at frame offset 4, not re-read 0-3
    Files.copy(Paths.get(dir, "part-1.txt"), srcDir.resolve("part-1.txt"))
    run()
    val back = readBack()
    assert(back.count() === 7)
    // every id exactly once: restart neither replayed nor skipped frames
    assert(back.orderBy("id").collect().map(_.getLong(0)).toSeq === (1L to 7L))
  }

  test("data skipping: min/max sidecars prune splits a pushed filter excludes") {
    import spark.implicits._
    val outDir = Tbl.scratchDir("pipecsv_skip_spec")
    // 100 frames sorted by id in ONE file, stats block = split = 10 frames
    val in = (1L to 100L).map(i => (i, s"k${i % 7}", i / 10.0, i.toInt * 2))
      .toDF("id", "kind", "score", "n")
    in.repartition(1).sortWithinPartitions("id")
      .write.format("pipecsv").option("frameLen", frameLen)
      .option("statsBlockFrames", 10)
      .mode("append").save(outDir)
    // sidecar landed beside the data file
    val side = new java.io.File(outDir).listFiles()
      .filter(_.getName.endsWith(".stats"))
    assert(side.length === 1, s"expected one sidecar in $outDir")
    def readSkip() = spark.read.format("pipecsv").schema(schema)
      .option("frameLen", frameLen).option("framesPerSplit", 10)
      .load(outDir)
    // unfiltered: 100 frames / 10 per split = 10 splits
    assert(readSkip().rdd.getNumPartitions === 10)
    // id > 80 → only the last 2 blocks can match: 8 splits pruned
    val sel = readSkip().where($"id" > 80)
    assert(sel.rdd.getNumPartitions === 2,
           "expected min/max stats to prune 8 of 10 splits")
    // ...and the pruned plan is still exactly right
    assert(sel.orderBy("id").collect().map(_.getLong(0)).toSeq === (81L to 100L))
    // a double-typed range filter prunes too (score = id/10: blocks with
    // min score 2.1+ are refuted by score < 2.05)
    val selD = readSkip().where($"score" < 2.05)
    assert(selD.rdd.getNumPartitions === 2)
    assert(selD.count() === 20)
    // conjunction with an unprunable string filter still prunes by id
    val selMix = readSkip().where($"id" <= 10 && $"kind" === "k1")
    assert(selMix.rdd.getNumPartitions === 1)
    assert(selMix.collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1L, 8L), s"wrong rows: ${selMix.collect().mkString}")
    // fail-open: a dir with no sidecars (raw text staging) plans all splits
    assert(read().where($"id" > 100).rdd.getNumPartitions === 4)
  }

  test("data skipping: NaN rows make the field untracked — never pruned away") {
    import spark.implicits._
    val outDir = Tbl.scratchDir("pipecsv_nan_spec")
    // 20 frames, 2 stats blocks of 10. Block 1 holds a NaN whose
    // comparison-based min/max would otherwise read max=1.0 — Spark
    // orders NaN GREATER than every double, so `score > 100` must
    // still return that row. Block 2 (max 2.0, no NaN) stays prunable.
    val in = (1L to 20L)
      .map(i => (i, s"k${i % 7}", if (i == 5L) Double.NaN else i / 10.0, i.toInt))
      .toDF("id", "kind", "score", "n")
    in.repartition(1).sortWithinPartitions("id")
      .write.format("pipecsv").option("frameLen", frameLen)
      .option("statsBlockFrames", 10)
      .mode("append").save(outDir)
    def readSkip() = spark.read.format("pipecsv").schema(schema)
      .option("frameLen", frameLen).option("framesPerSplit", 10)
      .load(outDir)
    val sel = readSkip().where($"score" > 100.0)
    assert(sel.rdd.getNumPartitions === 1,
           "NaN block must be untracked (planned); NaN-free block pruned")
    assert(sel.collect().map(_.getLong(0)).toSeq === Seq(5L),
           "the NaN row matches score > 100 under Spark NaN ordering")
    // a NaN literal in a pushed filter must fail open, not throw in
    // planInputPartitions
    assert(readSkip().where($"score" === Double.NaN).count() === 1)
  }

  test("DSv2 write rejects delimiter bytes inside string values") {
    import spark.implicits._
    val outDir = Tbl.scratchDir("pipecsv_bad_spec")
    val e = intercept[Exception] {
      Seq((1L, "has|pipe", 1.0, 1)).toDF("id", "kind", "score", "n")
        .write.format("pipecsv").option("frameLen", frameLen)
        .mode("append").save(outDir)
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("delimiter")), s"wrong error: $e")
  }

  test("registry query src_dsv2_pipecsv matches the direct-parquet result") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("src_dsv2_pipecsv")(spark, d)
    val exp = Tbl.events(spark, d)
      .where($"user_id" < 60 && $"event_type".isin("click", "purchase"))
      .select($"event_id", $"user_id", Tbl.cents($"value").as("v_c"))
      .orderBy($"event_id")
    assert(got.collect().map(_.toSeq).toSeq === exp.collect().map(_.toSeq).toSeq)
    assert(got.count() > 0)
  }
}
