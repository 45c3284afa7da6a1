package graft

import org.apache.spark.sql.functions._

/** Round-16 optimization pins.
  *
  *  - Salted setup-write clustering (ScaleOps.clusterForWrite): the bare
  *    `repartition($"pcol")` form put each partition VALUE on one writer
  *    task — fine at sf0.1, a five-writer serialization of the whole
  *    table at 100 TB (r15 VERDICT "what's wrong" #2). The salted form
  *    must keep the file count bounded (≤ salts per value) WHILE
  *    spreading each value over more than one writer.
  *
  *  - Row-group fan-out probe (Tbl.scanEffectiveSplits): the split-count
  *    probe (`df.rdd.getNumPartitions`) over-reported parallelism for a
  *    single-row-group file larger than maxPartitionBytes — byte-range
  *    splits past the only row group read nothing (r15 ADVICE). The
  *    probe must count row groups, not byte ranges.
  */
class ScaleWriteSpec extends SparkSpec {

  test("salted write clustering: ≤ salts files per value, > 1 writer per value") {
    import spark.implicits._
    val k = graft.operators.ScaleOps.writeSalts(spark)
    val df = spark.range(0, 4000)
      .select(($"id" % 4).cast("string").as("p"), $"id".as("event_id"))
    val dir = Tbl.scratchDir("salted_write")
    // a deployment-shaped task count (the spec session defaults to 4,
    // where 8 salts legitimately collide into one writer task), and AQE
    // byte-coalescing OFF: on this KB-sized exchange AQE correctly
    // collapses to one partition, which is exactly what cannot happen
    // at the 100 TB volumes whose serialization the salt exists to fix
    // — the pin is the hash-spread mechanism, not AQE policy
    Session.withConf(spark, "spark.sql.shuffle.partitions" -> "32",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      graft.operators.ScaleOps.clusterForWrite(df, "p", "event_id")
        .write.mode("overwrite").partitionBy("p").parquet(dir)
    }
    val perValue = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("p="))
      .map(d => d.getName ->
        d.listFiles().count(f => f.getName.endsWith(".parquet")))
    assert(perValue.length == 4)
    perValue.foreach { case (v, n) =>
      assert(n <= k, s"$v wrote $n files > salts=$k (small-files spray)")
      assert(n >= 2, s"$v wrote $n file(s) — value still serialized on one writer")
    }
  }

  test("a malformed spark.graft.writeSalts fails with its value") {
    import spark.implicits._
    val df = spark.range(0, 8).select(($"id" % 2).as("p"), $"id".as("event_id"))
    val prev = spark.conf.getOption("spark.graft.writeSalts")
    try Seq("eight", "0", "-3").foreach { v =>
      spark.conf.set("spark.graft.writeSalts", v)
      val e = intercept[IllegalArgumentException] {
        graft.operators.ScaleOps.clusterForWrite(df, "p", "event_id")
      }
      assert(e.getMessage == s"spark.graft.writeSalts '$v' is not a positive integer")
    } finally prev match {
      case Some(p) => spark.conf.set("spark.graft.writeSalts", p)
      case None => spark.conf.unset("spark.graft.writeSalts")
    }
  }

  test("fan-out probe counts row groups, not byte-range splits") {
    import spark.implicits._
    val dir = Tbl.scratchDir("rg_probe")
    // one file, ONE row group, but physically larger than the split size
    // forced below — the old split-count probe saw many (empty) splits
    spark.range(0, 5000)
      .select($"id", concat_ws("", (1 to 40).map(_ => md5($"id".cast("string"))): _*).as("pad"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
      val df = spark.read.parquet(dir)
      val byteRangeSplits = df.rdd.getNumPartitions
      assert(byteRangeSplits > 1,
        s"test setup: expected >1 byte-range split, got $byteRangeSplits")
      assert(Tbl.scanEffectiveSplits(df) == 1,
        "probe must report the single row group, not the empty byte ranges")
      assert(Tbl.needsFanOut(1, target = 4))
      assert(!Tbl.needsFanOut(3, target = 4))
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }
}
