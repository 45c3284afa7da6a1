package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-provided parquet star schema (TESTDATA.md) plus
  * shared column helpers used across the query registry.
  *
  * Determinism discipline (SURVEY.md §7.1): the driver hash-compares our
  * results against a DuckDB oracle, so every aggregate over doubles is
  * computed on exactly-scaled integers (`cents`) — IEEE +,-,*,/ and integer
  * math are bit-identical across engines, while naive double summation is
  * order-dependent. libm-backed functions (sin/cos/...) are only ever
  * surfaced through coarse rounding.
  */
object Tbl {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    load(spark, s"$dir/$name.parquet")

  private def load(s: SparkSession, p: String): DataFrame =
    s.read.schema(schema(s, p)).parquet(p)

  /** Fingerprint of a file for metadata memos: path + size + mtime, so
    * a file REGENERATED in place (testdata generations have changed
    * events.ts's type in place) misses instead of serving stale state. A directory (our own writers) keys on the dir entry, whose
    * mtime changes when files are added to or removed from it. */
  private[graft] def fileKey(p: String): String = {
    val f = new java.io.File(p.stripPrefix("file:"))
    s"$p|${f.length}|${f.lastModified}"
  }

  /** The session confs that change what parquet schema inference
    * returns for the same footer; their values are part of the
    * [[schema]] key, so e.g. a `nanosAsLong` read never serves a
    * schema inferred without it. */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp")

  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Footer schema of the parquet file at `p`, inferred once per
    * ([[fileKey]], inference confs). A schemaless `read.parquet` runs a
    * one-task inference job on every call (~0.1 s); every registry load
    * re-reads the same tables, so [[apply]] passes this schema instead.
    * Inference runs OUTSIDE the map so no footer read ever holds a CHM
    * bin lock; a racing duplicate read is idempotent and putIfAbsent
    * keeps the first. */
  private[graft] def schema(s: SparkSession, p: String): StructType = {
    val key = (fileKey(p) +: inferenceConfs.map(s.conf.get)).mkString("|")
    val cached = schemaCache.get(key)
    if (cached != null) cached else {
      val sch = s.read.parquet(p).schema
      Option(schemaCache.putIfAbsent(key, sch)).getOrElse(sch)
    }
  }

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame   = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = apply(s, d, "region")
  /** events.ts physical type has drifted across driver testdata
    * generations: TIMESTAMP(NANOS) originally, TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) since 2026-08. Read the footer type (under
    * `nanosAsLong`, through the [[schema]] cache) and normalize every
    * variant to the SAME TimestampType epoch-micros column, so nothing
    * downstream ever sees the drift. */
  private[graft] def eventsTsType(s: SparkSession, d: String): DataType = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema(s, s"$d/events.parquet")("ts").dataType
  }

  def events(s: SparkSession, d: String): DataFrame = {
    val p = s"$d/events.parquet"
    eventsTsType(s, d) match {
      case LongType =>
        // ns-as-long (legacy conf): data is µs-precision, `ns div 1000`
        // is lossless and matches DuckDB's epoch_us exactly
        load(s, p).withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // NTZ µs: an explicit LTZ schema makes the parquet reader take
        // the raw int64 micros as epoch-micros — bit-identical to the
        // ns-file path (driver wall-clock is UTC = epoch)
        val sch = StructType(schema(s, p).map(f =>
          if (f.name == "ts") f.copy(dataType = TimestampType) else f))
        s.read.schema(sch).parquet(p)
      case _ => load(s, p) // already LTZ micros (our own writers)
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Throwaway scratch dir (stream checkpoints, temp sinks): prefer the
    * tmpfs at /dev/shm over the disk-backed /tmp — state-store commits
    * and checkpoint fsyncs are pure overhead for AvailableNow runs. */
  def scratchDir(prefix: String): String = {
    val shm = new java.io.File("/dev/shm")
    val base = if (shm.isDirectory && shm.canWrite) {
      val d = new java.io.File(shm, "graft_scratch"); d.mkdirs(); d.toPath
    } else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val dir = java.nio.file.Files.createTempDirectory(base, prefix)
    scratchCreated.add(dir.toFile)
    dir.toString
  }

  // RAM-backed scratch must not outlive the JVM: without the sweep,
  // repeated runs grow /dev/shm monotonically until tmpfs is exhausted
  private val scratchCreated =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    scratchCreated.forEach { f =>
      def rm(x: java.io.File): Unit = {
        Option(x.listFiles).foreach(_.foreach(rm)); x.delete(); ()
      }
      try rm(f) catch { case _: Throwable => }
    }))

  /** Shuffle/spill dir for the local[n] sessions (`spark.local.dir`):
    * tmpfs when present — local-mode shuffle files are ephemeral by
    * construction, so there is nothing durable to lose. */
  def sparkLocalDir: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) {
      val d = new java.io.File(shm, "graft_local"); d.mkdirs(); d.getAbsolutePath
    } else System.getProperty("java.io.tmpdir")
  }

  /** Cached per-file parquet row-group counts for the fan-out probe,
    * keyed on [[fileKey]] so a file regenerated in place re-probes. */
  private val rowGroupCache =
    scala.collection.concurrent.TrieMap.empty[String, Int]

  private def parquetRowGroups(s: SparkSession, path: String): Int = {
    rowGroupCache.getOrElseUpdate(fileKey(path), {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), s.sessionState.newHadoopConf())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRowGroups.size finally r.close()
    })
  }

  /** Effective maximum scan parallelism of `df`: total parquet row
    * groups across its input files. Row groups — not byte-range splits
    * — bound the NON-EMPTY task count of a parquet scan: a single-
    * row-group file larger than maxPartitionBytes plans many splits of
    * which all but one read nothing, so a split-count probe (the
    * previous implementation, via `df.rdd.getNumPartitions`) silently
    * reported "parallel enough" in exactly the unsplittable-input case
    * the fan-out exists for — and paid a full physical-planning pass
    * per probe to do it (round-15 ADVICE, both lows). Footer reads are
    * cached per (path, size, mtime); the walk stops as soon as the
    * count clears any plausible threshold, so a deployment-scale table
    * with thousands of files answers from its file COUNT alone, zero
    * footers read. Non-parquet inputs fall back to the planned
    * partition count. */
  private[graft] def scanEffectiveSplits(df: DataFrame): Int = {
    val s = df.sparkSession
    val enough = math.max(2, s.sparkContext.defaultParallelism)
    val files = df.inputFiles
    if (files.length >= enough) files.length
    else if (files.nonEmpty && files.forall(_.endsWith(".parquet"))) {
      var total = 0
      val it = files.iterator
      while (it.hasNext && total < enough) total += parquetRowGroups(s, it.next())
      total
    } else df.rdd.getNumPartitions
  }

  /** Shared fan-out threshold (also the streaming twin's —
    * [[graft.streaming.StreamingOps]] `fanOutStream`). */
  private[graft] def needsFanOut(splits: Int, target: Int): Boolean =
    target > 1 && splits < math.max(2, target / 2)

  /** Fan out a compute-heavy map span over an effectively-unsplittable
    * scan (guide §2.5 "input skew: one huge unsplittable file ...
    * otherwise repartition immediately after the read").
    *
    * The driver's testdata ships every table as ONE parquet file with
    * ONE row group, so every scan plans at most one non-empty task —
    * byte-range splits beyond the single row group read nothing — and
    * everything upstream of the first exchange runs on one core at any
    * local scale factor. For queries whose pre-exchange span is heavy
    * per-row work (to_xml/from_xml, to_json/from_json round trips,
    * variant parsing), that single task IS the query's wall.
    *
    * Scale-adaptive by construction, not a local[32] constant: the
    * round-robin repartition is added ONLY when the scan's effective
    * split count (row groups, see [[scanEffectiveSplits]]) is below
    * half the session's default parallelism — at real scale (many
    * files / many row groups) the condition is false and the plan is
    * untouched, so no exchange is ever added where the scan already
    * parallelizes. The exchange it does add locally carries the narrow
    * scan output once, orders cheaper than the serialized span. */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (needsFanOut(scanEffectiveSplits(df), target)) df.repartition(target)
    else df
  }

  /** Exact integer representation of a 2-decimal double (money/metric). */
  def cents(c: Column): Column = round(c * 100).cast("long")
}
