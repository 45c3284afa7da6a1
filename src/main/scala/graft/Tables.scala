package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame   = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = apply(s, d, "region")
  /** events.ts physical type has drifted across driver testdata
    * generations: TIMESTAMP(NANOS) originally, TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) since 2026-08. Detect the footer type once
    * per directory (cached) and normalize every variant to the SAME
    * TimestampType epoch-micros column, so nothing downstream ever sees
    * the drift. */
  private val tsTypeCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.DataType]()
  private[graft] def eventsTsType(s: SparkSession, d: String): org.apache.spark.sql.types.DataType = {
    val p = s"$d/events.parquet"
    // size+mtime in the key: a file REGENERATED in place (the driver
    // does this across rounds) re-infers instead of serving the stale
    // unit; schema work runs OUTSIDE the map so no footer read ever
    // holds a CHM bin lock (round-7 ADVICE) — a racing duplicate read
    // is idempotent and putIfAbsent keeps the first
    val f = new java.io.File(p)
    val key = s"$p|${f.length}|${f.lastModified}"
    val cached = tsTypeCache.get(key)
    if (cached != null) cached else {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val dt = s.read.parquet(p).schema("ts").dataType
      tsTypeCache.putIfAbsent(key, dt)
      dt
    }
  }

  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    eventsTsType(s, d) match {
      case LongType =>
        // ns-as-long (legacy conf): data is µs-precision, `ns div 1000`
        // is lossless and matches DuckDB's epoch_us exactly
        apply(s, d, "events").withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // NTZ µs: an explicit LTZ schema makes the parquet reader take
        // the raw int64 micros as epoch-micros — bit-identical to the
        // ns-file path (driver wall-clock is UTC = epoch)
        val sch = StructType(apply(s, d, "events").schema.map(f =>
          if (f.name == "ts") f.copy(dataType = TimestampType) else f))
        s.read.schema(sch).parquet(s"$d/events.parquet")
      case _ => apply(s, d, "events") // already LTZ micros (our own writers)
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

  /** Cached per-file parquet row-group counts for the fan-out probe.
    * Key includes size+mtime so a file regenerated in place re-probes —
    * the same discipline as [[eventsTsType]]'s cache. */
  private val rowGroupCache =
    scala.collection.concurrent.TrieMap.empty[String, Int]

  private def parquetRowGroups(s: SparkSession, path: String): Int = {
    val f = new java.io.File(path.stripPrefix("file:"))
    val key = s"$path|${f.length}|${f.lastModified}"
    rowGroupCache.getOrElseUpdate(key, {
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
