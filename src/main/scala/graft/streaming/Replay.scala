package graft.streaming

import java.io.File
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import graft.Tbl
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.StructType

/** A bounded replay through the parquet file stream source, the engine's
  * one parquet `readStream`: the operation exactly-once and prefix
  * consistency rest on (a source replayed from a checkpoint). Two forms:
  *
  * Chunked (`filesPerBatch` 1, StreamBench and the restart specs): each
  * staged file has a strictly later mtime than any before it and the
  * source lists by mtime, so staged order IS batch order. A file is
  * staged straight in ([[stage]]) or held back and [[release]]d later
  * ([[hold]]), which is how a run stops after batch j; every [[run]] is
  * an AvailableNow drain on the SAME checkpoint, so the second is a
  * restart.
  *
  * Registry (`filesPerBatch` `Int.MaxValue`, the registry streams):
  * existing files [[link]]ed in as they are, drained as ONE micro-batch.
  *
  * Source dir and checkpoint live under `Tbl.scratchDir`, swept at JVM
  * exit. */
final class Replay(s: SparkSession, schema: StructType, filesPerBatch: Int = 1) {
  private val dir = new File(Tbl.scratchDir("replay_src"))
  private[graft] lazy val checkpoint = Tbl.scratchDir("replay_ckpt")
  private val held = scala.collection.mutable.Queue.empty[File]

  /** The replay as a stream; `filesPerBatch` files per micro-batch. */
  def source: DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", filesPerBatch.toString)
      .parquet(dir.toString)

  /** `file` enters the source now as a symbolic link: not copied, not
    * re-dated (its mtime, and every cache keyed on it through
    * `Tbl.fileKey`, stays as it is), and free to sit on another device
    * than the source dir. */
  def link(file: Path): this.type = {
    Files.createSymbolicLink(dir.toPath.resolve(file.getFileName), file.toAbsolutePath)
    this
  }

  /** `df` as the next file; it, and any file held before it, enters the
    * source now. */
  def stage(df: DataFrame): Unit = { hold(Replay.stamp(Replay.parts(df.coalesce(1)))); release() }

  /** Queue staged files behind those already held; none enters the
    * source until released. Files are linked in, not moved, so one cut
    * ([[Replay.chunks]]) can feed many replays. */
  def hold(files: Seq[File]): this.type = { held ++= files; this }

  /** The next `n` held files (all by default) enter the source. */
  def release(n: Int = Int.MaxValue): Unit =
    for (_ <- 0 until math.min(n, held.size)) {
      val f = held.dequeue()
      // a hard link keeps the staged mtime the source orders by
      Files.createLink(new File(dir, f.getName).toPath, f.toPath)
    }

  /** Drain what the source holds now, on this replay's checkpoint, and
    * return the progress of the batches that carried data. */
  def run(writer: DataStreamWriter[Row]): Array[StreamingQueryProgress] =
    Replay.drain(writer, checkpoint)
}

object Replay {

  /** `df` cut into `k` contiguous ranges of `by`, one staged file each,
    * in range order: replayed, the event time advances monotonically
    * chunk by chunk, like a live feed. */
  def chunks(df: DataFrame, k: Int, by: Column): Seq[File] = {
    // repartitionByRange gives range i to partition i, whose part file
    // sorts i-th by name
    val files = parts(df.repartitionByRange(k, by))
    require(files.length == k, s"expected $k chunk files, got ${files.length}")
    stamp(files)
  }

  /** `df` written as the single parquet file `dst`. */
  private[graft] def writeFile(df: DataFrame, dst: Path): Path = {
    val files = parts(df.coalesce(1))
    require(files.length == 1, s"expected one part file for $dst, got ${files.length}")
    Files.move(files.head.toPath, dst)
  }

  /** Write `df` to a fresh scratch dir; its part files in partition order. */
  private def parts(df: DataFrame): Seq[File] = {
    val out = Tbl.scratchDir("replay_stage")
    df.write.mode("overwrite").parquet(out)
    new File(out).listFiles().toSeq
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
  }

  // files staged so far in this JVM, by every replay: the n-th is dated
  // t0 + 2n s (mtime granularity is 1 s on some filesystems)
  private val staged = new AtomicLong()
  private val t0 = System.currentTimeMillis()

  private def stamp(files: Seq[File]): Seq[File] = files.map { f =>
    require(f.setLastModified(t0 + staged.getAndIncrement() * 2000L),
            s"mtime set failed: $f")
    f
  }

  /** Start `writer` under `Trigger.AvailableNow` on `checkpoint`, wait
    * until it has drained its source, stop it and release its state
    * store providers (maps / RocksDB handles) instead of leaving them
    * for the maintenance pass; the next start on the checkpoint loads
    * state from its files. The one bounded-stream start in the engine
    * (see also [[StreamingOps]]' `drain`). */
  private[streaming] def drain(writer: DataStreamWriter[Row], checkpoint: String)
      : Array[StreamingQueryProgress] = {
    val q = writer.option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      q.recentProgress.filter(_.numInputRows > 0)
    } finally {
      q.stop()
      org.apache.spark.sql.graft.StateStoreHygiene.unloadAll()
    }
  }
}
