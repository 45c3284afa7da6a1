package graft.streaming

import java.nio.file.{Path, Paths}

import graft.{QueryModule, Session, Tbl}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupStateTimeout, OutputMode, TimeMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2.1/2.2/2.6/2.7), run to
  * completion so the driver's DuckDB oracle can check it: each query
  * reads the events parquet AS A STREAM (a [[Replay]]), applies the
  * streaming operator under `Trigger.AvailableNow`, lands in the
  * batch-keyed parquet sink (`batchSink`), and returns the final table —
  * proving the streaming path computes exactly what the batch oracle
  * computes.
  *
  * Covered: file stream source (S1-ish), batch-keyed parquet sink,
  * checkpointing (K7), watermark (A2), sliding window agg (A1), update /
  * append / complete output modes (T4), AvailableNow trigger (T2-class),
  * flatMapGroupsWithState keyed state (T1 rebuilt), streaming dedup
  * (J5), stream-static broadcast join, foreachBatch (K5), and the
  * flagship AIS preprocess pipeline (§3.1) both batch and streaming.
  */
object StreamingOps extends QueryModule {

  /** Raw parquet schema of events; `ts` drifts with the driver's
    * testdata generation (TIMESTAMP(NANOS) read as long under the
    * legacy flag vs TIMESTAMP(MICROS) read directly as LTZ — see
    * Tbl.eventsTsType), so the ts field is parameterized. */
  private def rawSchema(tsNanos: Boolean) = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", if (tsNanos) LongType else TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** events.parquet as a bounded stream with a proper event-time col:
    * a registry-form [[Replay]] of the linked file ([[tableStream]]).
    *
    * For each type in `sentinelTypes`, a schema-aligned far-future row
    * (year ~2191, user_id = −1) is linked in beside the data: it advances
    * the event-time watermark past every real event so the terminal
    * no-data micro-batch can flush watermark-gated state (outer-join
    * nulls, final windows). The sentinels carry REAL event types on
    * purpose: an `event_type` predicate gets pushed below the
    * EventTimeWatermark node by the optimizer (PushPredicateThroughNonJoin),
    * so a row with a synthetic type would be filtered out before the
    * max-event-time bookkeeping ever saw it — measured as exactly the
    * latest real row of a joined stream stuck in state. Callers exclude
    * sentinels from results by their negative user_id at the OUTPUT. */
  private def eventStream(s: SparkSession, d: String,
                          sentinelTypes: Seq[String] = Nil): DataFrame = {
    val tsNanos = Tbl.eventsTsType(s, d) == LongType
    // written ONCE per sentinel-type set and linked thereafter: the
    // 1-row parquet write is a full Spark job (~0.2 s) that four
    // sentinel streams × two bench runs would otherwise each re-pay
    val sentinel = if (sentinelTypes.isEmpty) Nil else Seq(
      sentinelCache.getOrElseUpdate((sentinelTypes, tsNanos), {
        import s.implicits._
        val base = sentinelTypes.zipWithIndex
          .map { case (t, i) => (-1L - i, 7000000000000000000L, -1L, t, 0.0, "{}") }
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        // sentinel ts must match the dataset's physical shape: raw ns
        // long beside a ns file, a real timestamp beside a µs file
        // (same year-2191 wall-clock either way)
        Replay.writeFile(
          if (tsNanos) base else base.withColumn("ts", timestamp_micros(expr("ts div 1000"))),
          Paths.get(Tbl.scratchDir("sentinel_stage"), "sentinel.parquet"))
      }))
    val raw = tableStream(s, d, "events", rawSchema(tsNanos), sentinel)
    if (tsNanos) raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else raw
  }

  /** `d/<table>.parquet` and the `extra` files as ONE micro-batch (a
    * registry-form [[Replay]]): the update-mode queries (s2/s3) re-emit
    * refreshed state per batch, so "output = final state" needs one. */
  private def tableStream(s: SparkSession, d: String, table: String, schema: StructType,
                          extra: Seq[Path] = Nil): DataFrame =
    (Paths.get(s"$d/$table.parquet") +: extra)
      .foldLeft(new Replay(s, schema, filesPerBatch = Int.MaxValue))(_.link(_)).source

  /** Engine streaming posture, applied by [[drain]] before every stream
    * start.
    *
    * State-store provider: `RocksDBStateStoreProvider`. The Spark
    * default, HDFSBackedStateStoreProvider, holds every version of every
    * partition's state in executor heap — a hard ceiling once state
    * outgrows memory; RocksDB spills to local disk, is the only provider
    * that survives 100 TB-scale keyed state, and is the only one
    * transformWithState runs on. Changelog checkpointing keeps per-batch
    * commits delta-sized (full .zip snapshot uploads are deferred to the
    * maintenance pass, which throwaway AvailableNow runs never need). */
  private[graft] def configureStreaming(s: SparkSession): Unit = {
    // checkpoint checksums add ~1s fixed cost per query on local FS;
    // irrelevant for throwaway AvailableNow checkpoints
    s.conf.set("spark.sql.streaming.checkpointFileChecksum.enabled", "false")
    // stopped queries leave their state-store providers loaded; the
    // 60s background maintenance pass then snapshots/cleans ALL of
    // them, stealing seconds from whatever runs next — measured as
    // roaming multi-second stalls that grew with every streaming query
    // added. Throwaway checkpoints never benefit from snapshots.
    s.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "1h")
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // Checkpoint file manager: Spark's default FileContext-based manager
    // constructs a fresh FileContext — a new Hadoop Configuration parse
    // plus (without native-hadoop) a forked `chmod` — PER atomic write.
    // Measured: ~400 ms to commit a 325-byte state changelog to tmpfs,
    // ~13 s aggregate per micro-batch across 32 store instances, and the
    // same cost under the heap provider (it's the file layer, not
    // RocksDB). The FileSystem-based manager reuses Hadoop's cached
    // FileSystem: same commit ~10 ms (30×), offset/commit WAL writes
    // 37→10 ms. Rename-based atomic writes are exactly as safe on the
    // local FS this harness checkpoints to (same-volume rename is
    // atomic); a deployment checkpointing to an object store where
    // FileContext semantics matter sets
    // `spark.graft.checkpointFileManager`.
    s.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      s.conf.getOption("spark.graft.checkpointFileManager").getOrElse(
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager"))
    s.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    // Stream-stream join state layout v3 (Spark 4): one RocksDB store
    // per partition holding all four join column families, vs v1/v2's
    // four separate store instances per partition per side. Same
    // semantics, same checkpoint durability; 4× fewer instance
    // open/load/commit cycles per batch and a single range scan for
    // watermark eviction. Measured on the sf0.1 joins: updMs halves
    // (7.5→3.6 s aggregate on the 40k-row buffered join), outer-join
    // no-data flush eviction 4.9→1.7 s. The version is frozen into a
    // checkpoint at first start (restarts read the recorded version
    // from the offset log), so this only governs NEW checkpoints.
    s.conf.set("spark.sql.streaming.join.stateFormatVersion", "3")
    // RocksDB row-count tracking costs a read per put (measured: s1
    // updMs 3.5→2.2 s with tracking off) but keeps numRowsTotal
    // observable — ON as the LONG-RUNNING posture (a deployment watches
    // state growth through it); [[drain]] turns it off for bounded runs,
    // where the metric has no consumer
    s.conf.set("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
      "true")
    // default posture; drain re-sets this per stream (flushFinal)
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
  }

  /** Staged 1-row sentinel parquet per (sentinel-type set, ts shape)
    * (sentinels carry no dataset values, so the dataset dir is not part
    * of the key — but the ts physical shape is). */
  private val sentinelCache =
    scala.collection.concurrent.TrieMap.empty[(Seq[String], Boolean), Path]

  /** Checkpoint root of the most recent [[drain]]ed stream — lets specs
    * assert the state store artifacts the engine defaults actually
    * produced (RocksDB changelogs vs heap-provider .delta files). */
  @volatile private[graft] var lastCheckpointDir: String = ""

  /** Run a streaming DF to completion through [[drain]] into
    * [[batchSink]] and return its output table, read back with the
    * stream's own schema (no inference; a stream that emits nothing reads
    * back empty but typed): every batch's rows for Append/Update, the
    * last batch's, the whole result table, for Complete. Nothing is
    * collected onto the driver. */
  private def runToTable(s: SparkSession, df: DataFrame, name: String,
                         mode: OutputMode, flushFinal: Boolean = false,
                         keyDomain: Int = Int.MaxValue): DataFrame = {
    val sinkDir = Tbl.scratchDir(s"sink_$name")
    drain(s, df.writeStream.foreachBatch(batchSink(sinkDir, mode)).outputMode(mode),
          name, flushFinal, keyDomain)
    readSink(s, df.schema, sinkDir)
  }

  /** The one stream sink, keyed by batch: Append/Update overwrite
    * `dir/b<batchId>`, Complete replaces `dir`. A batch replayed after a
    * crash between its write and its commit rewrites its own output, so
    * with the replayable file source the output is exactly-once. */
  private[graft] def batchSink(dir: String, mode: OutputMode): (DataFrame, Long) => Unit =
    if (mode == OutputMode.Complete()) (b, _) => b.write.mode("overwrite").parquet(dir)
    else (b, id) => b.write.mode("overwrite").parquet(s"$dir/b$id")

  /** What [[batchSink]] wrote to `dir`, read with the known `schema`. */
  private[graft] def readSink(s: SparkSession, schema: StructType, dir: String): DataFrame =
    s.read.schema(schema).option("recursiveFileLookup", "true").parquet(dir)

  /** Run `writer` to completion on a fresh checkpoint dir
    * (`ckpt_<name>`) through the one bounded-stream start,
    * [[Replay.drain]]. The only place this module starts a stream:
    * [[runToTable]] hands it [[batchSink]], the sink-owning entries
    * (s7, s9, s17, s33) their own writer.
    *
    * `flushFinal`: whether the bounded run still needs the terminal
    * NO-DATA micro-batch. That batch re-runs the full stateful DAG on
    * zero rows purely to act on the watermark advanced by the last data
    * batch — it is what emits watermark-gated output (outer-join nulls,
    * closed append-mode windows), so queries with such output MUST keep
    * it. Everything else (update/complete modes, eagerly-emitting
    * inner/semi joins and dedup) produces its entire result in the data
    * batches, and the no-data batch is ~1 s of pure state-machinery
    * wall per query — measured on s12: batch0 2.0 s, no-data batch
    * 1.0 s of which addBatch 0.8 s (round-4 VERDICT item #3). At a real
    * deployment this choice is moot (an unbounded stream never ends);
    * it prices only the bounded-replay embodiment.
    *
    * `keyDomain`: upper bound on the stream's state key cardinality
    * when the query itself fixes it (e.g. a complete-mode count over
    * the 5 event types). More partitions than distinct keys is pure
    * per-batch instance-machinery tax — each extra store instance pays
    * open/load/commit every micro-batch and can never hold a row.
    * Unbounded-key streams pass nothing and get [[statePartitions]].
    * The stateful operators' partition count is fixed when the stream
    * starts, so `spark.sql.shuffle.partitions` is set to
    * `min(statePartitions, keyDomain)` around start…termination only
    * and restored afterwards: the batch folds over the returned table
    * run at the session's own width. */
  private def drain(s: SparkSession, writer: DataStreamWriter[Row], name: String,
                    flushFinal: Boolean = false,
                    keyDomain: Int = Int.MaxValue): Unit = {
    val parts = math.min(statePartitions(s), keyDomain)
    configureStreaming(s)
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
               flushFinal.toString)
    // bounded replay: nothing reads numRowsTotal from a query that runs
    // to completion and is immediately torn down — skip the
    // read-before-every-put that tracking costs (see configureStreaming)
    s.conf.set("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
               "false")
    val ckpt = Tbl.scratchDir(s"ckpt_$name")
    lastCheckpointDir = ckpt
    Session.withConf(s, "spark.sql.shuffle.partitions" -> parts.toString)(
      Replay.drain(writer, ckpt))
  }

  /** Stateful streams pay a per-(partition × store instance × batch)
    * load+commit cost — including the zero-input watermark-advance batch
    * — so the state partition count is a per-stream sizing decision,
    * not the session-wide shuffle default. The default is one store
    * instance per core, capped at 16: `min(16, defaultParallelism)`.
    * Partitions beyond the core count only queue the same per-instance
    * open/load/commit in extra task waves. Measured on a 4-core VM
    * (perfbench registry_streams, 10 seeds): median wall 54.6 s at 16
    * partitions vs 39.9 s at 4, and 8 about the same as 4; per pass,
    * state instances 80→20, load 4.3→0.9 s, commit 2.9→0.8 s, with rows
    * updated and execution time unchanged. The cap of 16 is the
    * 32-core result (16 beat both 8 and 32: past 16 the instance
    * machinery competes with the task threads). Streams whose key count
    * the query fixes below that pass `keyDomain` (see [[drain]]).
    * `spark.graft.statePartitions` sets the count outright — for a
    * deployment sizing to executor count × state volume. NOTE: streaming
    * state partitioning is frozen into the checkpoint at first start —
    * pick for the target scale, not the backfill. */
  private def statePartitions(s: SparkSession): Int =
    s.conf.getOption("spark.graft.statePartitions") match {
      case None => math.min(16, s.sparkContext.defaultParallelism)
      case Some(v) => Session.positiveInt("spark.graft.statePartitions", v)
    }

  /** A1+A2 streaming: watermarked sliding-window kinematic smoothing in
    * update mode — the ⚠ intent of `preprocess.py:78-88`. Single
    * AvailableNow batch ⇒ the update stream emits every window exactly
    * once, so the batch oracle (same as a1_sliding_window) applies. */
  private def streamWindowAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.operators.WindowOps.{kinematicAggExprs, kinematicFinish, withKinematics}
    val agg = withKinematics(eventStream(s, d))
      .withWatermark("ts", "5 minutes")
      .groupBy(window($"ts", "2 minutes", "1 minute"), $"user_id")
      .agg(kinematicAggExprs.head, kinematicAggExprs.tail: _*)
    kinematicFinish(runToTable(s, agg, "s_window_agg", OutputMode.Update()))
  }

  /** T1 rebuilt: flatMapGroupsWithState "latest 3 per vessel". Output
    * matches the batch ranking query a3_top3_per_key exactly. */
  private def streamLast3(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import StatefulOps._
    val typed = eventStream(s, d)
      .select($"event_id", unix_micros($"ts").as("ts_us"), $"user_id", $"value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        last3PerKey _)
    runToTable(s, typed.toDF(), "s_last3", OutputMode.Update())
      .select($"user_id", $"rn", $"event_id", $"ts_us", $"value")
      .orderBy($"user_id", $"rn")
  }

  /** A5 streaming: keyed gap-fill interpolation via state; same oracle
    * as the batch twin a5_gap_fill. */
  private def streamGapFill(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import StatefulOps._
    val typed = eventStream(s, d)
      .select($"event_id", unix_micros($"ts").as("ts_us"), $"user_id", $"value")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        gapFill _)
    runToTable(s, typed.toDF(), "s_gap_fill", OutputMode.Update())
      .select($"user_id", $"syn_ts_us", $"syn_value")
      .orderBy($"user_id", $"syn_ts_us")
  }

  /** J5 streaming: stateful dropDuplicates over the stream. */
  private def streamDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dd = eventStream(s, d)
      .select($"user_id", $"event_type")
      .dropDuplicates("user_id", "event_type")
    runToTable(s, dd, "s_dedup", OutputMode.Append())
      .orderBy($"user_id", $"event_type")
  }

  /** J5 streaming, watermark-bounded: `dropDuplicatesWithinWatermark`
    * — the 100 TB form of streaming dedup. Plain `dropDuplicates` keeps
    * every key seen FOREVER (state grows with the key universe, which
    * on an unbounded stream is a guaranteed OOM); the within-watermark
    * variant evicts a key's state once the watermark passes its event
    * time + delay, so state is bounded by the dedup window, not the
    * stream's lifetime. Output is projected to the dedup key columns —
    * which physical row survives is arrival-order-dependent, the key
    * set is not. */
  private def streamDedupWm(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dd = eventStream(s, d)
      .withColumn("v_c", Tbl.cents($"value"))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "v_c")
    runToTable(s, dd, "s_dedup_wm", OutputMode.Append())
      .select($"user_id", $"event_type", $"v_c")
      .orderBy($"user_id", $"event_type", $"v_c")
  }

  private val dedupWmSql =
    """SELECT DISTINCT user_id, event_type,
      |  CAST(round(value*100) AS BIGINT) AS v_c
      |FROM events ORDER BY user_id, event_type, v_c""".stripMargin

  /** T4 complete mode: running per-type counts. keyDomain 5: the key
    * domain IS the 5 event types — 5 keys of state have no
    * business paying more store instances' worth of per-batch
    * load+commit than that. */
  private def streamCompleteCounts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val agg = eventStream(s, d)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum(Tbl.cents($"value")).as("v_c"))
    runToTable(s, agg, "s_complete", OutputMode.Complete(), keyDomain = 5)
      .select($"event_type", $"n", round($"v_c" / 100.0, 2).as("sum_value"))
      .orderBy($"event_type")
  }

  /** Stream-static broadcast join: streaming events enriched with the
    * static customer dim — at 100 TB the dim is broadcast per batch, the
    * stream never shuffles. State = the complete-mode agg over the 5
    * market segments, hence the keyDomain bound. */
  private def streamStaticJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = broadcast(Tbl.customer(s, d)
      .select($"c_custkey", $"c_mktsegment"))
    val joined = eventStream(s, d)
      .join(cust, $"user_id" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n"), sum(Tbl.cents($"value")).as("v_c"))
    runToTable(s, joined, "s_static_join", OutputMode.Complete(), keyDomain = 5)
      .select($"c_mktsegment", $"n", round($"v_c" / 100.0, 2).as("sum_value"))
      .orderBy($"c_mktsegment")
  }

  /** K5 foreachBatch: per-micro-batch arbitrary batch logic — each
    * batch's aggregate lands through [[batchSink]] (the reference appends
    * CSV inside foreachBatch, `predict_path.py:71`) and is read back.
    * Single batch ⇒ equals the global aggregate. */
  private def foreachBatchAgg(s: SparkSession, d: String): DataFrame = {
    val outDir = Tbl.scratchDir("febatch")
    val events = eventStream(s, d)
    drain(s, events.writeStream.outputMode(OutputMode.Append())
               .foreachBatch(batchAggWriter(outDir)), "febatch")
    readSink(s, batchAgg(events).schema, outDir).orderBy(col("event_type"))
  }

  /** s7's per-batch aggregate: the batch's row count per event type. */
  private[graft] def batchAgg(batch: DataFrame): DataFrame =
    batch.groupBy(col("event_type")).agg(count(lit(1)).as("n"))

  /** s7's writer: a replayed batch replaces its own aggregate. */
  private[graft] def batchAggWriter(outDir: String): (DataFrame, Long) => Unit =
    (batch, id) => batchSink(outDir, OutputMode.Append())(batchAgg(batch), id)

  /** s33: foreachBatch MERGE/upsert — the Delta-style keyed-table
    * maintenance idiom the reference gestures at (`predict_path.py:55-71`
    * appends per-batch files; a real deployment upserts a keyed table)
    * into a VERSIONED parquet table keyed by user_id ([[mergeWriter]]).
    * The input is a [[Replay]] of 4 time-ordered chunks, one per
    * micro-batch, so the upsert provably composes across 4 batches;
    * associativity of (max, +) makes the final table batching-invariant
    * — the same refold contract s28/s31/s32 pin. Scale: per-batch
    * shuffle bounded by the key domain; the copy-on-write target
    * rewrite is the standard MERGE cost (|keys| rows); nothing
    * collects. */
  private def foreachMerge(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tbl.events(s, d)
    val r = new Replay(s, ev.schema).hold(Replay.chunks(ev, 4, $"ts"))
    r.release()
    val root = Tbl.scratchDir("merge_target")
    drain(s, r.source.writeStream
               .outputMode(OutputMode.Append())
               .foreachBatch(mergeWriter(root)), "merge")
    readMerged(ev, root)
      .select($"user_id", $"w.ts_us".as("last_ts_us"),
              $"w.event_id".as("last_event_id"), $"w.v_c".as("last_v_c"),
              $"n_seen")
      .orderBy($"user_id")
  }

  /** s33's per-key partial of an events batch: max (ts, event_id, cents)
    * and the row count — map-side combinable, |keys| rows shuffled. */
  private def mergePartial(batch: DataFrame): DataFrame =
    batch
      .select(col("user_id"),
              struct(unix_micros(col("ts")).as("ts_us"), col("event_id"),
                     Tbl.cents(col("value")).as("v_c")).as("w"))
      .groupBy(col("user_id"))
      .agg(max(col("w")).as("w"), count(lit(1)).as("n_seen"))

  /** s33's upsert: batch `id` MERGEs its [[mergePartial]] into the newest
    * version under `root` below `id` (unionByName + re-fold, the
    * associative form of WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT)
    * and writes `v<id>`. So a replayed batch merges from the version
    * before it, not its own output, and a restart resumes the table. */
  private[graft] def mergeWriter(root: String): (DataFrame, Long) => Unit = (batch, id) => {
    val part = mergePartial(batch)
    val merged = mergeVersion(root, id).fold(part)(prev =>
      batch.sparkSession.read.schema(part.schema).parquet(prev).unionByName(part)
        .groupBy(col("user_id"))
        .agg(max(col("w")).as("w"), sum(col("n_seen")).as("n_seen")))
    merged.write.mode("overwrite").parquet(s"$root/v$id")
  }

  /** The newest version [[mergeWriter]] wrote under `root` from
    * `events` (batch or stream; only its schema is used). */
  private[graft] def readMerged(events: DataFrame, root: String): DataFrame =
    events.sparkSession.read.schema(mergePartial(events).schema).parquet(mergeVersion(root).get)

  /** `root/v<k>` for the largest k below `before`, if any. */
  private def mergeVersion(root: String, before: Long = Long.MaxValue): Option[String] =
    Option(new java.io.File(root).list()).toSeq.flatten.filter(_.matches("v\\d+"))
      .map(_.drop(1).toLong).filter(_ < before).maxOption.map(k => s"$root/v$k")

  private val foreachMergeSql =
    """WITH r AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_id,
      |         CAST(round(value*100) AS BIGINT) AS v_c,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY ts DESC, event_id DESC) AS rk,
      |         count(*) OVER (PARTITION BY user_id) AS n_seen
      |  FROM events)
      |SELECT user_id, ts_us AS last_ts_us, event_id AS last_event_id,
      |       v_c AS last_v_c, CAST(n_seen AS BIGINT) AS n_seen
      |FROM r WHERE rk = 1 ORDER BY user_id""".stripMargin

  /** The synthetic AIS JSON wire (the Kafka `value` envelope of
    * `preprocess.py:20`, rebuilt deterministically from the events
    * table) — job #1's input for both the single-job flagship (s8) and
    * the chained two-job topology (s34). */
  /** Streaming twin of [[graft.Tbl.fanOut]] (guide §2.5 unsplittable
    * input): a streaming DF's per-batch partition count can't be
    * inspected at plan time, but the file-stream source splits files
    * with the SAME split logic as a batch scan of the same files — so
    * probe the batch plan of the source parquet and fan the stream out
    * only when that scan is effectively unsplittable (the driver's
    * single-row-group testdata). At deployment scale (many files /
    * row groups, or a partitioned Kafka source) the probe sees real
    * parallelism and the stream plan is untouched — no per-batch
    * exchange is ever added where the source already parallelizes. */
  private def fanOutStream(s: SparkSession, d: String, df: DataFrame): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    // The probe reads the SAME parquet file the stream source reads:
    // eventStream's Replay links $d/events.parquet itself, so a batch
    // probe of Tbl.events(s, d) counts exactly the row groups the
    // file-stream source will split. (A linked sentinel would add one
    // 1-row-group file — it could only RAISE the probed count, never
    // fake parallelism away — and no fanned stream links sentinels.)
    // Probe and threshold are shared with Tbl.fanOut.
    val splits = graft.Tbl.scanEffectiveSplits(graft.Tbl.events(s, d))
    if (graft.Tbl.needsFanOut(splits, target)) df.repartition(target)
    else df
  }

  private def syntheticAisEnvelope(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    fanOutStream(s, d, eventStream(s, d)).select(
      to_json(struct(
        date_format($"ts", "yyyy-MM-dd HH:mm:ss'Z'").as("timestamp_utc"),
        $"user_id".cast("int").as("mmsi"),
        concat(lit("POINT ("),
               (lit(100.0) + ($"user_id" % 30) + ($"event_id" % 100) / 100.0),
               lit(" "),
               (($"event_id" % 30) + ($"user_id" % 100) / 100.0),
               lit(")")).as("position"),
        $"value".as("speed_over_ground"),
        ($"event_id" % 360).cast("double").as("course_over_ground"),
        $"value".as("rate_of_turn"),
        lit(1).as("message_type"))).as("value"))
  }

  /** Flagship §3.1 end to end, streaming: events → synthetic AIS JSON
    * envelope (the Kafka wire shape) → the full preprocess pipeline
    * (P1,P2,P3,W4,F1,P5,W1,F2,F3,P6,P8) → rounded features. */
  private def streamAisPreprocess(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val features = AisPipeline.preprocess(syntheticAisEnvelope(s, d))
    runToTable(s, features, "s_ais_preprocess", OutputMode.Append())
      .select($"mmsi", $"timestamp_utc", $"speed_over_ground",
              // floor, not round: pure-arithmetic decode is bit-identical
              // across engines; round()'s half-up resolution is not
              (floor($"rate_of_turn" * 1000000.0) / 1000000.0)
                .as("rate_of_turn"),
              $"longitude", $"latitude",
              round($"cartesian_x", 2).as("cartesian_x"),
              round($"cartesian_y", 2).as("cartesian_y"))
      .orderBy($"mmsi", $"timestamp_utc", $"longitude", $"latitude",
               $"speed_over_ground")
  }

  /** s34 — the CHAINED flagship: the reference's full two-JOB topology
    * in one streaming run. Job #1 (`preprocess.py:41-74`) parses the
    * AIS wire, derives kinematic features, and re-serializes them as a
    * JSON envelope onto the `position_history_kinematic_aggs` topic;
    * job #2 (`predict_path.py:21-45`) `from_json`s that envelope and
    * keeps the latest 3 positions per vessel across batches
    * (`predict_path.py:60-69`). Here the envelope out of job 1 IS the
    * `from_json` input of job 2 — the broker hop collapses to an
    * in-plan `to_json → from_json` round trip (same wire bytes, no
    * transport; the Kafka transport itself stays under the §2 S1/K1
    * waiver) — and job 2's driver-resident temp-view loop is the
    * distributed keyed state of [[StatefulOps.last3FeatPerKey]]. Job 1
    * is stateless BY THE REFERENCE'S OWN TOPOLOGY: `preprocess.py:67`
    * publishes the un-aggregated frame (the A1 window block is the
    * commented-out ⚠-variant at `preprocess.py:78-88`, embodied
    * separately as s1), so the chain's one stateful stage is job 2's —
    * faithful, not a simplification. Scale shape: the JSON round trip
    * is a stateless codegen map fused into job 1's span; the only
    * exchange is the groupByKey(mmsi) into the state store, identical
    * to s2's — at 100 TB the chained form costs exactly one shuffle
    * more than nothing. A message whose timestamp missed job 1's
    * pattern is dropped in job 2 ([[chainedJob2]]), not a failed batch. */
  private def streamChainedFlagship(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val features = AisPipeline.preprocess(syntheticAisEnvelope(s, d))
    // job-1 → job-2 wire: to_json(struct(*)) (`preprocess.py:68`) …
    val wire = features.select(AisPipeline.toJsonEnvelope(features))
    val ranked = chainedJob2(wire)
    runToTable(s, ranked.toDF(), "s_chained_flagship", OutputMode.Update())
      // output quantization identical to s8's (floor-not-round rationale
      // there); rn makes the per-vessel ordering explicit
      .select($"mmsi", $"rn", $"ts_us", $"speed_over_ground",
              (floor($"rate_of_turn" * 1000000.0) / 1000000.0)
                .as("rate_of_turn"),
              $"longitude", $"latitude",
              round($"cartesian_x", 2).as("cartesian_x"),
              round($"cartesian_y", 2).as("cartesian_y"))
      .orderBy($"mmsi", $"rn")
  }

  /** Job #2 of the s34 chain (`predict_path.py:21-69`): re-parse job
    * 1's JSON envelope with predict_path's schema — by FIELD NAME, so
    * job 2 neither knows nor cares that job 1's struct also carried
    * course_over_ground ahead of rate_of_turn (`predict_path.py:34-46`)
    * — and keep the latest 3 positions per vessel in keyed state.
    * A message whose `timestamp_utc` missed job 1's pattern reaches
    * the wire with a null timestamp (P8's null-on-miss contract); it is
    * dropped here, before the typed `Feat` view, whose primitive
    * `ts_us` cannot hold a null, and a position with no time cannot be
    * ranked among a vessel's latest anyway. */
  private[graft] def chainedJob2(wire: DataFrame): Dataset[StatefulOps.RankedFeat] = {
    import wire.sparkSession.implicits._
    import StatefulOps._
    wire
      .selectExpr("CAST(value AS STRING) AS value")
      .select(from_json($"value", AisPipeline.featureSchema).as("message"))
      .select($"message.mmsi".as("mmsi"),
              unix_micros($"message.timestamp_utc").as("ts_us"),
              $"message.speed_over_ground".as("speed_over_ground"),
              $"message.course_over_ground".as("course_over_ground"),
              $"message.rate_of_turn".as("rate_of_turn"),
              $"message.longitude".as("longitude"),
              $"message.latitude".as("latitude"),
              $"message.cartesian_x".as("cartesian_x"),
              $"message.cartesian_y".as("cartesian_y"))
      .where($"ts_us".isNotNull)
      .as[Feat]
      .groupByKey(_.mmsi)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        last3FeatPerKey _)
  }

  /** s35: the s34 chain's CHECKPOINT read back through Spark 4's
    * statestore source — chained-topology introspection. Runs the full
    * two-job chain (so the flatMapGroupsWithState store holds each
    * vessel's ≤3-row ring at stream end), then decodes the RocksDB
    * state files as a batch DataFrame: key = mmsi, value = the
    * Top3FeatState encoder layout, rows array ALREADY rank-ordered
    * (last3FeatPerKey stores the merged list sorted desc, so array
    * position IS the rank). Emitting the decoded state through s34's
    * own output quantization and hashing it against s34's oracle
    * certifies the persisted state layout byte-for-byte — the "what is
    * actually IN the store" audit (s30's pattern) applied to the
    * chained flagship's keyed state rather than an agg buffer. Reading
    * state is a parallel scan of store partitions; the stream is not
    * replayed. */
  private def chainedStateReader(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    streamChainedFlagship(s, d) // runs the chain; its state lands in lastCheckpointDir
    val st = s.read.format("statestore")
      .option("path", lastCheckpointDir).load()
    st.select($"key.value".as("mmsi"),
              posexplode($"value.groupState.rows").as(Seq("pos", "r")))
      .select($"mmsi", ($"pos" + 1).cast("int").as("rn"),
              $"r.ts_us".as("ts_us"),
              $"r.speed_over_ground".as("speed_over_ground"),
              (floor($"r.rate_of_turn" * 1000000.0) / 1000000.0)
                .as("rate_of_turn"),
              $"r.longitude".as("longitude"), $"r.latitude".as("latitude"),
              round($"r.cartesian_x", 2).as("cartesian_x"),
              round($"r.cartesian_y", 2).as("cartesian_y"))
      .orderBy($"mmsi", $"rn")
  }

  /** Oracle for s34: job 1's feature arithmetic (shared with s8's
    * oracle) wrapped in job 2's latest-3 ranking. The rank's tie-break
    * beyond ts DESC mirrors [[StatefulOps.featDescOrdering]] — the wire
    * timestamp is second-granular, so ties are real and must be broken
    * identically on both engines. */
  private val chainedFlagshipSql = {
    import graft.Oracles.{ecefXS, ecefYS, latS, lonS, rotS}
    s"""WITH f AS (
       |  SELECT CAST(user_id AS INT) AS mmsi,
       |    epoch_us(strptime(strftime(ts, '%Y-%m-%d %H:%M:%SZ'),
       |                      '%Y-%m-%d %H:%M:%SZ')) AS ts_us,
       |    value AS speed_over_ground,
       |    CAST(event_id % 360 AS DOUBLE) AS course_over_ground,
       |    ${rotS("value")} AS rot_raw,
       |    lon AS longitude, lat AS latitude,
       |    ${ecefXS("lon", "lat")} AS cx_raw,
       |    ${ecefYS("lon", "lat")} AS cy_raw
       |  FROM (SELECT user_id, ts, value, event_id,
       |               $lonS AS lon, $latS AS lat FROM events)
       |  WHERE lat > 7 AND lat < 23 AND lon > 105 AND lon < 123),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY mmsi
       |    ORDER BY ts_us DESC, longitude DESC, latitude DESC,
       |             speed_over_ground DESC, course_over_ground DESC) AS rn
       |  FROM f)
       |SELECT mmsi, rn, ts_us, speed_over_ground,
       |  floor(rot_raw * 1000000.0) / 1000000.0 AS rate_of_turn,
       |  longitude, latitude,
       |  round(cx_raw, 2) AS cartesian_x, round(cy_raw, 2) AS cartesian_y
       |FROM r WHERE rn <= 3 ORDER BY mmsi, rn""".stripMargin
  }

  /** Streaming curation verdict: the stateless quality rules (length,
    * repetition) applied to a document stream — the online half of the
    * batch x_curation_pipeline (the corpus-global dup rule is inherently
    * a batch/stateful pass and stays there). Stateless map ⇒ append
    * mode, no watermark, no state store: at 100 TB/day this filters at
    * ingest wire speed. */
  private def streamCuration(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.operators.CurationOps.{qualitySignals, statelessVerdict}
    val docs = tableStream(s, d, "documents", StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
    val scored = qualitySignals(docs)
      .select($"doc_id", $"lang", $"n_words", $"uniq_ppm",
              statelessVerdict.as("verdict"))
    runToTable(s, scored, "s_curation", OutputMode.Append())
      .orderBy($"doc_id")
  }

  private val streamCurationSql = {
    import graft.operators.TextNorm.normSql
    s"""SELECT doc_id, lang, len(ws) AS n_words,
       |  CAST(len(list_distinct(ws)) * 1000000 // len(ws) AS BIGINT) AS uniq_ppm,
       |  ${graft.operators.CurationOps.statelessVerdictSql} AS verdict
       |FROM (SELECT doc_id, lang, string_split($normSql, ' ') AS ws FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** Streaming sessionization via `session_window` (1-hour gap) — the
    * streaming twin of the batch lag→flag→cumsum query x_sessionize;
    * both share the "session end = last event + gap" convention, so the
    * same oracle applies. Complete mode (session windows don't support
    * update; append would hold back sessions ending past the final
    * watermark) ⇒ the last trigger's table is the full merged result. */
  private def streamSession(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val agg = eventStream(s, d)
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window($"ts", "1 hour"), $"user_id")
      .agg(count(lit(1)).as("n"), sum(Tbl.cents($"value")).as("v_c"))
    runToTable(s, agg, "s_session", OutputMode.Complete())
      .select($"user_id",
              unix_micros($"session_window.start").as("ws_us"),
              unix_micros($"session_window.end").as("we_us"),
              $"n", round($"v_c" / 100.0, 2).as("sum_value"))
      .orderBy($"user_id", $"ws_us")
  }

  /** Streaming DYNAMIC-gap sessionization — `session_window` whose gap
    * is an expression over each event's own attributes (click 10 min,
    * view 30 min, else 1 h). Same complete-mode contract as s10; the
    * batch twin x_dynamic_session shares the running-max-of-ends oracle. */
  private def streamDynamicSession(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val gap = when($"event_type" === "click", "10 minutes")
      .when($"event_type" === "view", "30 minutes")
      .otherwise("1 hour")
    val agg = eventStream(s, d)
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window($"ts", gap), $"user_id")
      .agg(count(lit(1)).as("n"), sum(Tbl.cents($"value")).as("v_c"))
    runToTable(s, agg, "s_dyn_session", OutputMode.Complete())
      .select($"user_id",
              unix_micros($"session_window.start").as("ws_us"),
              unix_micros($"session_window.end").as("we_us"),
              $"n", round($"v_c" / 100.0, 2).as("sum_value"))
      .orderBy($"user_id", $"ws_us")
  }

  /** transformWithState (Spark 4 arbitrary-state API): running per-user
    * (count, sum) via a ValueState handle — the modern twin of s2/s3's
    * flatMapGroupsWithState. transformWithState REQUIRES the RocksDB
    * provider, which configureStreaming sets for every stream. Single
    * AvailableNow batch ⇒ output equals the batch cumulative window
    * (the oracle). */
  private def streamRunningTotals(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import StatefulOps._
    val typed = eventStream(s, d)
      .select($"event_id", unix_micros($"ts").as("ts_us"), $"user_id", $"value")
      .as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotals,
        TimeMode.None(), OutputMode.Update())
    runToTable(s, typed.toDF(), "s_running_totals", OutputMode.Update())
      .select($"user_id", $"event_id", $"ts_us", $"run_n",
              round($"run_sum_c" / 100.0, 2).as("run_sum"))
      .orderBy($"user_id", $"ts_us", $"event_id")
  }

  private val runningTotalsSql =
    """SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |  count(*) OVER w AS run_n,
      |  round(sum(CAST(round(value*100) AS BIGINT)) OVER w / 100.0, 2) AS run_sum
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, ts_us, event_id""".stripMargin

  /** s23: event-time TIMER sessionization via transformWithState — the
    * arbitrary-state twin of s10's `session_window`, closing idle
    * sessions with registered timers instead of the built-in operator
    * (see [[StatefulOps.TimerSessions]] for the inline-vs-timer close
    * contract and why delayed firing never changes output). The replay
    * sentinel advances the watermark past every real event so the
    * terminal no-data batch flushes all open sessions; output therefore
    * equals the batch gaps-and-islands sessionization at a 30-min gap. */
  private def streamTimerSession(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import StatefulOps._
    val typed = eventStream(s, d, Seq("view"))
      .withWatermark("ts", "0 seconds")
      // ts stays in the projection: the EventTime mode reads the
      // watermark off the input plan, and projecting the event-time
      // column away would drop it
      .select($"event_id", $"ts", unix_micros($"ts").as("ts_us"),
              $"user_id", $"value")
      .as[TEv]
      .groupByKey(_.user_id)
      .transformWithState(new TimerSessions(1800000000L),
        TimeMode.EventTime(), OutputMode.Append())
    runToTable(s, typed.toDF(), "s_timer_session", OutputMode.Append(),
               flushFinal = true)
      .where($"user_id" >= 0) // sentinel key out
      .select($"user_id", $"start_us", $"end_us", $"n",
              round($"sum_c" / 100.0, 2).as("sum_value"))
      .orderBy($"user_id", $"start_us")
  }

  private val timerSessionSql =
    """WITH ordered AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, value,
      |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |              THEN 1 ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |islands AS (
      |  SELECT user_id, ts_us, value,
      |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
      |                        ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM ordered)
      |SELECT user_id, min(ts_us) AS start_us, max(ts_us) AS end_us,
      |       count(*) AS n,
      |       round(sum(CAST(round(value*100) AS BIGINT)) / 100.0, 2) AS sum_value
      |FROM islands GROUP BY user_id, sid
      |ORDER BY user_id, start_us""".stripMargin

  /** s24: MapState + state-TTL per-user type profile (see
    * [[StatefulOps.TtlTypeProfile]]). The 6 h TTL never fires inside a
    * bounded replay, so the oracled output is the exact batch GROUP BY;
    * the eviction semantics are pinned separately by a sleep-based
    * spec. Update mode + single batch ⇒ one final row per user. */
  private def streamTtlProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import StatefulOps._
    val typed = eventStream(s, d)
      .select($"user_id", $"event_type")
      .as[EvType]
      .groupByKey(_.user_id)
      .transformWithState(new TtlTypeProfile(java.time.Duration.ofHours(6)),
        TimeMode.ProcessingTime(), OutputMode.Update())
    runToTable(s, typed.toDF(), "s_ttl_profile", OutputMode.Update())
      .select($"user_id", $"n_types", $"n_events")
      .orderBy($"user_id")
  }

  private val ttlProfileSql =
    """SELECT user_id, count(DISTINCT event_type) AS n_types,
      |       count(*) AS n_events
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** s25: STREAMING KMV distinct-cardinality sketch per event_type —
    * `x_kmv_distinct`'s unbounded-stream form (see
    * [[StatefulOps.StreamingKmv]]): state = the k smallest distinct
    * user-id hashes per key, merged per batch; the estimate arithmetic
    * in the output projection is expression-identical to the batch
    * twin. k = 64 (matches the batch sketch). Update mode + bounded
    * replay ⇒ final emission per key = the batch sketch (the oracle). */
  private val StreamKmvK = 64

  private def streamKmv(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import StatefulOps._
    val typed = eventStream(s, d)
      .select($"event_type",
              conv(substring(md5($"user_id".cast("string")), 1, 15), 16, 10)
                .cast("long").as("h"))
      .as[TypeHash]
      .groupByKey(_.event_type)
      .transformWithState(new StreamingKmv(StreamKmvK),
        TimeMode.None(), OutputMode.Update())
    runToTable(s, typed.toDF(), "s_kmv", OutputMode.Update())
      .select($"event_type", $"k_eff", $"kth",
              when($"k_eff" < StreamKmvK, $"k_eff")
                .otherwise(floor(lit((StreamKmvK - 1).toDouble) *
                                 lit(1152921504606846976.0) /
                                 $"kth".cast("double")).cast("long"))
                .cast("long").as("est_distinct"))
      .orderBy($"event_type")
  }

  private val streamKmvSql =
    s"""WITH hs AS (
       |  SELECT DISTINCT event_type,
       |    CAST(('0x' || substr(md5(user_id::VARCHAR), 1, 15)) AS BIGINT) AS h
       |  FROM events),
       |kept AS (
       |  SELECT event_type, h,
       |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
       |  FROM hs),
       |sk AS (
       |  SELECT event_type, count(*) AS k_eff, max(h) AS kth
       |  FROM kept WHERE rn <= $StreamKmvK GROUP BY event_type)
       |SELECT event_type, k_eff, kth,
       |  CAST(CASE WHEN k_eff < $StreamKmvK THEN k_eff
       |       ELSE floor(${StreamKmvK - 1} * 1152921504606846976.0 / kth)
       |       END AS BIGINT) AS est_distinct
       |FROM sk ORDER BY event_type""".stripMargin

  /** s28: STREAMING EXACT distinct per event_type — the bitset-state
    * twin of batch `x_bitmap_distinct` and the exact complement of
    * s25's KMV sketch (see [[StatefulOps.StreamingBitmapWord]]). Keyed
    * state is one long per (type, uid div 64): domain-bounded, constant
    * in stream length, OR-merged (idempotent, so retries can't
    * double-count). The final fold (bit_or per word, then
    * sum(bit_count)) runs batch-side on the emission table and is
    * correct under ANY batching because word emissions are monotone
    * supersets. */
  private def streamBitmapDistinct(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import StatefulOps._
    val typed = eventStream(s, d)
      .select($"event_type", expr("user_id div 64").as("w"),
              expr("CAST(user_id % 64 AS INT)").as("bit"))
      .as[TypeWordBit]
      .groupByKey(x => (x.event_type, x.w))
      .transformWithState(new StreamingBitmapWord,
        TimeMode.None(), OutputMode.Update())
    runToTable(s, typed.toDF(), "s_bitmap", OutputMode.Update())
      .groupBy($"event_type", $"w")
      .agg(expr("bit_or(bits)").as("bits"))
      .groupBy($"event_type")
      .agg(sum(expr("bit_count(bits)")).as("n_users"))
      .orderBy($"event_type")
  }

  private val streamBitmapDistinctSql =
    """SELECT event_type, count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** s31: ListState bounded min-k — the last transformWithState state
    * primitive the matrix was missing (see [[StatefulOps.First3PerType]]
    * for the associativity argument). Keyed on (event_type,
    * hash-salt mod 32): per sub-key the state holds the ≤3 EARLIEST
    * events by (ts_us, event_id); because the min-k merge is
    * order-insensitive, the batch-side fold (distinct emissions →
    * rank ≤ 3 per event_type) recovers the exact batch answer under ANY
    * replay split AND any salt split — the fold, not single-batch luck,
    * is what the oracle certifies. The salt spreads state across
    * |types|·32 = 160 RocksDB keys instead of 5, so partition
    * parallelism survives a 100M-row replay (round-10 verdict weak #2);
    * state stays ≤ 3 rows per sub-key at any stream length. */
  private[graft] val ListStateSalts = 32

  private def streamListState(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import StatefulOps._
    val typed = eventStream(s, d)
      .select($"event_type", $"event_id", unix_micros($"ts").as("ts_us"),
              $"value")
      .as[TypeEv]
      .groupByKey(e => (e.event_type,
        java.lang.Math.floorMod(e.event_id, ListStateSalts.toLong).toInt))
      .transformWithState(new First3PerType,
        TimeMode.None(), OutputMode.Update())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"ts_us", $"event_id")
    runToTable(s, typed.toDF(), "s_first3", OutputMode.Update(),
               keyDomain = 5 * ListStateSalts)
      .select($"event_type", $"event_id", $"ts_us", $"value").distinct()
      .withColumn("rn", row_number().over(w))
      .where($"rn" <= 3)
      .select($"event_type", $"rn", $"event_id", $"ts_us", $"value")
      .orderBy($"event_type", $"rn")
  }

  private val streamListStateSql =
    """WITH r AS (
      |  SELECT event_type, event_id, epoch_us(ts) AS ts_us, value,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY ts, event_id) AS rn
      |  FROM events)
      |SELECT event_type, rn, event_id, ts_us, value
      |FROM r WHERE rn <= 3 ORDER BY event_type, rn""".stripMargin

  /** Stream-stream interval join: clicks ⋈ purchases per user where the
    * purchase lands within 10 minutes after the click. Watermarks on
    * BOTH sides bound the join state — at 100 TB/day this is what keeps
    * the state store finite: a click older than the purchase watermark
    * minus the interval can never match again and is evicted. Inner
    * joins emit eagerly, so one AvailableNow batch yields the full
    * batch-join result (the oracle). */
  private def streamStreamJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val clicks = eventStream(s, d).where($"event_type" === "click")
      .select($"user_id".as("c_user"), $"event_id".as("click_id"), $"ts".as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    val purchases = eventStream(s, d).where($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"event_id".as("purchase_id"), $"ts".as("p_ts"))
      .withWatermark("p_ts", "10 minutes")
    val joined = clicks.join(purchases,
      $"c_user" === $"p_user" &&
      $"p_ts" >= $"c_ts" && $"p_ts" <= $"c_ts" + expr("INTERVAL 10 MINUTES"))
    runToTable(s, joined, "s_ss_join", OutputMode.Append())
      .select($"c_user".as("user_id"), $"click_id", $"purchase_id",
              (unix_micros($"p_ts") - unix_micros($"c_ts")).as("lag_us"))
      .orderBy($"user_id", $"click_id", $"purchase_id")
  }

  private val streamStreamJoinSql =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |       epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
      |ORDER BY c.user_id, click_id, purchase_id""".stripMargin

  /** s32: UNION of two differently-watermarked stream sources feeding
    * ONE stateful aggregate — the multi-source streaming DAG no other
    * registry query exercises (s12/s22's two sources meet in a JOIN,
    * which keeps per-side state; union funnels both into the same
    * windowed-aggregate state, and the engine must take the GLOBAL
    * watermark as the MIN across sources so neither side's lag can
    * evict windows the slower side still feeds). The two sides carry
    * deliberately different delays (10 min vs 0 s) to force the
    * min-policy path — which is also why the run is UPDATE mode, not
    * append: the global watermark trails the slow (10-min-delay)
    * branch, so the final windows legitimately never pass it and an
    * append sink would hold them back forever. Update mode emits every
    * refreshed window; within a window both outputs are MONOTONE
    * (count grows, and per-event cents are NON-NEGATIVE — the corpora
    * do contain 0-cent events — so the sum is non-decreasing; a
    * negative value would silently break the max-fold, which is why
    * the branches raise on one), so the batch-side max-fold recovers
    * the final value per window under ANY batching — the same
    * idempotent-refold contract as s28's bit_or. The fold's result must equal the batch hourly aggregate
    * over the whole table, so a row lost at the source seam or
    * double-counted by the funnel shifts the hash. */
  private def streamUnionAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // enforce the max-fold's real precondition (non-negative values):
    // a negative value would make the windowed sum non-monotone and the
    // fold silently wrong, so fail loudly instead of folding garbage
    val nonneg = when($"value" >= 0, $"value")
      .otherwise(raise_error(lit("s32 max-fold precondition violated: value < 0")))
      .as("value")
    val clicks = eventStream(s, d).where($"event_type" === "click")
      .select($"ts", $"event_type", nonneg)
      .withWatermark("ts", "10 minutes")
    val rest = eventStream(s, d).where($"event_type" =!= "click")
      .select($"ts", $"event_type", nonneg)
      .withWatermark("ts", "0 seconds")
    val agg = clicks.union(rest)
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"), sum(Tbl.cents($"value")).as("v_c"))
    runToTable(s, agg, "s_union_agg", OutputMode.Update())
      .groupBy(unix_micros($"window.start").as("ws_us"), $"event_type")
      .agg(max($"n").as("n"),
           round(max($"v_c") / 100.0, 2).as("sum_value"))
      .orderBy($"ws_us", $"event_type")
  }

  private val streamUnionAggSql =
    """SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS ws_us,
      |       event_type, count(*) AS n,
      |       round(sum(CAST(round(value*100) AS BIGINT)) / 100.0, 2)
      |         AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY ws_us, event_type""".stripMargin

  /** s22: STREAMING spatial neighbor join — `j7_spatial_join`'s grid
    * blocking composed with the symmetric hash join: proximity alerts
    * for co-located error events within ±30 minutes of each other.
    * The probe branch explodes to its cell/bucket neighborhood BEFORE
    * the join (a stateless projection), the build branch keeps its own
    * cell, and the join condition is cell equality plus the event-time
    * interval — exactly the (equi-key + time-range) form whose state
    * Spark can evict by watermark.
    *
    * The equi-key carries a TIME BUCKET alongside the cell: the
    * symmetric hash join probes state BY EQUI-KEY ONLY and filters the
    * range predicate per buffered row, so with (cx, cy) alone the key
    * domain is the physical grid (16 cells here) and every arrival
    * rescanned every row ever buffered in its cell — measured 51.7M
    * RocksDB gets (~260/row) for a 20k-event replay. Bucketing time
    * multiplies the key domain by the stream's bucket count (~720 for
    * the 30-day corpus), so a state probe touches only rows co-located
    * in space AND time.
    *
    * Cell and bucket edges are 2× the match radius, which makes TWO
    * candidate cells per dimension sufficient instead of three: a
    * match lies in [x−R, x+R], an interval exactly one cell wide, so
    * its cell is ⌊(x−R)/2R⌋ or ⌊(x+R)/2R⌋. The probe branch explodes
    * over the 2×2×2 corner set — a FIXED ≤8× (array_distinct'd; the
    * corners coincide per-dimension when the interval stays inside one
    * cell), never data-dependent — the build branch keeps its unique
    * (cell, bucket) so each qualifying pair still matches exactly
    * once, and the per-key buffer the wider cell trades back stays ~2
    * rows at this density. (`lon_m − R` can go negative where `div`
    * truncates toward zero instead of flooring — harmless: it can only
    * collapse the candidate set toward cell 0, and no buildable point
    * has a negative cell.) The deliberate cost asymmetry: the exploded
    * side buffers ≤8× rows in state, which is why the stream narrows
    * to one event type first (selective predicates BEFORE state is the
    * same posture as every other `s*` join). Inner join ⇒ eager
    * emission ⇒ no sentinels, no terminal no-data batch.
    *
    * Planning logs a scary-but-benign `INTERNAL_ERROR Cannot evaluate
    * expression: event_a` stack per (re)start: Spark's
    * `StreamingJoinHelper.getStateWatermarkSafely` probes every `<` in
    * the join condition for a derivable time bound, and the
    * `event_a < event_b` pair-ordering predicate has no watermark
    * column — the helper throws, catches its own throw, logs it, and
    * correctly ignores the predicate. State eviction still comes from
    * the two-sided `b_ts`/`a_ts` interval. */
  private def streamSpatialJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val R = 4000L                  // search radius, milli-degrees
    val C = 2 * R                  // cell edge = 2R → 2 candidate cells/dim
    val TRadUs = 1800L * 1000000L  // interval radius, ±30 min
    val BucketUs = 2 * TRadUs      // time-bucket edge = 2× the radius
    val pts = eventStream(s, d).where($"event_type" === "error")
      .select($"event_id", $"user_id", $"ts",
              (($"user_id" % 30) * 1000 + ($"event_id" * 13) % 1000).as("lon_m"),
              (($"event_id" % 30) * 1000 + ($"event_id" * 7) % 1000).as("lat_m"))
      .withColumn("cx", expr(s"lon_m div $C"))
      .withColumn("cy", expr(s"lat_m div $C"))
      .withColumn("tb", expr(s"unix_micros(ts) div $BucketUs"))
    // the 2×2×2 corner cells of the ±(R, R, TRad) match box
    val corners = array_distinct(array(
      (for (sx <- Seq(-R, R); sy <- Seq(-R, R); st <- Seq(-TRadUs, TRadUs)) yield
        struct(expr(s"(lon_m + $sx) div $C").as("jx"),
               expr(s"(lat_m + $sy) div $C").as("jy"),
               expr(s"(unix_micros(ts) + $st) div $BucketUs").as("jt"))): _*))
    val probes = pts
      .select($"event_id".as("event_a"), $"user_id".as("vessel_a"),
              $"lon_m".as("lon_a"), $"lat_m".as("lat_a"), $"ts".as("a_ts"),
              explode(corners).as("nb"))
      .select($"event_a", $"vessel_a", $"lon_a", $"lat_a", $"a_ts",
              $"nb.jx".as("a_jx"), $"nb.jy".as("a_jy"), $"nb.jt".as("a_jt"))
      .withWatermark("a_ts", "10 minutes")
    val builds = pts
      .select($"event_id".as("event_b"), $"user_id".as("vessel_b"),
              $"lon_m".as("lon_b"), $"lat_m".as("lat_b"), $"ts".as("b_ts"),
              $"cx".as("b_jx"), $"cy".as("b_jy"), $"tb".as("b_jt"))
      .withWatermark("b_ts", "10 minutes")
    val joined = probes.join(builds,
      $"a_jx" === $"b_jx" && $"a_jy" === $"b_jy" && $"a_jt" === $"b_jt" &&
      $"event_a" < $"event_b" &&
      $"b_ts" >= $"a_ts" - expr("INTERVAL 30 MINUTES") &&
      $"b_ts" <= $"a_ts" + expr("INTERVAL 30 MINUTES"))
      .withColumn("d2",
        ($"lon_a" - $"lon_b") * ($"lon_a" - $"lon_b") +
        ($"lat_a" - $"lat_b") * ($"lat_a" - $"lat_b"))
      .where($"d2" < R * R)
    runToTable(s, joined, "s_spatial_join", OutputMode.Append())
      .select($"vessel_a", $"vessel_b", $"event_a", $"event_b", $"d2")
      .orderBy($"event_a", $"event_b")
  }

  private val streamSpatialJoinSql =
    """WITH p AS (
      |  SELECT event_id, user_id, ts,
      |         (user_id % 30) * 1000 + (event_id * 13) % 1000 AS lon_m,
      |         (event_id % 30) * 1000 + (event_id * 7) % 1000 AS lat_m
      |  FROM events WHERE event_type = 'error')
      |SELECT a.user_id AS vessel_a, b.user_id AS vessel_b,
      |       a.event_id AS event_a, b.event_id AS event_b,
      |       (a.lon_m-b.lon_m)*(a.lon_m-b.lon_m)
      |         + (a.lat_m-b.lat_m)*(a.lat_m-b.lat_m) AS d2
      |FROM p a JOIN p b
      |  ON a.event_id < b.event_id
      | AND b.ts >= a.ts - INTERVAL 30 MINUTE
      | AND b.ts <= a.ts + INTERVAL 30 MINUTE
      | AND abs(a.lon_m-b.lon_m) <= 4000 AND abs(a.lat_m-b.lat_m) <= 4000
      | AND (a.lon_m-b.lon_m)*(a.lon_m-b.lon_m)
      |       + (a.lat_m-b.lat_m)*(a.lat_m-b.lat_m) < 16000000
      |ORDER BY event_a, event_b""".stripMargin

  /** s15: the custom pipecsv DSv2 source as a STREAM — the reference's
    * socket replay loop (`server.py:41-57`, frames at a fixed rate)
    * rebuilt as a rate-limited micro-batch source: frame-count offsets,
    * `maxFramesPerTrigger` admission control, AvailableNow draining the
    * snapshot in ~4 micro-batches here. Complete-mode aggregation over
    * a genuinely multi-batch run — the complete-mode sink's final table must
    * equal the batch aggregate regardless of how the frames were
    * sliced into batches. */
  private def streamPipeCsv(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.SourceOps
    val dir = SourceOps.stageFrames(s, d)
    // size the rate knob to the snapshot: ~4 micro-batches at ANY SF.
    // The multi-batch admission-control path is what this query tests
    // (batch slicing itself is pinned exactly in PipeCsvSourceSpec);
    // a FIXED frame rate meant 98 batches at sf0.1 — 67 s of per-batch
    // state/checkpoint machinery for a 0.3 s aggregation.
    val perTrigger = math.max(1L, (SourceOps.frameCount(dir) + 3) / 4)
    val stream = s.readStream.format("pipecsv")
      .schema(SourceOps.frameSchema)
      .option("frameLen", SourceOps.FrameLen)
      .option("maxFramesPerTrigger", perTrigger)
      .load(dir)
    val agg = stream.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"v_c").as("sum_v_c"))
    // complete-mode agg over the 5 event types (multi-batch: 16 store
    // instances re-loaded per micro-batch × 4 batches was the dominant
    // cost of this stream, ~0.5 s/batch of pure instance load)
    runToTable(s, agg, "s_pipecsv", OutputMode.Complete(), keyDomain = 5)
      .orderBy($"event_type")
  }

  private val streamPipeCsvSql =
    """SELECT event_type, count(*) AS n,
      |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_v_c
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** s29: STREAMING text-log ingestion — the `readStream.text` twin of
    * batch `src_text_logparse`, the tail-a-log-directory deployment
    * (each new log file is one micro-batch input). Lines are staged by
    * the same formatter as the batch query, streamed back as raw
    * `value` rows, re-structured with the same three anchored
    * regexp_extracts, and aggregated in complete mode. maxFilesPerTrigger
    * keeps the replay multi-batch so the agg state genuinely merges
    * across triggers; the final emission equals the batch aggregation
    * (the oracle), so a parse slip in ANY batch shifts the hash. */
  private def streamTextLog(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dir = Tbl.scratchDir("textlog_stream")
    Tbl.events(s, d)
      .select(concat(
        when($"event_id" % 7 === 0, "WARN").otherwise("INFO"),
        lit(" ["), $"event_type", lit("] id="), $"event_id",
        lit(" uid="), $"user_id",
        lit(" cents="), Tbl.cents($"value")).as("value"))
      .repartition(4) // 4 staged files → 4 micro-batches below
      .write.mode("overwrite").text(dir)
    val lines = s.readStream
      .option("maxFilesPerTrigger", "1")
      .text(dir)
    val agg = lines
      .select(
        regexp_extract($"value", "^(\\w+) \\[", 1).as("level"),
        regexp_extract($"value", "\\[([^\\]]+)\\]", 1).as("event_type"),
        regexp_extract($"value", "cents=(-?\\d+)", 1).cast("long").as("v_c"))
      .groupBy($"level", $"event_type")
      .agg(count(lit(1)).as("n"), sum($"v_c").as("sum_v_c"))
    runToTable(s, agg, "s_textlog", OutputMode.Complete(), keyDomain = 10)
      .orderBy($"level", $"event_type")
  }

  private val streamTextLogSql =
    """SELECT CASE WHEN event_id % 7 = 0 THEN 'WARN' ELSE 'INFO' END AS level,
      |  event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_v_c
      |FROM events GROUP BY 1, 2 ORDER BY level, event_type""".stripMargin

  /** s30: STATE STORE READER — Spark 4's checkpoint-introspection
    * source (`spark.read.format("statestore")`): the operational tool
    * for a 100 TB streaming deployment, where "what is actually IN the
    * state store" is otherwise a black box (debugging skewed state,
    * auditing retention, sizing a migration). The query runs a
    * complete-mode aggregation to a checkpoint, then reads the SAME
    * checkpoint back as a batch DataFrame — key struct, aggregation
    * buffer struct, partition_id — straight from the RocksDB files.
    * The oracle is the batch aggregation: a hash match proves the
    * reader decodes the buffer layout (UnsafeRow count/sum fields)
    * byte-exactly, certifying state-format round-trip, not just query
    * output. Reading state is a parallel scan of the store's
    * partitions — no replay of the stream. */
  private def stateReader(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val agg = eventStream(s, d)
      .select($"event_type", Tbl.cents($"value").as("v_c"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"v_c").as("sum_v_c"))
    runToTable(s, agg, "s_state_src", OutputMode.Complete(), keyDomain = 5)
    s.read.format("statestore").option("path", lastCheckpointDir).load()
      .select($"key.event_type".as("event_type"),
              $"value.count".as("n"), $"value.sum".as("sum_v_c"))
      .orderBy($"event_type")
  }

  private val stateReaderSql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_v_c
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** The click and purchase sides of the watermark-gated stream-stream
    * joins (s14, s16, s18, s26): one sentinel-staged event stream, each
    * side watermarked (10 min) BEFORE its `event_type` filter. One
    * sentinel per side: each side's watermark node must see a
    * far-future row that SURVIVES its own filter (see [[eventStream]]);
    * callers drop the sentinels' negative user ids at the output. */
  private def sentinelClicksAndPurchases(s: SparkSession,
                                         d: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val base = eventStream(s, d, Seq("click", "purchase"))
      .select($"user_id", $"event_id", $"event_type", $"ts")
    val clicks = base
      .withWatermark("ts", "10 minutes")
      .where($"event_type" === "click")
      .select($"user_id".as("c_user"), $"event_id".as("click_id"),
              $"ts".as("c_ts"))
    val purchases = base
      .withWatermark("ts", "10 minutes")
      .where($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"event_id".as("purchase_id"),
              $"ts".as("p_ts"))
    (clicks, purchases)
  }

  /** s14: LEFT OUTER stream-stream join — every click, matched to its
    * conversion or emitted with nulls. Outer rows are watermark-gated
    * (Spark can only declare "no match will ever come" once the
    * watermark passes the click's join window), so the source stages a
    * far-future sentinel: the terminal no-data micro-batch then flushes
    * every unmatched click from state. Without it, the final watermark-
    * delay's worth of clicks would rightly sit in state awaiting more
    * data — an end-of-stream property this bounded replay must close. */
  private def streamOuterJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (clicks, purchases) = sentinelClicksAndPurchases(s, d)
    val joined = clicks.join(purchases,
      $"c_user" === $"p_user" &&
      $"p_ts" >= $"c_ts" && $"p_ts" <= $"c_ts" + expr("INTERVAL 10 MINUTES"),
      "left_outer")
    runToTable(s, joined, "s_ss_ljoin", OutputMode.Append(),
               flushFinal = true) // unmatched-click nulls are watermark-gated
      .where($"c_user" >= 0) // drop the watermark sentinels
      .select($"c_user".as("user_id"), $"click_id", $"purchase_id",
              (unix_micros($"p_ts") - unix_micros($"c_ts")).as("lag_us"))
      .orderBy($"user_id", $"click_id", $"purchase_id")
  }

  /** s17: frames in, frames out — the custom connector at BOTH ends of
    * a stream (the reference's full topology, `server.py` producer →
    * `client.py`/Kafka → consumer, minus the waived broker): pipecsv
    * micro-batch source (~4 rate-limited epochs) through a stateless
    * pass into the pipecsv streaming SINK, whose deterministic
    * (epoch, partition) file names make replayed epochs idempotent.
    * The sink's output is then read back through the connector's batch
    * scan and aggregated against the events oracle — any frame lost,
    * duplicated, or torn between the two custom halves breaks the hash. */
  private def streamPipeCsvSink(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.sources.SourceOps
    val inDir = SourceOps.stageFrames(s, d)
    val outDir = Tbl.scratchDir("pipecsv_sink")
    val perTrigger = math.max(1L, (SourceOps.frameCount(inDir) + 3) / 4)
    drain(s, s.readStream.format("pipecsv")
               .schema(SourceOps.frameSchema)
               .option("frameLen", SourceOps.FrameLen)
               .option("maxFramesPerTrigger", perTrigger)
               .load(inDir)
               .writeStream.format("pipecsv")
               .option("path", outDir)
               .option("frameLen", SourceOps.FrameLen)
               .outputMode(OutputMode.Append()), "pipecsv_sink")
    s.read.format("pipecsv").schema(SourceOps.frameSchema)
      .option("frameLen", SourceOps.FrameLen).load(outDir)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"v_c").as("sum_v_c"),
           min($"event_id").as("min_id"), max($"event_id").as("max_id"))
      .orderBy($"event_type")
  }

  private val streamPipeCsvSinkSql =
    """SELECT event_type, count(*) AS n,
      |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_v_c,
      |       min(event_id) AS min_id, max(event_id) AS max_id
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** s16: FULL OUTER stream-stream join — clicks that never converted
    * AND purchases with no preceding click, in one append stream. Both
    * sides' unmatched rows are watermark-gated, flushed by the same
    * per-branch sentinels as s14. The composite (user, click, purchase)
    * ordering stays total: unmatched-purchase rows carry null click_id
    * and sort among themselves by purchase_id. */
  private def streamFullOuterJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (clicks, purchases) = sentinelClicksAndPurchases(s, d)
    val joined = clicks.join(purchases,
      $"c_user" === $"p_user" &&
      $"p_ts" >= $"c_ts" && $"p_ts" <= $"c_ts" + expr("INTERVAL 10 MINUTES"),
      "full_outer")
    runToTable(s, joined, "s_ss_fjoin", OutputMode.Append(),
               flushFinal = true) // both sides' unmatched rows are watermark-gated
      .where(coalesce($"c_user", $"p_user") >= 0) // drop both sentinels
      .select(coalesce($"c_user", $"p_user").as("user_id"),
              $"click_id", $"purchase_id",
              (unix_micros($"p_ts") - unix_micros($"c_ts")).as("lag_us"))
      .orderBy($"user_id", $"click_id", $"purchase_id")
  }

  /** s18: LEFT SEMI stream-stream join — converted clicks only, each
    * emitted exactly once however many purchases land in its window.
    * Semi completes the streaming join-mode matrix (inner s12, left
    * outer s14, full outer s16): unlike the outer forms, a semi row
    * emits EAGERLY on its first match — the watermark's only job is
    * state eviction (a click older than watermark−interval can never
    * gain a first match and is dropped), so state stays bounded while
    * output never waits on watermark passage. Since no output is
    * watermark-gated, the bounded run also skips the terminal no-data
    * batch (runToTable flushFinal default); the watermark-driven
    * eviction machinery stays exercised by s14/s16, whose flush batch
    * must run. The sentinels can't match (negative user_id) and semi
    * output carries left columns only, so no output filter is even
    * needed — kept anyway as a belt against schema drift. */
  private def streamSemiJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (clicks, purchases) = sentinelClicksAndPurchases(s, d)
    val joined = clicks.join(purchases,
      $"c_user" === $"p_user" &&
      $"p_ts" >= $"c_ts" && $"p_ts" <= $"c_ts" + expr("INTERVAL 10 MINUTES"),
      "left_semi")
    runToTable(s, joined, "s_ss_sjoin", OutputMode.Append())
      .where($"c_user" >= 0) // sentinel belt (see Scaladoc)
      .select($"c_user".as("user_id"), $"click_id",
              unix_micros($"c_ts").as("ts_us"))
      .orderBy($"user_id", $"click_id")
  }

  private val streamSemiJoinSql =
    """SELECT c.user_id, c.event_id AS click_id, epoch_us(c.ts) AS ts_us
      |FROM events c
      |WHERE c.event_type = 'click'
      |  AND EXISTS (SELECT 1 FROM events p
      |              WHERE p.event_type = 'purchase'
      |                AND p.user_id = c.user_id
      |                AND p.ts >= c.ts
      |                AND p.ts <= c.ts + INTERVAL 10 MINUTE)
      |ORDER BY user_id, click_id""".stripMargin

  private val streamFullOuterJoinSql =
    """SELECT coalesce(c.user_id, p.user_id) AS user_id,
      |       c.event_id AS click_id, p.event_id AS purchase_id,
      |       epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
      |ORDER BY user_id, click_id NULLS FIRST, purchase_id NULLS FIRST""".stripMargin

  // NULLS FIRST: Spark's default asc ordering puts nulls first; DuckDB's
  // default is nulls last — pin it so unmatched clicks line up.
  private val streamOuterJoinSql =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |       epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON c.user_id = p.user_id
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
      |ORDER BY c.user_id, click_id, purchase_id NULLS FIRST""".stripMargin

  private val sessionSql =
    graft.Oracles.sessionize

  /** K3/K4: streaming CSV sink (the reference's predict_path output,
    * `predict_path.py:71,95`) — append the stream as headerless CSV,
    * read it back with a declared schema, aggregate. */
  private def streamCsvSink(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val outDir = Tbl.scratchDir("csv_sink")
    drain(s, eventStream(s, d)
               .select($"user_id", $"event_type")
               .writeStream.format("csv")
               .option("path", outDir)
               .outputMode(OutputMode.Append()), "csv")
    readCsvSink(s, outDir)
      .groupBy($"user_id", $"event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy($"user_id", $"event_type")
  }

  /** s9's csv sink output under `dir`, read with its declared schema. */
  private[graft] def readCsvSink(s: SparkSession, dir: String): DataFrame =
    s.read.schema("user_id BIGINT, event_type STRING").csv(dir)

  private val csvSinkSql =
    """SELECT user_id, event_type, count(*) AS n FROM events
      |GROUP BY user_id, event_type ORDER BY user_id, event_type""".stripMargin

  // ---- oracles ----

  private val windowAggSql =
    graft.Oracles.slidingWindow

  private val last3Sql =
    graft.Oracles.top3PerKey

  private val gapFillSql =
    graft.Oracles.gapFill

  private val dedupSql =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  private val completeSql =
    """SELECT event_type, count(*) AS n,
      |  round(sum(CAST(round(value*100) AS BIGINT))/100.0, 2) AS sum_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  private val staticJoinSql =
    graft.Oracles.eventsBySegment

  private val foreachBatchSql =
    """SELECT event_type, count(*) AS n FROM events
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  private val aisPreprocessSql = {
    import graft.Oracles.{ecefXS, ecefYS, latS, lonS, rotS}
    s"""SELECT CAST(user_id AS INT) AS mmsi,
       |  strptime(strftime(ts, '%Y-%m-%d %H:%M:%SZ'), '%Y-%m-%d %H:%M:%SZ') AS timestamp_utc,
       |  value AS speed_over_ground,
       |  floor(${rotS("value")} * 1000000.0) / 1000000.0 AS rate_of_turn,
       |  lon AS longitude, lat AS latitude,
       |  round(${ecefXS("lon", "lat")}, 2) AS cartesian_x,
       |  round(${ecefYS("lon", "lat")}, 2) AS cartesian_y
       |FROM (SELECT user_id, ts, value, event_id, $lonS AS lon, $latS AS lat FROM events)
       |WHERE lat > 7 AND lat < 23 AND lon > 105 AND lon < 123
       |ORDER BY mmsi, timestamp_utc, longitude, latitude, speed_over_ground""".stripMargin
  }

  /** Stream-static LEFT ANTI join — the streaming blocklist filter: the
    * event stream drops every row whose user sits in a static exclusion
    * dimension (here: one market segment of `customer`). Stateless and
    * append-safe — the static side broadcasts, so at 100 TB/day the
    * stream never shuffles and the blocklist refreshes per micro-batch
    * (static-side re-resolution is Structured Streaming's contract). */
  private def streamAntiJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val block = broadcast(Tbl.customer(s, d)
      .where($"c_mktsegment" === "BUILDING")
      .select($"c_custkey"))
    val joined = eventStream(s, d)
      .join(block, $"user_id" === $"c_custkey", "left_anti")
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"))
    runToTable(s, joined, "s_anti_join", OutputMode.Append())
      .orderBy($"user_id", $"event_id")
  }

  private val streamAntiJoinSql =
    """SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
      |WHERE user_id NOT IN (SELECT c_custkey FROM customer
      |                      WHERE c_mktsegment = 'BUILDING')
      |ORDER BY user_id, event_id""".stripMargin

  /** CHAINED stateful aggregations in one streaming query (append-mode
    * multi-stateful, a Spark ≥3.4 capability): per-(1-minute window,
    * user) counts re-aggregated into 5-minute roll-ups — the streaming
    * form of the pre-agg → re-agg cascade every metrics pipeline runs.
    * The second groupBy windows over the FIRST agg's window struct, so
    * event-time semantics and watermark gating propagate through both
    * stateful operators; a far-future sentinel (see eventStream) flushes
    * both state stores and is excluded by its impossible window start.
    * Scale shape: the first agg collapses events to (window, user)
    * partials map-side; the second shuffles only window-count rows. */
  private def streamChainedAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val agg1 = eventStream(s, d, Seq("view"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 minute"), $"user_id")
      .agg(count(lit(1)).as("n1"))
    val agg2 = agg1
      .groupBy(window($"window", "5 minutes"))
      .agg(sum($"n1").as("n_events"), count(lit(1)).as("n_user_windows"))
      .select(unix_micros($"window.start").as("ws_us"),
              $"n_events", $"n_user_windows")
    runToTable(s, agg2, "s_chained_agg", OutputMode.Append(),
               flushFinal = true) // append-mode windows close on watermark
      // exclude the sentinel's own window (start ≈ 7.0e15 µs, year
      // ~2191). The threshold is MICROS-scale: a prior nanos-scale 6e18
      // constant excluded nothing and correctness silently rested on
      // append-mode watermark gating alone (round-4 ADVICE)
      .where($"ws_us" < 6900000000000000L)
      .orderBy($"ws_us")
  }

  private val streamChainedAggSql =
    """WITH w1 AS (
      |  SELECT (epoch_us(ts) // 60000000) * 60000000 AS w1s_us,
      |         user_id, count(*) AS n1
      |  FROM events GROUP BY 1, 2)
      |SELECT (w1s_us // 300000000) * 300000000 AS ws_us,
      |       CAST(sum(n1) AS BIGINT) AS n_events,
      |       count(*) AS n_user_windows
      |FROM w1 GROUP BY 1 ORDER BY ws_us""".stripMargin

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s19_stream_anti_join"  -> (streamAntiJoin _),
    "s20_stream_chained_agg" -> (streamChainedAgg _),
    "s1_stream_window_agg"  -> (streamWindowAgg _),
    "s2_stream_last3"       -> (streamLast3 _),
    "s3_stream_gap_fill"    -> (streamGapFill _),
    "s4_stream_dedup"       -> (streamDedup _),
    "s5_stream_complete"    -> (streamCompleteCounts _),
    "s6_stream_static_join" -> (streamStaticJoin _),
    "s7_foreach_batch"      -> (foreachBatchAgg _),
    "s8_ais_preprocess"     -> (streamAisPreprocess _),
    "s34_chained_flagship"  -> (streamChainedFlagship _),
    "s35_chained_state_reader" -> (chainedStateReader _),
    "s9_stream_csv_sink"    -> (streamCsvSink _),
    "s10_stream_session"    -> (streamSession _),
    "s21_stream_dynamic_session" -> (streamDynamicSession _),
    "s11_stream_tws"        -> (streamRunningTotals _),
    "s12_stream_stream_join" -> (streamStreamJoin _),
    "s22_stream_spatial_join" -> (streamSpatialJoin _),
    "s14_stream_outer_join" -> (streamOuterJoin _),
    "s15_stream_pipecsv" -> (streamPipeCsv _),
    "s16_stream_full_outer" -> (streamFullOuterJoin _),
    "s17_stream_pipecsv_sink" -> (streamPipeCsvSink _),
    "s18_stream_semi_join"  -> (streamSemiJoin _),
    "s13_stream_curation"   -> (streamCuration _),
    "s14_stream_dedup_wm"   -> (streamDedupWm _),
    "s23_stream_timer_session" -> (streamTimerSession _),
    "s24_stream_ttl_profile" -> (streamTtlProfile _),
    "s25_stream_kmv"        -> (streamKmv _),
    "s26_stream_asof_join"  -> (streamAsofJoin _),
    "s27_stream_drift"      -> (streamDrift _),
    "s28_stream_bitmap"     -> (streamBitmapDistinct _),
    "s29_stream_textlog"    -> (streamTextLog _),
    "s30_state_reader"      -> (stateReader _),
    "s31_stream_liststate"  -> (streamListState _),
    "s32_stream_union"      -> (streamUnionAgg _),
    "s33_foreach_merge"     -> (foreachMerge _))

  /** s27: STREAMING drift monitor — the `x_dist_drift` family as a live
    * gate: per-day tumbling windows of the event stream score their
    * per-type histogram against a static whole-corpus baseline
    * (broadcast, the stream-static shape of s6). The stateful part is
    * ONLY the watermarked windowed count — bounded by watermark
    * eviction at any volume; the drift arithmetic (floor-e9 smoothed
    * proportions, one 7dp-rounded micro-nat ln per bin, pure integer
    * PRODUCTS so no signed division — see x_dist_drift) runs batch-side
    * on the |windows|·|types| sink table. Update mode: with
    * AvailableNow's single batch every window emits its final count. */
  private def streamDrift(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.{Window => W}
    val base = Tbl.events(s, d).groupBy($"event_type")
      .agg(count(lit(1)).as("qc"))
    val agg = eventStream(s, d)
      .withWatermark("ts", "5 minutes")
      .groupBy(window($"ts", "1 day"), $"event_type")
      .agg(count(lit(1)).as("n"))
    val sunk = runToTable(s, agg, "s_drift", OutputMode.Update())
      .select(unix_micros($"window.start").as("ws_us"), $"event_type", $"n")
    val qn1 = base.agg(sum($"qc" + 1).as("qn1"))
    sunk
      .withColumn("pn1", sum($"n" + 1).over(W.partitionBy($"ws_us")))
      .join(broadcast(base), "event_type")
      .crossJoin(broadcast(qn1))
      .select($"ws_us", $"event_type", $"n", $"qc",
              expr("(n + 1) * 1000000000L div pn1").as("p_e9"),
              expr("(qc + 1) * 1000000000L div qn1").as("q_e9"),
              floor(round(log((($"n" + 1).cast("double") * $"qn1".cast("double")) /
                              (($"qc" + 1).cast("double") * $"pn1".cast("double"))), 7)
                      * 1000000.0).cast("long").as("ln_e6"))
      .select($"ws_us", $"event_type", $"n", $"qc", $"p_e9", $"q_e9",
              $"ln_e6", ($"p_e9" * $"ln_e6").as("kl_c"),
              (($"p_e9" - $"q_e9") * $"ln_e6").as("psi_c"))
      .orderBy($"ws_us", $"event_type")
  }

  private val streamDriftSql =
    """WITH ev AS (
      |  SELECT epoch_us(ts) // 86400000000 * 86400000000 AS ws_us,
      |         event_type
      |  FROM events),
      |w AS (SELECT ws_us, event_type, count(*) AS n FROM ev GROUP BY 1, 2),
      |pt AS (SELECT ws_us, CAST(sum(n + 1) AS BIGINT) AS pn1
      |       FROM w GROUP BY 1),
      |b AS (SELECT event_type, count(*) AS qc FROM events GROUP BY 1),
      |bt AS (SELECT CAST(sum(qc + 1) AS BIGINT) AS qn1 FROM b),
      |j AS (SELECT w.ws_us, w.event_type, w.n, b.qc, pn1, qn1
      |      FROM w JOIN pt USING (ws_us) JOIN b USING (event_type), bt),
      |k AS (SELECT ws_us, event_type, n, qc,
      |             (n + 1) * 1000000000 // pn1 AS p_e9,
      |             (qc + 1) * 1000000000 // qn1 AS q_e9,
      |             CAST(floor(round(ln((CAST(n + 1 AS DOUBLE) * CAST(qn1 AS DOUBLE)) /
      |                                 (CAST(qc + 1 AS DOUBLE) * CAST(pn1 AS DOUBLE))), 7)
      |                        * 1000000.0) AS BIGINT) AS ln_e6
      |      FROM j)
      |SELECT ws_us, event_type, n, qc, p_e9, q_e9, ln_e6,
      |       p_e9 * ln_e6 AS kl_c, (p_e9 - q_e9) * ln_e6 AS psi_c
      |FROM k ORDER BY ws_us, event_type""".stripMargin

  /** s26: STREAMING AS-OF join — for each purchase, the LATEST click by
    * the same user within the preceding 10 minutes. Spark has no native
    * stream-stream as-of, so it composes from two watermark-evictable
    * stateful operators: the time-interval join (same state shape as
    * s12) feeding a CHAINED aggregation keyed on the purchase with a
    * deterministic `max_by` argmax — the join→agg multi-stateful
    * pipeline (s20 chains agg→agg). `p_ts` sits in the group keys so
    * the agg's state evicts by the propagated watermark; the sentinel
    * rows advance it past the tail so append-mode finals flush. The
    * argmax tie-breaks on (c_ts, click_id), the same total order the
    * oracle's row_number states — deterministic under any partitioning
    * or batch layout. */
  private def streamAsofJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (clicks, purchases) = sentinelClicksAndPurchases(s, d)
    val joined = clicks.join(purchases,
      $"c_user" === $"p_user" &&
      $"c_ts" <= $"p_ts" && $"c_ts" >= $"p_ts" - expr("INTERVAL 10 MINUTES"))
    val asof = joined
      .groupBy($"p_user", $"purchase_id", $"p_ts")
      .agg(max_by($"click_id", struct($"c_ts", $"click_id"))
             .as("asof_click_id"),
           max($"c_ts").as("asof_c_ts"))
    runToTable(s, asof, "s_asof_join", OutputMode.Append(),
               flushFinal = true)
      .where($"p_user" >= 0) // drop the watermark sentinels
      .select($"p_user".as("user_id"), $"purchase_id", $"asof_click_id",
              (unix_micros($"p_ts") - unix_micros($"asof_c_ts")).as("lag_us"))
      .orderBy($"user_id", $"purchase_id")
  }

  private val streamAsofJoinSql =
    """WITH j AS (
      |  SELECT p.user_id, p.event_id AS purchase_id, p.ts AS p_ts,
      |         c.event_id AS click_id, c.ts AS c_ts
      |  FROM events p JOIN events c
      |    ON c.user_id = p.user_id
      |   AND p.event_type = 'purchase' AND c.event_type = 'click'
      |   AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 10 MINUTE),
      |r AS (SELECT user_id, purchase_id, p_ts, click_id, c_ts,
      |        row_number() OVER (PARTITION BY purchase_id
      |                           ORDER BY c_ts DESC, click_id DESC) AS rn
      |      FROM j)
      |SELECT user_id, purchase_id, click_id AS asof_click_id,
      |       epoch_us(p_ts) - epoch_us(c_ts) AS lag_us
      |FROM r WHERE rn = 1 ORDER BY user_id, purchase_id""".stripMargin

  override val oracles: Map[String, String] = Map(
    "s19_stream_anti_join"  -> streamAntiJoinSql,
    "s20_stream_chained_agg" -> streamChainedAggSql,
    "s1_stream_window_agg"  -> windowAggSql,
    "s2_stream_last3"       -> last3Sql,
    "s3_stream_gap_fill"    -> gapFillSql,
    "s4_stream_dedup"       -> dedupSql,
    "s5_stream_complete"    -> completeSql,
    "s6_stream_static_join" -> staticJoinSql,
    "s7_foreach_batch"      -> foreachBatchSql,
    "s8_ais_preprocess"     -> aisPreprocessSql,
    "s34_chained_flagship"  -> chainedFlagshipSql,
    "s35_chained_state_reader" -> chainedFlagshipSql, // shared: state IS the ranking
    "s9_stream_csv_sink"    -> csvSinkSql,
    "s10_stream_session"    -> sessionSql,
    "s21_stream_dynamic_session" -> graft.Oracles.dynamicSession,
    "s11_stream_tws"        -> runningTotalsSql,
    "s12_stream_stream_join" -> streamStreamJoinSql,
    "s22_stream_spatial_join" -> streamSpatialJoinSql,
    "s14_stream_outer_join" -> streamOuterJoinSql,
    "s15_stream_pipecsv" -> streamPipeCsvSql,
    "s16_stream_full_outer" -> streamFullOuterJoinSql,
    "s17_stream_pipecsv_sink" -> streamPipeCsvSinkSql,
    "s18_stream_semi_join"  -> streamSemiJoinSql,
    "s13_stream_curation"   -> streamCurationSql,
    "s14_stream_dedup_wm"   -> dedupWmSql,
    "s23_stream_timer_session" -> timerSessionSql,
    "s24_stream_ttl_profile" -> ttlProfileSql,
    "s25_stream_kmv"        -> streamKmvSql,
    "s26_stream_asof_join"  -> streamAsofJoinSql,
    "s27_stream_drift"      -> streamDriftSql,
    "s28_stream_bitmap"     -> streamBitmapDistinctSql,
    "s29_stream_textlog"    -> streamTextLogSql,
    "s30_state_reader"      -> stateReaderSql,
    "s31_stream_liststate"  -> streamListStateSql,
    "s32_stream_union"      -> streamUnionAggSql,
    "s33_foreach_merge"     -> foreachMergeSql)
}
