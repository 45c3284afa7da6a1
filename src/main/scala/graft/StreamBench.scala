package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQueryProgress}
import graft.streaming.Replay

/** Streaming-state bench at replay volume (round-7 VERDICT item #2).
  *
  * The per-round bench replays each stream as ONE AvailableNow batch —
  * right for the oracle contract, but it never shows how state behaves
  * ACROSS batches: does per-batch wall grow as RocksDB state accumulates
  * (the 100 TB question), or stay flat? This main answers it with a
  * 10M-row replay (sf10 events) cut into K time-ordered chunks consumed
  * one file per micro-batch, across eight state layouts, among them:
  *
  *  - `agg_watermark`  (s1-class): sliding-window agg, watermark evicts —
  *    steady-state batch time must be FLAT (state bounded by watermark).
  *  - `dedup_nowm`     (J5-class): dropDuplicates with NO watermark —
  *    state grows monotonically to 10M rows. Round-8 measured per-row
  *    cost ×1.73 first→last quarter under 20× state growth: LOG-LIKE
  *    degradation (RocksDB compaction debt), NOT flat — the expected
  *    price of the unbounded layout, kept as the honest negative.
  *  - `dedup_wm`       (s14-class): the bounded twin —
  *    dropDuplicatesWithinWatermark on the same key at the same volume;
  *    eviction holds state at the watermark-window population, so this
  *    row is the flat-cost deployment shape next to dedup_nowm's drift.
  *  - `ring_last3`     (s2-class): flatMapGroupsWithState bounded ring
  *    per user — keyed-state layout, state = distinct users.
  *  - `ss_interval_join` (s12-class): stream-stream inner interval join,
  *    both sides watermarked — symmetric join state under eviction.
  *  - `ss_leftouter_join` (s14-class): LEFT OUTER stream-stream join —
  *    outer-join buffers, the heaviest state-per-key layout (both sides
  *    held until the watermark closes the join window).
  *
  * Sinks are `noop`: the bench prices source + state machinery + commit,
  * not a memory sink's driver-side row buffering (10M update-mode rows
  * would distort driver heap). RocksDB row tracking is ON here — state
  * size IS the measurement, so the read-before-put cost is paid
  * deliberately (the oracle bench turns it off; see configureStreaming).
  *
  * Run: `runMain graft.StreamBench [layout …]` — the named layouts, or
  * all of them; the corpus is cut once and every layout drains it
  * through its own [[graft.streaming.Replay]].
  *
  * Artifact: one JSON line per query appended to STREAMBENCH_rNN.json —
  * per-batch {rows, totalMs, addBatchMs, commitMs, stateRows,
  * stateBytes}, plus a growth verdict: mean per-ROW batch cost of the
  * last quarter of the replay over the first quarter (batch 0 excluded —
  * it pays JIT + store-open). growth ≈ 1 is the flat-cost proof;
  * superlinear state handling reads as growth >> 1.
  */
object StreamBench {

  // NOT private: the row-encoder's janino-generated code lives outside
  // this package and needs JVM-public access to the accessor methods
  final case class Ring(ids: List[Long])

  /** One state layout: its sink mode and its query over a replay
    * source (called once per source relation the query needs). */
  private[graft] final case class Layout(
      name: String, mode: OutputMode,
      build: (SparkSession, () => DataFrame) => DataFrame)

  private val layouts: Seq[Layout] = Seq(
    Layout("agg_watermark", OutputMode.Update(), (s, src) => {
      import s.implicits._
      src().withWatermark("ts", "10 minutes")
        .groupBy(window($"ts", "2 minutes", "1 minute"), $"user_id")
        .agg(count(lit(1)).as("n"), sum(Tbl.cents($"value")).as("v"))
    }),
    Layout("dedup_nowm", OutputMode.Append(), (_, src) =>
      src().dropDuplicates("event_id")),
    // the bounded twin of dedup_nowm (same key, same volume): the
    // watermark evicts dedup state older than 10 minutes of event
    // time, so state is bounded by the window population, not the
    // corpus — the layout a 100 TB deployment runs (s14's semantics)
    Layout("dedup_wm", OutputMode.Append(), (_, src) =>
      src().withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark("event_id")),
    Layout("ring_last3", OutputMode.Update(), (s, src) => {
      import s.implicits._
      src().select($"user_id", $"event_id").as[(Long, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(
          OutputMode.Update(), GroupStateTimeout.NoTimeout)(
          (user: Long, rows: Iterator[(Long, Long)], st: GroupState[Ring]) => {
            val prev = st.getOption.map(_.ids).getOrElse(Nil)
            val next = (prev ++ rows.map(_._2)).takeRight(3).toList
            st.update(Ring(next))
            Iterator((user, next.size))
          }).toDF("user_id", "n_kept")
    }),
    // s23-class: transformWithState sessionization with EVENT-TIME
    // TIMERS — every batch re-arms one timer per active key and the
    // watermark sweep fires the idle ones; state = open sessions
    // (bounded by active keys), so per-row cost must stay flat while
    // the timer registry churns at full replay volume
    Layout("timer_session", OutputMode.Append(), (s, src) => {
      import s.implicits._
      src().withWatermark("ts", "0 seconds")
        .select($"event_id", $"ts", unix_micros($"ts").as("ts_us"),
                $"user_id", $"value")
        .as[graft.streaming.StatefulOps.TEv]
        .groupByKey(_.user_id)
        .transformWithState(
          new graft.streaming.StatefulOps.TimerSessions(1800000000L),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          OutputMode.Append())
        .toDF()
    }),
    // s31-class: transformWithState ListState bounded min-3 over
    // salted sub-keys ((event_type, event_id mod 32) — 160 RocksDB
    // keys) — state is ≤3 rows per sub-key at ANY replay length, and
    // the round-11 fold's per-row cost is one (ts,id) compare (the
    // pre-fix handleInputRows sorted each key's whole micro-batch:
    // 2,410 s of update CPU at 100M rows)
    Layout("liststate_min3", OutputMode.Update(), (s, src) => {
      import s.implicits._
      src().select($"event_type", $"event_id",
                   unix_micros($"ts").as("ts_us"), $"value")
        .as[graft.streaming.StatefulOps.TypeEv]
        .groupByKey(e => (e.event_type,
          java.lang.Math.floorMod(e.event_id,
            graft.streaming.StreamingOps.ListStateSalts.toLong).toInt))
        .transformWithState(
          new graft.streaming.StatefulOps.First3PerType,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Update())
        .toDF()
    }),
    Layout("ss_interval_join", OutputMode.Append(), (s, src) => {
      import s.implicits._
      val l = src().where($"event_type" === "view")
        .select($"user_id".as("l_user"), $"ts".as("l_ts"))
        .withWatermark("l_ts", "5 minutes")
      val r = src().where($"event_type" === "click")
        .select($"user_id".as("r_user"), $"ts".as("r_ts"))
        .withWatermark("r_ts", "5 minutes")
      l.join(r, $"l_user" === $"r_user" &&
        $"r_ts" >= $"l_ts" && $"r_ts" <= $"l_ts" + expr("interval 2 minutes"))
    }),
    // s14-class: LEFT OUTER stream-stream join — the heaviest
    // state-per-key family (round-11 verdict item #3: the outer-join
    // buffers had no 100M-row replay evidence). BOTH sides buffer
    // until the watermark passes the join window (the left side must
    // also outlive it to emit its null-matched row), so state holds
    // ~15 minutes of clicks+purchases at any replay length — bounded
    // by time density, not corpus size. Growth ≈ 1 at 100M rows is
    // the flat-cost proof for outer-join state eviction.
    Layout("ss_leftouter_join", OutputMode.Append(), (s, src) => {
      import s.implicits._
      val l = src().where($"event_type" === "click")
        .select($"user_id".as("c_user"), $"event_id".as("click_id"),
                $"ts".as("c_ts"))
        .withWatermark("c_ts", "10 minutes")
      val r = src().where($"event_type" === "purchase")
        .select($"user_id".as("p_user"), $"event_id".as("purchase_id"),
                $"ts".as("p_ts"))
        .withWatermark("p_ts", "10 minutes")
      l.join(r, $"c_user" === $"p_user" &&
        $"p_ts" >= $"c_ts" && $"p_ts" <= $"c_ts" + expr("interval 10 minutes"),
        "left_outer")
    }))

  /** The layouts named on the command line (every layout when none is);
    * an unknown name fails before any session exists. */
  private[graft] def select(names: Seq[String]): Seq[Layout] =
    Bench.pick("layout", layouts.map(l => l.name -> l), names).map(_._2)

  /** (chunks, restart point) from `SPARK_GRAFT_STREAM_CHUNKS` (default
    * 20) and `SPARK_GRAFT_STREAM_RESTART` (unset: no restart). */
  private[graft] def replayShape(env: String => Option[String]): (Int, Int) = {
    def knob(k: String, default: Int) = env(k).fold(default)(Session.positiveInt(k, _))
    val chunks = knob("SPARK_GRAFT_STREAM_CHUNKS", 20)
    val restartAt = knob("SPARK_GRAFT_STREAM_RESTART", 0)
    require(restartAt < chunks,
      s"SPARK_GRAFT_STREAM_RESTART=$restartAt must be in (0, $chunks)")
    (chunks, restartAt)
  }

  def main(args: Array[String]): Unit = {
    JvmOpens.check() // fail fast on a bare-java launch (see JvmOpens)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf10")
    val (chunks, restartAt) = replayShape(sys.env.get)
    val selected = select(args.toSeq)
    // SPARK_GRAFT_CONF steers e.g. the snapshot-cadence experiments
    // below (minDeltasForSnapshot) without a rebuild
    val conf = Session.envConf
    val spark = Session.local(Session.cpus, conf)
    spark.sparkContext.setLogLevel("WARN")
    graft.streaming.StreamingOps.configureStreaming(spark)
    // state size IS the deliverable of this bench — pay the tracking cost
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows", "true")
    // steady-state behavior needs the watermark to advance between
    // batches, which AvailableNow handles; no-data batches add nothing
    // to a per-batch growth measurement
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // recentProgress is a ring buffer (default 100): with more chunks
    // than that the EARLIEST batches silently drop and the growth ratio
    // skews toward the tail (round-8 ADVICE) — size it to the replay
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates",
                   (chunks + 16).toString)

    // cut once; every layout replays the same chunk files
    val events = Tbl.events(spark, sfDir)
    val cut = Replay.chunks(events, chunks, col("ts"))

    val round = Bench.round
    val outPath = java.nio.file.Paths.get(f"STREAMBENCH_r$round%02d.json")

    selected.foreach { layout =>
      val replay = new Replay(spark, events.schema).hold(cut)
      // one AvailableNow drain over the chunks released so far (wall s,
      // data batches); each drain after the first is a restart
      def pass(): (Double, Array[StreamingQueryProgress]) = {
        val t0 = System.nanoTime()
        val progress = replay.run(
          layout.build(spark, () => replay.source)
            .writeStream.format("noop").outputMode(layout.mode))
        ((System.nanoTime() - t0) / 1e9, progress)
      }
      val (wall, progress, restartExtra) =
        if (restartAt == 0) {
          replay.release()
          val (w, p) = pass()
          (w, p, "")
        } else {
          // SPARK_GRAFT_STREAM_RESTART=M (round-13 verdict item #3):
          // measure the RECOVERY side of the snapshot-cadence dial. Pass
          // 1 replays only the first M chunks, building a checkpoint
          // whose newest RocksDB artifact is a snapshot (small
          // minDeltasForSnapshot) or a long changelog run (large). The
          // drain stops the query and unloads its state stores, so pass
          // 2 restarts the SAME checkpoint over the released remainder
          // with a real store load — snapshot download + changelog
          // replay — on its FIRST batch: firstBatch − medianSteadyBatch
          // isolates recovery cost, comparable across SPARK_GRAFT_CONF
          // cadence settings. That load path is the post-SIGKILL one:
          // both resume from the last committed version; a kill only
          // adds the re-run of its one uncommitted batch (≈ the median
          // batch wall).
          replay.release(restartAt)
          val (w1, p1) = pass()
          replay.release()
          val (w2, p2) = pass()
          val b1 = batchMaps(p1)
          val b2 = batchMaps(p2)
          val steady1 = b1.drop(1).map(_("totalMs")).sorted
          val med1 = if (steady1.isEmpty) -1L else steady1(steady1.length / 2)
          val first2 = b2.headOption.map(_("totalMs")).getOrElse(-1L)
          // chunks_pass2 makes the denominators self-describing: in a
          // restart line, wall_s/rows_total/rows_per_s/growth cover
          // pass 2 ONLY (chunks - restart_at chunks), so a consumer
          // comparing against non-restart lines at the same "chunks"
          // value must not misread throughput (round-14 ADVICE #5)
          val extra =
            s""""restart_at":$restartAt,"chunks_pass2":${chunks - restartAt},""" +
            s""""pass1_wall_s":$w1,""" +
            s""""pass1_batches":${b1.length},""" +
            s""""median_pass1_batch_ms":$med1,""" +
            s""""first_batch_after_restart_ms":$first2,""" +
            s""""recovery_overhead_ms":${if (first2 < 0 || med1 < 0) -1 else first2 - med1},""" +
            s""""batches_pass1":${batchesJson(b1)},"""
          (w2, p2, extra)
        }

      val batches = batchMaps(progress)
      // per-row batch cost, first vs last quarter (batch 0 excluded):
      // flat-cost proof for state growth across the replay
      val steady = batches.drop(1)
      def perRow(bs: Array[Map[String, Long]]): Double =
        if (bs.isEmpty) 0.0
        else bs.map(b => b("totalMs").toDouble / math.max(b("rows"), 1)).sum / bs.length
      val quarter = math.max(steady.length / 4, 1)
      // null, not 0.0, when the quarter comparison is not computable —
      // a fabricated 0.0 reads as "per-row cost collapsed" (r8 ADVICE)
      val growth: Option[Double] =
        if (steady.length >= 4)
          Some(perRow(steady.takeRight(quarter)) /
               math.max(perRow(steady.take(quarter)), 1e-9))
        else None
      val growthJson = growth.map(g => f"$g%.3f").getOrElse("null")
      // The mean-based ratio is snapshot-cadence-sensitive: RocksDB
      // changelog snapshots fire every ~10 batches (commitMs spikes of
      // 40-100 s cumulative on batches 9/19 of a 20-chunk replay), and
      // with ~5 batches per quarter one spike landing in the last
      // quarter but not the first inflates the ratio for EVERY layout
      // (round-9 finding: bounded dedup_wm read 1.79 by mean, 1.1 by
      // median on the same run). Median per-row cost is robust to the
      // periodic snapshot batches while the full batch series above
      // keeps the spikes visible; report both, judge on the median.
      def perRowMed(bs: Array[Map[String, Long]]): Double =
        if (bs.isEmpty) 0.0
        else {
          val xs = bs.map(b => b("totalMs").toDouble / math.max(b("rows"), 1)).sorted
          xs(xs.length / 2)
        }
      val growthMed: Option[Double] =
        if (steady.length >= 4)
          Some(perRowMed(steady.takeRight(quarter)) /
               math.max(perRowMed(steady.take(quarter)), 1e-9))
        else None
      val growthMedJson = growthMed.map(g => f"$g%.3f").getOrElse("null")
      // growth ≈ 1 means flat per-row cost. An unbounded-state layout
      // (dedup_nowm) drifting upward while stateRows grows 20× is
      // LOG-LIKE RocksDB degradation, expected and honest — its bounded
      // twin (dedup_wm) at the same volume is the flat deployment shape
      val rowsTotal = batches.map(_("rows")).sum
      // conf: which experiment configuration produced this line —
      // multiple runs append to one round artifact, so the line must
      // carry its own provenance. JSON-escaped: a quote/backslash/
      // control char in an env-provided conf value must not corrupt the
      // JSONL line that cross-round consumers parse (round-13 ADVICE)
      val confStr = Bench.jstr(Session.show(conf))
      val line =
        s"""{"query":"${layout.name}","conf":$confStr,"sf":${Bench.jstr(sfDir)},"chunks":$chunks,"rows_total":$rowsTotal,""" +
        restartExtra +
        s""""wall_s":$wall,"rows_per_s":${(rowsTotal / wall).toLong},""" +
        s""""growth_last_over_first":$growthJson,""" +
        s""""growth_median":$growthMedJson,"batches":${batchesJson(batches)}}"""
      println(line)
      java.nio.file.Files.write(outPath, (line + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
    spark.stop()
  }

  /** Per-batch metric map from a query's progress events (shared by the
    * normal replay and both passes of the restart experiment). */
  private def batchMaps(progress: Array[StreamingQueryProgress])
      : Array[Map[String, Long]] =
    progress.map { p =>
      val so = p.stateOperators.headOption
      val get = (k: String) => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(-1L)
      val stateBytes = so.map { s =>
        val m = s.customMetrics
        // small state lives in RocksDB's memtable (sst bytes 0 until a
        // flush) — take the max over memory + sst views so the number
        // is meaningful at every state size
        (Seq("rocksdbSstFileSize", "rocksdbTotalMemoryUsageBytes",
             "stateOnCurrentVersionSizeBytes")
          .map(k => Option(m.get(k)).map(_.longValue).getOrElse(0L))
          :+ s.memoryUsedBytes).max
      }.getOrElse(0L)
      // commit-latency breakdown (round-12 verdict item #2): commitMs
      // spikes ~100 s on the snapshot batch — these provider metrics
      // say WHERE inside commit the time went (memtable flush vs
      // native checkpoint vs fsync vs writer stalls), summed across
      // the operator's store instances for the batch
      val cm = (k: String) => so.map { s =>
        Option(s.customMetrics.get(k)).map(_.longValue).getOrElse(-1L)
      }.getOrElse(-1L)
      Map(
        "batch" -> p.batchId, "rows" -> p.numInputRows,
        "totalMs" -> get("triggerExecution"), "addBatchMs" -> get("addBatch"),
        "commitMs" -> so.map(_.commitTimeMs).getOrElse(-1L),
        "updateMs" -> so.map(_.allUpdatesTimeMs).getOrElse(-1L),
        "flushMs" -> cm("rocksdbCommitFlushLatency"),
        "compactMs" -> cm("rocksdbCommitCompactLatency"),
        "checkpointMs" -> cm("rocksdbCommitCheckpointLatency"),
        "fileSyncMs" -> cm("rocksdbCommitFileSyncLatencyMs"),
        "stallMs" -> cm("rocksdbWriterStallLatencyMs"),
        "saveZipMs" -> cm("rocksdbSaveZipFilesLatencyMs"),
        // store-LOAD decomposition (the restart experiment's payload;
        // ≈0 on warm batches, the full recovery cost on the first batch
        // after a restart): total load, its snapshot-read part, its
        // changelog-replay part, and HOW MANY changelog files had to be
        // replayed — the direct readout of the snapshot-cadence dial.
        // Summed across store instances like every other state metric.
        "loadMs" -> cm("rocksdbLoadLatencyMs"),
        "loadSnapshotMs" -> cm("rocksdbLoadFromSnapshotLatencyMs"),
        "replayChangelogMs" -> cm("rocksdbReplayChangeLogLatencyMs"),
        "replayChangelogFiles" -> cm("rocksdbNumReplayChangelogFiles"),
        "stateRows" -> so.map(_.numRowsTotal).getOrElse(-1L),
        "stateBytes" -> stateBytes)
    }

  private def batchesJson(bs: Array[Map[String, Long]]): String =
    bs.map(b => b.map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")).mkString("[", ",", "]")
}
