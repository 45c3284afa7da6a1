package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Closed-loop passes over named `SparkEntry.queries` entries.
  *
  * Pass 0 runs each entry untimed and writes its output for the oracle
  * check; it also takes the cold-JVM costs. Timed passes follow until
  * `seconds` of timed work have run (at least one). Each timed call is
  * split into three layers: `build` (the registry call, which for stream
  * entries runs the stream to completion), `plan` (`executedPlan`) and
  * `exec` (the noop-sink materialize). An entry that throws or times out
  * is recorded with its status and no timings, so it can never pass for a
  * fast one.
  */
object Registry {

  /** The 18 query modules, by name; an entry belongs to the module whose
    * public `queries` holds it. */
  val modules: Seq[(String, graft.QueryModule)] = {
    import graft.operators._
    Seq("RelationalOps" -> RelationalOps, "TemporalJoinOps" -> TemporalJoinOps,
      "SpatialJoinOps" -> SpatialJoinOps, "FuzzyJoinOps" -> FuzzyJoinOps,
      "AisOps" -> AisOps, "WindowOps" -> WindowOps, "AnalyticsOps" -> AnalyticsOps,
      "TextOps" -> TextOps, "CurationOps" -> CurationOps, "DedupOps" -> DedupOps,
      "SimilarityOps" -> SimilarityOps, "MultimodalOps" -> MultimodalOps,
      "GraphOps" -> GraphOps, "MiningOps" -> MiningOps, "ScaleOps" -> ScaleOps,
      "SurfaceOps" -> SurfaceOps, "SourceOps" -> graft.sources.SourceOps,
      "StreamingOps" -> graft.streaming.StreamingOps)
  }

  /** Every registry entry with its module, and the DuckDB oracle SQL. */
  def listing: Map[String, Any] = Map(
    "entries" -> modules.flatMap { case (n, m) =>
      m.queries.keys.toSeq.sorted.map(k => Map("name" -> k, "module" -> n)) },
    "registry_size" -> graft.SparkEntry.queries.size,
    "oracles" -> graft.SparkEntry.oracleSql)

  /** Entry name prefix that the benchmark's self-test uses to inject a
    * deliberately throwing entry. */
  val ThrowPrefix = "perfbench_throw"

  private def lines(path: String): Seq[String] =
    scala.io.Source.fromFile(path).getLines().map(_.trim).filter(_.nonEmpty).toSeq

  private def cleanup(spark: SparkSession): Unit = {
    spark.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => })
    spark.catalog.clearCache()
    spark.sqlContext.tableNames().foreach(spark.catalog.dropTempView)
  }

  /** Progress reports of the streams an entry starts (traced run only). */
  private final class ProgressTap extends StreamingQueryListener {
    val buf = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      buf.synchronized { buf += e }
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def drain(): Seq[StreamingQueryListener.QueryProgressEvent] =
      buf.synchronized { val r = buf.toList; buf.clear(); r }
  }

  def run(spark: SparkSession, args: Map[String, String], trace: Trace): Map[String, Any] = {
    val sc = spark.sparkContext
    val sf = args("sf")
    val names = lines(args("entries"))
    val checkDir = args("check")
    val timeoutMs = (args.getOrElse("timeout_s", "60").toDouble * 1000).toLong
    val seconds = args("seconds").toDouble
    val registry = graft.SparkEntry.queries
    val moduleOf = modules.flatMap { case (n, m) => m.queries.keys.map(_ -> n) }.toMap
    val layers = if (trace.on) {
      val l = new LayerListener(trace); sc.addSparkListener(l); Some(l)
    } else None
    val tap = if (trace.on) {
      val t = new ProgressTap; spark.streams.addListener(t); Some(t)
    } else None

    val timer = new java.util.Timer("perfbench-watchdog", true)
    val inter = new Main.Interference
    val wall0 = System.nanoTime()

    /** One entry call: pass 0 writes the check output, later passes are timed. */
    def entry(name: String, pass: Int): Map[String, Any] = {
      val module = moduleOf.getOrElse(name, "Other")
      val rec = mutable.LinkedHashMap[String, Any]("name" -> name, "module" -> module,
                                                   "pass" -> pass)
      @volatile var timedOut = false
      val watchdog = new java.util.TimerTask {
        def run(): Unit = {
          timedOut = true
          sc.cancelJobGroup(name)
          spark.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => })
        }
      }
      timer.schedule(watchdog, timeoutMs)
      sc.setJobGroup(name, name, interruptOnCancel = true)
      def layer[T](p: String)(f: => T): T = {
        sc.setLocalProperty(LayerListener.Prop, s"$name/$p/$pass")
        trace.span(p)(f)
      }
      var entrySpan = 0
      trace.span("entry", Map("name" -> name, "module" -> module, "pass" -> pass)) {
        entrySpan = trace.current
        try {
          val fn: (SparkSession, String) => DataFrame =
            if (name.startsWith(ThrowPrefix))
              (_, _) => throw new IllegalStateException("deliberate failure")
            else registry.getOrElse(name,
              throw new NoSuchElementException(s"no registry entry '$name'"))
          if (pass == 0) {
            // untimed: writes the output for the oracle check, and warms
            // the JVM up for this entry's timed pass
            val df = layer("build")(fn(spark, sf))
            // one file per partition: read back in name order, the files
            // keep the entry's total output order
            layer("check")(df.write.mode("overwrite").parquet(s"$checkDir/$name"))
          } else {
            val t0 = System.nanoTime()
            val df = layer("build")(fn(spark, sf))
            val t1 = System.nanoTime()
            layer("plan")(df.queryExecution.executedPlan)
            val t2 = System.nanoTime()
            layer("exec")(df.write.mode("overwrite").format("noop").save())
            val t3 = System.nanoTime()
            rec ++= Seq("build_s" -> (t1 - t0) / 1e9, "plan_s" -> (t2 - t1) / 1e9,
                        "exec_s" -> (t3 - t2) / 1e9)
          }
          if (timedOut) throw new java.util.concurrent.TimeoutException(s"over $timeoutMs ms")
          rec("status") = "ok"
        } catch {
          case e if NonFatal(e) || e.isInstanceOf[InterruptedException] =>
            rec --= Seq("build_s", "plan_s", "exec_s")
            rec("status") =
              if (timedOut) "timeout"
              else s"err:${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        }
      }
      watchdog.cancel()
      sc.setLocalProperty(LayerListener.Prop, null)
      sc.clearJobGroup()
      tap.foreach { t =>
        org.apache.spark.perfbench.ListenerBus.drain(sc)
        val ps = t.drain().map(_.progress)
        if (ps.nonEmpty) rec("stream") = streamSummary(ps)
        ps.filter(_.durationMs.containsKey("addBatch")).foreach(batchSpans(trace, _, entrySpan))
      }
      cleanup(spark)
      rec.toMap
    }

    val calls = mutable.ArrayBuffer.empty[Map[String, Any]]
    calls ++= trace.span("pass")(names.map(entry(_, 0)))
    val timed0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || System.nanoTime() - timed0 < seconds * 1e9) {
      pass += 1
      calls ++= trace.span("pass")(names.map(entry(_, pass)))
    }
    val wall = (System.nanoTime() - wall0) / 1e9
    timer.cancel()
    layers.foreach(_ => org.apache.spark.perfbench.ListenerBus.drain(sc))
    Map("mode" -> "registry", "entries" -> calls.toSeq, "timed_passes" -> pass,
        "timed_wall_s" -> wall,
        "interference" -> inter.finish(),
        "layers" -> layers.map(_.snapshot).getOrElse(Map.empty))
  }

  /** One micro-batch as a span with its phases as children, read from the
    * batch's progress report. */
  private def batchSpans(trace: Trace, p: StreamingQueryProgress, parent: Int): Unit = {
    import scala.jdk.CollectionConverters._
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    var t = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val id = trace.record("microbatch", t, d.getOrElse("triggerExecution", 0L).toDouble, parent,
      Map("query" -> Option(p.name).getOrElse(""), "batch" -> p.batchId,
          "rows" -> p.numInputRows))
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
        "commitOffsets").foreach { k =>
      d.get(k).foreach { v => trace.record(k, t, v.toDouble, id); t += v }
    }
  }

  /** An entry's micro-batches (progress reports of batches that ran):
    * phase durations and state-operator metrics summed over them, input
    * rows per batch, and the state memory each query holds after its last
    * batch. (The engine turns RocksDB's total-row tracking off, so rows
    * updated stand in for rows held.) */
  def streamSummary(all: Seq[StreamingQueryProgress]): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    val ps = all.filter(_.durationMs.containsKey("addBatch"))
    val phases = mutable.Map.empty[String, Long].withDefaultValue(0L)
    ps.foreach(_.durationMs.asScala.foreach { case (k, v) => phases(k) += v.longValue })
    val st = ps.flatMap(_.stateOperators)
    val last = ps.groupBy(_.runId).values.map(_.maxBy(_.batchId)).flatMap(_.stateOperators)
    Map("batches" -> ps.size, "rows_per_batch" -> ps.map(_.numInputRows),
        "duration_ms" -> phases.toMap,
        "state_update_ms" -> st.map(_.allUpdatesTimeMs).sum,
        "state_commit_ms" -> st.map(_.commitTimeMs).sum,
        "state_load_ms" -> st.map(s =>
          Option(s.customMetrics.get("rocksdbLoadLatencyMs")).map(_.longValue).getOrElse(0L)).sum,
        "state_instances" -> st.map(_.numStateStoreInstances.toLong).sum,
        "state_rows_updated" -> st.map(_.numRowsUpdated).sum,
        "state_bytes" -> last.map(_.memoryUsedBytes).sum)
  }
}
