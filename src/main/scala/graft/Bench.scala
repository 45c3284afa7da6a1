package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
/** The one timing main: `runMain graft.Bench` times every registry
  * entry; `runMain graft.Bench q1 q2 …` times only the named ones, with
  * the same runs, materialization and per-query fields, so a filtered
  * number and a full-run number are one measurement. Data directory:
  * `SPARK_GRAFT_SF_DIR`; extra session confs: `SPARK_GRAFT_CONF`. */
object Bench {
  /** Full materialization via the noop DSv2 sink — every output column
    * is computed and every operator executes, unlike `.count()`, which
    * lets Catalyst PRUNE work that doesn't affect the row count: under
    * count(), an aggregate-final query keeps only its grouping keys
    * (the window/aggregate expressions — often the entire point of the
    * query — are column-pruned away) and EliminateSorts drops the
    * output sort. Measured at sf100p: a 4-window ranking query "ran"
    * in 1.4 s under count() (scan + distinct keys only) vs minutes for
    * the real sorts. Discovered and fixed round 10; all prior rounds'
    * bench lines used count(), so agg-final entries there UNDER-state
    * true materialization cost — cross-ROUND deltas stay comparable
    * (same harness both sides), cross-HARNESS ones don't (SURVEY §13). */
  private[graft] def materialize(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Drops what a query leaves in the session: cached plans and the
    * temp views some entries register (`createOrReplaceTempView`), so
    * one query's leftovers don't hold heap or names for later ones. */
  private[graft] def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sqlContext.tableNames().foreach(spark.catalog.dropTempView)
  }

  /** The entries a run times: the whole registry, or the named entries
    * in the order given. An unknown name fails before any timing. */
  def select(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] =
    pick("query", SparkEntry.queries.toSeq, names)

  /** `parse`, a main's argument and knob checks: a bad name or knob
    * exits 2 with its one-line message, not a stack trace. */
  private[graft] def orUsageExit[A](parse: => A): A =
    try parse
    catch { case e: IllegalArgumentException => System.err.println(e.getMessage); sys.exit(2) }

  /** The entries of `all` named in `names`, in the order given, or all of
    * them when none is named; an unknown name fails listing the valid
    * ones. */
  private[graft] def pick[A](kind: String, all: Seq[(String, A)],
                             names: Seq[String]): Seq[(String, A)] = {
    val byName = all.toMap
    val unknown = names.filterNot(byName.contains)
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown $kind ${unknown.mkString(", ")}; valid names: " +
      all.map(_._1).sorted.mkString(" "))
    if (names.isEmpty) all else names.distinct.map(n => n -> byName(n))
  }

  /** JSON string literal: quotes, backslashes and ALL control chars
    * (<0x20) escaped — a tab or CR in oracle SQL or an
    * env-provided value would otherwise corrupt the artifact. */
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Provenance round: one past the highest CORRECTNESS_rNN.json in
    * the working directory (those are written at round end, so during
    * round N the highest on disk is N-1). */
  private[graft] def round: Int =
    Option(new java.io.File(".").listFiles()).toSeq.flatten
      .flatMap(f => "CORRECTNESS_r(\\d+)\\.json".r
        .findFirstMatchIn(f.getName).map(_.group(1).toInt))
      .maxOption.map(_ + 1).getOrElse(0)

  def main(args: Array[String]): Unit = {
    JvmOpens.check() // fail fast on a bare-java launch (see JvmOpens)
    val (selected, cpus, conf) =
      orUsageExit((select(args.toSeq), Session.cpus, Session.envConf))
    val filtered = args.nonEmpty
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(cpus, conf)
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: JVM/codegen/parquet-footer costs land here, not on
    // whichever query the Map happens to order first. The streaming
    // warmup matters most: the first StreamingQuery in a session pays
    // ~2.5s of one-time machinery init (state store, commit log, sink
    // classes, JIT) that otherwise lands on one measured query.
    def warmup(name: String)(body: => Unit): Unit =
      try body catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] warmup $name failed: $e") }
    warmup("entry")(materialize(SparkEntry.entry(spark)))
    warmup("s5_stream_complete") {
      materialize(SparkEntry.queries("s5_stream_complete")(spark, "/root/testdata/sf0.001"))
      reset(spark)
    }
    // host-contention self-adjudication (round-10 verdict item #3):
    // every round since r2 some entries inflate 2-30x under external
    // load and settling "regression or noise?" has needed a judge
    // re-run. Record the OS 1-min load average alongside every timing
    // so an inflated line carries its own explanation: load >> ncpu at
    // sample time = contention, not a plan change.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def loadAvg: Double = osBean.getSystemLoadAverage // -1.0 if unsupported
    val ncpu = Runtime.getRuntime.availableProcessors
    // Round-12 verdict item #1: loadavg alone could NOT adjudicate the
    // driver's inflated line (j8 49.2 s at load 2.64). Per-query
    // /proc/stat + process-CPU deltas make the thief visible
    // IN-ARTIFACT — see [[CpuMeter]] for the field semantics.
    val loadStart = loadAvg
    // min of 2 timed runs per query: the host occasionally steals
    // 10-20s from exactly one query per pass (confirmed NOT JVM — zero
    // Full GCs, max safepoint 73ms while a query lost 15s), so a
    // single-shot total is dominated by where that stall lands. Caches
    // and sink tables are cleared between runs, so run 2 re-executes
    // the full plan — only JIT/page-cache warmth carries over.
    // A query that throws is a FAILURE, not a fast query: its status is
    // "err:<class>" and it is left out of every timing map and the
    // total. Only NonFatal is caught — a VM error must crash the bench.
    val attempted = selected.map { case (name, fn) =>
      val runs = (1 to 2).map { _ =>
        val l0 = loadAvg
        val c0 = CpuMeter.snap()
        val t0 = System.nanoTime()
        val err =
          try { materialize(fn(spark, sfDir)); None }
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] $name failed: $e")
            Some(s"err:${e.getClass.getSimpleName}") }
        val t = (System.nanoTime() - t0) / 1e9
        val cd = CpuMeter.delta(c0, CpuMeter.snap())
        reset(spark)
        (t, l0, cd, err)
      }
      // keep the load/CPU deltas sampled around the run that won the
      // min: that is the run the reported number came from
      val (t, l0, cd, _) = runs.minBy(_._1)
      name -> (runs.flatMap(_._4).headOption.getOrElse("ok"), (t, l0, cd))
    }
    val statuses = attempted.map { case (k, (st, _)) => s"\"" + k + "\":\"" + st + "\"" }
      .mkString("{", ",", "}")
    val results = attempted.collect { case (k, ("ok", r)) => k -> r }
    val failed = attempted.size - results.size
    def resMap(f: ((Double, Double, CpuMeter.Delta)) => String) =
      results.map { case (k, r) => s"\"" + k + "\":" + f(r) }.mkString("{", ",", "}")
    val qs = resMap(_._1.toString)
    // sibling maps, same keys as "queries": 1-min loadavg when the
    // reported run started, and the run's interference CPU-second
    // deltas (existing consumers of "queries" unaffected)
    val loads = resMap(r => f"${r._2}%.2f")
    def cdMap(f: CpuMeter.Delta => Double) = resMap(r => f"${f(r._3)}%.1f")
    val loadEnd = loadAvg
    val total = results.map(_._2._1).sum
    // −1 when EVERY per-query delta is the −1 unavailable sentinel
    // (round-13 ADVICE: a 0.0 sum on a meterless platform was
    // indistinguishable from a genuinely interference-free run)
    def sumOrUnavailable(f: CpuMeter.Delta => Double): Double = {
      val vs = results.map(r => f(r._2._3))
      if (vs.nonEmpty && vs.forall(_ < 0)) -1.0 else vs.filter(_ >= 0).sum
    }
    // provenance on every JSONL line (round-5 VERDICT item #8): the
    // driver's stdout harvester truncates, so cross-round per-query
    // diffs read this file — each line must say WHICH round/commit it
    // measured, and under which extra confs.
    val round = this.round
    val sha = try {
      val p = new ProcessBuilder("git", "rev-parse", "--short", "HEAD").start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
      if (p.waitFor() == 0 && out.nonEmpty) out else "unknown"
    } catch { case scala.util.control.NonFatal(_) => "unknown" }
    // a filtered run says which entries it timed; only a full run
    // writes (and names) the per-round full dump
    val filter =
      if (filtered) selected.map(e => jstr(e._1)).mkString(",\"filter\":[", ",", "]")
      else ""
    val confStr = jstr(Session.show(conf))
    val provenance = s""""ncpu":$ncpu,"cpus":$cpus,"conf":$confStr,"sf":"$sfDir","runs_per_query":2,"stat":"min","round":$round,"sha":"$sha"$filter"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"status":$statuses,"failed":$failed,"load":$loads,"steal_cpu_s":${cdMap(_.stealS)},"iowait_cpu_s":${cdMap(_.iowaitS)},"other_cpu_s":${cdMap(_.otherS)},"gc_cpu_s":${cdMap(_.gcS)},"load_start":${f"$loadStart%.2f"},"load_end":${f"$loadEnd%.2f"},$provenance}"""
    // stdout carries a COMPACT line only (total + the 12 slowest
    // queries): the driver's stdout harvester keeps a bounded tail of
    // the sbt output, and the full 154-query line (~7 KB) has started
    // before that window every round since r4 — BENCH_rNN.json landed
    // with parsed:null while the full map survived only via the files
    // below. A <1 KB line always fits the tail, so the harvester's
    // parse works again; the complete per-query map still ships in
    // BENCH_full_rNN.json / BENCH_local.json.
    // cpus-KEYED full-dump name (round-15 VERDICT "what's wrong" #1): the
    // driver benches the SAME round at two core counts, and a round-only
    // name made the runs overwrite each other — the 32-core per-query map
    // (and with it the scaling comparison) was destroyed by the 8-core
    // run. One file per (round, configured cpus) keeps both.
    val fullName = f"BENCH_full_r$round%02d_c$cpus.json"
    // "top_queries", NOT "queries": the subset must not wear the full
    // map's key — an unaware cross-round consumer would silently narrow
    // from 154 to 12 entries instead of failing loudly (round-8 ADVICE)
    val topQs = results.sortBy(-_._2._1).take(12)
      .map { case (k, (v, _, _)) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val full = if (filtered) "" else s""","full":"$fullName""""
    println(s"""{"metric":"total","value":$total,"unit":"sec","top_queries":$topQs,"n_queries":${attempted.size},"failed":$failed,"load_start":${f"$loadStart%.2f"},"load_end":${f"$loadEnd%.2f"},"other_cpu_s_sum":${f"${sumOrUnavailable(_.otherS)}%.1f"},"steal_cpu_s_sum":${f"${sumOrUnavailable(_.stealS)}%.1f"},$provenance$full}""")
    // ALSO land the line in a file: the driver's stdout harvester has
    // truncated the sbt tail before (BENCH_r04 kept 63/135 timings), and
    // per-query history is the regression signal — it must survive
    // verbatim (round-4 VERDICT item #4). APPEND, not truncate: the file
    // is JSONL, one line per run (latest = last line), so sequential
    // runs — e.g. benching several scale factors — keep their history.
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_local.json")),
      (line + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    // NonFatal only: a VM error (OOM...) must crash the bench, not be
    // mistaken for a file-write hiccup (round-5 ADVICE)
    catch { case e if scala.util.control.NonFatal(e) =>
      System.err.println(s"bench file write failed: $e") }
    // self-contained per-round artifact (round-6 VERDICT item #8): the
    // driver's stdout harvester has truncated the per-query tail two
    // rounds running, so the FULL timing map is also written to a file
    // named for the round — one line, overwritten on re-runs within the
    // round, so the driver ships all timings without depending on stdout
    if (!filtered)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(fullName),
        (line + "\n").getBytes("UTF-8"))
      catch { case e if scala.util.control.NonFatal(e) =>
        System.err.println(s"bench full-file write failed: $e") }
    spark.stop()
  }
}
