package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Seeded-random differential tests: registered operators run against
  * GENERATED tables rather than the driver corpus, and are checked
  * against an independent formulation or algebraic invariants. The point
  * is edge shapes the fixed corpus never produces — exact-duplicate
  * timestamps across a key, single-event users, 0/1/boundary-length
  * documents — where an off-by-one survives every oracle run. Seeds are
  * fixed, so a failure reproduces deterministically.
  */
class RandomizedSpec extends SparkSpec {
  import spark.implicits._

  /** Random events table in the driver's wire shape (ts = NANOS long).
    * Second-granularity timestamps over a 1 h span force plenty of exact
    * ts collisions per user — the tie shapes ranking/session/SCD code
    * must break deterministically. */
  private def randomEventsDir(seed: Int): String = {
    val rnd = new scala.util.Random(seed)
    val dir = Tbl.scratchDir("rand_ev")
    val n = 80 + rnd.nextInt(120)
    val rows = (0 until n.toInt).map { i =>
      (i.toLong,
       1700000000000000000L + rnd.nextInt(3600).toLong * 1000000000L,
       rnd.nextInt(8).toLong,
       Seq("click", "view", "purchase")(rnd.nextInt(3)),
       rnd.nextInt(10000) / 100.0,
       "{}")
    }
    // single FILE named events.parquet, mirroring the driver layout —
    // the streaming file source symlinks this exact path and must not
    // meet a nested directory there
    graft.streaming.Replay.writeFile(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    dir
  }

  /** Random documents table hitting every chunk/tokenize boundary:
    * 0, 1, stride−1, chunk, chunk+1, … word counts. */
  private def randomDocsDir(seed: Int): String = {
    val rnd = new scala.util.Random(seed)
    val dir = Tbl.scratchDir("rand_doc")
    val counts = Seq(0, 1, 2, 23, 24, 25, 31, 32, 33, 56, 57, 200) ++
      Seq.fill(20)(rnd.nextInt(120))
    val rows = counts.zipWithIndex.map { case (c, i) =>
      val text = Seq.fill(c)("w" + rnd.nextInt(30)).mkString(" ")
      (i.toLong, text, "en", "src" + (i % 3), text.length.toLong)
    }
    // single-file staging, like randomEventsDir: the document stream
    // symlinks this exact path
    graft.streaming.Replay.writeFile(
      rows.toDF("doc_id", "text", "lang", "source", "n_chars"),
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    dir
  }

  private def assertSameRows(a: DataFrame, b: DataFrame, hint: String): Unit = {
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, hint)
  }

  test("null-ordering rank-1 ids ≡ the scale-safe min(struct) aggregate twin") {
    // x_null_ordering's window sorts are the semantics pin; CHECK
    // documents that the scale-safe 100 TB spelling of
    // rank-1-per-ordering is an aggregate. This proves the documented
    // twin on random data rich in NULL keys and ties: each ordering's
    // rank-1 row is the min over (null-placement flag, ±nk, event_id)
    // — no sort at all, map-side combinable.
    val d = randomEventsDir(77)
    val got = SparkEntry.queries("x_null_ordering")(spark, d)
      .select($"event_type", $"n_null",
              $"id_asc_nf", $"id_asc_nl", $"id_desc_nf", $"id_desc_nl")
    def key(nullFlag: Long, nk: org.apache.spark.sql.Column) =
      struct(when($"nk".isNull, lit(nullFlag)).otherwise(lit(1L - nullFlag))
               .as("f"),
             coalesce(nk, lit(0L)).as("k"), $"event_id".as("event_id"))
    val twin = Tbl.events(spark, d)
      .select($"event_type", $"event_id",
              nullif(Tbl.cents($"value") % 5, lit(0L)).as("nk"))
      .groupBy($"event_type")
      .agg((count(lit(1)) - count($"nk")).as("n_null"),
           min(key(0L, $"nk")).getField("event_id").as("id_asc_nf"),
           min(key(1L, $"nk")).getField("event_id").as("id_asc_nl"),
           min(key(0L, -$"nk")).getField("event_id").as("id_desc_nf"),
           min(key(1L, -$"nk")).getField("event_id").as("id_desc_nl"))
      .select($"event_type", $"n_null",
              $"id_asc_nf", $"id_asc_nl", $"id_desc_nf", $"id_desc_nl")
    assertSameRows(got, twin,
      "window null-ordering diverges from the aggregate min(struct) twin")
    spark.sqlContext.tableNames().foreach(spark.catalog.dropTempView)
  }

  test("dup-cluster propagation converges on a deep planted path graph (diameter 16)") {
    // corpus near-dup components are cliques-ish (diameter 2-3), so the
    // oracle never exercises deep propagation; a 17-node PATH forces ~16
    // min-label rounds — exactly the shape whose per-round plan-on-plan
    // lineage used to grow without bound before the localCheckpoint
    // (round-4 VERDICT item #2). Converging here within the 50-round cap,
    // in bounded wall time, is the no-planner-blowup proof.
    val path = (0 until 16).map(i => (100L + i, 101L + i))
    val extra = Seq((7L, 9L), (9L, 11L), (7L, 11L), (500L, 501L))
    val pairs = (path ++ extra).toDF("a", "b")
    val labels = graft.operators.DedupOps.dupClustersLoop(spark, pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((100L to 116L).forall(labels(_) == 100L),
      "every path node must adopt the min endpoint label")
    assert(Seq(7L, 9L, 11L).forall(labels(_) == 7L))
    assert(labels(500L) == 500L && labels(501L) == 500L)
    assert(labels.size == 22)
  }

  test("BPE trainer on a planted corpus matches the hand-computed merge table") {
    // the oracle runs the SAME algorithm in DuckDB, so engine parity
    // can't catch a shared misunderstanding of BPE itself; this pins the
    // algorithm against a by-hand trace, including greedy-left merge
    // application and early stop when the corpus is fully merged
    val docs = Seq((1L, "abab abab abc")).toDF("doc_id", "text")
    val merges = graft.operators.TextOps.bpeMerges(spark, docs, 10)
    // abab×2, abc×1 → (a,b) appears 2×2+1 = 5; merge "ab"
    // → [ab ab]×2, [ab c] → (ab,ab)=2 → "abab" → (ab,c)=1 → "abc"; stop
    assert(merges == Seq(
      (1, "a", "b", "ab", 5L),
      (2, "ab", "ab", "abab", 2L),
      (3, "ab", "c", "abc", 1L)))
    // greedy-left: 'aaa' under (a,a) must become [aa, a], giving ONE
    // (aa,a) pair next round — not the overlapping alternative
    val aaa = Seq((1L, "aaa aaa")).toDF("doc_id", "text")
    val m2 = graft.operators.TextOps.bpeMerges(spark, aaa, 2)
    assert(m2 == Seq((1, "a", "a", "aa", 4L), (2, "aa", "a", "aaa", 2L)))
  }

  test("TopKPerKey ≡ ranking window on random data, for several k") {
    for (seed <- 1 to 2; k <- Seq(1, 3, 7)) {
      val d = randomEventsDir(seed)
      val ev = Tbl.events(spark, d).select($"event_id", $"ts", $"user_id")
      val native = org.apache.spark.sql.graft.TopKPerKey(
          ev, k, Seq("user_id"), Seq(("ts", true), ("event_id", true)))
        .select($"user_id", $"event_id")
      val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      val ref = ev.withColumn("rn", row_number().over(w))
        .where($"rn" <= k).select($"user_id", $"event_id")
      val refRows = TopKPerKeySpec.stockRows(ref).toSet
      val nativeRows = native.collect().toSet
      assert(nativeRows == refRows, s"seed=$seed k=$k")
    }
  }

  test("interval merge on random data: disjoint, ordered, strict gaps, lossless counts") {
    val d = randomEventsDir(7)
    val df = SparkEntry.queries("x_merge_intervals")(spark, d).persist()
    val w = Window.partitionBy($"user_id").orderBy($"ws_us")
    val bad = df.withColumn("pwe", lag($"we_us", 1).over(w))
      .where($"we_us" <= $"ws_us" || ($"pwe".isNotNull && $"ws_us" <= $"pwe"))
    assert(bad.count() == 0, "overlapping or inverted merged intervals")
    val lost = df.groupBy($"user_id").agg(sum($"n_events").as("m"))
      .join(Tbl.events(spark, d).groupBy($"user_id").count(), "user_id")
      .where($"m" =!= $"count")
    assert(lost.count() == 0, "merge dropped or duplicated events")
    df.unpersist()
  }

  test("SCD2 on random data (heavy ts ties): versions contiguous, one open row, intervals chain") {
    val d = randomEventsDir(11)
    val df = SparkEntry.queries("x_scd2")(spark, d).persist()
    val byUser = df.groupBy($"user_id").agg(
      count(lit(1)).as("n"), min($"version").as("minv"), max($"version").as("maxv"),
      sum(when($"is_current", 1L).otherwise(0L)).as("open"))
    assert(byUser.where($"minv" =!= 1 || $"maxv" =!= $"n" || $"open" =!= 1).count() == 0)
    // each closed row's valid_to equals the next version's valid_from
    val w = Window.partitionBy($"user_id").orderBy($"version")
    val chain = df.withColumn("nextFrom", lead($"valid_from_us", 1).over(w))
      .where($"valid_to_us".isNotNull && $"valid_to_us" =!= $"nextFrom")
    assert(chain.count() == 0, "validity intervals do not chain")
    df.unpersist()
  }

  test("incremental agg ≡ direct agg on random data") {
    val d = randomEventsDir(13)
    val inc = SparkEntry.queries("x_incremental_agg")(spark, d)
    val ref = Tbl.events(spark, d)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
           round(sum(Tbl.cents($"value")) / 100.0, 2).as("sum_value"),
           min(unix_micros($"ts")).as("min_us"),
           max(unix_micros($"ts")).as("max_us"))
    assertSameRows(inc, ref.select(inc.columns.map(col): _*), "MV merge law broken")
  }

  test("chunk split on boundary-length random docs: exact coverage, no phantom chunks") {
    val d = randomDocsDir(17)
    val df = SparkEntry.queries("tx_chunk_split")(spark, d).persist()
    val byDoc = df.groupBy($"doc_id").agg(
      count(lit(1)).as("n"), min($"chunk_idx").as("mini"),
      max($"chunk_idx").as("maxi"),
      max($"start_tok" + $"n_chunk_tokens").as("covered"))
    assert(byDoc.where($"mini" =!= 0 || $"maxi" =!= $"n" - 1).count() == 0)
    val toks = Tbl.documents(spark, d)
      .where(graft.operators.TextNorm.norm($"text") =!= "")
      .select($"doc_id",
              size(split(graft.operators.TextNorm.norm($"text"), " ")).as("n_tokens"))
    assert(byDoc.join(toks, "doc_id").where($"covered" =!= $"n_tokens").count() == 0)
    // the empty doc (0 words) must produce NO chunks at all
    assert(df.join(toks, Seq("doc_id"), "left_anti").count() == 0)
    df.unpersist()
  }

  /** Random docs with PLANTED duplicate structure: doc 3k+1 and 3k+2
    * copy doc 3k's text; singletons fill the rest. The dedup family must
    * recover exactly the planted groups — a differential no corpus run
    * provides, since the driver corpus's duplicates are incidental. */
  private def plantedDupDir(seed: Int): String = {
    val rnd = new scala.util.Random(seed)
    val dir = Tbl.scratchDir("rand_dup")
    val texts = (0 until 12).map(_ =>
      Seq.fill(10 + rnd.nextInt(20))("w" + rnd.nextInt(50)).mkString(" "))
    val rows = (0 until 36).map { i =>
      val t = texts(i / 3) // triplets: (0,1,2) share texts(0), (3,4,5) texts(1), …
      (i.toLong, t, "en", "src", t.length.toLong)
    } ++ (36 until 50).map { i =>
      val t = Seq.fill(10 + rnd.nextInt(20))("u" + i + "x" + rnd.nextInt(50)).mkString(" ")
      (i.toLong, t, "en", "src", t.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("exact dedup recovers planted duplicate groups precisely") {
    val d = plantedDupDir(23)
    val df = SparkEntry.queries("dd_exact")(spark, d)
    // keepers are the group minima: docs 0,3,6,...,33 carry n_copies=3,
    // singletons carry 1
    val trip = df.where($"n_copies" === 3)
    assert(trip.count() == 12, "expected 12 planted triplet groups")
    assert(trip.where($"keeper" % 3 =!= 0).count() == 0,
           "keeper is not the smallest planted id")
    assert(df.where($"n_copies" =!= 3 && $"n_copies" =!= 1).count() == 0,
           "phantom duplicate group")
    // total docs accounted for
    assert(df.agg(sum($"n_copies")).collect().head.getLong(0) == 50)
  }

  test("binary media dedup recovers the planted duplicate groups too") {
    // media content = UTF-8 bytes of doc text, so planted text triplets
    // are planted BINARY triplets — exercises the md5-of-binary path and
    // its keeper/copy-count bookkeeping on known structure
    val d = plantedDupDir(71)
    val df = SparkEntry.queries("mm_dedup")(spark, d).persist()
    // groups split by kind (media kind cycles with id % 3), so each
    // planted text-triplet lands as 3 single-kind groups... unless two
    // members share a kind: ids 3k,3k+1,3k+2 → kinds image/audio/video,
    // one per member ⇒ every planted group is 3 singleton byte-groups
    // per kind pairing (kind is part of neither hash nor grouping —
    // verify against first principles instead: per content hash, copies
    // count 3 for planted, 1 for fillers)
    val byHash = df.groupBy($"h").agg(sum($"n_copies").as("n"))
    assert(byHash.where($"n" =!= 3 && $"n" =!= 1).count() == 0,
           "unexpected copy multiplicity")
    assert(byHash.where($"n" === 3).count() == 12, "expected 12 planted groups")
    assert(df.agg(sum($"n_copies")).collect().head.getLong(0) == 50)
    df.unpersist()
  }

  test("streaming twins ≡ batch on random data: dedup and sessionization") {
    val d = randomEventsDir(29)
    // streaming distinct vs batch distinct
    val sDedup = SparkEntry.queries("s4_stream_dedup")(spark, d)
    val bDedup = Tbl.events(spark, d)
      .select($"user_id", $"event_type").distinct()
    assertSameRows(sDedup, bDedup.select(sDedup.columns.map(col): _*),
                   "stream dedup diverges from batch distinct")
    spark.sqlContext.tableNames().foreach(spark.catalog.dropTempView)
    // streaming session windows vs batch sessionize
    val sSess = SparkEntry.queries("s10_stream_session")(spark, d)
    val bSess = SparkEntry.queries("x_sessionize")(spark, d)
    assertSameRows(sSess, bSess.select(sSess.columns.map(col): _*),
                   "stream sessionization diverges from batch")
    spark.sqlContext.tableNames().foreach(spark.catalog.dropTempView)
    // DYNAMIC-gap session windows: stream vs batch session_window —
    // second-granularity random ts makes exact boundary-equality events
    // (next.start == prev end) likely, the merge-at-equality shape
    val sDyn = SparkEntry.queries("s21_stream_dynamic_session")(spark, d)
    val bDyn = SparkEntry.queries("x_dynamic_session")(spark, d)
    assertSameRows(sDyn, bDyn.select(sDyn.columns.map(col): _*),
                   "dynamic-gap stream sessionization diverges from batch")
    spark.sqlContext.tableNames().foreach(spark.catalog.dropTempView)
  }

  test("streaming twins ≡ batch on random data: kinematic window agg and stateful last-3") {
    val d = randomEventsDir(31)
    // 7-agg sliding window: update-mode streaming state vs batch window —
    // random exact-ts collisions stress the arg_max composite tie-break
    val sWin = SparkEntry.queries("s1_stream_window_agg")(spark, d)
    val bWin = SparkEntry.queries("a1_sliding_window")(spark, d)
    assertSameRows(sWin, bWin.select(sWin.columns.map(col): _*),
                   "stream window agg diverges from batch")
    spark.sqlContext.tableNames().foreach(spark.catalog.dropTempView)
    // flatMapGroupsWithState last-3 vs ranking window
    val sL3 = SparkEntry.queries("s2_stream_last3")(spark, d)
    val bL3 = SparkEntry.queries("a3_top3_per_key")(spark, d)
    assertSameRows(sL3, bL3.select(sL3.columns.map(col): _*),
                   "stateful last-3 diverges from ranking window")
    spark.sqlContext.tableNames().foreach(spark.catalog.dropTempView)
  }

  test("streaming twins ≡ batch on random data: gap-fill and RocksDB running totals") {
    val d = randomEventsDir(37)
    // keyed-state interpolation vs batch lag/sequence formulation
    val sGap = SparkEntry.queries("s3_stream_gap_fill")(spark, d)
    val bGap = SparkEntry.queries("a5_gap_fill")(spark, d)
    assertSameRows(sGap, bGap.select(sGap.columns.map(col): _*),
                   "stream gap-fill diverges from batch")
    spark.sqlContext.tableNames().foreach(spark.catalog.dropTempView)
    // transformWithState running totals vs cumulative window
    val sRun = SparkEntry.queries("s11_stream_tws")(spark, d)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bRun = Tbl.events(spark, d)
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
              Tbl.cents($"value").as("v_c"))
      .select($"user_id", $"event_id", $"ts_us",
              count(lit(1)).over(w).as("run_n"),
              round(sum($"v_c").over(w) / 100.0, 2).as("run_sum"))
    assertSameRows(sRun, bRun.select(sRun.columns.map(col): _*),
                   "transformWithState totals diverge from cumulative window")
    spark.sqlContext.tableNames().foreach(spark.catalog.dropTempView)
  }

  test("stream-stream LEFT OUTER join ≡ batch outer join on random data") {
    // the watermark-sentinel end-of-stream flush is the riskiest
    // streaming machinery in the engine: verify the unmatched-row set
    // against a plain batch outer join on data the corpus never shaped
    val d = randomEventsDir(41)
    val sOut = SparkEntry.queries("s14_stream_outer_join")(spark, d)
    val ev = Tbl.events(spark, d)
    val clicks = ev.where($"event_type" === "click")
      .select($"user_id".as("cu"), $"event_id".as("click_id"), $"ts".as("cts"))
    val purchases = ev.where($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"event_id".as("purchase_id"), $"ts".as("pts"))
    val ref = clicks.join(purchases,
        $"cu" === $"pu" && $"pts" >= $"cts" &&
        $"pts" <= $"cts" + expr("INTERVAL 10 MINUTES"), "left_outer")
      .select($"cu".as("user_id"), $"click_id", $"purchase_id",
              (unix_micros($"pts") - unix_micros($"cts")).as("lag_us"))
    assertSameRows(sOut, ref.select(sOut.columns.map(col): _*),
                   "streaming outer join diverges from batch outer join")
    spark.sqlContext.tableNames().foreach(spark.catalog.dropTempView)
  }

  test("pipecsv DSv2 round-trip preserves random rows exactly (empty strings, negatives)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(43)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("v_c", LongType)))
    val rows = (0 until 300).map { i =>
      val et = Seq("", "a", "click view", "z" * 40, i.toString)(rnd.nextInt(5))
      Row(i.toLong, rnd.nextInt(1000).toLong, et, rnd.nextLong() % 1000000L)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    val dir = Tbl.scratchDir("rand_pipecsv")
    df.write.format("pipecsv").option("frameLen", 200).mode("append").save(dir)
    val back = spark.read.format("pipecsv").schema(schema)
      .option("frameLen", 200).load(dir)
    assertSameRows(back, df, "pipecsv round-trip not lossless")
  }

  test("streaming twins ≡ batch on random data: pipecsv micro-batch replay and curation") {
    val d = randomEventsDir(47)
    // multi-batch admission-controlled replay through the custom DSv2
    // source — random row counts force a partial final batch
    val sPipe = SparkEntry.queries("s15_stream_pipecsv")(spark, d)
    val bPipe = Tbl.events(spark, d)
      .select($"event_type", Tbl.cents($"value").as("v_c"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"v_c").as("sum_v_c"))
    assertSameRows(sPipe, bPipe.select(sPipe.columns.map(col): _*),
                   "pipecsv micro-batch replay diverges from batch")
    spark.sqlContext.tableNames().foreach(spark.catalog.dropTempView)
    // stateless streaming curation on random docs (0/1-word edges)
    val dd = randomDocsDir(53)
    val sCur = SparkEntry.queries("s13_stream_curation")(spark, dd)
    val bCur = graft.operators.CurationOps.qualitySignals(
        Tbl.documents(spark, dd))
      .select($"doc_id", $"lang", $"n_words", $"uniq_ppm",
              graft.operators.CurationOps.statelessVerdict.as("verdict"))
    assertSameRows(sCur, bCur.select(sCur.columns.map(col): _*),
                   "stream curation diverges from batch signals")
    spark.sqlContext.tableNames().foreach(spark.catalog.dropTempView)
  }

  test("EWMA decay on random data ≡ a literal Scala fold over each user's history") {
    val d = randomEventsDir(59)
    val got = SparkEntry.queries("a7_ewma_decay")(spark, d)
      .select($"user_id", $"event_id", $"decayed_c", $"weight_ppm")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // independent reference: sort each user's events in plain Scala and
    // fold the shifted terms by hand — catches any window-frame
    // off-by-one the SQL-vs-SQL oracle could share
    val ev = Tbl.events(spark, d)
      .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
              Tbl.cents($"value").as("v_c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    ev.groupBy(_._1).foreach { case (_, rows) =>
      val hist = rows.sortBy(r => (r._3, r._2)) // (ts, event_id)
      hist.zipWithIndex.foreach { case ((u, id, _, _), i) =>
        val window = hist.slice(math.max(0, i - 15), i + 1).reverse
        val expDecayed = window.zipWithIndex.map { case (r, k) => r._4 >> k }.sum
        val expWeight = window.zipWithIndex.map { case (_, k) => 1000000L / (1L << k) }.sum
        assert(got((u, id)) == ((expDecayed, expWeight)),
               s"user=$u event=$id: got ${got((u, id))}, expected ($expDecayed, $expWeight)")
      }
    }
  }

  test("stream-stream FULL OUTER and SEMI joins ≡ batch on random data") {
    val d = randomEventsDir(61)
    val ev = Tbl.events(spark, d)
    val clicks = ev.where($"event_type" === "click")
      .select($"user_id".as("cu"), $"event_id".as("click_id"), $"ts".as("cts"))
    val purchases = ev.where($"event_type" === "purchase")
      .select($"user_id".as("pu"), $"event_id".as("purchase_id"), $"ts".as("pts"))
    val cond = $"cu" === $"pu" && $"pts" >= $"cts" &&
      $"pts" <= $"cts" + expr("INTERVAL 10 MINUTES")
    val sFull = SparkEntry.queries("s16_stream_full_outer")(spark, d)
    val bFull = clicks.join(purchases, cond, "full_outer")
      .select(coalesce($"cu", $"pu").as("user_id"), $"click_id", $"purchase_id",
              (unix_micros($"pts") - unix_micros($"cts")).as("lag_us"))
    assertSameRows(sFull, bFull.select(sFull.columns.map(col): _*),
                   "streaming full outer diverges from batch")
    spark.sqlContext.tableNames().foreach(spark.catalog.dropTempView)
    val sSemi = SparkEntry.queries("s18_stream_semi_join")(spark, d)
    val bSemi = clicks.join(purchases, cond, "left_semi")
      .select($"cu".as("user_id"), $"click_id", unix_micros($"cts").as("ts_us"))
    assertSameRows(sSemi, bSemi.select(sSemi.columns.map(col): _*),
                   "streaming semi join diverges from batch")
    spark.sqlContext.tableNames().foreach(spark.catalog.dropTempView)
  }

  test("chained stateful aggregation ≡ batch window-over-window on random data") {
    val d = randomEventsDir(67)
    val sCh = SparkEntry.queries("s20_stream_chained_agg")(spark, d)
    val w1 = Tbl.events(spark, d)
      .groupBy(expr("(unix_micros(ts) div 60000000) * 60000000").as("w1_us"),
               $"user_id")
      .agg(count(lit(1)).as("n1"))
    val bCh = w1.groupBy(expr("(w1_us div 300000000) * 300000000").as("ws_us"))
      .agg(sum($"n1").as("n_events"), count(lit(1)).as("n_user_windows"))
    assertSameRows(sCh, bCh.select(sCh.columns.map(col): _*),
                   "chained streaming agg diverges from batch rollup")
    spark.sqlContext.tableNames().foreach(spark.catalog.dropTempView)
  }

  test("nearest as-of on random data ≡ brute-force argmin over |Δt|") {
    // random seconds-granularity data makes equal-ts click/purchase
    // pairs and exact |Δt| ties common — precisely the conventions the
    // windowed formulation claims (equal-|Δt| → backward, equal-ts
    // click counts backward at Δ=0); the brute force states them
    // independently via argmin with an explicit tie-break sort
    val d = randomEventsDir(101)
    val got = SparkEntry.queries("j12_asof_nearest")(spark, d)
    val ev = Tbl.events(spark, d)
      .select($"user_id", unix_micros($"ts").as("t"), $"event_type", $"event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val clicks = ev.filter(_._3 == "click").groupBy(_._1)
    val brute = ev.filter(_._3 == "purchase").map { case (u, t, _, id) =>
      val cs = clicks.getOrElse(u, Array.empty[(Long, Long, String, Long)])
      if (cs.isEmpty) (u, id, t, None: Option[Long], None: Option[Long])
      else {
        // backward wins ties on |Δt|; among equal candidates the window
        // carries the LATEST backward click (max t, then max id) and
        // the EARLIEST forward click (min t, then min id)
        val back = cs.filter(_._2 <= t)
          .sortBy(c => (-c._2, -c._4)).headOption
        val fwd = cs.filter(_._2 > t)
          .sortBy(c => (c._2, c._4)).headOption
        val pick = (back, fwd) match {
          case (Some(b), Some(f)) =>
            if (t - b._2 <= f._2 - t) Left(b) else Right(f)
          case (Some(b), None) => Left(b)
          case (None, Some(f)) => Right(f)
          case _ => throw new IllegalStateException
        }
        pick match {
          case Left(b)  => (u, id, t, Some(b._4), Some(-(t - b._2)))
          case Right(f) => (u, id, t, Some(f._4), Some(f._2 - t))
        }
      }
    }.toSeq
      .toDF("user_id", "event_id", "t_us", "near_event_id", "near_delta_us")
      .orderBy($"user_id", $"event_id")
    assertSameRows(got, brute.select(got.columns.map(col): _*),
                   "windowed nearest as-of diverges from brute force")
  }

  test("geofence join on random points ≡ brute-force bbox+parity scan") {
    // random points stress cell-border geometry the planted spec can't
    // enumerate; brute force recomputes bbox + ray-cast parity per
    // (point, fence) pair with independent scalar code
    import graft.operators.SpatialJoinOps
    val rnd = new scala.util.Random(55)
    val pts = (0 until 400).map { i =>
      (i.toLong, rnd.nextInt(3200).toLong, rnd.nextInt(3200).toLong)
    }
    val got = SpatialJoinOps.fenceHits(pts.toDF("event_id", "px", "py"))
      .select($"event_id", $"fence_id").as[(Long, Long)].collect().toSet
    def inside(px: Long, py: Long, f: Int): Boolean = {
      val cx = (f % 4) * 700 + 400; val cy = (f / 4) * 700 + 400
      val r = (f % 3) * 25 + 150
      if (px < cx - r || px > cx + r || py < cy - r || py > cy + r) false
      else {
        val vs = Array((cx - r, cy), (cx, cy + r), (cx + r, cy), (cx, cy - r))
        var cross = 0
        for (k <- 0 until 4) {
          val (x1, y1) = vs(k); val (x2, y2) = vs((k + 1) % 4)
          if ((y1 > py) != (y2 > py)) {
            val c = (x2 - x1).toLong * (py - y1) - (px - x1).toLong * (y2 - y1)
            if ((c > 0) == (y2 > y1)) cross += 1
          }
        }
        cross % 2 == 1
      }
    }
    val brute = (for ((id, px, py) <- pts; f <- 0 until 16
                      if inside(px, py, f)) yield (id, f.toLong)).toSet
    assert(got === brute, "cell-blocked geofence join diverges from brute force")
  }

  test("dataset split on random docs: partition is total and rerun-stable") {
    val d = randomDocsDir(19)
    val a = SparkEntry.queries("x_dataset_split")(spark, d)
    val total = a.agg(sum($"n_docs")).collect().head.getLong(0)
    assert(total == Tbl.documents(spark, d).count(), "split is not a partition")
    val b = SparkEntry.queries("x_dataset_split")(spark, d)
    assertSameRows(a, b, "split assignment not deterministic across runs")
  }
}
