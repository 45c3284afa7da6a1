package graft

/** Planted-fixture semantics for the mining operators: tiny event
  * corpora whose association lifts, transition matrices, OHLC bars and
  * MAD statistics are known in closed form. Fixtures are written as
  * parquet star-schema fragments so the specs drive the EXACT public
  * query entry points (name → (spark, sfDir) → DataFrame). */
class MiningOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Write an events.parquet with the given rows into a temp sfDir. */
  private def eventsDir(
      rows: Seq[(Long, Long, Long, String, Double)]): String = {
    val dir = Tbl.scratchDir("mining_fx")
    rows.toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .selectExpr("event_id", "timestamp_micros(ts_us) AS ts", "user_id",
                  "event_type", "value", "CAST(null AS STRING) AS props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def run(name: String, d: String) =
    SparkEntry.queries(name)(spark, d)

  test("assoc rules: planted baskets give exact counts, confidence and lift") {
    // users 1,2,3: {a,b}, {a,b}, {a}  → cnt(a)=3, cnt(b)=2, pair(a,b)=2
    // conf(a→b) = 2/3, conf(b→a) = 1, lift = 2·3/(3·2) = 1
    val d = eventsDir(Seq(
      (1L, 1000L, 1L, "a", 1.0), (2L, 2000L, 1L, "b", 1.0),
      (3L, 3000L, 2L, "a", 1.0), (4L, 4000L, 2L, "b", 1.0),
      (5L, 5000L, 3L, "a", 1.0)))
    val got = run("x_assoc_rules", d)
      .as[(String, String, Long, Long, Long, Long, Long, Long)]
      .collect().toList
    assert(got == List(("a", "b", 2L, 3L, 2L, 666666L, 1000000L, 1000000L)))
  }

  test("markov: planted sequence a→b→b→a yields exact floor-e6 probabilities") {
    // one user, order by ts: a,b,b,a → transitions ab, bb, ba
    // from a: {b:1} tot 1; from b: {a:1, b:1} tot 2
    val d = eventsDir(Seq(
      (1L, 1000L, 7L, "a", 0.0), (2L, 2000L, 7L, "b", 0.0),
      (3L, 3000L, 7L, "b", 0.0), (4L, 4000L, 7L, "a", 0.0)))
    val got = run("x_markov_transitions", d)
      .as[(String, String, Long, Long)].collect().toList
    assert(got == List(("a", "b", 1L, 1000000L),
                       ("b", "a", 1L, 500000L),
                       ("b", "b", 1L, 500000L)))
  }

  test("markov: timestamp ties break by event_id") {
    // two events at the SAME ts: event_id order decides the sequence
    val d = eventsDir(Seq(
      (1L, 1000L, 7L, "a", 0.0), (2L, 1000L, 7L, "b", 0.0)))
    val got = run("x_markov_transitions", d)
      .as[(String, String, Long, Long)].collect().toList
    assert(got == List(("a", "b", 1L, 1000000L)))
  }

  test("ohlc: open/close follow (ts, event_id) order; high/low/vol exact") {
    val h = 3600000000L // one bar
    val d = eventsDir(Seq(
      (2L, 100L, 1L, "t", 5.0),          // same ts as event 1 — id breaks tie
      (1L, 100L, 1L, "t", 3.0),          //   → open = 3.00
      (3L, 200L, 1L, "t", 9.0),          // high
      (4L, 300L, 1L, "t", 1.0),          // low, close (latest ts)
      (5L, h + 1L, 1L, "t", 7.0)))       // second bar, single row
    val got = run("x_ohlc_bars", d)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toList
    assert(got == List(
      ("t", 0L, 300L, 900L, 100L, 100L, 4L, 1800L),
      ("t", h, 700L, 700L, 700L, 700L, 1L, 700L)))
  }

  test("correlation: perfectly linear planted data gives corr 1, beta exact") {
    // hours y = 0,1,2 with x = 100(y+1) cents → corr = 1.0, slope = 100
    val h = 3600000000L
    val d = eventsDir(Seq(
      (1L, 0L, 1L, "t", 1.0), (2L, h, 1L, "t", 2.0), (3L, 2 * h, 1L, "t", 3.0)))
    val got = run("x_correlation", d)
      .as[(String, Long, Double, Double)].collect().toList
    assert(got == List(("t", 3L, 1.0, 100.0)))
  }

  test("correlated subquery: above-own-average orders from urgent-free customers only") {
    // cust 1: 100, 200, 300 (no urgent) → only the 300 is strictly above
    // cust 2: has an URGENT order → excluded by NOT EXISTS
    // cust 3: single order equals its own average → strict > drops it
    val dir = Tbl.scratchDir("cs_fx")
    Seq(
      (10L, 1L, "O", 100.0, 0L, "3-MEDIUM"),
      (11L, 1L, "O", 200.0, 0L, "3-MEDIUM"),
      (12L, 1L, "O", 300.0, 0L, "3-MEDIUM"),
      (20L, 2L, "O", 100.0, 0L, "1-URGENT"),
      (21L, 2L, "O", 900.0, 0L, "3-MEDIUM"),
      (30L, 3L, "O", 500.0, 0L, "3-MEDIUM"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "ts_us", "o_orderpriority")
      .selectExpr("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                  "timestamp_micros(ts_us) AS o_orderdate", "o_orderpriority")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val got = run("x_correlated_subquery", dir)
      .as[(Long, Long, Long)].collect().toList
    assert(got == List((12L, 1L, 30000L)))
  }

  test("ntile: 12 rows over 10 buckets — first two deciles get the extra rows") {
    // SQL fill rule: n mod b leading buckets are one larger (2,2,1,...)
    val d = eventsDir((1L to 12L).map(i =>
      (i, i * 1000L, 1L, "t", i.toDouble)))
    val got = run("x_ntile_bucketing", d)
      .as[(String, Int, Long, Long, Long, Long)].collect().toList
    val exp = List(
      ("t", 1, 2L, 100L, 200L, 300L),  ("t", 2, 2L, 300L, 400L, 700L),
      ("t", 3, 1L, 500L, 500L, 500L),  ("t", 4, 1L, 600L, 600L, 600L),
      ("t", 5, 1L, 700L, 700L, 700L),  ("t", 6, 1L, 800L, 800L, 800L),
      ("t", 7, 1L, 900L, 900L, 900L),  ("t", 8, 1L, 1000L, 1000L, 1000L),
      ("t", 9, 1L, 1100L, 1100L, 1100L), ("t", 10, 1L, 1200L, 1200L, 1200L))
    assert(got == exp, s"got $got")
  }

  test("dist drift: planted halves give exact smoothed proportions and micro-nat terms") {
    // ts 0,10 (first half: 2×a) vs 100 (second half: 1×b); mid = 50
    // smoothed: pn1 = Σ(pc+1) = 4, qn1 = Σ(qc+1) = 3
    val d = eventsDir(Seq(
      (1L, 0L, 1L, "a", 0.0), (2L, 10L, 1L, "a", 0.0),
      (3L, 100L, 1L, "b", 0.0)))
    // mirror of the engines' rounding: ln → 7dp HALF_UP → floor(·1e6)
    def lnE6(r: Double): Long =
      math.floor(BigDecimal(math.log(r))
        .setScale(7, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e6).toLong
    val lnA = lnE6(3.0 * 3.0 / (1.0 * 4.0)) // pc1·qn1 / (qc1·pn1)
    val lnB = lnE6(1.0 * 3.0 / (2.0 * 4.0)) // negative: floor ≠ truncate
    val got = run("x_dist_drift", d)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toList
    val pA = 3L * 1000000000L / 4; val qA = 1L * 1000000000L / 3
    val pB = 1L * 1000000000L / 4; val qB = 2L * 1000000000L / 3
    assert(got == List(
      ("a", 2L, 0L, pA, qA, lnA, pA * lnA, (pA - qA) * lnA),
      ("b", 0L, 1L, pB, qB, lnB, pB * lnB, (pB - qB) * lnB)), s"got $got")
    assert(lnB < 0 && got(1)._6 == lnB, "negative-term floor discipline broken")
  }

  test("streaming drift: windows align to days, products are consistent, smoothing bounds hold") {
    val got = run("s27_stream_drift", "/root/testdata/sf0.001")
      .as[(Long, String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toList
    assert(got.nonEmpty, "no drift windows emitted")
    got.foreach { case (ws, _, n, qc, p9, q9, ln6, klc, psic) =>
      assert(ws % 86400000000L == 0, s"window start $ws not day-aligned")
      assert(n > 0 && qc > 0)
      assert(p9 > 0 && p9 <= 1000000000L && q9 > 0 && q9 <= 1000000000L)
      assert(klc == p9 * ln6 && psic == (p9 - q9) * ln6,
             "product columns drifted from their factors")
    }
  }

  test("mad: planted values give exact med2/mad4 and the 3-MAD outlier count") {
    // v_c = {100, 200, 300, 10000}: median = 250 → med2 = 500
    // dev2 = |2v−500| = {300, 100, 100, 19500}: median(dev2) = 200 → mad4 = 400
    // outliers: 2·dev2 > 3·400 = 1200 → only 19500 → n_out = 1
    val d = eventsDir(Seq(
      (1L, 1000L, 1L, "t", 1.0), (2L, 2000L, 1L, "t", 2.0),
      (3L, 3000L, 1L, "t", 3.0), (4L, 4000L, 1L, "t", 100.0)))
    val got = run("x_anomaly_mad", d)
      .as[(String, Long, Long, Long, Long)].collect().toList
    assert(got == List(("t", 4L, 500L, 400L, 1L)))
  }
}
