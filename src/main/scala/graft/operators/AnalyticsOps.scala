package graft.operators

import graft.{QueryModule, Tbl}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Extended analytics surface: pivot, GROUPING SETS (via the engine's
  * SQL API path), exact interpolated percentiles, and batch
  * sessionization (the streaming `session_window` twin lives in
  * StreamingOps.s10).
  */
object AnalyticsOps extends QueryModule {

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Pivot: per-user event-type counts as columns. Pivot values are
    * declared explicitly — at 100 TB you never want the extra
    * distinct-scan Spark runs to infer them. */
  private def pivotCounts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tbl.events(s, d)
      .groupBy($"user_id")
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
      .na.fill(0L, EventTypes)
      .orderBy($"user_id")
  }

  // count(*) FILTER is BIGINT in DuckDB; sum(CASE…) would be HUGEINT and
  // fail the driver's dtype-exact hash compare against Spark's LongType.
  private val pivotCountsSql = {
    val cols = EventTypes.map(t =>
      s"""count(*) FILTER (WHERE event_type = '$t') AS "$t"""")
      .mkString(",\n  ")
    s"""SELECT user_id,
       |  $cols
       |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  /** GROUPING SETS through the SQL front door (`spark.sql`) — the
    * engine's full SQL surface is part of the contract, not just the
    * DataFrame DSL. */
  private def groupingSets(s: SparkSession, d: String): DataFrame = {
    Tbl.events(s, d).createOrReplaceTempView("ev_gs")
    s.sql(
      """SELECT coalesce(event_type, '(all)') AS etype,
        |       CAST(coalesce(user_id % 10, -1) AS BIGINT) AS user_mod,
        |       count(*) AS n,
        |       sum(CAST(round(value*100) AS BIGINT)) AS v_c
        |FROM ev_gs
        |GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())
        |ORDER BY etype, user_mod""".stripMargin)
  }

  // Outer CAST: DuckDB types sum(BIGINT) as HUGEINT; Spark as BIGINT.
  private val groupingSetsSql =
    """SELECT coalesce(event_type, '(all)') AS etype,
      |       CAST(coalesce(user_id % 10, -1) AS BIGINT) AS user_mod,
      |       count(*) AS n,
      |       CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS v_c
      |FROM events
      |GROUP BY GROUPING SETS ((event_type), (user_id % 10), ())
      |ORDER BY etype, user_mod""".stripMargin

  /** Exact percentiles (linear interpolation) over exact cents — the
    * deterministic twin of the sketch-based x_approx_distinct. */
  private def percentiles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tbl.events(s, d)
      .groupBy($"event_type")
      .agg(percentile(Tbl.cents($"value"), lit(0.5)).as("p50_c"),
           percentile(Tbl.cents($"value"), lit(0.95)).as("p95_c"))
      .select($"event_type",
              round($"p50_c" / 100.0, 4).as("p50"),
              round($"p95_c" / 100.0, 4).as("p95"))
      .orderBy($"event_type")
  }

  private val percentilesSql =
    """SELECT event_type,
      |  round(quantile_cont(CAST(round(value*100) AS BIGINT), 0.5) / 100.0, 4) AS p50,
      |  round(quantile_cont(CAST(round(value*100) AS BIGINT), 0.95) / 100.0, 4) AS p95
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Approximate quantiles (Greenwald-Khanna sketch via
    * `percentile_approx`) — the single-pass mergeable-sketch path for
    * 100 TB where exact `percentile` would buffer per-group values.
    * Sketch internals are engine- and merge-order-specific, so the
    * oracled output is the GK rank GUARANTEE itself, not the sketch
    * value: for accuracy N the returned q-quantile's true rank must lie
    * in [q−1/N, q+1/N]; we assert a generous ±0.05 band (N=10000). The
    * rank check is computed distributed — the sketch result broadcasts
    * back onto one corpus scan, no per-group value buffering anywhere. */
  private def approxQuantile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tbl.events(s, d).select($"event_type", Tbl.cents($"value").as("v_c"))
    val ap = ev.groupBy($"event_type")
      .agg(percentile_approx($"v_c", array(lit(0.5), lit(0.9)), lit(10000)).as("ap"))
      .select($"event_type", element_at($"ap", 1).as("a50"),
              element_at($"ap", 2).as("a90"))
    ev.join(broadcast(ap), "event_type")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
           (sum(when($"v_c" <= $"a50", 1L).otherwise(0L)) / count(lit(1)))
             .as("frac50"),
           (sum(when($"v_c" <= $"a90", 1L).otherwise(0L)) / count(lit(1)))
             .as("frac90"))
      .select($"event_type", $"n",
              ($"frac50" >= 0.45 && $"frac50" <= 0.55).as("q50_ok"),
              ($"frac90" >= 0.85 && $"frac90" <= 0.95).as("q90_ok"))
      .orderBy($"event_type")
  }

  private val approxQuantileSql =
    """SELECT event_type, count(*) AS n, TRUE AS q50_ok, TRUE AS q90_ok
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Batch sessionization: 1-hour-gap sessions per user via the
    * lag→flag→cumsum pattern; start/end/µs arithmetic matches the
    * streaming `session_window` convention (end = last event + gap). */
  private def sessionize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val gapUs = 3600000000L
    val w = Window.partitionBy($"user_id").orderBy($"t_us")
    Tbl.events(s, d)
      .select($"user_id", unix_micros($"ts").as("t_us"), Tbl.cents($"value").as("v_c"))
      .withColumn("new_s",
        when(lag($"t_us", 1).over(w).isNull ||
             $"t_us" - lag($"t_us", 1).over(w) > gapUs, 1L).otherwise(0L))
      .withColumn("sid", sum($"new_s").over(
        Window.partitionBy($"user_id").orderBy($"t_us")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"sid")
      .agg(min($"t_us").as("ws_us"),
           (max($"t_us") + gapUs).as("we_us"),
           count(lit(1)).as("n"),
           sum($"v_c").as("v_c"))
      .select($"user_id", $"ws_us", $"we_us", $"n",
              round($"v_c" / 100.0, 2).as("sum_value"))
      .orderBy($"user_id", $"ws_us")
  }

  private val sessionizeSql =
    graft.Oracles.sessionize

  /** DYNAMIC-gap sessionization via Spark's expression-gap
    * `session_window` (Spark ≥3.2): each event extends its session by a
    * gap drawn from its own attributes — a click expects a follow-up
    * within 10 minutes, a view within 30, anything else within an hour.
    * The constant-gap rule (x_sessionize) can't express this; the oracle
    * is the running-max-of-ends interval-merge formulation. Same scale
    * shape as every sessionizer here: one user_id shuffle, merge runs
    * in-partition. */
  private def dynamicSession(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val gap = when($"event_type" === "click", "10 minutes")
      .when($"event_type" === "view", "30 minutes")
      .otherwise("1 hour")
    Tbl.events(s, d)
      .groupBy(session_window($"ts", gap), $"user_id")
      .agg(count(lit(1)).as("n"), sum(Tbl.cents($"value")).as("v_c"))
      .select($"user_id",
              unix_micros($"session_window.start").as("ws_us"),
              unix_micros($"session_window.end").as("we_us"),
              $"n", round($"v_c" / 100.0, 2).as("sum_value"))
      .orderBy($"user_id", $"ws_us")
  }

  private val IntervalUs = 600000000L // each event opens a 10-min interval

  /** Overlapping-interval merge: each event opens a 10-minute activity
    * interval; overlapping or touching intervals per user coalesce into
    * one. The running-max-of-ends technique — a group starts exactly
    * where an interval's start exceeds the max end seen so far — is the
    * sessionize lag→flag→cumsum shape generalized to intervals that
    * outlive their gap (an interval can bridge rows the 1-hour gap rule
    * would split). Same scale shape as x_sessionize: one shuffle on
    * user_id, two in-partition window passes, integer-µs arithmetic
    * throughout. Ties on start are broken by event_id so both engines
    * walk rows identically. */
  private def mergeIntervals(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ord = Window.partitionBy($"user_id").orderBy($"st_us", $"event_id")
    val prevMax = max($"en_us").over(ord.rowsBetween(Window.unboundedPreceding, -1))
    Tbl.events(s, d)
      .select($"user_id", $"event_id", unix_micros($"ts").as("st_us"),
              (unix_micros($"ts") + IntervalUs).as("en_us"))
      .withColumn("new_g",
        when(prevMax.isNull || $"st_us" > prevMax, 1L).otherwise(0L))
      .withColumn("gid", sum($"new_g").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"gid")
      .agg(min($"st_us").as("ws_us"), max($"en_us").as("we_us"),
           count(lit(1)).as("n_events"))
      .select($"user_id", $"ws_us", $"we_us", $"n_events")
      .orderBy($"user_id", $"ws_us")
  }

  private val mergeIntervalsSql =
    s"""SELECT user_id, min(st_us) AS ws_us, max(en_us) AS we_us,
       |       count(*) AS n_events
       |FROM (
       |  SELECT user_id, st_us, en_us,
       |         sum(new_g) OVER (PARTITION BY user_id
       |                          ORDER BY st_us, event_id) AS gid
       |  FROM (
       |    SELECT user_id, event_id, epoch_us(ts) AS st_us,
       |           epoch_us(ts) + $IntervalUs AS en_us,
       |           CASE WHEN max(epoch_us(ts) + $IntervalUs) OVER w IS NULL
       |                  OR epoch_us(ts) > max(epoch_us(ts) + $IntervalUs) OVER w
       |                THEN 1 ELSE 0 END AS new_g
       |    FROM events
       |    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)))
       |GROUP BY user_id, gid ORDER BY user_id, ws_us""".stripMargin

  /** Unpivot (wide→long melt): the x_pivot matrix folded back to
    * (user_id, event_type, n) rows through the engine's native
    * `unpivot` operator — the relational round trip a feature-store
    * export runs in both directions. Zero-count cells survive the trip
    * (pivot's null→0 fill becomes an explicit long row), so the output
    * is the dense user×type grid, not the sparse groupBy. Unpivot is a
    * per-row expansion (Expand node, no shuffle beyond pivot's own
    * aggregation); the oracle builds the same dense grid with a
    * constant 5-row cross join. */
  private def unpivotCounts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    pivotCounts(s, d)
      .unpivot(Array($"user_id"), EventTypes.map(col).toArray, "event_type", "n")
      .orderBy($"user_id", $"event_type")
  }

  private val unpivotCountsSql = {
    val vals = EventTypes.map(t => s"('$t')").mkString(",")
    s"""SELECT user_id, t.event_type,
       |       count(*) FILTER (WHERE e.event_type = t.event_type) AS n
       |FROM events e CROSS JOIN (VALUES $vals) t(event_type)
       |GROUP BY user_id, t.event_type
       |ORDER BY user_id, t.event_type""".stripMargin
  }

  /** Ordered funnel (view → click → purchase): users who viewed, then
    * clicked AT OR AFTER their first view, then purchased at or after
    * that first qualifying click. Each step is a per-user conditional
    * minimum joined back onto the event stream — the staged-minima
    * formulation, not a per-user event-array sort.
    *
    * Scale shape: three per-user partial aggregates plus two user_id
    * equi-joins whose right side SHRINKS at every step (step n's user
    * set ⊆ step n−1's); all joins and aggregates share one user_id
    * hash partitioning, and the final output is three rows. µs-integer
    * comparisons only. */
  private def funnel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tbl.events(s, d)
      .select($"user_id", $"event_type", unix_micros($"ts").as("t_us"))
    val viewed = ev.where($"event_type" === "view")
      .groupBy($"user_id").agg(min($"t_us").as("t_view"))
    val clicked = ev.where($"event_type" === "click")
      .join(viewed, "user_id").where($"t_us" >= $"t_view")
      .groupBy($"user_id").agg(min($"t_us").as("t_click"))
    val purchased = ev.where($"event_type" === "purchase")
      .join(clicked, "user_id").where($"t_us" >= $"t_click")
      .groupBy($"user_id").agg(min($"t_us").as("t_purchase"))
    viewed.agg(count(lit(1)).as("n_users"))
      .select(lit("1_view").as("step"), $"n_users")
      .unionAll(clicked.agg(count(lit(1)).as("n_users"))
        .select(lit("2_click").as("step"), $"n_users"))
      .unionAll(purchased.agg(count(lit(1)).as("n_users"))
        .select(lit("3_purchase").as("step"), $"n_users"))
      .orderBy($"step")
  }

  private val funnelSql =
    """WITH v AS (SELECT user_id, min(epoch_us(ts)) AS t_view
      |           FROM events WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t_click
      |      FROM events e JOIN v USING (user_id)
      |      WHERE e.event_type = 'click' AND epoch_us(e.ts) >= v.t_view
      |      GROUP BY 1),
      |p AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t_purchase
      |      FROM events e JOIN c USING (user_id)
      |      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= c.t_click
      |      GROUP BY 1)
      |SELECT '1_view' AS step, count(*) AS n_users FROM v
      |UNION ALL SELECT '2_click', count(*) FROM c
      |UNION ALL SELECT '3_purchase', count(*) FROM p
      |ORDER BY step""".stripMargin

  /** Type-2 slowly-changing dimension build — the merge/upsert surface
    * of a warehouse pipeline, derived from an event log: per user, each
    * run of a distinct event_type becomes one dimension version with
    * [valid_from, valid_to) micros and an is_current flag on the open
    * row. Change detection is a lag() over (ts, event_id) — the same
    * total order both engines walk — and versions are re-numbered over
    * the change rows only.
    *
    * Scale shape: one shuffle on the dimension key, two in-partition
    * window passes (detect, then number/close) — the x_sessionize
    * lag→flag shape applied to dimension maintenance; no self-join, no
    * driver loop, version count bounded by change count. */
  private def scd2(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ord = Window.partitionBy($"user_id").orderBy($"t_us", $"event_id")
    Tbl.events(s, d)
      .select($"user_id", $"event_id", unix_micros($"ts").as("t_us"),
              $"event_type")
      .withColumn("prev_type", lag($"event_type", 1).over(ord))
      .where($"prev_type".isNull || $"prev_type" =!= $"event_type")
      .withColumn("version", row_number().over(ord))
      .withColumn("valid_to_us", lead($"t_us", 1).over(ord))
      .select($"user_id", $"version", $"event_type".as("state"),
              $"t_us".as("valid_from_us"), $"valid_to_us",
              $"valid_to_us".isNull.as("is_current"))
      .orderBy($"user_id", $"version")
  }

  private val scd2Sql =
    """WITH ordered AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS t_us, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |                          ORDER BY epoch_us(ts), event_id) AS prev_type
      |  FROM events),
      |changes AS (
      |  SELECT user_id, t_us, event_id, event_type FROM ordered
      |  WHERE prev_type IS NULL OR prev_type <> event_type)
      |SELECT user_id,
      |  CAST(row_number() OVER w AS INT) AS version,
      |  event_type AS state,
      |  t_us AS valid_from_us,
      |  lead(t_us) OVER w AS valid_to_us,
      |  (lead(t_us) OVER w) IS NULL AS is_current
      |FROM changes
      |WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id)
      |ORDER BY user_id, version""".stripMargin

  /** Cohort retention: users grouped by first-activity hour (the
    * cohort), counted again at each subsequent hour offset they remain
    * active — the activation/retention matrix every product-analytics
    * stack derives from an event log. Hour indices are exact integer
    * floor divisions of epoch micros; offset 0 row = cohort size.
    *
    * Scale shape: first-seen is one user-keyed min agg; activity
    * distincts to (user, hour); the cohort join is user-keyed (both
    * sides already hash-partitioned by user) and the matrix agg is
    * cohort×offset-sized — row counts shrink at every step, nothing
    * data-sized moves twice. */
  private def cohortRetention(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hourIdx = expr("unix_micros(ts) div 3600000000")
    val activity = Tbl.events(s, d)
      .select($"user_id", hourIdx.as("h")).distinct()
    val cohort = activity.groupBy($"user_id").agg(min($"h").as("c_h"))
    activity.join(cohort, "user_id")
      .groupBy($"c_h".as("cohort_h"), ($"h" - $"c_h").as("offset_h"))
      .agg(count_distinct($"user_id").as("n_users"))
      .orderBy($"cohort_h", $"offset_h")
  }

  private val cohortRetentionSql =
    """WITH activity AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 3600000000 AS h FROM events),
      |cohort AS (SELECT user_id, min(h) AS c_h FROM activity GROUP BY user_id)
      |SELECT CAST(c.c_h AS BIGINT) AS cohort_h,
      |       CAST(a.h - c.c_h AS BIGINT) AS offset_h,
      |       count(DISTINCT a.user_id) AS n_users
      |FROM activity a JOIN cohort c ON a.user_id = c.user_id
      |GROUP BY 1, 2 ORDER BY cohort_h, offset_h""".stripMargin

  /** 2D skyline (Pareto frontier): orders not dominated on
    * (recency, price) — s dominates r iff s is ≥ on both axes and
    * strictly better on one. The classic formulation is a quadratic
    * NOT EXISTS self-join; the distributed form here is two linear
    * passes: (1) per-DAY max price (one groupBy — the only shuffle
    * over the fact), (2) a suffix-max window over the DAY-GRAIN
    * relation only (thousands of rows at any SF, so the
    * single-partition ordered window is over a bounded domain, never
    * the fact table), broadcast back to the fact scan. A row survives
    * iff it beats every strictly-later day's max and ties its own
    * day's max. Prices compare in exact cents. */
  private def skyline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tbl.orders(s, d)
      .select($"o_orderkey", $"o_orderdate",
              Tbl.cents($"o_totalprice").as("price_c"),
              datediff($"o_orderdate".cast("date"),
                       lit("1970-01-01").cast("date")).as("day"))
    val dayMax = base.groupBy($"day").agg(max($"price_c").as("m_day"))
    val suffix = dayMax.withColumn("m_later",
      max($"m_day").over(Window.orderBy($"day")
        .rangeBetween(1, Window.unboundedFollowing)))
    base.join(broadcast(suffix), "day")
      .where(($"m_later".isNull || $"price_c" > $"m_later") &&
             $"price_c" === $"m_day")
      .select($"o_orderkey", $"o_orderdate", $"price_c")
      .orderBy($"o_orderdate".desc, $"o_orderkey")
  }

  private val skylineSql =
    """WITH b AS (
      |  SELECT o_orderkey, o_orderdate,
      |    CAST(round(o_totalprice*100) AS BIGINT) AS price_c,
      |    date_diff('day', DATE '1970-01-01',
      |              CAST(o_orderdate AS DATE)) AS day
      |  FROM orders),
      |dm AS (SELECT day, max(price_c) AS m_day FROM b GROUP BY day),
      |sfx AS (SELECT day, m_day,
      |  max(m_day) OVER (ORDER BY day
      |    RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS m_later
      |  FROM dm)
      |SELECT b.o_orderkey, b.o_orderdate, b.price_c
      |FROM b JOIN sfx USING (day)
      |WHERE (m_later IS NULL OR price_c > m_later) AND price_c = m_day
      |ORDER BY o_orderdate DESC, o_orderkey""".stripMargin

  /** Correlated subqueries through the SQL front door — the Catalyst
    * path none of the DataFrame-built queries exercise: two correlated
    * SCALAR subqueries (per-customer order count and cents total, so the
    * above-average test is exact integer cross-multiplication — no AVG
    * division) plus a correlated NOT EXISTS, all of which
    * `DecorrelateInnerQuery`/`RewriteCorrelatedScalarSubquery` must turn
    * into aggregate-then-join plans (Spark refuses to execute a
    * correlated subquery per-row, so this compiling AT ALL means the
    * rewrite fired; the plan spec additionally pins the join shapes).
    * Semantics: urgent-free customers' orders strictly above their own
    * customer's average price. */
  private def correlatedSubquery(s: SparkSession, d: String): DataFrame = {
    Tbl.orders(s, d).createOrReplaceTempView("ord_cs")
    s.sql(
      """SELECT o_orderkey, o_custkey,
        |       CAST(round(o_totalprice*100) AS BIGINT) AS price_c
        |FROM ord_cs o
        |WHERE CAST(round(o_totalprice*100) AS BIGINT)
        |        * (SELECT count(*) FROM ord_cs i
        |           WHERE i.o_custkey = o.o_custkey)
        |      > (SELECT sum(CAST(round(i.o_totalprice*100) AS BIGINT))
        |         FROM ord_cs i WHERE i.o_custkey = o.o_custkey)
        |  AND NOT EXISTS (SELECT 1 FROM ord_cs i
        |                  WHERE i.o_custkey = o.o_custkey
        |                    AND i.o_orderpriority = '1-URGENT')
        |ORDER BY o_orderkey""".stripMargin)
  }

  private val correlatedSubquerySql =
    """SELECT o_orderkey, o_custkey,
      |       CAST(round(o_totalprice*100) AS BIGINT) AS price_c
      |FROM orders o
      |WHERE CAST(round(o_totalprice*100) AS BIGINT)
      |        * (SELECT count(*) FROM orders i
      |           WHERE i.o_custkey = o.o_custkey)
      |      > (SELECT CAST(sum(CAST(round(i.o_totalprice*100) AS BIGINT))
      |                AS BIGINT)
      |         FROM orders i WHERE i.o_custkey = o.o_custkey)
      |  AND NOT EXISTS (SELECT 1 FROM orders i
      |                  WHERE i.o_custkey = o.o_custkey
      |                    AND i.o_orderpriority = '1-URGENT')
      |ORDER BY o_orderkey""".stripMargin

  /** Recursive CTE through the SQL front door (`WITH RECURSIVE`,
    * Spark 4.1's UnionLoop executor): revenue rollup over a
    * variable-depth part hierarchy. Parent = floor(key/10), a decimal
    * forest whose depth varies with key width, so the recursion runs to
    * FIXPOINT inside the engine — different in KIND from the iterative
    * graph queries (x_pagerank/x_shortest_path/x_label_propagation),
    * which unroll a FIXED round count as a driver-side loop; here
    * Catalyst owns the loop (ResolveWithCTE → UnionLoopExec,
    * plan-spec-pinned) and decides convergence from the per-step row
    * count. The recursive step is functional (one parent per node), so
    * UNION ALL accumulates exactly depth(node) rows per node — closure
    * size ≈ 5·|parts|, no combinatorial blow-up at any corpus size —
    * and the rollup target (the two-digit level of the hierarchy)
    * bounds the output at ≤ 90 rows regardless of scale. Both engines
    * run `CAST(floor(cur/10) AS BIGINT)` (DuckDB has no DIV; int `/`
    * is double-valued in both, exact far past any key width here). */
  private def recursiveHierarchy(s: SparkSession, d: String): DataFrame = {
    // The default cteRecursionRowLimit (1M accumulated rows) is a
    // runaway-recursion guard sized for demos; this recursion is
    // provably linear — the step is functional (one parent per node),
    // so the closure is exactly Σ depth(node) ≤ ~7·|parts| rows — and
    // already exceeds 1M at 200k parts. Raise the guard, don't fight
    // it: the termination property comes from the monotone key
    // division, not from the limit.
    s.conf.set("spark.sql.cteRecursionRowLimit", Int.MaxValue.toString)
    Tbl.part(s, d).createOrReplaceTempView("part_rh")
    Tbl.lineitem(s, d).createOrReplaceTempView("li_rh")
    s.sql(recursiveHierarchyQuery("part_rh", "li_rh"))
  }

  private def recursiveHierarchyQuery(part: String, li: String) =
    s"""WITH RECURSIVE anc AS (
       |  SELECT p_partkey AS node, p_partkey AS cur FROM $part
       |  UNION ALL
       |  SELECT node, CAST(floor(cur / 10) AS BIGINT) AS cur
       |  FROM anc WHERE cur >= 100
       |),
       |lvl2 AS (SELECT node, cur AS ancestor FROM anc
       |         WHERE cur BETWEEN 10 AND 99),
       |rev AS (SELECT l_partkey,
       |               sum(CAST(round(l_extendedprice * 100) AS BIGINT))
       |                 AS rev_c
       |        FROM $li GROUP BY l_partkey)
       |SELECT l.ancestor, count(DISTINCT l.node) AS n_parts,
       |       CAST(sum(r.rev_c) AS BIGINT) AS revenue_c
       |FROM lvl2 l JOIN rev r ON r.l_partkey = l.node
       |GROUP BY l.ancestor
       |ORDER BY l.ancestor""".stripMargin

  // identical text against the raw tables — the WITH RECURSIVE
  // fixpoint semantics (UNION ALL accumulation, termination on an
  // empty step) are ANSI and DuckDB executes the same program
  private def recursiveHierarchySql =
    recursiveHierarchyQuery("part", "lineitem")

  /** LATERAL correlated subquery through the SQL front door — the
    * standard-SQL spelling of "top-k per row" (a correlated subquery
    * that returns MULTIPLE rows and columns per outer row, which a
    * scalar subquery cannot). Spark's `DecorrelateInnerQuery` rewrites
    * the per-row LIMIT into a set-based plan: one row_number window
    * over the inner side + an equi-join back to the outer — no
    * nested-loop, no per-row re-execution (pinned in PlanSpec). DuckDB
    * executes the IDENTICAL query text, so the oracle also certifies
    * Spark's decorrelation semantics (ties broken by the unique
    * orderkey make the top-2 deterministic on both engines). Scale
    * note: the decorrelated window shuffles the inner side once by
    * join key; the hand-optimized twin of this shape is
    * x_native_topk's explicit TopKPerKey call — this entry certifies
    * the FRONT DOOR, that one the bounded-heap operator. */
  private def lateralTopk(s: SparkSession, d: String): DataFrame = {
    Tbl.customer(s, d).createOrReplaceTempView("cust_lt")
    Tbl.orders(s, d).createOrReplaceTempView("ord_lt")
    s.sql(lateralTopkQuery("cust_lt", "ord_lt"))
  }
  private def lateralTopkQuery(cust: String, ord: String) =
    s"""SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
       |FROM $cust c,
       |LATERAL (SELECT o_orderkey, o_totalprice FROM $ord o
       |         WHERE o.o_custkey = c.c_custkey
       |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
       |WHERE c.c_mktsegment = 'BUILDING'
       |ORDER BY c.c_custkey, o_totalprice DESC, o_orderkey""".stripMargin

  private def lateralTopkSql = lateralTopkQuery("customer", "orders")

  /** Calendar arithmetic parity — the quiet migration killer: every
    * engine pair disagrees somewhere on month-end clamping, weekday
    * origin, or quarter boundaries, and the bugs surface as
    * off-by-a-few aggregates nobody can bisect. This pins the exact
    * conventions: `add_months` clamps day-of-month overflow (Jan 31 +
    * 1m = Feb 28/29 — DuckDB's `+ INTERVAL 1 MONTH` clamps the same
    * way), `last_day` month-ends, `date_trunc('quarter')` boundaries,
    * and the weekday origin (Spark `weekday`: 0 = Monday ≡ DuckDB
    * `isodow − 1`). All surfaced as per-quarter SUMS of day deltas, so
    * one wrong clamp anywhere in 15k dates shifts a sum and fails the
    * hash. Map-only until the |quarters|-row agg. */
  private def calendarOps(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tbl.orders(s, d)
      .select(to_date($"o_orderdate").as("dt"))
      .groupBy(to_date(date_trunc("quarter", $"dt")).as("qtr"))
      .agg(count(lit(1)).as("n"),
           sum(datediff(add_months($"dt", 1), $"dt")).as("sum_m1_days"),
           sum(datediff(last_day($"dt"), $"dt")).as("sum_eom_days"),
           sum(weekday($"dt")).as("sum_wd"))
      .orderBy($"qtr")
  }

  private val calendarOpsSql =
    """SELECT CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qtr,
      |  count(*) AS n,
      |  CAST(sum(datediff('day', CAST(o_orderdate AS DATE),
      |       CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE)))
      |    AS BIGINT) AS sum_m1_days,
      |  CAST(sum(datediff('day', CAST(o_orderdate AS DATE),
      |       last_day(CAST(o_orderdate AS DATE)))) AS BIGINT) AS sum_eom_days,
      |  CAST(sum(isodow(o_orderdate) - 1) AS BIGINT) AS sum_wd
      |FROM orders GROUP BY 1 ORDER BY qtr""".stripMargin

  /** try_* arithmetic — overflow and division-by-zero semantics, the
    * silent-corruption trap 100 TB aggregations hit: Spark's non-ANSI
    * `*`/`+` WRAP silently on BIGINT overflow (a hot aggregate goes
    * negative and nobody notices), while `try_multiply`/`try_add`
    * return NULL — auditable as a count. This pins the try_* contract
    * exactly: `try_multiply(v³, 10⁷)` overflows for v_c > ~9733 (NULL,
    * counted, excluded from the modular sum), `try_add(MAX−25000, v_c)`
    * overflows for v_c > 25000, `try_divide(10⁶, v_c % 97)` nulls on
    * the zero-divisor residue class. The oracle derives the same
    * partition in HUGEINT (DuckDB would ERROR on the overflow — a
    * third behavior, which is exactly why the boundary must be pinned
    * by arithmetic, not by letting either engine's default run). The
    * modular fold (% 1e9+7) keeps the surviving-product sum itself far
    * from the overflow boundary; floor(q) keeps the quotient sum
    * integer-exact in doubles (every term integral, total < 2⁵³). */
  private def tryArith(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Long.MaxValue - 25000L
    Tbl.events(s, d)
      .select($"event_type", Tbl.cents($"value").as("v_c"))
      .select($"event_type", $"v_c",
              // every multiply chained through try_multiply: a plain `*`
              // anywhere in the product would WRAP before try_* sees it
              // (v_c > 2^21 would yield a non-NULL wrapped cube), which is
              // the exact silent corruption this query exists to pin
              expr("try_multiply(try_multiply(try_multiply(v_c, v_c), v_c)," +
                   " 10000000L)").as("p"),
              expr("try_divide(1000000L, v_c % 97)").as("q"),
              expr(s"try_add(${base}L, v_c)").as("a"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
           (count(lit(1)) - count($"p")).as("n_mul_over"),
           sum($"p" % 1000000007L).as("sum_mul_ok"),
           (count(lit(1)) - count($"q")).as("n_div0"),
           sum(floor($"q")).cast("long").as("sum_q"),
           (count(lit(1)) - count($"a")).as("n_add_over"),
           sum($"a" - base).as("sum_add_ok"))
      .orderBy($"event_type")
  }

  /** Scale-safe twin of [[tryArith]] (same outputs, same oracle): the
    * TRY-mode form pays per-row caught-exception machinery wherever an
    * overflow actually fires (~100 s at sf100p, linear — the in-code
    * note there says to guard arithmetically at 100 TB; this query IS
    * that guard, the cutpoint-twin pattern applied to error handling).
    * Each overflow condition is decided by a PRE-COMPUTED range check —
    * v³·10⁷ overflows Long iff |v| > 9734 (the largest magnitude with
    * |v|³ ≤ Long.MaxValue/10⁷, computed below, not hard-coded — the
    * guard is on MAGNITUDE as a TWO-SIDED compare −vMax ≤ v ≤ vMax,
    * because a large-negative cube wraps just as silently as a
    * large-positive one, and the compare itself must not wrap either:
    * abs(Long.MinValue) is negative, so an abs()-based guard would
    * wave the one value through; the negative bound |Long.MinValue|/10⁷
    * shares the same integer cube root, so the symmetric bound is
    * exact, not merely conservative), add overflows iff v > 25000 (base
    * is Long.MaxValue−25000, so only the positive side can overflow:
    * base + v ≥ Long.MinValue for every Long v), ÷0 iff v%97 = 0 — so
    * the hot path is
    * branch-predictable CASE arithmetic with no exception paths and no
    * try_* wrappers, and stays inside whole-stage codegen. */
  private def tryArithGuarded(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Long.MaxValue - 25000L
    val mulCap = Long.MaxValue / 10000000L // |v|³ must stay ≤ this
    // largest |v| with |v|³ ≤ mulCap (integer cube root; |v_c| ≤ 49002
    // so the search space is tiny and exact)
    val vMax = Iterator.iterate(1L)(_ + 1)
      .takeWhile(v => v * v * v <= mulCap).reduceLeft((_, b) => b)
    Tbl.events(s, d)
      .select($"event_type", Tbl.cents($"value").as("v_c"))
      .select($"event_type", $"v_c",
              // two-sided compare, NOT abs(v)<=vMax: abs(Long.MinValue)
              // wraps negative and would pass the guard (round-13
              // ADVICE; unreachable for cents-valued corpora but the
              // guard must not itself rely on non-wrapping)
              when($"v_c" <= vMax && $"v_c" >= -vMax,
                $"v_c" * $"v_c" * $"v_c" * 10000000L).as("p"),
              when($"v_c" % 97L =!= 0L,
                lit(1000000L).cast("double") / ($"v_c" % 97L)).as("q"),
              when($"v_c" <= 25000L, $"v_c" + base).as("a"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
           (count(lit(1)) - count($"p")).as("n_mul_over"),
           sum($"p" % 1000000007L).as("sum_mul_ok"),
           (count(lit(1)) - count($"q")).as("n_div0"),
           sum(floor($"q")).cast("long").as("sum_q"),
           (count(lit(1)) - count($"a")).as("n_add_over"),
           sum($"a" - base).as("sum_add_ok"))
      .orderBy($"event_type")
  }

  private val tryArithSql =
    """WITH e AS (
      |  SELECT event_type, CAST(round(value*100) AS BIGINT) AS v_c
      |  FROM events),
      |t AS (
      |  SELECT event_type, v_c,
      |         CAST(v_c AS HUGEINT) * v_c * v_c * 10000000 AS hm,
      |         v_c % 97 AS dv
      |  FROM e)
      |SELECT event_type, count(*) AS n,
      |  CAST(count(*) FILTER (WHERE hm NOT BETWEEN -9223372036854775808
      |                        AND 9223372036854775807) AS BIGINT)
      |    AS n_mul_over,
      |  CAST(sum(hm % 1000000007)
      |       FILTER (WHERE hm BETWEEN -9223372036854775808
      |               AND 9223372036854775807) AS BIGINT) AS sum_mul_ok,
      |  CAST(count(*) FILTER (WHERE dv = 0) AS BIGINT) AS n_div0,
      |  CAST(sum(floor(1000000 / nullif(dv, 0))) AS BIGINT) AS sum_q,
      |  CAST(count(*) FILTER (WHERE v_c > 25000) AS BIGINT) AS n_add_over,
      |  CAST(sum(v_c) FILTER (WHERE v_c <= 25000) AS BIGINT) AS sum_add_ok
      |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin

  /** NULL-ordering parity — the sort-semantics divergence every
    * cross-engine migration hits: Spark's ASC default is NULLS FIRST,
    * DuckDB's is NULLS LAST, and an unstated default silently reorders
    * every ranked result containing NULL keys. The query ranks each
    * event_type by a genuinely nullable key under all four explicit
    * orderings (ASC/DESC × NULLS FIRST/LAST) and emits the rank-1
    * event_id of each — content, not order, so the driver's
    * row-sorted hash still pins the placement. The ASC-NULLS-FIRST
    * column is deliberately computed with Spark's bare DEFAULT
    * (`$"nk".asc`) against the oracle's EXPLICIT `NULLS FIRST`,
    * pinning the default itself. Four window sorts over one exchange
    * (same partition key); at 100 TB the per-type sort is the cost,
    * same shape as x_ntile_bucketing. */
  private def nullOrdering(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tbl.events(s, d)
      .select($"event_type", $"event_id",
              nullif(Tbl.cents($"value") % 5, lit(0L)).as("nk"))
    def w(o: org.apache.spark.sql.Column*) =
      Window.partitionBy($"event_type").orderBy(o: _*)
    ev.select($"event_type", $"event_id", $"nk",
        row_number().over(w($"nk".asc, $"event_id")).as("r_anf"),
        row_number().over(w($"nk".asc_nulls_last, $"event_id")).as("r_anl"),
        row_number().over(w($"nk".desc_nulls_first, $"event_id")).as("r_dnf"),
        row_number().over(w($"nk".desc, $"event_id")).as("r_dnl"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
           (count(lit(1)) - count($"nk")).as("n_null"),
           max(when($"r_anf" === 1, $"event_id")).as("id_asc_nf"),
           max(when($"r_anl" === 1, $"event_id")).as("id_asc_nl"),
           max(when($"r_dnf" === 1, $"event_id")).as("id_desc_nf"),
           max(when($"r_dnl" === 1, $"event_id")).as("id_desc_nl"))
      .orderBy($"event_type")
  }

  private val nullOrderingSql =
    """WITH e AS (
      |  SELECT event_type, event_id,
      |         nullif(CAST(round(value*100) AS BIGINT) % 5, 0) AS nk
      |  FROM events),
      |r AS (
      |  SELECT event_type, event_id, nk,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY nk ASC NULLS FIRST, event_id) AS r_anf,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY nk ASC NULLS LAST, event_id) AS r_anl,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY nk DESC NULLS FIRST, event_id) AS r_dnf,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY nk DESC NULLS LAST, event_id) AS r_dnl
      |  FROM e)
      |SELECT event_type, count(*) AS n,
      |  CAST(count(*) FILTER (WHERE nk IS NULL) AS BIGINT) AS n_null,
      |  max(CASE WHEN r_anf = 1 THEN event_id END) AS id_asc_nf,
      |  max(CASE WHEN r_anl = 1 THEN event_id END) AS id_asc_nl,
      |  max(CASE WHEN r_dnf = 1 THEN event_id END) AS id_desc_nf,
      |  max(CASE WHEN r_dnl = 1 THEN event_id END) AS id_desc_nl
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Ordered-set aggregation — LISTAGG WITHIN GROUP, the SQL:2016
    * ordered string concatenation every warehouse migration trips over
    * (it is only deterministic WITH the WITHIN GROUP order). Two
    * spellings, both certified: the front-door `listagg(...) WITHIN
    * GROUP (ORDER BY ...)` over a small dimension rollup, and the
    * scale-safe composition `array_join(sort_array(collect_set(...)))`
    * for a DISTINCT ordered concat over a big fact table — bounded
    * output because the SET is bounded (|types| per cohort), which is
    * the only shape ordered concat is legitimate at 100 TB anyway
    * (LISTAGG over raw 10¹²-row groups is an anti-pattern regardless
    * of engine). DuckDB oracles both via string_agg(... ORDER BY). */
  private def listaggRollup(s: SparkSession, d: String): DataFrame = {
    Tbl.nation(s, d).createOrReplaceTempView("nation_la")
    Tbl.region(s, d).createOrReplaceTempView("region_la")
    Tbl.events(s, d).createOrReplaceTempView("events_la")
    s.sql("""
      |SELECT 'region:' || r_name AS grp,
      |       listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS members
      |FROM nation_la JOIN region_la ON n_regionkey = r_regionkey
      |GROUP BY r_name
      |UNION ALL
      |SELECT 'cohort:' || CAST(user_id % 20 AS STRING) AS grp,
      |       array_join(sort_array(collect_set(event_type)), ',') AS members
      |FROM events_la GROUP BY user_id % 20
      |ORDER BY grp""".stripMargin)
  }

  private val listaggRollupSql =
    """SELECT 'region:' || r_name AS grp,
      |       string_agg(n_name, ',' ORDER BY n_name) AS members
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name
      |UNION ALL
      |SELECT 'cohort:' || CAST(user_id % 20 AS VARCHAR) AS grp,
      |       string_agg(DISTINCT event_type, ',' ORDER BY event_type)
      |         AS members
      |FROM events GROUP BY user_id % 20
      |ORDER BY grp""".stripMargin

  /** Map-typed columns end to end — the one Spark SQL type family with
    * no registry entry until now (the reference never touches maps
    * either, SURVEY §1.2): build a per-type hour→count histogram as a
    * real `MapType` column (`map_from_entries` over collected struct
    * entries), then reduce it through the map-native surface — `size`,
    * `element_at` (missing key → NULL, pinned via coalesce-to-0),
    * `map_filter` + `aggregate` lambda fold over `map_values`, and a
    * `map_entries` argmax. The map stays GROUP-SIZED (≤24 entries per
    * type), which is the only shape a map column is legitimate at
    * 100 TB: maps are row-local documents, not join surfaces — the
    * corpus is reduced by a plain map-side-combinable shuffle BEFORE
    * anything becomes a map, and every output is an ORDER-FREE
    * reduction of the map (map iteration order is undefined in both
    * engines, so the map value itself is never emitted). */
  private def mapOps(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hist = Tbl.events(s, d)
      .groupBy($"event_type", hour($"ts").as("h"))
      .agg(count(lit(1)).as("n"))
      .groupBy($"event_type")
      .agg(map_from_entries(collect_list(struct($"h", $"n"))).as("m"))
    hist
      .select($"event_type", $"m",
        // argmax over the entry array: highest count, tie → earliest
        // hour (negated key makes lexicographic struct max do both)
        expr("array_max(transform(map_entries(m)," +
             " e -> struct(e.value AS n, -e.key AS negh)))").as("pk"))
      .select($"event_type",
        size($"m").as("n_hours"),
        $"pk.n".as("peak_n"),
        (-$"pk.negh").as("peak_hour"),
        expr("aggregate(map_values(map_filter(m, (k, v) -> k < 6))," +
             " 0L, (a, x) -> a + x)").as("night_n"),
        coalesce(element_at($"m", lit(12)), lit(0L)).as("noon_n"))
      .orderBy($"event_type")
  }

  private val mapOpsSql =
    """WITH h AS (
      |  SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INTEGER) AS h,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |agg AS (
      |  SELECT event_type,
      |    CAST(count(*) AS INTEGER) AS n_hours,
      |    CAST(coalesce(sum(n) FILTER (WHERE h < 6), 0) AS BIGINT)
      |      AS night_n,
      |    CAST(coalesce(sum(n) FILTER (WHERE h = 12), 0) AS BIGINT)
      |      AS noon_n,
      |    max(n) AS peak_n
      |  FROM h GROUP BY event_type),
      |pk AS (
      |  SELECT h.event_type, min(h.h) AS peak_hour
      |  FROM h JOIN agg a ON a.event_type = h.event_type AND h.n = a.peak_n
      |  GROUP BY h.event_type)
      |SELECT a.event_type, a.n_hours, CAST(a.peak_n AS BIGINT) AS peak_n,
      |  pk.peak_hour, a.night_n, a.noon_n
      |FROM agg a JOIN pk USING (event_type) ORDER BY event_type""".stripMargin

  /** ANSI interval types end to end — the last Spark SQL type family
    * with no registry entry: timestamp subtraction producing a
    * `DayTimeIntervalType`, interval scaling (× and ÷ by a numeric),
    * field extraction, `make_dt_interval` / `make_ym_interval`
    * construction, the year-month END-OF-MONTH CLAMP (Jan 30 + 1 month
    * must land on Feb 29, both engines clamp), and interval
    * comparison. Every output is a scalar (epoch-µs / BIGINT /
    * BOOLEAN): an interval's string rendering differs between engines,
    * so the VALUES are pinned, never the formatting. Scale shape: one
    * map-side-combinable min/max/count per type; all interval
    * arithmetic runs on the |types|-row result. */
  private def intervalOps(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tbl.events(s, d)
      .groupBy($"event_type")
      .agg(min($"ts").as("t0"), max($"ts").as("t1"), count(lit(1)).as("n"))
      .select($"event_type", $"n", expr("t1 - t0").as("span"), $"t0", $"t1")
      .select($"event_type", $"n",
        expr("extract(DAY FROM span)").cast("long").as("span_d"),
        expr("extract(HOUR FROM span)").cast("long").as("span_h"),
        expr("extract(MINUTE FROM span)").cast("long").as("span_m"),
        unix_micros(expr("t0 + span / 7")).as("div7_us"),
        unix_micros(expr("t0 + span * 2")).as("mul2_us"),
        unix_micros(expr("t0 + make_dt_interval(3, 4, 5, 6.5)")).as("dt_add_us"),
        unix_micros(expr("t0 + make_ym_interval(1, 2)")).as("ym_add_us"),
        unix_micros(expr("t1 + make_ym_interval(0, 1)")).as("ym_clamp_us"),
        expr("span > make_dt_interval(29, 23, 20, 0)").as("gt_thresh"))
      .orderBy($"event_type")
  }

  private val intervalOpsSql =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(datepart('day', max(ts) - min(ts)) AS BIGINT) AS span_d,
      |  CAST(datepart('hour', max(ts) - min(ts)) AS BIGINT) AS span_h,
      |  CAST(datepart('minute', max(ts) - min(ts)) AS BIGINT) AS span_m,
      |  -- NOT interval/7: DuckDB divides the (days, micros) components
      |  -- separately and DROPS the remainder day (64d/7 → 9d + µs/7),
      |  -- where Spark's DayTimeInterval ÷ divides TOTAL micros HALF_UP.
      |  -- Spark's semantics stated as exact integer arithmetic instead;
      |  -- floor((2x+7)/14) = nearest(x/7), ties impossible (7 is odd).
      |  CAST(epoch_us(min(ts)) +
      |    ((epoch_us(max(ts)) - epoch_us(min(ts))) * 2 + 7) // 14
      |    AS BIGINT) AS div7_us,
      |  epoch_us(min(ts) + (max(ts) - min(ts)) * 2) AS mul2_us,
      |  epoch_us(min(ts) + INTERVAL '3 days 4 hours 5 minutes 6.5 seconds')
      |    AS dt_add_us,
      |  epoch_us(min(ts) + INTERVAL '1 year 2 months') AS ym_add_us,
      |  epoch_us(max(ts) + INTERVAL '1 month') AS ym_clamp_us,
      |  (max(ts) - min(ts)) >
      |    INTERVAL '29 days 23 hours 20 minutes' AS gt_thresh
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Generator (UDTF-path) surface — `stack`, `inline`, and
    * `posexplode_outer`, the three Generate-node shapes the registry
    * lacked (x_unpivot covers the Expand path; these are the LATERAL
    * VIEW family): wide→long stack over a grouped rollup, inline over
    * a constructed array-of-structs, and an OUTER positional explode
    * whose empty-array documents must each survive as one NULL row
    * (the outer pin: 106 of 500 sf0.01 docs have no >6-char token).
    * Harmonized to (grp, tag, v) rows. Scale shape: stack/inline run
    * on model-sized rollups; the corpus-sized generator is row-local
    * — generate then re-aggregate, so only map-side partials shuffle,
    * never exploded rows. */
  private def generatorOps(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // ONE fact scan feeds both generator rollups: pre-aggregate to the
    // (returnflag × linestatus) grid (≤6 rows — sums/min/max re-fold
    // associatively), cut lineage with localCheckpoint so the two
    // derivations below don't re-execute the 10.8 GB-at-sf100p scan.
    // The checkpoint runs at CONSTRUCTION time; Bench times the
    // builder call itself, so published walls include this scan (see
    // the fuller timing/reentrancy note on sqlUdf below).
    val base = Tbl.lineitem(s, d)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(sum(Tbl.cents($"l_quantity")).as("qty_c"),
           sum(Tbl.cents($"l_extendedprice")).as("price_c"),
           count(lit(1)).as("n"),
           min(datediff(to_date($"l_shipdate"), lit("1970-01-01")))
             .cast("long").as("d_min"),
           max(datediff(to_date($"l_shipdate"), lit("1970-01-01")))
             .cast("long").as("d_max"))
      .localCheckpoint()

    val stacked = base
      .groupBy($"l_returnflag")
      .agg(sum($"qty_c").as("qty_c"), sum($"price_c").as("price_c"),
           sum($"n").as("n"))
      .selectExpr("concat('rf:', l_returnflag) AS grp",
        "stack(3, 'qty_c', qty_c, 'price_c', price_c, 'rows', n) AS (tag, v)")

    val inlined = base
      .groupBy($"l_linestatus")
      .agg(min($"d_min").as("d_min"), max($"d_max").as("d_max"))
      .selectExpr("concat('ls:', l_linestatus) AS grp",
        "inline(array(struct('min_ship_day' AS tag, d_min AS v)," +
        " struct('max_ship_day' AS tag, d_max AS v)))")

    val docStats = Tbl.documents(s, d)
      .select($"source",
        posexplode_outer(filter(split($"text", " "), t => length(t) > 6))
          .as(Seq("pos", "tok")))
      .groupBy($"source")
      .agg(count(lit(1)).as("gen_rows"),
           sum(when($"pos".isNull, 1L).otherwise(0L)).as("outer_nulls"),
           max($"pos").cast("long").as("mp"))
      .selectExpr("concat('src:', source) AS grp",
        "stack(3, 'gen_rows', gen_rows, 'outer_nulls', outer_nulls," +
        " 'max_pos', mp) AS (tag, v)")

    stacked.unionAll(inlined).unionAll(docStats).orderBy($"grp", $"tag")
  }

  // The oracle states the generators' net effect in plain aggregates:
  // posexplode_outer emits max(k,1) rows per doc (k = filtered-token
  // count), with k=0 docs contributing one NULL-pos row each.
  private val generatorOpsSql =
    """WITH rf AS (
      |  SELECT l_returnflag,
      |    CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT)
      |      AS qty_c,
      |    CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
      |      AS price_c,
      |    count(*) AS n
      |  FROM lineitem GROUP BY 1),
      |ls AS (
      |  SELECT l_linestatus,
      |    CAST(min(date_diff('day', DATE '1970-01-01',
      |      CAST(l_shipdate AS DATE))) AS BIGINT) AS d_min,
      |    CAST(max(date_diff('day', DATE '1970-01-01',
      |      CAST(l_shipdate AS DATE))) AS BIGINT) AS d_max
      |  FROM lineitem GROUP BY 1),
      |dk AS (
      |  SELECT source,
      |    coalesce(len(list_filter(string_split(text, ' '),
      |      t -> length(t) > 6)), 0) AS k
      |  FROM documents),
      |ds AS (
      |  SELECT source,
      |    CAST(sum(CASE WHEN k = 0 THEN 1 ELSE k END) AS BIGINT)
      |      AS gen_rows,
      |    CAST(sum(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS outer_nulls,
      |    CASE WHEN max(k) = 0 THEN NULL
      |         ELSE CAST(max(k) - 1 AS BIGINT) END AS max_pos
      |  FROM dk GROUP BY source)
      |SELECT grp, tag, v FROM (
      |  SELECT 'rf:' || l_returnflag AS grp, 'qty_c' AS tag, qty_c AS v
      |    FROM rf
      |  UNION ALL SELECT 'rf:' || l_returnflag, 'price_c', price_c FROM rf
      |  UNION ALL SELECT 'rf:' || l_returnflag, 'rows', n FROM rf
      |  UNION ALL SELECT 'ls:' || l_linestatus, 'min_ship_day', d_min
      |    FROM ls
      |  UNION ALL SELECT 'ls:' || l_linestatus, 'max_ship_day', d_max
      |    FROM ls
      |  UNION ALL SELECT 'src:' || source, 'gen_rows', gen_rows FROM ds
      |  UNION ALL SELECT 'src:' || source, 'outer_nulls', outer_nulls
      |    FROM ds
      |  UNION ALL SELECT 'src:' || source, 'max_pos', max_pos FROM ds
      |) ORDER BY grp, tag""".stripMargin

  /** SQL UDFs (SQL:2016 `CREATE FUNCTION`, Spark ≥4.0) — the declarative
    * extension point the §2.9 surface lacked: a scalar UDF, a NESTED
    * scalar UDF (UDF calling UDF), and a parameterized TABLE-VALUED
    * UDF whose body queries a view. The 100 TB story is WHY these beat
    * `udf()`: a SQL UDF is inlined at analysis time — the plan below
    * carries the CASE expression itself inside whole-stage codegen, no
    * ScalaUDF black box, so predicate pushdown / codegen / vectorized
    * readers all survive (pinned in PlanSpec: zero `ScalaUDF` in the
    * executed plan). Fact discipline: the scalar UDFs inline into ONE
    * events scan that builds a checkpointed ≤30-row grid; the main
    * SELECT and the TVF both re-fold the grid (PlanSpec pins that the
    * final plan never re-scans events). `CREATE OR REPLACE` keeps
    * re-runs in one session idempotent (bench loops the query). */
  private def sqlUdf(s: SparkSession, d: String): DataFrame = {
    // Timing + reentrancy contract (round-11 ADVICE): the grid below is
    // built EAGERLY (localCheckpoint) at DataFrame-construction time, so
    // the events scan runs when this builder is called, not when the
    // returned plan executes. Bench evaluates the builder INSIDE
    // its timed region (`materialize(fn(spark, dir))` — argument
    // evaluation is timed), so published walls DO include the scan;
    // only a consumer that times `.collect()` on a pre-built DataFrame
    // would under-state it. The session-level temp names (ev_sqludf,
    // ev_sqludf_grid, graft_*) assume SEQUENTIAL execution within a
    // session — two concurrent invocations in one session would race on
    // CREATE OR REPLACE (the registry harnesses run queries one at a
    // time; a concurrent deployment would suffix a run id).
    Tbl.events(s, d).createOrReplaceTempView("ev_sqludf")
    s.sql("CREATE OR REPLACE TEMPORARY FUNCTION graft_vc(v DOUBLE) " +
      "RETURNS BIGINT RETURN CAST(round(v * 100) AS BIGINT)")
    // nested: graft_tier's body calls graft_vc
    s.sql("CREATE OR REPLACE TEMPORARY FUNCTION graft_tier(v DOUBLE) " +
      "RETURNS STRING RETURN CASE WHEN graft_vc(v) < 1000 THEN 'low' " +
      "WHEN graft_vc(v) < 10000 THEN 'mid' ELSE 'high' END")
    s.sql("CREATE OR REPLACE TEMPORARY FUNCTION graft_label(t STRING, " +
      "tier STRING) RETURNS STRING RETURN concat(t, '/', tier)")
    // ONE fact scan: the scalar UDFs inline into a (type, tier,
    // busy-flag) grid (≤30 rows, counts/sums re-fold associatively);
    // localCheckpoint cuts lineage so the main SELECT and the TVF body
    // both read the grid instead of re-scanning events
    s.sql(
      """SELECT event_type, graft_tier(value) AS tier,
        |       value >= 100.0 AS busy,
        |       count(*) AS n, sum(graft_vc(value)) AS v_c
        |FROM ev_sqludf GROUP BY 1, 2, 3""".stripMargin)
      .localCheckpoint()
      .createOrReplaceTempView("ev_sqludf_grid")
    s.sql("CREATE OR REPLACE TEMPORARY FUNCTION graft_busy(want BOOLEAN) " +
      "RETURNS TABLE(event_type STRING, n BIGINT, v_c BIGINT) " +
      "RETURN SELECT event_type, sum(n) AS n, sum(v_c) AS v_c " +
      "FROM ev_sqludf_grid WHERE busy = want GROUP BY event_type")
    s.sql(
      """SELECT graft_label(event_type, tier) AS lbl, sum(n) AS n,
        |       sum(v_c) AS v_c
        |FROM ev_sqludf_grid GROUP BY 1
        |UNION ALL
        |SELECT concat('busy100:', event_type), n, v_c
        |FROM graft_busy(true)
        |ORDER BY lbl""".stripMargin)
  }

  // Oracle inlines every UDF body — the pinned contract is that the
  // function indirection changes NOTHING about the values.
  private val sqlUdfSql =
    """WITH t AS (
      |  SELECT event_type, value,
      |    CASE WHEN round(value * 100) < 1000 THEN 'low'
      |         WHEN round(value * 100) < 10000 THEN 'mid'
      |         ELSE 'high' END AS tier,
      |    CAST(round(value * 100) AS BIGINT) AS vc
      |  FROM events)
      |SELECT lbl, n, v_c FROM (
      |  SELECT event_type || '/' || tier AS lbl, count(*) AS n,
      |         CAST(sum(vc) AS BIGINT) AS v_c
      |  FROM t GROUP BY 1
      |  UNION ALL
      |  SELECT 'busy100:' || event_type, count(*),
      |         CAST(sum(vc) AS BIGINT)
      |  FROM t WHERE value >= 100 GROUP BY event_type
      |) ORDER BY lbl""".stripMargin

  /** Collated strings (Spark ≥4.0) — case-insensitivity as a TYPE
    * property rather than a per-expression `lower()`: grouping and
    * equality on a `COLLATE UTF8_LCASE` column fold case variants
    * together while the underlying bytes stay untouched (the
    * `case_variants` column counts BINARY-distinct spellings inside
    * each fold, proving the group carried both). Case variation is
    * injected deterministically (even event_id → upper). Outputs are
    * re-anchored to plain UTF8_BINARY (`lower(...)` CAST to STRING):
    * a collated group key's representative is whichever spelling the
    * engine saw first — never emit it. Scale shape: same single
    * map-side-combinable aggregate as any groupBy; collation changes
    * the hash/equality function, not the movement. */
  private def collationOps(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tbl.events(s, d)
      .select($"event_id", $"value",
        when($"event_id" % 2 === 0, upper($"event_type"))
          .otherwise($"event_type").as("et_mixed"))
      .groupBy(expr("collate(et_mixed, 'UTF8_LCASE')").as("etc"))
      .agg(count(lit(1)).as("n"),
           countDistinct($"et_mixed").as("case_variants"),
           sum(when(expr("collate(et_mixed, 'UTF8_LCASE') = 'cLiCk'"), 1L)
             .otherwise(0L)).as("n_click_ci"),
           sum(Tbl.cents($"value")).as("v_c"))
      .select(expr("CAST(lower(etc) AS STRING)").as("event_type"),
              $"n", $"case_variants", $"n_click_ci", $"v_c")
      .orderBy($"event_type")
  }

  private val collationOpsSql =
    """WITH e AS (
      |  SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
      |              ELSE event_type END AS m,
      |         value
      |  FROM events)
      |SELECT lower(m) AS event_type, count(*) AS n,
      |  count(DISTINCT m) AS case_variants,
      |  CAST(sum(CASE WHEN lower(m) = 'click' THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_click_ci,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v_c
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  /** SQL pipe syntax (`|>`, Spark ≥4.0) — the composable front-door:
    * FROM → WHERE → chained EXTENDs (the second references the first's
    * alias, the lateral-column-alias semantics) → AGGREGATE … GROUP BY
    * (keys lead the output) → ORDER BY. Same Catalyst plan as the
    * nested-SELECT spelling — the oracle states it in classic SQL, so
    * the hash-match proves the syntax is pure sugar. */
  private def pipeSyntax(s: SparkSession, d: String): DataFrame = {
    Tbl.events(s, d).createOrReplaceTempView("ev_pipe")
    s.sql(
      """FROM ev_pipe
        ||> WHERE value >= 5
        ||> EXTEND CAST(round(value * 100) AS BIGINT) AS v_c
        ||> EXTEND v_c * 2 AS v2_c
        ||> AGGREGATE count(*) AS n, sum(v_c) AS v_c_sum,
        |             sum(v2_c) AS v2_sum
        |   GROUP BY event_type
        ||> ORDER BY event_type""".stripMargin)
  }

  private val pipeSyntaxSql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
      |    AS v_c_sum,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT) * 2) AS BIGINT)
      |    AS v2_sum
      |FROM events WHERE value >= 5
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_pipe_syntax"      -> (pipeSyntax _),
    "x_collation"        -> (collationOps _),
    "x_sql_udf"          -> (sqlUdf _),
    "x_interval_ops"     -> (intervalOps _),
    "x_generator_ops"    -> (generatorOps _),
    "x_map_ops"          -> (mapOps _),
    "x_recursive_hierarchy" -> (recursiveHierarchy _),
    "x_lateral_topk"     -> (lateralTopk _),
    "x_listagg"          -> (listaggRollup _),
    "x_calendar_ops"     -> (calendarOps _),
    "x_try_arith"        -> (tryArith _),
    "x_try_arith_guarded" -> (tryArithGuarded _),
    "x_null_ordering"    -> (nullOrdering _),
    "x_correlated_subquery" -> (correlatedSubquery _),
    "x_skyline"          -> (skyline _),
    "x_cohort_retention" -> (cohortRetention _),
    "x_scd2"            -> (scd2 _),
    "x_pivot"           -> (pivotCounts _),
    "x_unpivot"         -> (unpivotCounts _),
    "x_funnel"          -> (funnel _),
    "x_grouping_sets"   -> (groupingSets _),
    "x_percentiles"     -> (percentiles _),
    "x_approx_quantile" -> (approxQuantile _),
    "x_sessionize"      -> (sessionize _),
    "x_dynamic_session" -> (dynamicSession _),
    "x_merge_intervals" -> (mergeIntervals _))

  override val oracles: Map[String, String] = Map(
    "x_pipe_syntax"      -> pipeSyntaxSql,
    "x_collation"        -> collationOpsSql,
    "x_sql_udf"          -> sqlUdfSql,
    "x_interval_ops"     -> intervalOpsSql,
    "x_generator_ops"    -> generatorOpsSql,
    "x_map_ops"          -> mapOpsSql,
    "x_recursive_hierarchy" -> recursiveHierarchySql,
    "x_lateral_topk"     -> lateralTopkSql,
    "x_listagg"          -> listaggRollupSql,
    "x_calendar_ops"     -> calendarOpsSql,
    "x_try_arith"        -> tryArithSql,
    "x_try_arith_guarded" -> tryArithSql,
    "x_null_ordering"    -> nullOrderingSql,
    "x_correlated_subquery" -> correlatedSubquerySql,
    "x_skyline"          -> skylineSql,
    "x_cohort_retention" -> cohortRetentionSql,
    "x_scd2"            -> scd2Sql,
    "x_pivot"           -> pivotCountsSql,
    "x_unpivot"         -> unpivotCountsSql,
    "x_funnel"          -> funnelSql,
    "x_grouping_sets"   -> groupingSetsSql,
    "x_percentiles"     -> percentilesSql,
    "x_approx_quantile" -> approxQuantileSql,
    "x_sessionize"      -> sessionizeSql,
    "x_dynamic_session" -> graft.Oracles.dynamicSession,
    "x_merge_intervals" -> mergeIntervalsSql)
}
