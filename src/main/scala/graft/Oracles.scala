package graft

/** DuckDB oracle SQL shared by batch/streaming twins. Several operators
  * deliberately exist in two embodiments (batch window vs streaming
  * state; plain join vs salted join) that must check against the SAME
  * oracle — hoisting the text here makes that a compiler-enforced fact
  * instead of a copy-paste invariant.
  */
object Oracles {

  // ---- shared SQL fragments (op-for-op twins of GeoFunctions) ----
  def radS(x: String): String = s"($x * pi() / 180.0)"
  /** Deterministic lon/lat grid over events (FIXTURES.md §B). */
  val lonS = "(100.0 + (user_id % 30) + (event_id % 100) / 100.0)"
  val latS = "((event_id % 30) + (user_id % 100) / 100.0)"
  private val e2S = "((1.0/298.257223563) * (2.0 - 1.0/298.257223563))"
  private def nS(lat: String) =
    s"(6378137.0 / sqrt(1.0 - $e2S * sin(${radS(lat)}) * sin(${radS(lat)})))"
  def ecefXS(lon: String, lat: String): String =
    s"((${nS(lat)} + 124.0) * cos(${radS(lat)}) * cos(${radS(lon)}))"
  def ecefYS(lon: String, lat: String): String =
    s"((${nS(lat)} + 124.0) * cos(${radS(lat)}) * sin(${radS(lon)}))"
  /** AIS rate-of-turn decode, `(x / 4.733)²` (`GeoFunctions.rotDecode`). */
  def rotS(x: String): String = s"(($x / 4.733) * ($x / 4.733))"

  /** Latest-3-per-key ranking (a3_top3_per_key / s2_stream_last3 /
    * x_topk_aggregator). */
  val top3PerKey: String =
    """SELECT user_id, rn, event_id, epoch_us(ts) AS ts_us, value FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |                               ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin

  /** 60s-step linear interpolation in (60s, 1h) gaps (a5_gap_fill /
    * s3_stream_gap_fill). */
  val gapFill: String =
    """SELECT user_id, p_us + k * 60000000 AS syn_ts_us,
      |  round(p_v + (value - p_v) * ((k * 60000000.0) / gap_us), 6) AS syn_value
      |FROM (
      |  SELECT *, t_us - p_us AS gap_us FROM (
      |    SELECT user_id, epoch_us(ts) AS t_us, value,
      |           lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS p_us,
      |           lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS p_v
      |    FROM events)
      |  WHERE p_us IS NOT NULL AND t_us - p_us > 60000000
      |    AND t_us - p_us < 3600000000),
      |  LATERAL unnest(generate_series(1, (gap_us - 1) // 60000000)) t(k)
      |ORDER BY user_id, syn_ts_us""".stripMargin

  /** 2min/1min sliding window kinematics — each event lands in exactly 2
    * windows (a1_sliding_window / s1_stream_window_agg). Full reference
    * 7-agg shape (`preprocess.py:80-86`): 3 moving averages + 4
    * event-time-latest columns (the reference's `last()` rebuilt as
    * arg_max for determinism, tie-broken on (epoch_us, event_id) encoded
    * as one fixed-width string — arg_max has no struct-key overload).
    * Averages run on exactly-summable values (cents / integer degrees /
    * integer micro-rot) so sum order can't perturb the hash. */
  val slidingWindow: String =
    s"""SELECT (epoch_us(ts) // 60000000 - k) * 60000000 AS ws_us,
       |       (epoch_us(ts) // 60000000 - k) * 60000000 + 120000000 AS we_us,
       |       user_id,
       |       CAST(sum(CAST(round(value*100) AS BIGINT)) * 10000 // count(*) AS BIGINT)/1000000.0 AS moving_avg,
       |       CAST(CAST(sum(cog) AS HUGEINT) * 1000000 // count(*) AS BIGINT)/1000000.0 AS moving_avg_cog,
       |       CAST(sum(CAST(round(${rotS("value")}*1000000.0) AS BIGINT)) // count(*) AS BIGINT)/1000000.0 AS moving_avg_rot,
       |       arg_max(value, printf('%020d|%019d', epoch_us(ts) + 4611686018427387904, event_id)) AS last_value,
       |       arg_max(lon, printf('%020d|%019d', epoch_us(ts) + 4611686018427387904, event_id)) AS last_lon,
       |       arg_max(lat, printf('%020d|%019d', epoch_us(ts) + 4611686018427387904, event_id)) AS last_lat,
       |       arg_max(lx, printf('%020d|%019d', epoch_us(ts) + 4611686018427387904, event_id)) AS last_x,
       |       arg_max(ly, printf('%020d|%019d', epoch_us(ts) + 4611686018427387904, event_id)) AS last_y,
       |       count(*) AS n
       |FROM (SELECT g.*,
       |        CAST(event_id % 360 AS DOUBLE) AS cog,
       |        round(${ecefXS("lon", "lat")}, 2) AS lx,
       |        round(${ecefYS("lon", "lat")}, 2) AS ly
       |      FROM (SELECT *, $lonS AS lon, $latS AS lat FROM events) g),
       |     (VALUES (0),(1)) offs(k)
       |GROUP BY 1, 2, 3 ORDER BY ws_us, user_id""".stripMargin

  /** 1-hour-gap sessionization, session end = last event + gap
    * (x_sessionize / s10_stream_session). */
  val sessionize: String =
    """SELECT user_id, min(t_us) AS ws_us, max(t_us) + 3600000000 AS we_us,
      |       count(*) AS n,
      |  round(sum(v_c) / 100.0, 2) AS sum_value
      |FROM (
      |  SELECT user_id, t_us, v_c,
      |         sum(new_s) OVER (PARTITION BY user_id ORDER BY t_us) AS sid
      |  FROM (
      |    SELECT user_id, epoch_us(ts) AS t_us,
      |           CAST(round(value*100) AS BIGINT) AS v_c,
      |           CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 3600000000
      |                THEN 1 ELSE 0 END AS new_s
      |    FROM events))
      |GROUP BY user_id, sid ORDER BY user_id, ws_us""".stripMargin

  /** DYNAMIC-gap sessionization (x_dynamic_session /
    * s21_stream_dynamic_session): each event extends its session by a
    * gap chosen from its own attributes (click 10 min, view 30 min,
    * else 1 h), so the lag-vs-constant break test no longer works — a
    * session ends only when the next event's start exceeds the RUNNING
    * MAX of (event time + that event's gap) over everything before it
    * (the interval-merge technique, x_merge_intervals). Merge-at-
    * equality follows the fixed-gap convention the s10 oracle pinned
    * (strictly-greater starts a new session). Ties walk by
    * (t_us, event_id) on both engines. */
  val dynamicSession: String =
    """WITH g AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS t_us,
      |         CAST(round(value*100) AS BIGINT) AS v_c,
      |         CASE event_type WHEN 'click' THEN 600000000
      |                         WHEN 'view' THEN 1800000000
      |                         ELSE 3600000000 END AS gap_us
      |  FROM events),
      |f AS (
      |  SELECT user_id, event_id, t_us, v_c, gap_us,
      |    CASE WHEN max(t_us + gap_us) OVER w IS NULL
      |           OR t_us > max(t_us + gap_us) OVER w
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM g
      |  WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
      |s AS (
      |  SELECT user_id, t_us, v_c, gap_us,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY t_us, event_id
      |                     ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM f)
      |SELECT user_id, min(t_us) AS ws_us,
      |  CAST(max(t_us + gap_us) AS BIGINT) AS we_us,
      |  count(*) AS n, round(sum(v_c)/100.0, 2) AS sum_value
      |FROM s GROUP BY user_id, sid ORDER BY user_id, ws_us""".stripMargin

  /** events ⋈ customer rollup by segment (x_salted_join /
    * s6_stream_static_join — the salted and broadcast variants must
    * equal the plain join). */
  val eventsBySegment: String =
    """SELECT c_mktsegment, count(*) AS n,
      |  round(sum(CAST(round(value*100) AS BIGINT))/100.0, 2) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
}
