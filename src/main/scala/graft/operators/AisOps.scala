package graft.operators

import graft.{QueryModule, Tbl}
import graft.functions.GeoFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's AIS scalar / projection / filter surface (SURVEY.md
  * §2.3-2.5) embodied on the `events` table per the FIXTURES.md stand-in
  * mapping (user_id≈mmsi, ts≈timestamp_utc, value≈speed_over_ground).
  *
  * Oracle SQL strings are built from the same fragments as the Column
  * expressions so the arithmetic is op-for-op identical in DuckDB.
  */
object AisOps extends QueryModule {

  // ---- SQL mirrors of GeoFunctions (op-for-op identical), shared
  // with the sliding-window oracle via graft.Oracles ----
  private def radS(x: String) = graft.Oracles.radS(x)
  private def degS(x: String) = s"($x * 180.0 / pi())"
  private val lonS = graft.Oracles.lonS
  private val latS = graft.Oracles.latS
  private def ecefXS(lon: String, lat: String) = graft.Oracles.ecefXS(lon, lat)
  private def ecefYS(lon: String, lat: String) = graft.Oracles.ecefYS(lon, lat)

  /** F1: build WKT text from the integer grid, parse it back with the
    * reference's strip-letters regex (`preprocess.py:46-48`) — P4/P5/P6
    * (withColumn/getItem/drop) exercised en route. */
  private def wktParse(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val lonI = ($"user_id" % 30 + 100).cast("string")
    val latI = ($"event_id" % 30).cast("string")
    Tbl.events(s, d)
      .withColumn("wkt", concat(lit("POINT ("), lonI, lit(" "), latI, lit(")")))
      .withColumn("coords", wktToCoords($"wkt"))
      .withColumn("lon", $"coords".getItem(0))
      .withColumn("lat", $"coords".getItem(1))
      .drop("coords")
      .select($"event_id", $"wkt", $"lon", $"lat")
      .orderBy($"event_id")
  }

  private val wktParseSql =
    """SELECT event_id, wkt,
      |  CAST(string_split(trim(regexp_replace(wkt, '[a-zA-Z()]', '', 'g')), ' ')[1] AS DOUBLE) AS lon,
      |  CAST(string_split(trim(regexp_replace(wkt, '[a-zA-Z()]', '', 'g')), ' ')[2] AS DOUBLE) AS lat
      |FROM (SELECT event_id,
      |        concat('POINT (', CAST(user_id % 30 + 100 AS VARCHAR), ' ',
      |               CAST(event_id % 30 AS VARCHAR), ')') AS wkt
      |      FROM events) ORDER BY event_id""".stripMargin

  /** F2: geodetic→ECEF on the fractional grid; cm rounding bounds the
    * (observed-zero) libm sin/cos cross-engine drift. */
  private def ecef(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tbl.events(s, d)
      .withColumn("lon", lonOf($"user_id", $"event_id"))
      .withColumn("lat", latOf($"user_id", $"event_id"))
      .select($"event_id", $"lon", $"lat",
              round(ecefX($"lon", $"lat"), 2).as("cartesian_x"),
              round(ecefY($"lon", $"lat"), 2).as("cartesian_y"))
      .orderBy($"event_id")
  }

  private val ecefSql =
    s"""SELECT event_id, lon, lat,
       |  round(${ecefXS("lon", "lat")}, 2) AS cartesian_x,
       |  round(${ecefYS("lon", "lat")}, 2) AS cartesian_y
       |FROM (SELECT event_id, $lonS AS lon, $latS AS lat FROM events)
       |ORDER BY event_id""".stripMargin

  /** F3: AIS rate-of-turn decode (README.md:78) on `value`. */
  private def rotDecodeQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // floor-truncated: the decode is pure arithmetic (no libm), so both
    // engines hold bit-identical doubles and floor is engine-agnostic —
    // round()'s half-up resolution is not (see WindowOps.kinematicFinish)
    Tbl.events(s, d)
      .select($"event_id", $"value",
              (floor(rotDecode($"value") * 1000000.0) / 1000000.0)
                .as("rot_deg_min"))
      .orderBy($"event_id")
  }

  private val rotDecodeSql =
    s"""SELECT event_id, value,
      |  floor(${graft.Oracles.rotS("value")} * 1000000.0) / 1000000.0 AS rot_deg_min
      |FROM events ORDER BY event_id""".stripMargin

  /** F4: inverse-affine raster transform to pixel coords (quarter-degree
    * grid anchored at lon0=100, latMax=30). */
  private def affinePixel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tbl.events(s, d)
      .withColumn("lon", lonOf($"user_id", $"event_id"))
      .withColumn("lat", latOf($"user_id", $"event_id"))
      .select($"event_id", $"lon", $"lat",
              pixelCol($"lon", 100.0, 0.25).as("px_col"),
              pixelRow($"lat", 30.0, 0.25).as("px_row"))
      .orderBy($"event_id")
  }

  private val affinePixelSql =
    s"""SELECT event_id, lon, lat,
       |  CAST(floor((lon - 100.0) / 0.25) AS BIGINT) AS px_col,
       |  CAST(floor((30.0 - lat) / 0.25) AS BIGINT) AS px_row
       |FROM (SELECT event_id, $lonS AS lon, $latS AS lat FROM events)
       |ORDER BY event_id""".stripMargin

  /** F5: haversine distance between consecutive positions per key. */
  private def haversineQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tbl.events(s, d)
      .withColumn("lon", lonOf($"user_id", $"event_id"))
      .withColumn("lat", latOf($"user_id", $"event_id"))
      .withColumn("plon", lag($"lon", 1).over(w))
      .withColumn("plat", lag($"lat", 1).over(w))
      .where($"plon".isNotNull)
      .select($"user_id", $"event_id",
              round(haversineKm($"plon", $"plat", $"lon", $"lat"), 3).as("dist_km"))
      .orderBy($"user_id", $"event_id")
  }

  private val haversineSql = {
    val dLat = s"(${radS("(lat - plat)")} / 2.0)"
    val dLon = s"(${radS("(lon - plon)")} / 2.0)"
    val a = s"(sin($dLat) * sin($dLat) + cos(${radS("plat")}) * cos(${radS("lat")}) * sin($dLon) * sin($dLon))"
    s"""SELECT user_id, event_id,
       |  round(12742.0 * asin(sqrt($a)), 3) AS dist_km
       |FROM (SELECT user_id, event_id, lon, lat,
       |        lag(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plon,
       |        lag(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plat
       |      FROM (SELECT user_id, event_id, ts, $lonS AS lon, $latS AS lat FROM events))
       |WHERE plon IS NOT NULL ORDER BY user_id, event_id""".stripMargin
  }

  /** F6: path angle of the segment into each position (README.md:48). */
  private def pathAngle(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tbl.events(s, d)
      .withColumn("lon", lonOf($"user_id", $"event_id"))
      .withColumn("lat", latOf($"user_id", $"event_id"))
      .withColumn("plon", lag($"lon", 1).over(w))
      .withColumn("plat", lag($"lat", 1).over(w))
      .where($"plon".isNotNull)
      .select($"user_id", $"event_id",
              round(pathAngleDeg($"lon" - $"plon", $"lat" - $"plat"), 6).as("angle_deg"))
      .orderBy($"user_id", $"event_id")
  }

  private val pathAngleSql =
    s"""SELECT user_id, event_id,
       |  round(${degS("atan2(lat - plat, lon - plon)")}, 6) AS angle_deg
       |FROM (SELECT user_id, event_id, lon, lat,
       |        lag(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plon,
       |        lag(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plat
       |      FROM (SELECT user_id, event_id, ts, $lonS AS lon, $latS AS lat FROM events))
       |WHERE plon IS NOT NULL ORDER BY user_id, event_id""".stripMargin

  /** W1: conjunctive geo bounding-box filter (`preprocess.py:54`) — the
    * South China Sea box, on the synthetic grid. */
  private def bboxFilter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tbl.events(s, d)
      .withColumn("lon", lonOf($"user_id", $"event_id"))
      .withColumn("lat", latOf($"user_id", $"event_id"))
      .where($"lat" > 7.0 && $"lat" < 23.0 && $"lon" > 105.0 && $"lon" < 123.0)
      .select($"event_id", $"user_id", $"lon", $"lat")
      .orderBy($"event_id")
  }

  private val bboxFilterSql =
    s"""SELECT event_id, user_id, lon, lat
       |FROM (SELECT event_id, user_id, $lonS AS lon, $latS AS lat FROM events)
       |WHERE lat > 7.0 AND lat < 23.0 AND lon > 105.0 AND lon < 123.0
       |ORDER BY event_id""".stripMargin

  /** W5: SOG outlier repair (README.md:50) — a sudden speed jump is
    * replaced by the previous reading per key. */
  private def sogRepair(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tbl.events(s, d)
      .withColumn("prev", lag($"value", 1).over(w))
      .select($"user_id", $"event_id", $"value",
              when($"prev".isNotNull && $"value" > $"prev" * 3.0 + 10.0, $"prev")
                .otherwise($"value").as("repaired"))
      .orderBy($"user_id", $"event_id")
  }

  private val sogRepairSql =
    """SELECT user_id, event_id, value,
      |  CASE WHEN prev IS NOT NULL AND value > prev * 3.0 + 10.0
      |       THEN prev ELSE value END AS repaired
      |FROM (SELECT user_id, event_id, value,
      |        lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |      FROM events) ORDER BY user_id, event_id""".stripMargin

  /** P1: binary↔string cast round-trip (`preprocess.py:42`). */
  private def castRoundtrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tbl.events(s, d)
      .select($"event_id",
              decode(encode($"props", "UTF-8"), "UTF-8").as("rt"),
              length(encode($"props", "UTF-8")).as("nbytes"))
      .orderBy($"event_id")
  }

  private val castRoundtripSql =
    """SELECT event_id, decode(encode(props)) AS rt,
      |  octet_length(encode(props)) AS nbytes
      |FROM events ORDER BY event_id""".stripMargin

  /** P2: from_json against a declared schema + get_json_object
    * (`preprocess.py:43`, `predict_path.py:36`). */
  private def jsonExtract(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tbl.events(s, d)
      .select($"event_id",
              from_json($"props", org.apache.spark.sql.types.StructType.fromDDL("k INT"))
                .getField("k").as("k"),
              get_json_object($"props", "$.k").as("k_str"))
      .orderBy($"event_id")
  }

  private val jsonExtractSql =
    """SELECT event_id,
      |  CAST(json_extract_string(props, '$.k') AS INT) AS k,
      |  json_extract_string(props, '$.k') AS k_str
      |FROM events ORDER BY event_id""".stripMargin

  /** P7+P2+P3: to_json(struct(*)) envelope → from_json(schema) →
    * nested-field projection — the reference's Kafka value round trip
    * (`preprocess.py:43-44,68`). */
  private def jsonEnvelope(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tbl.events(s, d)
      .withColumn("envelope",
        to_json(struct($"event_id", $"event_type", $"user_id")))
      .withColumn("message",
        from_json($"envelope", org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, event_type STRING, user_id BIGINT")))
      .select($"message.event_id".as("event_id"), $"envelope",
              $"message.event_type".as("event_type"),
              $"message.user_id".as("user_id"))
      .orderBy($"event_id")
  }

  private val jsonEnvelopeSql =
    """SELECT event_id,
      |  to_json(struct_pack(event_id := event_id, event_type := event_type,
      |                      user_id := user_id)) AS envelope,
      |  event_type, user_id
      |FROM events ORDER BY event_id""".stripMargin

  /** P12 (P2's schema-on-read twin): VARIANT ingestion — the Spark 4
    * path for feeds whose schema drifts, where the reference's
    * fixed-schema `from_json` (`preprocess.py:43-44`) would silently
    * null new fields. The envelope round-trips through
    * `parse_json` → typed `variant_get` paths: a nested struct path
    * (`$.u.v_c`), a JSON-string-in-JSON double parse (`$.props` is
    * itself a JSON document, re-parsed and drilled to `$.k`), and a
    * missing path pinned to NULL (counted — a non-null would shift
    * `n_miss` and fail the hash). The oracle never builds JSON at all:
    * it aggregates the SOURCE columns, so the hash match proves the
    * whole build→parse→extract chain lossless. Scale: one scan,
    * per-row expression work, |types|-row exchange. */
  private def variantExtract(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // fanOut: the whole serialize->parse_json->variant_get span is
    // per-row heavy and sits above a single-split scan locally (see
    // Tbl.fanOut - identity wherever the scan already parallelizes)
    Tbl.fanOut(Tbl.events(s, d))
      .withColumn("env",
        to_json(struct($"event_id", $"event_type",
          struct($"user_id", Tbl.cents($"value").as("v_c")).as("u"),
          $"props")))
      .withColumn("vr", expr("parse_json(env)"))
      .select(
        expr("variant_get(vr, '$.event_type', 'string')").as("event_type"),
        expr("variant_get(vr, '$.u.v_c', 'bigint')").as("v_c"),
        expr("variant_get(parse_json(variant_get(vr, '$.props', 'string'))" +
             ", '$.k', 'int')").as("k"),
        expr("variant_get(vr, '$.not_there', 'bigint')").as("miss"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"v_c").as("sum_v_c"),
           sum($"k").as("sum_k"), count($"miss").as("n_miss"))
      .orderBy($"event_type")
  }

  private val variantExtractSql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
      |    AS sum_k,
      |  CAST(0 AS BIGINT) AS n_miss
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** P13 (the XML sibling of P2/P12): schema-on-read XML ingestion —
    * Spark 4's built-in `to_xml`/`from_xml` pair, the envelope shape of
    * B2B/AIS feeds that arrive as XML rather than JSON. The round trip
    * exercises the XML-only surfaces JSON cannot: an ATTRIBUTE
    * (`_src`, written with the default `_` attribute prefix), a nested
    * ELEMENT struct (`u/v_c`), entity escaping (the `props` JSON
    * document rides as element text, so its quotes/braces round-trip
    * through XML escaping before being re-parsed as JSON and drilled
    * to `$.k`), and a missing element pinned to NULL (`n_miss` counts
    * it — any non-null shifts the hash). The oracle never builds XML:
    * it aggregates the SOURCE columns, so the hash match proves the
    * whole build→parse→extract chain lossless, escaping included.
    * Scale: one scan, per-row expression work, |types|-row exchange. */
  private def xmlExtract(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val xsd = org.apache.spark.sql.types.StructType.fromDDL(
      "_src STRING, event_type STRING, " +
      "u STRUCT<user_id: BIGINT, v_c: BIGINT>, " +
      "props STRING, not_there BIGINT")
    // fanOut: to_xml + from_xml (StAX parse per row) is the heaviest
    // per-row span in the registry and sits above a single-split scan
    // locally (see Tbl.fanOut - identity at real scan parallelism)
    Tbl.fanOut(Tbl.events(s, d))
      .withColumn("env", to_xml(struct(
        lit("ais").as("_src"),
        $"event_type",
        struct($"user_id", Tbl.cents($"value").as("v_c")).as("u"),
        $"props")))
      .select(from_xml($"env", xsd).as("x"))
      .select($"x.event_type".as("event_type"), $"x.u.v_c".as("v_c"),
              get_json_object($"x.props", "$.k").cast("int").as("k"),
              $"x._src".as("src"), $"x.not_there".as("miss"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"v_c").as("sum_v_c"),
           sum($"k").as("sum_k"),
           count(when($"src" === "ais", 1)).as("n_src"),
           count($"miss").as("n_miss"))
      .orderBy($"event_type")
  }

  private val xmlExtractSql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_v_c,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
      |    AS sum_k,
      |  CAST(count(*) AS BIGINT) AS n_src,
      |  CAST(0 AS BIGINT) AS n_miss
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** P8: timestamp format + parse round trip with the reference's
    * quoted-Z pattern (`preprocess.py:64-65`). */
  private def timestampParse(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tbl.events(s, d)
      .withColumn("ts_str", date_format($"ts", "yyyy-MM-dd HH:mm:ss'Z'"))
      .select($"event_id", $"ts_str",
              unix_micros(to_timestamp($"ts_str", "yyyy-MM-dd HH:mm:ss'Z'"))
                .as("parsed_us"))
      .orderBy($"event_id")
  }

  private val timestampParseSql =
    """SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%SZ') AS ts_str,
      |  epoch_us(strptime(strftime(ts, '%Y-%m-%d %H:%M:%SZ'),
      |                    '%Y-%m-%d %H:%M:%SZ')) AS parsed_us
      |FROM events ORDER BY event_id""".stripMargin

  /** P10: Avro BINARY envelope — the schema'd wire format beside P2/P7's
    * JSON (see [[org.apache.spark.sql.graft.AvroEnvelope]]). Encode each
    * event into the fixed Avro record, decode it back, and emit the
    * decoded fields PLUS the serialized byte length. The roundtrip pins
    * decode∘encode = id; the length column is recomputed by the oracle
    * from the Avro spec's own arithmetic (zigzag varint widths +
    * varint-length string + 8-byte double) — a cross-engine check of
    * the wire encoding itself. Both expressions are codegen'd scalar
    * calls: per-row byte twiddling, no shuffle beyond the output sort. */
  private def avroEnvelopeRt(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.graft.AvroEnvelope.{avroEnvelope, fromAvroEnvelope}
    Tbl.events(s, d)
      .select(avroEnvelope($"event_id", unix_micros($"ts"), $"user_id",
                           $"event_type", $"value").as("env"))
      .select(fromAvroEnvelope($"env").as("e"),
              length($"env").cast("long").as("env_bytes"))
      .select($"e.event_id".as("event_id"), $"e.ts_us".as("ts_us"),
              $"e.user_id".as("user_id"), $"e.event_type".as("event_type"),
              $"e.value".as("value"), $"env_bytes")
      .orderBy($"event_id")
  }

  /** Avro zigzag-varint byte width of non-negative 2n (field values here
    * are non-negative, so zigzag(n) = 2n and the arithmetic stays in
    * BIGINT range). */
  private def vlenS(z: String) =
    s"(CASE WHEN $z < 128 THEN 1 WHEN $z < 16384 THEN 2" +
    s" WHEN $z < 2097152 THEN 3 WHEN $z < 268435456 THEN 4" +
    s" WHEN $z < 34359738368 THEN 5 WHEN $z < 4398046511104 THEN 6" +
    s" WHEN $z < 562949953421312 THEN 7" +
    s" WHEN $z < 72057594037927936 THEN 8 ELSE 9 END)"

  private val avroEnvelopeSql =
    s"""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value,
       |  CAST(${vlenS("2*event_id")} + ${vlenS("2*epoch_us(ts)")}
       |     + ${vlenS("2*user_id")} + ${vlenS("2*strlen(event_type)")}
       |     + strlen(event_type) + 8 AS BIGINT) AS env_bytes
       |FROM events ORDER BY event_id""".stripMargin

  /** P11: Protocol-Buffers wire envelope — [[p10's|avroEnvelopeRt]]
    * twin on the OTHER binary format (see
    * [[org.apache.spark.sql.graft.ProtoEnvelope]]: hand-implemented
    * wire spec, tags + zigzag varints + len-delimited string + fixed64).
    * Same oracle strategy: roundtrip pins decode∘encode = id, and the
    * byte length is recomputed by DuckDB from the wire spec — 1-byte
    * tags (fields ≤ 15) + zigzag varint widths + plain-varint string
    * length + 8-byte fixed64. */
  private def protoEnvelopeRt(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.graft.ProtoEnvelope.{protoEnvelope, fromProtoEnvelope}
    Tbl.events(s, d)
      .select(protoEnvelope($"event_id", unix_micros($"ts"), $"user_id",
                            $"event_type", $"value").as("env"))
      .select(fromProtoEnvelope($"env").as("e"),
              length($"env").cast("long").as("env_bytes"))
      .select($"e.event_id".as("event_id"), $"e.ts_us".as("ts_us"),
              $"e.user_id".as("user_id"), $"e.event_type".as("event_type"),
              $"e.value".as("value"), $"env_bytes")
      .orderBy($"event_id")
  }

  private val protoEnvelopeSql =
    s"""SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value,
       |  CAST(3 + ${vlenS("2*event_id")} + ${vlenS("2*epoch_us(ts)")}
       |     + ${vlenS("2*user_id")} + 1 + ${vlenS("strlen(event_type)")}
       |     + strlen(event_type) + 1 + 8 AS BIGINT) AS env_bytes
       |FROM events ORDER BY event_id""".stripMargin

  /** T7: dead-reckoning projection 60 s ahead from speed + course.
    *
    * Determinism: `round(·,6)` straight over libm trig amplified by
    * `/(111320·cos lat)` lands on rounding boundaries the JVM and DuckDB
    * resolve to different last digits (round-1 hash FAIL). Fix: round the
    * three trig outputs to 7 decimals FIRST — a 1-ulp libm drift against a
    * 1e-7 boundary is a ~1e-9 event — after which every remaining op is
    * IEEE +,*,/ on bit-identical doubles in both engines, and the result
    * is emitted as floored integer micro-degrees (no float in the hash). */
  private def deadReckon(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cog = ($"event_id" % 360).cast("double")
    Tbl.events(s, d)
      .withColumn("lon", lonOf($"user_id", $"event_id"))
      .withColumn("lat", latOf($"user_id", $"event_id"))
      .withColumn("dist_m", $"value" * 1852.0 / 3600.0 * 60.0)
      .withColumn("sin_c", round(sin(rad(cog)), 7))
      .withColumn("cos_c", round(cos(rad(cog)), 7))
      .withColumn("cos_lat", round(cos(rad($"lat")), 7))
      .select($"event_id", $"value".as("sog_kn"),
              floor(($"lon" + $"dist_m" * $"sin_c" / (lit(111320.0) * $"cos_lat"))
                      * 1000000.0).cast("long").as("pred_lon_udeg"),
              floor(($"lat" + $"dist_m" * $"cos_c" / 111320.0) * 1000000.0)
                .cast("long").as("pred_lat_udeg"))
      .orderBy($"event_id")
  }

  private val deadReckonSql = {
    val cog = "(event_id % 360)"
    s"""SELECT event_id, value AS sog_kn,
       |  CAST(floor((lon + dist_m * sin_c / (111320.0 * cos_lat)) * 1000000.0) AS BIGINT) AS pred_lon_udeg,
       |  CAST(floor((lat + dist_m * cos_c / 111320.0) * 1000000.0) AS BIGINT) AS pred_lat_udeg
       |FROM (SELECT event_id, value, lon, lat,
       |        (value * 1852.0 / 3600.0 * 60.0) AS dist_m,
       |        round(sin(${radS(cog)}), 7) AS sin_c,
       |        round(cos(${radS(cog)}), 7) AS cos_c,
       |        round(cos(${radS("lat")}), 7) AS cos_lat
       |      FROM (SELECT event_id, value, $lonS AS lon, $latS AS lat FROM events))
       |ORDER BY event_id""".stripMargin
  }

  /** F9: geofence classification — point-in-polygon over a concave
    * "crown" pentagon in integer centi-degrees. Every point of the
    * synthetic grid is classified per row (hash-exact per-row oracle,
    * same convention as f2/f5), and the plan is map-only up to the
    * output sort: the constant polygon unrolls into one codegen'd
    * integer expression, so no exchange exists before `orderBy`.
    * The crown is concave (notch between the two peaks), so the ray
    * cast exercises crossing counts of 0, 1 AND 2 — a convex fixture
    * would never produce parity via an even crossing count. */
  private[graft] val CrownPoly =
    Seq((200, 150), (950, 2600), (1500, 1400), (2050, 2600), (2800, 150))

  private def pointInPoly(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val px = (($"user_id" % 30) * 100 + ($"event_id" % 100)).cast("long")
    val py = (($"event_id" % 30) * 100 + ($"user_id" % 100)).cast("long")
    Tbl.events(s, d)
      .select($"event_id",
              px.as("px_cdeg"), py.as("py_cdeg"),
              pointInPolygon(px, py, CrownPoly).as("inside"))
      .orderBy($"event_id")
  }

  /** SQL twin of `GeoFunctions.pointInPolygon` — generated from the SAME
    * vertex sequence, so the per-edge arithmetic is literal-for-literal
    * identical; all ops are int64 (no float in the hash). */
  private val pointInPolySql = {
    val (px, py) = ("px_cdeg", "py_cdeg")
    val terms = CrownPoly.indices.flatMap { i =>
      val (x1, y1) = CrownPoly(i)
      val (x2, y2) = CrownPoly((i + 1) % CrownPoly.size)
      // horizontal edges dropped, mirroring pointInPolygon's skip
      if (y1 == y2) None else Some(
        s"(CASE WHEN (($y1 > $py) != ($y2 > $py)) AND " +
          s"(((${x2 - x1} * ($py - $y1) - ($px - $x1) * ${y2 - y1}) > 0) = (${y2 - y1} > 0)) " +
          "THEN 1 ELSE 0 END)")
    }.mkString("(", " + ", ") % 2")
    s"""SELECT event_id, $px, $py, CAST($terms AS BIGINT) AS inside
       |FROM (SELECT event_id,
       |        (user_id % 30) * 100 + (event_id % 100) AS $px,
       |        (event_id % 30) * 100 + (user_id % 100) AS $py
       |      FROM events)
       |ORDER BY event_id""".stripMargin
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "f1_wkt_parse"       -> (wktParse _),
    "f2_ecef"            -> (ecef _),
    "f3_rot_decode"      -> (rotDecodeQ _),
    "f4_affine_pixel"    -> (affinePixel _),
    "f5_haversine"       -> (haversineQ _),
    "f6_path_angle"      -> (pathAngle _),
    "f9_point_in_polygon" -> (pointInPoly _),
    "w1_bbox_filter"     -> (bboxFilter _),
    "w5_sog_repair"      -> (sogRepair _),
    "p1_cast_roundtrip"  -> (castRoundtrip _),
    "p2_json_extract"    -> (jsonExtract _),
    "p7_json_envelope"   -> (jsonEnvelope _),
    "p8_timestamp_parse" -> (timestampParse _),
    "p10_avro_envelope"  -> (avroEnvelopeRt _),
    "p11_proto_envelope" -> (protoEnvelopeRt _),
    "p12_variant_extract" -> (variantExtract _),
    "p13_xml_extract" -> (xmlExtract _),
    "t7_dead_reckoning"  -> (deadReckon _))

  override val oracles: Map[String, String] = Map(
    "f1_wkt_parse"       -> wktParseSql,
    "f2_ecef"            -> ecefSql,
    "f3_rot_decode"      -> rotDecodeSql,
    "f4_affine_pixel"    -> affinePixelSql,
    "f5_haversine"       -> haversineSql,
    "f6_path_angle"      -> pathAngleSql,
    "f9_point_in_polygon" -> pointInPolySql,
    "w1_bbox_filter"     -> bboxFilterSql,
    "w5_sog_repair"      -> sogRepairSql,
    "p1_cast_roundtrip"  -> castRoundtripSql,
    "p2_json_extract"    -> jsonExtractSql,
    "p7_json_envelope"   -> jsonEnvelopeSql,
    "p8_timestamp_parse" -> timestampParseSql,
    "p10_avro_envelope"  -> avroEnvelopeSql,
    "p11_proto_envelope" -> protoEnvelopeSql,
    "p12_variant_extract" -> variantExtractSql,
    "p13_xml_extract" -> xmlExtractSql,
    "t7_dead_reckoning"  -> deadReckonSql)
}
