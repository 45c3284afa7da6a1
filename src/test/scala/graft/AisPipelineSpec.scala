package graft

import graft.streaming.AisPipeline

/** The flagship preprocess pipeline (§3.1) on hand-built AIS JSON:
  * schema contract, filter semantics, derived kinematics, malformed-JSON
  * null behavior (from_json PERMISSIVE default — SURVEY.md §1.2). */
class AisPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def envelope(json: String*) = json.toDF("value")

  private val good =
    """{"timestamp_utc":"2021-04-05 00:00:00Z","mmsi":563052900,
      |"position":"POINT (113.5 15.0)","speed_over_ground":10.2,
      |"course_over_ground":77.0,"rate_of_turn":4.733,
      |"message_type":1}""".stripMargin.replace("\n", "")

  test("happy path: one message in, full feature row out") {
    val out = AisPipeline.preprocess(envelope(good)).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Int]("mmsi") == 563052900)
    assert(r.getAs[Double]("longitude") == 113.5)
    assert(r.getAs[Double]("latitude") == 15.0)
    assert(math.abs(r.getAs[Double]("cartesian_x") - -2457214.9214875605) < 1e-6)
    assert(math.abs(r.getAs[Double]("cartesian_y") - 5651207.424140891) < 1e-6)
    assert(math.abs(r.getAs[Double]("rate_of_turn") - 1.0) < 1e-12)
    assert(r.getAs[java.sql.Timestamp]("timestamp_utc").toInstant.toString
      == "2021-04-05T00:00:00Z")
  }

  test("bbox filter drops out-of-region positions (W1)") {
    val outside = good.replace("POINT (113.5 15.0)", "POINT (3.5 55.0)")
    assert(AisPipeline.preprocess(envelope(outside)).count() == 0)
  }

  test("message_type filter keeps only {1,2,3,18,27} (W4)") {
    val t5 = good.replace("\"message_type\":1", "\"message_type\":5")
    val t18 = good.replace("\"message_type\":1", "\"message_type\":18")
    assert(AisPipeline.preprocess(envelope(t5)).count() == 0)
    assert(AisPipeline.preprocess(envelope(t18)).count() == 1)
  }

  test("malformed JSON yields null struct and is filtered, not an error") {
    val out = AisPipeline.preprocess(envelope("{not json", good))
    assert(out.count() == 1) // the broken row nulls out and fails the filters
  }

  test("timestamp pattern requires the quoted Z (P8)") {
    val noZ = good.replace("2021-04-05 00:00:00Z", "2021-04-05 00:00:00")
    // spark.sql.ansi off per session default? ANSI on in Spark 4 would
    // throw; the pipeline must keep parsing lenient for the oracle,
    // so a pattern miss surfaces as null timestamp, row retained
    val rows = AisPipeline.preprocess(envelope(noZ)).collect()
    assert(rows.length == 1 && rows.head.isNullAt(rows.head.fieldIndex("timestamp_utc")))
  }

  test("json envelope round trip (P7)") {
    val feats = AisPipeline.preprocess(envelope(good))
    val env = feats.select(AisPipeline.toJsonEnvelope(feats))
    val s = env.collect().head.getString(0)
    assert(s.contains("\"mmsi\":563052900"))
  }

  test("kinematic aggs: deterministic last via max_by (A1)") {
    val m1 = good
    val m2 = good
      .replace("2021-04-05 00:00:00Z", "2021-04-05 00:00:30Z")
      .replace("113.5 15.0", "113.6 15.1")
      .replace("\"speed_over_ground\":10.2", "\"speed_over_ground\":20.2")
    val agg = AisPipeline.kinematicAggs(AisPipeline.preprocess(envelope(m1, m2)))
      .orderBy($"window.start", $"mmsi").collect()
    // both rows land in 2 sliding windows; each window's "last" lon must
    // be the later message's 113.6
    assert(agg.nonEmpty)
    agg.foreach { r =>
      assert(r.getAs[Double]("longitude") == 113.6)
      assert(math.abs(r.getAs[Double]("moving_avg_sog") - 15.2) < 1e-9)
    }
  }
}
