package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.AvroEnvelope
import org.apache.spark.unsafe.types.UTF8String

/** The Avro envelope codec: golden bytes derived by hand from the Avro
  * spec (zigzag varints, varint-length UTF-8 string, little-endian
  * IEEE-754 double), roundtrip identity across the value domain the
  * wire format distinguishes (negative longs exercise zigzag, unicode
  * exercises byte-length-vs-char-length, special doubles exercise raw
  * bit transport), and codegen-vs-interpreted agreement. */
class AvroEnvelopeSpec extends SparkSpec {
  import spark.implicits._

  test("golden bytes: encode matches the Avro spec by hand") {
    // record {event_id:1, ts_us:2, user_id:3, event_type:"a", value:1.5}
    //   long 1 → zigzag 2 → varint 0x02 ; 2 → 0x04 ; 3 → 0x06
    //   string "a" → length varint 0x02 + byte 0x61
    //   double 1.5 → bits 0x3FF8000000000000 → little-endian
    val got = AvroEnvelope.encode(1L, 2L, 3L, UTF8String.fromString("a"), 1.5)
    val want = Array[Byte](0x02, 0x04, 0x06, 0x02, 0x61,
                           0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xF8.toByte, 0x3F)
    assert(got.toSeq == want.toSeq, s"got ${got.map("%02x".format(_)).mkString(" ")}")
  }

  test("golden bytes: negative long takes the zigzag odd lane; 2-byte varint at 64") {
    // event_id -1 → zigzag 1 → 0x01 ; ts_us 64 → zigzag 128 → varint 0x80 0x01
    val got = AvroEnvelope.encode(-1L, 64L, 0L, UTF8String.fromString(""), 0.0)
    assert(got(0) == 0x01.toByte)
    assert(got(1) == 0x80.toByte && got(2) == 0x01.toByte)
    assert(got(3) == 0x00.toByte) // user_id 0 → zigzag 0
    assert(got(4) == 0x00.toByte) // empty string length
    assert(got.length == 5 + 8)
  }

  test("roundtrip identity over the distinguishing value domain") {
    val cases = Seq(
      (0L, 0L, 0L, "", 0.0),
      (-1L, Long.MaxValue, Long.MinValue, "héllo wörld", -123.456),
      (1234567890123L, -987654321L, 42L, "日本語テキスト", Double.MinPositiveValue),
      (Long.MaxValue, Long.MinValue, -1L, "a" * 300, -0.0))
    for ((a, b, c, s, v) <- cases) {
      val row = AvroEnvelope.decode(
        AvroEnvelope.encode(a, b, c, UTF8String.fromString(s), v))
      assert(row.getLong(0) == a && row.getLong(1) == b && row.getLong(2) == c)
      assert(row.getUTF8String(3).toString == s)
      // bit compare: -0.0 and NaN must transport exactly
      assert(java.lang.Double.doubleToLongBits(row.getDouble(4)) ==
             java.lang.Double.doubleToLongBits(v))
    }
  }

  test("codegen and interpreted eval agree through the Column API") {
    val df = Tbl.events(spark, "/root/testdata/sf0.001")
      .select($"event_id", unix_micros($"ts").as("ts_us"), $"user_id",
              $"event_type", $"value")
    val enc = AvroEnvelope.avroEnvelope(
      $"event_id", $"ts_us", $"user_id", $"event_type", $"value")
    val rt = df.select($"event_id".as("orig"),
                       AvroEnvelope.fromAvroEnvelope(enc).as("e"))
      .where($"e.event_id" =!= $"orig")
    assert(rt.count() == 0)
    // force the interpreted path too: eval on a literal-only projection
    val one = df.limit(1).select(enc.as("env")).collect()(0).getAs[Array[Byte]](0)
    val dec = AvroEnvelope.decode(one)
    assert(dec.numFields == 5)
  }

  test("SQL registration resolves avro_envelope / from_avro_envelope") {
    org.apache.spark.sql.graft.GraftExtensions.install(spark)
    Tbl.events(spark, "/root/testdata/sf0.001").createOrReplaceTempView("ev_tmp")
    val n = spark.sql(
      """SELECT from_avro_envelope(
        |  avro_envelope(event_id, unix_micros(ts), user_id, event_type, value)
        |).event_id AS rid FROM ev_tmp""".stripMargin)
      .where($"rid" >= 0).count()
    assert(n > 0)
    spark.catalog.dropTempView("ev_tmp")
  }

  test("whole-stage codegen: the envelope roundtrip stays in one codegen stage") {
    val df = Tbl.events(spark, "/root/testdata/sf0.001")
      .select(AvroEnvelope.fromAvroEnvelope(AvroEnvelope.avroEnvelope(
        $"event_id", unix_micros($"ts"), $"user_id", $"event_type", $"value"))
        .getField("event_id").as("rid"))
      .where($"rid" > 0)
    // the `*(1)` star prefix in toString IS the codegen marker; collect
    // the exec node itself to be rendering-proof
    val spans = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(spans.nonEmpty, s"no codegen span:\n${df.queryExecution.executedPlan}")
    assert(df.count() > 0)
  }
}
