package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ProtoEnvelope
import org.apache.spark.unsafe.types.UTF8String

/** The hand-implemented proto wire codec: golden bytes straight from
  * the wire spec (1-byte tags, zigzag varints, len-delimited UTF-8,
  * fixed64 LE double), roundtrip identity across the distinguishing
  * value domain, strict tag validation on corrupt frames, and
  * cross-format independence from the Avro codec (same fields, wire
  * bytes must differ where the specs differ — tags). */
class ProtoEnvelopeSpec extends SparkSpec {
  import spark.implicits._

  test("golden bytes: encode matches the proto wire spec by hand") {
    // {event_id:1, ts_us:2, user_id:3, event_type:"a", value:1.5}
    //   0x08 zigzag(1)=0x02 | 0x10 0x04 | 0x18 0x06
    //   0x22 len=0x01 'a' | 0x29 + 1.5 little-endian
    val got = ProtoEnvelope.encode(1L, 2L, 3L, UTF8String.fromString("a"), 1.5)
    val want = Array[Byte](0x08, 0x02, 0x10, 0x04, 0x18, 0x06,
                           0x22, 0x01, 0x61,
                           0x29, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00,
                           0xF8.toByte, 0x3F)
    assert(got.toSeq == want.toSeq, s"got ${got.map("%02x".format(_)).mkString(" ")}")
  }

  test("golden bytes: zigzag odd lane and the 2-byte varint boundary") {
    // event_id -1 → zigzag 1; ts_us 64 → zigzag 128 → 0x80 0x01
    val got = ProtoEnvelope.encode(-1L, 64L, 0L, UTF8String.fromString(""), 0.0)
    assert(got.slice(0, 2).toSeq == Seq[Byte](0x08, 0x01))
    assert(got.slice(2, 5).toSeq == Seq[Byte](0x10, 0x80.toByte, 0x01))
    assert(got.slice(5, 7).toSeq == Seq[Byte](0x18, 0x00))
    assert(got.slice(7, 9).toSeq == Seq[Byte](0x22, 0x00)) // empty string
    assert(got(9) == 0x29.toByte && got.length == 10 + 8)
  }

  test("roundtrip identity over the distinguishing value domain") {
    val cases = Seq(
      (0L, 0L, 0L, "", 0.0),
      (-1L, Long.MaxValue, Long.MinValue, "héllo wörld", -123.456),
      (1234567890123L, -987654321L, 42L, "日本語テキスト", Double.NaN),
      (Long.MaxValue, Long.MinValue, -1L, "a" * 300, -0.0))
    for ((a, b, c, s, v) <- cases) {
      val row = ProtoEnvelope.decode(
        ProtoEnvelope.encode(a, b, c, UTF8String.fromString(s), v))
      assert(row.getLong(0) == a && row.getLong(1) == b && row.getLong(2) == c)
      assert(row.getUTF8String(3).toString == s)
      assert(java.lang.Double.doubleToLongBits(row.getDouble(4)) ==
             java.lang.Double.doubleToLongBits(v))
    }
  }

  test("corrupt frame throws: a swapped tag is a data error, not a null") {
    val ok = ProtoEnvelope.encode(1L, 2L, 3L, UTF8String.fromString("x"), 0.5)
    val bad = ok.clone(); bad(0) = 0x10 // field-2 tag where field-1 must sit
    intercept[IllegalArgumentException](ProtoEnvelope.decode(bad))
  }

  test("proto and avro disagree on the wire, agree on the fields") {
    // same envelope through both codecs: proto carries tags (5 extra
    // bytes) so the streams must differ, while both decode to the row
    import org.apache.spark.sql.graft.AvroEnvelope
    val u = UTF8String.fromString("click")
    val p = ProtoEnvelope.encode(7L, 1000L, 3L, u, 2.5)
    val a = AvroEnvelope.encode(7L, 1000L, 3L, u, 2.5)
    assert(p.length == a.length + 5)
    assert(ProtoEnvelope.decode(p).getLong(0) == AvroEnvelope.decode(a).getLong(0))
  }

  test("SQL registration + codegen span through the Column API") {
    org.apache.spark.sql.graft.GraftExtensions.install(spark)
    Tbl.events(spark, "/root/testdata/sf0.001").createOrReplaceTempView("evp_tmp")
    val n = spark.sql(
      """SELECT from_proto_envelope(
        |  proto_envelope(event_id, unix_micros(ts), user_id, event_type, value)
        |).event_id AS rid FROM evp_tmp""".stripMargin)
      .where($"rid" >= 0).count()
    assert(n > 0)
    spark.catalog.dropTempView("evp_tmp")

    val df = Tbl.events(spark, "/root/testdata/sf0.001")
      .select(ProtoEnvelope.fromProtoEnvelope(ProtoEnvelope.protoEnvelope(
        $"event_id", unix_micros($"ts"), $"user_id", $"event_type", $"value"))
        .getField("event_id").as("rid"))
      .where($"rid" > 0)
    val spans = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(spans.nonEmpty, s"no codegen span:\n${df.queryExecution.executedPlan}")
  }
}
