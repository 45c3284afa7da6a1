package org.apache.spark.sql.graft

import java.io.ByteArrayOutputStream

import org.apache.avro.io.{BinaryDecoder, BinaryEncoder, DecoderFactory, EncoderFactory}
import org.apache.avro.util.Utf8

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, BinaryType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Avro BINARY wire codec for the fixed event envelope — the other wire
  * format a Kafka-shaped pipeline meets beside JSON (`from_json` is
  * P2/P7; the reference's transport, `preprocess.py:31`, frames JSON
  * text — this is the schema'd binary sibling a production feed
  * migrates to). No spark-avro connector ships in this runtime, so the
  * codec drives Apache Avro core (`avro-1.12.1`, already a Spark
  * runtime jar) directly through its `BinaryEncoder`/`BinaryDecoder`:
  * the envelope is a fixed record
  *
  *   {event_id: long, ts_us: long, user_id: long,
  *    event_type: string, value: double}
  *
  * and Avro binary is the concatenation of the fields' codecs (zigzag
  * varint longs, varint-length + UTF-8 strings, 8-byte little-endian
  * IEEE doubles) — no per-row schema resolution, no GenericRecord
  * allocation. Encoder/decoder objects are thread-local and reused
  * per row (the factory reuse contract), so the per-row cost is the
  * byte twiddling alone.
  *
  * Codegen: both expressions stay inside whole-stage codegen via a
  * static-call `doGenCode` (the generated loop calls
  * `AvroEnvelope.encode/decode` directly — same shape as the float
  * kernels, no UDF boundary, no interpreted fallback).
  *
  * Oracle strategy (`p10_avro_envelope`): the roundtrip pins
  * decode∘encode = id per field, and the serialized LENGTH is
  * recomputed by the DuckDB oracle from the Avro spec's arithmetic
  * (zigzag varint widths + string length + 8) — a cross-engine check
  * of the wire format itself, not just self-consistency. A spec
  * additionally pins hand-computed golden bytes.
  */
object AvroEnvelope {

  /** Decoded-envelope schema (field order = wire order). */
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts_us", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  private final class Codec {
    val out = new ByteArrayOutputStream(64)
    var enc: BinaryEncoder = _
    var dec: BinaryDecoder = _
    val utf8 = new Utf8
  }

  private val codecs = ThreadLocal.withInitial[Codec](() => new Codec)

  /** Envelope → Avro binary (schema field order). */
  def encode(eventId: Long, tsUs: Long, userId: Long,
             eventType: UTF8String, value: Double): Array[Byte] = {
    val c = codecs.get()
    c.out.reset()
    c.enc = EncoderFactory.get().binaryEncoder(c.out, c.enc)
    c.enc.writeLong(eventId)
    c.enc.writeLong(tsUs)
    c.enc.writeLong(userId)
    c.enc.writeString(new Utf8(eventType.getBytes))
    c.enc.writeDouble(value)
    c.enc.flush()
    c.out.toByteArray
  }

  /** Avro binary → envelope row; throws on malformed input (a corrupt
    * frame is a data error, not a null). */
  def decode(bytes: Array[Byte]): InternalRow = {
    val c = codecs.get()
    c.dec = DecoderFactory.get().binaryDecoder(bytes, c.dec)
    val eventId = c.dec.readLong()
    val tsUs = c.dec.readLong()
    val userId = c.dec.readLong()
    val s = c.dec.readString(c.utf8)
    val eventType = UTF8String.fromBytes(
      java.util.Arrays.copyOf(s.getBytes, s.getByteLength))
    val value = c.dec.readDouble()
    InternalRow(eventId, tsUs, userId, eventType, value)
  }

  val encodeName = "avro_envelope"
  val decodeName = "from_avro_envelope"

  def avroEnvelope(eventId: Column, tsUs: Column, userId: Column,
                   eventType: Column, value: Column): Column =
    ExpressionUtils.column(AvroEncodeEnvelope(Seq(
      eventId, tsUs, userId, eventType, value).map(ExpressionUtils.expression)))

  def fromAvroEnvelope(bin: Column): Column =
    ExpressionUtils.column(AvroDecodeEnvelope(ExpressionUtils.expression(bin)))
}

/** (long, long, long, string, double) → Avro-binary envelope. */
case class AvroEncodeEnvelope(children: Seq[Expression])
    extends Expression with ExpectsInputTypes {
  require(children.length == 5, s"avro_envelope takes 5 args, got ${children.length}")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(LongType, LongType, LongType, StringType, DoubleType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = AvroEnvelope.encodeName

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else AvroEnvelope.encode(
      vs(0).asInstanceOf[Long], vs(1).asInstanceOf[Long],
      vs(2).asInstanceOf[Long], vs(3).asInstanceOf[UTF8String],
      vs(4).asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val anyNull = gens.map(_.isNull).mkString(" || ")
    val args = gens.map(_.value).mkString(", ")
    val code =
      s"""
         |${gens.map(_.code.toString).mkString("\n")}
         |boolean ${ev.isNull} = $anyNull;
         |byte[] ${ev.value} = null;
         |if (!${ev.isNull}) {
         |  ${ev.value} = org.apache.spark.sql.graft.AvroEnvelope.encode($args);
         |}
       """.stripMargin
    ev.copy(code = org.apache.spark.sql.catalyst.expressions.codegen
      .CodeBlock(Seq(code), Seq.empty))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): AvroEncodeEnvelope =
    copy(children = newChildren)
}

/** Avro-binary envelope → decoded struct (schema = wire order). */
case class AvroDecodeEnvelope(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = AvroEnvelope.schema
  override def prettyName: String = AvroEnvelope.decodeName

  override def nullSafeEval(bytes: Any): Any =
    AvroEnvelope.decode(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"${ev.value} = org.apache.spark.sql.graft.AvroEnvelope.decode($b);")

  override protected def withNewChildInternal(
      newChild: Expression): AvroDecodeEnvelope = copy(child = newChild)
}
