package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeBlock, ExprCode}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, BinaryType, DataType, DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Protocol-Buffers wire codec for the fixed event envelope — the
  * second schema'd binary format beside [[AvroEnvelope]] (the two wire
  * formats a Kafka-shaped pipeline actually meets). No protobuf-java
  * jar ships in this runtime, so the codec implements the proto wire
  * format (a short public spec) directly:
  *
  *   message Envelope {
  *     sint64 event_id   = 1;   // tag 0x08, zigzag varint
  *     sint64 ts_us      = 2;   // tag 0x10, zigzag varint
  *     sint64 user_id    = 3;   // tag 0x18, zigzag varint
  *     string event_type = 4;   // tag 0x22, varint length + UTF-8
  *     double value      = 5;   // tag 0x29, fixed64 little-endian
  *   }
  *
  * Every field is emitted unconditionally (a valid proto encoding —
  * encoders MAY serialize defaults; proto3's skip-default canonical
  * form would make the oracle's length arithmetic conditional for no
  * gain), in field order, so the byte stream is a pure function of the
  * values and the DuckDB oracle can recompute its exact length:
  * 3 × (1 + varint_len(zigzag)) + (1 + varint_len(strlen) + strlen)
  * + (1 + 8). Decode is strict sequential with tag validation — a
  * corrupt frame throws, it does not null.
  *
  * Codegen: static-call `doGenCode` like the float kernels — both
  * expressions stay inside whole-stage codegen.
  */
object ProtoEnvelope {

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts_us", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  @inline private def zigzag(n: Long): Long = (n << 1) ^ (n >> 63)
  @inline private def unzigzag(z: Long): Long = (z >>> 1) ^ -(z & 1L)

  @inline private def varintLen(v: Long): Int = {
    var z = v; var n = 1
    while ((z & ~0x7FL) != 0L) { z >>>= 7; n += 1 }
    n
  }

  /** Exact serialized size — lets encode fill a right-sized array with
    * no intermediate buffer. */
  private def sizeOf(eventId: Long, tsUs: Long, userId: Long,
                     typeBytes: Int): Int =
    1 + varintLen(zigzag(eventId)) + 1 + varintLen(zigzag(tsUs)) +
    1 + varintLen(zigzag(userId)) + 1 + varintLen(typeBytes.toLong) +
    typeBytes + 1 + 8

  private def putVarint(buf: Array[Byte], at: Int, v: Long): Int = {
    var z = v; var i = at
    while ((z & ~0x7FL) != 0L) {
      buf(i) = ((z & 0x7F) | 0x80).toByte; z >>>= 7; i += 1
    }
    buf(i) = z.toByte
    i + 1
  }

  def encode(eventId: Long, tsUs: Long, userId: Long,
             eventType: UTF8String, value: Double): Array[Byte] = {
    val tb = eventType.getBytes
    val buf = new Array[Byte](sizeOf(eventId, tsUs, userId, tb.length))
    var i = 0
    buf(i) = 0x08; i = putVarint(buf, i + 1, zigzag(eventId))
    buf(i) = 0x10; i = putVarint(buf, i + 1, zigzag(tsUs))
    buf(i) = 0x18; i = putVarint(buf, i + 1, zigzag(userId))
    buf(i) = 0x22; i = putVarint(buf, i + 1, tb.length.toLong)
    System.arraycopy(tb, 0, buf, i, tb.length); i += tb.length
    buf(i) = 0x29; i += 1
    val bits = java.lang.Double.doubleToLongBits(value)
    var k = 0
    while (k < 8) { buf(i + k) = ((bits >>> (8 * k)) & 0xFF).toByte; k += 1 }
    buf
  }

  private def readVarint(buf: Array[Byte], at: Int): (Long, Int) = {
    var v = 0L; var shift = 0; var i = at
    while ({
      val b = buf(i); i += 1
      v |= (b & 0x7FL) << shift; shift += 7
      (b & 0x80) != 0
    }) ()
    (v, i)
  }

  @inline private def expectTag(buf: Array[Byte], at: Int, tag: Int): Int = {
    if (buf(at) != tag.toByte)
      throw new IllegalArgumentException(
        f"proto envelope: expected tag 0x$tag%02x at $at, got 0x${buf(at)}%02x")
    at + 1
  }

  def decode(bytes: Array[Byte]): InternalRow = {
    var i = expectTag(bytes, 0, 0x08)
    val (z1, i1) = readVarint(bytes, i)
    i = expectTag(bytes, i1, 0x10)
    val (z2, i2) = readVarint(bytes, i)
    i = expectTag(bytes, i2, 0x18)
    val (z3, i3) = readVarint(bytes, i)
    i = expectTag(bytes, i3, 0x22)
    val (slen, i4) = readVarint(bytes, i)
    val s = UTF8String.fromBytes(bytes, i4, slen.toInt)
    i = expectTag(bytes, i4 + slen.toInt, 0x29)
    var bits = 0L
    var k = 0
    while (k < 8) { bits |= (bytes(i + k) & 0xFFL) << (8 * k); k += 1 }
    InternalRow(unzigzag(z1), unzigzag(z2), unzigzag(z3), s,
                java.lang.Double.longBitsToDouble(bits))
  }

  val encodeName = "proto_envelope"
  val decodeName = "from_proto_envelope"

  def protoEnvelope(eventId: Column, tsUs: Column, userId: Column,
                    eventType: Column, value: Column): Column =
    ExpressionUtils.column(ProtoEncodeEnvelope(Seq(
      eventId, tsUs, userId, eventType, value).map(ExpressionUtils.expression)))

  def fromProtoEnvelope(bin: Column): Column =
    ExpressionUtils.column(ProtoDecodeEnvelope(ExpressionUtils.expression(bin)))
}

/** (long, long, long, string, double) → proto-wire envelope. */
case class ProtoEncodeEnvelope(children: Seq[Expression])
    extends Expression with ExpectsInputTypes {
  require(children.length == 5, s"proto_envelope takes 5 args, got ${children.length}")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(LongType, LongType, LongType, StringType, DoubleType)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = children.exists(_.nullable)
  override def prettyName: String = ProtoEnvelope.encodeName

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else ProtoEnvelope.encode(
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
         |  ${ev.value} = org.apache.spark.sql.graft.ProtoEnvelope.encode($args);
         |}
       """.stripMargin
    ev.copy(code = CodeBlock(Seq(code), Seq.empty))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ProtoEncodeEnvelope =
    copy(children = newChildren)
}

/** Proto-wire envelope → decoded struct. */
case class ProtoDecodeEnvelope(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ProtoEnvelope.schema
  override def prettyName: String = ProtoEnvelope.decodeName

  override def nullSafeEval(bytes: Any): Any =
    ProtoEnvelope.decode(bytes.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b =>
      s"${ev.value} = org.apache.spark.sql.graft.ProtoEnvelope.decode($b);")

  override protected def withNewChildInternal(
      newChild: Expression): ProtoDecodeEnvelope = copy(child = newChild)
}
