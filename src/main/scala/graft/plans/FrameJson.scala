package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The delivery-frame writer: `op|{"c":..,"m":..,"s":..,"_q":..}`
  * (`lib/util.js:188-206`) in one compiled pass with one exact-size
  * byte array per row.
  *
  * Why native: the built-in spelling `concat(op, "|",
  * to_json(struct(c, m, s, _q)))` decodes every field to a Java String,
  * drives a Jackson generator through a CharArrayWriter, re-encodes the
  * result and copies it again in `concat` — on the router's fan-out
  * path that is one JSON document per delivery, and the dominant
  * executor cost. Here the escaped length is measured on the UTF-8
  * bytes, then the frame is written straight into its final array.
  *
  * Byte contract (spec-pinned against the built-in spelling in
  * FrameJsonSpec, codegen and interpreted):
  *   - Jackson's string escapes: `\"`, `\\`, `\b \t \n \f \r`, and
  *     `\u00XX` (uppercase hex) for the other control characters; DEL,
  *     '/' and non-ASCII are written as they are;
  *   - a field that is not well-formed UTF-8 is re-encoded the way
  *     `UTF8String.toString` decodes it (malformed bytes become
  *     U+FFFD), as the Jackson path sees it; `op` is copied raw, as
  *     `concat` copies it;
  *   - a null field is omitted under
  *     `spark.sql.jsonGenerator.ignoreNullFields` (the default) and
  *     written as `null` otherwise, read when the expression first
  *     evaluates in a task, as the JSON generator reads it;
  *   - a null `op` yields null (`concat` null propagation); all fields
  *     null yields `op|{}`.
  */
case class FrameJson(op: Expression, channel: Expression, message: Expression,
    sender: Expression, seq: Expression) extends Expression {
  import FrameJson._

  override def children: Seq[Expression] = Seq(op, channel, message, sender, seq)
  override def nullable: Boolean = op.nullable
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_frame_json"

  override def checkInputDataTypes(): TypeCheckResult = {
    val bad = children.zipWithIndex.collect {
      case (c, i) if !(c.dataType == NullType ||
          (if (i == 4) c.dataType == IntegerType else c.dataType.isInstanceOf[StringType])) =>
        s"argument ${i + 1} is ${c.dataType.simpleString}"
    }
    if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName takes (string, string, string, string, int): ${bad.mkString(", ")}")
  }

  @transient private lazy val ignoreNulls: Boolean =
    SQLConf.get.jsonGeneratorIgnoreNullFields

  /** The frame for one row; `op` is non-null. Allocates the result and,
    * only for a field that is not well-formed UTF-8, its re-encoding. */
  def frame(op: UTF8String, c: UTF8String, m: UTF8String, s: UTF8String,
      seqNull: Boolean, seq: Int): UTF8String = {
    val c1 = wellFormed(c); val m1 = wellFormed(m); val s1 = wellFormed(s)
    val cl = fieldLength(c1, KeyC); val ml = fieldLength(m1, KeyM)
    val sl = fieldLength(s1, KeyS)
    val ql = if (seqNull) (if (ignoreNulls) -1 else KeyQ.length + 4)
      else KeyQ.length + digits(seq)
    val fields = (if (cl >= 0) 1 else 0) + (if (ml >= 0) 1 else 0) +
      (if (sl >= 0) 1 else 0) + (if (ql >= 0) 1 else 0)
    val len = op.numBytes + 3 + math.max(fields - 1, 0) +
      math.max(cl, 0) + math.max(ml, 0) + math.max(sl, 0) + math.max(ql, 0)
    val buf = new Array[Byte](len)
    op.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET)
    var p = op.numBytes
    buf(p) = '|'.toByte; buf(p + 1) = '{'.toByte; p += 2
    var pending = fields
    if (cl >= 0) { p = writeField(buf, p, KeyC, c1, cl); pending -= 1; p = comma(buf, p, pending) }
    if (ml >= 0) { p = writeField(buf, p, KeyM, m1, ml); pending -= 1; p = comma(buf, p, pending) }
    if (sl >= 0) { p = writeField(buf, p, KeyS, s1, sl); pending -= 1; p = comma(buf, p, pending) }
    if (ql >= 0) {
      System.arraycopy(KeyQ, 0, buf, p, KeyQ.length); p += KeyQ.length
      if (seqNull) { System.arraycopy(Null, 0, buf, p, 4); p += 4 }
      else p = writeInt(buf, p, seq)
    }
    buf(p) = '}'.toByte
    UTF8String.fromBytes(buf)
  }

  /** Bytes of `"key":"value"` (or `"key":null`), or -1 when the field
    * is omitted. */
  private def fieldLength(u: UTF8String, key: Array[Byte]): Int =
    if (u != null) key.length + 2 + escapedLength(u)
    else if (ignoreNulls) -1
    else key.length + 4

  private def writeField(buf: Array[Byte], at: Int, key: Array[Byte],
      u: UTF8String, len: Int): Int = {
    System.arraycopy(key, 0, buf, at, key.length)
    var p = at + key.length
    if (u == null) { System.arraycopy(Null, 0, buf, p, 4); return p + 4 }
    buf(p) = '"'.toByte; p += 1
    val n = u.numBytes
    if (len == key.length + 2 + n) {
      u.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + p)
      p += n
    } else {
      var i = 0
      while (i < n) {
        val b = u.getByte(i)
        if (b >= 0 && Escape(b) != 0) {
          buf(p) = '\\'.toByte
          val e = Escape(b)
          if (e != 'u') { buf(p + 1) = e; p += 2 }
          else {
            buf(p + 1) = 'u'.toByte; buf(p + 2) = '0'.toByte; buf(p + 3) = '0'.toByte
            buf(p + 4) = Hex(b >> 4); buf(p + 5) = Hex(b & 0xF); p += 6
          }
        } else { buf(p) = b; p += 1 }
        i += 1
      }
    }
    buf(p) = '"'.toByte
    p + 1
  }

  override def eval(input: InternalRow): Any = {
    val o = op.eval(input).asInstanceOf[UTF8String]
    if (o == null) null
    else {
      val q = seq.eval(input)
      frame(o, channel.eval(input).asInstanceOf[UTF8String],
        message.eval(input).asInstanceOf[UTF8String],
        sender.eval(input).asInstanceOf[UTF8String],
        q == null, if (q == null) 0 else q.asInstanceOf[Int])
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("frameJson", this, classOf[FrameJson].getName)
    val Seq(o, c, m, s, q) = children.map(_.genCode(ctx))
    def str(e: Expression, g: ExprCode): String =
      if (e.dataType == NullType) "null" else s"${g.isNull} ? null : ${g.value}"
    val qNull = if (seq.dataType == NullType) "true" else s"${q.isNull}"
    val qValue = if (seq.dataType == NullType) "0" else s"${q.value}"
    ev.copy(code = code"""
      |${o.code}
      |${c.code}
      |${m.code}
      |${s.code}
      |${q.code}
      |boolean ${ev.isNull} = ${if (op.dataType == NullType) "true" else o.isNull.toString};
      |UTF8String ${ev.value} = null;
      |if (!${ev.isNull}) {
      |  ${ev.value} = $self.frame(${o.value}, ${str(channel, c)},
      |    ${str(message, m)}, ${str(sender, s)}, $qNull, $qValue);
      |}""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FrameJson = {
    val Seq(o, c, m, s, q) = newChildren
    copy(op = o, channel = c, message = m, sender = s, seq = q)
  }
}

object FrameJson {
  private val KeyC = "\"c\":".getBytes("UTF-8")
  private val KeyM = "\"m\":".getBytes("UTF-8")
  private val KeyS = "\"s\":".getBytes("UTF-8")
  private val KeyQ = "\"_q\":".getBytes("UTF-8")
  private val Null = "null".getBytes("UTF-8")
  private val Hex = "0123456789ABCDEF".getBytes("UTF-8")

  /** Per ASCII byte: 0 when written as is, the short-escape letter, or
    * 'u' for `\u00XX` — Jackson's default output escapes. */
  private val Escape: Array[Byte] = {
    val t = new Array[Byte](128)
    for (b <- 0 until 0x20) t(b) = 'u'.toByte
    for ((c, e) <- Seq('\b' -> 'b', '\t' -> 't', '\n' -> 'n', '\f' -> 'f',
        '\r' -> 'r', '"' -> '"', '\\' -> '\\')) t(c) = e.toByte
    t
  }

  /** Escaped byte length of a well-formed string. */
  private def escapedLength(u: UTF8String): Int = {
    val n = u.numBytes
    var len = n
    var i = 0
    while (i < n) {
      val b = u.getByte(i)
      if (b >= 0 && Escape(b) != 0) len += (if (Escape(b) == 'u') 5 else 1)
      i += 1
    }
    len
  }

  /** `u` when it is well-formed UTF-8 (RFC 3629: no overlong forms, no
    * surrogates, nothing above U+10FFFF), else its decode-and-re-encode
    * through `toString`, which is what the Jackson path writes. */
  private def wellFormed(u: UTF8String): UTF8String =
    if (u == null || isWellFormed(u)) u else UTF8String.fromString(u.toString)

  private def isWellFormed(u: UTF8String): Boolean = {
    val n = u.numBytes
    var i = 0
    while (i < n) {
      val b0 = u.getByte(i) & 0xFF
      if (b0 < 0x80) i += 1
      else {
        // continuation count and the allowed range of the second byte
        var k = 2; var lo = 0x80; var hi = 0xBF
        if (b0 >= 0xC2 && b0 <= 0xDF) k = 1
        else if (b0 == 0xE0) lo = 0xA0
        else if (b0 == 0xED) hi = 0x9F
        else if (b0 >= 0xE1 && b0 <= 0xEF) ()
        else if (b0 == 0xF0) { k = 3; lo = 0x90 }
        else if (b0 >= 0xF1 && b0 <= 0xF3) k = 3
        else if (b0 == 0xF4) { k = 3; hi = 0x8F }
        else return false
        if (i + k >= n) return false
        val b1 = u.getByte(i + 1) & 0xFF
        if (b1 < lo || b1 > hi) return false
        var j = 2
        while (j <= k) {
          if ((u.getByte(i + j) & 0xC0) != 0x80) return false
          j += 1
        }
        i += k + 1
      }
    }
    true
  }

  private def comma(buf: Array[Byte], at: Int, pending: Int): Int =
    if (pending > 0) { buf(at) = ','.toByte; at + 1 } else at

  private def digits(v: Int): Int = {
    var x = math.abs(v.toLong)
    var d = if (v < 0) 2 else 1
    while (x >= 10) { x /= 10; d += 1 }
    d
  }

  private def writeInt(buf: Array[Byte], at: Int, v: Int): Int = {
    val end = at + digits(v)
    var x = math.abs(v.toLong)
    var p = end
    while ({ p -= 1; buf(p) = ('0' + (x % 10)).toByte; x /= 10; x > 0 }) ()
    if (v < 0) buf(at) = '-'.toByte
    end
  }
}
