package graft.protocol

import graft.plans.FrameJson
import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cluster opcodes, mirroring `lib/events.js:11-19`. */
object Opcodes {
  val NodeInfo          = "I"
  val NodeState         = "S"
  val ChannelJoin       = "J"
  val ChannelMessage    = "M"
  val ChannelLeave      = "L"
  val ClientUnsubscribe = "U"
  val ClientKick        = "K"
  val All: Seq[String] = Seq(NodeInfo, NodeState, ChannelJoin,
    ChannelMessage, ChannelLeave, ClientUnsubscribe, ClientKick)
}

/** Wire-frame codec for the reference protocol `"{op}|{payload}"`
  * (`lib/util.js:176-246`), as pure column expressions — stays inside
  * whole-stage codegen, no UDFs.
  *
  * Parse semantics (`lib/util.js:223-246`):
  *   - split at the FIRST '|'; text before = 1-char opcode, after =
  *     payload;
  *   - missing '|' or empty frame => unparseable (`:224-227` returns
  *     false) — modeled as null op;
  *   - payload starting with '{' or '[' is JSON (`:234`), anything else
  *     is an opaque string;
  *   - `_q` (the mod-100 send sequence injected at `:186-197`) is
  *     surfaced as `seq` (`:236-239`).
  *
  * Serialize semantics (`lib/util.js:188-206`): opcode + '|' + JSON,
  * with `_q` injected into object payloads.
  */
object Frames {

  /** JSON payload keys used by the cluster protocol
    * (`lib/QutyCluster.js:588-635`): c=channel, m=message, s=sender sid,
    * b=broadcast flag, cid=client id, _q=sequence. */
  val payloadSchema: StructType = StructType(Seq(
    StructField("c", StringType),
    StructField("m", StringType),
    StructField("s", StringType),
    StructField("b", BooleanType),
    StructField("cid", StringType),
    StructField("_q", IntegerType)))

  private def pipePos(raw: Column): Column = instr(raw, "|")

  /** Opcode, or null for malformed frames (no '|' / empty op). */
  def frameOp(raw: Column): Column =
    when(pipePos(raw) > 1, substring_index(raw, "|", 1))

  /** Raw payload text after the first '|' (empty string allowed). */
  def framePayloadOf(raw: Column): Column =
    when(pipePos(raw) > 1,
      substring(raw, pipePos(raw).cast(IntegerType) + lit(1), lit(Int.MaxValue)))

  /** True when the payload is JSON (starts with '{' or '[',
    * `lib/util.js:234`). */
  def isJsonPayload(payload: Column): Column =
    payload.startsWith("{") || payload.startsWith("[")

  /** Structured parse of a JSON payload into the protocol envelope;
    * null for a payload that is not JSON. The gate sits inside the
    * call, so every field read of one payload is the same
    * `from_json(..)` subexpression and codegen parses it once. */
  def parsePayload(payload: Column): Column =
    from_json(when(isJsonPayload(payload), payload), payloadSchema,
      Map("mode" -> "PERMISSIVE"))

  /** Full parse: raw frame -> struct(op, seq, channel, message, sender,
    * b, cid, json). Null struct fields model the reference's
    * `false`/undefined returns for malformed input. */
  def parseFrame(raw: Column): Column = {
    val payload = framePayloadOf(raw)
    val parsed = parsePayload(payload)
    struct(
      frameOp(raw).as("op"),
      parsed.getField("_q").as("seq"),
      parsed.getField("c").as("channel"),
      parsed.getField("m").as("message"),
      parsed.getField("s").as("sender"),
      parsed.getField("b").as("b"),
      parsed.getField("cid").as("cid"),
      payload.as("payload"))
  }

  /** Serialize (O2): opcode + '|' + JSON payload with `_q` injected,
    * byte for byte `concat(op, "|", to_json(struct(channel AS c,
    * message AS m, sender AS s, seq AS _q)))`, written by the native
    * [[graft.plans.FrameJson]]. `op`, `channel`, `message` and `sender`
    * are strings. `seq` is supplied by the caller (a `row_number() %
    * 100` window — the mod-100 counter of `lib/util.js:13,186-197`). */
  def serializeFrame(op: Column, channel: Column, message: Column,
                     sender: Column, seq: Column): Column =
    PlanBridge.column(op, channel, message, sender, seq.cast(IntegerType)) {
      case Seq(o, c, m, s, q) => FrameJson(o, c, m, s, q)
    }
}
