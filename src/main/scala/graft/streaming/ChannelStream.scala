package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The reference's live pub/sub core as a Structured Streaming stateful
  * operator: `ChannelHub`'s membership maps (`lib/ChannelHub.js:28-29`)
  * become keyed `GroupState` per channel, and `sendMessage`
  * (`lib/ChannelHub.js:251-279`) becomes the per-group flatMap emitting
  * delivery rows.
  *
  * Replaces the reference's gossip replication entirely: state lives in
  * Spark's checkpointed StateStore (eventual consistency → exactly-once
  * on replay), so NODE_STATE/CHANNEL_JOIN mesh traffic
  * (`lib/QutyCluster.js:521-577`) has no equivalent here by design.
  *
  * Scale design: keyed BY CHANNEL (bounded cardinality), not by client —
  * state size is O(channels × avg subscribers), and a hot channel's
  * subscriber set stays one state row. Empty channels remove their state
  * row (the auto-destroy of `lib/ChannelHub.js:85-89,168-172`), and an
  * optional `ttl` expires idle channels the same way. The operator runs
  * under either state store provider, the default HDFS-backed one or
  * RocksDB (`spark.sql.streaming.stateStore.providerClass`, a session
  * setting that this code does not choose).
  */
object ChannelStream {

  /** Control/message event, pre-keyed by channel (a K kick event is
    * exploded to one row per channel upstream — the reference's
    * removeClient-everywhere, `lib/ChannelHub.js:192-199`). */
  case class ChannelEvent(
      tsMillis: Long,
      op: String,          // J subscribe | L/U unsubscribe | K kick | M message
      channel: String,
      cid: Long,
      sid: String,
      origin: String,      // publisher | node | local — loop-prevention flags
      message: String)

  /** Per-channel membership: cid -> owning sid, and the processing time
    * at which the membership expires (`Long.MaxValue` without a TTL). */
  case class ChannelState(members: Map[Long, String], expiresAt: Long)

  /** One delivery row per (message, subscribed client) — the
    * `client.message` emit of `lib/ChannelHub.js:267-273`. */
  case class Delivery(channel: String, cid: Long, sid: String,
      message: String, tsMillis: Long, origin: String)

  /** Order within a micro-batch follows event time then op then cid
    * (the reference processes frames in arrival order; a batch has no
    * arrival order, so we impose a deterministic one). Compared field by
    * field, with no key tuple per comparison; the sort is stable. */
  private val eventOrder: Ordering[ChannelEvent] = (a, b) => {
    val t = java.lang.Long.compare(a.tsMillis, b.tsMillis)
    if (t != 0) t
    else {
      val o = a.op.compareTo(b.op)
      if (o != 0) o else java.lang.Long.compare(a.cid, b.cid)
    }
  }

  private def ordered(events: Iterator[ChannelEvent]): Seq[ChannelEvent] =
    events.toSeq.sorted(eventOrder)

  /** The transition core of the stateful operator, also the pure twin
    * that specs and perfbench fold batches through.
    * Pure: (members, events) -> (members', deliveries).
    *
    * With `systemMessages` on, the hub's enrichment (O40,
    * `example/engine-io.server.js:75-80, 117-122`) is applied: a join
    * synthesizes a welcome delivery to the joiner plus a join notice to
    * the other members, and a leave/kick synthesizes a leave notice to
    * the remaining members — system rows unioned into the same delivery
    * stream as ordinary messages, the reference's one data-GENERATING
    * transform. Notices fire only on actual state changes (duplicate
    * join / unknown leave emit nothing, matching the hub's idempotent
    * membership ops).
    *
    * Fan-out walks the members in cid order. That sorted roster is kept
    * across events and rebuilt only after a J/L/U/K event changes the
    * membership, so a run of messages costs one walk each, not one sort
    * each.
    */
  def applyEvents(channel: String, initial: Map[Long, String],
      events: Iterator[ChannelEvent], systemMessages: Boolean)
      : (Map[Long, String], Seq[Delivery]) = {
    var members = initial
    var sorted: Array[(Long, String)] = null // null: stale, rebuild on use
    def roster: Array[(Long, String)] = {
      if (sorted == null) sorted = members.toArray.sortBy(_._1)
      sorted
    }
    val out = Seq.newBuilder[Delivery]
    def notice(msg: String, ts: Long, except: Long): Unit = if (systemMessages)
      for ((cid, sid) <- roster if cid != except)
        out += Delivery(channel, cid, sid, msg, ts, "system")
    for (e <- ordered(events)) e.op match {
      case "J" =>
        // duplicate join is a FULL no-op (lib/ChannelHub.js:65-69):
        // the existing membership row keeps its sid, so a replayed or
        // conflicting J frame cannot silently re-point the member's
        // delivery metadata to another node with no notice emitted
        if (!members.contains(e.cid)) {
          members = members.updated(e.cid, e.sid)
          sorted = null
          if (systemMessages) {
            // welcome to the joiner (engine-io.server.js:75-80) ...
            out += Delivery(channel, e.cid, e.sid,
              s"system:welcome:${e.cid}", e.tsMillis, "system")
            // ... and a join notice to everyone else (:117-122)
            notice(s"system:join:${e.cid}", e.tsMillis, except = e.cid)
          }
        }
      case "L" | "U" | "K" =>
        if (members.contains(e.cid)) {
          members = members - e.cid
          sorted = null
          notice(s"system:leave:${e.cid}", e.tsMillis, except = e.cid)
        }
      case "M" =>
        // fan-out to current members; sender echo included iff sender
        // subscribed — matches channel.message emit (lib/ChannelHub.js:275-277)
        val r = roster
        var i = 0
        while (i < r.length) {
          out += Delivery(channel, r(i)._1, r(i)._2, e.message, e.tsMillis, e.origin)
          i += 1
        }
      case "S" | "I" =>
        // NODE_STATE merge (lib/QutyCluster.js:557-577) and NODE_INFO
        // adopt (:252-272) are gossip-replication frames. This engine
        // replaces gossip with Spark's checkpointed StateStore (see
        // class scaladoc), so S/I are EXPLICITLY ignored: no delivery,
        // no membership change. Spec-asserted in ChannelStreamSpec.
      case _ => // unknown opcode: ignored (defensive, like the handlers)
    }
    (members, out.result())
  }

  /** The per-group transition function (flatMapGroupsWithState).
    * With a `ttl`, every batch that leaves a channel non-empty pushes its
    * expiry to now + ttl. An expired membership reads as empty even when
    * the group's next batch brings events, and a group whose timeout
    * fires is removed: the idle-channel auto-destroy. */
  def processChannel(systemMessages: Boolean,
      ttl: Option[java.time.Duration] = None)(
      channel: String, events: Iterator[ChannelEvent],
      state: GroupState[ChannelState]): Iterator[Delivery] = {
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    val now = state.getCurrentProcessingTimeMs()
    val (members, out) = applyEvents(channel,
      state.getOption.filter(_.expiresAt > now).map(_.members)
        .getOrElse(Map.empty),
      events, systemMessages)
    if (members.isEmpty) state.remove()           // channel auto-destroy
    else {
      state.update(ChannelState(members,
        ttl.fold(Long.MaxValue)(now + _.toMillis)))
      ttl.foreach(d => state.setTimeoutDuration(d.toMillis))
    }
    out.iterator
  }

  /** Wire the operator onto a stream of [[ChannelEvent]].
    * `systemMessages` switches on the O40 join/leave enrichment. A `ttl`
    * expires a channel idle for that long (processing time); it needs
    * a trigger that keeps running batches, since a timeout fires only
    * inside one. */
  def deliveries(events: Dataset[ChannelEvent],
      systemMessages: Boolean = false,
      ttl: Option[java.time.Duration] = None): Dataset[Delivery] = {
    implicit val stateEnc = Encoders.product[ChannelState]
    implicit val outEnc = Encoders.product[Delivery]
    val timeout =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.channel)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, timeout)(
        processChannel(systemMessages, ttl))
  }
}
