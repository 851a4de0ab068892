package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** Streaming CDC latest-state maintenance: the incremental twin of the
  * batch `cdc_latest_state` compaction. Keyed by entity, the state is
  * the current latest row under the (ts desc, event_id desc) order the
  * batch window rank uses; a micro-batch emits one updated snapshot row
  * per key it actually advanced — downstream reconstructs "the table
  * now" as argmax(last_ts, last_event) per key: the SAME total order
  * the fold keeps, so reconstruction is correct under every
  * configuration (see the ttl caveat below for why max(version) is
  * NOT the contract).
  *
  * Scale: O(1) state per entity (one row, never the history);
  * late/replayed changes that do not beat the current (ts, event_id)
  * are absorbed silently — idempotent under at-least-once delivery and
  * correct under out-of-order arrival without a watermark, because
  * keep-last under a total order is insensitive to arrival order.
  * O(1)-per-key is not enough at 100 TB when the KEY SPACE churns
  * (transient entities never seen again would pin a row forever), so
  * a `ttl` expires idle entities from the store — the same
  * TTLConfig-based eviction [[FirstSeenStream]] uses, making the
  * state size proportional to the LIVE entity set. The ttl is also
  * why version is a per-LIFETIME change counter, not the
  * reconstruction key: an entity that reappears after expiry restarts
  * at version 1, so max(version) would resurrect the stale pre-expiry
  * snapshot — reconstruct by argmax(last_ts, last_event), which the
  * expiry cannot rewind. ([[EwmaStream]]'s version column carries the
  * same contract.)
  */
object CdcStream {
  case class Change(user_id: Long, ts: Long, event_id: Long,
      event_type: String, value: Double)
  case class Snapshot(user_id: Long, last_ts: Long, last_event: Long,
      last_type: String, last_value: Double, version: Long)

  private def beats(c: Change, s: Snapshot): Boolean =
    c.ts > s.last_ts || (c.ts == s.last_ts && c.event_id > s.last_event)

  /** The PURE per-batch transition (the TrailingDistinctStream.advance
    * pattern): keep-last under the (ts, event_id) total order —
    * arrival order inside the batch is irrelevant by construction.
    * Emits the re-versioned snapshot iff the batch actually advanced
    * the key. `None` is the empty state. Extracted so
    * CdcPropertySpec can drive random interleavings and replay
    * prefixes against the pure argmax algebra without a harness. */
  def advance(key: Long, prev: Option[Snapshot],
      rows: Seq[Change]): (Seq[Snapshot], Option[Snapshot]) = {
    var best = prev
    val version = prev.map(_.version).getOrElse(0L)
    for (r <- rows) {
      if (best.forall(beats(r, _))) {
        best = Some(Snapshot(key, r.ts, r.event_id, r.event_type, r.value,
          version))
      }
    }
    best match {
      case Some(b) if prev.forall(p =>
          (b.last_ts, b.last_event) != (p.last_ts, p.last_event)) =>
        val next = b.copy(version = version + 1)
        (Seq(next), Some(next))
      case _ => (Seq.empty, prev) // batch carried nothing newer
    }
  }

  /** Wire latest-state maintenance onto a change stream through
    * [[KeyedFold]]. A `ttl` expires idle entity state. */
  def latestState(changes: Dataset[Change],
      ttl: Option[java.time.Duration] = None): Dataset[Snapshot] =
    KeyedFold(changes.groupByKey(_.user_id)(Encoders.scalaLong), "latest",
      Encoders.product[Snapshot], Encoders.product[Snapshot], ttl)(advance)
}
