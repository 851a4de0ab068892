package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** Streaming per-entity EWMA maintenance: the incremental twin of the
  * batch `ts_ewma_user` fold (e_0 = x_0, e_i = α·x_i + (1−α)·e_{i−1},
  * α = 0.5 over integer-cents doubles).
  *
  * EWMA is ORDER-DEPENDENT, so the stream is explicit about order:
  * rows are applied in (ts, event_id) order WITHIN each micro-batch
  * (intra-batch disorder is repaired by a bounded sort of that batch's
  * rows for the key), and a row at or before the last applied
  * (ts, event_id) is never re-folded. Rows behind the frontier are
  * counted in `n_stale` — with O(1) state a redelivered old row and a
  * genuinely-late arrival are indistinguishable, so the counter
  * honestly covers both (only the exact replay of the LAST applied
  * row is recognized and absorbed without a count). Emissions happen
  * ONLY when the frontier advances, so redelivery alone never emits —
  * stale counts surface on the next advancing batch. Under per-key
  * in-order delivery (the Kafka-partition-by-key contract) the result
  * is bit-identical to the batch fold.
  *
  * Scale: O(1) state per entity — the current smoothed value and the
  * last applied position, never the history. One emission per key per
  * micro-batch that changed it, versioned like [[CdcStream]]. As
  * there, O(1)-per-key does not bound the STORE under key churn, so a
  * `ttl` expires idle entities (TTLConfig eviction, the
  * [[CdcStream]] pattern); a returning entity restarts its
  * fold from scratch — for a feature store that is the desired
  * cold-start semantics (a months-stale EWMA is not a usable prior).
  */

object EwmaStream {
  case class Obs(user_id: Long, ts: Long, event_id: Long, v: Double)
  case class Feat(user_id: Long, ewma_cents: Double, last_ts: Long,
      last_event: Long, n_applied: Long, n_stale: Long, version: Long)

  /** The PURE per-batch transition (the TrailingDistinctStream.advance
    * pattern): fold the key's (ts, event_id)-sorted batch through the
    * frontier-gated EWMA. `None` is the empty state. Extracted so
    * EwmaPropertySpec can drive random interleavings and replay
    * prefixes against the sequential fold without a harness. */
  def advance(key: Long, prev: Option[Feat],
      sortedRows: Seq[Obs]): (Seq[Feat], Option[Feat]) = {
    var ewma = prev.map(_.ewma_cents).getOrElse(0.0)
    var n = prev.map(_.n_applied).getOrElse(0L)
    var stale = prev.map(_.n_stale).getOrElse(0L)
    var lastTs = prev.map(_.last_ts).getOrElse(Long.MinValue)
    var lastEv = prev.map(_.last_event).getOrElse(Long.MinValue)
    var applied = 0L
    for (o <- sortedRows) {
      if (o.ts > lastTs || (o.ts == lastTs && o.event_id > lastEv)) {
        ewma = if (n == 0L) o.v else 0.5 * o.v + 0.5 * ewma
        n += 1; applied += 1
        lastTs = o.ts; lastEv = o.event_id
      } else if (o.ts != lastTs || o.event_id != lastEv)
        stale += 1
      // an exact replay of the last applied row (the common
      // at-least-once case) is absorbed silently — no count, no emit
    }
    if (applied == 0L) {
      // no advance → no emission (redelivery must not emit); still
      // persist any stale-count change so it surfaces next advance
      (Seq.empty, prev.map(p => p.copy(n_stale = stale)))
    } else {
      val next = Feat(key, ewma, lastTs, lastEv, n, stale,
        prev.map(_.version).getOrElse(0L) + 1)
      (Seq(next), Some(next))
    }
  }

  /** Wire EWMA maintenance onto an observation stream through
    * [[KeyedFold]], sorting each key's batch by (ts, event_id) first.
    * A `ttl` expires idle entity state. */
  def features(obs: Dataset[Obs],
      ttl: Option[java.time.Duration] = None): Dataset[Feat] =
    KeyedFold(obs.groupByKey(_.user_id)(Encoders.scalaLong), "ewma",
      Encoders.product[Feat], Encoders.product[Feat], ttl) {
      (key, prev, rows) => advance(key, prev, rows.sortBy(o => (o.ts, o.event_id)))
    }
}
