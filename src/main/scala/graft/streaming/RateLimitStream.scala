package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** Streaming per-key token-bucket rate limiter — the admission gate an
  * ingest pipeline puts in front of expensive downstream stages
  * (enrichment, codec decode, LLM scoring) so one hot producer cannot
  * starve the rest. Reference behavioral lineage: the per-client
  * send-throttling concern of the pub/sub server's publisher path
  * (`lib/QutyCluster.js` Publisher.send), re-expressed as a keyed
  * Structured Streaming stage.
  *
  * Determinism contract: refill is driven by EVENT time, never wall
  * clock, so a checkpoint replay reaches identical verdicts — the same
  * replay-safety rule every other stream in this package follows.
  * Within a batch, rows are processed in (ts, event_id) order, which
  * pins verdicts under MemoryStream/shuffle reordering. Out-of-order
  * events across batches never refill backwards (elapsed clamps at 0).
  *
  * Arithmetic is integer MILLI-tokens: capacity [[RateLimitStream.CapacityMilli]],
  * refill [[RateLimitStream.RefillMilliPerMs]] per event-time
  * millisecond — no float drift in long-running state.
  *
  * Scale: state per key is two longs (bucket level, last event time) —
  * O(distinct keys), stream-volume-independent; admission is one state
  * read-modify-write per event, no shuffle beyond the keying exchange.
  */

object RateLimitStream {
  /** 5-token burst capacity, 1 token/event-time-second refill, 1 token
    * per admitted event — all in integral milli-tokens. */
  val CapacityMilli = 5000L
  val RefillMilliPerMs = 1L
  val CostMilli = 1000L

  case class Event(event_id: Long, user_id: Long, ts_ms: Long)
  case class Bucket(tokens_milli: Long, last_ms: Long)
  case class Verdict(event_id: Long, user_id: Long, ts_ms: Long,
      allowed: Boolean, tokens_left_milli: Long)

  /** The PURE per-batch transition (the TrailingDistinctStream.advance
    * pattern): fold the key's (ts, event_id)-sorted batch through the
    * event-time token bucket, one verdict per row.
    * `Bucket(CapacityMilli, Long.MinValue)` is the empty state.
    * Extracted so RateLimitPropertySpec can drive random interleavings
    * and the token-bucket admission law without a streaming harness. */
  def advance(key: Long, st0: Bucket,
      sortedRows: Seq[Event]): (Seq[Verdict], Bucket) = {
    var st = st0
    val out = sortedRows.map { e =>
      val elapsed =
        if (st.last_ms == Long.MinValue) 0L
        else math.max(0L, e.ts_ms - st.last_ms)
      val refilled = math.min(CapacityMilli,
        st.tokens_milli + elapsed * RefillMilliPerMs)
      val allowed = refilled >= CostMilli
      val left = if (allowed) refilled - CostMilli else refilled
      st = Bucket(left, math.max(st.last_ms, e.ts_ms))
      Verdict(e.event_id, key, e.ts_ms, allowed, left)
    }
    (out, st)
  }

  /** Wire the limiter onto an (event_id, user_id, ts_ms) stream: one
    * [[KeyedFold]] stage, each key's batch sorted by (ts, event_id). */
  def limit(events: Dataset[(Long, Long, Long)]): Dataset[Verdict] = {
    val s = events.sparkSession
    import s.implicits._
    val keyed = events.toDF("event_id", "user_id", "ts_ms").as[Event]
      .groupByKey(_.user_id)(Encoders.scalaLong)
    KeyedFold.fromZero(keyed, "bucket", Bucket(CapacityMilli, Long.MinValue),
      Encoders.product[Bucket], Encoders.product[Verdict]) {
      (key, st, rows) => advance(key, st, rows.sortBy(e => (e.ts_ms, e.event_id)))
    }
  }
}
