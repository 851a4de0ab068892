package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** Streaming row-pattern detection (CEP) — the incremental twin of the
  * batch `behavior_pattern_regex` browse-to-buy pattern `v[^p]*p`:
  * emit a match every time a user's stream completes view → … →
  * purchase with no intervening purchase. The regex's non-overlapping
  * leftmost-match semantics ARE a 2-state machine — disarmed until a
  * `view` arrives (recording the match start), armed until the first
  * `purchase` closes the match — so a time-ordered stream emits
  * exactly the substrings the batch regex counts (PatternProcessorSpec
  * pins the equivalence against java.util.regex on real data).
  *
  * Scale: O(1) state per user (armed flag + start time + running
  * count + the frontier/budget below); emissions only on completed
  * matches. Intra-batch rows sort by (sec, event_id) — the suite's
  * canonical event order — so arrival order inside a micro-batch
  * cannot change the matches. ACROSS batches the state keeps the
  * (sec, event_id) frontier and drops rows at or behind it: an
  * at-least-once redelivery of an old row would otherwise RE-ARM the
  * machine and fabricate a match that never happened in the ordered
  * tape (the [[EwmaStream]]/[[TrailingDistinctStream]] absorb-late
  * discipline). And because the batch query truncates every user at
  * its first [[graft.analytics.BehaviorQueries.MaxSeqEvents]] events
  * "as part of the query's semantics", the matcher spends the same
  * per-user budget: once `seen` reaches the cap, further events are
  * ignored — stream ≡ batch for power users past the cap, instead of
  * the stream silently counting matches the batch never sees.
  */

object PatternProcessor {
  case class PatternEvent(user_id: Long, event_id: Long,
      event_type: String, sec: Long)
  case class MatchState(armed: Boolean, startSec: Long, n: Long,
      lastSec: Long, lastEvent: Long, seen: Long)
  case class PatternMatch(user_id: Long, start_sec: Long, end_sec: Long,
      n_matches: Long)

  val Empty: MatchState =
    MatchState(armed = false, 0L, 0L, Long.MinValue, Long.MinValue, 0L)

  /** The PURE per-batch transition (the TrailingDistinctStream.advance
    * pattern): fold the user's (sec, event_id)-sorted batch through
    * the 2-state v[^p]*p machine behind the frontier gate and the
    * MaxSeqEvents budget. [[Empty]] is the empty state. Extracted so
    * PatternPropertySpec can drive random interleavings and replay
    * prefixes against java.util.regex without a harness. */
  def advance(user: Long, s0: MatchState,
      sortedRows: Seq[PatternEvent]): (Seq[PatternMatch], MatchState) = {
    var s = s0
    val out = Seq.newBuilder[PatternMatch]
    for (e <- sortedRows
        if (e.sec > s.lastSec ||
            (e.sec == s.lastSec && e.event_id > s.lastEvent))
          && s.seen < graft.analytics.BehaviorQueries.MaxSeqEvents) {
      s = s.copy(lastSec = e.sec, lastEvent = e.event_id, seen = s.seen + 1L)
      if (!s.armed) {
        if (e.event_type == "view")
          s = s.copy(armed = true, startSec = e.sec)
      } else if (e.event_type == "purchase") {
        val n = s.n + 1L
        out += PatternMatch(user, s.startSec, e.sec, n)
        s = s.copy(armed = false, startSec = 0L, n = n)
      } // any non-purchase keeps the match open: the [^p]* gap
    }
    (out.result(), s)
  }

  /** Wire the matcher onto an event stream through [[KeyedFold]],
    * sorting each key's batch by (sec, event_id) first. */
  def matches(events: Dataset[PatternEvent]): Dataset[PatternMatch] =
    KeyedFold.fromZero(events.groupByKey(_.user_id)(Encoders.scalaLong),
      "pattern", Empty, Encoders.product[MatchState],
      Encoders.product[PatternMatch]) {
      (user, s, rows) => advance(user, s, rows.sortBy(r => (r.sec, r.event_id)))
    }
}
