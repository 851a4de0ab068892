package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** Streaming conversion funnel: the incremental twin of the batch
  * `funnel_stages` query. Per-user keyed state holds the furthest
  * stage reached and its event time; a user advances exactly when the
  * NEXT stage's event arrives strictly after the current stage entry —
  * the same strict-progression rule the batch query's conditional-min
  * chain encodes, so a time-ordered stream produces the identical
  * stage set.
  *
  * Scale: O(1) state per user (stage ordinal + timestamp); emissions
  * only on stage advances, so a billion no-op events cost no output.
  * Late/out-of-order events that cannot advance the funnel are simply
  * ignored — the greedy-earliest semantics make replays idempotent.
  */

object FunnelProcessor {
  /** Funnel stage order — event types outside the funnel never match. */
  val Stages = Seq("view", "click", "purchase")

  case class FunnelEvent(user_id: Long, event_id: Long, event_type: String,
      sec: Long)
  case class StageState(stage: Int, sec: Long)
  case class StageAdvance(user_id: Long, stage: Long, stage_name: String,
      sec: Long)

  /** The PURE per-batch transition (the TrailingDistinctStream.advance
    * pattern): fold the key's (sec, event_id)-sorted batch through the
    * strict-progression rule, emitting one row per stage advance.
    * `StageState(0, Long.MinValue)` is the empty state. Extracted so
    * FunnelPropertySpec can drive random interleavings and replay
    * prefixes without a streaming harness. */
  def advance(user: Long, st0: StageState,
      sortedRows: Seq[FunnelEvent]): (Seq[StageAdvance], StageState) = {
    var st = st0
    val out = Seq.newBuilder[StageAdvance]
    for (e <- sortedRows) {
      val next = Stages.indexOf(e.event_type) + 1
      if (next == st.stage + 1 && (st.stage == 0 || e.sec > st.sec)) {
        st = StageState(next, e.sec)
        out += StageAdvance(user, next.toLong, Stages(next - 1), e.sec)
      }
    }
    (out.result(), st)
  }

  /** Wire the funnel onto an event stream through [[KeyedFold]]. Each
    * key's batch is sorted by (sec, event_id) first, so intra-batch
    * progressions resolve the way the batch query's min-chain does. */
  def advances(events: Dataset[FunnelEvent]): Dataset[StageAdvance] =
    KeyedFold.fromZero(events.groupByKey(_.user_id)(Encoders.scalaLong),
      "stage", StageState(0, Long.MinValue), Encoders.product[StageState],
      Encoders.product[StageAdvance]) {
      (user, st, rows) => advance(user, st, rows.sortBy(r => (r.sec, r.event_id)))
    }
}
