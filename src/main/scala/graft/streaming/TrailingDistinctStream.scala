package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** Streaming twin of the batch `window_trailing_distinct_users`
  * interval-stabbing decomposition (WindowQueries): the exact
  * trailing-W-day distinct-user count, maintained incrementally.
  *
  * The batch query merges each user's activity days into disjoint
  * covered-window segments and emits +1 at each segment start and −1
  * past its end; the per-day prefix sum of those deltas IS the exact
  * sliding COUNT(DISTINCT). This stream maintains the SAME segment
  * decomposition as per-user state and emits the same ±1 deltas
  * incrementally:
  *
  *  - first activity day d of a segment → (+1 at d), (−1 at d+W);
  *  - a later day d within reach (d − last ≤ W) EXTENDS the open
  *    segment: the previously-emitted −1 at end+1 is cancelled with a
  *    +1 and re-emitted at the new end — net deltas identical to the
  *    batch segments;
  *  - a gap (d − last > W) closes the segment and opens a new one.
  *
  * Downstream, `groupBy(day).sum(delta)` + the calendar-bounded
  * prefix sum reproduce the batch result exactly after any batch
  * split (TrailingDistinctStreamSpec pins stream ≡ brute-force batch
  * semantics across splits).
  *
  * Ordering contract: within a micro-batch the key's rows are sorted
  * before the fold (arrival order inside a batch is arbitrary), and
  * across batches each user's days must arrive non-decreasing — the
  * same event-time-ordered-ingest assumption the suite's other
  * incremental twins make; a day at or before the user's last seen
  * day — INCLUDING a genuinely new day arriving out of order, which
  * diverges from the batch twin under out-of-order ingest — is
  * absorbed: counted on the state (`n_late`) and surfaced as a
  * zero-delta marker row `Delta(user, day, 0)`. The marker is inert
  * in the day aggregate (sums add 0) but makes the undercount mode
  * OBSERVABLE: [[TrailingDistinctStream.deltas]] attaches a
  * `Dataset.observe` counter over the markers, which
  * `StatusSnapshot.streamingStatus` reports per batch as
  * `lateAbsorbed` (TrailingDistinctLateSpec pins both).
  *
  * Scale honesty: state is ONE fixed-size row per active user (last
  * day + a counter) — the information floor for exact sliding
  * distinct; the emitted correction pairs cancel in the day aggregate
  * so the output table stays calendar-bounded no matter the corpus.
  */

object TrailingDistinctStream {
  case class Obs(user_id: Long, day: Long)
  case class Seg(last_day: Long, n_late: Long)
  case class Delta(user_id: Long, day: Long, delta: Long)

  /** The PURE per-batch transition the stream executes: fold the
    * key's sorted batch days through the segment state, emitting the
    * ±1 deltas. Extracted so property tests can drive thousands of
    * random interleavings without a streaming harness
    * (TrailingDistinctPropertySpec; the ChannelPropertySpec
    * pattern). `Seg(Long.MinValue, _)` is the empty state. */
  def advance(key: Long, st0: Seg, sortedDays: Seq[Long],
      windowDays: Long): (Seq[Delta], Seg) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Delta]
    var st = st0
    for (d <- sortedDays) {
      if (st.last_day == Long.MinValue) {
        out += Delta(key, d, 1L)
        out += Delta(key, d + windowDays, -1L)
        st = st.copy(last_day = d)
      } else if (d <= st.last_day) {
        // dup or late: absorbed — zero-delta marker keeps the day
        // aggregate untouched while making the absorb observable
        out += Delta(key, d, 0L)
        st = st.copy(n_late = st.n_late + 1L)
      } else if (d - st.last_day <= windowDays) {
        // extend: move the close marker from last+W to d+W
        out += Delta(key, st.last_day + windowDays, 1L)
        out += Delta(key, d + windowDays, -1L)
        st = st.copy(last_day = d)
      } else {
        // gap: the old segment's close marker stands; open a new one
        out += Delta(key, d, 1L)
        out += Delta(key, d + windowDays, -1L)
        st = st.copy(last_day = d)
      }
    }
    (out.toSeq, st)
  }

  /** Wire the segment-delta maintenance onto an activity stream
    * through [[KeyedFold]], each key's batch days sorted first.
    * Aggregate the output with
    * `groupBy(day).agg(sum(delta))` + a prefix sum over the day spine
    * to read the exact trailing-`windowDays` distinct count. */
  def deltas(obs: Dataset[Obs], windowDays: Long): Dataset[Delta] = {
    import org.apache.spark.sql.functions.{abs, col, count, sum, when}
    KeyedFold.fromZero(obs.groupByKey(_.user_id)(Encoders.scalaLong), "seg",
      Seg(Long.MinValue, 0L), Encoders.product[Seg], Encoders.product[Delta]) {
      (key, st, rows) => advance(key, st, rows.map(_.day).sorted, windowDays)
    }
      // per-batch observability: late/duplicate absorptions (the
      // zero-delta markers) and live segment deltas land in
      // StreamingQueryProgress.observedMetrics, where StatusSnapshot
      // reports them — the silent-undercount mode is monitorable
      .observe("trailing_distinct_meta",
        count(when(col("delta") === 0L, 1L)).as("late_absorbed"),
        sum(abs(col("delta"))).as("segment_deltas"))
  }
}
