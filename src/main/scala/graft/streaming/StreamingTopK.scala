package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** Streaming leaderboard: the incremental twin of the batch
  * [[graft.plans.TopKPerKey]] operator. Keyed state holds each
  * channel's current top-k (value desc, event_id asc — a total order);
  * a micro-batch that changes the leaderboard emits the full new
  * ranking stamped with a per-channel version, so downstream consumers
  * (and the spec) can always reconstruct "the latest leaderboard" as
  * max(version).
  *
  * Scale: state per key is O(k) — bounded regardless of stream volume,
  * the property that lets a leaderboard over millions of channels live
  * in the state store; each event costs one ordered insert into a
  * k-length list. Emissions are per-(batch, channel) deltas, not
  * per-event.
  */

object StreamingTopK {
  case class ValueEvent(channel: String, event_id: Long, value: Double)
  case class Entry(event_id: Long, value: Double)
  case class Board(version: Long, entries: Seq[Entry])
  case class LeaderRow(channel: String, version: Long, rank: Long,
      event_id: Long, value: Double)

  private def beats(a: (Long, Double), b: (Long, Double)): Boolean =
    a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)

  /** The PURE per-batch transition (the TrailingDistinctStream.advance
    * pattern): fold the channel's batch through the ordered k-insert,
    * emitting the full re-versioned ranking iff the board changed.
    * `Board(0, Seq.empty)` is the empty state. Extracted so
    * StreamingTopKPropertySpec can drive random interleavings and
    * replay prefixes against the pure top-k-of-per-id-maxima algebra
    * without a streaming harness. */
  def advance(channel: String, prev: Board, rows: Seq[ValueEvent],
      k: Int): (Seq[LeaderRow], Board) = {
    var entries = prev.entries.map(e => (e.event_id, e.value)).toList
    var changed = false
    for (r <- rows) {
      val cand = (r.event_id, r.value)
      // NaN never `beats` anything, so once admitted it could never be
      // evicted — reject it outright. A re-delivered event_id (at-least-
      // once source) must not occupy two board slots: drop the old entry
      // first if the new value wins, skip the candidate otherwise.
      if (!cand._2.isNaN) {
        val dup = entries.find(_._1 == cand._1)
        if (dup.forall(beats(cand, _))) {
          val rest = if (dup.isDefined) entries.filterNot(_._1 == cand._1)
                     else entries
          if (rest.length < k || beats(cand, rest.last)) {
            val (better, worse) = rest.span(beats(_, cand))
            entries = (better ::: cand :: worse).take(k)
            changed = true
          }
        }
      }
    }
    if (!changed) (Seq.empty, prev)
    else {
      val version = prev.version + 1
      val out = entries.zipWithIndex.map { case ((id, v), i) =>
        LeaderRow(channel, version, i + 1L, id, v)
      }
      (out, Board(version, entries.map { case (id, v) => Entry(id, v) }))
    }
  }

  /** Wire the leaderboard onto an event stream through [[KeyedFold]]. */
  def leaderboard(events: Dataset[ValueEvent], k: Int): Dataset[LeaderRow] =
    KeyedFold.fromZero(events.groupByKey(_.channel)(Encoders.STRING), "board",
      Board(0L, Seq.empty), Encoders.product[Board],
      Encoders.product[LeaderRow]) { (channel, prev, rows) => advance(channel, prev, rows, k) }
}
