package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig}

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
class StreamingTopK(k: Int)
    extends StatefulProcessor[String, StreamingTopK.ValueEvent, StreamingTopK.LeaderRow] {
  import StreamingTopK._

  @transient private var board: org.apache.spark.sql.streaming.ValueState[Board] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    board = getHandle.getValueState[Board](
      "board", Encoders.product[Board], TTLConfig.NONE)

  override def handleInputRows(channel: String, rows: Iterator[ValueEvent],
      timers: TimerValues): Iterator[LeaderRow] = {
    val prev = if (board.exists()) board.get() else Board(0L, Seq.empty)
    val (out, st) = advance(channel, prev, rows.toSeq, k)
    if (st.version != prev.version) board.update(st)
    out.iterator
  }
}

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

  /** Wire the leaderboard onto an event stream (RocksDB state store,
    * which transformWithState requires). */
  def leaderboard(events: Dataset[ValueEvent], k: Int): Dataset[LeaderRow] = {
    implicit val outEnc = Encoders.product[LeaderRow]
    events
      .groupByKey(_.channel)(Encoders.STRING)
      .transformWithState(new StreamingTopK(k), TimeMode.None(),
        OutputMode.Append())
  }
}
