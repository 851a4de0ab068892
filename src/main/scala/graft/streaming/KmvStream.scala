package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** Streaming KMV distinct sketch: the incremental twin of the batch
  * [[graft.analytics.KmvQueries]] family. Keyed state holds each key's
  * k smallest distinct masked hashes; a micro-batch that changes the
  * sketch emits the new (n_in_sketch, kth_min, estimate) summary
  * stamped with a version, so "the latest estimate" is max(version)
  * downstream, exactly like [[StreamingTopK]]'s leaderboard contract.
  *
  * Scale: state per key is O(k) longs — bounded regardless of stream
  * volume — and inserts are set-membership + ordered insert into a
  * k-list. Re-delivered values (at-least-once sources) hash to an
  * already-present element and change nothing: the sketch is
  * idempotent under replay by construction, the same absorb-replays
  * property CdcStream/DedupStream document. The emitted estimate obeys
  * the SAME formula as the batch twin ((k−1)·2^63/kth when the sketch
  * is full, exact count below k), so a batch rebuild and the stream
  * agree bit-for-bit on identical inputs (pinned in KmvStreamSpec).
  */

object KmvStream {
  case class HashEvent(key: String, hash: Long)
  case class Sketch(version: Long, n_distinct_est_input: Long,
      hashes: Seq[Long])
  case class SketchRow(key: String, version: Long, n_in_sketch: Long,
      kth_min: Long, estimate: Double)

  /** The PURE per-batch transition (the TrailingDistinctStream.advance
    * pattern): fold the key's batch through the k-minimum-values
    * insert, emitting a versioned summary row only when the sketch
    * changed (the input counter always persists so replays stay
    * visible in state). `Sketch(0, 0, Seq.empty)` is the empty state.
    * Extracted so KmvStreamPropertySpec can drive random interleavings
    * and replay prefixes against the pure k-minima algebra without a
    * streaming harness. */
  def advance(key: String, prev: Sketch, rows: Seq[HashEvent],
      k: Int): (Seq[SketchRow], Sketch) = {
    var hs = prev.hashes.toList // ascending
    var nSeen = prev.n_distinct_est_input
    var changed = false
    for (r <- rows) {
      val h = r.hash & Long.MaxValue
      if (!hs.contains(h) && (hs.length < k || h < hs.last)) {
        val (lo, hi) = hs.span(_ < h)
        hs = (lo ::: h :: hi).take(k)
        changed = true
      }
      nSeen += 1
    }
    if (!changed) (Seq.empty, Sketch(prev.version, nSeen, hs))
    else {
      val version = prev.version + 1
      val kth = if (hs.length >= k) Some(hs.last) else None
      val est = kth match {
        case Some(t) => (k - 1).toDouble * 9223372036854775808.0 / t.toDouble
        case None => hs.length.toDouble
      }
      (Seq(SketchRow(key, version, hs.length.toLong,
        kth.getOrElse(-1L), est)), Sketch(version, nSeen, hs))
    }
  }

  /** Wire the sketch maintainer onto a hash stream through
    * [[KeyedFold]]. */
  def sketches(events: Dataset[HashEvent], k: Int): Dataset[SketchRow] =
    KeyedFold.fromZero(events.groupByKey(_.key)(Encoders.STRING), "sketch",
      Sketch(0L, 0L, Seq.empty), Encoders.product[Sketch],
      Encoders.product[SketchRow]) { (key, prev, rows) => advance(key, prev, rows, k) }
}
