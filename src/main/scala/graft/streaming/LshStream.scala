package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** Streaming NEAR-dup gate: the incremental twin of the batch
  * MinHash+LSH candidate pipeline (`dedup_lsh_candidates`). Each
  * incoming doc's signature explodes into its band buckets map-side;
  * this keyed stage holds, per (band_idx, band_hash) bucket, the
  * bucket's FIRST-SEEN doc and a running occupancy count, and flags
  * every later arrival in the bucket as a near-dup candidate of that
  * canonical doc. A doc flagged by ANY band is a candidate (the
  * standard OR-over-bands LSH rule); the downstream verify step —
  * exact jaccard on candidate pairs only — is the same one batch runs.
  *
  * Scale: state per bucket is the canonical plus the member ids up to
  * the cap — at most [[LshStream.MaxBucket]]+1 longs, a CONSTANT
  * bound per bucket (and bounded by distinct band values overall),
  * never stream volume; signatures never enter state. Membership —
  * not an arrival counter — is what occupancy counts: the batch
  * pipeline caps buckets on DISTINCT docs, and an arrival counter
  * would let at-least-once redeliveries of already-flagged docs
  * inflate occupancy to the cap and silently suppress genuinely new
  * near-dup candidates. Hot buckets degrade PROSPECTIVELY: once
  * distinct occupancy passes the cap the bucket stops emitting (the
  * batch pipeline's retroactive whole-bucket drop cannot be expressed
  * without retraction in a stream; both caps bound candidate volume
  * by MaxBucket per bucket, and the batch run over the landed corpus
  * remains the authority — the stream gate is the cheap front
  * filter). Replays are absorbed: a redelivered (doc, band) row finds
  * its doc already a member (or the canonical) and emits nothing —
  * the decision it re-derives is already downstream.
  */

object LshStream {
  /** Same hot-bucket bound as the batch pipeline (DedupQueries). */
  val MaxBucket = 64L

  case class BandEvent(doc_id: Long, band_idx: Int, band_hash: Long)
  /** members excludes the canonical; |members| ≤ MaxBucket − 1 so the
    * bucket's distinct-doc occupancy (canonical included) ≤ MaxBucket. */
  case class BucketState(canonical: Long, members: Seq[Long])
  case class BandHit(doc_id: Long, band_idx: Int, band_hash: Long,
      candidate_of: Long)

  /** The PURE per-batch transition (the TrailingDistinctStream.advance
    * pattern): fold the bucket's doc_id-sorted batch through the
    * first-is-canonical / member-set / distinct-cap rules.
    * `BucketState(-1, Seq.empty)` is the empty state. Extracted so
    * LshPropertySpec can drive random interleavings and replay
    * prefixes without a harness. */
  def advance(st0: BucketState,
      sortedRows: Seq[BandEvent]): (Seq[BandHit], BucketState) = {
    var st = st0
    val out = sortedRows.flatMap { r =>
      if (st.canonical < 0) { st = BucketState(r.doc_id, Seq.empty); None }
      else if (r.doc_id == st.canonical ||
          st.members.contains(r.doc_id)) None // replay: absorbed
      // occupancy counts the canonical too: the bucket holds at most
      // MaxBucket distinct docs, canonical + (MaxBucket − 1) members
      else if (st.members.size < MaxBucket - 1) {
        st = st.copy(members = st.members :+ r.doc_id)
        Some(BandHit(r.doc_id, r.band_idx, r.band_hash, st.canonical))
      } else None // hot bucket at distinct-cap: stop emitting
    }
    (out, st)
  }

  /** Wire the gate onto a pre-banded (doc_id, band_idx, band_hash)
    * stream — the map-side banding (native MinHash signature + band
    * hashes) is the SAME expression pipeline the batch dedup uses, so
    * stream and batch agree on what lands in a bucket. Keyed by the
    * (band_idx, band_hash) pair rendered as one string key, through
    * [[KeyedFold]]; each bucket's batch is sorted by doc_id first, so
    * arrival order inside a batch cannot pick the canonical. */
  def gate(bands: Dataset[(Long, Int, Long)]): Dataset[BandHit] = {
    val s = bands.sparkSession
    import s.implicits._
    val events = bands.toDF("doc_id", "band_idx", "band_hash")
      .as[BandEvent]
    KeyedFold.fromZero(
      events.groupByKey(e => s"${e.band_idx}:${e.band_hash}")(Encoders.STRING),
      "bucket", BucketState(-1L, Seq.empty), Encoders.product[BucketState],
      Encoders.product[BandHit]) { (_, st, rows) => advance(st, rows.sortBy(_.doc_id)) }
  }
}
