package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions.{col, lower, md5, regexp_replace, trim}

/** Streaming exact dedup: the incremental twin of the batch
  * `dedup_exact_groups`/`dedup_exact_survivors` pair. Keyed by content
  * digest, each key's state is the canonical (first-seen, min doc_id
  * within the arrival batch) document; every incoming doc gets a
  * keep/drop decision stamped with the canonical id — the gate an
  * ingest pipeline puts in front of the corpus store so duplicates
  * never land.
  *
  * Scale: state per digest is ONE long — bounded by distinct contents,
  * not stream volume; decisions are per-event and idempotent under
  * at-least-once replay (the canonical never changes once set, so a
  * replayed doc gets the identical decision). Only digests key the
  * state store; document text never enters state.
  */

object DedupStream {
  case class DocEvent(doc_id: Long, digest: String)
  case class FirstSeen(doc_id: Long)
  case class Decision(doc_id: Long, digest: String, kept: Boolean,
      canonical: Long)

  /** The PURE per-batch transition (the TrailingDistinctStream.advance
    * pattern): the smallest doc_id of the FIRST batch carrying the
    * digest becomes canonical (deterministic regardless of row arrival
    * order inside the batch); every row gets a keep/drop decision
    * against it. `None` is the empty state. Extracted so
    * DedupPropertySpec can drive random interleavings and replay
    * prefixes without a harness. */
  def advance(digest: String, existing: Option[Long],
      rows: Seq[DocEvent]): (Seq[Decision], Long) = {
    val canonical = existing.getOrElse(rows.map(_.doc_id).min)
    (rows.map(r =>
      Decision(r.doc_id, digest, r.doc_id == canonical, canonical)),
      canonical)
  }

  /** Wire the dedup gate onto a (doc_id, text) stream: digest map-side
    * with the SAME normalization as the batch `dedup_normalized_groups`
    * (casefold + whitespace-collapse + trim — the stream and batch
    * passes must agree on what counts as a duplicate), then one
    * [[KeyedFold]] stage. */
  def dedup(docs: Dataset[(Long, String)]): Dataset[Decision] = {
    val s = docs.sparkSession
    import s.implicits._
    val events = docs.toDF("doc_id", "text")
      .select(col("doc_id"),
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))
          .cast("binary")).as("digest"))
      .as[DocEvent]
    KeyedFold(events.groupByKey(_.digest)(Encoders.STRING), "first",
      Encoders.product[FirstSeen], Encoders.product[Decision]) {
      (digest, stored, rows) =>
        val (out, canonical) = advance(digest, stored.map(_.doc_id), rows)
        (out, Some(FirstSeen(canonical)))
    }
  }
}
