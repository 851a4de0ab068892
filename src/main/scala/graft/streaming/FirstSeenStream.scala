package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}

/** Streaming growth accounting: first-seen detection per entity — the
  * incremental twin of the batch `behavior_cumulative_users` identity
  * ("cumulative distinct = cumulative sum of first-seen counts").
  *
  * Each key emits EXACTLY ONE row, on the micro-batch where the entity
  * is first observed, carrying the smallest (day, ts) seen in that
  * batch; every later event (and every redelivery) is absorbed
  * silently. Downstream, new-users-per-day is a plain windowless
  * aggregate of these one-per-user rows and cumulative growth is its
  * running sum over the calendar-bounded day table — the streaming
  * pipeline never keeps per-event state.
  *
  * Scale honesty: exact "new vs returning" requires remembering every
  * entity ever seen — the state is O(distinct users), the
  * information-theoretic floor for exact first-seen, NOT O(events)
  * (that is precisely what the first-seen identity buys; an
  * approximate variant would swap this store for a Bloom filter and
  * accept false "returning" labels). An optional TTL turns the
  * semantics into "first seen in the trailing horizon" — the
  * resurrection-after-idle definition growth dashboards usually want —
  * and bounds the store under key churn.
  *
  * Intra-batch disorder: all rows for a key in one batch collapse to
  * their min (day, ts), so the emitted first-seen coordinate does not
  * depend on arrival order within the batch. Cross-batch late arrivals
  * with an EARLIER day than the recorded one are counted in
  * `n_corrections` on the state (surfaced if the entity is ever
  * re-emitted — they are not, by design) rather than re-emitted:
  * downstream consumed the original row already, and an exactly-once
  * correction channel is a CDC concern ([[CdcStream]]), not a gate
  * concern.
  */

object FirstSeenStream {
  case class Obs(user_id: Long, day: Long, ts: Long)
  case class FirstSeen(user_id: Long, first_day: Long, first_ts: Long,
      n_corrections: Long)

  /** The PURE per-batch transition (the TrailingDistinctStream.advance
    * pattern): the batch collapses to its min (day, ts) — arrival
    * order inside the batch is irrelevant; first batch emits exactly
    * one row, later batches absorb (counting earlier-coordinate late
    * arrivals in n_corrections). `None` is the empty state. Extracted
    * so FirstSeenPropertySpec can drive random interleavings and
    * replay prefixes without a harness. */
  def advance(key: Long, prev: Option[FirstSeen],
      rows: Seq[Obs]): (Seq[FirstSeen], FirstSeen) = {
    val batchMin = rows.map(o => (o.day, o.ts)).min
    prev match {
      case None =>
        val first = FirstSeen(key, batchMin._1, batchMin._2, 0L)
        (Seq(first), first)
      case Some(cur) =>
        val corrected =
          if (batchMin._1 < cur.first_day ||
              (batchMin._1 == cur.first_day && batchMin._2 < cur.first_ts))
            cur.copy(n_corrections = cur.n_corrections + 1L)
          else cur
        (Seq.empty, corrected)
    }
  }

  /** Wire first-seen detection onto an observation stream through
    * [[KeyedFold]]. A `ttl` expires idle entities, turning the
    * semantics into trailing-horizon first-seen. */
  def firstSeen(obs: Dataset[Obs],
      ttl: Option[java.time.Duration] = None): Dataset[FirstSeen] =
    KeyedFold(obs.groupByKey(_.user_id)(Encoders.scalaLong), "first_seen",
      Encoders.product[FirstSeen], Encoders.product[FirstSeen], ttl) {
      (key, prev, rows) =>
        val (out, next) = advance(key, prev, rows)
        (out, Some(next))
    }
}
