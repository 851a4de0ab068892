package graft.streaming

import java.time.Duration

import org.apache.spark.sql.{Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** The one keyed fold behind every `transformWithState` operator of
  * this package: per key, one stored value `S` and a pure `step` from
  * (key, stored value, the key's rows of this micro-batch) to (rows
  * out, next value). Each operator keeps its transition as a pure
  * `advance` that its property spec drives, and wires it here.
  *
  * What the fold owns, so no operator spells it out again:
  *  - the `ValueState` handle under the operator's state `name`;
  *  - TTL: `ttl` sets the handle's `TTLConfig`, and the query runs in
  *    processing-time mode if and only if a TTL is set — TTLConfig
  *    eviction only fires under processing time, so a TTL under
  *    `TimeMode.None` would silently never expire anything;
  *  - the write rule: the next value is written only when it is present
  *    and differs from the stored one, and state is never cleared. A
  *    replayed batch that re-derives the stored value updates no state
  *    row, and an unchanged value never refreshes its TTL.
  *
  * The wiring runs on the RocksDB state store provider, which
  * `transformWithState` requires.
  */
class KeyedFold[K, I, S, O](name: String, state: Encoder[S],
    ttl: Option[Duration], step: (K, Option[S], Seq[I]) => (Seq[O], Option[S]))
    extends StatefulProcessor[K, I, O] {

  @transient private var value: ValueState[S] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    value = getHandle.getValueState[S](name, state,
      ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE))

  override def handleInputRows(key: K, rows: Iterator[I],
      timers: TimerValues): Iterator[O] = {
    val stored = if (value.exists()) Some(value.get()) else None
    val (out, next) = step(key, stored, rows.toSeq)
    next.filter(n => !stored.contains(n)).foreach(value.update)
    out.iterator
  }
}

object KeyedFold {
  /** Wire `step` onto `grouped` as one append-mode `transformWithState`
    * stage keeping one `S` per key under `name`. */
  def apply[K, I, S, O](grouped: KeyValueGroupedDataset[K, I], name: String,
      state: Encoder[S], out: Encoder[O], ttl: Option[Duration] = None)(
      step: (K, Option[S], Seq[I]) => (Seq[O], Option[S])): Dataset[O] =
    grouped.transformWithState(new KeyedFold(name, state, ttl, step),
      if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None(),
      OutputMode.Append())(out)

  /** [[apply]] for a state with a zero: an absent value reads as `zero`,
    * and a step that still holds `zero` stores nothing. */
  def fromZero[K, I, S, O](grouped: KeyValueGroupedDataset[K, I], name: String,
      zero: S, state: Encoder[S], out: Encoder[O])(
      step: (K, S, Seq[I]) => (Seq[O], S)): Dataset[O] =
    apply(grouped, name, state, out) { (key, stored, rows) =>
      val (emitted, next) = step(key, stored.getOrElse(zero), rows)
      (emitted, Some(next).filter(_ != zero))
    }
}
