package graft.streaming

import org.apache.spark.sql.streaming.TimeMode

/** The ONE place the TTL→TimeMode contract lives: TTLConfig eviction
  * only fires under processing-time mode, so every wiring method that
  * takes an optional `ttl` ([[CdcStream]], [[EwmaStream]],
  * [[FirstSeenStream]]) derives its TimeMode here. Changing the
  * contract (say, to event-time TTL) is then a one-line edit instead
  * of a three-file hunt where one missed site leaves a
  * processor whose TTLConfig silently never fires under
  * TimeMode.None.
  */
object TtlModes {
  def timeModeFor(ttl: Option[java.time.Duration]): TimeMode =
    if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
}
