package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every graft-owned session starts from the
  * conf [[Bench]] times under, so correctness (Verify), timing
  * (Bench) and the probes all run the same settings. A caller that
  * needs a different value appends its own `.config(...)` with the
  * reason next to it.
  */
object Session {
  /** Worker threads: `$SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  def builder(cpus: Int = Session.cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      // nanosecond-era events.parquet (Tables.loadEvents)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // AQE on (runtime shuffle coalescing + skew splitting) and a
      // raised broadcast threshold — the settings a production
      // deployment would start from
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      // testdata is one file per table; small splits keep scans parallel
      .config("spark.sql.files.maxPartitionBytes", 4L * 1024 * 1024)
      .config("spark.ui.enabled", "false")
}
