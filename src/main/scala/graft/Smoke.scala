package graft

import org.apache.spark.sql.SparkSession

/** Local smoke runner mirroring the driver's t1 check: `SparkEntry.entry`
  * must return >0 rows on sf0.001 using a driver-created session (no
  * special confs — entry must self-configure anything it needs).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    // deliberately not Session.builder: `entry` must work on a
    // caller-built session that carries none of the bench conf
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"ENTRY ROWS: $n")
    df.show(5, truncate = false)
    assert(n > 0, "driver t1 smoke would fail: entry returned 0 rows")
    spark.stop()
  }
}
