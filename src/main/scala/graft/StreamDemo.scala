package graft

import java.sql.Timestamp

import graft.streaming.{ChannelStream, Ingest}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Runnable end-to-end streaming example: Kafka-wire-shaped frames →
  * parse → stateful channel routing → partitioned parquet deliveries.
  * With the spark-sql-kafka connector on the classpath, swap the
  * MemoryStream for `readStream.format("kafka")` (see Ingest docs).
  *
  * Usage: graft.StreamDemo <outDir> [--system-messages]
  * (--system-messages switches on the O40 join/leave enrichment so the
  * delivery stream carries synthesized welcome/join/leave rows.)
  */
object StreamDemo {
  case class KafkaRecord(key: Array[Byte], value: Array[Byte],
      topic: String, partition: Int, offset: Long, timestamp: Timestamp)

  def main(args: Array[String]): Unit = {
    val out = args.filterNot(_.startsWith("--")).headOption
      .getOrElse("/tmp/stream_demo")
    val sysMsgs = args.contains("--system-messages")
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[KafkaRecord]
    val events = Ingest.channelEvents(Ingest.parseFrames(input.toDF()))
    val deliveries = ChannelStream.deliveries(events, systemMessages = sysMsgs)

    val query = Ingest.deliverToParquet(deliveries, s"$out/deliveries",
      s"$out/checkpoint").outputMode(OutputMode.Append).start()

    def rec(offset: Long, frame: String, ts: Long) =
      KafkaRecord(null, frame.getBytes("UTF-8"), "quty-frames", 0, offset,
        new Timestamp(ts))

    // batch 1: two clients join 'news', one joins 'sport'
    input.addData(Seq(
      rec(0, """J|{"c":"news","cid":"41","s":"node-1"}""", 1000),
      rec(1, """J|{"c":"news","cid":"42","s":"node-2"}""", 2000),
      rec(2, """J|{"c":"sport","cid":"43","s":"node-1"}""", 3000)))
    query.processAllAvailable()
    // batch 2: publish to both channels + one malformed frame
    input.addData(Seq(
      rec(3, """M|{"c":"news","m":"breaking","s":"pub-1"}""", 4000),
      rec(4, "garbage-frame-no-pipe", 4500),
      rec(5, """M|{"c":"sport","m":"goal","s":"pub-2"}""", 5000)))
    query.processAllAvailable()
    // batch 3: client 41 leaves, second publish to news
    input.addData(Seq(
      rec(6, """L|{"c":"news","cid":"41"}""", 6000),
      rec(7, """M|{"c":"news","m":"update","s":"pub-1"}""", 7000)))
    query.processAllAvailable()
    query.stop()

    val result = spark.read.parquet(s"$out/deliveries")
      .orderBy("tsMillis", "cid")
    println("=== deliveries ===")
    result.show(20, truncate = false)
    println(s"TOTAL DELIVERIES: ${result.count()}")
    spark.stop()
  }
}
