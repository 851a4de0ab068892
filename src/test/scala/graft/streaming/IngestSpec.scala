package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import graft.protocol.Frames
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** End-to-end ingestion pipeline over the Kafka wire shape: raw frame
  * bytes → parse → channel events → stateful routing → deliveries.
  */
class IngestSpec extends SparkSpec {
  import spark.implicits._

  case class KafkaRecord(key: Array[Byte], value: Array[Byte],
      topic: String, partition: Int, offset: Long, timestamp: Timestamp)

  private def rec(offset: Long, frame: String, tsMillis: Long = 1000L) =
    KafkaRecord(null, frame.getBytes("UTF-8"), "quty-frames", 0, offset,
      new Timestamp(tsMillis))

  private var n = 0
  private def runPipeline(batches: Seq[Seq[KafkaRecord]]): Seq[ChannelStream.Delivery] = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[KafkaRecord]
    n += 1
    val name = s"ingest_$n"
    val q = ChannelStream.deliveries(
        Ingest.channelEvents(Ingest.parseFrames(input.toDF())))
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append).start()
    try {
      for (b <- batches) { input.addData(b); q.processAllAvailable() }
      spark.table(name).as[ChannelStream.Delivery].collect().toSeq
    } finally q.stop()
  }

  private val frames = Seq(
    """J|{"c":"news","cid":"41","s":"node-1","_q":3}""",
    """M|{"c":"news","m":"hi \\"there\\"","s":"pub-1","_q":99}""",
    """M|{"c":"news","m":"x","b":true}""", """L|{"c":"news","cid":"41"}""",
    """K|{"c":"news","cid":"12"}""", """M|{"c":unterminated""",
    """M|["c","news"]""", "M|plain text", "M|", "no-pipe", "", """|{"c":"x"}""",
    """S|{"c":null,"m":7}""", """M|{"c":"a|b","m":"é中"}""")

  private def kafka: DataFrame =
    spark.sparkContext.parallelize(frames.zipWithIndex.map { case (f, i) =>
      (null: Array[Byte], f.getBytes("UTF-8"), "quty-frames", 0, i.toLong,
        new Timestamp(1000L))
    }, 2).toDF("key", "value", "topic", "partition", "offset", "timestamp")

  test("parseFrames parses each frame's JSON once: at most 2 from_json in the plan") {
    val plan = Ingest.channelEvents(Ingest.parseFrames(kafka))
      .queryExecution.optimizedPlan
    val parses = plan.collect { case p =>
      p.expressions.map(_.collect { case j: JsonToStructs => j }.size).sum
    }.sum
    assert(parses >= 1 && parses <= 2, s"$parses from_json calls in:\n$plan")
  }

  test("parseFrames matches the field-by-field parse it replaced") {
    // the replaced spelling: one conditional from_json per field
    def oldParse(df: DataFrame): DataFrame = {
      val payload = Frames.framePayloadOf(col("value").cast("string"))
      val parsed = when(Frames.isJsonPayload(payload), from_json(payload,
        Frames.payloadSchema, Map("mode" -> "PERMISSIVE")))
      df.select(col("topic"), col("partition"), col("offset"),
        col("timestamp").as("kafka_ts"), col("key").cast("string").as("key"),
        Frames.frameOp(col("value").cast("string")).as("op"),
        parsed.getField("_q").as("seq"), parsed.getField("c").as("channel"),
        parsed.getField("m").as("message"), parsed.getField("s").as("sender"),
        parsed.getField("cid").as("cid"))
    }
    val now = Ingest.parseFrames(kafka)
    val was = oldParse(kafka)
    assert(now.schema == was.schema)
    assert(now.orderBy("offset").collect().toSeq == was.orderBy("offset").collect().toSeq)
    assert(Ingest.channelEvents(now).collect().toSeq.sortBy(_.toString) ==
      Ingest.channelEvents(was).collect().toSeq.sortBy(_.toString))
  }

  test("frames flow end-to-end: join then message then delivery") {
    val out = runPipeline(Seq(
      Seq(rec(0, """J|{"c":"news","cid":"41","s":"node-1"}""", 1000),
          rec(1, """J|{"c":"news","cid":"42","s":"node-2"}""", 2000)),
      Seq(rec(2, """M|{"c":"news","m":"breaking","s":"pub-1"}""", 3000))))
    assert(out.map(d => (d.cid, d.message)).toSet ==
      Set((41L, "breaking"), (42L, "breaking")))
    assert(out.forall(_.origin == "publisher"))
  }

  test("malformed frames are filtered, valid ones still deliver") {
    val out = runPipeline(Seq(
      Seq(rec(0, """J|{"c":"news","cid":"7","s":"node-1"}"""),
          rec(1, "garbage-no-pipe"),
          rec(2, """|{"c":"news"}""")),
      Seq(rec(3, """M|{"c":"news","m":"ok"}""", 5000))))
    assert(out.map(_.cid) == Seq(7L))
  }

  test("a non-numeric cid drops its frame; the stream stays up") {
    val bad = Set(1L, 4L, 6L)
    val batches = Seq(
      Seq(rec(0, """J|{"c":"news","cid":"41"}""", 1000),
          rec(1, """J|{"c":"news","cid":"abc"}""", 1000),
          rec(2, """J|{"c":"news","cid":"42"}""", 1000),
          rec(3, """J|{"c":"news"}""", 1000)),
      Seq(rec(4, """L|{"c":"news","cid":"4x1"}""", 2000),
          rec(5, """M|{"c":"news","m":"hi"}""", 2000),
          rec(6, """M|{"c":"news","m":"lost","cid":""}""", 2000)))
    val clean = batches.map(_.filterNot(r => bad(r.offset)))
    val got = runPipeline(batches)
    assert(got.nonEmpty && got.map(_.cid).toSet == Set(41L, 42L, -1L))
    assert(got.sortBy(_.toString) == runPipeline(clean).sortBy(_.toString))
    // a batch over a local relation too (constant-folded while optimized)
    val local = batches.flatten.map(r =>
      (r.key, r.value, r.topic, r.partition, r.offset, r.timestamp))
      .toDF("key", "value", "topic", "partition", "offset", "timestamp")
    val events = Ingest.channelEvents(Ingest.parseFrames(local))
    assert(events.collect().map(_.cid).sorted.toSeq == Seq(-1L, -1L, 41L, 42L))
  }

  test("node-originated messages are tagged for loop prevention") {
    val out = runPipeline(Seq(
      Seq(rec(0, """J|{"c":"ch","cid":"1","s":"node-1"}""")),
      Seq(rec(1, """M|{"c":"ch","m":"relay","s":"node-9"}""", 2000))))
    assert(out.map(_.origin) == Seq("node"))
  }

  test("unsubscribe frame stops subsequent delivery") {
    val out = runPipeline(Seq(
      Seq(rec(0, """J|{"c":"ch","cid":"1","s":"node-1"}""", 1000)),
      Seq(rec(1, """L|{"c":"ch","cid":"1"}""", 2000)),
      Seq(rec(2, """M|{"c":"ch","m":"gone"}""", 3000))))
    assert(out.isEmpty)
  }

  test("parquet sink: a replayed micro-batch overwrites itself, never duplicates") {
    // foreachBatch is at-least-once — a crash between the parquet and
    // checkpoint commits re-runs the batch. The sink keys the write on
    // batch_id with dynamic partition overwrite, so the replay must
    // leave the table IDENTICAL, not doubled.
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("ingest_sink").toString + "/deliveries"
    def d(cid: Long, ch: String, msg: String) =
      ChannelStream.Delivery(ch, cid, "node-1", msg, 1000L, "publisher")
    val b0 = Seq(d(1, "news", "a"), d(2, "news", "a"), d(3, "sport", "b"))
    val b1 = Seq(d(1, "news", "c"))
    Ingest.writeDeliveryBatch(b0.toDS(), 0L, path)
    Ingest.writeDeliveryBatch(b1.toDS(), 1L, path)
    Ingest.writeDeliveryBatch(b0.toDS(), 0L, path) // the replay
    val rows = spark.read.parquet(path)
      .select("cid", "channel", "message").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(rows.sorted == (b0 ++ b1)
      .map(x => (x.cid, x.channel, x.message)).sorted,
      s"replay duplicated or lost rows: $rows")
  }
}
