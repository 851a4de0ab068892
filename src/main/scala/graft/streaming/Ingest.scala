package graft.streaming

import graft.protocol.Frames
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Structured-Streaming ingestion with Kafka semantics (north star:
  * "Structured Streaming ingestion + Kafka semantics").
  *
  * The transforms consume the KAFKA WIRE SHAPE — (key BINARY,
  * value BINARY, topic STRING, partition INT, offset LONG,
  * timestamp TIMESTAMP) — which is exactly what
  * `spark.readStream.format("kafka")` yields, so with the
  * spark-sql-kafka connector on the classpath a real broker plugs in
  * unchanged:
  *
  * {{{
  * val raw = spark.readStream.format("kafka")
  *   .option("kafka.bootstrap.servers", brokers)
  *   .option("subscribe", "quty-frames")
  *   .option("startingOffsets", "earliest").load()
  * ChannelStream.deliveries(Ingest.channelEvents(Ingest.parseFrames(raw)))
  * }}}
  *
  * (The connector jar isn't in this container, so specs drive the same
  * shape through MemoryStream — semantics, not transport, are what the
  * pipeline owns.)
  *
  * Delivery guarantees: source offsets + checkpointed state give
  * at-least-once; [[dedupeByOffset]] upgrades re-delivered micro-batches
  * to effectively-once, the strictly-stronger replacement for the
  * reference's fire-and-forget (`lib/ChannelHub.js:274`).
  */
object Ingest {

  /** Decode the wire frame ("{op}|{json}" per `lib/util.js:176-246`)
    * out of the Kafka value bytes; keep source provenance columns.
    * The payload's JSON is parsed ONCE per row: `from_json` is
    * projected into one struct column that the field reads of the next
    * projection share (CollapseProject does not inline a non-cheap
    * expression into several references), instead of one parse per
    * field. */
  def parseFrames(kafkaShaped: DataFrame): DataFrame = {
    val raw = col("value").cast("string")
    kafkaShaped.select(
      col("topic"), col("partition"), col("offset"),
      col("timestamp").as("kafka_ts"),
      col("key").cast("string").as("key"),
      Frames.frameOp(raw).as("op"),
      Frames.parsePayload(Frames.framePayloadOf(raw)).as("parsed"))
      .select(col("topic"), col("partition"), col("offset"),
        col("kafka_ts"), col("key"), col("op"),
        col("parsed._q").as("seq"),
        col("parsed.c").as("channel"),
        col("parsed.m").as("message"),
        col("parsed.s").as("sender"),
        col("parsed.cid").as("cid"))
  }

  /** Drop frames the broker re-delivered: (topic, partition, offset) is
    * the Kafka identity of a record. Watermark bounds the dedup state. */
  def dedupeByOffset(parsed: DataFrame): DataFrame =
    parsed
      .withWatermark("kafka_ts", "10 minutes")
      .dropDuplicatesWithinWatermark("topic", "partition", "offset")

  /** Narrow to the stateful router's input type. Malformed frames
    * (null op — the reference's `false` return — no channel, or a
    * `cid` that is not a number) yield no event, the streaming analog
    * of the parse guard at `lib/Server.js:396-401`. A missing `cid`
    * reads as -1. */
  def channelEvents(parsed: DataFrame): Dataset[ChannelStream.ChannelEvent] = {
    import parsed.sparkSession.implicits._
    val cid = col("cid").try_cast("long")
    parsed
      .filter(col("op").isNotNull && col("channel").isNotNull)
      .select(
        unix_millis(col("kafka_ts")).as("tsMillis"),
        col("op"),
        col("channel"),
        // the array is null for a non-numeric cid, so explode yields no
        // row; a Filter on cid would be pushed below the parse and
        // parse the JSON again for each field it reads
        explode(when(col("cid").isNull, array(lit(-1L)))
          .when(cid.isNotNull, array(cid))).as("cid"),
        coalesce(col("sender"), lit("")).as("sid"),
        // publisher-originated unless the sender field names a node —
        // the provenance split of lib/QutyCluster.js:600-616
        when(col("sender").startsWith("node-"), "node")
          .otherwise("publisher").as("origin"),
        coalesce(col("message"), lit("")).as("message"))
      .as[ChannelStream.ChannelEvent]
  }

  /** Producer relation (O2 outbound — the sink-side twin of
    * [[parseFrames]]): serialize deliveries into the EXACT input
    * relation `df.writeStream.format("kafka")` consumes per the
    * Structured Streaming + Kafka integration guide — topic STRING,
    * key BINARY, value BINARY, headers
    * ARRAY&lt;STRUCT&lt;key STRING, value BINARY&gt;&gt;. The optional
    * `partition` INT column is deliberately omitted: the producer's
    * key-hash partitioner decides, and keying on `channel` gives
    * per-channel ordering at the broker — the delivery-order unit the
    * reference's hub loop guarantees (`lib/ChannelHub.js:258-272`).
    * With the connector jar on the classpath this plugs in unchanged:
    * `toKafkaRecords(d, "t").writeStream.format("kafka")...`.
    *
    * `seq` is the frame's mod-100 `_q` counter (`lib/util.js:13`).
    * ==DEFAULT DEVIATES FROM THE REFERENCE== The default
    * `pmod(tsMillis, 100)` is streaming-safe (no window functions are
    * allowed on an unaggregated stream) but NON-SEQUENTIAL: a consumer
    * using `_q` for gap/ordering detection will see jumps. It is the
    * right default only because the streaming path has no alternative;
    * BATCH callers must not ship it accidentally (ADVICE r14) — pass
    * the true per-sender counter instead:
    * {{{
    * toKafkaRecords(d, t, seq = pmod(row_number().over(
    *   Window.partitionBy($"sid").orderBy($"tsMillis")), lit(100)))
    * }}} */
  def toKafkaRecords(deliveries: Dataset[ChannelStream.Delivery],
      topic: String,
      seq: org.apache.spark.sql.Column = pmod(col("tsMillis"), lit(100)))
      : DataFrame =
    deliveries.select(
      lit(topic).as("topic"),
      col("channel").cast("binary").as("key"),
      Frames.serializeFrame(lit("M"), col("channel"), col("message"),
        col("sid"), seq).cast("binary").as("value"),
      array(struct(lit("origin").as("key"),
        col("origin").cast("binary").as("value"))).as("headers"))

  /** Sink: deliveries → parquet partitioned by (batch_id, channel)
    * (the fan-out write a downstream consumer tails). foreachBatch is
    * AT-LEAST-once — a crash between the parquet commit and the
    * checkpoint commit replays the micro-batch — so the write is
    * keyed on batchId with DYNAMIC partition overwrite: a replay
    * rewrites exactly its own batch_id partitions instead of
    * appending a second copy, making the sink effectively-once (the
    * standard foreachBatch idempotence recipe). */
  def deliverToParquet(deliveries: Dataset[ChannelStream.Delivery],
      path: String, checkpoint: String) =
    deliveries.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: Dataset[ChannelStream.Delivery], batchId: Long) =>
          writeDeliveryBatch(batch, batchId, path)
      }

  /** The idempotent per-batch write (exposed so IngestSpec can replay
    * a batchId and assert no duplicate rows survive). */
  private[graft] def writeDeliveryBatch(
      batch: Dataset[ChannelStream.Delivery], batchId: Long,
      path: String): Unit =
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id", "channel").parquet(path)
}
