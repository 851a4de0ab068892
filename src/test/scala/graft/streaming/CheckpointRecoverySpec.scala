package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import ChannelStream._

/** Checkpoint-restore: the property the reference cannot provide
  * (fire-and-forget, `lib/ChannelHub.js:274`) and Spark gives us —
  * stop the query mid-stream, restart from the checkpoint, and the
  * delivery log is exactly the same as an uninterrupted run (no loss,
  * no duplicates). Uses a file source so offsets survive the restart
  * (MemoryStream offsets die with the process).
  */
class CheckpointRecoverySpec extends SparkSpec {
  import spark.implicits._

  private def writeBatch(dir: String, name: String, events: Seq[ChannelEvent]): Unit =
    events.toDS().repartition(1).write.mode("append").json(s"$dir/in")

  /** Stop mid-stream, restart from the checkpoint, and check the
    * delivery log; run once per state store provider. */
  private def restartKeepsDeliveriesExact(): Unit = {
    val root = Files.createTempDirectory("ckpt_rec").toString
    val schema = implicitly[org.apache.spark.sql.Encoder[ChannelEvent]].schema

    def startQuery() = {
      val src = spark.readStream.schema(schema).json(s"$root/in")
        .as[ChannelEvent]
      ChannelStream.deliveries(src)
        .writeStream.format("parquet")
        .option("path", s"$root/out")
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode(OutputMode.Append)
        .start()
    }

    // run 1: subscribe two clients, deliver one message
    writeBatch(root, "b1", Seq(
      ChannelEvent(1000, "J", "news", 1, "n1", "publisher", ""),
      ChannelEvent(2000, "J", "news", 2, "n2", "publisher", ""),
      ChannelEvent(3000, "M", "news", -1, "", "publisher", "first")))
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()

    // while "down": one client leaves, a second message arrives
    writeBatch(root, "b2", Seq(
      ChannelEvent(4000, "L", "news", 1, "", "publisher", ""),
      ChannelEvent(5000, "M", "news", -1, "", "publisher", "second")))

    // run 2: restart from the same checkpoint — membership state and
    // source offsets must both recover
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()

    val out = spark.read.parquet(s"$root/out").as[Delivery].collect()
    val got = out.map(d => (d.cid, d.message)).sorted.toSeq
    assert(got == Seq((1L, "first"), (2L, "first"), (2L, "second")),
      s"unexpected delivery log: $got")
  }

  test("restart from checkpoint neither loses nor duplicates deliveries") {
    restartKeepsDeliveriesExact()
  }

  test("restart from checkpoint neither loses nor duplicates deliveries (RocksDB)") {
    withRocksDbProvider(restartKeepsDeliveriesExact())
  }

  test("transformWithState leaderboard state survives a restart (RocksDB)") {
    import StreamingTopK._
    val root = Files.createTempDirectory("ckpt_topk").toString
    val schema = implicitly[org.apache.spark.sql.Encoder[ValueEvent]].schema
    withRocksDbProvider {
      def startQuery() = {
        val src = spark.readStream.schema(schema).json(s"$root/in")
          .as[ValueEvent]
        StreamingTopK.leaderboard(src, k = 2)
          .writeStream.format("parquet")
          .option("path", s"$root/out")
          .option("checkpointLocation", s"$root/ckpt")
          .outputMode(OutputMode.Append)
          .start()
      }
      // run 1 fills the board
      Seq(ValueEvent("ch", 1L, 5.0), ValueEvent("ch", 2L, 9.0)).toDS()
        .repartition(1).write.mode("append").json(s"$root/in")
      val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
      // while down: one event that must evict the restored worst (5.0)
      Seq(ValueEvent("ch", 3L, 7.0)).toDS()
        .repartition(1).write.mode("append").json(s"$root/in")
      val q2 = startQuery(); q2.processAllAvailable(); q2.stop()

      val rows = spark.read.parquet(s"$root/out").as[LeaderRow].collect()
      val maxVersion = rows.map(_.version).max
      val latest = rows.filter(_.version == maxVersion)
        .sortBy(_.rank).map(r => (r.rank, r.event_id, r.value)).toSeq
      // only a restored board can know 9.0 outranks the new 7.0
      assert(latest == Seq((1L, 2L, 9.0), (2L, 3L, 7.0)),
        s"state not recovered: $latest")
    }
  }

  test("EwmaStream smoothed state survives a restart (RocksDB)") {
    import EwmaStream._
    val root = Files.createTempDirectory("ckpt_ewma").toString
    val schema = implicitly[org.apache.spark.sql.Encoder[Obs]].schema
    withRocksDbProvider {
      def startQuery() = {
        val src = spark.readStream.schema(schema).json(s"$root/in")
          .as[Obs]
        EwmaStream.features(src)
          .writeStream.format("parquet")
          .option("path", s"$root/out")
          .option("checkpointLocation", s"$root/ckpt")
          .outputMode(OutputMode.Append)
          .start()
      }
      // run 1: two observations establish the smoothed value
      Seq(Obs(1L, 10L, 0L, 100.0), Obs(1L, 20L, 1L, 50.0)).toDS()
        .repartition(1).write.mode("append").json(s"$root/in")
      val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
      // while down: one more observation, plus a replay of the last
      // applied row that the restored frontier must absorb
      Seq(Obs(1L, 20L, 1L, 50.0), Obs(1L, 30L, 2L, 10.0)).toDS()
        .repartition(1).write.mode("append").json(s"$root/in")
      val q2 = startQuery(); q2.processAllAvailable(); q2.stop()

      val rows = spark.read.parquet(s"$root/out").as[Feat].collect()
      val latest = rows.maxBy(_.version)
      // only restored state can continue the fold:
      // ((100, 50) -> 75) -> 0.5*10 + 0.5*75 = 42.5
      assert(latest.ewma_cents == 42.5 && latest.n_applied == 3L &&
        latest.n_stale == 0L,
        s"state not recovered: $latest")
    }
  }
}
