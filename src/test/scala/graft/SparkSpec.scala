package graft

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // shared session — do not stop

  /** Run `body` with the RocksDB state store provider set on the
    * shared session, restoring the previous provider afterwards. */
  protected def withRocksDbProvider[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  /** Drive a TTL-bearing streaming transform over file-source batches
    * on the RocksDB state store. TTL needs TimeMode.ProcessingTime,
    * under which neither processAllAvailable nor Trigger.AvailableNow
    * ever settles (timer batches keep the stream "busy") — so each
    * batch is its own run with a restart, bounded by a progress-watch
    * that waits until the run PROVABLY ingested its rows. */
  protected def runTtlFileStream[I <: Product : Encoder, O <: Product : Encoder](
      batches: Seq[Seq[I]], sleepBetweenMs: Long)(
      transform: Dataset[I] => Dataset[O]): Seq[O] = {
    val root = java.nio.file.Files.createTempDirectory("tws_ttl").toString
    val schema = implicitly[Encoder[I]].schema
    withRocksDbProvider {
      for ((b, i) <- batches.zipWithIndex) {
        if (i > 0) Thread.sleep(sleepBetweenMs)
        spark.createDataset(b).repartition(1).write.mode("append")
          .json(s"$root/in")
        val src = spark.readStream.schema(schema).json(s"$root/in").as[I]
        val q = transform(src)
          .writeStream.format("parquet")
          .option("path", s"$root/out")
          .option("checkpointLocation", s"$root/ckpt")
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
          .start()
        try {
          val deadline = System.currentTimeMillis() + 120000
          def ingested: Long = q.recentProgress.map(_.numInputRows).sum
          while (ingested < b.size && System.currentTimeMillis() < deadline)
            Thread.sleep(200)
          assert(ingested >= b.size,
            s"run $i never ingested its ${b.size} rows (not a vacuous pass)")
        } finally q.stop()
      }
      try spark.read.parquet(s"$root/out").as[O].collect().toSeq
      catch { case _: Exception => Seq.empty }
    }
  }

  /** Drive a streaming transform over MemoryStream batches on the
    * RocksDB state store, collecting every memory-sink row — the
    * shared harness for the transformWithState specs and for
    * ChannelStream on RocksDB. */
  protected def runRocksDbStream[I, O](batches: Seq[Seq[I]])(
      transform: Dataset[I] => Dataset[O])(
      implicit ienc: Encoder[I], oenc: Encoder[O]): Seq[O] =
    withRocksDbProvider {
      implicit val sqlCtx = spark.sqlContext
      val input =
        org.apache.spark.sql.execution.streaming.runtime.MemoryStream[I]
      val name = s"rocks_${SparkSpec.streamCounter.incrementAndGet()}"
      val q = transform(input.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .start()
      try {
        for (b <- batches) { input.addData(b); q.processAllAvailable() }
        spark.table(name).as[O].collect().toSeq
      } finally q.stop()
    }
}

object SparkSpec {
  private[graft] val streamCounter = new java.util.concurrent.atomic.AtomicInteger

  lazy val session: SparkSession = {
    val s = Session.builder(2)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
