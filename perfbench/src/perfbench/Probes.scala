package perfbench

import graft.Tables
import graft.streaming.{ChannelStream, Ingest}
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.{Encoders, SparkSession}

/** Static per-layer probes of a traced run: each calls one layer's
  * public entry point on a fixed input, a few times, and reports the
  * median. They run after the workload, so they cannot disturb it. */
object Probes {
  private val Reps = 3

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** `Tables.<t>` for all ten tables: wall per call and the Spark jobs
    * one load starts. */
  def tables(spark: SparkSession, data: String, ls: Listeners, parent: Int): Seq[Metric] = {
    val loads = Seq[(String, (SparkSession, String) => Any)](
      "region" -> Tables.region, "nation" -> Tables.nation,
      "customer" -> Tables.customer, "supplier" -> Tables.supplier,
      "part" -> Tables.part, "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem, "events" -> Tables.events,
      "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)
    val sc = spark.sparkContext
    val ms = ls.spans.span(parent, "tables") { id =>
      for (rep <- 1 to Reps; (t, load) <- loads) yield {
        sc.setJobGroup(s"perfbench|tables|$rep|$t", t)
        try ls.spans.span(id, s"tables.$t")(_ => timed(load(spark, data))) * 1e3
        finally sc.clearJobGroup()
      }
    }
    ListenerDrain(sc)
    val jobs = ls.exec.map(_.totals(_.group.startsWith("perfbench|tables|")).jobs)
      .getOrElse(0)
    Seq(Metric("tables.load_ms", Stats.median(ms), "ms", ms.size),
      Metric("tables.load_jobs", jobs.toDouble / ms.size, "count", ms.size))
  }

  /** frames: `parseFrames` + `channelEvents` over one generated batch
    * of `shape`, static, to the noop sink; and the share of frames the
    * parse guard drops. */
  def frames(spark: SparkSession, shape: Shape, seed: Long, ls: Listeners,
      parent: Int): Seq[Metric] = ls.spans.span(parent, "frames") { _ =>
    val gen = new Generator(shape, seed)
    gen.prepopulate()
    val batch = gen.next(shape.batchFrames)
    val df = spark.createDataset(batch.rows.toSeq)(Encoders.product[KafkaRow]).toDF()
    val events = Ingest.channelEvents(Ingest.parseFrames(df))
    val parse = (1 to Reps).map(_ => timed(QueryMix.noop(events.toDF())))
    val kept = events.count()
    val n = batch.rows.length
    Seq(Metric("frames.parse_us_per_frame", Stats.median(parse) * 1e6 / n, "us", n),
      Metric("frames.malformed_frac", (n - kept).toDouble / n, "ratio", n))
  }

  /** channel and sink over one generated batch of `shape`: the
    * single-threaded driver-side `applyEvents` fold after the
    * membership set-up, and `toKafkaRecords` over its deliveries. */
  def channelSink(spark: SparkSession, shape: Shape, seed: Long, ls: Listeners,
      parent: Int): Seq[Metric] = ls.spans.span(parent, "channel_sink") { _ =>
    val gen = new Generator(shape, seed)
    val prepop = gen.prepopulate()
    val batch = gen.next(shape.batchFrames)
    val twins = (1 to Reps).map { _ =>
      val twin = new Twin
      twin.fold(prepop.events)
      val t0 = System.nanoTime()
      val out = twin.fold(batch.events)
      ((System.nanoTime() - t0) / 1e9, out)
    }
    val deliveries = twins.head._2
    val ds = spark.createDataset(deliveries)(Encoders.product[ChannelStream.Delivery])
    val sink = (1 to Reps).map(_ => timed(QueryMix.noop(Ingest.toKafkaRecords(ds, "quty-deliveries"))))
    val ev = batch.events.length
    Seq(
      Metric("channel.apply_us_per_event", Stats.median(twins.map(_._1)) * 1e6 / ev, "us", ev),
      Metric("channel.deliveries_per_event", deliveries.size.toDouble / ev, "ratio", ev),
      Metric("sink.serialize_us_per_delivery",
        Stats.median(sink) * 1e6 / math.max(1, deliveries.size), "us", deliveries.size))
  }
}
