package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

import graft.streaming.{ChannelStream, Ingest}
import graft.streaming.ChannelStream.{ChannelEvent, Delivery}
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.BinaryType

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The Kafka wire shape `Ingest.parseFrames` consumes. */
final case class KafkaRow(key: Array[Byte], value: Array[Byte], topic: String,
    partition: Int, offset: Long, timestamp: Timestamp)

/** Generator shape of one router workload (config.json `router.<name>`). */
final case class Shape(channels: Int, zipfS: Double, membersTop: Int,
    membersMin: Int, msgShare: Double, kickShare: Double,
    malformedShare: Double, batchFrames: Int, openRate: Double)

object Shape {
  def apply(cfg: Config, workload: String): Shape = {
    def d(k: String) = cfg.double("router", workload, k)
    def i(k: String) = cfg.int("router", workload, k)
    Shape(i("channels"), d("zipf_s"), i("members_top"), i("members_min"),
      d("msg_share"), d("kick_share"), d("malformed_share"),
      i("batch_frames"), d("open_rate_per_s"))
  }
}

/** One `addData` call: frames sharing one logical timestamp, with the
  * channel events a correct parse must yield (malformed frames yield
  * none). */
final class Chunk(val rows: Array[KafkaRow], val events: Array[ChannelEvent])

/** Seeded frame generator. Channels are drawn Zipf-skewed; each channel
  * has a membership target (`members_top / rank`, at least
  * `members_min`) and subscription churn joins below target and leaves
  * (or kicks) at target, so membership and fan-out width stay steady
  * however long a run lasts. Frame timestamps are logical (one
  * millisecond per chunk), so one seed always yields the same frames. */
final class Generator(shape: Shape, seed: Long) {
  private val rng = new java.util.SplittableRandom(seed)
  private val names = Array.tabulate(shape.channels)(i => f"ch$i%05d")
  private val cdf = {
    val w = Array.tabulate(shape.channels)(r => 1.0 / math.pow(r + 1, shape.zipfS))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private val target = Array.tabulate(shape.channels)(r =>
    math.max(shape.membersMin, math.round(shape.membersTop / (r + 1.0)).toInt))
  private val members = Array.fill(shape.channels)(mutable.ArrayBuffer.empty[Long])
  private var nextCid = 1L
  private var offset = 0L
  private var chunks = 0L
  private var msgs = 0L

  def membership: Int = members.map(_.size).sum

  private def channel(): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, shape.channels - 1)
  }

  private final class Builder {
    val ts = Generator.BaseMs + chunks
    val rows = mutable.ArrayBuffer.empty[KafkaRow]
    val events = mutable.ArrayBuffer.empty[ChannelEvent]
    def frame(text: String, ev: Option[ChannelEvent]): Unit = {
      rows += KafkaRow(null, text.getBytes(UTF_8), "quty-frames", 0, offset,
        new Timestamp(ts))
      offset += 1
      events ++= ev
    }
    def join(c: Int): Unit = {
      val cid = nextCid
      nextCid += 1
      members(c) += cid
      val sid = s"node-${cid % Generator.Nodes}"
      frame(s"""J|{"c":"${names(c)}","cid":"$cid","s":"$sid"}""",
        Some(ChannelEvent(ts, "J", names(c), cid, sid, "node", "")))
    }
    def leave(c: Int, op: String): Unit = {
      val m = members(c)
      val i = rng.nextInt(m.size)
      val cid = m(i)
      m(i) = m.last
      m.remove(m.size - 1)
      val sid = s"node-${cid % Generator.Nodes}"
      frame(s"""$op|{"c":"${names(c)}","cid":"$cid","s":"$sid"}""",
        Some(ChannelEvent(ts, op, names(c), cid, sid, "node", "")))
    }
    def message(c: Int): Unit = {
      msgs += 1
      val sender = s"pub-${rng.nextInt(Generator.Nodes)}"
      frame(s"""M|{"c":"${names(c)}","m":"m$msgs","s":"$sender"}""",
        Some(ChannelEvent(ts, "M", names(c), -1L, sender, "publisher", s"m$msgs")))
    }
    /** Frames the parse guard must drop: no '|', empty, empty opcode,
      * non-JSON payload. */
    def malformed(c: Int): Unit = rng.nextInt(4) match {
      case 0 => frame(s"garbage-${names(c)}", None)
      case 1 => frame("", None)
      case 2 => frame(s"""|{"c":"${names(c)}"}""", None)
      case _ => frame(s"J|${names(c)}", None)
    }
    def result(): Chunk = {
      chunks += 1
      new Chunk(rows.toArray, events.toArray)
    }
  }

  /** Joins every channel up to its membership target. */
  def prepopulate(): Chunk = {
    val b = new Builder
    for (c <- 0 until shape.channels; _ <- members(c).size until target(c)) b.join(c)
    b.result()
  }

  /** `n` frames of the workload mix. */
  def next(n: Int): Chunk = {
    val b = new Builder
    for (_ <- 0 until n) {
      val u = rng.nextDouble()
      val c = channel()
      if (u < shape.malformedShare) b.malformed(c)
      else if (u < shape.malformedShare + shape.msgShare) b.message(c)
      else if (members(c).size < target(c)) b.join(c)
      else if (rng.nextDouble() < shape.kickShare / (1 - shape.msgShare - shape.malformedShare)) b.leave(c, "K")
      else b.leave(c, "L")
    }
    b.result()
  }
}

object Generator {
  val BaseMs = 1700000000000L
  /** Subscribers are spread over this many owning nodes. */
  val Nodes = 8
}

/** The pure twin of the streaming pipeline: `ChannelStream.applyEvents`
  * folded chunk by chunk, each delivery serialized to the Kafka record
  * `Ingest.toKafkaRecords` must produce and hashed the way the sink
  * hashes it. Per chunk: (deliveries, checksum). */
final class Twin {
  private val state = mutable.Map.empty[String, Map[Long, String]]
  var deliveries = 0L

  def fold(events: Array[ChannelEvent]): Seq[Delivery] = {
    val out = mutable.ArrayBuffer.empty[Delivery]
    for ((ch, evs) <- events.groupBy(_.channel)) {
      val (m, d) = ChannelStream.applyEvents(ch, state.getOrElse(ch, Map.empty),
        evs.iterator, systemMessages = false)
      if (m.isEmpty) state.remove(ch) else state(ch) = m
      out ++= d
    }
    deliveries += out.size
    out.toSeq
  }

  /** Count and order-independent checksum of a chunk's deliveries. */
  def check(events: Array[ChannelEvent]): (Long, Long) = {
    val ds = fold(events)
    // deliveries of one message differ only in sid: hash each distinct
    // record once
    val memo = mutable.Map.empty[(String, String, Long, String, String), Long]
    val sum = ds.iterator.map { d =>
      memo.getOrElseUpdate((d.channel, d.message, d.tsMillis, d.origin, d.sid),
        Twin.hash(d))
    }.sum
    (ds.size.toLong, sum)
  }
}

object Twin {
  private def bytes(h: Long, b: Array[Byte]): Long =
    XxHash64Function.hash(b, BinaryType, h)

  /** xxhash64(key, value, origin header) of the record, low 32 bits, as
    * the sink computes it. */
  def hash(d: Delivery): Long = {
    val q = java.lang.Math.floorMod(d.tsMillis, 100L)
    val value = s"""M|{"c":"${d.channel}","m":"${d.message}","s":"${d.sid}","_q":$q}"""
    val h = bytes(bytes(bytes(42L, d.channel.getBytes(UTF_8)), value.getBytes(UTF_8)),
      d.origin.getBytes(UTF_8))
    h & 0xFFFFFFFFL
  }

  /** The sink's side of the same checksum over a micro-batch of records. */
  def sinkAgg(records: DataFrame): (Long, Long) = {
    val r = records.agg(count(lit(1)), coalesce(sum(xxhash64(col("key"), col("value"),
      col("headers").getItem(0).getField("value")).bitwiseAND(0xFFFFFFFFL)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}

/** One running pipeline: MemoryStream frames → parseFrames →
  * channelEvents → ChannelStream.deliveries → toKafkaRecords → a sink
  * that consumes every record (count and checksum per micro-batch). */
final class Rig(spark: SparkSession, shape: Shape, seed: Long,
    checkpoint: String, ls: Listeners, parent: Int) {
  val gen = new Generator(shape, seed)
  private val input = MemoryStream[KafkaRow](Encoders.product[KafkaRow], spark)
  val chunks = mutable.ArrayBuffer.empty[Chunk]
  val offsets = mutable.ArrayBuffer.empty[Long]
  val addedNs = mutable.ArrayBuffer.empty[Long]
  /** batchId → (records, checksum, sink completion nanos) */
  val sunk = new ConcurrentHashMap[Long, (Long, Long, Long)]()
  /** One permit per micro-batch the sink has started: by then the
    * batch's offsets are fixed, so a chunk added now waits, queued, for
    * the next batch alone. */
  val started = new java.util.concurrent.Semaphore(0)

  val (query: StreamingQuery, buildS: Double, buildMs: (Double, Double)) = {
    val t0 = ls.spans.nowMs
    val records = Ingest.toKafkaRecords(ChannelStream.deliveries(
      Ingest.channelEvents(Ingest.parseFrames(input.toDF()))), "quty-deliveries")
    val t1 = ls.spans.nowMs
    ls.spans.record(parent, "build", t0, t1)
    val q = records.writeStream.option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        started.release()
        val (n, sum) = Twin.sinkAgg(batch)
        sunk.put(id, (n, sum, System.nanoTime()))
        ()
      }.start()
    (q, (t1 - t0) / 1e3, (t0, t1))
  }

  def add(c: Chunk): Unit = synchronized {
    val o = input.addData(c.rows.toSeq).json().trim.toLong
    chunks += c
    offsets += o
    addedNs += System.nanoTime()
  }
  def added: Int = synchronized(chunks.size)

  def settle(): Unit = {
    query.processAllAvailable()
    ListenerDrain(spark.sparkContext)
  }
  def stop(): Unit = { query.stop(); ListenerDrain(spark.sparkContext) }
}

/** A router workload: set-up (repeated, median reported), a closed-loop
  * saturation phase, an open-loop phase at the shape's pinned rate, then
  * the per-batch twin check outside the timed region. */
object Router {
  /** Share of the measured seconds spent in the closed loop. */
  val ClosedShare = 0.4
  /** Open-loop chunks are due this often. */
  val ChunkMs = 20
  /** Batches of `batch_frames` each set-up runs after prepopulating,
    * so the JIT has compiled the pipeline before the timed phases. */
  val WarmupBatches = 3
  /** Share of the open loop not measured: it starts from an empty
    * queue, and micro-batch sizes take a few batches to settle. */
  val OpenSettleShare = 0.25

  def run(spark: SparkSession, cfg: Config, workload: String, shape: Shape,
      seed: Long, seconds: Double, setupReps: Int, ls: Listeners, work: String,
      run: Int): Result = {
    val sp = ls.spans
    val cpus = cfg.int("session", "cpus")

    // set-up: generate, start, prepopulate, warm up; repeated, the last
    // rig carries on into the measurement
    val setups = mutable.ArrayBuffer.empty[Double]
    var rig: Rig = null
    for (rep <- 1 to setupReps) {
      if (rig != null) rig.stop()
      val t0 = System.nanoTime()
      rig = sp.span(run, "setup") { id =>
        val r = new Rig(spark, shape, seed, s"$work/ckpt-$rep", ls, id)
        r.add(r.gen.prepopulate())
        r.settle()
        for (_ <- 1 to WarmupBatches) {
          r.add(r.gen.next(shape.batchFrames))
          r.settle()
        }
        sp.count(id, "rep" -> rep, "members" -> r.gen.membership)
        r
      }
      setups += (System.nanoTime() - t0) / 1e9
    }
    val setupBatches = rig.added

    // closed loop: one batch in flight and exactly one queued; the next
    // chunk is added as soon as the sink starts on the previous one
    val closedS = seconds * ClosedShare
    val closed = sp.span(run, "closed_loop") { _ =>
      val t0 = System.nanoTime()
      val end = t0 + (closedS * 1e9).toLong
      rig.started.drainPermits()
      loadThread {
        rig.add(rig.gen.next(shape.batchFrames))
        while (System.nanoTime() < end)
          if (rig.started.tryAcquire(10, java.util.concurrent.TimeUnit.MILLISECONDS))
            rig.add(rig.gen.next(shape.batchFrames))
      }
      (t0, System.nanoTime())
    }
    rig.settle()
    val afterClosed = rig.added

    // open loop: chunks due every ChunkMs at the pinned rate, timed
    // from when each was due
    val openS = seconds - closedS
    val perChunk = math.max(1, math.round(shape.openRate * ChunkMs / 1000.0).toInt)
    val due = mutable.ArrayBuffer.empty[Long]
    sp.span(run, "open_loop") { _ =>
      val t0 = System.nanoTime()
      val n = (openS * 1000 / ChunkMs).toInt
      loadThread {
        for (k <- 0 until n) {
          val at = t0 + k * ChunkMs * 1000000L
          var now = System.nanoTime()
          while (now < at) {
            java.util.concurrent.locks.LockSupport.parkNanos(at - now)
            now = System.nanoTime()
          }
          due += at
          rig.add(rig.gen.next(perChunk))
        }
      }
    }
    rig.settle()
    rig.stop()

    // map micro-batches to chunks through the source end offsets
    val progress = ls.progress.of(rig.query.runId)
      .filter(p => rig.sunk.containsKey(p.batchId))
    val chunkOf = rig.offsets.zipWithIndex.toMap
    var prevEnd = -1L
    val batches = progress.flatMap { p =>
      ProgressListener.endOffset(p).map { e =>
        val cs = (prevEnd + 1 to e).flatMap(o => chunkOf.get(o))
        prevEnd = e
        (p, cs)
      }
    }

    // twin check, outside the timed region
    val twin = new Twin
    val twinOf = rig.chunks.map(c => twin.check(c.events))
    val failures = mutable.ArrayBuffer.empty[String]
    for ((p, cs) <- batches) {
      val want = (cs.map(twinOf(_)._1).sum, cs.map(twinOf(_)._2).sum)
      val (n, sum, _) = rig.sunk.get(p.batchId)
      if ((n, sum) != want)
        failures += s"$workload batch ${p.batchId}: $n deliveries / checksum $sum, twin ${want._1} / ${want._2}"
    }
    val unmapped = rig.sunk.keySet.asScala.toSet -- batches.map(_._1.batchId)
    failures ++= unmapped.toSeq.sorted.map(b => s"$workload batch $b: no progress event")
    val covered = batches.flatMap(_._2).size
    if (covered != rig.chunks.size)
      failures += s"$workload: ${rig.chunks.size - covered} input chunks never processed"

    // metrics
    def doneNs(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
      rig.sunk.get(p.batchId)._3
    def frames(cs: Seq[Int]) = cs.map(rig.chunks(_).rows.length).sum
    val closedBatches = batches.filter(_._2.exists(c => c >= setupBatches && c < afterClosed))
    val rates = closedBatches.sliding(2).collect { case Seq(a, b) =>
      frames(b._2) / ((doneNs(b._1) - doneNs(a._1)) / 1e9)
    }.toSeq
    val openBatches = batches.filter(_._2.exists(_ >= afterClosed))
    val settled = afterClosed + (due.size * OpenSettleShare).toInt
    val lat = openBatches.flatMap { case (p, cs) =>
      cs.filter(_ >= settled).map(c => (doneNs(p) - due(c - afterClosed)) / 1e6)
    }
    val lag = due.indices.map(k => (rig.addedNs(afterClosed + k) - due(k)) / 1e6)
    val openFrames = lat.size.toLong * perChunk

    val e2e = Seq(
      Metric("throughput_per_s", Stats.median(rates), "1/s", rates.size),
      Metric("latency_p50_ms", Stats.quantile(lat, 0.5), "ms", openFrames),
      Metric("latency_p99_ms", Stats.quantile(lat, 0.99), "ms", openFrames))

    // per-layer: spans and counts from progress and listeners
    val layers = mutable.ArrayBuffer.empty[Metric]
    for ((p, cs) <- batches) {
      val start = scala.util.Try(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble)
        .getOrElse(sp.ms(doneNs(p)))
      val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val id = sp.record(run, "micro_batch", start, start + dur.getOrElse("triggerExecution", 0L),
        Seq("batch" -> p.batchId, "rows" -> p.numInputRows, "chunks" -> cs.size) ++
          p.stateOperators.headOption.toSeq.flatMap(s => Seq(
            "state_rows" -> s.numRowsTotal, "state_updated" -> s.numRowsUpdated)): _*)
      var t = start
      for (k <- Seq("latestOffset", "walCommit", "queryPlanning", "addBatch", "commitOffsets");
           v <- dur.get(k)) {
        sp.record(id, k, t, t + v)
        t += v
      }
    }
    val openP = openBatches.map(_._1)
    def dMed(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress], k: String) =
      Metric("", Stats.median(ps.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue))), "ms", ps.size)
    layers ++= Seq(
      dMed(openP, "addBatch").copy(name = "stream.add_batch_ms"),
      dMed(openP, "queryPlanning").copy(name = "stream.query_planning_ms"),
      dMed(openP, "walCommit").copy(name = "stream.wal_commit_ms"),
      dMed(openP, "commitOffsets").copy(name = "stream.commit_offsets_ms"),
      dMed(openP, "triggerExecution").copy(name = "stream.trigger_ms"))
    val backlog = openBatches.map { case (p, _) =>
      val t = doneNs(p)
      val added = rig.addedNs.indices.filter(rig.addedNs(_) <= t).map(rig.chunks(_).rows.length).sum
      val processed = batches.takeWhile(_._1.batchId <= p.batchId).map(b => frames(b._2)).sum
      (added - processed).toDouble
    }
    layers += Metric("stream.backlog_rows", Stats.median(backlog), "rows", backlog.size)
    val closedP = closedBatches.map(_._1)
    val so = closedP.flatMap(_.stateOperators.headOption)
    layers ++= Seq(
      Metric("state.rows_total", Stats.median(so.map(_.numRowsTotal.toDouble)), "rows", so.size),
      Metric("state.rows_updated", Stats.median(so.map(_.numRowsUpdated.toDouble)), "rows", so.size),
      Metric("state.rows_removed", Stats.median(so.map(_.numRowsRemoved.toDouble)), "rows", so.size),
      Metric("state.mem_bytes", Stats.median(so.map(_.memoryUsedBytes.toDouble)), "bytes", so.size),
      Metric("state.commit_ms", Stats.median(so.map(_.commitTimeMs.toDouble)), "ms", so.size),
      Metric("gen.lag_ms", Stats.quantile(lag, 0.99), "ms", lag.size))
    layers += Metric("query.build_s", rig.buildS, "s", 1)
    for (ex <- ls.exec) {
      val (b0, b1) = rig.buildMs
      val bj = ex.totals(j => j.timeMs >= b0 - 1 && j.timeMs <= b1 + 1)
      layers += Metric("query.build_jobs", bj.jobs, "count", 1)
      val (c0, c1) = closed
      val (w0, w1) = (sp.ms(c0), sp.ms(c1))
      val t = ex.totals(j => j.timeMs >= w0 && j.timeMs <= w1)
      val nb = math.max(1, closedBatches.size)
      layers ++= Exec.metrics(t, nb, (c1 - c0) / 1e9 / nb, (c1 - c0) / 1e9 / nb, cpus)
      for (pl <- ls.plan) layers ++= Exec.planMetrics(pl.within(w0, w1), nb)
    }
    sp.count(run, "batches" -> batches.size, "frames" -> rig.chunks.map(_.rows.length).sum,
      "deliveries" -> twin.deliveries)

    Result(setups.toSeq, e2e, layers.toSeq, batches.size.toLong, failures.toSeq)
  }

  /** Runs `body` on the one load-generator thread and waits for it. */
  private def loadThread(body: => Unit): Unit = {
    var err: Throwable = null
    val t = new Thread(() => try body catch { case e: Throwable => err = e }, "perfbench-gen")
    t.start()
    t.join()
    if (err != null) throw err
  }
}

/** What a workload hands back to Main. `setups` are the repeated
  * set-up timings (median reported); `attempted` counts the checked
  * operations. */
final case class Result(setups: Seq[Double], endToEnd: Seq[Metric],
    layers: Seq[Metric], attempted: Long, failures: Seq[String])

/** exec.* and plan.* from listener totals, normalised per unit of work
  * (a micro-batch or a pool pass). */
object Exec {
  def metrics(t: ExecTotals, units: Int, execPerUnit: Double,
      wallPerUnit: Double, cpus: Int): Seq[Metric] = {
    val u = units.toDouble
    Seq(
      Metric("exec.s", execPerUnit, "s", units),
      Metric("exec.jobs", t.jobs / u, "count", units),
      Metric("exec.stages", t.stages / u, "count", units),
      Metric("exec.tasks", t.tasks / u, "count", units),
      Metric("exec.run_s", t.runS / u, "s", units),
      Metric("exec.cpu_s", t.cpuS / u, "s", units),
      Metric("exec.gc_s", t.gcS / u, "s", units),
      Metric("exec.busy_frac", t.runS / (wallPerUnit * u * cpus), "ratio", units),
      Metric("exec.shuffle_read_bytes", t.shuffleRead / u, "bytes", units),
      Metric("exec.shuffle_write_bytes", t.shuffleWrite / u, "bytes", units),
      Metric("exec.spill_bytes", t.spill / u, "bytes", units),
      Metric("exec.peak_mem_bytes", t.peakMem.toDouble, "bytes", units),
      Metric("exec.task_skew", t.skew, "ratio", t.stages))
  }

  /** `builtAnalysisMs`: analysis already done when the frames were
    * built, which the listener's executions no longer include. */
  def planMetrics(ps: Seq[PlanListener#Planned], units: Int,
      builtAnalysisMs: Long = 0L): Seq[Metric] = {
    val u = units.toDouble
    Seq(
      Metric("plan.analysis_ms", (builtAnalysisMs + ps.map(_.analysisMs).sum) / u, "ms", ps.size),
      Metric("plan.optimization_ms", ps.map(_.optimizationMs).sum / u, "ms", ps.size),
      Metric("plan.planning_ms", ps.map(_.planningMs).sum / u, "ms", ps.size))
  }
}
