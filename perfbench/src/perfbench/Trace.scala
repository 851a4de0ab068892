package perfbench

import java.io.PrintWriter
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A metric as printed: name, value, unit and sample count. */
final case class Metric(name: String, value: Double, unit: String, n: Long)

/** In-memory span recorder, written once at the end of a traced run.
  * Times are epoch milliseconds with sub-millisecond precision. When
  * disabled, `span` only runs its body. */
final class Spans(val enabled: Boolean) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(nanos: Long): Double = epoch0 + (nanos - nano0) / 1e6
  def nowMs: Double = ms(System.nanoTime())

  private final case class Span(id: Int, parent: Int, name: String,
      start: Double, end: Double, attrs: Map[String, Any])
  private val done = mutable.ArrayBuffer.empty[Span]
  private val attrs = mutable.Map.empty[Int, Map[String, Any]]
  private var next = 0

  def record(parent: Int, name: String, start: Double, end: Double,
      kv: (String, Any)*): Int = synchronized {
    next += 1
    if (enabled) done += Span(next, parent, name, start, end, kv.toMap)
    next
  }

  /** Time `body` as a span under `parent`; the body gets the span id so
    * it can hang children and counts under it. */
  def span[T](parent: Int, name: String)(body: Int => T): T = {
    val id = synchronized { next += 1; next }
    val t0 = nowMs
    try body(id)
    finally if (enabled) synchronized {
      done += Span(id, parent, name, t0, nowMs, attrs.remove(id).getOrElse(Map.empty))
    }
  }

  def count(id: Int, kv: (String, Any)*): Unit = if (enabled) synchronized {
    attrs(id) = attrs.getOrElse(id, Map.empty) ++ kv
    val i = done.indexWhere(_.id == id)
    if (i >= 0) done(i) = done(i).copy(attrs = done(i).attrs ++ kv)
  }

  /** One JSON object per line: id, parent (0 = root), name, start_ms,
    * end_ms and the counts recorded at that boundary. */
  def write(path: String): Unit = if (enabled) {
    def v(x: Any): String = x match {
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n: Number => n.toString
      case s => "\"" + s.toString.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    }
    val w = new PrintWriter(path, "UTF-8")
    try synchronized {
      for (s <- done.sortBy(s => (s.start, s.id))) {
        val a = s.attrs.toSeq.sortBy(_._1).map { case (k, x) => s"${v(k)}:${v(x)}" }
        w.println(s"""{"id":${s.id},"parent":${s.parent},"name":${v(s.name)},"start_ms":${v(s.start)},"end_ms":${v(s.end)},"attrs":${a.mkString("{", ",", "}")}}""")
      }
    } finally w.close()
  }
}

/** Scheduler-side counts per job, registered only in traced runs.
  * Jobs are attributed by job group (set by the benchmark around each
  * call it makes) or by start time for streaming micro-batches. */
final class ExecListener extends SparkListener {
  final case class Job(id: Int, timeMs: Long, group: String, stages: Seq[Int])
  final case class Stage(id: Int, tasks: Int, runMs: Long, cpuNs: Long,
      gcMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long)
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.Map.empty[Int, Stage]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val peakMem = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs += Job(e.jobId, e.time, g, e.stageIds)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null) taskMs.getOrElseUpdate(e.stageId,
      mutable.ArrayBuffer.empty) += e.taskInfo.duration
    if (e.taskMetrics != null) peakMem(e.stageId) = math.max(
      peakMem.getOrElse(e.stageId, 0L), e.taskMetrics.peakExecutionMemory)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages(i.stageId) =
      if (m == null) Stage(i.stageId, i.numTasks, 0, 0, 0, 0, 0, 0)
      else Stage(i.stageId, i.numTasks, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** Totals over the jobs `keep` selects. Stages shared by several jobs
    * (reused shuffles) count once. */
  def totals(keep: Job => Boolean): ExecTotals = synchronized {
    val js = jobs.filter(keep).toSeq
    val ids = js.flatMap(_.stages).distinct.filter(stages.contains)
    val ss = ids.map(stages)
    val skew = ids.flatMap(id => taskMs.get(id).filter(_.size >= 2).map { d =>
      val med = Stats.median(d.map(_.toDouble).toSeq)
      if (med > 0) d.max / med else 1.0
    })
    ExecTotals(js.size, ss.size, ss.map(_.tasks.toLong).sum,
      ss.map(_.runMs).sum / 1e3, ss.map(_.cpuNs).sum / 1e9,
      ss.map(_.gcMs).sum / 1e3, ss.map(_.shuffleRead).sum,
      ss.map(_.shuffleWrite).sum, ss.map(_.spill).sum,
      (0L +: ids.flatMap(peakMem.get)).max,
      if (skew.isEmpty) 1.0 else skew.max)
  }
}

final case class ExecTotals(jobs: Int, stages: Int, tasks: Long,
    runS: Double, cpuS: Double, gcS: Double, shuffleRead: Long,
    shuffleWrite: Long, spill: Long, peakMem: Long, skew: Double)

/** Catalyst phase durations of every successful query execution,
  * keyed by the start of its first phase (epoch ms). */
final class PlanListener extends QueryExecutionListener {
  final case class Planned(startMs: Long, analysisMs: Long,
      optimizationMs: Long, planningMs: Long)
  private val seen = new ConcurrentLinkedQueue[Planned]()
  override def onSuccess(func: String, qe: QueryExecution, durNs: Long): Unit = {
    val ph = qe.tracker.phases
    def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    if (ph.nonEmpty) seen.add(Planned(ph.values.map(_.startTimeMs).min,
      d("analysis"), d("optimization"), d("planning")))
  }
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  def within(fromMs: Double, toMs: Double): Seq[Planned] =
    seen.asScala.filter(p => p.startMs >= fromMs - 1 && p.startMs <= toMs + 1).toSeq
}

/** Streaming progress of every query; registered in every run, since
  * the router workloads map micro-batches to input chunks through the
  * source end offsets it reports. */
final class ProgressListener extends StreamingQueryListener {
  private val seen = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    seen.add(e.progress)
  def of(runId: java.util.UUID): Seq[StreamingQueryProgress] =
    seen.asScala.filter(_.runId == runId).toSeq.sortBy(_.batchId)
}

object ProgressListener {
  def endOffset(p: StreamingQueryProgress): Option[Long] =
    p.sources.headOption.flatMap(s => Option(s.endOffset))
      .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
}

/** The listeners of one run: progress always, the rest when traced. */
final class Listeners(val spans: Spans, val exec: Option[ExecListener],
    val plan: Option[PlanListener], val progress: ProgressListener)
