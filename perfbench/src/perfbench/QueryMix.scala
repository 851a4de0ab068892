package perfbench

import graft.SparkEntry
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** query_mix: the pinned pool of `SparkEntry.queries`, in seeded order,
  * over the committed sf0.01 tables. Set-up is one pass that writes
  * every result for the DuckDB oracle check, then one warm-up pass to
  * the noop sink; the timed region is whole passes to the noop sink
  * until `seconds` have elapsed. */
object QueryMix {
  /** One query execution: build (the `SparkEntry.queries` call) and
    * exec (the write), as epoch ms. */
  final case class Ran(name: String, pass: Int, t0: Double, t1: Double,
      t2: Double, ok: Boolean, span: Int, analysisMs: Long) {
    def buildS: Double = (t1 - t0) / 1e3
    def execS: Double = (t2 - t1) / 1e3
    def totalS: Double = (t2 - t0) / 1e3
  }

  val Families = Seq("route", "member", "auth", "tpch", "graph", "dedup", "window", "sim")

  def family(q: String): String =
    if (q.matches("q[0-9]+_.*")) "tpch" else q.takeWhile(_ != '_')

  def group(pass: Int, name: String, phase: String) = s"perfbench|p$pass|$name|$phase"

  /** Build and write one query under job groups naming it, outside any
    * cross-query cache (persisted frames are cleared after). */
  def runOne(spark: SparkSession, name: String, data: String, pass: Int,
      sp: Spans, parent: Int, write: org.apache.spark.sql.DataFrame => Unit,
      failures: mutable.Buffer[String]): Ran = {
    val sc = spark.sparkContext
    sp.span(parent, "query") { id =>
      val t0 = sp.nowMs
      var t1 = t0
      var analysisMs = 0L
      val ok = try {
        sc.setJobGroup(group(pass, name, "build"), name)
        val df = sp.span(id, "build")(_ => SparkEntry.queries(name)(spark, data))
        t1 = sp.nowMs
        // a DataFrame is analyzed when it is built, so the write's own
        // tracker sees no analysis: take it from the built frame
        if (sp.enabled) analysisMs =
          df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
        sc.setJobGroup(group(pass, name, "exec"), name)
        sp.span(id, "exec")(_ => write(df))
        true
      } catch {
        case e: Throwable =>
          failures += s"$name (pass $pass): ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          false
      } finally {
        sc.clearJobGroup()
        spark.catalog.clearCache()
      }
      val t2 = sp.nowMs
      sp.count(id, "query" -> name, "pass" -> pass, "ok" -> (if (ok) 1 else 0))
      Ran(name, pass, t0, if (ok) t1 else t2, t2, ok, id, analysisMs)
    }
  }

  /** The check pass: every pool query's result as one parquet dir,
    * plus the oracle SQL of each, for the launcher's DuckDB compare. */
  def checkPass(spark: SparkSession, pool: Seq[String], data: String,
      dir: String, sp: Spans, parent: Int,
      failures: mutable.Buffer[String]): Seq[Ran] = {
    val runs = pool.map(q => runOne(spark, q, data, 0, sp, parent,
      _.repartition(1).write.mode("overwrite").parquet(s"$dir/$q"), failures))
    val oracle = SparkEntry.oracleSql
    val json = pool.filter(oracle.contains).map(q =>
      graft.JsonOut.q(q) + ":" + graft.JsonOut.q(oracle(q))).mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/oracle.json"), json)
    runs
  }

  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, cfg: Config, seed: Long, seconds: Double,
      ls: Listeners, data: String, work: String, run: Int): Result = {
    val sp = ls.spans
    val pool = cfg.strings("query_mix", "pool")
    val rng = new scala.util.Random(seed)
    val failures = mutable.ArrayBuffer.empty[String]

    val t0 = System.nanoTime()
    val checked = sp.span(run, "setup") { id =>
      // the check pass, then one pass to the noop sink: the JIT is still
      // compiling after the first, and a cold timed pass would move the
      // per-query medians with the number of passes a run fits
      checkPass(spark, rng.shuffle(pool), data, s"$work/check", sp, id, failures) ++
        rng.shuffle(pool).map(q => runOne(spark, q, data, 0, sp, id, noop, failures))
    }
    val setupS = (System.nanoTime() - t0) / 1e9

    val ran = mutable.ArrayBuffer.empty[Ran]
    val passWall = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    var pass = 0
    while (pass == 0 || System.nanoTime() - start < seconds * 1e9) {
      pass += 1
      val p0 = System.nanoTime()
      sp.span(run, "pass") { id =>
        ran ++= rng.shuffle(pool).map(q => runOne(spark, q, data, pass, sp, id, noop, failures))
      }
      passWall += (System.nanoTime() - p0) / 1e9
    }
    // each query's median over the passes first: the pool holds few,
    // very different queries, so order statistics over raw executions
    // would jump between queries from run to run
    val good = ran.filter(_.ok).toSeq
    val perQuery = good.groupBy(_.name).values.map(rs => Stats.median(rs.map(_.totalS))).toSeq
    val e2e = Seq(
      Metric("mix_s", Stats.median(passWall.toSeq), "s", passWall.size),
      Metric("throughput_per_s", perQuery.size / perQuery.sum, "1/s", good.size),
      Metric("latency_p50_ms", Stats.median(perQuery) * 1e3, "ms", good.size),
      Metric("latency_p99_ms", Stats.quantile(perQuery, 0.99) * 1e3, "ms", good.size))
    val layers = if (ls.exec.isEmpty) Seq.empty
      else layerMetrics(spark, cfg, ls, ran.toSeq, passWall.toSeq)
    Result(Seq(setupS), e2e, layers, (checked.size + ran.size).toLong, failures.toSeq)
  }

  /** One traced pass, for the query layers of a run whose own workload
    * never reaches them. */
  def probe(spark: SparkSession, cfg: Config, seed: Long, ls: Listeners,
      data: String, parent: Int): Result = {
    val failures = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    val ran = ls.spans.span(parent, "pass")(id => new scala.util.Random(seed)
      .shuffle(cfg.strings("query_mix", "pool"))
      .map(q => runOne(spark, q, data, 1, ls.spans, id, noop, failures)))
    val wall = (System.nanoTime() - t0) / 1e9
    Result(Nil, Nil, layerMetrics(spark, cfg, ls, ran, Seq(wall)), ran.size.toLong,
      failures.toSeq)
  }

  /** Per-pass query/plan/exec/family metrics of the timed passes. */
  def layerMetrics(spark: SparkSession, cfg: Config, ls: Listeners,
      ran: Seq[Ran], passWall: Seq[Double]): Seq[Metric] = {
    ListenerDrain(spark.sparkContext)
    val ex = ls.exec.get
    val sp = ls.spans
    val passes = ran.map(_.pass).distinct.size
    val u = passes.toDouble
    def ofRun(r: Ran, phase: String) = (j: ex.Job) =>
      j.group == group(r.pass, r.name, phase)
    for (r <- ran) sp.count(r.span,
      "build_jobs" -> ex.totals(ofRun(r, "build")).jobs,
      "exec_jobs" -> ex.totals(ofRun(r, "exec")).jobs)
    val timed = (j: ex.Job) => ran.exists(r => j.group.startsWith(s"perfbench|p${r.pass}|${r.name}|"))
    val plans = ls.plan.toSeq.flatMap(pl => ran.flatMap { r =>
      val ps = pl.within(r.t1, r.t2)
      for (p <- ps) sp.record(r.span, "plan", p.startMs,
        p.startMs + p.analysisMs + p.optimizationMs + p.planningMs,
        "analysis_ms" -> p.analysisMs, "optimization_ms" -> p.optimizationMs,
        "planning_ms" -> p.planningMs)
      ps
    })
    val buildJobs = ran.map(r => ex.totals(ofRun(r, "build")).jobs).sum
    val fam = Families.flatMap { f =>
      val rs = ran.filter(r => family(r.name) == f)
      val jobs = ex.totals(j => rs.exists(r =>
        j.group.startsWith(s"perfbench|p${r.pass}|${r.name}|"))).jobs
      Seq(Metric(s"family.$f.build_s", rs.map(_.buildS).sum / u, "s", rs.size),
        Metric(s"family.$f.exec_s", rs.map(_.execS).sum / u, "s", rs.size),
        Metric(s"family.$f.jobs", jobs / u, "count", rs.size))
    }
    Seq(Metric("query.build_s", ran.map(_.buildS).sum / u, "s", ran.size),
      Metric("query.build_jobs", buildJobs / u, "count", ran.size)) ++
      Exec.metrics(ex.totals(timed), passes, ran.map(_.execS).sum / u,
        passWall.sum / u, cfg.int("session", "cpus")) ++
      Exec.planMetrics(plans, passes, ran.map(_.analysisMs).sum) ++ fam
  }
}
