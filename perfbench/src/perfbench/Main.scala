package perfbench

import org.apache.spark.perfbench.ListenerDrain

/** Benchmark harness entry point; started by `perfbench/run.py`.
  *
  * {{{
  * java ... perfbench.Main --workload router_fanout --seed 1 --seconds 10
  *   --trace 0 --config perfbench/config.json --data perfbench/data/sf0.01
  *   --work <dir> --spans <file> --launched-ms <epoch ms>
  * }}}
  *
  * Prints one JSON line per metric and one outcome line. Untraced runs
  * print the end-to-end metrics; traced runs register the scheduler and
  * Catalyst listeners, print the per-layer metrics and write the spans.
  */
object Main {
  /** Router set-up runs this many times; its median is reported. */
  val SetupReps = 3
  /** A traced run's probes: router_churn's shape for the frames parse
    * and the short stream run (state writes), router_fanout's for the
    * channel fold and the sink (wide fan-out). */
  val ChurnShape = "router_churn"
  val FanoutShape = "router_fanout"
  val StreamProbeSeconds = 6.0

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cfg = Config.load(a("config"))
    val work = a("work")
    val out = new Out(workload)

    val spark = Session.start(cfg)
    val sessionS = (System.currentTimeMillis() - a("launched-ms").toLong) / 1e3
    val sp = new Spans(traced)
    val exec = if (traced) Some(new ExecListener) else None
    val plan = if (traced) Some(new PlanListener) else None
    exec.foreach(spark.sparkContext.addSparkListener)
    plan.foreach(spark.listenerManager.register)
    val progress = new ProgressListener
    spark.streams.addListener(progress)
    val ls = new Listeners(sp, exec, plan, progress)

    val (r, layers) = sp.span(0, s"run:$workload") { run =>
      val r = workload match {
        case "query_mix" => QueryMix.run(spark, cfg, seed, seconds, ls, a("data"), work, run)
        case w => Router.run(spark, cfg, w, Shape(cfg, w), seed, seconds, SetupReps, ls, work, run)
      }
      // A traced run reports every layer: the workload's own first, then
      // the static probes, then a short run of the other workload kind
      // for the layers this one never reaches.
      if (!traced) (r, r.layers)
      else sp.span(run, "probes") { id =>
        val other =
          if (workload == "query_mix")
            Router.run(spark, cfg, ChurnShape, Shape(cfg, ChurnShape), seed,
              StreamProbeSeconds, 1, ls, s"$work/probe", id)
          else QueryMix.probe(spark, cfg, seed, ls, a("data"), id)
        val all = r.layers ++ Probes.tables(spark, a("data"), ls, id) ++
          Probes.frames(spark, Shape(cfg, ChurnShape), seed, ls, id) ++
          Probes.channelSink(spark, Shape(cfg, FanoutShape), seed, ls, id) ++ other.layers
        (r.copy(attempted = r.attempted + other.attempted, failures = r.failures ++ other.failures),
          all.groupBy(_.name).map(_._2.head).toSeq)
      }
    }
    ListenerDrain(spark.sparkContext)

    val setup = Metric("setup_s", sessionS + Stats.median(r.setups), "s", r.setups.size)
    val rss = Metric("peak_rss_mb", Rss.peakMb(), "MB", 1)
    val failedFrac = Metric("failed_frac", r.failures.size.toDouble / math.max(1, r.attempted),
      "ratio", r.attempted)
    for (m <- Seq(setup, rss, failedFrac) ++ r.endToEnd)
      out.metric(m.name, m.value, m.unit, m.n)
    for (m <- layers.sortBy(_.name)) out.metric(m.name, m.value, m.unit, m.n)
    out.outcome(r.attempted, r.failures.size, r.failures)
    a.get("spans").foreach(sp.write)
    spark.stop()
  }
}
