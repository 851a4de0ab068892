package graft

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{ExecSubqueryExpression, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import java.nio.file.{Files, Paths}

/** Empirical scaling-curve harness (VERDICT r12 task 1): runs every
  * query at a ladder of scale factors and fits how its WORK grows
  * with its INPUT, so a hidden quadratic term shows up as a measured
  * exponent instead of surviving as a design argument.
  *
  * Two growth measures per query per scale:
  *   - total operator row volume: Σ numOutputRows over every node of
  *     the executed plan (AQE stages and subqueries included). This
  *     is the one that catches candidate-generation blowups — a join
  *     whose output feeds a same-stage partial agg never crosses a
  *     shuffle boundary, so task-level shuffle metrics (and wall
  *     time, at small scale) can miss it; the join node's
  *     numOutputRows cannot. Deterministic, noise-free.
  *   - wall seconds: noisy at small sf (constant overhead dominates),
  *     recorded for the notes; the row exponent is the assertable
  *     contract.
  *
  * The exponent is the log-log slope of total rows vs SCAN rows (the
  * query's own leaf volume), so tables that scale at different rates
  * self-normalize. `exp_rows` fits all scale points least-squares;
  * `exp_rows_last` uses the top consecutive pair (largest decade —
  * where constant terms matter least and a super-linear term is
  * closest to binding).
  *
  * Env: SPARK_GRAFT_SCALES (comma-separated sf dirs, ascending),
  * SPARK_GRAFT_ONLY (name-prefix filter), SPARK_GRAFT_AMP_SKIP
  * (name-prefixes that skip the LAST scale dir — the documented
  * super-linear wedge families whose amplified run would dominate the
  * harness wall-clock). Arg 0: output JSON path.
  */
object ScalingCurve {

  /** (total operator output rows, leaf/scan output rows) of an
    * executed plan, descending through AQE wrappers, query stages,
    * and subquery expressions; reused exchanges count once (at the
    * original). Nodes without a numOutputRows metric contribute 0. */
  def rowVolumes(plan: SparkPlan): (Long, Long) =
    rowVolumes(plan, java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]()))

  /** `seenCaches` dedupes descents into cached-plan trees: a
    * persist() materializes its child plan ONCE (under the first
    * action), and that child's metrics hang off the InMemoryRelation,
    * not any QueryExecution — without the descent, a query whose
    * expensive stage feeds a persist reports near-zero volume (the
    * dedup_components case: the whole Jaccard verify join hid in the
    * cache build); without the dedupe, every scan of the same cache
    * would re-count it. */
  def rowVolumes(plan: SparkPlan,
      seenCaches: java.util.Set[SparkPlan]): (Long, Long) = {
    var total = 0L
    var scan = 0L
    def go(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case q: QueryStageExec => go(q.plan)
      case _: ReusedExchangeExec => ()
      // a reused subquery executed once — counted at the original,
      // like a reused exchange (else every referencing operator
      // re-descends the same plan and inflates the exponent)
      case _: ReusedSubqueryExec => ()
      case imts: org.apache.spark.sql.execution.columnar
          .InMemoryTableScanExec =>
        imts.metrics.get("numOutputRows").foreach(m => total += m.value)
        val cached = imts.relation.cachedPlan
        if (seenCaches.add(cached)) go(cached)
      case n =>
        n.metrics.get("numOutputRows").foreach { m =>
          total += m.value
          if (n.children.isEmpty) scan += m.value
        }
        n.children.foreach(go)
        n.expressions.foreach(_.foreach {
          case s: ExecSubqueryExpression => go(s.plan)
          case _ => ()
        })
    }
    go(plan)
    (total, scan)
  }

  /** Least-squares slope of log(y) vs log(x) over points with
    * positive coordinates; NaN when under-determined. */
  def logSlope(xs: Seq[Long], ys: Seq[Long]): Double = {
    val pts = xs.zip(ys).filter { case (x, y) => x > 0 && y > 0 }
      .map { case (x, y) => (math.log(x.toDouble), math.log(y.toDouble)) }
    if (pts.size < 2 || pts.map(_._1).distinct.size < 2) return Double.NaN
    val n = pts.size.toDouble
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    (n * sxy - sx * sy) / (n * sxx - sx * sx)
  }

  /** Exponent from the top consecutive scale pair (x must grow ≥2×
    * for the ratio to carry signal); NaN otherwise. */
  def lastPairSlope(xs: Seq[Long], ys: Seq[Long]): Double = {
    val pts = xs.zip(ys).filter { case (x, y) => x > 0 && y > 0 }
    if (pts.size < 2) return Double.NaN
    val (x1, y1) = pts(pts.size - 2)
    val (x2, y2) = pts(pts.size - 1)
    if (x2 < 2L * x1) return Double.NaN
    math.log(y2.toDouble / y1) / math.log(x2.toDouble / x1)
  }

  /** One query at one scale: (wall secs, total rows, scan rows,
    * output rows).
    *
    * Volumes come from TWO sources, both required for an honest
    * exponent: the final plan (walked directly — `toRdd` is an
    * RDD-level action no listener sees), plus every EAGER
    * sub-execution fired during DataFrame CONSTRUCTION, captured via
    * a QueryExecutionListener. The iterative families
    * (graph_kcore/label_prop/dedup_components …) run one
    * QueryExecution per lineage-truncated round at build time; their
    * final plan is just a checkpoint read + tail, so walking it alone
    * would hide a quadratic term inside the loop rounds — the r13
    * review catch. */
  def measure(spark: SparkSession,
      fn: (SparkSession, String) => DataFrame, dir: String)
      : (Double, Long, Long, Long) = {
    val subTotal = new java.util.concurrent.atomic.AtomicLong(0)
    val subScan = new java.util.concurrent.atomic.AtomicLong(0)
    val subSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    // ONE cache-dedup set per measurement, shared by the
    // sub-execution walks and the final walk: a persist's build is
    // counted exactly once however many plans scan it
    val seenCaches = java.util.Collections.synchronizedSet(
      java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]()))
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        val (t, s) = rowVolumes(qe.executedPlan, seenCaches)
        subTotal.addAndGet(t)
        subScan.addAndGet(s)
        subSeen.incrementAndGet()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      // drive THIS QueryExecution (a .write would wrap the plan in a
      // fresh one whose metrics we'd never see): count() fully
      // consumes every partition, like Bench's noop sink
      val qe = df.queryExecution
      val outRows = qe.toRdd.count()
      val secs = (System.nanoTime() - t0) / 1e9
      // listener events dispatch asynchronously: drain the bus so
      // every sub-execution is counted (a missed one would DEFLATE the
      // fitted exponent — the exact blind spot the listener closes)
      ListenerDrain(spark.sparkContext)
      val (total, scan) = rowVolumes(qe.executedPlan, seenCaches)
      spark.catalog.clearCache()
      System.err.println(s"[curve]   subs=${subSeen.get()} " +
        s"subTotal=${subTotal.get()} subScan=${subScan.get()}")
      // outRows disambiguates a saturated run: AQE's empty-relation
      // propagation REPLACES executed stages when a runtime stat hits
      // zero, zeroing the metric walk — "total_rows 0" alone cannot
      // distinguish "did no work" from "worked and emitted nothing"
      // (the r15 phash ×1000 decade hit exactly this ambiguity)
      (secs, total + subTotal.get(), scan + subScan.get(), outRows)
    } finally spark.listenerManager.unregister(listener)
  }

  def main(args: Array[String]): Unit = {
    val outPath = args.lift(0).getOrElse("/tmp/scaling_curve.json")
    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES",
      "/root/testdata/sf0.001,/root/testdata/sf0.01,/root/testdata/sf0.1")
      .split(",").toSeq
    val ampSkip = sys.env.getOrElse("SPARK_GRAFT_AMP_SKIP", "")
      .split(",").filter(_.nonEmpty).toSeq
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val selected = SparkEntry.selected.toSeq.sortBy(_._1)
    val results = selected.flatMap { case (name, fn) =>
      val dirs =
        if (ampSkip.exists(name.startsWith)) scales.dropRight(1) else scales
      try {
        val rows = dirs.map { d =>
          val (secs, total, scan, out) = measure(spark, fn, d)
          System.err.println(f"[curve] $name%-34s $d%-28s " +
            f"${secs}%7.2fs total=$total%12d scan=$scan%10d " +
            f"out=$out%10d")
          (secs, total, scan, out)
        }
        val secs = rows.map(_._1)
        val totals = rows.map(_._2)
        val scans = rows.map(_._3)
        val outs = rows.map(_._4)
        val eFit = logSlope(scans, totals)
        val eLast = lastPairSlope(scans, totals)
        val eSecs = lastPairSlope(scans,
          secs.map(s => math.max(1L, (s * 1e6).toLong)))
        Some(name -> ((dirs, secs, totals, scans, outs, eFit, eLast,
          eSecs)))
      } catch {
        case e: Throwable =>
          System.err.println(s"[curve] $name FAILED: ${e.getMessage}")
          None
      }
    }

    // Locale.ROOT (the Bench.num lesson): a comma-decimal default
    // locale would write "0,123" and break the JSON
    def num(v: Double, digits: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${digits}f",
        Double.box(v))
    def jArr[T](xs: Seq[T])(f: T => String) =
      xs.map(f).mkString("[", ",", "]")
    def jD(d: Double) = if (d.isNaN) "null" else num(d, 4)
    val body = results.map {
      case (name,
          (dirs, secs, totals, scans, outs, eFit, eLast, eSecs)) =>
        s"${JsonOut.q(name)}: {" +
          s""""scales": ${jArr(dirs)(JsonOut.q)}, """ +
          s""""secs": ${jArr(secs)(s => num(s, 3))}, """ +
          s""""total_rows": ${jArr(totals)(_.toString)}, """ +
          s""""scan_rows": ${jArr(scans)(_.toString)}, """ +
          s""""out_rows": ${jArr(outs)(_.toString)}, """ +
          s""""exp_rows_fit": ${jD(eFit)}, """ +
          s""""exp_rows_last": ${jD(eLast)}, """ +
          s""""exp_secs_last": ${jD(eSecs)}}"""
    }.mkString("{\n", ",\n", "\n}")
    Files.writeString(Paths.get(outPath), body)

    // human-readable tail: queries ranked by row exponent, worst first
    val ranked = results
      .filter { case (_, r) => !r._7.isNaN }
      .sortBy { case (_, r) => -r._7 }
    println(f"${"query"}%-36s ${"exp_rows_last"}%13s " +
      f"${"exp_rows_fit"}%12s ${"exp_secs_last"}%13s")
    ranked.foreach { case (name, (_, _, _, _, _, eFit, eLast, eSecs)) =>
      println(f"$name%-36s ${jD(eLast)}%13s ${jD(eFit)}%12s " +
        f"${jD(eSecs)}%13s")
    }
    spark.stop()
  }
}
