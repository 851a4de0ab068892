package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run benchmark: every SparkEntry query against
  * $SPARK_GRAFT_SF_DIR under the [[Session]] conf.
  *
  * Measurement discipline:
  *  - noop sink (not count()) so column pruning can't skip the
  *    projected work being measured;
  *  - queries run in sorted-name order for stable per-query numbers;
  *  - each query runs under its own job group, so its Spark jobs
  *    (build-time and execution) are counted without a timed-region
  *    change.
  *
  * Output: the full per-query line on stdout and, with the job counts
  * added, in bench_out_c<cpus>.json; then a slowest-30 line and a
  * compact "total_summary" line that fit any tail window. stderr gets
  * one `[bench] name secs jobs=N` progress line per query.
  *
  * Dev modes, unset by default: SPARK_GRAFT_ONLY (name
  * prefixes) selects queries; SPARK_GRAFT_REPS=n reruns every selected
  * query n−1 times back-to-back into "warm_reruns" — iteration 1
  * absorbs JIT/codegen warm-up, so compare the reruns (scripts/ab.sh).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val reps = sys.env.get("SPARK_GRAFT_REPS").fold(1)(_.toInt)
    val spark = Session.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new JobCounts(spark.sparkContext)

    // (name, sweep seconds or -1, jobs, back-to-back reruns)
    val results = SparkEntry.selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      val secs = timed(spark, name, fn, sfDir)
      val n = jobs(name)
      val reruns = Seq.fill(reps - 1)(timed(spark, name, fn, sfDir))
      System.err.println(s"[bench] $name ${num(secs)} jobs=$n" +
        (if (reruns.isEmpty) "" else reruns.map(num).mkString(" reruns=", ",", "")))
      (name, secs, n, reruns)
    }
    val qs = results.map { case (k, v, _, _) =>
      JsonOut.q(k) + ":" + (if (v >= 0) num(v) else "-1") }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v, _, _) if v < 0 => JsonOut.q(k) }
    val total = results.map(_._2).filter(_ >= 0).sum

    // Machine-generated warm adjudication (the r12 noise lesson —
    // route_client_fanout read 5.95 s in one sweep vs a 1.31 s warm
    // truth): any query whose single-shot sweep reading exceeds 2× its
    // recorded warm minimum (bench_anchors/warm_minima.json) is
    // re-measured with WarmReps back-to-back runs in the SAME JVM and
    // the iterations land in the "warm_reruns" key, so the adjudication
    // is part of the round's bench artifact instead of a manual
    // rerun session. Budgeted to the WarmRerunCap worst offenders.
    // floors are recorded at sf0.1 (the driver's bench scale) — at any
    // other sfDir they are meaningless and the pass stays off; exact
    // basename match, not substring (an amplified clone named
    // .../sf0.1x10 must not inherit sf0.1 floors). Under
    // SPARK_GRAFT_REPS every query already has its reruns.
    val warmReruns =
      if (reps > 1) results.map { case (name, _, _, r) => name -> r }
      else {
        val sfBase = new java.io.File(sfDir).getName
        val warmFloors =
          if (sfBase != "sf0.1") Map.empty[String, Double]
          else loadWarmFloors(
            sys.env.getOrElse("SPARK_GRAFT_WARM_FILE",
              "bench_anchors/warm_minima.json"))
        val suspects = results.collect {
          case (name, v, _, _) if v >= 0 &&
              warmFloors.get(name).exists(w => v > 2 * w)
            => (name, v / warmFloors(name))
        }.sortBy(-_._2).take(WarmRerunCap).map(_._1)
        suspects.map { name =>
          val fn = SparkEntry.queries(name)
          name -> Seq.fill(WarmReps)(timed(spark, name, fn, sfDir))
        }
      }
    val warmRerunsJson = warmReruns.map { case (name, iters) =>
      JsonOut.q(name) + ":" + iters.map(num).mkString("[", ",", "]")
    }.mkString("{", ",", "}")

    // Self-adjudicated headline (r14 VERDICT task 5): three rounds
    // running, the dry sweep's "value" needed manual adjudication
    // against warm anchors to separate host-window noise from real
    // movement. warm_total does that adjudication inside the
    // artifact: per query, min(dry reading, best successful warm
    // rerun) — identical to "value" for the un-rerun majority, the
    // same-JVM warm truth for the suspects the floor check flagged.
    val rerunBest = warmReruns.toMap.map { case (name, iters) =>
      name -> iters.filter(_ >= 0) }
    val warmTotal = results.collect { case (name, v, _, _) if v >= 0 =>
      rerunBest.get(name).filter(_.nonEmpty)
        .fold(v)(good => math.min(v, good.min))
    }.sum

    val fields = s""""value":${num(total)},"warm_total":${num(warmTotal)},"unit":"sec","queries":$qs,"failed":${failed.mkString("[", ",", "]")},"warm_reruns":$warmRerunsJson,"sf":${JsonOut.q(sfDir)}"""
    println(s"""{"metric":"total",$fields}""")
    // With 374 queries the full line above is ~15 KB and never
    // survives a 2000-char stdout tail: persist it, with
    // the job counts, to a file named by core count (an 8-core run
    // must not overwrite the 32-core one), then print two short lines
    // that fit any tail window.
    val queriesFile = s"bench_out_c$cpus.json"
    val jobsJson = results.map { case (k, _, n, _) => JsonOut.q(k) + ":" + n }
      .mkString("{", ",", "}")
    try
      java.nio.file.Files.write(java.nio.file.Paths.get(queriesFile),
        s"""{"metric":"total",$fields,"jobs":$jobsJson}\n""".getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(
        s"[bench] WARN could not write $queriesFile: ${e.getMessage}")
    }
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(30)
      .map { case (k, v, _, _) => JsonOut.q(k) + ":" + num(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"slowest_30","unit":"sec","queries":$slowest}""")
    println(s"""{"metric":"total_summary","value":${num(total)},"warm_total":${num(warmTotal)},"unit":"sec","n":${results.size},"n_failed":${failed.size},"queries_file":${JsonOut.q(queriesFile)},"sf":${JsonOut.q(sfDir)}}""")
    spark.stop()
  }

  private val WarmReps = 3
  private val WarmRerunCap = 10

  // Locale.ROOT: the f-interpolator formats through the DEFAULT
  // locale, and a comma-decimal host (de_DE, fr_FR ...) would emit
  // "0,123" - malformed JSON.
  private def num(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** One timed run of `fn` into the noop sink under job group `name`:
    * elapsed seconds, or -1 on failure — never a fast-looking time, so
    * a broken query can't pass as a quick win. Intra-query persists
    * (token-count projections etc.) are cleared outside the timed
    * region, so storage-memory pressure can't leak into later
    * measurements. */
  private[graft] def timed(spark: SparkSession, name: String,
      fn: (SparkSession, String) => DataFrame, sfDir: String): Double = {
    spark.sparkContext.setJobGroup(name, name)
    val t0 = System.nanoTime()
    val ok =
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        false
      }
    val elapsed = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.clearJobGroup()
    spark.catalog.clearCache()
    if (ok) elapsed else -1.0
  }

  /** Spark jobs started per job group. [[timed]] runs each query under
    * its own group, so a query's build-time and execution jobs land on
    * that query alone. */
  private[graft] final class JobCounts(sc: SparkContext)
      extends SparkListener {
    private val counts = new ConcurrentHashMap[String, LongAdder]
    sc.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => counts.computeIfAbsent(g, _ => new LongAdder).increment())

    /** Jobs started so far under `group`, read after a bus drain. A
      * drain that times out (10 s) costs the count, not the run. */
    def apply(group: String): Long = {
      try ListenerDrain(sc)
      catch { case _: java.util.concurrent.TimeoutException =>
        System.err.println(s"[bench] WARN listener bus not drained: " +
          s"$group's job count may be low")
      }
      Option(counts.get(group)).fold(0L)(_.sum)
    }
  }

  /** Recorded warm minima (query → seconds); empty when the anchor
    * file is absent (fresh checkout, non-repo cwd) — the rerun pass
    * then simply never triggers. Hand-rolled parse: the file is
    * repo-owned flat {"name": secs} JSON. */
  private[graft] def loadWarmFloors(path: String): Map[String, Double] =
    try {
      val text = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      // The file is contracted to be FLAT {"name": secs} JSON, and
      // that contract is enforced here rather than assumed: the
      // [,}]-anchor alone would still match a nested object's inner
      // numeric pairs ("reps": 3, — ADVICE r14), so any brace inside
      // the top-level body disables floors loudly instead of
      // injecting phantom entries that mis-adjudicate warm reruns.
      val body = text.trim.stripPrefix("{").stripSuffix("}")
      if (body.exists(c => c == '{' || c == '}')) {
        System.err.println(s"[bench] WARN warm-floor file $path is " +
          "not flat {name: secs} JSON — floors disabled")
        return Map.empty
      }
      // accepts scientific notation; [,}]-anchored against trailing
      // garbage on a value
      val floors =
        "\"([^\"]+)\"\\s*:\\s*([0-9]+(?:\\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)\\s*[,}]"
          .r.findAllMatchIn(text)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      if (floors.isEmpty && text.trim.length > 2)
        System.err.println(s"[bench] WARN warm-floor file $path " +
          "exists but parsed to zero entries — malformed?")
      floors
    } catch {
      case _: java.nio.file.NoSuchFileException => Map.empty
      case e: Exception =>
        System.err.println(s"[bench] WARN warm-floor file $path " +
          s"unreadable (${e.getClass.getSimpleName}): floors disabled")
        Map.empty
    }
}
