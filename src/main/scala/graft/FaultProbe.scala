package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerTaskStart}
import org.apache.spark.sql.functions._

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

/** Fault-injection probe for the reliable-checkpoint path (VERDICT
  * r12 task 2): proves `graft.checkpointDir` + `truncateLineage`
  * survive the failures the path exists for, not merely that it
  * produces identical output on a healthy run (ReliableCheckpointSpec
  * already pins that). Runs as its own JVM because the scenarios need
  * `local[4,2]` (task retries — the shared spec session is maxFailures
  * = 1) and a listener that kills tasks, which must never see another
  * suite's jobs. FaultInjectionSpec forks this main and asserts on the
  * PROBE verdict lines.
  *
  * Scenarios, all on the iterative `graph_kcore` (peel-to-fixpoint,
  * every round lineage-truncated at Lineage.scala):
  *   1. fail-once task: the result stage throws once, task retries
  *      under maxFailures=2, rows must equal the clean baseline;
  *   2. task kill mid-iteration: the scheduler reschedules a killed
  *      task (the lost-task half of executor loss), rows unchanged;
  *   3. block loss: every job end unpersists every persisted RDD (the
  *      lost-blocks half of executor loss) — under reliable
  *      checkpoint the loop re-reads checkpoint FILES and completes;
  *   4. contrast: the same block loss against the DEFAULT
  *      localCheckpoint path crashes a minimal truncate-then-read
  *      loop ("Checkpoint block ... not found"), while the reliable
  *      path reads its files — the injection is lethal, the conf is
  *      what survives it.
  */
object FaultProbe {

  private val Sf = "/root/testdata/sf0.001"

  /** JVM-wide fail-once flag for scenario 1 (see there for why it
    * must be static). */
  private val thrown = new AtomicBoolean(false)
  def injectOnce(): Unit =
    if (thrown.compareAndSet(false, true))
      throw new RuntimeException("injected fail-once fault")

  def main(args: Array[String]): Unit = {
    val ckptDir =
      java.nio.file.Files.createTempDirectory("graft_fault_ckpt").toString
    val spark = Session.builder(4)
      .master("local[4,2]") // 4 threads, maxFailures = 2
      .getOrCreate()
    // runtime conf, NOT builder conf: a builder conf lands in the
    // SparkConf, which every newSession() inherits — scenario 4's
    // deliberately-unconfigured session must really be unconfigured
    spark.conf.set("graft.checkpointDir", ckptDir)
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    assert(sc.getConf.get("spark.task.maxFailures", "?") == "2" ||
      sc.master == "local[4,2]", "probe needs task retries")

    def rows(q: String): Seq[String] =
      SparkEntry.queries(q)(spark, Sf).collect().map(_.toString).sorted.toSeq

    val baseline = rows("graph_kcore")
    require(baseline.nonEmpty, "empty baseline — vacuous probe")

    // ── 1. fail-once task under maxFailures=2 ────────────────────────
    // local mode runs tasks in this JVM, so a STATIC flag is shared
    // between driver and task: the first result-stage task throws,
    // the retry (attempt 2 of maxFailures=2) succeeds. The flag must
    // be reached via the module (injectOnce), not a captured val — a
    // captured AtomicBoolean is serialized per task, so every retry
    // would get its own pristine copy and throw forever.
    // ONE construction: building graph_kcore eagerly runs the whole
    // lineage-truncating peel loop, so a second build just for the
    // schema would double the scenario's cost
    val kcoreDf = SparkEntry.queries("graph_kcore")(spark, Sf)
    val failOnce = kcoreDf
      .mapPartitions { it => FaultProbe.injectOnce(); it }(
        org.apache.spark.sql.Encoders.row(kcoreDf.schema))
      .collect().map(_.toString).sorted.toSeq
    check("fail_once_retry",
      thrown.get() && failOnce == baseline,
      s"thrown=${thrown.get()} match=${failOnce == baseline}")

    // ── 2. task kill mid-iteration ───────────────────────────────────
    val stagesSeen = new java.util.concurrent.ConcurrentHashMap[Int, Unit]()
    val killed = new AtomicInteger(0)
    val killer = new SparkListener {
      override def onTaskStart(ts: SparkListenerTaskStart): Unit = {
        stagesSeen.put(ts.stageId, ())
        // let the first stages run; kill ONE task once iterations are
        // under way (the 4th distinct stage of this run)
        if (stagesSeen.size >= 4 && killed.compareAndSet(0, 1)) {
          // killTaskAttempt returns FALSE (no exception) when the
          // attempt can no longer be killed — re-arm in both cases or
          // the scenario passes without any injection having happened
          try {
            if (!sc.killTaskAttempt(ts.taskInfo.taskId,
                interruptThread = true,
                reason = "injected fault: task lost mid-iteration"))
              killed.set(0)
          } catch { case _: Throwable => killed.set(0) } // raced: done
        }
      }
    }
    sc.addSparkListener(killer)
    val killRun =
      try rows("graph_kcore")
      finally sc.removeSparkListener(killer)
    // scenario validity gate: the kill only arms on the 4th distinct
    // stage, so a future plan change that collapses the run below 4
    // stages would de-arm the injection SILENTLY — fail loudly on the
    // window itself, separately from the reschedule assertion, so
    // "injection never happened" cannot masquerade as (or hide
    // behind) a reschedule failure
    check("task_kill_window_opened",
      stagesSeen.size >= 4,
      s"distinctStages=${stagesSeen.size} (need >=4 to arm the kill)")
    check("task_kill_reschedule",
      killed.get() == 1 && killRun == baseline,
      s"killed=${killed.get()} match=${killRun == baseline} " +
        s"distinctStages=${stagesSeen.size}")

    // ── 3. reliable run leaves no single-copy executor state ─────────
    // Under localCheckpoint every iteration parks its ONLY copy of
    // the loop state in executor blocks (that's what executor loss
    // destroys). Under reliable checkpoint nothing may be persisted
    // at any job boundary — every byte of loop state must live in
    // checkpoint FILES, which is precisely why the path survives the
    // loss. Machine-check that invariant across the whole run, and
    // aggressively unpersist anything that does appear (a live block
    // drop): rows must still match.
    val observedPersisted = new AtomicInteger(0)
    val dropper = new SparkListener {
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val persisted = sc.getPersistentRDDs
        if (persisted.nonEmpty) {
          observedPersisted.addAndGet(persisted.size)
          persisted.values.foreach(_.unpersist(blocking = false))
        }
      }
    }
    sc.addSparkListener(dropper)
    val lossRun =
      try rows("graph_kcore")
      finally sc.removeSparkListener(dropper)
    check("reliable_no_executor_state",
      observedPersisted.get() == 0 && lossRun == baseline,
      s"persistedSeen=${observedPersisted.get()} " +
        s"match=${lossRun == baseline}")

    // ── 4. contrast: same block loss is LETHAL to localCheckpoint ────
    import Lineage.LineageOps
    val sLocal = spark.newSession() // conf absent → executor-local path
    val agg = sLocal.range(0, 100000).toDF("id")
      .withColumn("k", col("id") % 97)
      .groupBy("k").agg(sum("id").as("s"))
    val truncated = agg.truncateLineage() // eager localCheckpoint
    val persistedBefore = sc.getPersistentRDDs.size
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val localDied =
      try { truncated.count(); false }
      catch { case e: Throwable =>
        // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND: the truncated lineage
        // cannot rebuild the dropped block — the executor-loss mode
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .exists(x => Option(x.getMessage).exists(_.contains("not found")))
      }
    val sRel = spark.newSession()
    sRel.conf.set("graft.checkpointDir", ckptDir)
    val aggR = sRel.range(0, 100000).toDF("id")
      .withColumn("k", col("id") % 97)
      .groupBy("k").agg(sum("id").as("s"))
    val truncatedR = aggR.truncateLineage() // reliable checkpoint files
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val relSurvived =
      try truncatedR.count() == 97 catch { case _: Throwable => false }
    check("block_loss_contrast",
      persistedBefore > 0 && localDied && relSurvived,
      s"persistedBefore=$persistedBefore localDied=$localDied " +
        s"relSurvived=$relSurvived")

    println("PROBE ALL_OK")
    spark.stop()
  }

  private def check(name: String, ok: Boolean, detail: String): Unit = {
    println(s"PROBE $name ${if (ok) "OK" else "FAIL"} ($detail)")
    if (!ok) { System.err.println(s"probe $name failed: $detail"); sys.exit(1) }
  }
}
