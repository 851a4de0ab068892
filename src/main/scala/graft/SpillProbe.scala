package graft

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Memory-pressure probe: the engine's heaviest shuffles complete by
  * SPILLING — gracefully, with byte-identical content — when execution
  * memory is a small fraction of the data passing through it, instead
  * of OOM-killing the executor. This is the regime every 100 TB run
  * actually operates in: at 1000 executors a shuffle partition of a
  * 50M-operator-row query routinely exceeds its task's execution-
  * memory share, and the design answer is Spark's spill ladder
  * (UnsafeExternalSorter pages → disk; HashAggregate → sort-based
  * fallback) — provided no operator in the plan secretly assumes
  * everything fits (a driver-side collect, an unbounded in-memory
  * build). The uniform scaling ladder cannot see this any more than
  * it can see skew: wall-clock exponents stay flat right up until the
  * heap dies.
  *
  * Mechanism, scaled to the corpus (the SkewProbe threshold
  * discipline): a 2 GB-heap JVM with `spark.memory.fraction = 0.05`
  * gives the whole `local[4]` session ~87 MB of unified
  * execution+storage memory — ~22 MB per concurrent task against
  * stages that move hundreds of MB per partition (shuffle reducers
  * pinned at 4 so partitions carry cluster-scale volume), the same
  * memory:data ratio a default-fraction executor faces at 100 TB.
  * Page size is pinned at 1 MB so the sorter's first allocation can
  * always succeed and pressure lands on the spill path, not on a
  * single oversized page request.
  *
  * Per query, prints the FaultProbe line contract:
  * `SPILL <name> rows=<n> digest=<d> spilled_mb=<m> OK|FAIL` — OK
  * iff the query completed under pressure AND actually spilled
  * (memory+disk spill task metrics > 0; a run that silently fit
  * would prove nothing). SpillSpec forks this JVM (the fraction is a
  * SparkConf-time setting — it cannot be changed per-session on the
  * shared context), recomputes each digest on its normal-memory
  * shared session, and asserts content parity: pressure changed the
  * execution strategy, not one row of the answer.
  */
object SpillProbe {

  /** The probed surface: the repo's heaviest shuffles per shape
    * class (bench_anchors/r13_scaling_exponents.json operator-row
    * volumes at sf0.1), chosen so the pressured operator SURVIVES
    * under the digest aggregate — Catalyst rightly eliminates a sort
    * beneath an agg (EliminateSorts), so a plain `orderBy` tail
    * proves nothing here, and plans that are memory-light BY DESIGN
    * (the broadcast-hinted fan-outs stream through partial agg
    * without a single resident byte; a 150k-row global sort simply
    * fits) have nothing to spill — which the first probe iteration
    * verified empirically (0 bytes spilled on route_client_fanout
    * and window_dist_ranks at any starvation level):
    *
    *   - graph_triangles — the O(m^1.5) wedge self-join + closure
    *     semi-join (50M operator rows; ~1 GB measured spill),
    *   - basket_pair_lift — per-order pair explosion into a
    *     many-group hash agg (15.7M rows; the HashAggregate
    *     sort-based-fallback path),
    *   - dedup_ngram_jaccard_pairs — shingle posting join + pair
    *     intersection counts,
    *   - dedup_fuzzy_names — the edit-distance census' banded join
    *     (23.6M rows; ~0.9 GB spill),
    *   - route_delivery_gate — the fan-out family's gated delivery
    *     join on its shuffle path (18.7M rows),
    *   - dedup_components — the iterative family: path-halving
    *     rounds whose per-round localCheckpoint blocks must ALSO
    *     survive the starved storage pool (MEMORY_AND_DISK paging),
    *     on top of each round's join/agg spilling. */
  val Probed: Seq[String] =
    sys.env.get("SPILL_QUERIES").map(_.split(",").toSeq).getOrElse(
      Seq("graph_triangles", "basket_pair_lift",
        "dedup_ngram_jaccard_pairs", "dedup_fuzzy_names",
        "route_delivery_gate", "dedup_components"))

  /** Order-free content digest (count, modular xxhash sum — a raw sum
    * overflows LONG under ANSI on a half-million-row fan-out). Order-free
    * because the probe's point is that partitioning/spill strategy
    * may differ between the pressured and normal runs; SkewProbe compares
    * its skew-split runs with it for the same reason (the oracle sweep
    * already pins ordered output). */
  def digest(df: DataFrame): (Long, Long) = {
    // coalesce: sum() is NULL on zero rows — an empty result must
    // surface as a (0, 0) digest mismatch in the FAIL line, not an
    // NPE out of getLong
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(df.columns.map(col): _*),
        lit(1000000007L))), lit(0L)))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // few, LARGE partitions: at sf0.1 the default 32 reducers give
    // ~2 MB partitions that fit even a starved task — 4 reducers
    // reproduce the per-partition volume : task-memory ratio of a
    // cluster-scale run, which is the regime under probe
    val spark = Session.builder(4)
      // the degraded past-broadcast-ceiling join path (the Router
      // scaladoc's 8 GB production ceiling, unreachable at sf0.1):
      // fan-out joins run sort-merge, the shape whose sorts must
      // spill at scale. Explicit broadcast() hints (bounded
      // dimensions) are unaffected.
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      // THE PROBE: 5% of (heap − 300 MB reserved) ≈ 87 MB unified
      // memory, ~22 MB per concurrent task against stages that move
      // hundreds of MB per partition — execution starves unless every
      // heavy operator can spill. Storage (localCheckpoint blocks)
      // overflows to disk by its MEMORY_AND_DISK level; execution
      // overflow is what the spill metrics then must show. The REST
      // of the heap stays user space on purpose: each spill file's
      // merge-phase reader allocates a hard-floored 1 MB buffer
      // (spark.unsafe.sorter.spill.reader.buffer.size), so a starved
      // sort producing dozens of files needs real heap to merge —
      // the first probe iteration measured exactly that failure
      // (UnsafeSorterSpillReader heap-OOM at 40+ files × 1 MB × 4
      // tasks under a 1 GB heap).
      // SPILL_FRACTION override: the ×10-decade ladder runs the SAME
      // binary at the default fraction to produce the unconstrained
      // twin digests the starved run must match (SpillSpec's shared
      // session plays that role at sf0.1)
      .config("spark.memory.fraction",
        sys.env.getOrElse("SPILL_FRACTION", "0.05"))
      // auto page sizing targets memory/cores/16 and would clamp to
      // its floor anyway; pin it so the first page allocation always
      // succeeds and pressure exercises spilling, not allocation
      .config("spark.buffer.pageSize", "1m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    var failed = false
    for (name <- Probed) {
      val t0 = System.nanoTime()
      val r = scala.util.Try {
        val spillBytes = new java.util.concurrent.atomic.AtomicLong(0)
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            Option(te.taskMetrics).foreach { m =>
              spillBytes.addAndGet(m.memoryBytesSpilled +
                m.diskBytesSpilled)
            }
        }
        spark.sparkContext.addSparkListener(listener)
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          val (n, dg) = digest(df)
          // listener events dispatch asynchronously: drain the bus so
          // every task-end of the query has been counted
          ListenerDrain(spark.sparkContext)
          (n, dg, spillBytes.get())
        } finally spark.sparkContext.removeSparkListener(listener)
      }
      val secs = (System.nanoTime() - t0) / 1e9
      r match {
        case scala.util.Success((n, dg, sp)) =>
          val ok = sp > 0L && n > 0L
          if (!ok) failed = true
          println(f"SPILL $name rows=$n digest=$dg " +
            f"spilled_mb=${sp / 1e6}%.1f secs=$secs%.1f " +
            (if (ok) "OK" else "FAIL"))
        case scala.util.Failure(e) =>
          failed = true
          println(s"SPILL $name EXCEPTION ${e.getClass.getSimpleName}: " +
            s"${String.valueOf(e.getMessage).take(200)} FAIL")
      }
    }
    spark.stop()
    if (failed) sys.exit(1)
  }
}
