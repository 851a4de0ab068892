package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Partitioning for FAN-OUT stages — C(k,2) pair explodes, wedge
  * self-joins, per-key rank windows — whose downstream volume AQE
  * cannot see: adaptive coalescing sizes post-shuffle partitions by
  * their INPUT bytes, and a frame that is small in bytes but explodes
  * combinatorially gets coalesced onto a handful of cores (measured:
  * graph_local_clustering's wedge pipeline ran 6.3 s of CPU on 1 of
  * 32 cores; coSupplyEdges' pair explode on 4). This is the
  * join-fanout blindness the round-15 skew probe documented, showing
  * up as lost parallelism instead of a straggler.
  *
  * Partition count (see [[partitions]] for the exact rule):
  *   - session conf `graft.fanoutPartitions` when set (validated:
  *     a malformed or non-positive value fails naming the conf);
  *   - otherwise `max(defaultParallelism, inputBytes / 128 MB)`,
  *     capped at [[MaxSpread]], where inputBytes is the byte size of
  *     the plan's FILE-SCAN leaves (real file sizes, not post-join
  *     estimates — those inflate multiplicatively and would oversize
  *     the spread; see [[scanBytes]]). On the one-row-group
  *     testdata the bytes term is ~0, so the local default stays
  *     `defaultParallelism` (= total cores) and the bench remains
  *     comparable; on a
  *     many-TB deployment the same code right-sizes the fan-out
  *     exchanges from data volume, the scaling VERDICT r15 item 7
  *     asked for. The spread always moves only proxy-sized frames
  *     (edge lists, basket frames), never payloads.
  */
object Spread {
  /** Target bytes per spread partition (guide §2.2's 100 MB–1 GB). */
  private[graft] val TargetPartitionBytes: Long = 128L << 20

  /** Upper bound on the derived count: leaf-scan bytes OVERSTATE the
    * proxy frame a spread actually moves (the frame is projected and
    * often pre-aggregated below the exchange), so the bytes term is a
    * ceiling heuristic, not a measurement — bound the task count it
    * can demand. */
  private[graft] val MaxSpread: Int = 16384

  /** The sizing rule, pure for unit testing. */
  private[graft] def partitions(conf: Option[String], defaultPar: Int,
      inputBytes: BigInt): Int =
    conf match {
      case Some(v) =>
        scala.util.Try(v.trim.toInt).toOption.filter(_ > 0).getOrElse(
          throw new IllegalArgumentException(
            s"graft.fanoutPartitions must be a positive integer, got '$v'"))
      case None =>
        val byBytes = (inputBytes / TargetPartitionBytes)
          .min(MaxSpread).toInt
        math.max(math.max(defaultPar, 1), byBytes)
    }

  /** Bytes of the plan's FILE-SCAN leaves. Any other leaf counts 0, so
    * a plan without file scans falls back to `defaultParallelism`: a
    * checkpoint's `LogicalRDD` reports the estimate of the plan it
    * replaced (a cross join's is the product of its sides), and cached
    * or local relations are not input volume either. */
  private[graft] def scanBytes(plan: LogicalPlan): BigInt =
    plan.collectLeaves().collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.stats.sizeInBytes
    }.sum

  private[graft] def n(df: DataFrame): Int = {
    val s = df.sparkSession
    partitions(s.conf.getOption("graft.fanoutPartitions"),
      s.sparkContext.defaultParallelism,
      scanBytes(df.queryExecution.optimizedPlan))
  }

  /** Round-robin spread before a map-side explode / broadcast-probe
    * fan-out (no downstream keying to preserve). */
  def fanout(df: DataFrame): DataFrame = df.repartition(n(df))

  /** Round-robin spread of a PAYLOAD-carrying scan projection (raw
    * text / JSON props) ahead of parse/shingle-heavy map work. On the
    * driver's one-row-group-per-table testdata every scan decodes on
    * ONE core, so this exchange buys full parallelism for per-row work
    * that dwarfs it; on a real many-split layout the scan is already
    * parallel and the same exchange would round-robin the corpus for
    * nothing (guide §2.3 — VERDICT r15 item 3's scale risk). The
    * deploy-time switch `graft.scanFanout = false` turns exactly these
    * payload sites into a no-op (the same session-conf discipline as
    * `spark.sql.shuffle.partitions`); the keyed proxy spreads
    * ([[fanoutBy]]) are unaffected by it. */
  def fanoutScan(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.getOption("graft.scanFanout")
        .exists(_.trim.equalsIgnoreCase("false"))) df
    else fanout(df)

  /** Hash spread on the keys a downstream groupBy/window/self-join
    * clusters on: the explicit exchange SATISFIES that operator's
    * distribution, so the plan keeps exactly one exchange — it just
    * stops byte-sized coalescing from serializing the heavy post-
    * shuffle work. */
  def fanoutBy(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(n(df), cols: _*)
}
