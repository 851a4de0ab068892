package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FilePartition, HadoopFsRelation, LogicalRelation}

/** The one place that decides how a frame is spread across cores.
  *
  * FAN-OUT stages — C(k,2) pair explodes, wedge self-joins, per-key
  * rank windows — produce downstream volume AQE cannot see: adaptive
  * coalescing sizes post-shuffle partitions by their INPUT bytes, and
  * a frame that is small in bytes but explodes combinatorially gets
  * coalesced onto a handful of cores (measured:
  * graph_local_clustering's wedge pipeline ran 6.3 s of CPU on 1 of
  * 32 cores; coSupplyEdges' pair explode on 4). [[fanout]] and
  * [[fanoutBy]] always spread these.
  *
  * PAYLOAD spreads ([[fanoutScan]]) reshuffle a scanned table so per-
  * row parse/hash work uses every core. They pay only while the scan
  * arrives in fewer partitions than there are cores, so the rule
  * decides from the scan's real input partitions ([[inputPartitions]])
  * and switches itself off on a layout that is already split.
  *
  * Partition count of a spread (see [[partitions]]):
  * `max(defaultParallelism, inputBytes / 128 MB)`, capped at
  * [[MaxSpread]], where inputBytes is the byte size of the plan's
  * FILE-SCAN leaves (real file sizes, not post-join estimates — those
  * inflate multiplicatively and would oversize the spread; see
  * [[scanBytes]]). On the one-row-group testdata the bytes term is ~0,
  * so the count stays `defaultParallelism` (= total cores) and the
  * bench remains comparable; on a many-TB deployment the same code
  * right-sizes the fan-out exchanges from data volume.
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
  private[graft] def partitions(defaultPar: Int, inputBytes: BigInt): Int = {
    val byBytes = (inputBytes / TargetPartitionBytes).min(MaxSpread).toInt
    math.max(math.max(defaultPar, 1), byBytes)
  }

  private def fileScans(plan: LogicalPlan): Seq[LogicalRelation] =
    plan.collectLeaves().collect {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] => l
    }

  /** Bytes of the plan's FILE-SCAN leaves. Any other leaf counts 0, so
    * a plan without file scans falls back to `defaultParallelism`: a
    * checkpoint's `LogicalRDD` reports the estimate of the plan it
    * replaced (a cross join's is the product of its sides), and cached
    * or local relations are not input volume either. */
  private[graft] def scanBytes(plan: LogicalPlan): BigInt =
    fileScans(plan).map(_.stats.sizeInBytes).sum

  /** Per file-scan leaf: (splits the scan plans, files it reads). The
    * splits follow `FileSourceScanExec`'s own rule (max split bytes
    * from the session's file conf, files split and packed by
    * `FilePartition`) over the listing the relation's file index
    * already holds, so no job runs and no directory is re-listed. */
  private[graft] def leafSplits(plan: LogicalPlan): Seq[(Int, Int)] =
    fileScans(plan).map(_.relation.asInstanceOf[HadoopFsRelation]).map { r =>
      val dirs = r.location.listFiles(Nil, Nil)
      val maxSplit = FilePartition.maxSplitBytes(r.sparkSession, dirs)
      val files = dirs.flatMap { dir =>
        dir.files.flatMap { f =>
          val path = f.getPath
          PartitionedFileUtil.splitFiles(f, path,
            r.fileFormat.isSplitable(r.sparkSession, r.options, path),
            maxSplit, dir.values)
        }
      }.sortBy(-_.length)
      (FilePartition.getFilePartitions(r.sparkSession, files, maxSplit).size,
        dirs.map(_.files.size).sum)
    }

  /** Partitions the frame's file scans arrive in. A leaf counts
    * min(splits, files): a file split by bytes but written as one row
    * group (sf0.1 `lineitem`: 3 splits, one with rows) still decodes
    * on one core, and small files packed into one split read as one. */
  private[graft] def inputPartitions(plan: LogicalPlan): Int =
    leafSplits(plan).map { case (splits, files) => math.min(splits, files) }.sum

  private[graft] def n(df: DataFrame): Int =
    partitions(df.sparkSession.sparkContext.defaultParallelism,
      scanBytes(df.queryExecution.optimizedPlan))

  /** Round-robin spread before a map-side explode / broadcast-probe
    * fan-out (no downstream keying to preserve). */
  def fanout(df: DataFrame): DataFrame = df.repartition(n(df))

  /** Round-robin spread of a PAYLOAD-carrying scan projection (raw
    * text / JSON props, embeddings) ahead of parse/hash-heavy map
    * work, only while its file scans arrive in fewer partitions than
    * `defaultParallelism`. On the one-row-group-per-table testdata
    * every scan decodes on ONE core, so this exchange buys full
    * parallelism for per-row work that dwarfs it; on a many-split
    * layout the scan is already parallel and the frame is returned
    * unchanged (guide §2.3). A frame without file scans counts 0
    * partitions and spreads. */
  def fanoutScan(df: DataFrame): DataFrame =
    if (inputPartitions(df.queryExecution.analyzed) <
        df.sparkSession.sparkContext.defaultParallelism) fanout(df)
    else df

  /** Hash spread on the keys a downstream groupBy/window/self-join
    * clusters on: the explicit exchange SATISFIES that operator's
    * distribution, so the plan keeps exactly one exchange — it just
    * stops byte-sized coalescing from serializing the heavy post-
    * shuffle work. */
  def fanoutBy(df: DataFrame, cols: Column*): DataFrame =
    df.repartition(n(df), cols: _*)
}
