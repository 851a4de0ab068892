package graft

import org.apache.spark.sql.{DataFrame, Dataset}

/** Lineage truncation for iterative loops (BFS/peel/label-prop rounds,
  * connected-components path-halving, Lloyd iterations) and
  * multiply-read intermediates.
  *
  * Default: `localCheckpoint` — lineage is cut with blocks stored
  * UNREPLICATED on executors. Correct and fast on `local[*]` and on
  * healthy clusters, but on a 1000-executor run one executor loss
  * mid-iteration kills the query unrecoverably (the blocks are gone
  * and the lineage that could rebuild them was truncated).
  *
  * Scale-honest fallback: set `graft.checkpointDir` (session conf) to
  * a reliable-store path (HDFS/S3/DBFS) and every truncation point
  * switches to reliable `checkpoint()` — blocks live in fault-tolerant
  * storage, executor loss is survivable. The switch is per-session and
  * deploy-time, like `spark.sql.shuffle.partitions`: unlike a payload
  * spread, which [[Spread]] decides from the scan's own layout, no
  * plan can tell whether the deployment has a reliable store.
  */
object Lineage {

  /** Cheap idempotent SparkContext checkpoint-dir setup: `checkpoint()`
    * requires one, and `setCheckpointDir` mints a fresh UUID subdir on
    * every call, so only set it when unset (first reliable truncation
    * in the JVM wins; the conf's PRESENCE is the per-session switch).
    */
  private def ensureCheckpointDir(ds: Dataset[_], dir: String): Unit = {
    val sc = ds.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
  }

  implicit class LineageOps(private val df: DataFrame) extends AnyVal {
    /** Drop-in for `localCheckpoint(eager)`: reliable `checkpoint`
      * when `graft.checkpointDir` is set, executor-local otherwise.
      */
    def truncateLineage(eager: Boolean = true): DataFrame =
      df.sparkSession.conf.getOption("graft.checkpointDir") match {
        case Some(dir) if dir.nonEmpty =>
          ensureCheckpointDir(df, dir)
          df.checkpoint(eager)
        case _ => df.localCheckpoint(eager)
      }
  }
}
