package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

import scala.collection.mutable.ArrayBuffer

/** Lineage truncation for iterative loops (BFS/peel rounds,
  * connected-components path-halving) and multiply-read
  * intermediates, and the one round loop those iterations run on.
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
  *
  * Round loops run on [[iterate]], which owns the round counter, the
  * round cap and the per-round materialization. Its [[Policy]] is the
  * one choice a loop makes, and it sets the loop's cost:
  *   - [[Cut]]: each round's frame is cut eagerly, one job of its own;
  *     once the cut holds the data, the previous round's frame and the
  *     round's other persisted frames are released. For loops whose
  *     round frame replaces the last one (connected components, k-core
  *     peel). A lazy persist filled by the convergence aggregate,
  *     releasing the parents each round, measured 4× slower on
  *     `dedup_components` (7.2 s → 27+ s at sf0.1, r16): the released
  *     parents sit under the dependent cache chain, and the round's
  *     work is recomputed from lineage. The cut decouples each round
  *     from its parents, which is what makes the release free.
  *   - [[Lazy]]: each round's frame is persisted and filled inside the
  *     next consumer's job; nothing is released mid-loop. For loops
  *     whose result reads every round (the BFS settled union, the
  *     Brandes backward pass). Against an eager cut per round it saves
  *     the cut's own job (sf0.01, 4 cores: `graph_bfs_depth` 29 → 25
  *     jobs, `graph_closeness_panel` 31 → 26, r16,
  *     `bench_anchors/r16_bfs_jobs_sf0.01_c4.json`). On loops whose
  *     round count has no small constant bound, an eager cut every
  *     `cutEvery` rounds, of the round's frame and of what the loop
  *     carries ([[Round.carry]]), keeps the plan bounded.
  */
object Lineage {

  implicit class LineageOps(private val df: DataFrame) extends AnyVal {
    /** Drop-in for `localCheckpoint(eager)`: reliable `checkpoint`
      * when `graft.checkpointDir` is set, executor-local otherwise.
      */
    def truncateLineage(eager: Boolean = true): DataFrame =
      df.sparkSession.conf.getOption("graft.checkpointDir") match {
        case Some(dir) if dir.nonEmpty =>
          // `checkpoint()` needs a SparkContext checkpoint dir, and
          // `setCheckpointDir` mints a fresh UUID subdir on every call,
          // so set it only when unset (the first reliable truncation in
          // the JVM wins; the conf's PRESENCE is the per-session switch)
          val sc = df.sparkSession.sparkContext
          if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
          df.checkpoint(eager)
        case _ => df.localCheckpoint(eager)
      }
  }

  /** How [[iterate]] materializes a round's frame (see the object doc):
    * cut eagerly on the rounds where `cuts`, persisted otherwise. */
  sealed trait Policy { def cuts(round: Int): Boolean }
  case object Cut extends Policy { def cuts(round: Int) = true }
  /** `cutEvery` > 0: rounds `cutEvery`, 2·`cutEvery`, … cut eagerly
    * instead; 0: never. */
  final case class Lazy(cutEvery: Int = 0) extends Policy {
    def cuts(round: Int) = cutEvery > 0 && round % cutEvery == 0
  }

  /** How many rounds [[iterate]] runs at most. */
  sealed trait Limit { def rounds: Int }
  /** A loop to a fixpoint: past `rounds` it has not converged, and an
    * unconverged result is silently wrong (its oracle runs to the
    * fixpoint, or replays exactly `rounds` rounds), so the loop fails
    * and names its query. */
  final case class Cap(rounds: Int) extends Limit
  /** `rounds` is the loop's definition (a BFS radius): stop there. */
  final case class Radius(rounds: Int) extends Limit

  /** One round of [[iterate]]: its 1-based `index`, the frame the
    * previous round materialized (`prev`, the loop's `init` in round
    * 1), and the ways a round body persists frames. */
  final class Round private[Lineage] (val index: Int, val prev: DataFrame,
      policy: Policy) {
    private[Lineage] var frame: Option[DataFrame] = None
    private[Lineage] val persisted = ArrayBuffer.empty[DataFrame]
    private val cuts = policy.cuts(index)

    /** The round's frame, materialized per the policy; exactly one per
      * round. */
    def materialize(df: DataFrame): DataFrame = {
      require(frame.isEmpty, s"round $index materialized two frames")
      frame = Some(if (cuts) df.truncateLineage(true) else df.persist())
      frame.get
    }

    /** A frame the loop carries into the next round besides the round's
      * own (a settled union of the rounds so far): cut on a round that
      * cuts, as is otherwise. A carried union holds every round's plan,
      * and each round's plan holds the union before it, so the plan
      * grows geometrically per round until a cut resets it. */
    def carry(df: DataFrame): DataFrame =
      if (cuts) df.truncateLineage(true) else df

    /** A frame the round reads more than once besides its own; under
      * [[Cut]] it is released with the round. */
    def persist(df: DataFrame): DataFrame = { persisted += df; df.persist() }
  }

  /** A persisted frame leaves the cache; a cut frame's blocks are
    * dropped (unpersisting the Dataset does not reach them: a cut
    * frame is a scan of its checkpointed RDD, not a cached plan). */
  private def release(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
  }

  /** Runs `round` for rounds 1, 2, … until it returns true (the
    * fixpoint) or `limit` rounds have run, and returns the last frame a
    * round materialized. Each round calls `r.materialize` once on its
    * frame and then runs its stop test, which may read that frame.
    * `held` (persisted frames every round reads) is released when the
    * loop ends. Past a [[Cap]] it throws `<query>: <loop> did not
    * converge within <n> rounds`. */
  def iterate(query: String, loop: String, policy: Policy, limit: Limit,
      init: DataFrame, held: DataFrame*)(round: Round => Boolean): DataFrame = {
    var last = init
    var fixed = false
    var index = 0
    while (!fixed && index < limit.rounds) {
      index += 1
      val r = new Round(index, last, policy)
      fixed = round(r)
      val frame = r.frame.getOrElse(throw new IllegalStateException(
        s"$query: $loop round $index materialized no frame"))
      if (policy == Cut) (last +: r.persisted.toSeq).foreach(release)
      last = frame
    }
    held.foreach(release)
    limit match {
      case Cap(n) if !fixed => throw new IllegalStateException(
          s"$query: $loop did not converge within $n rounds")
      case _ => last
    }
  }
}
