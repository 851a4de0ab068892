package graft.analytics

import graft.Lineage.{Cap, Cut, Lazy, LineageOps, Radius}
import graft.{Lineage, QuerySuite, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Link-analysis ranking over the customer↔supplier interaction graph
  * (who traded with whom, from orders⋈lineitem) — the PageRank-family
  * quality signal web-scale curation pipelines attach to domains
  * before sampling training data (complementing the similarity-graph
  * connected components in the dedup suite).
  *
  * Determinism contract: the entire iteration is INTEGER arithmetic —
  * initial mass 10^9 per node, per-edge contribution `mass div
  * out_deg`, damping `(85·incoming) div 100` — so there is no float
  * accumulation order to diverge on, and DuckDB replays the rounds
  * exactly with `//`. Truncation remainders evaporate identically in
  * both engines. Integer headroom: a hub's incoming mass is bounded
  * by the total endowment N·InitMass, and the damping multiply needs
  * 85× that inside BIGINT — so InitMass=10^9 is safe to N ≈ 10^8
  * nodes; a larger graph scales InitMass down (10^6 buys N ≈ 10^11)
  * rather than risking silent wraparound.
  *
  * Scale design: the edge list is built once (one orderkey shuffle)
  * and lineage-truncated; each round is edges ⋈ mass⋈deg → map-side
  * divide → one aggregate on dst. While the node count fits
  * [[BroadcastNodeBudget]] the mass⋈deg side ships as a broadcast
  * (edges never move after the initial build); past the budget — a
  * node-sized table is small relative to EDGES, not absolutely small,
  * and a 10^8-row broadcast is multi-GB, over Spark's 8 GB broadcast
  * ceiling and the driver budget long before the integer headroom
  * bites — each round degrades to a plain shuffle join on src, the
  * standard Pregel shape (both sides hash-partitioned on the key).
  * Rounds are chained declaratively (no driver loop over rows, no
  * collect). Every node in the symmetrized graph has out-degree ≥ 1,
  * so there is no dangling-mass branch to model.
  */
object GraphQueries extends QuerySuite {

  /** The k-core peel loop on a SYMMETRIC (a, b) edge list: iterate
    * "drop nodes of induced degree < k" to fixpoint, loud failure
    * past `maxRounds` (the oracle replays exactly that many rounds, so
    * stopping early silently would diverge from it). Monotonicity
    * makes the count-only fixpoint test sound: node sets only shrink,
    * so an unchanged count proves an unchanged set. Returns (node,
    * core_deg) of the surviving core. Factored out of the query so
    * KCorePeelSpec can drive it with planted graphs, including the
    * deep-path case that must THROW. */
  private[analytics] def kcorePeel(sym: DataFrame, k: Long,
      maxRounds: Int): DataFrame = {
    def induced(nodes: DataFrame): DataFrame = sym
      .join(nodes.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
      .join(nodes.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
      .groupBy(col("a").as("node")).agg(count(lit(1)).as("dg"))
    val init = sym.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("dg"))
      .filter(col("dg") >= k).select("node")
      .truncateLineage(true)
    var size = init.count()
    val nodes = Lineage.iterate("graph_kcore", "k-core peel", Cut,
        Cap(maxRounds), init) { r =>
      val next = induced(r.prev).filter(col("dg") >= k)
        .select("node").transform(r.materialize)
      val m = next.count()
      val fixed = m == size
      size = m
      fixed
    }
    induced(nodes).select(col("node"), col("dg").as("core_deg"))
  }

  /** (node, dist): BFS hop distance from the smallest node id of a
    * SYMMETRIC (a, b) edge list. Level-synchronous frontier expansion:
    * each round is one keyed join of the frontier against the edge
    * list and an anti-join against the settled nodes; every shuffle
    * keys on the node id. Rounds are bounded by the graph DIAMETER,
    * never by node count, and past `maxRounds` the loop fails loudly
    * rather than silently truncating distances. The settled result is
    * the union of every round's frame, so the rounds are [[Lazy]]; the
    * frontier and the settled union are cut every 4th round. Between
    * cuts the planning time grows ~2.4× per round (each round's plan
    * holds the settled union before it): a 40-node path reaches a cap
    * of 30 in 14 s with a cut every 4th round, 154 s with one every
    * 8th (local[2], 4-vCPU VM). The co-supply graphs settle in 3
    * rounds. Factored out of graph_bfs_depth so BfsLevelsSpec can
    * drive the cap. */
  private[analytics] def bfsLevels(sym: DataFrame,
      maxRounds: Int): DataFrame = {
    val src = sym.agg(min("a").as("node"))
      .withColumn("dist", lit(0L))
    var settled = src.truncateLineage(true)
    Lineage.iterate("graph_bfs_depth", "BFS frontier", Lazy(4),
        Cap(maxRounds), settled) { r =>
      val next = r.prev.select(col("node").as("a"))
        .join(sym, "a").select(col("b").as("node")).distinct()
        .join(settled, Seq("node"), "left_anti")
        .withColumn("dist", lit(r.index.toLong))
        .transform(r.materialize)
      val empty = next.isEmpty
      if (!empty) settled = r.carry(settled.union(next))
      empty
    }
    settled
  }

  /** Both directions of each co-supply edge (u, v) as (a, b). No
    * distinct: [[coSupplyEdges]] emits each pair once with u < v
    * strictly, so the two union legs cannot collide. */
  private def symmetric(e0: DataFrame): DataFrame =
    e0.select(col("u").as("a"), col("v").as("b"))
      .union(e0.select(col("v").as("a"), col("u").as("b")))

  /** Supplier node ids live above customers: dst = SuppBase + suppkey.
    * 2^40 keeps the ranges disjoint to ~10^12 customers (TPC-H mints
    * 150k custkeys per sf, so collision would need sf ≈ 7·10^6 — far
    * past the 100 TB ≈ sf10^5 design point; the old 10^6 constant
    * collided at sf ≈ 7, silently merging node kinds AND breaking the
    * disjointness that lets Spark's non-deduplicating union match the
    * oracle's UNION). Disjointness is also what makes `node <
    * SuppBase` a correct kind decode. */
  val SuppBase = 1L << 40
  val InitMass = 1000000000L
  val Damping = 85L
  val Rounds = 3
  val HitsRounds = 3

  /** HITS score scale (ppm, not ppb): the normalization product
    * s·scale must fit BIGINT with s ≤ deg·scale, so 10⁶ holds exact
    * to deg ~ 9·10⁶; beyond that swap the round sums to
    * DECIMAL(38,0) (suite-header pattern). */
  val HitsScale = 1000000L

  /** Per-round broadcast ceiling on the node count. 10^7 nodes ×
    * ~24 B/row ≈ 240 MB — inside executor memory and Spark's 8 GB
    * broadcast hard limit with margin; above it [[step]] switches to
    * the shuffle-join plan (see class doc). Same budget-then-degrade
    * pattern as the `text_token_ids` vocab broadcast. */
  val BroadcastNodeBudget = 10000000L

  /** Hub cap for common-neighbor wedge enumeration: a part with more
    * than this many distinct customers is excluded from pair
    * generation (not from degree counts). Bounds any one part's
    * emitted pairs at C(MaxFanout, 2) ≈ 2 · 10^3. */
  val MaxFanout = 64L

  /** Minimum shared parts for a reported customer pair. */
  val MinCommon = 3L

  /** Shared oracle for both assortativity spellings (DuckDB's BIGINT
    * is exact at fixture scale, so one SQL serves both). */
  private def assortativitySql: String =
    s"""$coSupplyEdgesSqlCtes,
       |sym AS (SELECT u AS a, v AS b FROM edges
       |        UNION ALL SELECT v AS a, u AS b FROM edges),
       |deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS dg
       |        FROM sym GROUP BY a),
       |mom AS (
       |  SELECT CAST(count(*) AS BIGINT) AS m,
       |    CAST(sum(da.dg * db.dg) AS BIGINT) AS s1,
       |    CAST(sum(da.dg) AS BIGINT) AS s2,
       |    CAST(sum(da.dg * da.dg) AS BIGINT) AS s3
       |  FROM sym
       |  JOIN deg da ON da.node = sym.a
       |  JOIN deg db ON db.node = sym.b)
       |SELECT m AS n_edges_sym,
       |  CASE WHEN m * s3 - s2 * s2 = 0 THEN NULL
       |  ELSE CAST(m * s1 - s2 * s2 AS DOUBLE) /
       |    CAST(m * s3 - s2 * s2 AS DOUBLE) END AS assortativity
       |FROM mom""".stripMargin

  /** Degree-assortativity body, ONE query plan with two moment
    * spellings (the stat_pca_power template, StatQueries suite
    * header): do hubs trade with hubs (assortative, r > 0) or with
    * leaves (disassortative, r < 0)? Decides whether hub-caps / skew
    * salting will matter downstream. Exact integer moments over the
    * symmetrized edge list (S1 = Σ j·k, S2 = Σ j, S3 = Σ j²; by
    * symmetry the j- and k-marginals coincide), ONE double division:
    * r = (M·S1 − S2²) / (M·S3 − S2²).
    *
    * `decimalMoments = false`: every BIGINT product in the tree —
    * M·S1, S2², M·S3, per-edge da·db — is bounded a-priori by
    * (M·Dmax)² with Dmax = max endpoint degree, ENFORCED
    * ([[Exact.momentGuard]]) from the same wrap-proof count/max
    * aggregate (fine to M ≈ 10⁷ at D ≈ 10⁴; past the ceiling the
    * query raises loudly and names the swap). `true`: degrees are
    * cast to DECIMAL(18,0), products land in DECIMAL(37,0) and sums
    * in DECIMAL(38,0), lifting the headroom to 10³⁸ (M·S1 ≈ 10³² at
    * M ≈ 10¹², Dmax ≈ 10⁴ — past any physical graph) with no guard;
    * the final division casts to DOUBLE exactly as the BIGINT path
    * does, so any moment legal in both spellings converts to the
    * same correctly-rounded double and the twins are bit-identical.
    * Shapes (both spellings): one deg aggregate, two keyed joins
    * edge⋈deg, one scalar aggregate. */
  private def assortativity(s: SparkSession, d: String,
      decimalMoments: Boolean): DataFrame = {
    val sym = symmetric(coSupplyEdges(s, d))
    val deg = sym.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("dg"))
    def x(c: Column): Column =
      if (decimalMoments) c.cast("decimal(18,0)") else c
    val mom = sym
      .join(deg.select(col("node").as("a"), col("dg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("dg").as("db")), "b")
      .agg(count(lit(1)).as("m"),
        sum(x(col("da")) * x(col("db"))).as("s1"),
        sum(x(col("da"))).as("s2"),
        sum(x(col("da")) * x(col("da"))).as("s3"),
        greatest(max("da"), max("db")).as("dmax"))
    // loud headroom guard, BIGINT spelling only: M·S1 ≤ M²·Dmax²,
    // S2² ≤ (M·Dmax)², M·S3 ≤ M²·Dmax², per-edge da·db ≤ Dmax² — all
    // under (M·Dmax)².
    val asBound = {
      // coalesce: an empty/edgeless corpus leaves dmax NULL while
      // the guarded column (m = 0) is not — a NULL bound raises by
      // design (round-12 momentGuard hardening); 0 is sound (no
      // edges → no moment products to bound)
      val md = col("m").cast("double") *
        coalesce(col("dmax"), lit(0L)).cast("double")
      md * md
    }
    val guardedM =
      if (decimalMoments) col("m")
      else Exact.momentGuard(s, "graph_assortativity", "(M*Dmax)^2",
        asBound)(col("m"))
    // a degree-REGULAR graph (every node equal degree: one edge, a
    // perfect matching, a cycle) zeroes the variance denominator
    // M·S3 − S2² — correlation is undefined, so NULL in both twins
    // (the stat_corr_monthly sigma = 0 convention), never 0/0 NaN
    mom.select(
      guardedM.as("n_edges_sym"),
      when(col("m") * col("s3") - col("s2") * col("s2") === 0L,
        lit(null).cast("double"))
        .otherwise(
          (col("m") * col("s1") - col("s2") * col("s2")).cast("double") /
            (col("m") * col("s3") - col("s2") * col("s2")).cast("double"))
        .as("assortativity"))
  }

  /** Strong co-supply edges (u < v): supplier pairs co-occurring in
    * more orders than the global mean pair (strict integer compare
    * cnt·n_pairs > total — no float threshold), from a basket-capped
    * per-order projection so no giant order goes quadratic. Shared by
    * graph_triangles and graph_degree_census; SQL twin in both
    * oracles. */
  private[analytics] def coSupplyEdges(s: SparkSession, d: String): DataFrame = {
    // Pair generation by per-order combination explode, not a basket
    // self-join: ONE shuffle keys the lineitems on the order
    // (collect_set dedups suppliers in the same pass the old version
    // spent a distinct + count + join + self-join on), the C(k,2)
    // fan-out happens map-side inside the ≤[[MaxBasket]] cap, and the
    // only other shuffle is the (u, v) count. The transient per-order
    // supplier set is bounded by the basket-size distribution — the
    // cap drops oversized baskets immediately after collection, the
    // same exposure class the old count-then-join had.
    val pairCnt = Tables.lineitem(s, d)
      // NULL suppliers excluded in BOTH twins: collect_set DROPS the
      // NULL before the MaxBasket size check while the SQL twin's
      // DISTINCT counts it as a value — a 33-supplier basket with one
      // NULL would be kept by Spark and dropped by the oracle,
      // forking the edge set of all nine co-supply graph queries
      .filter(col("l_suppkey").isNotNull)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      // hash-repartition on the grouping key BEFORE the set-building
      // aggregate: the testdata parquet is one row group, so the scan
      // is one real task and the map-side partial collect_set ran
      // single-core (measured 1.5-1.8 s in every coSupplyEdges
      // consumer). The explicit hash exchange satisfies the groupBy's
      // distribution, so the plan still has exactly ONE exchange on
      // ok — it just moves raw 16-byte pairs instead of set buffers
      // (≈ the same bytes: per-order grouping means map partitions
      // hold ~4 rows per order, so partial aggregation compressed
      // almost nothing) and the heavy aggregate runs post-shuffle on
      // every core.
      .transform(graft.Spread.fanoutBy(_, col("ok")))
      .groupBy("ok").agg(sort_array(collect_set("sk")).as("ss"))
      .filter(size(col("ss")) <= MaxBasket)
      // ... and the C(k,2) pair explosion runs right there in the
      // same wide stage (byte-sized AQE coalescing would otherwise
      // have squeezed the basket frame onto a few cores and run the
      // explode nearly serial — measured 1.9 s on 4 of 32 cores)
      .select(explode(expr(
        """flatten(transform(ss, (x, i) ->
          |  transform(slice(ss, i + 2, size(ss)),
          |    y -> struct(x AS u, y AS v))))""".stripMargin)).as("p"))
      .groupBy(col("p.u").as("u"), col("p.v").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val tot = pairCnt.agg(sum("cnt").as("total"),
      count(lit(1)).as("n_pairs"))
    pairCnt.crossJoin(broadcast(tot))
      .filter(col("cnt") * col("n_pairs") > col("total"))
      .select("u", "v")
  }

  /** SQL twin of [[coSupplyEdges]] ending in an `edges(u, v)` CTE. */
  private def coSupplyEdgesSqlCtes: String =
    s"""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
       |            FROM lineitem WHERE l_suppkey IS NOT NULL),
       |small AS (SELECT ok FROM li GROUP BY ok
       |          HAVING count(*) <= $MaxBasket),
       |basket AS (SELECT li.ok, li.sk FROM li JOIN small USING (ok)),
       |pair_cnt AS (
       |  SELECT a.sk AS u, b.sk AS v, count(*) AS cnt
       |  FROM basket a JOIN basket b
       |    ON a.ok = b.ok AND a.sk < b.sk
       |  GROUP BY a.sk, b.sk),
       |tot AS (SELECT sum(cnt) AS total, count(*) AS n_pairs
       |        FROM pair_cnt),
       |edges AS (SELECT u, v FROM pair_cnt, tot
       |          WHERE cnt * n_pairs > total)""".stripMargin

  /** Degree table + degree-ordered orientation shared by the
    * triangle-family queries (graph_triangles, graph_local_clustering
    * — previously two verbatim copies of this ~20-line stage): orient
    * each edge toward the higher (deg, id) endpoint, carrying the
    * dst's rank key so wedge endpoints order without another deg
    * join. The orientation bounds wedge volume at O(m^1.5)
    * (Ortmann & Brandes WSDM'14). */
  private def orientedEdges(edges: DataFrame): (DataFrame, DataFrame) = {
    val deg = edges.select(col("u").as("node"))
      .union(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val withDeg = edges
      .join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
      .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
    val oriented = withDeg.select(
      when(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")), col("u"))
        .otherwise(col("v")).as("src"),
      when(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")), col("v"))
        .otherwise(col("u")).as("dst"),
      // dst is the higher-(deg,id) endpoint, so its degree is the
      // max of the two (also right on ties, where both are equal)
      greatest(col("du"), col("dv")).as("ddst"))
      // spread the O(m^1.5) wedge fan-out: the oriented edge list is
      // tiny in BYTES, so AQE coalesces it to one post-shuffle
      // partition and the broadcast-probe wedge self-join plus
      // closure runs single-task (measured 6.3 s of CPU on 1 of 32
      // cores at sf0.1 — the whole stage-26 pipeline of
      // graph_local_clustering). AQE sizes partitions by input bytes
      // and cannot see the wedge multiplier; one round-robin exchange
      // of the edge-sized frame spreads the enumeration (the
      // withWordsFrame parallelism-not-bytes precedent).
      .transform(graft.Spread.fanout)
    (deg, oriented)
  }

  /** (node, label) after [[LpaRounds]] synchronous label-propagation
    * rounds over a symmetric edge list (Raghavan et al. PRE'07, made
    * deterministic: most-frequent neighbor label, ties to the
    * smallest) — the loop graph_label_prop always ran, factored out
    * so the modularity audit measures the SAME communities the census
    * reports. Ship strategy per [[BroadcastNodeBudget]]. */
  private[analytics] def lpaLabels(e: DataFrame): DataFrame = {
    val deg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg")).truncateLineage()
    val bcast = deg.count() <= BroadcastNodeBudget
    var labels = deg.select(col("node"), col("node").as("label"))
    for (_ <- 1 to LpaRounds) {
      val lbl = labels
      val nbr = e.join(if (bcast) broadcast(lbl) else lbl,
          col("src") === col("node"))
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      // per-node argmax stays the row_number window: the tempting
      // min(struct(-cnt, label)) hash-aggregate respelling was
      // MEASURED 3-8x SLOWER here (struct-buffer min falls off the
      // primitive hash-agg fast path onto ObjectHashAggregate /
      // sort-based fallback; 2.7 s -> 9-26 s at sf0.1) — kept the
      // window (r15 optimization round A/B)
      labels = nbr.withColumn("rn", row_number().over(
          Window.partitionBy("node")
            .orderBy(col("cnt").desc, col("label"))))
        .filter(col("rn") === 1).select("node", "label")
    }
    labels
  }

  /** Symmetrized distinct edge list (src, dst). */
  private def edges(s: SparkSession, d: String): DataFrame = {
    val fwd = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").cast("long").as("src"),
        (lit(SuppBase) + col("l_suppkey")).cast("long").as("dst"))
      .distinct()
    // computed once, lineage-truncated: three rounds re-read this
    // frame and must not re-run the orderkey shuffle each time (the
    // iterative-reuse pattern dedup_components documents)
    fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .truncateLineage()
  }

  /** SQL twin of graph_betweenness_panel, generated level-by-level
    * with the same loops as the DataFrame side so the integer trees
    * stay in lockstep. AS MATERIALIZED on every CTE referenced more
    * than once (the kcore inlining lesson). */
  private def betweennessSql: String = {
    val fwd = (1 to BetwRadius).map { r =>
      val fCte =
        s"""f$r AS MATERIALIZED (
           |  SELECT f.seed, s.b AS node,
           |    CAST(sum(f.sigma) AS BIGINT) AS sigma
           |  FROM f${r - 1} f JOIN sym s ON s.a = f.node
           |  LEFT JOIN s${r - 1} p ON p.seed = f.seed AND p.node = s.b
           |  WHERE p.node IS NULL
           |  GROUP BY f.seed, s.b)""".stripMargin
      // the settled union is only read by the NEXT round's anti-join
      if (r < BetwRadius)
        fCte + s""",
           |s$r AS MATERIALIZED (
           |  SELECT seed, node FROM s${r - 1}
           |  UNION ALL SELECT seed, node FROM f$r)""".stripMargin
      else fCte
    }.mkString(",\n")
    val bwd = ((BetwRadius - 1) to 1 by -1).map { r =>
      val dJoin =
        if (r == BetwRadius - 1) ""
        else s"\n  LEFT JOIN d${r + 1} dw ON dw.seed = v.seed" +
          " AND dw.node = s.b"
      val dwExpr = if (r == BetwRadius - 1) "0" else "coalesce(dw.delta, 0)"
      s"""d$r AS MATERIALIZED (
         |  SELECT v.seed, v.node,
         |    CAST(sum(v.sigma * ($BetwPpm + $dwExpr) // w.sigma) AS BIGINT)
         |      AS delta
         |  FROM f$r v JOIN sym s ON s.a = v.node
         |  JOIN f${r + 1} w ON w.seed = v.seed AND w.node = s.b$dJoin
         |  GROUP BY v.seed, v.node)""".stripMargin
    }.mkString(",\n")
    val dUnion = (1 to BetwRadius - 1)
      .map(r => s"SELECT node, delta FROM d$r")
      .mkString("\n          UNION ALL ")
    s"""$coSupplyEdgesSqlCtes,
       |sym AS MATERIALIZED (
       |  SELECT u AS a, v AS b FROM edges
       |  UNION ALL SELECT v AS a, u AS b FROM edges),
       |seeds AS (SELECT DISTINCT a AS node FROM sym
       |          ORDER BY a LIMIT $BetwSeeds),
       |f0 AS MATERIALIZED (
       |  SELECT node AS seed, node, CAST(1 AS BIGINT) AS sigma
       |  FROM seeds),
       |s0 AS MATERIALIZED (SELECT seed, node FROM f0),
       |$fwd,
       |$bwd,
       |bet AS (SELECT node, CAST(sum(delta) AS BIGINT) AS b_ppm
       |        FROM ($dUnion)
       |        GROUP BY node),
       |rnk AS (SELECT node, b_ppm,
       |          row_number() OVER (ORDER BY b_ppm DESC, node) AS rn
       |        FROM bet)
       |SELECT CAST(rn AS BIGINT) AS rk, node, b_ppm,
       |  CAST(b_ppm AS DOUBLE) / CAST($BetwPpm AS DOUBLE) AS betweenness
       |FROM rnk WHERE rn <= 20 ORDER BY rk""".stripMargin
  }

  /** Body of graph_pagerank_top with the ship strategy overridable —
    * `forceShuffle = true` pins the past-[[BroadcastNodeBudget]]
    * degraded path (per-round keyed shuffle join on src), the shape
    * the zipf hub-node skew probe must exercise: under broadcast
    * there is no exchange for a hub to straggle
    * (`private[graft]`, the contaminationOverlap pattern). */
  private[graft] def pagerankTop(s: SparkSession, d: String,
      forceShuffle: Boolean = false): DataFrame = {
    val e = edges(s, d)
    // node-sized; materialized once — deg is referenced by every
    // round plus the init, and each reference would otherwise
    // re-aggregate the full edge list
    val deg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_deg"))
      .truncateLineage()
    // one O(partitions) count over the checkpointed node table
    // decides the per-round ship strategy (see BroadcastNodeBudget)
    val bcast = !forceShuffle && deg.count() <= BroadcastNodeBudget
    pagerankTop20(e, deg, bcast, "mass div out_deg")
  }

  /** [[Rounds]] damped rounds from [[InitMass]] per node, then the 20
    * nodes of most mass. Top-k FIRST (TakeOrderedAndProject —
    * per-partition heads, no node-sized single-partition window), then
    * rank the 20 survivors; the residual unpartitioned window is 20
    * rows. */
  private def pagerankTop20(e: DataFrame, deg: DataFrame, bcast: Boolean,
      contribution: String): DataFrame = {
    var mass = deg.select(col("node"), lit(InitMass).as("mass"))
    for (_ <- 1 to Rounds) mass = step(e, deg, mass, bcast, contribution)
    mass.orderBy(col("mass").desc, col("node")).limit(20)
      .withColumn("kind",
        when(col("node") < SuppBase, "customer").otherwise("supplier"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("mass").desc, col("node"))).cast("long"))
      .select("rk", "node", "kind", "mass")
      .orderBy("rk")
  }

  /** One damped round: mass_r+1 = base + (85·incoming) div 100, where
    * `contribution` is the per-edge share of the source's mass:
    * `mass div out_deg`, or `(mass * w) div w_src` on the weighted
    * edges. Weighted headroom: mass·w must stay inside BIGINT — with
    * total mass N·InitMass this bounds w_max·N·10^9 < 2^63, i.e. edge
    * weights to ~10^5 at 10^5 nodes; heavier graphs scale InitMass
    * down, as the unweighted contract documents. `bcast` picks the
    * mass⋈deg ship strategy (see class doc); `private[graft]` so
    * GraphPlanSpec can assert both plan shapes. */
  private[graft] def step(e: DataFrame, deg: DataFrame, mass: DataFrame,
      bcast: Boolean = true,
      contribution: String = "mass div out_deg"): DataFrame = {
    val base = (15L * InitMass) / 100L
    val md0 = mass.join(deg, "node")
    // Degraded (past-budget) path: materialize the node-sized mass⋈deg
    // product per round — the iterative-checkpoint discipline
    // (dedup_components), and deliberately ALSO the skew guard: left
    // chained, md arrives at the contribution join CO-PARTITIONED on
    // node, and AQE's skew split bails without a fresh exchange on
    // both sides — a hub node owning most edge endpoints then rides
    // one straggler task (SkewProbe measured share 0.822 on the zipf
    // hub clone before this, 0.053 after, digests identical). The
    // broadcast path needs neither: no exchange exists to straggle.
    val md = if (bcast) broadcast(md0) else md0.truncateLineage()
    val contrib = e.join(md, col("src") === col("node"))
      .select(col("dst"), expr(contribution).as("c"))
      .groupBy(col("dst").as("node")).agg(sum("c").as("in_mass"))
    deg.select("node").join(contrib, Seq("node"), "left")
      .select(col("node"),
        (lit(base) + expr(s"($Damping * coalesce(in_mass, 0L)) div 100"))
          .as("mass"))
  }

  /** WEIGHTED symmetrized edge list (src, dst, w): w = number of
    * lineitems traded between the endpoints — rank flows toward
    * intense relationships, not merely connected ones. */
  private def weightedEdges(s: SparkSession, d: String): DataFrame = {
    val fwd = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      .join(Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").cast("long").as("src"),
        (lit(SuppBase) + col("l_suppkey")).cast("long").as("dst"))
      .agg(count(lit(1)).as("w"))
    fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst"), col("w")))
      .truncateLineage()
  }

  /** Basket cap for the supplier co-occurrence projection: an order
    * with k distinct suppliers contributes C(k,2) pairs, so an
    * unbounded basket is the projection's quadratic risk. TPC-H
    * baskets hold ≤ 7 lineitems; real carts are bounded too, and any
    * pathological mega-order is dropped (not exploded) — the same
    * cap-before-the-self-join pattern as DedupQueries.MaxPosting. */
  val MaxBasket = 32

  /** BFS round bound: rounds scale with graph DIAMETER (co-supply
    * graphs are small-world — single digits), never node count. Loud
    * failure past this, per the CC non-convergence precedent. */
  val MaxBfsRounds = 30

  /** LPA rounds (synchronous; labels move ≤ Rounds hops). */
  val LpaRounds = 3

  /** k-core order: peel to the maximal subgraph of min-degree ≥ K. */
  val KCoreK = 3L

  /** Peel-round bound. Peeling rounds scale with the graph's
    * DEGENERACY ORDERING depth — small-world co-supply graphs settle
    * in single digits; a pathological chain could need O(n), and that
    * case must fail loudly (the CC/BFS non-convergence precedent)
    * because the oracle replays exactly this many rounds and silently
    * stopping early would diverge from it. */
  val MaxPeelRounds = 12

  /** Closeness seed-panel size: a CONSTANT number of sources (the
    * Brandes–Pich sampled-centrality discipline) so the distance
    * table is bounded at Seeds·V rows no matter how the graph grows —
    * a fixed-RATE sample would put the panel itself on the data-size
    * axis and break at 100×. */
  val ClosenessSeeds = 16

  /** Closeness radius: distances are truncated at this many hops
    * (bounded-radius closeness — the standard scale definition; the
    * oracle replays the same bound, so truncation is part of the
    * semantics, not an error). Must keep [[HarmonicBase]] divisible
    * by every d ≤ radius. */
  val ClosenessRadius = 6

  /** lcm(1..ClosenessRadius): 60/d is an exact BIGINT for every hop
    * count d ≤ 6, so the harmonic sum is an order-independent integer
    * aggregate divided ONCE at the end. */
  val HarmonicBase = 60L

  /** Betweenness seed-panel size (constant, like [[ClosenessSeeds]]).
    * Smaller than the closeness panel because each seed carries a
    * full forward+backward Brandes pass. */
  val BetwSeeds = 8

  /** Betweenness BFS radius: shortest paths longer than this are
    * ignored BY DEFINITION (bounded-radius betweenness; the oracle
    * unrolls exactly this many forward levels), the standard
    * truncation for path centrality at scale. */
  val BetwRadius = 4

  /** Dependency quantum for the Brandes backward pass: δ is carried
    * as an integer ppm so every per-level accumulation is an
    * order-independent BIGINT sum — σ_v·(PPM+δ_w) div σ_w per DAG
    * edge, floor-div in both engines. Headroom, ENFORCED
    * ([[Exact.momentGuard]], 2^62 ceiling): each backward round
    * bounds its per-edge product and per-node sum a-priori by
    * in_deg·σmax·(PPM+δmax) from wrap-proof count/max aggregates of
    * the SAME round (σ ≤ fan^radius, δ ≤ reach·PPM keep it under the
    * ceiling to σ ≈ 10⁶, δ ≈ 5·10²·PPM), and the final per-node
    * accumulation re-bounds by n_levels·δmax; past the ceiling the
    * query raises loudly instead of wrapping. */
  val BetwPpm = 1000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Common-neighbor link prediction over the customer–PART
    // bipartite graph (who buys the same parts — the selective
    // relation; supplier fan-out in this schema is near-complete and
    // carries no signal): for customer pairs sharing parts, the
    // shared-part count and the exact Jaccard of their part sets
    // (fixed-point ppm — integer-only, engine-exact). Pair generation
    // enumerates wedges at the shared PART, with parts above
    // [[MaxFanout]] customers excluded as hubs — the Adamic-Adar
    // insight taken to a hard cap: a neighbor everyone shares carries
    // no link signal but would emit C(deg,2) pairs, so the cap bounds
    // every part's wedge set at C(MaxFanout,2) and total pair volume
    // stays linear in the part count at ANY corpus size. Jaccard
    // denominators use the UNCAPPED per-customer degrees (the cap
    // gates candidate generation, not the measure); pairs below
    // [[MinCommon]] shared parts are noise and drop.
    "graph_common_neighbors" -> ((s, d) => {
      val cs = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        .join(Tables.lineitem(s, d).select("l_orderkey", "l_partkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("c"),
          col("l_partkey").cast("long").as("sp"))
        .distinct()
      val degC = cs.groupBy("c").agg(count(lit(1)).as("nc"))
      val fanOk = cs.groupBy("sp").agg(count(lit(1)).as("nf"))
        .filter(col("nf") <= MaxFanout).select("sp")
      // wedge generation by per-part combination explode — the cap
      // bounds the collected list at MaxFanout, so C(k,2) ordered
      // pairs stream out map-side instead of the k² self-join rows
      // the old filter discarded half of (the coSupplyEdges trick)
      val pairs = cs.join(fanOk, Seq("sp"), "left_semi")
        // hash-spread on the wedge center BEFORE the collect (the
        // coSupplyEdges note): the explicit exchange satisfies the
        // groupBy, pins the stage wide against byte-sized AQE
        // coalescing, and the C(k,2) explode runs in the same wide
        // stage (it ran on 4 of 32 cores before)
        .transform(graft.Spread.fanoutBy(_, col("sp")))
        .groupBy("sp").agg(sort_array(collect_list("c")).as("cc"))
        .select(explode(expr(
          """flatten(transform(cc, (x, i) ->
            |  transform(slice(cc, i + 2, size(cc)),
            |    y -> struct(x AS c1, y AS c2))))""".stripMargin)).as("p"))
        .groupBy(col("p.c1").as("c1"), col("p.c2").as("c2"))
        .agg(count(lit(1)).as("n_common"))
        .filter(col("n_common") >= MinCommon)
      pairs
        .join(degC.select(col("c").as("c1"), col("nc").as("n1")), "c1")
        .join(degC.select(col("c").as("c2"), col("nc").as("n2")), "c2")
        .select(col("c1").as("cust_a"), col("c2").as("cust_b"),
          col("n_common"),
          expr("n_common * 1000000 div (n1 + n2 - n_common)")
            .as("jaccard_ppm"))
        .orderBy("cust_a", "cust_b")
    }),

    // Degree census of the strong co-supply graph ([[coSupplyEdges]]):
    // the shape audit run before any iterative graph algorithm (is the
    // graph hub-heavy? will broadcast budgets hold?). Degree table +
    // one groupBy on degree — bounded by the node count, never edges.
    // BFS hop distance over the strong co-supply graph from the
    // smallest node id — the reachability/diameter probe run before
    // any path-dependent analysis. Body in [[bfsLevels]]. The oracle
    // replays the same levels as a recursive CTE taking min(dist) per
    // node.
    "graph_bfs_depth" -> ((s, d) =>
      bfsLevels(symmetric(coSupplyEdges(s, d))
        .truncateLineage(true), // read every round — truncate lineage once
        MaxBfsRounds).orderBy("node")),

    // Sampled closeness + harmonic centrality over the strong
    // co-supply graph — the "which suppliers sit nearest the middle of
    // the trade network" ranking, computed the only way centrality
    // scales: a CONSTANT [[ClosenessSeeds]]-source panel (Brandes &
    // Pich, ESA'07 lineage) and bounded-radius BFS, never all-pairs.
    // Multi-source level-synchronous expansion: the frontier carries
    // (seed, node) so ONE join per round advances every seed at once;
    // each round is frontier⋈edges + anti-join against settled, with
    // the settled table bounded at Seeds·V rows.
    // Distances are truncated at [[ClosenessRadius]] hops BY
    // DEFINITION (the oracle replays the same bound — truncation is
    // the semantics, so no loud-fail here, unlike the full-BFS probe).
    // Exactness: dist sums and the lcm-scaled harmonic sum
    // (60/d exact for d ≤ 6) are BIGINT aggregates; closeness and
    // harmonic are two final IEEE divisions.
    "graph_closeness_panel" -> ((s, d) => {
      val sym = symmetric(coSupplyEdges(s, d))
        .truncateLineage(true) // read every round — truncate lineage once
      // panel = the ClosenessSeeds smallest node ids present in the
      // graph: deterministic and non-empty at every sf (a modulus
      // rule can miss every node on a small id domain); production
      // would hash-pick, which changes nothing structural
      val seeds = sym.select(col("a").as("node")).distinct()
        .orderBy("node").limit(ClosenessSeeds)
      var settled = seeds.select(col("node").as("seed"), col("node"),
        lit(0L).as("dist")).truncateLineage(true)
      // the radius is a small constant: no cut needed to bound the
      // plan depth
      Lineage.iterate("graph_closeness_panel", "BFS frontier", Lazy(),
          Radius(ClosenessRadius), settled) { r =>
        val next = r.prev.select(col("seed"), col("node").as("a"))
          .join(sym, "a")
          .select(col("seed"), col("b").as("node")).distinct()
          .join(settled.select("seed", "node"), Seq("seed", "node"),
            "left_anti")
          .withColumn("dist", lit(r.index.toLong))
          .transform(r.materialize)
        val empty = next.isEmpty
        if (!empty) settled = settled.union(next)
        empty
      }
      settled.groupBy("seed").agg(
          count(lit(1)).as("n_reached"),
          sum("dist").as("sum_dist"),
          sum(when(col("dist") > 0L, expr(s"$HarmonicBase div dist"))
            .otherwise(0L)).as("h"))
        .select(col("seed"), col("n_reached"), col("sum_dist"),
          ((col("n_reached") - 1L).cast("double") /
            col("sum_dist").cast("double")).as("closeness"),
          (col("h").cast("double") / lit(HarmonicBase.toDouble))
            .as("harmonic"))
        .orderBy("seed")
    }),

    // Sampled betweenness centrality (Brandes, J.Math.Soc'01) over the
    // strong co-supply graph — which suppliers BROKER the network's
    // shortest paths, the complement of closeness's "who is near
    // everything". Computed the only way betweenness scales: a
    // constant [[BetwSeeds]] seed panel and [[BetwRadius]]-bounded
    // BFS, never all-pairs. Forward pass: level-synchronous multi-
    // source BFS carrying the shortest-path COUNT σ (exact BIGINT —
    // σ(w) = Σ σ(v) over predecessor levels, one keyed sum per
    // level). Backward pass: Brandes' dependency accumulation with δ
    // carried as integer ppm ([[BetwPpm]]) — per DAG edge v→w the
    // contribution is σ_v·(PPM+δ_w) div σ_w, an exact floor-div both
    // engines replay, so the per-node sums are order-independent
    // BIGINTs and the hash matches despite the algorithm being a
    // 2·radius-round iteration. Every shuffle keys on (seed, node);
    // the settled/level tables are bounded at Seeds·V rows; the final
    // ranking is a top-K on the node-sized aggregate.
    "graph_betweenness_panel" -> ((s, d) => {
      val sym = symmetric(coSupplyEdges(s, d))
        .truncateLineage(true) // read 2·radius times — truncate once
      val seeds = sym.select(col("a").as("node")).distinct()
        .orderBy("node").limit(BetwSeeds)
      val level0 = seeds.select(col("node").as("seed"), col("node"),
        lit(1L).as("sigma")).truncateLineage(true)
      val levels = scala.collection.mutable.ArrayBuffer(level0)
      var settled = level0.select("seed", "node").truncateLineage(true)
      // each level is read again by the settled anti-joins and twice by
      // the backward pass
      Lineage.iterate("graph_betweenness_panel", "forward BFS", Lazy(),
          Radius(BetwRadius), level0) { r =>
        // forward headroom guard: σ(w) = Σ σ(v) over ≤ in_deg
        // predecessors, each proven < ceiling by the PREVIOUS round's
        // guard (round 0 is the literal 1), so in_deg·σmax_prev —
        // count/max of the same aggregate, wrap-proof in DOUBLE —
        // bounds this round's sum a-priori. Without this the backward
        // pass would read possibly-wrapped σ and its own bounds would
        // be computed FROM corrupt inputs.
        val next = r.prev.join(sym, col("node") === col("a"))
          .select(col("seed"), col("b").as("nxt"), col("sigma"))
          .join(settled.select(col("seed"), col("node").as("nxt")),
            Seq("seed", "nxt"), "left_anti")
          .groupBy(col("seed"), col("nxt").as("node"))
          .agg(sum("sigma").as("sg"), count(lit(1)).as("in_deg"),
            max("sigma").as("ms"))
          .select(col("seed"), col("node"),
            Exact.momentGuard(s, "graph_betweenness_panel",
              "in_deg*sigma_max (forward round)",
              col("in_deg").cast("double") * col("ms").cast("double"))(
              col("sg")).as("sigma"))
          .transform(r.materialize)
        levels += next
        // only the NEXT round's anti-join reads settled
        if (r.index < BetwRadius)
          settled = settled.union(next.select("seed", "node"))
        false
      }
      // backward: δ at the deepest level is 0 (no successors inside
      // the radius); seeds (level 0) need no δ — betweenness sums δ
      // over interior nodes v ≠ s only
      var deltaAbove: Option[DataFrame] = None
      val perLevel = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      for (r <- (BetwRadius - 1) to 1 by -1) {
        val v = levels(r).select(col("seed"), col("node").as("vn"),
          col("sigma").as("sv"))
        val w = levels(r + 1).select(col("seed"), col("node").as("wn"),
          col("sigma").as("sw"))
        val dag = v.join(sym, col("vn") === col("a"))
          .select(col("seed"), col("vn"), col("sv"), col("b").as("wn"))
          .join(w, Seq("seed", "wn"))
        val withD = deltaAbove match {
          case Some(da) => dag.join(da.select(col("seed"),
              col("node").as("wn"), col("delta").as("dw")),
            Seq("seed", "wn"), "left")
          case None => dag.withColumn("dw", lit(null).cast("long"))
        }
        // loud headroom guard per round (BetwPpm doc): the per-edge
        // product σ_v·(PPM+δ_w) ≤ σmax·(PPM+δmax) and the per-node
        // sum of in_deg such terms ≤ in_deg·σmax·(PPM+δmax) — the
        // bound is computed in DOUBLE from the round's own wrap-proof
        // count/max aggregates (σ and δ are round INPUTS, proven
        // in-range by the previous round's guard), and wraps the
        // always-selected delta column so pruning can't drop it.
        val dr = withD
          .select(col("seed"), col("vn"),
            col("sv"), coalesce(col("dw"), lit(0L)).as("dw0"),
            expr(s"sv * ($BetwPpm + coalesce(dw, 0L)) div sw").as("c"))
          .groupBy(col("seed"), col("vn").as("node"))
          .agg(sum("c").as("delta"), count(lit(1)).as("in_deg"),
            max("sv").as("msv"), max("dw0").as("mdw"))
          .select(col("seed"), col("node"),
            Exact.momentGuard(s, "graph_betweenness_panel",
              "in_deg*sigma_max*(PPM+delta_max)",
              col("in_deg").cast("double") * col("msv").cast("double") *
                (lit(BetwPpm.toDouble) + col("mdw").cast("double")))(
              col("delta")).as("delta"))
          // read by the final union AND the next backward round
          .persist()
        perLevel += dr
        deltaAbove = Some(dr)
      }
      // final accumulation guard: per node the union holds ≤ n_levels
      // deltas (each proven < ceiling above), so n·δmax bounds the sum.
      val bet = perLevel.reduce(_ union _)
        .groupBy("node").agg(sum("delta").as("b_ppm"),
          count(lit(1)).as("nl"), max("delta").as("mxd"))
        .select(col("node"),
          Exact.momentGuard(s, "graph_betweenness_panel",
            "n_levels*delta_max",
            col("nl").cast("double") * col("mxd").cast("double"))(
            col("b_ppm")).as("b_ppm"))
      bet.orderBy(col("b_ppm").desc, col("node")).limit(20)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("b_ppm").desc, col("node"))).cast("long"))
        .select(col("rk"), col("node"), col("b_ppm"),
          (col("b_ppm").cast("double") / lit(BetwPpm.toDouble))
            .as("betweenness"))
        .orderBy("rk")
    }),

    // k-core decomposition (membership of the K-core) of the strong
    // co-supply graph: iteratively peel nodes of induced degree < K
    // until fixpoint — the classic cohesion primitive (Seidman, Social
    // Networks '83) that finds the dense trading nucleus hub-degree
    // alone misses. Each round is two left-semi joins of the
    // checkpointed symmetric edge list against the (shrinking) node
    // set plus one keyed count — every shuffle keys on a node id,
    // nothing is quadratic. The survivor-set count per round is the
    // round's single action, and because peeling is MONOTONE
    // (node sets only shrink) an unchanged count proves an unchanged
    // set — the cheap fixpoint test. The oracle replays exactly
    // [[MaxPeelRounds]] rounds; once the fixpoint is reached the
    // extra rounds are identities, so Spark loud-fails if it hasn't
    // converged inside the bound rather than silently diverging.
    "graph_kcore" -> ((s, d) =>
      kcorePeel(symmetric(coSupplyEdges(s, d))
        .truncateLineage(true), // read every round — truncate lineage once
        KCoreK, MaxPeelRounds).orderBy("node")),

    // Degree assortativity (Newman PRL'02) of the strong co-supply
    // graph: the Pearson correlation of endpoint degrees over edges.
    // Body, scale rationale, and the two moment spellings in
    // [[assortativity]].
    "graph_assortativity" ->
      ((s, d) => assortativity(s, d, decimalMoments = false)),

    // The DECIMAL(38,0) re-spelling the graph_assortativity guard
    // message names as its escape hatch, live and oracle-verified
    // (the stat_pca_power_decimal pattern): identical plan shape and
    // bit-identical output wherever both spellings are legal, with
    // the moment headroom moved from 2⁶² to 10³⁸ — and this query is
    // the EMPIRICALLY tightest guard on the board: the round-13
    // scaling-curve run tripped the BIGINT guard at a mere ×10
    // amplification of sf0.1 ((M·Dmax)² ≈ 5.3·10¹⁸ > 2⁶²), so a real
    // deployment needs this swap first.
    "graph_assortativity_decimal" ->
      ((s, d) => assortativity(s, d, decimalMoments = true)),

    "graph_degree_census" -> ((s, d) => {
      val edges = coSupplyEdges(s, d)
      edges.select(col("u").as("node"))
        .union(edges.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
        .orderBy("deg")
    }),

    // Triangle census of the strong co-supply graph. Graph: suppliers
    // are linked when they co-occur in more orders than the global
    // mean pair does (the strict-integer compare cnt·n_pairs >
    // total keeps it exact — no float threshold), built from a
    // basket-capped per-order projection. Counting uses the
    // degree-ordered orientation (Ortmann & Brandes WSDM'14 lineage;
    // the reference-free classic): orient every edge toward the
    // higher-(degree, id) endpoint, enumerate wedges at the LOW
    // endpoint only, close each wedge with a hash join back to the
    // oriented edge list. Out-degrees under this orientation are
    // O(sqrt(m)), so wedge volume is O(m^1.5) worst-case instead of
    // Σdeg² — the difference between feasible and not on a 100 TB
    // hub-heavy graph. All shuffles key on node ids; nothing is ever
    // quadratic in a hub's degree. Global clustering coefficient =
    // 3T / ΣC(deg,2), both sides exact BIGINTs, divided once.
    "graph_triangles" -> ((s, d) => {
      val edges = coSupplyEdges(s, d)
        .truncateLineage() // referenced by deg + orientation + closure
      val (deg, oriented) = orientedEdges(edges)
      // wedge enumeration stays a self-join on src (NOT the
      // coSupplyEdges combination-explode trick: measured 6.5 -> 10.5 s
      // at sf0.1 — the wedge fan is ~10x the basket fan, and paying a
      // collect_list sort per src to save one reused exchange loses;
      // ReuseExchange already shares the oriented build between the
      // join sides)
      val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.ddst") < col("e2.ddst") ||
            (col("e1.ddst") === col("e2.ddst") &&
              col("e1.dst") < col("e2.dst"))))
        .select(col("e1.dst").as("wv"), col("e2.dst").as("ww"))
      val tri = wedges.join(oriented,
        col("wv") === col("src") && col("ww") === col("dst"), "left_semi")
      val wedgeTotal = deg.agg(
        sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
      edges.agg(count(lit(1)).as("n_edges"))
        .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
        .crossJoin(wedgeTotal)
        .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
          // a perfect-matching graph (every degree 1) has edges but
          // ZERO wedges: transitivity is undefined — NULL in both
          // twins (the local_clustering deg < 2 convention), never an
          // ANSI divide-by-zero abort
          when(col("n_wedges") === 0L, lit(null).cast("double"))
            .otherwise(col("n_triangles").cast("double") * lit(3.0) /
              col("n_wedges").cast("double")).as("clustering_coeff"))
    }),

    // Per-node LOCAL clustering coefficient (Watts & Strogatz, Nature
    // 1998) — the node-granular companion of graph_triangles' global
    // transitivity: lcc(v) = 2·T(v) / (deg(v)·(deg(v)−1)), the
    // fraction of v's neighbor pairs that are themselves connected.
    // Same degree-ordered orientation and O(m^1.5) wedge bound as
    // graph_triangles; the only additions are carrying the wedge
    // CENTER through the closure join and a 3-rows-per-triangle
    // explode into a keyed count — both linear in the triangle count.
    // T(v) and the deg·(deg−1) denominator are exact BIGINTs; lcc is
    // the single final division. Full node table output (node-count
    // rows — suppliers here), totally ordered by node id.
    "graph_local_clustering" -> ((s, d) => {
      val edges = coSupplyEdges(s, d)
        .truncateLineage() // referenced by deg + orientation + closure
      val (deg, oriented) = orientedEdges(edges)
      val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.ddst") < col("e2.ddst") ||
            (col("e1.ddst") === col("e2.ddst") &&
              col("e1.dst") < col("e2.dst"))))
        .select(col("e1.src").as("a"), col("e1.dst").as("b"),
          col("e2.dst").as("c"))
      // the closing edge, when present, is oriented low→high exactly
      // as (b, c) — the wedge ordering made b the lower-(deg,id) end
      val tri = wedges.join(
        oriented.select(col("src").as("b"), col("dst").as("c")),
        Seq("b", "c"), "left_semi")
      val perNode = tri
        .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("tv"))
      deg.join(perNode, Seq("node"), "left")
        .select(col("node"), col("deg"),
          coalesce(col("tv"), lit(0L)).as("n_triangles"),
          when(col("deg") < 2L, lit(null).cast("double"))
            .otherwise(coalesce(col("tv"), lit(0L)).cast("double") * 2.0 /
              (col("deg") * (col("deg") - 1L)).cast("double")).as("lcc"))
        .orderBy("node")
    }),

    // Community detection by synchronous label propagation on the
    // customer↔supplier graph (Raghavan et al. PRE'07, made
    // deterministic): init label = node id; each round every node
    // adopts the most frequent label among its neighbors, ties to the
    // SMALLEST label — pure integer argmax, so DuckDB replays every
    // round exactly. Per round: one edges⋈labels join (broadcast
    // while the node table fits BroadcastNodeBudget, shuffle-join
    // past it — the PageRank degrade pattern), one (node, label)
    // count, one per-node argmax. The argmax window partitions by
    // node: millions of tiny partitions, never a global funnel.
    // On a BIPARTITE graph synchronous LPA oscillates (each side
    // adopts the other side's dominant label every round) — after the
    // odd LpaRounds this reads as "customers labeled by their
    // dominant supplier, suppliers by their dominant customer", which
    // is the deterministic two-view community structure the spec
    // pins; on non-bipartite graphs the same code converges normally.
    "graph_label_prop" -> ((s, d) => {
      lpaLabels(edges(s, d)).groupBy("label").agg(count(lit(1)).as("size"))
        .orderBy(col("size").desc, col("label")).limit(20)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("size").desc, col("label"))).cast("long"))
        .select("rk", "label", "size")
        .orderBy("rk")
    }),

    // Newman modularity Q of the label-propagation communities — the
    // quality audit of the partition graph_label_prop reports: on a
    // symmetric edge list with E directed edges, Q·E² =
    // Σ_c (intra_dir_c·E − d_c²), ALL exact integers (intra_dir_c =
    // directed intra-community edges, d_c = community degree sum);
    // the single final division is the only float. Q ≈ 0 means the
    // "communities" are no better than random wiring — the go/no-go
    // check before anyone acts on a community assignment. On THIS
    // fixture it fires for real: synchronous LPA on the bipartite
    // customer↔supplier graph oscillates into the two bipartite
    // SIDES (Q = −0.5, pure ANTI-communities, near-zero intra
    // edges), so the 2-community census graph_label_prop reports is
    // exposed as structurally meaningless — the audit earning its
    // keep, and the documented reason production LPA damps or
    // asyncs updates on bipartite-ish graphs. Scale
    // shape: two keyed joins of the edge list against the node-sized
    // label table (broadcast below [[BroadcastNodeBudget]] inside
    // [[lpaLabels]]; the tag joins here key on node id), then
    // community-count-sized aggregates. Headroom: intra_c·E < 2⁶³
    // bounds E to ~3·10⁹ directed edges; DECIMAL(38,0) swap past
    // that (StatQueries note).
    "graph_modularity" -> ((s, d) => {
      val e = edges(s, d)
      val labels = lpaLabels(e).truncateLineage()
      // node-sized label table: ship broadcast below the budget (the
      // lpaLabels/PageRank degrade pattern), keyed shuffle join above
      val bc = labels.count() <= BroadcastNodeBudget
      def ship(df: DataFrame) = if (bc) broadcast(df) else df
      val tagged = e
        .join(ship(labels.select(col("node").as("src"),
          col("label").as("sl"))), "src")
        .join(ship(labels.select(col("node").as("dst"),
          col("label").as("dl"))), "dst")
      val intra = tagged.filter(col("sl") === col("dl"))
        .groupBy(col("sl").as("label")).agg(count(lit(1)).as("intra_dir"))
      val degc = e.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
        .join(labels, "node")
        .groupBy("label").agg(sum("deg").as("d_c"))
      val em = e.agg(count(lit(1)).as("ee"))
      degc.join(intra, Seq("label"), "left")
        .na.fill(0L, Seq("intra_dir"))
        .crossJoin(broadcast(em))
        .select((col("intra_dir") * col("ee")
          - col("d_c") * col("d_c")).as("nc"))
        .agg(coalesce(sum("nc"), lit(0L)).as("num"),
          count(lit(1)).as("n_communities"))
        .crossJoin(broadcast(em))
        .select(col("ee").as("n_edges_dir"), col("n_communities"),
          when(col("ee") === 0L, lit(null).cast("double"))
            .otherwise(col("num").cast("double") /
              (col("ee").cast("double") * col("ee").cast("double")))
            .as("q_modularity"))
    }),

    // Top-20 nodes after three damped rounds, integer masses only.
    "graph_pagerank_top" -> ((s, d) => pagerankTop(s, d)),

    // HITS hubs & authorities (Kleinberg, JACM 1999) on the DIRECTED
    // customer→supplier trade graph — the bipartite companion of
    // PageRank's undirected rank: hub customers buy from
    // authoritative suppliers and vice versa. Integer determinism by
    // per-round MAX-normalization in ppb: a = Σ h over in-edges then
    // a ← a·10⁹ div max(a) (same for h over out-edges) — every round
    // is integer joins + integer division, replayed round-for-round
    // in the oracle's MATERIALIZED CTE chain. Scale shape: per round,
    // one edges⋈scores join (broadcast under
    // [[BroadcastNodeBudget]], keyed shuffle above), one keyed
    // aggregate, one 1-row max broadcast. Headroom: see [[HitsScale]].
    "graph_hits" -> ((s, d) => {
      val e = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        .join(Tables.lineitem(s, d).select("l_orderkey", "l_suppkey"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").cast("long").as("cust"),
          col("l_suppkey").cast("long").as("supp"))
        .distinct()
        .truncateLineage() // read 2·HitsRounds times
      // (r15 optimization A/B: checkpointing one shared distinct for
      // the budget count + round-0 scores measured ~1 s SLOWER than
      // letting ReuseExchange share the two distinct computations —
      // the localCheckpoint materialization costs more than it saves)
      val bcast = e.select("cust").distinct().count() <=
        BroadcastNodeBudget
      def ship(df: DataFrame) = if (bcast) broadcast(df) else df
      def normalized(scores: DataFrame, key: String): DataFrame = {
        // node-sized, referenced TWICE (the max aggregate and the
        // normalized select) and again by the next round — without
        // lineage truncation each reference replays every earlier
        // round, turning 3 rounds into ~2^6 edge joins (measured
        // 6.8 s warm → 2.9 s with the checkpoint at sf0.1)
        val sc = scores.truncateLineage()
        val mx = sc.agg(max("s").as("mx"))
        sc.crossJoin(broadcast(mx))
          .select(col(key), expr(s"s * $HitsScale div mx").as("s"))
      }
      var h = e.select("cust").distinct()
        .select(col("cust"), lit(HitsScale).as("s"))
      var a: DataFrame = null
      for (_ <- 1 to HitsRounds) {
        a = normalized(
          e.join(ship(h), "cust")
            .groupBy("supp").agg(sum("s").as("s")), "supp")
        h = normalized(
          e.join(ship(a), "supp")
            .groupBy("cust").agg(sum("s").as("s")), "cust")
      }
      val topA = a.orderBy(col("s").desc, col("supp")).limit(10)
        .select(lit("authority").as("kind"), col("supp").as("node"),
          col("s").as("score_ppm"))
      val topH = h.orderBy(col("s").desc, col("cust")).limit(10)
        .select(lit("hub").as("kind"), col("cust").as("node"),
          col("s").as("score_ppm"))
      topA.unionByName(topH)
        .withColumn("rk", row_number().over(
          Window.partitionBy("kind")
            .orderBy(col("score_ppm").desc, col("node"))).cast("long"))
        .select("kind", "rk", "node", "score_ppm")
        .orderBy("kind", "rk")
    }),

    // The WEIGHTED variant: contributions proportional to trade
    // intensity. Same shuffle shape, same integer determinism.
    "graph_pagerank_weighted" -> ((s, d) => {
      val e = weightedEdges(s, d)
      val deg = e.groupBy(col("src").as("node"))
        .agg(sum("w").as("w_src"))
        .truncateLineage()
      val bcast = deg.count() <= BroadcastNodeBudget
      pagerankTop20(e, deg, bcast, "(mass * w) div w_src")
    }))

  def oracles: Map[String, String] = Map(
    "graph_common_neighbors" ->
      s"""WITH cs AS (
         |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS c,
         |    CAST(l_partkey AS BIGINT) AS sp
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |degc AS (SELECT c, count(*) AS nc FROM cs GROUP BY c),
         |fan_ok AS (SELECT sp FROM cs GROUP BY sp
         |           HAVING count(*) <= $MaxFanout),
         |capped AS (SELECT cs.c, cs.sp FROM cs JOIN fan_ok USING (sp)),
         |pairs AS (
         |  SELECT a.c AS c1, b.c AS c2, CAST(count(*) AS BIGINT) AS n_common
         |  FROM capped a JOIN capped b
         |    ON a.sp = b.sp AND a.c < b.c
         |  GROUP BY a.c, b.c HAVING count(*) >= $MinCommon)
         |SELECT c1 AS cust_a, c2 AS cust_b, n_common,
         |  CAST((n_common * 1000000) //
         |    (d1.nc + d2.nc - n_common) AS BIGINT) AS jaccard_ppm
         |FROM pairs
         |JOIN degc d1 ON d1.c = c1
         |JOIN degc d2 ON d2.c = c2
         |ORDER BY cust_a, cust_b""".stripMargin,
    "graph_bfs_depth" ->
      s"""${coSupplyEdgesSqlCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |sym AS (SELECT u AS a, v AS b FROM edges
         |        UNION SELECT v AS a, u AS b FROM edges),
         |src AS (SELECT min(a) AS node FROM sym),
         |bfs AS (
         |  SELECT node, CAST(0 AS BIGINT) AS dist FROM src
         |  UNION
         |  SELECT sym.b AS node, bfs.dist + 1 AS dist
         |  FROM bfs JOIN sym ON sym.a = bfs.node
         |  WHERE bfs.dist < $MaxBfsRounds)
         |SELECT node, CAST(min(dist) AS BIGINT) AS dist
         |FROM bfs GROUP BY node ORDER BY node""".stripMargin,

    "graph_closeness_panel" ->
      s"""${coSupplyEdgesSqlCtes.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |sym AS (SELECT u AS a, v AS b FROM edges
         |        UNION SELECT v AS a, u AS b FROM edges),
         |seeds AS (SELECT DISTINCT a AS node FROM sym
         |          ORDER BY a LIMIT $ClosenessSeeds),
         |walk AS (
         |  SELECT node AS seed, node, CAST(0 AS BIGINT) AS d FROM seeds
         |  UNION
         |  SELECT walk.seed, sym.b AS node, walk.d + 1 AS d
         |  FROM walk JOIN sym ON sym.a = walk.node
         |  WHERE walk.d < $ClosenessRadius),
         |md AS (SELECT seed, node, CAST(min(d) AS BIGINT) AS dist
         |       FROM walk GROUP BY seed, node)
         |SELECT seed, CAST(count(*) AS BIGINT) AS n_reached,
         |  CAST(sum(dist) AS BIGINT) AS sum_dist,
         |  CAST(count(*) - 1 AS DOUBLE) / CAST(sum(dist) AS DOUBLE)
         |    AS closeness,
         |  CAST(sum(CASE WHEN dist > 0 THEN $HarmonicBase // dist
         |    ELSE 0 END) AS DOUBLE) / CAST($HarmonicBase AS DOUBLE)
         |    AS harmonic
         |FROM md GROUP BY seed ORDER BY seed""".stripMargin,

    "graph_betweenness_panel" -> betweennessSql,

    "graph_kcore" -> {
      // AS MATERIALIZED is load-bearing: every round references the
      // previous node set TWICE, so DuckDB's default CTE inlining
      // would expand the plan 2^rounds-fold.
      val rounds = (1 to MaxPeelRounds).map { r =>
        s"""d$r AS MATERIALIZED (
           |  SELECT s.a AS node, count(*) AS dg FROM sym s
           |  JOIN n${r - 1} x ON s.a = x.node
           |  JOIN n${r - 1} y ON s.b = y.node
           |  GROUP BY s.a),
           |n$r AS MATERIALIZED (
           |  SELECT node FROM d$r WHERE dg >= $KCoreK)""".stripMargin
      }.mkString(",\n")
      s"""$coSupplyEdgesSqlCtes,
         |sym AS MATERIALIZED (
         |  SELECT u AS a, v AS b FROM edges
         |  UNION ALL SELECT v AS a, u AS b FROM edges),
         |n0 AS MATERIALIZED (
         |  SELECT a AS node FROM sym GROUP BY a
         |  HAVING count(*) >= $KCoreK),
         |$rounds
         |SELECT node, CAST(dg AS BIGINT) AS core_deg
         |FROM d$MaxPeelRounds WHERE dg >= $KCoreK ORDER BY node""".stripMargin
    },

    "graph_assortativity" -> assortativitySql,
    // the DECIMAL(38,0) spelling is bit-identical wherever both are
    // legal, so it replays the SAME oracle
    "graph_assortativity_decimal" -> assortativitySql,

    "graph_degree_census" ->
      s"""$coSupplyEdgesSqlCtes,
         |deg AS (SELECT node, count(*) AS deg FROM (
         |    SELECT u AS node FROM edges
         |    UNION ALL SELECT v AS node FROM edges) GROUP BY node)
         |SELECT deg, CAST(count(*) AS BIGINT) AS n_nodes
         |FROM deg GROUP BY deg ORDER BY deg""".stripMargin,

    "graph_triangles" ->
      s"""$coSupplyEdgesSqlCtes,
         |deg AS (SELECT node, count(*) AS deg FROM (
         |    SELECT u AS node FROM edges
         |    UNION ALL SELECT v AS node FROM edges) GROUP BY node),
         |oriented AS (
         |  SELECT CASE WHEN du < dv OR (du = dv AND u < v)
         |              THEN u ELSE v END AS src,
         |         CASE WHEN du < dv OR (du = dv AND u < v)
         |              THEN v ELSE u END AS dst,
         |         greatest(du, dv) AS ddst
         |  FROM (SELECT e.u, e.v, d1.deg AS du, d2.deg AS dv
         |        FROM edges e
         |        JOIN deg d1 ON d1.node = e.u
         |        JOIN deg d2 ON d2.node = e.v)),
         |wedges AS (
         |  SELECT e1.dst AS wv, e2.dst AS ww
         |  FROM oriented e1 JOIN oriented e2
         |    ON e1.src = e2.src AND (e1.ddst < e2.ddst OR
         |       (e1.ddst = e2.ddst AND e1.dst < e2.dst))),
         |tri AS (SELECT count(*) AS n_triangles FROM wedges w
         |        WHERE EXISTS (SELECT 1 FROM oriented o
         |                      WHERE o.src = w.wv AND o.dst = w.ww)),
         |wt AS (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT)
         |         AS n_wedges FROM deg),
         |ne AS (SELECT count(*) AS n_edges FROM edges)
         |SELECT ne.n_edges, wt.n_wedges, tri.n_triangles,
         |  CASE WHEN wt.n_wedges = 0 THEN NULL
         |  ELSE 3.0 * CAST(tri.n_triangles AS DOUBLE) /
         |    CAST(wt.n_wedges AS DOUBLE) END AS clustering_coeff
         |FROM ne, wt, tri""".stripMargin,

    // Naive id-ordered triple enumeration (u<v<w via three edge
    // joins) — deliberately a DIFFERENT triangle algorithm than the
    // oriented wedge plan, so the hash match proves the orientation
    // counts every triangle exactly once.
    "graph_local_clustering" ->
      s"""$coSupplyEdgesSqlCtes,
         |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
         |    SELECT u AS node FROM edges
         |    UNION ALL SELECT v AS node FROM edges) GROUP BY node),
         |tri AS (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM edges e1
         |  JOIN edges e2 ON e2.u = e1.v
         |  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
         |tn AS (SELECT node, CAST(count(*) AS BIGINT) AS tv FROM (
         |    SELECT a AS node FROM tri
         |    UNION ALL SELECT b AS node FROM tri
         |    UNION ALL SELECT c AS node FROM tri) GROUP BY node)
         |SELECT d.node, d.deg,
         |  CAST(coalesce(tn.tv, 0) AS BIGINT) AS n_triangles,
         |  CASE WHEN d.deg < 2 THEN NULL
         |       ELSE CAST(coalesce(tn.tv, 0) AS DOUBLE) * 2.0 /
         |            CAST(d.deg * (d.deg - 1) AS DOUBLE) END AS lcc
         |FROM deg d LEFT JOIN tn ON tn.node = d.node
         |ORDER BY d.node""".stripMargin,

    "graph_label_prop" -> {
      val rounds = (1 to LpaRounds).map { r =>
        s"""l$r AS (
           |  SELECT node, label FROM (
           |    SELECT e.dst AS node, l.label, count(*) AS cnt,
           |      row_number() OVER (PARTITION BY e.dst
           |        ORDER BY count(*) DESC, l.label) AS rn
           |    FROM edges e JOIN l${r - 1} l ON e.src = l.node
           |    GROUP BY e.dst, l.label)
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey AS src, $SuppBase + l_suppkey AS dst
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |edges AS (SELECT src, dst FROM e0
         |          UNION SELECT dst AS src, src AS dst FROM e0),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
         |$rounds
         |SELECT rk, label, size FROM (
         |  SELECT label, count(*) AS size,
         |    row_number() OVER (ORDER BY count(*) DESC, label) AS rk
         |  FROM l$LpaRounds GROUP BY label)
         |WHERE rk <= 20 ORDER BY rk""".stripMargin
    },

    "graph_modularity" -> {
      val rounds = (1 to LpaRounds).map { r =>
        s"""l$r AS (
           |  SELECT node, label FROM (
           |    SELECT e.dst AS node, l.label, count(*) AS cnt,
           |      row_number() OVER (PARTITION BY e.dst
           |        ORDER BY count(*) DESC, l.label) AS rn
           |    FROM edges e JOIN l${r - 1} l ON e.src = l.node
           |    GROUP BY e.dst, l.label)
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey AS src, $SuppBase + l_suppkey AS dst
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |edges AS (SELECT src, dst FROM e0
         |          UNION SELECT dst AS src, src AS dst FROM e0),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
         |$rounds,
         |lab AS (SELECT node, label FROM l$LpaRounds),
         |tagged AS (
         |  SELECT ls.label AS sl, ld.label AS dl
         |  FROM edges e JOIN lab ls ON e.src = ls.node
         |    JOIN lab ld ON e.dst = ld.node),
         |intra AS (
         |  SELECT sl AS label, CAST(count(*) AS BIGINT) AS intra_dir
         |  FROM tagged WHERE sl = dl GROUP BY sl),
         |degc AS (
         |  SELECT lab.label, CAST(count(*) AS BIGINT) AS d_c
         |  FROM edges e JOIN lab ON e.src = lab.node GROUP BY lab.label),
         |em AS (SELECT CAST(count(*) AS BIGINT) AS ee FROM edges),
         |per AS (
         |  SELECT CAST(coalesce(intra.intra_dir, 0) * ee - d_c * d_c
         |    AS BIGINT) AS nc
         |  FROM degc LEFT JOIN intra ON degc.label = intra.label, em),
         |agg AS (
         |  SELECT CAST(coalesce(sum(nc), 0) AS BIGINT) AS num,
         |    CAST(count(*) AS BIGINT) AS n_communities
         |  FROM per)
         |SELECT ee AS n_edges_dir, n_communities,
         |  CASE WHEN ee = 0 THEN NULL
         |       ELSE CAST(num AS DOUBLE) /
         |            (CAST(ee AS DOUBLE) * CAST(ee AS DOUBLE))
         |  END AS q_modularity
         |FROM agg, em""".stripMargin
    },

    "graph_pagerank_top" -> {
      val base = (15L * InitMass) / 100L
      val rounds = (1 to Rounds).map { r =>
        s"""m$r AS (
           |  SELECT n.node,
           |    CAST($base + ($Damping * coalesce(c.in_mass, 0)) // 100
           |      AS BIGINT) AS mass
           |  FROM deg n LEFT JOIN (
           |    SELECT e.dst AS node,
           |      CAST(sum(m.mass // d.out_deg) AS BIGINT) AS in_mass
           |    FROM edges e
           |    JOIN m${r - 1} m ON e.src = m.node
           |    JOIN deg d ON e.src = d.node
           |    GROUP BY e.dst) c ON c.node = n.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (
         |  SELECT DISTINCT o_custkey AS src, $SuppBase + l_suppkey AS dst
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |edges AS (SELECT src, dst FROM e0
         |          UNION SELECT dst AS src, src AS dst FROM e0),
         |deg AS (SELECT src AS node, count(*) AS out_deg
         |        FROM edges GROUP BY src),
         |m0 AS (SELECT node, CAST($InitMass AS BIGINT) AS mass FROM deg),
         |$rounds
         |SELECT rk, node, kind, mass FROM (
         |  SELECT node, mass,
         |    CASE WHEN node < $SuppBase THEN 'customer'
         |         ELSE 'supplier' END AS kind,
         |    row_number() OVER (ORDER BY mass DESC, node) AS rk
         |  FROM m$Rounds)
         |WHERE rk <= 20 ORDER BY rk""".stripMargin
    },

    "graph_pagerank_weighted" -> {
      val base = (15L * InitMass) / 100L
      val rounds = (1 to Rounds).map { r =>
        s"""m$r AS (
           |  SELECT n.node,
           |    CAST($base + ($Damping * coalesce(c.in_mass, 0)) // 100
           |      AS BIGINT) AS mass
           |  FROM deg n LEFT JOIN (
           |    SELECT e.dst AS node,
           |      CAST(sum((m.mass * e.w) // d.w_src) AS BIGINT) AS in_mass
           |    FROM edges e
           |    JOIN m${r - 1} m ON e.src = m.node
           |    JOIN deg d ON e.src = d.node
           |    GROUP BY e.dst) c ON c.node = n.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (
         |  SELECT o_custkey AS src, $SuppBase + l_suppkey AS dst,
         |    count(*) AS w
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
         |  GROUP BY 1, 2),
         |edges AS (SELECT src, dst, w FROM e0
         |          UNION ALL SELECT dst AS src, src AS dst, w FROM e0),
         |deg AS (SELECT src AS node, CAST(sum(w) AS BIGINT) AS w_src
         |        FROM edges GROUP BY src),
         |m0 AS (SELECT node, CAST($InitMass AS BIGINT) AS mass FROM deg),
         |$rounds
         |SELECT rk, node, kind, mass FROM (
         |  SELECT node, mass,
         |    CASE WHEN node < $SuppBase THEN 'customer'
         |         ELSE 'supplier' END AS kind,
         |    row_number() OVER (ORDER BY mass DESC, node) AS rk
         |  FROM m$Rounds)
         |WHERE rk <= 20 ORDER BY rk""".stripMargin
    },

    // Round-for-round replay of the max-normalized integer HITS
    // iteration; MATERIALIZED stops the round chain re-expanding.
    "graph_hits" -> {
      val rounds = (1 to HitsRounds).map { r =>
        s"""a${r}r AS MATERIALIZED (
           |  SELECT e.supp, CAST(sum(h.s) AS BIGINT) AS s
           |  FROM e JOIN h${r - 1} h USING (cust) GROUP BY e.supp),
           |a$r AS MATERIALIZED (
           |  SELECT supp, CAST(s * $HitsScale //
           |    (SELECT max(s) FROM a${r}r) AS BIGINT) AS s
           |  FROM a${r}r),
           |h${r}r AS MATERIALIZED (
           |  SELECT e.cust, CAST(sum(a.s) AS BIGINT) AS s
           |  FROM e JOIN a$r a USING (supp) GROUP BY e.cust),
           |h$r AS MATERIALIZED (
           |  SELECT cust, CAST(s * $HitsScale //
           |    (SELECT max(s) FROM h${r}r) AS BIGINT) AS s
           |  FROM h${r}r)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS MATERIALIZED (
         |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |h0 AS MATERIALIZED (
         |  SELECT DISTINCT cust, CAST($HitsScale AS BIGINT) AS s FROM e),
         |$rounds,
         |ta AS (SELECT 'authority' AS kind, supp AS node, s AS score_ppm
         |  FROM a$HitsRounds ORDER BY s DESC, supp LIMIT 10),
         |th AS (SELECT 'hub' AS kind, cust AS node, s AS score_ppm
         |  FROM h$HitsRounds ORDER BY s DESC, cust LIMIT 10),
         |u AS (SELECT * FROM ta UNION ALL SELECT * FROM th)
         |SELECT kind, CAST(row_number() OVER (PARTITION BY kind
         |    ORDER BY score_ppm DESC, node) AS BIGINT) AS rk,
         |  node, score_ppm
         |FROM u ORDER BY kind, rk""".stripMargin
    })
}
