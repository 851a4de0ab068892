package graft.llm

import graft.Lineage.LineageOps
import graft.{QuerySuite, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed k-means training (Lloyd's algorithm) over the
  * `embeddings` table — the trainer the IVF / SemDeDup stack assumes
  * (their stride-sampled centroids are exactly a k-means init; this
  * suite runs the refinement iterations and proves convergence).
  *
  * Determinism contract (what makes an iterative float algorithm
  * DuckDB-oracle-checkable at all): vectors are quantized to integer
  * grid points up front (`floor(x·10^6 + 0.5)` — the sim_quantize_int8
  * pattern), so every per-cluster per-dimension SUM is an exact BIGINT
  * (order-independent under any partitioning), every centroid mean is
  * one IEEE divide of two exact integers, and every distance is a
  * fixed-order left fold — bit-identical in Spark and DuckDB, so the
  * argmin (ties to the lower centroid id, via `array_min` over
  * `struct(d2, c_id)`) picks the same winner in both engines on every
  * row of every round.
  *
  * Scale design (the textbook 100 TB Lloyd shape): per round the corpus
  * is touched exactly once, MAP-ONLY — assignment folds the K×64
  * centroid literal into the scan; the only shuffle is the K×(dim+1)
  * partial-aggregate rows of the mean update (map-side combine), and
  * the driver holds just K×64 doubles between rounds, broadcast back as
  * literals. The corpus is never cached and never shuffled; empty
  * clusters keep their previous centroid. The convergence trace
  * (`sim_kmeans_moves`) computes ALL rounds' assignments in ONE scan —
  * R map-only argmin columns — rather than joining per-round outputs.
  */
object ClusterQueries extends QuerySuite {

  /** Cluster count: init centroids are the stride-sampled vectors
    * `vec_id % KmStride = 0 AND vec_id < KmStride·KmK` (c_id =
    * vec_id / KmStride), present at every sf. */
  val KmK = 8
  val KmStride = 50
  /** Lloyd rounds: assignment rounds 1..KmRounds, mean updates after
    * all but the last. */
  val KmRounds = 4
  val KmDim = 64
  /** Quantization grid: |x| < 0.6 in this corpus, so |q| < 6·10^5 and
    * 100 TB of per-cluster COORDINATE sums stay far inside BIGINT
    * (and the test-scale ones inside double-exact range for the
    * oracle). The position-weighted wsum checksum is ~2000× wider and
    * carries its own momentGuard at the sim_kmeans_train site. */
  val KmQ = 1000000.0

  /** float embedding → integer grid point (array<long>). */
  private[llm] def quantize(emb: Column): Column =
    transform(emb, x => floor(x.cast("double") * lit(KmQ) + lit(0.5)).cast("long"))

  /** Quantized corpus: (vec_id, qv). NULL embeddings are excluded —
    * they cannot participate in clustering (quantize(NULL) is NULL;
    * assignment would be NULL anyway), and a NULL qv reaching the
    * stride-sampled initCents collect would NPE the driver on
    * getSeq (the NULL-content corpus sweep caught exactly this). */
  private def qCorpus(s: SparkSession, d: String): DataFrame =
    graft.Spread.fanoutScan(Tables.embeddings(s, d)
        .filter(col("embedding").isNotNull))
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))

  /** Squared L2 between the integer vector `qv` and a double centroid:
    * fixed-order left fold, bit-identical to the oracle's
    * `list_sum(list_transform(list_zip(...), ...))`. */
  private[llm] def dist2(qv: Column, cv: Column): Column =
    aggregate(
      zip_with(qv, cv, (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
      lit(0.0), (acc, v) => acc + v)

  /** The K centroids as one literal array column. */
  private[llm] def centLit(cents: Seq[(Int, Array[Double])]): Column =
    array(cents.map { case (id, cv) =>
      struct(lit(id).as("c_id"), array(cv.map(lit(_)): _*).as("cv"))
    }: _*)

  /** Map-only nearest-centroid id for the row's `qv` column: the K
    * centroids ride along as one literal array and the argmin (ties
    * to the lower c_id) runs as ONE compiled pass per row through the
    * native kernel (plans/NearestCentroidL2 — its HOF twin, kept with
    * the specs, pays ~K×dim interpreted closures per row; ClusterSpec
    * pins them bit-identical). TOTAL: an empty centroid set assigns NULL
    * (callers filter those rows out, mirroring the oracle's empty
    * cross join; the kernel returns the same NULL for an empty
    * array). */
  private[llm] def assignExpr(cents: Seq[(Int, Array[Double])]): Column =
    if (cents.isEmpty) lit(null).cast("int")
    else graft.plans.NearestCentroidL2.column(col("qv"), centLit(cents))

  /** Each row's nearest centroid as column `as`. */
  private def assign(q: DataFrame, cents: Seq[(Int, Array[Double])],
      as: String = "cluster"): DataFrame =
    q.withColumn(as, assignExpr(cents))

  /** Init: quantized stride-sampled corpus vectors, c_id-ordered. */
  private[llm] def initCents(q: DataFrame): Seq[(Int, Array[Double])] =
    q.filter(col("vec_id") % KmStride === 0 &&
        col("vec_id") < KmStride * KmK)
      .select((col("vec_id") / KmStride).cast("int").as("c_id"), col("qv"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Long](1).map(_.toDouble).toArray)
      .sortBy(_._1).toSeq

  /** One mean update: exact integer sums per (cluster, dim) — the
    * K×(dim+1)-row partial aggregate is the round's ONLY shuffle —
    * then one IEEE divide per dim in the driver. Clusters that lost
    * every member keep their previous centroid. */
  private[llm] def update(assigned: DataFrame,
      prev: Seq[(Int, Array[Double])]): Seq[(Int, Array[Double])] = {
    val sums = (0 until KmDim).map(i =>
      sum(element_at(col("qv"), i + 1)).as(s"s$i"))
    val rows = assigned.filter(col("cluster").isNotNull)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), sums: _*).collect()
    val means = rows.map { r =>
      val n = r.getLong(1).toDouble
      r.getInt(0) -> Array.tabulate(KmDim)(i => r.getLong(i + 2).toDouble / n)
    }.toMap
    prev.map { case (id, old) => (id, means.getOrElse(id, old)) }
  }

  /** Centroids BEFORE each assignment round r = 1..KmRounds (index
    * r-1). Runs KmRounds-1 update jobs; assignment lineages are
    * rebuilt lazily from the returned pure data. */
  private[llm] def centsRoundsOn(q: DataFrame): Seq[Seq[(Int, Array[Double])]] = {
    var c = initCents(q)
    val all = Seq.newBuilder[Seq[(Int, Array[Double])]]
    all += c
    for (_ <- 1 until KmRounds) {
      c = update(assign(q, c), c)
      all += c
    }
    all.result()
  }

  /** Each query trains for itself: training is part of its cost. */
  private def centsRounds(s: SparkSession, d: String): Seq[Seq[(Int, Array[Double])]] =
    centsRoundsOn(qCorpus(s, d))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Final-round cluster census: per surviving cluster the member
    // count plus exact integer coordinate-sum signatures (first two
    // dims + a position-weighted checksum over all 64) — integers at
    // the output boundary, so the hash compare never touches a float.
    "sim_kmeans_train" -> ((s, d) => {
      val cs = centsRounds(s, d)
      assign(qCorpus(s, d), cs.last)
        // no-op on trained data; drops everything when there were no
        // seed vectors, mirroring the oracle's empty-c0 cross join
        .filter(col("cluster").isNotNull)
        .withColumn("w", aggregate(
          zip_with(col("qv"), sequence(lit(1), lit(KmDim)),
            (v, i) => v * i.cast("long")),
          lit(0L), (acc, v) => acc + v))
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_members"),
          sum(element_at(col("qv"), 1)).as("sum_d0"),
          sum(element_at(col("qv"), 2)).as("sum_d1"),
          sum(col("w")).as("wsum"),
          max(abs(col("w"))).as("wmax"))
        .select(col("cluster").as("c_id"), col("n_members"),
          col("sum_d0"), col("sum_d1"),
          // integer headroom, ENFORCED: the position-weighted checksum
          // is ~2000× wider than the plain coordinate sums (|w| ≤
          // |q|max·ΣKmDim·i ≈ 1.2·10⁹/row), so a cluster past ~7.7·10⁹
          // members — inside a 100 TB corpus at K=8 — wraps it while
          // sum_d0/d1 are still safe; bound n·max|w| from the same
          // wrap-proof aggregate pass
          graft.analytics.Exact.momentGuard(s, "sim_kmeans_train",
            "n_members*max_abs_w",
            col("n_members").cast("double") *
              coalesce(col("wmax"), lit(0L)).cast("double"))(
            col("wsum")).as("wsum"))
        .orderBy("c_id")
    }),

    // Convergence trace: vectors that changed cluster between
    // consecutive rounds. ONE corpus scan computes every round's
    // assignment as a map-only column; the R-1 counters come out of a
    // single 1-row aggregate, exploded to (round, n_vectors, n_moved).
    "sim_kmeans_moves" -> ((s, d) => {
      val cs = centsRounds(s, d)
      val withAll = qCorpus(s, d).select(
        (1 to KmRounds).map(r => assignExpr(cs(r - 1)).as(s"c$r")): _*)
        .filter(col("c1").isNotNull)
      val movedCols = (2 to KmRounds).map(r =>
        sum(when(col(s"c$r") =!= col(s"c${r - 1}"), lit(1L))
          .otherwise(lit(0L))).as(s"m$r"))
      withAll.agg(count(lit(1)).as("n_vectors"), movedCols: _*)
        .select(explode(array((2 to KmRounds).map(r =>
          struct(lit(r).as("round"), col("n_vectors"),
            col(s"m$r").as("n_moved"))): _*)).as("kv"))
        .select(col("kv.round"), col("kv.n_vectors"), col("kv.n_moved"))
        .orderBy("round")
    }),

    // IVF search routed by the TRAINED centroids — the composition the
    // trainer exists for: assignment is the same map-only argmin
    // literal as training (corpus never shuffles to cluster), scoring
    // is exact cosine within the query's cluster only. Zero-norm
    // vectors are excluded from scoring in BOTH twins (0/0 cosine).
    "sim_ivf_trained_topk" -> ((s, d) => {
      val cs = centsRounds(s, d)
      val e = graft.Spread.fanoutScan(Tables.embeddings(s, d))
        .withColumn("qv", quantize(col("embedding")))
        .withColumn("cluster", assignExpr(cs.last))
        .withColumn("nrm", Vectors.normNative(col("embedding")))
        .filter(col("nrm") > 0 && col("cluster").isNotNull)
        .select("vec_id", "cluster", "embedding", "nrm")
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("cluster"),
          col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      broadcast(qs).join(e, Seq("cluster"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos", Vectors.dotNative(col("q_emb"), col("embedding")) /
          (col("q_nrm") * col("nrm")))
        .withColumn("rk", row_number().over(Window.partitionBy(col("q_id"))
          .orderBy(col("cos").desc, col("vec_id"))).cast("long"))
        .filter(col("rk") <= SimilarityQueries.TopK)
        .select("q_id", "cluster", "rk", "vec_id", "cos")
        .orderBy("q_id", "rk")
    }),

    // SemDeDup driven by the TRAINED partition — the other half of
    // what the trainer feeds (sim_ivf_trained_topk is the index half):
    // within each trained cluster, vectors cosine-close to a
    // lower-id keeper are dropped. Pair work stays quadratic only
    // inside bounded clusters; assignment is the same compiled
    // map-only argmin as training. Zero-norm vectors are excluded in
    // BOTH twins before pairing (NaN cosine), though they still took
    // part in training like everything else.
    "dedup_semantic_trained" -> ((s, d) => {
      val cs = centsRounds(s, d)
      val assigned = graft.Spread.fanoutScan(Tables.embeddings(s, d))
        .withColumn("qv", quantize(col("embedding")))
        .withColumn("cluster", assignExpr(cs.last))
        .withColumn("nrm", Vectors.normNative(col("embedding")))
        .filter(col("nrm") > 0 && col("cluster").isNotNull)
        .select("vec_id", "cluster", "embedding", "nrm")
        // consumed three times (both pair sides + the anti-join
        // probe) — cut the lineage once, lazily, like the stride twin
        .truncateLineage(eager = false)
      val a = assigned.select(col("cluster"), col("vec_id").as("vec_a"),
        col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
      val b = assigned.select(col("cluster"), col("vec_id").as("vec_b"),
        col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
      val dropped = a.join(b, Seq("cluster"))
        .filter(col("vec_a") < col("vec_b"))
        .withColumn("cos", Vectors.dotNative(col("emb_a"), col("emb_b"))
          / (col("nrm_a") * col("nrm_b")))
        .filter(col("cos") >= DedupQueries.SemTau)
        .select(col("vec_b").as("vec_id")).distinct()
      assigned.join(dropped, Seq("vec_id"), "left_anti")
        .select("cluster", "vec_id")
        .orderBy("cluster", "vec_id")
    }),

    // Cluster-balance audit: stride-sampled cosine IVF vs trained-L2
    // k-means, min/max/total member counts per method. Imbalance is
    // the IVF scale hazard — a hot cluster is a skewed join key at
    // query time — and the trained partition is what fixes it; this
    // query makes the comparison a driver-checked number. (The stride
    // method clusters only norm>0 vectors — its cosine kernel has no
    // zero-norm answer — so the two totals legitimately differ by the
    // degenerate-vector count.)
    "sim_kmeans_balance" -> ((s, d) => {
      val cs = centsRounds(s, d)
      val trainedCounts = assign(qCorpus(s, d), cs.last)
        .filter(col("cluster").isNotNull)
        .groupBy("cluster").agg(count(lit(1)).as("n"))
      val e = graft.Spread.fanoutScan(Tables.embeddings(s, d))
        .withColumn("nrm", Vectors.normNative(col("embedding")))
        .filter(col("nrm") > 0)
      val centArr = e
        .filter(col("vec_id") % SimilarityQueries.CentroidStride === 0)
        .agg(collect_list(struct(col("vec_id").as("c_id"),
          col("embedding").as("c_emb"), col("nrm").as("c_nrm"))).as("cents"))
      val strideCounts = e.crossJoin(broadcast(centArr))
        .select(graft.plans.NearestCentroid.column(
          col("embedding"), col("nrm"), col("cents")).as("cluster"))
        // the kernel's NULL (empty centroid set) mirrors the oracle's
        // empty cross join
        .filter(col("cluster").isNotNull)
        .groupBy("cluster").agg(count(lit(1)).as("n"))
      def summarize(counts: DataFrame, method: String) =
        counts.agg(count(lit(1)).as("n_clusters"), min("n").as("n_min"),
            max("n").as("n_max"), sum("n").as("n_total"))
          .select(lit(method).as("method"), col("n_clusters"),
            col("n_min"), col("n_max"), col("n_total"))
      summarize(strideCounts, "stride_cosine")
        .union(summarize(trainedCounts, "kmeans_l2"))
        .orderBy("method")
    }),

    // Simplified (centroid) silhouette — the cluster-quality number
    // reported after any k-means fit (Hruschka et al.'s centroid
    // variant of Rousseeuw'87: a = dist to OWN centroid, b = dist to
    // the nearest OTHER centroid, s = (b−a)/max(a,b) ∈ [−1,1]):
    // completes the trainer family (train → moves → balance →
    // QUALITY). Per-vector work is one map-only pass with the K
    // trained centroids as a literal — the corpus never shuffles; the
    // per-row s is floor-quantized to ppm so the per-cluster sums are
    // exact BIGINTs (order-independent under any partitioning — the
    // stat_anova_oneway discipline); the census is a K-row aggregate
    // plus one union'd overall row. Distances reuse the training d2
    // fold and tie rule, so "own centroid" here is bit-identical to
    // the assignment the oracle replays; a vector AT its centroid
    // (a = b = 0) scores s = 0 by convention in both twins.
    "sim_silhouette" -> ((s, d) => {
      val cs = centsRounds(s, d)
      val corpus = qCorpus(s, d)
      val scored =
        if (cs.last.isEmpty)
          // no seed vectors → no clusters: empty with the right shape,
          // mirroring the oracle's empty-c0 cross join
          corpus.select(lit(null).cast("int").as("c_id"),
            lit(null).cast("long").as("s_ppm")).limit(0)
        else {
          val ds = transform(centLit(cs.last), c => struct(
            dist2(col("qv"), c.getField("cv")).as("d2"),
            c.getField("c_id").as("c_id")))
          val own = array_min(col("ds"))
          val other = array_min(filter(col("ds"),
            x => x.getField("c_id") =!= col("own").getField("c_id")))
          val a = sqrt(col("own").getField("d2"))
          val b = sqrt(col("other").getField("d2"))
          val sRaw = when(greatest(a, b) === 0.0, lit(0.0))
            .otherwise((b - a) / greatest(a, b))
          corpus
            .withColumn("ds", ds)
            .withColumn("own", own)
            .withColumn("other", other)
            // single-centroid training leaves no "other" cluster
            // (filter → empty array → NULL min); the oracle's own⋈oth
            // inner join emits nothing there, so drop the row rather
            // than aggregate a NULL s_ppm
            .filter(col("other").isNotNull)
            .withColumn("s_ppm",
              floor(sRaw * lit(1000000.0) + lit(0.5)).cast("long"))
            .select(col("own").getField("c_id").as("c_id"), col("s_ppm"))
        }
      val per = scored.groupBy("c_id")
        .agg(count(lit(1)).as("n_members"), sum("s_ppm").as("sum_s_ppm"))
      val overall = scored.agg(count(lit(1)).as("n_members"),
          sum("s_ppm").as("sum_s_ppm"))
        .filter(col("n_members") > 0)
        .select(lit(-1).as("c_id"), col("n_members"), col("sum_s_ppm"))
      per.select(col("c_id"), col("n_members"), col("sum_s_ppm"))
        .union(overall)
        .withColumn("mean_s", col("sum_s_ppm").cast("double") /
          1000000.0 / col("n_members").cast("double"))
        .orderBy("c_id")
    }))

  /** Unrolled Lloyd rounds as chained CTEs — the oracle replays the
    * exact iteration: same init, same integer grid, same fold-order
    * distances, same tie rule (`ORDER BY d2, c_id` ≡ `array_min` over
    * `struct(d2, c_id)`), same empty-cluster keep (LEFT JOIN +
    * coalesce). */
  private def kmCtes: String = {
    val d2 = "list_sum(list_transform(list_zip(q.qv, c.cv), " +
      "p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))"
    val head = Seq(
      s"""q AS (SELECT vec_id, list_transform(embedding,
         |  x -> CAST(floor(CAST(x AS DOUBLE) * $KmQ + 0.5) AS BIGINT)) AS qv
         |  FROM embeddings)""".stripMargin,
      s"""c0 AS (SELECT CAST(vec_id // $KmStride AS INT) AS c_id,
         |  list_transform(qv, v -> CAST(v AS DOUBLE)) AS cv
         |  FROM q WHERE vec_id % $KmStride = 0
         |    AND vec_id < ${KmStride * KmK})""".stripMargin)
    val rounds = (1 to KmRounds).flatMap { r =>
      val assign =
        s"""a$r AS (
           |  SELECT vec_id, qv, c_id AS cluster FROM (
           |    SELECT q.vec_id, q.qv, c.c_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY $d2, c.c_id) AS rk
           |    FROM q CROSS JOIN c${r - 1} c) WHERE rk = 1)""".stripMargin
      if (r == KmRounds) Seq(assign)
      else Seq(assign,
        s"""s$r AS (
           |  SELECT cluster, t.i, CAST(sum(qv[t.i + 1]) AS BIGINT) AS sv,
           |    count(*) AS n
           |  FROM a$r CROSS JOIN (SELECT unnest(range(0, $KmDim)) AS i) t
           |  GROUP BY cluster, t.i)""".stripMargin,
        s"""c$r AS (
           |  SELECT p.c_id, coalesce(m.cv, p.cv) AS cv
           |  FROM c${r - 1} p LEFT JOIN (
           |    SELECT cluster, list(CAST(sv AS DOUBLE) / n ORDER BY i) AS cv
           |    FROM s$r GROUP BY cluster) m ON m.cluster = p.c_id)""".stripMargin)
    }
    (head ++ rounds).mkString(",\n")
  }

  def oracles: Map[String, String] = Map(
    "sim_kmeans_train" ->
      s"""WITH $kmCtes
         |SELECT cluster AS c_id, count(*) AS n_members,
         |  CAST(sum(qv[1]) AS BIGINT) AS sum_d0,
         |  CAST(sum(qv[2]) AS BIGINT) AS sum_d1,
         |  CAST(sum(list_sum(list_transform(
         |    list_zip(qv, range(1, ${KmDim + 1})),
         |    p -> p[1] * p[2]))) AS BIGINT) AS wsum
         |FROM a$KmRounds GROUP BY cluster ORDER BY c_id""".stripMargin,

    "sim_kmeans_moves" ->
      s"""WITH $kmCtes
         |SELECT * FROM (
         |${(2 to KmRounds).map(r =>
            s"""  SELECT $r AS round, count(*) AS n_vectors,
               |    CAST(sum(CASE WHEN a$r.cluster <> a${r - 1}.cluster
               |      THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
               |  FROM a$r JOIN a${r - 1} USING (vec_id)""".stripMargin)
           .mkString("\n  UNION ALL\n")}
         |) ORDER BY round""".stripMargin,

    "sim_ivf_trained_topk" ->
      s"""WITH $kmCtes,
         |ee AS (
         |  SELECT e.vec_id, a$KmRounds.cluster, e.embedding
         |  FROM embeddings e JOIN a$KmRounds USING (vec_id)
         |  WHERE ${Vectors.normSql("e.embedding")} > 0),
         |qq AS (SELECT vec_id AS q_id, cluster, embedding AS q_emb
         |       FROM ee WHERE vec_id < 10),
         |scored AS (
         |  SELECT qq.q_id, qq.cluster, ee.vec_id,
         |    ${Vectors.cosineSql("qq.q_emb", "ee.embedding")} AS cos
         |  FROM qq JOIN ee ON qq.cluster = ee.cluster
         |  WHERE ee.vec_id <> qq.q_id),
         |ranked AS (
         |  SELECT q_id, cluster, vec_id, cos,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY cos DESC, vec_id) AS rk
         |  FROM scored)
         |SELECT q_id, cluster, rk, vec_id, cos FROM ranked
         |WHERE rk <= ${SimilarityQueries.TopK} ORDER BY q_id, rk""".stripMargin,

    "dedup_semantic_trained" ->
      s"""WITH $kmCtes,
         |nz AS (SELECT vec_id, embedding FROM embeddings
         |       WHERE ${Vectors.normSql("embedding")} > 0),
         |asg AS (
         |  SELECT nz.vec_id, a$KmRounds.cluster, nz.embedding
         |  FROM nz JOIN a$KmRounds USING (vec_id)),
         |dropped AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM asg a JOIN asg b
         |    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
         |  WHERE ${Vectors.cosineSql("a.embedding", "b.embedding")}
         |    >= ${DedupQueries.SemTau})
         |SELECT cluster, vec_id FROM asg
         |WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
         |ORDER BY cluster, vec_id""".stripMargin,

    // own = the a$KmRounds assignment's (d2, c_id)-argmin; b = min d2
    // over the other centroids; same float tree (sqrt → subtract →
    // divide → ×1e6+0.5 → floor) as the Spark side
    "sim_silhouette" -> {
      val d2 = "list_sum(list_transform(list_zip(q.qv, c.cv), " +
        "p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))"
      s"""WITH $kmCtes,
         |dd AS (
         |  SELECT q.vec_id, c.c_id, $d2 AS d2
         |  FROM q CROSS JOIN c${KmRounds - 1} c),
         |own AS (
         |  SELECT vec_id, c_id, d2 FROM (
         |    SELECT vec_id, c_id, d2, row_number() OVER (
         |      PARTITION BY vec_id ORDER BY d2, c_id) AS rk
         |    FROM dd) WHERE rk = 1),
         |oth AS (
         |  SELECT dd.vec_id, min(dd.d2) AS d2b
         |  FROM dd JOIN own ON own.vec_id = dd.vec_id
         |    AND dd.c_id <> own.c_id
         |  GROUP BY dd.vec_id),
         |sc AS (
         |  SELECT own.vec_id, own.c_id,
         |    CAST(floor(
         |      CASE WHEN greatest(sqrt(own.d2), sqrt(o.d2b)) = 0.0
         |        THEN 0.0
         |        ELSE (sqrt(o.d2b) - sqrt(own.d2))
         |          / greatest(sqrt(own.d2), sqrt(o.d2b)) END
         |      * 1000000.0 + 0.5) AS BIGINT) AS s_ppm
         |  FROM own JOIN oth o ON o.vec_id = own.vec_id),
         |per AS (SELECT c_id, CAST(count(*) AS BIGINT) AS n_members,
         |    CAST(sum(s_ppm) AS BIGINT) AS sum_s_ppm
         |  FROM sc GROUP BY c_id),
         |tot AS (SELECT CAST(-1 AS INT) AS c_id,
         |    CAST(count(*) AS BIGINT) AS n_members,
         |    CAST(sum(s_ppm) AS BIGINT) AS sum_s_ppm
         |  FROM sc HAVING count(*) > 0),
         |u AS (SELECT * FROM per UNION ALL SELECT * FROM tot)
         |SELECT c_id, n_members, sum_s_ppm,
         |  CAST(sum_s_ppm AS DOUBLE) / 1000000.0
         |    / CAST(n_members AS DOUBLE) AS mean_s
         |FROM u ORDER BY c_id""".stripMargin
    },

    "sim_kmeans_balance" ->
      s"""WITH $kmCtes,
         |nz AS (SELECT vec_id, embedding FROM embeddings
         |       WHERE ${Vectors.normSql("embedding")} > 0),
         |sc AS (SELECT vec_id AS c_id, embedding AS c_emb
         |       FROM nz WHERE vec_id % ${SimilarityQueries.CentroidStride} = 0),
         |sassign AS (
         |  SELECT vec_id, cluster FROM (
         |    SELECT e.vec_id, c.c_id AS cluster,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${Vectors.cosineSql("e.embedding", "c.c_emb")} DESC,
         |          c.c_id) AS c_rk
         |    FROM nz e CROSS JOIN sc c)
         |  WHERE c_rk = 1),
         |scounts AS (SELECT cluster, count(*) AS n FROM sassign GROUP BY cluster),
         |tcounts AS (SELECT cluster, count(*) AS n FROM a$KmRounds GROUP BY cluster)
         |SELECT * FROM (
         |  SELECT 'stride_cosine' AS method, count(*) AS n_clusters,
         |    min(n) AS n_min, max(n) AS n_max, CAST(sum(n) AS BIGINT) AS n_total
         |  FROM scounts
         |  UNION ALL
         |  SELECT 'kmeans_l2' AS method, count(*) AS n_clusters,
         |    min(n) AS n_min, max(n) AS n_max, CAST(sum(n) AS BIGINT) AS n_total
         |  FROM tcounts
         |) ORDER BY method""".stripMargin)
}
