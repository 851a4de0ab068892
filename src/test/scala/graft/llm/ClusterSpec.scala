package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import ClusterQueries._
import HofTwins.assignExprHof

/** Pins the k-means trainer's semantics on a planted corpus where the
  * answer is computable by hand — the argmin tie rule (lower c_id
  * wins on equal distance), the empty-cluster keep rule, and exact
  * convergence — plus self-consistency on real sf0.001 data.
  */
class ClusterSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** 400 vectors, exactly two distinct values: A for vec_id < 200, B
    * after. Init seeds 0,50,100,150 are all exactly A and 200..350
    * all exactly B, so every A-row ties across clusters 0–3 and must
    * go to 0 (lower id), every B-row to 4; clusters 1,2,3,5,6,7 lose
    * all members (their seeds included) and must keep their init
    * centroids. */
  private def planted = {
    import spark.implicits._
    (0L until 400L).map { id =>
      val v = if (id < 200) 0.1f else 0.9f
      (id, Array.fill(KmDim)(v))
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
  }

  test("native L2 kernel is bit-identical to the HOF argmin twin") {
    for (q <- Seq(planted, graft.Tables.embeddings(spark, sf)
        .select(col("vec_id"), quantize(col("embedding")).as("qv")))) {
      val cents = initCents(q)
      val both = q.select(col("vec_id"),
        assignExpr(cents).as("native"), assignExprHof(cents).as("hof"))
        .collect()
      assert(both.nonEmpty)
      both.foreach(r => assert(r.getInt(1) === r.getInt(2),
        s"vec ${r.getLong(0)}: kernel ${r.getInt(1)} != hof ${r.getInt(2)}"))
    }
  }

  test("ties go to the lower cluster id; empty clusters keep their centroid") {
    val q = planted
    val cs = centsRoundsOn(q)
    assert(cs.length === KmRounds)
    assert(cs.forall(_.map(_._1) === (0 until KmK)))

    val a1 = q.withColumn("cluster", assignExpr(cs.head))
      .groupBy("cluster").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(a1 === Map(0 -> 200L, 4 -> 200L))

    // quantized grid values of the two planted points
    val qa = math.floor(0.1f.toDouble * KmQ + 0.5)
    val qb = math.floor(0.9f.toDouble * KmQ + 0.5)
    val after = cs(1).toMap
    // winners converge to their (identical-point) means — exactly the
    // planted values; losers are bit-unchanged from init
    for (id <- 0 until KmK) {
      val expect = if (id < 4) qa else qb
      assert(after(id).forall(_ === expect),
        s"centroid $id moved off the planted grid point")
    }
  }

  test("planted corpus is converged: zero moves every round") {
    val q = planted
    val cs = centsRoundsOn(q)
    val cols = (1 to KmRounds).map(r => assignExpr(cs(r - 1)).as(s"c$r"))
    val rows = q.select(cols: _*).collect()
    assert(rows.length === 400)
    rows.foreach { r =>
      (1 until KmRounds).foreach(i => assert(r.getInt(i) === r.getInt(i - 1)))
    }
  }

  test("sf0.001: census is self-consistent and partitions the corpus") {
    val census = ClusterQueries.queries("sim_kmeans_train")(spark, sf).collect()
    assert(census.nonEmpty && census.length <= KmK)
    val ids = census.map(_.getInt(0))
    assert(ids.forall(id => id >= 0 && id < KmK))
    assert(census.map(_.getLong(1)).sum === 500L)

    val moves = ClusterQueries.queries("sim_kmeans_moves")(spark, sf).collect()
    assert(moves.map(_.getInt(0)).toSeq === (2 to KmRounds))
    moves.foreach { r =>
      assert(r.getLong(1) === 500L)
      assert(r.getLong(2) >= 0L && r.getLong(2) <= 500L)
    }
  }

  test("sf0.001: trained-IVF top-k and balance audit are well-formed") {
    val topk = ClusterQueries.queries("sim_ivf_trained_topk")(spark, sf)
      .collect()
    assert(topk.nonEmpty)
    // per query: ranks are 1..k, neighbors share the query's cluster,
    // cosines are non-increasing in rank
    topk.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val byRk = rows.sortBy(_.getLong(2))
      assert(byRk.map(_.getLong(2)).toSeq === (1L to byRk.length.toLong))
      assert(byRk.map(_.getInt(1)).distinct.length === 1)
      val cosines = byRk.map(_.getDouble(4))
      cosines.sliding(2).foreach {
        case Array(a, b) => assert(a >= b); case _ => ()
      }
    }

    val bal = ClusterQueries.queries("sim_kmeans_balance")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(bal.keySet === Set("stride_cosine", "kmeans_l2"))
    bal.values.foreach { case (nc, nMin, nMax, nTot) =>
      assert(nc > 0 && nMin >= 1 && nMax >= nMin && nTot >= nMax)
    }
    // the trainer clusters every vector, including zero-norm ones
    assert(bal("kmeans_l2")._4 === 500L)
  }

  test("mean-update shuffle carries at most partitions*K rows (executable Lloyd bound)") {
    // AQE off for a traversable plan tree — on a CLONED session (the
    // MomentGuardSpec discipline: mutating the shared session's conf
    // races concurrently-planning shape-sensitive suites). Inputs are
    // rebuilt on the clone so the plan is governed by its SQLConf.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    import s2.implicits._
    // 4000 corpus rows over `parts` partitions: the per-round update
    // must shuffle only the map-side-combined partials, never the rows
    val parts = 8
    val q = (0L until 4000L).map(id => (id, Array.fill(KmDim)(
        ((id % 97).toFloat - 48f) / 100f)))
      .toDF("vec_id", "embedding")
      .repartition(parts)
      .select(col("vec_id"), quantize(col("embedding")).as("qv"))
    val cents = initCents(q)
    assert(cents.size === KmK)
    val sums = (0 until KmDim).map(i =>
      sum(element_at(col("qv"), i + 1)).as(s"s$i"))
    val agg = q.withColumn("cluster", assignExpr(cents))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), sums: _*)
    agg.collect()
    val partials = agg.queryExecution.executedPlan.collect {
      case h: HashAggregateExec
        if h.aggregateExpressions.nonEmpty &&
          h.aggregateExpressions.forall(_.mode == Partial) => h
    }
    assert(partials.nonEmpty, "no partial aggregate found in the plan")
    val shuffled = partials.map(_.metrics("numOutputRows").value).sum
    val bound = parts.toLong * KmK
    assert(shuffled <= bound,
      s"update shuffled $shuffled rows, bound is $parts*$KmK = $bound")
  }

  test("sf0.001: final assignment matches a driver-side recomputation") {
    val emb = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val qv = emb.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * KmQ + 0.5))
    }
    // replay the full training driver-side
    var cents: Map[Int, Array[Double]] = (0 until KmK)
      .map(c => c -> qv(c.toLong * KmStride).clone()).toMap
    def nearest(v: Array[Double]): Int =
      (0 until KmK).map { c =>
        val cv = cents(c)
        var s = 0.0; var i = 0
        while (i < KmDim) { val t = v(i) - cv(i); s += t * t; i += 1 }
        (s, c)
      }.min._2
    for (_ <- 1 until KmRounds) {
      val byC = qv.groupBy { case (_, v) => nearest(v) }
      cents = cents.map { case (c, old) =>
        c -> byC.get(c).map { m =>
          val sums = Array.fill(KmDim)(0L)
          m.values.foreach(v => (0 until KmDim).foreach(i => sums(i) += v(i).toLong))
          Array.tabulate(KmDim)(i => sums(i).toDouble / m.size)
        }.getOrElse(old)
      }
    }
    val expect = qv.groupBy { case (_, v) => nearest(v) }
      .map { case (c, m) => c -> m.size.toLong }
    val got = ClusterQueries.queries("sim_kmeans_train")(spark, sf)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got === expect)
  }
}
