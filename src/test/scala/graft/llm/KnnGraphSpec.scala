package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KnnGraphSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("knn graph: per-node lists ranked, band-sound, and equal to a driver-side ranking") {
    val q = SimilarityQueries.queries("sim_knn_graph")(spark, sf)
    // the custom operator actually plans (not a window fallback)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), s"custom operator missing from plan:\n$plan")
    val got = q.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    val bySrc = got.groupBy(_._1)
    for ((src, rows) <- bySrc) {
      val sorted = rows.sortBy(_._2)
      assert(sorted.length <= SimilarityQueries.KnnK)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq, s"rk gap at $src")
      // ranked by cos desc with nbr tiebreak
      val pairs = sorted.map(r => (-r._4, r._3)).toSeq
      assert(pairs == pairs.sorted, s"ranking out of order at $src")
    }
    // candidate soundness: every edge shares at least one SRP band
    val e = graft.Tables.embeddings(spark, sf)
      .withColumn("nrm", Vectors.normNative(col("embedding")))
      .filter(col("nrm") > 0)
    val bands = DedupQueries.srpBands(e, dim = 64).collect()
      .map(r => (r.getLong(0), (r.getInt(1), r.getLong(2))))
      .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).toSet }
    for ((src, _, nbr, _) <- got)
      assert(bands(src).intersect(bands(nbr)).nonEmpty,
        s"edge ($src,$nbr) shares no band — not a legal candidate")
    // the operator's per-node top-k equals an independent driver-side
    // ranking of the full scored candidate set
    val bandsDf = DedupQueries.srpBands(e, dim = 64)
    val cands = bandsDf.as("x").join(bandsDf.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
        col("x.band_val") === col("y.band_val") &&
        col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("src"), col("y.vec_id").as("nbr"))
      .distinct()
    val scored = cands
      .join(e.select(col("vec_id").as("src"),
        col("embedding").as("emb_a"), col("nrm").as("nrm_a")), "src")
      .join(e.select(col("vec_id").as("nbr"),
        col("embedding").as("emb_b"), col("nrm").as("nrm_b")), "nbr")
      .withColumn("cos", Vectors.dotNative(col("emb_a"), col("emb_b"))
        / (col("nrm_a") * col("nrm_b")))
      .select("src", "nbr", "cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expect = scored.groupBy(_._1).toSeq.flatMap { case (src, xs) =>
      xs.sortBy(x => (-x._3, x._2)).take(SimilarityQueries.KnnK)
        .zipWithIndex.map { case ((_, nbr, cos), i) => (src, i + 1L, nbr, cos) }
    }.sortBy(r => (r._1, r._2))
    assert(got.toSeq.sortBy(r => (r._1, r._2)) == expect)
  }
}
