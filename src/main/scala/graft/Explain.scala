package graft

import org.apache.spark.sql.catalyst.expressions.NamedExpression
import org.apache.spark.sql.execution.FormattedMode

/** Plan auditor: prints the formatted physical plan for the named
  * queries (or a default headline set) so scan pushdown, broadcast
  * joins, and whole-stage-codegen coverage can be inspected.
  *
  * Digest mode builds every query in [[SparkEntry.queries]] and writes
  * one hash of its normalized formatted plan per query as JSON, so two
  * trees' plans can be compared query by query without reading them.
  *
  * Usage: graft.Explain [sfDir] [queryName ...]
  *        graft.Explain --digest sfDir out.json [plansDir]
  */
object Explain {
  val Headline = Seq("q1_pricing_summary", "q5_region_revenue",
    "route_client_fanout", "window_running_totals",
    "dedup_lsh_candidates", "dedup_ngram_jaccard_pairs",
    "sim_bruteforce_topk", "sim_ivf_topk", "sim_quantize_int8",
    "sim_lsh_topk", "text_top_terms", "agg_percentiles_disc",
    "text_repetition", "text_pack_sequences", "sketch_bloom_prejoin",
    "window_topk_native", "dedup_semantic_survivors", "text_token_ids",
    "funnel_stages", "join_salted_skew", "layout_zorder_stats",
    "dedup_segment_scrub", "sim_pq_codes", "sim_pq_adc_topk",
    "sim_ivfpq_topk", "text_bpe_encode", "multimodal_decoded_dims",
    "sim_kmeans_train", "sim_ivf_trained_topk", "dedup_fuzzy_names",
    "dedup_fuzzy_names_topk", "dedup_srp_bucket_stats",
    "graph_pagerank_top", "multimodal_phash_dups", "cdc_point_in_time",
    "window_session_native", "ts_ewma_user", "dq_key_skew",
    "q9_profit_by_nation_year", "q18_large_volume_customers",
    "q21_waiting_suppliers", "sketch_kmv_users", "stat_mad_daily",
    "text_winnowing", "graph_kcore", "behavior_attribution",
    "sim_ivf_probe_sweep", "dq_rate_limit_audit", "text_source_overlap",
    "join_semijoin_reduction", "graph_modularity", "text_mattr",
    "stat_permutation_test", "dq_join_fanout_estimate",
    "sim_centroid_drift", "ts_holt_winters",
    "multimodal_phash_dups_wide", "multimodal_phash_dup_clusters",
    "util_random_ids", "dedup_embedding_lsh", "sim_knn_graph",
    "status_snapshot")

  /** Plan text with the ids that differ between builds of one plan
    * replaced: expression ids, exchange plan ids, lambda variable and
    * class names, object hashes, RDD ids, UUIDs and the seed of
    * `randstr` (drawn per build when a query gives none); the source
    * line of the call that created a scanned RDD (`localCheckpoint at
    * Lineage.scala:<line>`), which moves with every edit above it; and
    * the numbers adaptive execution gives its query stages and the
    * whole-stage-codegen ids around them, which follow the order in
    * which stages finish. Operator names and tree shape stay. */
  private[graft] def normalize(plan: String): String =
    plan
      .replaceAll("(?m)(^\\(\\d+\\) \\w*QueryStage\\b[^\\n]*\\n(?:[^\\n]+\\n)*?)Arguments: \\d+$",
        "$1Arguments: x")
      .replaceAll("\\[codegen id : \\d+\\]", "[codegen id : x]")
      .replaceAll("#\\d+", "#x")
      .replaceAll("plan_id=\\d+", "plan_id=x")
      .replaceAll("Lambda(\\$\\d+)?/0x[0-9a-f]+", "Lambda")
      .replaceAll("(lambda \\w+)_\\d+", "$1_x")
      .replaceAll("randstr\\((\\d+), -?\\d+", "randstr($1, seed")
      .replaceAll("@[0-9a-f]+", "@x")
      .replaceAll("(RDD)\\[\\d+\\]", "$1[x]")
      .replaceAll("(\\w+\\.scala):\\d+", "$1:x")
      .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "uuid")

  private[graft] def digest(plan: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(plan.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString

  /** Writes `out`; with `plansDir`, also each normalized plan as
    * `<query>.txt` there, to read what a changed digest changed. */
  private def writeDigests(sfDir: String, out: String,
      plansDir: Option[String]): Unit = {
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // expression ids feed hash orders in some rewrites (the Expand of
    // RewriteDistinctAggregates), so each query starts from an id fixed
    // by its position, above any id an earlier query used
    val curId = {
      val m = NamedExpression.getClass.getDeclaredMethod("curId")
      m.setAccessible(true)
      m.invoke(NamedExpression).asInstanceOf[java.util.concurrent.atomic.AtomicLong]
    }
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex
    val hashes = sorted.map { case ((n, fn), i) =>
      curId.set((i + 1L) << 32)
      // a query that fails to build records its error class, so a build
      // that starts or stops failing shows up as a changed digest
      val h = try {
        val plan = normalize(fn(spark, sfDir).queryExecution.explainString(FormattedMode))
        plansDir.foreach(dir => java.nio.file.Files.writeString(
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
            .resolve(s"$n.txt"), plan))
        digest(plan)
      } catch { case e: Exception => s"error:${e.getClass.getName}" }
      spark.catalog.clearCache()
      s"  ${JsonOut.q(n)}: ${JsonOut.q(h)}"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      hashes.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
  }

  def main(args: Array[String]): Unit = args match {
    case Array("--digest", sfDir, out, plans @ _*) if plans.size <= 1 =>
      writeDigests(sfDir, out, plans.headOption)
    case _ => printPlans(args)
  }

  private def printPlans(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else Headline
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- names; fn <- SparkEntry.queries.get(n)) {
      println(s"\n========== $n ==========")
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
