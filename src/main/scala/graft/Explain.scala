package graft

/** Plan auditor: prints the formatted physical plan for the named
  * queries (or a default headline set) so scan pushdown, broadcast
  * joins, and whole-stage-codegen coverage can be inspected.
  *
  * Usage: graft.Explain [sfDir] [queryName ...]
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

  def main(args: Array[String]): Unit = {
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
