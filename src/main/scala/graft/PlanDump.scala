package graft

/** Dump formatted physical plans for the headline queries →
  * PLANS.md, the artifact behind the `.explain` audit in SURVEY §5.
  * An optional comma-separated query list replaces the headline list
  * (e.g. a before/after plan pair for one optimization).
  * Usage: runMain graft.PlanDump <sfDir> <outFile> [q1,q2,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outFile) = (args(0), args(1))
    val spark = Session.build()
    val headline = Seq(
      "q_etl_pipeline", "q_rollup_5m", "q_rollup_hourly", "q_lookup_enrich",
      "q_recon_counts", "q_recon_missing", "q_recon_diffs_multi",
      "q_delete_reload", "q_thinout", "q_dedup_ngram", "q_dedup_minhash",
      "q_dedup_minhash_v", "q_dedup_embed", "q_ann_topk", "q_ann_ivf",
      "q_multimodal", "q_image_meta", "q_quality_by_source", "q_asof_attrib", "q_topn_heap",
      "q_skew_agg", "q_sample_stratified", "q_pack_sequences",
      "q_sample_weighted", "q_range_band",
      "q_scd2", "q_bm25_search", "q_embed_centroids", "q_heavy_hitters",
      "q_zorder_key", "q_bloom_semijoin", "q_funnel", "q_cohort_retention",
      "q_boilerplate", "q_anomaly_days", "q_upsert", "q_revenue_by_nation",
      "q_curate", "q_skew_join",
      "q_corpus_profile", "q_daily_trend", "q_event_transitions",
      "q_source_overlap", "q_embed_quantize", "q_ann_quantized",
      "q_corpus_diff", "q_active_users", "q_contribution", "q_pareto",
      "q_dedup_incremental",
      "q_stream_window_agg", "q_stream_dedup", "q_fluency",
      "q_passage_dedup", "q_session_window", "q_dedup_sorted",
      "q_dedup_weighted", "q_interval_join", "q_sketch_cascade",
      "q_asof_forward", "q_dedup_canonical", "q_lexical_diversity",
      "q_interarrival", "q_histogram", "q_deciles", "q_point_in_time",
      "q_table_profile", "q_densify", "q_rolling_range", "q_hist_quantile",
      "q_dedup_prefix", "q_pagerank", "q_knn_graph", "q_trend_slope",
      "q_changepoint", "q_twap", "q_concurrency", "q_percent_rank",
      "q_knn_graph_ivf", "q_triangles", "q_drift", "q_source_similarity",
      "q_keywords", "q_centroid_outliers", "q_kcore",
      "q_inverted_index", "q_length_buckets", "q_mixture_plan",
      "q_dedup_keep_best", "q_dup_rate_by_source",
      "q_dedup_semantic", "q_sample_diverse", "q_split_assign",
      "q_shuffle_shards", "q_novelty", "q_user_features", "q_decay_score",
      "q_cms_counts", "q_weak_labels", "q_mad_outliers", "q_wow_change",
      "q_bpe_pairs", "q_feature_corr", "q_mixture_temp", "q_hard_negatives",
      "q_embed_drift", "q_bfs_depth", "q_bfs_reach",
      "q_alarm_hysteresis", "q_data_gaps", "q_staleness", "q_busy_hour",
      "q_dow_profile", "q_label_prop", "q_event_paths", "q_degree_dist",
      "q_ann_recall", "q_dedup_recall", "q_time_to_convert", "q_adoption",
      "q_auc", "q_calibration", "q_kappa", "q_rfm", "q_basket_lift",
      "q_embed_cov", "q_rand_proj",
      "q_forecast_baseline", "q_growth_accounting", "q_quantile_norm",
      "q_dedup_edit", "q_pagerank_seeded", "q_vocab_growth",
      "q_table_checksum", "q_burst_users", "q_dup_matrix", "q_ship_lag",
      "q_session_stats", "q_compaction_plan", "q_asof_nearest",
      "q_skyline", "q_backlog", "q_dataset_card",
      "q_decile_transition", "q_dedup_sweep", "q_fertility",
      "q_dup_cluster_sizes", "q_funnel_windowed", "q_theil_sen",
      "q_gini", "q_lang_confusion", "q_partition_skew",
      "q_delta_encode", "q_quantile_bands", "q_new_vs_returning",
      "q_emb_norm_stats", "q_dedup_winnow", "q_hits",
      "q_markov_stationary", "q_winsorized", "q_fixed_width",
      "q_readability", "q_encoding_qa", "q_capacity_forecast",
      "q_vocab_jaccard", "q_dow_anomalies", "q_profile_diff",
      "q_trending", "q_csv_quoted", "q_tf_cosine", "q_ann_pq",
      "q_counter_deltas", "q_interval_coverage",
      "q_jsonl", "q_stream_counter_deltas", "q_binary_dedup",
      "q_tpch_q6", "q_tpch_q3", "q_tpch_q4", "q_zonemap",
      "q_bpe_train", "q_bpe_encode", "q_recon_sampled",
      "q_rollup_audit", "q_next_word", "q_k_anonymity", "q_pii_report",
      "q_neighborhood", "q_interval_overlap", "q_cdc_apply",
      "q_unused_dims", "q_hhi", "q_retention_halflife",
      "q_rank_ensemble", "q_ab_test", "q_burstiness",
      "q_seasonal_decomp", "q_peak_concurrency", "q_counter_types",
      "q_duplicate_keys",
      // round 7: the newly driver-graded reference-surface queries
      // (the warehouse-writing rigs — q_library_cycle etc. — are
      // excluded: their returned DF is a trivial read-back scan and
      // building it would run the whole write rig inside the dump)
      "q_filename_field", "q_tag_field", "q_string_diffs",
      "q_missing_columns", "q_junit_report", "q_sql_surface")
    val sb = new StringBuilder(
      "# PLANS — formatted physical plans (generated by graft.PlanDump)\n\n" +
        "Audit notes: every lookup is a BroadcastHashJoin; scans show\n" +
        "pruned ReadSchema and PushedFilters; aggregations are\n" +
        "partial+final around a single exchange; no SortMergeJoin where\n" +
        "a broadcast belongs; no CartesianProduct anywhere. The\n" +
        "BroadcastNestedLoopJoin occurrences fall into exactly two\n" +
        "bounded-build classes: (1) ONE-ROW broadcast anchors — a\n" +
        "crossJoin of a single aggregated stats/threshold row back over a\n" +
        "table (bounded by construction, keyless so a hash join cannot\n" +
        "apply); and (2) bounded QUERY-SET broadcasts in the brute-force\n" +
        "ANN oracle twins (e.g. q_ann_topk, q_dedup_embed), where the\n" +
        "filtered query/probe set — limited by the declared probe\n" +
        "predicate, not one row — broadcasts against the corpus; the\n" +
        "at-scale siblings (IVF/LSH) replace these with hash-partitioned\n" +
        "cell joins and are plan-asserted never-broadcast.\n" +
        "RoundRobinPartitioning exchanges in the IVF plans are the\n" +
        "input-layout guard (Ann.withKernelParallelism): they appear\n" +
        "only because this dump reads single-file testdata whose split\n" +
        "count is below the session parallelism — many-split cluster\n" +
        "inputs take the guard's no-op branch and keep the assignment\n" +
        "scan exchange-free.\n" +
        "Fixed-round iterative operators (pagerank/hits/kcore/label-\n" +
        "prop/bfs/hyperball/markov, and triangleStats' eager output)\n" +
        "print as checkpoint leaves here — their per-ROUND shapes\n" +
        "(shuffle_hash gathers, bloom-pruned scans, the exchange-free\n" +
        "wedge self-join) are captured through IterState's probe and\n" +
        "pinned by PlanAuditSpec's round-plan audits instead.\n")
    val names = if (args.length > 2) args(2).split(",").toSeq else headline
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), sb.toString)
    spark.stop()
  }
}
