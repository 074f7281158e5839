package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dumps `explain("formatted")` for headline queries (PLANS.md is the
  * committed snapshot). Used to iterate on physical shapes — pushdown,
  * broadcast choices, codegen spans — not just row correctness.
  */
object Explain {
  val headline: Seq[String] = Seq(
    "scan_pruned", "join_broadcast", "join_shuffle", "agg_pricing_summary",
    "topk_global", "win_running_sum", "win_ntile_pctrank", "dedup_exact",
    "dedup_near_minhash", "dedup_simhash", "dedup_embcos", "dedup_clusters",
    "sim_knn", "sim_knn_batch", "sim_knn_ivf", "ingest_incremental",
    "events_tumbling", "pipeline_e2e", "sql_q3", "ingest_cdc_scd2",
    "agg_argmax", "win_time_range", "text_bigram_lm", "events_funnel",
    "join_nullsafe", "multimodal_phash", "sql_ddl", "graph_pagerank",
    "text_collocations", "events_gap_fill", "agg_linreg", "join_range_exec",
    "multimodal_frame_dedup", "agg_ks", "graph_triangles", "sql_merge",
    "dedup_clusters_multimodal", "agg_psi", "graph_jaccard", "events_forecast",
    "join_fuzzy_blocked", "events_forecast_backtest",
    "text_dedup_span", "text_decontaminate", "sql_recursive",
    "sample_temperature", "text_quality_bucket", "sim_range_search",
    "events_quota", "sample_token_budget", "events_dau_wau",
    "text_pii_scan", "dedup_eval_embcos", "sql_pivot", "sql_unpivot",
    "dedup_survivor_quality", "text_keyword_extract",
    "events_rfm", "agg_mad", "graph_components", "sink_zorder",
    "scan_manifest", "embed_project", "sample_balanced",
    "sink_manifest_append", "sql_q5", "sql_subquery",
    "sql_lateral", "agg_bitmap_distinct", "dedup_url", "graph_clustering",
    "scan_time_travel", "fn_variant", "sim_mmr", "embed_truncate_eval",
    "scan_delete_merge", "agg_listagg", "sql_params",
    "events_cumulative_users", "sim_knn_ivfpq", "multimodal_scene_detect",
    "sql_q18", "sample_pack", "sample_dsir",
    "ingest_avro", "multimodal_mime", "text_char_entropy", "sql_q21",
    "fn_trycast", "sql_values",
    "ingest_binary", "text_blocklist", "sample_epochs",
    "text_dedup_substring", "text_boilerplate", "profile_observe",
    "sink_vacuum", "sql_q10", "sql_q7", "sql_analyze",
    "scan_file_metadata", "events_ab_test", "fn_mask", "join_asof_tol",
    "text_bpe_apply", "pipeline_multimodal_e2e", "sql_q2",
    "text_quality_classifier", "sql_q19", "multimodal_clip_filter",
    "sql_q16", "profile_kanon", "agg_bitmap_intersect", "join_asof_fwd",
    "embed_binarize", "sim_knn_hamming", "hamming_eval", "sim_knn_rerank",
    "sim_hard_negatives", "multimodal_audio_vad", "text_stupid_backoff",
    "text_readability", "sql_q13", "sql_q22",
    "sql_q11", "sql_q15", "dedup_lsh_curve",
    "text_bm25", "text_quality_bucket_approx", "sim_hybrid_rrf", "sql_q17", "sql_q8", "sql_q9",
    "sql_q1", "sql_q4", "sql_q6", "sql_q12", "sql_q14", "sql_q20",
    "text_winnowing", "ivf_nprobe_curve", "sample_curriculum",
    "dedup_winnowing", "dedup_eval_winnowing", "join_asof_nearest",
    "text_ngram_novelty", "sample_kfold", "profile_freshness",
    "events_rfm_approx", "sample_dsir_approx", "dedup_winnowing_incremental",
    "split_leakage_audit", "split_cluster_aware",
    "agg_bool", "events_basket", "fn_map", "join_asof_exec", "project_cast",
    "sample_stratified", "set_union_evolve", "sim_kmeans", "sink_sorted",
    "text_tfidf", "udaf_histogram", "win_drawdown",
    "agg_ttest", "win_streak", "text_quality",
    "sample_weighted", "profile_columns",
    "embed_norm", "embed_quantize", "multimodal_join", "ann_upsert")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // session-BUILD-time, per the Tables.events contract (no read-time set)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else headline
    names.foreach { n =>
      println(s"\n## $n\n")
      println("```")
      println(SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.explainString(ExplainMode.fromString("formatted")).trim)
      println("```")
    }
    spark.stop()
  }
}
