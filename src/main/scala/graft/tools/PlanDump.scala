package graft.tools

import java.nio.file.{Files, Paths}

/** Dev utility: dump formatted executed plans of headline queries to
  * docs/PLANS.md as scale-design evidence. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    val dir = "/root/testdata/sf0.01"
    val headline = Seq("q1_agg", "q6_multijoin", "q16_agg_join", "asof_join",
      "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_embedding_xcell",
      "ann_topk_exact", "ev_sessionize", "sketch_heavy_hitters",
      "q35_bloom_join", "ann_quantized_topk", "etl_zorder_plan",
      "sketch_kmv_distinct", "pipe_pack_sequences", "dedup_decontaminate",
      "etl_price_index", "etl_rake_weights", "ev_peak_concurrency",
      "ev_gap_fill", "text_pmi_collocations", "ann_refine_rerank",
      "etl_merge_cdc", "q37_recursive_cte", "etl_chain_index",
      "embedding_gram", "ev_rfm", "text_boilerplate_segments",
      "sketch_countmin", "ev_survival", "q38_group_quartiles",
      // round-7 additions
      "etl_ks_test", "etl_psi", "pipe_token_budget", "ev_dau_stickiness",
      "ann_knn_graph", "graph_lpa", "mm_chunk_dedup", "sketch_theta_diff",
      "dedup_spans", "ann_pq_topk", "url_canonicalize",
      // round-8 additions
      "pipe_bpe_encode", "etl_chisq_independence", "etl_mann_whitney",
      "etl_regression_ols", "ev_changepoint_cusum", "ev_forecast_snaive",
      "ev_autocorrelation", "text_vocab_growth", "ann_recall_eval",
      "dedup_minhash_est_jaccard", "pipe_curriculum_order",
      // round-12 additions: the native-expression rewrites + the new
      // video decode (look for graft_top_cells / graft_cdc_chunks /
      // graft_nearest_pq_code / graft_adc_distance replacing the
      // lambda-interpreter chains)
      "ann_ivf_assign", "mm_cdc_chunks", "mm_video_meta",
      "ev_markov_steady_state",
      // round-13 additions: the driver-side cluster-eval fold (the
      // plan is just the snap + d² passes now), the Avro logical-type
      // roundtrip, the Gopher rule battery
      "embedding_cluster_eval", "src_avro_logical", "text_gopher_rules",
      "pipe_dsir_weights", "ev_cuped", "etl_odds_ratio",
      // round-14 additions: one keyed agg → bookkeeping folds (CMH,
      // Welch, Grubbs, Cochran Q, Brier) and the exact integer
      // window-fold traces (Page-Hinkley, Newey-West lags)
      "ev_cmh_test", "ev_page_hinkley", "ev_welch_anova",
      "etl_grubbs_test", "ev_cochran_q", "ev_brier_calibration",
      "ev_newey_west")
    val sb = new StringBuilder
    sb.append(s"# Executed plans (headline queries, sf0.01, ${spark.sparkContext.master})\n\n")
    sb.append("Generated by `graft.tools.PlanDump`. What to look for: " +
      "`PushedFilters`/`ReadSchema` on every scan (pushdown + pruning), " +
      "`BroadcastHashJoin` for dims, map-side partial aggregation " +
      "(`HashAggregate` pairs), bounded `Exchange` counts, " +
      "`WholeStageCodegen` spans.\n")
    headline.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, dir)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode))
      sb.append("\n```\n")
    }
    Files.createDirectories(Paths.get("docs"))
    Files.writeString(Paths.get("docs/PLANS.md"), sb.toString)
    println("[plandump] wrote docs/PLANS.md")
    spark.stop()
  }
}
