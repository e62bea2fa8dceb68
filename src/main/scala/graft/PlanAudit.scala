package graft

import org.apache.spark.sql.SparkSession

/** Physical-plan audit: prints `explain("formatted")` for representative
  * declared queries and flags the scale anti-patterns the design forbids —
  * scans without pushed filters/pruned columns where expected, missing
  * broadcasts on dim joins, interpreted (non-codegen) hot paths.
  *
  * Usage: `sbt "runMain graft.PlanAudit [sfDir] [query ...]"`.
  * The flags are ASSERTED per-query by `PlanAuditSpec` in `sbt test`
  * (r5 verdict item 5: a regression that introduces a cartesian product
  * into a gated query must fail the build, not just print); this main
  * remains the eyeball/round-log view of the full formatted plans.
  */
object PlanAudit {

  /** Queries whose plans the audit covers by default — representative of
    * every family (scan/filter, multi-join, window, matrix, dedup,
    * similarity, streaming-batch, layout, SQL entry).
    */
  val defaultQueries: Set[String] = Set(
    "r1_filter_project", "r4_multijoin_region", "r9_window_topk",
    "m1_matmul", "m4_matmul_sparse", "m12_matmul_planned", "l2_near_dup",
    "l5_vector_topk",
    "l6_label_centroids", "l10_cosine_dup", "l11_fingerprint",
    "s6_interval_join", "s7_asof_join", "r20_pivot", "l12_bpe_tokens",
    "io3_partitioned_scan", "io4_bucketed_join", "io7_dpp_join",
    "r22_ntile", "s9_gapfill", "j2_props_map", "l14_simhash_pairs",
    "l14b_simhash64_pairs", "l17_tfidf", "l18_array_hof", "l19_pipeline",
    "l20_embedding_gram", "sql5_correlated", "sql7_exists",
    "l21_stratified_sample", "l22_bigram_freq", "s14_chained_window",
    "l5c_pq_topk", "l5d_ivfpq_topk",
    "r25_grouping_sets", "sql11_lateral", "io12_zorder_layout",
    "io24_hilbert_layout",
    "l26_knn_classify", "l27_normalize", "l28_redact", "j4_map_hof",
    "r28_full_outer", "l29_dup_shingle_frac",
    "l30_chunks", "l31_pack", "l32_decontaminate", "io17_merge_upsert",
    "r31_countmin", "j5_json_roundtrip",
    // io18 is audited by LayoutSpec directly — its gate returns a
    // localCheckpoint'd frame whose lineage (and plan features) are cut.
    "l33_triangle_count", "l34_lm_score", "r32_median_mode",
    "sql16_listagg", "l35_passage_dup", "l36_feature_hash", "sql17_pivot",
    "io19_parquet_bloom",
    "r34_corr_regr", "r35_nth_value", "l37_edit_distance",
    "l38_lexical_diversity", "l39_vocab_overlap", "io20_csv_multiline",
    "m14_matrix_cos", "r36_histogram", "sql22_window_clause",
    "io21_glob_discovery", "l40_kmeans", "l41_semdedup",
    "l42_clipped_precision",
    "r37_percentile_disc", "r38_running_distinct", "sql23_gaps_islands",
    "l43_intra_doc_repetition", "l44_mixture_sample", "l45_importance_resample",
    "io22_rowgroup_stats", "l46_perplexity_buckets", "l47_collocation_lift",
    "r39_trailing_window", "l48_ngram_novelty", "r40_var_stddev",
    "l49_mix_independence",
    "l60_kcore", "l61_source_overlap", "l62_kmv_distinct",
    "l63_kmv_setops",
    "l5g_ann_recall_scaled", "l64b_artifact_survivorship",
    "l64c_artifact_source_overlap", "l64d_artifact_calibration",
    "mm6_phash64_pairs", "l65_span_dedup", "l5h_pq_distortion")

  /** Execute `df` (noop traversal — AQE's final plan only exists after
    * execution) and compute the anti-pattern flags from the executed plan.
    */
  def audit(df: org.apache.spark.sql.DataFrame): Map[String, Boolean] = {
    df.queryExecution.toRdd.foreach(_ => ())
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // Formatted mode carries no codegen annotation in Spark 4; the
    // executed-plan string marks codegen stages with `*(n)` prefixes.
    val simple = df.queryExecution.executedPlan.toString
    Map(
      "PushedFilters" -> plan.contains("PushedFilters: ["),
      "WholeStageCodegen" -> simple.contains("*("),
      "BroadcastHashJoin" -> plan.contains("BroadcastHashJoin"),
      "CartesianProduct(!)" -> plan.contains("CartesianProduct"),
      "SortMergeJoin" -> plan.contains("SortMergeJoin"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSet else defaultQueries
    val spark = Engine.configure(
      SparkSession.builder().master("local[8]").appName("graft-audit")
        .config("spark.sql.shuffle.partitions", 8)
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    names.toSeq.sorted.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        val df = fn(spark, sfDir)
        val flags = audit(df)
        println(s"\n========== $name ==========")
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        println(s"[audit] $name " +
          flags.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
      }
    }
    spark.stop()
  }
}
