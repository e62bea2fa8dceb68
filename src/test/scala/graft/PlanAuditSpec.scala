package graft

import org.apache.spark.sql.functions._

/** Asserted physical-plan audit (r5 verdict item 5): PlanAudit computed the
  * anti-pattern flags but only printed them — nothing failed if a regression
  * introduced a cartesian product or dropped a pushdown/broadcast from a
  * gated query. This spec executes every query in `PlanAudit.defaultQueries`
  * at sf0.001 and fails on any cartesian product or any missing
  * design-required plan feature.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** The positive plan features each audited query exists to demonstrate
    * (ground truth from the r6 PlanAudit run at sf0.001). Queries absent a
    * feature here may still have it — these are the REQUIRED ones, so the
    * spec stays green across benign plan drift but fails when a design
    * lever (pushdown, broadcast, codegen, bucketed SMJ) regresses.
    * l10_cosine_dup's hot path is the SRP band join whose surrounding plan
    * is dominated by non-codegen exchange/wholestage boundaries — it only
    * carries the universal no-cartesian requirement.
    */
  private val required: Map[String, Set[String]] = Map(
    "r1_filter_project" -> Set("PushedFilters", "WholeStageCodegen"),
    "r4_multijoin_region" -> Set("PushedFilters", "WholeStageCodegen", "BroadcastHashJoin"),
    "r9_window_topk" -> Set("WholeStageCodegen"),
    "r20_pivot" -> Set("WholeStageCodegen"),
    "r22_ntile" -> Set("WholeStageCodegen"),
    "m1_matmul" -> Set("WholeStageCodegen", "BroadcastHashJoin"),
    "m4_matmul_sparse" -> Set("WholeStageCodegen", "BroadcastHashJoin"),
    // Planner-selected MatMul: at sf-independent 50×50 operand stats the
    // strategy must pick the broadcast row join.
    "m12_matmul_planned" -> Set("WholeStageCodegen", "BroadcastHashJoin"),
    // r16: l2 reads the staged match-graph artifact (Scan parquet → Sort;
    // the pair engine's broadcast/pushdown features now live — and stay
    // audited — in l64_match_artifact's rebuild path, via ArtifactSpec's
    // staged == from-scratch pin).
    "l2_near_dup" -> Set("WholeStageCodegen"),
    "l5_vector_topk" -> Set("PushedFilters", "WholeStageCodegen"),
    "l6_label_centroids" -> Set("WholeStageCodegen"),
    "l10_cosine_dup" -> Set(),
    "l11_fingerprint" -> Set("WholeStageCodegen"),
    "l12_bpe_tokens" -> Set("WholeStageCodegen"),
    "l14_simhash_pairs" -> Set("WholeStageCodegen"),
    "l14b_simhash64_pairs" -> Set("WholeStageCodegen"),
    "l17_tfidf" -> Set("WholeStageCodegen", "BroadcastHashJoin"),
    "l18_array_hof" -> Set("WholeStageCodegen"),
    // The capstone composition: the dedup-keeper join must broadcast (the
    // keeper set is a fraction of the corpus) and the stage chain must stay
    // inside codegen — a rematerialization between stages would break both.
    "l19_pipeline" -> Set("WholeStageCodegen", "BroadcastHashJoin"),
    "j2_props_map" -> Set("WholeStageCodegen"),
    "s6_interval_join" -> Set("PushedFilters", "BroadcastHashJoin"),
    "s7_asof_join" -> Set("PushedFilters"),
    "s9_gapfill" -> Set("PushedFilters", "BroadcastHashJoin"),
    "io3_partitioned_scan" -> Set("WholeStageCodegen"),
    "io4_bucketed_join" -> Set("WholeStageCodegen", "SortMergeJoin"),
    "io7_dpp_join" -> Set("WholeStageCodegen", "BroadcastHashJoin"),
    "sql5_correlated" -> Set("PushedFilters", "BroadcastHashJoin"),
    // The gram matmul must stay codegen'd end to end; at production vector
    // counts the contraction join shuffles, so only codegen is REQUIRED.
    "l20_embedding_gram" -> Set("WholeStageCodegen"),
    // EXISTS / NOT EXISTS must decorrelate to semi/anti joins (broadcast
    // at dim scale) — a cartesian here means the rewrite regressed.
    "sql7_exists" -> Set("PushedFilters", "BroadcastHashJoin",
                         "WholeStageCodegen"),
    // The rates dim must BROADCAST (a shuffled join on lang would be the
    // classic small-dim regression); the keep predicate stays codegen'd.
    "l21_stratified_sample" -> Set("BroadcastHashJoin", "WholeStageCodegen"),
    // Array-local n-gram extraction: the whole explode→count chain is
    // codegen'd; a positional self-join would surface as an extra join.
    "l22_bigram_freq" -> Set("WholeStageCodegen"),
    "s14_chained_window" -> Set("WholeStageCodegen"),
    // Codebooks must BROADCAST into the encode join (they are KBs at any
    // corpus size); the ADC + re-rank chain stays codegen'd.
    "l5c_pq_topk" -> Set("BroadcastHashJoin", "WholeStageCodegen"),
    // IVF-PQ: coarse centroids, codebooks, and the probe list must all
    // broadcast (algorithm-parameter-sized frames), the distance lambdas
    // stay codegen'd.
    "l5d_ivfpq_topk" -> Set("BroadcastHashJoin", "WholeStageCodegen"),
    // One Expand + hash aggregate, fully codegen'd — three grouping levels
    // from a single scan.
    "r25_grouping_sets" -> Set("WholeStageCodegen"),
    // The per-row LIMIT must decorrelate to WindowGroupLimit + broadcast
    // join (asserted structurally in EngineSqlSpec); cartesian = quadratic.
    "sql11_lateral" -> Set("BroadcastHashJoin", "WholeStageCodegen"),
    // The single-key predicate must reach the z-ordered parquet scan.
    "io12_zorder_layout" -> Set("PushedFilters", "WholeStageCodegen"),
    "io24_hilbert_layout" -> Set("PushedFilters", "WholeStageCodegen"),
    // The queries·k neighbor list must BROADCAST to the corpus-label join.
    "l26_knn_classify" -> Set("BroadcastHashJoin", "PushedFilters",
                              "WholeStageCodegen"),
    // Native expressions inside the generated stage — no UDF fallback.
    "l27_normalize" -> Set("WholeStageCodegen"),
    "l28_redact" -> Set("WholeStageCodegen"),
    "j4_map_hof" -> Set("WholeStageCodegen"),
    // Both grouped sides shuffle on the key; the outer-both merge itself
    // is the feature — only the universal no-cartesian + codegen apply.
    "r28_full_outer" -> Set("WholeStageCodegen"),
    // Linear df-join rollup — no self-join anywhere in the plan.
    "l29_dup_shingle_frac" -> Set("WholeStageCodegen"),
    // Array-local sequence+posexplode chunking — one codegen'd pass.
    "l30_chunks" -> Set("WholeStageCodegen", "PushedFilters"),
    // Partitioned cumulative-sum pack: window + hash agg, codegen'd.
    "l31_pack" -> Set("WholeStageCodegen"),
    // The benchmark gram set must BROADCAST onto the corpus grams — a
    // shuffled join here would move the whole exploded corpus.
    "l32_decontaminate" -> Set("BroadcastHashJoin", "WholeStageCodegen",
                               "PushedFilters"),
    // Full-outer merge rewrite + roundtrip aggregate, codegen'd.
    "io17_merge_upsert" -> Set("WholeStageCodegen"),
    // Counter build + probe joins stay codegen'd; the tiny key set
    // broadcasts onto the counter rows.
    "r31_countmin" -> Set("WholeStageCodegen", "BroadcastHashJoin"),
    // to_json/from_json both codegen — no UDF fallback in the roundtrip.
    "j5_json_roundtrip" -> Set("WholeStageCodegen"),
    // Degree-ordered wedge enumeration is equi-joins all the way down —
    // the universal no-cartesian rule IS the feature (a naive triangle
    // join on a hot hub would appear here as a cartesian/blowup).
    "l33_triangle_count" -> Set("WholeStageCodegen"),
    // The LM model join keeps the doc scan's pushed filter and the
    // whole score pipeline codegen'd.
    "l34_lm_score" -> Set("WholeStageCodegen", "PushedFilters"),
    // median/mode are ObjectHashAggregate buffers; the scan + project
    // stages around them still codegen.
    "r32_median_mode" -> Set("WholeStageCodegen"),
    "sql16_listagg" -> Set("WholeStageCodegen"),
    // Materialized (localCheckpoint) like l29 — the audited plan is the
    // final assembly; the window-table pass is spec'd by its oracle.
    "l35_passage_dup" -> Set("WholeStageCodegen"),
    // The (doc, dim) grid join must BROADCAST the component aggregate
    // and keep the doc_id<50 filter pushed to the scan.
    "l36_feature_hash" -> Set("WholeStageCodegen", "BroadcastHashJoin",
                              "PushedFilters"),
    // PIVOT with an explicit value list = one conditional-aggregate pass.
    "sql17_pivot" -> Set("WholeStageCodegen"),
    // The IN-list probe must reach the bloom-filtered parquet scan.
    "io19_parquet_bloom" -> Set("PushedFilters", "WholeStageCodegen"),
    // One narrow projection + one hash aggregate of exact moments.
    "r34_corr_regr" -> Set("WholeStageCodegen"),
    "r35_nth_value" -> Set("WholeStageCodegen"),
    // The 5-row canonical dim must BROADCAST onto the doc scan.
    "l37_edit_distance" -> Set("BroadcastHashJoin", "WholeStageCodegen"),
    "l38_lexical_diversity" -> Set("WholeStageCodegen"),
    "l39_vocab_overlap" -> Set("BroadcastHashJoin", "WholeStageCodegen"),
    "io20_csv_multiline" -> Set("WholeStageCodegen"),
    // Both COO operands are broadcastable at 50² — the inner-product join
    // must not shuffle.
    "m14_matrix_cos" -> Set("WholeStageCodegen", "BroadcastHashJoin"),
    // One narrow projection + one ≤ n+2-group hash aggregate, codegen'd.
    "r36_histogram" -> Set("WholeStageCodegen"),
    // Named-WINDOW sugar resolves to ordinary Window nodes; the cents
    // projection and window chain stay codegen'd, filter pushed.
    "sql22_window_clause" -> Set("WholeStageCodegen", "PushedFilters"),
    // Recursive discovery feeds an ordinary vectorized parquet scan.
    "io21_glob_discovery" -> Set("WholeStageCodegen"),
    // The centroid frame must BROADCAST into the assignment crossJoin
    // (k·dim values — algorithm-bounded); the fold stays codegen'd.
    "l40_kmeans" -> Set("WholeStageCodegen", "BroadcastHashJoin"),
    // Within-cluster pair join shuffles on cid — codegen'd, no cartesian.
    "l41_semdedup" -> Set("WholeStageCodegen"),
    // The reference-vocabulary dim must BROADCAST onto the doc counts.
    "l42_clipped_precision" -> Set("WholeStageCodegen", "BroadcastHashJoin"),
    // One sort-based aggregate per group; scan + project stay codegen'd.
    "r37_percentile_disc" -> Set("WholeStageCodegen"),
    // Window chains (first-occurrence flag + running sum) — codegen'd
    // projections between the Window nodes, no per-frame set state.
    "r38_running_distinct" -> Set("WholeStageCodegen"),
    "sql23_gaps_islands" -> Set("WholeStageCodegen"),
    // Per-document generator + two hash aggregates — no cross-doc join.
    "l43_intra_doc_repetition" -> Set("WholeStageCodegen"),
    // The derived 5-row rate dim must BROADCAST onto the corpus.
    "l44_mixture_sample" -> Set("WholeStageCodegen", "BroadcastHashJoin"),
    // The 256-row weight table must BROADCAST into the scoring join.
    "l45_importance_resample" -> Set("WholeStageCodegen", "BroadcastHashJoin"),
    // The date range must reach the row-grouped scan as a pushed filter
    // (the footer-stat skipping LayoutSpec proves needs it there).
    "io22_rowgroup_stats" -> Set("PushedFilters", "WholeStageCodegen"),
    // The l34 model join + per-language ntile — codegen'd, no cartesian.
    "l46_perplexity_buckets" -> Set("WholeStageCodegen"),
    // Counting aggregates + word-keyed joins stay codegen'd; the scalar
    // totals frame rides a broadcast, never a shuffle.
    "l47_collocation_lift" -> Set("WholeStageCodegen"),
    // The custkey filter must reach the scan; the range-frame Window's
    // surrounding projection stages stay codegen'd.
    "r39_trailing_window" -> Set("PushedFilters", "WholeStageCodegen"),
    // First-occurrence aggregate + gram-keyed join — codegen'd, linear.
    "l48_ngram_novelty" -> Set("WholeStageCodegen"),
    // One narrow projection + one hash aggregate of exact moments.
    "r40_var_stddev" -> Set("WholeStageCodegen"),
    // The margin dims must BROADCAST onto the cells.
    "l49_mix_independence" -> Set("WholeStageCodegen", "BroadcastHashJoin"),
    // The gate returns a materialized (localCheckpoint-backed) frame —
    // the joined plan's features are cut with the lineage (the io18
    // precedent), so only the cartesian flag is assertable here; the
    // broadcast of the ≤ 2^16-row class verdicts is structural
    // (explicit broadcast() in DedupOps.simhashKCore).
    "l60_kcore" -> Set.empty[String],
    // Pair engine + components + source rollup — codegen'd projections,
    // no cartesian (the per-component self-join is source-bounded).
    "l61_source_overlap" -> Set("WholeStageCodegen"),
    // Generator + hash fold stay codegen'd around the ObjectHashAggregate
    // the typed BottomK Aggregator plans as.
    "l62_kmv_distinct" -> Set("WholeStageCodegen"),
    // Sketch combination over G-row frames; the gram/hash pass stays
    // codegen'd. The G-row pair join is a broadcast nested loop by
    // design — bounded by the language dimension, never data-sized.
    "l63_kmv_setops" -> Set("WholeStageCodegen"),
    // Scale-aware widths ride the l5d machinery: centroids/codebooks/
    // probe lists are algorithm-sized and must BROADCAST; the distance
    // lambdas stay codegen'd.
    "l5g_ann_recall_scaled" -> Set("WholeStageCodegen", "BroadcastHashJoin"),
    // The staged components frame is match-graph-sized — orders smaller
    // than the corpus — so its join onto the doc table must BROADCAST.
    "l64b_artifact_survivorship" -> Set("WholeStageCodegen",
                                        "BroadcastHashJoin"),
    // The cluster-source rollup is localCheckpoint-pinned (l61's own
    // shape) — lineage-cut, so only codegen on the visible self-join +
    // the universal no-cartesian flag are assertable.
    "l64c_artifact_source_overlap" -> Set("WholeStageCodegen"),
    // Match-sized signature work from the staged rep pairs: the lane
    // evaluation is array-local and stays codegen'd.
    "l64d_artifact_calibration" -> Set("WholeStageCodegen"),
    // fingerprintPairs eagerly materializes its banded output (the l60
    // precedent): the audited plan reads the cut frame, so only the
    // no-cartesian flag is assertable here; banding structure is pinned
    // by LlmSpec's synthetic quartet instead.
    "mm6_phash64_pairs" -> Set.empty[String],
    // Span dedup is linear in corpus tokens: one gram-partitioned window
    // (gram-frequency-sized partitions, the measured winner, SURVEY §6)
    // + a doc-keyed mask; the projections around the window stay inside
    // codegen, and a positional self-join would surface as a cartesian.
    "l65_span_dedup" -> Set("WholeStageCodegen"),
    // The codebooks must BROADCAST into the encode join (KBs at any
    // corpus size); the fixed-point error fold stays codegen'd.
    "l5h_pq_distortion" -> Set("WholeStageCodegen", "BroadcastHashJoin"))

  test("every audited gated query is cartesian-free with its required plan features") {
    // Keep the spec's coverage locked to the audit's default set — adding a
    // query there without declaring expectations here must fail.
    assert(required.keySet == PlanAudit.defaultQueries,
           s"expectation table out of sync with PlanAudit.defaultQueries: " +
           s"only-here=${required.keySet -- PlanAudit.defaultQueries} " +
           s"only-there=${PlanAudit.defaultQueries -- required.keySet}")
    val failures = required.toSeq.sortBy(_._1).flatMap { case (name, need) =>
      val flags = PlanAudit.audit(SparkEntry.queries(name)(spark, dir))
      val missing = need.filterNot(flags(_)).toSeq.sorted
        .map(f => s"$name: missing $f")
      val cartesian =
        if (flags("CartesianProduct(!)")) Seq(s"$name: CartesianProduct in plan")
        else Nil
      missing ++ cartesian
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  /** Gates that execute a genuine Structured Streaming query during
    * construction and return a post-hoc batch read of their sink — there
    * is no joint batch plan to audit, and running each costs a full
    * micro-batch execution. Exempt from the full-surface sweep below;
    * membership is cross-checked so a renamed gate can't silently fall
    * out of the net, and any NEW gate is audited by default (an author
    * adding a streaming gate must exempt it here, consciously).
    */
  private val streamingGates: Set[String] = Set(
    "s2_sliding_stream", "s3_session_stream", "s4_streaming_final_state",
    "s5_dedup_stream", "s6_interval_stream", "s8_stream_static",
    "s10_foreachbatch", "s11_custom_sessions", "s12_interval_left_stream",
    "s13_tws_sessions", "s14_chained_stream", "s15_semi_stream",
    "s16_dedup_stream", "s17_join_stream", "s18_state_reader",
    "s19_restart_recovery", "s20_static_anti_stream", "s21_tws_typecounts",
    "s22_file_sink", "s23_available_now", "s24_union_stream",
    "s25_interval_full_stream", "s26_changelog_restart", "s27_tws_liststate",
    "s28_fp_index_stream", "s29_kmv_monitor_stream",
    "s30_lsh_index_stream", "s31_span_index_stream")

  test("EVERY gated batch query is cartesian-free (full declared surface)") {
    // r12 verdict brief 3: the no-cartesian assertion extends from the
    // curated audit set to the whole declared surface, so a regression
    // that sneaks a cartesian product into ANY gated batch plan fails the
    // build. Queries in PlanAudit.defaultQueries are skipped here only
    // because the test above already executes them with the same flag.
    assert(streamingGates.subsetOf(SparkEntry.queries.keySet),
           s"exempted names not in the declared surface: " +
           s"${(streamingGates -- SparkEntry.queries.keySet).toSeq.sorted}")
    val batch = SparkEntry.queries.keySet -- streamingGates --
      PlanAudit.defaultQueries
    val offenders = batch.toSeq.sorted.filter { name =>
      PlanAudit.audit(SparkEntry.queries(name)(spark, dir))("CartesianProduct(!)")
    }
    assert(offenders.isEmpty,
           s"CartesianProduct in gated batch plans: $offenders")
  }

  test("a deliberately-broken plan (non-broadcast crossJoin) trips the audit") {
    import spark.implicits._
    // Catalyst plans a small crossJoin as BroadcastNestedLoopJoin; disable
    // broadcast so the physical plan is the CartesianProduct the flag hunts.
    Engine.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val a = (1L to 50L).toDF("x")
      val b = (1L to 50L).toDF("y")
      val flags = PlanAudit.audit(a.crossJoin(b).agg(count(lit(1))))
      assert(flags("CartesianProduct(!)"),
             "the audit failed to flag an actual cartesian product")
    }
  }
}
