package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain(formatted)` for representative queries — the plan
  * audit artifact (PLANS.md). Run after operator changes to confirm:
  * filters/projections reach the parquet scan (PushedFilters,
  * ReadSchema), small dims broadcast, aggregates partial-combine, and
  * hot expressions stay inside WholeStageCodegen.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = GraftSession.local(cores = 8, shufflePartitions = 8)
    spark.sparkContext.setLogLevel("ERROR")
    // Since round 10 the audit covers the ENTIRE registered surface —
    // every SparkEntry query, sorted — so a new query can never ship
    // without a committed physical plan. (Queries that materialize
    // eagerly at construction time — exports, count-derived sampling
    // moduli — run their jobs here too; sf0.01 keeps that cheap. The
    // historical curated list below survives as the per-round notes of
    // WHAT each addition's plan was audited for.)
    val picks = SparkEntry.queries.keys.toSeq.sorted
    val auditNotes = Seq(
      "q1_agg", "q3_join", "q5_multijoin", "fs_materialize_latest",
      "fs_materialize_range", "fs_training_set_pit", "fs_training_set_update",
      "emb_knn_brute", "emb_knn_ivf_partial", "emb_upsert",
      "dedup_minhash_lsh", "dedup_jaccard_words", "dedup_embedding",
      "text_token_count",
      // R3 additions: join-heavy TPC-H shapes, disjunctive pushdown,
      // PQ probe, stream-stream-join batch analog, stratified sampling.
      "q7_volume_shipping", "q9_product_profit", "q18_large_orders",
      "q19_disjunctive", "q21_waiting_supplier", "emb_pq_knn",
      "stream_attribution", "sample_stratified",
      // Pipeline additions: predicate-pushdown ANN, gopher signal
      // aggregation, broadcast decontamination, scrub/chunk/int8
      // narrow projections.
      "emb_knn_filtered", "emb_int8_quant", "text_gopher_filter",
      "text_decontaminate", "text_chunk_windows", "text_scrub",
      "corpus_cluster_profile", "stream_upsert",
      // Session 3 additions: MIPS kNN, funnel re-partition reuse, span
      // dedup linear shape, PSI drift, TPC-H Q2/Q11, resize planning.
      "emb_knn_ip", "q_funnel", "dedup_spans", "fs_feature_drift",
      "q2_min_cost_supplier", "q11_important_parts", "mm_resize_plan",
      "emb_knn_binary", "emb_index_upsert",
      // Session 4 additions: ranked retrieval + integer-RRF hybrid
      // search, fixed-point PageRank, tolerance as-of join, z-score
      // outlier gate, unigram-LM scoring, md5-signed random projection,
      // BPE application.
      "text_bm25_topk", "search_hybrid_rrf", "graph_pagerank",
      "fs_asof_tolerance", "fs_outlier_values", "text_lm_score",
      "emb_random_projection", "text_bpe_encode",
      "search_mmr_rerank", "q_range_join", "q_window_range",
      "q_gapfill_daily", "fs_scd2_intervals", "fs_target_encode",
      "text_tfidf_top_terms", "emb_rp_recall",
      "dedup_embedding_lsh", "emb_centroid_drift", "q_retention_cohorts",
      "q_event_transitions", "fs_agg_incremental", "fs_freshness",
      "mm_audio_windows",
      // Session 5 additions: native session windows, graph quality,
      // label-noise audit, containment + edit-verify dedup, corpus
      // overlap sketches, incremental join view, Z-order layout,
      // leakage audit, market-basket lift, snapshot diff.
      "q_session_window", "graph_triangles", "emb_label_consistency",
      "dedup_containment", "dedup_edit_verify", "dedup_corpus_overlap",
      "fs_join_incremental", "q_zorder_layout", "fs_leakage_audit",
      "q_copurchase_lift", "emb_space_diff",
      // Round 4 additions: native OPQ rotation kernel (graft_matapply
      // must appear in-stage, not as an interpreted HOF fold), the
      // restored events family's heavy shapes, paged export, the
      // lakehouse round-trip, salted skew join, events pivot.
      "emb_opq_knn", "fs_materialize_paged", "source_lakehouse_roundtrip",
      "q_sessionize", "q_skew_salted_join", "fs_training_set_lag",
      "q_events_pivot", "stream_latest_value", "fs_cdc_apply",
      "q_json_extract",
      // R4 session-2 additions: merge rewrite, rolling multi-horizon
      // window (must be ONE Window operator), serving joins, DSIR
      // two-shuffle shape, seq-pack prefix sum, sharded export.
      "lake_merge_into", "fs_rolling_features", "fs_ondemand_transform",
      "fs_entity_map", "fs_feature_importance_mi", "fs_ttl_serving",
      "fs_online_export", "text_seq_pack", "text_dsir_select",
      "stream_enrich",
      // R4 session-2 later additions: bigram LM join shape, AB reduce,
      // two-tier rerank, paged training set, erasure + merge loop.
      "text_bigram_lm", "q_ab_test_zscore", "emb_knn_binary_rerank",
      "fs_training_set_paged", "lake_delete_where", "fs_materialize_merge",
      "sample_temperature", "text_fertility",
      // R4 session-2 final additions: windowed funnel aggregate chain,
      // RFM triple ranking, correlation single-aggregate, daily MAD,
      // media digest dedup, version-pinned reproducibility.
      "q_funnel_window", "q_rfm_segments", "fs_feature_corr",
      "q_daily_anomaly", "mm_binary_dedup", "lake_reproducible_training",
      // R4 session-3/4 additions: skyline prefix-max frontier, WoW
      // movers, embedding-enriched PIT join.
      "q_skyline", "q_week_over_week", "fs_training_set_embedded",
      // R4 session-4 additions: broadcast-moments scaling, per-group
      // NTILE binning, prefix-sum chronological split, distributed
      // NTILE terciles, CLIP pair gates, schema-evolved lakehouse read,
      // prefix-max watermark replay, single-frame multi-touch credits,
      // whitening via the matapply kernel.
      "fs_feature_scale", "fs_feature_bins", "fs_split_time",
      "text_ppl_buckets", "mm_pair_curation", "lake_schema_evolution",
      "stream_late_events", "q_attribution_multi", "emb_pca_whiten",
      // R4 session-4 later additions: KMV partial-agg shape, CDF
      // append fast path, journey paths, winsorize broadcast fences.
      "q_audience_overlap", "lake_table_changes", "q_event_paths",
      "fs_winsorize",
      // R4 session-5 additions: wedge-join link prediction, k-core
      // semi-join peel, day-partitioned sweep line, one-window EWMA,
      // prefix-sum decile lift, integer OOD rank, any-alignment span
      // dedup, RANGE-frame distinct, heavy-hitter profile, evolved
      // pruned read.
      "graph_link_predict", "graph_kcore", "q_concurrency_peak",
      "q_ewma", "fs_decile_lift", "emb_ood_scores", "dedup_ngram_spans",
      "q_rolling_distinct", "q_skew_profile", "lake_partition_evolution",
      "lake_clone",
      // R4 session-6 additions: vocab broadcast apply (corpus side must
      // be scan + BroadcastHashJoin, the tiny window only over vocab
      // rows), proposal/anti-join negative sampling (no cross join on
      // the corpus path), planning-time partition elimination
      // (PartitionFilters on the scan).
      "fs_vocab_encode", "fs_negative_sample", "source_partitioned_prune",
      // near-dup arrival gate: first-arrival window + doc max, no
      // pair join anywhere in the plan; scene cuts: lazy frame
      // explode + per-clip lag window.
      "stream_dedup_near", "mm_scene_cut",
      // backfill: manifest diff + broadcast-pruned dirty-day recompute;
      // classifier inference: single scan-projection, zero exchanges.
      "fs_backfill_days", "text_classifier_score",
      // forward labels: ONE merged-stream window, no inequality join;
      // IVFPQ+Refine: rerank joins sized by the candidate list.
      "fs_label_horizon", "emb_knn_ivfpq_rerank",
      // grouped kNN: two bounded windows over the broadcast-scored
      // scan; range search: filter-only, no window/shuffle at all.
      "emb_knn_grouped", "emb_range_search",
      // Round 5 additions: JDBC leg (JDBCRelation scan with pushed
      // filters and 4 range-predicated partitions), index-mapped
      // negative sampling (draw join on the dense item index — still
      // no users x items cross join), fixed-page-count export (the
      // union is 32 pruned slices at ANY SF).
      "source_jdbc_roundtrip")
    require(auditNotes.forall(SparkEntry.queries.contains),
      "audit-note names must stay registered: " +
        auditNotes.filterNot(SparkEntry.queries.contains).mkString(", "))
    val sb = new StringBuilder
    sb.append("# Physical plan audit (generated by graft.Explain)\n")
    sb.append(s"# sf dir: $sfDir\n")
    sb.append(s"# coverage: ${picks.size} queries (the full registered surface)\n")
    sb.append("# note: queries that materialize eagerly at construction (emb_hnsw_export,\n")
    sb.append("# emb_index_persist-style artifact round-trips, count-derived sampling moduli)\n")
    sb.append("# show only their residual stats frame here (LocalTableScan); their\n")
    sb.append("# distributed build side is the lineage they share with a non-eager twin —\n")
    sb.append("# emb_hnsw_export's build is emb_hnsw_ivf_build's audited plan (shared\n")
    sb.append("# ivfCandidateSource + diverseFromCandidates), whose cells and probe cells\n")
    sb.append("# are native nearest-centroid projections: no plan holds an n x nCells frame.\n")
    picks.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
