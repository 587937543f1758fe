package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Analytics, AsOf, BloomJoin, DlpQueries, SourceQueries}
import graft.text.TextOps
import graft.dedup.Dedup
import graft.sim.Ann
import graft.streaming.Streams
import graft.multimodal.Multimodal

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  * Every implemented operator has a `queries` entry; every
  * SQL-expressible one has a matching DuckDB `oracleSql` entry with
  * identical column names/types (SURVEY.md §6 parity rules).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.D core analytics
    "q1_pricing_summary" -> Analytics.q1PricingSummary _,
    "q6_forecast_revenue" -> Analytics.q6ForecastRevenue _,
    "q_topk_per_group" -> Analytics.qTopkPerGroup _,
    "q_topk_native" -> Analytics.qTopkNative _,
    "q_approx_distinct" -> Analytics.qApproxDistinct _,
    "q_asof_join" -> AsOf.purchaseLastClick _,
    "q_salted_join" -> Analytics.qSaltedJoin _,
    // §2.A ingest / schema
    "ingest_catalog" -> DlpQueries.ingestCatalog _,
    "ingest_offset_splits" -> DlpQueries.ingestOffsetSplits _,
    "ingest_excluded_tables" -> DlpQueries.ingestExcludedTables _,
    "ingest_row_count" -> DlpQueries.ingestRowCount _,
    // §2.B DLP transforms
    "dlp_mask_chars" -> DlpQueries.dlpMaskChars _,
    "dlp_redact" -> DlpQueries.dlpRedact _,
    "dlp_replace_infotype" -> DlpQueries.dlpReplaceInfotype _,
    "dlp_inspect" -> DlpQueries.dlpInspect _,
    "dlp_inspect_dictionary" -> DlpQueries.dlpInspectDictionary _,
    "dlp_crypto_hash" -> DlpQueries.dlpCryptoHash _,
    "dlp_deterministic_token" -> DlpQueries.dlpDeterministicToken _,
    "dlp_reidentify" -> DlpQueries.dlpReidentify _,
    "dlp_date_shift" -> DlpQueries.dlpDateShift _,
    "dlp_bucketing" -> DlpQueries.dlpBucketing _,
    "dlp_row_batches" -> DlpQueries.dlpRowBatches _,
    "dlp_config_apply" -> DlpQueries.dlpConfigApply _,
    "dlp_k_anonymity" -> DlpQueries.dlpKAnonymity _,
    "dlp_l_diversity" -> DlpQueries.dlpLDiversity _,
    // §2.C conversion / load
    "bq_row_convert" -> DlpQueries.bqRowConvert _,
    "bq_schema_map" -> DlpQueries.bqSchemaMap _,
    "dead_letter_split" -> DlpQueries.deadLetterSplit _,
    "reid_publish_format" -> DlpQueries.reidPublishFormat _,
    "migration_manifest" -> graft.etl.Migration.manifest _,
    // §2.G text analysis
    "text_lang_id" -> TextOps.langId _,
    "text_quality_score" -> TextOps.qualityScore _,
    "text_fingerprint" -> TextOps.fingerprint _,
    // §2.E deduplication
    "dedup_exact" -> Dedup.exact _,
    "dedup_minhash_sig" -> Dedup.minhashSig _,
    "dedup_minhash_pairs" ->
      ((s: SparkSession, d: String) => Dedup.minhashPairs(s, d).orderBy("doc_a", "doc_b")),
    "dedup_ngram_jaccard" -> ((s: SparkSession, d: String) => Dedup.ngramJaccard(s, d)),
    "dedup_containment" -> Dedup.containment _,
    "dedup_minhash_est" -> Dedup.minhashEstimate _,
    "ingest_schema_drift" -> SourceQueries.schemaDrift _,
    "dedup_embedding_cos" -> Dedup.embeddingCosine _,
    "dedup_corpus_sig" -> Dedup.corpusSig _,
    "pipeline_dedup_survivors" -> Dedup.pipelineSurvivors _,
    // §2.E/G (round 6): incremental batch-vs-corpus dedup, train/eval
    // decontamination, composite quality gate
    "dedup_incremental" -> Dedup.incremental _,
    "split_decontaminate" -> Dedup.decontaminate _,
    "pipeline_quality_gate" -> TextOps.qualityGate _,
    // §2.F similarity search
    "ann_topk_bruteforce" -> Ann.topkBruteforce _,
    "ann_ivf_topk" -> Ann.ivfTopk _,
    "ann_ivf_probe2" -> Ann.ivfTopkProbe2 _,
    "ann_pq_topk" -> Ann.pqTopk _,
    "ann_pq_rerank" -> Ann.pqRerank _,
    "ann_ivfpq_topk" -> Ann.ivfPqTopk _,
    "embed_centroid_update" -> Ann.centroidUpdate _,
    "embed_kmeans_train" -> ((s: SparkSession, d: String) => Ann.kmeansTrain(s, d)),
    // §2.I streaming (batch-equivalent forms; streaming forms in specs)
    "stream_window_agg" -> Streams.windowAggBatch _,
    "stream_sessionize" -> Streams.sessionizeBatch _,
    "stream_dedup" -> Streams.dedupBatch _,
    "stream_funnel" -> Streams.funnel _,
    "stream_retention" -> Streams.retention _,
    "stream_event_join" -> Streams.eventJoinBatch _,
    "stream_latest_state" -> Streams.latestState _,
    "stream_windowed_topk" -> Streams.windowedTopkBatch _,
    // §2.D/C (round 8): z-order layout audit, bucketed co-located join
    "layout_zorder" -> Analytics.layoutZorder _,
    "source_bucketed_join" -> SourceQueries.bucketedJoin _,
    "load_agg_upsert" -> SourceQueries.aggUpsert _,
    "sample_weighted" -> TextOps.sampleWeighted _,
    "dedup_paragraph" -> Dedup.paragraphDedup _,
    "dedup_substring" -> Dedup.substringDedup _,
    "stream_deid_pipeline" -> Streams.deidPipelineBatch _,
    "ann_cell_balance" -> Ann.cellBalance _,
    "text_lm_score" -> TextOps.lmScore _,
    "ingest_checksum_reconcile" -> SourceQueries.checksumReconcile _,
    "load_cdc_apply" -> SourceQueries.cdcApply _,
    "embed_random_projection" -> Ann.randomProjection _,
    "stream_rate_anomaly" -> Streams.rateAnomalyBatch _,
    "dedup_fuzzy_link" -> Dedup.fuzzyLink _,
    "pipeline_training_mix" -> Dedup.trainingMix _,
    "mm_binary_ingest" -> Multimodal.binaryIngest _,
    // §2.H multimodal
    "mm_feature_extract" -> Multimodal.featureExtract _,
    // §2.G (cont.)
    "text_vocab" -> TextOps.vocab _,
    // §2.A/§2.C (round 4): live JDBC path, reid shaping, load retry,
    // CSV/JSON source round-trips
    "jdbc_live_extract" -> SourceQueries.jdbcLiveExtract _,
    "jdbc_live_extract_nopk" -> SourceQueries.jdbcLiveExtractNoPk _,
    "jdbc_type_map" -> SourceQueries.jdbcTypeMap _,
    // §2.D/E (round 4): interval join, dedup components
    "q_range_join" -> Analytics.qRangeJoin _,
    "q_lateral" -> Analytics.qLateral _,
    "q_ntile" -> Analytics.qNtile _,
    "q_bloom_join" -> BloomJoin.qBloomJoin _,
    "dlp_format_preserving" -> DlpQueries.dlpFormatPreserving _,
    "ingest_partition_pruning" -> SourceQueries.partitionPruning _,
    "dedup_components" -> ((s: SparkSession, d: String) => Dedup.components(s, d)),
    "dedup_keep_best" -> Dedup.keepBest _,
    "sample_stratified" -> TextOps.sampleStratified _,
    "split_train_eval" -> TextOps.splitTrainEval _,
    "jdbc_pk_catalog" -> SourceQueries.jdbcPkCatalog _,
    "reid_header_map" -> SourceQueries.reidHeaderMap _,
    "reid_group_signature" -> SourceQueries.reidGroupSignature _,
    "load_retry_deadletter" -> SourceQueries.loadRetryDispositions _,
    "source_csv_roundtrip" -> SourceQueries.csvRoundtrip _,
    "migration_jdbc_manifest" -> SourceQueries.jdbcImportManifest _,
    "source_json_roundtrip" -> SourceQueries.jsonRoundtrip _,
    "source_orc_roundtrip" -> SourceQueries.orcRoundtrip _,
    // §2.E/F/G (round 7): chunking, corpus-fluency scoring, tf-idf
    // keywords, training-free LSH ANN, int8 quantization, semantic
    // dedup clusters
    "text_chunking" -> ((s: SparkSession, d: String) => TextOps.chunk(s, d)),
    "text_ngram_coverage" -> ((s: SparkSession, d: String) => TextOps.ngramCoverage(s, d)),
    "text_tfidf" -> TextOps.tfidfTopTerms _,
    "ann_lsh_topk" -> Ann.lshTopk _,
    "embed_quantize_int8" -> Ann.quantizeInt8 _,
    "dedup_semantic_cluster" -> Dedup.semanticClusters _,
    "dlp_time_extract" -> DlpQueries.dlpTimeExtract _,
    "ann_recall_eval" -> Ann.recallEval _,
    "stream_late_audit" -> ((s: SparkSession, d: String) => Streams.lateAuditBatch(s, d)),
    "text_search_rank" -> ((s: SparkSession, d: String) => TextOps.searchRank(s, d)),
    // §2.I (round 9): the streaming STATE MACHINES themselves run in
    // batch execution and land in the gate — stream/batch equivalence
    // as oracle-checked rows, not just spec assertions
    "stream_sessionize_replay" -> Streams.sessionizeReplay _,
    "stream_latest_state_replay" -> Streams.latestStateReplay _,
    "stream_rate_anomaly_replay" -> Streams.rateAnomalyReplay _,
    // round 9: funnel-sequence match, lakehouse maintenance
    // (compaction planning), tokenizer/corpus statistics,
    // training-mix allocation, truncated-embedding eval, dup-mass curve
    "q_sequence_match" -> Analytics.qSequenceMatch _,
    "layout_compaction_plan" -> ((s: SparkSession, d: String) => Analytics.layoutCompactionPlan(s, d)),
    "text_bpe_pairs" -> TextOps.bpePairs _,
    "text_length_outliers" -> TextOps.lengthOutliers _,
    "pipeline_mix_weights" -> TextOps.mixWeights _,
    "embed_matryoshka_eval" -> ((s: SparkSession, d: String) => Ann.matryoshkaEval(s, d)),
    "dedup_component_stats" -> Dedup.componentStats _,
    "q_skyline" -> Analytics.qSkyline _,
    "ingest_snapshot_diff" -> SourceQueries.snapshotDiff _,
    "embed_dim_stats" -> Ann.dimStats _,
    "sample_group_topk" -> ((s: SparkSession, d: String) => TextOps.sampleGroupTopk(s, d)),
    "text_bm25" -> ((s: SparkSession, d: String) => TextOps.bm25(s, d)),
    "dedup_lsh_tuning" -> Dedup.lshTuning _,
    "dedup_source_dup_rate" -> Dedup.sourceDupRate _,
    "mm_payload_dedup" -> Multimodal.payloadDedup _,
    "ann_probe_curve" -> Ann.probeCurve _,
    "ann_reassign_drift" -> Ann.reassignDrift _,
    "q_funnel_conversion" -> Analytics.qFunnelConversion _,
    "stream_funnel_match_replay" -> Streams.funnelStagesReplay _,
    "pipeline_mm_curation" -> Multimodal.mmCuration _,
    "dedup_corpus_matrix" -> Dedup.corpusMatrix _,
    "dedup_lsh_recall" -> Dedup.lshRecall _,
    "text_cooccurrence" -> ((s: SparkSession, d: String) => TextOps.cooccurrence(s, d)),
    "dlp_quantile_bucketing" -> DlpQueries.dlpQuantileBucketing _,
    "stream_reorder_depth" -> Streams.reorderDepthBatch _,
    "embed_pair_hist" -> Ann.pairHist _,
    // round 11: coverage widening — sketch-gated dedup, 13-gram
    // benchmark contamination, int8-recall + threshold tuning tables,
    // risk-delta / token-FK DLP audits, sweep-line overlap, zone-map
    // skipping eval, write planning, heartbeat liveness, cross-modal
    // alignment, Zipf corpus health
    "dedup_bloom_prefilter" -> Dedup.bloomPrefilter _,
    "dedup_ngram13_contain" -> Dedup.ngram13Contamination _,
    "ann_int8_recall" -> Ann.int8Recall _,
    "embed_threshold_curve" -> Ann.thresholdCurve _,
    "text_zipf_fit" -> TextOps.zipfFit _,
    "dlp_risk_delta" -> DlpQueries.dlpRiskDelta _,
    "dlp_token_consistency" -> DlpQueries.dlpTokenConsistency _,
    "q_session_overlap" -> Analytics.qSessionOverlap _,
    "layout_skipping_eval" -> Analytics.layoutSkippingEval _,
    "load_partition_plan" -> ((s: SparkSession, d: String) => SourceQueries.loadPartitionPlan(s, d)),
    "stream_heartbeat_gap" -> ((s: SparkSession, d: String) => Streams.heartbeatGap(s, d)),
    "mm_embedding_align" -> Multimodal.embeddingAlign _,
    // round 11 batch 2: FK inference, surrogate/shift DLP audits,
    // schema-evolution merge, staged cumulative uniques, norm-outlier
    // index health, language confusion, at-least-once replay audit
    "ingest_fk_discovery" -> SourceQueries.fkDiscovery _,
    "dlp_surrogate_annotate" -> DlpQueries.dlpSurrogateAnnotate _,
    "dlp_shift_consistency" -> DlpQueries.dlpShiftConsistency _,
    "load_schema_evolve" -> SourceQueries.loadSchemaEvolve _,
    "q_running_distinct" -> Analytics.qRunningDistinct _,
    "embed_norm_outliers" -> Ann.normOutliers _,
    "text_lang_confusion" -> TextOps.langConfusion _,
    "stream_replay_dedup" -> Streams.replayDedup _,
    "q_heavy_hitters" -> ((s: SparkSession, d: String) => Analytics.qHeavyHitters(s, d)),
    // round 11 batch 3: time-series gap fill, distributed argmax,
    // pointer-doubling recursive closure, last-touch attribution,
    // exact fixed-point decay, FK orphan audit, suppression-cost
    // curve, sequence packing
    "q_topk_rewrite" -> Analytics.qTopkRewrite _,
    "q_gap_fill" -> Analytics.qGapFill _,
    "q_mode_per_group" -> Analytics.qModePerGroup _,
    "q_ancestor_closure" -> Analytics.qAncestorClosure _,
    "q_attribution" -> Analytics.qAttribution _,
    "q_decayed_sum" -> Analytics.qDecayedSum _,
    "ingest_orphan_audit" -> SourceQueries.ingestOrphanAudit _,
    "dlp_suppression_curve" -> DlpQueries.dlpSuppressionCurve _,
    "pipeline_pack_sequences" -> TextOps.packSequences _,
    // round 11 batch 4: corpus novelty, CUSUM changepoint, payload
    // byte profile, encoder batch drift, stream-static enrichment
    "dedup_source_novelty" -> Dedup.sourceNovelty _,
    "q_changepoint" -> Analytics.qChangepoint _,
    "mm_bytes_profile" -> Multimodal.bytesProfile _,
    "embed_batch_drift" -> Ann.batchDrift _,
    "stream_static_enrich" -> Streams.staticEnrichBatch _,
    // round 11 batch 5: filtered ANN, YoY growth, cohort triangle,
    // content-defined chunk-store dedup
    "ann_filtered_topk" -> Ann.filteredTopk _,
    "q_yoy_growth" -> Analytics.qYoyGrowth _,
    "q_retention_matrix" -> Analytics.qRetentionMatrix _,
    "mm_chunk_dedup" -> Multimodal.chunkDedup _,
    // round 11 batch 6: DLP hotword context boosting, extract-split
    // balance audit
    "dlp_hotword_boost" -> DlpQueries.dlpHotwordBoost _,
    "ingest_split_balance" -> SourceQueries.ingestSplitBalance _,
    "source_custom_dsv2" -> SourceQueries.customDsv2 _,
    // round 11 batch 7: bitmap set algebra, blocked edit-distance dedup
    "q_bitmap_setops" -> Analytics.qBitmapSetops _,
    "dedup_edit_distance" -> Dedup.editDistancePairs _,
    // round 11 batch 8: Markov transition matrix, time-bounded funnel,
    // RFM quartile segmentation, embedding-graph hubness, k-fold CV
    // split with leakage audit, DLP column profiler, feed freshness
    "q_transition_matrix" -> Analytics.qTransitionMatrix _,
    "q_funnel_windowed" -> Analytics.qFunnelWindowed _,
    "q_rfm_segments" -> Analytics.qRfmSegments _,
    "embed_degree_hubs" -> Dedup.degreeHubs _,
    "split_kfold" -> TextOps.splitKfold _,
    "dlp_column_profile" -> DlpQueries.dlpColumnProfile _,
    "ingest_freshness_lag" -> SourceQueries.ingestFreshnessLag _,
    // round 11 batch 9: winnowing fingerprints, centroid silhouette,
    // triangle census, top session paths, hourly backfill plan
    "text_winnowing" -> TextOps.winnowingPairs _,
    "embed_silhouette" -> Ann.silhouette _,
    "dedup_triangle_count" -> Dedup.triangleCount _,
    "q_top_paths" -> Analytics.qTopPaths _,
    "ingest_backfill_plan" -> SourceQueries.ingestBackfillPlan _,
    // round 11 batch 10: b-bit minhash storage audit, hash-arm A/B
    // lift, cohort funnel, transition state machine as a gate row
    "dedup_bbit_minhash" -> Dedup.bbitMinhash _,
    "q_ab_lift" -> Analytics.qAbLift _,
    "q_cohort_funnel" -> Analytics.qCohortFunnel _,
    "stream_transition_replay" -> Streams.transitionReplay _,
    // round 11 batch 11: trade-graph pagerank, spend inequality,
    // Benford audit, market concentration, sorted-neighborhood dedup,
    // mutual-kNN census, temporal split with leakage audit
    "q_pagerank" -> Analytics.qPagerank _,
    "q_gini" -> Analytics.qGini _,
    "q_benford" -> Analytics.qBenford _,
    "q_hhi" -> Analytics.qHhi _,
    "dedup_sorted_neighborhood" -> Dedup.sortedNeighborhood _,
    "embed_mutual_knn" -> Dedup.mutualKnn _,
    "split_temporal" -> TextOps.splitTemporal _,
    // round 11 batch 12: market-basket lift, graph-ANN beam search,
    // class-balanced downsampling, p95 top-coding audit
    "q_basket_pairs" -> Analytics.qBasketPairs _,
    "ann_graph_search" -> Ann.graphSearch _,
    "sample_class_balance" -> Ann.classBalance _,
    "dlp_top_coding" -> DlpQueries.dlpTopCoding _,
    // round 11 batch 13: growth accounting, count-min bias audit,
    // leading principal direction by integer power iteration
    "q_growth_accounting" -> Analytics.qGrowthAccounting _,
    "q_countmin_audit" -> Analytics.qCountminAudit _,
    "embed_pca_power" -> Ann.pcaPower _,
    // round 11 batch 15: DAU/MAU stickiness, cosine-band label
    // precision, day-of-week seasonality
    "q_dau_mau" -> Analytics.qDauMau _,
    "embed_label_precision" -> Ann.labelPrecision _,
    "q_dow_profile" -> Analytics.qDowProfile _,
    // round 11 batch 16: fixed-window rate limiting, RAKE keywords
    "stream_rate_limit" -> ((s: SparkSession, d: String) => Streams.rateLimit(s, d)),
    "text_keywords" -> TextOps.keywords _,
    // round 11 batch 17: rolling-origin forecast backtest, 7-day
    // return rate
    "q_forecast_backtest" -> Analytics.qForecastBacktest _,
    "q_return_rate" -> Analytics.qReturnRate _,
    // round 11 batch 18: cross-shopping spread, row-width split plan
    "q_supplier_spread" -> Analytics.qSupplierSpread _,
    "ingest_row_width" -> SourceQueries.rowWidth _,
    // round 12 batch 1: concentration/cadence/cohort analytics
    "q_autocorr" -> Analytics.qAutocorr _,
    "q_cohort_ltv" -> Analytics.qCohortLtv _,
    "q_interorder_gap" -> Analytics.qInterorderGap _,
    // round 12 batch 2: dedup calibration + token ledger, sample
    // coverage, daily new users
    "dedup_method_agreement" -> Dedup.methodAgreement _,
    "pipeline_dedup_token_audit" -> Dedup.dedupTokenAudit _,
    "sample_cell_coverage" -> Ann.sampleCellCoverage _,
    "stream_new_users" -> Streams.newUsersBatch _,
    // round 12 batch 3: ABC class, duplicate-payment screen,
    // generalization ladder, charset QA, assignment margin, dup ratio
    "q_abc_class" -> Analytics.qAbcClass _,
    "q_duplicate_orders" -> Analytics.qDuplicateOrders _,
    "dlp_generalization_ladder" -> DlpQueries.dlpGeneralizationLadder _,
    "text_charset_profile" -> TextOps.charsetProfile _,
    "embed_assign_margin" -> Ann.assignMargin _,
    "stream_dup_ratio" -> Streams.dupRatioBatch _,
    // round 12 batch 4: lifespan survival, sampling risk, shingle
    // sweep, phash near-dup, outage audit, LSH bucket profile
    "q_customer_lifespan" -> Analytics.qCustomerLifespan _,
    "dlp_sampling_risk" -> DlpQueries.dlpSamplingRisk _,
    "dedup_shingle_sweep" -> Dedup.shingleSweep _,
    "mm_phash_neardup" -> Multimodal.phashNearDup _,
    "stream_outage_minutes" -> Streams.outageMinutesBatch _,
    "ann_lsh_bucket_profile" -> Ann.lshBucketProfile _,
    // round 12 batch 5: backlog aging, quality-rule matrix
    "q_backlog_aging" -> Analytics.qBacklogAging _,
    "pipeline_quality_matrix" -> TextOps.qualityMatrix _,
    // round 12 batch 6: trade balance, weekly volatility, key-candidate
    // profile, mix drift
    "q_trade_balance" -> Analytics.qTradeBalance _,
    "q_weekly_volatility" -> Analytics.qWeeklyVolatility _,
    "ingest_distinctness_profile" -> SourceQueries.ingestDistinctnessProfile _,
    "stream_mix_drift" -> Streams.mixDriftBatch _,
    // round 12 batch 7: staging type inference, composite-key
    // discovery, bucket-pruned lookup, partition-evolution plan,
    // OLS trend, aspect-ratio resolution bucketing
    "ingest_type_infer" -> SourceQueries.ingestTypeInfer _,
    "ingest_composite_key" -> SourceQueries.ingestCompositeKey _,
    "load_bucket_pruning" -> SourceQueries.loadBucketPruning _,
    "load_partition_evolution" -> SourceQueries.loadPartitionEvolution _,
    "q_ols_trend" -> Analytics.qOlsTrend _,
    "mm_resolution_bucket" -> Multimodal.resolutionBucket _,
    // round 12 batch 8: outer attribution join, boilerplate screen,
    // clustering-depth audit, vault key rotation, hard negatives
    "stream_event_join_outer" -> Streams.eventJoinOuterBatch _,
    "text_boilerplate" -> TextOps.boilerplate _,
    "layout_cluster_depth" -> Analytics.layoutClusterDepth _,
    "dlp_vault_rotation" -> DlpQueries.dlpVaultRotation _,
    "sample_hard_negatives" -> Ann.hardNegatives _,
    // round 12 batch 9: drawdown risk, lexical richness, residual
    // scan, cluster medoid election, state-store sizing
    "q_max_drawdown" -> Analytics.qMaxDrawdown _,
    "text_hapax_ratio" -> TextOps.hapaxRatio _,
    "dlp_residual_scan" -> DlpQueries.dlpResidualScan _,
    "dedup_cluster_medoid" -> Dedup.clusterMedoid _,
    "stream_state_size" -> Streams.stateSizeBatch _,
    // round 12 batch 10: runs test, discount elasticity, audio
    // framing plan, watermark sweep, key-space completeness
    "q_runs_test" -> Analytics.qRunsTest _,
    "q_discount_elasticity" -> Analytics.qDiscountElasticity _,
    "mm_audio_window_plan" -> Multimodal.audioWindowPlan _,
    "stream_late_sweep" -> Streams.lateSweepBatch _,
    "ingest_pk_completeness" -> SourceQueries.ingestPkCompleteness _,
    // round 12 batch 11: dynamic partition overwrite, constraint
    // gate, order fan-out, pair-sim histogram, PQ distortion
    "load_dynamic_overwrite" -> SourceQueries.loadDynamicOverwrite _,
    "load_constraint_check" -> SourceQueries.loadConstraintCheck _,
    "q_order_linecount_dist" -> Analytics.qOrderLinecountDist _,
    "dedup_pair_sim_histogram" -> Dedup.pairSimHistogram _,
    "ann_pq_distortion" -> Ann.pqDistortion _,
    // round 12 batch 12: rank-ratio windows, activity streaks,
    // weighted median, chi-square audit, rolling median, readability
    "q_percent_rank" -> Analytics.qPercentRank _,
    "q_streaks" -> Analytics.qStreaks _,
    "q_weighted_median" -> Analytics.qWeightedMedian _,
    "q_chi_square" -> Analytics.qChiSquare _,
    "q_moving_median" -> Analytics.qMovingMedian _,
    "text_readability" -> TextOps.readability _,
    // round 12 batch 13: seasonal index, MAD outliers, degree
    // distribution, noise-injected release, label concentration
    "q_seasonal_index" -> Analytics.qSeasonalIndex _,
    "q_mad_outliers" -> Analytics.qMadOutliers _,
    "q_degree_dist" -> Analytics.qDegreeDist _,
    "dlp_noise_counts" -> DlpQueries.dlpNoiseCounts _,
    "embed_spherical_variance" -> Ann.sphericalVariance _,
    // round 12 batch 14: rank correlation, quartile skewness, mix
    // drift, infotype co-occurrence, dup-bigram screen, session
    // concurrency curve
    "q_spearman_rho" -> Analytics.qSpearmanRho _,
    "q_bowley_skew" -> Analytics.qBowleySkew _,
    "q_mix_shift" -> Analytics.qMixShift _,
    "dlp_infotype_cooccurrence" -> DlpQueries.dlpInfotypeCooccurrence _,
    "text_dup_ngrams" -> TextOps.dupNgrams _,
    "stream_concurrency_curve" -> Streams.concurrencyCurveBatch _,
    // round 12 batch 15: Simpson assortment diversity, price-volume-
    // mix bridge, new-vs-repeat revenue, 1-bit Hamming top-k,
    // absence/abandonment timeout, surrogate collision audit
    "q_simpson_diversity" -> Analytics.qSimpsonDiversity _,
    "q_price_volume_mix" -> ((s: SparkSession, d: String) => Analytics.qPriceVolumeMix(s, d)),
    "q_new_vs_repeat" -> Analytics.qNewVsRepeat _,
    "embed_hamming_topk" -> Ann.hammingTopk _,
    "stream_absence_timeout" -> ((s: SparkSession, d: String) => Streams.absenceTimeout(s, d)),
    "dlp_hash_collision_audit" -> DlpQueries.dlpHashCollisionAudit _,
    // round 12 batch 16: binned two-sample KS, 1-bit recall bill,
    // Heaps vocabulary curve, retention sweep
    "q_ks_binned" -> ((s: SparkSession, d: String) => Analytics.qKsBinned(s, d)),
    "ann_hamming_recall" -> Ann.hammingRecall _,
    "text_heaps_curve" -> ((s: SparkSession, d: String) => TextOps.heapsCurve(s, d)),
    "dlp_retention_sweep" -> ((s: SparkSession, d: String) => DlpQueries.dlpRetentionSweep(s, d)),
    // round 12 batch 17: winsorized mean (two-level rank bounds),
    // recursive (c,l)-diversity, kNN-distance density outliers
    "q_winsorized_mean" -> Analytics.qWinsorizedMean _,
    "dlp_cl_diversity" -> ((s: SparkSession, d: String) => DlpQueries.dlpClDiversity(s, d)),
    "embed_knn_dist" -> ((s: SparkSession, d: String) => Ann.knnDist(s, d)),
    // round 12 batch 18: watermark skew, session value, shipment
    // spread, LSH blocking recall
    "stream_watermark_skew" -> ((s: SparkSession, d: String) => Streams.watermarkSkew(s, d)),
    "stream_session_value" -> Streams.sessionValue _,
    "q_ship_spread" -> Analytics.qShipSpread _,
    "ann_bucket_recall" -> Ann.bucketRecall _,
    // round 12 batch 19: DSv2 staged-commit write path, media
    // metadata strip audit
    "source_dsv2_write" -> SourceQueries.dsv2WriteRoundtrip _,
    "mm_metadata_strip" -> Multimodal.metadataStrip _,
    // round 12 batch 20: shadow-deployment diff, experiment sizing
    "stream_shadow_diff" -> ((s: SparkSession, d: String) => Streams.shadowDiff(s, d)),
    "q_ab_power_plan" -> Analytics.qAbPowerPlan _,
    // round 12 batch 21: sample-based stats accuracy audit
    "ingest_sample_stats" -> SourceQueries.sampleStatsAccuracy _,
    // round 12 batch 22: IDF-weighted Jaccard rerank
    "dedup_idf_jaccard" -> Dedup.idfJaccard _,
    // round 13 batch 1: version-chained commit log (time travel +
    // streaming exactly-once replay absorption)
    "load_time_travel" -> SourceQueries.timeTravelRead _,
    "stream_exactly_once_sink" -> Streams.exactlyOnceSink _,
    // round 13 batch 2: BPE apply (tokenizer-denominated token bill)
    "text_bpe_apply" -> ((s: SparkSession, d: String) => TextOps.bpeApply(s, d)),
    // round 13 batch 3: video scene segmentation
    "mm_scene_cut" -> Multimodal.sceneCut _,
    // round 14 batch 1: commit-log checkpoint + retention lifecycle
    "load_manifest_compaction" -> SourceQueries.manifestCompaction _,
    // round 14 batch 2: catalog-wide ANALYZE sweep, incremental IVF
    // index maintenance
    "layout_stats_sweep" -> Analytics.layoutStatsSweep _,
    "ann_incremental_assign" -> Ann.incrementalAssign _,
    // round 14 batch 3: iterated BPE (merges that compose)
    "text_bpe_train_iter" -> ((s: SparkSession, d: String) => TextOps.bpeTrainIter(s, d)),
    // round 14 batch 4: deletion-vector read path, FK-derived load
    // order, farthest-point codebook seeding
    "load_deletion_vectors" -> SourceQueries.deletionVectors _,
    "ingest_load_order" -> SourceQueries.loadOrderPlan _,
    "embed_kmeanspp_seed" -> ((s: SparkSession, d: String) => Ann.kmeansppSeed(s, d)),
    // round 14 batch 5: the sketch half of the catalog-wide ANALYZE,
    // the DLP transformation-summary audit record
    "layout_stats_sweep_approx" -> Analytics.layoutStatsSweepApprox _,
    "dlp_transformation_summary" -> DlpQueries.dlpTransformationSummary _,
    // round 14 batch 7: OPTIMIZE — atomic small-file compaction on
    // the commit log (add + remove in one version)
    "load_optimize_compact" -> SourceQueries.optimizeCompactOp _,
    // round 14 batch 8: streaming SOURCE over the commit log (live
    // readStream tail, rewrite versions skipped)
    "stream_source_tail" -> Streams.streamSourceTail _,
    // round 15 batch 1: the remaining lakehouse verbs — RESTORE
    // (rollback as a new version), DELETE on the real read path
    // (merge-on-read deletion vectors through the scan), and the
    // vacuumed-chain initial snapshot for a fresh streaming consumer
    "load_restore" -> SourceQueries.restoreOp _,
    "load_delete_verb" -> SourceQueries.deleteVerbOp _,
    "stream_source_snapshot" -> Streams.streamSourceSnapshot _,
    // round 15 batch 3: the ANN index persisted as a cell-bucketed
    // table, probes served from the bucket-pruned layout; the
    // ANALYZE → prune loop closed from the stats sweep's own catalog
    "ann_bucketed_serve" -> Ann.bucketedServe _,
    "layout_prune_from_stats" -> Analytics.layoutPruneFromStats _,
    // round 15 batch 4: CHANGE DATA FEED (the table_changes verb) and
    // streaming admission control (maxVersionsPerTrigger)
    "load_change_feed" -> SourceQueries.changeFeedOp _,
    "stream_source_ratelimit" -> Streams.streamSourceRateLimit _,
    // round 15 batch 5: MERGE (copy-on-write upsert with CDF sidecars)
    "load_merge_verb" -> SourceQueries.mergeVerbOp _,
    // round 15 batch 6: filter pushdown + per-file key-stats skipping
    // on the DSv2 commit log
    "load_file_skipping" -> SourceQueries.fileSkipping _,
    // round 15 batch 7: UPDATE with touched-file pruning (the merge
    // entry's noted next step, closed), SHALLOW CLONE, and the
    // CDF-sync theorem (feed deltas ≡ snapshot diff)
    "load_update_verb" -> SourceQueries.updateVerbOp _,
    "load_clone_shallow" -> SourceQueries.cloneShallowOp _,
    "load_cdf_sync" -> SourceQueries.cdfSyncOp _,
    // round 15 batch 8: protocol versioning and the streaming CDF
    // surface (readChangeFeed)
    "load_protocol_gate" -> SourceQueries.protocolGateOp _,
    "stream_cdf_consume" -> Streams.streamCdfConsume _,
    // round 15 batch 9: the admin/audit verbs — DESCRIBE HISTORY
    // (#op: commit info), DESCRIBE DETAIL, VACUUM DRY RUN
    "load_describe_history" -> SourceQueries.describeHistoryOp _,
    "load_describe_detail" -> SourceQueries.describeDetailOp _,
    "load_vacuum_dryrun" -> SourceQueries.vacuumDryRunOp _,
    // round 15 batch 11: merge-on-read MERGE — the write-cheap upsert
    // version-scoped DVs unlock (zero data-file rewrite)
    "load_merge_mor" -> SourceQueries.mergeMorOp _,
    // round 16 batch 1: OCC auto-retry — a pinned verb that loses its
    // snapshot race rebases over provably-compatible interleaves
    // (disjoint-zone merges both succeed with no caller retry)
    "load_occ_retry" -> SourceQueries.occRetryOp _,
    // round 16 batch 2: val-column zone maps (`#vstats:`) — file
    // skipping on equality/range/prefix val predicates
    "load_file_skipping_val" -> SourceQueries.fileSkippingValOp _,
    // round 16 batch 3: OPTIMIZE ZORDER BY (key, val) — the clustered
    // rewrite that tightens BOTH zone maps in one atomic version
    "load_optimize_zorder" -> SourceQueries.optimizeZorderOp _,
    // round 16 batch 4: ALTER TABLE ADD COLUMN — zero-rewrite schema
    // evolution with per-snapshot schema time travel, protocol-gated
    "load_schema_evolution" -> SourceQueries.schemaEvolutionOp _,
    // round 16 batch 5: the auto-maintenance planner — metadata-only
    // trigger scan emitting the OPTIMIZE/VACUUM/ZORDER job list
    "load_maintenance_plan" -> SourceQueries.maintenancePlanOp _,
    // round 16 batch 6: rate-limited initial snapshot (idx-cursor
    // paced) + streaming CDF startingVersion=latest tail mode
    "stream_source_snapshot_paced" -> Streams.streamSourceSnapshotPaced _,
    "stream_cdf_tail" -> Streams.streamCdfTail _,
    // round 16 batch 7: the maintenance cycle closed — plan, execute
    // ONE bin-packing rewrite, re-plan returns zero jobs
    "load_maintenance_cycle" -> SourceQueries.maintenanceCycleOp _,
    // round 17 batch 1: the six evolved-table guards are GONE — every
    // rewrite verb and the change feed work after ALTER ADD COLUMN
    "load_merge_evolved" -> SourceQueries.mergeEvolvedOp _,
    "load_optimize_evolved" -> SourceQueries.optimizeEvolvedOp _,
    "load_cdf_evolved" -> SourceQueries.cdfEvolvedOp _,
    // round 17 batch 2: per-column zone maps (`#cstats:`, position-
    // keyed) — file skipping on evolved-column predicates
    "load_file_skipping_cols" -> SourceQueries.fileSkippingColsOp _,
    // round 17 batch 3: ALTER TABLE RENAME COLUMN — metadata-only
    // name-mapping (#colmap, position-keyed), protocol-gated to 4:4
    "load_rename_column" -> SourceQueries.renameColumnOp _,
    // round 17 batch 4: concurrency proofs — the CAS + rebase across
    // two real JVMs, and streaming epochs racing a live OPTIMIZE
    "load_occ_crossproc" -> SourceQueries.occCrossProcOp _,
    "stream_sink_occ_race" -> Streams.streamSinkOccRace _,
    // round 17 batch 5: ALTER TABLE DROP COLUMN — metadata-only
    // (#coldrop, position-keyed), protocol-gated to 5:5; completes
    // the ADD + RENAME + DROP schema-evolution verb surface
    "load_drop_column" -> SourceQueries.dropColumnOp _,
    // round 17 batch 6: TTL-windowed streaming dedup (bounded-state
    // dropDuplicates)
    "stream_dedup_window" -> Streams.dedupWindowBatch _,
  )

  /** The tokenizer's merge count — mirrors TextOps.BpeMerges. */
  private val BpeK = 10

  /** Iterated-BPE CTE chain, shared by the trainer oracle and every
    * billing consumer (apply / mix weights / pack sequences): the K
    * training rounds UNROLLED — each round re-counts adjacent token
    * pairs over the previous round's vocabulary tokenization, takes
    * the (weight DESC, pair) argmax, and re-tokenizes with the same
    * two-sweep replace the engine runs — ending in `tokw`, the
    * per-distinct-word tokenizer bill (word, chars, n_tok) under the
    * full ledger. Generated by a loop so the recurrence is written
    * once. */
  private val BpeChainCte: String = {
    val k = BpeK
    val sb = new StringBuilder
    // MATERIALIZED is load-bearing: without it DuckDB inlines each
    // CTE at every reference, and the v1..vK chain (each round reads
    // its predecessor several times) expands exponentially into
    // thousands of parquet scans ("too many open files")
    sb.append(
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |a AS (SELECT word FROM w WHERE regexp_matches(word, '^[a-z]+$')),
        |v0 AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS n,
        |  ' ' || regexp_replace(word, '(.)', '\1 ', 'g') AS toks FROM a GROUP BY word)""".stripMargin)
    (1 to k).foreach { r =>
      val p = s"v${r - 1}"
      sb.append(s""",
        |p$r AS (SELECT pr, CAST(SUM(n) AS BIGINT) AS wgt FROM (
        |  SELECT n, unnest(list_transform(range(1, len(t)), j -> t[j] || ' ' || t[j+1])) AS pr
        |  FROM (SELECT n, string_split(trim(toks), ' ') AS t FROM $p) z WHERE len(t) >= 2) y GROUP BY pr),
        |m$r AS MATERIALIZED (SELECT pr, wgt FROM p$r ORDER BY wgt DESC, pr LIMIT 1),
        |v$r AS MATERIALIZED (SELECT word, n, replace(replace(toks,
        |    ' ' || (SELECT pr FROM m$r) || ' ', ' ' || replace((SELECT pr FROM m$r), ' ', '') || ' '),
        |    ' ' || (SELECT pr FROM m$r) || ' ', ' ' || replace((SELECT pr FROM m$r), ' ', '') || ' ') AS toks FROM $p)""".stripMargin)
    }
    sb.append(s""",
      |tokw AS MATERIALIZED (SELECT word, CAST(len(word) AS BIGINT) AS chars,
      |  CAST(len(string_split(trim(toks), ' ')) AS BIGINT) AS n_tok FROM v$k)""".stripMargin)
    sb.toString
  }

  private val BpeIterSql: String = {
    val k = BpeK
    val sb = new StringBuilder(BpeChainCte)
    sb.append("\nSELECT rank, pair, merged, weight, corpus_tokens_after FROM (\n")
    sb.append((1 to k).map { r =>
      s"SELECT CAST($r AS BIGINT) AS rank, (SELECT pr FROM m$r) AS pair, " +
        s"replace((SELECT pr FROM m$r), ' ', '') AS merged, " +
        s"(SELECT wgt FROM m$r) AS weight, " +
        s"(SELECT CAST(SUM(n * len(string_split(trim(toks), ' '))) AS BIGINT) FROM v$r) AS corpus_tokens_after"
    }.mkString("\nUNION ALL "))
    // a round whose argmax came up empty (pair exhaustion on a tiny
    // corpus) yields NULL scalars — drop it, like the engine stops
    sb.append(") t WHERE pair IS NOT NULL ORDER BY rank")
    sb.toString
  }

  /** Farthest-point seeding oracle: k−1 unrolled rounds over the
    * position-expanded micro-unit corpus (the duckKmeansCte
    * representation); each round takes the (dmin DESC, vec_id) argmax
    * over vectors not yet chosen. MATERIALIZED for the same
    * exponential-inlining reason as [[BpeIterSql]]. */
  private val KppSeedSql: String = {
    val k = 8
    val sb = new StringBuilder
    sb.append(
      """WITH qp AS MATERIALIZED (SELECT vec_id, pos, CAST(FLOOR(emb[pos + 1] * 1000000) AS BIGINT) AS v
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
        |  CROSS JOIN (SELECT unnest(range(0, 64)) AS pos)),
        |ch1 AS (SELECT CAST(0 AS BIGINT) AS cid)""".stripMargin)
    (2 to k).foreach { r =>
      sb.append(s""",
        |d$r AS (SELECT vec_id, MIN(dd) AS dmin FROM (
        |  SELECT e.vec_id, c.cid, CAST(SUM((e.v - cq.v) * (e.v - cq.v)) AS BIGINT) AS dd
        |  FROM qp e CROSS JOIN ch${r - 1} c JOIN qp cq ON cq.vec_id = c.cid AND cq.pos = e.pos
        |  GROUP BY e.vec_id, c.cid) z
        |  WHERE vec_id NOT IN (SELECT cid FROM ch${r - 1}) GROUP BY vec_id),
        |m$r AS MATERIALIZED (SELECT vec_id, dmin FROM d$r ORDER BY dmin DESC, vec_id LIMIT 1),
        |ch$r AS MATERIALIZED (SELECT cid FROM ch${r - 1} UNION ALL SELECT vec_id FROM m$r)""".stripMargin)
    }
    sb.append("\nSELECT rank, vec_id, dist_to_nearest_prior FROM (\n")
    sb.append(("SELECT CAST(1 AS BIGINT) AS rank, CAST(0 AS BIGINT) AS vec_id, CAST(0 AS BIGINT) AS dist_to_nearest_prior" +:
      (2 to k).map(r =>
        s"SELECT CAST($r AS BIGINT), (SELECT vec_id FROM m$r), (SELECT dmin FROM m$r)"))
      .mkString("\nUNION ALL "))
    sb.append(") t ORDER BY rank")
    sb.toString
  }

  /** Catalog-wide ANALYZE oracle body: the four table CTEs plus the
    * 14-block per-column stats union as `sw` — shared by the exact
    * sweep and its sketch-contract variant. */
  private val StatsSweepCte: String =
    """WITH o AS (SELECT CAST(CAST(date_part('year', o_orderdate) * 100 + date_part('month', o_orderdate) AS BIGINT) AS VARCHAR) AS part_key,
        |    o_orderstatus, o_orderpriority, o_custkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c FROM orders),
        |  l AS (SELECT CAST(CAST(date_part('year', l_shipdate) * 100 + date_part('month', l_shipdate) AS BIGINT) AS VARCHAR) AS part_key,
        |    l_returnflag, l_linestatus, CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS eprice_c FROM lineitem),
        |  c AS (SELECT 'ALL' AS part_key, c_mktsegment, CAST(c_nationkey AS BIGINT) AS nationkey,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS acctbal_c FROM customer),
        |  d AS (SELECT COALESCE(source, '?') AS part_key, lang, doc_id, n_chars FROM documents),
        |  sw AS (
        |  SELECT 'orders' AS table_name, part_key, 'o_orderstatus' AS col_name, MIN(o_orderstatus) AS min_s, MAX(o_orderstatus) AS max_s, COUNT(DISTINCT o_orderstatus) AS ndv, COUNT(*) - COUNT(o_orderstatus) AS n_null, COUNT(*) AS n_rows FROM o GROUP BY part_key
        |  UNION ALL SELECT 'orders', part_key, 'o_orderpriority', MIN(o_orderpriority), MAX(o_orderpriority), COUNT(DISTINCT o_orderpriority), COUNT(*) - COUNT(o_orderpriority), COUNT(*) FROM o GROUP BY part_key
        |  UNION ALL SELECT 'orders', part_key, 'o_custkey', CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR), COUNT(DISTINCT o_custkey), COUNT(*) - COUNT(o_custkey), COUNT(*) FROM o GROUP BY part_key
        |  UNION ALL SELECT 'orders', part_key, 'o_totalprice_c', CAST(MIN(price_c) AS VARCHAR), CAST(MAX(price_c) AS VARCHAR), COUNT(DISTINCT price_c), COUNT(*) - COUNT(price_c), COUNT(*) FROM o GROUP BY part_key
        |  UNION ALL SELECT 'lineitem', part_key, 'l_returnflag', MIN(l_returnflag), MAX(l_returnflag), COUNT(DISTINCT l_returnflag), COUNT(*) - COUNT(l_returnflag), COUNT(*) FROM l GROUP BY part_key
        |  UNION ALL SELECT 'lineitem', part_key, 'l_linestatus', MIN(l_linestatus), MAX(l_linestatus), COUNT(DISTINCT l_linestatus), COUNT(*) - COUNT(l_linestatus), COUNT(*) FROM l GROUP BY part_key
        |  UNION ALL SELECT 'lineitem', part_key, 'l_quantity', CAST(MIN(qty) AS VARCHAR), CAST(MAX(qty) AS VARCHAR), COUNT(DISTINCT qty), COUNT(*) - COUNT(qty), COUNT(*) FROM l GROUP BY part_key
        |  UNION ALL SELECT 'lineitem', part_key, 'l_extendedprice_c', CAST(MIN(eprice_c) AS VARCHAR), CAST(MAX(eprice_c) AS VARCHAR), COUNT(DISTINCT eprice_c), COUNT(*) - COUNT(eprice_c), COUNT(*) FROM l GROUP BY part_key
        |  UNION ALL SELECT 'customer', part_key, 'c_mktsegment', MIN(c_mktsegment), MAX(c_mktsegment), COUNT(DISTINCT c_mktsegment), COUNT(*) - COUNT(c_mktsegment), COUNT(*) FROM c GROUP BY part_key
        |  UNION ALL SELECT 'customer', part_key, 'c_nationkey', CAST(MIN(nationkey) AS VARCHAR), CAST(MAX(nationkey) AS VARCHAR), COUNT(DISTINCT nationkey), COUNT(*) - COUNT(nationkey), COUNT(*) FROM c GROUP BY part_key
        |  UNION ALL SELECT 'customer', part_key, 'c_acctbal_c', CAST(MIN(acctbal_c) AS VARCHAR), CAST(MAX(acctbal_c) AS VARCHAR), COUNT(DISTINCT acctbal_c), COUNT(*) - COUNT(acctbal_c), COUNT(*) FROM c GROUP BY part_key
        |  UNION ALL SELECT 'documents', part_key, 'lang', MIN(lang), MAX(lang), COUNT(DISTINCT lang), COUNT(*) - COUNT(lang), COUNT(*) FROM d GROUP BY part_key
        |  UNION ALL SELECT 'documents', part_key, 'doc_id', CAST(MIN(doc_id) AS VARCHAR), CAST(MAX(doc_id) AS VARCHAR), COUNT(DISTINCT doc_id), COUNT(*) - COUNT(doc_id), COUNT(*) FROM d GROUP BY part_key
        |  UNION ALL SELECT 'documents', part_key, 'n_chars', CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR), COUNT(DISTINCT n_chars), COUNT(*) - COUNT(n_chars), COUNT(*) FROM d GROUP BY part_key
        |) 
        |""".stripMargin

  // ---- Oracle SQL shared fragments (blocks E/F/G) ----

  /** word-3-gram shingle CTEs (mirror Dedup.gramsDf exactly). */
  private val GramsCte =
    """doc AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(w) - 2, 1) + 1),
      |  i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS grams FROM doc)""".stripMargin

  private val SigCte = {
    val hs = (0 until 8).map(j => s"list_min(list_transform(grams, s -> md5('$j:' || s))) AS h$j").mkString(",\n  ")
    s"sig AS (SELECT doc_id,\n  $hs\nFROM g)"
  }

  private val JaccExpr =
    "ROUND(CAST(len(list_intersect(ga.grams, gb.grams)) AS BIGINT) / CAST(len(list_distinct(ga.grams || gb.grams)) AS BIGINT), 4)"

  private def duckDot(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i]), (acc, x) -> acc + x)"
  private def duckCos(a: String, b: String): String =
    s"${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)}))"

  /** Squared L2 over the 16-dim subspace starting at 1-based `lo` —
    * fold order matches Spark's aggregate(zip_with(...)) exactly
    * (left-to-right, 0+v1 == v1), so distances are bit-identical. */
  private def duckSqL2(a: String, b: String, lo: Int): String =
    s"list_reduce(list_transform(range(0, 16), i -> " +
      s"($a[$lo + i] - $b[$lo + i]) * ($a[$lo + i] - $b[$lo + i])), (acc, x) -> acc + x)"

  private def duckSqL2Full(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, 65), i -> " +
      s"($a[i] - $b[i]) * ($a[i] - $b[i])), (acc, x) -> acc + x)"

  /** Unrolled Lloyd iterations mirroring Ann.kmeansTrain: quantize
    * once to micro-unit BIGINTs, then per round an exact integer
    * distance argmin and a shifted integer-division mean. All integer
    * math, so fold order and division semantics agree exactly
    * (positive dividend: DuckDB // floor == Spark DIV truncation).
    *
    * Deliberately version-insensitive SQL: everything is flat
    * per-(cent_id, pos) ROWS — no list construction, no list_reduce,
    * no list(... ORDER BY ...) — joined positionally, with every
    * aggregate explicitly CAST back to BIGINT (DuckDB's SUM(BIGINT)
    * widens to HUGEINT, whose client-side representation is the kind
    * of thing that shifts across releases; the r7 driver gate hashed
    * this query differently than every local run). */
  private def duckKmeansCte(rounds: Int): String = {
    val S = 4000000L
    val init =
      s"""qp AS (SELECT vec_id, pos, CAST(FLOOR(emb[pos + 1] * 1000000) AS BIGINT) AS v
         |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
         |  CROSS JOIN (SELECT unnest(range(0, 64)) AS pos)),
         |centp0 AS (SELECT vec_id AS cent_id, pos, v AS cv FROM qp WHERE vec_id < 8)""".stripMargin
    val iters = (1 to rounds).map { t =>
      s"""d$t AS (SELECT qp.vec_id, cp.cent_id,
         |  CAST(SUM((qp.v - cp.cv) * (qp.v - cp.cv)) AS BIGINT) AS dist
         |  FROM qp JOIN centp${t - 1} cp ON cp.pos = qp.pos
         |  GROUP BY qp.vec_id, cp.cent_id),
         |a$t AS (SELECT vec_id, cent_id AS cell FROM (SELECT vec_id, cent_id,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rn FROM d$t) WHERE rn = 1),
         |centp$t AS (SELECT cell AS cent_id, pos,
         |  CAST((SUM(v) + COUNT(*) * $S) // COUNT(*) - $S AS BIGINT) AS cv,
         |  COUNT(*) AS n
         |  FROM a$t JOIN qp USING (vec_id) GROUP BY cell, pos)""".stripMargin
    }
    (init +: iters).mkString(",\n")
  }

  /** PQ ADC scan — (query_id, vec_id, approximate distance): the CTE
    * chain both PQ oracles share (top-k and exact re-rank). Mirrors
    * Ann.pqAdcDistances exactly, including the parenthesized sum
    * order ((t0+t1)+t2)+t3. */
  private lazy val PqAdcCte: String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       |cent AS (SELECT vec_id AS cent_id, emb AS ce FROM e WHERE vec_id < 8),
       |sc AS (SELECT e.vec_id, cent_id,
       |  ${duckSqL2("emb", "ce", 1)} AS d0, ${duckSqL2("emb", "ce", 17)} AS d1,
       |  ${duckSqL2("emb", "ce", 33)} AS d2, ${duckSqL2("emb", "ce", 49)} AS d3
       |  FROM e CROSS JOIN cent),
       |k0 AS (SELECT vec_id, cent_id AS c0 FROM (SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id ORDER BY d0, cent_id) AS rn FROM sc) WHERE rn = 1),
       |k1 AS (SELECT vec_id, cent_id AS c1 FROM (SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id ORDER BY d1, cent_id) AS rn FROM sc) WHERE rn = 1),
       |k2 AS (SELECT vec_id, cent_id AS c2 FROM (SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS rn FROM sc) WHERE rn = 1),
       |k3 AS (SELECT vec_id, cent_id AS c3 FROM (SELECT vec_id, cent_id, row_number() OVER (PARTITION BY vec_id ORDER BY d3, cent_id) AS rn FROM sc) WHERE rn = 1),
       |codes AS (SELECT vec_id, c0, c1, c2, c3 FROM k0 JOIN k1 USING (vec_id) JOIN k2 USING (vec_id) JOIN k3 USING (vec_id)),
       |q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id >= 8 AND vec_id < 18),
       |tb AS (SELECT query_id, cent_id,
       |  ${duckSqL2("qe", "ce", 1)} AS t0, ${duckSqL2("qe", "ce", 17)} AS t1,
       |  ${duckSqL2("qe", "ce", 33)} AS t2, ${duckSqL2("qe", "ce", 49)} AS t3
       |  FROM q CROSS JOIN cent),
       |d AS (SELECT t0q.query_id, codes.vec_id, ((t0q.t0 + t1q.t1) + t2q.t2) + t3q.t3 AS ad
       |  FROM codes
       |  JOIN tb t0q ON t0q.cent_id = codes.c0
       |  JOIN tb t1q ON t1q.query_id = t0q.query_id AND t1q.cent_id = codes.c1
       |  JOIN tb t2q ON t2q.query_id = t0q.query_id AND t2q.cent_id = codes.c2
       |  JOIN tb t3q ON t3q.query_id = t0q.query_id AND t3q.cent_id = codes.c3
       |  WHERE codes.vec_id <> t0q.query_id)""".stripMargin

  private def langHits(words: Seq[String]): String =
    s"CAST(len(list_filter(w, x -> x IN (${words.map(w => s"'$w'").mkString(", ")}))) AS BIGINT)"

  /** Shared SQL fragment: the deterministic PII-shaped contact string
    * (must match DlpQueries.contact exactly). */
  private val ContactSql =
    "c_name || ' <user' || CAST(c_custkey AS VARCHAR) || '@example.com> call 555-867-' || " +
    "lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')"
  private val EmailReSql = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val PhoneReSql = """[0-9]{3}-[0-9]{3}-[0-9]{4}"""

  /** Static truth about the testdata schemas (identical at every sf):
    * (table, column, ordinal, spark_type, bq_type, bq_name). */
  private val CatalogValues: String = Seq(
    ("customer", Seq(("c_custkey","bigint","INTEGER"), ("c_name","string","STRING"),
      ("c_nationkey","int","INTEGER"), ("c_acctbal","double","FLOAT"), ("c_mktsegment","string","STRING"))),
    ("documents", Seq(("doc_id","bigint","INTEGER"), ("text","string","STRING"),
      ("lang","string","STRING"), ("source","string","STRING"), ("n_chars","bigint","INTEGER"))),
    ("embeddings", Seq(("vec_id","bigint","INTEGER"), ("embedding","array<float>","REPEATED FLOAT"),
      ("label","int","INTEGER"))),
    ("events", Seq(("event_id","bigint","INTEGER"), ("ts","timestamp","TIMESTAMP"),
      ("user_id","bigint","INTEGER"), ("event_type","string","STRING"),
      ("value","double","FLOAT"), ("props","string","STRING"))),
    ("lineitem", Seq(("l_orderkey","bigint","INTEGER"), ("l_partkey","bigint","INTEGER"),
      ("l_suppkey","bigint","INTEGER"), ("l_linenumber","int","INTEGER"),
      ("l_quantity","double","FLOAT"), ("l_extendedprice","double","FLOAT"),
      ("l_discount","double","FLOAT"), ("l_tax","double","FLOAT"),
      ("l_returnflag","string","STRING"), ("l_linestatus","string","STRING"),
      ("l_shipdate","timestamp_ntz","TIMESTAMP"))),
    ("nation", Seq(("n_nationkey","int","INTEGER"), ("n_name","string","STRING"),
      ("n_regionkey","int","INTEGER"))),
    ("orders", Seq(("o_orderkey","bigint","INTEGER"), ("o_custkey","bigint","INTEGER"),
      ("o_orderstatus","string","STRING"), ("o_totalprice","double","FLOAT"),
      ("o_orderdate","timestamp_ntz","TIMESTAMP"), ("o_orderpriority","string","STRING"))),
    ("part", Seq(("p_partkey","bigint","INTEGER"), ("p_name","string","STRING"),
      ("p_brand","string","STRING"), ("p_type","string","STRING"),
      ("p_size","int","INTEGER"), ("p_retailprice","double","FLOAT"))),
    ("region", Seq(("r_regionkey","int","INTEGER"), ("r_name","string","STRING"))),
    ("supplier", Seq(("s_suppkey","bigint","INTEGER"), ("s_name","string","STRING"),
      ("s_nationkey","int","INTEGER"), ("s_acctbal","double","FLOAT")))
  ).flatMap { case (t, cols) =>
    cols.zipWithIndex.map { case ((c, st, bt), i) =>
      s"('$t','$c',${i + 1},'$st','$bt','$c')"
    }
  }.mkString(",\n")

  /** DuckDB-equivalent SQL per query key (same column names + types). */
  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_base_price,
        |  CAST(SUM(CAST(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS BIGINT) AS sum_disc_price,
        |  CAST(SUM(CAST(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS BIGINT) AS sum_charge,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q6_forecast_revenue" ->
      """SELECT CAST(SUM(CAST(CAST(l_extendedprice*l_discount AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS BIGINT) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q_topk_per_group" ->
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
        |  FROM orders) t
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,
    "q_topk_native" ->
      """SELECT * FROM (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
        |  FROM orders) t
        |WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,
    "q_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |p AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, us, max(event_id) AS click_id FROM e WHERE event_type = 'click' GROUP BY user_id, us)
        |SELECT p.event_id AS purchase_id, p.user_id, c.click_id AS last_click_id,
        |  CAST(p.us - c.us AS BIGINT) AS gap_us
        |FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.us >= c.us
        |ORDER BY purchase_id""".stripMargin,
    // HLL estimates are engine-specific; the deterministic contract
    // (estimate within 6% = 3 sigma of exact at rsd 0.02) is what
    // crosses the oracle boundary.
    "q_approx_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
        |  CAST(1 AS BIGINT) AS within_band
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // §2.A
    "ingest_catalog" ->
      (s"""SELECT table_name, column_name, CAST(ordinal AS BIGINT) AS ordinal,
         |  spark_type, bq_type, bq_name FROM (VALUES
         |$CatalogValues
         |) t(table_name, column_name, ordinal, spark_type, bq_type, bq_name)
         |ORDER BY table_name, ordinal""".stripMargin),
    "bq_schema_map" ->
      (s"""SELECT table_name, column_name, bq_type FROM (VALUES
         |$CatalogValues
         |) t(table_name, column_name, ordinal, spark_type, bq_type, bq_name)
         |ORDER BY table_name, column_name""".stripMargin),
    "ingest_offset_splits" ->
      """WITH c AS (SELECT COUNT(*) AS cnt FROM lineitem)
        |SELECT split_id, CAST(LEAST(5000, cnt - split_id*5000) AS BIGINT) AS planned_rows
        |FROM (SELECT unnest(range(0, CAST(ceil(cnt/5000.0) AS BIGINT))) AS split_id, cnt FROM c)
        |ORDER BY split_id""".stripMargin,
    "ingest_excluded_tables" ->
      """SELECT * FROM (VALUES ('customer'),('documents'),('lineitem'),('nation'),
        |('orders'),('part'),('region'),('supplier')) t(table_name) ORDER BY table_name""".stripMargin,
    "ingest_row_count" ->
      """SELECT 'customer' AS table_name, COUNT(*) AS n_rows FROM customer
        |UNION ALL SELECT 'documents', COUNT(*) FROM documents
        |UNION ALL SELECT 'embeddings', COUNT(*) FROM embeddings
        |UNION ALL SELECT 'events', COUNT(*) FROM events
        |UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
        |UNION ALL SELECT 'nation', COUNT(*) FROM nation
        |UNION ALL SELECT 'orders', COUNT(*) FROM orders
        |UNION ALL SELECT 'part', COUNT(*) FROM part
        |UNION ALL SELECT 'region', COUNT(*) FROM region
        |UNION ALL SELECT 'supplier', COUNT(*) FROM supplier
        |ORDER BY table_name""".stripMargin,
    // §2.B
    "dlp_mask_chars" ->
      """SELECT c_custkey, c_name,
        |  substr(c_name, 1, 9) || repeat('#', greatest(length(c_name) - 9, 0)) AS masked
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "dlp_redact" ->
      s"""WITH t AS (SELECT c_custkey, $ContactSql AS contact FROM customer)
         |SELECT c_custkey, regexp_replace(contact, '$EmailReSql|$PhoneReSql', '[REDACTED]', 'g') AS redacted
         |FROM t ORDER BY c_custkey""".stripMargin,
    "dlp_replace_infotype" ->
      s"""WITH t AS (SELECT c_custkey, $ContactSql AS contact FROM customer)
         |SELECT c_custkey, regexp_replace(regexp_replace(contact, '$EmailReSql', '[EMAIL_ADDRESS]', 'g'), '$PhoneReSql', '[PHONE_NUMBER]', 'g') AS replaced
         |FROM t ORDER BY c_custkey""".stripMargin,
    // dlp_inspect_dictionary: custom term-list infoType findings
    // (term list mirrored verbatim from DlpQueries.dlpInspectDictionary).
    "dlp_inspect_dictionary" ->
      """WITH h AS (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
        |  x -> x IN ('customer', 'vector', 'stream', 'window', 'merge', 'batch'))) AS term FROM documents)
        |SELECT doc_id, 'CUSTOM_DICTIONARY' AS info_type, term, CAST(COUNT(*) AS BIGINT) AS n
        |FROM h GROUP BY doc_id, term ORDER BY doc_id, term""".stripMargin,
    "dlp_inspect" ->
      s"""WITH t AS (SELECT c_custkey, $ContactSql AS contact FROM customer),
         |u AS (
         |  SELECT c_custkey, 'EMAIL_ADDRESS' AS info_type,
         |    CAST(len(regexp_extract_all(contact, '$EmailReSql')) AS BIGINT) AS n,
         |    regexp_extract(contact, '$EmailReSql') AS quote FROM t
         |  UNION ALL
         |  SELECT c_custkey, 'PHONE_NUMBER',
         |    CAST(len(regexp_extract_all(contact, '$PhoneReSql')) AS BIGINT),
         |    regexp_extract(contact, '$PhoneReSql') FROM t)
         |SELECT * FROM u WHERE n > 0 ORDER BY c_custkey, info_type""".stripMargin,
    "dlp_crypto_hash" ->
      """SELECT c_custkey, sha256('graft-key:' || c_name) AS token
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "dlp_deterministic_token" ->
      """SELECT c_custkey, 'TOK_' || substr(sha256('det-key:' || c_name), 1, 32) AS token
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "dlp_reidentify" ->
      """WITH tok AS (SELECT c_custkey, 'TOK_' || substr(sha256('det-key:' || c_name), 1, 32) AS token FROM customer),
        |vault AS (SELECT DISTINCT 'TOK_' || substr(sha256('det-key:' || c_name), 1, 32) AS token, c_name AS plaintext FROM customer)
        |SELECT c_custkey, token, plaintext AS recovered
        |FROM tok JOIN vault USING (token) ORDER BY c_custkey""".stripMargin,
    "dlp_date_shift" ->
      """SELECT o_orderkey, o_orderdate,
        |  o_orderdate + INTERVAL (o_custkey % 61 - 30) DAY AS shifted
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "dlp_bucketing" ->
      """SELECT c_custkey,
        |  CAST(CAST(floor(c_acctbal/500)*500 AS BIGINT) AS VARCHAR) || '_' ||
        |  CAST(CAST(floor(c_acctbal/500)*500 + 500 AS BIGINT) AS VARCHAR) AS acctbal_bucket
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "dlp_row_batches" ->
      """WITH c AS (SELECT COUNT(*) AS cnt FROM customer)
        |SELECT batch_id, CAST(LEAST(500, cnt - batch_id*500) AS BIGINT) AS rows_in_batch
        |FROM (SELECT unnest(range(0, CAST(ceil(cnt/500.0) AS BIGINT))) AS batch_id, cnt FROM c)
        |ORDER BY batch_id""".stripMargin,
    "dlp_config_apply" ->
      """SELECT c_custkey,
        |  'TOK_' || substr(sha256('det-key:' || c_name), 1, 32) AS c_name,
        |  c_nationkey,
        |  CAST(CAST(floor(c_acctbal/500)*500 AS BIGINT) AS VARCHAR) || '_' ||
        |  CAST(CAST(floor(c_acctbal/500)*500 + 500 AS BIGINT) AS VARCHAR) AS c_acctbal,
        |  c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    // dlp_transformation_summary: each transform's before/after pair
    // recomputed from the same template semantics; canonical string
    // forms (DECIMAL(12,2) / timestamp) make byte counts engine-exact
    "dlp_transformation_summary" ->
      """WITH t1 AS (SELECT c_name AS b,
        |    'TOK_' || substr(sha256('det-key:' || c_name), 1, 32) AS a FROM customer),
        |t2 AS (SELECT CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR) AS b,
        |    CAST(CAST(floor(c_acctbal/500)*500 AS BIGINT) AS VARCHAR) || '_' ||
        |    CAST(CAST(floor(c_acctbal/500)*500 + 500 AS BIGINT) AS VARCHAR) AS a FROM customer),
        |t3 AS (SELECT CAST(o_orderdate AS VARCHAR) AS b,
        |    CAST(o_orderdate + INTERVAL (o_custkey % 61 - 30) DAY AS VARCHAR) AS a FROM orders)
        |SELECT table_name, column_name, kind,
        |  CAST(n_cells AS BIGINT) AS n_cells, CAST(n_changed AS BIGINT) AS n_changed,
        |  CAST(bytes_before AS BIGINT) AS bytes_before, CAST(bytes_after AS BIGINT) AS bytes_after
        |FROM (
        |  SELECT 'customer' AS table_name, 'c_acctbal' AS column_name, 'Bucketize' AS kind,
        |    COUNT(b) AS n_cells,
        |    SUM(CASE WHEN b IS NOT NULL AND (a IS NULL OR a <> b) THEN 1 ELSE 0 END) AS n_changed,
        |    SUM(CASE WHEN b IS NOT NULL THEN strlen(b) ELSE 0 END) AS bytes_before,
        |    SUM(CASE WHEN b IS NOT NULL THEN COALESCE(strlen(a), 0) ELSE 0 END) AS bytes_after FROM t2
        |  UNION ALL SELECT 'customer', 'c_name', 'DeterministicToken',
        |    COUNT(b), SUM(CASE WHEN b IS NOT NULL AND (a IS NULL OR a <> b) THEN 1 ELSE 0 END),
        |    SUM(CASE WHEN b IS NOT NULL THEN strlen(b) ELSE 0 END),
        |    SUM(CASE WHEN b IS NOT NULL THEN COALESCE(strlen(a), 0) ELSE 0 END) FROM t1
        |  UNION ALL SELECT 'orders', 'o_orderdate', 'DateShift',
        |    COUNT(b), SUM(CASE WHEN b IS NOT NULL AND (a IS NULL OR a <> b) THEN 1 ELSE 0 END),
        |    SUM(CASE WHEN b IS NOT NULL THEN strlen(b) ELSE 0 END),
        |    SUM(CASE WHEN b IS NOT NULL THEN COALESCE(strlen(a), 0) ELSE 0 END) FROM t3
        |) t ORDER BY table_name, column_name""".stripMargin,
    "dlp_k_anonymity" ->
      """WITH q AS (SELECT c_mktsegment, c_nationkey,
        |  CAST(CAST(floor(c_acctbal/2000)*2000 AS BIGINT) AS VARCHAR) || '_' ||
        |  CAST(CAST(floor(c_acctbal/2000)*2000 + 2000 AS BIGINT) AS VARCHAR) AS bal_bucket
        |  FROM customer),
        |cls AS (SELECT c_mktsegment, c_nationkey, bal_bucket, COUNT(*) AS class_size
        |  FROM q GROUP BY 1, 2, 3)
        |SELECT class_size, COUNT(*) AS n_classes FROM cls
        |GROUP BY class_size ORDER BY class_size""".stripMargin,
    "dlp_l_diversity" ->
      """WITH q AS (SELECT c_mktsegment, c_nationkey,
        |  CAST(CAST(floor(c_acctbal/2000)*2000 AS BIGINT) AS VARCHAR) || '_' ||
        |  CAST(CAST(floor(c_acctbal/2000)*2000 + 2000 AS BIGINT) AS VARCHAR) AS bal_bucket
        |  FROM customer)
        |SELECT c_mktsegment, c_nationkey, COUNT(*) AS class_size,
        |  COUNT(DISTINCT bal_bucket) AS l_diversity
        |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "text_vocab" ->
      """WITH c AS (SELECT word, COUNT(*) AS n FROM
        |    (SELECT unnest(string_split(text, ' ')) AS word FROM documents) GROUP BY word),
        |t AS (SELECT word, n,
        |  SUM(n) OVER (ORDER BY n DESC, word ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  SUM(n) OVER () AS total FROM c)
        |SELECT word, n, CAST(cum * 10000 // total AS BIGINT) AS cum_bp
        |FROM t ORDER BY n DESC, word LIMIT 200""".stripMargin,
    "q_salted_join" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS qty,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS total
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // §2.C
    "bq_row_convert" ->
      """SELECT c_custkey, CAST(c_custkey AS VARCHAR) AS custkey_s, c_name AS name_s,
        |  printf('%.2f', c_acctbal) AS acctbal_s,
        |  CAST(c_nationkey AS VARCHAR) AS nationkey_s,
        |  c_mktsegment AS mktsegment_s,
        |  to_base64(encode(c_name)) AS name_b64
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "dead_letter_split" ->
      """WITH t AS (SELECT event_id,
        |  try_cast(nullif(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS BIGINT) AS k FROM events)
        |SELECT event_id, k,
        |  CASE WHEN k IS NULL THEN 'dead' WHEN k >= 80 THEN 'dead' ELSE 'ok' END AS status,
        |  CASE WHEN k IS NULL THEN 'malformed_props' WHEN k >= 80 THEN 'value_out_of_range' ELSE '' END AS reason
        |FROM t ORDER BY event_id""".stripMargin,
    "migration_manifest" ->
      """WITH dead AS (SELECT COUNT(*) AS n FROM events
        |  WHERE try_cast(nullif(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS BIGINT) IS NULL
        |     OR try_cast(nullif(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS BIGINT) >= 80)
        |SELECT * FROM (
        |  SELECT 'customer' AS table_name, (SELECT COUNT(*) FROM customer) AS n_rows, CAST(1 AS BIGINT) AS deid_applied, CAST(0 AS BIGINT) AS n_dead
        |  UNION ALL SELECT 'documents', (SELECT COUNT(*) FROM documents), 0, 0
        |  UNION ALL SELECT 'embeddings', (SELECT COUNT(*) FROM embeddings), 0, 0
        |  UNION ALL SELECT 'events', (SELECT COUNT(*) FROM events) - (SELECT n FROM dead), 0, (SELECT n FROM dead)
        |  UNION ALL SELECT 'lineitem', (SELECT COUNT(*) FROM lineitem), 0, 0
        |  UNION ALL SELECT 'nation', (SELECT COUNT(*) FROM nation), 0, 0
        |  UNION ALL SELECT 'orders', (SELECT COUNT(*) FROM orders), 1, 0
        |  UNION ALL SELECT 'part', (SELECT COUNT(*) FROM part), 0, 0
        |  UNION ALL SELECT 'region', (SELECT COUNT(*) FROM region), 0, 0
        |  UNION ALL SELECT 'supplier', (SELECT COUNT(*) FROM supplier), 0, 0
        |) ORDER BY table_name""".stripMargin,
    "reid_publish_format" ->
      """SELECT c_custkey,
        |  '{"c_custkey":' || CAST(c_custkey AS VARCHAR) || ',"c_name":"' || c_name ||
        |  '","c_mktsegment":"' || c_mktsegment || '"}' AS message
        |FROM customer ORDER BY c_custkey""".stripMargin,
    // §2.G
    "text_lang_id" ->
      (s"""WITH t AS (SELECT doc_id, lang AS labeled_lang, string_split(text, ' ') AS w FROM documents),
         |s AS (SELECT doc_id, labeled_lang,
         |  ${langHits(TextOps.LangMarkers.toMap.apply("en"))} AS s_en,
         |  ${langHits(TextOps.LangMarkers.toMap.apply("de"))} AS s_de,
         |  ${langHits(TextOps.LangMarkers.toMap.apply("es"))} AS s_es,
         |  ${langHits(TextOps.LangMarkers.toMap.apply("fr"))} AS s_fr FROM t)
         |SELECT doc_id, labeled_lang,
         |  CASE WHEN s_en = 0 AND s_de = 0 AND s_es = 0 AND s_fr = 0 THEN 'unknown'
         |       WHEN s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
         |       WHEN s_en >= s_de AND s_en > s_es AND s_en > s_fr THEN 'en'
         |       WHEN s_es >= s_en AND s_es >= s_de AND s_es > s_fr THEN 'es'
         |       ELSE 'fr' END AS predicted,
         |  s_en, s_de, s_es, s_fr
         |FROM s ORDER BY doc_id""".stripMargin),
    // pipeline_quality_gate: first-failing-rule corpus filter.
    "pipeline_quality_gate" ->
      (s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |q AS (SELECT doc_id,
         |  CAST(len(w) AS BIGINT) AS n_words,
         |  ${TextOps.LangMarkers.map { case (_, ws) => langHits(ws) }.mkString(" + ")} AS marker_hits,
         |  CAST((len(w) - len(list_distinct(w))) * 10000 // len(w) AS BIGINT) AS dup_word_bp
         |FROM t),
         |r AS (SELECT doc_id, n_words, marker_hits, dup_word_bp,
         |  CASE WHEN n_words < 5 THEN 'too_short'
         |       WHEN marker_hits = 0 THEN 'unknown_language'
         |       WHEN dup_word_bp > 3000 THEN 'repetitive'
         |       ELSE 'ok' END AS gate FROM q)
         |SELECT doc_id, n_words, marker_hits, dup_word_bp, gate,
         |  CAST(CASE WHEN gate = 'ok' THEN 1 ELSE 0 END AS BIGINT) AS pass
         |FROM r ORDER BY doc_id""".stripMargin),
    "text_quality_score" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_m,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x IN ('a', 'the', 'of', 'and', 'to'))) AS BIGINT) AS n_stop
        |  FROM documents)
        |SELECT doc_id, n_chars_m, n_words, n_stop,
        |  CAST(LEAST(n_words, 100) * 50 +
        |       (CASE WHEN n_chars_m / n_words BETWEEN 3 AND 8 THEN 3000 ELSE 900 END) +
        |       (2000 * LEAST(n_words, 5 * n_stop)) // n_words
        |  AS BIGINT) AS quality_bp
        |FROM t ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """WITH t AS (SELECT doc_id,
        |  list_transform(range(1, greatest(length(text) - 4, 1) + 1), i -> md5(substr(text, i, 5))) AS hs
        |  FROM documents)
        |SELECT doc_id, list_min(hs) AS fp, CAST(len(list_distinct(hs)) AS BIGINT) AS n_windows
        |FROM t ORDER BY doc_id""".stripMargin,
    // §2.E
    "dedup_exact" ->
      """SELECT min(doc_id) AS keeper, COUNT(*) AS n, md5(text) AS h
        |FROM documents GROUP BY md5(text) ORDER BY keeper""".stripMargin,
    "dedup_minhash_sig" ->
      (s"""WITH $GramsCte,
         |$SigCte
         |SELECT doc_id, h0, h1, h2, h3, h4, h5, h6, h7 FROM sig ORDER BY doc_id""".stripMargin),
    "dedup_minhash_pairs" ->
      (s"""WITH $GramsCte,
         |$SigCte,
         |bands AS (
         |  SELECT doc_id, 0 AS band_id, md5(h0 || h1) AS bk FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |j AS (SELECT doc_a, doc_b, $JaccExpr AS jacc
         |  FROM cand JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b)
         |SELECT doc_a, doc_b, jacc FROM j WHERE jacc >= 0.5 ORDER BY doc_a, doc_b""".stripMargin),
    // dedup_incremental: batch (odd ids) vs corpus (even ids) band-key
    // join only — no corpus self-pairing.
    "dedup_incremental" ->
      (s"""WITH $GramsCte,
         |$SigCte,
         |bands AS (
         |  SELECT doc_id, 0 AS band_id, md5(h0 || h1) AS bk FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_corpus, b.doc_id AS doc_new
         |  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bk = b.bk
         |  WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1),
         |j AS (SELECT doc_new, doc_corpus, $JaccExpr AS jacc
         |  FROM cand JOIN g ga ON ga.doc_id = doc_corpus JOIN g gb ON gb.doc_id = doc_new),
         |m AS (SELECT doc_new AS doc_id, MIN(doc_corpus) AS dup_of, COUNT(*) AS n_dups
         |  FROM j WHERE jacc >= 0.5 GROUP BY doc_new)
         |SELECT d.doc_id,
         |  CAST(CASE WHEN m.dup_of IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup,
         |  CAST(coalesce(m.dup_of, -1) AS BIGINT) AS dup_of,
         |  CAST(coalesce(m.n_dups, 0) AS BIGINT) AS n_dups
         |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
         |WHERE d.doc_id % 2 = 1 ORDER BY d.doc_id""".stripMargin),
    // split_decontaminate: eval/test docs with a verified near-dup in
    // the train split (hash-bucket split × verified pair list).
    "split_decontaminate" ->
      (s"""WITH $GramsCte,
         |$SigCte,
         |bands AS (
         |  SELECT doc_id, 0 AS band_id, md5(h0 || h1) AS bk FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |p AS (SELECT doc_a, doc_b FROM (SELECT doc_a, doc_b, $JaccExpr AS jacc
         |  FROM cand JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b) WHERE jacc >= 0.5),
         |und AS (SELECT doc_a AS doc_id, doc_b AS nbr FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p),
         |s AS (SELECT doc_id, ${TextOps.SplitCaseSql} AS split FROM documents)
         |SELECT u.doc_id, s.split, MIN(u.nbr) AS train_dup, CAST(COUNT(*) AS BIGINT) AS n_train_dups
         |FROM und u JOIN s ON s.doc_id = u.doc_id AND s.split <> 'train'
         |JOIN s t ON t.doc_id = u.nbr AND t.split = 'train'
         |GROUP BY u.doc_id, s.split ORDER BY u.doc_id""".stripMargin),
    "dedup_ngram_jaccard" ->
      (s"""WITH $GramsCte,
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM documents a JOIN documents b ON a.n_chars // 32 = b.n_chars // 32 AND a.doc_id < b.doc_id),
         |j AS (SELECT doc_a, doc_b, $JaccExpr AS jacc
         |  FROM cand JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b)
         |SELECT doc_a, doc_b, jacc FROM j WHERE jacc >= 0.5 ORDER BY doc_a, doc_b""".stripMargin),
    "ingest_schema_drift" ->
      """SELECT * FROM (VALUES
        |  ('c_acctbal', 'double', 'string', 'type_changed'),
        |  ('c_custkey', 'bigint', 'bigint', 'same'),
        |  ('c_email', '', 'string', 'added'),
        |  ('c_mktsegment', 'string', '', 'removed'),
        |  ('c_name', 'string', 'string', 'same'),
        |  ('c_nationkey', 'int', 'int', 'same')
        |) t(column_name, v1_type, v2_type, status) ORDER BY column_name""".stripMargin,
    "dedup_minhash_est" ->
      (s"""WITH $GramsCte,
         |$SigCte,
         |bands AS (
         |  SELECT doc_id, 0 AS band_id, md5(h0 || h1) AS bk FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |j AS (SELECT doc_a, doc_b, $JaccExpr AS jacc
         |  FROM cand JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b),
         |p AS (SELECT doc_a, doc_b, jacc FROM j WHERE jacc >= 0.5)
         |SELECT doc_a, doc_b, jacc,
         |  CAST(((CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END) + (CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END) +
         |        (CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END) + (CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END) +
         |        (CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END) + (CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END) +
         |        (CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END) + (CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END)) * 1250 AS BIGINT) AS est_bp
         |FROM p JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
         |ORDER BY doc_a, doc_b""".stripMargin),
    "dedup_containment" ->
      (s"""WITH $GramsCte,
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM documents a JOIN documents b ON a.n_chars // 32 = b.n_chars // 32 AND a.doc_id < b.doc_id),
         |j AS (SELECT doc_a, doc_b,
         |  CAST(len(list_intersect(ga.grams, gb.grams)) AS BIGINT) AS c,
         |  CAST(len(ga.grams) AS BIGINT) AS sza, CAST(len(gb.grams) AS BIGINT) AS szb
         |  FROM cand JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b),
         |u AS (SELECT doc_a AS contained_id, doc_b AS container_id, ROUND(c / sza, 4) AS cont FROM j
         |  UNION ALL SELECT doc_b, doc_a, ROUND(c / szb, 4) FROM j)
         |SELECT contained_id, container_id, cont FROM u
         |WHERE cont >= 0.6 ORDER BY contained_id, container_id""".stripMargin),
    "dedup_embedding_cos" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |eb AS (SELECT vec_id, emb,
         |  (CASE WHEN emb[1] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[2] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN emb[3] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[4] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN emb[5] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[6] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN emb[7] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[8] >= 0 THEN '1' ELSE '0' END) AS bucket FROM e),
         |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.emb AS ea, b.emb AS eb2
         |  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |c AS (SELECT vec_a, vec_b, ROUND(${duckCos("ea", "eb2")}, 4) AS cos FROM p)
         |SELECT vec_a, vec_b, cos FROM c WHERE cos >= 0.35 ORDER BY vec_a, vec_b""".stripMargin),
    "dedup_corpus_sig" ->
      """SELECT source,
        |  concat_ws(',', min(md5('0:' || text)), min(md5('1:' || text)),
        |   min(md5('2:' || text)), min(md5('3:' || text))) AS sig,
        |  COUNT(*) AS n_docs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // §2.F
    "ann_topk_bruteforce" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 10),
         |s AS (SELECT query_id, e.vec_id, ${duckCos("qe", "emb")} AS c
         |  FROM q JOIN e ON e.vec_id <> query_id),
         |r AS (SELECT query_id, vec_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS BIGINT) AS rank FROM s)
         |SELECT query_id, vec_id AS neighbor_id, rank FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),
    "ann_ivf_topk" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cent AS (SELECT vec_id AS cent_id, emb AS ce FROM e WHERE vec_id < 8),
         |a AS (SELECT e.vec_id, e.emb, cent_id, ${duckCos("emb", "ce")} AS c FROM e CROSS JOIN cent),
         |cells AS (SELECT vec_id, emb, cent_id AS cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn FROM a) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, emb AS qe, cell FROM cells WHERE vec_id >= 8 AND vec_id < 18),
         |s AS (SELECT query_id, c2.vec_id, ${duckCos("qe", "emb")} AS c
         |  FROM q JOIN cells c2 USING (cell) WHERE c2.vec_id <> query_id),
         |r AS (SELECT query_id, vec_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS BIGINT) AS rank FROM s)
         |SELECT query_id, vec_id AS neighbor_id, rank FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // ann_bucketed_serve: the bucketed-index probe is semantically the
    // ivf probe-1 restricted to queries 8-10 — same assignment CTE,
    // same rank rule; the bucketed layout is a plan property the spec
    // pins, invisible to the result
    "ann_bucketed_serve" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cent AS (SELECT vec_id AS cent_id, emb AS ce FROM e WHERE vec_id < 8),
         |a AS (SELECT e.vec_id, e.emb, cent_id, ${duckCos("emb", "ce")} AS c FROM e CROSS JOIN cent),
         |cells AS (SELECT vec_id, emb, cent_id AS cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn FROM a) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, emb AS qe, cell FROM cells WHERE vec_id >= 8 AND vec_id < 11),
         |s AS (SELECT query_id, c2.vec_id, ${duckCos("qe", "emb")} AS c
         |  FROM q JOIN cells c2 USING (cell) WHERE c2.vec_id <> query_id),
         |r AS (SELECT query_id, vec_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS BIGINT) AS rank FROM s)
         |SELECT query_id, vec_id AS neighbor_id, rank FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    // round 8: per-cell population share vs the uniform ideal (1250 bp
    // for 8 cells) — same cell assignment CTE as ann_ivf_topk
    "ann_cell_balance" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cent AS (SELECT vec_id AS cent_id, emb AS ce FROM e WHERE vec_id < 8),
         |a AS (SELECT e.vec_id, cent_id, ${duckCos("emb", "ce")} AS c FROM e CROSS JOIN cent),
         |cells AS (SELECT vec_id, cent_id AS cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn FROM a) WHERE rn = 1),
         |g AS (SELECT cell, COUNT(*) AS n FROM cells GROUP BY cell),
         |t AS (SELECT cell, n, SUM(n) OVER () AS tot FROM g)
         |SELECT cell, n, CAST((n * 10000) // tot AS BIGINT) AS share_bp,
         |  CAST(abs((n * 10000) // tot - 1250) AS BIGINT) AS dev_bp
         |FROM t ORDER BY cell""".stripMargin),
    // ann_incremental_assign: same assignment CTE as ann_cell_balance,
    // split base (vec_id % 10 <> 9) vs the incremental batch; shares in
    // bp before/after, drift, retrain trigger at >= 50 bp
    "ann_incremental_assign" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cent AS (SELECT vec_id AS cent_id, emb AS ce FROM e WHERE vec_id < 8),
         |a AS (SELECT e.vec_id, cent_id, ${duckCos("emb", "ce")} AS c FROM e CROSS JOIN cent),
         |cells AS (SELECT vec_id, cent_id AS cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn FROM a) WHERE rn = 1),
         |g AS (SELECT cell,
         |  SUM(CASE WHEN vec_id % 10 <> 9 THEN 1 ELSE 0 END) AS n_base,
         |  SUM(CASE WHEN vec_id % 10 = 9 THEN 1 ELSE 0 END) AS n_new FROM cells GROUP BY cell),
         |t AS (SELECT cell, n_base, n_new, SUM(n_base) OVER () AS tot_base,
         |  SUM(n_base + n_new) OVER () AS tot_after FROM g)
         |SELECT cell, CAST(n_base AS BIGINT) AS n_base, CAST(n_new AS BIGINT) AS n_new,
         |  CAST(n_base + n_new AS BIGINT) AS n_after,
         |  CAST(n_base * 10000 // tot_base AS BIGINT) AS share_before_bp,
         |  CAST((n_base + n_new) * 10000 // tot_after AS BIGINT) AS share_after_bp,
         |  CAST(abs(n_base * 10000 // tot_base - (n_base + n_new) * 10000 // tot_after) AS BIGINT) AS drift_bp,
         |  CAST(CASE WHEN abs(n_base * 10000 // tot_base - (n_base + n_new) * 10000 // tot_after) >= 50 THEN 1 ELSE 0 END AS BIGINT) AS retrain
         |FROM t ORDER BY cell""".stripMargin),
    "ann_ivf_probe2" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cent AS (SELECT vec_id AS cent_id, emb AS ce FROM e WHERE vec_id < 8),
         |a AS (SELECT e.vec_id, e.emb, cent_id, ${duckCos("emb", "ce")} AS c FROM e CROSS JOIN cent),
         |r2 AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn FROM a),
         |cells AS (SELECT vec_id, emb, cent_id AS cell FROM r2 WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, emb AS qe, cent_id AS cell FROM r2
         |      WHERE rn <= 2 AND vec_id >= 8 AND vec_id < 18),
         |s AS (SELECT DISTINCT query_id, c2.vec_id, ${duckCos("qe", "emb")} AS c
         |  FROM q JOIN cells c2 USING (cell) WHERE c2.vec_id <> query_id),
         |rk AS (SELECT query_id, vec_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS BIGINT) AS rank FROM s)
         |SELECT query_id, vec_id AS neighbor_id, rank FROM rk WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    "ann_pq_topk" ->
      (s"""WITH $PqAdcCte,
         |r AS (SELECT query_id, vec_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY ad, vec_id) AS BIGINT) AS rank FROM d)
         |SELECT query_id, vec_id AS neighbor_id, rank FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),
    // ann_pq_rerank: ADC top-20 shortlist → exact cosine re-rank top-5
    // (fold orders match the Spark side bit-for-bit, so ranks agree).
    "ann_pq_rerank" ->
      (s"""WITH $PqAdcCte,
         |s AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY ad, vec_id) AS arank FROM d)
         |  WHERE arank <= 20),
         |x AS (SELECT s.query_id, s.vec_id, ${duckCos("qe", "emb")} AS c
         |  FROM s JOIN e ON e.vec_id = s.vec_id JOIN q ON q.query_id = s.query_id),
         |rr AS (SELECT query_id, vec_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS BIGINT) AS rank FROM x)
         |SELECT query_id, vec_id AS neighbor_id, rank FROM rr WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    "embed_centroid_update" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cent AS (SELECT vec_id AS cent_id, emb AS ce FROM e WHERE vec_id < 8),
         |a AS (SELECT e.vec_id, e.emb, cent_id, ${duckCos("emb", "ce")} AS c FROM e CROSS JOIN cent),
         |cells AS (SELECT vec_id, emb, cent_id AS cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn FROM a) WHERE rn = 1)
         |SELECT cell, COUNT(*) AS n_members,
         |  CAST(SUM(CAST(CAST(emb[1] AS DECIMAL(9,6)) * 1000000 AS BIGINT)) AS BIGINT) AS s1,
         |  CAST(SUM(CAST(CAST(emb[2] AS DECIMAL(9,6)) * 1000000 AS BIGINT)) AS BIGINT) AS s2,
         |  CAST(SUM(CAST(CAST(emb[3] AS DECIMAL(9,6)) * 1000000 AS BIGINT)) AS BIGINT) AS s3,
         |  CAST(SUM(CAST(CAST(emb[4] AS DECIMAL(9,6)) * 1000000 AS BIGINT)) AS BIGINT) AS s4
         |FROM cells GROUP BY cell ORDER BY cell""".stripMargin),
    "embed_kmeans_train" ->
      (s"""WITH ${duckKmeansCte(3)}
         |SELECT p1.cent_id, p1.n AS n_members,
         |  p1.cv AS c1, p2.cv AS c2, p3.cv AS c3, p4.cv AS c4
         |FROM centp3 p1
         |JOIN centp3 p2 ON p2.cent_id = p1.cent_id AND p2.pos = 1
         |JOIN centp3 p3 ON p3.cent_id = p1.cent_id AND p3.pos = 2
         |JOIN centp3 p4 ON p4.cent_id = p1.cent_id AND p4.pos = 3
         |WHERE p1.pos = 0 ORDER BY p1.cent_id""".stripMargin),
    "ann_ivfpq_topk" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cent AS (SELECT vec_id AS cent_id, emb AS ce FROM e WHERE vec_id < 8),
         |asg AS (SELECT e.vec_id, emb, cent_id, ${duckSqL2Full("emb", "ce")} AS d FROM e CROSS JOIN cent),
         |cells AS (SELECT vec_id, emb, cent_id AS cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cent_id) AS rn FROM asg) WHERE rn = 1),
         |wres AS (SELECT cells.vec_id, cell, list_transform(range(1, 65), i -> emb[i] - ce[i]) AS res
         |  FROM cells JOIN cent ON cent_id = cell),
         |book AS (SELECT vec_id AS code_id, res AS bce FROM wres WHERE vec_id >= 8 AND vec_id < 16),
         |sc AS (SELECT wres.vec_id, cell, code_id,
         |  ${duckSqL2("res", "bce", 1)} AS d0, ${duckSqL2("res", "bce", 17)} AS d1,
         |  ${duckSqL2("res", "bce", 33)} AS d2, ${duckSqL2("res", "bce", 49)} AS d3
         |  FROM wres CROSS JOIN book),
         |k0 AS (SELECT vec_id, cell, code_id AS c0 FROM (SELECT vec_id, cell, code_id, row_number() OVER (PARTITION BY vec_id ORDER BY d0, code_id) AS rn FROM sc) WHERE rn = 1),
         |k1 AS (SELECT vec_id, code_id AS c1 FROM (SELECT vec_id, code_id, row_number() OVER (PARTITION BY vec_id ORDER BY d1, code_id) AS rn FROM sc) WHERE rn = 1),
         |k2 AS (SELECT vec_id, code_id AS c2 FROM (SELECT vec_id, code_id, row_number() OVER (PARTITION BY vec_id ORDER BY d2, code_id) AS rn FROM sc) WHERE rn = 1),
         |k3 AS (SELECT vec_id, code_id AS c3 FROM (SELECT vec_id, code_id, row_number() OVER (PARTITION BY vec_id ORDER BY d3, code_id) AS rn FROM sc) WHERE rn = 1),
         |codes AS (SELECT vec_id, cell, c0, c1, c2, c3 FROM k0 JOIN k1 USING (vec_id) JOIN k2 USING (vec_id) JOIN k3 USING (vec_id)),
         |q AS (SELECT vec_id AS query_id, cell AS qcell, res AS qres FROM wres WHERE vec_id >= 16 AND vec_id < 26),
         |tb AS (SELECT query_id, qcell, code_id,
         |  ${duckSqL2("qres", "bce", 1)} AS t0, ${duckSqL2("qres", "bce", 17)} AS t1,
         |  ${duckSqL2("qres", "bce", 33)} AS t2, ${duckSqL2("qres", "bce", 49)} AS t3
         |  FROM q CROSS JOIN book),
         |d AS (SELECT t0q.query_id, codes.vec_id, ((t0q.t0 + t1q.t1) + t2q.t2) + t3q.t3 AS ad
         |  FROM codes
         |  JOIN tb t0q ON t0q.qcell = codes.cell AND t0q.code_id = codes.c0
         |  JOIN tb t1q ON t1q.query_id = t0q.query_id AND t1q.code_id = codes.c1
         |  JOIN tb t2q ON t2q.query_id = t0q.query_id AND t2q.code_id = codes.c2
         |  JOIN tb t3q ON t3q.query_id = t0q.query_id AND t3q.code_id = codes.c3
         |  WHERE codes.vec_id <> t0q.query_id),
         |r AS (SELECT query_id, vec_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY ad, vec_id) AS BIGINT) AS rank FROM d)
         |SELECT query_id, vec_id AS neighbor_id, rank FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),
    // §2.I
    "stream_window_agg" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events)
        |SELECT TIMESTAMP '1970-01-01 00:00:00' +
        |    INTERVAL ((CAST(floor(epoch(ts)) AS BIGINT) // 300) * 300) SECOND AS window_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_value
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |s AS (SELECT user_id, event_id, us,
        |  CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |t AS (SELECT user_id, us, SUM(new_s) OVER
        |  (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM s)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
        |  make_timestamp(MIN(us)) AS session_start, make_timestamp(MAX(us)) AS session_end
        |FROM t GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "stream_dedup" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id FROM events)
        |SELECT user_id, event_type, make_timestamp(MIN(us)) AS first_ts,
        |  MIN(event_id) AS min_event_id, COUNT(*) AS n
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "pipeline_dedup_survivors" ->
      (s"""WITH $GramsCte,
         |$SigCte,
         |bands AS (
         |  SELECT doc_id, 0 AS band_id, md5(h0 || h1) AS bk FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |j AS (SELECT doc_a, doc_b, $JaccExpr AS jacc
         |  FROM cand JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b)
         |SELECT doc_id, source FROM documents
         |WHERE doc_id NOT IN (SELECT doc_b FROM j WHERE jacc >= 0.5)
         |ORDER BY doc_id""".stripMargin),
    "stream_event_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |c AS (SELECT event_id AS click_id, user_id, us AS click_us FROM e WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id, us AS purchase_us FROM e WHERE event_type = 'purchase')
        |SELECT user_id, click_id, purchase_id,
        |  purchase_us - click_us AS lag_us
        |FROM c JOIN p USING (user_id)
        |WHERE purchase_us > click_us AND purchase_us <= click_us + 3600000000
        |ORDER BY user_id, click_id, purchase_id""".stripMargin,
    "stream_windowed_topk" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |c AS (SELECT TIMESTAMP '1970-01-01 00:00:00' +
        |    INTERVAL ((CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600) SECOND AS window_start,
        |  event_type, COUNT(*) AS n FROM e GROUP BY 1, 2),
        |r AS (SELECT window_start, event_type, n,
        |  CAST(row_number() OVER (PARTITION BY window_start ORDER BY n DESC, event_type) AS BIGINT) AS rk FROM c)
        |SELECT window_start, event_type, n, rk FROM r WHERE rk <= 3
        |ORDER BY window_start, rk""".stripMargin,
    "stream_latest_state" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |  CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_cents FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn FROM e)
        |SELECT user_id, event_id AS last_event_id, event_type AS last_type,
        |  value_cents AS last_value, us AS last_us
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "stream_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |s AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'signup' THEN us END) AS t_signup,
        |  min(CASE WHEN event_type = 'click' THEN us END) AS t_click,
        |  min(CASE WHEN event_type = 'purchase' THEN us END) AS t_purchase
        |  FROM e GROUP BY user_id)
        |SELECT COUNT(CASE WHEN t_signup IS NOT NULL THEN 1 END) AS n_signup,
        |  COUNT(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup THEN 1 END) AS n_click_after,
        |  COUNT(CASE WHEN t_signup IS NOT NULL AND t_click > t_signup AND t_purchase > t_click THEN 1 END) AS n_purchase_after
        |FROM s""".stripMargin,
    "stream_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id),
        |a AS (SELECT DISTINCT e.user_id, 1 AS retained FROM e JOIN f USING (user_id)
        |      WHERE day >= cohort_day + 7 AND day < cohort_day + 14)
        |SELECT cohort_day, COUNT(*) AS n_users, COUNT(retained) AS n_retained
        |FROM f LEFT JOIN a USING (user_id) GROUP BY cohort_day ORDER BY cohort_day""".stripMargin,
    // mm_feature_extract: the mapPartitions decode produces
    // md5/byte-derived features the oracle recomputes in SQL.
    "mm_feature_extract" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(128 + ascii(substr(md5(text), 1, 1)) AS BIGINT) AS fake_width,
        |  CAST(128 + ascii(substr(md5(text), 2, 1)) AS BIGINT) AS fake_height,
        |  CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS head_cp
        |FROM documents ORDER BY doc_id""".stripMargin,
    // §2.D (round 4): bucketed interval join — oracle is the direct
    // inequality join DuckDB plans natively.
    "q_range_join" ->
      """WITH e AS (SELECT event_id, event_type, value, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |w AS (SELECT event_id AS purchase_id, us AS lo, us + 1800000000 AS hi
        |      FROM e WHERE event_type = 'purchase' AND value >= 95),
        |c AS (SELECT event_id AS click_id, us FROM e WHERE event_type = 'click'),
        |j AS (SELECT purchase_id, COUNT(click_id) AS n_clicks
        |      FROM w LEFT JOIN c ON c.us >= w.lo AND c.us < w.hi
        |      GROUP BY purchase_id)
        |SELECT purchase_id, CAST(n_clicks AS BIGINT) AS n_clicks
        |FROM j ORDER BY purchase_id""".stripMargin,
    "q_lateral" ->
      """SELECT c_custkey, t.o_orderkey,
        |  CAST(CAST(t.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price
        |FROM customer,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |         WHERE o_custkey = c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
        |ORDER BY c_custkey""".stripMargin,
    "q_ntile" ->
      """WITH t AS (SELECT l_returnflag,
        |  CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS qty,
        |  CAST(ntile(4) OVER (PARTITION BY l_returnflag
        |    ORDER BY l_quantity, l_orderkey, l_linenumber) AS BIGINT) AS quartile
        |  FROM lineitem)
        |SELECT l_returnflag, quartile, COUNT(*) AS n,
        |  MIN(qty) AS min_qty, MAX(qty) AS max_qty
        |FROM t GROUP BY l_returnflag, quartile ORDER BY l_returnflag, quartile""".stripMargin,
    // q_bloom_join: the bloom sketch is a pre-filter only; the exact
    // semi join defines the result, so the oracle is the plain EXISTS.
    "q_bloom_join" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_orderkey = l_orderkey AND o_totalprice > 400000)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "dlp_format_preserving" ->
      """WITH t AS (SELECT c_custkey,
        |  '555-867-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS phone
        |  FROM customer)
        |SELECT c_custkey, phone,
        |  array_to_string(list_transform(range(1, length(phone) + 1), i ->
        |    CASE WHEN substr(phone, i, 1) BETWEEN '0' AND '9'
        |      THEN CAST((CAST(substr(phone, i, 1) AS INT) +
        |                 ascii(substr(md5('fpe-key' || ':' || CAST(i AS VARCHAR)), 1, 1))) % 10 AS VARCHAR)
        |      ELSE substr(phone, i, 1) END), '') AS fpe_phone
        |FROM t ORDER BY c_custkey""".stripMargin,
    "ingest_partition_pruning" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // §2.E (round 4): connected components via recursive reachability
    // (min label over everything reachable through verified near-dup
    // pairs) — an independent formulation of the same fixpoint.
    "dedup_components" ->
      (s"""WITH RECURSIVE $GramsCte,
         |$SigCte,
         |bands AS (
         |  SELECT doc_id, 0 AS band_id, md5(h0 || h1) AS bk FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |j AS (SELECT doc_a, doc_b, $JaccExpr AS jacc
         |  FROM cand JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b),
         |p AS (SELECT doc_a, doc_b FROM j WHERE jacc >= 0.5),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |      UNION ALL SELECT doc_b, doc_a FROM p),
         |reach(doc_id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.doc_id),
         |comp AS (SELECT doc_id, MIN(r) AS comp FROM reach GROUP BY doc_id),
         |sizes AS (SELECT comp, COUNT(*) AS n_members FROM comp GROUP BY comp)
         |SELECT c.doc_id, c.comp, s.n_members
         |FROM comp c JOIN sizes s USING (comp) ORDER BY doc_id""".stripMargin),
    // dedup_keep_best: highest-quality representative per near-dup
    // component (quality bp desc, doc_id tiebreak), multi-doc
    // components only.
    "dedup_keep_best" ->
      (s"""WITH RECURSIVE $GramsCte,
         |$SigCte,
         |bands AS (
         |  SELECT doc_id, 0 AS band_id, md5(h0 || h1) AS bk FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |j AS (SELECT doc_a, doc_b, $JaccExpr AS jacc
         |  FROM cand JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b),
         |p AS (SELECT doc_a, doc_b FROM j WHERE jacc >= 0.5),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |      UNION ALL SELECT doc_b, doc_a FROM p),
         |reach(doc_id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.doc_id),
         |comp AS (SELECT doc_id, MIN(r) AS comp FROM reach GROUP BY doc_id),
         |sizes AS (SELECT comp, COUNT(*) AS n_members FROM comp GROUP BY comp),
         |tq AS (SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars_m,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |  CAST(len(list_filter(string_split(text, ' '), x -> x IN ('a', 'the', 'of', 'and', 'to'))) AS BIGINT) AS n_stop
         |  FROM documents),
         |qual AS (SELECT doc_id,
         |  CAST(LEAST(n_words, 100) * 50 +
         |       (CASE WHEN n_chars_m / n_words BETWEEN 3 AND 8 THEN 3000 ELSE 900 END) +
         |       (2000 * LEAST(n_words, 5 * n_stop)) // n_words
         |  AS BIGINT) AS quality_bp FROM tq),
         |m AS (SELECT c.doc_id, c.comp, s.n_members, q.quality_bp
         |  FROM comp c JOIN sizes s USING (comp) JOIN qual q USING (doc_id)
         |  WHERE s.n_members > 1),
         |r AS (SELECT *, row_number() OVER (PARTITION BY comp ORDER BY quality_bp DESC, doc_id) AS rn FROM m)
         |SELECT comp, doc_id AS keeper, quality_bp AS keeper_bp, n_members
         |FROM r WHERE rn = 1 ORDER BY comp""".stripMargin),
    // sampling/splitting: the hash-bucket SQL is shared verbatim with
    // the Spark side (TextOps.HashBucketSql), so the oracle IS the
    // same function evaluated by a different engine.
    "sample_stratified" ->
      (s"""SELECT doc_id, source, ${TextOps.HashBucketSql} AS hash_bucket
         |FROM documents WHERE ${TextOps.HashBucketSql} < 20
         |ORDER BY doc_id""".stripMargin),
    "split_train_eval" ->
      (s"""WITH s AS (SELECT doc_id, source, ${TextOps.SplitCaseSql} AS split FROM documents)
         |SELECT source, split, COUNT(*) AS n, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
         |FROM s GROUP BY source, split ORDER BY source, split""".stripMargin),
    // §2.A/§2.C (round 4)
    // jdbc_live_extract: Spark reads rows back out of a live Derby DB
    // via a partitioned JDBC range scan; the oracle reads the same rows
    // straight from parquet — equal aggregates prove the DB round-trip.
    "jdbc_live_extract" ->
      """SELECT c_mktsegment, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_acctbal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // jdbc_live_extract_nopk: same rows round-tripped through a Derby
    // table with NO primary key (string-boundary range partitions);
    // min/max of the derived string key prove no split boundary lost
    // or duplicated a row.
    "jdbc_live_extract_nopk" ->
      """SELECT c_mktsegment, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS sum_acctbal,
        |  MIN(concat('K', lpad(CAST(c_custkey AS VARCHAR), 10, '0'))) AS min_key,
        |  MAX(concat('K', lpad(CAST(c_custkey AS VARCHAR), 10, '0'))) AS max_key
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // jdbc_type_map: DDL is fixed in the query → the discovered
    // TYPE_NAME→BQ mapping is a literal expected table.
    "jdbc_type_map" ->
      """SELECT CAST(ordinal AS BIGINT) AS ordinal, column_name, source_type, bq_type
        |FROM (VALUES
        |  (1, 'id', 'BIGINT', 'INTEGER'),
        |  (2, 'name', 'VARCHAR', 'STRING'),
        |  (3, 'note', 'CLOB', 'STRING'),
        |  (4, 'flag', 'BOOLEAN', 'BOOLEAN'),
        |  (5, 'qty', 'INTEGER', 'INTEGER'),
        |  (6, 'tiny', 'SMALLINT', 'INTEGER'),
        |  (7, 'price', 'DECIMAL', 'FLOAT'),
        |  (8, 'ratio', 'DOUBLE', 'FLOAT'),
        |  (9, 'rate', 'REAL', 'FLOAT'),
        |  (10, 'born', 'DATE', 'DATE'),
        |  (11, 'at_time', 'TIME', 'TIME'),
        |  (12, 'seen', 'TIMESTAMP', 'STRING'),
        |  (13, 'payload', 'BLOB', 'BYTES'),
        |  (14, 'thumb', 'VARCHAR () FOR BIT DATA', 'BYTES')
        |) t(ordinal, column_name, source_type, bq_type) ORDER BY ordinal""".stripMargin,
    // jdbc_pk_catalog: the DDL is fixed in the query, so the expected
    // discovery result is a literal table.
    "jdbc_pk_catalog" ->
      """SELECT * FROM (VALUES
        |  ('acct', 'id', CAST(0 AS BIGINT)),
        |  ('order_line', 'order_id,line_no', CAST(0 AS BIGINT)),
        |  ('raw_log', 'ts,msg,lvl', CAST(1 AS BIGINT))
        |) t(table_name, pk_cols, pk_inferred) ORDER BY table_name""".stripMargin,
    "reid_header_map" ->
      """WITH tok AS (SELECT c_custkey, 'TOK_' || substr(sha256('det-key:' || c_name), 1, 32) AS token FROM customer),
        |vault AS (SELECT DISTINCT 'TOK_' || substr(sha256('det-key:' || c_name), 1, 32) AS token, c_name AS plaintext FROM customer)
        |SELECT c_custkey AS customer_id, token, plaintext AS customer_name
        |FROM tok JOIN vault USING (token) ORDER BY customer_id""".stripMargin,
    // the n_rows > 0 guard keeps the oracle row-count-equal to Spark's
    // groupBy (which emits nothing for an empty source) on datasets
    // where a signature group is empty
    "reid_group_signature" ->
      """WITH s AS (
        |  SELECT 'c_custkey,c_name' AS headers, COUNT(*) AS n_rows FROM (
        |    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |    UNION ALL SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        |  UNION ALL
        |  SELECT 'o_orderkey,o_custkey,o_totalprice', COUNT(*) FROM orders)
        |SELECT md5(headers) AS signature, headers, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(ceil(n_rows / 500.0) AS BIGINT) AS n_batches
        |FROM s WHERE n_rows > 0 ORDER BY headers""".stripMargin,
    "load_retry_deadletter" ->
      """WITH t AS (SELECT event_id,
        |  try_cast(nullif(regexp_extract(props, '"k": ([0-9]+)', 1), '') AS BIGINT) AS k,
        |  substr(md5(CAST(event_id AS VARCHAR)), 1, 1) IN ('0','1','2','3') AS flaky
        |  FROM events)
        |SELECT event_id,
        |  CAST(CASE WHEN k IS NULL OR k >= 80 THEN 1 WHEN flaky THEN 2 ELSE 1 END AS BIGINT) AS attempts,
        |  CASE WHEN k IS NULL THEN 'dead_letter:malformed_props'
        |       WHEN k >= 80 THEN 'dead_letter:value_out_of_range'
        |       WHEN flaky THEN 'loaded_retry' ELSE 'loaded' END AS disposition
        |FROM t ORDER BY event_id""".stripMargin,
    "migration_jdbc_manifest" ->
      """SELECT * FROM (
        |  SELECT 'nation' AS table_name, (SELECT COUNT(*) FROM nation) AS n_rows,
        |    'n_nationkey' AS pk_col, CAST(4 AS BIGINT) AS n_splits, CAST(0 AS BIGINT) AS deid_applied
        |  UNION ALL
        |  SELECT 'supplier', (SELECT COUNT(*) FROM supplier), 's_suppkey', 4, 1
        |) ORDER BY table_name""".stripMargin,
    "source_csv_roundtrip" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "source_orc_roundtrip" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "source_json_roundtrip" ->
      """SELECT p_brand, COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    // round 8: the oracle joins the SOURCE parquet — a row lost or
    // re-keyed in the bucketed write/read path breaks the hash
    "source_bucketed_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // round 8: the oracle is the FULL recompute over raw events — the
    // hash match proves the incremental stored-state + batch merge in
    // aggUpsert is lossless
    "load_agg_upsert" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_cents,
        |  MAX(ts) AS last_ts
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "sample_weighted" ->
      (s"""SELECT doc_id, source, n_chars, priority FROM (
         |  SELECT doc_id, source, n_chars,
         |    CAST(FLOOR(CAST(${TextOps.Hash24Sql} AS DOUBLE) * 1000000 / GREATEST(n_chars, 1)) AS BIGINT) AS priority
         |  FROM documents ORDER BY priority, doc_id LIMIT 50) t
         |ORDER BY doc_id""".stripMargin),
    // round 8: deid transforms + range batching + order-insensitive
    // payload fingerprint (sorted token list) — same token/sha256
    // fragment as dlp_config_apply
    "stream_deid_pipeline" -> {
      // batch size interpolated FROM the config, like the Spark side —
      // ExampleConfig is the single source for both engines
      val batch = graft.etl.DlpConfig.parse(graft.etl.DlpConfig.ExampleConfig)
        .find(_.tableName == "customer").map(_.batchSize).getOrElse(500)
      s"""WITH deid AS (SELECT c_custkey,
         |    'TOK_' || substr(sha256('det-key:' || c_name), 1, 32) AS tok
         |  FROM customer)
         |SELECT CAST(FLOOR((c_custkey - 1) / $batch) AS BIGINT) AS batch_id,
         |  COUNT(*) AS n_rows, MIN(c_custkey) AS lo_key, MAX(c_custkey) AS hi_key,
         |  md5(array_to_string(list_sort(list(tok)), ',')) AS payload_md5
         |FROM deid GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // round 8: DuckDB list slice ws[a:b] is 1-based inclusive =
    // Spark slice(ws, a, 8); range(0,16) covers the ≤100-word docs
    "dedup_paragraph" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |seg AS (SELECT doc_id, md5(array_to_string(ws[i*8+1 : i*8+8], ' ')) AS h
        |  FROM w, (SELECT unnest(range(0, 16)) AS i) g
        |  WHERE len(ws) >= (i+1)*8)
        |SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  COUNT(*) AS n_occ, MIN(doc_id) AS min_doc
        |FROM seg GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1
        |ORDER BY h""".stripMargin,
    // round 10: character-granularity exact-substring dedup — 64-char
    // windows anchored where md5 of the 8-gram ends in '0' (winnowing-
    // style content-defined anchors, alignment-invariant); window texts
    // in >1 doc mark their anchors, overlapping windows merge to spans
    "dedup_substring" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS len FROM documents WHERE length(text) >= 64),
        |pos AS (SELECT doc_id, unnest(generate_series(1, len - 63)) AS o, text FROM d),
        |a AS (SELECT doc_id, o, md5(substr(text, o, 64)) AS h FROM pos
        |  WHERE substr(md5(substr(text, o, 8)), 32, 1) = '0'),
        |dup AS (SELECT h FROM a GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1),
        |f AS (SELECT doc_id, o,
        |    MAX(o + 63) OVER (PARTITION BY doc_id ORDER BY o
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM a WHERE h IN (SELECT h FROM dup)),
        |g AS (SELECT doc_id, o,
        |    SUM(CASE WHEN prev_end IS NULL OR o > prev_end + 1 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY o) AS grp
        |  FROM f)
        |SELECT doc_id, CAST(MIN(o) AS BIGINT) AS span_start,
        |  CAST(MAX(o) + 64 - MIN(o) AS BIGINT) AS span_chars,
        |  COUNT(*) AS n_windows
        |FROM g GROUP BY doc_id, grp
        |ORDER BY doc_id, span_start""".stripMargin,
    // round 8: bit-interleave in portable integer ops; DuckDB's
    // date_part('day', ...) = Spark's dayofmonth
    "layout_zorder" ->
      """WITH dims AS (
        |  SELECT o_custkey % 16 AS cb,
        |    CAST(date_part('day', o_orderdate) - 1 AS BIGINT) % 16 AS db
        |  FROM orders),
        |z AS (
        |  SELECT cb, db,
        |    ((cb >> 0) & 1) * 2   + ((db >> 0) & 1) * 1 +
        |    ((cb >> 1) & 1) * 8   + ((db >> 1) & 1) * 4 +
        |    ((cb >> 2) & 1) * 32  + ((db >> 2) & 1) * 16 +
        |    ((cb >> 3) & 1) * 128 + ((db >> 3) & 1) * 64 AS zkey
        |  FROM dims)
        |SELECT CAST(zkey >> 4 AS BIGINT) AS zbucket, COUNT(*) AS n,
        |  MIN(cb) AS cb_min, MAX(cb) AS cb_max,
        |  MIN(db) AS db_min, MAX(db) AS db_max
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,
    // §2.G (round 7): sliding token-window chunks — 32-token window,
    // stride 24; DuckDB list slice w[a:b] is 1-based inclusive =
    // Spark slice(w, a, 32)
    "text_chunking" ->
      """WITH doc AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |n AS (SELECT doc_id, w,
        |  CASE WHEN len(w) <= 32 THEN 1 ELSE 1 + (len(w) - 32 + 23) // 24 END AS nchunks FROM doc),
        |c AS (SELECT doc_id, w, unnest(range(1, nchunks + 1)) AS chunk_idx FROM n)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST((chunk_idx - 1) * 24 + 1 AS BIGINT) AS start_tok,
        |  CAST(len(w[(chunk_idx - 1) * 24 + 1 : (chunk_idx - 1) * 24 + 32]) AS BIGINT) AS n_tok,
        |  array_to_string(w[(chunk_idx - 1) * 24 + 1 : (chunk_idx - 1) * 24 + 32], ' ') AS chunk
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "text_ngram_coverage" ->
      """WITH g AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(w) - 1, 1) + 1),
        |    i -> concat_ws(' ', w[i], w[i+1]))) AS gram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
        |top AS (SELECT gram FROM
        |  (SELECT gram, COUNT(*) AS n FROM g GROUP BY gram ORDER BY n DESC, gram LIMIT 50))
        |SELECT doc_id, COUNT(*) AS n_grams,
        |  CAST(SUM(CASE WHEN t.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_top,
        |  CAST(SUM(CASE WHEN t.gram IS NOT NULL THEN 1 ELSE 0 END) * 10000
        |    // COUNT(*) AS BIGINT) AS coverage_bp
        |FROM g LEFT JOIN top t USING (gram) GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_tfidf" ->
      """WITH wds AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM wds GROUP BY doc_id, word),
        |dfx AS (SELECT word, COUNT(*) AS df_docs FROM tf GROUP BY word),
        |s AS (SELECT doc_id, word, tf, df_docs, tf * 1000000 // df_docs AS score_u
        |  FROM tf JOIN dfx USING (word)),
        |r AS (SELECT *, CAST(row_number() OVER
        |  (PARTITION BY doc_id ORDER BY score_u DESC, word) AS BIGINT) AS rank FROM s)
        |SELECT doc_id, word, tf, df_docs, CAST(score_u AS BIGINT) AS score_u, rank
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // §2.F (round 7)
    "ann_lsh_topk" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |eb AS (SELECT vec_id, emb,
         |  (CASE WHEN emb[1] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[2] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN emb[3] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[4] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN emb[5] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[6] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN emb[7] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[8] >= 0 THEN '1' ELSE '0' END) AS bucket FROM e),
         |q AS (SELECT vec_id AS query_id, emb AS qe, bucket FROM eb WHERE vec_id >= 8 AND vec_id < 18),
         |s AS (SELECT query_id, eb.vec_id, ${duckCos("qe", "emb")} AS c
         |  FROM q JOIN eb USING (bucket) WHERE eb.vec_id <> query_id),
         |r AS (SELECT query_id, vec_id, CAST(row_number() OVER
         |  (PARTITION BY query_id ORDER BY c DESC, vec_id) AS BIGINT) AS rank FROM s)
         |SELECT query_id, vec_id AS neighbor_id, rank FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin),
    // int8 quantization replayed in the same integer micro-unit space:
    // the shifted division keeps every dividend positive, so DuckDB's
    // // and Spark's DIV agree exactly
    "embed_quantize_int8" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |x AS (SELECT vec_id,
        |  list_transform(emb, v -> CAST(FLOOR(v * 1000000) AS BIGINT)) AS xq FROM e),
        |m AS (SELECT vec_id, xq,
        |  list_aggregate(list_transform(xq, v -> abs(v)), 'max') AS s FROM x),
        |q AS (SELECT vec_id, xq, s,
        |  CASE WHEN s = 0 THEN list_transform(xq, v -> CAST(0 AS BIGINT))
        |       ELSE list_transform(xq, v -> (254 * v + 257 * s) // (2 * s) - 128) END AS qc
        |  FROM m)
        |SELECT vec_id, CAST(s AS BIGINT) AS scale_u,
        |  CAST(qc[1] AS BIGINT) AS q1, CAST(qc[2] AS BIGINT) AS q2,
        |  CAST(qc[3] AS BIGINT) AS q3, CAST(qc[4] AS BIGINT) AS q4,
        |  CAST(list_reduce(list_transform(range(1, len(xq) + 1),
        |    i -> abs(127 * xq[i] - qc[i] * s)), (acc, v) -> acc + v) AS BIGINT) AS err_u
        |FROM q ORDER BY vec_id""".stripMargin,
    // conjunctive keyword retrieval over the tf/df statistics
    "text_search_rank" ->
      """WITH wds AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM wds GROUP BY doc_id, word),
        |dfx AS (SELECT word, COUNT(*) AS df_docs FROM tf GROUP BY word),
        |s AS (SELECT doc_id, tf * 1000000 // df_docs AS score_u
        |  FROM tf JOIN dfx USING (word) WHERE word IN ('spark', 'table')),
        |m AS (SELECT doc_id, SUM(score_u) AS score FROM s GROUP BY doc_id HAVING COUNT(*) = 2)
        |SELECT doc_id, CAST(score AS BIGINT) AS score_u
        |FROM m ORDER BY score_u DESC, doc_id LIMIT 20""".stripMargin,
    // late-data audit: per-key high-water-mark replay in arrival
    // (event_id) order — 10-minute tolerance in microseconds
    "stream_late_audit" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |h AS (SELECT event_type, us,
        |  MAX(us) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm FROM e)
        |SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN hwm IS NOT NULL AND us < hwm - 600000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  CAST(SUM(CASE WHEN hwm IS NOT NULL AND us < hwm - 600000000 THEN 1 ELSE 0 END) * 10000
        |    // COUNT(*) AS BIGINT) AS late_bp,
        |  CAST(MAX(CASE WHEN hwm IS NULL THEN 0 ELSE GREATEST(hwm - us, 0) END) AS BIGINT) AS max_skew_us,
        |  CAST(MAX(CASE WHEN hwm IS NULL THEN 0 ELSE GREATEST(us - hwm, 0) END) AS BIGINT) AS max_jump_us
        |FROM h GROUP BY event_type ORDER BY event_type""".stripMargin,
    "dlp_time_extract" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |  CAST(month(o_orderdate) AS BIGINT) AS order_month
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // recall@5 of the IVF index vs exact brute-force ground truth
    "ann_recall_eval" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cent AS (SELECT vec_id AS cent_id, emb AS ce FROM e WHERE vec_id < 8),
         |a AS (SELECT e.vec_id, e.emb, cent_id, ${duckCos("emb", "ce")} AS c FROM e CROSS JOIN cent),
         |cells AS (SELECT vec_id, emb, cent_id AS cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn FROM a) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, emb AS qe, cell FROM cells WHERE vec_id >= 8 AND vec_id < 18),
         |s AS (SELECT query_id, c2.vec_id, ${duckCos("qe", "emb")} AS c
         |  FROM q JOIN cells c2 USING (cell) WHERE c2.vec_id <> query_id),
         |r AS (SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rank FROM s),
         |ivf AS (SELECT query_id, vec_id AS neighbor_id, 1 AS hit FROM r WHERE rank <= 5),
         |qx AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id >= 8 AND vec_id < 18),
         |sx AS (SELECT query_id, e2.vec_id, ${duckCos("qe", "emb")} AS c
         |  FROM qx JOIN e e2 ON e2.vec_id <> query_id),
         |rx AS (SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rank FROM sx),
         |ex AS (SELECT query_id, vec_id AS neighbor_id FROM rx WHERE rank <= 5)
         |SELECT ex.query_id, COUNT(*) AS n_exact,
         |  CAST(SUM(CASE WHEN i.hit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  CAST(SUM(CASE WHEN i.hit IS NOT NULL THEN 1 ELSE 0 END) * 10000
         |    // COUNT(*) AS BIGINT) AS recall_bp
         |FROM ex LEFT JOIN ivf i ON i.query_id = ex.query_id AND i.neighbor_id = ex.neighbor_id
         |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin),
    // §2.E (round 7): components over the embedding-cosine pair graph
    "dedup_semantic_cluster" ->
      (s"""WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |eb AS (SELECT vec_id, emb,
         |  (CASE WHEN emb[1] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[2] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN emb[3] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[4] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN emb[5] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[6] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN emb[7] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[8] >= 0 THEN '1' ELSE '0' END) AS bucket FROM e),
         |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE ROUND(${duckCos("a.emb", "b.emb")}, 4) >= 0.35),
         |ed AS (SELECT vec_a AS src, vec_b AS dst FROM p
         |       UNION ALL SELECT vec_b, vec_a FROM p),
         |reach(vec_id, r) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT ed.dst, reach.r FROM reach JOIN ed ON ed.src = reach.vec_id),
         |comp AS (SELECT vec_id, MIN(r) AS cluster FROM reach GROUP BY vec_id),
         |sizes AS (SELECT cluster, COUNT(*) AS n_members FROM comp GROUP BY cluster)
         |SELECT c.vec_id, c.cluster, s.n_members
         |FROM comp c JOIN sizes s USING (cluster) ORDER BY vec_id""".stripMargin),
    // round 8 (cont): unigram-LM scoring — integer counts, total
    // tie-break at the LIMIT boundary; SUM casts back to BIGINT
    // (DuckDB sum(int) is HUGEINT)
    "text_lm_score" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |cnt AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY word),
        |lm AS (SELECT word, n FROM cnt ORDER BY n DESC, word LIMIT 20)
        |SELECT t.doc_id, COUNT(*) AS n_tokens, COUNT(lm.n) AS lm_hits,
        |  CAST(SUM(COALESCE(lm.n, 0)) AS BIGINT) AS score_sum,
        |  CAST(SUM(COALESCE(lm.n, 0)) // COUNT(*) AS BIGINT) AS score_avg
        |FROM toks t LEFT JOIN lm ON t.word = lm.word
        |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    // round 8 (cont): per-bucket checksum reconcile — the row hash is
    // the SAME SQL text the Spark side evaluates (the shared
    // OrdersRowHashSql val), so the checksums agree bit-for-bit
    "ingest_checksum_reconcile" -> {
      val rowHash = SourceQueries.OrdersRowHashSql
      s"""WITH src AS (SELECT o_orderkey % 97 AS bucket, COUNT(*) AS n,
         |    CAST(SUM($rowHash) AS BIGINT) AS s
         |  FROM orders GROUP BY 1),
         |dst AS (SELECT o_orderkey % 97 AS bucket, COUNT(*) AS n,
         |    CAST(SUM($rowHash) AS BIGINT) AS s
         |  FROM orders WHERE o_orderkey % 509 <> 0 GROUP BY 1)
         |SELECT COALESCE(src.bucket, dst.bucket) AS bucket,
         |  COALESCE(src.n, 0) AS n_src, COALESCE(dst.n, 0) AS n_dst,
         |  CAST(CASE WHEN COALESCE(src.n, 0) = COALESCE(dst.n, 0)
         |    AND COALESCE(src.s, 0) = COALESCE(dst.s, 0)
         |    THEN 1 ELSE 0 END AS BIGINT) AS ok
         |FROM src FULL OUTER JOIN dst ON src.bucket = dst.bucket
         |ORDER BY bucket""".stripMargin
    },
    // round 8 (cont): CDC apply — row_number over seq DESC is the
    // oracle's form of the Spark side's max_by struct compaction
    "load_cdc_apply" ->
      """WITH snap AS (SELECT c_custkey AS k,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS snap_cents
        |  FROM customer),
        |lg AS (SELECT (event_id % 1800) + 1 AS k, event_id AS seq,
        |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cdc_cents
        |  FROM events),
        |lst AS (SELECT k, op, cdc_cents FROM (
        |    SELECT k, op, cdc_cents,
        |      row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn FROM lg) t
        |  WHERE rn = 1)
        |SELECT COALESCE(snap.k, lst.k) AS k,
        |  CASE WHEN lst.op = 'U' THEN 'cdc' ELSE 'snapshot' END AS src,
        |  CASE WHEN lst.op = 'U' THEN lst.cdc_cents ELSE snap.snap_cents END AS val_cents
        |FROM snap FULL OUTER JOIN lst ON snap.k = lst.k
        |WHERE COALESCE(lst.op, 'U') <> 'D'
        |ORDER BY k""".stripMargin,
    // round 8 (cont): ±1 random projection in integer space — the
    // sign is md5 parity of (i*8+j), identical text both engines;
    // unnest+SUM replaces list_reduce (version-fragile, the r7
    // kmeans lesson)
    "embed_random_projection" -> {
      val pivot = (0 until 8)
        .map(j => s"MAX(CASE WHEN j = $j THEN p END) AS p$j").mkString(",\n  ")
      s"""WITH q AS (SELECT vec_id,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> CAST(FLOOR(x * 1000000) AS BIGINT)) AS xq
         |  FROM embeddings),
         |cells AS (SELECT vec_id, i, xq[CAST(i + 1 AS INTEGER)] AS v
         |  FROM q, (SELECT unnest(range(0, 64)) AS i) g),
         |proj AS (SELECT vec_id, j,
         |    CAST(SUM(v * (CASE WHEN ascii(substring(md5(CAST(i * 8 + j AS STRING)), 1, 1)) % 2 = 0
         |      THEN 1 ELSE -1 END)) AS BIGINT) AS p
         |  FROM cells, (SELECT unnest(range(0, 8)) AS j) h
         |  GROUP BY vec_id, j)
         |SELECT vec_id,
         |  $pivot
         |FROM proj GROUP BY vec_id ORDER BY vec_id""".stripMargin
    },
    // round 8 (cont): rate-spike detection — lag-sum trailing window
    // (nulls propagate through +, so <4 priors filters itself);
    // integer compare n*4 > 3*trail, same epoch-bucket idiom as
    // stream_window_agg
    "stream_rate_anomaly" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |w AS (SELECT TIMESTAMP '1970-01-01 00:00:00' +
        |    INTERVAL ((CAST(floor(epoch(ts)) AS BIGINT) // 900) * 900) SECOND AS ws,
        |  event_type FROM e),
        |c AS (SELECT ws, event_type, COUNT(*) AS n FROM w GROUP BY 1, 2),
        |t AS (SELECT event_type, ws, n,
        |    lag(n, 1) OVER (PARTITION BY event_type ORDER BY ws) +
        |    lag(n, 2) OVER (PARTITION BY event_type ORDER BY ws) +
        |    lag(n, 3) OVER (PARTITION BY event_type ORDER BY ws) +
        |    lag(n, 4) OVER (PARTITION BY event_type ORDER BY ws) AS trail
        |  FROM c)
        |SELECT event_type, ws, n, trail,
        |  CAST(CASE WHEN n * 4 > 3 * trail THEN 1 ELSE 0 END AS BIGINT) AS anomaly
        |FROM t WHERE trail IS NOT NULL ORDER BY event_type, ws""".stripMargin,
    // round 9: batch REPLAYS of the streaming state machines. The
    // sessionize replay emits only CLOSED sessions (each user's final
    // session stays open in flatMapGroupsWithState state), so the
    // oracle is the islands SQL minus every user's last session; all
    // timestamps stay BIGINT micros (the portable compare contract).
    "stream_sessionize_replay" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |s AS (SELECT user_id, event_id, us,
        |  CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |t AS (SELECT user_id, us, SUM(new_s) OVER
        |  (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id FROM s),
        |g AS (SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
        |  MIN(us) AS start_us, MAX(us) AS end_us FROM t GROUP BY 1, 2),
        |m AS (SELECT user_id, MAX(session_id) AS last_s FROM g GROUP BY 1)
        |SELECT g.user_id, g.session_id, g.n_events, g.start_us, g.end_us
        |FROM g JOIN m ON g.user_id = m.user_id AND g.session_id < m.last_s
        |ORDER BY g.user_id, g.session_id""".stripMargin,
    "stream_latest_state_replay" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn FROM e)
        |SELECT user_id, event_id AS last_event_id FROM r WHERE rn = 1
        |ORDER BY user_id""".stripMargin,
    "stream_rate_anomaly_replay" ->
      """WITH e AS (SELECT event_type,
        |  (CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 900) * 900 * 1000000 AS ws_us FROM events),
        |c AS (SELECT event_type, ws_us, COUNT(*) AS n FROM e GROUP BY 1, 2),
        |t AS (SELECT event_type, ws_us, n,
        |    lag(n, 1) OVER (PARTITION BY event_type ORDER BY ws_us) +
        |    lag(n, 2) OVER (PARTITION BY event_type ORDER BY ws_us) +
        |    lag(n, 3) OVER (PARTITION BY event_type ORDER BY ws_us) +
        |    lag(n, 4) OVER (PARTITION BY event_type ORDER BY ws_us) AS trail
        |  FROM c)
        |SELECT event_type, ws_us, n, CAST(trail AS BIGINT) AS trail,
        |  CAST(CASE WHEN n * 4 > 3 * trail THEN 1 ELSE 0 END AS BIGINT) AS anomaly
        |FROM t WHERE trail IS NOT NULL ORDER BY event_type, ws_us""".stripMargin,
    // round 8 (cont): fuzzy record linkage — canonicalize → token
    // blocking (df-capped at 64, mirroring Dedup.fuzzyLink's blocking
    // bound) → levenshtein verify; both engines implement standard
    // unit-cost edit distance
    "dedup_fuzzy_link" ->
      """WITH names AS (SELECT DISTINCT p_name FROM part),
        |toks AS (SELECT p_name, unnest(string_split(p_name, ' ')) AS tok FROM names),
        |dftab AS (SELECT tok FROM toks GROUP BY tok HAVING COUNT(*) <= 64),
        |tcap AS (SELECT t.p_name, t.tok FROM toks t JOIN dftab d ON t.tok = d.tok),
        |cand AS (SELECT DISTINCT a.p_name AS name_a, b.p_name AS name_b
        |  FROM tcap a JOIN tcap b ON a.tok = b.tok AND a.p_name < b.p_name),
        |d AS (SELECT name_a, name_b,
        |  CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist FROM cand)
        |SELECT name_a, name_b, dist FROM d WHERE dist <= 3
        |ORDER BY name_a, name_b""".stripMargin,
    // round 8 (cont): the full funnel — composed from the SAME proven
    // fragments as its standalone stages (pairs/bands from the dedup
    // oracles, gate from pipeline_quality_gate, split/token count
    // from the shared portable fragments)
    "pipeline_training_mix" ->
      (s"""WITH $GramsCte,
         |$SigCte,
         |bands AS (
         |  SELECT doc_id, 0 AS band_id, md5(h0 || h1) AS bk FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |p AS (SELECT doc_a, doc_b FROM (SELECT doc_a, doc_b, $JaccExpr AS jacc
         |  FROM cand JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b) WHERE jacc >= 0.5),
         |und AS (SELECT doc_a AS doc_id, doc_b AS nbr FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p),
         |s AS (SELECT doc_id, ${TextOps.SplitCaseSql} AS split FROM documents),
         |contaminated AS (SELECT DISTINCT u.doc_id FROM und u
         |  JOIN s ON s.doc_id = u.doc_id AND s.split <> 'train'
         |  JOIN s t ON t.doc_id = u.nbr AND t.split = 'train'),
         |tw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |q AS (SELECT doc_id,
         |  CAST(len(w) AS BIGINT) AS n_words,
         |  ${TextOps.LangMarkers.map { case (_, ws) => langHits(ws) }.mkString(" + ")} AS marker_hits,
         |  CAST((len(w) - len(list_distinct(w))) * 10000 // len(w) AS BIGINT) AS dup_word_bp
         |FROM tw),
         |ok AS (SELECT doc_id FROM q
         |  WHERE n_words >= 5 AND marker_hits <> 0 AND dup_word_bp <= 3000)
         |SELECT d.source, s.split, COUNT(*) AS n_docs,
         |  CAST(SUM(q.n_words) AS BIGINT) AS total_tokens
         |FROM documents d
         |JOIN s ON s.doc_id = d.doc_id
         |JOIN q ON q.doc_id = d.doc_id
         |JOIN ok ON ok.doc_id = d.doc_id
         |WHERE d.doc_id NOT IN (SELECT doc_b FROM p)
         |  AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
         |GROUP BY d.source, s.split ORDER BY d.source, s.split""".stripMargin),
    // round 8 (cont): binaryFile ingest — the oracle recomputes each
    // staged file's size and md5 from the source-of-truth table, so a
    // lost/truncated/mis-keyed payload file fails the hash
    "mm_binary_ingest" ->
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  md5(text) AS payload_md5
        |FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin,
    // round 9: ordered funnel match — three chained running-min
    // windows over ONE (us, event_id) order; strictly-after = the
    // PRECEDING-rows frame, identical text on both engines
    "q_sequence_match" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
        |  FROM events WHERE user_id IS NOT NULL AND event_type IN ('signup', 'click', 'purchase')),
        |s1 AS (SELECT *, CASE WHEN event_type = 'signup' THEN us END AS s_q FROM e),
        |s2 AS (SELECT *, MIN(s_q) OVER w AS s_prev FROM s1
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |s3 AS (SELECT *, CASE WHEN event_type = 'click' AND s_prev IS NOT NULL THEN us END AS c_q FROM s2),
        |s4 AS (SELECT *, MIN(c_q) OVER w AS c_prev FROM s3
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |s5 AS (SELECT *, CASE WHEN event_type = 'purchase' AND c_prev IS NOT NULL THEN us END AS p_q FROM s4)
        |SELECT user_id, MIN(s_q) AS signup_us, MIN(c_q) AS click_us, MIN(p_q) AS purchase_us,
        |  CAST(CASE WHEN MIN(p_q) IS NOT NULL THEN 3 WHEN MIN(c_q) IS NOT NULL THEN 2
        |            WHEN MIN(s_q) IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
        |FROM s5 GROUP BY user_id ORDER BY user_id""".stripMargin,
    // layout_compaction_plan: cumulative-byte next-fit packing at a
    // 64 KiB target; `//` (DuckDB) = DIV (Spark) on non-negative longs
    "layout_compaction_plan" ->
      """WITH f AS (SELECT
        |  CAST(date_part('year', l_shipdate) * 10000 + date_part('month', l_shipdate) * 100
        |    + date_part('day', l_shipdate) AS BIGINT) AS file_key,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(len(l_returnflag) + len(l_linestatus)) + COUNT(*) * 64 AS BIGINT) AS bytes
        |  FROM lineitem GROUP BY 1),
        |c AS (SELECT *, COALESCE(CAST(SUM(bytes) OVER
        |  (ORDER BY file_key ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before FROM f)
        |SELECT file_key, n_rows, bytes,
        |  cum_before // 65536 AS bin_id, cum_before % 65536 AS bin_offset
        |FROM c ORDER BY file_key""".stripMargin,
    // text_bpe_pairs: vocabulary-weighted adjacent char pairs;
    // word[i:i+1] (1-based inclusive slice) = substring(word, i, 2)
    "text_bpe_pairs" ->
      """WITH v AS (SELECT word, COUNT(*) AS n FROM
        |  (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE len(word) >= 2 GROUP BY word),
        |p AS (SELECT n, unnest(list_transform(range(1, len(word)), i -> word[i:i+1])) AS pair FROM v)
        |SELECT pair, CAST(SUM(n) AS BIGINT) AS weight FROM p GROUP BY pair
        |ORDER BY weight DESC, pair LIMIT 50""".stripMargin,
    // text_length_outliers: exact integer lower-median + MAD per
    // source, rank-selected under a (value, doc_id) total order
    "text_length_outliers" ->
      """WITH d AS (SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS len FROM documents),
        |r1 AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY len, doc_id) AS rn,
        |  COUNT(*) OVER (PARTITION BY source) AS n_src FROM d),
        |m1 AS (SELECT *, MAX(CASE WHEN rn = (n_src + 1) // 2 THEN len END)
        |  OVER (PARTITION BY source) AS med FROM r1),
        |a AS (SELECT doc_id, source, len, med, ABS(len - med) AS adev FROM m1),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY adev, doc_id) AS rn2,
        |  COUNT(*) OVER (PARTITION BY source) AS n2 FROM a),
        |m2 AS (SELECT *, MAX(CASE WHEN rn2 = (n2 + 1) // 2 THEN adev END)
        |  OVER (PARTITION BY source) AS mad FROM r2)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(MIN(med) AS BIGINT) AS med_len, CAST(MIN(mad) AS BIGINT) AS mad_len,
        |  CAST(SUM(CASE WHEN adev >= 3 * GREATEST(mad, 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST(SUM(CASE WHEN adev >= 3 * GREATEST(mad, 1) THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT) AS outlier_bp
        |FROM m2 GROUP BY source ORDER BY source""".stripMargin,
    // pipeline_mix_weights: temperature-0.5 allocation over the gated
    // supply, BILLED in iterated-ledger tokenizer tokens (alpha words
    // via tokw, non-alpha 1 each); FLOOR(SQRT(x)) is engine-exact
    // (correctly-rounded IEEE sqrt, x < 2^53), everything else integer
    "pipeline_mix_weights" ->
      (BpeChainCte + s""",
         |tw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |q AS (SELECT doc_id,
         |  CAST(len(w) AS BIGINT) AS n_words,
         |  ${TextOps.LangMarkers.map { case (_, ws) => langHits(ws) }.mkString(" + ")} AS marker_hits,
         |  CAST((len(w) - len(list_distinct(w))) * 10000 // len(w) AS BIGINT) AS dup_word_bp
         |FROM tw),
         |ok AS (SELECT doc_id, n_words FROM q
         |  WHERE n_words >= 5 AND marker_hits <> 0 AND dup_word_bp <= 3000),
         |dw AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS word FROM documents),
         |av AS (SELECT dw.source, CAST(SUM(COALESCE(tokw.n_tok, 1)) AS BIGINT) AS avail_tokens
         |  FROM dw JOIN ok ON ok.doc_id = dw.doc_id
         |  LEFT JOIN tokw ON tokw.word = dw.word GROUP BY dw.source),
         |ww AS (SELECT source, avail_tokens,
         |  CAST(FLOOR(SQRT(CAST(avail_tokens AS DOUBLE))) AS BIGINT) AS weight FROM av),
         |t AS (SELECT *, CAST(SUM(avail_tokens) OVER () AS BIGINT) AS tot_tokens,
         |  CAST(SUM(weight) OVER () AS BIGINT) AS tot_weight FROM ww),
         |al AS (SELECT source, avail_tokens, weight,
         |  (tot_tokens // 2) * weight // tot_weight AS alloc_tokens FROM t)
         |SELECT source, avail_tokens, weight, CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
         |  CAST(alloc_tokens * 10000 // avail_tokens AS BIGINT) AS epochs_bp
         |FROM al ORDER BY source""".stripMargin),
    // embed_matryoshka_eval: recall@5 of first-16-dim cosine vs the
    // full-dimension exact top-5; the sliced fold matches
    // Ann.cosineSim on 16 elements bit-for-bit (same left fold)
    "embed_matryoshka_eval" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |q AS (SELECT vec_id AS query_id, emb AS qe, emb[1:16] AS qt FROM e WHERE vec_id >= 8 AND vec_id < 18),
         |x AS (SELECT query_id, vec_id, ${duckCos("qe", "emb")} AS c
         |  FROM e CROSS JOIN q WHERE vec_id <> query_id),
         |ex AS (SELECT query_id, vec_id FROM
         |  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rk FROM x) WHERE rk <= 5),
         |e2 AS (SELECT vec_id, emb[1:16] AS et FROM e),
         |t AS (SELECT query_id, vec_id, ${duckCos("qt", "et")} AS ct
         |  FROM e2 CROSS JOIN q WHERE vec_id <> query_id),
         |tr AS (SELECT query_id, vec_id FROM
         |  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ct DESC, vec_id) AS rk FROM t) WHERE rk <= 5)
         |SELECT ex.query_id, COUNT(*) AS n_exact,
         |  CAST(SUM(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  CAST(SUM(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT) AS recall_bp
         |FROM ex LEFT JOIN tr ON tr.query_id = ex.query_id AND tr.vec_id = ex.vec_id
         |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin),
    // q_skyline: the oracle is the DEFINITION (quadratic NOT EXISTS
    // dominance); the Spark side is the two-phase linear window
    // decomposition — the hash match proves the decomposition exact
    "q_skyline" ->
      """WITH o AS (SELECT o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c,
        |  epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS date_us FROM orders)
        |SELECT o_orderkey, price_c, date_us FROM o b
        |WHERE NOT EXISTS (SELECT 1 FROM o a WHERE
        |  (a.price_c < b.price_c AND a.date_us >= b.date_us) OR
        |  (a.price_c <= b.price_c AND a.date_us > b.date_us))
        |ORDER BY price_c, o_orderkey""".stripMargin,
    // ingest_snapshot_diff: v2 reconstructed from the same snapshot by
    // the identical deterministic rule, then full-outer diff on PK
    "ingest_snapshot_diff" ->
      """WITH base AS (SELECT o_orderkey AS k, o_custkey, o_orderstatus,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c FROM orders),
        |v2 AS (SELECT k, o_custkey, o_orderstatus,
        |    CASE WHEN k % 89 = 0 THEN price_c + 100 ELSE price_c END AS price_c
        |  FROM base WHERE k % 97 <> 0
        |  UNION ALL SELECT k + 100000000, o_custkey, o_orderstatus, price_c
        |  FROM base WHERE k % 83 = 0),
        |j AS (SELECT b.k AS k1, b.o_custkey AS ck1, b.o_orderstatus AS st1, b.price_c AS p1,
        |    v2.k AS k2, v2.o_custkey AS ck2, v2.o_orderstatus AS st2, v2.price_c AS p2
        |  FROM base b FULL OUTER JOIN v2 ON v2.k = b.k)
        |SELECT COALESCE(k1, k2) AS order_key,
        |  CASE WHEN k1 IS NULL THEN 'added'
        |       WHEN k2 IS NULL THEN 'removed'
        |       WHEN ck1 <> ck2 OR st1 <> st2 OR p1 <> p2 THEN 'changed'
        |       ELSE 'same' END AS diff_type,
        |  p1 AS v1_price_c, p2 AS v2_price_c
        |FROM j WHERE (CASE WHEN k1 IS NULL THEN 'added'
        |       WHEN k2 IS NULL THEN 'removed'
        |       WHEN ck1 <> ck2 OR st1 <> st2 OR p1 <> p2 THEN 'changed'
        |       ELSE 'same' END) <> 'same'
        |ORDER BY order_key""".stripMargin,
    // embed_dim_stats: per-dimension micro-unit stats; the floor-mean
    // offset keeps DIV (trunc) and // (floor) in agreement
    "embed_dim_stats" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |d AS (SELECT CAST(i AS BIGINT) AS dim,
        |    CAST(CAST(emb[i] AS DECIMAL(9,6)) * 1000000 AS BIGINT) AS vu
        |  FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t),
        |a AS (SELECT dim, COUNT(*) AS n_vecs, CAST(SUM(vu) AS BIGINT) AS sum_u,
        |    CAST(MIN(vu) AS BIGINT) AS min_u, CAST(MAX(vu) AS BIGINT) AS max_u
        |  FROM d GROUP BY dim)
        |SELECT dim, n_vecs, sum_u,
        |  (sum_u + n_vecs * 1000000) // n_vecs - 1000000 AS mean_u,
        |  min_u, max_u, max_u - min_u AS range_u
        |FROM a ORDER BY dim""".stripMargin,
    // sample_group_topk: fixed-k hash-priority sample per source over
    // the shared portable 24-bit key hash
    "sample_group_topk" ->
      (s"""WITH h AS (SELECT doc_id, source, ${TextOps.Hash24Sql} AS h FROM documents),
         |r AS (SELECT *, CAST(row_number() OVER
         |  (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS rk FROM h)
         |SELECT doc_id, source, h, rk FROM r WHERE rk <= 5
         |ORDER BY source, rk""".stripMargin),
    // text_bm25: integer Okapi BM25 — k1=1.2, b=0.75 cleared to the
    // rational form 22·A·tf / (10·A·tf + 3·A + 9·dl_m); identical
    // formula text on both engines, everything non-negative
    "text_bm25" ->
      """WITH dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
        |s AS (SELECT CAST(SUM(dl) * 1000 // COUNT(*) AS BIGINT) AS a FROM dl),
        |tf AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM
        |  (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE word IN ('spark', 'table') GROUP BY doc_id, word),
        |dfx AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df_docs FROM tf GROUP BY word),
        |sc AS (SELECT tf.doc_id,
        |  (1000000 // df_docs) * 22 * a * tf // (10 * a * tf + 3 * a + 9 * dl.dl * 1000) AS score_t
        |  FROM tf JOIN dfx USING (word) JOIN dl ON dl.doc_id = tf.doc_id CROSS JOIN s)
        |SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(score_t) AS BIGINT) AS score_u
        |FROM sc GROUP BY doc_id ORDER BY score_u DESC, doc_id LIMIT 20""".stripMargin,
    // dedup_lsh_tuning: the three banding configs replayed over the
    // same signature CTE; per config candidates, verified, precision
    "dedup_lsh_tuning" ->
      (s"""WITH $GramsCte,
         |$SigCte,
         |b1 AS (${(0 until 8).map(b => s"SELECT doc_id, $b AS band_id, md5(concat(h$b)) AS bk FROM sig").mkString(" UNION ALL ")}),
         |b2 AS (${(0 until 4).map(b => s"SELECT doc_id, $b AS band_id, md5(concat(h${2 * b}, h${2 * b + 1})) AS bk FROM sig").mkString(" UNION ALL ")}),
         |b4 AS (${(0 until 2).map(b => s"SELECT doc_id, $b AS band_id, md5(concat(h${4 * b}, h${4 * b + 1}, h${4 * b + 2}, h${4 * b + 3})) AS bk FROM sig").mkString(" UNION ALL ")}),
         |c1 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM b1 a JOIN b1 b ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |c2 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM b2 a JOIN b2 b ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |c4 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM b4 a JOIN b4 b ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |v1 AS (SELECT COUNT(*) AS nc, CAST(SUM(CASE WHEN $JaccExpr >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS nv
         |  FROM c1 JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b),
         |v2 AS (SELECT COUNT(*) AS nc, CAST(SUM(CASE WHEN $JaccExpr >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS nv
         |  FROM c2 JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b),
         |v4 AS (SELECT COUNT(*) AS nc, CAST(SUM(CASE WHEN $JaccExpr >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS nv
         |  FROM c4 JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b)
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS rows_per_band, CAST(8 AS BIGINT) AS n_bands, nc AS n_candidates, nv AS n_verified,
         |    CASE WHEN nc = 0 THEN 0 ELSE nv * 10000 // nc END AS precision_bp FROM v1
         |  UNION ALL SELECT CAST(2 AS BIGINT), CAST(4 AS BIGINT), nc, nv,
         |    CASE WHEN nc = 0 THEN 0 ELSE nv * 10000 // nc END FROM v2
         |  UNION ALL SELECT CAST(4 AS BIGINT), CAST(2 AS BIGINT), nc, nv,
         |    CASE WHEN nc = 0 THEN 0 ELSE nv * 10000 // nc END FROM v4)
         |ORDER BY rows_per_band""".stripMargin),
    // dedup_source_dup_rate: components CTE joined back to sources
    "dedup_source_dup_rate" ->
      (s"""WITH RECURSIVE $GramsCte,
         |$SigCte,
         |bands AS (
         |  SELECT doc_id, 0 AS band_id, md5(h0 || h1) AS bk FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |j AS (SELECT doc_a, doc_b, $JaccExpr AS jacc
         |  FROM cand JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b),
         |p AS (SELECT doc_a, doc_b FROM j WHERE jacc >= 0.5),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |      UNION ALL SELECT doc_b, doc_a FROM p),
         |reach(doc_id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.doc_id),
         |comp AS (SELECT doc_id, MIN(r) AS comp FROM reach GROUP BY doc_id),
         |sizes AS (SELECT comp, COUNT(*) AS n_members FROM comp GROUP BY comp),
         |lab AS (SELECT c.doc_id, s.n_members FROM comp c JOIN sizes s USING (comp))
         |SELECT d.source, COUNT(*) AS n_docs,
         |  CAST(SUM(CASE WHEN lab.n_members > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  CAST(SUM(CASE WHEN lab.n_members > 1 THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT) AS dup_bp
         |FROM documents d JOIN lab ON lab.doc_id = d.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin),
    // mm_payload_dedup: content-addressable-storage audit; md5 over
    // the text bytes equals md5 over the cast binary payload
    "mm_payload_dedup" ->
      """WITH g AS (SELECT md5(text) AS h, COUNT(*) AS n_copies,
        |    CAST(MAX(octet_length(CAST(text AS BLOB))) AS BIGINT) AS bytes_each
        |  FROM documents GROUP BY md5(text))
        |SELECT CAST(SUM(n_copies) AS BIGINT) AS total_payloads,
        |  COUNT(*) AS distinct_payloads,
        |  CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_groups,
        |  CAST(SUM(n_copies - 1) AS BIGINT) AS dup_copies,
        |  CAST(SUM((n_copies - 1) * bytes_each) AS BIGINT) AS bytes_reclaimable
        |FROM g""".stripMargin,
    // ann_probe_curve: probe-1 and probe-2 recall vs exact ground
    // truth, summarized — same CTE bodies as the ivf/probe2/recall
    // oracles, two summary rows
    "ann_probe_curve" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cent AS (SELECT vec_id AS cent_id, emb AS ce FROM e WHERE vec_id < 8),
         |a AS (SELECT e.vec_id, e.emb, cent_id, ${duckCos("emb", "ce")} AS c FROM e CROSS JOIN cent),
         |r2 AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn FROM a),
         |cells AS (SELECT vec_id, emb, cent_id AS cell FROM r2 WHERE rn = 1),
         |q1 AS (SELECT vec_id AS query_id, emb AS qe, cell FROM cells WHERE vec_id >= 8 AND vec_id < 18),
         |s1 AS (SELECT query_id, c2.vec_id, ${duckCos("qe", "emb")} AS c
         |  FROM q1 JOIN cells c2 USING (cell) WHERE c2.vec_id <> query_id),
         |i1 AS (SELECT query_id, vec_id AS neighbor_id FROM
         |  (SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rank FROM s1) WHERE rank <= 5),
         |q2 AS (SELECT vec_id AS query_id, emb AS qe, cent_id AS cell FROM r2
         |  WHERE rn <= 2 AND vec_id >= 8 AND vec_id < 18),
         |s2 AS (SELECT DISTINCT query_id, c2.vec_id, ${duckCos("qe", "emb")} AS c
         |  FROM q2 JOIN cells c2 USING (cell) WHERE c2.vec_id <> query_id),
         |i2 AS (SELECT query_id, vec_id AS neighbor_id FROM
         |  (SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rank FROM s2) WHERE rank <= 5),
         |qx AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id >= 8 AND vec_id < 18),
         |sx AS (SELECT query_id, e2.vec_id, ${duckCos("qe", "emb")} AS c
         |  FROM qx JOIN e e2 ON e2.vec_id <> query_id),
         |ex AS (SELECT query_id, vec_id AS neighbor_id FROM
         |  (SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rank FROM sx) WHERE rank <= 5),
         |rec1 AS (SELECT ex.query_id,
         |  CAST(SUM(CASE WHEN i1.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT) AS recall_bp
         |  FROM ex LEFT JOIN i1 ON i1.query_id = ex.query_id AND i1.neighbor_id = ex.neighbor_id
         |  GROUP BY ex.query_id),
         |rec2 AS (SELECT ex.query_id,
         |  CAST(SUM(CASE WHEN i2.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT) AS recall_bp
         |  FROM ex LEFT JOIN i2 ON i2.query_id = ex.query_id AND i2.neighbor_id = ex.neighbor_id
         |  GROUP BY ex.query_id)
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS probe, COUNT(*) AS n_queries,
         |    CAST(SUM(recall_bp) // COUNT(*) AS BIGINT) AS mean_recall_bp,
         |    CAST(MIN(recall_bp) AS BIGINT) AS min_recall_bp FROM rec1
         |  UNION ALL SELECT CAST(2 AS BIGINT), COUNT(*),
         |    CAST(SUM(recall_bp) // COUNT(*) AS BIGINT),
         |    CAST(MIN(recall_bp) AS BIGINT) FROM rec2)
         |ORDER BY probe""".stripMargin),
    // ann_reassign_drift: assignment under the seed (round-0) codebook
    // vs the 3-round-trained one, both by the kmeans pipeline's exact
    // integer L2 — per trained cell, migration and churn
    "ann_reassign_drift" ->
      (s"""WITH ${duckKmeansCte(3)},
         |d4 AS (SELECT qp.vec_id, cp.cent_id,
         |  CAST(SUM((qp.v - cp.cv) * (qp.v - cp.cv)) AS BIGINT) AS dist
         |  FROM qp JOIN centp3 cp ON cp.pos = qp.pos
         |  GROUP BY qp.vec_id, cp.cent_id),
         |a4 AS (SELECT vec_id, cent_id AS cell FROM (SELECT vec_id, cent_id,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rn FROM d4) WHERE rn = 1),
         |j AS (SELECT a1.vec_id, a1.cell AS old_cell, a4.cell AS new_cell
         |  FROM a1 JOIN a4 USING (vec_id)),
         |inc AS (SELECT new_cell AS cell, COUNT(*) AS n_new,
         |  CAST(SUM(CASE WHEN old_cell = new_cell THEN 1 ELSE 0 END) AS BIGINT) AS n_stayed
         |  FROM j GROUP BY 1),
         |outg AS (SELECT old_cell AS cell, COUNT(*) AS n_old FROM j GROUP BY 1)
         |SELECT cell, COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new,
         |  CAST(COALESCE(n_stayed, 0) AS BIGINT) AS n_stayed,
         |  CASE WHEN COALESCE(n_new, 0) = 0 THEN 0
         |       ELSE (n_new - n_stayed) * 10000 // n_new END AS churn_bp
         |FROM inc FULL OUTER JOIN outg USING (cell)
         |ORDER BY cell""".stripMargin),
    // q_funnel_conversion: the sequence-match CTE regrouped into the
    // conversion-latency summary (exact lower-median, min, max)
    "q_funnel_conversion" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
        |  FROM events WHERE user_id IS NOT NULL AND event_type IN ('signup', 'click', 'purchase')),
        |s1 AS (SELECT *, CASE WHEN event_type = 'signup' THEN us END AS s_q FROM e),
        |s2 AS (SELECT *, MIN(s_q) OVER w AS s_prev FROM s1
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |s3 AS (SELECT *, CASE WHEN event_type = 'click' AND s_prev IS NOT NULL THEN us END AS c_q FROM s2),
        |s4 AS (SELECT *, MIN(c_q) OVER w AS c_prev FROM s3
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |s5 AS (SELECT *, CASE WHEN event_type = 'purchase' AND c_prev IS NOT NULL THEN us END AS p_q FROM s4),
        |u AS (SELECT user_id, MIN(s_q) AS s, MIN(p_q) AS p FROM s5 GROUP BY user_id),
        |conv AS (SELECT user_id, p - s AS conv_us FROM u WHERE p IS NOT NULL),
        |r AS (SELECT *, row_number() OVER (ORDER BY conv_us, user_id) AS rn,
        |  COUNT(*) OVER () AS n FROM conv)
        |SELECT COUNT(*) AS n_converted,
        |  MIN(CASE WHEN rn = (n + 1) // 2 THEN conv_us END) AS med_conv_us,
        |  MIN(conv_us) AS min_conv_us, MAX(conv_us) AS max_conv_us
        |FROM r""".stripMargin,
    // stream_funnel_match_replay: the per-user funnel STATE MACHINE
    // in batch execution; the oracle is the WINDOW form's stage
    // table, so the hash proves state machine ≡ chained windows
    "stream_funnel_match_replay" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
        |  FROM events WHERE user_id IS NOT NULL AND event_type IN ('signup', 'click', 'purchase')),
        |s1 AS (SELECT *, CASE WHEN event_type = 'signup' THEN us END AS s_q FROM e),
        |s2 AS (SELECT *, MIN(s_q) OVER w AS s_prev FROM s1
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |s3 AS (SELECT *, CASE WHEN event_type = 'click' AND s_prev IS NOT NULL THEN us END AS c_q FROM s2),
        |s4 AS (SELECT *, MIN(c_q) OVER w AS c_prev FROM s3
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |s5 AS (SELECT *, CASE WHEN event_type = 'purchase' AND c_prev IS NOT NULL THEN us END AS p_q FROM s4),
        |u AS (SELECT user_id, MIN(s_q) AS s, MIN(c_q) AS c, MIN(p_q) AS p FROM s5 GROUP BY user_id)
        |SELECT user_id, stage, at_us, CAST(0 AS BIGINT) AS reorder_overflow FROM (
        |  SELECT user_id, CAST(1 AS BIGINT) AS stage, s AS at_us FROM u WHERE s IS NOT NULL
        |  UNION ALL SELECT user_id, CAST(2 AS BIGINT), c FROM u WHERE c IS NOT NULL
        |  UNION ALL SELECT user_id, CAST(3 AS BIGINT), p FROM u WHERE p IS NOT NULL)
        |ORDER BY user_id, stage""".stripMargin,
    // pipeline_mm_curation: dedup key (modality, md5(text)) ≡ Spark's
    // md5(magic || text) — the three magics differ in byte 1 and are
    // a pure function of doc_id % 3, so the groups coincide; payload
    // bytes = text bytes + magic length (3 for jpeg, 4 for png/riff)
    "pipeline_mm_curation" ->
      (s"""WITH p AS (SELECT doc_id, doc_id % 3 AS m3, md5(text) AS h,
         |  CAST(octet_length(CAST(text AS BLOB)) +
         |    CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 4 END AS BIGINT) AS n_bytes
         |  FROM documents),
         |canon AS (SELECT m3, h, MIN(doc_id) AS doc_id, CAST(MAX(n_bytes) AS BIGINT) AS n_bytes
         |  FROM p GROUP BY m3, h),
         |tw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |q AS (SELECT doc_id,
         |  CAST(len(w) AS BIGINT) AS n_words,
         |  ${TextOps.LangMarkers.map { case (_, ws) => langHits(ws) }.mkString(" + ")} AS marker_hits,
         |  CAST((len(w) - len(list_distinct(w))) * 10000 // len(w) AS BIGINT) AS dup_word_bp
         |FROM tw),
         |ok AS (SELECT doc_id FROM q
         |  WHERE n_words >= 5 AND marker_hits <> 0 AND dup_word_bp <= 3000),
         |modal AS (SELECT 0 AS m3, 'image/jpeg' AS modality
         |  UNION ALL SELECT 1, 'image/png' UNION ALL SELECT 2, 'audio/wav'),
         |tot AS (SELECT modality, COUNT(*) AS n_total FROM p JOIN modal USING (m3) GROUP BY modality),
         |can AS (SELECT modality, COUNT(*) AS n_canonical FROM canon JOIN modal USING (m3) GROUP BY modality),
         |cur AS (SELECT modality, COUNT(*) AS n_curated, CAST(SUM(n_bytes) AS BIGINT) AS curated_bytes
         |  FROM canon JOIN ok USING (doc_id) JOIN modal USING (m3) GROUP BY modality)
         |SELECT modality, n_total, n_canonical, n_curated, curated_bytes
         |FROM tot JOIN can USING (modality) JOIN cur USING (modality)
         |ORDER BY modality""".stripMargin),
    // dedup_corpus_matrix: exact pairwise vocabulary Jaccard between
    // sources over the distinct (source, word) relation
    "dedup_corpus_matrix" ->
      """WITH ws AS (SELECT DISTINCT source, word FROM
        |  (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents)),
        |sz AS (SELECT source, COUNT(*) AS n FROM ws GROUP BY source),
        |it AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
        |  FROM ws a JOIN ws b ON a.word = b.word AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_common,
        |  CAST(n_common * 10000 // (sa.n + sb.n - n_common) AS BIGINT) AS jaccard_bp
        |FROM it JOIN sz sa ON sa.source = src_a JOIN sz sb ON sb.source = src_b
        |ORDER BY src_a, src_b""".stripMargin,
    // dedup_lsh_recall: the two candidate strategies cross-audited —
    // LSH band pairs vs length-bucket blocked pairs, overlap, and
    // each one's recall against the other
    "dedup_lsh_recall" ->
      (s"""WITH $GramsCte,
         |$SigCte,
         |bands AS (
         |  SELECT doc_id, 0 AS band_id, md5(h0 || h1) AS bk FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sig),
         |lcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |lsh AS (SELECT doc_a, doc_b FROM (SELECT doc_a, doc_b, $JaccExpr AS jacc
         |  FROM lcand JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b) WHERE jacc >= 0.5),
         |bcand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM documents a JOIN documents b ON a.n_chars // 32 = b.n_chars // 32 AND a.doc_id < b.doc_id),
         |blocked AS (SELECT doc_a, doc_b FROM (SELECT doc_a, doc_b, $JaccExpr AS jacc
         |  FROM bcand JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b) WHERE jacc >= 0.5),
         |cnts AS (SELECT
         |  (SELECT COUNT(*) FROM blocked) AS n_blocked,
         |  (SELECT COUNT(*) FROM lsh) AS n_lsh,
         |  (SELECT COUNT(*) FROM blocked JOIN lsh USING (doc_a, doc_b)) AS n_common)
         |SELECT CAST(n_blocked AS BIGINT) AS n_blocked, CAST(n_lsh AS BIGINT) AS n_lsh,
         |  CAST(n_common AS BIGINT) AS n_common,
         |  CAST(CASE WHEN n_blocked = 0 THEN 0 ELSE n_common * 10000 // n_blocked END AS BIGINT) AS lsh_recall_bp,
         |  CAST(CASE WHEN n_lsh = 0 THEN 0 ELSE n_common * 10000 // n_lsh END AS BIGINT) AS block_recall_bp
         |FROM cnts""".stripMargin),
    // text_cooccurrence: integer lift collocations over the top-50
    // df words; incidence is DISTINCT (doc, word), pair key unique
    "text_cooccurrence" ->
      """WITH inc AS (SELECT DISTINCT doc_id, word FROM
        |  (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)),
        |dfx AS (SELECT word, COUNT(*) AS df FROM inc GROUP BY word),
        |top AS (SELECT word, CAST(df AS BIGINT) AS df FROM dfx ORDER BY df DESC, word LIMIT 50),
        |it AS (SELECT i.doc_id, i.word FROM inc i JOIN top USING (word)),
        |pr AS (SELECT a.word AS w_a, b.word AS w_b, COUNT(*) AS n_ab
        |  FROM it a JOIN it b ON a.doc_id = b.doc_id AND a.word < b.word GROUP BY 1, 2),
        |n AS (SELECT COUNT(*) AS nd FROM documents)
        |SELECT w_a, w_b, CAST(n_ab AS BIGINT) AS n_ab, ta.df AS n_a, tb.df AS n_b,
        |  CAST(n_ab * nd * 1000000 // (ta.df * tb.df) AS BIGINT) AS lift_u
        |FROM pr JOIN top ta ON ta.word = w_a JOIN top tb ON tb.word = w_b CROSS JOIN n
        |ORDER BY lift_u DESC, w_a, w_b LIMIT 100""".stripMargin,
    // dlp_quantile_bucketing: exact integer lower-quartile bounds
    // rank-selected under a (value, key) total order
    "dlp_quantile_bucketing" ->
      """WITH c AS (SELECT c_custkey,
        |  CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS acctbal_c FROM customer),
        |r AS (SELECT *, row_number() OVER (ORDER BY acctbal_c, c_custkey) AS rn,
        |  COUNT(*) OVER () AS n FROM c),
        |qs AS (SELECT
        |  MIN(CASE WHEN rn = GREATEST((n + 1) // 4, 1) THEN acctbal_c END) AS q1_c,
        |  MIN(CASE WHEN rn = GREATEST((n + 1) // 2, 1) THEN acctbal_c END) AS q2_c,
        |  MIN(CASE WHEN rn = GREATEST((3 * (n + 1)) // 4, 1) THEN acctbal_c END) AS q3_c FROM r)
        |SELECT c_custkey, acctbal_c,
        |  CASE WHEN acctbal_c <= q1_c THEN 'q1'
        |       WHEN acctbal_c <= q2_c THEN 'q2'
        |       WHEN acctbal_c <= q3_c THEN 'q3'
        |       ELSE 'q4' END AS bucket,
        |  q1_c, q2_c, q3_c
        |FROM c CROSS JOIN qs ORDER BY c_custkey""".stripMargin,
    // stream_reorder_depth: |arrival rank − event-time rank| per
    // event; rank-at-position median is tie-insensitive
    "stream_reorder_depth" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE user_id IS NOT NULL),
        |d AS (SELECT event_type,
        |  ABS(CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT)
        |    - CAST(row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS BIGINT)) AS depth
        |  FROM e),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY depth) AS rn,
        |  COUNT(*) OVER (PARTITION BY event_type) AS n FROM d)
        |SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CASE WHEN depth = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_inorder,
        |  CAST(SUM(CASE WHEN depth = 0 THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT) AS inorder_bp,
        |  CAST(MIN(CASE WHEN rn = (n + 1) // 2 THEN depth END) AS BIGINT) AS med_depth,
        |  CAST(MAX(depth) AS BIGINT) AS max_depth
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,
    // embed_pair_hist: pairwise-cosine histogram over the first-64
    // sample; identical FLOOR bucket math on bit-identical cosines
    "embed_pair_hist" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings WHERE vec_id < 64),
         |pp AS (SELECT a.emb AS ea, b.emb AS eb FROM e a JOIN e b ON a.vec_id < b.vec_id),
         |p AS (SELECT ${duckCos("ea", "eb")} AS c FROM pp),
         |bk AS (SELECT LEAST(CAST(FLOOR((c + 1) * 5) AS BIGINT), 9) AS bucket FROM p),
         |g AS (SELECT bucket, COUNT(*) AS n_pairs FROM bk GROUP BY bucket)
         |SELECT bucket, n_pairs,
         |  CAST(n_pairs * 10000 // (SELECT COUNT(*) FROM p) AS BIGINT) AS share_bp
         |FROM g ORDER BY bucket""".stripMargin),
    // dedup_component_stats: the components CTE regrouped into the
    // duplication-mass curve; share denominator = the full corpus
    "dedup_component_stats" ->
      (s"""WITH RECURSIVE $GramsCte,
         |$SigCte,
         |bands AS (
         |  SELECT doc_id, 0 AS band_id, md5(h0 || h1) AS bk FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |j AS (SELECT doc_a, doc_b, $JaccExpr AS jacc
         |  FROM cand JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b),
         |p AS (SELECT doc_a, doc_b FROM j WHERE jacc >= 0.5),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |      UNION ALL SELECT doc_b, doc_a FROM p),
         |reach(doc_id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.doc_id),
         |comp AS (SELECT doc_id, MIN(r) AS comp FROM reach GROUP BY doc_id),
         |sizes AS (SELECT comp, COUNT(*) AS n_members FROM comp GROUP BY comp)
         |SELECT n_members AS csize, CAST(COUNT(*) AS BIGINT) AS n_components,
         |  CAST(SUM(n_members) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_members) * 10000 // (SELECT COUNT(*) FROM documents) AS BIGINT) AS doc_share_bp
         |FROM sizes GROUP BY n_members ORDER BY csize""".stripMargin),
    // round 11 widening. dedup_bloom_prefilter: the oracle is the
    // PLAIN content-hash join — the bloom gate must change nothing
    // (no false negatives), so the hash match proves the sketch exact
    "dedup_bloom_prefilter" ->
      """WITH h AS (SELECT doc_id, md5(text) AS h FROM documents),
        |c AS (SELECT h AS hc, MIN(doc_id) AS dup_of, CAST(COUNT(*) AS BIGINT) AS n_corpus
        |  FROM h WHERE doc_id % 2 = 0 GROUP BY h)
        |SELECT b.doc_id,
        |  CAST(CASE WHEN dup_of IS NULL THEN 0 ELSE 1 END AS BIGINT) AS is_dup,
        |  COALESCE(dup_of, -1) AS dup_of, COALESCE(n_corpus, 0) AS n_corpus
        |FROM h b LEFT JOIN c ON b.h = c.hc WHERE b.doc_id % 2 = 1
        |ORDER BY b.doc_id""".stripMargin,
    "dedup_ngram13_contain" ->
      (s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |  WHERE len(string_split(text, ' ')) >= 13),
         |g AS (SELECT DISTINCT doc_id, md5(array_to_string(ws[i+1 : i+13], ' ')) AS g
         |  FROM w, (SELECT unnest(range(0, 64)) AS i) r WHERE i <= len(ws) - 13),
         |s AS (SELECT doc_id, ${graft.text.TextOps.SplitCaseSql} AS split FROM documents),
         |t AS (SELECT g.g AS g, MIN(g.doc_id) AS train_doc
         |  FROM g JOIN s USING (doc_id) WHERE s.split = 'train' GROUP BY g.g)
         |SELECT g.doc_id, s.split, CAST(COUNT(DISTINCT g.g) AS BIGINT) AS n_shared,
         |  MIN(t.train_doc) AS train_doc
         |FROM g JOIN s USING (doc_id) JOIN t ON g.g = t.g
         |WHERE s.split <> 'train' GROUP BY g.doc_id, s.split ORDER BY g.doc_id""".stripMargin),
    // ann_int8_recall: the whole int8 pipeline replayed (quantize rule
    // = embed_quantize_int8's oracle verbatim) + exact ground truth,
    // compared at rank 5 — codes are integer-valued doubles, so every
    // dot product is exact and the cosines bit-match cross-engine
    "ann_int8_recall" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |x AS (SELECT vec_id, list_transform(emb, v -> CAST(FLOOR(v * 1000000) AS BIGINT)) AS xq FROM e),
         |m AS (SELECT vec_id, xq, list_aggregate(list_transform(xq, v -> abs(v)), 'max') AS s FROM x),
         |qz AS (SELECT vec_id, CASE WHEN s = 0 THEN list_transform(xq, v -> CAST(0 AS DOUBLE))
         |  ELSE list_transform(xq, v -> CAST((254 * v + 257 * s) // (2 * s) - 128 AS DOUBLE)) END AS q FROM m),
         |qs AS (SELECT vec_id AS query_id, q AS qq FROM qz WHERE vec_id >= 8 AND vec_id < 18),
         |sc AS (SELECT query_id, qz.vec_id AS vec_id, ${duckCos("qq", "q")} AS c
         |  FROM qs JOIN qz ON qz.vec_id <> query_id),
         |qt AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rn FROM sc) WHERE rn <= 5),
         |eq AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id >= 8 AND vec_id < 18),
         |es AS (SELECT query_id, e.vec_id AS vec_id, ${duckCos("qe", "emb")} AS c
         |  FROM eq JOIN e ON e.vec_id <> query_id),
         |et AS (SELECT query_id, vec_id AS neighbor_id FROM (SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rn FROM es) WHERE rn <= 5)
         |SELECT et.query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
         |  CAST(SUM(CASE WHEN qt.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  CAST(SUM(CASE WHEN qt.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT) AS recall_bp
         |FROM et LEFT JOIN qt ON et.query_id = qt.query_id AND et.neighbor_id = qt.vec_id
         |GROUP BY et.query_id ORDER BY et.query_id""".stripMargin),
    "embed_threshold_curve" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |b AS (SELECT vec_id, emb, ${(1 to 8).map(i =>
             s"(CASE WHEN emb[$i] >= 0 THEN '1' ELSE '0' END)").mkString(" || ")} AS bucket FROM e),
         |p AS (SELECT ROUND(${duckCos("ba.emb", "bb.emb")}, 4) AS cos
         |  FROM b ba JOIN b bb ON ba.bucket = bb.bucket AND ba.vec_id < bb.vec_id)
         |SELECT CAST(t.threshold_bp AS BIGINT) AS threshold_bp,
         |  CAST((SELECT COUNT(*) FROM p WHERE cos >= t.cut) AS BIGINT) AS n_pairs
         |FROM (VALUES (2000, 0.2), (3500, 0.35), (5000, 0.5), (7000, 0.7), (9000, 0.9))
         |  t(threshold_bp, cut)
         |ORDER BY threshold_bp""".stripMargin),
    "text_zipf_fit" ->
      """WITH c AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) GROUP BY word),
        |t AS (SELECT word, n, CAST(row_number() OVER (ORDER BY n DESC, word) AS BIGINT) AS rank FROM c)
        |SELECT rank, word, n AS freq, rank * n AS zipf_c FROM t WHERE rank <= 50 ORDER BY rank""".stripMargin,
    "dlp_risk_delta" ->
      """WITH raw AS (SELECT c_mktsegment, c_nationkey,
        |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents, COUNT(*) AS n
        |  FROM customer GROUP BY 1, 2, 3),
        |gen AS (SELECT c_mktsegment, c_nationkey,
        |    CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS lo, COUNT(*) AS n
        |  FROM customer GROUP BY 1, 2, 3),
        |ks AS (SELECT unnest([2, 5, 10, 25]) AS k)
        |SELECT CAST(k AS BIGINT) AS k,
        |  CAST((SELECT SUM(CASE WHEN n < k THEN n ELSE 0 END) FROM raw) AS BIGINT) AS exposed_raw,
        |  CAST((SELECT SUM(CASE WHEN n < k THEN n ELSE 0 END) FROM gen) AS BIGINT) AS exposed_gen
        |FROM ks ORDER BY k""".stripMargin,
    "dlp_token_consistency" ->
      """WITH tc AS (SELECT c_custkey,
        |    'TOK_' || substr(sha256('fk-key:' || CAST(c_custkey AS VARCHAR)), 1, 32) AS tok
        |  FROM customer),
        |ot AS (SELECT 'TOK_' || substr(sha256('fk-key:' || CAST(o_custkey AS VARCHAR)), 1, 32) AS tok,
        |    CAST(COUNT(*) AS BIGINT) AS n_via_token FROM orders GROUP BY 1),
        |okk AS (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_via_raw FROM orders GROUP BY 1)
        |SELECT tc.tok, COALESCE(ot.n_via_token, 0) AS n_via_token,
        |  COALESCE(okk.n_via_raw, 0) AS n_via_raw,
        |  CAST(CASE WHEN COALESCE(ot.n_via_token, 0) = COALESCE(okk.n_via_raw, 0)
        |    THEN 1 ELSE 0 END AS BIGINT) AS consistent
        |FROM tc LEFT JOIN ot ON tc.tok = ot.tok
        |LEFT JOIN okk ON tc.c_custkey = okk.o_custkey
        |ORDER BY tc.tok""".stripMargin,
    "q_session_overlap" ->
      """WITH iv AS (SELECT user_id,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS s,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) + 300 AS e
        |  FROM events WHERE user_id IS NOT NULL),
        |p AS (SELECT user_id, s AS p, CAST(1 AS BIGINT) AS d FROM iv
        |  UNION ALL SELECT user_id, e, CAST(-1 AS BIGINT) FROM iv),
        |dep AS (SELECT user_id, SUM(d) OVER (PARTITION BY user_id ORDER BY p, d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS depth FROM p)
        |SELECT user_id, CAST(MAX(depth) AS BIGINT) AS max_concurrent,
        |  CAST(COUNT(*) // 2 AS BIGINT) AS n_intervals
        |FROM dep GROUP BY user_id ORDER BY user_id""".stripMargin,
    "layout_skipping_eval" ->
      """WITH li AS (SELECT epoch_us(CAST(l_shipdate AS TIMESTAMP)) AS sd FROM lineitem),
        |bounds AS (SELECT MIN(sd) AS lo, MAX(sd) AS hi FROM li),
        |z AS (SELECT (sd - lo) * 16 // (hi - lo + 1) AS bucket,
        |    MIN(sd) AS zmin, MAX(sd) AS zmax, CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM li, bounds GROUP BY 1),
        |preds AS (SELECT * FROM (VALUES
        |  (1, epoch_us(TIMESTAMP '1997-01-01'), epoch_us(TIMESTAMP '2100-01-01')),
        |  (2, 0, epoch_us(TIMESTAMP '1993-06-01')),
        |  (3, epoch_us(TIMESTAMP '1994-01-01'), epoch_us(TIMESTAMP '1995-01-01')),
        |  (4, epoch_us(TIMESTAMP '1998-09-01'), epoch_us(TIMESTAMP '2100-01-01'))
        |  ) t(pred_id, plo, phi))
        |SELECT CAST(pred_id AS BIGINT) AS pred_id, CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |  CAST(SUM(CASE WHEN zmax < plo OR zmin >= phi THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped,
        |  CAST(SUM(CASE WHEN zmax < plo OR zmin >= phi THEN 0 ELSE n_rows END) AS BIGINT) AS rows_scanned
        |FROM z, preds GROUP BY pred_id ORDER BY pred_id""".stripMargin,
    "load_partition_plan" ->
      """WITH p AS (SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS part_month,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(length(o_orderstatus) + length(o_orderpriority)) + COUNT(*) * 24 AS BIGINT) AS bytes
        |  FROM orders GROUP BY 1),
        |f AS (SELECT *, (bytes + 65535) // 65536 AS n_files FROM p)
        |SELECT part_month, n_rows, bytes, CAST(n_files AS BIGINT) AS n_files,
        |  CAST((n_rows + n_files - 1) // n_files AS BIGINT) AS rows_per_file
        |FROM f ORDER BY part_month""".stripMargin,
    "stream_heartbeat_gap" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE user_id IS NOT NULL),
        |g AS (SELECT user_id,
        |    us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap FROM e)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COALESCE(MAX(gap), 0) AS BIGINT) AS max_gap_us,
        |  CAST(SUM(CASE WHEN gap > 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "mm_embedding_align" ->
      """WITH d AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 'image/jpeg'
        |    WHEN doc_id % 3 = 1 THEN 'image/png' ELSE 'audio/wav' END AS modality FROM documents),
        |j AS (SELECT d.modality, d.doc_id, e.vec_id, e.label
        |  FROM d LEFT JOIN embeddings e ON d.doc_id = e.vec_id),
        |cov AS (SELECT modality, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(CASE WHEN vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_paired
        |  FROM j GROUP BY modality),
        |bl AS (SELECT modality, label, CAST(COUNT(*) AS BIGINT) AS nl
        |  FROM j WHERE vec_id IS NOT NULL GROUP BY modality, label),
        |mj AS (SELECT modality, label, nl,
        |    row_number() OVER (PARTITION BY modality ORDER BY nl DESC, label ASC) AS rn,
        |    COUNT(*) OVER (PARTITION BY modality) AS n_labels FROM bl)
        |SELECT cov.modality, n_docs, n_paired,
        |  COALESCE(CAST(n_labels AS BIGINT), 0) AS n_labels,
        |  COALESCE(CAST(label AS BIGINT), -1) AS maj_label,
        |  CAST(CASE WHEN n_paired = 0 THEN 0 ELSE nl * 10000 // n_paired END AS BIGINT) AS maj_share_bp
        |FROM cov LEFT JOIN mj ON cov.modality = mj.modality AND mj.rn = 1
        |ORDER BY cov.modality""".stripMargin,
    // round 11 batch 2. ingest_fk_discovery: CTEs generated from the
    // SAME candidate list the operator iterates (one val, no drift)
    "ingest_fk_discovery" -> {
      val rs = SourceQueries.FkCandidates.zipWithIndex.map {
        case ((name, (ct, cc), (pt, pc)), i) =>
          s"""c$i AS (SELECT DISTINCT CAST($cc AS BIGINT) AS v FROM $ct WHERE $cc IS NOT NULL),
             |p$i AS (SELECT DISTINCT CAST($pc AS BIGINT) AS v FROM $pt WHERE $pc IS NOT NULL),
             |r$i AS (SELECT '$name' AS candidate,
             |  CAST(COUNT(*) AS BIGINT) AS n_child_distinct,
             |  CAST(SUM(CASE WHEN p.v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contained
             |  FROM c$i c LEFT JOIN p$i p ON c.v = p.v)""".stripMargin
      }
      val union = SourceQueries.FkCandidates.indices
        .map(i => s"SELECT * FROM r$i").mkString(" UNION ALL ")
      s"""WITH ${rs.mkString(",\n")},
         |u AS ($union)
         |SELECT candidate, n_child_distinct, n_contained,
         |  CAST(n_contained * 10000 // n_child_distinct AS BIGINT) AS containment_bp,
         |  CAST(CASE WHEN n_contained = n_child_distinct THEN 1 ELSE 0 END AS BIGINT) AS is_fk
         |FROM u ORDER BY candidate""".stripMargin
    },
    // ingest_load_order: same containment aggregates as fk_discovery
    // tagged with table names, then bounded level propagation unrolled
    "ingest_load_order" -> {
      val rs = SourceQueries.FkCandidates.zipWithIndex.map {
        case ((_, (ct, cc), (pt, pc)), i) =>
          s"""c$i AS (SELECT DISTINCT CAST($cc AS BIGINT) AS v FROM $ct WHERE $cc IS NOT NULL),
             |p$i AS (SELECT DISTINCT CAST($pc AS BIGINT) AS v FROM $pt WHERE $pc IS NOT NULL),
             |r$i AS (SELECT '$ct' AS child, '$pt' AS parent,
             |  CAST(COUNT(*) AS BIGINT) AS nc,
             |  CAST(SUM(CASE WHEN p.v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ni
             |  FROM c$i c LEFT JOIN p$i p ON c.v = p.v)""".stripMargin
      }
      val union = SourceQueries.FkCandidates.indices
        .map(i => s"SELECT * FROM r$i").mkString(" UNION ALL ")
      val depth = SourceQueries.FkCandidates.size
      val levels = (1 to depth).map { j =>
        s"""l$j AS (SELECT n.table_name,
           |  GREATEST(n.level, COALESCE(m.clv, CAST(0 AS BIGINT))) AS level
           |  FROM l${j - 1} n LEFT JOIN (
           |    SELECT e.child AS table_name, MAX(p.level) + 1 AS clv
           |    FROM e JOIN l${j - 1} p ON e.parent = p.table_name GROUP BY e.child) m
           |  USING (table_name))""".stripMargin
      }.mkString(",\n")
      s"""WITH ${rs.mkString(",\n")},
         |u AS ($union),
         |e AS (SELECT child, parent FROM u WHERE ni = nc),
         |n0 AS (SELECT DISTINCT t AS table_name FROM
         |  (SELECT child AS t FROM e UNION ALL SELECT parent FROM e) z),
         |l0 AS (SELECT table_name, CAST(0 AS BIGINT) AS level FROM n0),
         |$levels,
         |pa AS (SELECT child AS table_name, CAST(COUNT(*) AS BIGINT) AS n_parents,
         |  string_agg(parent, ',' ORDER BY parent) AS parents FROM e GROUP BY child)
         |SELECT l.table_name, CAST(level AS BIGINT) AS level,
         |  CAST(COALESCE(n_parents, 0) AS BIGINT) AS n_parents,
         |  COALESCE(parents, '') AS parents
         |FROM l$depth l LEFT JOIN pa USING (table_name)
         |ORDER BY level, table_name""".stripMargin
    },
    "dlp_surrogate_annotate" ->
      (s"""WITH c AS (SELECT c_custkey, $ContactSql AS contact FROM customer),
         |m AS (SELECT c_custkey, contact,
         |  regexp_extract(contact, '$EmailReSql') AS e,
         |  regexp_extract(contact, '$PhoneReSql') AS p FROM c)
         |SELECT c_custkey,
         |  replace(replace(contact, e,
         |    'EMAIL_ADDRESS(16):' || substr(sha256('sur-key:' || e), 1, 16)), p,
         |    'PHONE_NUMBER(16):' || substr(sha256('sur-key:' || p), 1, 16)) AS surrogated
         |FROM m ORDER BY c_custkey""".stripMargin),
    "dlp_shift_consistency" ->
      """WITH d AS (SELECT o_custkey,
        |    date_diff('day', o_orderdate, o_orderdate + INTERVAL (o_custkey % 61 - 30) DAY) AS delta
        |  FROM orders)
        |SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(MIN(delta) AS BIGINT) AS shift_days,
        |  CAST(CASE WHEN MIN(delta) = MAX(delta) THEN 1 ELSE 0 END AS BIGINT) AS coherent
        |FROM d GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    // load_schema_evolve: presence derived from the version rule alone
    // — independent of the union-by-name machinery under test
    "load_schema_evolve" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_priority,
        |  CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_year
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_running_distinct" ->
      """WITH e AS (SELECT event_type, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE user_id IS NOT NULL),
        |f AS (SELECT event_type, user_id, MIN(us) // 86400000000 AS day FROM e GROUP BY 1, 2),
        |d AS (SELECT event_type, CAST(day AS BIGINT) AS day, CAST(COUNT(*) AS BIGINT) AS new_users
        |  FROM f GROUP BY 1, 2)
        |SELECT event_type, day, new_users,
        |  CAST(SUM(new_users) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
        |FROM d ORDER BY event_type, day""".stripMargin,
    "embed_norm_outliers" ->
      """WITH v AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |  list_reduce(list_transform(list_transform(CAST(embedding AS DOUBLE[]),
        |    v -> CAST(FLOOR(v * 1000000) AS BIGINT)), q -> q * q), (acc, x) -> acc + x) AS nsq
        |  FROM embeddings),
        |m1 AS (SELECT *, row_number() OVER (PARTITION BY label ORDER BY nsq, vec_id) AS rn,
        |  COUNT(*) OVER (PARTITION BY label) AS n_l FROM v),
        |m2 AS (SELECT *, MAX(CASE WHEN rn = (n_l + 1) // 2 THEN nsq END)
        |  OVER (PARTITION BY label) AS med FROM m1),
        |a AS (SELECT label, vec_id, nsq, med, abs(nsq - med) AS adev FROM m2),
        |d1 AS (SELECT *, row_number() OVER (PARTITION BY label ORDER BY adev, vec_id) AS rn2,
        |  COUNT(*) OVER (PARTITION BY label) AS n2 FROM a),
        |d2 AS (SELECT *, MAX(CASE WHEN rn2 = (n2 + 1) // 2 THEN adev END)
        |  OVER (PARTITION BY label) AS mad FROM d1)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs, CAST(MIN(med) AS BIGINT) AS med_nsq,
        |  CAST(MIN(mad) AS BIGINT) AS mad_nsq,
        |  CAST(SUM(CASE WHEN adev >= 3 * GREATEST(mad, 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST(SUM(CASE WHEN adev >= 3 * GREATEST(mad, 1) THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT) AS outlier_bp
        |FROM d2 GROUP BY label ORDER BY label""".stripMargin,
    "text_lang_confusion" ->
      (s"""WITH t AS (SELECT doc_id, lang AS labeled_lang, string_split(text, ' ') AS w FROM documents),
         |s AS (SELECT doc_id, labeled_lang,
         |  ${langHits(TextOps.LangMarkers.toMap.apply("en"))} AS s_en,
         |  ${langHits(TextOps.LangMarkers.toMap.apply("de"))} AS s_de,
         |  ${langHits(TextOps.LangMarkers.toMap.apply("es"))} AS s_es,
         |  ${langHits(TextOps.LangMarkers.toMap.apply("fr"))} AS s_fr FROM t),
         |p AS (SELECT labeled_lang,
         |  CASE WHEN s_en = 0 AND s_de = 0 AND s_es = 0 AND s_fr = 0 THEN 'unknown'
         |       WHEN s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
         |       WHEN s_en >= s_de AND s_en > s_es AND s_en > s_fr THEN 'en'
         |       WHEN s_es >= s_en AND s_es >= s_de AND s_es > s_fr THEN 'es'
         |       ELSE 'fr' END AS predicted FROM s),
         |g AS (SELECT labeled_lang, predicted, CAST(COUNT(*) AS BIGINT) AS n FROM p GROUP BY 1, 2)
         |SELECT labeled_lang, predicted, n,
         |  CAST(n * 10000 // SUM(n) OVER (PARTITION BY labeled_lang) AS BIGINT) AS share_bp
         |FROM g ORDER BY labeled_lang, predicted""".stripMargin),
    "stream_replay_dedup" ->
      """WITH d AS (SELECT event_id, event_type FROM events
        |  UNION ALL SELECT event_id, event_type FROM events WHERE event_id % 10 = 0)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_delivered,
        |  CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique,
        |  CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT) AS n_dup_dropped
        |FROM d GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q_heavy_hitters: the oracle is the EXACT per-month heavy set
    // (freq > n/(cap+1), cap=2) with in_sketch pinned 1 — the MG
    // theorem says the sketch must contain every such key, so a
    // dropped key loses a row and fails the compare
    "q_heavy_hitters" ->
      """WITH o AS (SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS part_month,
        |    o_orderstatus FROM orders),
        |c AS (SELECT part_month, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS freq FROM o GROUP BY 1, 2),
        |t AS (SELECT part_month, CAST(COUNT(*) AS BIGINT) AS n_rows FROM o GROUP BY 1)
        |SELECT c.part_month, c.o_orderstatus, freq, n_rows, CAST(1 AS BIGINT) AS in_sketch
        |FROM c JOIN t ON c.part_month = t.part_month WHERE freq * 3 > n_rows
        |ORDER BY c.part_month, c.o_orderstatus""".stripMargin,
    "q_topk_rewrite" ->
      """SELECT l_partkey, l_orderkey, l_linenumber,
        |  epoch_us(CAST(l_shipdate AS TIMESTAMP)) AS ship_us,
        |  CAST(rk AS BIGINT) AS rk
        |FROM (SELECT l_partkey, l_orderkey, l_linenumber, l_shipdate,
        |    row_number() OVER (PARTITION BY l_partkey
        |      ORDER BY epoch_us(CAST(l_shipdate AS TIMESTAMP)) DESC, l_orderkey, l_linenumber) AS rk
        |  FROM lineitem)
        |WHERE rk <= 2 ORDER BY l_partkey, rk""".stripMargin,
    "q_gap_fill" ->
      """WITH e AS (SELECT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_c
        |  FROM events),
        |daily AS (SELECT user_id, day, v_c AS close_c FROM (
        |    SELECT user_id, day, v_c,
        |      row_number() OVER (PARTITION BY user_id, day ORDER BY us DESC, event_id DESC) AS rn
        |    FROM e) WHERE rn = 1),
        |span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1),
        |cal AS (SELECT user_id, CAST(UNNEST(range(d0, d1 + 1)) AS BIGINT) AS day FROM span),
        |j AS (SELECT cal.user_id, cal.day, daily.close_c FROM cal LEFT JOIN daily USING (user_id, day))
        |SELECT user_id, day,
        |  CAST(LAST_VALUE(close_c IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS filled_c,
        |  CAST(CASE WHEN close_c IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_observed
        |FROM j ORDER BY user_id, day""".stripMargin,
    "q_mode_per_group" ->
      """WITH c AS (SELECT o_orderpriority AS priority,
        |    CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1, 2),
        |r AS (SELECT priority, ym, n,
        |    row_number() OVER (PARTITION BY priority ORDER BY n DESC, ym ASC) AS rn,
        |    SUM(n) OVER (PARTITION BY priority) AS n_total FROM c)
        |SELECT priority, ym AS mode_ym, n AS mode_n, CAST(n_total AS BIGINT) AS n_total
        |FROM r WHERE rn = 1 ORDER BY priority""".stripMargin,
    "q_ancestor_closure" ->
      """WITH RECURSIVE a AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS node, CAST(c_custkey // 2 AS BIGINT) AS anc,
        |    CAST(1 AS BIGINT) AS d
        |  FROM customer WHERE c_custkey >= 2
        |  UNION ALL
        |  SELECT node, anc // 2, d + 1 FROM a WHERE anc >= 2)
        |SELECT anc, CAST(COUNT(*) AS BIGINT) AS n_desc, CAST(MAX(d) AS BIGINT) AS max_depth
        |FROM a GROUP BY anc ORDER BY anc""".stripMargin,
    "q_attribution" ->
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id, event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_c
        |  FROM events),
        |a AS (SELECT *, LAST_VALUE(CASE WHEN event_type = 'click' THEN k END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lck
        |  FROM e)
        |SELECT CAST(COALESCE(lck % 4, -1) AS BIGINT) AS channel,
        |  CAST(COUNT(*) AS BIGINT) AS n_purchases, CAST(SUM(v_c) AS BIGINT) AS revenue_c
        |FROM a WHERE event_type = 'purchase' GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_decayed_sum" ->
      """WITH e AS (SELECT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_c
        |  FROM events),
        |m AS (SELECT MIN(day) AS mind FROM e)
        |SELECT user_id, CAST(SUM(v_c << (day - mind)) AS BIGINT) AS score_sh,
        |  CAST(COUNT(*) AS BIGINT) AS n_events
        |FROM e, m GROUP BY user_id ORDER BY score_sh DESC, user_id""".stripMargin,
    "ingest_orphan_audit" ->
      """WITH r1 AS (SELECT 'lineitem.l_orderkey->orders' AS relation,
        |    CAST(COUNT(*) AS BIGINT) AS n_child,
        |    CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan
        |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |r2 AS (SELECT 'lineitem.l_partkey->part',
        |    CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey),
        |r3 AS (SELECT 'lineitem.l_suppkey->supplier',
        |    CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey),
        |r4 AS (SELECT 'orders.o_custkey->customer',
        |    CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey),
        |r5 AS (SELECT 'events.user_id->customer',
        |    CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey)
        |SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
        |UNION ALL SELECT * FROM r4 UNION ALL SELECT * FROM r5
        |ORDER BY relation""".stripMargin,
    "dlp_suppression_curve" ->
      """WITH sizes AS (SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS g
        |  FROM customer GROUP BY 1, 2),
        |tot AS (SELECT CAST(SUM(g) AS BIGINT) AS n_total FROM sizes),
        |ks AS (SELECT CAST(UNNEST([2, 5, 10, 20, 50]) AS BIGINT) AS k)
        |SELECT k,
        |  CAST(COALESCE((SELECT SUM(g) FROM sizes WHERE g < ks.k), 0) AS BIGINT) AS n_suppressed,
        |  CAST(COALESCE((SELECT SUM(g) FROM sizes WHERE g < ks.k), 0) * 10000
        |    // (SELECT n_total FROM tot) AS BIGINT) AS suppressed_bp
        |FROM ks ORDER BY k""".stripMargin,
    // pipeline_pack_sequences: pack budgets billed in iterated-ledger
    // tokenizer tokens (alpha words via tokw, non-alpha 1 each)
    "pipeline_pack_sequences" ->
      (BpeChainCte + """,
        |dw AS (SELECT source, doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |d AS (SELECT source, doc_id, CAST(SUM(COALESCE(n_tok, 1)) AS BIGINT) AS tok
        |  FROM dw LEFT JOIN tokw USING (word) GROUP BY 1, 2),
        |p AS (SELECT source, doc_id, tok,
        |    CAST(COALESCE(SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prefix
        |  FROM d)
        |SELECT source, CAST(prefix // 512 AS BIGINT) AS pack_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(tok) AS BIGINT) AS n_tokens,
        |  CAST(MIN(doc_id) AS BIGINT) AS first_doc,
        |  CAST(LEAST(SUM(tok), 512) * 10000 // 512 AS BIGINT) AS fill_bp
        |FROM p GROUP BY source, prefix // 512 ORDER BY source, pack_id""".stripMargin),
    "dedup_source_novelty" ->
      (s"""WITH $GramsCte,
         |x AS (SELECT doc_id, UNNEST(grams) AS gram FROM g),
         |f AS (SELECT gram, MIN(doc_id) AS first_doc FROM x GROUP BY 1),
         |j AS (SELECT x.doc_id,
         |    CASE WHEN x.doc_id = f.first_doc THEN 1 ELSE 0 END AS novel
         |  FROM x JOIN f USING (gram)),
         |s AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_grams,
         |    CAST(SUM(novel) AS BIGINT) AS n_novel
         |  FROM j JOIN documents d USING (doc_id) GROUP BY 1)
         |SELECT source, n_grams, n_novel,
         |  CAST(n_novel * 10000 // n_grams AS BIGINT) AS novelty_bp
         |FROM s ORDER BY source""".stripMargin),
    "q_changepoint" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS r
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, day, r,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n_days,
        |    SUM(r) OVER (PARTITION BY event_type) AS total,
        |    SUM(r) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pref,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        |  FROM daily),
        |s AS (SELECT event_type, day, n_days,
        |    pref * n_days - total * rn AS cusum_sc FROM c),
        |r AS (SELECT event_type, day, n_days, cusum_sc,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY abs(cusum_sc) DESC, day ASC) AS pick FROM s)
        |SELECT event_type, CAST(day AS BIGINT) AS cp_day,
        |  CAST(abs(cusum_sc) AS BIGINT) AS max_abs_cusum_sc,
        |  CAST(n_days AS BIGINT) AS n_days
        |FROM r WHERE pick = 1 ORDER BY event_type""".stripMargin,
    "mm_bytes_profile" ->
      """WITH b AS (SELECT doc_id, hex(CAST(text AS BLOB)) AS h,
        |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
        |  FROM documents),
        |x AS (SELECT doc_id, n_bytes,
        |    list_transform(range(1, CAST(n_bytes AS INT) + 1),
        |      i -> substring(h, (i-1)*2 + 1, 2)) AS bs
        |  FROM b),
        |c AS (SELECT doc_id, UNNEST(bs) AS byte FROM x),
        |m AS (SELECT doc_id, CAST(MAX(cnt) AS BIGINT) AS top_cnt,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct_bytes
        |  FROM (SELECT doc_id, byte, COUNT(*) AS cnt FROM c GROUP BY 1, 2)
        |  GROUP BY doc_id)
        |SELECT b.doc_id, b.n_bytes, m.n_distinct_bytes,
        |  CAST(m.top_cnt * 10000 // b.n_bytes AS BIGINT) AS top_byte_bp
        |FROM b JOIN m USING (doc_id) ORDER BY doc_id""".stripMargin,
    "embed_batch_drift" ->
      """WITH e AS (SELECT vec_id % 2 AS batch, CAST(label AS BIGINT) AS label,
        |    CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |d AS (SELECT label, batch, CAST(i AS BIGINT) AS dim,
        |    CAST(CAST(emb[i] AS DECIMAL(9,6)) * 1000000 AS BIGINT) AS vu
        |  FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t),
        |c AS (SELECT label, batch, dim, COUNT(*) AS n,
        |    (CAST(SUM(vu) AS BIGINT) + COUNT(*) * 1000000) // COUNT(*) - 1000000 AS m
        |  FROM d GROUP BY 1, 2, 3),
        |p AS (SELECT label, dim,
        |    MAX(CASE WHEN batch = 0 THEN m END) AS m0,
        |    MAX(CASE WHEN batch = 1 THEN m END) AS m1,
        |    MAX(CASE WHEN batch = 0 THEN n END) AS n0,
        |    MAX(CASE WHEN batch = 1 THEN n END) AS n1
        |  FROM c GROUP BY 1, 2)
        |SELECT label, CAST(MAX(n0) AS BIGINT) AS n_even, CAST(MAX(n1) AS BIGINT) AS n_odd,
        |  CAST(SUM((m0 - m1) * (m0 - m1)) AS BIGINT) AS drift_d2
        |FROM p GROUP BY label ORDER BY label""".stripMargin,
    "stream_static_enrich" ->
      """WITH p AS (SELECT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v_c
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.c_nationkey, p.day, CAST(COUNT(*) AS BIGINT) AS n_purchases,
        |  CAST(SUM(v_c) AS BIGINT) AS revenue_c
        |FROM p JOIN customer c ON p.user_id = c.c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "ann_filtered_topk" ->
      (s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
         |    CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cent AS (SELECT vec_id AS cent_id, emb AS ce FROM e WHERE vec_id < 8),
         |a AS (SELECT e.vec_id, e.label, e.emb, cent_id, ${duckCos("emb", "ce")} AS c FROM e CROSS JOIN cent),
         |cells AS (SELECT vec_id, label, emb, cent_id AS cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn FROM a) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, label AS ql, emb AS qe, cell FROM cells WHERE vec_id >= 8 AND vec_id < 18),
         |s AS (SELECT query_id, c2.vec_id, ${duckCos("qe", "emb")} AS c
         |  FROM q JOIN cells c2 USING (cell)
         |  WHERE c2.vec_id <> query_id AND c2.label = q.ql),
         |r AS (SELECT query_id, vec_id, CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS BIGINT) AS rank FROM s)
         |SELECT query_id, vec_id AS neighbor_id, rank FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    "q_yoy_growth" ->
      """WITH m AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
        |    CAST(month(o_orderdate) AS BIGINT) AS m,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_c
        |  FROM orders GROUP BY 1, 2),
        |l AS (SELECT y, m, rev_c,
        |    lag(y) OVER (PARTITION BY m ORDER BY y) AS py,
        |    lag(rev_c) OVER (PARTITION BY m ORDER BY y) AS pr
        |  FROM m)
        |SELECT y, m, rev_c,
        |  CASE WHEN py = y - 1 THEN pr END AS prev_rev_c,
        |  CAST(CASE WHEN py = y - 1 THEN
        |    ((rev_c - pr) * 10000 + pr * 1000000) // pr - 1000000 END AS BIGINT) AS growth_bp
        |FROM l ORDER BY y, m""".stripMargin,
    "q_retention_matrix" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS week FROM events),
        |c AS (SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY 1),
        |s AS (SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_cohort FROM c GROUP BY 1),
        |a AS (SELECT c.cohort_week, uw.week - c.cohort_week AS week_no,
        |    CAST(COUNT(*) AS BIGINT) AS n_active
        |  FROM uw JOIN c USING (user_id) GROUP BY 1, 2)
        |SELECT CAST(a.cohort_week AS BIGINT) AS cohort_week,
        |  CAST(week_no AS BIGINT) AS week_no, n_active, n_cohort,
        |  CAST(n_active * 10000 // n_cohort AS BIGINT) AS retained_bp
        |FROM a JOIN s USING (cohort_week) ORDER BY cohort_week, week_no""".stripMargin,
    "mm_chunk_dedup" ->
      """WITH d AS (SELECT doc_id, source, text, len(text) AS L FROM documents),
        |anch AS (SELECT source, text, L,
        |    list_sort(list_distinct(list_prepend(CAST(1 AS BIGINT),
        |      list_filter(range(1, greatest(L - 7, 0) + 1),
        |        i -> substring(md5(substring(text, CAST(i AS INT), 8)), 32, 1) = '0')))) AS starts
        |  FROM d),
        |x AS (SELECT source, UNNEST(list_transform(range(1, len(starts) + 1),
        |    i -> struct_pack(
        |      h := md5(substring(text, CAST(starts[i] AS INT),
        |        CAST((CASE WHEN i < len(starts) THEN starts[i+1] ELSE L + 1 END) - starts[i] AS INT))),
        |      ln := (CASE WHEN i < len(starts) THEN starts[i+1] ELSE L + 1 END) - starts[i]))) AS ch
        |  FROM anch),
        |cc AS (SELECT source, ch.h AS h, CAST(ch.ln AS BIGINT) AS len FROM x),
        |p AS (SELECT source, h, CAST(COUNT(*) AS BIGINT) AS n_copies,
        |    CAST(MAX(len) AS BIGINT) AS len FROM cc GROUP BY 1, 2)
        |SELECT source, CAST(SUM(n_copies) AS BIGINT) AS n_chunks,
        |  CAST(SUM(n_copies * len) AS BIGINT) AS stored_bytes,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
        |  CAST(SUM(len) AS BIGINT) AS distinct_bytes,
        |  CAST((SUM(n_copies * len) - SUM(len)) * 10000 // SUM(n_copies * len) AS BIGINT) AS reclaim_bp
        |FROM p GROUP BY source ORDER BY source""".stripMargin,
    "dlp_hotword_boost" ->
      (s"""WITH c AS (SELECT c_custkey, $ContactSql AS contact FROM customer),
         |t AS (SELECT c_custkey,
         |    CASE WHEN c_custkey % 3 = 0 THEN replace(contact, ' call ', ' ref ')
         |         ELSE contact END AS text FROM c),
         |p AS (SELECT c_custkey, text, strpos(text, '555-') AS pos FROM t)
         |SELECT c_custkey, substring(text, CAST(pos AS INT), 12) AS quote,
         |  CAST(CASE WHEN strpos(substring(text, CAST(GREATEST(pos - 10, 1) AS INT), 10), 'call') > 0
         |    THEN 1 ELSE 0 END AS BIGINT) AS hotword_hit,
         |  'POSSIBLE' AS base_likelihood,
         |  CASE WHEN strpos(substring(text, CAST(GREATEST(pos - 10, 1) AS INT), 10), 'call') > 0
         |    THEN 'VERY_LIKELY' ELSE 'POSSIBLE' END AS likelihood
         |FROM p WHERE pos > 0 ORDER BY c_custkey""".stripMargin),
    "ingest_split_balance" ->
      """WITH k1 AS (SELECT CAST(event_id AS BIGINT) AS k FROM events),
        |k2 AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS k FROM events),
        |s1 AS (SELECT 'event_id' AS split_key,
        |    LEAST((k - (SELECT MIN(k) FROM k1)) * 8
        |      // ((SELECT MAX(k) FROM k1) - (SELECT MIN(k) FROM k1) + 1), 7) AS split_id
        |  FROM k1),
        |s2 AS (SELECT 'value_cents' AS split_key,
        |    LEAST((k - (SELECT MIN(k) FROM k2)) * 8
        |      // ((SELECT MAX(k) FROM k2) - (SELECT MIN(k) FROM k2) + 1), 7) AS split_id
        |  FROM k2),
        |a AS (SELECT split_key, CAST(split_id AS BIGINT) AS split_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2) GROUP BY 1, 2),
        |t AS (SELECT split_key, CAST(SUM(n_rows) AS BIGINT) AS n_total FROM a GROUP BY 1)
        |SELECT a.split_key, a.split_id, a.n_rows,
        |  CAST(a.n_rows * 10000 // t.n_total AS BIGINT) AS share_bp
        |FROM a JOIN t USING (split_key) ORDER BY split_key, split_id""".stripMargin,
    "source_custom_dsv2" ->
      """WITH s AS (SELECT CAST(UNNEST(range(10000, 30000)) AS BIGINT) AS id)
        |SELECT id % 97 AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(md5(CAST(id AS VARCHAR))) AS min_h
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_bitmap_setops" ->
      """WITH e AS (SELECT DISTINCT event_type, user_id FROM events),
        |c AS (SELECT event_type, user_id // 32 AS chunk,
        |    (CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT)) AS m FROM e),
        |bm AS (SELECT event_type, chunk, bit_or(m) AS b FROM c GROUP BY 1, 2),
        |sz AS (SELECT event_type, CAST(SUM(bit_count(b)) AS BIGINT) AS n FROM bm GROUP BY 1),
        |ov AS (SELECT a.event_type AS type_a, b2.event_type AS type_b,
        |    CAST(SUM(bit_count(a.b & b2.b)) AS BIGINT) AS n_overlap
        |  FROM bm a JOIN bm b2 ON a.chunk = b2.chunk AND a.event_type < b2.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_overlap,
        |  CAST(n_overlap * 10000 // (sa.n + sb.n - n_overlap) AS BIGINT) AS jaccard_bp
        |FROM ov JOIN sz sa ON sa.event_type = type_a
        |JOIN sz sb ON sb.event_type = type_b
        |ORDER BY type_a, type_b""".stripMargin,
    "dedup_edit_distance" ->
      """WITH d AS (SELECT doc_id, text, substring(text, 1, 16) AS pfx,
        |    len(text) // 32 AS lb FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
        |FROM d a JOIN d b ON a.pfx = b.pfx AND a.lb = b.lb AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.text, b.text) <= 16
        |ORDER BY doc_a, doc_b""".stripMargin,
    // round 11 batch 8
    "q_transition_matrix" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type FROM events),
        |t AS (SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS from_type,
        |    event_type AS to_type FROM e),
        |c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM t WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM c GROUP BY 1)
        |SELECT c.from_type, to_type, n, CAST(n * 10000 // n_from AS BIGINT) AS bp
        |FROM c JOIN tot USING (from_type) ORDER BY from_type, to_type""".stripMargin,
    "q_funnel_windowed" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
        |  FROM events WHERE event_type IN ('signup', 'click', 'purchase')),
        |s1 AS (SELECT *, CASE WHEN event_type = 'signup' THEN us END AS s_q FROM e),
        |s2 AS (SELECT *, MAX(s_q) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS s_last FROM s1),
        |s3 AS (SELECT *, CASE WHEN event_type = 'click' AND s_last IS NOT NULL
        |    AND us - s_last <= 1800000000 THEN us END AS c_q FROM s2),
        |s4 AS (SELECT *, MAX(c_q) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS c_last FROM s3),
        |s5 AS (SELECT *, CASE WHEN event_type = 'purchase' AND c_last IS NOT NULL
        |    AND us - c_last <= 1800000000 THEN us END AS p_q FROM s4)
        |SELECT user_id, MIN(s_q) AS signup_us, MIN(c_q) AS wclick_us, MIN(p_q) AS wpurchase_us,
        |  CAST(CASE WHEN MIN(p_q) IS NOT NULL THEN 3 WHEN MIN(c_q) IS NOT NULL THEN 2
        |    WHEN MIN(s_q) IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
        |FROM s5 GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_rfm_segments" ->
      """WITH o AS (SELECT o_custkey, date_diff('day', DATE '1970-01-01', o_orderdate) AS day,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c FROM orders),
        |a AS (SELECT MAX(day) AS maxd FROM o),
        |rfm AS (SELECT o_custkey, CAST(MIN(maxd - day) AS BIGINT) AS recency_d,
        |    CAST(COUNT(*) AS BIGINT) AS frequency, CAST(SUM(price_c) AS BIGINT) AS monetary_c
        |  FROM o, a GROUP BY o_custkey),
        |rr AS (SELECT *, row_number() OVER (ORDER BY recency_d, o_custkey) AS rn,
        |    COUNT(*) OVER () AS n FROM rfm),
        |qr AS (SELECT MIN(CASE WHEN rn = GREATEST((n+1)//4, 1) THEN recency_d END) AS r1,
        |    MIN(CASE WHEN rn = GREATEST((n+1)//2, 1) THEN recency_d END) AS r2,
        |    MIN(CASE WHEN rn = GREATEST(3*(n+1)//4, 1) THEN recency_d END) AS r3 FROM rr),
        |rf AS (SELECT *, row_number() OVER (ORDER BY frequency, o_custkey) AS rn,
        |    COUNT(*) OVER () AS n FROM rfm),
        |qf AS (SELECT MIN(CASE WHEN rn = GREATEST((n+1)//4, 1) THEN frequency END) AS f1,
        |    MIN(CASE WHEN rn = GREATEST((n+1)//2, 1) THEN frequency END) AS f2,
        |    MIN(CASE WHEN rn = GREATEST(3*(n+1)//4, 1) THEN frequency END) AS f3 FROM rf),
        |rm AS (SELECT *, row_number() OVER (ORDER BY monetary_c, o_custkey) AS rn,
        |    COUNT(*) OVER () AS n FROM rfm),
        |qm AS (SELECT MIN(CASE WHEN rn = GREATEST((n+1)//4, 1) THEN monetary_c END) AS m1,
        |    MIN(CASE WHEN rn = GREATEST((n+1)//2, 1) THEN monetary_c END) AS m2,
        |    MIN(CASE WHEN rn = GREATEST(3*(n+1)//4, 1) THEN monetary_c END) AS m3 FROM rm),
        |seg AS (SELECT o_custkey, monetary_c,
        |    CAST((CASE WHEN recency_d <= r1 THEN 1 WHEN recency_d <= r2 THEN 2
        |        WHEN recency_d <= r3 THEN 3 ELSE 4 END) * 100 +
        |      (CASE WHEN frequency <= f1 THEN 1 WHEN frequency <= f2 THEN 2
        |        WHEN frequency <= f3 THEN 3 ELSE 4 END) * 10 +
        |      (CASE WHEN monetary_c <= m1 THEN 1 WHEN monetary_c <= m2 THEN 2
        |        WHEN monetary_c <= m3 THEN 3 ELSE 4 END) AS BIGINT) AS segment
        |  FROM rfm, qr, qf, qm)
        |SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(monetary_c) AS BIGINT) AS sum_monetary_c
        |FROM seg GROUP BY segment ORDER BY segment""".stripMargin,
    "embed_degree_hubs" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |eb AS (SELECT vec_id, emb,
         |  (CASE WHEN emb[1] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[2] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN emb[3] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[4] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN emb[5] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[6] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN emb[7] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[8] >= 0 THEN '1' ELSE '0' END) AS bucket FROM e),
         |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.emb AS ea, b.emb AS eb2
         |  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |c AS (SELECT vec_a, vec_b, ROUND(${duckCos("ea", "eb2")}, 4) AS cos FROM p),
         |pr AS (SELECT vec_a, vec_b FROM c WHERE cos >= 0.35),
         |d AS (SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS degree
         |  FROM (SELECT vec_a AS vec_id FROM pr UNION ALL SELECT vec_b FROM pr) GROUP BY 1),
         |al AS (SELECT e2.vec_id, COALESCE(d.degree, CAST(0 AS BIGINT)) AS degree
         |  FROM embeddings e2 LEFT JOIN d USING (vec_id))
         |SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |  MIN(vec_id) AS min_vec, MAX(vec_id) AS max_vec
         |FROM al GROUP BY degree ORDER BY degree""".stripMargin),
    "split_kfold" ->
      (s"""WITH d AS (SELECT doc_id, source, md5(text) AS th,
         |    ${TextOps.HashBucketSql} % 5 AS fold FROM documents),
         |g AS (SELECT th, fold, COUNT(*) AS cnt FROM d GROUP BY 1, 2),
         |l AS (SELECT th FROM g GROUP BY th HAVING COUNT(*) >= 2),
         |lf AS (SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_leaked FROM d JOIN l USING (th) GROUP BY 1),
         |f AS (SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources FROM d GROUP BY 1)
         |SELECT f.fold, n_docs, n_sources, COALESCE(n_leaked, CAST(0 AS BIGINT)) AS n_leaked
         |FROM f LEFT JOIN lf USING (fold) ORDER BY fold""".stripMargin),
    "dlp_column_profile" ->
      (s"""WITH t AS (SELECT c_name, $ContactSql AS contact, c_mktsegment,
         |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR) AS acctbal_s FROM customer),
         |u AS (SELECT 'c_name' AS column_name, c_name AS v FROM t
         |  UNION ALL SELECT 'contact', contact FROM t
         |  UNION ALL SELECT 'c_mktsegment', c_mktsegment FROM t
         |  UNION ALL SELECT 'c_acctbal', acctbal_s FROM t),
         |a AS (SELECT column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    CAST(SUM(CASE WHEN len(regexp_extract_all(v, '$EmailReSql')) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_email,
         |    CAST(SUM(CASE WHEN len(regexp_extract_all(v, '$PhoneReSql')) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_phone,
         |    CAST(SUM(CASE WHEN regexp_matches(v, '^-?[0-9]+(\\.[0-9]+)?$$') THEN 1 ELSE 0 END) AS BIGINT) AS n_number
         |  FROM u GROUP BY 1)
         |SELECT column_name, n_rows, n_email, n_phone, n_number,
         |  CASE WHEN n_email > 0 AND n_email >= n_phone AND n_email >= n_number THEN 'EMAIL_ADDRESS'
         |    WHEN n_phone > 0 AND n_phone >= n_number THEN 'PHONE_NUMBER'
         |    WHEN n_number > 0 THEN 'NUMBER' ELSE 'NONE' END AS predicted
         |FROM a ORDER BY column_name""".stripMargin),
    "ingest_freshness_lag" ->
      """WITH e AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |w AS (SELECT MAX(us) AS hwm_us FROM e)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events, MAX(us) AS last_us,
        |  CAST((hwm_us - MAX(us)) // 60000000 AS BIGINT) AS lag_min,
        |  CAST(SUM(CASE WHEN us > hwm_us - 86400000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_last_day,
        |  CAST(CASE WHEN hwm_us - MAX(us) > 3600000000 THEN 1 ELSE 0 END AS BIGINT) AS stale
        |FROM e, w GROUP BY event_type, hwm_us ORDER BY event_type""".stripMargin,
    // round 11 batch 9
    "text_winnowing" ->
      (s"""WITH pos AS (SELECT doc_id, text,
         |    CAST(unnest(range(1, greatest(len(text) - 15, 0) + 1)) AS BIGINT) AS i FROM documents),
         |h AS (SELECT doc_id, i, ${graft.functions.AnchorExprs.winnowHashSql("text", "i", 16)} AS hv FROM pos),
         |mn AS (SELECT doc_id, MIN(hv) OVER (PARTITION BY doc_id ORDER BY i
         |    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS f FROM h),
         |fp AS (SELECT DISTINCT doc_id, f FROM mn),
         |sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nf FROM fp GROUP BY 1),
         |rare AS (SELECT f FROM fp GROUP BY f HAVING COUNT(*) BETWEEN 2 AND 64),
         |sh AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
         |  FROM (SELECT doc_id, f FROM fp JOIN rare USING (f)) a
         |  JOIN (SELECT doc_id, f FROM fp JOIN rare USING (f)) b
         |    ON a.f = b.f AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_shared, sa.nf AS na, sb.nf AS nb,
         |  CAST(n_shared * 10000 // least(sa.nf, sb.nf) AS BIGINT) AS ov_bp
         |FROM sh JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE n_shared * 10000 // least(sa.nf, sb.nf) >= 2500
         |ORDER BY doc_a, doc_b""".stripMargin),
    "embed_silhouette" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |d AS (SELECT vec_id, label, CAST(i AS BIGINT) AS dim,
        |    CAST(CAST(emb[i] AS DECIMAL(9,6)) * 1000000 AS BIGINT) AS vu
        |  FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t),
        |c AS (SELECT label AS clabel, dim,
        |    (CAST(SUM(vu) AS BIGINT) + COUNT(*) * 1000000) // COUNT(*) - 1000000 AS m
        |  FROM d GROUP BY 1, 2),
        |dist AS (SELECT d.vec_id, d.label, c.clabel,
        |    CAST(SUM((vu - m) * (vu - m)) AS BIGINT) AS d2
        |  FROM d JOIN c ON c.dim = d.dim GROUP BY 1, 2, 3),
        |ab AS (SELECT vec_id, label,
        |    MIN(CASE WHEN clabel = label THEN d2 END) AS a2,
        |    MIN(CASE WHEN clabel <> label THEN d2 END) AS b2 FROM dist GROUP BY 1, 2),
        |s AS (SELECT vec_id, label,
        |    ((b2 - a2) * 10000 + 10000 * GREATEST(a2, b2, 1)) // GREATEST(a2, b2, 1) - 10000 AS s_bp
        |  FROM ab)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  CAST((SUM(s_bp) + 20000 * COUNT(*)) // COUNT(*) - 20000 AS BIGINT) AS mean_s_bp,
        |  CAST(SUM(CASE WHEN s_bp < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
        |FROM s GROUP BY label ORDER BY label""".stripMargin,
    "dedup_triangle_count" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |eb AS (SELECT vec_id, emb,
         |  (CASE WHEN emb[1] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[2] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN emb[3] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[4] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN emb[5] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[6] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN emb[7] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[8] >= 0 THEN '1' ELSE '0' END) AS bucket FROM e),
         |p0 AS (SELECT a.vec_id AS va, b.vec_id AS vb, a.emb AS ea, b.emb AS eb2
         |  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |cc AS (SELECT va, vb, ROUND(${duckCos("ea", "eb2")}, 4) AS cos FROM p0),
         |pr AS (SELECT va AS a, vb AS b FROM cc WHERE cos >= 0.35),
         |dg AS (SELECT v, COUNT(*) AS d FROM (SELECT a AS v FROM pr UNION ALL SELECT b FROM pr) GROUP BY 1),
         |ds AS (SELECT CAST(SUM(d) // 2 AS BIGINT) AS n_edges,
         |    CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM dg),
         |tr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
         |  FROM pr e1 JOIN pr e2 ON e1.b = e2.a
         |  WHERE EXISTS (SELECT 1 FROM pr e3 WHERE e3.a = e1.a AND e3.b = e2.b))
         |SELECT n_edges, n_wedges, n_triangles,
         |  CAST(CASE WHEN n_wedges > 0 THEN 3 * n_triangles * 10000 // n_wedges ELSE 0 END AS BIGINT) AS closure_bp
         |FROM ds, tr""".stripMargin),
    "q_top_paths" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type FROM events),
        |r AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn FROM e),
        |p AS (SELECT user_id,
        |    MIN(CASE WHEN rn = 1 THEN event_type END) AS t1,
        |    MIN(CASE WHEN rn = 2 THEN event_type END) AS t2,
        |    MIN(CASE WHEN rn = 3 THEN event_type END) AS t3
        |  FROM r WHERE rn <= 3 GROUP BY user_id),
        |c AS (SELECT concat_ws('>', t1, t2, t3) AS path, CAST(COUNT(*) AS BIGINT) AS n_users
        |  FROM p GROUP BY 1)
        |SELECT path, n_users FROM c ORDER BY n_users DESC, path LIMIT 20""".stripMargin,
    "ingest_backfill_plan" ->
      """WITH e AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr FROM events),
        |p AS (SELECT DISTINCT event_type, hr FROM e),
        |b AS (SELECT MIN(hr) AS h0, MAX(hr) AS h1 FROM e),
        |x AS (SELECT t.event_type, CAST(g.hr AS BIGINT) AS hr
        |  FROM (SELECT DISTINCT event_type FROM e) t
        |  CROSS JOIN (SELECT unnest(range((SELECT h0 FROM b), (SELECT h1 FROM b) + 1)) AS hr) g),
        |m AS (SELECT x.event_type, x.hr FROM x LEFT JOIN p
        |    ON p.event_type = x.event_type AND p.hr = x.hr WHERE p.hr IS NULL),
        |i AS (SELECT event_type, hr,
        |    hr - row_number() OVER (PARTITION BY event_type ORDER BY hr) AS grp FROM m)
        |SELECT event_type, CAST(MIN(hr) AS BIGINT) AS start_hr, CAST(MAX(hr) AS BIGINT) AS end_hr,
        |  CAST(COUNT(*) AS BIGINT) AS n_hours
        |FROM i GROUP BY event_type, grp ORDER BY event_type, start_hr""".stripMargin,
    // round 11 batch 10
    "dedup_bbit_minhash" ->
      (s"""WITH $GramsCte,
         |$SigCte,
         |bands AS (
         |  SELECT doc_id, 0 AS band_id, md5(h0 || h1) AS bk FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |j AS (SELECT doc_a, doc_b, $JaccExpr AS jacc
         |  FROM cand JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b),
         |p AS (SELECT doc_a, doc_b, jacc FROM j WHERE jacc >= 0.5),
         |m AS (SELECT doc_a, doc_b, jacc,
         |  CAST((${(0 until 8).map(j => s"(CASE WHEN sa.h$j = sb.h$j THEN 1 ELSE 0 END)").mkString(" + ")}) * 1250 AS BIGINT) AS est_bp,
         |  CAST(GREATEST((${(0 until 8).map(j =>
             s"(CASE WHEN (CASE WHEN substring(sa.h$j, 32, 1) IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE 0 END) = " +
             s"(CASE WHEN substring(sb.h$j, 32, 1) IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE 0 END) THEN 1 ELSE 0 END)").mkString(" + ")}) * 2500 - 10000, 0) AS BIGINT) AS bbit_est_bp
         |  FROM p JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b)
         |SELECT doc_a, doc_b, jacc, est_bp, bbit_est_bp,
         |  CAST(ABS(bbit_est_bp - est_bp) AS BIGINT) AS gap_bp
         |FROM m ORDER BY doc_a, doc_b""".stripMargin),
    "q_ab_lift" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |arms AS (SELECT user_id, user_id % 2 AS arm FROM u),
        |cv AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
        |g AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN cv.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS k
        |  FROM arms LEFT JOIN cv USING (user_id) GROUP BY arm),
        |pv AS (SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n_a,
        |    MAX(CASE WHEN arm = 1 THEN n END) AS n_b,
        |    MAX(CASE WHEN arm = 0 THEN k END) AS conv_a,
        |    MAX(CASE WHEN arm = 1 THEN k END) AS conv_b FROM g)
        |SELECT n_a, n_b, conv_a, conv_b,
        |  CAST(conv_a * 10000 // n_a AS BIGINT) AS conv_a_bp,
        |  CAST(conv_b * 10000 // n_b AS BIGINT) AS conv_b_bp,
        |  CAST(((conv_b * n_a - conv_a * n_b) * 10000 + 10000 * GREATEST(conv_a * n_b, 1)) // GREATEST(conv_a * n_b, 1) - 10000 AS BIGINT) AS lift_bp,
        |  CAST((conv_b * (n_a - conv_a)) * 10000 // GREATEST(conv_a * (n_b - conv_b), 1) AS BIGINT) AS odds_ratio_bp
        |FROM pv""".stripMargin,
    "q_cohort_funnel" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
        |  FROM events WHERE user_id IS NOT NULL AND event_type IN ('signup', 'click', 'purchase')),
        |s1 AS (SELECT *, CASE WHEN event_type = 'signup' THEN us END AS s_q FROM e),
        |s2 AS (SELECT *, MIN(s_q) OVER w AS s_prev FROM s1
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |s3 AS (SELECT *, CASE WHEN event_type = 'click' AND s_prev IS NOT NULL THEN us END AS c_q FROM s2),
        |s4 AS (SELECT *, MIN(c_q) OVER w AS c_prev FROM s3
        |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |s5 AS (SELECT *, CASE WHEN event_type = 'purchase' AND c_prev IS NOT NULL THEN us END AS p_q FROM s4),
        |per_user AS (SELECT user_id, MIN(s_q) AS signup_us,
        |    CAST(CASE WHEN MIN(p_q) IS NOT NULL THEN 3 WHEN MIN(c_q) IS NOT NULL THEN 2
        |      WHEN MIN(s_q) IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
        |  FROM s5 GROUP BY user_id)
        |SELECT CAST(signup_us // 604800000000 AS BIGINT) AS week,
        |  CAST(COUNT(*) AS BIGINT) AS n_signup,
        |  CAST(SUM(CASE WHEN stage >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked,
        |  CAST(SUM(CASE WHEN stage = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_purchased,
        |  CAST(SUM(CASE WHEN stage = 3 THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT) AS conv_bp
        |FROM per_user WHERE signup_us IS NOT NULL
        |GROUP BY 1 ORDER BY week""".stripMargin,
    "stream_transition_replay" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type FROM events),
        |t AS (SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS from_type,
        |    event_type AS to_type FROM e)
        |SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        |FROM t WHERE from_type IS NOT NULL GROUP BY 1, 2
        |ORDER BY from_type, to_type""".stripMargin,
    // round 11 batch 11
    "q_pagerank" -> {
      val iters = (1 to 3).map { t =>
        s"""s$t AS (SELECT e.dst AS node_id, CAST(SUM(r.r // e.deg) AS BIGINT) AS s
           |  FROM e JOIN r${t - 1} r ON r.node_id = e.src GROUP BY e.dst),
           |r$t AS (SELECT n.node_id, CAST(150000 + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS r
           |  FROM nodes n LEFT JOIN s$t s USING (node_id))""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) * 2 + 1 AS src,
         |    CAST(o_custkey AS BIGINT) * 2 AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |sym AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
         |deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY src),
         |e AS (SELECT sym.src, sym.dst, deg.deg FROM sym JOIN deg USING (src)),
         |nodes AS (SELECT CAST(c_custkey AS BIGINT) * 2 AS node_id FROM customer
         |  UNION ALL SELECT CAST(s_suppkey AS BIGINT) * 2 + 1 FROM supplier),
         |r0 AS (SELECT node_id, CAST(1000000 AS BIGINT) AS r FROM nodes),
         |$iters
         |SELECT r3.node_id,
         |  CASE WHEN r3.node_id % 2 = 1 THEN 'supplier' ELSE 'customer' END AS node_type,
         |  COALESCE(deg.deg, 0) AS degree, r3.r AS rank_u
         |FROM r3 LEFT JOIN deg ON deg.src = r3.node_id
         |ORDER BY rank_u DESC, node_id LIMIT 20""".stripMargin
    },
    "q_gini" ->
      """WITH sp AS (SELECT o_custkey, CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS spend
        |  FROM orders GROUP BY o_custkey),
        |x AS (SELECT c_mktsegment AS segment, o_custkey, spend, spend // 1000000 AS b
        |  FROM sp JOIN customer ON o_custkey = c_custkey),
        |rin AS (SELECT segment, o_custkey, spend, b,
        |  CAST(row_number() OVER (PARTITION BY segment, b ORDER BY spend, o_custkey) AS BIGINT) AS rn FROM x),
        |bc AS (SELECT segment, b, CAST(COUNT(*) AS BIGINT) AS cnt FROM x GROUP BY segment, b),
        |off AS (SELECT segment, b,
        |  CAST(COALESCE(SUM(cnt) OVER (PARTITION BY segment ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM bc),
        |g AS (SELECT rin.segment, CAST(COUNT(*) AS BIGINT) AS n_customers,
        |    CAST(SUM(spend) AS BIGINT) AS total_spend,
        |    CAST(SUM(spend // 100) AS BIGINT) AS total_d,
        |    CAST(SUM((off.off + rin.rn) * (spend // 100)) AS BIGINT) AS t
        |  FROM rin JOIN off ON off.segment = rin.segment AND off.b = rin.b
        |  GROUP BY rin.segment)
        |SELECT segment, n_customers, total_spend,
        |  CAST((2 * t - (n_customers + 1) * total_d) // GREATEST((n_customers * total_d) // 10000, 1) AS BIGINT) AS gini_bp
        |FROM g ORDER BY segment""".stripMargin,
    "q_benford" ->
      """WITH d AS (SELECT CAST(substring(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM orders WHERE o_totalprice >= 1),
        |g AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit),
        |t AS (SELECT digit, n, CAST(SUM(n) OVER () AS BIGINT) AS tot FROM g),
        |exp AS (SELECT * FROM (VALUES (1, 3010), (2, 1761), (3, 1249), (4, 969), (5, 792),
        |  (6, 669), (7, 580), (8, 512), (9, 458)) AS v(digit, exp_bp))
        |SELECT t.digit, t.n, CAST((t.n * 10000) // t.tot AS BIGINT) AS obs_bp,
        |  CAST(exp.exp_bp AS BIGINT) AS exp_bp,
        |  CAST(ABS((t.n * 10000) // t.tot - exp.exp_bp) AS BIGINT) AS dev_bp
        |FROM t JOIN exp ON exp.digit = t.digit ORDER BY t.digit""".stripMargin,
    "q_hhi" ->
      """WITH rev AS (SELECT l_suppkey,
        |    CAST(SUM(CAST(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem GROUP BY l_suppkey),
        |r2 AS (SELECT s_nationkey, rev FROM rev JOIN supplier ON l_suppkey = s_suppkey),
        |tot AS (SELECT s_nationkey, CAST(SUM(rev) AS BIGINT) AS tot FROM r2 GROUP BY s_nationkey),
        |sh AS (SELECT r2.s_nationkey, CAST((rev * 10000) // tot AS BIGINT) AS share_bp
        |  FROM r2 JOIN tot USING (s_nationkey)),
        |h AS (SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
        |    CAST(SUM(share_bp * share_bp) AS BIGINT) AS sq,
        |    CAST(MAX(share_bp) AS BIGINT) AS top_share_bp
        |  FROM sh GROUP BY s_nationkey)
        |SELECT n_name, n_suppliers, CAST(sq // 10000 AS BIGINT) AS hhi, top_share_bp
        |FROM h JOIN nation ON n_nationkey = s_nationkey ORDER BY n_name""".stripMargin,
    "dedup_sorted_neighborhood" ->
      (s"""WITH $GramsCte,
         |blk AS (SELECT doc_id, lang, n_chars, substring(text, 1, 12) AS blk FROM documents),
         |r AS (SELECT doc_id, lang, blk,
         |  CAST(row_number() OVER (PARTITION BY lang, blk ORDER BY n_chars, doc_id) AS BIGINT) AS rn FROM blk),
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, b.rn - a.rn AS wdist
         |  FROM r a JOIN r b ON a.lang = b.lang AND a.blk = b.blk AND b.rn - a.rn BETWEEN 1 AND 3),
         |j AS (SELECT doc_a, doc_b, CAST(wdist AS BIGINT) AS wdist, $JaccExpr AS jacc
         |  FROM cand JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b)
         |SELECT doc_a, doc_b, wdist, jacc FROM j WHERE jacc >= 0.3
         |ORDER BY doc_a, doc_b""".stripMargin),
    "embed_mutual_knn" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |eb AS (SELECT vec_id, emb,
         |  (CASE WHEN emb[1] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[2] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN emb[3] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[4] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN emb[5] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[6] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN emb[7] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[8] >= 0 THEN '1' ELSE '0' END) AS bucket FROM e),
         |p0 AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ROUND(${duckCos("a.emb", "b.emb")}, 4) AS cos
         |  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |p AS (SELECT vec_a, vec_b, cos FROM p0 WHERE cos >= 0.35),
         |sym AS (SELECT vec_a AS src, vec_b AS dst, cos FROM p
         |  UNION ALL SELECT vec_b, vec_a, cos FROM p),
         |knn AS (SELECT src, dst FROM (SELECT src, dst,
         |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM sym) WHERE rn <= 3),
         |mutual AS (SELECT a.src AS u, a.dst AS v FROM knn a JOIN knn b
         |  ON a.src = b.dst AND a.dst = b.src AND a.src < a.dst),
         |md AS (SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS mdeg FROM (
         |  SELECT u AS vec_id FROM mutual UNION ALL SELECT v FROM mutual) GROUP BY vec_id),
         |alln AS (SELECT e.vec_id, COALESCE(md.mdeg, 0) AS mutual_degree
         |  FROM e LEFT JOIN md USING (vec_id))
         |SELECT mutual_degree, CAST(COUNT(*) AS BIGINT) AS n_vecs
         |FROM alln GROUP BY mutual_degree ORDER BY mutual_degree""".stripMargin),
    "split_temporal" ->
      """WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, user_id FROM events),
        |b AS (SELECT MIN(us) + ((MAX(us) - MIN(us)) * 8) // 10 AS cutoff FROM e),
        |tagged AS (SELECT CASE WHEN us < cutoff THEN 'train' ELSE 'eval' END AS split, user_id
        |  FROM e CROSS JOIN b),
        |pu AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        |    CAST(SUM(CASE WHEN split = 'eval' THEN 1 ELSE 0 END) AS BIGINT) AS n_eval
        |  FROM tagged GROUP BY user_id),
        |span AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_span_users FROM pu WHERE n_train > 0 AND n_eval > 0),
        |sides AS (SELECT split, CAST(SUM(n) AS BIGINT) AS n_events, CAST(COUNT(*) AS BIGINT) AS n_users FROM (
        |    SELECT user_id, 'train' AS split, n_train AS n FROM pu WHERE n_train > 0
        |    UNION ALL SELECT user_id, 'eval', n_eval FROM pu WHERE n_eval > 0)
        |  GROUP BY split),
        |t AS (SELECT CAST(SUM(n_events) AS BIGINT) AS tot FROM sides)
        |SELECT split, n_events, n_users, CAST((n_events * 10000) // tot AS BIGINT) AS share_bp, n_span_users
        |FROM sides CROSS JOIN t CROSS JOIN span ORDER BY split""".stripMargin,
    // round 11 batch 12
    "q_basket_pairs" ->
      """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pn AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_p FROM b GROUP BY l_partkey),
        |no AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM b),
        |pr AS (SELECT a.l_partkey AS part_a, c.l_partkey AS part_b, CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
        |  GROUP BY 1, 2)
        |SELECT part_a, part_b, n_ab, pa.n_p AS n_a, pb.n_p AS n_b,
        |  CAST((n_ab * 10000) // pa.n_p AS BIGINT) AS conf_a_bp,
        |  CAST((n_ab * n_orders * 1000000) // (pa.n_p * pb.n_p) AS BIGINT) AS lift_u
        |FROM pr JOIN pn pa ON pa.l_partkey = part_a JOIN pn pb ON pb.l_partkey = part_b
        |CROSS JOIN no
        |ORDER BY n_ab DESC, lift_u DESC, part_a, part_b LIMIT 50""".stripMargin,
    "ann_graph_search" -> {
      val rounds = (1 to 2).map { t =>
        s"""c$t AS (SELECT DISTINCT query_id, cand FROM (
           |    SELECT query_id, cand FROM b${t - 1}
           |    UNION ALL SELECT b.query_id, g.dst FROM b${t - 1} b JOIN graph g ON g.src = b.cand)
           |  WHERE cand <> query_id),
           |s$t AS (SELECT c$t.query_id, cand, ROUND(${duckCos("q.qe", "e.emb")}, 4) AS cos
           |  FROM c$t JOIN e ON e.vec_id = cand JOIN q ON q.query_id = c$t.query_id),
           |b$t AS (SELECT query_id, cand, CAST(rn AS BIGINT) AS rn FROM (
           |  SELECT query_id, cand, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand) AS rn
           |  FROM s$t) WHERE rn <= 4)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |eb AS (SELECT vec_id, emb,
         |  (CASE WHEN emb[1] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[2] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN emb[3] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[4] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN emb[5] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[6] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN emb[7] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[8] >= 0 THEN '1' ELSE '0' END) AS bucket FROM e),
         |p0 AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ROUND(${duckCos("a.emb", "b.emb")}, 4) AS cos
         |  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |sym AS (SELECT vec_a AS src, vec_b AS dst, cos FROM p0
         |  UNION ALL SELECT vec_b, vec_a, cos FROM p0),
         |graph AS (SELECT src, dst FROM (SELECT src, dst,
         |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM sym) WHERE rn <= 4),
         |entry AS (SELECT DISTINCT cand FROM (
         |  SELECT src AS cand FROM graph WHERE src < 8
         |  UNION ALL SELECT MIN(src) FROM graph)),
         |q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id >= 8 AND vec_id < 18),
         |b0 AS (SELECT query_id, cand FROM q CROSS JOIN entry),
         |$rounds
         |SELECT query_id, cand AS neighbor_id, rn AS rank
         |FROM b2 ORDER BY query_id, rank""".stripMargin
    },
    "sample_class_balance" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
        |c AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_before FROM e GROUP BY label),
        |nm AS (SELECT MIN(n_before) AS n_min FROM c),
        |r AS (SELECT vec_id, label,
        |  CAST(row_number() OVER (PARTITION BY label ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS rn
        |  FROM e),
        |k AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_after, CAST(SUM(vec_id) AS BIGINT) AS kept_id_sum
        |  FROM r CROSS JOIN nm WHERE rn <= n_min GROUP BY label)
        |SELECT k.label, c.n_before, k.n_after,
        |  CAST(((c.n_before - k.n_after) * 10000) // c.n_before AS BIGINT) AS drop_bp,
        |  k.kept_id_sum
        |FROM k JOIN c USING (label) ORDER BY label""".stripMargin,
    "dlp_top_coding" ->
      """WITH c AS (SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS v FROM customer),
        |r AS (SELECT v, CAST(row_number() OVER (ORDER BY v, c_custkey) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n FROM c),
        |thr AS (SELECT MIN(CASE WHEN rn = GREATEST((19 * (n + 1)) // 20, 1) THEN v END) AS p95_c FROM r)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(MIN(p95_c) AS BIGINT) AS p95_c,
        |  CAST(SUM(CASE WHEN v > p95_c THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped,
        |  CAST(SUM(CASE WHEN v > p95_c THEN v - p95_c ELSE 0 END) AS BIGINT) AS excess_c,
        |  CAST(SUM(LEAST(v, p95_c)) AS BIGINT) AS winsor_sum_c
        |FROM c CROSS JOIN thr""".stripMargin,
    // round 11 batch 13
    "q_growth_accounting" ->
      """WITH uw AS (SELECT DISTINCT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS week
        |  FROM events WHERE user_id IS NOT NULL),
        |t AS (SELECT week, user_id,
        |    lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev_w,
        |    lead(week) OVER (PARTITION BY user_id ORDER BY week) AS next_w
        |  FROM uw),
        |tagged AS (SELECT week, user_id,
        |    CASE WHEN prev_w IS NULL THEN 'new'
        |         WHEN prev_w = week - 1 THEN 'retained'
        |         ELSE 'resurrected' END AS kind,
        |    CASE WHEN next_w IS NULL OR next_w > week + 1 THEN week + 1 END AS churn_week
        |  FROM t),
        |active AS (SELECT week, CAST(COUNT(*) AS BIGINT) AS n_active,
        |    CAST(SUM(CASE WHEN kind = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        |    CAST(SUM(CASE WHEN kind = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
        |    CAST(SUM(CASE WHEN kind = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        |  FROM tagged GROUP BY week),
        |ch AS (SELECT churn_week AS week, CAST(COUNT(*) AS BIGINT) AS n_churned
        |  FROM tagged WHERE churn_week IS NOT NULL GROUP BY churn_week)
        |SELECT CAST(active.week AS BIGINT) AS week, n_active, n_new, n_retained, n_resurrected,
        |  CAST(COALESCE(n_churned, 0) AS BIGINT) AS n_churned
        |FROM active LEFT JOIN ch ON ch.week = active.week ORDER BY week""".stripMargin,
    "q_countmin_audit" -> {
      // mirror of the Spark side: decode two md5 hex digits → byte % 64
      def bucketSql(d: Int) = {
        def hex(i: Int) =
          s"(strpos('0123456789abcdef', substring(md5(CAST($d AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), $i, 1)) - 1)"
        s"CAST((${hex(1)} * 16 + ${hex(2)}) % 64 AS BIGINT)"
      }
      val cells = (0 until 4).map(d => s"SELECT user_id, CAST($d AS BIGINT) AS d, ${bucketSql(d)} AS b FROM ev")
        .mkString("\nUNION ALL ")
      s"""WITH ev AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
         |cells AS ($cells),
         |sketch AS (SELECT d, b, CAST(COUNT(*) AS BIGINT) AS cnt FROM cells GROUP BY d, b),
         |exact AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_exact FROM ev GROUP BY user_id
         |  ORDER BY n_exact DESC, user_id LIMIT 10),
         |probes AS (SELECT e.user_id, e.n_exact, c.d, c.b
         |  FROM exact e JOIN (SELECT DISTINCT user_id, d, b FROM cells) c ON c.user_id = e.user_id),
         |est AS (SELECT user_id, n_exact, CAST(MIN(cnt) AS BIGINT) AS n_est
         |  FROM probes JOIN sketch USING (d, b) GROUP BY user_id, n_exact)
         |SELECT user_id, n_exact, n_est,
         |  CAST(((n_est - n_exact) * 10000) // n_exact AS BIGINT) AS over_bp
         |FROM est ORDER BY n_exact DESC, user_id""".stripMargin
    },
    "embed_pca_power" -> {
      def signSafe(x: String, m: String) =
        s"CASE WHEN $x >= 0 THEN ($x * 1000) // $m ELSE -((-($x) * 1000) // $m) END"
      s"""WITH d AS (SELECT vec_id, CAST(pos - 1 AS BIGINT) AS dim,
         |    CAST(CAST(v AS DECIMAL(9,3)) * 1000 AS BIGINT) AS vu
         |  FROM (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS v,
         |    generate_subscripts(CAST(embedding AS DOUBLE[]), 1) AS pos FROM embeddings)),
         |cov AS (SELECT a.dim AS j, b.dim AS k, CAST(SUM(a.vu * b.vu) AS BIGINT) AS c
         |  FROM d a JOIN d b ON a.vec_id = b.vec_id GROUP BY 1, 2),
         |x1 AS (SELECT j, CAST(SUM(c) AS BIGINT) AS x FROM cov GROUP BY j),
         |m1 AS (SELECT CAST(MAX(ABS(x)) AS BIGINT) AS m FROM x1),
         |x1n AS (SELECT j AS k, CAST(${signSafe("x", "GREATEST(m, 1)")} AS BIGINT) AS xn
         |  FROM x1 CROSS JOIN m1),
         |x2 AS (SELECT j, CAST(${signSafe("p", "1000")} AS BIGINT) AS x FROM (
         |  SELECT j, CAST(SUM(c * xn) AS BIGINT) AS p FROM cov JOIN x1n USING (k) GROUP BY j)),
         |m2 AS (SELECT CAST(MAX(ABS(x)) AS BIGINT) AS m FROM x2)
         |SELECT j AS dim, CAST(${signSafe("x", "GREATEST(m, 1)")} AS BIGINT) AS loading_milli
         |FROM x2 CROSS JOIN m2 ORDER BY dim""".stripMargin
    },
    // round 11 batch 15
    "q_dau_mau" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |  FROM events WHERE user_id IS NOT NULL),
        |dau AS (SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau FROM ud GROUP BY day),
        |ex AS (SELECT user_id, unnest(range(day, day + 28)) AS day FROM ud),
        |mau AS (SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau FROM ex GROUP BY day)
        |SELECT CAST(dau.day AS BIGINT) AS day, dau, mau,
        |  CAST((dau * 10000) // mau AS BIGINT) AS stickiness_bp
        |FROM dau JOIN mau ON mau.day = dau.day ORDER BY day""".stripMargin,
    "embed_label_precision" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, CAST(label AS BIGINT) AS label FROM embeddings),
         |eb AS (SELECT vec_id, emb,
         |  (CASE WHEN emb[1] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[2] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN emb[3] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[4] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN emb[5] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[6] >= 0 THEN '1' ELSE '0' END ||
         |   CASE WHEN emb[7] >= 0 THEN '1' ELSE '0' END || CASE WHEN emb[8] >= 0 THEN '1' ELSE '0' END) AS bucket FROM e),
         |p0 AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ROUND(${duckCos("a.emb", "b.emb")}, 4) AS cos
         |  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |j AS (SELECT CASE WHEN cos >= 0.7 THEN 'a_0.70+'
         |    WHEN cos >= 0.35 THEN 'b_0.35-0.70'
         |    WHEN cos >= 0.0 THEN 'c_0.00-0.35'
         |    ELSE 'd_neg' END AS band,
         |    CASE WHEN la.label = lb.label THEN 1 ELSE 0 END AS same
         |  FROM p0 JOIN e la ON la.vec_id = vec_a JOIN e lb ON lb.vec_id = vec_b)
         |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_pairs, CAST(SUM(same) AS BIGINT) AS n_same,
         |  CAST((SUM(same) * 10000) // COUNT(*) AS BIGINT) AS precision_bp
         |FROM j GROUP BY band ORDER BY band""".stripMargin),
    "q_dow_profile" ->
      """WITH g AS (SELECT event_type,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 + 4) % 7 AS dow,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(dow AS BIGINT) AS dow, n,
        |    CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS tot FROM g)
        |SELECT event_type, dow, n,
        |  CAST((n * 10000) // tot AS BIGINT) AS share_bp,
        |  CAST(ABS((n * 10000) // tot - 1428) AS BIGINT) AS dev_bp
        |FROM t ORDER BY event_type, dow""".stripMargin,
    // round 11 batch 16
    "stream_rate_limit" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE user_id IS NOT NULL),
        |r AS (SELECT user_id, us // 60000000 AS win,
        |    CAST(row_number() OVER (PARTITION BY user_id, us // 60000000 ORDER BY us, event_id) AS BIGINT) AS rn
        |  FROM e),
        |g AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(SUM(CASE WHEN rn > 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_throttled,
        |    CAST(MAX(rn) AS BIGINT) AS peak_rate,
        |    CAST(COUNT(DISTINCT win) AS BIGINT) AS n_windows
        |  FROM r GROUP BY user_id)
        |SELECT user_id, n_events, n_throttled, peak_rate, n_windows
        |FROM g ORDER BY n_events DESC, user_id LIMIT 20""".stripMargin,
    "text_keywords" -> {
      val stop = TextOps.RakeStop.map(w => s"'$w'").mkString(", ")
      s"""WITH w AS (SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
         |    unnest(string_split(text, ' ')) AS word FROM documents),
         |ns AS (SELECT doc_id, pos, word FROM w WHERE word NOT IN ($stop)),
         |g AS (SELECT doc_id, pos, word,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM ns),
         |ph AS (SELECT doc_id, grp, string_agg(word, ' ' ORDER BY pos) AS phrase,
         |    CAST(COUNT(*) AS BIGINT) AS len FROM g GROUP BY doc_id, grp),
         |f AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS f FROM g GROUP BY word),
         |deg AS (SELECT g.word, CAST(SUM(ph.len) AS BIGINT) AS deg
         |  FROM g JOIN ph ON ph.doc_id = g.doc_id AND ph.grp = g.grp GROUP BY g.word),
         |ws AS (SELECT word, CAST((deg * 1000) // f AS BIGINT) AS s FROM f JOIN deg USING (word)),
         |pd AS (SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occur,
         |    CAST(MIN(len) AS BIGINT) AS n_words FROM ph GROUP BY phrase),
         |px AS (SELECT phrase, unnest(string_split(phrase, ' ')) AS word FROM pd),
         |sc AS (SELECT phrase, CAST(SUM(s) AS BIGINT) AS score_milli FROM px JOIN ws USING (word) GROUP BY phrase)
         |SELECT pd.phrase, n_words, n_occur, score_milli
         |FROM pd JOIN sc USING (phrase)
         |ORDER BY score_milli DESC, phrase LIMIT 20""".stripMargin
    },
    // round 11 batch 17
    "q_forecast_backtest" ->
      """WITH weekly AS (SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 604800000000 AS week,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_c
        |  FROM orders GROUP BY 1),
        |r AS (SELECT week, rev_c,
        |    CAST(SUM(rev_c) OVER w AS BIGINT) AS s4,
        |    CAST(COUNT(rev_c) OVER w AS BIGINT) AS n_hist
        |  FROM weekly WINDOW w AS (ORDER BY week ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING))
        |SELECT CAST(week AS BIGINT) AS week, rev_c, CAST(s4 // 4 AS BIGINT) AS pred_c,
        |  CAST(ABS(rev_c - s4 // 4) AS BIGINT) AS abs_err_c,
        |  CAST((ABS(rev_c - s4 // 4) * 10000) // rev_c AS BIGINT) AS err_bp
        |FROM r WHERE n_hist = 4 ORDER BY week""".stripMargin,
    "q_return_rate" ->
      """WITH ud AS (SELECT DISTINCT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |  FROM events WHERE user_id IS NOT NULL),
        |ret AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_returned FROM (
        |    SELECT DISTINCT a.user_id, a.day FROM ud a JOIN ud b
        |      ON a.user_id = b.user_id AND b.day > a.day AND b.day <= a.day + 7)
        |  GROUP BY day),
        |act AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_active FROM ud GROUP BY day)
        |SELECT CAST(act.day AS BIGINT) AS day, n_active,
        |  CAST(COALESCE(n_returned, 0) AS BIGINT) AS n_returned,
        |  CAST((COALESCE(n_returned, 0) * 10000) // n_active AS BIGINT) AS return_bp
        |FROM act LEFT JOIN ret ON ret.day = act.day ORDER BY day""".stripMargin,
    // round 11 batch 18
    "q_supplier_spread" ->
      """WITH per AS (SELECT o_custkey,
        |    CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
        |    CAST(COUNT(DISTINCT s_nationkey) AS BIGINT) AS n_nations
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY o_custkey)
        |SELECT n_suppliers, CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(CASE WHEN n_nations >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_nation,
        |  CAST((SUM(CASE WHEN n_nations >= 2 THEN 1 ELSE 0 END) * 10000) // COUNT(*) AS BIGINT) AS multi_nation_bp
        |FROM per GROUP BY n_suppliers ORDER BY n_suppliers""".stripMargin,
    "ingest_row_width" -> {
      // (table, n_cols, fixed-width bytes, string cols, float-array cols)
      // — the PINNED expected schema per table; drift fails the gate
      val tables = Seq(
        ("customer", 5, 24, Seq("c_name", "c_mktsegment"), Seq.empty[String]),
        ("documents", 5, 16, Seq("text", "lang", "source"), Seq.empty[String]),
        ("embeddings", 3, 16, Seq.empty[String], Seq("embedding")),
        ("events", 6, 32, Seq("event_type", "props"), Seq.empty[String]),
        ("lineitem", 11, 72, Seq("l_returnflag", "l_linestatus"), Seq.empty[String]),
        ("nation", 3, 16, Seq("n_name"), Seq.empty[String]),
        ("orders", 6, 32, Seq("o_orderstatus", "o_orderpriority"), Seq.empty[String]),
        ("part", 6, 24, Seq("p_name", "p_brand", "p_type"), Seq.empty[String]),
        ("region", 2, 8, Seq("r_name"), Seq.empty[String]),
        ("supplier", 4, 24, Seq("s_name"), Seq.empty[String]))
      val selects = tables.map { case (t, nc, fixed, strs, arrs) =>
        val b = (Seq(fixed.toString) ++
          strs.map(c => s"COALESCE(length($c), 0)") ++
          arrs.map(c => s"COALESCE(len($c) * 4, 0)")).mkString(" + ")
        s"""SELECT '$t' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST($nc AS BIGINT) AS n_cols,
           |  CAST(SUM($b) // GREATEST(COUNT(*), 1) AS BIGINT) AS est_row_bytes,
           |  CAST(SUM($b) // 16777216 + 1 AS BIGINT) AS rec_splits
           |FROM $t""".stripMargin
      }
      selects.mkString("", "\nUNION ALL ", "\nORDER BY table_name")
    },
    // ---- round 12 additions ----
    "q_autocorr" ->
      """WITH day AS (SELECT CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP))) AS BIGINT) // 86400 AS dn,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100000) AS BIGINT) AS rev_k
        |  FROM orders GROUP BY 1),
        |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(rev_k) AS BIGINT) AS s FROM day),
        |dev AS (SELECT dn, rev_k - s // n AS dev FROM day CROSS JOIN stats),
        |v AS (SELECT CAST(SUM(dev * dev) AS BIGINT) AS v FROM dev),
        |l AS (SELECT * FROM (VALUES (1), (2), (3), (4), (5), (6), (7)) t(k)),
        |pairs AS (SELECT l.k, a.dev AS d1, b.dev AS d2
        |  FROM dev a CROSS JOIN l JOIN dev b ON a.dn + l.k = b.dn),
        |agg AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    CAST(SUM(d1 * d2) AS BIGINT) AS acov FROM pairs GROUP BY k)
        |SELECT CAST(k AS BIGINT) AS lag, n_pairs,
        |  CAST(CASE WHEN acov >= 0 THEN (acov * 10000) // v
        |       ELSE -((-acov * 10000) // v) END AS BIGINT) AS ac_bp
        |FROM agg CROSS JOIN v ORDER BY lag""".stripMargin,
    "q_cohort_ltv" ->
      """WITH o AS (SELECT o_custkey,
        |    CAST(year(o_orderdate) * 12 + (month(o_orderdate) - 1) AS BIGINT) AS m,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS sp FROM orders),
        |f AS (SELECT o_custkey, MIN(m) AS cm FROM o GROUP BY 1),
        |rev AS (SELECT cm, o.m - cm AS age, CAST(SUM(sp) AS BIGINT) AS rev
        |  FROM o JOIN f USING (o_custkey) GROUP BY 1, 2),
        |cs AS (SELECT cm, CAST(COUNT(*) AS BIGINT) AS n_customers FROM f GROUP BY 1),
        |c AS (SELECT rev.cm, age, n_customers, rev,
        |    CAST(SUM(rev) OVER (PARTITION BY rev.cm ORDER BY age
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rev
        |  FROM rev JOIN cs USING (cm))
        |SELECT concat(CAST(cm // 12 AS VARCHAR), '-', lpad(CAST(cm % 12 + 1 AS VARCHAR), 2, '0')) AS cohort_month,
        |  age, n_customers, rev, cum_rev,
        |  CAST(cum_rev // n_customers AS BIGINT) AS ltv_cents
        |FROM c ORDER BY cohort_month, age""".stripMargin,
    "q_interorder_gap" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |    CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP))) AS BIGINT) // 86400 AS dn FROM orders),
        |g AS (SELECT dn - lag(dn, 1) OVER (PARTITION BY o_custkey ORDER BY dn, o_orderkey) AS gap_days FROM o),
        |h AS (SELECT LEAST(gap_days // 7, 12) AS gap_weeks, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM g WHERE gap_days IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM h)
        |SELECT CAST(gap_weeks AS BIGINT) AS gap_weeks, n,
        |  CAST((n * 10000) // tot AS BIGINT) AS share_bp
        |FROM h CROSS JOIN t ORDER BY gap_weeks""".stripMargin,
    "dedup_method_agreement" ->
      (s"""WITH $GramsCte,
         |$SigCte,
         |bands AS (
         |  SELECT doc_id, 0 AS band_id, md5(h0 || h1) AS bk FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |mj AS (SELECT doc_a, doc_b FROM (SELECT doc_a, doc_b, $JaccExpr AS jacc
         |  FROM cand JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b) WHERE jacc >= 0.5),
         |mhf AS (SELECT DISTINCT doc_id FROM (SELECT doc_a AS doc_id FROM mj UNION ALL SELECT doc_b FROM mj)),
         |ncand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM documents a JOIN documents b ON a.n_chars // 32 = b.n_chars // 32 AND a.doc_id < b.doc_id),
         |nj AS (SELECT doc_a, doc_b FROM (SELECT doc_a, doc_b, $JaccExpr AS jacc
         |  FROM ncand JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b) WHERE jacc >= 0.5),
         |ngf AS (SELECT DISTINCT doc_id FROM (SELECT doc_a AS doc_id FROM nj UNION ALL SELECT doc_b FROM nj)),
         |exf AS (SELECT d.doc_id FROM documents d
         |  JOIN (SELECT md5(text) AS h FROM documents GROUP BY 1 HAVING COUNT(*) > 1) dup ON md5(d.text) = dup.h),
         |fl AS (SELECT d.doc_id,
         |    CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS fe,
         |    CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END AS fm,
         |    CASE WHEN n2.doc_id IS NOT NULL THEN 1 ELSE 0 END AS fg
         |  FROM documents d LEFT JOIN exf e ON e.doc_id = d.doc_id
         |  LEFT JOIN mhf m ON m.doc_id = d.doc_id
         |  LEFT JOIN ngf n2 ON n2.doc_id = d.doc_id),
         |a AS (SELECT CAST(SUM(fe) AS BIGINT) AS ne, CAST(SUM(fm) AS BIGINT) AS nm, CAST(SUM(fg) AS BIGINT) AS ng,
         |    CAST(SUM(fe * fm) AS BIGINT) AS nem, CAST(SUM(fe * fg) AS BIGINT) AS neg2, CAST(SUM(fm * fg) AS BIGINT) AS nmg,
         |    CAST(SUM(CASE WHEN fe + fm > 0 THEN 1 ELSE 0 END) AS BIGINT) AS uem,
         |    CAST(SUM(CASE WHEN fe + fg > 0 THEN 1 ELSE 0 END) AS BIGINT) AS ueg,
         |    CAST(SUM(CASE WHEN fm + fg > 0 THEN 1 ELSE 0 END) AS BIGINT) AS umg
         |  FROM fl)
         |SELECT 'exact' AS method_a, 'minhash' AS method_b, ne AS n_a, nm AS n_b,
         |  nem AS n_both, uem AS n_either,
         |  CAST((nem * 10000) // GREATEST(uem, 1) AS BIGINT) AS agree_bp FROM a
         |UNION ALL SELECT 'exact', 'ngram', ne, ng, neg2, ueg,
         |  CAST((neg2 * 10000) // GREATEST(ueg, 1) AS BIGINT) FROM a
         |UNION ALL SELECT 'minhash', 'ngram', nm, ng, nmg, umg,
         |  CAST((nmg * 10000) // GREATEST(umg, 1) AS BIGINT) FROM a
         |ORDER BY method_a, method_b""".stripMargin),
    "pipeline_dedup_token_audit" ->
      (s"""WITH $GramsCte,
         |$SigCte,
         |bands AS (
         |  SELECT doc_id, 0 AS band_id, md5(h0 || h1) AS bk FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |j AS (SELECT doc_a, doc_b, $JaccExpr AS jacc
         |  FROM cand JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b),
         |rm AS (SELECT DISTINCT doc_b AS doc_id FROM j WHERE jacc >= 0.5),
         |tk AS (SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS BIGINT) AS tok FROM documents)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(tok) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN rm.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_surv_docs,
         |  CAST(SUM(CASE WHEN rm.doc_id IS NULL THEN tok ELSE 0 END) AS BIGINT) AS surv_tokens,
         |  CAST(((SUM(tok) - SUM(CASE WHEN rm.doc_id IS NULL THEN tok ELSE 0 END)) * 10000) // SUM(tok) AS BIGINT) AS removed_bp
         |FROM tk LEFT JOIN rm ON rm.doc_id = tk.doc_id
         |GROUP BY source ORDER BY source""".stripMargin),
    "sample_cell_coverage" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cent AS (SELECT vec_id AS cent_id, emb AS ce FROM e WHERE vec_id < 8),
         |a AS (SELECT e.vec_id, cent_id, ${duckCos("emb", "ce")} AS c FROM e CROSS JOIN cent),
         |cells AS (SELECT vec_id, cent_id AS cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn FROM a) WHERE rn = 1),
         |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
         |cnt AS (SELECT label, COUNT(*) AS nb FROM lab GROUP BY 1),
         |nm AS (SELECT MIN(nb) AS n_min FROM cnt),
         |r AS (SELECT vec_id,
         |    CAST(row_number() OVER (PARTITION BY label ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS rn
         |  FROM lab),
         |kept AS (SELECT vec_id FROM r CROSS JOIN nm WHERE rn <= n_min),
         |bc AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_corpus,
         |    CAST(SUM(CASE WHEN k.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_sample
         |  FROM cells LEFT JOIN kept k ON k.vec_id = cells.vec_id GROUP BY cell),
         |t AS (SELECT CAST(SUM(n_corpus) AS BIGINT) AS tc, CAST(SUM(n_sample) AS BIGINT) AS ts FROM bc)
         |SELECT cell, n_corpus, n_sample,
         |  CAST((n_corpus * 10000) // tc AS BIGINT) AS corpus_bp,
         |  CAST((n_sample * 10000) // ts AS BIGINT) AS sample_bp,
         |  CAST((n_sample * 10000) // ts - (n_corpus * 10000) // tc AS BIGINT) AS delta_bp
         |FROM bc CROSS JOIN t ORDER BY cell""".stripMargin),
    "stream_new_users" ->
      """WITH f AS (SELECT user_id, MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS first_us
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1)
        |SELECT TIMESTAMP '1970-01-01 00:00:00' +
        |    INTERVAL ((first_us // 86400000000) * 86400) SECOND AS day,
        |  CAST(COUNT(*) AS BIGINT) AS n_new
        |FROM f GROUP BY 1 ORDER BY day""".stripMargin,
    "q_abc_class" ->
      """WITH pr AS (SELECT l_partkey,
        |    CAST(SUM(CAST(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1),
        |r AS (SELECT rev,
        |    CAST(SUM(rev // 10000) OVER (ORDER BY rev DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_d,
        |    CAST(SUM(rev // 10000) OVER () AS BIGINT) AS total_d FROM pr),
        |c AS (SELECT rev, total_d,
        |    CASE WHEN cum_d * 100 <= total_d * 80 THEN 'A'
        |         WHEN cum_d * 100 <= total_d * 95 THEN 'B'
        |         ELSE 'C' END AS abc_class FROM r)
        |SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
        |  CAST(SUM(rev) AS BIGINT) AS revenue,
        |  CAST(SUM(rev // 10000) * 10000 // MIN(total_d) AS BIGINT) AS share_bp
        |FROM c GROUP BY abc_class ORDER BY abc_class""".stripMargin,
    "q_duplicate_orders" ->
      """WITH g AS (SELECT o_custkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS sp,
        |    CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP))) AS BIGINT) // 86400 AS dn,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1, 2, 3),
        |h AS (SELECT n AS group_size, CAST(COUNT(*) AS BIGINT) AS n_groups,
        |    CAST(SUM(n) AS BIGINT) AS n_orders FROM g GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS tot FROM h)
        |SELECT group_size, n_groups, n_orders,
        |  CAST((n_orders * 10000) // tot AS BIGINT) AS share_bp
        |FROM h CROSS JOIN t ORDER BY group_size""".stripMargin,
    "dlp_generalization_ladder" -> {
      def level(lvl: Int, qi: String, g: String) =
        s"""SELECT CAST($lvl AS BIGINT) AS level, '$qi' AS qi,
           |  CAST(COUNT(*) AS BIGINT) AS n_groups, CAST(MIN(k) AS BIGINT) AS min_k,
           |  CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS n_suppressed,
           |  CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) * 10000 // SUM(k) AS BIGINT) AS suppressed_bp
           |FROM (SELECT c_mktsegment, $g AS g, CAST(COUNT(*) AS BIGINT) AS k
           |      FROM geo GROUP BY 1, 2)""".stripMargin
      s"""WITH geo AS (SELECT c_mktsegment, n_name, r_name
         |  FROM customer JOIN nation ON c_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey)
         |${level(0, "segment+nation", "n_name")}
         |UNION ALL ${level(1, "segment+region", "r_name")}
         |UNION ALL ${level(2, "segment", "'*'")}
         |ORDER BY level""".stripMargin
    },
    "text_charset_profile" ->
      """WITH d AS (SELECT source, CAST(length(text) AS BIGINT) AS nc,
        |    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS na,
        |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS nd,
        |    CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS BIGINT) AS ns
        |  FROM documents)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(nc) AS BIGINT) AS n_chars,
        |  CAST(SUM(na) * 10000 // SUM(nc) AS BIGINT) AS alpha_bp,
        |  CAST(SUM(nd) * 10000 // SUM(nc) AS BIGINT) AS digit_bp,
        |  CAST(SUM(ns) * 10000 // SUM(nc) AS BIGINT) AS space_bp,
        |  CAST((SUM(nc) - SUM(na) - SUM(nd) - SUM(ns)) * 10000 // SUM(nc) AS BIGINT) AS other_bp
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "embed_assign_margin" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cent AS (SELECT vec_id AS cent_id, emb AS ce FROM e WHERE vec_id < 8),
         |a AS (SELECT e.vec_id, cent_id, ${duckCos("emb", "ce")} AS c FROM e CROSS JOIN cent),
         |r AS (SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn FROM a),
         |m AS (SELECT vec_id,
         |    MAX(CASE WHEN rn = 1 THEN c END) - MAX(CASE WHEN rn = 2 THEN c END) AS marg
         |  FROM r WHERE rn <= 2 GROUP BY vec_id),
         |h AS (SELECT LEAST(CAST(FLOOR(marg * 1000) AS BIGINT) // 100, 9) AS margin_bucket,
         |    CAST(COUNT(*) AS BIGINT) AS n_vecs FROM m GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_vecs) AS BIGINT) AS tot FROM h)
         |SELECT CAST(margin_bucket AS BIGINT) AS margin_bucket, n_vecs,
         |  CAST((n_vecs * 10000) // tot AS BIGINT) AS share_bp
         |FROM h CROSS JOIN t ORDER BY margin_bucket""".stripMargin),
    "stream_dup_ratio" ->
      """WITH e AS (SELECT TIMESTAMP '1970-01-01 00:00:00' +
        |    INTERVAL ((CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 3600) * 3600) SECOND AS window_start,
        |  user_id, event_type FROM events)
        |SELECT window_start, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(COUNT(DISTINCT (user_id, event_type)) AS BIGINT) AS n_keys,
        |  CAST((COUNT(*) - COUNT(DISTINCT (user_id, event_type))) * 10000 // COUNT(*) AS BIGINT) AS dup_bp
        |FROM e GROUP BY 1 ORDER BY window_start""".stripMargin,
    "q_customer_lifespan" ->
      """WITH s AS (SELECT o_custkey,
        |    CAST(MAX(year(o_orderdate) * 12 + (month(o_orderdate) - 1))
        |       - MIN(year(o_orderdate) * 12 + (month(o_orderdate) - 1)) AS BIGINT) AS lifespan_months
        |  FROM orders GROUP BY 1),
        |h AS (SELECT lifespan_months, CAST(COUNT(*) AS BIGINT) AS n_customers FROM s GROUP BY 1),
        |c AS (SELECT lifespan_months, n_customers,
        |    CAST(SUM(n_customers) OVER (ORDER BY lifespan_months DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_surviving,
        |    CAST(SUM(n_customers) OVER () AS BIGINT) AS tot FROM h)
        |SELECT lifespan_months, n_customers, n_surviving,
        |  CAST((n_surviving * 10000) // tot AS BIGINT) AS surviving_bp
        |FROM c ORDER BY lifespan_months""".stripMargin,
    "dlp_sampling_risk" -> {
      def census(scope: String, where: String) =
        s"""SELECT '$scope' AS scope, CAST(COUNT(*) AS BIGINT) AS n_classes,
           |  CAST(MIN(k) AS BIGINT) AS min_k,
           |  CAST(SUM(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small,
           |  CAST(SUM(CASE WHEN k < 5 THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT) AS small_bp
           |FROM (SELECT c_mktsegment, c_nationkey, CAST(COUNT(*) AS BIGINT) AS k
           |      FROM customer $where GROUP BY 1, 2)""".stripMargin
      s"""${census("a_full", "")}
         |UNION ALL ${census("b_sample25",
        "WHERE strpos('0123456789abcdef', substring(md5(CAST(c_custkey AS VARCHAR)), 1, 1)) - 1 < 4")}
         |ORDER BY scope""".stripMargin
    },
    "dedup_shingle_sweep" -> {
      def gw(w: Int) =
        s"list_distinct(list_transform(range(1, greatest(len(w) - ${w - 1}, 1) + 1), " +
          s"i -> concat_ws(' ', ${(0 until w).map(k => s"w[i+$k]").mkString(", ")})))"
      def sweep(w: Int) =
        s"""SELECT CAST($w AS BIGINT) AS w, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           |  CAST(SUM(CASE WHEN jbp >= 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_ge50,
           |  CAST(SUM(jbp) // COUNT(*) AS BIGINT) AS mean_jacc_bp
           |FROM (SELECT (CAST(len(list_intersect(ga.g$w, gb.g$w)) AS BIGINT) * 10000)
           |        // CAST(len(list_distinct(ga.g$w || gb.g$w)) AS BIGINT) AS jbp
           |      FROM p JOIN gw$w ga ON ga.doc_id = p.doc_a
           |             JOIN gw$w gb ON gb.doc_id = p.doc_b)""".stripMargin
      s"""WITH $GramsCte,
         |$SigCte,
         |bands AS (
         |  SELECT doc_id, 0 AS band_id, md5(h0 || h1) AS bk FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |p AS (SELECT doc_a, doc_b FROM (SELECT doc_a, doc_b, $JaccExpr AS jacc
         |  FROM cand JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b) WHERE jacc >= 0.5),
         |gw2 AS (SELECT doc_id, ${gw(2)} AS g2 FROM doc),
         |gw3 AS (SELECT doc_id, ${gw(3)} AS g3 FROM doc),
         |gw5 AS (SELECT doc_id, ${gw(5)} AS g5 FROM doc)
         |${sweep(2)}
         |UNION ALL ${sweep(3)}
         |UNION ALL ${sweep(5)}
         |ORDER BY w""".stripMargin
    },
    "mm_phash_neardup" -> {
      val bits = (0 until 16).map { j =>
        val hexd = "0123456789abcdef".charAt(j)
        s"(CASE WHEN 16 * len(list_filter(bs, x -> substring(x, 1, 1) = '$hexd')) >= CAST(n_bytes AS INT) THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
      s"""WITH b AS (SELECT doc_id, hex(CAST(CAST(text AS BLOB) AS BLOB)) AS h,
         |    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes FROM documents),
         |bb AS (SELECT doc_id, n_bytes,
         |    list_transform(range(1, CAST(n_bytes AS INT) + 1), i -> substring(h, (i-1)*2+1, 2)) AS bs
         |  FROM b),
         |ph AS (SELECT doc_id, CAST($bits AS BIGINT) AS ph FROM bb),
         |bands AS (SELECT doc_id, ph, CAST(0 AS BIGINT) AS band, ph // 256 AS bk FROM ph
         |  UNION ALL SELECT doc_id, ph, 1, ph % 256 FROM ph),
         |near AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b, a.ph AS pha, b2.ph AS phb
         |  FROM bands a JOIN bands b2 ON a.band = b2.band AND a.bk = b2.bk AND a.doc_id < b2.doc_id),
         |nf AS (SELECT doc_a, doc_b FROM near WHERE bit_count(xor(pha, phb)) <= 3),
         |deg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_near FROM
         |  (SELECT doc_a AS doc_id FROM nf UNION ALL SELECT doc_b FROM nf) GROUP BY 1)
         |SELECT ph.doc_id, ph.ph, COALESCE(deg.n_near, 0) AS n_near
         |FROM ph LEFT JOIN deg ON deg.doc_id = ph.doc_id
         |ORDER BY ph.doc_id""".stripMargin
    },
    "stream_outage_minutes" ->
      """WITH m AS (SELECT DISTINCT event_type,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 60 AS mn FROM events),
        |g AS (SELECT event_type, mn,
        |    mn - lag(mn, 1) OVER (PARTITION BY event_type ORDER BY mn) AS gap FROM m)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_minutes,
        |  CAST(SUM(CASE WHEN gap > 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_outages,
        |  CAST(MAX(COALESCE(gap, 0)) AS BIGINT) AS max_gap_min,
        |  CAST((COUNT(*) * 10000) // (MAX(mn) - MIN(mn) + 1) AS BIGINT) AS uptime_bp
        |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_trade_balance" ->
      """WITH flow AS (SELECT CAST(s_nationkey AS BIGINT) AS sn, CAST(c_nationkey AS BIGINT) AS cn,
        |    CAST(SUM(CAST(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4)) * 10000 AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |ex AS (SELECT sn AS nk,
        |    CAST(SUM(CASE WHEN sn <> cn THEN rev ELSE 0 END) AS BIGINT) AS exports,
        |    CAST(SUM(CASE WHEN sn = cn THEN rev ELSE 0 END) AS BIGINT) AS domestic
        |  FROM flow GROUP BY 1),
        |im AS (SELECT cn AS nk,
        |    CAST(SUM(CASE WHEN sn <> cn THEN rev ELSE 0 END) AS BIGINT) AS imports
        |  FROM flow GROUP BY 1)
        |SELECT n_name, COALESCE(exports, 0) AS exports, COALESCE(imports, 0) AS imports,
        |  COALESCE(domestic, 0) AS domestic,
        |  COALESCE(exports, 0) - COALESCE(imports, 0) AS balance
        |FROM ex FULL JOIN im USING (nk)
        |JOIN nation ON CAST(n_nationkey AS BIGINT) = nk
        |ORDER BY n_name""".stripMargin,
    "q_weekly_volatility" ->
      """WITH wk AS (SELECT CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP))) AS BIGINT) // 604800 AS wn,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100) AS BIGINT) AS rev_d
        |  FROM orders GROUP BY 1),
        |mr AS (SELECT rev_d, CAST(row_number() OVER (ORDER BY rev_d, wn) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n FROM wk),
        |med AS (SELECT rev_d AS m FROM mr WHERE rn = GREATEST((n + 1) // 2, 1)),
        |dev AS (SELECT wn, rev_d, ABS(rev_d - m) AS ad, m FROM wk CROSS JOIN med),
        |ar AS (SELECT ad, CAST(row_number() OVER (ORDER BY ad, wn) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER () AS BIGINT) AS n FROM dev),
        |mad AS (SELECT ad AS mad FROM ar WHERE rn = GREATEST((n + 1) // 2, 1))
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_weeks, CAST(MAX(m) AS BIGINT) AS median_d,
        |  CAST(MIN(mad) AS BIGINT) AS mad_d,
        |  CAST((MIN(mad) * 10000) // GREATEST(MAX(m), 1) AS BIGINT) AS volatility_bp
        |FROM dev CROSS JOIN mad""".stripMargin,
    "ingest_distinctness_profile" -> {
      def one(name: String, v: String) =
        s"SELECT '$name' AS column_name, $v AS v FROM customer"
      s"""WITH vals AS (
         |${one("c_custkey", "CAST(c_custkey AS VARCHAR)")}
         |UNION ALL ${one("c_name", "c_name")}
         |UNION ALL ${one("c_mktsegment", "c_mktsegment")}
         |UNION ALL ${one("c_nationkey", "CAST(c_nationkey AS VARCHAR)")}),
         |g AS (SELECT column_name, v, CAST(COUNT(*) AS BIGINT) AS nv FROM vals GROUP BY 1, 2)
         |SELECT column_name, CAST(SUM(nv) AS BIGINT) AS n_rows,
         |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
         |  CAST(COUNT(*) * 10000 // SUM(nv) AS BIGINT) AS distinct_bp,
         |  CAST(MAX(nv) * 10000 // SUM(nv) AS BIGINT) AS top_share_bp,
         |  CAST(CASE WHEN COUNT(*) = SUM(nv) THEN 1 ELSE 0 END AS BIGINT) AS pk_candidate
         |FROM g GROUP BY column_name ORDER BY column_name""".stripMargin
    },
    "stream_mix_drift" ->
      """WITH e AS (SELECT TIMESTAMP '1970-01-01 00:00:00' +
        |    INTERVAL ((CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) // 3600) * 3600) SECOND AS window_start,
        |  event_type FROM events),
        |b AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nb FROM e GROUP BY 1),
        |bt AS (SELECT CAST(SUM(nb) AS BIGINT) AS tb FROM b),
        |base AS (SELECT event_type, CAST((nb * 10000) // tb AS BIGINT) AS base_bp FROM b CROSS JOIN bt),
        |w AS (SELECT window_start, event_type, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |ws AS (SELECT window_start, event_type, n,
        |    CAST((n * 10000) // SUM(n) OVER (PARTITION BY window_start) AS BIGINT) AS win_bp FROM w),
        |d AS (SELECT ws.window_start, ws.event_type, ws.n, ws.win_bp, base.base_bp,
        |    ws.win_bp - base.base_bp AS delta_bp FROM ws JOIN base USING (event_type))
        |SELECT window_start, event_type, n, win_bp, base_bp, delta_bp,
        |  CAST(SUM(ABS(delta_bp)) OVER (PARTITION BY window_start) // 2 AS BIGINT) AS tv_bp
        |FROM d ORDER BY window_start, event_type""".stripMargin,
    "q_backlog_aging" ->
      """WITH o AS (SELECT CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP))) AS BIGINT) // 86400 AS dn,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS sp
        |  FROM orders WHERE o_orderstatus = 'O'),
        |hw AS (SELECT MAX(dn) AS hw FROM o),
        |h AS (SELECT LEAST((hw - dn) // 90, 8) AS age_quarters,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders, CAST(SUM(sp) AS BIGINT) AS value_cents,
        |    CAST(SUM(sp // 100) AS BIGINT) AS value_d
        |  FROM o CROSS JOIN hw GROUP BY 1),
        |t AS (SELECT CAST(SUM(value_d) AS BIGINT) AS tot FROM h)
        |SELECT CAST(age_quarters AS BIGINT) AS age_quarters, n_orders, value_cents,
        |  CAST((value_d * 10000) // tot AS BIGINT) AS value_share_bp
        |FROM h CROSS JOIN t ORDER BY age_quarters""".stripMargin,
    "pipeline_quality_matrix" ->
      (s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |q AS (SELECT doc_id,
         |  CAST(len(w) AS BIGINT) AS n_words,
         |  ${TextOps.LangMarkers.map { case (_, ws) => langHits(ws) }.mkString(" + ")} AS marker_hits,
         |  CAST((len(w) - len(list_distinct(w))) * 10000 // len(w) AS BIGINT) AS dup_word_bp
         |FROM t),
         |f AS (SELECT d.source,
         |  CASE WHEN q.n_words < 5 THEN 1 ELSE 0 END AS f_short,
         |  CASE WHEN q.marker_hits = 0 THEN 1 ELSE 0 END AS f_lang,
         |  CASE WHEN q.dup_word_bp > 3000 THEN 1 ELSE 0 END AS f_rep
         |  FROM q JOIN documents d ON d.doc_id = q.doc_id)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(f_short) AS BIGINT) AS n_short,
         |  CAST(SUM(f_lang) AS BIGINT) AS n_unknown_lang,
         |  CAST(SUM(f_rep) AS BIGINT) AS n_repetitive,
         |  CAST(SUM(CASE WHEN f_short + f_lang + f_rep > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_any_fail,
         |  CAST((COUNT(*) - SUM(CASE WHEN f_short + f_lang + f_rep > 0 THEN 1 ELSE 0 END)) * 10000 // COUNT(*) AS BIGINT) AS pass_bp
         |FROM f GROUP BY source ORDER BY source""".stripMargin),
    "ann_lsh_bucket_profile" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |b AS (SELECT vec_id, concat(
        |    CASE WHEN emb[1] >= 0 THEN '1' ELSE '0' END, CASE WHEN emb[2] >= 0 THEN '1' ELSE '0' END,
        |    CASE WHEN emb[3] >= 0 THEN '1' ELSE '0' END, CASE WHEN emb[4] >= 0 THEN '1' ELSE '0' END,
        |    CASE WHEN emb[5] >= 0 THEN '1' ELSE '0' END, CASE WHEN emb[6] >= 0 THEN '1' ELSE '0' END,
        |    CASE WHEN emb[7] >= 0 THEN '1' ELSE '0' END, CASE WHEN emb[8] >= 0 THEN '1' ELSE '0' END) AS bucket
        |  FROM e),
        |s AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY 1),
        |h AS (SELECT n AS bucket_size, CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |    CAST(n * COUNT(*) AS BIGINT) AS n_vecs,
        |    CAST((n * (n - 1) // 2) * COUNT(*) AS BIGINT) AS pair_work FROM s GROUP BY 1),
        |t AS (SELECT CAST(SUM(pair_work) AS BIGINT) AS tot FROM h)
        |SELECT bucket_size, n_buckets, n_vecs, pair_work,
        |  CAST((pair_work * 10000) // GREATEST(tot, 1) AS BIGINT) AS work_share_bp
        |FROM h CROSS JOIN t ORDER BY bucket_size""".stripMargin,
    "ingest_type_infer" -> {
      def one(name: String, v: String) =
        s"SELECT '$name' AS column_name, $v AS v FROM orders"
      s"""WITH vals AS (
         |${one("o_orderkey", "CAST(o_orderkey AS VARCHAR)")}
         |UNION ALL ${one("o_custkey", "CAST(o_custkey AS VARCHAR)")}
         |UNION ALL ${one("o_totalprice", "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)")}
         |UNION ALL ${one("o_orderdate", "strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d')")}
         |UNION ALL ${one("o_orderpriority", "o_orderpriority")}),
         |c AS (SELECT column_name, CAST(COUNT(*) AS BIGINT) AS n_values,
         |  CAST(SUM(CASE WHEN regexp_matches(v, '^-?[0-9]+$$') THEN 1 ELSE 0 END) AS BIGINT) AS n_int,
         |  CAST(SUM(CASE WHEN regexp_matches(v, '^-?[0-9]+(\\.[0-9]+)?$$') THEN 1 ELSE 0 END) AS BIGINT) AS n_num,
         |  CAST(SUM(CASE WHEN regexp_matches(v, '^[0-9]{4}-[0-9]{2}-[0-9]{2}$$') THEN 1 ELSE 0 END) AS BIGINT) AS n_date
         |FROM vals GROUP BY 1)
         |SELECT column_name, n_values, n_int, n_num, n_date,
         |  CASE WHEN n_int = n_values THEN 'BIGINT'
         |       WHEN n_num = n_values THEN 'DOUBLE'
         |       WHEN n_date = n_values THEN 'DATE'
         |       ELSE 'VARCHAR' END AS inferred_type
         |FROM c ORDER BY column_name""".stripMargin
    },
    "ingest_composite_key" ->
      """WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS d1,
        |    CAST(COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT) AS d2,
        |    CAST(COUNT(DISTINCT (l_orderkey, l_partkey)) AS BIGINT) AS d3,
        |    CAST(COUNT(DISTINCT (l_orderkey, l_partkey, l_suppkey)) AS BIGINT) AS d4
        |  FROM lineitem),
        |u AS (SELECT 'l_orderkey' AS candidate, CAST(1 AS BIGINT) AS arity, n_rows, d1 AS n_distinct FROM a
        |UNION ALL SELECT 'l_orderkey,l_linenumber', 2, n_rows, d2 FROM a
        |UNION ALL SELECT 'l_orderkey,l_partkey', 2, n_rows, d3 FROM a
        |UNION ALL SELECT 'l_orderkey,l_partkey,l_suppkey', 3, n_rows, d4 FROM a)
        |SELECT candidate, arity, n_rows, n_distinct,
        |  n_rows - n_distinct AS dup_rows,
        |  CAST(((n_rows - n_distinct) * 10000) // n_rows AS BIGINT) AS dup_bp,
        |  CAST(CASE WHEN n_distinct = n_rows THEN 1 ELSE 0 END AS BIGINT) AS is_key
        |FROM u ORDER BY candidate""".stripMargin,
    "load_bucket_pruning" ->
      """SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders WHERE o_custkey IN (7, 77, 777)
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "load_partition_evolution" ->
      """WITH cells AS (SELECT year(o_orderdate) * 100 + month(o_orderdate) AS old_part,
        |    o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1, 2)
        |SELECT CAST(old_part AS BIGINT) AS old_part,
        |  CAST(SUM(n) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) AS BIGINT) AS n_targets,
        |  CAST(SUM(n) * 96 AS BIGINT) AS rewrite_bytes,
        |  CAST(CASE WHEN COUNT(*) > 1 THEN 1 ELSE 0 END AS BIGINT) AS needs_rewrite
        |FROM cells GROUP BY old_part ORDER BY old_part""".stripMargin,
    "q_ols_trend" ->
      """WITH daily AS (SELECT o_orderpriority,
        |    CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP))) AS BIGINT) // 86400 AS dn,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100000) AS BIGINT) AS y
        |  FROM orders GROUP BY 1, 2),
        |a AS (SELECT MIN(dn) AS d0 FROM daily),
        |s AS (SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(dn - d0) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM((dn - d0) * y) AS BIGINT) AS sxy,
        |    CAST(SUM((dn - d0) * (dn - d0)) AS BIGINT) AS sxx
        |  FROM daily CROSS JOIN a GROUP BY 1),
        |nd AS (SELECT o_orderpriority, n_days, sy,
        |    n_days * sxy - sx * sy AS num, n_days * sxx - sx * sx AS den FROM s),
        |qr AS (SELECT o_orderpriority, n_days, sy, den,
        |    CASE WHEN num >= 0 THEN num // den ELSE -((-num) // den) END AS q,
        |    num - (CASE WHEN num >= 0 THEN num // den ELSE -((-num) // den) END) * den AS r
        |  FROM nd)
        |SELECT o_orderpriority, n_days, sy AS total_rev_k,
        |  CAST(q * 1000000 + (CASE WHEN r >= 0 THEN (r * 1000000) // den
        |    ELSE -((-r * 1000000) // den) END) AS BIGINT) AS slope_micro_k
        |FROM qr ORDER BY o_orderpriority""".stripMargin,
    "mm_resolution_bucket" ->
      """WITH dims AS (SELECT CAST(128 + ascii(substr(md5(text), 1, 1)) AS BIGINT) AS w,
        |    CAST(128 + ascii(substr(md5(text), 2, 1)) AS BIGINT) AS h FROM documents),
        |byar AS (SELECT (w * 1000) // h AS ar_milli, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(w * h) AS BIGINT) AS px FROM dims GROUP BY 1),
        |ladder AS (SELECT * FROM (VALUES (750, 768, 1024), (875, 896, 1024),
        |    (1000, 1024, 1024), (1143, 1024, 896), (1333, 1024, 768)) t(ar_t, tw, th)),
        |ranked AS (SELECT byar.ar_milli, byar.n, byar.px, ladder.ar_t, ladder.tw, ladder.th,
        |    row_number() OVER (PARTITION BY byar.ar_milli
        |      ORDER BY abs(byar.ar_milli - ladder.ar_t), ladder.ar_t) AS rk
        |  FROM byar CROSS JOIN ladder)
        |SELECT CAST(ar_t AS BIGINT) AS bucket_ar, CAST(tw AS BIGINT) AS target_w,
        |  CAST(th AS BIGINT) AS target_h, CAST(SUM(n) AS BIGINT) AS n_assets,
        |  CAST(MIN(ar_milli) AS BIGINT) AS min_ar, CAST(MAX(ar_milli) AS BIGINT) AS max_ar,
        |  CAST(SUM(px) AS BIGINT) AS src_pixels
        |FROM ranked WHERE rk = 1
        |GROUP BY 1, 2, 3 ORDER BY bucket_ar""".stripMargin,
    // round 12 batch 8: outer attribution join, boilerplate screen,
    // clustering-depth audit, vault key rotation, hard negatives
    "stream_event_join_outer" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |c AS (SELECT event_id AS click_id, user_id, us AS click_us FROM e WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id AS p_user, us AS purchase_us FROM e WHERE event_type = 'purchase')
        |SELECT c.user_id, click_id, purchase_id,
        |  purchase_us - click_us AS lag_us,
        |  CAST(CASE WHEN purchase_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS matched
        |FROM c LEFT JOIN p ON c.user_id = p.p_user
        |  AND purchase_us > click_us AND purchase_us <= click_us + 3600000000
        |ORDER BY user_id, click_id, purchase_id""".stripMargin,
    "text_boilerplate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |seg AS (SELECT doc_id, md5(array_to_string(ws[i*8+1 : i*8+8], ' ')) AS h
        |  FROM w, (SELECT unnest(range(0, 16)) AS i) g
        |  WHERE len(ws) >= (i+1)*8),
        |b AS (SELECT h FROM seg GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 3),
        |d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs,
        |    CAST(SUM(CASE WHEN h IN (SELECT h FROM b) THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
        |  FROM seg GROUP BY doc_id)
        |SELECT doc_id, n_segs, n_boiler,
        |  CAST((n_boiler * 10000) // n_segs AS BIGINT) AS boiler_bp
        |FROM d WHERE n_boiler > 0 ORDER BY doc_id""".stripMargin,
    "layout_cluster_depth" ->
      """WITH f AS (SELECT CAST(year(l_shipdate)*10000 + month(l_shipdate)*100 + day(l_shipdate) AS BIGINT) AS file_key,
        |    CAST(MIN(l_orderkey) AS BIGINT) AS rmin, CAST(MAX(l_orderkey) AS BIGINT) AS rmax
        |  FROM lineitem GROUP BY 1),
        |pts AS (SELECT p, CAST(SUM(d) AS BIGINT) AS d FROM (
        |    SELECT rmin AS p, 1 AS d FROM f UNION ALL SELECT rmax + 1, -1 FROM f) u GROUP BY p),
        |sw AS (SELECT p, SUM(d) OVER (ORDER BY p) AS depth,
        |    lead(p) OVER (ORDER BY p) AS next_p FROM pts),
        |segs AS (SELECT depth, next_p - p AS span FROM sw WHERE depth > 0 AND next_p IS NOT NULL),
        |t AS (SELECT SUM(span) AS covered FROM segs)
        |SELECT CAST(depth AS BIGINT) AS depth, CAST(COUNT(*) AS BIGINT) AS n_segments,
        |  CAST(SUM(span) AS BIGINT) AS span_keys,
        |  CAST((SUM(span) * 10000) // MAX(covered) AS BIGINT) AS span_bp
        |FROM segs CROSS JOIN t GROUP BY depth ORDER BY depth""".stripMargin,
    "dlp_vault_rotation" ->
      """WITH rows_t AS (SELECT c_custkey, 'TOK_' || substr(sha256('det-key:' || c_name), 1, 32) AS old_token FROM customer),
        |rot AS (SELECT DISTINCT 'TOK_' || substr(sha256('det-key:' || c_name), 1, 32) AS old_token,
        |    'TOK_' || substr(sha256('det-key-v2:' || c_name), 1, 32) AS new_token FROM customer),
        |g AS (SELECT old_token, new_token, CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM rows_t JOIN rot USING (old_token) GROUP BY 1, 2)
        |SELECT old_token, new_token, n_rows,
        |  CAST(CASE WHEN COUNT(*) OVER (PARTITION BY new_token) > 1 THEN 1 ELSE 0 END AS BIGINT) AS collided
        |FROM g ORDER BY old_token""".stripMargin,
    "sample_hard_negatives" ->
      (s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
         |    CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cent AS (SELECT vec_id AS cent_id, emb AS ce FROM e WHERE vec_id < 8),
         |a AS (SELECT e.vec_id, e.label, e.emb, cent_id, ${duckCos("emb", "ce")} AS c FROM e CROSS JOIN cent),
         |cells AS (SELECT vec_id, label, emb, cent_id AS cell FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cent_id) AS rn FROM a) WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, label AS ql, emb AS qe, cell FROM cells WHERE vec_id >= 8 AND vec_id < 18),
         |s AS (SELECT query_id, c2.vec_id, c2.label, q.ql, ${duckCos("qe", "emb")} AS c
         |  FROM q JOIN cells c2 USING (cell) WHERE c2.vec_id <> query_id),
         |pos AS (SELECT query_id, MAX(c) AS c_pos FROM s WHERE label = ql GROUP BY query_id),
         |r AS (SELECT query_id, vec_id, c, CAST(row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS BIGINT) AS rank
         |  FROM s WHERE label <> ql)
         |SELECT query_id, vec_id AS negative_id, rank,
         |  CAST(CASE WHEN pos.c_pos IS NULL OR r.c >= pos.c_pos THEN 1 ELSE 0 END AS BIGINT) AS is_hard,
         |  CAST(FLOOR((r.c - pos.c_pos) * 1000000) AS BIGINT) AS margin_u
         |FROM r LEFT JOIN pos USING (query_id) WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin),
    // round 12 batch 9: drawdown risk, lexical richness, residual
    // scan, cluster medoid election, state-store sizing
    "q_max_drawdown" ->
      """WITH d AS (SELECT o_orderpriority,
        |    epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS dn,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_c
        |  FROM orders GROUP BY 1, 2),
        |p AS (SELECT o_orderpriority, dn, rev_c,
        |    MAX(rev_c) OVER (PARTITION BY o_orderpriority ORDER BY dn
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak_c FROM d),
        |dd AS (SELECT o_orderpriority, dn, peak_c,
        |    ((peak_c - rev_c) * 10000) // peak_c AS dd_bp FROM p),
        |dd2 AS (SELECT *, MAX(dd_bp) OVER (PARTITION BY o_orderpriority) AS mx FROM dd)
        |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(MAX(peak_c) AS BIGINT) AS peak_rev_c,
        |  CAST(MAX(dd_bp) AS BIGINT) AS max_dd_bp,
        |  CAST(MIN(CASE WHEN dd_bp = mx THEN dn END) AS BIGINT) AS dd_day
        |FROM dd2 GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "text_hapax_ratio" ->
      """WITH tf AS (SELECT source, w AS term, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents) u GROUP BY 1, 2)
        |SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens, CAST(COUNT(*) AS BIGINT) AS n_types,
        |  CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  CAST((SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 10000) // COUNT(*) AS BIGINT) AS hapax_bp,
        |  CAST((COUNT(*) * 10000) // SUM(n) AS BIGINT) AS ttr_bp
        |FROM tf GROUP BY source ORDER BY source""".stripMargin,
    "dlp_residual_scan" ->
      (s"""WITH t AS (SELECT c_mktsegment, $ContactSql AS contact FROM customer),
         |r AS (SELECT c_mktsegment, contact,
         |    regexp_replace(contact, '$EmailReSql|$PhoneReSql', '[REDACTED]', 'g') AS red FROM t)
         |SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_records,
         |  CAST(SUM(CASE WHEN regexp_matches(red, '$EmailReSql|$PhoneReSql') THEN 1 ELSE 0 END) AS BIGINT) AS n_residual,
         |  CAST(SUM(length(contact)) AS BIGINT) AS chars_before,
         |  CAST(SUM(length(red)) AS BIGINT) AS chars_after,
         |  CAST(((SUM(length(contact)) - SUM(length(red))) * 10000) // SUM(length(contact)) AS BIGINT) AS delta_bp
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin),
    "dedup_cluster_medoid" ->
      (s"""WITH RECURSIVE $GramsCte,
         |$SigCte,
         |bands AS (
         |  SELECT doc_id, 0 AS band_id, md5(h0 || h1) AS bk FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |j AS (SELECT doc_a, doc_b, $JaccExpr AS jacc
         |  FROM cand JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b),
         |p AS (SELECT doc_a, doc_b, jacc FROM j WHERE jacc >= 0.5),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |      UNION ALL SELECT doc_b, doc_a FROM p),
         |reach(doc_id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.doc_id),
         |comp AS (SELECT doc_id, MIN(r) AS comp FROM reach GROUP BY doc_id),
         |ed AS (SELECT doc_a AS doc_id, CAST(ROUND(jacc * 10000) AS BIGINT) AS j_bp FROM p
         |      UNION ALL SELECT doc_b, CAST(ROUND(jacc * 10000) AS BIGINT) FROM p),
         |sc AS (SELECT doc_id, CAST(SUM(j_bp) AS BIGINT) AS score_bp, CAST(COUNT(*) AS BIGINT) AS degree FROM ed GROUP BY 1),
         |sizes AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS n_members FROM comp GROUP BY comp HAVING COUNT(*) > 1),
         |m AS (SELECT c.comp, sc.doc_id, sc.score_bp, sc.degree,
         |    row_number() OVER (PARTITION BY c.comp ORDER BY sc.score_bp DESC, sc.doc_id) AS rk
         |  FROM comp c JOIN sc USING (doc_id))
         |SELECT m.comp AS comp_id, s.n_members, m.doc_id AS medoid_doc,
         |  m.degree AS medoid_degree, m.score_bp AS medoid_score_bp
         |FROM m JOIN sizes s ON s.comp = m.comp WHERE rk = 1 ORDER BY comp_id""".stripMargin),
    "stream_state_size" ->
      """WITH e AS (SELECT user_id, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec FROM events),
        |b AS (SELECT user_id, ((sec // 3600) + 1) * 3600 AS hb,
        |    CASE WHEN sec % 3600 >= 1800 THEN 1 ELSE 0 END AS in_tail FROM e),
        |g AS (SELECT user_id, hb, CAST(MAX(in_tail) AS BIGINT) AS live FROM b GROUP BY 1, 2)
        |SELECT TIMESTAMP '1970-01-01 00:00:00' + INTERVAL (hb) SECOND AS hour_end,
        |  CAST(COUNT(*) AS BIGINT) AS n_users, CAST(SUM(live) AS BIGINT) AS n_live,
        |  CAST((SUM(live) * 10000) // COUNT(*) AS BIGINT) AS live_bp
        |FROM g GROUP BY hb ORDER BY hour_end""".stripMargin,
    // round 12 batch 10: runs test, discount elasticity, audio
    // framing plan, watermark sweep, key-space completeness
    "q_runs_test" ->
      """WITH d AS (SELECT epoch_us(CAST(o_orderdate AS TIMESTAMP)) // 86400000000 AS dn,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev
        |  FROM orders GROUP BY 1),
        |med AS (SELECT rev AS m FROM (SELECT rev, dn, row_number() OVER (ORDER BY rev, dn) AS rn,
        |    COUNT(*) OVER () AS n FROM d) q WHERE rn = GREATEST((n + 1) // 2, 1)),
        |s AS (SELECT dn, CASE WHEN rev > (SELECT m FROM med) THEN 1 ELSE 0 END AS s FROM d),
        |c AS (SELECT s, CASE WHEN lag(s) OVER (ORDER BY dn) IS NULL THEN 1
        |    WHEN lag(s) OVER (ORDER BY dn) <> s THEN 1 ELSE 0 END AS chg FROM s)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_days, CAST(SUM(s) AS BIGINT) AS n_above,
        |  CAST(SUM(1 - s) AS BIGINT) AS n_below, CAST(SUM(chg) AS BIGINT) AS n_runs,
        |  CAST(100 + (200 * SUM(s) * SUM(1 - s)) // COUNT(*) AS BIGINT) AS e_runs_c,
        |  CAST(SUM(chg) * 100 - (100 + (200 * SUM(s) * SUM(1 - s)) // COUNT(*)) AS BIGINT) AS delta_c
        |FROM c""".stripMargin,
    "q_discount_elasticity" ->
      """WITH l AS (SELECT CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS disc_pct,
        |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS qty_c,
        |    (CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |      (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))) // 100 AS rev_c
        |  FROM lineitem),
        |g AS (SELECT disc_pct, CAST(COUNT(*) AS BIGINT) AS n_lines, CAST(SUM(qty_c) AS BIGINT) AS qty_c,
        |    CAST(SUM(rev_c) AS BIGINT) AS rev_c FROM l GROUP BY 1),
        |t AS (SELECT CAST(SUM(rev_c) AS BIGINT) AS tot FROM g)
        |SELECT disc_pct, n_lines, qty_c, CAST(qty_c // n_lines AS BIGINT) AS avg_qty_c, rev_c,
        |  CAST((rev_c * 10000) // tot AS BIGINT) AS rev_share_bp
        |FROM g CROSS JOIN t ORDER BY disc_pct""".stripMargin,
    "mm_audio_window_plan" ->
      """WITH a AS (SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS data_bytes
        |  FROM documents WHERE doc_id % 3 = 2),
        |b AS (SELECT doc_id, data_bytes, data_bytes // 32 AS dur_ms FROM a),
        |c AS (SELECT doc_id, data_bytes, dur_ms,
        |    CASE WHEN dur_ms >= 25 THEN 1 + (dur_ms - 25) // 10 ELSE 0 END AS n_frames FROM b)
        |SELECT doc_id, data_bytes, dur_ms, CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST((n_frames + 63) // 64 AS BIGINT) AS n_batches
        |FROM c ORDER BY doc_id""".stripMargin,
    "stream_late_sweep" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |h AS (SELECT us, MAX(us) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm FROM e),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(SUM(CASE WHEN hwm IS NOT NULL AND us < hwm - 300000000 THEN 1 ELSE 0 END) AS BIGINT) AS d5,
        |    CAST(SUM(CASE WHEN hwm IS NOT NULL AND us < hwm - 600000000 THEN 1 ELSE 0 END) AS BIGINT) AS d10,
        |    CAST(SUM(CASE WHEN hwm IS NOT NULL AND us < hwm - 1800000000 THEN 1 ELSE 0 END) AS BIGINT) AS d30
        |  FROM h)
        |SELECT CAST(delay_min AS BIGINT) AS delay_min, n_events, n_dropped,
        |  CAST((n_dropped * 10000) // n_events AS BIGINT) AS drop_bp
        |FROM (SELECT 5 AS delay_min, n_events, d5 AS n_dropped FROM a
        |  UNION ALL SELECT 10, n_events, d10 FROM a
        |  UNION ALL SELECT 30, n_events, d30 FROM a) u
        |ORDER BY delay_min""".stripMargin,
    "ingest_pk_completeness" ->
      """SELECT CAST(o_orderkey // 1024 AS BIGINT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
        |  CAST(MIN(o_orderkey) AS BIGINT) AS k_min, CAST(MAX(o_orderkey) AS BIGINT) AS k_max,
        |  CAST((MAX(o_orderkey) - MIN(o_orderkey) + 1) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_missing,
        |  CAST(CASE WHEN (MAX(o_orderkey) - MIN(o_orderkey) + 1) = COUNT(DISTINCT o_orderkey) THEN 1 ELSE 0 END AS BIGINT) AS complete
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,
    // round 12 batch 11: dynamic partition overwrite, constraint
    // gate, order fan-out, pair-sim histogram, PQ distortion
    "load_dynamic_overwrite" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) *
        |    CASE WHEN o_orderstatus = 'F' THEN 2 ELSE 1 END) AS BIGINT) AS total_c
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "load_constraint_check" ->
      """WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_checked,
        |  CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |  CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        |  CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT) AS v3,
        |  CAST(SUM(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END) AS BIGINT) AS v4,
        |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v5,
        |  CAST(SUM(CASE WHEN o_orderdate NOT BETWEEN '1992-01-01' AND '2005-12-31' THEN 1 ELSE 0 END) AS BIGINT) AS v6
        | FROM orders)
        |SELECT rule, n_checked, n_violations,
        |  CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
        |FROM (SELECT 'o_orderkey_not_null' AS rule, n_checked, v1 AS n_violations FROM a
        |  UNION ALL SELECT 'o_totalprice_positive', n_checked, v2 FROM a
        |  UNION ALL SELECT 'o_orderstatus_domain', n_checked, v3 FROM a
        |  UNION ALL SELECT 'o_orderpriority_domain', n_checked, v4 FROM a
        |  UNION ALL SELECT 'o_custkey_not_null', n_checked, v5 FROM a
        |  UNION ALL SELECT 'o_orderdate_in_range', n_checked, v6 FROM a) u
        |ORDER BY rule""".stripMargin,
    "q_order_linecount_dist" ->
      """WITH c AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines FROM lineitem GROUP BY 1),
        |h AS (SELECT n_lines, CAST(COUNT(*) AS BIGINT) AS n_orders FROM c GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS tot_o, CAST(SUM(n_orders * n_lines) AS BIGINT) AS tot_l FROM h)
        |SELECT n_lines, n_orders,
        |  CAST((n_orders * 10000) // tot_o AS BIGINT) AS order_share_bp,
        |  CAST((n_orders * n_lines * 10000) // tot_l AS BIGINT) AS line_share_bp
        |FROM h CROSS JOIN t ORDER BY n_lines""".stripMargin,
    "dedup_pair_sim_histogram" ->
      (s"""WITH $GramsCte,
         |$SigCte,
         |bands AS (
         |  SELECT doc_id, 0 AS band_id, md5(h0 || h1) AS bk FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |j AS (SELECT doc_a, doc_b, $JaccExpr AS jacc
         |  FROM cand JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b),
         |p AS (SELECT CAST(ROUND(jacc * 10000) AS BIGINT) AS j_bp FROM j WHERE jacc >= 0.5),
         |b AS (SELECT LEAST(j_bp // 500, 20) AS band, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |    CAST(MIN(j_bp) AS BIGINT) AS min_bp, CAST(MAX(j_bp) AS BIGINT) AS max_bp FROM p GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS tot FROM b)
         |SELECT CAST(band AS BIGINT) AS band, CAST(band * 500 AS BIGINT) AS band_lo_bp, n_pairs,
         |  CAST((n_pairs * 10000) // tot AS BIGINT) AS share_bp, min_bp, max_bp
         |FROM b CROSS JOIN t ORDER BY band""".stripMargin),
    "ann_pq_distortion" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |cent AS (SELECT vec_id AS cent_id, emb AS ce FROM e WHERE vec_id < 8),
         |d AS (SELECT e.vec_id, ${duckSqL2("emb", "ce", 1)} AS d0, ${duckSqL2("emb", "ce", 17)} AS d1,
         |    ${duckSqL2("emb", "ce", 33)} AS d2, ${duckSqL2("emb", "ce", 49)} AS d3
         |  FROM e CROSS JOIN cent),
         |mins AS (SELECT vec_id, MIN(d0) AS e0, MIN(d1) AS e1, MIN(d2) AS e2, MIN(d3) AS e3 FROM d GROUP BY 1),
         |u AS (SELECT 0 AS subspace, CAST(FLOOR(e0 * 1000000) AS BIGINT) AS err_u FROM mins
         |  UNION ALL SELECT 1, CAST(FLOOR(e1 * 1000000) AS BIGINT) FROM mins
         |  UNION ALL SELECT 2, CAST(FLOOR(e2 * 1000000) AS BIGINT) FROM mins
         |  UNION ALL SELECT 3, CAST(FLOOR(e3 * 1000000) AS BIGINT) FROM mins)
         |SELECT CAST(subspace AS BIGINT) AS subspace, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |  CAST(SUM(err_u) AS BIGINT) AS sum_err_u, CAST(SUM(err_u) // COUNT(*) AS BIGINT) AS avg_err_u,
         |  CAST(MAX(err_u) AS BIGINT) AS max_err_u
         |FROM u GROUP BY 1 ORDER BY subspace""".stripMargin),
    // round 12 batch 12: rank-ratio windows, activity streaks,
    // weighted median, chi-square audit, rolling median, readability
    "q_percent_rank" ->
      """WITH rev AS (SELECT l_suppkey,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_c
        |  FROM lineitem GROUP BY 1),
        |s AS (SELECT CAST(s_nationkey AS BIGINT) AS nation, s_suppkey,
        |    CAST(COALESCE(rev_c, 0) AS BIGINT) AS rev_c
        |  FROM supplier LEFT JOIN rev ON s_suppkey = l_suppkey),
        |r AS (SELECT nation, s_suppkey, rev_c,
        |    CAST(ROUND(percent_rank() OVER (PARTITION BY nation ORDER BY rev_c) * 10000) AS BIGINT) AS pr_bp,
        |    CAST(ROUND(cume_dist() OVER (PARTITION BY nation ORDER BY rev_c) * 10000) AS BIGINT) AS cd_bp
        |  FROM s)
        |SELECT nation, s_suppkey, rev_c, pr_bp, cd_bp FROM r
        |WHERE cd_bp >= 9000 ORDER BY nation, rev_c, s_suppkey""".stripMargin,
    "q_streaks" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS dn FROM events),
        |i AS (SELECT user_id, dn,
        |    dn - dense_rank() OVER (PARTITION BY user_id ORDER BY dn) AS isl FROM d),
        |runs AS (SELECT user_id, isl, CAST(COUNT(*) AS BIGINT) AS len
        |  FROM i GROUP BY 1, 2),
        |u AS (SELECT user_id, CAST(MAX(len) AS BIGINT) AS longest,
        |    CAST(SUM(len) AS BIGINT) AS active_days FROM runs GROUP BY 1)
        |SELECT longest, CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(SUM(active_days) AS BIGINT) AS user_days
        |FROM u GROUP BY 1 ORDER BY longest""".stripMargin,
    "q_weighted_median" ->
      """WITH v AS (SELECT l_returnflag,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c,
        |    CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT l_returnflag, price_c, w,
        |    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price_c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(w) OVER (PARTITION BY l_returnflag) AS tot FROM v)
        |SELECT l_returnflag, CAST(MIN(tot) AS BIGINT) AS total_w,
        |  CAST(MIN(price_c) AS BIGINT) AS wmedian_price_c
        |FROM c WHERE cum * 2 >= tot GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "q_chi_square" ->
      """WITH cell AS (SELECT o_orderpriority, o_orderstatus,
        |    CAST(COUNT(*) AS BIGINT) AS obs FROM orders GROUP BY 1, 2),
        |m AS (SELECT o_orderpriority, o_orderstatus, obs,
        |    CAST(SUM(obs) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS rs,
        |    CAST(SUM(obs) OVER (PARTITION BY o_orderstatus) AS BIGINT) AS cs,
        |    CAST(SUM(obs) OVER () AS BIGINT) AS n FROM cell),
        |e AS (SELECT o_orderpriority, o_orderstatus, obs,
        |    (rs * cs) // n AS exp_f FROM m),
        |k AS (SELECT o_orderpriority, o_orderstatus, obs, exp_f,
        |    ((obs - exp_f) * (obs - exp_f) * 1000000) // GREATEST(exp_f, 1) AS contrib_micro
        |  FROM e)
        |SELECT o_orderpriority, o_orderstatus, obs, CAST(exp_f AS BIGINT) AS exp_f,
        |  CAST(contrib_micro AS BIGINT) AS contrib_micro,
        |  CAST(SUM(contrib_micro) OVER () AS BIGINT) AS chi2_micro
        |FROM k ORDER BY o_orderpriority, o_orderstatus""".stripMargin,
    "q_moving_median" ->
      """WITH daily AS (SELECT o_orderpriority,
        |    CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP))) AS BIGINT) // 86400 AS dn,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_c
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_orderpriority, dn, rev_c,
        |  CAST(COUNT(*) OVER w7 AS BIGINT) AS n_in,
        |  CAST(median(rev_c * 2) OVER w7 AS BIGINT) AS med2_c
        |FROM daily
        |WINDOW w7 AS (PARTITION BY o_orderpriority ORDER BY dn
        |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderpriority, dn""".stripMargin,
    "text_readability" ->
      """WITH d AS (SELECT source,
        |    GREATEST(len(regexp_extract_all(text, '\S+')), 1) AS w,
        |    GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
        |    GREATEST(len(regexp_extract_all(lower(text), '[aeiou]+')), 1) AS v
        |  FROM documents),
        |sc AS (SELECT source, w,
        |    206835 - (1015 * w) // s - (84600 * v) // w AS score_milli FROM d),
        |g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(w) AS BIGINT) AS n_words,
        |    CAST(SUM(score_milli) AS BIGINT) AS sum_milli,
        |    CAST(SUM(CASE WHEN score_milli >= 60000 THEN 1 ELSE 0 END) AS BIGINT) AS n_easy,
        |    CAST(SUM(CASE WHEN score_milli < 30000 THEN 1 ELSE 0 END) AS BIGINT) AS n_hard
        |  FROM sc GROUP BY 1)
        |SELECT source, n_docs, n_words,
        |  CAST(CASE WHEN sum_milli >= 0 THEN sum_milli // n_docs
        |    ELSE -((-sum_milli) // n_docs) END AS BIGINT) AS mean_score_milli,
        |  CAST((n_easy * 10000) // n_docs AS BIGINT) AS easy_bp,
        |  CAST((n_hard * 10000) // n_docs AS BIGINT) AS hard_bp
        |FROM g ORDER BY source""".stripMargin,
    // round 12 batch 13: seasonal index, MAD outliers, degree
    // distribution, noise-injected release, label concentration
    "q_seasonal_index" ->
      """WITH m AS (SELECT CAST(month(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS month,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_c
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(SUM(rev_c) AS BIGINT) AS tot FROM m)
        |SELECT month, n_orders, rev_c,
        |  CAST((rev_c * 10000) // tot AS BIGINT) AS share_bp,
        |  CAST((rev_c * 120000) // tot AS BIGINT) AS index_bp
        |FROM m CROSS JOIN t ORDER BY month""".stripMargin,
    "q_mad_outliers" ->
      """WITH daily AS (SELECT o_orderpriority,
        |    CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP))) AS BIGINT) // 86400 AS dn,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_c
        |  FROM orders GROUP BY 1, 2),
        |r1 AS (SELECT o_orderpriority, dn, rev_c,
        |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY rev_c, dn) AS rn,
        |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n FROM daily),
        |med AS (SELECT o_orderpriority AS mp, rev_c AS med_c FROM r1
        |  WHERE rn = GREATEST((n + 1) // 2, 1)),
        |dev AS (SELECT o_orderpriority, dn, rev_c, med_c,
        |    abs(rev_c - med_c) AS dev_c FROM daily JOIN med ON o_orderpriority = mp),
        |r2 AS (SELECT o_orderpriority, dev_c,
        |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY dev_c, dn) AS rn,
        |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n FROM dev),
        |mad AS (SELECT o_orderpriority AS mp2, dev_c AS mad_c FROM r2
        |  WHERE rn = GREATEST((n + 1) // 2, 1)),
        |j AS (SELECT dev.*, mad_c,
        |    MAX(dev_c) OVER (PARTITION BY dev.o_orderpriority) AS mx
        |  FROM dev JOIN mad ON o_orderpriority = mp2)
        |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(MIN(med_c) AS BIGINT) AS med_c, CAST(MIN(mad_c) AS BIGINT) AS mad_c,
        |  CAST(SUM(CASE WHEN dev_c > mad_c * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        |  CAST(MIN(CASE WHEN dev_c = mx THEN dn END) AS BIGINT) AS worst_dn,
        |  CAST(MAX(dev_c) AS BIGINT) AS worst_dev_c
        |FROM j GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_degree_dist" ->
      """WITH e AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |p AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS degree FROM e GROUP BY 1),
        |s AS (SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS degree FROM e GROUP BY 1),
        |h AS (SELECT 'part' AS side, degree, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM p GROUP BY 2
        |  UNION ALL SELECT 'supplier', degree, CAST(COUNT(*) AS BIGINT) FROM s GROUP BY 2)
        |SELECT side, degree, n_nodes,
        |  CAST((n_nodes * 10000) // SUM(n_nodes) OVER (PARTITION BY side) AS BIGINT) AS node_share_bp
        |FROM h ORDER BY side, degree""".stripMargin,
    "dlp_noise_counts" ->
      """WITH cell AS (SELECT c_mktsegment AS segment, CAST(c_nationkey AS BIGINT) AS nation,
        |    CAST(COUNT(*) AS BIGINT) AS true_n FROM customer GROUP BY 1, 2),
        |nz AS (SELECT segment, nation, true_n,
        |    ((strpos('0123456789abcdef', substring(md5('noise-v1:' || segment || ':' || CAST(nation AS VARCHAR)), 1, 1)) - 1) * 16
        |     + (strpos('0123456789abcdef', substring(md5('noise-v1:' || segment || ':' || CAST(nation AS VARCHAR)), 2, 1)) - 1)) % 21 - 10 AS noise
        |  FROM cell)
        |SELECT segment, nation, true_n, CAST(noise AS BIGINT) AS noise,
        |  CAST(GREATEST(true_n + noise, 0) AS BIGINT) AS noisy_n,
        |  CAST(abs(GREATEST(true_n + noise, 0) - true_n) AS BIGINT) AS abs_err,
        |  CAST((abs(GREATEST(true_n + noise, 0) - true_n) * 10000) // GREATEST(true_n, 1) AS BIGINT) AS err_bp
        |FROM nz ORDER BY segment, nation""".stripMargin,
    "embed_spherical_variance" ->
      """WITH e AS (SELECT CAST(label AS BIGINT) AS label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT label, CAST(i AS BIGINT) AS pos,
        |    CAST(CAST(emb[i] AS DECIMAL(9,3)) * 1000 AS BIGINT) AS vm
        |  FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t),
        |d AS (SELECT label, pos,
        |    CAST(SUM(vm) AS BIGINT) AS s_d, CAST(SUM(vm * vm) AS BIGINT) AS sq_d
        |  FROM q GROUP BY 1, 2),
        |g AS (SELECT label, CAST(SUM(s_d * s_d) AS BIGINT) AS r2,
        |    CAST(SUM(sq_d) AS BIGINT) AS norm2 FROM d GROUP BY 1),
        |n AS (SELECT label AS l2, CAST(COUNT(*) AS BIGINT) AS n_vecs
        |  FROM e GROUP BY 1)
        |SELECT label, n_vecs, r2, norm2,
        |  CAST((r2 * 10000) // (n_vecs * norm2) AS BIGINT) AS concentration_bp
        |FROM g JOIN n ON label = l2 ORDER BY label""".stripMargin,
    "q_spearman_rho" ->
      """WITH s AS (SELECT l_suppkey,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_c,
        |    CAST(COUNT(*) AS BIGINT) AS vol FROM lineitem GROUP BY 1),
        |j AS (SELECT l_suppkey, rev_c, vol, CAST(s_nationkey AS BIGINT) AS nation
        |  FROM s JOIN supplier ON l_suppkey = s_suppkey),
        |r AS (SELECT nation,
        |    CAST(row_number() OVER (PARTITION BY nation ORDER BY rev_c DESC, l_suppkey) AS BIGINT) AS r_rev,
        |    CAST(row_number() OVER (PARTITION BY nation ORDER BY vol DESC, l_suppkey) AS BIGINT) AS r_vol
        |  FROM j)
        |SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
        |  CAST(SUM((r_rev - r_vol) * (r_rev - r_vol)) AS BIGINT) AS sum_d2,
        |  CAST(10000 - (60000 * SUM((r_rev - r_vol) * (r_rev - r_vol)))
        |    // (COUNT(*) * (COUNT(*) * COUNT(*) - 1)) AS BIGINT) AS rho_bp
        |FROM r GROUP BY 1 HAVING COUNT(*) >= 2 ORDER BY nation""".stripMargin,
    "q_bowley_skew" ->
      """WITH daily AS (SELECT o_orderpriority,
        |    CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP))) AS BIGINT) // 86400 AS dn,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_c
        |  FROM orders GROUP BY 1, 2),
        |r AS (SELECT o_orderpriority, rev_c,
        |    CAST(row_number() OVER (PARTITION BY o_orderpriority ORDER BY rev_c, dn) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n FROM daily),
        |q AS (SELECT o_orderpriority, CAST(MAX(n) AS BIGINT) AS n_days,
        |    CAST(MAX(CASE WHEN rn = (n + 3) // 4 THEN rev_c END) AS BIGINT) AS q1_c,
        |    CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN rev_c END) AS BIGINT) AS q2_c,
        |    CAST(MAX(CASE WHEN rn = (3 * n + 3) // 4 THEN rev_c END) AS BIGINT) AS q3_c
        |  FROM r WHERE rn = (n + 3) // 4 OR rn = (n + 1) // 2 OR rn = (3 * n + 3) // 4
        |  GROUP BY 1)
        |SELECT o_orderpriority, n_days, q1_c, q2_c, q3_c,
        |  CAST(CASE WHEN q3_c = q1_c THEN 0
        |    WHEN q3_c + q1_c - 2 * q2_c < 0
        |      THEN -(((2 * q2_c - q3_c - q1_c) * 10000) // (q3_c - q1_c))
        |    ELSE ((q3_c + q1_c - 2 * q2_c) * 10000) // (q3_c - q1_c)
        |  END AS BIGINT) AS skew_bp
        |FROM q ORDER BY o_orderpriority""".stripMargin,
    "q_mix_shift" ->
      """WITH m AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderpriority,
        |    CAST(COUNT(*) AS BIGINT) AS n FROM orders GROUP BY 1, 2),
        |s AS (SELECT yr, o_orderpriority, n,
        |    CAST(SUM(n) OVER (PARTITION BY yr) AS BIGINT) AS n_year FROM m),
        |sh AS (SELECT yr, o_orderpriority, n_year, (n * 10000) // n_year AS share_bp FROM s),
        |lg AS (SELECT yr, n_year, share_bp,
        |    lag(share_bp) OVER (PARTITION BY o_orderpriority ORDER BY yr) AS prev_bp FROM sh)
        |SELECT yr AS year, CAST(MAX(n_year) AS BIGINT) AS n_orders,
        |  CAST(COUNT(*) AS BIGINT) AS n_priorities,
        |  CAST(SUM(abs(share_bp - prev_bp)) // 2 AS BIGINT) AS tvd_bp
        |FROM lg WHERE prev_bp IS NOT NULL GROUP BY 1 ORDER BY year""".stripMargin,
    "dlp_infotype_cooccurrence" ->
      s"""WITH subj AS (SELECT
         |    (CASE WHEN c_custkey % 3 > 0
         |       THEN 'user' || CAST(c_custkey AS VARCHAR) || '@example.com ' ELSE '' END) ||
         |    (CASE WHEN c_custkey % 2 > 0
         |       THEN 'call 555-867-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') || ' ' ELSE '' END) ||
         |    (CASE WHEN c_custkey % 5 = 0
         |       THEN 'from 10.0.' || CAST(c_custkey % 256 AS VARCHAR) || '.' || CAST(c_custkey % 97 AS VARCHAR)
         |       ELSE '' END) AS v
         |  FROM customer),
         |f AS (SELECT
         |    CASE WHEN len(regexp_extract_all(v, '$EmailReSql')) > 0 THEN 1 ELSE 0 END AS e,
         |    CASE WHEN len(regexp_extract_all(v, '$PhoneReSql')) > 0 THEN 1 ELSE 0 END AS p,
         |    CASE WHEN len(regexp_extract_all(v, '10\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) > 0 THEN 1 ELSE 0 END AS i
         |  FROM subj),
         |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_records,
         |    CAST(SUM(e) AS BIGINT) AS n_e, CAST(SUM(p) AS BIGINT) AS n_p, CAST(SUM(i) AS BIGINT) AS n_i,
         |    CAST(SUM(e * p) AS BIGINT) AS n_ep, CAST(SUM(e * i) AS BIGINT) AS n_ei,
         |    CAST(SUM(p * i) AS BIGINT) AS n_pi FROM f),
         |u AS (
         |  SELECT 'EMAIL_ADDRESS' AS type_a, 'PHONE_NUMBER' AS type_b, n_records, n_e AS n_a, n_p AS n_b, n_ep AS n_both FROM a
         |  UNION ALL
         |  SELECT 'EMAIL_ADDRESS', 'IP_ADDRESS', n_records, n_e, n_i, n_ei FROM a
         |  UNION ALL
         |  SELECT 'PHONE_NUMBER', 'IP_ADDRESS', n_records, n_p, n_i, n_pi FROM a)
         |SELECT type_a, type_b, n_records, n_a, n_b, n_both,
         |  CAST((n_both * 10000) // n_records AS BIGINT) AS joint_bp,
         |  CAST(CASE WHEN n_a * n_b = 0 THEN 0
         |    ELSE (n_both * n_records * 10000) // (n_a * n_b) END AS BIGINT) AS lift_bp
         |FROM u ORDER BY type_a, type_b""".stripMargin,
    "text_dup_ngrams" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, source, ws[i] || ' ' || ws[i+1] AS gram
        |  FROM w, (SELECT unnest(range(1, 256)) AS i) t WHERE len(ws) >= i + 1),
        |c AS (SELECT doc_id, source, gram, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY 1, 2, 3),
        |d AS (SELECT doc_id, source, CAST(SUM(n) AS BIGINT) AS n_grams,
        |    CAST(SUM(CASE WHEN n >= 2 THEN n ELSE 0 END) AS BIGINT) AS dup_occ FROM c GROUP BY 1, 2)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_grams) AS BIGINT) AS n_grams, CAST(SUM(dup_occ) AS BIGINT) AS dup_occ,
        |  CAST((SUM(dup_occ) * 10000) // SUM(n_grams) AS BIGINT) AS dup_bp,
        |  CAST((SUM(CASE WHEN dup_occ * 10000 > n_grams * 2000 THEN 1 ELSE 0 END) * 10000)
        |    // COUNT(*) AS BIGINT) AS flagged_bp
        |FROM d GROUP BY 1 ORDER BY source""".stripMargin,
    "stream_concurrency_curve" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |s AS (SELECT user_id, event_id, us,
        |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |t AS (SELECT user_id, us, SUM(new_s) OVER
        |    (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM s),
        |sess AS (SELECT user_id, session_id, MIN(us) // 60000000 AS sm, MAX(us) // 60000000 + 1 AS em
        |  FROM t GROUP BY 1, 2),
        |deltas AS (SELECT m, CAST(SUM(d) AS BIGINT) AS d,
        |    CAST(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts
        |  FROM (SELECT sm AS m, 1 AS d FROM sess UNION ALL SELECT em, -1 FROM sess) u GROUP BY 1),
        |grid AS (SELECT unnest(generate_series((SELECT MIN(sm) FROM sess), (SELECT MAX(em) FROM sess))) AS m),
        |cum AS (SELECT g.m, COALESCE(d.n_starts, 0) AS n_starts, SUM(COALESCE(d.d, 0)) OVER
        |    (ORDER BY g.m ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS depth
        |  FROM grid g LEFT JOIN deltas d ON g.m = d.m)
        |SELECT CAST((m // 60) * 3600 AS BIGINT) AS hour_start_s, CAST(COUNT(*) AS BIGINT) AS n_minutes,
        |  CAST(MAX(depth) AS BIGINT) AS peak, CAST(SUM(depth) // COUNT(*) AS BIGINT) AS mean_depth,
        |  CAST(SUM(n_starts) AS BIGINT) AS n_starts
        |FROM cum GROUP BY m // 60 ORDER BY hour_start_s""".stripMargin,
    // round 12 batch 15: Gini–Simpson brand diversity — no-log
    // diversity stays in exact integer math (the §6 rule)
    "q_simpson_diversity" ->
      """WITH mix AS (SELECT CAST(s_nationkey AS BIGINT) AS nation, p_brand,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey GROUP BY 1, 2)
        |SELECT nation, CAST(SUM(n) AS BIGINT) AS n_lines,
        |  CAST(COUNT(*) AS BIGINT) AS n_brands,
        |  CAST(10000 - (10000 * SUM(n * n)) // (SUM(n) * SUM(n)) AS BIGINT) AS diversity_bp,
        |  CAST((100 * SUM(n) * SUM(n)) // SUM(n * n) AS BIGINT) AS eff_brands_x100
        |FROM mix GROUP BY nation ORDER BY nation""".stripMargin,
    // price-volume-mix bridge: unit price floors land in resid_c so
    // the waterfall reconciles EXACTLY in integer arithmetic
    "q_price_volume_mix" ->
      """WITH by AS (SELECT p_brand, CAST(year(l_shipdate) AS BIGINT) AS yr,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS rev_c,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE year(l_shipdate) IN (1996, 1997) GROUP BY 1, 2),
        |s0 AS (SELECT p_brand, rev_c AS rev0, qty AS qty0, rev_c // qty AS p0
        |  FROM by WHERE yr = 1996),
        |s1 AS (SELECT p_brand, rev_c AS rev1, qty AS qty1, rev_c // qty AS p1
        |  FROM by WHERE yr = 1997)
        |SELECT p_brand,
        |  CAST(rev1 - rev0 AS BIGINT) AS rev_delta_c,
        |  CAST(qty0 * (p1 - p0) AS BIGINT) AS price_eff_c,
        |  CAST(p0 * (qty1 - qty0) AS BIGINT) AS volume_eff_c,
        |  CAST((p1 - p0) * (qty1 - qty0) AS BIGINT) AS cross_eff_c,
        |  CAST((rev1 - rev0) - qty0 * (p1 - p0) - p0 * (qty1 - qty0)
        |    - (p1 - p0) * (qty1 - qty0) AS BIGINT) AS resid_c
        |FROM s0 JOIN s1 USING (p_brand) ORDER BY p_brand""".stripMargin,
    // new-vs-repeat revenue: first order resolved by (day, orderkey)
    // rank — deterministic same-day tiebreak on both engines
    "q_new_vs_repeat" ->
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |    CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP))) AS BIGINT) // 86400 AS dn,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS rev_c
        |  FROM orders),
        |f AS (SELECT o_custkey AS fc, o_orderkey AS first_key FROM (
        |    SELECT o_custkey, o_orderkey,
        |      row_number() OVER (PARTITION BY o_custkey ORDER BY dn, o_orderkey) AS rn
        |    FROM o) r WHERE rn = 1)
        |SELECT CAST((dn // 30) * 30 AS BIGINT) AS month_start_dn,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CASE WHEN o_orderkey = first_key THEN rev_c ELSE 0 END) AS BIGINT) AS new_rev_c,
        |  CAST(SUM(CASE WHEN o_orderkey <> first_key THEN rev_c ELSE 0 END) AS BIGINT) AS repeat_rev_c,
        |  CAST((SUM(CASE WHEN o_orderkey <> first_key THEN rev_c ELSE 0 END) * 10000)
        |    // SUM(rev_c) AS BIGINT) AS repeat_share_bp
        |FROM o JOIN f ON o_custkey = fc GROUP BY dn // 30 ORDER BY month_start_dn""".stripMargin,
    // 1-bit Hamming top-k: bit 63's place value is Long.MinValue added
    // as a literal (1<<63 overflows DuckDB's shift); the % 63 keeps
    // the unselected CASE branch in shift range even under eager
    // vectorized evaluation. list_sum promotes to HUGEINT internally
    // and the cast back to BIGINT is exact by construction.
    "embed_hamming_topk" ->
      """WITH p AS (SELECT vec_id, CAST(list_sum(list_transform(range(1, 65),
        |    i -> CASE WHEN embedding[i] > 0 THEN
        |           (CASE WHEN i = 64 THEN CAST(-9223372036854775808 AS BIGINT)
        |                 ELSE CAST(1 AS BIGINT) << CAST((i - 1) % 63 AS INT) END)
        |         ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bits
        |  FROM embeddings),
        |q AS (SELECT vec_id AS query_id, bits AS qb FROM p WHERE vec_id < 10),
        |d AS (SELECT query_id, vec_id, CAST(bit_count(xor(bits, qb)) AS BIGINT) AS hamming
        |  FROM p, q WHERE vec_id <> query_id),
        |r AS (SELECT query_id, vec_id, hamming,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY hamming, vec_id) AS BIGINT) AS rank
        |  FROM d)
        |SELECT query_id, rank, vec_id AS neighbor_id, hamming
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // absence timeout: purchase strictly after the view, at most 30
    // minutes later — (vus, vus+T], per-user join fan-out only
    "stream_absence_timeout" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE user_id IS NOT NULL),
        |v AS (SELECT user_id, event_id, us AS vus FROM e WHERE event_type = 'view'),
        |b AS (SELECT user_id AS u2, us AS pus FROM e WHERE event_type = 'purchase'),
        |per_view AS (SELECT v.user_id, v.event_id,
        |    MAX(CASE WHEN b.pus IS NOT NULL THEN 1 ELSE 0 END) AS converted
        |  FROM v LEFT JOIN b ON v.user_id = b.u2
        |    AND b.pus > v.vus AND b.pus <= v.vus + 1800000000
        |  GROUP BY 1, 2)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_views,
        |  CAST(SUM(converted) AS BIGINT) AS n_converted,
        |  CAST(COUNT(*) - SUM(converted) AS BIGINT) AS n_abandoned,
        |  CAST(((COUNT(*) - SUM(converted)) * 10000) // COUNT(*) AS BIGINT) AS abandon_bp
        |FROM per_view GROUP BY user_id ORDER BY user_id""".stripMargin,
    // truncated-surrogate collision audit: observed vs birthday-bound
    // expected, capacity via shift (16^L = 2^(4L)) — pure integer
    "dlp_hash_collision_audit" ->
      """WITH h AS (SELECT md5(c_name) AS h FROM customer),
        |x AS (SELECT CAST(pfx_len AS BIGINT) AS pfx_len, h
        |  FROM h, (SELECT unnest([4, 6, 8]) AS pfx_len) l),
        |g AS (SELECT pfx_len, CAST(COUNT(DISTINCT h) AS BIGINT) AS n_plain,
        |    CAST(COUNT(DISTINCT substr(h, 1, CAST(pfx_len AS INT))) AS BIGINT) AS n_tokens
        |  FROM x GROUP BY 1)
        |SELECT pfx_len, n_plain, n_tokens,
        |  CAST(n_plain - n_tokens AS BIGINT) AS n_collisions,
        |  CAST(((n_plain - n_tokens) * 10000) // n_plain AS BIGINT) AS collision_bp,
        |  CAST((n_plain * (n_plain - 1) * 100)
        |    // (2 * (CAST(1 AS BIGINT) << CAST(4 * pfx_len AS INT))) AS BIGINT) AS expected_x100
        |FROM g ORDER BY pfx_len""".stripMargin,
    // round 12 batch 16: binned two-sample KS — exact cross-multiplied
    // ECDF gap (no per-bin division), ties on D break to smallest bin
    "q_ks_binned" ->
      """WITH b AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 10000 AS bin,
        |    CAST(SUM(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(SUM(CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM orders WHERE year(o_orderdate) IN (1996, 1997) GROUP BY 1),
        |c AS (SELECT bin,
        |    SUM(c1) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
        |    SUM(c2) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2
        |  FROM b),
        |t AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2 FROM b)
        |SELECT n1, n2, CAST(bin AS BIGINT) AS ks_bin,
        |  CAST((abs(cum1 * n2 - cum2 * n1) * 10000) // (n1 * n2) AS BIGINT) AS ks_bp
        |FROM c, t ORDER BY abs(cum1 * n2 - cum2 * n1) DESC, bin LIMIT 1""".stripMargin,
    // 1-bit Hamming recall vs exact cosine — same query slice and
    // ground truth as ann_int8_recall (the quantization recall bill)
    "ann_hamming_recall" ->
      (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |p AS (SELECT vec_id, CAST(list_sum(list_transform(range(1, 65),
         |    i -> CASE WHEN embedding[i] > 0 THEN
         |           (CASE WHEN i = 64 THEN CAST(-9223372036854775808 AS BIGINT)
         |                 ELSE CAST(1 AS BIGINT) << CAST((i - 1) % 63 AS INT) END)
         |         ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS bits
         |  FROM embeddings),
         |qh AS (SELECT vec_id AS query_id, bits AS qb FROM p WHERE vec_id >= 8 AND vec_id < 18),
         |hd AS (SELECT query_id, p.vec_id AS vec_id, bit_count(xor(bits, qb)) AS hamming
         |  FROM qh JOIN p ON p.vec_id <> query_id),
         |ht AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY hamming, vec_id) AS rn FROM hd) WHERE rn <= 5),
         |eq AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id >= 8 AND vec_id < 18),
         |es AS (SELECT query_id, e.vec_id AS vec_id, ${duckCos("qe", "emb")} AS c
         |  FROM eq JOIN e ON e.vec_id <> query_id),
         |et AS (SELECT query_id, vec_id AS neighbor_id FROM (SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rn FROM es) WHERE rn <= 5)
         |SELECT et.query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
         |  CAST(SUM(CASE WHEN ht.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  CAST(SUM(CASE WHEN ht.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT) AS recall_bp
         |FROM et LEFT JOIN ht ON et.query_id = ht.query_id AND et.neighbor_id = ht.vec_id
         |GROUP BY et.query_id ORDER BY et.query_id""".stripMargin),
    // Heaps vocabulary growth: words attributed to the ventile of
    // their FIRST document; 20-row cumulative axis
    "text_heaps_curve" ->
      """WITH m AS (SELECT MAX(doc_id) AS maxd FROM documents),
        |fw AS (SELECT word, MIN(doc_id) AS fd FROM
        |    (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
        |  GROUP BY 1),
        |nw AS (SELECT CAST((fd * 20) // (maxd + 1) AS BIGINT) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS new_words FROM fw, m GROUP BY 1),
        |nd AS (SELECT CAST((doc_id * 20) // (maxd + 1) AS BIGINT) AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents, m GROUP BY 1)
        |SELECT nd.bucket, n_docs,
        |  CAST(SUM(n_docs) OVER (ORDER BY nd.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs,
        |  CAST(COALESCE(new_words, 0) AS BIGINT) AS new_words,
        |  CAST(SUM(COALESCE(new_words, 0)) OVER (ORDER BY nd.bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
        |FROM nd LEFT JOIN nw ON nd.bucket = nw.bucket ORDER BY nd.bucket""".stripMargin,
    // retention sweep: anchor = max order date (data-derived, both
    // engines see the same cutoff), 4-year policy
    "dlp_retention_sweep" ->
      """WITH o AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |    CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP))) AS BIGINT) // 86400 AS dn
        |  FROM orders),
        |a AS (SELECT MAX(dn) AS amax FROM o)
        |SELECT yr AS year, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CASE WHEN dn < amax - 1460 THEN 1 ELSE 0 END) AS BIGINT) AS n_expired,
        |  CAST((SUM(CASE WHEN dn < amax - 1460 THEN 1 ELSE 0 END) * 10000) // COUNT(*) AS BIGINT) AS expired_bp,
        |  CAST(MIN(dn) AS BIGINT) AS first_dn, CAST(MAX(dn) AS BIGINT) AS last_dn
        |FROM o, a GROUP BY yr ORDER BY year""".stripMargin,
    // round 12 batch 17: winsorized mean — the oracle ranks directly
    // (DuckDB at sf scale); the Spark side uses the two-level
    // bucket-rank decomposition, same exact ranks
    "q_winsorized_mean" ->
      """WITH o AS (SELECT o_orderpriority AS prio, o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |  FROM orders),
        |r AS (SELECT prio, c,
        |    CAST(row_number() OVER (PARTITION BY prio ORDER BY c, o_orderkey) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY prio) AS BIGINT) AS n FROM o),
        |b AS (SELECT prio, CAST(MAX(n) AS BIGINT) AS n,
        |    CAST(MIN(CASE WHEN rn = GREATEST((5 * (n + 1)) // 100, 1) THEN c END) AS BIGINT) AS lo_c,
        |    CAST(MIN(CASE WHEN rn = LEAST((95 * (n + 1)) // 100, n) THEN c END) AS BIGINT) AS hi_c
        |  FROM r GROUP BY prio)
        |SELECT o.prio AS o_orderpriority, b.n AS n_orders, lo_c, hi_c,
        |  CAST(SUM(LEAST(GREATEST(c, lo_c), hi_c)) // b.n AS BIGINT) AS winsor_mean_c,
        |  CAST(SUM(c) // b.n AS BIGINT) AS raw_mean_c
        |FROM o JOIN b ON o.prio = b.prio
        |GROUP BY 1, b.n, lo_c, hi_c ORDER BY o_orderpriority""".stripMargin,
    // recursive (c=3, l=2)-diversity: top sensitive band must not
    // dominate the tail; band shifted positive before the DIV
    "dlp_cl_diversity" ->
      """WITH bands AS (SELECT CAST(c_nationkey AS BIGINT) AS nation, c_mktsegment,
        |    (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) + 100000) // 200000 AS band,
        |    CAST(COUNT(*) AS BIGINT) AS r
        |  FROM customer GROUP BY 1, 2, 3),
        |rk AS (SELECT nation, c_mktsegment, band, r,
        |    row_number() OVER (PARTITION BY nation, c_mktsegment ORDER BY r DESC, band) AS rk
        |  FROM bands)
        |SELECT nation, c_mktsegment, CAST(SUM(r) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) AS BIGINT) AS n_bands,
        |  CAST(MAX(CASE WHEN rk = 1 THEN r END) AS BIGINT) AS top_count,
        |  CAST(SUM(r) - MAX(CASE WHEN rk = 1 THEN r END) AS BIGINT) AS tail_count,
        |  CAST(CASE WHEN COUNT(*) >= 2 AND MAX(CASE WHEN rk = 1 THEN r END)
        |      < 3 * (SUM(r) - MAX(CASE WHEN rk = 1 THEN r END)) THEN 1 ELSE 0 END AS BIGINT) AS satisfies_cl
        |FROM rk GROUP BY 1, 2 ORDER BY nation, c_mktsegment""".stripMargin,
    // kNN-distance density outliers: 3rd-NN similarity inside the
    // 8-sign-bit LSH bucket, banded on the SHIFTED bp (cosine can be
    // negative — a negative numerator never meets the DIV)
    "embed_knn_dist" -> {
      val bucket = (1 to 8).map(i =>
        s"(CASE WHEN emb[$i] >= 0 THEN '1' ELSE '0' END)").mkString(" || ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |b AS (SELECT vec_id, emb, $bucket AS bucket FROM e),
         |pairs AS (SELECT a.vec_id AS vec_id, bb.vec_id AS nbr,
         |    CAST(round(${duckCos("a.emb", "bb.emb")} * 10000) AS BIGINT) AS c_bp
         |  FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id <> bb.vec_id),
         |kth AS (SELECT vec_id, c_bp FROM (SELECT vec_id, c_bp,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY c_bp DESC, nbr) AS rn FROM pairs)
         |  WHERE rn = 3)
         |SELECT CASE WHEN kth.c_bp IS NULL THEN CAST(-1 AS BIGINT)
         |    ELSE CAST((kth.c_bp + 10000) // 500 AS BIGINT) END AS band,
         |  CAST(COUNT(*) AS BIGINT) AS n_vectors
         |FROM e LEFT JOIN kth ON e.vec_id = kth.vec_id
         |GROUP BY 1 ORDER BY band""".stripMargin
    },
    // round 12 batch 18: per-partition watermark skew — the stalled-
    // watermark diagnosis; partition proxy = user_id % 8
    "stream_watermark_skew" ->
      """WITH per AS (SELECT user_id % 8 AS part_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(MAX(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT) AS last_us
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |w AS (SELECT MIN(last_us) AS wm_us FROM per)
        |SELECT CAST(part_id AS BIGINT) AS part_id, n_events, last_us,
        |  CAST(wm_us AS BIGINT) AS wm_us, CAST(last_us - wm_us AS BIGINT) AS lead_us
        |FROM per, w ORDER BY part_id""".stripMargin,
    // session depth -> conversion value: same 30-min-gap sessionizer
    // the concurrency curve uses, with the purchase-value ledger
    "stream_session_value" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    event_type, CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v_c
        |  FROM events WHERE user_id IS NOT NULL),
        |s AS (SELECT user_id, event_id, us, event_type, v_c,
        |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |t AS (SELECT user_id, event_type, v_c, SUM(new_s) OVER
        |    (PARTITION BY user_id ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM s),
        |sess AS (SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS depth,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN v_c ELSE 0 END) AS BIGINT) AS buy_c,
        |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS converted
        |  FROM t GROUP BY 1, 2)
        |SELECT depth,
        |  CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |  CAST(SUM(converted) AS BIGINT) AS n_converted,
        |  CAST((SUM(converted) * 10000) // COUNT(*) AS BIGINT) AS convert_bp,
        |  CAST(SUM(buy_c) AS BIGINT) AS buy_c,
        |  CAST(CASE WHEN SUM(converted) = 0 THEN 0
        |    ELSE SUM(buy_c) // SUM(converted) END AS BIGINT) AS buy_per_conv_c
        |FROM sess GROUP BY depth ORDER BY depth""".stripMargin,
    // shipment-spread histogram: per-order first->last ship span,
    // week buckets, share inside the priority
    "q_ship_spread" ->
      """WITH spans AS (SELECT l_orderkey,
        |    CAST(MAX(CAST(floor(epoch(CAST(l_shipdate AS TIMESTAMP))) AS BIGINT) // 86400)
        |      - MIN(CAST(floor(epoch(CAST(l_shipdate AS TIMESTAMP))) AS BIGINT) // 86400) AS BIGINT) AS span_days,
        |    CAST(COUNT(*) AS BIGINT) AS n_lines
        |  FROM lineitem GROUP BY 1),
        |j AS (SELECT o_orderpriority, span_days // 7 AS week_bucket, n_lines
        |  FROM spans JOIN orders ON l_orderkey = o_orderkey),
        |h AS (SELECT o_orderpriority, week_bucket, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    CAST(SUM(n_lines) AS BIGINT) AS n_lines FROM j GROUP BY 1, 2)
        |SELECT o_orderpriority, CAST(week_bucket AS BIGINT) AS week_bucket, n_orders, n_lines,
        |  CAST((n_orders * 10000) // SUM(n_orders) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS share_bp
        |FROM h ORDER BY o_orderpriority, week_bucket""".stripMargin,
    // LSH blocking recall: how many exact top-5 share the query's
    // 8-sign-bit bucket — the miss-rate the blocked operators inherit
    "ann_bucket_recall" -> {
      val bucket = (1 to 8).map(i =>
        s"(CASE WHEN emb[$i] >= 0 THEN '1' ELSE '0' END)").mkString(" || ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |b AS (SELECT vec_id, $bucket AS bucket FROM e),
         |eq AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id >= 8 AND vec_id < 18),
         |es AS (SELECT query_id, e.vec_id AS vec_id, ${duckCos("qe", "emb")} AS c
         |  FROM eq JOIN e ON e.vec_id <> query_id),
         |et AS (SELECT query_id, vec_id AS neighbor_id FROM (SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id) AS rn FROM es) WHERE rn <= 5)
         |SELECT et.query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
         |  CAST(SUM(CASE WHEN qb.bucket = nb.bucket THEN 1 ELSE 0 END) AS BIGINT) AS n_same_bucket,
         |  CAST(SUM(CASE WHEN qb.bucket = nb.bucket THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT) AS bucket_recall_bp
         |FROM et JOIN b qb ON qb.vec_id = et.query_id
         |JOIN b nb ON nb.vec_id = et.neighbor_id
         |GROUP BY 1 ORDER BY query_id""".stripMargin
    },
    // round 12 batch 19: DSv2 write roundtrip — the oracle recomputes
    // the rollup from the source of truth, so any commit-protocol
    // fault (lost task file, leaked temp, torn manifest) fails here
    "source_dsv2_write" ->
      """SELECT o_orderstatus AS val, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders GROUP BY 1 ORDER BY val""".stripMargin,
    // media metadata strip: injected EXIF-style header mirrored
    // byte-identical; char positions safe (marker region is ASCII)
    "mm_metadata_strip" ->
      """WITH raw AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN concat('EXIF:gps=', CAST(doc_id % 180 AS VARCHAR), ';cam=X;', text)
        |      ELSE text END AS raw
        |  FROM documents WHERE text IS NOT NULL),
        |x AS (SELECT source, raw,
        |    CASE WHEN substr(raw, 1, 5) = 'EXIF:' THEN 1 ELSE 0 END AS tagged,
        |    CASE WHEN substr(raw, 1, 5) = 'EXIF:'
        |      THEN substr(raw, strpos(raw, ';cam=X;') + 7) ELSE raw END AS stripped
        |  FROM raw)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_payloads,
        |  CAST(SUM(tagged) AS BIGINT) AS n_tagged,
        |  CAST((SUM(tagged) * 10000) // COUNT(*) AS BIGINT) AS tagged_bp,
        |  CAST(SUM(strlen(raw)) AS BIGINT) AS bytes_before,
        |  CAST(SUM(strlen(stripped)) AS BIGINT) AS bytes_after,
        |  CAST(SUM(strlen(raw)) - SUM(strlen(stripped)) AS BIGINT) AS meta_bytes,
        |  CAST(SUM(CASE WHEN strpos(stripped, 'EXIF:') > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_residual
        |FROM x GROUP BY source ORDER BY source""".stripMargin,
    // round 12 batch 20: shadow sessionizer diff — both gap variants
    // out of one lag pass, per-user delta histogram
    "stream_shadow_diff" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE user_id IS NOT NULL),
        |s AS (SELECT user_id,
        |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS s_prod,
        |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 900000000 THEN 1 ELSE 0 END AS s_canary
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |pu AS (SELECT user_id, CAST(SUM(s_prod) AS BIGINT) AS n_prod,
        |    CAST(SUM(s_canary) AS BIGINT) AS n_canary FROM s GROUP BY 1),
        |h AS (SELECT n_canary - n_prod AS session_delta, CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(SUM(n_prod) AS BIGINT) AS sessions_prod,
        |    CAST(SUM(n_canary) AS BIGINT) AS sessions_canary FROM pu GROUP BY 1)
        |SELECT CAST(session_delta AS BIGINT) AS session_delta, n_users, sessions_prod,
        |  sessions_canary, CAST((n_users * 10000) // SUM(n_users) OVER () AS BIGINT) AS user_share_bp
        |FROM h ORDER BY session_delta""".stripMargin,
    // experiment sizing: n = 2(1.96+0.84)^2 p(1-p)/d^2 — the constant
    // is EXACTLY 15.68, so the formula clears to pure Int64
    "q_ab_power_plan" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events WHERE user_id IS NOT NULL),
        |v AS (SELECT user_id, event_id, us AS vus FROM e WHERE event_type = 'view'),
        |b AS (SELECT user_id AS u2, us AS pus FROM e WHERE event_type = 'purchase'),
        |pv AS (SELECT v.user_id, v.event_id, v.vus,
        |    MAX(CASE WHEN b.pus IS NOT NULL THEN 1 ELSE 0 END) AS conv
        |  FROM v LEFT JOIN b ON v.user_id = b.u2
        |    AND b.pus > v.vus AND b.pus <= v.vus + 1800000000
        |  GROUP BY 1, 2, 3),
        |base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_views, CAST(SUM(conv) AS BIGINT) AS n_conv,
        |    CAST(MAX(vus // 86400000000) - MIN(vus // 86400000000) + 1 AS BIGINT) AS n_days
        |  FROM pv),
        |base2 AS (SELECT (n_conv * 10000) // n_views AS p_bp,
        |    n_views // n_days AS views_per_day FROM base),
        |l AS (SELECT unnest([100, 200, 500, 1000]) AS lift_bp),
        |x AS (SELECT lift_bp, p_bp, views_per_day,
        |    (p_bp * lift_bp) // 10000 AS delta_bp FROM l, base2),
        |y AS (SELECT lift_bp, p_bp, delta_bp,
        |    (1568 * p_bp * (10000 - p_bp)) // (100 * delta_bp * delta_bp) AS n_per_arm,
        |    views_per_day FROM x WHERE delta_bp > 0)
        |SELECT CAST(lift_bp AS BIGINT) AS lift_bp, CAST(p_bp AS BIGINT) AS p_bp,
        |  CAST(delta_bp AS BIGINT) AS delta_bp, CAST(n_per_arm AS BIGINT) AS n_per_arm,
        |  CAST((2 * n_per_arm + views_per_day - 1) // views_per_day AS BIGINT) AS days_needed
        |FROM y ORDER BY lift_bp""".stripMargin,
    // round 12 batch 21: sample-based stats accuracy — keyed ~1%
    // sample (o_orderkey % 101 = 0) vs exact, modal tie by value
    "ingest_sample_stats" ->
      """WITH st AS (SELECT o_orderkey, 'o_orderstatus' AS col_name, o_orderstatus AS value FROM orders
        |  UNION ALL SELECT o_orderkey, 'o_orderpriority', o_orderpriority FROM orders),
        |ex AS (SELECT col_name, CAST(SUM(n) AS BIGINT) AS n_rows, CAST(COUNT(*) AS BIGINT) AS ndv,
        |    MAX(CASE WHEN rk = 1 THEN value END) AS top
        |  FROM (SELECT col_name, value, CAST(COUNT(*) AS BIGINT) AS n,
        |      row_number() OVER (PARTITION BY col_name ORDER BY COUNT(*) DESC, value) AS rk
        |    FROM st GROUP BY 1, 2) GROUP BY 1),
        |sm AS (SELECT col_name, CAST(SUM(n) AS BIGINT) AS n_rows_s, CAST(COUNT(*) AS BIGINT) AS ndv_s,
        |    MAX(CASE WHEN rk = 1 THEN value END) AS top_s
        |  FROM (SELECT col_name, value, CAST(COUNT(*) AS BIGINT) AS n,
        |      row_number() OVER (PARTITION BY col_name ORDER BY COUNT(*) DESC, value) AS rk
        |    FROM st WHERE o_orderkey % 101 = 0 GROUP BY 1, 2) GROUP BY 1)
        |SELECT ex.col_name, n_rows, ndv, top, n_rows_s, ndv_s, top_s,
        |  CAST(n_rows_s * 101 AS BIGINT) AS est_rows,
        |  CAST((abs(n_rows_s * 101 - n_rows) * 10000) // n_rows AS BIGINT) AS row_err_bp,
        |  CAST(CASE WHEN top = top_s THEN 1 ELSE 0 END AS BIGINT) AS top_match
        |FROM ex JOIN sm ON ex.col_name = sm.col_name ORDER BY 1""".stripMargin,
    // round 12 batch 22: IDF-weighted Jaccard over the verified pair
    // list — integer IDF surrogate w = (N*100) // df, no logs
    "dedup_idf_jaccard" ->
      (s"""WITH $GramsCte,
         |$SigCte,
         |bands AS (
         |  SELECT doc_id, 0 AS band_id, md5(h0 || h1) AS bk FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |pairs AS (SELECT doc_a, doc_b FROM (SELECT doc_a, doc_b, $JaccExpr AS jacc
         |  FROM cand JOIN g ga ON ga.doc_id = doc_a JOIN g gb ON gb.doc_id = doc_b) WHERE jacc >= 0.5),
         |fg AS (SELECT doc_id, unnest(grams) AS gram FROM g),
         |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
         |dfq AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS df FROM fg GROUP BY 1),
         |gw AS (SELECT doc_id, fg.gram, CAST((n * 100) // df AS BIGINT) AS w
         |  FROM fg JOIN dfq ON fg.gram = dfq.gram, nd),
         |dw AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS tw FROM gw GROUP BY 1),
         |sh AS (SELECT p.doc_a, p.doc_b, CAST(SUM(a.w) AS BIGINT) AS w_shared,
         |    CAST(COUNT(*) AS BIGINT) AS n_shared
         |  FROM pairs p JOIN gw a ON a.doc_id = p.doc_a
         |  JOIN gw b ON b.doc_id = p.doc_b AND b.gram = a.gram
         |  GROUP BY 1, 2)
         |SELECT sh.doc_a, sh.doc_b, n_shared, w_shared,
         |  CAST(wa.tw + wb.tw - w_shared AS BIGINT) AS w_union,
         |  CAST((w_shared * 10000) // (wa.tw + wb.tw - w_shared) AS BIGINT) AS wj_bp
         |FROM sh JOIN dw wa ON wa.doc_id = sh.doc_a JOIN dw wb ON wb.doc_id = sh.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin),
    // round 13 batch 1: the oracle recomputes both version snapshots
    // from the source of truth — a version chain that leaks job 2's
    // files into v1 or drops job 1's from the latest fails the hash
    "load_time_travel" ->
      """SELECT CAST(1 AS BIGINT) AS version, c_mktsegment AS val,
        |  CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c_custkey) AS BIGINT) AS key_sum
        |FROM customer WHERE c_custkey % 2 = 0 GROUP BY 2
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), c_mktsegment,
        |  CAST(COUNT(*) AS BIGINT), CAST(SUM(c_custkey) AS BIGINT)
        |FROM customer GROUP BY 2
        |ORDER BY version, val""".stripMargin,
    // layout_stats_sweep: the catalog-wide ANALYZE — per (table,
    // partition, column): stringified min/max, exact ndv, null count,
    // row count; numeric mins/maxes computed numerically then cast
    "layout_stats_sweep" ->
      (StatsSweepCte +
      """SELECT table_name, part_key, col_name, min_s, max_s,
        |  CAST(ndv AS BIGINT) AS ndv, CAST(n_null AS BIGINT) AS n_null, CAST(n_rows AS BIGINT) AS n_rows
        |FROM sw ORDER BY table_name, part_key, col_name""".stripMargin),
    // layout_stats_sweep_approx: HLL estimate engine-specific; the
    // portable contract is the within-6%-or-±2 bit over the exact ndv
    "layout_stats_sweep_approx" ->
      (StatsSweepCte +
      """SELECT table_name, part_key, col_name,
        |  CAST(ndv AS BIGINT) AS ndv, CAST(1 AS BIGINT) AS within_band
        |FROM sw ORDER BY table_name, part_key, col_name""".stripMargin),

    // load_optimize_compact: protocol constants (6 appends → 1
    // compacted file at version 7) + row conservation from the
    // source-of-truth table, including across pre-compaction time
    // travel
    "load_optimize_compact" ->
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer)
        |SELECT stage, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '01_before' AS stage, 'files' AS metric, 6 AS value
        |  UNION ALL SELECT '01_before', 'rows_readable', (SELECT n FROM c)
        |  UNION ALL SELECT '02_optimize', 'files_removed', 6
        |  UNION ALL SELECT '02_optimize', 'version_published', 7
        |  UNION ALL SELECT '03_after', 'files', 1
        |  UNION ALL SELECT '03_after', 'rows_at_pre_compaction_v6', (SELECT n FROM c)
        |  UNION ALL SELECT '03_after', 'rows_readable', (SELECT n FROM c)
        |) t ORDER BY stage, metric""".stripMargin,
    // load_manifest_compaction: the lifecycle counts are protocol
    // constants (12 commits, checkpoint interval 10, retain 3 → fold
    // reads 3 manifests, vacuum drops v1-v9 + 1 stray); readability is
    // recomputed from the source-of-truth table on both sides
    "load_manifest_compaction" ->
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer)
        |SELECT stage, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '01_before' AS stage, 'manifests_read_for_latest' AS metric, 3 AS value
        |  UNION ALL SELECT '01_before', 'rows_readable', (SELECT n FROM c)
        |  UNION ALL SELECT '01_before', 'versions', 12
        |  UNION ALL SELECT '02_vacuum', 'manifests_dropped', 9
        |  UNION ALL SELECT '02_vacuum', 'oldest_readable', 10
        |  UNION ALL SELECT '02_vacuum', 'strays_removed', 1
        |  UNION ALL SELECT '03_after', 'rows_readable', (SELECT n FROM c)
        |  UNION ALL SELECT '03_after', 'versions', 3
        |) t ORDER BY stage, metric""".stripMargin,
    // stream_source_tail: exactly-once delivery across appends + a
    // skipped rewrite = the plain per-type rollup over all events
    "stream_source_tail" ->
      """SELECT event_type AS val, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(event_id) AS BIGINT) AS key_sum
        |FROM events WHERE event_id IS NOT NULL AND event_type IS NOT NULL
        |GROUP BY 1 ORDER BY val""".stripMargin,
    // replay-absorbing sink: the duplicate batch must add ZERO rows,
    // so the oracle is the plain per-type rollup over events
    "stream_exactly_once_sink" ->
      """SELECT event_type AS val, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(event_id) AS BIGINT) AS key_sum
        |FROM events WHERE event_id IS NOT NULL AND event_type IS NOT NULL
        |GROUP BY 1 ORDER BY val""".stripMargin,
    // load_restore: protocol constants (3 appends + restore = v4) +
    // both row sets recomputed from the source of truth — rolled-back
    // latest = the v1 third, forward time travel = the full table
    "load_restore" ->
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
        |  FROM customer)
        |SELECT stage, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '01_before' AS stage, 'rows_at_v1' AS metric, (SELECT n0 FROM c) AS value
        |  UNION ALL SELECT '01_before', 'rows_latest', (SELECT n FROM c)
        |  UNION ALL SELECT '02_restore', 'version_published', 4
        |  UNION ALL SELECT '03_after', 'rows_at_v3_forward', (SELECT n FROM c)
        |  UNION ALL SELECT '03_after', 'rows_latest', (SELECT n0 FROM c)
        |  UNION ALL SELECT '03_after', 'versions', 4
        |) t ORDER BY stage, metric""".stripMargin,
    // load_delete_verb: every count recomputed from the delete rule —
    // merge-on-read masks key%7=0 at read time, v1 time-travels to the
    // full set, OPTIMIZE folds the DV into one clean file
    "load_delete_verb" ->
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nd
        |  FROM customer)
        |SELECT stage, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '01_before' AS stage, 'rows_readable' AS metric, (SELECT n FROM c) AS value
        |  UNION ALL SELECT '02_delete', 'keys_deleted', (SELECT nd FROM c)
        |  UNION ALL SELECT '02_delete', 'version_published', 2
        |  UNION ALL SELECT '03_after_delete', 'dv_files', 1
        |  UNION ALL SELECT '03_after_delete', 'rows_at_v1', (SELECT n FROM c)
        |  UNION ALL SELECT '03_after_delete', 'rows_readable', (SELECT n FROM c) - (SELECT nd FROM c)
        |  UNION ALL SELECT '04_optimize', 'dv_files', 0
        |  UNION ALL SELECT '04_optimize', 'files', 1
        |  UNION ALL SELECT '04_optimize', 'rows_readable', (SELECT n FROM c) - (SELECT nd FROM c)
        |  UNION ALL SELECT '04_optimize', 'version_published', 3
        |) t ORDER BY stage, metric""".stripMargin,
    // layout_prune_from_stats: prune decisions recomputed from the
    // SAME per-month stats the sweep derives (lineitem quantity
    // min/max + row counts), evaluated against the same predicate
    // catalog — the ANALYZE → prune loop closed on both engines
    "layout_prune_from_stats" ->
      """WITH l AS (SELECT CAST(date_part('year', l_shipdate) * 100 + date_part('month', l_shipdate) AS BIGINT) AS pmonth,
        |    CAST(l_quantity AS BIGINT) AS qty FROM lineitem),
        |z AS (SELECT pmonth, MIN(qty) AS qmin, MAX(qty) AS qmax,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows FROM l GROUP BY pmonth),
        |p AS (SELECT * FROM (VALUES
        |  (1, 'part_month', 199701, 210001),
        |  (2, 'part_month', 0, 199306),
        |  (3, 'part_month', 199401, 199501),
        |  (4, 'part_month', 199809, 210001),
        |  (5, 'l_quantity', 1, 10),
        |  (6, 'l_quantity', 45, 51),
        |  (7, 'l_quantity', 51, 1000)) t(pred_id, dim, plo, phi)),
        |j AS (SELECT pred_id, dim, n_rows,
        |  CASE WHEN dim = 'part_month'
        |    THEN CASE WHEN pmonth < plo OR pmonth >= phi THEN 1 ELSE 0 END
        |    ELSE CASE WHEN qmax < plo OR qmin >= phi THEN 1 ELSE 0 END
        |  END AS skipped
        |  FROM z CROSS JOIN p)
        |SELECT CAST(pred_id AS BIGINT) AS pred_id, dim,
        |  CAST(COUNT(*) AS BIGINT) AS n_parts,
        |  CAST(SUM(skipped) AS BIGINT) AS n_skipped,
        |  CAST(SUM(CASE WHEN skipped = 0 THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned
        |FROM j GROUP BY pred_id, dim ORDER BY pred_id""".stripMargin,
    // load_file_skipping: layout constants (8 slices, quarter-probe
    // plans exactly 2) + rows/sums recomputed from the predicate
    "load_file_skipping" ->
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer),
        |q AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, CAST(SUM(c_custkey) AS BIGINT) AS ks
        |  FROM customer WHERE c_custkey < (SELECT n FROM c) // 4)
        |SELECT stage, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '01_layout' AS stage, 'files_total' AS metric, 8 AS value
        |  UNION ALL SELECT '02_probe', 'files_planned', 2
        |  UNION ALL SELECT '03_result', 'key_sum', (SELECT ks FROM q)
        |  UNION ALL SELECT '03_result', 'rows', (SELECT n_rows FROM q)
        |) t ORDER BY stage, metric""".stripMargin,
    // load_update_verb: the update hits exactly the first-quarter
    // keys — slices 0..1 of the 8-slice layout — so 6 files survive
    // the COW rewrite untouched; every count derives from the
    // predicate (keys are dense 0..n-1)
    "load_update_verb" ->
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer),
        |q AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu FROM customer
        |  WHERE c_custkey < (SELECT n FROM c) // 4)
        |SELECT stage, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '01_layout' AS stage, 'files_total' AS metric, 8 AS value
        |  UNION ALL SELECT '02_update', 'keys_updated', (SELECT nu FROM q)
        |  UNION ALL SELECT '02_update', 'files_untouched_surviving', 6
        |  UNION ALL SELECT '03_after', 'rows_readable', (SELECT n FROM c)
        |  UNION ALL SELECT '03_after', 'rows_updated_val', (SELECT nu FROM q)
        |  UNION ALL SELECT '03_after', 'rows_at_pre_update', 0
        |  UNION ALL SELECT '04_cdf', 'pre_images', (SELECT nu FROM q)
        |  UNION ALL SELECT '04_cdf', 'post_images', (SELECT nu FROM q)
        |) t ORDER BY stage, metric""".stripMargin,
    // load_clone_shallow: the clone freezes the source's
    // key%7-deleted snapshot; afterwards each side sees only its own
    // divergence — all counts closed-form from the two delete rules
    // and the key%13 append
    "load_clone_shallow" ->
      """WITH c AS (SELECT c_custkey AS key FROM customer),
        |m AS (SELECT
        |  CAST(SUM(CASE WHEN key % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n7,
        |  CAST(SUM(CASE WHEN key % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n13,
        |  CAST(SUM(CASE WHEN key % 7 <> 0 AND key % 3 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n73,
        |  CAST(SUM(CASE WHEN key % 7 <> 0 AND key % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n7k3
        |  FROM c)
        |SELECT stage, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '01_clone' AS stage, 'clone_version' AS metric, 1 AS value
        |  UNION ALL SELECT '01_clone', 'clone_rows', (SELECT n7 FROM m)
        |  UNION ALL SELECT '01_clone', 'clone_dv_masked_key7', 0
        |  UNION ALL SELECT '02_diverge', 'clone_rows_after_append', (SELECT n7 + n13 FROM m)
        |  UNION ALL SELECT '02_diverge', 'source_rows_after_delete', (SELECT n73 FROM m)
        |  UNION ALL SELECT '03_isolated', 'clone_rows_unaffected_by_source_delete', (SELECT n7k3 FROM m)
        |  UNION ALL SELECT '03_isolated', 'source_rows_unaffected_by_clone_append', 0
        |) t ORDER BY stage, metric""".stripMargin,
    // load_merge_mor: the COW merge's contract plus the zero-rewrite
    // property (files_rewritten=0, one tombstone file) and OPTIMIZE
    // folding the DV away afterwards
    "load_merge_mor" ->
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |  CAST(SUM(CASE WHEN c_custkey % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n11
        |  FROM customer)
        |SELECT stage, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '01_before' AS stage, 'rows_readable' AS metric, (SELECT n FROM c) AS value
        |  UNION ALL SELECT '02_merge', 'matched', (SELECT n3 FROM c)
        |  UNION ALL SELECT '02_merge', 'inserted', (SELECT n11 FROM c)
        |  UNION ALL SELECT '02_merge', 'version_published', 2
        |  UNION ALL SELECT '02_merge', 'files_rewritten', 0
        |  UNION ALL SELECT '02_merge', 'dv_files', 1
        |  UNION ALL SELECT '03_after', 'rows_readable', (SELECT n + n11 FROM c)
        |  UNION ALL SELECT '03_after', 'rows_updated_val', (SELECT n3 FROM c)
        |  UNION ALL SELECT '03_after', 'rows_at_v1', (SELECT n FROM c)
        |  UNION ALL SELECT '04_cdf', 'deletes', (SELECT n3 FROM c)
        |  UNION ALL SELECT '04_cdf', 'inserts', (SELECT n3 + n11 FROM c)
        |  UNION ALL SELECT '05_optimize', 'rows_readable', (SELECT n + n11 FROM c)
        |  UNION ALL SELECT '05_optimize', 'dv_files', 0
        |) t ORDER BY stage, metric""".stripMargin,
    // load_describe_history: the classification contract itself — each
    // verb's #op: (and the structural fallback for the header-less
    // legacy v6), with the structural flags fixed by the chain
    "load_describe_history" ->
      """SELECT CAST(version AS BIGINT) AS version, operation,
        |  CAST(has_adds AS BIGINT) AS has_adds,
        |  CAST(has_removes AS BIGINT) AS has_removes,
        |  CAST(n_dvs AS BIGINT) AS n_dvs,
        |  CAST(is_checkpoint AS BIGINT) AS is_checkpoint
        |FROM (VALUES
        |  (1, 'WRITE', 1, 0, 0, 0),
        |  (2, 'DELETE', 0, 0, 1, 0),
        |  (3, 'MERGE', 1, 1, 0, 0),
        |  (4, 'OPTIMIZE', 1, 1, 0, 0),
        |  (5, 'UPGRADE PROTOCOL', 0, 0, 0, 0),
        |  (6, 'WRITE', 1, 0, 0, 0)
        |) t(version, operation, has_adds, has_removes, n_dvs, is_checkpoint)
        |ORDER BY version""".stripMargin,
    // load_describe_detail: structural facts fixed by the chain (3
    // single-task appends, one DV, protocol 2:2) + the data-derived
    // readable row count under the key%7 delete
    "load_describe_detail" ->
      """WITH c AS (SELECT CAST(SUM(CASE WHEN c_custkey % 7 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n7
        |  FROM customer)
        |SELECT metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT 'fold_base' AS metric, 1 AS value
        |  UNION ALL SELECT 'latest_version', 5
        |  UNION ALL SELECT 'min_reader_version', 2
        |  UNION ALL SELECT 'min_writer_version', 2
        |  UNION ALL SELECT 'num_dv_files', 1
        |  UNION ALL SELECT 'num_files', 3
        |  UNION ALL SELECT 'num_files_with_stats', 3
        |  UNION ALL SELECT 'num_manifests', 5
        |  UNION ALL SELECT 'rows_readable', (SELECT n7 FROM c)
        |) t ORDER BY metric""".stripMargin,
    // load_vacuum_dryrun: the dry run must report exactly what the
    // real vacuum then does — 9 manifests below checkpoint 10, the
    // one aged orphan — while the readable rows never change
    "load_vacuum_dryrun" ->
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer)
        |SELECT stage, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '01_before' AS stage, 'versions' AS metric, 13 AS value
        |  UNION ALL SELECT '01_before', 'rows_readable', (SELECT n FROM c)
        |  UNION ALL SELECT '02_dryrun', 'manifests_reclaimable', 9
        |  UNION ALL SELECT '02_dryrun', 'strays_reclaimable', 1
        |  UNION ALL SELECT '02_dryrun', 'new_horizon', 10
        |  UNION ALL SELECT '03_after_dryrun', 'versions', 13
        |  UNION ALL SELECT '03_after_dryrun', 'rows_readable', (SELECT n FROM c)
        |  UNION ALL SELECT '03_after_dryrun', 'stray_present', 1
        |  UNION ALL SELECT '04_vacuum', 'manifests_deleted', 9
        |  UNION ALL SELECT '04_vacuum', 'strays_deleted', 1
        |  UNION ALL SELECT '04_vacuum', 'new_horizon', 10
        |  UNION ALL SELECT '05_after', 'versions', 4
        |  UNION ALL SELECT '05_after', 'rows_readable', (SELECT n FROM c)
        |  UNION ALL SELECT '05_after', 'stray_present', 0
        |) t ORDER BY stage, metric""".stripMargin,
    // load_cdf_sync: the feed's net effect per val group equals the
    // closed-form final state — survivors keep their segment, key%3
    // becomes UPDATED (resurrects included), key%11 adds NEWROW keys
    // load_protocol_gate: the gate's behavior is the contract — 1:1
    // default, 2:2 after the upgrade (reads/writes keep working), a
    // future 9:9 version refuses both while pre-future time travel
    // still reads
    "load_protocol_gate" ->
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN c_custkey % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n13
        |  FROM customer)
        |SELECT stage, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '01_default' AS stage, 'reader_version' AS metric, 1 AS value
        |  UNION ALL SELECT '01_default', 'writer_version', 1
        |  UNION ALL SELECT '02_upgrade', 'version_published', 2
        |  UNION ALL SELECT '02_upgrade', 'reader_version', 2
        |  UNION ALL SELECT '02_upgrade', 'writer_version', 2
        |  UNION ALL SELECT '02_upgrade', 'rows_readable', (SELECT n FROM c)
        |  UNION ALL SELECT '03_write_under_v2', 'rows_readable', (SELECT n + n13 FROM c)
        |  UNION ALL SELECT '04_future', 'read_refused', 1
        |  UNION ALL SELECT '04_future', 'write_refused', 1
        |  UNION ALL SELECT '04_future', 'time_travel_pre_future_rows', (SELECT n + n13 FROM c)
        |) t ORDER BY stage, metric""".stripMargin,
    // stream_cdf_consume: what the streamed typed feed must deliver,
    // version by version — v1/v2 parity inserts, v3's doomed rows as
    // deletes WITH values, v4's merge sidecars (live key%3 pre-image
    // deletes; all key%3 + rekeyed key%11 inserts)
    "stream_cdf_consume" ->
      """WITH c AS (SELECT c_custkey AS key FROM customer)
        |SELECT CAST(commit_version AS BIGINT) AS commit_version, change_type,
        |  CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(key) AS BIGINT) AS key_sum
        |FROM (
        |  SELECT 1 AS commit_version, 'insert' AS change_type, key FROM c WHERE key % 2 = 0
        |  UNION ALL SELECT 2, 'insert', key FROM c WHERE key % 2 = 1
        |  UNION ALL SELECT 3, 'delete', key FROM c WHERE key % 5 = 0
        |  UNION ALL SELECT 4, 'delete', key FROM c WHERE key % 3 = 0 AND key % 5 <> 0
        |  UNION ALL SELECT 4, 'insert', key FROM c WHERE key % 3 = 0
        |  UNION ALL SELECT 4, 'insert', key + 10000000 FROM c WHERE key % 11 = 0
        |) t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "load_cdf_sync" ->
      """WITH c AS (SELECT c_custkey AS key, c_mktsegment AS seg FROM customer),
        |final AS (
        |  SELECT seg AS val, key FROM c WHERE key % 5 <> 0 AND key % 3 <> 0
        |  UNION ALL SELECT 'UPDATED', key FROM c WHERE key % 3 = 0
        |  UNION ALL SELECT 'NEWROW', key + 10000000 FROM c WHERE key % 11 = 0
        |)
        |SELECT val,
        |  CAST(COUNT(*) AS BIGINT) AS n_feed,
        |  CAST(SUM(key) AS BIGINT) AS key_sum_feed,
        |  CAST(COUNT(*) AS BIGINT) AS n_snap,
        |  CAST(SUM(key) AS BIGINT) AS key_sum_snap
        |FROM final GROUP BY val ORDER BY val""".stripMargin,
    // load_change_feed: the CDF rollup recomputed from the change
    // rules — v1/v2 inserts are the key-parity halves, v3 deletes are
    // the key%5 rows, v4 (OPTIMIZE) contributes nothing
    "load_change_feed" ->
      """WITH c AS (SELECT c_custkey AS key FROM customer)
        |SELECT CAST(commit_version AS BIGINT) AS commit_version, change_type,
        |  CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(key) AS BIGINT) AS key_sum
        |FROM (
        |  SELECT 1 AS commit_version, 'insert' AS change_type, key FROM c WHERE key % 2 = 0
        |  UNION ALL SELECT 2, 'insert', key FROM c WHERE key % 2 = 1
        |  UNION ALL SELECT 3, 'delete', key FROM c WHERE key % 5 = 0
        |) t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // load_merge_verb: every count recomputed from the update rules —
    // matched = key%3 customers (replaced in place), inserted = the
    // key%11 re-keys, CDF sidecars declare exactly those changes
    "load_merge_verb" ->
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |  CAST(SUM(CASE WHEN c_custkey % 11 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n11
        |  FROM customer)
        |SELECT stage, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '01_before' AS stage, 'rows_readable' AS metric, (SELECT n FROM c) AS value
        |  UNION ALL SELECT '02_merge', 'matched', (SELECT n3 FROM c)
        |  UNION ALL SELECT '02_merge', 'inserted', (SELECT n11 FROM c)
        |  UNION ALL SELECT '02_merge', 'version_published', 2
        |  UNION ALL SELECT '03_after', 'rows_readable', (SELECT n + n11 FROM c)
        |  UNION ALL SELECT '03_after', 'rows_updated_val', (SELECT n3 FROM c)
        |  UNION ALL SELECT '03_after', 'rows_at_v1', (SELECT n FROM c)
        |  UNION ALL SELECT '04_cdf', 'deletes', (SELECT n3 FROM c)
        |  UNION ALL SELECT '04_cdf', 'inserts', (SELECT n3 + n11 FROM c)
        |) t ORDER BY stage, metric""".stripMargin,
    // load_occ_retry: the race recomputed from the slice geometry —
    // merge A touches slice 7, merge B (stale pin) slice 0; disjoint
    // zones prove compatibility so B rebases to v10, the overlapping
    // merge C errors, and the final state carries both value sets
    "load_occ_retry" ->
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer),
        |s AS (SELECT
        |  CAST(SUM(CASE WHEN c_custkey * 8 // (SELECT n FROM c) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |  CAST(SUM(CASE WHEN c_custkey * 8 // (SELECT n FROM c) = 7 THEN 1 ELSE 0 END) AS BIGINT) AS n7
        |  FROM customer)
        |SELECT stage, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '01_race' AS stage, 'pin_version' AS metric, 8 AS value
        |  UNION ALL SELECT '02_merge_a', 'matched', (SELECT n7 FROM s)
        |  UNION ALL SELECT '02_merge_a', 'version', 9
        |  UNION ALL SELECT '03_merge_b_rebased', 'matched', (SELECT n0 FROM s)
        |  UNION ALL SELECT '03_merge_b_rebased', 'version', 10
        |  UNION ALL SELECT '04_conflict', 'true_conflict_errored', 1
        |  UNION ALL SELECT '05_after', 'inserted_total', 0
        |  UNION ALL SELECT '05_after', 'rows_readable', (SELECT n FROM c)
        |  UNION ALL SELECT '05_after', 'rows_val_a', (SELECT n7 FROM s)
        |  UNION ALL SELECT '05_after', 'rows_val_b', (SELECT n0 FROM s)
        |) t ORDER BY stage, metric""".stripMargin,
    // load_file_skipping_val: layout constants (5 segment files; the
    // probes plan 1/2/1 of them) + row counts from the segment
    // histogram
    "load_file_skipping_val" ->
      """WITH s AS (SELECT
        |  CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |  CAST(SUM(CASE WHEN c_mktsegment IN ('FURNITURE','HOUSEHOLD') THEN 1 ELSE 0 END) AS BIGINT) AS nfh,
        |  CAST(SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS nm
        |  FROM customer)
        |SELECT stage, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '01_layout' AS stage, 'files_total' AS metric, 5 AS value
        |  UNION ALL SELECT '02_eq', 'files_planned', 1
        |  UNION ALL SELECT '02_eq', 'rows', (SELECT nb FROM s)
        |  UNION ALL SELECT '03_range', 'files_planned', 2
        |  UNION ALL SELECT '03_range', 'rows', (SELECT nfh FROM s)
        |  UNION ALL SELECT '04_prefix', 'files_planned', 1
        |  UNION ALL SELECT '04_prefix', 'rows', (SELECT nm FROM s)
        |) t ORDER BY stage, metric""".stripMargin,
    // load_optimize_zorder: the clustered-rewrite payoff in closed
    // form — mod-sliced zones prune nothing (8/8 planned), the Morton
    // layout prunes the key quarter to 2 files and the BUILDING
    // segment to 4 (top-3 Morton bits = key15,val15,key14)
    "load_optimize_zorder" ->
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer),
        |s AS (SELECT
        |  CAST(SUM(CASE WHEN c_custkey < (SELECT n FROM c) // 4 THEN 1 ELSE 0 END) AS BIGINT) AS nq,
        |  CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM customer)
        |SELECT stage, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '01_layout' AS stage, 'files_before' AS metric, 8 AS value
        |  UNION ALL SELECT '02_probe_before', 'key_files_planned', 8
        |  UNION ALL SELECT '02_probe_before', 'val_files_planned', 8
        |  UNION ALL SELECT '03_zorder', 'files_after', 8
        |  UNION ALL SELECT '03_zorder', 'version', 9
        |  UNION ALL SELECT '04_probe_after', 'key_files_planned', 2
        |  UNION ALL SELECT '04_probe_after', 'key_rows', (SELECT nq FROM s)
        |  UNION ALL SELECT '04_probe_after', 'val_files_planned', 4
        |  UNION ALL SELECT '04_probe_after', 'val_rows', (SELECT nb FROM s)
        |  UNION ALL SELECT '05_invariant', 'key_rows_stable', 1
        |  UNION ALL SELECT '05_invariant', 'rows_readable', (SELECT n FROM c)
        |  UNION ALL SELECT '05_invariant', 'val_rows_stable', 1
        |) t ORDER BY stage, metric""".stripMargin,
    // load_schema_evolution: zero-rewrite ALTER — constants for the
    // chain geometry, row counts from the customer table (old rows
    // null-fill segment, new rows carry it)
    "load_schema_evolution" ->
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM customer)
        |SELECT stage, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '01_alter' AS stage, 'reader_protocol' AS metric, 3 AS value
        |  UNION ALL SELECT '01_alter', 'version', 2
        |  UNION ALL SELECT '02_wide', 'building_rows', (SELECT nb FROM c)
        |  UNION ALL SELECT '02_wide', 'cols', 3
        |  UNION ALL SELECT '02_wide', 'null_segment_rows', (SELECT n FROM c)
        |  UNION ALL SELECT '02_wide', 'rows', (SELECT 2 * n FROM c)
        |  UNION ALL SELECT '03_travel', 'cols_at_v1', 2
        |  UNION ALL SELECT '03_travel', 'rows_at_v1', (SELECT n FROM c)
        |  UNION ALL SELECT '04_history', 'alter_ops', 1
        |) t ORDER BY stage, metric""".stripMargin,
    // load_maintenance_plan: every trigger recomputed from the staged
    // geometry — 11 live files (8 mod slices + 3 tails), dead_bp =
    // (n/4 deleted keys)*10000 over n+3 live rows, 9 reclaimable
    // manifests below checkpoint 10 at retainLast=2, overlap depth 8
    "load_maintenance_plan" ->
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM customer),
        |d AS (SELECT CAST(SUM(CASE WHEN c_custkey % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ndel
        |  FROM customer)
        |SELECT stage, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '01_state' AS stage, 'dv_files' AS metric, 1 AS value
        |  UNION ALL SELECT '01_state', 'files_live', 11
        |  UNION ALL SELECT '01_state', 'keys_deleted', (SELECT ndel FROM d)
        |  UNION ALL SELECT '02_plan', 'compact_fired', 1
        |  UNION ALL SELECT '02_plan', 'compact_files', 11
        |  UNION ALL SELECT '02_plan', 'dead_bp',
        |    (SELECT ndel * 10000 // (n + 3) FROM c, d)
        |  UNION ALL SELECT '02_plan', 'dv_fold_fired', 1
        |  UNION ALL SELECT '02_plan', 'jobs_planned', 4
        |  UNION ALL SELECT '02_plan', 'max_overlap', 8
        |  UNION ALL SELECT '02_plan', 'vacuum_fired', 1
        |  UNION ALL SELECT '02_plan', 'vacuum_reclaimable', 9
        |  UNION ALL SELECT '02_plan', 'zorder_fired', 1
        |) t ORDER BY stage, metric""".stripMargin,
    // stream_source_snapshot_paced: geometry constants (10-file
    // snapshot at rate 2 → 5 slices + 1 version batch, no batch over
    // 2 files) + exactly-once totals from events
    "stream_source_snapshot_paced" ->
      """WITH e AS (SELECT event_id AS key FROM events
        |  WHERE event_id IS NOT NULL AND event_type IS NOT NULL)
        |SELECT stage, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '01_source' AS stage, 'snapshot_files' AS metric, 10 AS value
        |  UNION ALL SELECT '02_run', 'batches', 6
        |  UNION ALL SELECT '02_run', 'max_files_per_batch', 2
        |  UNION ALL SELECT '03_sink', 'key_sum', (SELECT SUM(key) FROM e)
        |  UNION ALL SELECT '03_sink', 'rows', (SELECT COUNT(*) FROM e)
        |) t ORDER BY stage, metric""".stripMargin,
    // stream_cdf_tail: run 1 skips all history by declaration; run 2
    // delivers exactly the post-start DELETE + append, recomputed
    // from the change rules
    "stream_cdf_tail" ->
      """WITH d AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(c_custkey) AS BIGINT) AS ks
        |  FROM customer WHERE c_custkey % 7 = 0),
        |i AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(c_custkey) AS BIGINT) AS ks
        |  FROM customer WHERE c_custkey % 2 = 0)
        |SELECT stage, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '01_run1' AS stage, 'history_rows' AS metric, 0 AS value
        |  UNION ALL SELECT '02_run2', 'delete_key_sum', (SELECT ks FROM d)
        |  UNION ALL SELECT '02_run2', 'delete_rows', (SELECT n FROM d)
        |  UNION ALL SELECT '02_run2', 'delete_versions', 1
        |  UNION ALL SELECT '02_run2', 'insert_base_key_sum', (SELECT ks FROM i)
        |  UNION ALL SELECT '02_run2', 'insert_rows', (SELECT n FROM i)
        |  UNION ALL SELECT '02_run2', 'insert_versions', 1
        |) t ORDER BY stage, metric""".stripMargin,
    // load_maintenance_cycle: the staged geometry in closed form —
    // 3 triggers fire, one binpack rewrite settles all of them, the
    // re-plan is empty, the quarter probe plans 1 of 4 disjoint bins
    "load_maintenance_cycle" ->
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN c_custkey % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ndel
        |  FROM customer)
        |SELECT stage, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '01_plan' AS stage, 'compact_fired' AS metric, 1 AS value
        |  UNION ALL SELECT '01_plan', 'dv_fold_fired', 1
        |  UNION ALL SELECT '01_plan', 'jobs', 3
        |  UNION ALL SELECT '01_plan', 'zorder_fired', 1
        |  UNION ALL SELECT '02_execute', 'files_before', 8
        |  UNION ALL SELECT '02_execute', 'version', 10
        |  UNION ALL SELECT '03_replan', 'jobs', 0
        |  UNION ALL SELECT '04_after', 'dv_files', 0
        |  UNION ALL SELECT '04_after', 'files_live', 4
        |  UNION ALL SELECT '04_after', 'quarter_probe_files_planned', 1
        |  UNION ALL SELECT '04_after', 'rows_readable', (SELECT n - ndel FROM c)
        |) t ORDER BY stage, metric""".stripMargin,
    // load_merge_evolved: the guards-gone headline — MERGE/UPDATE/CDF
    // on a widened table, every count closed-form from customer
    "load_merge_evolved" ->
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
        |  CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM customer)
        |SELECT stage, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '01_alter' AS stage, 'version' AS metric, 2 AS value
        |  UNION ALL SELECT '02_merge', 'matched', (SELECT n3 FROM c)
        |  UNION ALL SELECT '02_merge', 'inserted', 0
        |  UNION ALL SELECT '02_merge', 'version', 4
        |  UNION ALL SELECT '03_update', 'rows', (SELECT nb FROM c)
        |  UNION ALL SELECT '03_update', 'version', 5
        |  UNION ALL SELECT '04_after', 'rows', (SELECT 2 * n FROM c)
        |  UNION ALL SELECT '04_after', 'null_segment', (SELECT n - n3 FROM c)
        |  UNION ALL SELECT '04_after', 'merged_rows', (SELECT n3 FROM c)
        |  UNION ALL SELECT '04_after', 'updated_rows', (SELECT nb FROM c)
        |  UNION ALL SELECT '05_cdf', 'deletes', (SELECT n3 + nb FROM c)
        |  UNION ALL SELECT '05_cdf', 'inserts', (SELECT n3 + nb FROM c)
        |  UNION ALL SELECT '05_cdf', 'merged_inserts', (SELECT n3 FROM c)
        |) t ORDER BY stage, metric""".stripMargin,
    // load_optimize_evolved: maintenance survives ALTER — the staged
    // geometry in closed form (5 files, 50%-of-narrow delete ≈
    // 2500 bp, binpack to 4 disjoint wide bins, re-plan empty,
    // quarter probe plans 1 bin)
    "load_optimize_evolved" ->
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ndel
        |  FROM customer),
        |q AS (SELECT CAST(SUM(CASE WHEN c_custkey <= (SELECT n // 4 FROM c)
        |    AND c_custkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nq FROM customer)
        |SELECT stage, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '01_stage' AS stage, 'files' AS metric, 5 AS value
        |  UNION ALL SELECT '01_stage', 'keys_deleted', (SELECT ndel FROM c)
        |  UNION ALL SELECT '02_plan', 'compact_fired', 1
        |  UNION ALL SELECT '02_plan', 'dv_fold_fired', 1
        |  UNION ALL SELECT '02_plan', 'zorder_fired', 1
        |  UNION ALL SELECT '03_execute', 'version', 8
        |  UNION ALL SELECT '04_replan', 'jobs', 0
        |  UNION ALL SELECT '05_after', 'files_live', 4
        |  UNION ALL SELECT '05_after', 'dv_files', 0
        |  UNION ALL SELECT '05_after', 'rows', (SELECT 2 * n - ndel FROM c)
        |  UNION ALL SELECT '05_after', 'null_segment', (SELECT n - ndel FROM c)
        |  UNION ALL SELECT '05_after', 'quarter_probe_files_planned', 1
        |  UNION ALL SELECT '05_after', 'quarter_probe_rows', (SELECT nq FROM q)
        |) t ORDER BY stage, metric""".stripMargin,
    // load_cdf_evolved: the feed across an ALTER — per-version change
    // rollups with key sums; narrow inserts null-fill, the DELETE's
    // retractions materialize wide, MERGE sidecars carry both images
    "load_cdf_evolved" ->
      """WITH e AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 2 = 0),
        |o AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 2 = 1),
        |d AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 10 = 5),
        |m AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 6 = 0)
        |SELECT CAST(commit_version AS BIGINT) AS commit_version, change_type,
        |  CAST(n AS BIGINT) AS n, CAST(key_sum AS BIGINT) AS key_sum,
        |  CAST(null_segment AS BIGINT) AS null_segment FROM (
        |  SELECT 1 AS commit_version, 'insert' AS change_type,
        |    COUNT(*) AS n, SUM(k) AS key_sum, COUNT(*) AS null_segment FROM e
        |  UNION ALL SELECT 3, 'insert', COUNT(*), SUM(k), 0 FROM o
        |  UNION ALL SELECT 4, 'delete', COUNT(*), SUM(k), 0 FROM d
        |  UNION ALL SELECT 5, 'delete', COUNT(*), SUM(k), COUNT(*) FROM m
        |  UNION ALL SELECT 5, 'insert', COUNT(*), SUM(k), 0 FROM m
        |) t ORDER BY commit_version, change_type""".stripMargin,
    // load_file_skipping_cols: layout constants (9 files — the
    // cstats-free narrow file always plans, +1 on every probe; probes
    // plan 2/3/2) + row counts from the segment histogram
    "load_file_skipping_cols" ->
      """WITH s AS (SELECT
        |  CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
        |  CAST(SUM(CASE WHEN c_mktsegment IN ('FURNITURE','HOUSEHOLD') THEN 1 ELSE 0 END) AS BIGINT) AS nfh,
        |  CAST(SUM(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS nm
        |  FROM customer)
        |SELECT stage, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '01_layout' AS stage, 'files_total' AS metric, 9 AS value
        |  UNION ALL SELECT '01_layout', 'fold_base', 10
        |  UNION ALL SELECT '02_eq', 'files_planned', 2
        |  UNION ALL SELECT '02_eq', 'rows', (SELECT nb FROM s)
        |  UNION ALL SELECT '03_range', 'files_planned', 3
        |  UNION ALL SELECT '03_range', 'rows', (SELECT nfh FROM s)
        |  UNION ALL SELECT '04_prefix', 'files_planned', 2
        |  UNION ALL SELECT '04_prefix', 'rows', (SELECT nm FROM s)
        |) t ORDER BY stage, metric""".stripMargin,
    // load_rename_column: metadata-only rename — counts closed-form
    // (n7 merge matches on the NEW name; nulls = narrow minus merged)
    "load_rename_column" ->
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n7,
        |  CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM customer)
        |SELECT stage, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '01_rename' AS stage, 'version' AS metric, 4 AS value
        |  UNION ALL SELECT '01_rename', 'reader_protocol', 4
        |  UNION ALL SELECT '01_rename', 'writer_protocol', 4
        |  UNION ALL SELECT '02_schema', 'cols', 3
        |  UNION ALL SELECT '02_schema', 'has_new_name', 1
        |  UNION ALL SELECT '02_schema', 'has_old_name', 0
        |  UNION ALL SELECT '03_travel', 'old_name_at_v3', 1
        |  UNION ALL SELECT '03_travel', 'rows_at_v3', (SELECT 2 * n FROM c)
        |  UNION ALL SELECT '04_merge', 'matched', (SELECT n7 FROM c)
        |  UNION ALL SELECT '04_merge', 'version', 5
        |  UNION ALL SELECT '05_after', 'rows', (SELECT 2 * n FROM c)
        |  UNION ALL SELECT '05_after', 'mg_rows', (SELECT n7 FROM c)
        |  UNION ALL SELECT '05_after', 'building_rows', (SELECT nb FROM c)
        |  UNION ALL SELECT '05_after', 'null_rows', (SELECT n - n7 FROM c)
        |  UNION ALL SELECT '06_history', 'rename_ops', 1
        |) t ORDER BY stage, metric""".stripMargin,
    // load_drop_column: metadata-only drop — all counts closed-form
    // (3 slices before the drop, one post-drop append, n7 merged rows
    // carrying nat='MG', the re-added segment non-null only on the 3
    // tail rows; time travel below the drop reads the column back)
    "load_drop_column" ->
      """WITH c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n7,
        |  CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS nb
        |  FROM customer)
        |SELECT stage, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '01_drop' AS stage, 'version' AS metric, 6 AS value
        |  UNION ALL SELECT '01_drop', 'reader_protocol', 5
        |  UNION ALL SELECT '01_drop', 'writer_protocol', 5
        |  UNION ALL SELECT '02_schema', 'cols', 3
        |  UNION ALL SELECT '02_schema', 'has_segment', 0
        |  UNION ALL SELECT '02_schema', 'has_nat', 1
        |  UNION ALL SELECT '03_read', 'rows', (SELECT 3 * n FROM c)
        |  UNION ALL SELECT '03_read', 'nat_nonnull', (SELECT n FROM c)
        |  UNION ALL SELECT '04_merge', 'matched', (SELECT n7 FROM c)
        |  UNION ALL SELECT '04_merge', 'version', 8
        |  UNION ALL SELECT '05_cdf', 'has_segment', 0
        |  UNION ALL SELECT '05_cdf', 'ins_rows', (SELECT n7 FROM c)
        |  UNION ALL SELECT '05_cdf', 'del_rows', (SELECT n7 FROM c)
        |  UNION ALL SELECT '06_travel', 'cols_at_v5', 4
        |  UNION ALL SELECT '06_travel', 'rows_at_v5', (SELECT 3 * n FROM c)
        |  UNION ALL SELECT '06_travel', 'building_at_v5', (SELECT 2 * nb FROM c)
        |  UNION ALL SELECT '07_readd', 'cols', 4
        |  UNION ALL SELECT '07_readd', 'rows', (SELECT 4 * n + 3 FROM c)
        |  UNION ALL SELECT '07_readd', 'segment_new', 3
        |  UNION ALL SELECT '07_readd', 'nat_nonnull', (SELECT 2 * n + n7 + 3 FROM c)
        |  UNION ALL SELECT '07_readd', 'mg_nat', (SELECT n7 FROM c)
        |  UNION ALL SELECT '08_history', 'drop_ops', 1
        |) t ORDER BY stage, metric""".stripMargin,
    // stream_dedup_window: kept = distinct (user, type, 15-min
    // tumbling window) groups; timestamps positive so // == DIV
    "stream_dedup_window" ->
      """WITH e AS (SELECT user_id, event_type,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |g AS (SELECT user_id, event_type, us // 900000000 AS win,
        |  CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY 1, 2, 3)
        |SELECT event_type, CAST(SUM(n) AS BIGINT) AS raw_events,
        |  CAST(COUNT(*) AS BIGINT) AS kept_events,
        |  CAST(SUM(n) - COUNT(*) AS BIGINT) AS dups_suppressed,
        |  CAST((SUM(n) - COUNT(*)) * 10000 // SUM(n) AS BIGINT) AS dup_bp
        |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin,
    // load_occ_crossproc: chain geometry constants + the slice
    // arithmetic recomputed via generate_series (2 slices x 30 files
    // x 10 keys at slice*1e6 + i*10 + j)
    "load_occ_crossproc" ->
      """WITH k AS (SELECT (s.g * 1000000 + i.g * 10 + j.g) AS key
        |  FROM generate_series(0, 1) s(g), generate_series(0, 29) i(g),
        |       generate_series(0, 9) j(g))
        |SELECT stage, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '01_race' AS stage, 'exit_a' AS metric, 0 AS value
        |  UNION ALL SELECT '01_race', 'exit_b', 0
        |  UNION ALL SELECT '02_chain', 'versions', 60
        |  UNION ALL SELECT '02_chain', 'chain_dense', 1
        |  UNION ALL SELECT '02_chain', 'files_live', 60
        |  UNION ALL SELECT '03_rows', 'rows', (SELECT COUNT(*) FROM k)
        |  UNION ALL SELECT '03_rows', 'key_sum', (SELECT SUM(key) FROM k)
        |  UNION ALL SELECT '03_rows', 'rows_a', 300
        |  UNION ALL SELECT '03_rows', 'rows_b', 300
        |) t ORDER BY stage, metric""".stripMargin,
    // stream_sink_occ_race: exactly-once totals hold across the race
    // regardless of where the rewrite lands — seed (shifted keys) +
    // streamed copy, each exactly once
    "stream_sink_occ_race" ->
      """WITH e AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(event_id) AS BIGINT) AS ks FROM events
        |  WHERE event_id IS NOT NULL AND event_type IS NOT NULL)
        |SELECT stage, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '01_race' AS stage, 'optimize_ran' AS metric, 1 AS value
        |  UNION ALL SELECT '01_race', 'optimize_in_history', 1
        |  UNION ALL SELECT '02_sink', 'rows', (SELECT 2 * n FROM e)
        |  UNION ALL SELECT '02_sink', 'exactly_once', 1
        |  UNION ALL SELECT '02_sink', 'key_sum',
        |    (SELECT 2 * ks + n * 1000000000 FROM e)
        |) t ORDER BY stage, metric""".stripMargin,
    // stream_source_ratelimit: protocol constants (3 versions drained
    // one per micro-batch) + exactly-once totals from events
    "stream_source_ratelimit" ->
      """WITH e AS (SELECT event_id AS key, event_type AS val FROM events
        |  WHERE event_id IS NOT NULL AND event_type IS NOT NULL)
        |SELECT stage, metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT '01_source' AS stage, 'versions' AS metric, 3 AS value
        |  UNION ALL SELECT '02_run', 'non_empty_epochs', 3
        |  UNION ALL SELECT '03_sink', 'key_sum', (SELECT SUM(key) FROM e)
        |  UNION ALL SELECT '03_sink', 'n_types', (SELECT COUNT(DISTINCT val) FROM e)
        |  UNION ALL SELECT '03_sink', 'rows', (SELECT COUNT(*) FROM e)
        |) t ORDER BY stage, metric""".stripMargin,
    // stream_source_snapshot: exactly-once across the initial-snapshot
    // + delta boundary of a vacuumed chain = the plain per-type rollup
    "stream_source_snapshot" ->
      """SELECT event_type AS val, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(event_id) AS BIGINT) AS key_sum
        |FROM events WHERE event_id IS NOT NULL AND event_type IS NOT NULL
        |GROUP BY 1 ORDER BY val""".stripMargin,
    // text_bpe_train_iter: the K rounds unrolled (see BpeIterSql)
    "text_bpe_train_iter" -> BpeIterSql,
    // embed_kmeanspp_seed: k-1 unrolled farthest-point rounds
    "embed_kmeanspp_seed" -> KppSeedSql,
    // load_deletion_vectors: the mask recomputed from the delete rule
    "load_deletion_vectors" ->
      """WITH b AS (SELECT o_orderkey, CAST(o_orderkey // 2048 AS BIGINT) AS file_id,
        |  CASE WHEN o_orderkey % 13 = 0 THEN 1 ELSE 0 END AS del FROM orders)
        |SELECT file_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) - SUM(del) AS BIGINT) AS n_live,
        |  CAST(SUM(del) AS BIGINT) AS n_deleted,
        |  CAST(SUM(del) * 10000 // COUNT(*) AS BIGINT) AS dead_bp,
        |  CAST(CASE WHEN SUM(del) * 10000 // COUNT(*) >= 2000 THEN 1 ELSE 0 END AS BIGINT) AS rewrite
        |FROM b GROUP BY file_id ORDER BY file_id""".stripMargin,
    // text_bpe_apply: the SAME two-sweep replace fold over the ranked
    // merge list, via list_reduce with the spaced word prepended as
    // the fold seed; token count = spaces - 1
    // text_bpe_apply: the ITERATED ledger's per-word bill (tokw from
    // the shared K-round chain) joined against per-source word counts
    "text_bpe_apply" ->
      (BpeChainCte + """,
        |ws AS (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
        |asw AS (SELECT source, word FROM ws WHERE regexp_matches(word, '^[a-z]+$')),
        |sw AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS n_sw FROM asw GROUP BY 1, 2),
        |aw AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_words FROM ws GROUP BY 1),
        |agg AS (SELECT source, CAST(SUM(n_sw) AS BIGINT) AS n_alpha,
        |    CAST(SUM(n_sw * chars) AS BIGINT) AS chars_alpha,
        |    CAST(SUM(n_sw * n_tok) AS BIGINT) AS bpe_tokens
        |  FROM sw JOIN tokw USING (word) GROUP BY 1)
        |SELECT agg.source, n_words, n_alpha, chars_alpha, bpe_tokens,
        |  CAST(chars_alpha - bpe_tokens AS BIGINT) AS merged_away,
        |  (bpe_tokens * 10000) // chars_alpha AS compression_bp
        |FROM agg JOIN aw ON aw.source = agg.source
        |ORDER BY 1""".stripMargin),
    // mm_scene_cut: identical frame-signature recurrence (32-byte
    // windows, two-hex-digit decode, 8-bit Hamming >= 5), per-doc
    // ledger then source rollup
    "mm_scene_cut" ->
      """WITH f AS (SELECT doc_id, source, text,
        |    unnest(range(0, least(7, greatest(len(text) - 1, 0) // 32) + 1)) AS frame_idx
        |  FROM documents WHERE text IS NOT NULL),
        |h AS (SELECT doc_id, source, CAST(frame_idx AS BIGINT) AS frame_idx,
        |    md5(substr(text, 1 + CAST(frame_idx AS INT) * 32, 32)) AS frame_hash FROM f),
        |s AS (SELECT doc_id, source, frame_idx,
        |    CAST((instr('0123456789abcdef', substr(frame_hash, 1, 1)) - 1) * 16
        |       + (instr('0123456789abcdef', substr(frame_hash, 2, 1)) - 1) AS BIGINT) AS sig FROM h),
        |c AS (SELECT doc_id, source,
        |    CASE WHEN prev IS NOT NULL AND bit_count(xor(sig, prev)) >= 5 THEN 1 ELSE 0 END AS cut
        |  FROM (SELECT *, lag(sig) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev FROM s)),
        |d AS (SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_frames,
        |    CAST(SUM(cut) AS BIGINT) AS n_cuts FROM c GROUP BY 1, 2)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_frames) AS BIGINT) AS n_frames,
        |  CAST(SUM(n_cuts) AS BIGINT) AS n_cuts,
        |  CAST(SUM(n_cuts) + COUNT(*) AS BIGINT) AS n_scenes,
        |  CAST((SUM(n_frames) * 100) // (SUM(n_cuts) + COUNT(*)) AS BIGINT) AS scene_len_c,
        |  CAST((SUM(n_cuts) * 10000) // GREATEST(SUM(n_frames) - COUNT(*), 1) AS BIGINT) AS cut_rate_bp
        |FROM d GROUP BY 1 ORDER BY source""".stripMargin,
  )
}
