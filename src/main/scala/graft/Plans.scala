package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dumps the executed plan of EVERY SparkEntry query to PLANS.md — the
  * explain-and-iterate audit trail (SURVEY.md §5): broadcasts where
  * expected, pushdown reaching scans, codegen stages wide. Coverage is
  * exhaustive by construction: the section list is the `queries` key
  * set itself, and the generator fails if any key lacks a section —
  * the r9 global-window shape shipped precisely because its plan was
  * never rendered.
  * Usage: graft.Plans [sfDir] [outFile]
  */
object Plans {
  /** Audit-priority queries rendered first (the expensive shapes a
    * reviewer reads top-down); every remaining `queries` key follows
    * alphabetically, so the file always covers the full surface. */
  val Headline = Seq(
    "q1_pricing_summary", "q6_forecast_revenue", "q_asof_join",
    "dedup_minhash_pairs", "dedup_ngram_jaccard", "dedup_embedding_cos",
    "dedup_corpus_sig", "ann_topk_bruteforce", "ann_ivf_topk",
    "stream_window_agg", "stream_sessionize", "pipeline_dedup_survivors",
    "q_topk_native", "q_salted_join", "stream_event_join", "dlp_k_anonymity",
    // round 4 additions
    "q_range_join", "q_bloom_join", "ann_pq_topk", "ann_ivfpq_topk",
    "ann_ivf_probe2", "stream_latest_state", "text_repetition",
    "jdbc_live_extract", "ingest_partition_pruning",
    "dedup_containment", "dedup_components",
    // round 6 additions
    "q_lateral", "dedup_incremental", "split_decontaminate",
    "pipeline_quality_gate", "jdbc_live_extract_nopk",
    "ann_pq_rerank", "dedup_keep_best", "mm_decode_batch_plan",
    // round 7 additions
    "text_chunking", "text_ngram_coverage", "text_tfidf",
    "ann_lsh_topk", "embed_quantize_int8", "dedup_semantic_cluster",
    "embed_kmeans_train", "text_search_rank", "stream_late_audit",
    "mm_shard_skew", "ann_recall_eval",
    // round 8 additions
    "source_bucketed_join", "layout_zorder",
    "load_agg_upsert", "sample_weighted", "ingest_gap_audit",
    "dedup_paragraph", "stream_deid_pipeline", "ann_cell_balance",
    "text_lm_score", "ingest_checksum_reconcile", "load_cdc_apply",
    "embed_random_projection", "stream_rate_anomaly", "dedup_fuzzy_link",
    "pipeline_training_mix", "mm_binary_ingest",
    // round 9 additions
    "q_sequence_match", "q_skyline",
    "layout_compaction_plan", "text_bpe_pairs", "text_length_outliers",
    "pipeline_mix_weights", "embed_matryoshka_eval", "embed_dim_stats",
    "dedup_component_stats", "dedup_lsh_tuning", "dedup_source_dup_rate",
    "ingest_snapshot_diff", "sample_group_topk", "text_bm25",
    "mm_payload_dedup", "ann_probe_curve", "ann_reassign_drift",
    "q_funnel_conversion", "stream_funnel_match_replay",
    "pipeline_mm_curation", "dedup_corpus_matrix", "dedup_lsh_recall",
    "text_cooccurrence", "dlp_quantile_bucketing", "stream_reorder_depth",
    "embed_pair_hist")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val all = Headline ++ SparkEntry.queries.keys.toSeq.filterNot(Headline.contains).sorted
    // key parity both ways: a queries key with no plan section (or a
    // stale Headline name with no query) must fail the generator, not
    // silently narrow the audit
    val missing = SparkEntry.queries.keySet -- all.toSet
    val stale = all.toSet -- SparkEntry.queries.keySet
    require(missing.isEmpty && stale.isEmpty,
      s"plan/key parity broken: missing=${missing.toSeq.sorted} stale=${stale.toSeq.sorted}")
    val sb = new StringBuilder
    sb.append("# PLANS — executed plans of ALL operators\n\n")
    sb.append(s"Generated by `graft.Plans` on `$sfDir` — ${all.size} plans, one per\n")
    sb.append("`SparkEntry.queries` key (parity asserted). Things to check per\n")
    sb.append("plan: dims broadcast, filters in PushedFilters, ReadSchema\n")
    sb.append("pruned, `*(n)` codegen stages wide, no stray Exchange,\n")
    sb.append("no unpartitioned Window over table-sized input.\n")
    sb.append("tools/check_plans.py holds those shapes as fingerprints;\n")
    sb.append("UNPARTITIONED windows specifically are gated against its\n")
    sb.append("GLOBAL_WINDOW_ALLOWLIST, which mirrors (and is spec-pinned\n")
    sb.append("to) PlanSpec.boundedGlobalWindows — each entry there carries\n")
    sb.append("the written justification for why that window's input is\n")
    sb.append("domain-bounded, never table-sized.\n")
    all.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n```\n")
      // cap per plan, but NEVER mid-line: a Window/Exchange line cut at
      // the boundary would misclassify in check_plans.py's fingerprint
      // (and a sub-cap truncation made the gate blind below it — the
      // r14 review finding; the 400k cap below clears every current
      // plan with wide margin, and the explicit marker makes any
      // future overflow visible to the gate)
      // giant literal blobs (bloom-filter bytes render as megabytes of
      // hex in `mightContain`) carry no plan structure — scrub them so
      // the cap below never has to truncate a real plan
      val plan = df.queryExecution.executedPlan.toString
        .replaceAll("[0-9A-Fa-f]{512,}", "<LITERAL-BLOB>")
      val cap = 400000
      if (plan.length <= cap) sb.append(plan)
      else {
        val cut = plan.lastIndexOf('\n', cap)
        sb.append(plan.take(math.max(cut, 0)))
        sb.append("\n[PLAN TRUNCATED]")
      }
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out: ${all.size} plans")
    spark.stop()
  }
}
