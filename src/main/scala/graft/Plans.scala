package graft

import java.nio.file.{Files, Paths}

/** Plan-audit dump: `explain("formatted")` of the headline queries →
  * PLANS.md. Regenerate with
  * `sbt "runMain graft.Plans /root/testdata/sf0.01 PLANS.md"` after plan
  * changes; the interesting properties are called out in the header.
  *
  * With query names after the two paths, the second path is a directory
  * and each named registry query's plan goes to `<dir>/<name>.txt` — the
  * per-change `plans/<change>/` dumps:
  * `sbt "runMain graft.Plans <sf-dir> plans/<change> q_bm25_stored"`.
  */
object Plans {
  private[graft] val Names = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q_idx_interval", "q_idx_query_or", "q_positional_join",
    "q_dedup_minhash_lsh", "q_ngram_jaccard",
    "q_topk_cosine", "q_ivf_topk", "q_ivf_kmeans", "q_near_dup_embeddings",
    "q_media_frames", "q_sessionize", "q_window_agg", "q_asof_join",
    "q_range_join", "q_recent_context", "q_sample_stratified",
    "q_replay_publish", "q_replay_errors", "q_winnow_fast",
    "q_unigram_lm", "q_keywords", "q_topk_per_key", "q_zorder",
    "q_decontaminate_bloom", "q_countmin", "q_hll", "q_outliers",
    "q_sample_weighted", "q_pq_topk", "q_cap_per_source", "q_hll_windowed",
    "q_range_bounds", "q_collocations",
    "q_dedup_paragraph", "q_dedup_substring", "q_dedup_clusters_inc",
    "q_semdedup", "q_bigram_lm", "q_quality_buckets", "q_mix_sources",
    "q_quality_classifier",
    "q_sample_exact_n", "q_log_hist", "q_log_hist_quantiles",
    "q_decontaminate_semantic", "q_winnow_overlap", "q_mix_temperature",
    "q_corpus_card", "q_dedup_against", "q_contamination_report",
    "q_dedup_canonical",
    "q_quality_gopher", "q_boilerplate_paragraphs", "q_sample_per_lang",
    "q_ann_recall", "q_pagerank", "q_dedup_pair_pr", "q_media_shared_frames",
    "q_token_ids", "q_delete_audit",
    "q_resubmit_interval", "q_resubmit_query", "q_dedup_pair_pr_sampled",
    "q_dsir", "q_shard_bloom", "q_bloom_prune", "q_corpus_diff",
    "q_mutual_knn", "q_cell_stats", "q_bm25", "q_bm25_multi",
    "q_ngram_diversity", "q_funnel", "q_retention_cohorts", "q_ivf_stored",
    "q_ivf_assigned", "q_pq_codes", "q_bm25_multi_stored", "q_phrase_stored",
    "q_ann_delete", "q_bm25_delete", "q_ivf_retrain", "q_media_ahash",
    "q_pq_delete", "q_phrase_delete", "q_pq_retrain", "q_phrase_append",
    "q_lm_score", "q_suppress_rare", "q_bm25_weighted", "q_cell_outliers",
    "q_containment_pairs", "q_bm25_stored",
    "q_hard_negatives", "q_fertility", "q_source_divergence",
    "q_cell_purity", "q_label_audit", "q_hll_overlap", "q_transitions",
    "q_winnow_spans", "q_phrase_bm25", "q_curation_audit",
    "q_token_mix_plan", "q_skipgram",
    "q_source_overlap", "q_matryoshka_recall", "q_attribution",
    "q_curriculum", "q_ppmi", "q_knn_classify",
    "q_source_phrases", "q_oov_rate", "q_emb_moments", "q_label_prop",
    "q_decayed_counts", "q_volume_anomaly", "q_source_kmv", "q_rrf_fusion",
    "q_vocab_curve", "q_quality_ensemble", "q_heavy_hitters",
    "q_water_fill", "q_rank_drift", "q_threshold_sweep", "q_neg_samples",
    "q_token_burstiness", "q_source_gini", "q_kmv_cardinality",
    "q_dedup_savings", "q_dedup_edit", "q_dedup_edit_against",
    "q_dedup_edit_short", "q_dedup_edit_boundary",
    "q_dedup_edit_short_against")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = GraftSession.local(32)
    val sb = new StringBuilder(
      s"""# PLANS — physical plans of the headline queries (sf dir: $sfDir)
         |
         |Generated by `graft.Plans`. What these plans are audited for:
         |
         |- index queries: `PushedFilters` carries the predicate into the
         |  parquet scan; `broker_id` prunes at the partition level; scans
         |  read only projected columns (`ReadSchema`).
         |- analytics joins: only constant-size dimensions (nation/region)
         |  carry forced broadcast hints; SF-scaling sides (customer,
         |  supplier) have NO hint — a BroadcastHashJoin on them below is
         |  AQE's size-based choice at this sf, degrading to a shuffle
         |  join when they outgrow the threshold (PlanAuditSpec enforces
         |  hint absence); fact sides always shuffle; aggregates are
         |  partial (map-side) before the exchange.
         |- dedup/similarity: pair enumeration is always an equi-join on a
         |  blocking key (band/chunk/cell/prefix shingle) — no
         |  `CartesianProduct`/`BroadcastNestedLoopJoin` except (a) the
         |  brute-force cosine baseline, where the broadcast nested loop
         |  over the broadcast QUERY side is the intended exact path, and
         |  (b) 1-row scalar broadcasts (`crossJoin(broadcast(agg))` for a
         |  corpus total N) — a bounded single-row build side, not a pair
         |  enumeration.
         |- narrow per-row stages sit inside `WholeStageCodegen` spans,
         |  including the custom expressions (DotFold, SimHash60,
         |  MinHashSig, SortedIntersectCount).
         |- plans are dumped under the AUDIT VIEW (Pins.withAuditView):
         |  trailing/mid-pipeline eager pins are inlined so the full join
         |  tree is visible instead of a LogicalRDD scan; executing builds
         |  keep the real checkpoints. Iterative loops (pagerank, BPE)
         |  legitimately root in RDD scans either way.
         |""".stripMargin)
    // Audit view: trailing/mid-pipeline pins (Pins.pin) are inlined so
    // the dump shows the full join tree a localCheckpoint would truncate
    // to a LogicalRDD scan — same view PlanAuditSpec asserts over.
    def plan(n: String) = SparkEntry.queries(n)(spark, sfDir).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val only = args.drop(2)
    operators.Pins.withAuditView {
      if (only.nonEmpty) {
        Files.createDirectories(Paths.get(out))
        only.foreach(n => Files.writeString(Paths.get(out, s"$n.txt"), plan(n)))
      } else Names.foreach(n => sb.append(s"\n## $n\n\n```\n${plan(n)}```\n"))
    }
    if (only.isEmpty) Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
