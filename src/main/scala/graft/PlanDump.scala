package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import scala.util.control.NonFatal

/** Dumps formatted physical plans of named queries — the audit trail that
  * the plan shapes scale: pushed filters, broadcast joins,
  * TakeOrderedAndProject, codegen spans.
  *
  * Usage:
  *  - `runMain graft.PlanDump <sfDir>` prints the PLANS.md stream to stdout:
  *    the flagship queries' initial plans, then an appendix of final
  *    adaptive plans;
  *  - `runMain graft.PlanDump <sfDir> <outDir> <tag> <q1,q2,...>` writes
  *    each named query's initial plan to `<outDir>/<query>_<tag>.txt` (the
  *    per-round plan evidence under plans/rNN/).
  */
object PlanDump {
  private val flagship = Seq(
    "q_knn", "q_knn_filtered", "q_knn_batch", "q_ann_topk", "q_ann_ivf",
    "q_knn_binary", "q_knn_binary_wide", "q_knn_quantized_autocut",
    "q_filter_and_or_exclude", "q_dedup_minhash",
    "q_dedup_embedding", "q_dedup_embedding_lsh", "q_dedup_jaccard",
    "q_rerank_hybrid", "q_asof_click_purchase", "q_range_copresence",
    "q_text_bm25", "q_text_unigram_nll", "q_curate_chunks", "q_curate_pack",
    "q_curate_gopher", "q_curate_sample", "q_curate_decontam", "q_dedup_semantic",
    "q_dedup_incremental", "q_pipeline_curate", "q_sql_knn", "q_curate_mix",
    "q_rel_pricing", "q_rel_top_customers", "q_rel_region_revenue",
    "q_rel_salted_join", "q_rel_pivot", "q_stream_window_stats",
    "q_knn_pq", "q_knn_pq_refined", "q_dedup_spans", "q_dedup_spans_scrub",
    "q_curate_source_cap", "q_text_keywords", "q_text_collocations",
    "q_curate_decontam_bloom", "q_curate_dsir", "q_rel_rolling",
    "q_knn_per_label", "q_dedup_source_overlap", "q_embed_gram",
    "q_text_vocab", "q_text_bigram_nll", "q_text_novelty",
    "q_embed_kmeans", "q_embed_hardneg", "q_embed_outliers",
    "q_curate_shards", "q_rel_scd2", "q_rel_funnel", "q_rel_retention",
    "q_pipeline_embed", "q_curate_epoch", "q_rel_affinity",
    "q_text_textrank", "q_text_qclassifier", "q_curate_split_leakage",
    "q_events_dau_hll", "q_text_heavy_hitters", "q_curate_quality_quantiles",
    "q_curate_quality_filter_sketch", "q_curate_ccnet_buckets",
    "q_curate_quality_by_source", "q_text_zipf", "q_curate_scrub_pii",
    "q_ann_ivf_pq", "q_dedup_containment", "q_embed_abtt", "q_embed_mrl",
    "q_pipeline_dedup", "q_curate_snapshot_diff", "q_dedup_incremental_containment",
    "q_media_scenes", "q_knn_batch_ann",
    "q_layout_zorder", "q_layout_zonemap_prune", "q_layout_delete",
    "q_curate_temperature_mix",
    "q_profile_completeness", "q_profile_orphans", "q_sketch_kmv_overlap",
    "q_search_rrf", "q_join_intervals", "q_text_cosine_pairs",
    "q_profile_skew", "q_ts_resample", "q_ts_anomaly",
    "q_eval_ann_recall", "q_curate_quantile_norm",
    "q_er_names", "q_text_source_kl", "q_profile_mad", "q_text_phrase",
    "q_curate_length_buckets", "q_curate_group_split", "q_embed_knn_graph",
    "q_curate_drop_novelty", "q_curate_exact_stratified",
    "q_curate_scrub_cards",
    "q_embed_knn_graph_lsh", "q_curate_weighted_sample", "q_pipeline_ingest",
    "q_profile_numeric", "q_rel_transitions", "q_curate_softdedup",
    "q_media_phash", "q_embed_pca2",
    "q_events_dau_hll_wide", "q_dedup_incremental_postings",
    "q_embed_bulk_inference",
    "q_sketch_kmv_overlap_wide", "q_text_bpe_encode",
    "q_events_wau_rolling_hll", "q_embed_label_prop",
    "q_pipeline_tokenize", "q_profile_psi", "q_embed_label_noise",
    "q_embed_kcenter", "q_text_fertility_by_source",
    "q_embed_kcenter_assign", "q_er_clusters", "q_text_code_switch",
    "q_curate_contam_report", "q_pipeline_dataset_card",
    "q_eval_langid_accuracy",
    "q_events_dau_hll_est", "q_events_wau_rolling_hll_est",
    "q_text_heavy_hitters_est", "q_ann_topk_clustered", "q_ann_forget",
    "q_knn_batch_ann_clustered", "q_ann_ivf_clustered", "q_embed_drift",
    "q_ann_rebuild", "q_ann_ivf_rebuild", "q_layout_autocompact",
    "q_embed_drift_ref", "q_layout_append", "q_layout_snapshot",
    "q_layout_version_diff", "q_ann_forget_by_id")

  // AQE appendix: the most expensive queries, EXECUTED so
  // AdaptiveSparkPlanExec re-plans with runtime stats and the printed plan
  // is the FINAL one (isFinalPlan=true) — coalesced shuffle reads, runtime
  // broadcast decisions, skew splits all visible. AQE is Spark 4's default
  // and stays on here; the flagship sections show the same queries'
  // initial plans.
  private val finalAqe = Seq(
    "q_dedup_jaccard", "q_dedup_clusters", "q_curate_quality_filter",
    "q_pipeline_curate", "q_dedup_embedding",
    // repeated-subtree queries: the final plans show whether exchange
    // reuse collapses the recomputed token-count aggregations
    "q_text_keywords", "q_text_collocations", "q_text_novelty",
    "q_pipeline_embed",
    // round-5 sketch/audit wave: the iterative textrank DAG, the
    // auto-routed leakage audit, and the sketch-gated quality filter
    "q_text_textrank", "q_curate_split_leakage",
    "q_curate_quality_filter_sketch",
    // linkage/composition wave: the composed ingest decision (five
    // screens in one plan) and the deletion-variant ER join
    "q_pipeline_ingest", "q_er_names")

  def main(args: Array[String]): Unit = {
    if (args.length != 1 && args.length != 4) {
      System.err.println(
        "usage: PlanDump <sfDir> | PlanDump <sfDir> <outDir> <tag> <q1,q2,...>")
      sys.exit(2)
    }
    val sfDir = args(0)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def plan(name: String, execute: Boolean): String =
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        if (execute) df.collect()
        df.queryExecution.explainString(FormattedMode)
      } catch { case NonFatal(e) => s"(failed: ${e.getMessage})" }
    def section(title: String, body: String): Unit =
      println(s"\n## $title\n\n```\n$body\n```")
    if (args.length == 1) {
      flagship.foreach(name => section(name, plan(name, execute = false)))
      println(s"\n# Appendix: FINAL adaptive plans (post-execution, AQE on)\n")
      finalAqe.foreach(name =>
        section(s"$name (final adaptive plan)", plan(name, execute = true)))
    } else {
      val Array(_, outDir, tag, list) = args
      new java.io.File(outDir).mkdirs()
      list.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
          plan(name, execute = false).getBytes("UTF-8"))
        println(s"[plandump] wrote $name")
      }
    }
    spark.stop()
  }
}
