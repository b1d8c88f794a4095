package graftbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.{char_trigrams, minhash, shingles3}

/** `registry`: a fixed sample of `SparkEntry.queries`, one per module,
  * in one long-lived session. Setup runs the sample once to warm up
  * and record each query's row count; each round runs it again in an
  * order the seed permutes. Tables are generated by `gen_tables.py`
  * with a fixed seed, so the data never changes between runs. The
  * cache is never cleared between queries, as a user's session would
  * not.
  */
final class Registry(ctx: Ctx, benchDir: String) extends Workload {
  import ctx.spark.implicits._
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private val rng = new scala.util.Random(ctx.seed)
  private var dir: String = _
  private val rows = mutable.Map.empty[String, Long]
  private var persistedEnd = 0

  def opKind: String = "query"

  def setup(): Unit = {
    dir = ctx.dir("tables")
    val gen = new ProcessBuilder("python3", s"$benchDir/gen_tables.py", dir)
      .inheritIO().redirectOutput(ProcessBuilder.Redirect.DISCARD).start()
    require(gen.waitFor() == 0, "gen_tables.py failed")
    ctx.mark("tables")
    // a query that throws here is a failed op in every round
    Registry.sample.foreach { q =>
      try rows(q) = SparkEntry.queries(q)(spark, dir).collect().length.toLong
      catch { case _: Exception => rows(q) = -1L }
    }
  }

  override def runChecks(): Seq[String] = {
    val unmapped = SparkEntry.queries.keySet -- Registry.moduleOf.keySet
    val missing = Registry.sample.filterNot(SparkEntry.queries.contains)
    (if (unmapped.isEmpty) Nil
     else Seq(s"queries without a module: ${unmapped.toSeq.sorted.mkString(", ")}")) ++
      (if (missing.isEmpty) Nil
       else Seq(s"sampled queries not registered: ${missing.mkString(", ")}"))
  }

  def round(r: Int, ops: Ops, traced: Boolean): Round = {
    val first = ops.attempted
    val order = rng.shuffle(Registry.sample)
    order.foreach { q =>
      val m = Registry.moduleOf(q)
      val (id, n) = ops.timed("query") {
        tracer.span(s"registry.$m.query", ops.attempted) {
          val df = tracer.span(s"registry.$m.construct")(SparkEntry.queries(q)(spark, dir))
          tracer.span(s"registry.$m.exec")(df.collect().length.toLong)
        }
      }
      n.foreach { c =>
        if (c != rows(q)) ops.fail(id, s"$q returned $c rows, ${rows(q)} in the warm-up pass")
      }
    }
    persistedEnd = spark.sparkContext.getPersistentRDDs.size
    val secs = ops.secsSince(first)
    Round(order.size.toDouble, secs, secs)
  }

  def layers(): Map[String, Double] = {
    val perModule = Registry.modules.flatMap { m =>
      val n = tracer.named(s"registry.$m.query").size.toDouble
      val all = tracer.countsFor(s"registry.$m.query")
      val exec = tracer.countsFor(s"registry.$m.exec")
      def perQuery(v: Double) = Stats.ratio(v, n)
      Seq(
        s"registry.$m.construct_ms" ->
          perQuery(tracer.named(s"registry.$m.construct").map(_.ms).sum),
        s"registry.$m.exec_ms" -> perQuery(tracer.named(s"registry.$m.exec").map(_.ms).sum),
        s"registry.$m.jobs" -> perQuery(all.jobs.toDouble),
        s"registry.$m.tasks" -> perQuery(all.tasks.toDouble),
        s"registry.$m.cpu_ms" -> perQuery(all.cpuNs / 1e6),
        s"registry.$m.shuffle_bytes" -> perQuery(exec.shuffleBytes.toDouble),
        s"registry.$m.spill_bytes" -> perQuery(all.spillBytes.toDouble))
    }
    val docs = graft.Tables.load(spark, dir, "documents")
      .select($"text", split($"text", " ").as("toks"))
      .withColumn("sh", shingles3($"toks"))
    val kernels = Kernels.nsPerRow(docs, 10000L, Seq(
      ("minhash", minhash($"sh", 128, 42L), $"sh"),
      ("shingles3", shingles3($"toks"), $"toks"),
      ("char_trigrams", char_trigrams($"text"), $"text")))
    perModule.toMap ++ kernels +
      ("registry.persisted_rdds_end" -> persistedEnd.toDouble)
  }
}

object Registry {
  /** Every `SparkEntry.queries` key by the module that implements it. */
  val byModule: Seq[(String, Seq[String])] = Seq(
    "StacOps" -> Seq(
      "hilbert_index", "mgrs_to_latlon", "spatial_locality_report",
      "spatial_sort", "stac_asset_access", "stac_bbox_filter",
      "stac_bbox_wrapped", "stac_best_scene", "stac_catalog_diff",
      "stac_cloud_filter", "stac_coverage_gaps", "stac_daily_links",
      "stac_failed_links", "stac_grid_join", "stac_link_extract",
      "stac_mgrs_extract", "stac_monthly_rollup", "stac_nearest_join",
      "stac_parse_items", "stac_revisit_cadence",
      "stac_temporal_filter", "stac_upsert_latest"),
    "Analytics" -> Seq(
      "basket_pairs", "customer_decile_migration", "customer_max_order",
      "customer_rfm", "customers_without_orders", "discounted_orders",
      "events_funnel", "events_windowed_funnel", "geomean_order_value",
      "lineitem_ridge", "monthly_revenue", "nation_set_ops",
      "order_value_deciles", "orders_cohort_ltv",
      "orders_holt_forecast", "orders_holt_winters",
      "orders_interarrival", "orders_rolling_median",
      "orders_seasonal_decompose", "orders_survival_km",
      "q10_returned_items", "q11_part_value_share", "q12_late_priority",
      "q13_order_distribution", "q14_promo_revenue", "q15_top_supplier",
      "q16_brand_suppliers", "q17_small_qty_revenue",
      "q18_large_orders", "q19_bracketed_revenue", "q1_pricing_summary",
      "q20_dominant_suppliers", "q21_waiting_suppliers",
      "q22_idle_balance", "q2_min_cost_supplier",
      "q3_shipping_priority", "q4_late_orders", "q5_region_revenue",
      "q6_forecast_revenue", "q7_nation_trade", "q8_market_share",
      "q9_product_profit", "revenue_7day_avg", "revenue_acf",
      "revenue_bootstrap_ci", "revenue_changepoint", "revenue_rollup",
      "revenue_theil_sen", "running_revenue", "supplier_part_share",
      "topk_customers_per_nation", "topk_orders_heap"),
    "Events" -> Seq(
      "events_ab_ttest", "events_active_users", "events_anomaly",
      "events_approx_percentiles", "events_approx_users",
      "events_attribution", "events_behavior_entropy",
      "events_cohort_retention", "events_daily_full_join",
      "events_dow_profile", "events_first_touch", "events_gap_fill",
      "events_gini", "events_hll_merge", "events_latest_state",
      "events_mad_outliers", "events_mannwhitney",
      "events_props_extract", "events_psi_drift", "events_retention",
      "events_retention_fit", "events_salted_agg", "events_scd2",
      "events_session_paths", "events_sessionize", "events_skew_join",
      "events_skew_report", "events_transitions", "events_type_cube",
      "events_type_pivot", "events_value_percentiles",
      "events_window_agg", "user_value_concentration"),
    "Dedup" -> Seq(
      "contamination_neardup", "dedup_boilerplate", "dedup_bytes_saved",
      "dedup_cluster_keepers", "dedup_cluster_sizes", "dedup_clusters",
      "dedup_containment", "dedup_cross_source", "dedup_edit_distance",
      "dedup_embedding", "dedup_exact", "dedup_incremental",
      "dedup_kmv_overlap", "dedup_lang_retention", "dedup_lsh_tuning",
      "dedup_minhash_estimator", "dedup_minhash_lsh",
      "dedup_ngram_jaccard", "dedup_paragraphs", "dedup_semantic",
      "dedup_shingle_saturation", "dedup_simhash",
      "dedup_sorted_neighborhood", "dedup_span_exact",
      "dedup_threshold_sweep", "dedup_token_shift"),
    "Similarity" -> Seq(
      "ann_recall_report", "diversity_sample", "embedding_centroids",
      "embedding_clusters", "embedding_drift",
      "embedding_jl_distortion", "embedding_jl_project",
      "embedding_kmeans", "embedding_label_centroids",
      "embedding_label_purity", "embedding_norm_audit", "embedding_pca",
      "embedding_quantize", "knn_brute_force", "knn_graph",
      "knn_graph_closeness", "knn_graph_pagerank", "knn_graph_sq8",
      "knn_graph_triangles", "knn_ivf", "knn_ivf_cell_stats",
      "knn_ivf_nprobe_sweep", "knn_ivfpq", "knn_label_check",
      "knn_label_prop", "knn_link_prediction", "knn_lsh",
      "knn_lsh_centered", "knn_lsh_multi", "knn_mmr_topk",
      "knn_mutual_graph", "knn_pq", "knn_pq_distortion", "knn_sq8"),
    "TextAnalysis" -> Seq(
      "bpe_encode", "bpe_merge_seq", "bpe_pair_stats",
      "cms_heavy_hitters", "doc_chunks", "doc_length_ks",
      "doc_length_profile", "langid_confusion", "langid_trigram",
      "oov_rate", "quality_lr", "source_vocab_overlap",
      "text_bigram_entropy", "text_bigram_surprisal", "text_bm25",
      "text_burstiness", "text_char_class_profile", "text_clean",
      "text_entropy", "text_fingerprint", "text_gopher_rules",
      "text_hapax_profile", "text_heaps_fit", "text_heavy_tokens",
      "text_js_divergence", "text_kl_divergence", "text_kn_bigram",
      "text_knn_sparse", "text_langid", "text_mattr", "text_ngram_freq",
      "text_novelty", "text_pii_scrub", "text_pmi", "text_quality",
      "text_rake_keyphrases", "text_readability", "text_regex_tokens",
      "text_repetition", "text_stem_report", "text_tfidf",
      "text_token_count", "text_unigram_logprob", "text_window_pmi",
      "text_zipf_fit", "token_histogram", "tokenizer_fertility",
      "vocab_coverage", "vocab_top"),
    "Stats" -> Seq(
      "daily_kendall", "daily_spearman", "events_ab_proportion",
      "events_anova", "events_brown_forsythe",
      "events_chi2_independence", "events_kruskal_wallis",
      "events_wilson_reach", "order_value_hill", "orders_jarque_bera",
      "orders_winsorized_mean", "revenue_benford", "revenue_ccf",
      "revenue_durbin_watson", "revenue_ewma_chart",
      "revenue_mann_kendall", "revenue_runs_test", "segment_trend",
      "stratified_sample_plan", "text_simpson", "user_value_theil"),
    "Curation" -> Seq(
      "budget_waterfill", "contamination_check", "corpus_budget_select",
      "corpus_manifest", "curation_funnel", "curriculum_order",
      "dataset_card", "dataset_split", "dataset_split_grouped",
      "dedup_temperature_mix", "export_shard_plan", "global_shuffle",
      "importance_weights", "kfold_plan", "lang_epoch_plan",
      "lang_mix_weights", "lang_temperature_mix", "pack_efficiency",
      "pack_sequences", "quality_curriculum", "quality_score_normalize",
      "quality_threshold_sweep", "sample_consistent",
      "sample_stratified", "sample_weighted", "selection_bias_audit",
      "shuffle_locality_audit", "source_quality_cap", "split_balance",
      "split_leakage", "split_ngram_overlap", "split_quality_ks"),
    "Multimodal" -> Seq(
      "media_cdc_dedup", "multimodal_cooccurrence", "multimodal_dedup",
      "multimodal_frame_dupes", "multimodal_frames",
      "multimodal_interleave", "multimodal_meta",
      "multimodal_payload_entropy", "multimodal_resize",
      "multimodal_shards", "multimodal_token_budget"),
    "streaming" -> Seq(
      "stream_active_users", "stream_anomaly", "stream_benford",
      "stream_bm25", "stream_cardinality", "stream_centroid_assign",
      "stream_cms_counters", "stream_consistent_sample",
      "stream_dedup_count", "stream_drift_monitor",
      "stream_ewma_monitor", "stream_funnel", "stream_gopher_filter",
      "stream_heavy_hitters", "stream_importance", "stream_join",
      "stream_manifest", "stream_outer_join", "stream_quality_cap",
      "stream_session_timeout", "stream_sessionize",
      "stream_stac_daily", "stream_static_enrich", "stream_transitions",
      "stream_upsert_latest", "stream_user_totals",
      "stream_value_percentiles", "stream_window_agg"),
    "other" -> Seq(
      "curate_corpus", "events_asof_join", "events_asof_nearest",
      "events_range_join"))

  val modules: Seq[String] = byModule.map(_._1)
  val moduleOf: Map[String, String] =
    byModule.flatMap { case (m, qs) => qs.map(_ -> m) }.toMap

  /** One query per module, near its module's median cost; the Dedup
    * and TextAnalysis picks run the minhash, shingles3 and
    * char_trigrams kernels.
    */
  val sample: Seq[String] = Seq(
    "stac_daily_links", "q1_pricing_summary", "events_sessionize",
    "dedup_minhash_lsh", "knn_brute_force", "langid_trigram",
    "revenue_benford", "sample_stratified", "multimodal_frames",
    "stream_stac_daily", "events_asof_join")
}
