package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{AnalyticsExt, BloomJoin, Bpe, Chunking, ClusterOps, CoOccur, Curation, DataQuality, Decontamination, DedupOps, EventOps, GraphRank, HeavyHitters, LayoutOps, Multimodal, Packing, PipelineViews, ProductQuant, QualityFilters, Quantization, RankSetOps, RefQueries, Retrieval, Sharding, Similarity, SpanDedup, TextAnalysis, TpchComplete, TpchExt, Versioning}
import graft.sources.Tables
import graft.streaming.DocStream

/** Driver contract — see SURVEY.md §7.
  *
  * Every implemented operator from SURVEY.md §2 (and the LLM-pipeline
  * extension surface) is registered here as a named query with a DuckDB
  * oracle SQL twin. Column names are aliased identically on both sides so
  * the driver's sort-columns-by-name hash compare is stable.
  *
  * Each query is stated once, as one row of [[rows]]; [[queries]],
  * [[oracleSql]] and `PipelineViews.views` are derived from that list.
  */
object SparkEntry {

  type Build = (SparkSession, String) => DataFrame

  /** One registered query: its name and how Spark builds it. */
  private[graft] sealed trait Row {
    def name: String
    def build: Build
  }

  /** A DataFrame query with its oracle SQL. `view`, unless empty, names
    * the `graft_*` pipeline view that serves the same build to SQL. */
  private[graft] final case class Op(name: String, build: Build, oracle: String,
      view: String = "") extends Row

  /** The declarative entry point (the reference's Hive CLI path,
    * SURVEY.md §3.3): `spark.sql` over the fixture tables runs the very
    * text the DuckDB oracle runs. */
  private[graft] final case class FixtureSql(name: String, text: String) extends Row {
    def build: Build = (s, dir) => { Tables.ensureViews(s, dir); s.sql(text) }
  }

  /** The same declarative surface over a pipeline operator: plain SQL
    * against its registered `graft_*` view (a SQL-only deployment's
    * path to near-dedup or sessionization). Its oracle is the oracle of
    * the [[Op]] row that owns `view`. */
  private[graft] final case class ViewSql(name: String, view: String, cols: String,
      order: String) extends Row {
    def text: String = s"SELECT $cols FROM $view ORDER BY $order"
    def build: Build = (s, dir) => { PipelineViews.ensureOne(s, dir, view); s.sql(text) }
  }

  /** The registry derived from a row list. */
  private[graft] final case class Registry(queries: Map[String, Build],
      oracleSql: Map[String, String], views: Seq[(String, Build)])

  /** Index `rows`, refusing a name registered twice, a view owned by two
    * [[Op]] rows, and a [[ViewSql]] row whose view has no owner. */
  private[graft] def index(rows: Seq[Row]): Registry = {
    def dups(names: Seq[String]) = names.diff(names.distinct).distinct.sorted
    val twice = dups(rows.map(_.name))
    require(twice.isEmpty, s"query registered twice: ${twice.mkString(", ")}")
    val owners = rows.collect { case o: Op if o.view.nonEmpty => o.view -> o }
    val shared = dups(owners.map(_._1))
    require(shared.isEmpty, s"view owned by two queries: ${shared.mkString(", ")}")
    val ownerOf = owners.toMap
    val oracles = rows.map {
      case o: Op => o.name -> o.oracle
      case f: FixtureSql => f.name -> f.text
      case v: ViewSql =>
        val owner = ownerOf.getOrElse(v.view,
          throw new IllegalArgumentException(s"${v.name}: no query owns view ${v.view}"))
        v.name -> owner.oracle
    }
    Registry(rows.map(r => r.name -> r.build).toMap, oracles.toMap,
      owners.map { case (v, o) => v -> o.build })
  }

  /** Flagship query (Q1a shape) on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RefQueries.q1aTopRevenue(spark, "/root/testdata/sf0.001")

  /** Every registered query, one row each. */
  private[graft] val rows: Seq[Row] = Seq(
    Op("q1a_top_revenue", RefQueries.q1aTopRevenue, RefQueries.q1aSql),
    Op("q1b_top_quantity", RefQueries.q1bTopQuantity, RefQueries.q1bSql),
    Op("q1c_revenue_by_date", RefQueries.q1cRevenueByDate, RefQueries.q1cSql),
    Op("q2_supplier_join", RefQueries.q2SupplierRevenueJoin, RefQueries.q2Sql),
    Op("eda_lineitem_stats", RefQueries.edaLineitemStats, RefQueries.edaSql),
    Op("agg_pricing_summary", RefQueries.aggPricingSummary, RefQueries.aggPricingSql),
    Op("text_stats", TextAnalysis.textStats, TextAnalysis.textStatsSql),
    Op("lang_id_confusion", TextAnalysis.langIdConfusion, TextAnalysis.langIdConfusionSql),
    Op("lang_id_ngram", TextAnalysis.langIdNgramConfusion, TextAnalysis.langIdNgramConfusionSql),
    Op("quality_score", TextAnalysis.qualityScore, TextAnalysis.qualityScoreSql, "graft_quality"),
    Op("token_counts", TextAnalysis.tokenCounts, TextAnalysis.tokenCountsSql),
    Op("fingerprints", TextAnalysis.fingerprints, TextAnalysis.fingerprintsSql,
      "graft_fingerprints"),
    Op("text_keywords", (s, d) => TextAnalysis.keywordsPerSource(s, d),
      TextAnalysis.keywordsPerSourceSql(), "graft_keywords"),
    Op("text_keywords_kmv", (s, d) => TextAnalysis.keywordsPerSourceKmv(s, d),
      TextAnalysis.keywordsPerSourceKmvSql()),
    Op("approx_distinct_tokens", TextAnalysis.approxDistinctTokens,
      TextAnalysis.approxDistinctTokensSql),
    Op("dedup_exact", DedupOps.dedupExact, DedupOps.dedupExactSql, "graft_dedup_exact"),
    Op("dedup_spans", (s, d) => SpanDedup.dedupSpans(s, d), SpanDedup.dedupSpansSql,
      "graft_dedup_spans"),
    Op("span_dup_rate", (s, d) => SpanDedup.spanDupRate(s, d), SpanDedup.spanDupRateSql,
      "graft_span_dup_rate"),
    // the exact-substring-dedup literature's W≈50 window, as its own
    // fully-oracled registration (W is explicit, not conf-driven, so
    // the oracle-pinning guard on the default knob does not apply)
    Op("span_rate_w50", (s, d) => SpanDedup.spanDupRate(s, d, Some(50)),
      SpanDedup.spanDupRateSqlFor(50)),
    Op("span_top_text", (s, d) => SpanDedup.spanTopText(s, d), SpanDedup.spanTopTextSql,
      "graft_span_top_text"),
    Op("dedup_incremental", DedupOps.incrementalCandidates, DedupOps.incrementalCandidatesSql,
      "graft_dedup_incremental"),
    Op("dedup_clusters", ClusterOps.dedupClusters, ClusterOps.dedupClustersSql,
      "graft_dedup_clusters"),
    Op("quality_repetition", QualityFilters.repetitionStats, QualityFilters.repetitionStatsSql,
      "graft_repetition"),
    Op("chunk_documents", Chunking.chunkDocuments, Chunking.chunkDocumentsSql, "graft_chunks"),
    Op("embed_quantize", Quantization.embedQuantize, Quantization.embedQuantizeSql,
      "graft_quantized"),
    Op("shuffle_export", Sharding.shuffleExport, Sharding.shuffleExportSql, "graft_shuffle_export"),
    Op("dedup_survivors", ClusterOps.dedupSurvivors, ClusterOps.dedupSurvivorsSql,
      "graft_dedup_survivors"),
    Op("dedup_rep_quality", ClusterOps.canonicalByQuality, ClusterOps.canonicalByQualitySql,
      "graft_rep_quality"),
    Op("dedup_clusters_incr", ClusterOps.incrementalClusters, ClusterOps.incrementalClustersSql),
    Op("lm_bigram_score", QualityFilters.bigramLmScore, QualityFilters.bigramLmScoreSql,
      "graft_lm_score"),
    Op("source_profile", TextAnalysis.sourceProfile, TextAnalysis.sourceProfileSql,
      "graft_source_profile"),
    Op("vocab_induction", TextAnalysis.vocabInduction, TextAnalysis.vocabInductionSql,
      "graft_vocab"),
    Op("oov_rate", TextAnalysis.oovStats, TextAnalysis.oovStatsSql, "graft_oov"),
    Op("curriculum_order", Sharding.curriculumOrder, Sharding.curriculumOrderSql,
      "graft_curriculum"),
    Op("dedup_minhash_cand", DedupOps.minhashCandidates, DedupOps.minhashCandidatesSql,
      "graft_minhash_candidates"),
    Op("dedup_jaccard", DedupOps.nearDupJaccard, DedupOps.nearDupJaccardSql, "graft_near_dups"),
    Op("dedup_containment", DedupOps.containmentPairs, DedupOps.containmentPairsSql,
      "graft_containment"),
    Op("boilerplate_stats", QualityFilters.boilerplateStats, QualityFilters.boilerplateStatsSql,
      "graft_boilerplate"),
    Op("source_overlap", TextAnalysis.sourceOverlap, TextAnalysis.sourceOverlapSql,
      "graft_source_overlap"),
    Op("dedup_simhash", DedupOps.simhashSignatures, DedupOps.simhashSignaturesSql, "graft_simhash"),
    Op("dedup_simhash_pairs", DedupOps.simhashNearDups, DedupOps.simhashNearDupsSql,
      "graft_simhash_pairs"),
    Op("sim_cosine_topk", Similarity.cosineTopK, Similarity.cosineTopKSql, "graft_cosine_topk"),
    Op("sim_ann_topk", Similarity.annTopK, Similarity.annTopKSql, "graft_ann_topk"),
    Op("sim_ivf_topk", Similarity.ivfTopK, Similarity.ivfTopKSql),
    Op("sim_ivf_trained", Similarity.ivfTrainedTopK, Similarity.ivfTrainedTopKSql),
    Op("sim_embedding_dups", Similarity.embeddingNearDups, Similarity.embeddingNearDupsSql),
    Op("semantic_dedup", Similarity.semanticDedup, Similarity.semanticDedupSql,
      "graft_semantic_dedup"),
    Op("knn_label", Similarity.knnLabel, Similarity.knnLabelSql, "graft_knn_label"),
    Op("knn_label_ivf", Similarity.knnLabelIvf, Similarity.knnLabelIvfSql, "graft_knn_label_ivf"),
    // the production serving shape (k=⌈√n⌉ pinned in the query, like
    // span_rate_w50 pins W): driver-tracked so the auto path cannot
    // silently regress
    Op("knn_label_ivf_auto", Similarity.knnLabelIvfAuto, Similarity.knnLabelIvfAutoSql),
    Op("cell_quality", Similarity.cellQualityReport, Similarity.cellQualityReportSql,
      "graft_cell_quality"),
    Op("ivf_index_incr", Similarity.knnCellIndexIncremental, Similarity.knnCellIndexIncrementalSql),
    Op("events_hourly", EventOps.hourlyEventCounts, EventOps.hourlyEventCountsSql),
    Op("events_hourly_incr", EventOps.hourlyCountsIncremental, EventOps.hourlyCountsIncrementalSql),
    Op("events_sliding", EventOps.slidingEventCounts, EventOps.slidingEventCountsSql),
    Op("events_sessions", (s, d) => EventOps.sessionize(s, d), EventOps.sessionizeSql(),
      "graft_sessions"),
    Op("events_json_props", EventOps.propsExtract, EventOps.propsExtractSql),
    Op("events_asof", EventOps.purchaseAttribution, EventOps.purchaseAttributionSql),
    Op("events_range_join", EventOps.nearbyClickCounts, EventOps.nearbyClickCountsSql),
    Op("events_attribution", EventOps.attributionWindow, EventOps.attributionWindowSql,
      "graft_attribution"),
    Op("events_session_native", (s, d) => EventOps.sessionWindowNative(s, d),
      EventOps.sessionWindowNativeSql(), "graft_session_native"),
    Op("zorder_layout", LayoutOps.zorderLayout, LayoutOps.zorderLayoutSql, "graft_zorder"),
    Op("events_funnel", EventOps.funnelStages, EventOps.funnelStagesSql, "graft_funnel"),
    Op("events_retention", EventOps.cohortRetention, EventOps.cohortRetentionSql,
      "graft_retention"),
    Op("dedup_report", ClusterOps.dedupReport, ClusterOps.dedupReportSql, "graft_dedup_report"),
    Op("cluster_size_hist", ClusterOps.clusterSizeHistogram, ClusterOps.clusterSizeHistogramSql,
      "graft_cluster_sizes"),
    Op("events_transitions", EventOps.sessionTransitions, EventOps.sessionTransitionsSql(),
      "graft_transitions"),
    Op("events_trailing", EventOps.trailingEventRatio, EventOps.trailingEventRatioSql),
    Op("topk_per_group", (s, d) => EventOps.topPartsPerFlag(s, d), EventOps.topPartsPerFlagSql()),
    Op("multimodal_stats", Multimodal.multimodalStats, Multimodal.multimodalStatsSql),
    Op("multimodal_frames", Multimodal.multimodalFrames, Multimodal.multimodalFramesSql),
    Op("multimodal_decode", Multimodal.multimodalDecode, Multimodal.multimodalDecodeSql),
    Op("multimodal_audio", Multimodal.multimodalAudio, Multimodal.multimodalAudioSql),
    Op("multimodal_video", Multimodal.multimodalVideo, Multimodal.multimodalVideoSql),
    Op("corpus_manifest", Curation.corpusManifest, Curation.corpusManifestSql,
      "graft_corpus_manifest"),
    Op("bloom_semi_join", BloomJoin.bloomSemiJoinVolume, BloomJoin.bloomSemiJoinVolumeSql,
      "graft_bloom_semi_join"),
    Op("pack_sequences", (s, d) => Packing.packSequences(s, d), Packing.packSequencesSql),
    Op("pack_length_buckets", Packing.lengthBuckets, Packing.lengthBucketsSql),
    Op("eval_overlap", Decontamination.evalOverlap, Decontamination.evalOverlapSql),
    Op("curate_filter",
      (s, d) => DocStream.curateStream(Tables.documents(s, d)).orderBy("doc_id"),
      DocStream.curateBatchSql),
    Op("mixture_sample", Curation.mixtureSample, Curation.mixtureSampleSql),
    Op("mixture_temperature", Curation.temperatureMixture, Curation.temperatureMixtureSql,
      "graft_mixture_temp"),
    Op("split_leakage_safe", ClusterOps.leakageSplit, ClusterOps.leakageSplitSql,
      "graft_leakage_split"),
    Op("dedup_priority", DedupOps.priorityDedup, DedupOps.priorityDedupSql, "graft_priority_dedup"),
    Op("version_diff", Versioning.versionDiff, Versioning.versionDiffSql, "graft_version_diff"),
    Op("manifest_incremental", Curation.incrementalManifest, Curation.incrementalManifestSql),
    FixtureSql("sql_q1a", RefQueries.q1aSql),
    FixtureSql("sql_q2", RefQueries.q2Sql),
    FixtureSql("sql_q1b", RefQueries.q1bSql),
    FixtureSql("sql_q1c", RefQueries.q1cSql),
    FixtureSql("sql_eda", RefQueries.edaSql),
    FixtureSql("sql_pricing", RefQueries.aggPricingSql),
    FixtureSql("sql_q3", AnalyticsExt.q3ShippingPrioritySql()),
    FixtureSql("sql_cum_revenue", AnalyticsExt.cumulativeRevenueSql),
    FixtureSql("sql_funnel", EventOps.funnelStagesSql),
    ViewSql("sql_dedup_exact", "graft_dedup_exact",
      "content_hash, content_hash_b, keep_doc_id, n_copies", "keep_doc_id ASC"),
    ViewSql("sql_near_dups", "graft_near_dups", "doc_a, doc_b, jaccard", "doc_a ASC, doc_b ASC"),
    ViewSql("sql_spans", "graft_dedup_spans", "span_hash, n_docs, n_occ, first_doc",
      "n_docs DESC, n_occ DESC, span_hash ASC"),
    ViewSql("sql_span_text", "graft_span_top_text",
      "span_hash, n_docs, n_occ, first_doc, first_pos, span_text",
      "n_docs DESC, n_occ DESC, span_hash ASC"),
    ViewSql("sql_span_rate", "graft_span_dup_rate", "doc_id, n_windows, n_dup_windows, dup_rate",
      "doc_id ASC"),
    ViewSql("sql_sessions", "graft_sessions",
      "user_id, session_id, session_start, session_end, n_events", "user_id ASC, session_id ASC"),
    ViewSql("sql_cosine_topk", "graft_cosine_topk", "vec_id, label, cos_sim",
      "cos_sim DESC, vec_id ASC"),
    ViewSql("sql_ann_topk", "graft_ann_topk", "vec_id, label, cos_sim", "cos_sim DESC, vec_id ASC"),
    ViewSql("sql_simhash_pairs", "graft_simhash_pairs", "doc_a, doc_b, hamming",
      "doc_a ASC, doc_b ASC"),
    ViewSql("sql_manifest", "graft_corpus_manifest", "doc_id, source, lang, n_tokens, quality",
      "doc_id ASC"),
    ViewSql("sql_quality", "graft_quality", "doc_id, n_tokens, quality", "doc_id ASC"),
    ViewSql("sql_keywords", "graft_keywords", "source, rk, term, tf, df, score",
      "source ASC, rk ASC"),
    ViewSql("sql_fingerprints", "graft_fingerprints", "doc_id, doc_hash, min_shingle_hash",
      "doc_id ASC"),
    ViewSql("sql_minhash_cand", "graft_minhash_candidates", "doc_a, doc_b, n_shared_bands",
      "doc_a ASC, doc_b ASC"),
    ViewSql("sql_bloom", "graft_bloom_semi_join", "l_returnflag, n_rows, sum_qty",
      "l_returnflag ASC"),
    ViewSql("sql_clusters", "graft_dedup_clusters",
      "doc_id, cluster_id, cluster_size, is_canonical", "doc_id ASC"),
    ViewSql("sql_chunks", "graft_chunks", "doc_id, chunk_id, start_tok, n_tok, chunk_text",
      "doc_id ASC, chunk_id ASC"),
    ViewSql("sql_repetition", "graft_repetition", "doc_id, n_tokens, dup_token_frac, " +
      "top_token_frac, dup_char_frac, dup_bigram_frac, flagged", "doc_id ASC"),
    ViewSql("sql_quantize", "graft_quantized", "vec_id, scale, q_sum, q_wsum, n_sat", "vec_id ASC"),
    ViewSql("sql_export", "graft_shuffle_export", "doc_id, shard, pos, split",
      "shard ASC, pos ASC"),
    ViewSql("sql_source_profile", "graft_source_profile",
      "source, n_docs, total_tokens, median_tokens, p90_tokens, n_langs", "source ASC"),
    ViewSql("sql_containment", "graft_containment", "doc_a, doc_b, cont_a_in_b, cont_b_in_a",
      "doc_a ASC, doc_b ASC"),
    ViewSql("sql_boilerplate", "graft_boilerplate",
      "doc_id, n_shingles, n_boiler, boiler_frac, flagged", "doc_id ASC"),
    ViewSql("sql_semantic_dedup", "graft_semantic_dedup",
      "vec_id, cid, n_prior, max_prior_cos, dropped", "vec_id ASC"),
    ViewSql("sql_source_overlap", "graft_source_overlap",
      "src_a, src_b, n_a, n_b, n_common, jaccard", "src_a ASC, src_b ASC"),
    ViewSql("sql_version_diff", "graft_version_diff", "doc_id, status, old_hash, new_hash",
      "doc_id ASC"),
    ViewSql("sql_leakage_split", "graft_leakage_split",
      "doc_id, cluster_id, cluster_size, split", "doc_id ASC"),
    ViewSql("sql_priority_dedup", "graft_priority_dedup", "doc_id, source, dup_of", "doc_id ASC"),
    ViewSql("sql_mixture_temp", "graft_mixture_temp",
      "lang, n_selected, available, target_docs", "lang ASC"),
    ViewSql("sql_vocab", "graft_vocab", "rk, term, cnt, cum_cnt, coverage", "rk ASC"),
    ViewSql("sql_oov", "graft_oov", "source, n_docs, n_tokens, n_oov, oov_frac", "source ASC"),
    ViewSql("sql_curriculum", "graft_curriculum", "doc_id, quality, pos", "pos ASC"),
    ViewSql("sql_knn_label", "graft_knn_label", "query_id, pred_label, n_votes", "query_id ASC"),
    ViewSql("sql_quartiles", "graft_quartiles", "doc_id, source, quality, quartile", "doc_id ASC"),
    ViewSql("sql_redact", "graft_redact", "doc_id, n_emails, n_longnums, redacted_hash",
      "doc_id ASC"),
    Op("sample_per_source", (s, d) => TextAnalysis.samplePerSource(s, d),
      TextAnalysis.samplePerSourceSql),
    Op("sample_per_source_agg", (s, d) => TextAnalysis.samplePerSourceAgg(s, d),
      TextAnalysis.samplePerSourceSql),
    Op("rollup_pricing", AnalyticsExt.rollupPricing, AnalyticsExt.rollupPricingSql),
    Op("except_suppliers", AnalyticsExt.exceptSuppliers, AnalyticsExt.exceptSuppliersSql),
    Op("cube_pricing", AnalyticsExt.cubePricing, AnalyticsExt.cubePricingSql),
    Op("grouping_sets_pricing", AnalyticsExt.groupingSetsPricing,
      AnalyticsExt.groupingSetsPricingSql),
    Op("q5_local_supplier", AnalyticsExt.q5LocalSupplierVolume,
      AnalyticsExt.q5LocalSupplierVolumeSql),
    Op("q7_volume_shipping", AnalyticsExt.q7VolumeShipping, AnalyticsExt.q7VolumeShippingSql),
    Op("q10_returned_items", AnalyticsExt.q10ReturnedItems, AnalyticsExt.q10ReturnedItemsSql()),
    Op("revenue_mom_growth", AnalyticsExt.revenueMomGrowth, AnalyticsExt.revenueMomGrowthSql),
    Op("quality_quartiles", TextAnalysis.qualityQuartiles, TextAnalysis.qualityQuartilesSql,
      "graft_quartiles"),
    Op("text_redact", TextAnalysis.textRedact, TextAnalysis.textRedactSql, "graft_redact"),
    Op("quality_quantiles_grid", TextAnalysis.qualityQuantilesGrid,
      TextAnalysis.qualityQuantilesGridSql),
    FixtureSql("sql_grouping_sets", AnalyticsExt.groupingSetsPricingSql),
    FixtureSql("sql_q5", AnalyticsExt.q5LocalSupplierVolumeSql),
    FixtureSql("sql_q7", AnalyticsExt.q7VolumeShippingSql),
    FixtureSql("sql_q10", AnalyticsExt.q10ReturnedItemsSql()),
    Op("intersect_suppliers", AnalyticsExt.intersectSuppliers, AnalyticsExt.intersectSuppliersSql),
    FixtureSql("sql_cube_pricing", AnalyticsExt.cubePricingSql),
    FixtureSql("sql_intersect_suppliers", AnalyticsExt.intersectSuppliersSql),
    Op("median_quantity", AnalyticsExt.medianQuantity, AnalyticsExt.medianQuantitySql),
    Op("revenue_by_month", AnalyticsExt.revenueByMonth, AnalyticsExt.revenueByMonthSql),
    Op("q3_shipping_priority", AnalyticsExt.q3ShippingPriority,
      AnalyticsExt.q3ShippingPrioritySql()),
    Op("revenue_cumulative", AnalyticsExt.cumulativeRevenue, AnalyticsExt.cumulativeRevenueSql),
    Op("revenue_trailing_range", AnalyticsExt.trailingRangeRevenue,
      AnalyticsExt.trailingRangeRevenueSql, "graft_trailing_range"),
    Op("q4_order_priority", TpchExt.q4OrderPriority, TpchExt.q4OrderPrioritySql),
    Op("q6_forecast_revenue", TpchExt.q6ForecastRevenue, TpchExt.q6ForecastRevenueSql),
    Op("q12_priority_class", TpchExt.q12PriorityClass, TpchExt.q12PriorityClassSql),
    Op("q14_promo_revenue", TpchExt.q14PromoRevenue, TpchExt.q14PromoRevenueSql),
    Op("q16_supplier_count", TpchExt.q16SupplierCount, TpchExt.q16SupplierCountSql),
    Op("q18_large_orders", TpchExt.q18LargeOrders, TpchExt.q18LargeOrdersSql()),
    Op("q19_disjunctive_revenue", TpchExt.q19DisjunctiveRevenue, TpchExt.q19DisjunctiveRevenueSql),
    Op("q22_dormant_customers", TpchExt.q22DormantCustomers, TpchExt.q22DormantCustomersSql),
    FixtureSql("sql_q4", TpchExt.q4OrderPrioritySql),
    FixtureSql("sql_q6", TpchExt.q6ForecastRevenueSql),
    FixtureSql("sql_q12", TpchExt.q12PriorityClassSql),
    FixtureSql("sql_q14", TpchExt.q14PromoRevenueSql),
    FixtureSql("sql_q16", TpchExt.q16SupplierCountSql),
    FixtureSql("sql_q18", TpchExt.q18LargeOrdersSql()),
    FixtureSql("sql_q19", TpchExt.q19DisjunctiveRevenueSql),
    FixtureSql("sql_q22", TpchExt.q22DormantCustomersSql),
    Op("q8_market_share", TpchComplete.q8MarketShare, TpchComplete.q8MarketShareSql),
    Op("q9_product_profit", TpchComplete.q9ProductProfit, TpchComplete.q9ProductProfitSql),
    Op("q11_important_parts", TpchComplete.q11ImportantParts, TpchComplete.q11ImportantPartsSql),
    Op("q13_order_distribution", TpchComplete.q13OrderDistribution,
      TpchComplete.q13OrderDistributionSql),
    Op("q15_top_supplier", TpchComplete.q15TopSupplier, TpchComplete.q15TopSupplierSql),
    Op("q17_small_qty_revenue", TpchComplete.q17SmallQtyRevenue,
      TpchComplete.q17SmallQtyRevenueSql),
    Op("q20_promotion_suppliers", TpchComplete.q20PromotionSuppliers,
      TpchComplete.q20PromotionSuppliersSql),
    Op("q21_waiting_suppliers", TpchComplete.q21WaitingSuppliers,
      TpchComplete.q21WaitingSuppliersSql()),
    FixtureSql("sql_q8", TpchComplete.q8MarketShareSql),
    FixtureSql("sql_q9", TpchComplete.q9ProductProfitSql),
    FixtureSql("sql_q11", TpchComplete.q11ImportantPartsSql),
    FixtureSql("sql_q13", TpchComplete.q13OrderDistributionSql),
    FixtureSql("sql_q15", TpchComplete.q15TopSupplierSql),
    FixtureSql("sql_q17", TpchComplete.q17SmallQtyRevenueSql),
    FixtureSql("sql_q20", TpchComplete.q20PromotionSuppliersSql),
    FixtureSql("sql_q21", TpchComplete.q21WaitingSuppliersSql()),
    Op("supplier_rank_pct", RankSetOps.supplierRankPct, RankSetOps.supplierRankPctSql),
    Op("except_all_shipments", RankSetOps.exceptAllShipments, RankSetOps.exceptAllShipmentsSql),
    Op("intersect_all_shipments", RankSetOps.intersectAllShipments,
      RankSetOps.intersectAllShipmentsSql),
    Op("pivot_pricing", RankSetOps.pivotPricing, RankSetOps.pivotPricingSql),
    FixtureSql("sql_rank_pct", RankSetOps.supplierRankPctSql),
    FixtureSql("sql_except_all", RankSetOps.exceptAllShipmentsSql),
    FixtureSql("sql_intersect_all", RankSetOps.intersectAllShipmentsSql),
    FixtureSql("sql_pivot_pricing", RankSetOps.pivotPricingSql),
    Op("profile_lineitem", DataQuality.profileLineitem, DataQuality.profileLineitemSql),
    Op("dq_checks", DataQuality.dqChecks, DataQuality.dqChecksSql),
    Op("orders_reconcile", DataQuality.ordersReconcile, DataQuality.ordersReconcileSql,
      "graft_reconcile"),
    Op("doc_length_winsor", TextAnalysis.docLengthWinsor, TextAnalysis.docLengthWinsorSql,
      "graft_winsor"),
    FixtureSql("sql_profile", DataQuality.profileLineitemSql),
    FixtureSql("sql_dq_checks", DataQuality.dqChecksSql),
    Op("epoch_plan", Curation.epochPlan, Curation.epochPlanSql, "graft_epoch_plan"),
    Op("above_avg_suppliers", TpchExt.aboveAvgSuppliers, TpchExt.aboveAvgSuppliersSql),
    Op("sim_int8_topk", Quantization.int8TopK, Quantization.int8TopKSql, "graft_int8_topk"),
    ViewSql("sql_epoch_plan", "graft_epoch_plan",
      "lang, available_tokens, target_tokens, repeat_x1000", "lang ASC"),
    FixtureSql("sql_above_avg", TpchExt.aboveAvgSuppliersSql),
    ViewSql("sql_int8_topk", "graft_int8_topk", "vec_id, label, cos_sim8",
      "cos_sim8 DESC, vec_id ASC"),
    ViewSql("sql_reconcile", "graft_reconcile",
      "o_orderstatus, n_orders, n_no_lines, n_contiguous, n_broken", "o_orderstatus ASC"),
    ViewSql("sql_winsor", "graft_winsor",
      "source, n_docs, p05_chars, p95_chars, n_clipped_lo, n_clipped_hi", "source ASC"),
    ViewSql("sql_zorder", "graft_zorder", "bucket, n_rows, p_min, p_max, s_min, s_max",
      "bucket ASC"),
    ViewSql("sql_session_native", "graft_session_native",
      "user_id, session_start, session_end, n_events", "user_id ASC, session_start ASC"),
    ViewSql("sql_attribution", "graft_attribution", "click_id, view_id, user_id, gap_us",
      "click_id ASC, view_id ASC"),
    ViewSql("sql_trailing_range", "graft_trailing_range", "day, day_revenue, trailing_7d_revenue",
      "day ASC"),
    Op("dq_docs", DataQuality.dqDocs, DataQuality.dqDocsSql),
    FixtureSql("sql_dq_docs", DataQuality.dqDocsSql),
    Op("retrieval_bm25", Retrieval.bm25TopK, Retrieval.bm25TopKSql(), "graft_bm25"),
    Op("retrieval_bm25_multi", Retrieval.bm25MultiTopK, Retrieval.bm25MultiTopKSql()),
    Op("fuzzy_join_parts", Retrieval.fuzzyJoinParts, Retrieval.fuzzyJoinPartsSql(),
      "graft_fuzzy_parts"),
    Op("fuzzy_join_customers", Retrieval.fuzzyJoinCustomers, Retrieval.fuzzyJoinCustomersSql()),
    ViewSql("sql_bm25", "graft_bm25", "doc_id, n_terms, score", "score DESC, doc_id ASC"),
    ViewSql("sql_fuzzy_parts", "graft_fuzzy_parts", "name_a, name_b, dist, n_a, n_b",
      "name_a ASC, name_b ASC"),
    Op("entity_resolution", Retrieval.entityResolution, Retrieval.entityResolutionSql(),
      "graft_entities"),
    Op("sim_pq_topk", ProductQuant.pqTopK, ProductQuant.pqTopKSql, "graft_pq_topk"),
    ViewSql("sql_pq_topk", "graft_pq_topk", "vec_id, label, pq_cos", "pq_cos DESC, vec_id ASC"),
    Op("sim_ivfpq_topk", ProductQuant.ivfPqTopK, ProductQuant.ivfPqTopKSql),
    Op("sim_ivfpq_residual_topk", ProductQuant.ivfPqResidualTopK,
      ProductQuant.ivfPqResidualTopKSql),
    Op("sim_ivfpq_residual_recall", ProductQuant.ivfPqResidualRecall,
      ProductQuant.ivfPqResidualRecallSql),
    Op("sim_pq_recall", ProductQuant.pqRecall, ProductQuant.pqRecallSql),
    Op("pq_build", ProductQuant.pqBuild, ProductQuant.pqEncodeSql),
    Op("pq_build_residual", ProductQuant.pqBuildResidual, ProductQuant.ivfPqResidualTopKSql),
    Op("pq_codes_small", ProductQuant.pqCodesSmall, ProductQuant.pqCodesSmallSql),
    Op("pq_encode", ProductQuant.pqEncode, ProductQuant.pqEncodeSql),
    Op("sim_ann_recall", Similarity.annRecall, Similarity.annRecallSql),
    Op("sim_ivf_recall", Similarity.ivfRecall, Similarity.ivfRecallSql),
    Op("sim_ivfpq_recall", ProductQuant.ivfPqRecall, ProductQuant.ivfPqRecallSql),
    ViewSql("sql_entities", "graft_entities",
      "name, entity_id, n_parts, entity_size, is_canonical", "name ASC"),
    Op("retrieval_bm25_join", Retrieval.bm25JoinTopK, Retrieval.bm25MultiTopKSql()),
    Op("retrieval_bm25_maxp", Retrieval.bm25MaxP, Retrieval.bm25MaxPSql()),
    Op("retrieval_hard_negs", Retrieval.bm25HardNegatives, Retrieval.bm25HardNegativesSql()),
    Op("events_pagerank", GraphRank.pagerank, GraphRank.pagerankSql(), "graft_pagerank"),
    ViewSql("sql_pagerank", "graft_pagerank", "node, pagerank", "node ASC"),
    Op("graph_triangles", GraphRank.triangles, GraphRank.trianglesSql(), "graft_triangles"),
    Op("skipgram_pairs", CoOccur.skipgramPairs, CoOccur.skipgramPairsSql(), "graft_skipgrams"),
    Op("skipgram_pmi", CoOccur.skipgramPmi, CoOccur.skipgramPmiSql()),
    ViewSql("sql_skipgrams", "graft_skipgrams", "center, context, cnt", "center ASC, context ASC"),
    Op("bpe_merges", Bpe.merges(Bpe.Toy), Bpe.mergesSql(Bpe.Toy), "graft_bpe_merges"),
    Op("bpe_vocab", Bpe.vocab(Bpe.Toy), Bpe.vocabSql(Bpe.Toy)),
    Op("bpe_encode", Bpe.encode(Bpe.Toy), Bpe.encodeSql(Bpe.Toy)),
    Op("bpe_token_ids", Bpe.tokenIds(Bpe.Toy), Bpe.tokenIdsSql(Bpe.Toy)),
    Op("bpe_decode", Bpe.decode(Bpe.Toy), Bpe.decodeSql(Bpe.Toy)),
    Op("bpe_merges_scaled", Bpe.merges(Bpe.CustScaled), Bpe.mergesSql(Bpe.CustScaled)),
    Op("bpe_encode_scaled", Bpe.encode(Bpe.CustScaled), Bpe.encodeSql(Bpe.CustScaled)),
    Op("pack_from_bpe", Bpe.packFromBpe(Bpe.Toy), Bpe.packFromBpeSql(Bpe.Toy)),
    // build-phase registrations (the pq_build billing policy): first in
    // the family's alphabetical order, so sweeps bill training memos
    // here and the serving queries measure warm
    Op("bpe_build", Bpe.merges(Bpe.Toy), Bpe.mergesSql(Bpe.Toy)),
    Op("bpe_build_scaled", Bpe.merges(Bpe.CustScaled), Bpe.mergesSql(Bpe.CustScaled)),
    // the docs-corpus scaled shipping chain: documents text -> 256-merge
    // trainer -> token ids -> pack
    Op("bpe_merges_scaled_docs", Bpe.merges(Bpe.DocsScaled), Bpe.mergesSql(Bpe.DocsScaled)),
    Op("bpe_token_ids_scaled", Bpe.tokenIds(Bpe.DocsScaled), Bpe.tokenIdsSql(Bpe.DocsScaled)),
    Op("bpe_decode_scaled", Bpe.decode(Bpe.DocsScaled), Bpe.decodeSql(Bpe.DocsScaled)),
    Op("pack_from_bpe_scaled", Bpe.packFromBpe(Bpe.DocsScaled), Bpe.packFromBpeSql(Bpe.DocsScaled)),
    ViewSql("sql_bpe_merges", "graft_bpe_merges", "step, lhs, rhs, pair_count", "step ASC"),
    Op("heavy_tokens", HeavyHitters.heavyTokens, HeavyHitters.heavyTokensSql(),
      "graft_heavy_tokens"),
    Op("heavy_brands", HeavyHitters.heavyBrands, HeavyHitters.heavyBrandsSql()),
    ViewSql("sql_heavy_tokens", "graft_heavy_tokens", "tok, cnt", "cnt DESC, tok ASC"),
    Op("graph_kcore", GraphRank.kcore, GraphRank.kcoreSql(), "graft_kcore"),
    ViewSql("sql_kcore", "graft_kcore", "node, deg", "node ASC"))

  private lazy val registry = index(rows)

  /** Every registered query by name. */
  def queries: Map[String, Build] = registry.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] = registry.oracleSql

  /** `(view, build)` of every [[Op]] row that names a pipeline view. */
  private[graft] def views: Seq[(String, Build)] = registry.views
}
