package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator in SURVEY.md §2's inventory appears here as a named
  * query over the driver testdata (TESTDATA.md), with a matching DuckDB
  * oracle in [[oracleSql]] where the semantics are SQL-expressible.
  * Parity conventions (deterministic ORDER BY, aligned aliases and
  * types, rounded computed doubles) are documented in
  * [[graft.ops.CoreOps]].
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Pricing.priceBatch(spark, "/root/testdata/sf0.001")

  /** The query names a comma-separated list of name prefixes selects
    * (Verify's third argument, Bench's `SPARK_GRAFT_BENCH_ONLY`); no
    * list selects every name.
    */
  def selected(prefixes: Option[String]): String => Boolean = {
    val ps = prefixes.map(_.split(",").map(_.trim).filter(_.nonEmpty))
    name => ps.forall(_.exists(name.startsWith))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pruned_scan"   -> (ops.CoreOps.prunedScan(_, _)),
    "q02_group_mean"    -> (ops.CoreOps.groupMean(_, _)),
    "q03_daily_mean"    -> (ops.CoreOps.dailyMean(_, _)),
    "q04_trailing_mean" -> (ops.CoreOps.trailingMean(_, _)),
    "q05_yoy_alpha"     -> (ops.WindowOps.yoyAlpha(_, _)),
    "q06_rolling_mean"  -> (ops.WindowOps.rollingMean(_, _)),
    "q07_ols_forecast"  -> (ops.Forecast.closedForm(_, _)),
    "q08_union_all"     -> (ops.CoreOps.unionAll(_, _)),
    "q09_sort_limit"    -> (ops.CoreOps.sortLimit(_, _)),
    "q10_scalar_funcs"  -> (ops.CoreOps.scalarFuncs(_, _)),
    "q11_join_revenue"  -> (ops.CoreOps.joinRevenue(_, _)),
    "q12_json_extract"  -> (ops.CoreOps.jsonExtract(_, _)),
    "q13_price"         -> (ops.Pricing.priceBatch(_, _)),
    "q62_config_price"  -> (ops.Pricing.priceBatchFromConfig(_, _)),
    "q63_quarantine"    -> (ops.Staging.corruptQuarantine(_, _)),
    "q64_equidepth"     -> (ops.CoreOps.equidepthHist(_, _)),
    "q14_validate"      -> (ops.CoreOps.validateRequests(_, _)),
    "q15_sql_surface"   -> (ops.CoreOps.sqlSurface(_, _)),
    "q16_stats"         -> (ops.CoreOps.statsSurface(_, _)),
    "q17_rollup"        -> (ops.CoreOps.rollupRevenue(_, _)),
    "q18_semi_anti"     -> (ops.CoreOps.semiAntiJoin(_, _)),
    "q19_pivot"         -> (ops.CoreOps.pivotDaily(_, _)),
    "q20_setops"        -> (ops.CoreOps.setOps(_, _)),
    "q21_corr_subquery" -> (ops.CoreOps.correlatedSubquery(_, _)),
    "q22_ranking"       -> (ops.CoreOps.rankingWindows(_, _)),
    "q23_cube"          -> (ops.CoreOps.cubeRevenue(_, _)),
    "q24_csv_stage"     -> (ops.Staging.csvStage(_, _)),
    "q25_catalog"       -> (ops.Staging.catalogRoundTrip(_, _)),
    "q26_bucketed_join" -> (ops.Staging.bucketedJoin(_, _)),
    "q27_salted_join"   -> (ops.Skew.saltedFlagRevenue(_, _)),
    "q28_asof_join"     -> (ops.AsOfJoin.purchaseAsOfClick(_, _)),
    "q29_histogram"     -> (ops.CoreOps.histogram(_, _)),
    "q30_quantiles"     -> (ops.CoreOps.quantiles(_, _)),
    "q31_partition_pruned" -> (ops.Staging.partitionPruned(_, _)),
    "q32_funnel"        -> (ops.Behavior.funnel(_, _)),
    "q33_retention"     -> (ops.Behavior.retention(_, _)),
    "q34_grouping_sets" -> (ops.CoreOps.groupingSetsRevenue(_, _)),
    "q35_bloom_join"    -> (ops.RuntimeFilter.bloomJoinRevenue(_, _)),
    "q36_rest_stage"    -> (ops.RestExtract.restStage(_, _)),
    "q37_range_join"    -> (ops.RangeJoin.clicksInPurchaseWindows(_, _)),
    "q38_window_suite"  -> (ops.WindowOps.windowSuite(_, _)),
    "q39_multiset_ops"  -> (ops.CoreOps.multisetOps(_, _)),
    "q40_unpivot"       -> (ops.CoreOps.unpivotDaily(_, _)),
    "q41_mode_disc"     -> (ops.CoreOps.modeDisc(_, _)),
    "q42_json_stage"    -> (ops.Staging.jsonStage(_, _)),
    "q43_orc_stage"     -> (ops.Staging.orcStage(_, _)),
    "q44_compact"       -> (ops.Staging.compact(_, _)),
    "q45_schema_merge"  -> (ops.Staging.schemaMerge(_, _)),
    "q46_profile"       -> (ops.CoreOps.profile(_, _)),
    "q47_scd2_dim"      -> (ops.Warehouse.scd2Dim(_, _)),
    "q48_incr_agg"      -> (ops.Warehouse.incrementalAgg(_, _)),
    "q49_recursive_cte" -> (ops.CoreOps.recursiveHierarchy(_, _)),
    "q50_lateral_topk"  -> (ops.CoreOps.lateralTopPerGroup(_, _)),
    "q51_gapfill"       -> (ops.WindowOps.gapFill(_, _)),
    "q52_delta_join"    -> (ops.Warehouse.deltaJoin(_, _)),
    "q53_outer_reconcile" -> (ops.CoreOps.outerReconcile(_, _)),
    "q54_zorder_probe"  -> (ops.ZOrder.boxProbe(_, _)),
    "q55_stats_agg"     -> (ops.ZOrder.metadataAgg(_, _)),
    "q56_approx_quantiles" -> (ops.CoreOps.approxQuantiles(_, _)),
    "q57_cbo_star"      -> (ops.Staging.cboStarJoin(_, _)),
    "q58_aqe_skew_join" -> (ops.Skew.aqeSkewJoin(_, _)),
    "s12_stream_ingest" -> (streaming.StreamIngest.bloomIngest(_, _)),
    "s13_stream_cluster" -> (streaming.StreamCluster.clusterMaintain(_, _)),
    "s14_stream_sessions" -> (streaming.Sessionize.streamSessions(_, _)),
    "s15_stream_vec_ingest" -> (streaming.StreamVecIngest.ivfIngest(_, _)),
    "s16_stream_decontam"   -> (streaming.StreamDecontam.decontamIngest(_, _)),
    "s17_backfill"          -> (streaming.DailyIngest.backfillRange(_, _)),
    "m14_silence_spans" -> (llm.Multimodal.silenceSpans(_, _)),
    "q59_bucketed_agg"  -> (ops.Staging.bucketedAgg(_, _)),
    "q60_mad_outliers"  -> (ops.CoreOps.madOutliers(_, _)),
    "q61_observe"       -> (ops.CoreOps.observeMetrics(_, _)),
    // LLM-data-pipeline operators (BASELINE.json north star)
    "d01_dedup_exact"       -> (llm.Dedup.exact(_, _)),
    "d02_minhash_bands"     -> (llm.Dedup.minhashBands(_, _)),
    "d03_lsh_jaccard_pairs" -> (llm.Dedup.lshJaccardPairs(_, _)),
    "d04_simhash"           -> (llm.Dedup.simhash(_, _)),
    "d05_simhash_pairs"     -> (llm.Dedup.simhashPairs(_, _)),
    "d06_cosine_topk"       -> (llm.Similarity.cosineTopK(_, _)),
    "d07_ann_lsh"           -> (llm.Similarity.annLsh(_, _)),
    "d08_ann_ivf"           -> (llm.Similarity.annIvf(_, _)),
    "d09_embed_norms"       -> (llm.Similarity.embedNorms(_, _)),
    "d10_embed_neardup"     -> (llm.Similarity.embedNearDup(_, _)),
    "d11_dedup_clusters"    -> (llm.Dedup.dedupClusters(_, _)),
    "d12_curate"            -> (llm.Dedup.curate(_, _)),
    "d30_index_ingest"      -> (llm.Dedup.indexIngest(_, _)),
    "d31_ann_pq"            -> (llm.Pq.annPq(_, _)),
    "d32_incremental_cc"    -> (llm.Dedup.incrementalCc(_, _)),
    "d33_ann_ivfpq"         -> (llm.Pq.annIvfPq(_, _)),
    "d34_lsh_tuning"        -> (llm.Dedup.lshTuningReport(_, _)),
    "d35_editdist_pairs"    -> (llm.Dedup.editDistancePairs(_, _)),
    "d36_pagerank"          -> (llm.Graph.pageRank(_, _)),
    "t16_dup_spans"         -> (llm.Curation.dupSpans(_, _)),
    "t16b_span_bound"       -> (llm.Curation.spanBound(_, _)),
    "t17_exact_char_spans"  -> (llm.Curation.exactCharSpans(_, _)),
    "t18_perplexity"        -> (llm.LangModel.perplexityBuckets(_, _)),
    "t19_bm25"              -> (llm.Retrieval.bm25TopK(_, _)),
    "d40_ann_recall"        -> (llm.Similarity.annRecall(_, _)),
    "d71_hnsw_ann"          -> (llm.GraphAnn.annHnsw(_, _)),
    "d41_lpa_communities"   -> (llm.Graph.labelPropagation(_, _)),
    "d42_kmv_overlap"       -> (llm.Sketch.kmvOverlap(_, _)),
    "d72_quantile_sketch"   -> (llm.Sketch.quantileSketch(_, _)),
    "d73_quantile_by_source" -> (llm.Sketch.quantileBySource(_, _)),
    "d74_theta_set_ops"     -> (llm.Sketch.thetaSetOps(_, _)),
    "d75_theta_novelty"     -> (llm.Sketch.thetaNovelty(_, _)),
    "d43_split_enforce"     -> (llm.Sampling.splitEnforce(_, _)),
    "d44_token_shards"      -> (llm.Sampling.tokenShards(_, _)),
    "d45_quality_dedup"     -> (llm.Dedup.qualityDedup(_, _)),
    "t20_vocab_growth"      -> (llm.TextStats.vocabGrowth(_, _)),
    "s18_stream_shards"     -> (streaming.StreamShards.tokenShardIngest(_, _)),
    "d46_ivf_rerank"        -> (llm.Pq.annIvfRerank(_, _)),
    "t21_mmr_diverse"       -> (llm.Retrieval.mmrTopK(_, _)),
    "d47_dedup_report"      -> (llm.Dedup.dedupReport(_, _)),
    "m15_xformat_dedup"     -> (llm.Multimodal.crossFormatDedup(_, _)),
    "d48_cluster_agreement" -> (llm.Dedup.clusterAgreement(_, _)),
    "d49_dsir_select"       -> (llm.Sampling.dsirSelect(_, _)),
    "d50_ivf_probe_sweep"   -> (llm.Similarity.ivfProbeSweep(_, _)),
    "s20_stream_asof"       -> (streaming.StreamAsOf.asOfEnrich(_, _)),
    "s21_stream_drift"      -> (streaming.StreamDrift.driftReport(_, _)),
    "q65_constraints"       -> (ops.Warehouse.constraintSuite(_, _)),
    "q66_cdc_apply"         -> (ops.Warehouse.cdcApply(_, _)),
    "d51_threshold_sweep"   -> (llm.Dedup.thresholdSweep(_, _)),
    "t22_contam_attrib"     -> (llm.Curation.contamAttribution(_, _)),
    "m16_audio_neardup"     -> (llm.Multimodal.audioNearDup(_, _)),
    "m17_media_integrity"   -> (llm.Multimodal.mediaIntegrity(_, _)),
    "d52_domain_cap"        -> (llm.Sampling.domainCap(_, _)),
    "s22_stream_router"     -> (streaming.StreamRouter.qualityRoute(_, _)),
    "s23_stream_alert"      -> (streaming.StreamAlert.failureAlert(_, _)),
    "s24_stream_compact"    -> (streaming.StreamCompact.compactedIngest(_, _)),
    "m18_exif_meta"         -> (llm.Multimodal.exifMeta(_, _)),
    "d54_modularity"        -> (llm.Graph.modularity(_, _)),
    "t23_kn_smooth"         -> (llm.LangModel.knFamiliarity(_, _)),
    "t24_zipf_fit"          -> (llm.TextStats.zipfFit(_, _)),
    "t25_langid_eval"       -> (llm.TextStats.langIdEval(_, _)),
    "d57_split_drift"       -> (llm.Sampling.splitDrift(_, _)),
    "d55_norm_dedup"        -> (llm.Dedup.normDedup(_, _)),
    "d56_hard_negatives"    -> (llm.Similarity.hardNegatives(_, _)),
    "t26_blocklist"         -> (llm.TextPrep.blocklistScrub(_, _)),
    "s25_stream_vocab"      -> (streaming.StreamVocab.vocabIngest(_, _)),
    "m19_lum_hist"          -> (llm.ImageHist.lumHistogram(_, _)),
    "d58_cell_purity"       -> (llm.Similarity.cellPurity(_, _)),
    "t27_heaps_fit"         -> (llm.TextStats.heapsFit(_, _)),
    "t28_bpe_fertility"     -> (llm.Bpe.fertility(_, _)),
    "d59_softdedup_sample"  -> (llm.Dedup.softDedupSample(_, _)),
    "d60_corpus_diff"       -> (llm.Dedup.corpusDiff(_, _)),
    "d61_xsplit_leakage"    -> (llm.Similarity.xsplitLeakage(_, _)),
    "t29_unigram_entropy"   -> (llm.TextStats.unigramEntropy(_, _)),
    "t30_mojibake"          -> (llm.TextPrep.mojibakeScan(_, _)),
    "m20_audio_clipping"    -> (llm.Multimodal.audioClipping(_, _)),
    "m21_lum_entropy"       -> (llm.ImageHist.lumStats(_, _)),
    "s26_stream_leakage"    -> (streaming.StreamLeak.leakAlerts(_, _)),
    "t31_pmi_bigrams"       -> (llm.TextStats.pmiBigrams(_, _)),
    "t32_burstiness"        -> (llm.TextStats.burstiness(_, _)),
    "d62_scaling_ladder"    -> (llm.Sampling.scalingLadder(_, _)),
    "t33_train_coverage"    -> (llm.TextStats.trainCoverage(_, _)),
    "d63_centroid_drift"    -> (llm.Similarity.centroidDrift(_, _)),
    "t34_textrank"          -> (llm.TextRank.keywords(_, _)),
    "t35_simpson_diversity" -> (llm.TextStats.simpsonDiversity(_, _)),
    "d64_knn_reciprocity"   -> (llm.Similarity.knnReciprocity(_, _)),
    "d65_label_anisotropy"  -> (llm.Similarity.labelAnisotropy(_, _)),
    "m22_sharpness"         -> (llm.ImageHist.gradientStats(_, _)),
    "s27_stream_budget"     -> (streaming.StreamBudget.budgetIngest(_, _)),
    "d66_conductance"       -> (llm.Graph.conductance(_, _)),
    "t36_char_entropy"      -> (llm.TextStats.charEntropy(_, _)),
    "m23_frame_energy"      -> (llm.Multimodal.frameEnergy(_, _)),
    "d67_label_outliers"    -> (llm.Similarity.labelOutliers(_, _)),
    "d68_lexical_drift"     -> (llm.Sampling.lexicalDrift(_, _)),
    "t37_lang_mismatch"     -> (llm.TextStats.langMismatch(_, _)),
    "d69_budget_select"     -> (llm.Sampling.budgetSelect(_, _)),
    "t38_source_overlap"    -> (llm.TextStats.sourceOverlap(_, _)),
    "d70_cell_balance"      -> (llm.Similarity.cellBalance(_, _)),
    "d53_link_predict"      -> (llm.Graph.linkPredict(_, _)),
    "s19_stream_sketch"     -> (streaming.StreamSketch.cmsIngest(_, _)),
    "d37_allpairs_join"     -> (llm.Dedup.allPairsJoin(_, _)),
    "d38_triangles"         -> (llm.Graph.triangles(_, _)),
    "d39_kcore"             -> (llm.Graph.kCore(_, _)),
    "m12_ulaw_decode"       -> (llm.Multimodal.ulawStats(_, _)),
    "m13_alaw_decode"       -> (llm.Multimodal.alawStats(_, _)),
    "t01_lang_id"           -> (llm.TextStats.langId(_, _)),
    "t02_text_quality"      -> (llm.TextStats.quality(_, _)),
    "t03_token_stats"       -> (llm.TextStats.tokenStats(_, _)),
    "t04_fingerprint"       -> (llm.TextStats.fingerprint(_, _)),
    "t05_vocab_topk"        -> (llm.TextStats.vocabTopK(_, _)),
    "t06_tfidf_top5"        -> (llm.TextStats.tfidfTop5(_, _)),
    "d13_split_assign"      -> (llm.Sampling.splitAssign(_, _)),
    "d14_curated_corpus"    -> (llm.Pipeline.curatedCorpus(_, _)),
    "d15_stratified_sample" -> (llm.TextPrep.stratifiedSample(_, _)),
    "d16_distinct_sketch"   -> (llm.TextStats.distinctSketch(_, _)),
    "d16b_sketch_bound"     -> (llm.TextStats.distinctSketchBound(_, _)),
    "d17_embed_quantize"    -> (llm.Similarity.embedQuantize(_, _)),
    "d18_decontaminate"     -> (llm.Curation.decontaminate(_, _)),
    "d19_span_dedup"        -> (llm.Curation.spanDedup(_, _)),
    "d20_lang_mix"          -> (llm.Curation.langMix(_, _)),
    "d21_embed_project"     -> (llm.Similarity.embedProject(_, _)),
    "d22_countmin_topk"     -> (llm.Sketch.countMinTopK(_, _)),
    "d23_incremental_dedup" -> (llm.Dedup.incrementalDedup(_, _)),
    "d24_semdedup"          -> (llm.Similarity.semDedup(_, _)),
    "d25_containment"       -> (llm.Dedup.containmentPairs(_, _)),
    "d26_mixture_sample"    -> (llm.Sampling.mixtureSample(_, _)),
    "d27_epoch_shuffle"     -> (llm.Sampling.epochShuffle(_, _)),
    "d28_soft_dedup"        -> (llm.Dedup.softDedup(_, _)),
    "d29_bloom_dedup"       -> (llm.Dedup.bloomIncrementalDedup(_, _)),
    "t07_pii_scrub"         -> (llm.TextPrep.piiScrub(_, _)),
    "t08_chunking"          -> (llm.TextPrep.chunk(_, _)),
    "t09_packing"           -> (llm.TextPrep.pack(_, _)),
    "t10_repetition"        -> (llm.TextStats.repetition(_, _)),
    "t11_bpe_tokens"        -> (llm.Bpe.bpeTokens(_, _)),
    "t12_bigram_lm"         -> (llm.LangModel.bigramFamiliarity(_, _)),
    "t13_novelty"           -> (llm.TextStats.novelty(_, _)),
    "t14_boilerplate"       -> (llm.Curation.boilerplate(_, _)),
    "t15_quality_logit"     -> (llm.TextStats.qualityLogit(_, _)),
    "m01_media_stats"       -> (llm.Multimodal.mediaStats(_, _)),
    "m02_image_decode"      -> (llm.Multimodal.imageStats(_, _)),
    "m03_image_resize"      -> (llm.Multimodal.imageResize(_, _)),
    "m04_audio_decode"      -> (llm.Multimodal.audioStats(_, _)),
    "m05_video_frames"      -> (llm.Multimodal.videoFrames(_, _)),
    "m06_image_neardup"     -> (llm.Multimodal.imageNearDup(_, _)),
    "m07_audio_resample"    -> (llm.Multimodal.audioResample(_, _)),
    "m08_media_sniff"       -> (llm.Multimodal.mediaSniff(_, _)),
    "m09_scene_change"      -> (llm.Multimodal.sceneChanges(_, _)),
    "m10_jpeg_decode"       -> (llm.Multimodal.jpegDecode(_, _)),
    "m11_mjpeg_frames"      -> (llm.Multimodal.mjpegFrames(_, _)),
    "s01_stream_daily"      -> (streaming.DailyIngest.streamDaily(_, _)),
    "s02_sessionize"        -> (streaming.Sessionize.sessions(_, _)),
    "s03_sliding"           -> (streaming.DailyIngest.slidingDaily(_, _)),
    "s04_stream_sink"       -> (streaming.DailyIngest.streamAppendSink(_, _)),
    "s05_stream_state"      -> (streaming.StatefulCumulative.cumulativeWeekly(_, _)),
    "s06_stream_join"       -> (streaming.StreamJoin.purchaseClickJoin(_, _)),
    "s07_stream_tws"        -> (streaming.StateV2.runningWeekly(_, _)),
    "s08_stream_left_join"  -> (streaming.StreamJoin.purchaseClickLeftJoin(_, _)),
    "s09_stream_static"     -> (streaming.StreamJoin.streamStaticEnrich(_, _)),
    "s10_stream_dedup"      -> (streaming.StreamDedup.dedupedDailyCounts(_, _)),
    "s11_stream_upsert"     -> (streaming.StreamUpsert.dailyUpsert(_, _)),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    * NOTE: `events.ts` is timestamp[ns] in parquet; Spark truncates to
    * microseconds on read (graft.tables.Tables), so oracles cast
    * `ts::TIMESTAMP` wherever sub-second precision could matter.
    */
  /** The flagship pricing oracle, parameterized by the four
    * deployment constants (q13 = compiled defaults, q62 = the staged
    * INI's overrides) — one template so the two can never drift.
    */
  private def priceOracleSql(tariff: String, fee: String, lo: String, hi: String): String =
    s"""WITH requests AS (
       |  SELECT c_custkey, r_name AS region,
       |         CAST(c_custkey % 4 + 1 AS INT) AS nb_personne,
       |         CAST(20 + c_custkey % 180 AS INT) AS nb_m2
       |  FROM customer
       |  JOIN nation ON c_nationkey = n_nationkey
       |  JOIN region ON n_regionkey = r_regionkey),
       |m AS (
       |  SELECT least(0.05, 0.01 * (round(sum(value), 2) / count(value)) / 4000.0) AS m
       |  FROM events
       |  WHERE ts::TIMESTAMP >= (SELECT max(ts::TIMESTAMP) - INTERVAL 30 DAYS FROM events)),
       |region_year AS (
       |  SELECT r_name AS region, CAST(year(o_orderdate) AS INT) AS yr,
       |         sum(o_totalprice) AS v
       |  FROM orders
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation   ON c_nationkey = n_nationkey
       |  JOIN region   ON n_regionkey = r_regionkey
       |  GROUP BY 1, 2),
       |ratio AS (
       |  SELECT region, yr,
       |         lead(v) OVER (PARTITION BY region ORDER BY yr) / v AS ratio
       |  FROM region_year),
       |alpha AS (
       |  SELECT region,
       |         round(coalesce(least($hi, greatest($lo, ratio)), 1.0), 6) AS alpha
       |  FROM ratio
       |  WHERE yr = (SELECT CAST(max(year(o_orderdate)) AS INT) - 1 FROM orders))
       |SELECT c_custkey, region, nb_personne, nb_m2,
       |  coalesce(alpha, 1.0) AS alpha, m,
       |  round_even(($tariff + coalesce(alpha, 1.0) * m)
       |             * (110.0 * nb_m2 + 800.0 * nb_personne + 200.0 * nb_personne + 1100.0)
       |             / 12.0 + $fee, 2) AS price
       |FROM requests
       |LEFT JOIN alpha USING (region)
       |CROSS JOIN m
       |ORDER BY c_custkey""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q01_pruned_scan" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem
        |WHERE l_returnflag IN ('A','R') AND l_linestatus = 'F'
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin,

    "q02_group_mean" ->
      """SELECT l_returnflag, l_linestatus, CAST(year(l_shipdate) AS INT) AS ship_year,
        |  round(sum(l_quantity), 2) / count(l_quantity) AS avg_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin,

    "q03_daily_mean" ->
      """SELECT event_type, (ts::TIMESTAMP)::DATE AS d,
        |  round(sum(value), 2) / count(value) AS daily_mwh
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "q04_trailing_mean" ->
      """SELECT round(sum(value), 2) / count(value) AS avg30, count(*) AS n_rows
        |FROM events
        |WHERE ts::TIMESTAMP >= (SELECT max(ts::TIMESTAMP) - INTERVAL 30 DAYS FROM events)""".stripMargin,

    "q05_yoy_alpha" ->
      """WITH yearly AS (
        |  SELECT o_orderpriority, CAST(year(o_orderdate) AS INT) AS yr,
        |         round(sum(o_totalprice), 2) / count(o_totalprice) AS conso
        |  FROM orders GROUP BY 1, 2),
        |r AS (
        |  SELECT o_orderpriority, yr, conso,
        |         lead(conso) OVER (PARTITION BY o_orderpriority ORDER BY yr) / conso AS alpha_raw
        |  FROM yearly)
        |SELECT o_orderpriority, yr, conso,
        |  CASE WHEN alpha_raw IS NOT NULL
        |       THEN round(least(1.3, greatest(1.0, alpha_raw)), 6) END AS alpha
        |FROM r
        |ORDER BY 1, 2""".stripMargin,

    "q06_rolling_mean" ->
      """WITH daily AS (
        |  SELECT event_type, (ts::TIMESTAMP)::DATE AS d, round(sum(value), 2) AS v
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, d, v,
        |  round(sum(v) OVER w, 2) / count(v) OVER w AS avg7
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY d
        |             RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
        |ORDER BY 1, 2""".stripMargin,

    "q07_ols_forecast" ->
      """WITH daily AS (
        |  SELECT event_type,
        |         CAST(datediff('day', DATE '1970-01-01', (ts::TIMESTAMP)::DATE) AS INT) AS x,
        |         round(sum(value), 2) / count(value) AS y
        |  FROM events GROUP BY 1, 2),
        |ctr AS (
        |  SELECT event_type, x, y,
        |         avg(x) OVER (PARTITION BY event_type) AS xbar,
        |         avg(y) OVER (PARTITION BY event_type) AS ybar,
        |         max(x) OVER (PARTITION BY event_type) AS xmax
        |  FROM daily),
        |fit AS (
        |  SELECT event_type, max(xmax) AS xmax, max(xbar) AS xbar, max(ybar) AS ybar,
        |         sum((x - xbar) * (y - ybar)) AS sxy,
        |         sum((x - xbar) * (x - xbar)) AS sxx
        |  FROM ctr GROUP BY 1),
        |coefs AS (
        |  SELECT event_type, xmax,
        |         round(CASE WHEN sxx > 0 THEN sxy / sxx ELSE 0::DOUBLE END, 6) AS slope,
        |         round(ybar - round(CASE WHEN sxx > 0 THEN sxy / sxx ELSE 0::DOUBLE END, 6) * xbar, 6) AS intercept
        |  FROM fit)
        |SELECT event_type, k, CAST(xmax + k AS INT) AS forecast_day,
        |       intercept + slope * (xmax + k) AS pred
        |FROM coefs, unnest([1, 2, 3]) AS t(k)
        |ORDER BY event_type, k""".stripMargin,

    "q08_union_all" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, 'hist' AS src
        |FROM lineitem WHERE l_returnflag = 'A'
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, l_quantity, 'fcst' AS src
        |FROM lineitem WHERE l_returnflag = 'N'
        |ORDER BY l_orderkey, l_linenumber, src, l_quantity""".stripMargin,

    "q09_sort_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 50""".stripMargin,

    "q10_scalar_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS order_year,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_day,
        |  (o_orderdate - INTERVAL 30 DAYS)::DATE AS day_minus_30,
        |  round_even(o_totalprice, 0) AS price_int,
        |  round(least(150000.0, greatest(50000.0, o_totalprice)), 2) AS price_clamped
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,

    "q11_join_revenue" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    "q12_json_extract" ->
      """SELECT event_type, (props->>'$.k')::INT % 10 AS k_bucket, count(*) AS n
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "q13_price" -> priceOracleSql("0.1558", "6.0", "1.0", "1.3"),

    // q62: q13's oracle with the staged INI's constants substituted —
    // a parse bug or a default leaking back breaks the hash
    "q62_config_price" -> priceOracleSql(
      ops.Pricing.CfgTariff.toString, ops.Pricing.CfgFee.toString,
      ops.Pricing.CfgAlphaLo.toString, ops.Pricing.CfgAlphaHi.toString),

    "q63_quarantine" -> ops.Staging.oracleCorruptQuarantine,
    "q64_equidepth"  -> ops.CoreOps.oracleEquidepthHist,

    "q14_validate" ->
      """WITH p AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 7 = 0
        |              THEN '{"nb_m2": ' || (20 + c_custkey % 180) || '}'
        |              ELSE '{"nb_personne": ' || (c_custkey % 4 + 1) ||
        |                   ', "nb_m2": ' || (20 + c_custkey % 180) || '}'
        |         END AS payload
        |  FROM customer)
        |SELECT c_custkey,
        |  (payload->>'$.nb_personne')::INT AS nb_personne,
        |  (payload->>'$.nb_m2')::INT AS nb_m2,
        |  ((payload->>'$.nb_personne') IS NOT NULL
        |   AND (payload->>'$.nb_m2') IS NOT NULL) AS is_valid
        |FROM p
        |ORDER BY c_custkey""".stripMargin,

    "q15_sql_surface" ->
      """SELECT c_mktsegment,
        |       CAST(year(o_orderdate) AS INT) AS yr,
        |       round(sum(o_totalprice), 2) AS total,
        |       count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderstatus != 'X'
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    // LLM-pipeline oracles are built next to their operators from the
    // same constants (hash spec, seeds, thresholds, hyperplanes).
    "d01_dedup_exact"       -> llm.Dedup.oracleExact,
    "d02_minhash_bands"     -> llm.Dedup.oracleMinhashBands,
    "d03_lsh_jaccard_pairs" -> llm.Dedup.oracleLshJaccardPairs,
    "d04_simhash"           -> llm.Dedup.oracleSimhash,
    "d05_simhash_pairs"     -> llm.Dedup.oracleSimhashPairs,
    "d06_cosine_topk"       -> llm.Similarity.oracleCosineTopK,
    "d07_ann_lsh"           -> llm.Similarity.oracleAnnLsh,
    "d08_ann_ivf"           -> llm.Similarity.oracleAnnIvf,
    "d09_embed_norms"       -> llm.Similarity.oracleEmbedNorms,
    "d10_embed_neardup"     -> llm.Similarity.oracleEmbedNearDup,
    "d11_dedup_clusters"    -> llm.Dedup.oracleDedupClusters,
    "d12_curate"            -> llm.Dedup.oracleCurate,
    "t01_lang_id"           -> llm.TextStats.oracleLangId,
    "t02_text_quality"      -> llm.TextStats.oracleQuality,
    "t03_token_stats"       -> llm.TextStats.oracleTokenStats,
    "t04_fingerprint"       -> llm.TextStats.oracleFingerprint,
    "t05_vocab_topk"        -> llm.TextStats.oracleVocabTopK,
    "t06_tfidf_top5"        -> llm.TextStats.oracleTfidfTop5,
    "d13_split_assign"      -> llm.Sampling.oracleSplitAssign,
    "d14_curated_corpus"    -> llm.Pipeline.oracleCuratedCorpus,
    "d15_stratified_sample" -> llm.TextPrep.oracleStratifiedSample,
    "d18_decontaminate"     -> llm.Curation.oracleDecontaminate,
    "d19_span_dedup"        -> llm.Curation.oracleSpanDedup,
    "d20_lang_mix"          -> llm.Curation.oracleLangMix,
    "d21_embed_project"     -> llm.Similarity.oracleEmbedProject,
    "d22_countmin_topk"     -> llm.Sketch.oracleCountMinTopK,
    "d23_incremental_dedup" -> llm.Dedup.oracleIncrementalDedup,
    "d24_semdedup"          -> llm.Similarity.oracleSemDedup,
    "d25_containment"       -> llm.Dedup.oracleContainmentPairs,
    "d26_mixture_sample"    -> llm.Sampling.oracleMixtureSample,
    "d27_epoch_shuffle"     -> llm.Sampling.oracleEpochShuffle,
    "d28_soft_dedup"        -> llm.Dedup.oracleSoftDedup,
    "d29_bloom_dedup"       -> llm.Dedup.oracleBloomIncrementalDedup,
    "t14_boilerplate"       -> llm.Curation.oracleBoilerplate,
    // d16/d16b: the gated estimate is a deterministic portable-hash KMV
    // (estimate + 15% bound + d16b's sketch-merge/subadditivity claims
    // all hash-match); the engine-native HLL++ twin stays off the gate
    // (seed-fragile bound — round-7 red row) and is pinned in TextPrepSpec
    "d16_distinct_sketch"   -> llm.TextStats.oracleDistinctSketch,
    "d16b_sketch_bound"     -> llm.TextStats.oracleDistinctSketchBound,
    "d17_embed_quantize"    -> llm.Similarity.oracleEmbedQuantize,
    "t07_pii_scrub"         -> llm.TextPrep.oraclePiiScrub,
    "t08_chunking"          -> llm.TextPrep.oracleChunk,
    "t09_packing"           -> llm.TextPrep.oraclePack,
    "m01_media_stats"       -> llm.Multimodal.oracleMediaStats,
    "m02_image_decode"      -> llm.Multimodal.oracleImageStats,
    "m03_image_resize"      -> llm.Multimodal.oracleImageResize,
    "m04_audio_decode"      -> llm.Multimodal.oracleAudioStats,
    "m05_video_frames"      -> llm.Multimodal.oracleVideoFrames,

    "q16_stats" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
        |  round(stddev_samp(l_extendedprice), 2) AS sd
        |FROM lineitem
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    "q17_rollup" ->
      """SELECT n_name, CAST(year(o_orderdate) AS INT) AS yr,
        |  round(sum(o_totalprice), 2) AS total,
        |  count(*) AS n_orders,
        |  CAST(grouping(n_name) * 2 + grouping(yr) AS INT) AS gid
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name, yr)
        |ORDER BY gid, n_name ASC NULLS FIRST, yr ASC NULLS FIRST""".stripMargin,

    "q18_semi_anti" ->
      """WITH big AS (SELECT o_custkey FROM orders WHERE o_totalprice > 200000.0)
        |SELECT c_custkey, 'has_big_order' AS segment FROM customer
        |WHERE EXISTS (SELECT 1 FROM big WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, 'no_big_order' AS segment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM big WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q19_pivot" ->
      """SELECT (ts::TIMESTAMP)::DATE AS d,
        |  coalesce(round(sum(value) FILTER (event_type = 'click'), 2), 0.0)    AS click,
        |  coalesce(round(sum(value) FILTER (event_type = 'error'), 2), 0.0)    AS error,
        |  coalesce(round(sum(value) FILTER (event_type = 'purchase'), 2), 0.0) AS purchase,
        |  coalesce(round(sum(value) FILTER (event_type = 'signup'), 2), 0.0)   AS signup,
        |  coalesce(round(sum(value) FILTER (event_type = 'view'), 2), 0.0)     AS view
        |FROM events
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    "q20_setops" ->
      """WITH urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        |big AS (SELECT o_custkey FROM orders WHERE o_totalprice > 150000.0)
        |SELECT o_custkey, 'urgent_and_big' AS tag
        |FROM (SELECT o_custkey FROM urgent INTERSECT SELECT o_custkey FROM big)
        |UNION ALL
        |SELECT o_custkey, 'urgent_only' AS tag
        |FROM (SELECT o_custkey FROM urgent EXCEPT SELECT o_custkey FROM big)
        |ORDER BY o_custkey, tag""".stripMargin,

    "q21_corr_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice > 1.5 * (
        |  SELECT round(sum(o_totalprice), 2) / count(*) FROM orders i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q22_ranking" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(row_number() OVER w AS INT) AS rn,
        |  CAST(rank() OVER w AS INT) AS rnk,
        |  CAST(dense_rank() OVER w AS INT) AS drnk,
        |  CAST(ntile(4) OVER w AS INT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |QUALIFY row_number() OVER w <= 5
        |ORDER BY o_custkey, rn""".stripMargin,

    "q23_cube" ->
      """SELECT n_name, o_orderstatus,
        |  round(sum(o_totalprice), 2) AS total,
        |  count(*) AS n_orders,
        |  CAST(grouping(n_name) * 2 + grouping(o_orderstatus) AS INT) AS gid
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |GROUP BY CUBE (n_name, o_orderstatus)
        |ORDER BY gid, n_name ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin,

    "q34_grouping_sets" ->
      """SELECT n_name, yr,
        |  round(sum(o_totalprice), 2) AS total,
        |  count(*) AS n_orders,
        |  CAST(grouping(n_name) * 2 + grouping(yr) AS INT) AS gid
        |FROM (SELECT n_name, year(o_orderdate)::INT AS yr, o_totalprice
        |      FROM orders
        |      JOIN customer ON o_custkey = c_custkey
        |      JOIN nation   ON c_nationkey = n_nationkey)
        |GROUP BY GROUPING SETS ((n_name), (yr), ())
        |ORDER BY gid, n_name ASC NULLS FIRST, yr ASC NULLS FIRST""".stripMargin,

    "q35_bloom_join" -> ops.RuntimeFilter.oracleBloomJoin,
    "q36_rest_stage" -> ops.RestExtract.oracleRestStage,
    "q37_range_join" -> ops.RangeJoin.oracleClicksInPurchaseWindows,
    "q38_window_suite" -> ops.WindowOps.oracleWindowSuite,
    "q39_multiset_ops" -> ops.CoreOps.oracleMultisetOps,
    "q40_unpivot"      -> ops.CoreOps.oracleUnpivotDaily,
    "q41_mode_disc"    -> ops.CoreOps.oracleModeDisc,
    "q42_json_stage"   -> ops.Staging.oracleJsonStage,
    "q43_orc_stage"    -> ops.Staging.oracleOrcStage,
    "q44_compact"      -> ops.Staging.oracleCompact,
    "q45_schema_merge" -> ops.Staging.oracleSchemaMerge,
    "q46_profile"      -> ops.CoreOps.oracleProfile,
    "q47_scd2_dim"     -> ops.Warehouse.oracleScd2Dim,
    "q48_incr_agg"     -> ops.Warehouse.oracleIncrementalAgg,
    "q49_recursive_cte" -> ops.CoreOps.oracleRecursiveHierarchy,
    "q50_lateral_topk"  -> ops.CoreOps.oracleLateralTopPerGroup,
    "q51_gapfill"       -> ops.WindowOps.oracleGapFill,
    "q52_delta_join"    -> ops.Warehouse.oracleDeltaJoin,
    "q53_outer_reconcile" -> ops.CoreOps.oracleOuterReconcile,
    "q54_zorder_probe"  -> ops.ZOrder.oracleBoxProbe,
    "q55_stats_agg"     -> ops.ZOrder.oracleMetadataAgg,
    "q56_approx_quantiles" -> ops.CoreOps.oracleApproxQuantiles,
    "q57_cbo_star"      -> ops.Staging.oracleCboStarJoin,
    "d30_index_ingest"  -> llm.Dedup.oracleIndexIngest,
    "d31_ann_pq"        -> llm.Pq.oracleAnnPq,
    "d32_incremental_cc" -> llm.Dedup.oracleIncrementalCc,
    "d33_ann_ivfpq"     -> llm.Pq.oracleAnnIvfPq,
    "d34_lsh_tuning"    -> llm.Dedup.oracleLshTuning,
    "d35_editdist_pairs" -> llm.Dedup.oracleEditDistancePairs,
    "d36_pagerank"      -> llm.Graph.oraclePageRank,
    "t16_dup_spans"     -> llm.Curation.oracleDupSpans,
    "t16b_span_bound"   -> llm.Curation.oracleSpanBound,
    "t17_exact_char_spans" -> llm.Curation.oracleExactCharSpans,
    "t18_perplexity"    -> llm.LangModel.oraclePerplexityBuckets,
    "t19_bm25"          -> llm.Retrieval.oracleBm25TopK,
    "d40_ann_recall"    -> llm.Similarity.oracleAnnRecall,
    "d71_hnsw_ann"      -> llm.GraphAnn.oracleAnnHnsw,
    "d41_lpa_communities" -> llm.Graph.oracleLabelPropagation,
    "d42_kmv_overlap"   -> llm.Sketch.oracleKmvOverlap,
    "d72_quantile_sketch" -> llm.Sketch.oracleQuantileSketch,
    "d73_quantile_by_source" -> llm.Sketch.oracleQuantileBySource,
    "d74_theta_set_ops" -> llm.Sketch.oracleThetaSetOps,
    "d75_theta_novelty" -> llm.Sketch.oracleThetaNovelty,
    "d43_split_enforce" -> llm.Sampling.oracleSplitEnforce,
    "d44_token_shards"  -> llm.Sampling.oracleTokenShards,
    "d45_quality_dedup" -> llm.Dedup.oracleQualityDedup,
    "t20_vocab_growth"  -> llm.TextStats.oracleVocabGrowth,
    "s18_stream_shards" -> streaming.StreamShards.oracleStreamShards,
    "d46_ivf_rerank"    -> llm.Pq.oracleAnnIvfRerank,
    "t21_mmr_diverse"   -> llm.Retrieval.oracleMmrTopK,
    "d47_dedup_report"  -> llm.Dedup.oracleDedupReport,
    "m15_xformat_dedup" -> llm.Multimodal.oracleCrossFormatDedup,
    "d48_cluster_agreement" -> llm.Dedup.oracleClusterAgreement,
    "d49_dsir_select"       -> llm.Sampling.oracleDsirSelect,
    "d50_ivf_probe_sweep"   -> llm.Similarity.oracleIvfProbeSweep,
    "s20_stream_asof"       -> ops.AsOfJoin.oraclePurchaseAsOfClick,
    "s21_stream_drift"      -> streaming.StreamDrift.oracleDriftReport,
    "q65_constraints"       -> ops.Warehouse.oracleConstraintSuite,
    "q66_cdc_apply"         -> ops.Warehouse.oracleCdcApply,
    "d51_threshold_sweep"   -> llm.Dedup.oracleThresholdSweep,
    "t22_contam_attrib"     -> llm.Curation.oracleContamAttribution,
    "m16_audio_neardup"     -> llm.Multimodal.oracleAudioNearDup,
    "m17_media_integrity"   -> llm.Multimodal.oracleMediaIntegrity,
    "d52_domain_cap"        -> llm.Sampling.oracleDomainCap,
    "s22_stream_router"     -> streaming.StreamRouter.oracleQualityRoute,
    "s23_stream_alert"      -> streaming.StreamAlert.oracleFailureAlert,
    "s24_stream_compact"    -> streaming.StreamCompact.oracleCompactedIngest,
    "m18_exif_meta"         -> llm.Multimodal.oracleExifMeta,
    "d54_modularity"        -> llm.Graph.oracleModularity,
    "t23_kn_smooth"         -> llm.LangModel.oracleKnFamiliarity,
    "t24_zipf_fit"          -> llm.TextStats.oracleZipfFit,
    "t25_langid_eval"       -> llm.TextStats.oracleLangIdEval,
    "d57_split_drift"       -> llm.Sampling.oracleSplitDrift,
    "d55_norm_dedup"        -> llm.Dedup.oracleNormDedup,
    "d56_hard_negatives"    -> llm.Similarity.oracleHardNegatives,
    "t26_blocklist"         -> llm.TextPrep.oracleBlocklistScrub,
    "s25_stream_vocab"      -> streaming.StreamVocab.oracleVocabIngest,
    "m19_lum_hist"          -> llm.ImageHist.oracleLumHistogram,
    "d58_cell_purity"       -> llm.Similarity.oracleCellPurity,
    "t27_heaps_fit"         -> llm.TextStats.oracleHeapsFit,
    "t28_bpe_fertility"     -> llm.Bpe.oracleFertility,
    "d59_softdedup_sample"  -> llm.Dedup.oracleSoftDedupSample,
    "d60_corpus_diff"       -> llm.Dedup.oracleCorpusDiff,
    "d61_xsplit_leakage"    -> llm.Similarity.oracleXsplitLeakage,
    "t29_unigram_entropy"   -> llm.TextStats.oracleUnigramEntropy,
    "t30_mojibake"          -> llm.TextPrep.oracleMojibakeScan,
    "m20_audio_clipping"    -> llm.Multimodal.oracleAudioClipping,
    "m21_lum_entropy"       -> llm.ImageHist.oracleLumStats,
    "s26_stream_leakage"    -> streaming.StreamLeak.oracleLeakAlerts,
    "t31_pmi_bigrams"       -> llm.TextStats.oraclePmiBigrams,
    "t32_burstiness"        -> llm.TextStats.oracleBurstiness,
    "d62_scaling_ladder"    -> llm.Sampling.oracleScalingLadder,
    "t33_train_coverage"    -> llm.TextStats.oracleTrainCoverage,
    "d63_centroid_drift"    -> llm.Similarity.oracleCentroidDrift,
    "t34_textrank"          -> llm.TextRank.oracleKeywords,
    "t35_simpson_diversity" -> llm.TextStats.oracleSimpsonDiversity,
    "d64_knn_reciprocity"   -> llm.Similarity.oracleKnnReciprocity,
    "d65_label_anisotropy"  -> llm.Similarity.oracleLabelAnisotropy,
    "m22_sharpness"         -> llm.ImageHist.oracleGradientStats,
    "s27_stream_budget"     -> streaming.StreamBudget.oracleBudgetIngest,
    "d66_conductance"       -> llm.Graph.oracleConductance,
    "t36_char_entropy"      -> llm.TextStats.oracleCharEntropy,
    "m23_frame_energy"      -> llm.Multimodal.oracleFrameEnergy,
    "d67_label_outliers"    -> llm.Similarity.oracleLabelOutliers,
    "d68_lexical_drift"     -> llm.Sampling.oracleLexicalDrift,
    "t37_lang_mismatch"     -> llm.TextStats.oracleLangMismatch,
    "d69_budget_select"     -> llm.Sampling.oracleBudgetSelect,
    "t38_source_overlap"    -> llm.TextStats.oracleSourceOverlap,
    "d70_cell_balance"      -> llm.Similarity.oracleCellBalance,
    "d53_link_predict"      -> llm.Graph.oracleLinkPredict,
    "s19_stream_sketch"     -> streaming.StreamSketch.oracleCmsIngest,
    "d37_allpairs_join" -> llm.Dedup.oracleAllPairsJoin,
    "d38_triangles"     -> llm.Graph.oracleTriangles,
    "d39_kcore"         -> llm.Graph.oracleKCore,
    "m12_ulaw_decode"   -> llm.Multimodal.oracleUlawStats,
    "m13_alaw_decode"   -> llm.Multimodal.oracleAlawStats,
    "q58_aqe_skew_join" -> ops.Skew.oracleAqeSkewJoin,
    "s12_stream_ingest" -> streaming.StreamIngest.oracleBloomIngest,
    "s13_stream_cluster" -> streaming.StreamCluster.oracleClusterMaintain,
    "s14_stream_sessions" -> streaming.Sessionize.oracleStreamSessions,
    "s15_stream_vec_ingest" -> streaming.StreamVecIngest.oracleIvfIngest,
    "s16_stream_decontam" -> streaming.StreamDecontam.oracleDecontamIngest,
    "s17_backfill"      -> streaming.DailyIngest.oracleBackfillRange,
    "m14_silence_spans" -> llm.Multimodal.oracleSilenceSpans,
    "q59_bucketed_agg"  -> ops.Staging.oracleBucketedAgg,
    "q60_mad_outliers"  -> ops.CoreOps.oracleMadOutliers,
    "q61_observe"       -> ops.CoreOps.oracleObserveMetrics,
    "m06_image_neardup" -> llm.Multimodal.oracleImageNearDup,
    "m07_audio_resample" -> llm.Multimodal.oracleAudioResample,
    "m08_media_sniff"    -> llm.Multimodal.oracleMediaSniff,
    "m09_scene_change"   -> llm.Multimodal.oracleSceneChanges,
    "m10_jpeg_decode"    -> llm.Multimodal.oracleJpegDecode,
    "m11_mjpeg_frames"   -> llm.Multimodal.oracleMjpegFrames,

    "t10_repetition" -> llm.TextStats.oracleRepetition,
    "t11_bpe_tokens" -> llm.Bpe.oracleBpeTokens,
    "t12_bigram_lm"  -> llm.LangModel.oracleBigramFamiliarity,
    "t13_novelty"    -> llm.TextStats.oracleNovelty,
    "t15_quality_logit" -> llm.TextStats.oracleQualityLogit,

    "s02_sessionize" -> streaming.Sessionize.oracleSessions,
    "s03_sliding"    -> streaming.DailyIngest.oracleSlidingDaily,
    "s04_stream_sink" -> streaming.DailyIngest.oracleStreamAppendSink,
    "s05_stream_state" -> streaming.StatefulCumulative.oracleCumulativeWeekly,
    "s06_stream_join"  -> streaming.StreamJoin.oraclePurchaseClickJoin,
    "s07_stream_tws"   -> streaming.StateV2.oracleRunningWeekly,
    "s08_stream_left_join" -> streaming.StreamJoin.oraclePurchaseClickLeftJoin,
    "s09_stream_static"    -> streaming.StreamJoin.oracleStreamStaticEnrich,
    "s10_stream_dedup"     -> streaming.StreamDedup.oracleDedupedDailyCounts,
    "s11_stream_upsert"    -> streaming.StreamUpsert.oracleDailyUpsert,
    "q24_csv_stage"  -> ops.Staging.oracleCsvStage,
    "q25_catalog"    -> ops.Staging.oracleCatalog,
    "q26_bucketed_join" -> ops.Staging.oracleBucketedJoin,
    "q27_salted_join"   -> ops.Skew.oracleSaltedFlagRevenue,
    "q28_asof_join"     -> ops.AsOfJoin.oraclePurchaseAsOfClick,
    "q29_histogram"     -> ops.CoreOps.oracleHistogram,
    "q30_quantiles"     -> ops.CoreOps.oracleQuantiles,
    "q31_partition_pruned" -> ops.Staging.oraclePartitionPruned,
    "q32_funnel"        -> ops.Behavior.oracleFunnel,
    "q33_retention"     -> ops.Behavior.oracleRetention,

    // s01: append-mode daily stream — the oracle is the batch daily
    // mean over watermark-CLOSED windows only (the Kappa equivalence
    // minus the still-open tail an append drain must withhold).
    "s01_stream_daily" -> streaming.DailyIngest.oracleStreamDaily,
  )
}
