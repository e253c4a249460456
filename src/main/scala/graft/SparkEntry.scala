package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{CorpusQueries, DatalakeQueries, EventQueries, GraphQueries, JourneyQueries, LayoutQueries, Relational, SimilarityQueries, StreamQueries, TextQueries}

/** One registry row: how to compute its frame, and the DuckDB SQL that
  * checks it. */
sealed trait QueryDef {
  /** The row's oracle SQL and its frame from one model value. A fixed
    * row's SQL is known up front; a trained row fetches its model once,
    * renders the oracle from it and computes the frame with it. The frame
    * is a thunk, so the oracle is known even when the frame throws.
    */
  def run(spark: SparkSession, dir: String): QueryDef.Run
}

object QueryDef {
  final case class Run(oracleSql: String, frame: () => DataFrame)

  /** A row whose oracle does not depend on a trained model. */
  final case class Fixed(query: (SparkSession, String) => DataFrame,
      oracleSql: String) extends QueryDef {
    def run(spark: SparkSession, dir: String): Run =
      Run(oracleSql, () => query(spark, dir))
  }

  /** A row over a trained model: `model` trains it or fetches it from its
    * per-dir memo, and that one value goes to both `query` and `oracle`.
    */
  final case class Trained[M](model: (SparkSession, String) => M,
      query: (SparkSession, String, M) => DataFrame,
      oracle: M => String) extends QueryDef {
    /** The row's frame alone; renders no oracle SQL. */
    def frame(spark: SparkSession, dir: String): DataFrame =
      query(spark, dir, model(spark, dir))
    def run(spark: SparkSession, dir: String): Run = {
      val m = model(spark, dir)
      Run(oracle(m), () => query(spark, dir, m))
    }
  }

  /** [[Trained]] with one argument list per part, so `M` is inferred from
    * `model` before the query and oracle lambdas are typed. */
  def trained[M](model: (SparkSession, String) => M)(
      query: (SparkSession, String, M) => DataFrame)(
      oracle: M => String): Trained[M] = Trained(model, query, oracle)
}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's market_analysis (compute_usage.py) re-expressed.
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.qMarketStats(spark, "/root/testdata/sf0.001")

  /** Every registry row's frame. Renders no oracle SQL: the benchmark
    * and Bench call it on their timed paths. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    fixedQueries ++ trainedQueries.map { case (k, t) => k -> (t.frame _) }

  /** Every registry row with its DuckDB oracle — what Verify dumps. */
  def defs: Map[String, QueryDef] = {
    val sql = fixedOracleSql
    fixedQueries.map[String, QueryDef] { case (k, f) =>
      k -> QueryDef.Fixed(f, sql(k)) } ++ trainedQueries
  }

  /** The rows whose oracle is fixed SQL, one per implemented operator
    * from SURVEY.md §2; the rows over a trained model are
    * [[trainedQueries]]. */
  private def fixedQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> (Relational.q1PricingSummary _),
    "q_market_stats" -> (Relational.qMarketStats _),
    "q_opportunities" -> (Relational.qOpportunities _),
    "q_validated_filter" -> (Relational.qValidatedFilter _),
    "q_quarantine" -> (Relational.qQuarantine _),
    "q_clean_cast" -> (Relational.qCleanCast _),
    "q_datalake_pipeline" -> (DatalakeQueries.qDatalakePipeline _),
    "q_datalake_dual" -> (DatalakeQueries.qDatalakeDual _),
    "q_dedup_keeplast" -> (Relational.qDedupKeepLast _),
    "q_doc_export" -> (Relational.qDocExport _),
    "q_doc_export_geo" -> (Relational.qDocExportGeo _),
    "q_nested_join" -> (Relational.qNestedJoin _),
    "q_regression" -> (Relational.qRegression _),
    "q_regression_eval" -> (Relational.qRegressionEval _),
    "q_outlier_zscore" -> (Relational.qOutlierZscore _),
    "q3_top_orders" -> (Relational.q3TopOrders _),
    "q5_region_revenue" -> (Relational.q5RegionRevenue _),
    "q_top_spenders" -> (Relational.qTopSpenders _),
    "q_feature_extract" -> (Relational.qFeatureExtract _),
    "q_rollup_revenue" -> (Relational.qRollupRevenue _),
    "q_cube_orders" -> (Relational.qCubeOrders _),
    "q_anti_customers" -> (Relational.qAntiCustomers _),
    "q_table_profile" -> (Relational.qTableProfile _),
    "q_correlated_min" -> (Relational.qCorrelatedMin _),
    "q_pivot_revenue" -> (Relational.qPivotRevenue _),
    "q_unpivot_features" -> (Relational.qUnpivotFeatures _),
    "q_approx_profile" -> (Relational.qApproxProfile _),
    "q_lang_id" -> (TextQueries.qLangId _),
    "q_quality_score" -> (TextQueries.qQualityScore _),
    "q_token_count" -> (TextQueries.qTokenCount _),
    "q_tfidf_keywords" -> (TextQueries.qTfidfKeywords _),
    "q_fingerprint" -> (TextQueries.qFingerprint _),
    "q_dedup_exact" -> (TextQueries.qDedupExact _),
    "q_multimodal_features" -> (TextQueries.qMultimodalFeatures _),
    "q_multimodal_frames" -> (TextQueries.qMultimodalFrames _),
    "q_pack_sequences" -> (TextQueries.qPackSequences _),
    "q_corpus_funnel" -> (TextQueries.qCorpusFunnel _),
    "q_sessionize" -> (EventQueries.qSessionize _),
    "q_window_tumbling" -> (EventQueries.qWindowTumbling _),
    "q_incremental_watermark" -> (EventQueries.qIncrementalWatermark _),
    "q_asof_attribution" -> (EventQueries.qAsofAttribution _),
    "q_asof_tolerance" -> (EventQueries.qAsofTolerance _),
    "q_pit_join" -> (EventQueries.qPitJoin _),
    "q_range_join" -> (EventQueries.qRangeJoin _),
    "q_attribution_linear" -> (EventQueries.qAttributionLinear _),
    "q_top_paths" -> (JourneyQueries.qTopPaths _),
    "q_salted_join" -> (EventQueries.qSaltedJoin _),
    "q_skew_evidence" -> (EventQueries.qSkewEvidence _),
    "q_window_sliding" -> (EventQueries.qWindowSliding _),
    "q_drift_ks" -> (EventQueries.qDriftKs _),
    "q_lead_lag" -> (EventQueries.qLeadLag _),
    "q_rolling_features" -> (EventQueries.qRollingFeatures _),
    "q_skew_profile" -> (EventQueries.qSkewProfile _),
    "q_funnel_steps" -> (JourneyQueries.qFunnelSteps _),
    "q_retention_cohort" -> (JourneyQueries.qRetentionCohort _),
    "q_gap_fill" -> (JourneyQueries.qGapFill _),
    "q_json_props" -> (JourneyQueries.qJsonProps _),
    "q_sample_weighted" -> (CorpusQueries.qSampleWeighted _),
    "q_knn_cosine" -> (SimilarityQueries.qKnnCosine _),
    "q_embed_neardup" -> (SimilarityQueries.qEmbedNearDup _),
    "q_ann_lsh" -> (SimilarityQueries.qAnnLsh _),
    "q_dedup_clusters" -> (SimilarityQueries.qDedupClusters _),
    "q_dedup_keep_best" -> (SimilarityQueries.qDedupKeepBest _),
    "q_dedup_clusters_incremental" -> (SimilarityQueries.qDedupClustersIncremental _),
    "q_minhash_neardup" -> (SimilarityQueries.qMinhashNearDup _),
    "q_dedup_incremental" -> (SimilarityQueries.qDedupIncremental _),
    "q_simhash" -> (SimilarityQueries.qSimhash _),
    "q_winnow_neardup" -> (SimilarityQueries.qWinnowNearDup _),
    "q_ngram_jaccard" -> (SimilarityQueries.qNgramJaccard _),
    "q_substring_dedup" -> (SimilarityQueries.qSubstringDedup _),
    "q_decontaminate" -> (CorpusQueries.qDecontaminate _),
    "q_sample_stratified" -> (CorpusQueries.qSampleStratified _),
    "q_source_mix" -> (CorpusQueries.qSourceMix _),
    "q_chunk_windows" -> (CorpusQueries.qChunkWindows _),
    "q_pii_scrub" -> (CorpusQueries.qPiiScrub _),
    "q_repetition_filter" -> (CorpusQueries.qRepetitionFilter _),
    "q_corpus_pipeline" -> (CorpusQueries.qCorpusPipeline _),
    "q_shard_shuffle" -> (CorpusQueries.qShardShuffle _),
    "q_zorder_layout" -> (LayoutQueries.qZorderLayout _),
    "q_zorder_skipping" -> (LayoutQueries.qZorderSkipping _),
    "q_bm25_search" -> (TextQueries.qBm25Search _),
    "q_lm_score" -> (TextQueries.qLmScore _),
    "q_pagerank" -> (GraphQueries.qPagerank _),
    "q_curriculum" -> (CorpusQueries.qCurriculum _),
    "q_heavy_hitters" -> (TextQueries.qHeavyHitters _),
    "q_nb_classifier" -> (TextQueries.qNbClassifier _),
    "q_triangle_count" -> (GraphQueries.qTriangleCount _),
    "q_skyline_parts" -> (Relational.qSkylineParts _),
    "q_scd2_history" -> (EventQueries.qScd2History _),
    "q_hll_distinct" -> (Relational.qHllDistinct _),
    "q_hll_union" -> (Relational.qHllUnion _),
    "q_hist_quantiles" -> (Relational.qHistQuantiles _),
    "q_exact_quantiles" -> (Relational.qExactQuantiles _),
    "q_bloom_prune" -> (Relational.qBloomPrune _),
    "q_sample_reservoir" -> (CorpusQueries.qSampleReservoir _),
    "q_rolling_time" -> (EventQueries.qRollingTime _),
    "q_quality_report" -> (Relational.qQualityReport _),
    "q_concurrency" -> (EventQueries.qConcurrency _),
    "q_mv_incremental" -> (DatalakeQueries.qMvIncremental _),
    "q_bfs_distance" -> (GraphQueries.qBfsDistance _),
    "q_setjoin_prefix" -> (SimilarityQueries.qSetjoinPrefix _),
    "q_fuzzy_join" -> (SimilarityQueries.qFuzzyJoin _),
    "q_table_diff" -> (DatalakeQueries.qTableDiff _),
    "q_merge_upsert" -> (DatalakeQueries.qMergeUpsert _),
    "q_merge_delete" -> (DatalakeQueries.qMergeDelete _),
    "q_change_feed" -> (DatalakeQueries.qChangeFeed _),
    "q_markov_transitions" -> (JourneyQueries.qMarkovTransitions _),
    "q_pmi_collocations" -> (TextQueries.qPmiCollocations _),
    "q_cooccurrence" -> (Relational.qCooccurrence _),
    "q_source_entropy" -> (TextQueries.qSourceEntropy _),
    "q_time_travel" -> (DatalakeQueries.qTimeTravel _),
    "q_time_travel_ts" -> (DatalakeQueries.qTimeTravelTs _),
    "q_commit_checkpoint" -> (DatalakeQueries.qCommitCheckpoint _),
    "q_merge_evolve" -> (DatalakeQueries.qMergeEvolve _),
    "q_pipeline_retry" -> (DatalakeQueries.qPipelineRetry _),
    "q_vacuum" -> (DatalakeQueries.qVacuum _),
    "q_deletion_vectors" -> (DatalakeQueries.qDeletionVectors _),
    "q_partition_overwrite" -> (DatalakeQueries.qPartitionOverwrite _),
    "q_compact_small" -> (DatalakeQueries.qCompactSmall _),
    "q_gdpr_erase" -> (DatalakeQueries.qGdprErase _),
    "q_multi_table_txn" -> (DatalakeQueries.qMultiTableTxn _),
    "q_video_frames" -> (TextQueries.qVideoFrames _),
    "q_stream_retention" -> (StreamQueries.qStreamRetention _),
    "q_stream_recovery" -> (StreamQueries.qStreamRecovery _),
    "q_stream_scd2" -> (StreamQueries.qStreamScd2 _),
    "q_stream_markov" -> (StreamQueries.qStreamMarkov _),
    "q_stream_funnel" -> (StreamQueries.qStreamFunnel _),
    "q_stream_gapfill" -> (StreamQueries.qStreamGapfill _),
    "q_stream_sessionize" -> (StreamQueries.qStreamSessionize _),
    "q_stream_window" -> (StreamQueries.qStreamWindow _),
    "q_stream_attribution" -> (StreamQueries.qStreamAttribution _),
    "q_stream_heavy_hitters" -> (StreamQueries.qStreamHeavyHitters _),
    "q_stream_quarantine" -> (StreamQueries.qStreamQuarantine _),
    "q_stream_merge" -> (StreamQueries.qStreamMerge _),
    "q_stream_dedup_incremental" -> (StreamQueries.qStreamDedupIncremental _),
    "q_stream_datalake" -> (StreamQueries.qStreamDatalake _),
    "q_stream_clusters" -> (StreamQueries.qStreamClusters _),
    "q_bucketed_join" -> (LayoutQueries.qBucketedJoin _),
    "q_orc_roundtrip" -> (LayoutQueries.qOrcRoundtrip _),
    "q_avro_roundtrip" -> (LayoutQueries.qAvroRoundtrip _),
    "q_export_schema" -> (Relational.qExportSchema _),
    "q_audio_features" -> (TextQueries.qAudioFeatures _),
    "q_image_thumbnail" -> (TextQueries.qImageThumbnail _),
    "q_source_quota" -> (CorpusQueries.qSourceQuota _),
    "q_token_budget" -> (CorpusQueries.qTokenBudget _),
    "q_source_temperature" -> (CorpusQueries.qSourceTemperature _),
    "q_quantize_roundtrip" -> (SimilarityQueries.qQuantizeRoundtrip _),
    "q_manifest_skipping" -> (LayoutQueries.qManifestSkipping _),
    "q_optimize_zorder" -> (LayoutQueries.qOptimizeZorder _),
    "q_optimize_hilbert" -> (LayoutQueries.qOptimizeHilbert _),
    "q_optimize" -> (DatalakeQueries.qOptimize _),
    "q_stream_publish" -> (StreamQueries.qStreamPublish _),
    "q_stream_change_feed" -> (StreamQueries.qStreamChangeFeed _),
    "q_stream_cdc_delete" -> (StreamQueries.qStreamCdcDelete _),
    "q_table_replicate" -> (StreamQueries.qTableReplicate _),
    "q_hybrid_search" -> (TextQueries.qHybridSearch _),
    "q_index_serve" -> (TextQueries.qIndexServe _),
    "q_outlier_mad" -> (Relational.qOutlierMad _),
    "q_entity_resolution" -> (SimilarityQueries.qEntityResolution _),
    "q_assoc_rules" -> (Relational.qAssocRules _),
    "q_containment" -> (SimilarityQueries.qContainment _),
    "q_drift_psi" -> (EventQueries.qDriftPsi _),
    "q_stream_outer_join" -> (StreamQueries.qStreamOuterJoin _),
    "q_shallow_clone" -> (DatalakeQueries.qShallowClone _),
    "q_stream_drift" -> (StreamQueries.qStreamDrift _),
    "q_stream_hll" -> (StreamQueries.qStreamHll _),
    "q_stream_drift_windows" -> (StreamQueries.qStreamDriftWindows _),
    "q_stream_session_window" -> (StreamQueries.qStreamSessionWindow _),
    "q_stream_dedup_ttl" -> (StreamQueries.qStreamDedupTtl _),
    "q_image_phash" -> (TextQueries.qImagePhash _),
    "q_concurrent_publish" -> (DatalakeQueries.qConcurrentPublish _),
    "q_concurrent_delete" -> (DatalakeQueries.qConcurrentDelete _),
    "q_merge_publish" -> (DatalakeQueries.qMergePublish _),
    "q_merge_concurrent" -> (DatalakeQueries.qMergeConcurrent _),
    "q_vacuum_commits" -> (DatalakeQueries.qVacuumCommits _),
    "q_compact_partitioned" -> (DatalakeQueries.qCompactPartitioned _),
    "q_entity_resolution_incremental" ->
      (SimilarityQueries.qEntityResolutionIncremental _),
    "q_grouping_sets" -> (Relational.qGroupingSets _),
    "q_ntile_spend" -> (Relational.qNtileSpend _),
    "q_k_anonymity" -> ((s, d) => Relational.qKAnonymity(s, d)),
    "q_mutual_info" -> (Relational.qMutualInfo _),
    "q_train_split" -> (CorpusQueries.qTrainSplit _),
    "q_dp_counts" -> (Relational.qDpCounts _),
    "q_bitemporal" -> (DatalakeQueries.qBitemporal _),
    "q_period_over_period" -> (Relational.qPeriodOverPeriod _),
    "q_attribution_decay" -> (EventQueries.qAttributionDecay _),
    "q_target_encode" -> (Relational.qTargetEncode _),
    "q_ewma_anomaly" -> (EventQueries.qEwmaAnomaly _),
    "q_mv_join_incremental" -> (DatalakeQueries.qMvJoinIncremental _),
    "q_partition_evolution" -> (DatalakeQueries.qPartitionEvolution _),
    "q_kmv_overlap" -> (CorpusQueries.qKmvOverlap _),
    "q_evolve_compact" -> (DatalakeQueries.qEvolveCompact _),
    "q_l_diversity" -> ((s, d) => Relational.qLDiversity(s, d)),
    "q_cusum_shift" -> (EventQueries.qCusumShift _),
    "q_interval_merge" -> (EventQueries.qIntervalMerge _),
    "q_largest_remainder" -> (CorpusQueries.qLargestRemainder _),
    "q_geo_grid_join" -> (Relational.qGeoGridJoin _),
    "q_pseudonymize" -> (Relational.qPseudonymize _),
    "q_forecast_backtest" -> (EventQueries.qForecastBacktest _),
    "q_schema_drift" -> (DatalakeQueries.qSchemaDrift _),
    "q_geohash" -> (Relational.qGeohash _),
    "q_stream_cusum" -> (StreamQueries.qStreamCusum _),
    "q_bom_rollup" -> (GraphQueries.qBomRollup _),
    "q_rfm_segmentation" -> (Relational.qRfmSegmentation _),
    "q_benford_audit" -> (Relational.qBenfordAudit _),
    "q_evolve_vacuum" -> (DatalakeQueries.qEvolveVacuum _),
    "q_geo_radius" -> (Relational.qGeoRadius _),
    "q_ab_cuped" -> (Relational.qAbCuped _),
    "q_bootstrap_ci" -> (Relational.qBootstrapCi _),
    "q_cohort_ltv" -> (Relational.qCohortLtv _),
    "q_kcore" -> ((s, d) => GraphQueries.qKcore(s, d)),
    "q_evolve_delete" -> (DatalakeQueries.qEvolveDelete _),
  )

  /** The LSH oracle is GENERATED: the seeded hyperplanes (the exact arrays
    * the Spark query uses — same `Similarity.hyperplanes(64, 4, 4)` call)
    * are inlined as DOUBLE list literals, so DuckDB reproduces the
    * signatures bit-for-bit: each sign bit is a double-accumulated dot of
    * the same float values in the same order on both engines, and the
    * verification filter computes cosine on the DOUBLE[] embedding (the
    * FLOAT[] overload computes in float, ~1e-7 off the Spark kernel's
    * double accumulation — near-tau pairs would diverge).
    */
  /** Generated Benford oracle: the log10(1+1/d) expectations come from
    * the SAME grid-snapped Scala constants the query inlines — zero
    * transcendentals in either engine, single source of truth.
    */
  private def benfordOracle: String = {
    val cases = graft.queries.Relational.BenfordFreqs
      .map { case (d, f) => s"WHEN d = '$d' THEN CAST($f AS DOUBLE)" }
      .mkString(" ")
    s"""WITH c AS (SELECT
       |    substr(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR),
       |      1, 1) AS d,
       |    COUNT(*) AS n
       |  FROM orders WHERE o_totalprice >= 1.0 GROUP BY 1),
       |t AS (SELECT d, n,
       |    CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS obs_freq,
       |    CASE $cases END AS benford_freq FROM c)
       |SELECT d, n, obs_freq, benford_freq,
       |  floor(abs(obs_freq - benford_freq) * CAST(65536 AS DOUBLE))
       |    / CAST(65536 AS DOUBLE) AS abs_dev
       |FROM t ORDER BY d""".stripMargin
  }

  /** Generated geohash oracle: the 30-term lon/lat bit interleave and
    * base32 character extraction regenerated as SQL from the SAME
    * constants the Spark builder uses (graft.functions.geo) — single
    * source of truth, every character must agree.
    */
  private def geohashOracle: String = {
    val alpha = graft.functions.geo.GeohashAlphabet
    val terms = (0 until 15).flatMap { j =>
      Seq(
        s"((ix // ${1L << (14 - j)}) % 2) * ${1L << (29 - 2 * j)}",
        s"((iy // ${1L << (14 - j)}) % 2) * ${1L << (28 - 2 * j)}")
    }.mkString(" + ")
    val chars = (0 until 6).map { i =>
      s"substr('$alpha', CAST((bits // ${1L << (25 - 5 * i)}) % 32 AS INT) + 1, 1)"
    }.mkString(" || ")
    s"""WITH c AS (SELECT c_custkey,
       |    CAST(48 AS DOUBLE) + CAST(c_custkey * 2654435761 % 1000
       |      AS DOUBLE) / CAST(1000 AS DOUBLE) AS lat,
       |    CAST(2 AS DOUBLE) + CAST(c_custkey * 1099087573 % 1000
       |      AS DOUBLE) / CAST(1000 AS DOUBLE) AS lon
       |  FROM customer),
       |q0 AS (SELECT c_custkey, lat, lon,
       |    CAST(FLOOR((lon + CAST(180 AS DOUBLE)) / CAST(360 AS DOUBLE)
       |      * CAST(32768 AS DOUBLE)) AS BIGINT) AS ix0,
       |    CAST(FLOOR((lat + CAST(90 AS DOUBLE)) / CAST(180 AS DOUBLE)
       |      * CAST(32768 AS DOUBLE)) AS BIGINT) AS iy0
       |  FROM c),
       |q AS (SELECT c_custkey, lat, lon,
       |    CASE WHEN ix0 > 32767 THEN 32767 ELSE ix0 END AS ix,
       |    CASE WHEN iy0 > 32767 THEN 32767 ELSE iy0 END AS iy
       |  FROM q0),
       |m AS (SELECT c_custkey, lat, lon, $terms AS bits FROM q),
       |g AS (SELECT c_custkey, lat, lon, $chars AS geohash FROM m)
       |SELECT c_custkey, lat, lon, geohash,
       |  substr(geohash, 1, 4) AS prefix4,
       |  COUNT(*) OVER (PARTITION BY substr(geohash, 1, 4))
       |    AS n_in_prefix4
       |FROM g ORDER BY c_custkey""".stripMargin
  }

  /** Generated geohash-radius oracle: the precision-5 re-encode (13+12
    * bit interleave, base32) regenerated as SQL from the SAME constants
    * graft.functions.geo.geohash5FromCell uses; ring candidates via the
    * |Δcell| ≤ 1 predicate (provably the string-join's admit set —
    * the encode is injective over valid cells), and n_within re-proved
    * COMPLETE by a brute-force all-pairs count (the q_geo_grid_join
    * discipline).
    */
  private def geoRadiusOracle: String = {
    val alpha = graft.functions.geo.GeohashAlphabet
    val terms = ((0 until 13).map { j =>
      s"((cx // ${1L << (12 - j)}) % 2) * ${1L << (24 - 2 * j)}"
    } ++ (0 until 12).map { j =>
      s"((cy // ${1L << (11 - j)}) % 2) * ${1L << (23 - 2 * j)}"
    }).mkString(" + ")
    val chars = (0 until 5).map { i =>
      s"substr('$alpha', CAST((bits // ${1L << (20 - 5 * i)}) % 32 AS INT) + 1, 1)"
    }.mkString(" || ")
    def pointCtes(tag: String, table: String, key: String): String =
      s"""$tag AS (SELECT $key,
         |    CAST(48 AS DOUBLE) + CAST($key * 2654435761 % 1000
         |      AS DOUBLE) / CAST(1000 AS DOUBLE) AS ${tag}_lat,
         |    CAST(2 AS DOUBLE) + CAST($key * 1099087573 % 1000
         |      AS DOUBLE) / CAST(1000 AS DOUBLE) AS ${tag}_lon
         |  FROM $table),
         |${tag}q0 AS (SELECT *,
         |    CAST(FLOOR((${tag}_lon + CAST(180 AS DOUBLE))
         |      / CAST(360 AS DOUBLE) * CAST(32768 AS DOUBLE)) AS BIGINT)
         |      AS ix0,
         |    CAST(FLOOR((${tag}_lat + CAST(90 AS DOUBLE))
         |      / CAST(180 AS DOUBLE) * CAST(32768 AS DOUBLE)) AS BIGINT)
         |      AS iy0
         |  FROM $tag),
         |${tag}c AS (SELECT $key, ${tag}_lat, ${tag}_lon,
         |    (CASE WHEN ix0 > 32767 THEN 32767 ELSE ix0 END) // 4 AS cx,
         |    (CASE WHEN iy0 > 32767 THEN 32767 ELSE iy0 END) // 8 AS cy
         |  FROM ${tag}q0)""".stripMargin
    s"""WITH ${pointCtes("c", "customer", "c_custkey")},
       |${pointCtes("s", "supplier", "s_suppkey")},
       |sb AS (SELECT s_suppkey, s_lat, s_lon, cx, cy, $terms AS bits
       |  FROM sc),
       |sg AS (SELECT s_suppkey, s_lat, s_lon, cx, cy, $chars AS gh5
       |  FROM sb),
       |cand AS (SELECT s_suppkey, gh5, c_custkey,
       |    (s_lat - c_lat) * (s_lat - c_lat)
       |      + (s_lon - c_lon) * (s_lon - c_lon) AS d2
       |  FROM sg JOIN cc ON abs(sg.cx - cc.cx) <= 1
       |    AND abs(sg.cy - cc.cy) <= 1),
       |win AS (SELECT s.s_suppkey, COUNT(*) AS n_within
       |  FROM s CROSS JOIN c
       |  WHERE (s_lat - c_lat) * (s_lat - c_lat)
       |      + (s_lon - c_lon) * (s_lon - c_lon)
       |    < CAST(0.0004 AS DOUBLE)
       |  GROUP BY 1),
       |r AS (SELECT *, row_number() OVER (PARTITION BY s_suppkey
       |    ORDER BY d2, c_custkey) AS rk FROM cand)
       |SELECT r.s_suppkey, MAX(r.gh5) AS gh5, COUNT(*) AS n_candidates,
       |  CAST(COALESCE(MAX(win.n_within), 0) AS BIGINT) AS n_within,
       |  MAX(CASE WHEN rk = 1 THEN c_custkey END) AS nearest_custkey,
       |  MAX(CASE WHEN rk = 1 THEN d2 END) AS nearest_d2
       |FROM r LEFT JOIN win ON r.s_suppkey = win.s_suppkey
       |GROUP BY 1 ORDER BY r.s_suppkey""".stripMargin
  }

  /** Generated k-core oracle: the shared co-purchase edge CTEs, then a
    * FIXED unrolled peel of R = 16 rounds (degree → ≥k filter → edge
    * prune per round) — R matches the engine loop's 16-round hard cap
    * in [[graft.queries.GraphQueries.qKcore]] and the two must move
    * together. The engine loop stops at its fixpoint; peeling a
    * converged core is the identity, so the fixed unroll and the
    * early-stopping loop agree by construction (and the engine fails
    * loudly if 16 rounds ever stop sufficing).
    */
  private def kcoreOracle: String = {
    val k = 2
    val R = 16
    // MATERIALIZED is load-bearing: each round references its
    // predecessor three times, and default CTE inlining would expand
    // the unrolled chain into 3^R copies of the lineitem scan (observed
    // as a too-many-open-files explosion)
    val rounds = (1 to R).map { i =>
      s"""d$i AS MATERIALIZED (SELECT n, COUNT(*) AS d FROM
         |  (SELECT u AS n FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1})
         |  GROUP BY n),
         |e$i AS MATERIALIZED (SELECT u, v FROM e${i - 1}
         |  WHERE u IN (SELECT n FROM d$i WHERE d >= $k)
         |    AND v IN (SELECT n FROM d$i WHERE d >= $k))""".stripMargin
    }
    s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
       |    l_partkey AS p
       |  FROM lineitem),
       |e0 AS MATERIALIZED (SELECT u, v FROM (
       |    SELECT least(a.p, b.p) AS u, greatest(a.p, b.p) AS v,
       |      COUNT(*) AS w
       |    FROM li a JOIN li b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2)
       |  WHERE w >= 2),
       |${rounds.mkString(",\n")}
       |SELECT node, COUNT(*) AS core_deg FROM
       |  (SELECT u AS node FROM e$R UNION ALL SELECT v FROM e$R)
       |GROUP BY node ORDER BY node""".stripMargin
  }

  private def lshPairCtes: String = {
    // single source of truth with the Spark query — see LshParams scaladoc
    import graft.ops.Similarity.LshParams.{bands, bits, dim, tau}
    val planes = graft.ops.Similarity.hyperplanes(dim, bands, bits)
    def planeLit(p: Array[Float]): String =
      p.map(v => v.toDouble.toString).mkString("[", ", ", "]")
    val sigs = (0 until bands).map { b =>
      (0 until bits).map { i =>
        s"(CASE WHEN list_dot_product(embd, ${planeLit(planes(b * bits + i))}) >= 0 THEN ${1 << i} ELSE 0 END)"
      }.mkString("", " + ", s" AS sig_$b")
    }
    s"""e AS (SELECT vec_id AS id,
       |    CAST(embedding AS DOUBLE[]) AS embd FROM embeddings),
       |s AS (SELECT id, embd, ${sigs.mkString(",\n")} FROM e),
       |bk AS (SELECT id, embd, band,
       |    CASE band ${(0 until bands).map(b => s"WHEN $b THEN sig_$b").mkString(" ")} END AS sig
       |  FROM s CROSS JOIN (SELECT unnest(range($bands)) AS band)),
       |p AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM bk a JOIN bk b
       |    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
       |  WHERE list_cosine_similarity(a.embd, b.embd) >= $tau)""".stripMargin
  }

  private def lshOracle: String =
    s"""WITH $lshPairCtes
       |SELECT id_a, id_b FROM p ORDER BY id_a, id_b""".stripMargin

  /** ONE rendering of the md5-lane HLL estimator CTE chain over `events`
    * grouped by event_type (h → r → rr → regs → per → est → fin), shared
    * by q_hll_distinct and q_approx_profile so the estimator replay can't
    * drift between oracles. `fin` carries (g, `out` — the 2^-16-floored
    * estimate, est_kind).
    */
  private def hllFinCtes(out: String): String = {
    val rho = graft.ops.Sketches.rhoCaseSql("w")
    val a = graft.ops.Sketches.HllAlphaC
    s"""h AS (SELECT event_type AS g,
       |    CAST(md5_number_lower(CAST(user_id AS VARCHAR)) AS HUGEINT) AS h
       |  FROM events WHERE user_id IS NOT NULL),
       |r AS (SELECT g, CAST(h % 1024 AS BIGINT) AS bucket,
       |    h // 1024 AS w FROM h),
       |rr AS (SELECT g, bucket, $rho AS rho FROM r),
       |regs AS (SELECT g, bucket, MAX(rho) AS rho FROM rr GROUP BY g, bucket),
       |per AS (SELECT g,
       |    SUM(CAST(1::UBIGINT << (55 - rho) AS HUGEINT)) AS sumterm,
       |    COUNT(*) AS present
       |  FROM regs GROUP BY g),
       |est AS (SELECT g,
       |    sumterm + (1024 - present) * CAST(1::UBIGINT << 55 AS HUGEINT) AS num,
       |    1024 - present AS zeros
       |  FROM per),
       |fin AS (SELECT g,
       |    CASE WHEN ($a / CAST(num AS DOUBLE)) <= 2560.0 AND zeros > 0
       |      THEN floor(1024.0 * ln(1024.0 / CAST(zeros AS DOUBLE)) * 65536.0) / 65536.0
       |      ELSE floor(($a / CAST(num AS DOUBLE)) * 65536.0) / 65536.0 END
       |      AS $out,
       |    CASE WHEN ($a / CAST(num AS DOUBLE)) <= 2560.0 AND zeros > 0
       |      THEN 'linear' ELSE 'raw' END AS est_kind
       |  FROM est)""".stripMargin
  }

  /** ONE rendering of the histogram-quantile CTE chain over events.value
    * grouped by event_type (vb → hist → cum → hq), shared by
    * q_hist_quantiles and q_approx_profile. `hq` carries
    * (g, `p50 name`, `p95 name`, n). Width-1 buckets clamped to [0,1023],
    * nulls/non-finite dropped — pure arithmetic in both dialects.
    */
  private def histHqCtes(p50: String, p95: String): String =
    s"""vb AS (SELECT event_type AS g,
       |    greatest(0, least(1023, CAST(floor(value) AS BIGINT))) AS bucket
       |  FROM events WHERE value IS NOT NULL
       |    AND NOT isnan(value) AND NOT isinf(value)),
       |hist AS (SELECT g, bucket, COUNT(*) AS cnt FROM vb GROUP BY g, bucket),
       |cum AS (SELECT g, bucket, cnt,
       |    SUM(cnt) OVER (PARTITION BY g ORDER BY bucket
       |      ROWS UNBOUNDED PRECEDING) AS cum,
       |    SUM(cnt) OVER (PARTITION BY g) AS n
       |  FROM hist),
       |hq AS (SELECT g,
       |    CAST(MIN(CASE WHEN cum >= ceil(0.5 * n) THEN bucket END) AS DOUBLE)
       |      AS $p50,
       |    CAST(MIN(CASE WHEN cum >= ceil(0.95 * n) THEN bucket END) AS DOUBLE)
       |      AS $p95,
       |    MAX(n) AS n
       |  FROM cum GROUP BY g)""".stripMargin

  /** Connected components over the LSH pair graph: min reachable id via a
    * recursive transitive-closure CTE — exact, so it matches the converged
    * min-label propagation regardless of either engine's iteration order.
    */
  private def clustersOracle: String =
    s"""WITH RECURSIVE $lshPairCtes,
       |ed AS (SELECT id_a AS src, id_b AS dst FROM p
       |  UNION ALL SELECT id_b, id_a FROM p),
       |reach(id, r) AS (
       |  SELECT vec_id, vec_id FROM embeddings
       |  UNION
       |  SELECT reach.id, ed.dst FROM reach JOIN ed ON reach.r = ed.src)
       |SELECT id, CAST(MIN(r) AS BIGINT) AS component
       |FROM reach GROUP BY id ORDER BY id""".stripMargin

  /** The IVF oracle is GENERATED from the TRAINED model (the lshOracle
    * pattern, extended to data-dependent constants): float-mean Lloyd
    * training isn't bit-stable across engines, but the trained centroids
    * are just numbers — inlined as DOUBLE list literals, DuckDB replays
    * assignment (argmax cosine, ties to the LOWEST cell — `s > bestS` in
    * IvfKernels.argmaxCosine), probing (top-nProbe cells, ties to the
    * HIGHEST cell — reverse(sort_array) in ivfFlatKnnWith), and the
    * bounded-heap serve (score DESC, id ASC, self excluded) exactly.
    * Available only after qAnnIvf has run in this JVM — which Verify
    * guarantees (queries run before the oracle dump).
    */
  /** Shared centroid-assignment CTE block for every trained-centroid
    * oracle (IVF, SemDeDup): `e` (corpus with DOUBLE[] embd — FLOAT[]
    * `list_cosine_similarity` computes in float and deviates ~1e-7 from
    * the kernels' double accumulation; the DOUBLE[] overload bit-matches),
    * `cents` (the trained model as literals), `assigned` (argmax cell,
    * ties to the LOWEST cell — mirrors argmaxCosine's strict `>`). ONE
    * definition so the assignment rule cannot drift between oracles.
    */
  /** ONE definition of the md5-lane minhash signature + banding CTEs
    * (w → sh → hx → g → sig → bk over `documents`), shared by every
    * oracle that replays the sketch (q_minhash_neardup,
    * q_dedup_incremental) — the sketch parameters (3-gram shingles, k=32,
    * 8 bands × 4 rows) exist in exactly one SQL rendering, so an edit
    * cannot desync one oracle from the shared Spark kernel.
    */
  private val minhashSigCtes =
    """w AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
      |  FROM documents),
      |sh AS (SELECT doc_id,
      |    CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
      |      ELSE list_transform(generate_series(1, len(ws) - 2),
      |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END AS sg
      |  FROM w),
      |hx AS (SELECT doc_id,
      |    CAST(md5_number_lower(s) AS HUGEINT) AS h1,
      |    CAST(md5_number_upper(s) AS HUGEINT) AS h2
      |  FROM (SELECT doc_id, unnest(sg) AS s FROM sh)),
      |g AS (SELECT doc_id, j, min((h1 + j*h2) % 18446744073709551616) AS gj
      |  FROM hx CROSS JOIN (SELECT unnest(range(32)) AS j)
      |  GROUP BY doc_id, j),
      |sig AS (SELECT doc_id, list(gj ORDER BY j) AS sig FROM g GROUP BY doc_id),
      |bk AS (SELECT doc_id, sig, band, list_slice(sig, band*4 + 1, band*4 + 4) AS bslice
      |  FROM sig CROSS JOIN (SELECT unnest(range(8)) AS band))""".stripMargin

  /** The float corpus as the assignment CTE's `e` input. */
  private val floatCorpusCte =
    """e AS (SELECT vec_id AS id,
      |    CAST(embedding AS DOUBLE[]) AS embd FROM embeddings)""".stripMargin

  /** The int8-quantized-then-dequantized corpus as `e` — replays
    * VectorKernels.quantize/dequantize BIT-FOR-BIT: DuckDB FLOAT
    * arithmetic is true float32 (verified: FLOAT/FLOAT and FLOAT*FLOAT
    * match numpy float32 exactly), scale = list_max(|x|)/127f, dequantize
    * is code*scale in float — so `e` holds exactly the doubles the Spark
    * kernel scores. The rounding replay is floor(DOUBLE(x/scale) + 0.5):
    * JDK 7+ Math.round(float) is EXACT round-half-up (JDK-6430675), NOT
    * floor(f + 0.5f) — the float-domain add rounds up at values just
    * below k+0.5 (e.g. 0.49999997f + 0.5f == 1.0f while Math.round gives
    * 0); float→double widening and the double +0.5 are both exact for
    * |x/scale| ≤ 127, so the double-domain floor IS Math.round.
    */
  private val quantCorpusCtes =
    """eq AS (SELECT vec_id AS id, embedding AS embf FROM embeddings),
      |sc AS (SELECT id, embf,
      |    list_max(list_transform(embf, x -> abs(x))) / CAST(127 AS FLOAT) AS scale
      |  FROM eq),
      |dq AS (SELECT id, CASE WHEN scale > 0 THEN
      |      list_transform(embf, x ->
      |        CAST(CAST(floor(CAST(x/scale AS DOUBLE) + 0.5) AS INT) AS FLOAT) * scale)
      |    ELSE list_transform(embf, x -> CAST(0 AS FLOAT)) END AS deqf
      |  FROM sc),
      |e AS (SELECT id, CAST(deqf AS DOUBLE[]) AS embd FROM dq)""".stripMargin

  private def centroidAssignCtes(cents: Array[Array[Float]],
      corpusCtes: String = floatCorpusCte): String = {
    def centLit(c: Array[Float]): String =
      c.map(v => v.toDouble.toString).mkString("[", ", ", "]")
    val centRows = cents.zipWithIndex
      .map { case (c, i) => s"($i, CAST(${centLit(c)} AS DOUBLE[]))" }
      .mkString(",\n")
    // the CASE mirrors IvfKernels.argmaxCosine's zero-norm guard (cosine
    // against a zero vector is DEFINED as 0.0 there, where DuckDB's
    // list_cosine_similarity yields NaN — which sorts ABOVE all values in
    // DuckDB ORDER BY DESC and would desync assignment for a zero
    // embedding); the current generator never emits zero vectors, but the
    // oracle should not depend on that contract silently
    s"""$corpusCtes,
       |cents(cell, c) AS (VALUES
       |$centRows),
       |assigned AS (SELECT id, embd,
       |    (SELECT cell FROM cents
       |     ORDER BY (CASE WHEN list_dot_product(e.embd, e.embd) = 0
       |         OR list_dot_product(c, c) = 0 THEN 0.0
       |       ELSE list_cosine_similarity(e.embd, c) END) DESC, cell
       |     LIMIT 1) AS cell
       |  FROM e)""".stripMargin
  }

  /** ONE SQL rendering of the probe stage (top-nProbe cells per query,
    * ties to the HIGHEST cell — mirrors Similarity.probeCells'
    * reverse(sort_array)), shared by every IVF-family oracle so the
    * tie-break rule cannot drift between them. `q` and `cents` must be in
    * scope; `withQEmbd` keeps the query vector in the output for oracles
    * that score candidates directly against it.
    */
  private def probesCte(withQEmbd: Boolean): String = {
    import graft.queries.SimilarityQueries.IvfNProbe
    val cols = if (withQEmbd) "query_id, q_embd, cell" else "query_id, cell"
    s"""probes AS (SELECT $cols FROM (
       |    SELECT q.query_id, q.q_embd, cents.cell,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY list_cosine_similarity(q.q_embd, cents.c) DESC,
       |          cents.cell DESC) AS pr
       |    FROM q CROSS JOIN cents) WHERE pr <= $IvfNProbe)""".stripMargin
  }

  private def ivfOracleFrom(cents: Array[Array[Float]], corpusCtes: String,
      qCte: String): String = {
    import graft.queries.SimilarityQueries.IvfK
    s"""WITH ${centroidAssignCtes(cents, corpusCtes)},
       |$qCte,
       |${probesCte(withQEmbd = true)},
       |cand AS (SELECT p.query_id, a.id,
       |    CAST(row_number() OVER (PARTITION BY p.query_id
       |      ORDER BY list_cosine_similarity(p.q_embd, a.embd) DESC, a.id)
       |      AS BIGINT) AS rank
       |  FROM probes p JOIN assigned a ON a.cell = p.cell
       |  WHERE a.id <> p.query_id)
       |SELECT query_id, id AS neighbor_id, rank FROM cand WHERE rank <= $IvfK
       |ORDER BY query_id, rank""".stripMargin
  }

  /** PCA projection replay from the trained model: per component a sum of
    * per-dimension terms each floored onto the 2⁻²⁰ grid — multiples of
    * 2⁻²⁰ sum EXACTLY in any association, so the chain is portable even
    * though DuckDB reassociates long `+` chains (measured: a strict
    * left-assoc replay diverged ~100 ulps under cancellation). Mean and
    * axes inlined as shortest-round-trip double literals; the single
    * multiply-subtract inside each floor is one IEEE op sequence in both
    * engines.
    */
  private def pcaOracle(m: graft.ops.Pca.PcaModel): String = {
    val cols = m.comps.zipWithIndex.map { case (p, j) =>
      val terms = (0 until m.dim).map(i =>
        s"floor((embd[${i + 1}] - ${m.mean(i)}) * ${p(i)} * 1048576.0) / 1048576.0")
      s"0.0 + ${terms.mkString(" + ")} AS pc${j + 1}"
    }
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embd
       |  FROM embeddings)
       |SELECT vec_id,
       |  ${cols.mkString(",\n  ")}
       |FROM e ORDER BY vec_id""".stripMargin
  }

  private def ivfOracle(cents: Array[Array[Float]]): String =
    ivfOracleFrom(cents, floatCorpusCte,
      """q AS (SELECT id AS query_id, embd AS q_embd
        |  FROM e WHERE id < 10)""".stripMargin)

  /** Retrain-under-drift replay: the corpus is base ∪ the CONE-
    * CONTRACTED increment (0.05 + 0.3·x per component, ids offset —
    * both ops exactly-rounded float32 in both engines, literals kept
    * FLOAT-typed so DuckDB computes in float32), served from the
    * RETRAINED centroids; queries are the first ten drifted vectors.
    * The assignment-PSI gate fires deterministically on the contracted
    * distribution, so the drift_detected literal is part of the hash.
    */
  private def ivfRetrainOracle(cents: Array[Array[Float]]): String = {
    val off = graft.queries.SimilarityQueries.RetrainIdOffset
    val unionCte =
      s"""e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS embd
         |    FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + $off AS id,
         |    CAST(list_transform(embedding,
         |      x -> CAST(0.05 AS FLOAT) + CAST(0.3 AS FLOAT) * x)
         |      AS DOUBLE[]) AS embd
         |    FROM embeddings)""".stripMargin
    val qCte =
      s"""q AS (SELECT id AS query_id, embd AS q_embd
         |  FROM e WHERE id >= $off AND id < ${off + 10})""".stripMargin
    s"""SELECT query_id, neighbor_id, rank, TRUE AS drift_detected FROM (
       |${ivfOracleFrom(cents, unionCte, qCte)}
       |)""".stripMargin
  }

  /** Quantized-store IVF: corpus side scores the dequantized int8 codes;
    * the QUERY side stays on the original floats (queries arrive as
    * floats at serving time — only the stored corpus is quantized).
    */
  private def ivfQuantOracle(cents: Array[Array[Float]]): String =
    ivfOracleFrom(cents, quantCorpusCtes,
      """q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_embd
        |  FROM embeddings WHERE vec_id < 10)""".stripMargin)

  /** The PQ oracle replays encode → LUT → ADC → shortlist → exact rerank
    * from the TRAINED codebook, matching the kernels bit-for-bit
    * (PqKernels in VectorExprs.scala):
    *  - encode: unrolled squared-L2 terms in dimension order (left-assoc
    *    double adds = the kernel's `acc +=` loop), argmin with ties to the
    *    LOWEST cell (`acc < bestD` is strict);
    *  - LUT: same unrolled sum, then CAST(... AS FLOAT) = `acc.toFloat`;
    *  - ADC: per-(query, vector) list of LUT floats ordered by subspace,
    *    summed left-assoc after CAST AS DOUBLE = `acc += getFloat(...)`;
    *  - rerank: sqrt of the 64-term unrolled squared L2 (EuclideanDistance
    *    applies math.sqrt BEFORE the ordering — sqrt can collapse
    *    near-equal distances into double ties, so the oracle must order by
    *    the sqrt'd value too), ties to the smaller id, top-k.
    */
  /** Shared PQ CTE fragments (codebook VALUES, encode, LUT, ADC sum,
    * rerank distance) — ONE SQL rendering of each kernel, composed by both
    * the standalone PQ oracle and the IVF+PQ oracle so the two cannot
    * drift. All fragments assume the `e(id, embd DOUBLE[])` corpus CTE and
    * a `q(query_id, q_embd)` query CTE are in scope.
    */
  private def pqSq(a: String, b: String): String = s"($a - $b)*($a - $b)"

  private def pqSubDist(model: graft.ops.Pq.PqModel, vec: String): String =
    (1 to model.sub)
      .map(d => pqSq(s"$vec[cb.mi*${model.sub} + $d]", s"cb.c[$d]"))
      .mkString(" + ")

  /** The `cb(mi, cell, c)` codebook VALUES block (DOUBLE[] literals —
    * the kernels widen float inputs to double before subtracting, so the
    * double rendering of the float codebook is the exact arithmetic
    * domain). */
  private def pqCbValues(model: graft.ops.Pq.PqModel): String = {
    val cbRows = (for (mi <- 0 until model.m; k <- 0 until model.ksub) yield {
      val vals = model.centroid(mi, k).map(_.toDouble.toString)
        .mkString("[", ", ", "]")
      s"($mi, $k, CAST($vals AS DOUBLE[]))"
    }).mkString(",\n")
    s"""cb(mi, cell, c) AS (VALUES
       |$cbRows)""".stripMargin
  }

  /** cb / encd / enc / lut: codebook literals, per-subspace argmin encode
    * (ties to the LOWEST cell — the kernel's strict `<`), per-query float
    * LUT (`acc.toFloat`).
    */
  private def pqEncodeLutCtes(model: graft.ops.Pq.PqModel): String = {
    s"""${pqCbValues(model)},
       |encd AS (SELECT e.id, cb.mi, cb.cell,
       |    ${pqSubDist(model, "e.embd")} AS dist
       |  FROM e CROSS JOIN cb),
       |enc AS (SELECT id, mi, cell FROM (
       |    SELECT id, mi, cell, row_number() OVER (PARTITION BY id, mi
       |      ORDER BY dist ASC, cell ASC) AS rn FROM encd) WHERE rn = 1),
       |lut AS (SELECT q.query_id, cb.mi, cb.cell,
       |    CAST(${pqSubDist(model, "q.q_embd")} AS FLOAT) AS lv
       |  FROM q CROSS JOIN cb)""".stripMargin
  }

  /** ADC total over the per-(query, vector) LUT list `ls` (mi order,
    * left-assoc double adds = the kernel's `acc += getFloat`). */
  private def pqAdcSum(model: graft.ops.Pq.PqModel): String =
    (1 to model.m).map(i => s"ls[$i]").mkString(" + ")

  /** shortlist → exact-L2 rerank tail: sqrt BEFORE the ordering (sqrt can
    * collapse near-equal distances into double ties — EuclideanDistance
    * applies math.sqrt first), ties to the smaller id, top-k.
    */
  private def pqRerankTail(model: graft.ops.Pq.PqModel, k: Int): String = {
    val rerankDist = (1 to model.dim)
      .map(i => pqSq(s"a.embd[$i]", s"b.embd[$i]")).mkString(" + ")
    s"""rr AS (SELECT s.query_id, s.id,
       |    CAST(row_number() OVER (PARTITION BY s.query_id
       |      ORDER BY sqrt($rerankDist) ASC, s.id ASC) AS BIGINT) AS rank
       |  FROM shortlist s
       |  JOIN e a ON a.id = s.query_id
       |  JOIN e b ON b.id = s.id)
       |SELECT query_id, id AS neighbor_id, rank FROM rr WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Replays encode → LUT → ADC → shortlist → exact rerank from the
    * TRAINED codebook, matching the kernels bit-for-bit (PqKernels in
    * VectorExprs.scala) — see the fragment docs above for the per-stage
    * tie/precision rules.
    */
  private def pqOracle(model: graft.ops.Pq.PqModel): String = {
    import graft.queries.SimilarityQueries.{PqK, PqShortlist}
    s"""WITH e AS (SELECT vec_id AS id,
       |    CAST(embedding AS DOUBLE[]) AS embd FROM embeddings),
       |q AS (SELECT id AS query_id, embd AS q_embd FROM e WHERE id < 10),
       |${pqEncodeLutCtes(model)},
       |adcl AS (SELECT l.query_id, enc.id,
       |    list(CAST(l.lv AS DOUBLE) ORDER BY l.mi) AS ls
       |  FROM enc JOIN lut l ON enc.mi = l.mi AND enc.cell = l.cell
       |  WHERE enc.id <> l.query_id
       |  GROUP BY l.query_id, enc.id),
       |shortlist AS (SELECT query_id, id FROM (
       |    SELECT query_id, id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY (${pqAdcSum(model)}) ASC, id ASC) AS rn
       |    FROM adcl) WHERE rn <= $PqShortlist),
       |${pqRerankTail(model, PqK)}""".stripMargin
  }

  /** Snapped-grid projection of the corpus CTE: `e(id, embd)` where embd
    * is the k-dim projection of `embeddings` under (mean, proj) —
    * each component a grid-exact sum cast to FLOAT (the kernel's
    * `acc.toFloat`) and widened back to DOUBLE. Shared by the OPQ and
    * PCA-IVF oracles so the rotation rendering cannot drift.
    */
  private def projectedCorpusCtes(mean: Array[Double], proj: Array[Double],
      inDim: Int): String = {
    val outDim = proj.length / inDim
    val dims = (0 until outDim).map { j =>
      val terms = (0 until inDim).map(i =>
        s"floor((x[${i + 1}] - ${mean(i)}) * ${proj(j * inDim + i)} * 1048576.0) / 1048576.0")
      s"CAST(CAST(0.0 + ${terms.mkString(" + ")} AS FLOAT) AS DOUBLE)"
    }
    s"""e0 AS (SELECT vec_id AS id,
       |    CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
       |e AS (SELECT id,
       |    [${dims.mkString(",\n     ")}] AS embd
       |  FROM e0)""".stripMargin
  }

  /** The PCA-compressed IVF oracle (q_ann_ivf_pca): assignment, probes,
    * and the within-cell shortlist run over the 16-dim projected corpus
    * (16-dim trained centroids inlined); the rerank tail re-scores the
    * shortlist with full-dim cosine on the ORIGINAL vectors (`e0`), ties
    * to the smaller id — exactly the engine's rerankCosine.
    */
  private def ivfPcaOracle(mean: Array[Double], proj: Array[Double],
      cents: Array[Array[Float]]): String = {
    import graft.queries.SimilarityQueries.{IvfK, PcaShortlist}
    s"""WITH ${centroidAssignCtes(cents, projectedCorpusCtes(mean, proj, 64))},
       |q AS (SELECT id AS query_id, embd AS q_embd FROM e WHERE id < 10),
       |${probesCte(withQEmbd = true)},
       |shortlist AS (SELECT query_id, id FROM (
       |    SELECT p.query_id, a.id,
       |      row_number() OVER (PARTITION BY p.query_id
       |        ORDER BY list_cosine_similarity(p.q_embd, a.embd) DESC, a.id)
       |        AS rn
       |    FROM probes p JOIN assigned a ON a.cell = p.cell
       |    WHERE a.id <> p.query_id) WHERE rn <= $PcaShortlist),
       |rr AS (SELECT s.query_id, s.id,
       |    CAST(row_number() OVER (PARTITION BY s.query_id
       |      ORDER BY list_cosine_similarity(qa.x, b.x) DESC, s.id ASC)
       |      AS BIGINT) AS rank
       |  FROM shortlist s
       |  JOIN e0 qa ON qa.id = s.query_id
       |  JOIN e0 b ON b.id = s.id)
       |SELECT query_id, id AS neighbor_id, rank FROM rr WHERE rank <= $IvfK
       |ORDER BY query_id, rank""".stripMargin
  }

  /** The OPQ oracle (q_ann_opq): the plain-PQ replay over the ROTATED
    * corpus. The rotation replays exactly because each rotated component
    * is a snapped-grid sum (the Pca.projectionCols discipline — every
    * term a dyadic multiple of 2⁻²⁰, order-independent in any
    * association) cast to FLOAT (= the kernel's `acc.toFloat`) and then
    * widened back to DOUBLE for the shared encode/LUT/ADC/rerank
    * fragments, exactly as PqKernels widens its float input per element.
    */
  private def opqOracle(r: graft.ops.Opq.Rotation,
      model: graft.ops.Pq.PqModel): String = {
    import graft.queries.SimilarityQueries.{PqK, PqShortlist}
    s"""WITH ${projectedCorpusCtes(r.mean, r.rot, r.dim)},
       |q AS (SELECT id AS query_id, embd AS q_embd FROM e WHERE id < 10),
       |${pqEncodeLutCtes(model)},
       |adcl AS (SELECT l.query_id, enc.id,
       |    list(CAST(l.lv AS DOUBLE) ORDER BY l.mi) AS ls
       |  FROM enc JOIN lut l ON enc.mi = l.mi AND enc.cell = l.cell
       |  WHERE enc.id <> l.query_id
       |  GROUP BY l.query_id, enc.id),
       |shortlist AS (SELECT query_id, id FROM (
       |    SELECT query_id, id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY (${pqAdcSum(model)}) ASC, id ASC) AS rn
       |    FROM adcl) WHERE rn <= $PqShortlist),
       |${pqRerankTail(model, PqK)}""".stripMargin
  }

  /** The residual IVFADC oracle (q_ann_ivfpq_residual): like
    * [[ivfpqOracle]] but encode/LUT run on RESIDUALS. The residual
    * subtraction happens in FLOAT (ef.embf FLOAT[] minus the FLOAT[]
    * centroid rendering — DuckDB float arithmetic is true float32, same
    * IEEE value as the kernel's float−float and the query side's
    * zip_with), then the result widens to DOUBLE[] for the shared
    * encode/LUT fragments, exactly as the kernels widen per element.
    * The LUT is keyed per (query, probed cell): the query's residual
    * differs per cell, and the lut→assigned join on pcell = cell IS the
    * probe restriction.
    */
  private def ivfpqResidualOracle(cents: Array[Array[Float]],
      model: graft.ops.Pq.PqModel): String = {
    import graft.queries.SimilarityQueries.{IvfK, IvfNProbe, IvfPqShortlist}
    val dim = model.dim
    val centfRows = cents.zipWithIndex.map { case (c, i) =>
      s"($i, CAST(${c.map(_.toString).mkString("[", ", ", "]")} AS FLOAT[]))"
    }.mkString(",\n")
    s"""WITH ${centroidAssignCtes(cents)},
       |q AS (SELECT id AS query_id, embd AS q_embd FROM e WHERE id < 10),
       |${probesCte(withQEmbd = false)},
       |ef AS (SELECT vec_id AS id, embedding AS embf FROM embeddings),
       |centsf(cell, cf) AS (VALUES
       |$centfRows),
       |res AS (SELECT a.id, CAST(list_transform(range(1, ${dim + 1}),
       |      i -> ef.embf[i] - cf.cf[i]) AS DOUBLE[]) AS resd
       |  FROM assigned a JOIN ef ON ef.id = a.id
       |  JOIN centsf cf ON cf.cell = a.cell),
       |qres AS (SELECT p.query_id, p.cell AS pcell,
       |    CAST(list_transform(range(1, ${dim + 1}),
       |      i -> ef.embf[i] - cf.cf[i]) AS DOUBLE[]) AS qresd
       |  FROM probes p JOIN ef ON ef.id = p.query_id
       |  JOIN centsf cf ON cf.cell = p.cell),
       |${pqCbValues(model)},
       |encd AS (SELECT res.id, cb.mi, cb.cell,
       |    ${pqSubDist(model, "res.resd")} AS dist
       |  FROM res CROSS JOIN cb),
       |enc AS (SELECT id, mi, cell FROM (
       |    SELECT id, mi, cell, row_number() OVER (PARTITION BY id, mi
       |      ORDER BY dist ASC, cell ASC) AS rn FROM encd) WHERE rn = 1),
       |lut AS (SELECT qr.query_id, qr.pcell, cb.mi, cb.cell,
       |    CAST(${pqSubDist(model, "qr.qresd")} AS FLOAT) AS lv
       |  FROM qres qr CROSS JOIN cb),
       |adcl AS (SELECT l.query_id, enc.id,
       |    list(CAST(l.lv AS DOUBLE) ORDER BY l.mi) AS ls
       |  FROM enc
       |  JOIN assigned a ON a.id = enc.id
       |  JOIN lut l ON l.pcell = a.cell AND enc.mi = l.mi
       |    AND enc.cell = l.cell
       |  WHERE enc.id <> l.query_id
       |  GROUP BY l.query_id, enc.id),
       |shortlist AS (SELECT query_id, id FROM (
       |    SELECT query_id, id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY (${pqAdcSum(model)}) ASC, id ASC) AS rn
       |    FROM adcl) WHERE rn <= $IvfPqShortlist),
       |${pqRerankTail(model, IvfK)}""".stripMargin
  }

  /** The composed IVFADC oracle: the trained-centroid assignment + probe
    * CTEs (shared with the IVF oracles) restrict the PQ ADC scan to
    * probed-cell rows, then the shared shortlist/rerank tail runs
    * unchanged — a CTE merge of ivfOracle and pqOracle, exactly like the
    * Spark plan it checks (Pq.searchIvfPq).
    */
  private def ivfpqOracle(cents: Array[Array[Float]],
      model: graft.ops.Pq.PqModel): String = {
    import graft.queries.SimilarityQueries.{IvfK, IvfNProbe, IvfPqShortlist}
    s"""WITH ${centroidAssignCtes(cents)},
       |q AS (SELECT id AS query_id, embd AS q_embd FROM e WHERE id < 10),
       |${probesCte(withQEmbd = false)},
       |${pqEncodeLutCtes(model)},
       |adcl AS (SELECT l.query_id, enc.id,
       |    list(CAST(l.lv AS DOUBLE) ORDER BY l.mi) AS ls
       |  FROM enc
       |  JOIN assigned a ON a.id = enc.id
       |  JOIN probes p ON p.cell = a.cell
       |  JOIN lut l ON enc.mi = l.mi AND enc.cell = l.cell
       |    AND l.query_id = p.query_id
       |  WHERE enc.id <> l.query_id
       |  GROUP BY l.query_id, enc.id),
       |shortlist AS (SELECT query_id, id FROM (
       |    SELECT query_id, id, row_number() OVER (PARTITION BY query_id
       |      ORDER BY (${pqAdcSum(model)}) ASC, id ASC) AS rn
       |    FROM adcl) WHERE rn <= $IvfPqShortlist),
       |${pqRerankTail(model, IvfK)}""".stripMargin
  }

  /** SemDeDup oracle: the shared trained-centroid assignment CTEs, then
    * within-cell pairs under the exact cosine threshold (DOUBLE[] columns
    * — the tau comparison must be in the same double precision as the
    * Spark filter, or pairs within ~1e-7 of tau diverge).
    */
  private def semOracle(cents: Array[Array[Float]]): String = {
    import graft.queries.SimilarityQueries.SemTau
    s"""WITH ${centroidAssignCtes(cents)}
       |SELECT a.id AS id_a, b.id AS id_b, a.cell
       |FROM assigned a JOIN assigned b
       |  ON a.cell = b.cell AND a.id < b.id
       |WHERE list_cosine_similarity(a.embd, b.embd) >= $SemTau
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** The registry rows over a trained model. Each row fetches its model
    * once through a per-dir memoized accessor, runs the query with it and
    * renders the oracle from the same value: the model's constants are
    * inlined as literals into generated DuckDB SQL.
    */
  private def trainedQueries: Map[String, QueryDef.Trained[_]] = {
    import QueryDef.trained
    Map(
      "q_ann_ivf" -> trained(SimilarityQueries.centroidsFor)(
        SimilarityQueries.qAnnIvf)(ivfOracle),
      "q_ann_ivf_retrain" -> trained(SimilarityQueries.retrainModelFor)(
        SimilarityQueries.qAnnIvfRetrain)(m => ivfRetrainOracle(m._2)),
      "q_ann_ivf_quantized" -> trained(SimilarityQueries.centroidsFor)(
        SimilarityQueries.qAnnIvfQuantized)(ivfQuantOracle),
      // store-served row: the serve equals the on-the-fly quantized
      // serve (CorpusStreamSpec), so the trained-centroid replay
      // oracle is verbatim
      "q_stream_ivf_ingest" -> trained(SimilarityQueries.centroidsFor)(
        SimilarityQueries.qStreamIvfIngest)(ivfQuantOracle),
      "q_ann_pq" -> trained(SimilarityQueries.pqModelFor)(
        SimilarityQueries.qAnnPq)(pqOracle),
      "q_ann_opq" -> trained(SimilarityQueries.opqModelFor)(
        SimilarityQueries.qAnnOpq)(m => opqOracle(m._1, m._2)),
      "q_ann_ivf_pca" -> trained(SimilarityQueries.ivfPcaModelFor)(
        SimilarityQueries.qAnnIvfPca)(m => ivfPcaOracle(m._1, m._2, m._3)),
      "q_ann_ivfpq" -> trained(SimilarityQueries.ivfPqModelFor)(
        SimilarityQueries.qAnnIvfPq)(m => ivfpqOracle(m._1, m._2)),
      "q_ann_ivfpq_residual" -> trained(SimilarityQueries.ivfPqResModelFor)(
        SimilarityQueries.qAnnIvfPqResidual)(
        m => ivfpqResidualOracle(m._1, m._2)),
      "q_semantic_dedup" -> trained(SimilarityQueries.centroidsFor)(
        SimilarityQueries.qSemanticDedup)(semOracle),
      "q_pca_project" -> trained(SimilarityQueries.pcaModelFor)(
        SimilarityQueries.qPcaProject)(pcaOracle),
      "q_bpe_tokenize" -> trained(TextQueries.bpeModelFor)(
        TextQueries.qBpeTokenize)(bpeOracle),
      "q_gbt_regression" -> trained(Relational.gbtTrainOrGet)(
        Relational.qGbtRegression)(gbtScoreOracle),
      "q_gbt_importance" -> trained(Relational.gbtTrainOrGet)(
        Relational.qGbtImportance)(gbtImportanceOracle),
      "q_conformal_interval" -> trained(Relational.gbtTrainOrGet)(
        Relational.qConformalInterval)(gbtConformalOracle),
      // streaming replay of the scoring eval: exact partial moments fold
      // linearly, so stream == batch and the oracle is verbatim
      "q_stream_gbt_score" -> trained(Relational.gbtTrainOrGet)(
        StreamQueries.qStreamGbtScore)(gbtScoreOracle),
      // the registry rows score with the STORED artifact; the oracle
      // inlines the in-session model — store/serve drift hash-fails
      "q_model_serve" -> trained(Relational.gbtVersionsFor)(
        (s, d, m) => Relational.qModelServe(s, d, m))(
        m => modelServeOracle(m.fresh)),
      "q_stream_model_ingest" -> trained(Relational.gbtTrainOrGet)(
        StreamQueries.qStreamModelIngest)(modelIngestOracle),
      "q_gbt_tree" -> trained(Relational.gbtTreeTrainOrGet)(
        Relational.qGbtTree)(gbtTreeOracle),
      // rollback serves the PINNED v1 artifact — the oracle inlines the
      // in-session half-trained model, so serving the wrong version or
      // reading back a different artifact hash-fails
      "q_model_rollback" -> trained(Relational.gbtVersionsFor)(
        (s, d, m) => Relational.qModelRollback(s, d, m))(
        m => rollbackOracle(m.stale)),
      // the tree registry serves the STORED depth-2 artifact; the oracle
      // inlines the in-session tree model — any round-trip loss in a
      // node, child flag or leaf delta hash-fails the scores
      "q_model_serve_tree" -> trained(Relational.gbtTreeVersionsFor)(
        (s, d, m) => Relational.qModelServeTree(s, d, m))(
        m => treeServeOracle(m.fresh)),
      // depth-3 scoring replay from the generic trainer's model — any
      // routing or leaf-delta defect at any level hash-fails
      "q_gbt_depth3" -> trained(Relational.gbtDeepTrainOrGet)(
        Relational.qGbtDepth3)(deepScoreOracle),
      // alias staging: promoted rows score with the full model (prod →
      // v2), rolled-back rows with the half model (prod re-pointed at
      // v1) — an alias swap that doesn't change what serves hash-fails
      "q_model_alias" -> trained(Relational.gbtVersionsFor)(
        Relational.qModelAlias)(m => aliasOracle(m.fresh, m.stale)),
      // hybrid-over-stores: the bm25 store replay + the centroid-inlined
      // IVF replay, fused with the same RRF tail as q_hybrid_search
      "q_hybrid_serve" -> trained(SimilarityQueries.centroidsFor)(
        TextQueries.qHybridServe)(hybridServeOracle))
  }

  /** DuckDB-dialect equivalents of the [[fixedQueries]] over the same
    * bare table names. Column names and numeric determinism rules: see
    * SURVEY.md §4 — money aggregates go through DECIMAL so both engines
    * produce identical values.
    */
  private def fixedOracleSql: Map[String, String] =
    staticOracleSql ++
      // The streaming replay rows share their batch twins' oracles
      // VERBATIM — stream==batch over the same input is exactly the
      // equality the driver re-proves by hash every round.
      Map(
        "q_stream_retention" -> staticOracleSql("q_retention_cohort"),
        // crash recovery: two incarnations against one checkpoint must
        // still reproduce the batch matrix bit-for-bit
        "q_stream_recovery" -> staticOracleSql("q_retention_cohort"),
        "q_stream_scd2" -> staticOracleSql("q_scd2_history"),
        "q_stream_markov" -> staticOracleSql("q_markov_transitions"),
        "q_stream_funnel" -> staticOracleSql("q_funnel_steps"),
        // q_gap_fill's oracle over the COALESCED value frame — the
        // streaming Event schema is primitive-Double, so the replay feed
        // coalesces NULL values to 0.0 before the fold (the documented
        // gapFillChangelog value contract)
        "q_stream_gapfill" -> staticOracleSql("q_gap_fill").replace(
          "SUM(CAST(value AS DECIMAL(18,2)))",
          "SUM(CAST(coalesce(value, 0) AS DECIMAL(18,2)))"),
        // same COALESCE note as q_stream_gapfill: the replay feed's Event
        // schema is primitive-Double (all-NULL sessions would sum to 0.0,
        // not NULL) — the events table has no NULL values at any shipped
        // SF, so the twin oracle applies verbatim-with-coalesce either way
        "q_stream_sessionize" -> staticOracleSql("q_sessionize").replace(
          "SUM(CAST(value AS DECIMAL(18,2)))",
          "SUM(CAST(coalesce(value, 0) AS DECIMAL(18,2)))"),
        "q_stream_window" -> staticOracleSql("q_window_tumbling").replace(
          "SUM(CAST(value AS DECIMAL(18,2)))",
          "SUM(CAST(coalesce(value, 0) AS DECIMAL(18,2)))"),
        "q_stream_attribution" -> staticOracleSql("q_range_join"),
        // LEFT OUTER stream-stream join: the oracle is the batch LEFT
        // JOIN on the same interval — a null row emitted early (before
        // its seal), dropped (state evicted under a future match), or
        // duplicated (match + spurious null) each hash-fail
        "q_stream_outer_join" ->
          """WITH c AS (SELECT event_id AS click_id, user_id,
            |    CAST(ts AS TIMESTAMP) AS click_ts
            |  FROM events WHERE event_type = 'click'),
            |p AS (SELECT event_id AS purchase_id, user_id AS p_user,
            |    CAST(ts AS TIMESTAMP) AS p_ts
            |  FROM events WHERE event_type = 'purchase')
            |SELECT click_id, purchase_id, user_id
            |FROM c LEFT JOIN p ON user_id = p_user
            |  AND click_ts >= p_ts - INTERVAL 1 HOUR AND click_ts < p_ts
            |ORDER BY click_id, purchase_id""".stripMargin,
        // CMS linearity: the epoch-folded store's cells equal the batch
        // build's cells exactly, so the estimates — and the oracle — are
        // the batch row's verbatim
        "q_stream_heavy_hitters" -> staticOracleSql("q_heavy_hitters"),
        // the dead-letter stream's report must equal the batch split —
        // chunking commutes with per-row rules
        "q_stream_quarantine" -> staticOracleSql("q_quarantine"),
        // histogram-store fold == batch counts by count linearity, PSI
        // tail shared verbatim → the batch oracle applies unchanged
        "q_stream_drift" -> staticOracleSql("q_drift_psi"),
        // register fold (cell-wise max over epochs) == single-pass batch
        // registers — max is associative AND idempotent — and the
        // estimate tail is shared verbatim → the batch oracle unchanged
        "q_stream_hll" -> staticOracleSql("q_hll_distinct"),
        // store fold == batch daily sums by decimal linearity; the CUSUM
        // tail is cusumFromDaily shared verbatim → batch oracle unchanged
        "q_stream_cusum" -> staticOracleSql("q_cusum_shift"),
        // TTL dedup of the doubled feed = the plain table: every distinct
        // event exactly once
        "q_stream_dedup_ttl" ->
          """SELECT event_id, event_type, value FROM events
            |ORDER BY event_id""".stripMargin,
        // native session_window semantics: end-exclusive gap windows →
        // split on >= gap (one tick stricter than the lag-based batch
        // row's >), session_end = last event + gap by definition
        "q_stream_session_window" ->
          """WITH e AS (SELECT user_id, event_id,
            |    CAST(ts AS TIMESTAMP) AS ts, value,
            |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
            |f AS (SELECT *, CASE
            |    WHEN lag(ts_us) OVER w IS NULL THEN 1
            |    WHEN ts_us - lag(ts_us) OVER w >= 1800000000 THEN 1
            |    ELSE 0 END AS is_new
            |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
            |n AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id
            |    ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING)
            |    AS session_seq FROM f)
            |SELECT user_id, MIN(ts) AS session_start,
            |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
            |  COUNT(*) AS n_events,
            |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
            |FROM n GROUP BY user_id, session_seq
            |ORDER BY user_id, session_start""".stripMargin,
        // watermark-sealed daily cohorts: day windows never straddle the
        // midnight cutoff, so summing sealed window cells per cohort
        // equals the per-event cutoff flag by count linearity; the
        // n_windows_* columns replay as distinct active days per type —
        // a window the watermark failed to seal would be missing and
        // hash-fail here
        "q_stream_drift_windows" ->
          """WITH e AS (SELECT event_type, ts,
            |    CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END
            |      AS cohort,
            |    CASE WHEN ts >= TIMESTAMP '2024-01-16'
            |        AND event_type = 'purchase'
            |      THEN value * 1.5 ELSE value END AS v
            |  FROM events),
            |b AS (SELECT event_type, ts, cohort,
            |    CAST(least(floor(v / 50.0), 9) AS BIGINT) AS bin FROM e),
            |w AS (SELECT event_type,
            |    CAST(COUNT(DISTINCT date_trunc('day', ts))
            |      FILTER (cohort = 0) AS BIGINT) AS n_windows_before,
            |    CAST(COUNT(DISTINCT date_trunc('day', ts))
            |      FILTER (cohort = 1) AS BIGINT) AS n_windows_after
            |  FROM b GROUP BY 1),
            |bins AS (SELECT DISTINCT event_type, unnest(range(10)) AS bin
            |  FROM b),
            |c AS (SELECT event_type, bin,
            |    COUNT(*) FILTER (cohort = 0) AS n0,
            |    COUNT(*) FILTER (cohort = 1) AS n1
            |  FROM b GROUP BY 1, 2),
            |f AS (SELECT bins.event_type, bins.bin,
            |    coalesce(c.n0, 0) AS n0, coalesce(c.n1, 0) AS n1
            |  FROM bins LEFT JOIN c
            |    ON bins.event_type = c.event_type AND bins.bin = c.bin),
            |tot AS (SELECT event_type, SUM(n0) AS t0, SUM(n1) AS t1
            |  FROM f GROUP BY 1),
            |terms AS (SELECT f.event_type, tot.t0, tot.t1,
            |    CAST(f.n0 + 1 AS DOUBLE) / (tot.t0 + 10) AS p,
            |    CAST(f.n1 + 1 AS DOUBLE) / (tot.t1 + 10) AS q
            |  FROM f JOIN tot USING (event_type)),
            |p AS (SELECT event_type, CAST(max(t0) AS BIGINT) AS n_before,
            |    CAST(max(t1) AS BIGINT) AS n_after,
            |    SUM(floor((p - q) * ln(p / q) * 65536.0) / 65536.0) AS psi
            |  FROM terms GROUP BY 1)
            |SELECT p.event_type, w.n_windows_before, w.n_windows_after,
            |  n_before, n_after, psi
            |FROM p JOIN w USING (event_type)
            |ORDER BY event_type""".stripMargin,
        // new-vs-history-only dedup: the union of per-epoch streamed
        // results equals one batch run, so the batch oracle is verbatim
        "q_stream_dedup_incremental" -> staticOracleSql("q_dedup_incremental"),
        // keep-last dedup is a pure function of the accumulated raw rows:
        // the drained stream's usage layer == the batch DAG's
        "q_stream_datalake" -> staticOracleSql("q_datalake_pipeline"),
        // the component labeling is canonical (min label per component of
        // the accumulated graph) — fold order can't change it, so the
        // from-scratch CTE re-proves the streamed fold too
        "q_stream_clusters" -> staticOracleSql("q_dedup_clusters_incremental"),
        // the manifest-published final epoch == the batch pipeline's usage
        // layer; n_versions = one published version per micro-batch (3
        // staged drops × maxFilesPerTrigger=1)
        "q_stream_publish" ->
          s"""SELECT event_type, event_date, n_events, total_value,
             |  CAST(3 AS BIGINT) AS n_versions
             |FROM (${staticOracleSql("q_datalake_pipeline")})
             |ORDER BY event_type, event_date""".stripMargin)

  /** The hybrid-retrieval LEXICAL leg (bm25 replay with each query doc's
    * distinct unigrams as the query set, self-doc slot kept in the
    * ranking then filtered) and the RRF fusion tail — ONE rendering
    * shared by q_hybrid_search (brute vector leg) and q_hybrid_serve
    * (IVF-probed vector leg from the published store) so the scoring and
    * fusion rules cannot drift between the build-side and serve-side
    * rows. Both fragments expect `lex`/`vec` CTEs of
    * (query_id, doc_id, *_rank ≤ 20).
    */
  private val hybridLexCtes =
    """qd AS (SELECT doc_id AS query_id, term FROM (
      |    SELECT doc_id,
      |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |    FROM documents WHERE doc_id < 5)
      |  WHERE term <> '' GROUP BY query_id, term),
      |w AS (SELECT doc_id,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS dl,
      |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
      |  FROM documents),
      |t AS (SELECT doc_id, term, max(dl) AS dl, COUNT(*) AS tf FROM w
      |  WHERE term <> '' AND term IN (SELECT term FROM qd)
      |  GROUP BY doc_id, term),
      |d AS (SELECT term, COUNT(*) AS df FROM t GROUP BY term),
      |n AS (SELECT COUNT(*) AS nd,
      |    CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS sumdl
      |  FROM documents),
      |s AS (SELECT qd.query_id, t.doc_id,
      |    floor((ln(1.0 + (CAST(nd AS DOUBLE) - df + 0.5) / (df + 0.5))
      |      * ((CAST(tf AS DOUBLE) * 2.2)
      |        / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75
      |          * (CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / nd))))))
      |      * 65536.0) / 65536.0 AS ts
      |  FROM t JOIN qd USING (term) JOIN d USING (term) CROSS JOIN n),
      |sc AS (SELECT query_id, doc_id, SUM(ts) AS score FROM s
      |  GROUP BY query_id, doc_id),
      |lexall AS (SELECT query_id, doc_id, row_number() OVER (
      |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS lex_rank
      |  FROM sc),
      |lex AS (SELECT query_id, doc_id, lex_rank FROM lexall
      |  WHERE lex_rank <= 20 AND doc_id <> query_id)""".stripMargin

  private val hybridFuseSql =
    """fused AS (SELECT COALESCE(lex.query_id, vec.query_id) AS query_id,
      |    COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
      |    COALESCE(1.0/(60.0 + lex.lex_rank), 0.0)
      |      + COALESCE(1.0/(60.0 + vec.vec_rank), 0.0) AS rrf,
      |    lex.lex_rank, vec.vec_rank
      |  FROM lex FULL OUTER JOIN vec
      |    ON lex.query_id = vec.query_id AND lex.doc_id = vec.doc_id),
      |r AS (SELECT query_id, doc_id, rrf, lex_rank, vec_rank,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY rrf DESC, doc_id) AS rank
      |  FROM fused)
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, rrf,
      |  CAST(lex_rank AS BIGINT) AS lex_rank,
      |  CAST(vec_rank AS BIGINT) AS vec_rank
      |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** q_hybrid_serve oracle: the lexical store replay (identical to the
    * from-text replay — the q_index_serve equivalence) + the
    * centroid-inlined IVF assignment→probe→rank replay as the vector
    * leg (k = 20, self excluded before ranking, the serving path's
    * rule), fused by the shared RRF tail.
    */
  private def hybridServeOracle(cents: Array[Array[Float]]): String = {
    s"""WITH $hybridLexCtes,
       |${centroidAssignCtes(cents)},
       |q AS (SELECT id AS query_id, embd AS q_embd FROM e WHERE id < 5),
       |${probesCte(withQEmbd = true)},
       |vecall AS (SELECT p.query_id, a.id AS doc_id,
       |    row_number() OVER (PARTITION BY p.query_id
       |      ORDER BY list_cosine_similarity(p.q_embd, a.embd) DESC, a.id)
       |      AS vec_rank
       |  FROM probes p JOIN assigned a ON a.cell = p.cell
       |  WHERE a.id <> p.query_id),
       |vec AS (SELECT query_id, doc_id, vec_rank FROM vecall
       |  WHERE vec_rank <= 20),
       |$hybridFuseSql""".stripMargin
  }

  private def staticOracleSql: Map[String, String] = Map(
    "q_bm25_search" -> bm25Oracle,
    // stored-index serve == from-text serve, bit-for-bit: the build's
    // tf/dl are the same integers the on-the-fly path derives and the
    // scoring tail is shared code — so the oracle is bm25's VERBATIM,
    // and the publish→merge→read round trip is what the hash proves
    "q_index_serve" -> bm25Oracle,
    // RRF hybrid retrieval: the bm25 replay with each query DOC's distinct
    // unigrams as the query set, the knn cosine replay, then the pure
    // rank-arithmetic fusion 1/(60+r_lex) + 1/(60+r_vec) — two IEEE
    // divides + one fixed-order add, bit-identical across engines.
    // Lexical ranks keep the self-doc's slot (ranked before the self
    // filter); vector ranks exclude self before ranking — both mirror
    // the engine exactly.
    "q_hybrid_search" ->
      s"""WITH $hybridLexCtes,
        |ed AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embd
        |  FROM embeddings),
        |qv AS (SELECT vec_id AS query_id, embd AS q_embd
        |  FROM ed WHERE vec_id < 5),
        |vecall AS (SELECT q.query_id, e.vec_id AS doc_id,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(q.q_embd, e.embd) DESC, e.vec_id)
        |      AS vec_rank
        |  FROM qv q CROSS JOIN ed e WHERE e.vec_id <> q.query_id),
        |vec AS (SELECT query_id, doc_id, vec_rank FROM vecall
        |  WHERE vec_rank <= 20),
        |$hybridFuseSql""".stripMargin,
    "q_pagerank" -> pagerankOracle(5),
    // BFS distances: min hop count over paths of <= 6 hops via recursive
    // CTE — integer arithmetic, exact in both engines; same edge CTE as
    // the pagerank oracle, source = lowest-keyed supplier node
    "q_bfs_distance" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM e0
        |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
        |s0 AS (SELECT MIN(s_suppkey)*2+1 AS n FROM supplier),
        |reach(node, d) AS (
        |  SELECT n, 0 FROM s0
        |  UNION
        |  SELECT e.dst, reach.d + 1 FROM reach JOIN e ON reach.node = e.src
        |  WHERE reach.d < 6)
        |SELECT node,
        |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
        |  node >> 1 AS entity_key, CAST(MIN(d) AS BIGINT) AS dist
        |FROM reach GROUP BY node ORDER BY node""".stripMargin,
    // two-phase curriculum enumeration == ONE window ordered globally by
    // (tier, subbucket, key, doc_id) — the same replay shape as
    // q_shard_shuffle; quality fragment = the proven q_quality_score CTE
    "q_curriculum" ->
      """WITH b AS (SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars_txt,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words,
        |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_punct,
        |    CAST(len(regexp_extract_all(text, '\b(the|and|of|to|in|is)\b')) AS BIGINT) AS n_stop
        |  FROM documents),
        |q AS (SELECT doc_id,
        |    0.4 * least(1.0, CAST(n_words AS DOUBLE)/200.0)
        |    + 0.3 * (1.0 - least(1.0, (CAST(n_punct AS DOUBLE)/n_chars_txt) * 5.0))
        |    + 0.3 * least(1.0, (CAST(n_stop AS DOUBLE)/n_words) * 4.0) AS quality
        |  FROM b),
        |t AS (SELECT doc_id,
        |    CAST(3 - least(3, CAST(floor(quality * 4.0) AS INT)) AS INT) AS tier,
        |    md5(CAST(doc_id AS VARCHAR)) AS key
        |  FROM q),
        |d AS (SELECT doc_id, tier, key,
        |    ascii(substring(key,1,1)) - CASE WHEN ascii(substring(key,1,1)) >= 97
        |      THEN 87 ELSE 48 END AS sub
        |  FROM t)
        |SELECT doc_id, tier,
        |  CAST(row_number() OVER (ORDER BY tier, sub, key, doc_id) - 1
        |    AS BIGINT) AS pos
        |FROM d ORDER BY pos""".stripMargin,
    // add-one bigram LM trained on every-10th docs; ln p floored to the
    // 2^-16 grid pre-sum (reduction-order-exact, same tree as the Spark op)
    "q_lm_score" ->
      """WITH wr AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |bg AS (SELECT doc_id, unnest(CASE WHEN len(ws) < 2
        |    THEN [array_to_string(ws, ' ')]
        |    ELSE list_transform(generate_series(1, len(ws) - 1),
        |      i -> ws[i]||' '||ws[i+1]) END) AS g
        |  FROM wr),
        |c2 AS (SELECT g, COUNT(*) AS c2n FROM bg
        |  WHERE doc_id % 10 = 0 GROUP BY g),
        |c1 AS (SELECT split_part(g, ' ', 1) AS w1,
        |    CAST(SUM(c2n) AS BIGINT) AS c1n FROM c2 GROUP BY 1),
        |vt AS (SELECT COUNT(DISTINCT t) AS v FROM
        |  (SELECT unnest(ws) AS t FROM wr WHERE doc_id % 10 = 0)),
        |p AS (SELECT bg.doc_id, c2.c2n IS NULL AS unseen,
        |    floor(ln(CAST(COALESCE(c2.c2n, 0) + 1 AS DOUBLE)
        |        / CAST(COALESCE(c1.c1n, 0) + v AS DOUBLE))
        |      * 65536.0) / 65536.0 AS lp
        |  FROM bg
        |  LEFT JOIN c2 USING (g)
        |  LEFT JOIN c1 ON split_part(bg.g, ' ', 1) = c1.w1
        |  CROSS JOIN vt)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(CASE WHEN unseen THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen,
        |  (-SUM(lp)) / COUNT(*) AS cross_entropy,
        |  ((-SUM(lp)) / COUNT(*)) <= 6.0 AS keep
        |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_ann_lsh" -> lshOracle,
    "q_dedup_clusters" -> clustersOracle,
    // keep-best survivorship: the same recursive-closure discipline over
    // the DOCUMENT minhash bucket graph, plus the argmax policy (longest
    // text, doc_id tie-break) replayed as max-by over (n_chars, -id)
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE $minhashSigCtes,
        |pr AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bk a JOIN bk b ON a.band = b.band AND a.bslice = b.bslice
        |    AND a.doc_id < b.doc_id),
        |ed AS (SELECT doc_a AS src, doc_b AS dst FROM pr
        |  UNION ALL SELECT doc_b, doc_a FROM pr),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT reach.id, ed.dst FROM reach JOIN ed ON reach.r = ed.src),
        |comp AS (SELECT id, CAST(MIN(r) AS BIGINT) AS component
        |  FROM reach GROUP BY id),
        |m AS (SELECT component, comp.id, length(text) AS n_chars
        |  FROM comp JOIN documents ON comp.id = documents.doc_id),
        |a AS (SELECT component, COUNT(*) AS n_members,
        |    MAX({'nc': n_chars, 'nid': -id}) AS b
        |  FROM m GROUP BY component)
        |SELECT component, n_members,
        |  CAST(-(b.nid) AS BIGINT) AS keeper_id,
        |  CAST(b.nc AS BIGINT) AS keeper_chars
        |FROM a ORDER BY component""".stripMargin,
    // deliberately the SAME full-graph recursive CTE: the incremental
    // fold's correctness claim IS "equals the from-scratch components",
    // so the driver re-proves the equivalence on every round
    "q_dedup_clusters_incremental" -> clustersOracle,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS sum_disc_price,
        |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4))) * (CAST(1 AS DECIMAL(8,4)) + CAST(l_tax AS DECIMAL(8,4)))), 2) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)/COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)/COUNT(*) AS avg_price,
        |  CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)/COUNT(*) AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_market_stats" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)/CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS avg_unit_price,
        |  COUNT(*) AS nb_sales
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE l_quantity > 9 AND l_extendedprice > 1000 AND l_extendedprice IS NOT NULL
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_opportunities" ->
      """WITH stats AS (
        |  SELECT p_brand AS stats_brand,
        |    CAST(SUM(CAST(p_retailprice AS DECIMAL(18,6))) AS DOUBLE)/COUNT(*) AS brand_avg_price,
        |    COUNT(*) AS brand_n
        |  FROM part GROUP BY p_brand)
        |SELECT p_partkey, p_brand, p_retailprice, brand_avg_price, brand_n,
        |  p_retailprice < brand_avg_price * 0.95 AS is_opportunity
        |FROM part LEFT JOIN stats ON p_brand = stats_brand
        |ORDER BY p_partkey""".stripMargin,
    "q_validated_filter" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority,
        |  CASE WHEN o_orderpriority LIKE '1-%' THEN 'urgent' ELSE 'std' END AS route
        |FROM orders
        |WHERE o_orderstatus IN ('O','F')
        |  AND o_totalprice BETWEEN 5000 AND 50000000
        |  AND o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin,
    // the same four rules, dual-output: reason string rebuilt with the
    // identical null-safe CASE chain (concat_ws skips NULL arms)
    "q_quarantine" ->
      """WITH tagged AS (
        |  SELECT o_totalprice, concat_ws(',',
        |    CASE WHEN NOT COALESCE(o_orderstatus IN ('O','F'), FALSE)
        |      THEN 'bad_status' END,
        |    CASE WHEN NOT COALESCE(
        |        o_totalprice BETWEEN 5000 AND 50000000, FALSE)
        |      THEN 'price_range' END,
        |    CASE WHEN o_custkey IS NULL THEN 'null_cust' END,
        |    CASE WHEN o_orderdate IS NULL THEN 'null_date' END
        |  ) AS reject_reason FROM orders)
        |SELECT CASE WHEN reject_reason = '' THEN 'valid'
        |    ELSE 'quarantined' END AS class,
        |  reject_reason, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price
        |FROM tagged GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_clean_cast" ->
      """SELECT event_id, user_id, event_type,
        |  COALESCE(value, 0.0) AS value_clean,
        |  COALESCE(CAST(NULLIF(regexp_extract(props, '"k": (\d+)', 1), '') AS INT), 0) AS k_value,
        |  CAST(ts AS DATE) AS event_date
        |FROM events ORDER BY event_id""".stripMargin,
    // the full DAG (raw JSON → coerce+dedup → usage stats) reduced to its
    // data semantics: the lake-layer round trips are lossless (micros longs
    // through JSON, parquet elsewhere), so DuckDB computes the usage
    // aggregate straight off the source table
    "q_datalake_pipeline" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    COALESCE(value, 0.0) AS value_clean,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date,
        |    CAST(ts AS TIMESTAMP) AS tsx
        |  FROM events),
        |d AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY tsx DESC, event_id DESC) AS rn FROM e)
        |SELECT event_type, event_date, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value_clean AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM d WHERE rn = 1 AND value_clean > 0
        |GROUP BY event_type, event_date
        |ORDER BY event_type, event_date""".stripMargin,
    // the dual-feed DAG reduced to its data semantics: both lake round
    // trips are lossless for the columns used (micros longs through JSON;
    // long/int/varchar through CSV), so DuckDB joins the source tables
    // directly after replaying the JSON side's coerce+dedup
    "q_datalake_dual" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |    COALESCE(value, 0.0) AS value_clean,
        |    CAST(ts AS TIMESTAMP) AS tsx
        |  FROM events),
        |d AS (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY tsx DESC, event_id DESC) AS rn FROM e),
        |f AS (SELECT * FROM d WHERE rn = 1 AND value_clean > 0)
        |SELECT c_mktsegment, event_type, COUNT(*) AS n_events,
        |  COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value_clean AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM f JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_dedup_keeplast" ->
      """SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id, event_type
        |    ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,
    "q_doc_export" ->
      """SELECT 'ord_' || CAST(o_orderkey AS VARCHAR) AS doc_id,
        |  o_orderkey, c_name, n_name AS geo_name, c_mktsegment, o_totalprice,
        |  o_orderdate,
        |  CASE WHEN o_orderpriority LIKE '1-%' THEN 'hot' ELSE 'all' END AS routing
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY o_orderkey""".stripMargin,
    // nested pin.location struct via struct_pack, emitted as its JSON doc
    // form (both engines print doubles with a trailing .0); hot docs emitted
    // twice (main + hot index) so the export row count exceeds the input's
    "q_doc_export_geo" ->
      """WITH base AS (
        |  SELECT 'ord_' || CAST(o_orderkey AS VARCHAR) AS doc_id,
        |    o_orderkey, c_name,
        |    to_json(struct_pack(location := struct_pack(
        |        lat := CAST(c_custkey % 180 - 90 AS DOUBLE),
        |        lon := CAST(c_custkey % 360 - 180 AS DOUBLE)),
        |      geo_name := n_name)) AS pin,
        |    o_totalprice,
        |    o_orderpriority LIKE '1-%' AS hot
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey)
        |SELECT doc_id, o_orderkey, c_name, pin, o_totalprice,
        |  'orders-all' AS es_index FROM base
        |UNION ALL
        |SELECT doc_id, o_orderkey, c_name, pin, o_totalprice,
        |  'orders-hot' AS es_index FROM base WHERE hot
        |ORDER BY o_orderkey, es_index""".stripMargin,
    "q_nested_join" ->
      """WITH listings AS (
        |  SELECT o_orderkey, o_totalprice,
        |    struct_pack(zipcode := c_nationkey, segment := c_mktsegment) AS location
        |  FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT o_orderkey, location.zipcode AS zipcode,
        |  location.segment AS segment, n_name AS zip_name, o_totalprice
        |FROM listings JOIN nation ON location.zipcode = n_nationkey
        |ORDER BY o_orderkey""".stripMargin,
    // exact-domain sums (BIGINT/DECIMAL), closed-form double arithmetic
    // written in the same shape as the Spark query → bit-exact
    "q_regression" ->
      """WITH f AS (SELECT
        |    CASE WHEN p_partkey % 5 = 0 THEN 'test' ELSE 'train' END AS split,
        |    CAST(p_size AS BIGINT) AS x,
        |    CAST(p_retailprice AS DECIMAL(18,2)) AS y
        |  FROM part WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL),
        |a AS (SELECT split, COUNT(*) AS n_rows,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(x*x) AS DOUBLE) AS sxx,
        |    CAST(SUM(y) AS DOUBLE) AS sy, CAST(SUM(x*y) AS DOUBLE) AS sxy,
        |    CAST(SUM(y*y) AS DOUBLE) AS syy
        |  FROM f GROUP BY split)
        |SELECT split, n_rows AS n,
        |  (n*sxy - sx*sy) / (n*sxx - sx*sx) AS slope,
        |  (sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n AS intercept,
        |  ((n*sxy - sx*sy) * (n*sxy - sx*sy))
        |    / ((n*sxx - sx*sx) * (n*syy - sy*sy)) AS r2
        |FROM a ORDER BY split""".stripMargin,
    // train coefficients applied to both splits; residual sums expanded
    // over the six exact aggregates — operator tree written identically
    // to the Spark side (IEEE double is order-sensitive)
    "q_regression_eval" ->
      """WITH f AS (SELECT
        |    CASE WHEN p_partkey % 5 = 0 THEN 'test' ELSE 'train' END AS split,
        |    CAST(p_size AS BIGINT) AS x,
        |    CAST(p_retailprice AS DECIMAL(18,2)) AS y
        |  FROM part WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL),
        |a AS (SELECT split, COUNT(*) AS n_rows,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(x*x) AS DOUBLE) AS sxx,
        |    CAST(SUM(y) AS DOUBLE) AS sy, CAST(SUM(x*y) AS DOUBLE) AS sxy,
        |    CAST(SUM(y*y) AS DOUBLE) AS syy
        |  FROM f GROUP BY split),
        |c AS (SELECT
        |    (n*sxy - sx*sy) / (n*sxx - sx*sx) AS m,
        |    (sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx) / n AS b
        |  FROM a WHERE split = 'train')
        |SELECT split, n_rows AS n, m AS slope, b AS intercept,
        |  sqrt((syy - 2.0*m*sxy - 2.0*b*sy + m*m*sxx + 2.0*m*b*sx + n*b*b) / n) AS rmse,
        |  1.0 - (syy - 2.0*m*sxy - 2.0*b*sy + m*m*sxx + 2.0*m*b*sx + n*b*b)
        |      / (syy - sy*sy/n) AS r2
        |FROM a CROSS JOIN c ORDER BY split""".stripMargin,
    // A/A hash-split experiment: all twelve moments in exact decimal
    // domains, the CUPED closed forms written as the identical double
    // expression trees (CAST(k AS DOUBLE) literals — bare decimals are
    // DECIMAL-typed in this dialect)
    "q_ab_cuped" ->
      """WITH pc AS (SELECT o_custkey,
        |    CAST(COALESCE(SUM(CASE WHEN o_orderdate < DATE '1996-01-01'
        |      THEN CAST(o_totalprice AS DECIMAL(18,2)) END),
        |      CAST(0 AS DECIMAL(18,2))) * 100 AS BIGINT) AS x,
        |    CAST(COALESCE(SUM(CASE WHEN o_orderdate >= DATE '1996-01-01'
        |      THEN CAST(o_totalprice AS DECIMAL(18,2)) END),
        |      CAST(0 AS DECIMAL(18,2))) * 100 AS BIGINT) AS y
        |  FROM orders GROUP BY o_custkey),
        |u AS (SELECT o_custkey, x, y,
        |    CASE WHEN (ascii(substring(md5(CAST(o_custkey AS VARCHAR)),1,1))
        |      - CASE WHEN ascii(substring(md5(CAST(o_custkey AS VARCHAR)),1,1)) >= 97
        |        THEN 87 ELSE 48 END) % 2 = 0 THEN 'A' ELSE 'B' END AS v,
        |    CAST(x * x AS DECIMAL(30,0)) AS xx,
        |    CAST(y * y AS DECIMAL(30,0)) AS yy,
        |    CAST(x * y AS DECIMAL(30,0)) AS xy
        |  FROM pc),
        |s AS (SELECT
        |    CAST(SUM(CASE WHEN v = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na_e,
        |    CAST(SUM(CASE WHEN v = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb_e,
        |    SUM(CASE WHEN v = 'A' THEN CAST(x AS DECIMAL(20,0)) END) AS sxa_e,
        |    SUM(CASE WHEN v = 'A' THEN CAST(y AS DECIMAL(20,0)) END) AS sya_e,
        |    SUM(CASE WHEN v = 'A' THEN xx END) AS sxxa_e,
        |    SUM(CASE WHEN v = 'A' THEN yy END) AS syya_e,
        |    SUM(CASE WHEN v = 'A' THEN xy END) AS sxya_e,
        |    SUM(CASE WHEN v = 'B' THEN CAST(x AS DECIMAL(20,0)) END) AS sxb_e,
        |    SUM(CASE WHEN v = 'B' THEN CAST(y AS DECIMAL(20,0)) END) AS syb_e,
        |    SUM(CASE WHEN v = 'B' THEN xx END) AS sxxb_e,
        |    SUM(CASE WHEN v = 'B' THEN yy END) AS syyb_e,
        |    SUM(CASE WHEN v = 'B' THEN xy END) AS sxyb_e
        |  FROM u),
        |d AS (SELECT na_e, nb_e,
        |    CAST(na_e AS DOUBLE) AS nad, CAST(nb_e AS DOUBLE) AS nbd,
        |    CAST(na_e + nb_e AS DOUBLE) AS nd,
        |    CAST(sxa_e + sxb_e AS DOUBLE) AS sxd,
        |    CAST(sya_e + syb_e AS DOUBLE) AS syd,
        |    CAST(sxxa_e + sxxb_e AS DOUBLE) AS sxxd,
        |    CAST(sxya_e + sxyb_e AS DOUBLE) AS sxyd,
        |    CAST(sxa_e AS DOUBLE) AS sxad, CAST(sxb_e AS DOUBLE) AS sxbd,
        |    CAST(sya_e AS DOUBLE) AS syad, CAST(syb_e AS DOUBLE) AS sybd,
        |    CAST(sxxa_e AS DOUBLE) AS sxxad, CAST(sxxb_e AS DOUBLE) AS sxxbd,
        |    CAST(syya_e AS DOUBLE) AS syyad, CAST(syyb_e AS DOUBLE) AS syybd,
        |    CAST(sxya_e AS DOUBLE) AS sxyad, CAST(sxyb_e AS DOUBLE) AS sxybd
        |  FROM s),
        |t AS (SELECT *,
        |    (sxyd - sxd * syd / nd) / (sxxd - sxd * sxd / nd) AS theta,
        |    sxd / nd AS mxp,
        |    syad / nad AS mya, sybd / nbd AS myb,
        |    sxad / nad AS mxa, sxbd / nbd AS mxb
        |  FROM d),
        |w AS (SELECT *,
        |    mya - theta * (mxa - mxp) AS mcva,
        |    myb - theta * (mxb - mxp) AS mcvb,
        |    (syyad - syad * syad / nad) / (nad - CAST(1 AS DOUBLE)) AS vya,
        |    (syybd - sybd * sybd / nbd) / (nbd - CAST(1 AS DOUBLE)) AS vyb,
        |    (syyad - CAST(2 AS DOUBLE) * theta * sxyad
        |      + theta * theta * sxxad
        |      - nad * (mya - theta * mxa) * (mya - theta * mxa))
        |      / (nad - CAST(1 AS DOUBLE)) AS vcva,
        |    (syybd - CAST(2 AS DOUBLE) * theta * sxybd
        |      + theta * theta * sxxbd
        |      - nbd * (myb - theta * mxb) * (myb - theta * mxb))
        |      / (nbd - CAST(1 AS DOUBLE)) AS vcvb
        |  FROM t)
        |SELECT na_e AS n_a, nb_e AS n_b, mya AS mean_a, myb AS mean_b,
        |  myb - mya AS lift, theta,
        |  mcvb - mcva AS lift_cuped,
        |  sqrt(vcva / nad + vcvb / nbd) AS se_cuped,
        |  (mcvb - mcva) / sqrt(vcva / nad + vcvb / nbd) AS z_cuped,
        |  CAST(1 AS DOUBLE) - (vcva + vcvb) / (vya + vyb) AS var_reduction
        |FROM w""".stripMargin,
    // deterministic Poisson-bootstrap replay: the same md5 lane →
    // Poisson(1) CDF thresholds → exact integer weighted sums; each
    // replica mean is one IEEE division, order statistics tie-broken
    // by replica id in both engines
    "q_bootstrap_ci" ->
      """WITH pc AS (SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS y
        |  FROM orders GROUP BY o_custkey),
        |f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(y AS DECIMAL(20,0))) AS sy FROM pc),
        |r AS (SELECT o_custkey, y, CAST(bb.b AS INT) AS b
        |  FROM pc CROSS JOIN (SELECT unnest(range(64)) AS b) bb),
        |hs0 AS (SELECT y, b,
        |    substring(md5(CAST(o_custkey AS VARCHAR) || '-'
        |        || CAST(b // 16 AS VARCHAR)),
        |      2 * (b % 16) + 1, 2) AS hs
        |  FROM r),
        |w0 AS (SELECT y, b,
        |    (ascii(substring(hs, 1, 1))
        |      - CASE WHEN ascii(substring(hs, 1, 1)) >= 97
        |        THEN 87 ELSE 48 END) * 16
        |    + (ascii(substring(hs, 2, 1))
        |      - CASE WHEN ascii(substring(hs, 2, 1)) >= 97
        |        THEN 87 ELSE 48 END) AS u
        |  FROM hs0),
        |w1 AS (SELECT y, b, CASE WHEN u < 94 THEN 0 WHEN u < 188 THEN 1
        |    WHEN u < 235 THEN 2 WHEN u < 251 THEN 3 ELSE 4 END AS w
        |  FROM w0),
        |g AS (SELECT b, CAST(SUM(w) AS BIGINT) AS sw,
        |    SUM(CAST(w * y AS DECIMAL(25,0))) AS swy
        |  FROM w1 WHERE w > 0 GROUP BY b),
        |m AS (SELECT b, CAST(swy AS DOUBLE) / CAST(sw AS DOUBLE) AS mm
        |  FROM g),
        |o AS (SELECT mm, row_number() OVER (ORDER BY mm, b) AS rn FROM m)
        |SELECT (SELECT n FROM f) AS n, CAST(64 AS BIGINT) AS n_replicas,
        |  (SELECT CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) FROM f)
        |    AS mean_cents,
        |  (SELECT mm FROM o WHERE rn = 2) AS ci_lo,
        |  (SELECT mm FROM o WHERE rn = 63) AS ci_hi,
        |  (SELECT mm FROM o WHERE rn = 63) - (SELECT mm FROM o WHERE rn = 2)
        |    AS width""".stripMargin,
    // mean/std from exact sums, closed-form double arithmetic written
    // identically to the Spark side; zero-variance groups → NULL z
    "q_outlier_zscore" ->
      """WITH p AS (SELECT p_partkey, p_brand, p_retailprice FROM part
        |  WHERE p_retailprice IS NOT NULL),
        |s AS (SELECT p_brand AS stats_brand,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sxx
        |  FROM p GROUP BY p_brand),
        |j AS (SELECT p_partkey, p_brand, p_retailprice,
        |    sx / n AS mean,
        |    (n * sxx - sx * sx) / (n * (n - 1.0)) AS variance
        |  FROM p JOIN s ON p_brand = stats_brand)
        |SELECT p_partkey, p_brand, p_retailprice,
        |  CASE WHEN NOT isnan(variance) AND variance > 0
        |    THEN (p_retailprice - mean) / sqrt(variance) END AS z,
        |  COALESCE(CASE WHEN NOT isnan(variance) AND variance > 0
        |    THEN abs((p_retailprice - mean) / sqrt(variance)) > 2.0 END,
        |    false) AS is_outlier
        |FROM j ORDER BY p_partkey""".stripMargin,
    // top-10 taken on the exact decimal sum; double cast applied OUTSIDE
    // the limit so the selected set matches the Spark plan
    "q3_top_orders" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(round(revenue_dec, 2) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT l_orderkey, o_orderdate, o_orderpriority,
        |    SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS revenue_dec
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |    AND l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
        |  GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |  ORDER BY revenue_dec DESC, l_orderkey LIMIT 10)""".stripMargin,
    "q5_region_revenue" ->
      """SELECT n_name,
        |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q_top_spenders" ->
      """SELECT n_name, rank_in_nation, c_custkey, c_name,
        |  CAST(total_spent AS DOUBLE) AS total_spent FROM (
        |  SELECT n_name, c_custkey, c_name,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total_spent,
        |    CAST(row_number() OVER (PARTITION BY n_name
        |      ORDER BY SUM(CAST(o_totalprice AS DECIMAL(18,2))) DESC, c_custkey) AS INT) AS rank_in_nation
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name, c_custkey, c_name)
        |WHERE rank_in_nation <= 3
        |ORDER BY n_name, rank_in_nation""".stripMargin,
    "q_feature_extract" ->
      """SELECT p_partkey,
        |  CAST(p_size AS DOUBLE) AS f_size,
        |  CAST(regexp_extract(p_brand, '(\d+)', 1) AS INT) AS f_brand_code,
        |  CAST(length(p_type) AS INT) AS f_type_len,
        |  p_retailprice AS target_price,
        |  CASE WHEN p_partkey % 5 = 0 THEN 'test' ELSE 'train' END AS split
        |FROM part
        |WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
        |ORDER BY p_partkey""".stripMargin,
    "q_cube_orders" ->
      """SELECT c_mktsegment, o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        |  COUNT(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY CUBE(c_mktsegment, o_orderpriority)
        |ORDER BY c_mktsegment NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_anti_customers" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin,
    "q_pivot_revenue" ->
      """SELECT n_name,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS O,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS F,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P'
        |    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS P
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_unpivot_features" ->
      """SELECT p_partkey, 'size' AS feature, CAST(p_size AS DOUBLE) AS value
        |FROM part
        |UNION ALL
        |SELECT p_partkey, 'retailprice' AS feature, p_retailprice AS value
        |FROM part
        |ORDER BY p_partkey, feature""".stripMargin,
    "q_correlated_min" ->
      """SELECT p_brand, p_partkey, p_retailprice
        |FROM part
        |WHERE p_retailprice = (SELECT MIN(p2.p_retailprice)
        |                       FROM part p2
        |                       WHERE p2.p_brand = part.p_brand)
        |ORDER BY p_brand, p_partkey""".stripMargin,
    "q_table_profile" ->
      """SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey,
        |  CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_orderdate,
        |  CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
        |  CAST(SUM(CASE WHEN o_totalprice NOT BETWEEN 0 AND 50000000 THEN 1 ELSE 0 END) AS BIGINT) AS price_out_of_range,
        |  COUNT(DISTINCT o_orderstatus) AS n_statuses,
        |  COUNT(DISTINCT o_orderpriority) AS n_priorities,
        |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
        |  MIN(o_orderdate) AS min_date, MAX(o_orderdate) AS max_date
        |FROM orders""".stripMargin,
    "q_rollup_revenue" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
        |  COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "q_lang_id" ->
      """WITH s AS (SELECT doc_id, lang,
        |  CAST(len(regexp_extract_all(text, '\b(the|and|of|to|in|is)\b')) AS BIGINT) AS score_en,
        |  CAST(len(regexp_extract_all(text, '\b(le|la|les|de|et|une)\b')) AS BIGINT) AS score_fr,
        |  CAST(len(regexp_extract_all(text, '\b(der|die|und|das|ist|ein)\b')) AS BIGINT) AS score_de,
        |  CAST(len(regexp_extract_all(text, '\b(el|los|y|que|como|un)\b')) AS BIGINT) AS score_es
        |  FROM documents)
        |SELECT doc_id, lang AS labeled_lang, score_en, score_fr, score_de, score_es,
        |  CASE WHEN score_en >= score_fr AND score_en >= score_de AND score_en >= score_es THEN 'en'
        |       WHEN score_fr >= score_de AND score_fr >= score_es THEN 'fr'
        |       WHEN score_de >= score_es THEN 'de'
        |       ELSE 'es' END AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin,
    "q_quality_score" ->
      """WITH b AS (SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_txt,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words,
        |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_punct,
        |  CAST(len(regexp_extract_all(text, '\b(the|and|of|to|in|is)\b')) AS BIGINT) AS n_stop
        |  FROM documents)
        |SELECT doc_id, n_chars_txt, n_words, n_punct,
        |  CAST(n_punct AS DOUBLE)/n_chars_txt AS punct_ratio,
        |  CAST(n_stop AS DOUBLE)/n_words AS stop_ratio,
        |  0.4 * least(1.0, CAST(n_words AS DOUBLE)/200.0)
        |  + 0.3 * (1.0 - least(1.0, (CAST(n_punct AS DOUBLE)/n_chars_txt) * 5.0))
        |  + 0.3 * least(1.0, (CAST(n_stop AS DOUBLE)/n_words) * 4.0) AS quality
        |FROM b ORDER BY doc_id""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_txt,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    // same tokenization as the ngram oracle (trim+lower+split \s+, drop
    // empty edge fields); score = tf*N/df — exact ints, one IEEE division
    "q_tfidf_keywords" ->
      """WITH w AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |t AS (SELECT doc_id, term, COUNT(*) AS tf FROM w
        |  WHERE term <> '' GROUP BY doc_id, term),
        |d AS (SELECT term, COUNT(*) AS df FROM t GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |s AS (SELECT t.doc_id, t.term, t.tf, d.df,
        |    CAST(t.tf * n.n_docs AS DOUBLE) / d.df AS score
        |  FROM t JOIN d USING (term) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term) AS rank FROM s)
        |SELECT doc_id, term, tf, df, score, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id,
        |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        |  source
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
        |  min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,
    // real-codec round-trip replay: the engine encodes the UTF-8 bytes as
    // a 32-wide zero-padded grayscale PNG and decodes it back through
    // javax.imageio; PNG losslessness means the decoded pixel stats ARE
    // the byte stats, which this SQL computes from the hex of the blob —
    // any decode defect (color transform, padding, truncation) hash-fails
    "q_multimodal_features" ->
      """WITH b AS (SELECT doc_id, encode(text) AS bl FROM documents),
        |s AS (SELECT doc_id, CAST(octet_length(bl) AS BIGINT) AS n,
        |    greatest(1, CAST(ceil(octet_length(bl) / 32.0) AS BIGINT)) AS h,
        |    list_transform(range(CAST(octet_length(bl) AS INT)),
        |      i -> CAST(('0x' || substr(hex(bl), CAST(i*2+1 AS INT), 2)) AS INT))
        |      AS bs
        |  FROM b)
        |SELECT doc_id, n AS n_bytes, CAST(32 AS BIGINT) AS img_w, h AS img_h,
        |  CAST(coalesce(list_sum(bs), 0) AS DOUBLE) / (32 * h) AS mean_px,
        |  CAST(coalesce(list_max(bs), 0) AS BIGINT) AS max_px
        |FROM s ORDER BY doc_id""".stripMargin,
    // frame fan-out: every-2nd 64-byte frame of the payload, emitted as
    // uppercase hex in both engines (docs are ASCII so VARCHAR slicing =
    // byte slicing; the driver's checker cannot sort raw binary)
    "q_multimodal_frames" ->
      """WITH f AS (SELECT doc_id, text,
        |    unnest(generate_series(0,
        |      CAST(ceil(length(text)/64.0) AS BIGINT) - 1, 2)) AS frame_idx
        |  FROM documents)
        |SELECT doc_id AS media_id, CAST(frame_idx AS INT) AS frame_idx,
        |  hex(substring(text, CAST(frame_idx*64 + 1 AS BIGINT), 64)) AS frame
        |FROM f ORDER BY media_id, frame_idx""".stripMargin,
    // real WAV PCM round-trip engine-side (javax.sound); PCM is lossless,
    // so the decoded sample stats replay arithmetically from the bytes —
    // n_samples/sample_rate are the DECODER's container view
    "q_audio_features" ->
      """WITH b AS (SELECT doc_id, encode(text) AS bl FROM documents),
        |s AS (SELECT doc_id, CAST(octet_length(bl) AS BIGINT) AS n,
        |    list_transform(range(CAST(octet_length(bl) AS INT)),
        |      i -> CAST(('0x' || substr(hex(bl), CAST(i*2+1 AS INT), 2)) AS INT))
        |      AS bs
        |  FROM b)
        |SELECT doc_id, n AS n_bytes, n AS n_samples,
        |  CAST(8000 AS DOUBLE) AS sample_rate,
        |  CAST(coalesce(list_sum(bs), 0) AS DOUBLE) / greatest(1, n) AS mean_amp,
        |  CAST(coalesce(list_max(bs), 0) AS BIGINT) AS max_amp
        |FROM s ORDER BY doc_id""".stripMargin,
    // real MJPEG demux + JDK decode on the Spark side; the oracle replays
    // the REPLAYABLE facts — frame geometry (w fixed, h = ceil(slice/16),
    // both produced by the actual decoder engine-side) and source-slice
    // brightness; the lossy decoded brightness is spec-pinned, not hashed
    "q_video_frames" ->
      """WITH b AS (SELECT doc_id, encode(text) AS bl FROM documents),
        |f AS (SELECT doc_id, bl, CAST(octet_length(bl) AS BIGINT) AS len,
        |    unnest(generate_series(0,
        |      CAST(ceil(octet_length(bl)/64.0) AS BIGINT) - 1, 2)) AS fi
        |  FROM b),
        |c AS (SELECT doc_id, fi,
        |    least(CAST(64 AS BIGINT), len - fi*64) AS clen,
        |    list_transform(range(CAST(least(CAST(64 AS BIGINT), len - fi*64) AS INT)),
        |      i -> CAST(('0x' || substr(hex(bl), CAST((fi*64 + i)*2 + 1 AS INT), 2)) AS INT))
        |      AS bs
        |  FROM f)
        |SELECT doc_id AS media_id, CAST(fi AS INT) AS frame_idx,
        |  CAST(16 AS BIGINT) AS frame_w,
        |  greatest(1, CAST(ceil(clen/16.0) AS BIGINT)) AS frame_h,
        |  clen AS n_src_bytes,
        |  CAST(coalesce(list_sum(bs), 0) AS DOUBLE) /
        |    (16 * greatest(1, CAST(ceil(clen/16.0) AS BIGINT))) AS mean_src_px
        |FROM c ORDER BY media_id, frame_idx""".stripMargin,
    // real resize replay: the engine encodes the bytes as a 32-wide gray
    // PNG, decodes it, area-mean ÷2 downsamples (floor of each 2×2 block
    // mean; odd-height images end with clipped 2×1 blocks), re-encodes
    // PNG, decodes AGAIN, and emits the thumbnail's pixel stats. All
    // exact integer arithmetic → this SQL replays the thumbnail pixels
    // from the blob's hex; any kernel/codec defect hash-fails.
    "q_image_thumbnail" ->
      """WITH b AS (SELECT doc_id, encode(text) AS bl FROM documents),
        |s AS (SELECT doc_id, CAST(octet_length(bl) AS BIGINT) AS n,
        |    greatest(1, CAST(ceil(octet_length(bl) / 32.0) AS BIGINT)) AS h,
        |    list_transform(range(CAST(octet_length(bl) AS INT)),
        |      i -> CAST(('0x' || substr(hex(bl), CAST(i*2+1 AS INT), 2)) AS INT))
        |      AS bs
        |  FROM b),
        |t AS (SELECT doc_id, n, h, CAST(ceil(h / 2.0) AS BIGINT) AS th,
        |    list_transform(range(CAST(16 * ceil(h / 2.0) AS INT)), q ->
        |      CASE WHEN (q // 16) * 2 + 1 < h THEN
        |        (coalesce(bs[CAST((q//16)*64 + (q%16)*2 + 1 AS INT)], 0)
        |       + coalesce(bs[CAST((q//16)*64 + (q%16)*2 + 2 AS INT)], 0)
        |       + coalesce(bs[CAST((q//16)*64 + 32 + (q%16)*2 + 1 AS INT)], 0)
        |       + coalesce(bs[CAST((q//16)*64 + 32 + (q%16)*2 + 2 AS INT)], 0)) // 4
        |      ELSE
        |        (coalesce(bs[CAST((q//16)*64 + (q%16)*2 + 1 AS INT)], 0)
        |       + coalesce(bs[CAST((q//16)*64 + (q%16)*2 + 2 AS INT)], 0)) // 2
        |      END) AS tp
        |  FROM s)
        |SELECT doc_id, n AS n_bytes, CAST(32 AS BIGINT) AS src_w, h AS src_h,
        |  CAST(16 AS BIGINT) AS thumb_w, th AS thumb_h,
        |  CAST(coalesce(list_sum(tp), 0) AS DOUBLE) / (16 * th) AS mean_thumb_px,
        |  CAST(coalesce(list_max(tp), 0) AS BIGINT) AS max_thumb_px
        |FROM t ORDER BY doc_id""".stripMargin,
    "q_corpus_funnel" ->
      """WITH s AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\b(the|and|of|to|in|is)\b')) AS BIGINT) AS s_en,
        |    CAST(len(regexp_extract_all(text, '\b(le|la|les|de|et|une)\b')) AS BIGINT) AS s_fr,
        |    CAST(len(regexp_extract_all(text, '\b(der|die|und|das|ist|ein)\b')) AS BIGINT) AS s_de,
        |    CAST(len(regexp_extract_all(text, '\b(el|los|y|que|como|un)\b')) AS BIGINT) AS s_es,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words,
        |    CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS BIGINT) AS n_punct,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |  FROM documents),
        |scored AS (SELECT doc_id, fp,
        |    CASE WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
        |         WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
        |         WHEN s_de >= s_es THEN 'de' ELSE 'es' END AS pred_lang,
        |    0.4 * least(1.0, CAST(n_words AS DOUBLE)/200.0)
        |    + 0.3 * (1.0 - least(1.0, (CAST(n_punct AS DOUBLE)/n_chars) * 5.0))
        |    + 0.3 * least(1.0, (CAST(s_en AS DOUBLE)/n_words) * 4.0) AS quality
        |  FROM s),
        |kept AS (SELECT * FROM scored WHERE pred_lang = 'en' AND quality >= 0.5)
        |SELECT doc_id, fp, pred_lang, quality FROM kept
        |WHERE doc_id = (SELECT min(k.doc_id) FROM kept k WHERE k.fp = kept.fp)
        |ORDER BY doc_id""".stripMargin,
    "q_pack_sequences" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS tokens
        |  FROM documents),
        |c AS (SELECT doc_id, tokens,
        |    SUM(tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT CAST(FLOOR((cum - tokens) / 2048) AS BIGINT) AS pack_id,
        |  COUNT(*) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS total_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY 1 ORDER BY pack_id""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
        |f AS (SELECT *, CASE
        |    WHEN ts_us - lag(ts_us) OVER w > 1800000000 THEN 1
        |    WHEN lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |n AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS session_seq FROM f)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  COUNT(*) AS n_events, MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM n GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,
    "q_window_tumbling" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket, event_type,
        |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_incremental_watermark" ->
      """SELECT user_id, COUNT(*) AS n_new_events,
        |  MAX(CAST(ts AS TIMESTAMP)) AS latest_ts
        |FROM events WHERE CAST(ts AS TIMESTAMP) > TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_asof_attribution" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id,
        |    CAST(ts AS TIMESTAMP) AS purchase_ts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id AS c_user, CAST(ts AS TIMESTAMP) AS click_ts,
        |    max(event_id) AS click_event_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT purchase_id, user_id, purchase_ts, click_event_id, click_ts
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.c_user AND p.purchase_ts >= c.click_ts
        |ORDER BY purchase_id""".stripMargin,
    // tolerance = null out matches staler than 1h (merge_asof semantics)
    "q_asof_tolerance" ->
      """WITH p AS (SELECT event_id AS purchase_id, user_id,
        |    CAST(ts AS TIMESTAMP) AS purchase_ts
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id AS c_user, CAST(ts AS TIMESTAMP) AS click_ts,
        |    max(event_id) AS click_event_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |j AS (SELECT purchase_id, user_id, purchase_ts, click_event_id, click_ts
        |  FROM p ASOF LEFT JOIN c
        |    ON p.user_id = c.c_user AND p.purchase_ts >= c.click_ts)
        |SELECT purchase_id, user_id, purchase_ts,
        |  CASE WHEN click_ts >= purchase_ts - INTERVAL 1 HOUR
        |    THEN click_event_id END AS click_event_id,
        |  CASE WHEN click_ts >= purchase_ts - INTERVAL 1 HOUR
        |    THEN click_ts END AS click_ts
        |FROM j ORDER BY purchase_id""".stripMargin,
    "q_range_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id,
        |    CAST(ts AS TIMESTAMP) AS click_ts
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id AS p_user,
        |    CAST(ts AS TIMESTAMP) AS p_ts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT click_id, purchase_id, user_id
        |FROM c JOIN p ON user_id = p_user
        |  AND click_ts >= p_ts - INTERVAL 1 HOUR AND click_ts < p_ts
        |ORDER BY click_id, purchase_id""".stripMargin,
    "q_attribution_linear" ->
      """WITH c AS (SELECT event_id AS click_id, user_id,
        |    CAST(ts AS TIMESTAMP) AS click_ts
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id AS p_user, value AS p_value,
        |    CAST(ts AS TIMESTAMP) AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT click_id, purchase_id, user_id, p_value
        |  FROM c JOIN p ON user_id = p_user
        |    AND click_ts >= p_ts - INTERVAL 1 HOUR AND click_ts < p_ts)
        |SELECT click_id, purchase_id, user_id,
        |  p_value / COUNT(*) OVER (PARTITION BY purchase_id) AS credit
        |FROM j ORDER BY click_id, purchase_id""".stripMargin,
    "q_top_paths" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
        |f AS (SELECT *, CASE
        |    WHEN ts_us - lag(ts_us) OVER w > 1800000000 THEN 1
        |    WHEN lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |n AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS session_seq FROM f),
        |c AS (SELECT *, row_number() OVER (PARTITION BY user_id, session_seq
        |    ORDER BY ts_us, event_id) AS pos FROM n),
        |p AS (SELECT user_id, session_seq,
        |    string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
        |  FROM c WHERE pos <= 64 AND event_type IS NOT NULL
        |  GROUP BY user_id, session_seq)
        |SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,
    "q_lead_lag" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events)
        |SELECT event_id, user_id, ts,
        |  epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS us_since_prev,
        |  epoch_us(lead(ts, 1) OVER w) - epoch_us(ts) AS us_to_next,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  first_value(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS first_event
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,
    // top-10 heavy keys; deterministic tiebreak (count desc, key asc);
    // share = exact-int / exact-int
    "q_skew_profile" ->
      """WITH per AS (SELECT user_id, COUNT(*) AS n_events
        |  FROM events GROUP BY user_id),
        |t AS (SELECT COUNT(*) AS total FROM events)
        |SELECT user_id, n_events, CAST(n_events AS DOUBLE) / total AS share
        |FROM per CROSS JOIN t
        |ORDER BY n_events DESC, user_id LIMIT 10""".stripMargin,
    // ROWS frames over the unique (ts, event_id) order; decimal frame sums
    // cast to double at the end
    "q_rolling_features" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events)
        |SELECT event_id, user_id,
        |  COUNT(*) OVER w5 AS roll_n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w5 AS DOUBLE) AS roll_sum,
        |  MIN(value) OVER w5 AS roll_min,
        |  MAX(value) OVER w5 AS roll_max,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER wc AS DOUBLE) AS cum_value
        |FROM e WINDOW
        |  w5 AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
        |  wc AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING)
        |ORDER BY event_id""".stripMargin,
    // oracle = the UNSALTED join: salting must be invisible in the result
    // bucketing / storage format are invisible in results (the
    // q_salted_join pattern): the oracles are the plain join + aggregate
    "q_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_orc_roundtrip" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem WHERE l_quantity > 25
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    // export mapping sidecar: one row per typed field (geo struct →
    // geo_point, date → date, array<string> → keyword, numerics split
    // long/double) + n_docs re-counted from the exported JSONL
    "q_export_schema" ->
      """WITH n AS (SELECT COUNT(*) AS n_docs
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
        |SELECT field, es_type, n_docs FROM (VALUES
        |    ('doc_id', 'keyword'), ('o_orderkey', 'long'),
        |    ('c_name', 'keyword'), ('o_totalprice', 'double'),
        |    ('created', 'date'), ('location', 'geo_point'),
        |    ('tags', 'keyword')) AS t(field, es_type)
        |CROSS JOIN n
        |ORDER BY field""".stripMargin,
    // Avro bridge must be format-invisible; last_ship pins the
    // date logical-type round-trip value-exactly
    "q_avro_roundtrip" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue,
        |  MAX(CAST(l_shipdate AS DATE)) AS last_ship
        |FROM lineitem WHERE l_quantity > 25
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_salted_join" ->
      """WITH stats AS (SELECT event_type,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/COUNT(*) AS type_avg
        |  FROM events GROUP BY event_type)
        |SELECT event_id, e.event_type, COALESCE(value, 0.0) AS value, type_avg,
        |  COALESCE(value, 0.0) > type_avg AS above_avg
        |FROM events e JOIN stats USING (event_type)
        |ORDER BY event_id""".stripMargin,
    // skew evidence: the reduce-unit distributions are pure functions of
    // the data (per-key counts; ceil-chunking; the deterministic
    // event_id % 8 salt), and the n_rows/n_above invariance columns come
    // from the PLAIN join — mitigation must be invisible in values
    "q_skew_evidence" ->
      """WITH stats AS (SELECT event_type,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)/COUNT(*) AS type_avg
        |  FROM events GROUP BY event_type),
        |res AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(CASE WHEN COALESCE(value, 0.0) > type_avg
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_above
        |  FROM events e JOIN stats USING (event_type)),
        |pk AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM pk),
        |u1 AS (SELECT '1_unsalted' AS strategy,
        |    CAST(COUNT(*) AS BIGINT) AS units,
        |    CAST(MAX(n) AS BIGINT) AS max_unit_rows FROM pk),
        |c2 AS (SELECT n, (n - 1) // 65536 + 1 AS chunks FROM pk),
        |u2 AS (SELECT '2_aqe_split' AS strategy,
        |    CAST(SUM(chunks) AS BIGINT) AS units,
        |    CAST(MAX((n + chunks - 1) // chunks) AS BIGINT) AS max_unit_rows
        |  FROM c2),
        |u3 AS (SELECT '3_salted_8' AS strategy,
        |    CAST(COUNT(*) AS BIGINT) AS units,
        |    CAST(MAX(n) AS BIGINT) AS max_unit_rows
        |  FROM (SELECT event_type, event_id % 8 AS salt, COUNT(*) AS n
        |    FROM events GROUP BY 1, 2)),
        |u AS (SELECT * FROM u1 UNION ALL SELECT * FROM u2
        |  UNION ALL SELECT * FROM u3)
        |SELECT strategy, units, max_unit_rows,
        |  CAST(max_unit_rows * units AS DOUBLE) / total AS skew_ratio,
        |  n_rows, n_above
        |FROM u, tot, res ORDER BY strategy""".stripMargin,
    // cosine on DOUBLE[] columns — bit-matches the Spark kernel's double
    // accumulation (the FLOAT[] overload computes in float)
    "q_knn_cosine" ->
      """WITH ed AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embd
        |    FROM embeddings),
        |q AS (SELECT vec_id AS query_id, embd AS q_embd
        |    FROM ed WHERE vec_id < 10)
        |SELECT query_id, vec_id AS neighbor_id, rank FROM (
        |  SELECT q.query_id, e.vec_id,
        |    CAST(row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_cosine_similarity(q.q_embd, e.embd) DESC, e.vec_id)
        |      AS BIGINT) AS rank
        |  FROM q CROSS JOIN ed e WHERE e.vec_id <> q.query_id)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "q_embed_neardup" ->
      """WITH ed AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embd
        |    FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM ed a JOIN ed b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embd, b.embd) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,
    // the sketch-family oracles (minhash/simhash/winnow) replay the md5-lane
    // kernels exactly: TextSketch hashes each shingle/token with md5 and
    // takes the little-endian 64-bit lanes — the SAME values DuckDB's
    // md5_number_lower/upper produce — and every comparison on lanes is
    // unsigned on both engines (UBIGINT there, Long.compareUnsigned here).
    // Kirsch-Mitzenmacher g_j = h1 + j*h2 wraps mod 2^64 → HUGEINT % 2^64.
    "q_minhash_neardup" ->
      s"""WITH $minhashSigCtes,
        |pr AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.sig AS sa, b.sig AS sb
        |  FROM bk a JOIN bk b ON a.band = b.band AND a.bslice = b.bslice
        |    AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |  CAST(len(list_filter(range(32), i -> sa[i+1] = sb[i+1])) AS DOUBLE) / 32.0
        |    AS est_jaccard
        |FROM pr ORDER BY doc_a, doc_b""".stripMargin,
    // incremental dedup replay: both generations' sketches (the shared
    // md5-lane minhash CTEs), the historical store contents (he = exact
    // fps, hist-side bk rows = the band store), and both joins — exact-dup
    // precedence over near-dup, canonical match = min historical id. The
    // testdata has no exact cross-generation text dups (both engines emit
    // zero exact_dup rows — the join still runs); the positive exact path
    // is pinned in DedupSpec with crafted generations.
    "q_dedup_incremental" ->
      s"""WITH $minhashSigCtes,
        |fp AS (SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
        |  FROM documents),
        |he AS (SELECT fp, min(doc_id) AS keep_id FROM fp WHERE doc_id % 5 <> 4 GROUP BY fp),
        |ex AS (SELECT f.doc_id, he.keep_id AS exact_id FROM fp f JOIN he USING (fp)
        |  WHERE f.doc_id % 5 = 4),
        |cand AS (SELECT DISTINCT b.doc_id AS doc_id, h.doc_id AS hist_id,
        |    b.sig AS sb, h.sig AS sh2
        |  FROM bk b JOIN bk h ON b.band = h.band AND b.bslice = h.bslice
        |  WHERE b.doc_id % 5 = 4 AND h.doc_id % 5 <> 4),
        |near AS (SELECT doc_id, min(hist_id) AS near_id FROM cand
        |  WHERE CAST(len(list_filter(range(32), i -> sb[i+1] = sh2[i+1])) AS DOUBLE)/32.0 >= 0.5
        |  GROUP BY doc_id)
        |SELECT b.doc_id,
        |  CASE WHEN ex.exact_id IS NOT NULL THEN 'exact_dup'
        |       WHEN near.near_id IS NOT NULL THEN 'near_dup'
        |       ELSE 'unique' END AS status,
        |  COALESCE(ex.exact_id, near.near_id) AS match_id
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 4) b
        |LEFT JOIN ex ON b.doc_id = ex.doc_id
        |LEFT JOIN near ON b.doc_id = near.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    // simhash replay via the 64-bit BIT LIST (sign of the per-bit vote sum):
    // chunk keys are 16-bit reassemblies of the bits, hamming = count of
    // differing bit positions = bit_count(xor) on the Spark side
    "q_simhash" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |th AS (SELECT doc_id, md5_number_lower(t) AS h
        |  FROM (SELECT doc_id, unnest(ws) AS t FROM w)),
        |v AS (SELECT doc_id, b,
        |    SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM th CROSS JOIN (SELECT unnest(range(64)) AS b)
        |  GROUP BY doc_id, b),
        |bits AS (SELECT doc_id,
        |    list(CASE WHEN vote > 0 THEN 1 ELSE 0 END ORDER BY b) AS bl
        |  FROM v GROUP BY doc_id),
        |bk AS (SELECT doc_id, bl, c,
        |    CAST(list_sum(list_transform(range(16), i -> bl[c*16 + i + 1] * (1 << i))) AS INT) AS ckey
        |  FROM bits CROSS JOIN (SELECT unnest(range(4)) AS c)),
        |pr AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.bl AS ba, b.bl AS bb
        |  FROM bk a JOIN bk b ON a.c = b.c AND a.ckey = b.ckey AND a.doc_id < b.doc_id),
        |hm AS (SELECT doc_a, doc_b,
        |    CAST(len(list_filter(range(64), i -> ba[i+1] <> bb[i+1])) AS BIGINT) AS hamming
        |  FROM pr)
        |SELECT doc_a, doc_b, hamming FROM hm WHERE hamming <= 16
        |ORDER BY doc_a, doc_b""".stripMargin,
    // winnow replay: ordered 3-gram hash sequence, min of each 4-wide
    // sliding window (tie rule irrelevant — only the VALUE is kept),
    // distinct fingerprints, pairs weighted by shared count
    "q_winnow_neardup" ->
      """WITH w AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |      ELSE list_transform(generate_series(1, len(ws) - 2),
        |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END AS sg
        |  FROM w),
        |hx AS (SELECT doc_id, len(sg) AS m,
        |    unnest(range(1, len(sg) + 1)) AS i,
        |    md5_number_lower(unnest(sg)) AS h
        |  FROM sh),
        |win AS (SELECT doc_id, i, m,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY i
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        |  FROM hx),
        |kept AS (SELECT DISTINCT doc_id, wmin AS fp FROM win
        |  WHERE i <= greatest(m - 3, 1))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin,
    // exact word-3gram Jaccard — same normalization as TextSketch.words
    // (lower, trim, split \s+), whole-text shingle for docs < 3 words,
    // Jaccard over DISTINCT shingles
    "q_ngram_jaccard" ->
      """WITH w AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |      ELSE list_transform(generate_series(1, len(ws) - 2),
        |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS sg
        |  FROM w),
        |p AS (SELECT doc_id, len(sg) AS n, unnest(sg) AS s FROM sh)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM p a JOIN p b ON a.s = b.s AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id, a.n, b.n
        |HAVING CAST(COUNT(*) AS DOUBLE) / (a.n + b.n - COUNT(*)) >= 0.03
        |ORDER BY doc_a, doc_b""".stripMargin,
    // prefix-filter completeness proof: the oracle is the FULL exact
    // Jaccard join (no prefix filter) — hash equality every round means
    // the prefix candidate set missed nothing. Jaccard emitted as the
    // same single double division of exact integers on both sides.
    "q_setjoin_prefix" ->
      """WITH w AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |      ELSE list_transform(generate_series(1, len(ws) - 2),
        |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS sg
        |  FROM w),
        |p AS (SELECT doc_id, len(sg) AS n, unnest(sg) AS s FROM sh)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(COUNT(*) AS DOUBLE) / (a.n + b.n - COUNT(*)) AS jaccard
        |FROM p a JOIN p b ON a.s = b.s AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id, a.n, b.n
        |HAVING CAST(COUNT(*) AS DOUBLE) / (a.n + b.n - COUNT(*)) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // the neighborhood join's completeness proof: DuckDB brute-forces
    // levenshtein over all pairs, Spark only meets candidates that share a
    // deletion key — a hash mismatch here would mean a missed pair
    // entity resolution: dirty-mention construction (every 10th customer
    // gets a C→K typo duplicate), brute-force levenshtein × exact-balance
    // pairs (re-proving the deletion-neighborhood blocking complete) →
    // the q_dedup_clusters recursive min-label CTE → field survivorship
    "q_entity_resolution" ->
      """WITH RECURSIVE m AS (
        |  SELECT c_custkey*2 AS m_id, c_name AS m_name, c_acctbal
        |    FROM customer
        |  UNION ALL
        |  SELECT c_custkey*2+1, replace(c_name, 'C', 'K'), c_acctbal
        |    FROM customer WHERE c_custkey % 10 = 0),
        |p AS (SELECT a.m_id AS src, b.m_id AS dst
        |  FROM m a JOIN m b ON a.m_id < b.m_id
        |    AND a.c_acctbal = b.c_acctbal
        |    AND levenshtein(a.m_name, b.m_name) <= 1),
        |ed AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
        |reach(id, r) AS (
        |  SELECT m_id, m_id FROM m
        |  UNION
        |  SELECT reach.id, ed.dst FROM reach JOIN ed ON reach.r = ed.src),
        |lab AS (SELECT id, CAST(MIN(r) AS BIGINT) AS component
        |  FROM reach GROUP BY id)
        |SELECT lab.component, CAST(COUNT(*) AS BIGINT) AS n_members,
        |  MIN(m.m_name) AS canonical_name,
        |  CAST(MAX(CAST(m.c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
        |    AS best_acctbal,
        |  string_agg(CAST(m.m_id AS VARCHAR), ','
        |    ORDER BY m.m_id) AS member_keys
        |FROM lab JOIN m ON m.m_id = lab.id
        |GROUP BY lab.component HAVING COUNT(*) > 1
        |ORDER BY lab.component""".stripMargin,
    // incremental entity resolution: the oracle is the FROM-SCRATCH
    // recursive CTE above VERBATIM — the driver hash re-proves
    // incremental == batch on the full linkage pipeline every round
    "q_entity_resolution_incremental" ->
      """WITH RECURSIVE m AS (
        |  SELECT c_custkey*2 AS m_id, c_name AS m_name, c_acctbal
        |    FROM customer
        |  UNION ALL
        |  SELECT c_custkey*2+1, replace(c_name, 'C', 'K'), c_acctbal
        |    FROM customer WHERE c_custkey % 10 = 0),
        |p AS (SELECT a.m_id AS src, b.m_id AS dst
        |  FROM m a JOIN m b ON a.m_id < b.m_id
        |    AND a.c_acctbal = b.c_acctbal
        |    AND levenshtein(a.m_name, b.m_name) <= 1),
        |ed AS (SELECT src, dst FROM p UNION ALL SELECT dst, src FROM p),
        |reach(id, r) AS (
        |  SELECT m_id, m_id FROM m
        |  UNION
        |  SELECT reach.id, ed.dst FROM reach JOIN ed ON reach.r = ed.src),
        |lab AS (SELECT id, CAST(MIN(r) AS BIGINT) AS component
        |  FROM reach GROUP BY id)
        |SELECT lab.component, CAST(COUNT(*) AS BIGINT) AS n_members,
        |  MIN(m.m_name) AS canonical_name,
        |  CAST(MAX(CAST(m.c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
        |    AS best_acctbal,
        |  string_agg(CAST(m.m_id AS VARCHAR), ','
        |    ORDER BY m.m_id) AS member_keys
        |FROM lab JOIN m ON m.m_id = lab.id
        |GROUP BY lab.component HAVING COUNT(*) > 1
        |ORDER BY lab.component""".stripMargin,
    // Apriori rules: the oracle prunes at the same absolute supports and
    // replays confidence/lift as the same exact-int IEEE divisions; a
    // missed pair (broken prune) or swapped direction hash-fails
    "q_assoc_rules" ->
      """WITH basket AS (SELECT DISTINCT l_orderkey AS okey,
        |    l_partkey AS pkey FROM lineitem),
        |marg AS (SELECT pkey, COUNT(*) AS n_item FROM basket GROUP BY 1),
        |no AS (SELECT COUNT(DISTINCT okey) AS n_orders FROM basket),
        |fb AS (SELECT b.okey, b.pkey, m.n_item FROM basket b
        |  JOIN marg m USING (pkey) WHERE m.n_item >= 25),
        |pairs AS (SELECT a.pkey AS p_a, b.pkey AS p_b,
        |    a.n_item AS n_a, b.n_item AS n_b, COUNT(*) AS n_ab
        |  FROM fb a JOIN fb b ON a.okey = b.okey AND a.pkey < b.pkey
        |  GROUP BY 1, 2, 3, 4 HAVING COUNT(*) >= 3),
        |rules AS (
        |  SELECT p_a AS antecedent, p_b AS consequent,
        |    n_a AS n_ant, n_b AS n_cons, n_ab FROM pairs
        |  UNION ALL
        |  SELECT p_b, p_a, n_b, n_a, n_ab FROM pairs)
        |SELECT antecedent, consequent, CAST(n_ab AS BIGINT) AS n_ab,
        |  CAST(n_ant AS BIGINT) AS n_ant, CAST(n_cons AS BIGINT) AS n_cons,
        |  CAST(n_ab AS DOUBLE) / n_ant AS confidence,
        |  CAST(n_ab * no.n_orders AS DOUBLE) / (n_ant * n_cons) AS lift
        |FROM rules, no
        |ORDER BY antecedent, consequent""".stripMargin,
    // full exact containment join — completeness proof for the asymmetric
    // prefix filter; τ in integer form so no float threshold boundary
    "q_containment" ->
      """WITH w AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |      ELSE list_transform(generate_series(1, len(ws) - 2),
        |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS sg
        |  FROM w),
        |p AS (SELECT doc_id, len(sg) AS n, unnest(sg) AS s FROM sh)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(COUNT(*) AS DOUBLE) / a.n AS containment
        |FROM p a JOIN p b ON a.s = b.s AND a.doc_id <> b.doc_id
        |GROUP BY a.doc_id, b.doc_id, a.n
        |HAVING 3 * COUNT(*) >= 2 * a.n
        |ORDER BY doc_a, doc_b""".stripMargin,
    // PSI terms snapped to the 2^-16 grid pre-sum (the BM25 ln
    // discipline); binning is IEEE divide+floor, identical both engines
    "q_drift_psi" ->
      """WITH e AS (SELECT event_type,
        |    CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END AS cohort,
        |    CASE WHEN ts >= TIMESTAMP '2024-01-16' AND event_type = 'purchase'
        |      THEN value * 1.5 ELSE value END AS v
        |  FROM events),
        |b AS (SELECT event_type, cohort,
        |    CAST(least(floor(v / 50.0), 9) AS BIGINT) AS bin FROM e),
        |bins AS (SELECT DISTINCT event_type, unnest(range(10)) AS bin FROM b),
        |c AS (SELECT event_type, bin,
        |    COUNT(*) FILTER (cohort = 0) AS n0,
        |    COUNT(*) FILTER (cohort = 1) AS n1
        |  FROM b GROUP BY 1, 2),
        |f AS (SELECT bins.event_type, bins.bin,
        |    coalesce(c.n0, 0) AS n0, coalesce(c.n1, 0) AS n1
        |  FROM bins LEFT JOIN c
        |    ON bins.event_type = c.event_type AND bins.bin = c.bin),
        |tot AS (SELECT event_type, SUM(n0) AS t0, SUM(n1) AS t1
        |  FROM f GROUP BY 1),
        |terms AS (SELECT f.event_type, tot.t0, tot.t1,
        |    CAST(f.n0 + 1 AS DOUBLE) / (tot.t0 + 10) AS p,
        |    CAST(f.n1 + 1 AS DOUBLE) / (tot.t1 + 10) AS q
        |  FROM f JOIN tot USING (event_type))
        |SELECT event_type, CAST(max(t0) AS BIGINT) AS n_before,
        |  CAST(max(t1) AS BIGINT) AS n_after,
        |  SUM(floor((p - q) * ln(p / q) * 65536.0) / 65536.0) AS psi
        |FROM terms GROUP BY 1 ORDER BY event_type""".stripMargin,
    // sliding windows: each event expands to its two hour-aligned
    // 2h-window starts
    "q_window_sliding" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |    FROM events),
        |b AS (SELECT unnest([date_trunc('hour', ts),
        |    date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS bucket,
        |    event_type, value FROM e)
        |SELECT bucket, event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // binned-ECDF KS: every CDF value is one long/long IEEE division
    // (correctly rounded both engines), diff and max exact — no snapping
    "q_drift_ks" ->
      """WITH e AS (SELECT event_type,
        |    CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 0 ELSE 1 END AS cohort,
        |    CASE WHEN ts >= TIMESTAMP '2024-01-16' AND event_type = 'purchase'
        |      THEN value * 1.5 ELSE value END AS v
        |  FROM events),
        |b AS (SELECT event_type, cohort,
        |    CAST(least(floor(v / 50.0), 9) AS BIGINT) AS bin FROM e),
        |bins AS (SELECT DISTINCT event_type, unnest(range(10)) AS bin FROM b),
        |c AS (SELECT event_type, bin,
        |    COUNT(*) FILTER (cohort = 0) AS n0,
        |    COUNT(*) FILTER (cohort = 1) AS n1
        |  FROM b GROUP BY 1, 2),
        |f AS (SELECT bins.event_type, bins.bin,
        |    coalesce(c.n0, 0) AS n0, coalesce(c.n1, 0) AS n1
        |  FROM bins LEFT JOIN c
        |    ON bins.event_type = c.event_type AND bins.bin = c.bin),
        |cum AS (SELECT event_type, bin, n0, n1,
        |    SUM(n0) OVER (PARTITION BY event_type ORDER BY bin
        |      ROWS UNBOUNDED PRECEDING) AS c0,
        |    SUM(n1) OVER (PARTITION BY event_type ORDER BY bin
        |      ROWS UNBOUNDED PRECEDING) AS c1
        |  FROM f),
        |tot AS (SELECT event_type, CAST(SUM(n0) AS BIGINT) AS t0,
        |    CAST(SUM(n1) AS BIGINT) AS t1 FROM f GROUP BY 1)
        |SELECT cum.event_type, CAST(max(t0) AS BIGINT) AS n_before,
        |  CAST(max(t1) AS BIGINT) AS n_after,
        |  max(abs(CAST(c0 AS DOUBLE) / t0 - CAST(c1 AS DOUBLE) / t1)) AS ks
        |FROM cum JOIN tot USING (event_type)
        |GROUP BY cum.event_type ORDER BY cum.event_type""".stripMargin,
    "q_fuzzy_join" ->
      """SELECT a.c_custkey AS id1, b.c_custkey AS id2,
        |  a.c_name AS name1, b.c_name AS name2,
        |  CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_custkey < b.c_custkey
        |  AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id1, id2""".stripMargin,
    // presence markers, not value-null checks; +5.0 is an exact IEEE add
    // so changed-ness is bit-decidable in both engines
    "q_table_diff" ->
      """WITH old AS (SELECT o_orderkey, 1 AS in_old,
        |    o_totalprice AS old_price
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |new AS (SELECT o_orderkey, 1 AS in_new,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 5.0
        |      ELSE o_totalprice END AS new_price
        |  FROM orders WHERE o_orderkey % 5 <> 0),
        |d AS (SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
        |    old_price, new_price,
        |    CASE WHEN in_old IS NULL THEN 'added'
        |      WHEN in_new IS NULL THEN 'removed'
        |      WHEN old_price IS DISTINCT FROM new_price THEN 'changed'
        |      ELSE 'unchanged' END AS status
        |  FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey)
        |SELECT o_orderkey, status, old_price, new_price FROM d
        |WHERE status <> 'unchanged' ORDER BY o_orderkey""".stripMargin,
    "q_merge_upsert" ->
      """WITH base AS (SELECT o_orderkey, 1 AS in_base, o_custkey,
        |    o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderkey % 3 <> 0),
        |delta AS (SELECT o_orderkey, 1 AS in_delta,
        |    o_custkey AS d_custkey, o_totalprice + 10.0 AS d_price,
        |    'MERGED' AS d_priority
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT COALESCE(base.o_orderkey, delta.o_orderkey) AS o_orderkey,
        |  COALESCE(d_custkey, o_custkey) AS o_custkey,
        |  CASE WHEN in_delta IS NOT NULL THEN d_price
        |    ELSE o_totalprice END AS o_totalprice,
        |  CASE WHEN in_delta IS NOT NULL THEN d_priority
        |    ELSE o_orderpriority END AS o_orderpriority,
        |  CASE WHEN in_base IS NULL THEN 'inserted'
        |    WHEN in_delta IS NULL THEN 'kept'
        |    ELSE 'updated' END AS action
        |FROM base FULL OUTER JOIN delta ON base.o_orderkey = delta.o_orderkey
        |ORDER BY o_orderkey""".stripMargin,
    // MERGE with the DELETE arm: matched deletes (key ≡ 0 mod 10) drop
    // the base row, unmatched deletes are no-ops — the WHERE clause after
    // the full outer join IS the delete arm
    "q_merge_delete" ->
      """WITH base AS (SELECT o_orderkey, 1 AS in_base, o_custkey,
        |    o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderkey % 3 <> 0),
        |delta AS (SELECT o_orderkey, 1 AS in_delta,
        |    o_custkey AS d_custkey, o_totalprice + 10.0 AS d_price,
        |    'MERGED' AS d_priority,
        |    CASE WHEN o_orderkey % 10 = 0 THEN 'delete'
        |      ELSE 'upsert' END AS d_op
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT COALESCE(base.o_orderkey, delta.o_orderkey) AS o_orderkey,
        |  COALESCE(d_custkey, o_custkey) AS o_custkey,
        |  CASE WHEN in_delta IS NOT NULL THEN d_price
        |    ELSE o_totalprice END AS o_totalprice,
        |  CASE WHEN in_delta IS NOT NULL THEN d_priority
        |    ELSE o_orderpriority END AS o_orderpriority,
        |  CASE WHEN in_base IS NULL THEN 'inserted'
        |    WHEN in_delta IS NULL THEN 'kept'
        |    ELSE 'updated' END AS action
        |FROM base FULL OUTER JOIN delta ON base.o_orderkey = delta.o_orderkey
        |WHERE d_op IS NULL OR d_op <> 'delete'
        |ORDER BY o_orderkey""".stripMargin,
    // CDF replay: insert/delete one row each, updates emit PRE+POST image
    // pairs; unchanged keys emit nothing. The engine runs this through a
    // real publish → version-read round trip; the oracle replays the
    // feed classes from the same filters over orders.
    "q_change_feed" ->
      """WITH old AS (SELECT o_orderkey, o_totalprice FROM orders
        |    WHERE o_orderkey % 7 <> 0),
        |nu AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 5.0
        |      ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 5 <> 0),
        |j AS (SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
        |    o.o_orderkey AS ko, n.o_orderkey AS kn,
        |    o.o_totalprice AS po, n.o_totalprice AS pn
        |  FROM old o FULL OUTER JOIN nu n ON o.o_orderkey = n.o_orderkey)
        |SELECT k AS o_orderkey, pn AS o_totalprice,
        |    'insert' AS _change_type, '1' AS _from_version,
        |    '2' AS _to_version
        |  FROM j WHERE ko IS NULL
        |UNION ALL SELECT k, po, 'delete', '1', '2' FROM j WHERE kn IS NULL
        |UNION ALL SELECT k, po, 'update_preimage', '1', '2' FROM j
        |  WHERE ko IS NOT NULL AND kn IS NOT NULL
        |    AND po IS DISTINCT FROM pn
        |UNION ALL SELECT k, pn, 'update_postimage', '1', '2' FROM j
        |  WHERE ko IS NOT NULL AND kn IS NOT NULL
        |    AND po IS DISTINCT FROM pn
        |ORDER BY o_orderkey, _change_type""".stripMargin,
    // null event types filtered BEFORE the lead window on both sides;
    // p = int/int in double — no snapping needed
    "q_markov_transitions" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    event_type AS cur_type
        |  FROM events WHERE event_type IS NOT NULL),
        |s AS (SELECT cur_type, lead(cur_type) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM e),
        |c AS (SELECT cur_type, next_type, COUNT(*) AS n FROM s
        |  WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT cur_type, next_type, n,
        |  CAST(n AS DOUBLE) / CAST(SUM(n) OVER
        |    (PARTITION BY cur_type) AS DOUBLE) AS p
        |FROM c ORDER BY cur_type, next_type""".stripMargin,
    // same shingling CTE as q_lm_score; marginals are the bigram table's
    // own left/right totals; ln snapped to the 2^-16 grid
    "q_pmi_collocations" ->
      """WITH wr AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |bg AS (SELECT unnest(CASE WHEN len(ws) < 2
        |    THEN [array_to_string(ws, ' ')]
        |    ELSE list_transform(generate_series(1, len(ws) - 1),
        |      i -> ws[i]||' '||ws[i+1]) END) AS g
        |  FROM wr),
        |b2 AS (SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2
        |  FROM bg WHERE g LIKE '% %'),
        |cxy AS (SELECT w1, w2, COUNT(*) AS n_xy FROM b2 GROUP BY 1, 2),
        |cl AS (SELECT w1, CAST(SUM(n_xy) AS BIGINT) AS n_left FROM cxy
        |  GROUP BY 1),
        |cr AS (SELECT w2, CAST(SUM(n_xy) AS BIGINT) AS n_right FROM cxy
        |  GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS total FROM cxy)
        |SELECT w1, w2, n_xy,
        |  floor(ln((CAST(n_xy AS DOUBLE) * CAST(total AS DOUBLE)) /
        |      (CAST(n_left AS DOUBLE) * CAST(n_right AS DOUBLE)))
        |    * 65536.0) / 65536.0 AS pmi
        |FROM cxy JOIN cl USING (w1) JOIN cr USING (w2) CROSS JOIN t
        |WHERE n_xy >= 5
        |ORDER BY pmi DESC, w1, w2 LIMIT 100""".stripMargin,
    // basket membership = DISTINCT (order, part); cosine is one multiply,
    // one correctly-rounded sqrt, one divide — engine-exact, no snapping
    "q_cooccurrence" ->
      """WITH basket AS (SELECT DISTINCT l_orderkey AS okey,
        |    l_partkey AS pkey FROM lineitem),
        |marg AS (SELECT pkey, COUNT(*) AS n_solo FROM basket GROUP BY 1),
        |pairs AS (SELECT a.pkey AS p_a, b.pkey AS p_b, COUNT(*) AS n_ab
        |  FROM basket a JOIN basket b
        |    ON a.okey = b.okey AND a.pkey < b.pkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        |SELECT p_a, p_b, n_ab, ma.n_solo AS n_a, mb.n_solo AS n_b,
        |  CAST(n_ab AS DOUBLE) /
        |    sqrt(CAST(ma.n_solo AS DOUBLE) * CAST(mb.n_solo AS DOUBLE))
        |    AS cosine
        |FROM pairs
        |JOIN marg ma ON pairs.p_a = ma.pkey
        |JOIN marg mb ON pairs.p_b = mb.pkey
        |ORDER BY p_a, p_b""".stripMargin,
    // the oracle replays the SNAPSHOT RULES directly — the Spark side must
    // round-trip them through publish/readVersion/readPublished to match,
    // so a wrong manifest resolution or version bleed hash-fails here
    "q_time_travel" ->
      """WITH old AS (SELECT o_orderkey, 1 AS in_old,
        |    o_totalprice AS old_price
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |new AS (SELECT o_orderkey, 1 AS in_new,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 5.0
        |      ELSE o_totalprice END AS new_price
        |  FROM orders WHERE o_orderkey % 5 <> 0),
        |d AS (SELECT CASE WHEN in_old IS NULL THEN 'added'
        |      WHEN in_new IS NULL THEN 'removed'
        |      WHEN old_price IS DISTINCT FROM new_price THEN 'changed'
        |      ELSE 'unchanged' END AS status, old_price, new_price
        |  FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey)
        |SELECT status, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(old_price AS DECIMAL(18,2))) AS DOUBLE) AS sum_old,
        |  CAST(SUM(CAST(new_price AS DECIMAL(18,2))) AS DOUBLE) AS sum_new
        |FROM d WHERE status <> 'unchanged'
        |GROUP BY status ORDER BY status""".stripMargin,
    // lake-as-stream: the initial snapshot arrives as inserts
    // (_from_version 'initial'), then the e1→e2 feed — q_change_feed's
    // oracle join relabeled to the epoch version names
    "q_stream_change_feed" ->
      """WITH old AS (SELECT o_orderkey, o_totalprice FROM orders
        |    WHERE o_orderkey % 7 <> 0),
        |nu AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 5.0
        |      ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 5 <> 0),
        |j AS (SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
        |    o.o_orderkey AS ko, n.o_orderkey AS kn,
        |    o.o_totalprice AS po, n.o_totalprice AS pn
        |  FROM old o FULL OUTER JOIN nu n ON o.o_orderkey = n.o_orderkey)
        |SELECT o_orderkey, o_totalprice, 'insert' AS _change_type,
        |    'initial' AS _from_version, 'e1' AS _to_version
        |  FROM old
        |UNION ALL SELECT k, pn, 'insert', 'e1', 'e2' FROM j
        |  WHERE ko IS NULL
        |UNION ALL SELECT k, po, 'delete', 'e1', 'e2' FROM j
        |  WHERE kn IS NULL
        |UNION ALL SELECT k, po, 'update_preimage', 'e1', 'e2' FROM j
        |  WHERE ko IS NOT NULL AND kn IS NOT NULL
        |    AND po IS DISTINCT FROM pn
        |UNION ALL SELECT k, pn, 'update_postimage', 'e1', 'e2' FROM j
        |  WHERE ko IS NOT NULL AND kn IS NOT NULL
        |    AND po IS DISTINCT FROM pn""".stripMargin,
    // the lake stream materializes a DELETION-VECTOR commit as delete
    // rows (label e1+dv), and the next feed diffs against the DELETED
    // state — a resurrecting reader corrupts both
    "q_stream_cdc_delete" ->
      """WITH old AS (SELECT o_orderkey, o_totalprice FROM orders
        |    WHERE o_orderkey % 7 <> 0),
        |afterdel AS (SELECT * FROM old WHERE o_orderkey % 9 <> 0),
        |nu AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 5.0
        |      ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 5 <> 0),
        |j AS (SELECT COALESCE(a.o_orderkey, n.o_orderkey) AS k,
        |    a.o_orderkey AS ko, n.o_orderkey AS kn,
        |    a.o_totalprice AS po, n.o_totalprice AS pn
        |  FROM afterdel a FULL OUTER JOIN nu n
        |    ON a.o_orderkey = n.o_orderkey)
        |SELECT o_orderkey, o_totalprice, 'insert' AS _change_type,
        |    'initial' AS _from_version, 'e1' AS _to_version
        |  FROM old
        |UNION ALL SELECT o_orderkey, o_totalprice, 'delete', 'e1',
        |    'e1+dv'
        |  FROM old WHERE o_orderkey % 9 = 0
        |UNION ALL SELECT k, pn, 'insert', 'e1+dv', 'e2' FROM j
        |  WHERE ko IS NULL
        |UNION ALL SELECT k, po, 'delete', 'e1+dv', 'e2' FROM j
        |  WHERE kn IS NULL
        |UNION ALL SELECT k, po, 'update_preimage', 'e1+dv', 'e2' FROM j
        |  WHERE ko IS NOT NULL AND kn IS NOT NULL
        |    AND po IS DISTINCT FROM pn
        |UNION ALL SELECT k, pn, 'update_postimage', 'e1+dv', 'e2' FROM j
        |  WHERE ko IS NOT NULL AND kn IS NOT NULL
        |    AND po IS DISTINCT FROM pn""".stripMargin,
    // end-to-end CDC replication: the replica's content is the closed
    // form of snapshot → vector delete → merge, one replica version per
    // source commit
    "q_table_replicate" ->
      """WITH old AS (SELECT o_orderkey, o_totalprice FROM orders
        |    WHERE o_orderkey % 7 <> 0),
        |afterdel AS (SELECT * FROM old WHERE o_orderkey % 9 <> 0),
        |delta AS (SELECT o_orderkey, o_totalprice + 10.0 AS d_price
        |  FROM orders WHERE o_orderkey % 5 = 0)
        |SELECT COALESCE(d.o_orderkey, a.o_orderkey) AS o_orderkey,
        |  CASE WHEN d.o_orderkey IS NOT NULL THEN d.d_price
        |    ELSE a.o_totalprice END AS o_totalprice,
        |  CAST(3 AS BIGINT) AS n_replica_versions
        |FROM afterdel a FULL OUTER JOIN delta d
        |  ON a.o_orderkey = d.o_orderkey""".stripMargin,
    // AS OF TIMESTAMP: the oracle replays the resolution rule's four
    // cases directly (between / exactly-on / between / after) — a wrong
    // ≤-boundary or version mix-up changes resolved_version AND the mass
    "q_time_travel_ts" ->
      """WITH v1 AS (SELECT COUNT(*) AS n_rows,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_price
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |v2 AS (SELECT COUNT(*) AS n_rows,
        |    CAST(SUM(CAST(CASE WHEN o_orderkey % 3 = 0
        |        THEN o_totalprice + 5.0 ELSE o_totalprice END
        |      AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |v3 AS (SELECT COUNT(*) AS n_rows,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_price
        |  FROM orders WHERE o_orderkey % 5 <> 0)
        |SELECT CAST(1500 AS BIGINT) AS probe_ts, '1' AS resolved_version,
        |  n_rows, sum_price FROM v1
        |UNION ALL SELECT CAST(2000 AS BIGINT), '2', n_rows, sum_price
        |  FROM v2
        |UNION ALL SELECT CAST(2500 AS BIGINT), '2', n_rows, sum_price
        |  FROM v2
        |UNION ALL SELECT CAST(9000 AS BIGINT), '3', n_rows, sum_price
        |  FROM v3
        |ORDER BY probe_ts""".stripMargin,
    // commit-log checkpoint: 12 appends (pointer rolled at 10) → probe
    // resolution examines 3 (2 probes + the pointer read), never the 12
    // live records; the mass re-proves the resolved state is unchanged
    "q_commit_checkpoint" ->
      """SELECT COUNT(*) AS n_rows,
        |  COUNT(DISTINCT o_orderkey) AS n_distinct,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price,
        |  CAST(12 AS BIGINT) AS latest_seq,
        |  CAST(12 AS BIGINT) AS records_live,
        |  CAST(3 AS BIGINT) AS n_examined,
        |  CAST(1 AS BIGINT) AS used_checkpoint
        |FROM orders""".stripMargin,
    // bounded task retry: the publish stage's torn first attempt must be
    // invisible through the manifest; attempts (1, 2) are the evidence
    "q_pipeline_retry" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue,
        |  CAST(1 AS BIGINT) AS attempts_format,
        |  CAST(2 AS BIGINT) AS attempts_publish
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // evolving MERGE: the delta's NEW column (o_orderpriority) appends to
    // the schema — delta rows carry it, pre-existing base rows
    // null-backfill ('kept'); the FULL OUTER JOIN form with the added
    // column is the oracle
    "q_merge_evolve" ->
      """WITH base AS (SELECT o_orderkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 3 <> 0),
        |delta AS (SELECT o_orderkey, o_totalprice + 10.0 AS d_price,
        |    o_orderpriority AS d_prio
        |  FROM orders WHERE o_orderkey % 2 = 0)
        |SELECT COALESCE(delta.o_orderkey, base.o_orderkey) AS o_orderkey,
        |  CASE WHEN delta.o_orderkey IS NOT NULL THEN d_price
        |    ELSE base.o_totalprice END AS o_totalprice,
        |  d_prio AS o_orderpriority,
        |  CASE WHEN d_prio IS NULL THEN 'kept'
        |    WHEN COALESCE(delta.o_orderkey, base.o_orderkey) % 3 = 0
        |      THEN 'inserted'
        |    ELSE 'updated' END AS action
        |FROM base FULL OUTER JOIN delta
        |  ON base.o_orderkey = delta.o_orderkey""".stripMargin,
    // image aHash replay in byte arithmetic: pixel (r,c) of the 32-wide
    // pad-0 gray image IS byte r*32+c, samples at the 8×8 cell centers,
    // bit = v*64 >= Σv (ties set), chunk keys + bit-list hamming exactly
    // as the q_simhash oracle — a codec defect on the Spark side flips
    // bits and hash-fails here
    "q_image_phash" ->
      """WITH b AS (SELECT doc_id, encode(text) AS bl FROM documents),
        |s AS (SELECT doc_id,
        |    greatest(1, CAST(ceil(octet_length(bl) / 32.0) AS BIGINT)) AS h,
        |    list_transform(range(CAST(octet_length(bl) AS INT)),
        |      i -> CAST(('0x' || substr(hex(bl), CAST(i*2+1 AS INT), 2)) AS INT))
        |      AS bs
        |  FROM b),
        |v AS (SELECT doc_id,
        |    list_transform(range(64), q ->
        |      coalesce(bs[CAST(((2*(q//8)+1)*h)//16 * 32
        |        + (2*(q%8)+1)*2 + 1 AS INT)], 0)) AS vq
        |  FROM s),
        |bits AS (SELECT doc_id,
        |    list_transform(vq, x ->
        |      CASE WHEN x * 64 >= list_sum(vq) THEN 1 ELSE 0 END) AS bl
        |  FROM v),
        |bk AS (SELECT doc_id, bl, c,
        |    list_sum(list_transform(range(16),
        |      i -> bl[CAST(c*16+i+1 AS INT)] * (1 << i))) AS ckey
        |  FROM bits CROSS JOIN (SELECT unnest(range(4)) AS c)),
        |pr AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.bl AS ba, b.bl AS bb
        |  FROM bk a JOIN bk b
        |    ON a.c = b.c AND a.ckey = b.ckey AND a.doc_id < b.doc_id),
        |hm AS (SELECT doc_a, doc_b,
        |    CAST(len(list_filter(range(64), i -> ba[i+1] <> bb[i+1]))
        |      AS BIGINT) AS hamming
        |  FROM pr)
        |SELECT doc_a, doc_b, hamming FROM hm WHERE hamming <= 8
        |ORDER BY doc_a, doc_b""".stripMargin,
    // CAS-publish race: whichever writer wins the first commit, the final
    // table is even-keys ∪ odd-keys exactly once — so the oracle is the
    // plain per-half aggregate; the commit-count and abort literals pin
    // "2 commits, no lost version, stale single-shot refused"
    "q_concurrent_publish" ->
      """SELECT CAST(o_orderkey % 2 AS BIGINT) AS writer,
        |  COUNT(*) AS n_rows,
        |  COUNT(DISTINCT o_orderkey) AS n_distinct,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price,
        |  CAST(2 AS BIGINT) AS n_commits,
        |  CAST(1 AS BIGINT) AS stale_publish_aborted
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // survivors = base minus BOTH racing predicates; the literals pin the
    // protocol evidence (2 log records, stale claim lost)
    "q_concurrent_delete" ->
      """SELECT COUNT(*) AS n_rows,
        |  COUNT(DISTINCT o_orderkey) AS n_distinct,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price,
        |  CAST(2 AS BIGINT) AS n_commits,
        |  CAST(1 AS BIGINT) AS stale_delete_lost
        |FROM orders
        |WHERE NOT (o_orderkey % 10 = 0)
        |  AND NOT (o_totalprice > 200000.0)""".stripMargin,
    // the committed MERGE: identical FULL OUTER JOIN + CASE as the
    // non-committed merges, with the deletion vector's predicate folded
    // into the base CTE (the merge reads THROUGH the vector)
    "q_merge_publish" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |  FROM orders
        |  WHERE o_orderkey % 3 <> 0 AND NOT (o_custkey % 7 = 0)
        |), delta AS (
        |  SELECT o_orderkey, o_custkey,
        |    o_totalprice + 10.0 AS o_totalprice,
        |    'MERGED' AS o_orderpriority,
        |    CASE WHEN o_orderkey % 10 = 0 THEN 'delete' ELSE 'upsert'
        |      END AS d_op
        |  FROM orders WHERE o_orderkey % 2 = 0
        |)
        |SELECT COALESCE(d.o_orderkey, b.o_orderkey) AS o_orderkey,
        |  CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_custkey
        |    ELSE b.o_custkey END AS o_custkey,
        |  CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_totalprice
        |    ELSE b.o_totalprice END AS o_totalprice,
        |  CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_orderpriority
        |    ELSE b.o_orderpriority END AS o_orderpriority
        |FROM base b FULL OUTER JOIN delta d
        |  ON b.o_orderkey = d.o_orderkey
        |WHERE NOT (d.o_orderkey IS NOT NULL AND d.d_op = 'delete')
        |ORDER BY 1""".stripMargin,
    // the CDC apply stream: key-disjoint chunks make the serialized
    // per-epoch merges compose to ONE whole-delta merge — same join +
    // CASE as q_merge_publish, base WITHOUT the DV filter
    "q_stream_merge" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderkey % 3 <> 0
        |), delta AS (
        |  SELECT o_orderkey, o_custkey,
        |    o_totalprice + 10.0 AS o_totalprice,
        |    'MERGED' AS o_orderpriority,
        |    CASE WHEN o_orderkey % 10 = 0 THEN 'delete' ELSE 'upsert'
        |      END AS d_op
        |  FROM orders WHERE o_orderkey % 2 = 0
        |)
        |SELECT COALESCE(d.o_orderkey, b.o_orderkey) AS o_orderkey,
        |  CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_custkey
        |    ELSE b.o_custkey END AS o_custkey,
        |  CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_totalprice
        |    ELSE b.o_totalprice END AS o_totalprice,
        |  CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_orderpriority
        |    ELSE b.o_orderpriority END AS o_orderpriority
        |FROM base b FULL OUTER JOIN delta d
        |  ON b.o_orderkey = d.o_orderkey
        |WHERE NOT (d.o_orderkey IS NOT NULL AND d.d_op = 'delete')
        |ORDER BY 1""".stripMargin,
    // COMMUTING racing mergers: the final table is the closed form of
    // both writers' arms regardless of schedule; the 2-commit literal
    // pins that losing claims create no record
    "q_merge_concurrent" ->
      """WITH survivors AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 <> 0 AND o_orderkey % 10 NOT IN (2, 5, 7)
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice + 10.0 FROM orders
        |  WHERE o_orderkey % 10 = 2
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice + 20.0 FROM orders
        |  WHERE o_orderkey % 10 = 7)
        |SELECT COUNT(*) AS n_rows,
        |  COUNT(DISTINCT o_orderkey) AS n_distinct,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price,
        |  CAST(2 AS BIGINT) AS n_commits
        |FROM survivors""".stripMargin,
    // log retention: 5 appends (records 1-5) → sweep to newest 2 (3
    // removed) → a delete commit claims 6 over the truncated log
    "q_vacuum_commits" ->
      """SELECT COUNT(*) AS n_rows,
        |  COUNT(DISTINCT o_orderkey) AS n_distinct,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price,
        |  CAST(3 AS BIGINT) AS n_removed,
        |  CAST(6 AS BIGINT) AS latest_seq
        |FROM orders
        |WHERE NOT (o_orderkey % 100 = 0)""".stripMargin,
    // per-partition compaction: survivors exclude both DV predicates
    // (small-file share FOLDED, copied-file share CARRIED); the literals
    // pin the per-partition 4→2 file accounting (1 bulk + 3 trickle →
    // 1 copied + 1 compacted in each of the 5 priority partitions)
    "q_compact_partitioned" ->
      """SELECT o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue,
        |  CAST(4 AS BIGINT) AS files_before_part,
        |  CAST(2 AS BIGINT) AS files_after_part,
        |  CAST(15 AS BIGINT) AS files_compacted,
        |  CAST(5 AS BIGINT) AS files_copied
        |FROM orders
        |WHERE NOT (o_orderkey % 10 = 9 OR o_orderkey % 100 = 0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the oracle replays all three clone-lifecycle snapshots from orders:
    // a broken ref pointer (clone_at_clone), a lost/duplicated divergence
    // row (clone_after), or source mutation (src_after) each hash-fail;
    // the n_own_versions literals pin zero-copy + exactly-one-new-version
    "q_shallow_clone" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice FROM orders),
        |s0 AS (SELECT COUNT(*) AS n_rows,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_price FROM o),
        |s1 AS (SELECT COUNT(*) AS n_rows,
        |    CAST(SUM(CAST(CASE WHEN o_orderkey % 3 = 0
        |        THEN o_totalprice + 5.0 ELSE o_totalprice END
        |      AS DECIMAL(18,2))) AS DOUBLE) AS sum_price FROM o)
        |SELECT 'clone_after' AS snapshot, n_rows, sum_price,
        |  CAST(1 AS BIGINT) AS n_own_versions FROM s1
        |UNION ALL SELECT 'clone_at_clone', n_rows, sum_price,
        |  CAST(0 AS BIGINT) FROM s0
        |UNION ALL SELECT 'src_after', n_rows, sum_price,
        |  CAST(1 AS BIGINT) FROM s0
        |ORDER BY snapshot""".stripMargin,
    // post-vacuum facts only: v1 rows appearing, a drifted retained sum,
    // a misread evolved schema (v2 priority non-null) or a wrong surviving
    // directory count would each break the hash
    // deletion vectors: visibility is NOT(p1) AND NOT(p2) over the base
    // table regardless of physical layout; the 8/8 file-count evidence
    // pins that neither delete rewrote a data file
    // survivor algebra of the two point-in-time chain deletes: pred1
    // applies only to the segments that existed when it committed
    // (v1 ∪ v2 = event_id % 3 IN (0, 1)), pred2 to the whole chain; the
    // vector cardinalities replay as scalar subqueries (second = the
    // distinct union of both mark sets)
    "q_evolve_delete" ->
      """WITH d1 AS (SELECT COUNT(*) AS c FROM events
        |    WHERE event_id % 3 IN (0, 1) AND event_id % 10 = 0),
        |dt AS (SELECT COUNT(*) AS c FROM events
        |    WHERE (event_id % 3 IN (0, 1) AND event_id % 10 = 0)
        |      OR value > 400.0)
        |SELECT event_type, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  (SELECT c FROM d1) AS n_pos_v1,
        |  (SELECT c FROM dt) AS n_pos_total
        |FROM events
        |WHERE NOT (event_id % 3 IN (0, 1) AND event_id % 10 = 0)
        |  AND NOT (value > 400.0)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_deletion_vectors" ->
      """SELECT o_orderpriority, CAST(8 AS BIGINT) AS files_before,
        |  CAST(8 AS BIGINT) AS files_after, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |WHERE NOT (o_orderkey % 10 = 0) AND NOT (o_totalprice > 200000.0)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // both tables computed from the SAME subset — a torn snapshot breaks
    // the cross-table invariant and hash-fails
    "q_multi_table_txn" ->
      """WITH s AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
        |a AS (SELECT o_orderpriority, COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS revenue
        |  FROM s GROUP BY 1),
        |b AS (SELECT COUNT(*) AS n_total,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS revenue_total
        |  FROM s)
        |SELECT CAST(2 AS BIGINT) AS txn, o_orderpriority, n_orders,
        |  revenue, n_total, revenue_total
        |FROM a, b ORDER BY o_orderpriority""".stripMargin,
    // erasure proof: physical-absence and version counts are structural
    // zeros/ones; survivors = NOT subject
    "q_gdpr_erase" ->
      """SELECT CAST(0 AS BIGINT) AS n_subject_rows_physical,
        |  CAST(1 AS BIGINT) AS n_versions_left,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer WHERE NOT (c_custkey % 100 = 7)""".stripMargin,
    // selective compaction: invisible in values (plain aggregate); the
    // 8/6/2/3 accounting is deterministic by construction (2 bulk +
    // 6 trickle files, threshold total/20 scales with SF)
    "q_compact_small" ->
      """SELECT o_orderpriority, CAST(8 AS BIGINT) AS files_before,
        |  CAST(6 AS BIGINT) AS files_compacted,
        |  CAST(2 AS BIGINT) AS files_copied,
        |  CAST(3 AS BIGINT) AS files_after, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // partition-overwrite replay: final state = untouched days + the
    // restated day's clicks only + the shifted backfill day
    "q_partition_overwrite" ->
      """WITH e AS (SELECT event_id, ts, event_type, value,
        |    CAST(ts AS DATE) AS day FROM events),
        |final AS (
        |  SELECT * FROM e WHERE day <> DATE '2024-01-10'
        |    AND day <> DATE '2024-02-01'
        |  UNION ALL
        |  SELECT * FROM e
        |  WHERE day = DATE '2024-01-10' AND event_type = 'click'
        |  UNION ALL
        |  SELECT event_id, ts + INTERVAL 31 DAY, event_type, value,
        |    CAST(ts + INTERVAL 31 DAY AS DATE)
        |  FROM e WHERE day = DATE '2024-01-01')
        |SELECT day, COUNT(*) AS n_events,
        |  COUNT(DISTINCT event_type) AS n_types
        |FROM final GROUP BY day ORDER BY day""".stripMargin,
    "q_vacuum" ->
      """WITH o AS (SELECT o_orderkey,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p, o_orderpriority
        |  FROM orders),
        |v2 AS (SELECT '2' AS version, COUNT(*) AS n_rows,
        |    CAST(SUM(p) AS DOUBLE) AS sum_price,
        |    CAST(0 AS BIGINT) AS n_with_priority
        |  FROM o WHERE o_orderkey % 5 <> 0),
        |v3 AS (SELECT '3' AS version, COUNT(*) AS n_rows,
        |    CAST(SUM(p) AS DOUBLE) AS sum_price,
        |    COUNT(o_orderpriority) AS n_with_priority
        |  FROM o WHERE o_orderkey % 3 <> 0)
        |SELECT version, n_rows, sum_price, n_with_priority,
        |  CAST(2 AS BIGINT) AS n_versions_left
        |FROM (SELECT * FROM v2 UNION ALL SELECT * FROM v3)
        |ORDER BY version""".stripMargin,
    // p·ln p snapped to the 2^-16 grid per term → the entropy sum is
    // exact dyadic arithmetic, order-free on both engines
    "q_source_entropy" ->
      """WITH wr AS (SELECT source,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |tk AS (SELECT source, unnest(ws) AS t FROM wr),
        |c AS (SELECT source, t, COUNT(*) AS c FROM tk GROUP BY 1, 2),
        |n AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |    COUNT(*) AS vocab_size FROM c GROUP BY 1)
        |SELECT source, n_tokens, vocab_size,
        |  -SUM(floor((CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE))
        |      * ln(CAST(c AS DOUBLE) / CAST(n_tokens AS DOUBLE))
        |      * 65536.0) / 65536.0) AS entropy
        |FROM c JOIN n USING (source)
        |GROUP BY source, n_tokens, vocab_size
        |ORDER BY source""".stripMargin,
    // ExactSubstr span replay: positioned word-8-gram md5-lane hashes
    // (md5_number_lower = TextSketch.shingleLanes' lower lane), canonical
    // occurrence = min packed (doc_id*2^20 + pos), flagged positions merged
    // into spans by the same gaps-and-islands windows; docs < 8 words are
    // excluded on both sides (their collapse shingle is q_dedup_exact's
    // business)
    "q_substring_dedup" ->
      """WITH w AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |g AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS i
        |  FROM w WHERE len(ws) >= 8),
        |p AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |    md5_number_lower(ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]
        |      ||' '||ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7]) AS h,
        |    doc_id * 1048576 + (i - 1) AS packed
        |  FROM g),
        |f AS (SELECT doc_id, pos, packed,
        |    COUNT(*) OVER (PARTITION BY h) AS cnt,
        |    MIN(packed) OVER (PARTITION BY h) AS keeper
        |  FROM p),
        |fl AS (SELECT doc_id, pos FROM f WHERE cnt >= 2 AND packed <> keeper),
        |b AS (SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
        |      THEN 0 ELSE 1 END AS brk
        |  FROM fl),
        |isl AS (SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id
        |    ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM b)
        |SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 7 AS span_end,
        |  MAX(pos) + 7 - MIN(pos) + 1 AS span_words, COUNT(*) AS n_windows
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,
    // eval set = every 50th doc; contamination = any shared word 8-gram
    // (same normalization as the jaccard oracle)
    "q_decontaminate" ->
      """WITH w AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    list_distinct(CASE WHEN len(ws) < 8 THEN [array_to_string(ws, ' ')]
        |      ELSE list_transform(generate_series(1, len(ws) - 7),
        |        i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||
        |          ws[i+4]||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7]) END) AS sg
        |  FROM w),
        |ev AS (SELECT DISTINCT unnest(sg) AS g FROM sh WHERE doc_id % 50 = 0),
        |tr AS (SELECT doc_id, unnest(sg) AS g FROM sh WHERE doc_id % 50 <> 0),
        |hits AS (SELECT tr.doc_id, count(DISTINCT tr.g) AS n_shared
        |  FROM tr JOIN ev ON tr.g = ev.g GROUP BY tr.doc_id)
        |SELECT d.doc_id, COALESCE(h.n_shared, CAST(0 AS BIGINT)) AS n_shared,
        |  COALESCE(h.n_shared, CAST(0 AS BIGINT)) > 0 AS contaminated
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |WHERE d.doc_id % 50 <> 0
        |ORDER BY d.doc_id""".stripMargin,
    // weight = integer-derived arithmetic (bit-identical both engines);
    // draw = md5 prefix vs fixed-width hex threshold, string compare
    "q_sample_weighted" ->
      """WITH d AS (SELECT doc_id, source, text,
        |    least(1.0, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) / 150.0) * 0.5 AS weight
        |  FROM documents)
        |SELECT doc_id, source, weight FROM d
        |WHERE substring(md5(text), 1, 8) <
        |  lower(lpad(to_hex(greatest(least(CAST(floor(weight * 4294967296.0) AS BIGINT), 4294967295), 0)), 8, '0'))
        |ORDER BY doc_id""".stripMargin,
    "q_sample_stratified" ->
      """SELECT doc_id, source, substring(md5(text), 1, 3) AS samp_key
        |FROM documents
        |WHERE substring(md5(text), 1, 3) <
        |  (CASE WHEN CAST(regexp_extract(source, '(\d+)', 1) AS INT) % 2 = 0
        |    THEN '800' ELSE '333' END)
        |ORDER BY doc_id""".stripMargin,
    // domain-quota pass: the engine runs the bounded-heap topk aggregate
    // (k·partitions rows per source through the exchange); the oracle is
    // the WINDOW form — heap == window semantics incl. tie order
    // (n_chars DESC, doc_id ASC) is re-proven by hash every round
    "q_source_quota" ->
      """WITH r AS (SELECT source, doc_id, length(text) AS n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY length(text) DESC, doc_id) AS rank
        |  FROM documents)
        |SELECT source, CAST(rank AS BIGINT) AS rank, doc_id,
        |  CAST(n_chars AS BIGINT) AS n_chars
        |FROM r WHERE rank <= 50 ORDER BY source, rank""".stripMargin,
    // α=1/2 temperature weights: sqrt is correctly rounded in both
    // engines, each weight snaps to the 2^-20 grid pre-sum → the
    // normalizer is an exact dyadic sum, shares single IEEE divisions
    "q_source_temperature" ->
      """WITH per AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(regexp_split_to_array(trim(text), '\s+')))
        |      AS BIGINT) AS tokens
        |  FROM documents GROUP BY 1),
        |w AS (SELECT *, floor(sqrt(CAST(tokens AS DOUBLE)) * 1048576.0)
        |    / 1048576.0 AS w FROM per),
        |t AS (SELECT SUM(w) AS wsum, CAST(SUM(tokens) AS BIGINT)
        |    AS total_tokens FROM w)
        |SELECT source, n_docs, tokens,
        |  CAST(tokens AS DOUBLE) / total_tokens AS raw_share,
        |  w / wsum AS temp_share,
        |  CAST(floor(1000000.0 * (w / wsum)) AS BIGINT) AS token_budget
        |FROM w, t ORDER BY source""".stripMargin,
    // the NAIVE per-row running-sum window — the engine's histogram-window
    // fill must equal it exactly (keep while tokens-before < budget, the
    // crossing doc kept)
    "q_token_budget" ->
      """WITH d AS (SELECT source, doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |w AS (SELECT source, doc_id, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY source
        |      ORDER BY n_tokens DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS cum_before
        |  FROM d)
        |SELECT source, doc_id, n_tokens FROM w WHERE cum_before < 800
        |ORDER BY source, n_tokens DESC, doc_id""".stripMargin,
    // int8 quantize→dequantize kernel replay (the quantCorpusCtes
    // rounding identity), error terms floored onto the 2^-40 grid before
    // the 64-term sum (§4: many-term cross-engine float sums snap),
    // then one correctly-rounded sqrt
    "q_quantize_roundtrip" -> {
      val g = "1099511627776.0"
      val terms = (1 to 64).map { i =>
        val d = s"(CAST(embf[$i] AS DOUBLE) - CAST(deqf[$i] AS DOUBLE))"
        s"floor($d * $d * $g) / $g"
      }.mkString(" + ")
      s"""WITH eq AS (SELECT vec_id AS id, embedding AS embf FROM embeddings),
         |sc AS (SELECT id, embf,
         |    list_max(list_transform(embf, x -> abs(x))) / CAST(127 AS FLOAT)
         |      AS scale
         |  FROM eq),
         |dq AS (SELECT id, embf, scale, CASE WHEN scale > 0 THEN
         |      list_transform(embf, x ->
         |        CAST(CAST(floor(CAST(x/scale AS DOUBLE) + 0.5) AS INT) AS FLOAT) * scale)
         |    ELSE list_transform(embf, x -> CAST(0 AS FLOAT)) END AS deqf
         |  FROM sc)
         |SELECT id AS vec_id, CAST(scale AS DOUBLE) AS scale,
         |  sqrt(0.0 + $terms) AS l2_err
         |FROM dq ORDER BY vec_id""".stripMargin
    },
    "q_source_mix" ->
      """WITH per AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY source),
        |t AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total_tokens FROM per)
        |SELECT source, n_docs, tokens,
        |  CAST(tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS share,
        |  CAST(FLOOR(1000000 *
        |    (CAST(tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)))
        |    AS BIGINT) AS token_budget
        |FROM per CROSS JOIN t ORDER BY source""".stripMargin,
    // DuckDB list_slice end is INCLUSIVE (start-1+len), unlike Spark's
    // slice(start, length)
    "q_chunk_windows" ->
      """WITH w AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents),
        |t AS (SELECT doc_id, ws, len(ws) AS n FROM w),
        |c AS (SELECT doc_id, ws, n,
        |    unnest(generate_series(0, greatest((n-1)//48, 0))) AS chunk_idx
        |  FROM t)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(chunk_idx*48 AS BIGINT) AS chunk_start,
        |  CAST(least(64, n - chunk_idx*48) AS BIGINT) AS chunk_len,
        |  array_to_string(list_slice(ws, chunk_idx*48 + 1,
        |    chunk_idx*48 + least(64, n - chunk_idx*48)), ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "q_pii_scrub" ->
      """SELECT event_id,
        |  regexp_replace(props, '\d+', '[NUM]', 'g') AS props_clean,
        |  CAST(len(regexp_extract_all(props, '\d+')) AS BIGINT) AS n_redacted
        |FROM events ORDER BY event_id""".stripMargin,
    // the composed pipeline: sample → repetition keep → chunk, each stage
    // the proven oracle fragment of its standalone query
    "q_corpus_pipeline" ->
      """WITH s AS (SELECT doc_id, text FROM documents
        |  WHERE substring(md5(text), 1, 3) <
        |    (CASE WHEN CAST(regexp_extract(source, '(\d+)', 1) AS INT) % 2 = 0
        |      THEN '800' ELSE '333' END)),
        |w AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS lws
        |  FROM s),
        |d AS (SELECT doc_id, len(lws) AS n_words,
        |    len(list_distinct(lws)) AS n_distinct FROM w),
        |bg AS (SELECT doc_id, unnest(CASE WHEN len(lws) < 2
        |    THEN [array_to_string(lws, ' ')]
        |    ELSE list_transform(generate_series(1, len(lws) - 1),
        |      i -> lws[i]||' '||lws[i+1]) END) AS b
        |  FROM w),
        |bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b),
        |bt AS (SELECT doc_id, MAX(c) AS top_n, SUM(c) AS n_bg FROM bc GROUP BY doc_id),
        |keep AS (SELECT d.doc_id FROM d JOIN bt ON d.doc_id = bt.doc_id
        |  WHERE 1.0 - CAST(n_distinct AS DOUBLE)/CAST(n_words AS DOUBLE) <= 0.95
        |    AND CAST(top_n AS DOUBLE)/CAST(n_bg AS DOUBLE) <= 0.18),
        |t AS (SELECT s.doc_id, regexp_split_to_array(trim(s.text), '\s+') AS ws
        |  FROM s JOIN keep ON s.doc_id = keep.doc_id),
        |t2 AS (SELECT doc_id, ws, len(ws) AS n FROM t),
        |c AS (SELECT doc_id, ws, n,
        |    unnest(generate_series(0, greatest((n-1)//48, 0))) AS chunk_idx
        |  FROM t2)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(chunk_idx*48 AS BIGINT) AS chunk_start,
        |  CAST(least(64, n - chunk_idx*48) AS BIGINT) AS chunk_len,
        |  array_to_string(list_slice(ws, chunk_idx*48 + 1,
        |    chunk_idx*48 + least(64, n - chunk_idx*48)), ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    // chained conditional window minima — each step's "first occurrence
    // at-or-after the previous step" is a whole-partition MIN over the
    // same user_id partitioning in both engines
    "q_funnel_steps" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        |  FROM events),
        |s1 AS (SELECT *, MIN(CASE WHEN event_type='signup' THEN ts END)
        |    OVER (PARTITION BY user_id) AS signup_ts FROM e),
        |s2 AS (SELECT *, MIN(CASE WHEN event_type='click' AND ts >= signup_ts
        |    THEN ts END) OVER (PARTITION BY user_id) AS first_click_ts FROM s1),
        |s3 AS (SELECT *, MIN(CASE WHEN event_type='purchase'
        |    AND ts >= first_click_ts THEN ts END)
        |    OVER (PARTITION BY user_id) AS first_purchase_ts FROM s2)
        |SELECT user_id, MAX(signup_ts) AS signup_ts,
        |  MAX(first_click_ts) AS first_click_ts,
        |  MAX(first_purchase_ts) AS first_purchase_ts,
        |  CASE WHEN MAX(first_purchase_ts) IS NOT NULL THEN 'purchased'
        |       WHEN MAX(first_click_ts) IS NOT NULL THEN 'clicked'
        |       ELSE 'signed_up' END AS stage
        |FROM s3 GROUP BY user_id HAVING MAX(signup_ts) IS NOT NULL
        |ORDER BY user_id""".stripMargin,
    // retention = exact-int ÷ exact-int (one IEEE division, bit-identical);
    // day_offset BIGINT on both sides (Spark datediff is INT → widened)
    "q_retention_cohort" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
        |c AS (SELECT user_id, MIN(day) AS cohort_day FROM ud GROUP BY user_id),
        |sz AS (SELECT cohort_day, COUNT(*) AS cohort_size FROM c
        |  GROUP BY cohort_day),
        |act AS (SELECT c.cohort_day,
        |    date_diff('day', c.cohort_day, ud.day) AS day_offset,
        |    COUNT(*) AS n_active
        |  FROM ud JOIN c USING (user_id) GROUP BY 1, 2)
        |SELECT act.cohort_day, day_offset, n_active, cohort_size,
        |  CAST(n_active AS DOUBLE)/cohort_size AS retention
        |FROM act JOIN sz USING (cohort_day)
        |ORDER BY cohort_day, day_offset""".stripMargin,
    // calendar densify via generate_series (Spark: sequence+explode);
    // forward-fill via IGNORE NULLS running last_value; decimal day
    // totals cast to double after the aggregate
    "q_gap_fill" ->
      """WITH daily AS (SELECT user_id,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_total
        |  FROM events GROUP BY 1, 2),
        |cal AS (SELECT user_id, CAST(unnest(generate_series(
        |      CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
        |      INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily
        |    GROUP BY user_id)),
        |j AS (SELECT cal.user_id, cal.day, daily.n, daily.day_total
        |  FROM cal LEFT JOIN daily USING (user_id, day))
        |SELECT user_id, day, COALESCE(n, 0) AS n_events,
        |  last_value(day_total IGNORE NULLS) OVER w AS filled_total,
        |  date_diff('day', last_value(CASE WHEN n IS NOT NULL THEN day END
        |    IGNORE NULLS) OVER w, day) AS days_since_active,
        |  n IS NOT NULL AS is_active
        |FROM j WINDOW w AS (PARTITION BY user_id ORDER BY day
        |  ROWS UNBOUNDED PRECEDING)
        |ORDER BY user_id, day""".stripMargin,
    // typed JSON extraction; decade bucket in pure INT arithmetic
    // (k - k%10) — identical truncation semantics in both engines.
    // Data contract: the testdata generator emits props uniformly as
    // {"k": <int>} (verified at every SF). from_json's PERMISSIVE edge
    // semantics (quoted "42" → NULL, malformed JSON → NULL) have no
    // DuckDB equivalent in this CAST — messier props would need a
    // try_cast + json_valid guard AND would still diverge on
    // string-coercion; revisit if the generator changes.
    "q_json_props" ->
      """WITH k AS (SELECT event_id,
        |    CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
        |SELECT event_id, k, k IS NOT NULL AS has_k,
        |  k - (k % 10) AS k_decade
        |FROM k ORDER BY event_id""".stripMargin,
    // the two-phase enumeration (bounded subbucket counts + offsets +
    // within-subbucket row_number) equals ONE window ranked by
    // (subbucket, key, doc_id) within the shard — which is how the oracle
    // replays it; shard/subbucket are ascii arithmetic on md5 hex chars,
    // identical in both engines
    "q_shard_shuffle" ->
      """WITH k AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS key
        |  FROM documents),
        |d AS (SELECT doc_id, key,
        |    (ascii(substring(key,1,1)) - CASE WHEN ascii(substring(key,1,1)) >= 97
        |      THEN 87 ELSE 48 END) % 8 AS shard,
        |    ascii(substring(key,2,1)) - CASE WHEN ascii(substring(key,2,1)) >= 97
        |      THEN 87 ELSE 48 END AS sub
        |  FROM k)
        |SELECT doc_id, CAST(shard AS INT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY shard
        |    ORDER BY sub, key, doc_id) - 1 AS BIGINT) AS pos
        |FROM d ORDER BY shard, pos""".stripMargin,
    "q_repetition_filter" ->
      """WITH w AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |d AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct
        |  FROM w),
        |bg AS (SELECT doc_id, unnest(CASE WHEN len(ws) < 2
        |    THEN [array_to_string(ws, ' ')]
        |    ELSE list_transform(generate_series(1, len(ws) - 1),
        |      i -> ws[i]||' '||ws[i+1]) END) AS b
        |  FROM w),
        |bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY doc_id, b),
        |bt AS (SELECT doc_id, MAX(c) AS top_bigram_n,
        |    CAST(SUM(c) AS BIGINT) AS n_bigrams FROM bc GROUP BY doc_id)
        |SELECT d.doc_id, n_words, n_distinct,
        |  1.0 - CAST(n_distinct AS DOUBLE)/CAST(n_words AS DOUBLE) AS dup_word_ratio,
        |  CAST(top_bigram_n AS DOUBLE)/CAST(n_bigrams AS DOUBLE) AS top_bigram_frac,
        |  (1.0 - CAST(n_distinct AS DOUBLE)/CAST(n_words AS DOUBLE)) <= 0.95
        |    AND CAST(top_bigram_n AS DOUBLE)/CAST(n_bigrams AS DOUBLE) <= 0.18 AS keep
        |FROM d JOIN bt ON d.doc_id = bt.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // Morton z-value as generated bit arithmetic — the IDENTICAL
    // (>>, &, <<, |) expression both engines evaluate on exact integers
    "q_zorder_layout" ->
      s"""WITH m AS (SELECT l_partkey & 1023 AS x, l_orderkey & 1023 AS y
         |    FROM lineitem),
         |z AS (SELECT x, y, ${zExprSql("x", "y", 10)} AS z FROM m)
         |SELECT CAST(z >> 14 AS INT) AS file_id, COUNT(*) AS n_rows,
         |  min(z) AS z_min, max(z) AS z_max,
         |  min(x) AS min_x, max(x) AS max_x,
         |  min(y) AS min_y, max(y) AS max_y
         |FROM z GROUP BY 1 ORDER BY file_id""".stripMargin,
    "q_zorder_skipping" ->
      s"""WITH m AS (SELECT l_partkey & 1023 AS x, l_orderkey & 1023 AS y
         |    FROM lineitem),
         |zf AS (SELECT 'zorder' AS layout,
         |    CAST((${zExprSql("x", "y", 10)}) >> 14 AS INT) AS file_id, x, y
         |  FROM m),
         |lf AS (SELECT 'linear' AS layout, CAST(x >> 4 AS INT) AS file_id,
         |    x, y FROM m),
         |u AS (SELECT * FROM zf UNION ALL SELECT * FROM lf),
         |f AS (SELECT layout, file_id, COUNT(*) AS n_rows,
         |    min(x) AS min_x, max(x) AS max_x,
         |    min(y) AS min_y, max(y) AS max_y
         |  FROM u GROUP BY 1, 2)
         |SELECT layout, CAST(COUNT(*) AS BIGINT) AS files_total,
         |  CAST(SUM(CASE WHEN max_x >= 128 AND min_x <= 255
         |      AND max_y >= 128 AND min_y <= 255 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS files_scanned,
         |  CAST(SUM(CASE WHEN max_x >= 128 AND min_x <= 255
         |      AND max_y >= 128 AND min_y <= 255 THEN n_rows ELSE 0 END) AS BIGINT)
         |    AS rows_scanned
         |FROM f GROUP BY layout ORDER BY layout""".stripMargin,
    // OPTIMIZE evidence: the aggregate is the plain orders query (the
    // rewrite must be invisible in values); file counts are deterministic
    // (round-robin 64 → range 4, one file per non-empty partition)
    "q_optimize" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  CAST(64 AS BIGINT) AS files_before, CAST(4 AS BIGINT) AS files_after
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // Manifest stats-pruning replay: files are one-per-contiguous-16-wide
    // key range by construction, so per-file envelopes (and the pruning
    // decision) are a pure function of the data — the oracle rebuilds
    // them from the same masked key the engine's footer sweep recorded
    "q_manifest_skipping" ->
      """WITH m AS (SELECT l_orderkey & 1023 AS ok_m, l_extendedprice
        |    FROM lineitem),
        |f AS (SELECT ok_m >> 4 AS bucket, COUNT(*) AS n_rows,
        |    min(ok_m) AS mn, max(ok_m) AS mx FROM m GROUP BY 1),
        |p AS (SELECT * FROM (VALUES ('ok_128_255', 128, 255),
        |    ('ok_512_543', 512, 543)) AS t(predicate, lo, hi))
        |SELECT p.predicate,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM f) AS files_total,
        |  CAST((SELECT COUNT(*) FROM f WHERE f.mx >= p.lo AND f.mn <= p.hi)
        |    AS BIGINT) AS files_scanned,
        |  CAST((SELECT COALESCE(SUM(f.n_rows), 0) FROM f
        |    WHERE f.mx >= p.lo AND f.mn <= p.hi) AS BIGINT) AS rows_in_files,
        |  CAST((SELECT COUNT(*) FROM m
        |    WHERE m.ok_m BETWEEN p.lo AND p.hi) AS BIGINT) AS n_rows,
        |  (SELECT CAST(SUM(CAST(m.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    FROM m WHERE m.ok_m BETWEEN p.lo AND p.hi) AS revenue
        |FROM p ORDER BY p.predicate""".stripMargin,
    // OPTIMIZE ZORDER replay: both layouts' per-file envelopes are pure
    // functions of the data (one file per x>>4 range / per z>>14 range);
    // the aggregate columns are the plain whole-table rectangle query —
    // identical for both rows, which is the rewrite-invisibility proof
    "q_optimize_zorder" ->
      s"""WITH m AS (SELECT l_partkey & 1023 AS x, l_orderkey & 1023 AS y,
         |    l_extendedprice FROM lineitem),
         |res AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         |      AS revenue
         |  FROM m WHERE x BETWEEN 128 AND 255 AND y BETWEEN 128 AND 255),
         |lf AS (SELECT x >> 4 AS fid, COUNT(*) AS n,
         |    min(x) AS mnx, max(x) AS mxx, min(y) AS mny, max(y) AS mxy
         |  FROM m GROUP BY 1),
         |zf AS (SELECT (${zExprSql("x", "y", 10)}) >> 14 AS fid,
         |    COUNT(*) AS n,
         |    min(x) AS mnx, max(x) AS mxx, min(y) AS mny, max(y) AS mxy
         |  FROM m GROUP BY 1),
         |l AS (SELECT '1_linear' AS layout,
         |    CAST(COUNT(*) AS BIGINT) AS files_total,
         |    CAST(SUM(CASE WHEN mxx >= 128 AND mnx <= 255
         |        AND mxy >= 128 AND mny <= 255 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS files_scanned,
         |    CAST(SUM(CASE WHEN mxx >= 128 AND mnx <= 255
         |        AND mxy >= 128 AND mny <= 255 THEN n ELSE 0 END) AS BIGINT)
         |      AS rows_in_files
         |  FROM lf),
         |z AS (SELECT '2_zorder' AS layout,
         |    CAST(COUNT(*) AS BIGINT) AS files_total,
         |    CAST(SUM(CASE WHEN mxx >= 128 AND mnx <= 255
         |        AND mxy >= 128 AND mny <= 255 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS files_scanned,
         |    CAST(SUM(CASE WHEN mxx >= 128 AND mnx <= 255
         |        AND mxy >= 128 AND mny <= 255 THEN n ELSE 0 END) AS BIGINT)
         |      AS rows_in_files
         |  FROM zf),
         |u AS (SELECT * FROM l UNION ALL SELECT * FROM z)
         |SELECT layout, files_total, files_scanned, rows_in_files,
         |  n_rows, revenue
         |FROM u, res ORDER BY layout""".stripMargin,
    // three layouts, ONE unaligned probe box: the Hilbert transform is
    // replayed per distinct grid cell as a recursive CTE (the exact
    // iterate-and-rotate walk of LayoutExprs.hilbertD — s halves from
    // 512, quadrant index (3*rx) XOR ry spelled as a CASE); envelopes
    // and scan counts all DERIVED, no hand-pinned literals
    "q_optimize_hilbert" ->
      s"""WITH RECURSIVE m AS (SELECT l_partkey & 1023 AS x,
         |    l_orderkey & 1023 AS y, l_extendedprice FROM lineitem),
         |cells AS (SELECT DISTINCT x, y FROM m),
         |hw(x0, y0, x, y, s, d) AS (
         |  SELECT x, y, x, y, CAST(512 AS BIGINT), CAST(0 AS BIGINT)
         |    FROM cells
         |  UNION ALL
         |  SELECT x0, y0,
         |    CASE WHEN (y & s) = 0 THEN
         |      (CASE WHEN (x & s) <> 0 THEN s - 1 - y ELSE y END)
         |    ELSE x END,
         |    CASE WHEN (y & s) = 0 THEN
         |      (CASE WHEN (x & s) <> 0 THEN s - 1 - x ELSE x END)
         |    ELSE y END,
         |    s // 2,
         |    d + s * s * (CASE
         |      WHEN (x & s) <> 0 AND (y & s) <> 0 THEN 2
         |      WHEN (x & s) <> 0 THEN 3
         |      WHEN (y & s) <> 0 THEN 1 ELSE 0 END)
         |  FROM hw WHERE s > 0),
         |hd AS (SELECT x0 AS x, y0 AS y, d FROM hw WHERE s = 0),
         |res AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         |      AS revenue
         |  FROM m WHERE x BETWEEN 96 AND 223 AND y BETWEEN 96 AND 223),
         |lf AS (SELECT x >> 4 AS fid, COUNT(*) AS n,
         |    min(x) AS mnx, max(x) AS mxx, min(y) AS mny, max(y) AS mxy
         |  FROM m GROUP BY 1),
         |zf AS (SELECT ((${zExprSql("x", "y", 10)}) * 63) >> 20 AS fid,
         |    COUNT(*) AS n,
         |    min(x) AS mnx, max(x) AS mxx, min(y) AS mny, max(y) AS mxy
         |  FROM m GROUP BY 1),
         |hf AS (SELECT (hd.d * 63) >> 20 AS fid, COUNT(*) AS n,
         |    min(m.x) AS mnx, max(m.x) AS mxx,
         |    min(m.y) AS mny, max(m.y) AS mxy
         |  FROM m JOIN hd ON m.x = hd.x AND m.y = hd.y GROUP BY 1),
         |l AS (SELECT '1_linear' AS layout,
         |    CAST(COUNT(*) AS BIGINT) AS files_total,
         |    CAST(SUM(CASE WHEN mxx >= 96 AND mnx <= 223
         |        AND mxy >= 96 AND mny <= 223 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS files_scanned,
         |    CAST(SUM(CASE WHEN mxx >= 96 AND mnx <= 223
         |        AND mxy >= 96 AND mny <= 223 THEN n ELSE 0 END) AS BIGINT)
         |      AS rows_in_files
         |  FROM lf),
         |z AS (SELECT '2_zorder' AS layout,
         |    CAST(COUNT(*) AS BIGINT) AS files_total,
         |    CAST(SUM(CASE WHEN mxx >= 96 AND mnx <= 223
         |        AND mxy >= 96 AND mny <= 223 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS files_scanned,
         |    CAST(SUM(CASE WHEN mxx >= 96 AND mnx <= 223
         |        AND mxy >= 96 AND mny <= 223 THEN n ELSE 0 END) AS BIGINT)
         |      AS rows_in_files
         |  FROM zf),
         |h AS (SELECT '3_hilbert' AS layout,
         |    CAST(COUNT(*) AS BIGINT) AS files_total,
         |    CAST(SUM(CASE WHEN mxx >= 96 AND mnx <= 223
         |        AND mxy >= 96 AND mny <= 223 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS files_scanned,
         |    CAST(SUM(CASE WHEN mxx >= 96 AND mnx <= 223
         |        AND mxy >= 96 AND mny <= 223 THEN n ELSE 0 END) AS BIGINT)
         |      AS rows_in_files
         |  FROM hf),
         |u AS (SELECT * FROM l UNION ALL SELECT * FROM z
         |  UNION ALL SELECT * FROM h)
         |SELECT layout, files_total, files_scanned, rows_in_files,
         |  n_rows, revenue
         |FROM u, res ORDER BY layout""".stripMargin,
    // Count-Min replay: ONE md5 digest per token occurrence sliced into
    // four 32-bit bucket words (lower/upper lane, low/high half) — the
    // same slices Sketches.buckets masks engine-side; arithmetic stays in
    // HUGEINT because UBIGINT lanes exceed BIGINT
    "q_heavy_hitters" ->
      """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(lower(text)),
        |    '\s+')) AS t FROM documents),
        |buck AS (SELECT t,
        |    unnest([CAST(CAST(md5_number_lower(t) AS HUGEINT) % 1024 AS BIGINT),
        |      CAST((CAST(md5_number_lower(t) AS HUGEINT) // 4294967296) % 1024 AS BIGINT),
        |      CAST(CAST(md5_number_upper(t) AS HUGEINT) % 1024 AS BIGINT),
        |      CAST((CAST(md5_number_upper(t) AS HUGEINT) // 4294967296) % 1024 AS BIGINT)]) AS bucket,
        |    unnest([0, 1, 2, 3]) AS lane
        |  FROM tok),
        |cms AS (SELECT lane, bucket, COUNT(*) AS cnt FROM buck
        |  GROUP BY lane, bucket),
        |exact AS (SELECT t, COUNT(*) AS exact_cnt FROM tok GROUP BY t
        |  ORDER BY exact_cnt DESC, t LIMIT 20),
        |qb AS (SELECT t,
        |    unnest([CAST(CAST(md5_number_lower(t) AS HUGEINT) % 1024 AS BIGINT),
        |      CAST((CAST(md5_number_lower(t) AS HUGEINT) // 4294967296) % 1024 AS BIGINT),
        |      CAST(CAST(md5_number_upper(t) AS HUGEINT) % 1024 AS BIGINT),
        |      CAST((CAST(md5_number_upper(t) AS HUGEINT) // 4294967296) % 1024 AS BIGINT)]) AS bucket,
        |    unnest([0, 1, 2, 3]) AS lane
        |  FROM exact),
        |est AS (SELECT qb.t, MIN(cnt) AS cms_est FROM qb
        |  JOIN cms USING (lane, bucket) GROUP BY qb.t)
        |SELECT exact.t AS token, exact_cnt, cms_est,
        |  cms_est - exact_cnt AS overcount
        |FROM exact JOIN est ON est.t = exact.t
        |ORDER BY exact_cnt DESC, token""".stripMargin,
    // trained-model replay (the q_lm_score pattern, supervised): the NB
    // model = (cls, token) counts + class totals + priors + vocab scalar,
    // every ln floored to the 2^-16 grid, argmax by (score desc, cls)
    "q_nb_classifier" ->
      """WITH wr AS (SELECT doc_id, lang,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |tok AS (SELECT doc_id, lang, unnest(ws) AS t FROM wr),
        |ref AS (SELECT * FROM tok WHERE doc_id % 10 = 0),
        |ctk AS (SELECT lang AS cls, t, COUNT(*) AS ctn FROM ref
        |  GROUP BY 1, 2),
        |ck AS (SELECT cls, CAST(SUM(ctn) AS BIGINT) AS ckn FROM ctk
        |  GROUP BY 1),
        |vt AS (SELECT COUNT(DISTINCT t) AS v FROM ref),
        |dpc AS (SELECT lang AS cls, COUNT(*) AS nd FROM documents
        |  WHERE doc_id % 10 = 0 GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS ntot FROM documents WHERE doc_id % 10 = 0),
        |cls AS (SELECT ck.cls, ckn,
        |    floor(ln(CAST(nd AS DOUBLE) / CAST(ntot AS DOUBLE))
        |      * 65536.0) / 65536.0 AS lp0
        |  FROM ck JOIN dpc ON ck.cls = dpc.cls CROSS JOIN tot),
        |sc AS (SELECT tok.doc_id, tok.lang AS actual, cls.cls, cls.lp0,
        |    floor(ln(CAST(COALESCE(ctn, 0) + 1 AS DOUBLE)
        |        / CAST(ckn + v AS DOUBLE)) * 65536.0) / 65536.0 AS lp
        |  FROM tok CROSS JOIN cls
        |  LEFT JOIN ctk ON ctk.cls = cls.cls AND ctk.t = tok.t
        |  CROSS JOIN vt),
        |ag AS (SELECT doc_id, actual, cls, lp0 + SUM(lp) AS score FROM sc
        |  GROUP BY doc_id, actual, cls, lp0),
        |rk AS (SELECT doc_id, actual, cls, score, row_number() OVER
        |    (PARTITION BY doc_id ORDER BY score DESC, cls) AS rn FROM ag)
        |SELECT doc_id, cls AS predicted, score, actual,
        |  cls = actual AS is_correct
        |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // degree-oriented triangle enumeration over the top-8 co-purchase
    // graph — identical orientation rule ((deg, id)-smaller endpoint
    // first), identical kNN edge construction
    "q_triangle_count" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |pairs AS (SELECT a.p AS u, b.p AS v, COUNT(*) AS w
        |  FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p GROUP BY 1, 2),
        |top8 AS (SELECT u, v FROM (SELECT u, v,
        |    row_number() OVER (PARTITION BY u ORDER BY w DESC, v) AS rn
        |  FROM pairs) WHERE rn <= 8),
        |und AS (SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
        |  FROM top8),
        |deg AS (SELECT n, COUNT(*) AS d FROM
        |  (SELECT u AS n FROM und UNION ALL SELECT v FROM und) GROUP BY n),
        |ori AS (SELECT
        |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
        |      THEN u ELSE v END AS s,
        |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
        |      THEN v ELSE u END AS t
        |  FROM und JOIN deg du ON du.n = u JOIN deg dv ON dv.n = v),
        |tri AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
        |  FROM ori e1 JOIN ori e2 ON e1.t = e2.s
        |  JOIN ori e3 ON e3.s = e1.s AND e3.t = e2.t),
        |nodes AS (SELECT a AS node FROM tri UNION ALL
        |  SELECT b FROM tri UNION ALL SELECT c FROM tri)
        |SELECT node, COUNT(*) AS n_tri FROM nodes GROUP BY node
        |ORDER BY node""".stripMargin,
    // strict-dominance skyline: NOT EXISTS is the definition the
    // two-phase scan implements
    "q_skyline_parts" ->
      """SELECT p_partkey, p_retailprice, CAST(p_size AS DOUBLE) AS p_size
        |FROM part a
        |WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM part b
        |    WHERE b.p_retailprice IS NOT NULL AND b.p_size IS NOT NULL
        |      AND b.p_retailprice <= a.p_retailprice
        |      AND b.p_size >= a.p_size
        |      AND (b.p_retailprice < a.p_retailprice
        |        OR b.p_size > a.p_size))
        |ORDER BY p_retailprice, p_partkey""".stripMargin,
    // generated HLL replay: rho chain + α·m²·2^55 constant come from the
    // same Scala code the engine runs (Sketches.rhoCaseSql / HllAlphaC);
    // the indicator sum is the exact HUGEINT numerator, mirroring the
    // engine's DECIMAL(38,0) — the one double division then has
    // identically-rounded operands in both engines
    "q_hll_distinct" ->
      s"""WITH ${hllFinCtes("hll_users")},
         |base AS (SELECT event_type, COUNT(*) AS n_events,
         |    COUNT(DISTINCT user_id) AS exact_users FROM events GROUP BY 1)
         |SELECT base.event_type, n_events, exact_users, hll_users, est_kind
         |FROM base JOIN fin ON fin.g = base.event_type
         |ORDER BY base.event_type""".stripMargin,
    // the sketch PROFILE: the same HLL + histogram replays joined per
    // event type — the whole approximate dashboard row is hash-exact
    "q_approx_profile" ->
      s"""WITH ${hllFinCtes("approx_users")},
         |${histHqCtes("p50_value", "p95_value")},
         |base AS (SELECT event_type, COUNT(*) AS n_events
         |  FROM events GROUP BY 1)
         |SELECT base.event_type, n_events, approx_users, p50_value, p95_value
         |FROM base JOIN fin ON fin.g = base.event_type
         |JOIN hq ON hq.g = base.event_type
         |ORDER BY base.event_type""".stripMargin,
    // mergeability replay: merged (per-type max-of-max) and direct
    // (all-rows) register paths computed independently, estimated with
    // the same fragment, equality re-proven engine-side AND oracle-side
    "q_hll_union" -> {
      val rho = graft.ops.Sketches.rhoCaseSql("(h // 1024)")
      val a = graft.ops.Sketches.HllAlphaC
      def est(per: String, out: String): String =
        s"""SELECT CASE WHEN ($a / CAST(sumterm + (1024 - present) *
           |      CAST(1::UBIGINT << 55 AS HUGEINT) AS DOUBLE)) <= 2560.0
           |      AND present < 1024
           |    THEN floor(1024.0 * ln(1024.0 / CAST(1024 - present AS DOUBLE))
           |      * 65536.0) / 65536.0
           |    ELSE floor(($a / CAST(sumterm + (1024 - present) *
           |      CAST(1::UBIGINT << 55 AS HUGEINT) AS DOUBLE)) * 65536.0)
           |      / 65536.0 END AS $out,
           |  CASE WHEN ($a / CAST(sumterm + (1024 - present) *
           |      CAST(1::UBIGINT << 55 AS HUGEINT) AS DOUBLE)) <= 2560.0
           |      AND present < 1024
           |    THEN 'linear' ELSE 'raw' END AS kind
           |  FROM $per""".stripMargin
      s"""WITH rr AS (SELECT event_type AS g,
         |    CAST(CAST(md5_number_lower(CAST(user_id AS VARCHAR)) AS HUGEINT)
         |      % 1024 AS BIGINT) AS bucket,
         |    $rho AS rho
         |  FROM (SELECT event_type, user_id,
         |    CAST(md5_number_lower(CAST(user_id AS VARCHAR)) AS HUGEINT) AS h
         |    FROM events WHERE user_id IS NOT NULL)),
         |regs AS (SELECT g, bucket, MAX(rho) AS rho FROM rr GROUP BY g, bucket),
         |merged AS (SELECT bucket, MAX(rho) AS rho FROM regs GROUP BY bucket),
         |direct AS (SELECT bucket, MAX(rho) AS rho FROM rr GROUP BY bucket),
         |m_per AS (SELECT SUM(CAST(1::UBIGINT << (55 - rho) AS HUGEINT))
         |    AS sumterm, COUNT(*) AS present FROM merged),
         |d_per AS (SELECT SUM(CAST(1::UBIGINT << (55 - rho) AS HUGEINT))
         |    AS sumterm, COUNT(*) AS present FROM direct),
         |m_fin AS (${est("m_per", "hll_merged")}),
         |d_fin AS (${est("d_per", "hll_direct")}),
         |base AS (SELECT COUNT(*) AS n_events,
         |    COUNT(DISTINCT user_id) AS exact_users FROM events)
         |SELECT 'all' AS scope, n_events, exact_users, hll_merged,
         |  hll_direct, hll_merged = hll_direct AS merged_equals_direct,
         |  d_fin.kind AS est_kind
         |FROM base, m_fin, d_fin""".stripMargin
    },
    // RANGE-frame replay: frame key = epoch micros on both engines
    // (events.ts is micros after the nanos truncation both loaders do)
    "q_rolling_time" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    value FROM events)
        |SELECT event_id, user_id,
        |  COUNT(*) OVER w AS n_1h,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sum_1h
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    // constraint-suite replay: one aggregation pass + NOT EXISTS orphans
    // (matching left_anti's null-key semantics, unlike NOT IN), exact-int
    // ratios
    "q_quality_report" ->
      """WITH a AS (SELECT COUNT(*) AS n,
        |    SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS null_cust,
        |    SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS null_date,
        |    COUNT(DISTINCT o_orderkey) AS dk,
        |    SUM(CASE WHEN o_totalprice < 0 OR o_totalprice > 1000000000.0
        |      THEN 1 ELSE 0 END) AS range_viol,
        |    SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
        |      THEN 1 ELSE 0 END) AS domain_viol
        |  FROM orders),
        |b AS (SELECT COUNT(*) AS orphans FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_orderkey = l.l_orderkey))
        |SELECT check_name, metric, passed FROM (
        |  SELECT 'completeness_custkey' AS check_name,
        |    1.0 - CAST(null_cust AS DOUBLE) / n AS metric,
        |    null_cust = 0 AS passed FROM a, b
        |  UNION ALL SELECT 'completeness_orderdate',
        |    1.0 - CAST(null_date AS DOUBLE) / n, null_date = 0 FROM a, b
        |  UNION ALL SELECT 'uniqueness_orderkey',
        |    CAST(dk AS DOUBLE) / n, dk = n FROM a, b
        |  UNION ALL SELECT 'range_violations_totalprice',
        |    CAST(range_viol AS DOUBLE), range_viol = 0 FROM a, b
        |  UNION ALL SELECT 'domain_violations_orderstatus',
        |    CAST(domain_viol AS DOUBLE), domain_viol = 0 FROM a, b
        |  UNION ALL SELECT 'referential_orphans_lineitem',
        |    CAST(orphans AS DOUBLE), orphans = 0 FROM a, b)
        |ORDER BY check_name""".stripMargin,
    // Efraimidis-Spirakis replay: u from the LOW 53 BITS of the md5 lane
    // (exact in a double on both engines — the full unsigned lane would
    // double-round in Spark), snapped ln, weight division, top-8 per
    // source by (key desc, doc_id)
    "q_sample_reservoir" ->
      """WITH k AS (SELECT source, doc_id,
        |    (floor(ln((CAST(md5_number_lower(CAST(doc_id AS VARCHAR))
        |          AS HUGEINT) % 9007199254740992 + 1)
        |        / 9007199254740992.0) * 65536.0) / 65536.0)
        |      / CAST(n_chars + 1 AS DOUBLE) AS es_key
        |  FROM documents),
        |r AS (SELECT source, doc_id, es_key, row_number() OVER
        |    (PARTITION BY source ORDER BY es_key DESC, doc_id) AS rn
        |  FROM k)
        |SELECT source, doc_id, es_key FROM r WHERE rn <= 8
        |ORDER BY source, es_key DESC, doc_id""".stripMargin,
    // Bloom replay: the same four md5 slices (lower/upper lane, low/high
    // 32-bit half) masked to 2^17, membership = all four cells present
    "q_bloom_prune" ->
      """WITH u AS (SELECT o_orderkey FROM orders
        |  WHERE o_orderpriority LIKE '1-%'),
        |ub AS (SELECT
        |    unnest([CAST(CAST(md5_number_lower(CAST(o_orderkey AS VARCHAR)) AS HUGEINT) % 131072 AS BIGINT),
        |      CAST((CAST(md5_number_lower(CAST(o_orderkey AS VARCHAR)) AS HUGEINT) // 4294967296) % 131072 AS BIGINT),
        |      CAST(CAST(md5_number_upper(CAST(o_orderkey AS VARCHAR)) AS HUGEINT) % 131072 AS BIGINT),
        |      CAST((CAST(md5_number_upper(CAST(o_orderkey AS VARCHAR)) AS HUGEINT) // 4294967296) % 131072 AS BIGINT)]) AS bucket,
        |    unnest([0, 1, 2, 3]) AS lane
        |  FROM u),
        |bits AS (SELECT DISTINCT lane, bucket FROM ub),
        |p AS (SELECT l_orderkey,
        |    CAST(CAST(md5_number_lower(CAST(l_orderkey AS VARCHAR)) AS HUGEINT) % 131072 AS BIGINT) AS b0,
        |    CAST((CAST(md5_number_lower(CAST(l_orderkey AS VARCHAR)) AS HUGEINT) // 4294967296) % 131072 AS BIGINT) AS b1,
        |    CAST(CAST(md5_number_upper(CAST(l_orderkey AS VARCHAR)) AS HUGEINT) % 131072 AS BIGINT) AS b2,
        |    CAST((CAST(md5_number_upper(CAST(l_orderkey AS VARCHAR)) AS HUGEINT) // 4294967296) % 131072 AS BIGINT) AS b3
        |  FROM lineitem),
        |f AS (SELECT
        |    b0 IN (SELECT bucket FROM bits WHERE lane = 0)
        |      AND b1 IN (SELECT bucket FROM bits WHERE lane = 1)
        |      AND b2 IN (SELECT bucket FROM bits WHERE lane = 2)
        |      AND b3 IN (SELECT bucket FROM bits WHERE lane = 3) AS pass,
        |    l_orderkey IN (SELECT o_orderkey FROM u) AS hit
        |  FROM p),
        |m AS (SELECT COUNT(*) AS probe_rows,
        |    CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
        |      AS bloom_pass_rows,
        |    CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
        |      AS exact_match_rows,
        |    CAST(SUM(CASE WHEN pass AND NOT hit THEN 1 ELSE 0 END) AS BIGINT)
        |      AS false_positive_rows,
        |    CAST(SUM(CASE WHEN NOT pass AND hit THEN 1 ELSE 0 END) AS BIGINT)
        |      AS false_negative_rows
        |  FROM f)
        |SELECT probe_rows, bloom_pass_rows, exact_match_rows,
        |  false_positive_rows, false_negative_rows,
        |  CAST(probe_rows - bloom_pass_rows AS DOUBLE) / probe_rows
        |    AS pruned_fraction
        |FROM m""".stripMargin,
    // histogram-quantile replay: width-1 buckets, running counts, first
    // bucket reaching ceil(q*n) — pure arithmetic in both dialects
    "q_hist_quantiles" ->
      s"""WITH ${histHqCtes("p50_est", "p95_est")}
        |SELECT g AS event_type, p50_est, p95_est,
        |  CAST(n AS BIGINT) AS n_rows
        |FROM hq ORDER BY event_type""".stripMargin,
    // exact quantiles: DuckDB's quantile_cont interpolates the same
    // type-7 CONVEX expression (lower*(1-frac) + higher*frac at p*(n-1))
    // Spark's percentile evaluates — identical IEEE result, no snapping
    // robust MAD anomaly scores: both medians are quantile_cont (the
    // q_exact_quantiles type-7 pin), the modified z a fixed IEEE op
    // sequence; MAD=0 groups NULL the score (the zscore guard pattern)
    "q_outlier_mad" ->
      """WITH p AS (SELECT p_partkey, p_brand, p_retailprice FROM part
        |  WHERE p_retailprice IS NOT NULL),
        |m AS (SELECT p_brand, quantile_cont(p_retailprice, 0.5) AS med
        |  FROM p GROUP BY p_brand),
        |d AS (SELECT p.p_partkey, p.p_brand, p.p_retailprice, m.med,
        |    abs(p.p_retailprice - m.med) AS dev
        |  FROM p JOIN m USING (p_brand)),
        |md AS (SELECT p_brand, quantile_cont(dev, 0.5) AS mad
        |  FROM d GROUP BY p_brand)
        |SELECT d.p_partkey, d.p_brand, d.p_retailprice, d.med, md.mad,
        |  CASE WHEN md.mad > 0
        |    THEN 0.6745 * (d.p_retailprice - d.med) / md.mad END AS mz,
        |  COALESCE(CASE WHEN md.mad > 0
        |    THEN abs(0.6745 * (d.p_retailprice - d.med) / md.mad) > 3.5 END,
        |    FALSE) AS is_outlier
        |FROM d JOIN md USING (p_brand) ORDER BY d.p_partkey""".stripMargin,
    "q_exact_quantiles" ->
      """SELECT l_returnflag, COUNT(*) AS n_items,
        |  quantile_cont(l_extendedprice, 0.25) AS p25,
        |  quantile_cont(l_extendedprice, 0.5) AS p50,
        |  quantile_cont(l_extendedprice, 0.75) AS p75
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // sweep-line concurrency: closed-open [s, s+30min) intervals, boundary
    // rows combined per (type, t), running sum = count(start<=t)-count(end<=t)
    // — equal-timestamp order can't matter, so both engines agree exactly
    "q_concurrency" ->
      """WITH iv AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS s,
        |    CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS en FROM events),
        |b AS (SELECT event_type, s AS t, 1 AS d FROM iv
        |  UNION ALL SELECT event_type, en, -1 FROM iv),
        |g AS (SELECT event_type, t, SUM(d) AS net FROM b GROUP BY 1, 2),
        |r AS (SELECT event_type, t,
        |    SUM(net) OVER (PARTITION BY event_type ORDER BY t) AS active
        |  FROM g),
        |m AS (SELECT event_type, MAX(active) AS mx FROM r GROUP BY 1),
        |base AS (SELECT event_type, COUNT(*) AS n_intervals
        |  FROM events GROUP BY 1)
        |SELECT base.event_type, n_intervals,
        |  CAST(m.mx AS BIGINT) AS max_concurrent, MIN(r.t) AS peak_ts
        |FROM base JOIN m USING (event_type) JOIN r USING (event_type)
        |WHERE r.active = m.mx
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    // incremental == full recompute: the oracle is the ONE-PASS aggregate,
    // so the driver re-proves the store+delta merge exact every round
    "q_mv_incremental" ->
      """SELECT o_orderdate,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // SCD2 windows: change rows by null-safe lag compare, intervals by
    // lead, versions by row_number — all over (ts, event_id) per user
    // PIT enrichment: the dim is the SCD2 history of NON-purchase events;
    // ASOF LEFT JOIN picks the version current at purchase time (>= —
    // matching the engine's right-before-left sort at equal ts)
    "q_pit_join" ->
      """WITH s AS (SELECT user_id, ts, event_type, event_id FROM events
        |  WHERE event_type <> 'purchase'),
        |e2 AS (SELECT user_id, ts, event_type, event_id,
        |    lag(event_type) OVER w AS prev, row_number() OVER w AS rn
        |  FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |ch AS (SELECT user_id, ts AS valid_from, event_type, event_id
        |  FROM e2 WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
        |hist AS (SELECT user_id, event_type AS state_at_purchase,
        |    valid_from,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY valid_from, event_id) AS BIGINT) AS dim_version
        |  FROM ch),
        |p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT purchase_id, p.user_id, state_at_purchase, dim_version
        |FROM p ASOF LEFT JOIN hist
        |  ON p.user_id = hist.user_id AND p.purchase_ts >= hist.valid_from
        |ORDER BY purchase_id""".stripMargin,
    "q_scd2_history" ->
      """WITH e AS (SELECT user_id, ts, event_type, event_id,
        |    lag(event_type) OVER w AS prev,
        |    row_number() OVER w AS rn
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |ch AS (SELECT user_id, ts AS valid_from, event_type, event_id
        |  FROM e WHERE rn = 1 OR prev IS DISTINCT FROM event_type)
        |SELECT user_id, event_type, valid_from,
        |  lead(valid_from) OVER w2 AS valid_to,
        |  CAST(row_number() OVER w2 AS BIGINT) AS version,
        |  (lead(valid_from) OVER w2) IS NULL AS is_current
        |FROM ch
        |WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, event_id)
        |ORDER BY user_id, version""".stripMargin,
    // GROUPING() bit order is the shared convention: 1 = column
    // aggregated away, first listed column = MSB — Spark grouping_id()
    // and DuckDB GROUPING() agree bit for bit
    "q_grouping_sets" ->
      """SELECT r_name, c_mktsegment, o_orderstatus,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_revenue,
        |  COUNT(*) AS n_orders,
        |  CAST(GROUPING(r_name, c_mktsegment, o_orderstatus) AS BIGINT)
        |    AS gid
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name, o_orderstatus),
        |  (c_mktsegment), ())
        |ORDER BY gid, r_name NULLS FIRST, c_mktsegment NULLS FIRST,
        |  o_orderstatus NULLS FIRST""".stripMargin,
    // the window sort key (spend DESC, custkey) is a total order, so
    // NTILE bucket boundaries are engine-deterministic; percent_rank /
    // cume_dist are single exact-integer divisions (engine-exact doubles)
    "q_ntile_spend" ->
      """WITH spend AS (SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS spend,
        |    COUNT(*) AS n_orders
        |  FROM orders GROUP BY 1)
        |SELECT c_custkey, c_mktsegment, spend, n_orders,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  PERCENT_RANK() OVER w AS pct_rank,
        |  CUME_DIST() OVER w AS cume
        |FROM spend JOIN customer ON o_custkey = c_custkey
        |WINDOW w AS (PARTITION BY c_mktsegment
        |  ORDER BY spend DESC, c_custkey)
        |ORDER BY c_mktsegment, spend DESC, c_custkey""".stripMargin,
    "q_k_anonymity" ->
      """WITH g AS (SELECT c_custkey,
        |    CAST(c_nationkey % 5 AS VARCHAR) AS zone_q,
        |    c_mktsegment AS segment_q,
        |    CAST(CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT) AS VARCHAR)
        |      AS band_q
        |  FROM customer),
        |w AS (SELECT *, COUNT(*) OVER (PARTITION BY zone_q, segment_q,
        |    band_q) AS grp_n FROM g)
        |SELECT c_custkey,
        |  CASE WHEN grp_n >= 5 THEN zone_q ELSE '*' END AS zone_q,
        |  CASE WHEN grp_n >= 5 THEN segment_q ELSE '*' END AS segment_q,
        |  CASE WHEN grp_n >= 5 THEN band_q ELSE '*' END AS band_q,
        |  grp_n >= 5 AS retained
        |FROM w ORDER BY c_custkey""".stripMargin,
    // each p·ln term snapped to the 2^-16 grid before SUM (the
    // q_source_entropy discipline): snapped terms are exactly
    // representable, so the sum is order-exact on both engines
    "q_mutual_info" ->
      """WITH j AS (SELECT c_mktsegment AS seg, o_orderpriority AS prio
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |cxy AS (SELECT seg, prio, COUNT(*) AS n_xy FROM j GROUP BY 1, 2),
        |cx AS (SELECT seg, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM cxy
        |  GROUP BY 1),
        |cy AS (SELECT prio, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM cxy
        |  GROUP BY 1),
        |t AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM cxy)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs, MAX(n) AS n,
        |  SUM(floor((CAST(n_xy AS DOUBLE) / n) *
        |    ln((CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE)) /
        |       (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE)))
        |    * 65536.0) / 65536.0) AS mi_nats
        |FROM cxy JOIN cx USING (seg) JOIN cy USING (prio)
        |CROSS JOIN t""".stripMargin,
    "q_train_split" ->
      """SELECT doc_id, source,
        |  CAST(((doc_id * 2654435761) >> 16) % 100 AS BIGINT) AS bucket,
        |  CASE WHEN ((doc_id * 2654435761) >> 16) % 100 < 80 THEN 'train'
        |       WHEN ((doc_id * 2654435761) >> 16) % 100 < 90 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    // seeded Laplace replay: u is an odd dyadic (2·(h mod 2^52)+1)/2^53
    // — open (0,1), never 1/2; t = 1-2|u-1/2| is exact dyadic, ln
    // snapped to the 2^-16 grid, negation exact, count+noise exact sum
    "q_dp_counts" ->
      """WITH g AS (SELECT c_nationkey, c_mktsegment,
        |    COUNT(*) AS n_true FROM customer GROUP BY 1, 2),
        |d AS (SELECT *,
        |    (CAST(CAST(md5_number_lower(CAST(c_nationkey AS VARCHAR)
        |        || ':' || c_mktsegment) AS HUGEINT) % 4503599627370496
        |      * 2 + 1 AS DOUBLE)) / 9007199254740992.0 AS u
        |  FROM g),
        |n AS (SELECT *,
        |    floor(ln(1.0 - 2.0 * abs(u - 0.5)) * 65536.0) / 65536.0
        |      AS ln_t
        |  FROM d)
        |SELECT c_nationkey, c_mktsegment, n_true,
        |  CASE WHEN u >= 0.5 THEN -ln_t ELSE ln_t END AS noise,
        |  CAST(n_true AS DOUBLE) +
        |    CASE WHEN u >= 0.5 THEN -ln_t ELSE ln_t END AS released,
        |  CAST(1.0 AS DOUBLE) AS epsilon,
        |  CAST(1.0 AS DOUBLE) AS sensitivity
        |FROM n ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    // bitemporal replay: wave k's SCD2 history from events with
    // event_id % 3 <= k, state at valid-time V = newest valid_from <= V
    // (change_id tie-break) — the knowledge-time axis replayed as the
    // wave filter instead of the lake's publishAt timestamps
    "q_bitemporal" ->
      """WITH probes(known_at, wave) AS (
        |  VALUES (1500, 0), (2500, 1), (3500, 2)),
        |e AS (SELECT p.known_at, user_id, ts, event_type, event_id,
        |    lag(event_type) OVER w AS prev, row_number() OVER w AS rn
        |  FROM events, probes p WHERE event_id % 3 <= p.wave
        |  WINDOW w AS (PARTITION BY p.known_at, user_id
        |    ORDER BY ts, event_id)),
        |ch AS (SELECT known_at, user_id, event_type AS state,
        |    ts AS valid_from, event_id AS change_id
        |  FROM e WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
        |r AS (SELECT *, row_number() OVER (PARTITION BY known_at, user_id
        |    ORDER BY valid_from DESC, change_id DESC) AS rn2
        |  FROM ch
        |  WHERE valid_from <= TIMESTAMP '2024-01-16 00:00:00')
        |SELECT CAST(known_at AS BIGINT) AS known_at, user_id, state,
        |  valid_from
        |FROM r WHERE rn2 = 1
        |ORDER BY known_at, user_id""".stripMargin,
    // revenues are exact-decimal sums cast once; delta and pct are
    // single IEEE subtract/divide — engine-exact
    "q_period_over_period" ->
      """WITH rev AS (SELECT
        |    CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS revenue,
        |    COUNT(*) AS n_orders
        |  FROM orders GROUP BY 1)
        |SELECT day, revenue, n_orders,
        |  lag(revenue, 1) OVER (ORDER BY day) AS prev_revenue,
        |  revenue - lag(revenue, 1) OVER (ORDER BY day) AS delta,
        |  (revenue - lag(revenue, 1) OVER (ORDER BY day))
        |    / lag(revenue, 1) OVER (ORDER BY day) AS pct_change
        |FROM rev ORDER BY day""".stripMargin,
    // weights are exact dyadic literals (1/2^k); credit is one IEEE
    // multiply — engine-exact, per-pair rows, no cross-row double sum
    "q_attribution_decay" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    event_type, value,
        |    lag(event_id, 1) OVER w AS t1, lag(event_type, 1) OVER w AS y1,
        |    lag(event_id, 2) OVER w AS t2, lag(event_type, 2) OVER w AS y2,
        |    lag(event_id, 3) OVER w AS t3, lag(event_type, 3) OVER w AS y3,
        |    lag(event_id, 4) OVER w AS t4, lag(event_type, 4) OVER w AS y4
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (SELECT event_id AS purchase_id, user_id,
        |    value AS p_value,
        |    unnest([t1, t2, t3, t4]) AS touch_id,
        |    unnest([y1, y2, y3, y4]) AS touch_type,
        |    unnest([1, 2, 3, 4]) AS k,
        |    unnest([0.5, 0.25, 0.125, 0.0625]) AS weight
        |  FROM e WHERE event_type = 'purchase')
        |SELECT purchase_id, user_id, touch_id, touch_type,
        |  CAST(k AS BIGINT) AS k, CAST(weight AS DOUBLE) AS weight,
        |  p_value * CAST(weight AS DOUBLE) AS credit
        |FROM p WHERE touch_id IS NOT NULL
        |ORDER BY purchase_id, k""".stripMargin,
    // fold partials are exact DECIMAL(18,2) sums; the leave-one-fold-out
    // window sums stay exact (decimal addition associative); the encoding
    // is ONE IEEE division of the two exactly-rounded casts
    "q_target_encode" ->
      """WITH j AS (SELECT c.c_mktsegment AS segment,
        |    o.o_orderkey % 5 AS fold,
        |    CAST(o.o_totalprice AS DECIMAL(18,2)) AS v
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |pf AS (SELECT segment, fold, SUM(v) AS s, COUNT(*) AS n
        |  FROM j GROUP BY 1, 2)
        |SELECT segment, CAST(fold AS BIGINT) AS fold, n AS n_fold,
        |  CAST(SUM(n) OVER (PARTITION BY segment) - n AS BIGINT)
        |    AS n_other_folds,
        |  CAST(SUM(s) OVER (PARTITION BY segment) - s AS DOUBLE)
        |    / CAST(SUM(n) OVER (PARTITION BY segment) - n AS DOUBLE)
        |    AS enc_target_mean
        |FROM pf ORDER BY segment, fold""".stripMargin,
    // daily v is an exact decimal sum cast once; the forecast's dyadic
    // weights are exact power-of-two scalings and the eight-term sum is
    // the SAME left-associative tree in both engines — IEEE addition is
    // deterministic, so every node rounds identically; no snapping
    "q_ewma_anomaly" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v,
        |    COUNT(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, day, v, n_events,
        |    lag(v,1) OVER w AS l1, lag(v,2) OVER w AS l2,
        |    lag(v,3) OVER w AS l3, lag(v,4) OVER w AS l4,
        |    lag(v,5) OVER w AS l5, lag(v,6) OVER w AS l6,
        |    lag(v,7) OVER w AS l7, lag(v,8) OVER w AS l8,
        |    row_number() OVER w AS rn
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |f AS (SELECT event_type, day, v, n_events,
        |    l1 * CAST(0.5 AS DOUBLE) + l2 * CAST(0.25 AS DOUBLE)
        |      + l3 * CAST(0.125 AS DOUBLE) + l4 * CAST(0.0625 AS DOUBLE)
        |      + l5 * CAST(0.03125 AS DOUBLE) + l6 * CAST(0.015625 AS DOUBLE)
        |      + l7 * CAST(0.0078125 AS DOUBLE)
        |      + l8 * CAST(0.0078125 AS DOUBLE) AS forecast
        |  FROM l WHERE rn > 8)
        |SELECT event_type, day, v, n_events, forecast,
        |  v - forecast AS deviation,
        |  CAST(abs(v - forecast) > forecast * CAST(0.25 AS DOUBLE)
        |    AS BIGINT) AS is_alert
        |FROM f ORDER BY event_type, day""".stripMargin,
    // full-recompute oracle: the driver hash-compare re-proves
    // incremental == from-scratch on the delta-join algebra every round
    "q_mv_join_incremental" ->
      """WITH j AS (SELECT o.o_orderkey, c.c_mktsegment, o.o_totalprice,
        |    CASE WHEN o.o_orderkey % 5 <> 4 AND c.c_custkey % 7 <> 3
        |      THEN 'store' ELSE 'delta' END AS src
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
        |SELECT c_mktsegment, COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN src = 'store' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_from_store,
        |  CAST(SUM(CASE WHEN src <> 'store' THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_from_delta,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // one writer task per segment → one file per partition value, so the
    // layout (and the file-count evidence) is a pure function of the
    // data: files replay as COUNT(DISTINCT key) over the same splits
    "q_partition_evolution" ->
      """WITH e AS (SELECT event_id,
        |    CAST(date_trunc('day', ts) AS DATE) AS day,
        |    event_type, value FROM events),
        |old AS (SELECT * FROM e WHERE event_id % 3 <> 0),
        |new AS (SELECT * FROM e WHERE event_id % 3 = 0)
        |SELECT '1' AS version, 'event_type' AS spec,
        |  (SELECT COUNT(DISTINCT event_type) FROM old) AS files_total,
        |  (SELECT COUNT(DISTINCT event_type) FROM old) AS files_scanned,
        |  COUNT(CASE WHEN day = DATE '2024-01-10' THEN 1 END) AS n_match,
        |  CAST(COALESCE(SUM(CASE WHEN day = DATE '2024-01-10'
        |    THEN CAST(value AS DECIMAL(18,2)) END), 0) AS DOUBLE)
        |    AS sum_value
        |FROM old
        |UNION ALL
        |SELECT '2', 'day',
        |  (SELECT COUNT(DISTINCT day) FROM new),
        |  (SELECT COUNT(DISTINCT day) FROM new
        |    WHERE day = DATE '2024-01-10'),
        |  COUNT(CASE WHEN day = DATE '2024-01-10' THEN 1 END),
        |  CAST(COALESCE(SUM(CASE WHEN day = DATE '2024-01-10'
        |    THEN CAST(value AS DECIMAL(18,2)) END), 0) AS DOUBLE)
        |FROM new
        |ORDER BY version""".stripMargin,
    // KMV replay: masked hashes are exact longs in both engines (mod 2^62
    // of the md5 lane — non-negative, identical ordering); the estimator
    // divides two identically-rounded doubles and snaps to the 2^-16
    // grid; rho/256 is exact dyadic; exact counts ride along
    "q_kmv_overlap" ->
      """WITH w AS (SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    list_distinct(CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |      ELSE list_transform(generate_series(1, len(ws) - 2),
        |        i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS sg
        |  FROM w),
        |p AS (SELECT doc_id, unnest(sg) AS s FROM sh),
        |hh AS (SELECT doc_id, CAST(CAST(md5_number_lower(s) AS HUGEINT)
        |    % 4611686018427387904 AS BIGINT) AS h FROM p),
        |ea AS (SELECT DISTINCT h FROM hh WHERE doc_id % 2 = 0),
        |eb AS (SELECT DISTINCT h FROM hh WHERE doc_id % 3 = 0),
        |sa AS (SELECT h FROM ea ORDER BY h LIMIT 256),
        |sb AS (SELECT h FROM eb ORDER BY h LIMIT 256),
        |su AS (SELECT DISTINCT h FROM
        |    (SELECT h FROM sa UNION ALL SELECT h FROM sb)
        |  ORDER BY h LIMIT 256),
        |kth AS (SELECT MAX(h) AS kth_value, COUNT(*) AS k FROM su),
        |rho_t AS (SELECT COUNT(*) AS rho FROM su
        |  WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)),
        |exu AS (SELECT COUNT(*) AS exact_union FROM
        |  (SELECT h FROM ea UNION SELECT h FROM eb)),
        |exi AS (SELECT COUNT(*) AS exact_intersection FROM ea
        |  WHERE h IN (SELECT h FROM eb)),
        |est AS (SELECT k, kth_value,
        |    floor((CAST(255 AS DOUBLE) * CAST(4611686018427387904 AS DOUBLE)
        |      / CAST(kth_value AS DOUBLE)) * CAST(65536 AS DOUBLE))
        |      / CAST(65536 AS DOUBLE) AS est_union
        |  FROM kth)
        |SELECT CAST(k AS BIGINT) AS k, kth_value, est_union, exact_union,
        |  CAST(rho AS BIGINT) AS rho,
        |  CAST(rho AS DOUBLE) / CAST(256 AS DOUBLE) AS jaccard_est,
        |  est_union * (CAST(rho AS DOUBLE) / CAST(256 AS DOUBLE))
        |    AS est_intersection,
        |  exact_intersection
        |FROM est CROSS JOIN rho_t CROSS JOIN exu CROSS JOIN exi""".stripMargin,
    // both stages aggregate the same day's rows (migration must not lose
    // or double anything); the file model replays as COUNT(DISTINCT key)
    // per layout — one writer task per stage by construction
    "q_evolve_compact" ->
      """WITH e AS (SELECT event_id,
        |    CAST(date_trunc('day', ts) AS DATE) AS day,
        |    event_type, value FROM events),
        |old AS (SELECT * FROM e WHERE event_id % 3 <> 0),
        |new AS (SELECT * FROM e WHERE event_id % 3 = 0),
        |agg AS (SELECT COUNT(*) AS n_match,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM e WHERE day = DATE '2024-01-10')
        |SELECT '1_pre_optimize' AS stage, CAST(2 AS BIGINT) AS n_segments,
        |  (SELECT COUNT(DISTINCT event_type) FROM old)
        |    + (SELECT COUNT(DISTINCT day) FROM new) AS files_total,
        |  (SELECT COUNT(DISTINCT event_type) FROM old)
        |    + CAST(1 AS BIGINT) AS files_scanned,
        |  n_match, sum_value FROM agg
        |UNION ALL
        |SELECT '2_post_optimize', CAST(1 AS BIGINT),
        |  (SELECT COUNT(DISTINCT day) FROM e),
        |  CAST(1 AS BIGINT),
        |  n_match, sum_value FROM agg
        |ORDER BY stage""".stripMargin,
    // chain-aware vacuum evidence: both stages must aggregate the FULL
    // events extract (retention never touches live chain segments); the
    // dropped/on-disk version counts are protocol facts the read verifies
    "q_evolve_vacuum" ->
      """WITH e AS (SELECT event_id, event_type, value,
        |    CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
        |agg AS (SELECT COUNT(*) AS n_rows,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM e)
        |SELECT '1_chain_pinned' AS stage, CAST(0 AS BIGINT) AS n_dropped,
        |  CAST(3 AS BIGINT) AS n_versions, n_rows, sum_value FROM agg
        |UNION ALL
        |SELECT '2_post_rewrite', CAST(3 AS BIGINT), CAST(1 AS BIGINT),
        |  n_rows, sum_value FROM agg
        |ORDER BY stage""".stripMargin,
    // the quasi-group verdict (COUNT DISTINCT sensitive) replays as the
    // same grouped aggregate; suppression is all-or-nothing per group
    "q_l_diversity" ->
      """WITH g AS (SELECT c_custkey,
        |    CAST(c_nationkey % 5 AS VARCHAR) AS zone_q,
        |    CAST(CAST(FLOOR(c_acctbal / 2000.0) AS BIGINT) AS VARCHAR)
        |      AS band_q,
        |    c_mktsegment AS sensitive
        |  FROM customer),
        |gr AS (SELECT zone_q, band_q,
        |    COUNT(DISTINCT sensitive) AS n_sensitive
        |  FROM g GROUP BY 1, 2)
        |SELECT c_custkey,
        |  CASE WHEN n_sensitive >= 3 THEN g.zone_q ELSE '*' END AS zone_q,
        |  CASE WHEN n_sensitive >= 3 THEN g.band_q ELSE '*' END AS band_q,
        |  sensitive, n_sensitive,
        |  CAST(n_sensitive >= 3 AS BIGINT) AS retained
        |FROM g JOIN gr USING (zone_q, band_q)
        |ORDER BY c_custkey""".stripMargin,
    // the whole CUSUM pipeline is exact decimal arithmetic (scaled
    // deviations n·v − T avoid every division); the only IEEE op is the
    // emission cast, identical on identical exact values. Every DuckDB
    // multiply is width-bounded by explicit casts — an over-38-digit
    // decimal product silently promotes to DOUBLE there, which would
    // smuggle float arithmetic into the "exact" pipeline (ulp drift on
    // ~39 rows before the fix)
    "q_cusum_shift" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    SUM(CAST(value AS DECIMAL(18,2))) AS v
        |  FROM events GROUP BY 1, 2),
        |s1 AS (SELECT event_type, day, v,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n_days,
        |    CAST(SUM(v) OVER (PARTITION BY event_type) AS DECIMAL(28,2))
        |      AS total FROM daily),
        |s2 AS (SELECT event_type, day, v, total,
        |    CAST(SUM(v * CAST(n_days AS DECIMAL(6,0))) OVER w
        |      - total * CAST(row_number() OVER w AS DECIMAL(8,0))
        |      AS DECIMAL(20,2)) AS p
        |  FROM s1 WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s3 AS (SELECT event_type, day, v, total,
        |    p - (CASE WHEN m < 0 THEN m ELSE CAST(0 AS DECIMAL(20,2)) END)
        |      AS s
        |  FROM (SELECT *, min(p) OVER w2 AS m FROM s2
        |    WINDOW w2 AS (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)))
        |SELECT event_type, day, CAST(v AS DOUBLE) AS v,
        |  CAST(s AS DOUBLE) AS cusum_scaled,
        |  CAST(s + s > total AS BIGINT) AS alarm
        |FROM s3 ORDER BY event_type, day""".stripMargin,
    // all timestamps in exact long microseconds; the break flag uses the
    // running max of PREVIOUS ends (an early long interval swallows
    // later short ones — lag(e) would split spans it covers)
    "q_interval_merge" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + 1800000000 AS e FROM events),
        |f AS (SELECT user_id, event_id, s, e,
        |    CASE WHEN max(e) OVER pw IS NULL OR s > max(e) OVER pw
        |      THEN 1 ELSE 0 END AS brk
        |  FROM e WINDOW pw AS (PARTITION BY user_id ORDER BY s, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |g AS (SELECT user_id, s, e,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS span_id FROM f)
        |SELECT user_id, CAST(span_id AS BIGINT) AS span_id,
        |  make_timestamp(min(s)) AS span_start,
        |  make_timestamp(max(e)) AS span_end,
        |  COUNT(*) AS n_events,
        |  (max(e) - min(s)) // 1000000 AS span_seconds
        |FROM g GROUP BY user_id, span_id
        |ORDER BY user_id, span_id""".stripMargin,
    // Hamilton apportionment in exact long arithmetic: scaled remainders
    // (S·n mod N) avoid fractions; Σ alloc == S by construction
    "q_largest_remainder" ->
      """WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents
        |  GROUP BY 1),
        |t AS (SELECT source, n_docs, SUM(n_docs) OVER () AS n_total FROM c),
        |s AS (SELECT source, n_docs,
        |    (10000 * n_docs) // n_total AS base,
        |    (10000 * n_docs) % n_total AS rem FROM t),
        |r AS (SELECT *,
        |    row_number() OVER (ORDER BY rem DESC, source) AS rem_rank,
        |    10000 - SUM(base) OVER () AS leftover FROM s)
        |SELECT source, n_docs,
        |  CAST(base + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END
        |    AS BIGINT) AS alloc,
        |  CAST(rem_rank AS BIGINT) AS rem_rank
        |FROM r ORDER BY source""".stripMargin,
    // n_within is recomputed from the FULL cross join — since the radius
    // (0.05°) never exceeds the cell (0.1°), the 3×3 neighborhood must
    // cover every within-radius pair; a grid join that missed one would
    // undercount and hash-fail (the q_fuzzy_join completeness discipline)
    "q_geo_grid_join" ->
      """WITH c AS (SELECT c_custkey,
        |    CAST(48 AS DOUBLE) + CAST(c_custkey * 2654435761 % 1000
        |      AS DOUBLE) / CAST(1000 AS DOUBLE) AS c_lat,
        |    CAST(2 AS DOUBLE) + CAST(c_custkey * 1099087573 % 1000
        |      AS DOUBLE) / CAST(1000 AS DOUBLE) AS c_lon
        |  FROM customer),
        |cc AS (SELECT *, CAST(FLOOR(c_lat * 10) AS BIGINT) AS cx,
        |    CAST(FLOOR(c_lon * 10) AS BIGINT) AS cy FROM c),
        |s AS (SELECT s_suppkey,
        |    CAST(48 AS DOUBLE) + CAST(s_suppkey * 2654435761 % 1000
        |      AS DOUBLE) / CAST(1000 AS DOUBLE) AS s_lat,
        |    CAST(2 AS DOUBLE) + CAST(s_suppkey * 1099087573 % 1000
        |      AS DOUBLE) / CAST(1000 AS DOUBLE) AS s_lon
        |  FROM supplier),
        |ss AS (SELECT *, CAST(FLOOR(s_lat * 10) AS BIGINT) AS sx,
        |    CAST(FLOOR(s_lon * 10) AS BIGINT) AS sy FROM s),
        |cand AS (SELECT s_suppkey, c_custkey,
        |    (s_lat - c_lat) * (s_lat - c_lat)
        |      + (s_lon - c_lon) * (s_lon - c_lon) AS d2
        |  FROM ss JOIN cc ON abs(sx - cx) <= 1 AND abs(sy - cy) <= 1),
        |win AS (SELECT s.s_suppkey, COUNT(*) AS n_within
        |  FROM s CROSS JOIN c
        |  WHERE (s_lat - c_lat) * (s_lat - c_lat)
        |      + (s_lon - c_lon) * (s_lon - c_lon)
        |    < CAST(0.0025 AS DOUBLE)
        |  GROUP BY 1),
        |r AS (SELECT *, row_number() OVER (PARTITION BY s_suppkey
        |    ORDER BY d2, c_custkey) AS rk FROM cand)
        |SELECT r.s_suppkey, COUNT(*) AS n_candidates,
        |  CAST(COALESCE(MAX(win.n_within), 0) AS BIGINT) AS n_within,
        |  MAX(CASE WHEN rk = 1 THEN c_custkey END) AS nearest_custkey,
        |  MAX(CASE WHEN rk = 1 THEN d2 END) AS nearest_d2
        |FROM r LEFT JOIN win ON r.s_suppkey = win.s_suppkey
        |GROUP BY 1 ORDER BY r.s_suppkey""".stripMargin,
    // deterministic keyed tokens: same md5 over the same concatenation
    // in both engines; the raw identifier never reaches the output
    "q_pseudonymize" ->
      """SELECT c_custkey,
        |  md5('release-2024-06:' || c_name) AS token,
        |  md5('release-2024-07:' || c_name) AS token_rotated,
        |  c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    // per-day sMAPE terms snapped to the 2^-16 grid pre-sum (exact,
    // order-free); the mean is one final division; worst day is a
    // comparison-only argmax
    "q_forecast_backtest" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, day, v, lag(v, 7) OVER w AS f,
        |    row_number() OVER w AS rn
        |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
        |t AS (SELECT event_type, day,
        |    floor(CAST(2 AS DOUBLE) * abs(v - f) / (v + f)
        |      * CAST(65536 AS DOUBLE)) / CAST(65536 AS DOUBLE) AS term
        |  FROM l WHERE rn > 7),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY term DESC, day) AS wrk FROM t)
        |SELECT event_type, COUNT(*) AS n_scored,
        |  SUM(term) / CAST(COUNT(*) AS DOUBLE) AS smape,
        |  MAX(CASE WHEN wrk = 1 THEN day END) AS worst_day,
        |  MAX(CASE WHEN wrk = 1 THEN term END) AS worst_term
        |FROM r GROUP BY 1 ORDER BY event_type""".stripMargin,
    // the report is a pure function of the two versions' footers —
    // SF-independent, so the oracle is the expected contract itself
    "q_schema_drift" ->
      """SELECT * FROM (VALUES
        |  ('day', 'added', CAST(NULL AS VARCHAR), 'date'),
        |  ('event_id', 'unchanged', 'bigint', 'bigint'),
        |  ('event_type', 'removed', 'string', CAST(NULL AS VARCHAR)),
        |  ('value', 'retyped', 'double', 'float'))
        |  AS t(col_name, status, old_type, new_type)
        |ORDER BY col_name""".stripMargin,
    "q_geohash" -> geohashOracle,
    "q_geo_radius" -> geoRadiusOracle,
    "q_kcore" -> kcoreOracle,
    // cohort grid in integer cents; exact month arithmetic (never the
    // fractional months_between); cumulative window over the bounded
    // (cohort, age) grid — HUGEINT window sum cast back to BIGINT
    "q_cohort_ltv" ->
      """WITH o AS (SELECT o_custkey, o_orderdate, o_totalprice
        |  FROM orders),
        |f AS (SELECT o_custkey, MIN(o_orderdate) AS first_dt
        |  FROM o GROUP BY o_custkey),
        |co AS (SELECT CAST(date_trunc('month', first_dt) AS DATE)
        |      AS cohort,
        |    CAST((year(o_orderdate) * 12 + month(o_orderdate))
        |      - (year(first_dt) * 12 + month(first_dt)) AS BIGINT) AS age,
        |    o_totalprice
        |  FROM o JOIN f USING (o_custkey)),
        |grid AS (SELECT cohort, age,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS rev_cents,
        |    COUNT(*) AS n_orders
        |  FROM co GROUP BY 1, 2),
        |sz AS (SELECT CAST(date_trunc('month', first_dt) AS DATE)
        |      AS cohort,
        |    COUNT(*) AS n_customers
        |  FROM f GROUP BY 1),
        |j AS (SELECT g.cohort, age, n_customers, n_orders, rev_cents,
        |    CAST(SUM(rev_cents) OVER (PARTITION BY g.cohort ORDER BY age
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_cents
        |  FROM grid g JOIN sz USING (cohort))
        |SELECT cohort, age, n_customers, n_orders, rev_cents, cum_cents,
        |  CAST(cum_cents AS DOUBLE) / CAST(n_customers AS DOUBLE)
        |    AS ltv_cents
        |FROM j ORDER BY cohort, age""".stripMargin,
    // the recursive CTE IS the naive per-level walk — hash equality
    // re-proves the pointer-doubling composition == step-by-step every
    // round; all quantities exact BIGINT
    "q_bom_rollup" ->
      """WITH RECURSIVE up AS (
        |  SELECT p_partkey AS node, p_partkey AS cur,
        |    CAST(1 AS BIGINT) AS prod, CAST(0 AS BIGINT) AS depth
        |  FROM part
        |  UNION ALL
        |  SELECT node, cur // 4, prod * (cur % 3 + 1), depth + 1
        |  FROM up WHERE cur >= 4)
        |SELECT cur AS root, depth, COUNT(*) AS n_parts,
        |  CAST(SUM(prod) AS BIGINT) AS total_units
        |FROM up WHERE cur < 4
        |GROUP BY 1, 2 ORDER BY root, depth""".stripMargin,
    // quintile boundaries are engine-deterministic: total-order NTILE
    // sort keys (metric, custkey); recency anchored to the corpus max
    // date, never wall clock
    "q_rfm_segmentation" ->
      """WITH a AS (SELECT MAX(o_orderdate) AS anchor FROM orders),
        |rfm AS (SELECT o_custkey,
        |    CAST(MIN(date_diff('day', CAST(o_orderdate AS DATE),
        |      CAST(anchor AS DATE))) AS BIGINT) AS r_days,
        |    COUNT(*) AS f_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS m_total
        |  FROM orders CROSS JOIN a GROUP BY 1),
        |q AS (SELECT o_custkey, r_days, f_orders, m_total,
        |    CAST(NTILE(5) OVER (ORDER BY r_days, o_custkey) AS BIGINT)
        |      AS r_q,
        |    CAST(NTILE(5) OVER (ORDER BY f_orders DESC, o_custkey)
        |      AS BIGINT) AS f_q,
        |    CAST(NTILE(5) OVER (ORDER BY m_total DESC, o_custkey)
        |      AS BIGINT) AS m_q
        |  FROM rfm)
        |SELECT o_custkey, r_days, f_orders, m_total, r_q, f_q, m_q,
        |  r_q || '-' || f_q || '-' || m_q AS segment
        |FROM q ORDER BY o_custkey""".stripMargin,
    "q_benford_audit" -> benfordOracle,
  )

  /** BM25 oracle — the query set inlined from its single source of truth
    * (TextQueries.bm25Queries); scoring expression mirrors
    * ops.Retrieval.bm25TopK token for token: same literals, same
    * association, per-term partials floored onto the 2^-16 dyadic grid so
    * the cross-term SUM is reduction-order-exact in both engines.
    */
  private def bm25Oracle: String = {
    val vals = graft.queries.TextQueries.bm25Queries
      .map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""WITH q AS (SELECT CAST(query_id AS BIGINT) AS query_id, term
       |    FROM (VALUES $vals) AS v(query_id, term)),
       |w AS (SELECT doc_id,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS dl,
       |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
       |  FROM documents),
       |t AS (SELECT doc_id, term, max(dl) AS dl, COUNT(*) AS tf FROM w
       |  WHERE term <> '' AND term IN (SELECT term FROM q)
       |  GROUP BY doc_id, term),
       |d AS (SELECT term, COUNT(*) AS df FROM t GROUP BY term),
       |n AS (SELECT COUNT(*) AS nd,
       |    CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+'))) AS BIGINT) AS sumdl
       |  FROM documents),
       |s AS (SELECT q.query_id, t.doc_id,
       |    floor((ln(1.0 + (CAST(nd AS DOUBLE) - df + 0.5) / (df + 0.5))
       |      * ((CAST(tf AS DOUBLE) * 2.2)
       |        / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75
       |          * (CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / nd))))))
       |      * 65536.0) / 65536.0 AS ts
       |  FROM t JOIN q USING (term) JOIN d USING (term) CROSS JOIN n),
       |sc AS (SELECT query_id, doc_id, SUM(ts) AS score FROM s
       |  GROUP BY query_id, doc_id),
       |r AS (SELECT query_id, doc_id, score, row_number() OVER (
       |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM sc)
       |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, score
       |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** BPE oracle — trained-model pattern: the learned merge list inlined
    * as a chain of plain `replace` calls over the separator-wrapped
    * representation (ops.Bpe's portability trick: both engines' replace
    * is a left-to-right non-overlapping scan, and the double-separator
    * wrapping makes that exactly canonical simultaneous BPE merging).
    * chr(1) is the separator; RE2's replacement backref is `\1` where
    * Java's is `$1`, hence the dialect-specific wrap expression.
    */
  private def bpeOracle(merges: Seq[(String, String)]): String = {
    def sq(s: String): String = s.replace("'", "''")
    def wrapped(sym: String): String = s"chr(1)||'${sq(sym)}'||chr(1)"
    val repChain = merges.foldLeft(
      "regexp_replace(word, '(.)', chr(1)||'\\1'||chr(1), 'g')") {
      case (rep, (a, b)) =>
        s"replace($rep,\n      ${wrapped(a)}||${wrapped(b)}, ${wrapped(a + b)})"
    }
    s"""WITH w AS (SELECT doc_id,
       |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
       |  FROM documents),
       |wc AS (SELECT doc_id, word, COUNT(*) AS wn FROM w
       |  WHERE word <> '' GROUP BY doc_id, word),
       |dw AS (SELECT DISTINCT word FROM wc),
       |tok AS (SELECT word,
       |    $repChain AS rep
       |  FROM dw),
       |tl AS (SELECT word,
       |    CAST((length(rep) - length(replace(rep, chr(1), ''))) >> 1
       |      AS BIGINT) AS ntok
       |  FROM tok)
       |SELECT wc.doc_id, CAST(SUM(wn) AS BIGINT) AS n_words,
       |  CAST(SUM(wn * length(word)) AS BIGINT) AS n_chars,
       |  CAST(SUM(wn * ntok) AS BIGINT) AS n_bpe_tokens,
       |  CAST(SUM(wn * length(word)) AS DOUBLE) / SUM(wn * ntok)
       |    AS compression
       |FROM wc JOIN tl USING (word)
       |GROUP BY wc.doc_id ORDER BY doc_id""".stripMargin
  }

  /** Shared GBT feature/target CTE chain — rendered from the SAME
    * strings the Spark featurize uses (graft.ops.Gbt.BinSql/TargetSql/
    * catBinSql, `%DIV%` → `//`): both engines must rebuild the identical
    * supervised slice, INCLUDING the out-of-fold categorical target
    * encoding (exact integer floor-div means, so the replay is
    * bit-exact; the GREATEST clamp absorbs the trunc-vs-floor division
    * difference on negative numerators — see Gbt's scaladoc).
    */
  private def gbtTCte: String = {
    import graft.ops.Gbt
    val bins = Gbt.BinCols.take(3).zip(Gbt.BinSql)
      .map { case (n, s) => s"    ${Gbt.render(s, duck = true)} AS $n" }
    val catBin = Gbt.render(
      Gbt.catBinSql("COALESCE(enc, (SELECT genc FROM g))"), duck = true)
    s"""t0 AS (SELECT
       |    CAST(p_partkey AS BIGINT) AS pk,
       |${bins.mkString(",\n")},
       |    ${Gbt.CatSql} AS cat,
       |    CAST(${Gbt.CatFoldSql} AS BIGINT) AS fold,
       |    CAST(${Gbt.TargetSql} AS BIGINT) AS y,
       |    CASE WHEN ${Gbt.TrainPredSql} THEN 'train' ELSE 'test' END
       |      AS split
       |  FROM part WHERE p_size IS NOT NULL),
       |cm AS (SELECT cat, fold, COUNT(*) AS n, SUM(y) AS sy
       |  FROM t0 WHERE split = 'train' GROUP BY 1, 2),
       |ct AS (SELECT cat, SUM(n) AS nn, SUM(sy) AS ss FROM cm GROUP BY 1),
       |g AS (SELECT SUM(ss) // SUM(nn) AS genc FROM ct),
       |encf AS (SELECT cm.cat AS cat, cm.fold AS fold,
       |    CASE WHEN ct.nn - cm.n > 0 THEN (ct.ss - cm.sy) // (ct.nn - cm.n)
       |      ELSE ct.ss // ct.nn END AS enc
       |  FROM cm JOIN ct ON cm.cat = ct.cat
       |  UNION ALL SELECT cat, -1, ss // nn FROM ct),
       |t AS (SELECT pk, b_size, b_mod, b_noise,
       |    $catBin AS b_cat,
       |    y, split
       |  FROM t0 LEFT JOIN encf ON t0.cat = encf.cat
       |    AND encf.fold = CASE WHEN t0.split = 'train' THEN t0.fold
       |      ELSE -1 END)""".stripMargin
  }

  /** Model-inlined GBT scoring oracle: ŷ = base + routed per-stump
    * deltas (exact integers), per-split exact sums, then the identical
    * closed-form double RMSE/R² tree as the Spark query.
    */
  private def gbtScoreOracle(m: graft.ops.Gbt.Model): String = {
    import graft.ops.Gbt
    val fhat = s"${m.base}" + m.stumps.map(s =>
      s" + CASE WHEN ${Gbt.BinCols(s.f)} <= ${s.b} THEN ${s.dl} " +
        s"ELSE ${s.dr} END").mkString
    s"""WITH $gbtTCte,
       |s AS (SELECT split, y, ($fhat) AS fhat FROM t),
       |a AS (SELECT split, COUNT(*) AS n, SUM(y) AS sy,
       |    SUM(CAST(y * y AS DECIMAL(25,0))) AS syy,
       |    SUM(CAST((y - fhat) * (y - fhat) AS DECIMAL(25,0))) AS sse
       |  FROM s GROUP BY split)
       |SELECT split, n,
       |  sqrt(CAST(sse AS DOUBLE) / CAST(n AS DOUBLE)) AS rmse,
       |  CAST(1 AS DOUBLE) - CAST(sse AS DOUBLE) / (CAST(syy AS DOUBLE)
       |    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
       |    AS r2
       |FROM a ORDER BY split""".stripMargin
  }

  /** q_model_serve oracle: the scoring replay of [[gbtScoreOracle]]
    * (the STORED model must score identically to the in-session one —
    * the round-trip proof) plus the registry-lifecycle literals: the
    * manifest must land on v2 after the freshness-gated republish, two
    * versions must exist, and the artifact must carry every stump.
    */
  private def modelServeOracle(m: graft.ops.Gbt.Model): String = {
    import graft.ops.Gbt
    val fhat = s"${m.base}" + m.stumps.map(s =>
      s" + CASE WHEN ${Gbt.BinCols(s.f)} <= ${s.b} THEN ${s.dl} " +
        s"ELSE ${s.dr} END").mkString
    s"""WITH $gbtTCte,
       |s AS (SELECT split, y, ($fhat) AS fhat FROM t),
       |a AS (SELECT split, COUNT(*) AS n, SUM(y) AS sy,
       |    SUM(CAST(y * y AS DECIMAL(25,0))) AS syy,
       |    SUM(CAST((y - fhat) * (y - fhat) AS DECIMAL(25,0))) AS sse
       |  FROM s GROUP BY split)
       |SELECT '2' AS model_version, CAST(2 AS BIGINT) AS n_versions,
       |  CAST(${m.stumps.length} AS BIGINT) AS n_stumps, split, n,
       |  sqrt(CAST(sse AS DOUBLE) / CAST(n AS DOUBLE)) AS rmse,
       |  CAST(1 AS DOUBLE) - CAST(sse AS DOUBLE) / (CAST(syy AS DOUBLE)
       |    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
       |    AS r2
       |FROM a ORDER BY split""".stripMargin
  }

  /** q_model_rollback oracle: the scoring replay with the PINNED v1
    * (half-trained) model inlined, plus the version-pin evidence — a
    * rollback that silently serves the manifest-current v2 hash-fails
    * because the two models' scores differ on the planted slice.
    */
  private def rollbackOracle(m: graft.ops.Gbt.Model): String = {
    import graft.ops.Gbt
    val fhat = s"${m.base}" + m.stumps.map(s =>
      s" + CASE WHEN ${Gbt.BinCols(s.f)} <= ${s.b} THEN ${s.dl} " +
        s"ELSE ${s.dr} END").mkString
    s"""WITH $gbtTCte,
       |s AS (SELECT split, y, ($fhat) AS fhat FROM t),
       |a AS (SELECT split, COUNT(*) AS n, SUM(y) AS sy,
       |    SUM(CAST(y * y AS DECIMAL(25,0))) AS syy,
       |    SUM(CAST((y - fhat) * (y - fhat) AS DECIMAL(25,0))) AS sse
       |  FROM s GROUP BY split)
       |SELECT '1' AS served_version, CAST(2 AS BIGINT) AS n_versions,
       |  split, n,
       |  sqrt(CAST(sse AS DOUBLE) / CAST(n AS DOUBLE)) AS rmse,
       |  CAST(1 AS DOUBLE) - CAST(sse AS DOUBLE) / (CAST(syy AS DOUBLE)
       |    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
       |    AS r2
       |FROM a ORDER BY split""".stripMargin
  }

  /** The depth-2 model's scoring expression: base + per-tree routed
    * leaf delta — a nested exact-integer CASE per tree, mirroring
    * Gbt.fhatColTree token for token (a side with no child serves its
    * single leaf delta unconditionally).
    */
  private def treeFhatSql(m: graft.ops.Gbt.TreeModel): String = {
    import graft.ops.Gbt
    s"${m.base}" + m.trees.map { t =>
      def side(c: Option[Gbt.Node], dl: Long, dr: Long): String =
        c.map(n => s"CASE WHEN ${Gbt.BinCols(n.f)} <= ${n.b} " +
          s"THEN $dl ELSE $dr END").getOrElse(s"$dl")
      s" + CASE WHEN ${Gbt.BinCols(t.root.f)} <= ${t.root.b}" +
        s" THEN ${side(t.lChild, t.dLL, t.dLR)}" +
        s" ELSE ${side(t.rChild, t.dRL, t.dRR)} END"
    }.mkString
  }

  /** q_model_serve_tree oracle: [[modelServeOracle]]'s lifecycle
    * evidence with the DEPTH-2 scoring replay — the stored tree
    * artifact must score bit-identically to the in-session model.
    */
  private def treeServeOracle(m: graft.ops.Gbt.TreeModel): String = {
    val fhat = treeFhatSql(m)
    s"""WITH $gbtTCte,
       |s AS (SELECT split, y, ($fhat) AS fhat FROM t),
       |a AS (SELECT split, COUNT(*) AS n, SUM(y) AS sy,
       |    SUM(CAST(y * y AS DECIMAL(25,0))) AS syy,
       |    SUM(CAST((y - fhat) * (y - fhat) AS DECIMAL(25,0))) AS sse
       |  FROM s GROUP BY split)
       |SELECT '2' AS model_version, CAST(2 AS BIGINT) AS n_versions,
       |  CAST(${m.trees.length} AS BIGINT) AS n_trees, split, n,
       |  sqrt(CAST(sse AS DOUBLE) / CAST(n AS DOUBLE)) AS rmse,
       |  CAST(1 AS DOUBLE) - CAST(sse AS DOUBLE) / (CAST(syy AS DOUBLE)
       |    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
       |    AS r2
       |FROM a ORDER BY split""".stripMargin
  }

  /** The generic depth-d model's scoring expression — the recursive
    * nested CASE mirroring Gbt.fhatColDeep token for token. */
  private def deepFhatSql(m: graft.ops.Gbt.DeepModel): String = {
    import graft.ops.Gbt
    s"${m.base}" + m.trees.map { t =>
      def route(l: Int, p: Int): String =
        t.splits.get((l, p)) match {
          case Some(n) if l < m.depth =>
            s"CASE WHEN ${Gbt.BinCols(n.f)} <= ${n.b} " +
              s"THEN ${route(l + 1, p << 1)} " +
              s"ELSE ${route(l + 1, (p << 1) | 1)} END"
          case _ => s"${t.deltas(p << (m.depth - l))}"
        }
      s" + ${route(0, 0)}"
    }.mkString
  }

  /** q_gbt_depth3 oracle: the depth-3 model-inlined scoring replay with
    * the depth/n_trees evidence literals. */
  private def deepScoreOracle(m: graft.ops.Gbt.DeepModel): String = {
    val fhat = deepFhatSql(m)
    s"""WITH $gbtTCte,
       |s AS (SELECT split, y, ($fhat) AS fhat FROM t),
       |a AS (SELECT split, COUNT(*) AS n, SUM(y) AS sy,
       |    SUM(CAST(y * y AS DECIMAL(25,0))) AS syy,
       |    SUM(CAST((y - fhat) * (y - fhat) AS DECIMAL(25,0))) AS sse
       |  FROM s GROUP BY split)
       |SELECT CAST(${m.depth} AS BIGINT) AS depth,
       |  CAST(${m.trees.length} AS BIGINT) AS n_trees, split, n,
       |  sqrt(CAST(sse AS DOUBLE) / CAST(n AS DOUBLE)) AS rmse,
       |  CAST(1 AS DOUBLE) - CAST(sse AS DOUBLE) / (CAST(syy AS DOUBLE)
       |    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
       |    AS r2
       |FROM a ORDER BY split""".stripMargin
  }

  /** q_model_alias oracle: BOTH stages' scoring replays over the one
    * shared featurized CTE — promoted rows with the full model (prod →
    * v2), rolled-back rows with the half model (prod re-pointed at v1).
    */
  private def aliasOracle(full: graft.ops.Gbt.Model,
      half: graft.ops.Gbt.Model): String = {
    import graft.ops.Gbt
    def fhatOf(m: Gbt.Model): String = s"${m.base}" + m.stumps.map(s =>
      s" + CASE WHEN ${Gbt.BinCols(s.f)} <= ${s.b} THEN ${s.dl} " +
        s"ELSE ${s.dr} END").mkString
    def evalCtes(tag: String, m: Gbt.Model): String =
      s"""s$tag AS (SELECT split, y, (${fhatOf(m)}) AS fhat FROM t),
         |a$tag AS (SELECT split, COUNT(*) AS n, SUM(y) AS sy,
         |    SUM(CAST(y * y AS DECIMAL(25,0))) AS syy,
         |    SUM(CAST((y - fhat) * (y - fhat) AS DECIMAL(25,0))) AS sse
         |  FROM s$tag GROUP BY split)""".stripMargin
    def sel(stage: String, ver: String, tag: String): String =
      s"""SELECT '$stage' AS stage, 'prod' AS alias,
         |  '$ver' AS served_version, split, n,
         |  sqrt(CAST(sse AS DOUBLE) / CAST(n AS DOUBLE)) AS rmse,
         |  CAST(1 AS DOUBLE) - CAST(sse AS DOUBLE) / (CAST(syy AS DOUBLE)
         |    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
         |    AS r2
         |FROM a$tag""".stripMargin
    s"""WITH $gbtTCte,
       |${evalCtes("p", full)},
       |${evalCtes("r", half)}
       |${sel("1_promoted", "2", "p")}
       |UNION ALL
       |${sel("2_rolled_back", "1", "r")}
       |ORDER BY stage, split""".stripMargin
  }

  /** q_stream_model_ingest oracle: the batch aggregate over rows scored
    * with the inlined stored model — exact integer sums of (y, pred)
    * per split, plus the 3-drop epoch evidence. Scoring is row-local,
    * so stream == batch by construction and any ingest drift (stale
    * model, lost epoch, duplicated replay) hash-fails.
    */
  private def modelIngestOracle(m: graft.ops.Gbt.Model): String = {
    import graft.ops.Gbt
    val fhat = s"${m.base}" + m.stumps.map(s =>
      s" + CASE WHEN ${Gbt.BinCols(s.f)} <= ${s.b} THEN ${s.dl} " +
        s"ELSE ${s.dr} END").mkString
    s"""WITH $gbtTCte
       |SELECT split, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS sum_y,
       |  CAST(SUM($fhat) AS BIGINT) AS sum_pred,
       |  CAST(3 AS BIGINT) AS n_epochs
       |FROM t GROUP BY split ORDER BY split""".stripMargin
  }

  /** Split-conformal oracle: the inlined model scores the held-out
    * split, qhat replays as the identical cumulative-count order
    * statistic over the integer |residual| histogram (k = ⌈(n+1)·0.9⌉
    * clamped to n), coverage as exact counting aggregates.
    */
  private def gbtConformalOracle(m: graft.ops.Gbt.Model): String = {
    import graft.ops.Gbt
    val fhat = s"${m.base}" + m.stumps.map(s =>
      s" + CASE WHEN ${Gbt.BinCols(s.f)} <= ${s.b} THEN ${s.dl} " +
        s"ELSE ${s.dr} END").mkString
    s"""WITH $gbtTCte,
       |a AS (SELECT pk, abs(y - ($fhat)) AS ar,
       |    CASE WHEN (pk // 5) % 2 = 0 THEN 'calibration' ELSE 'eval' END
       |      AS grp
       |  FROM t WHERE split = 'test'),
       |calc AS (SELECT ar, COUNT(*) AS c FROM a
       |  WHERE grp = 'calibration' GROUP BY ar),
       |n0 AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM calc),
       |k0 AS (SELECT CASE
       |    WHEN CAST(CEIL(CAST(n + 1 AS DOUBLE) * CAST(0.9 AS DOUBLE))
       |      AS BIGINT) > n THEN n
       |    ELSE CAST(CEIL(CAST(n + 1 AS DOUBLE) * CAST(0.9 AS DOUBLE))
       |      AS BIGINT) END AS k FROM n0),
       |cum AS (SELECT ar, SUM(c) OVER (ORDER BY ar) AS cs FROM calc),
       |q0 AS (SELECT MIN(ar) AS qhat FROM cum, k0 WHERE cs >= k)
       |SELECT grp, COUNT(*) AS n, (SELECT qhat FROM q0) AS qhat,
       |  CAST(SUM(CASE WHEN ar <= (SELECT qhat FROM q0) THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_covered,
       |  CAST(SUM(CASE WHEN ar <= (SELECT qhat FROM q0) THEN 1 ELSE 0 END)
       |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS coverage
       |FROM a GROUP BY grp ORDER BY grp""".stripMargin
  }

  /** GBT importance oracle: replays the ENTIRE training in SQL — per
    * round the same (pattern, feature, bin) histogram over the raw
    * table, exact-integer residual prefix sums (HUGEINT domain), the
    * identical IEEE gain/delta expressions, and the (gain DESC, f, b)
    * argmax — then aggregates grid-snapped gains per feature. A single
    * diverged split decision anywhere in training changes the rows.
    */
  private def gbtImportanceOracle(m: graft.ops.Gbt.Model): String = {
    import graft.ops.Gbt
    // a stump-less model would render a dangling comma and an empty
    // UNION chain below — fail loudly instead of emitting invalid SQL
    // (qGbtImportance guards the same condition on the query side)
    require(m.stumps.nonEmpty,
      "gbtImportanceOracle: cannot render a replay for a zero-stump model")
    def patSql(stumps: Seq[Gbt.Stump]): String =
      if (stumps.isEmpty) "0"
      else stumps.zipWithIndex.map { case (s, j) =>
        s"(CASE WHEN ${Gbt.BinCols(s.f)} <= ${s.b} THEN ${1 << j} " +
          "ELSE 0 END)"
      }.mkString(" + ")
    def fSql(stumps: Seq[Gbt.Stump]): String =
      "(SELECT base FROM b0)" + stumps.zipWithIndex.map { case (s, j) =>
        s" + CASE WHEN (p // ${1 << j}) % 2 = 1 THEN ${s.dl} " +
          s"ELSE ${s.dr} END"
      }.mkString
    val fvals = Gbt.BinCols.indices.map(i => s"($i)").mkString(",")
    val bvals = (0 until Gbt.NBins - 1).map(b => s"($b)").mkString(",")
    val caseV = "CASE ff.f " + Gbt.BinCols.zipWithIndex.map {
      case (c, i) => s"WHEN $i THEN $c "
    }.mkString + "END"
    val rounds = m.stumps.indices.map { k =>
      val prior = m.stumps.take(k)
      val i = k + 1
      s"""c$i AS (SELECT ${patSql(prior)} AS p, ff.f AS f,
         |    $caseV AS v, COUNT(*) AS n, SUM(y) AS sy
         |  FROM tr CROSS JOIN (VALUES $fvals) AS ff(f) GROUP BY 1, 2, 3),
         |r$i AS (SELECT f, v, CAST(n AS BIGINT) AS n,
         |    CAST(sy AS BIGINT) - CAST(n AS BIGINT) * (${fSql(prior)})
         |      AS r
         |  FROM c$i),
         |t$i AS (SELECT f, CAST(SUM(n) AS BIGINT) AS tot_n,
         |    CAST(SUM(r) AS BIGINT) AS tot_r FROM r$i GROUP BY f),
         |s$i AS (SELECT cell.f AS f, bb.b AS b,
         |    CAST(SUM(n) AS BIGINT) AS ln, CAST(SUM(r) AS BIGINT) AS lr
         |  FROM r$i cell CROSS JOIN (VALUES $bvals) AS bb(b)
         |  WHERE cell.v <= bb.b GROUP BY 1, 2),
         |g$i AS (SELECT s.f, s.b, ln, lr, tot_n - ln AS rn,
         |    tot_r - lr AS rr
         |  FROM s$i s JOIN t$i USING (f)
         |  WHERE ln > 0 AND tot_n - ln > 0),
         |w$i AS (SELECT f, b,
         |    (CAST(lr AS DOUBLE) * CAST(lr AS DOUBLE)) / CAST(ln AS DOUBLE)
         |      + (CAST(rr AS DOUBLE) * CAST(rr AS DOUBLE))
         |        / CAST(rn AS DOUBLE) AS gain,
         |    CAST(FLOOR(CAST(0.5 AS DOUBLE) * (CAST(lr AS DOUBLE)
         |      / CAST(ln AS DOUBLE)) + CAST(0.5 AS DOUBLE)) AS BIGINT)
         |      AS dl,
         |    CAST(FLOOR(CAST(0.5 AS DOUBLE) * (CAST(rr AS DOUBLE)
         |      / CAST(rn AS DOUBLE)) + CAST(0.5 AS DOUBLE)) AS BIGINT)
         |      AS dr
         |  FROM g$i ORDER BY gain DESC, f ASC, b ASC LIMIT 1)""".stripMargin
    }
    val union = m.stumps.indices
      .map(k => s"SELECT ${k + 1} AS round, f, b, dl, dr, gain FROM w${k + 1}")
      .mkString("\n  UNION ALL ")
    val names = Gbt.FeatureNames.zipWithIndex
      .map { case (n, i) => s"($i, '$n')" }.mkString(", ")
    s"""WITH $gbtTCte,
       |tr AS (SELECT * FROM t WHERE split = 'train'),
       |b0 AS (SELECT CAST(SUM(y) // COUNT(*) AS BIGINT) AS base FROM tr),
       |${rounds.mkString(",\n")},
       |allr AS ($union),
       |fl AS (SELECT f, COUNT(*) AS n_splits, SUM(FLOOR(gain)) AS tg
       |  FROM allr GROUP BY f),
       |names AS (SELECT * FROM (VALUES $names) AS nm(f, feature)),
       |tot AS (SELECT SUM(FLOOR(gain)) AS gt FROM allr)
       |SELECT feature,
       |  CAST(COALESCE(n_splits, 0) AS BIGINT) AS n_splits,
       |  COALESCE(CAST(tg AS DOUBLE), CAST(0 AS DOUBLE)) AS total_gain,
       |  COALESCE(CAST(tg AS DOUBLE), CAST(0 AS DOUBLE))
       |    / CAST(gt AS DOUBLE) AS share
       |FROM names LEFT JOIN fl USING (f) CROSS JOIN tot
       |ORDER BY feature""".stripMargin
  }

  /** Depth-2 tree oracle: replays the ENTIRE two-level training in SQL.
    * Per round i (prior trees inlined as literals from the trained
    * model): the (pattern, feature, bin) root histogram with exact-
    * integer residual prefix sums and the IEEE gain argmax (wa$i), then
    * the (pattern, SIDE, feature, bin) child histogram conditioned on
    * wa$i's split via a 1-row cross join, with a per-side QUALIFY
    * argmax (wb$i). The final readout aggregates the SQL-DERIVED
    * splits' floor-snapped variance reductions per feature — a single
    * diverged root or child decision anywhere in training changes the
    * rows. Gains materialize in the w CTEs and the parent-term
    * subtraction happens in the union projection, mirroring
    * Gbt.bestOver's exact two-step IEEE sequence.
    */
  private def gbtTreeOracle(m: graft.ops.Gbt.TreeModel): String = {
    import graft.ops.Gbt
    require(m.trees.nonEmpty,
      "gbtTreeOracle: cannot render a replay for a zero-tree model")
    def patSql(trees: Seq[Gbt.Tree]): String =
      if (trees.isEmpty) "0"
      else trees.zipWithIndex.map { case (t, j) =>
        val l = t.lChild.map(c =>
          s"CASE WHEN ${Gbt.BinCols(c.f)} <= ${c.b} THEN 0 ELSE 1 END")
          .getOrElse("0")
        val r = t.rChild.map(c =>
          s"CASE WHEN ${Gbt.BinCols(c.f)} <= ${c.b} THEN 2 ELSE 3 END")
          .getOrElse("2")
        s"(CASE WHEN ${Gbt.BinCols(t.root.f)} <= ${t.root.b} THEN $l " +
          s"ELSE $r END) * ${1 << (2 * j)}"
      }.mkString(" + ")
    def fSql(trees: Seq[Gbt.Tree]): String =
      "(SELECT base FROM b0)" + trees.zipWithIndex.map { case (t, j) =>
        s" + CASE (p // ${1 << (2 * j)}) % 4 WHEN 0 THEN ${t.dLL} " +
          s"WHEN 1 THEN ${t.dLR} WHEN 2 THEN ${t.dRL} ELSE ${t.dRR} END"
      }.mkString
    val fvals = Gbt.BinCols.indices.map(i => s"($i)").mkString(",")
    val bvals = (0 until Gbt.NBins - 1).map(b => s"($b)").mkString(",")
    val caseV = "CASE ff.f " + Gbt.BinCols.zipWithIndex.map {
      case (c, i) => s"WHEN $i THEN $c "
    }.mkString + "END"
    val caseRoot = "CASE wa.f " + Gbt.BinCols.zipWithIndex.map {
      case (c, i) => s"WHEN $i THEN $c "
    }.mkString + "END"
    val rounds = m.trees.indices.map { k =>
      val prior = m.trees.take(k)
      val i = k + 1
      s"""ca$i AS (SELECT ${patSql(prior)} AS p, ff.f AS f,
         |    $caseV AS v, COUNT(*) AS n, SUM(y) AS sy
         |  FROM tr CROSS JOIN (VALUES $fvals) AS ff(f) GROUP BY 1, 2, 3),
         |ra$i AS (SELECT f, v, CAST(n AS BIGINT) AS n,
         |    CAST(sy AS BIGINT) - CAST(n AS BIGINT) * (${fSql(prior)})
         |      AS r
         |  FROM ca$i),
         |ta$i AS (SELECT f, CAST(SUM(n) AS BIGINT) AS tot_n,
         |    CAST(SUM(r) AS BIGINT) AS tot_r FROM ra$i GROUP BY f),
         |sa$i AS (SELECT cell.f AS f, bb.b AS b,
         |    CAST(SUM(n) AS BIGINT) AS ln, CAST(SUM(r) AS BIGINT) AS lr
         |  FROM ra$i cell CROSS JOIN (VALUES $bvals) AS bb(b)
         |  WHERE cell.v <= bb.b GROUP BY 1, 2),
         |ga$i AS (SELECT s.f, s.b, ln, lr, tot_n - ln AS rn,
         |    tot_r - lr AS rr, tot_n, tot_r
         |  FROM sa$i s JOIN ta$i USING (f)
         |  WHERE ln > 0 AND tot_n - ln > 0),
         |wa$i AS (SELECT f, b,
         |    (CAST(lr AS DOUBLE) * CAST(lr AS DOUBLE)) / CAST(ln AS DOUBLE)
         |      + (CAST(rr AS DOUBLE) * CAST(rr AS DOUBLE))
         |        / CAST(rn AS DOUBLE) AS gain,
         |    tot_n, tot_r
         |  FROM ga$i ORDER BY gain DESC, f ASC, b ASC LIMIT 1),
         |cb$i AS (SELECT ${patSql(prior)} AS p,
         |    CASE WHEN ($caseRoot) <= wa.b THEN 1 ELSE 0 END AS s,
         |    ff.f AS f, $caseV AS v, COUNT(*) AS n, SUM(y) AS sy
         |  FROM tr CROSS JOIN wa$i wa CROSS JOIN (VALUES $fvals) AS ff(f)
         |  GROUP BY 1, 2, 3, 4),
         |rb$i AS (SELECT s, f, v, CAST(n AS BIGINT) AS n,
         |    CAST(sy AS BIGINT) - CAST(n AS BIGINT) * (${fSql(prior)})
         |      AS r
         |  FROM cb$i),
         |tb$i AS (SELECT s, f, CAST(SUM(n) AS BIGINT) AS tot_n,
         |    CAST(SUM(r) AS BIGINT) AS tot_r FROM rb$i GROUP BY s, f),
         |sb$i AS (SELECT cell.s AS s, cell.f AS f, bb.b AS b,
         |    CAST(SUM(n) AS BIGINT) AS ln, CAST(SUM(r) AS BIGINT) AS lr
         |  FROM rb$i cell CROSS JOIN (VALUES $bvals) AS bb(b)
         |  WHERE cell.v <= bb.b GROUP BY 1, 2, 3),
         |gb$i AS (SELECT s.s, s.f, s.b, ln, lr, t.tot_n - ln AS rn,
         |    t.tot_r - lr AS rr, t.tot_n, t.tot_r
         |  FROM sb$i s JOIN tb$i t ON s.s = t.s AND s.f = t.f
         |  WHERE ln > 0 AND t.tot_n - ln > 0),
         |wb$i AS (SELECT s, f, b,
         |    (CAST(lr AS DOUBLE) * CAST(lr AS DOUBLE)) / CAST(ln AS DOUBLE)
         |      + (CAST(rr AS DOUBLE) * CAST(rr AS DOUBLE))
         |        / CAST(rn AS DOUBLE) AS gain,
         |    tot_n, tot_r
         |  FROM gb$i
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY s
         |    ORDER BY gain DESC, f ASC, b ASC) = 1)""".stripMargin
    }
    val union = m.trees.indices.flatMap { k =>
      val i = k + 1
      Seq(
        s"SELECT f, gain - (CAST(tot_r AS DOUBLE) * CAST(tot_r AS DOUBLE))" +
          s" / CAST(tot_n AS DOUBLE) AS gred FROM wa$i",
        s"SELECT f, gain - (CAST(tot_r AS DOUBLE) * CAST(tot_r AS DOUBLE))" +
          s" / CAST(tot_n AS DOUBLE) AS gred FROM wb$i")
    }.mkString("\n  UNION ALL ")
    val names = Gbt.FeatureNames.zipWithIndex
      .map { case (n, i) => s"($i, '$n')" }.mkString(", ")
    s"""WITH $gbtTCte,
       |tr AS (SELECT * FROM t WHERE split = 'train'),
       |b0 AS (SELECT CAST(SUM(y) // COUNT(*) AS BIGINT) AS base FROM tr),
       |${rounds.mkString(",\n")},
       |allr AS ($union),
       |fl AS (SELECT f, COUNT(*) AS n_splits, SUM(FLOOR(gred)) AS tg
       |  FROM allr GROUP BY f),
       |names AS (SELECT * FROM (VALUES $names) AS nm(f, feature)),
       |tot AS (SELECT SUM(FLOOR(gred)) AS gt FROM allr)
       |SELECT feature,
       |  CAST(COALESCE(n_splits, 0) AS BIGINT) AS n_splits,
       |  COALESCE(CAST(tg AS DOUBLE), CAST(0 AS DOUBLE)) AS total_gain,
       |  COALESCE(CAST(tg AS DOUBLE), CAST(0 AS DOUBLE))
       |    / CAST(gt AS DOUBLE) AS share
       |FROM names LEFT JOIN fl USING (f) CROSS JOIN tot
       |ORDER BY feature""".stripMargin
  }

  /** PageRank oracle: the power iteration UNROLLED as `iters` chained CTE
    * pairs (per-edge contributions snapped to the 2^-52 grid, then the
    * damping update), mirroring ops.Graph.pageRank's expression tree
    * exactly — identical literals, casts and association, so all five
    * iterations stay bit-equal in both engines.
    */
  private def pagerankOracle(iters: Int): String = {
    val head =
      """e0 AS (SELECT DISTINCT o_custkey*2 AS src, l_suppkey*2+1 AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM e0
        |  UNION ALL SELECT dst AS src, src AS dst FROM e0),
        |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
        |nt AS (SELECT COUNT(*) AS nd FROM deg),
        |r0 AS (SELECT src AS node, 1.0/CAST(nd AS DOUBLE) AS r
        |  FROM deg CROSS JOIN nt)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""s$i AS (SELECT e.dst AS node,
         |    SUM(floor((r.r/deg.deg)*4503599627370496.0)/4503599627370496.0) AS s
         |  FROM e JOIN r${i - 1} r ON e.src = r.node
         |  JOIN deg ON e.src = deg.src
         |  GROUP BY e.dst),
         |r$i AS (SELECT node, 0.15/CAST(nd AS DOUBLE) + 0.85*s AS r
         |  FROM s$i CROSS JOIN nt)""".stripMargin
    }
    val ctes = (head +: steps).mkString(",\n")
    s"""WITH $ctes
       |SELECT node,
       |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
       |  node >> 1 AS entity_key, r AS pr
       |FROM r$iters ORDER BY node""".stripMargin
  }

  /** The Morton interleave of the low `bits` bits of `x` and `y` as a SQL
    * expression string — pure (>>, &, <<, |) integer arithmetic, valid in
    * both the Spark and DuckDB dialects, and the exact formula
    * `ops.Layout.zValue` builds as Columns.
    */
  private def zExprSql(x: String, y: String, bits: Int): String =
    (0 until bits).flatMap(i => Seq(
      s"((($x >> $i) & 1) << ${2 * i})",
      s"((($y >> $i) & 1) << ${2 * i + 1})"))
      .mkString(" | ")
}
