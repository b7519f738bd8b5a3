package graft.oracle

import org.apache.spark.sql.DataFrame

import graft.operators.Vectors.{IvfPqModel, KmeansParModel, PqModel, ProbeHierarchy}

/** The DuckDB oracle: per registered query, independent DuckDB SQL over
  * the same parquet tables with the same column names and floor rounding.
  * The builders (one object per operator family) read engine constants;
  * no engine code reads them. A trained key's registry entry records its
  * model here, and [[sql]] renders it as literals, so Verify reads [[sql]]
  * after its query loop.
  */
object Oracle {

  def sql: Map[String, String] = Map(
    "q_user_video_rollup" -> ChatOracle.userDataSql,
    "q_user_monthly_activity" -> ChatOracle.userWeeklyActivitySql,
    "q_language_stats" -> ChatOracle.languageStatsSql,
    "q_user_language_share" -> ChatOracle.userLanguageShareSql,
    "q_membership_summary" -> ChatOracle.membershipSummarySql,
    "q_hours_total" -> ChatOracle.totalSql,
    "q_hours_avg" -> ChatOracle.avgSql,
    "q_hours_max" -> ChatOracle.maxSql,
    "q_monthly_hours" -> ChatOracle.monthlyHoursSql(1L),
    "q_hours_diff" -> ChatOracle.hoursDiffSql,
    "q_chat_makeup" -> ChatOracle.chatMakeupSql,
    "q_message_type_percents" -> ChatOracle.messageTypePercentsSql("click", "jp"),
    "q_common_users" -> ChatOracle.commonUsersPairSql("click", "2024-01-01", "view", "2024-01-08"),
    "q_common_users_matrix" -> ChatOracle.commonUsersMatrixSql,
    "q_common_members" -> ChatOracle.commonMembersMatrixSql,
    "q_membership_counts" -> s"SELECT * FROM (${ChatOracle.membershipSummarySql}) WHERE week = DATE '2024-01-15'",
    "q_membership_total" -> ChatOracle.membershipTotalSql,
    "q_membership_changes" -> ChatOracle.membershipChangesSql,
    "q_chat_leaderboard" -> ChatOracle.leaderboardSql(),
    "q_user_changes" -> ChatOracle.userChangesSql(),
    "q_exclusive_users" -> ChatOracle.exclusiveUsersSql,
    "q_heavy_lang_users" -> ChatOracle.heavyLangUsersSql,
    "q_user_percentile" -> ChatOracle.userPercentileSql,
    "q_engagement" -> ChatOracle.engagementSql,
    "q_attrition" -> ChatOracle.attritionSql(),
    "q_retention_cohort" -> ChatOracle.retentionCohortSql,
    // the full-scan rollup IS the oracle: increment(rollup(old), new) must
    // reproduce it exactly (additive-merge equivalence)
    "q_rollup_incremental" -> ChatOracle.userWeeklyActivitySql,
    // the full-scan userData IS the oracle (mergeable-aggregate equivalence)
    "q_userdata_incremental" -> ChatOracle.userDataSql,
    "q_site_stats" -> ChatOracle.siteStatsSql,
    "q_funniest_moment" -> ChatOracle.funniestMomentSql(),
    "q_highlight_velocity" -> ChatOracle.highlightVelocitySql(),
    "q_video_highlights" -> ChatOracle.videoHighlightsSql(),
    "q_log_coverage" -> ChatOracle.logCoverageSql(),
    "q_funniest_offsets" -> ChatOracle.funniestOffsetsSql(),
    "q_channel_names" -> ChatOracle.channelNamesSql,
    "q_date_ranges" -> ChatOracle.dateRangesSql,
    "q_channel_similarity" -> ChatOracle.channelSimilaritySql,
    "q_recommend" -> ChatOracle.recommendSql(exclThreshold = 12L),
    "q_content_similarity" -> ChatOracle.contentSimilaritySql,
    "q_clustering_communities" -> ChatOracle.clusteringCommunitiesSql,
    "q_forecast_hours" -> ChatOracle.forecastHoursSql(),
    "d_dedup_exact" -> DedupOracle.dedupExactSql,
    "d_dedup_minhash" -> DedupOracle.dedupMinhashSql(),
    "d_minhash_incremental" -> DedupOracle.dedupMinhashSql(),
    "d_clusters_incremental" -> DedupOracle.dedupClustersSql(),
    "d_minhash_incremental_wh" -> DedupOracle.dedupMinhashSql(),
    "d_clusters_incremental_wh" -> DedupOracle.dedupClustersSql(),
    "d_dedup_simhash" -> DedupOracle.dedupSimhashSql(),
    "d_ngram_jaccard" -> DedupOracle.ngramJaccardSql(),
    "d_ngram_jaccard_capped" -> DedupOracle.ngramJaccardCappedSql(cap = 16L),
    "d_embed_neardup" -> DedupOracle.embedNearDupSql(),
    "d_dedup_clusters" -> DedupOracle.dedupClustersSql(),
    "d_dedup_incremental" -> DedupOracle.dedupIncrementalSql(),
    "d_substring_overlap" -> DedupOracle.substringOverlapSql(),
    "d_dedup_lines" -> DedupOracle.dedupLinesSql(),
    "d_semdedup" -> DedupOracle.semDedupSql(),
    "d_semdedup_geo" -> DedupOracle.semDedupGeoSql(),
    "q_search_highlights" -> VectorsOracle.searchHighlightsSql(),
    "v_ann_topk" -> VectorsOracle.annTopKSql(),
    "v_ann_ivf" -> VectorsOracle.annIvfSql(),
    "v_ann_lsh" -> VectorsOracle.annLshSql(),
    "v_knn_join" -> VectorsOracle.knnJoinSql(),
    "v_knn_join_mp" -> VectorsOracle.knnJoinMultiProbeSql(),
    "v_knn_join_geo" -> VectorsOracle.knnJoinGeoSql(),
    "v_knn_join_incremental" -> VectorsOracle.knnGraphSql(),
    "v_knn_join_incremental_wh" -> VectorsOracle.knnGraphSql(),
    "t_categorize" -> TextOracle.categorizeDocsSql,
    "t_membership_rank" -> TextOracle.membershipRankDocsSql,
    "t_humor" -> TextOracle.humorDocsSql,
    "t_lang_id" -> TextOracle.langIdDocsSql,
    "t_quality_score" -> TextOracle.qualityDocsSql,
    "t_token_count" -> TextOracle.tokenCountDocsSql,
    "t_fingerprint" -> TextOracle.fingerprintDocsSql,
    "t_pii_scrub" -> TextOracle.piiScrubDocsSql,
    "t_strip_html" -> TextOracle.stripHtmlDocsSql,
    "t_char_entropy" -> TextOracle.charEntropyDocsSql,
    "t_gopher_rules" -> TextOracle.gopherRulesDocsSql,
    "t_parse_query" -> TextOracle.parseQueryDocsSql,
    "p_decontaminate" -> PipelineOracle.decontaminateSql(),
    // same oracle as p_decontaminate: the bloom is candidate pruning only,
    // an exact join re-verifies every survivor
    "p_decontaminate_bloom" -> PipelineOracle.decontaminateSql(),
    "p_perplexity_buckets" -> PipelineOracle.perplexityBucketsSql(),
    "t_repetition" -> PipelineOracle.repetitionScoreSql(),
    "p_sample_hash" -> PipelineOracle.sampleHashSql(),
    "p_shuffle_shards" -> PipelineOracle.shuffleShardsSql(),
    "p_sample_stratified" -> PipelineOracle.sampleStratifiedSql(),
    "p_sample_threshold" -> PipelineOracle.sampleThresholdSql(),
    "p_dsir" -> PipelineOracle.dsirSql(),
    "p_mix_sample" -> PipelineOracle.mixSampleSql(),
    "p_dataset_card" -> PipelineOracle.datasetCardSql,
    "p_pack" -> PipelineOracle.packSequencesSql(),
    "p_corpus_build" -> PipelineOracle.corpusBuildSql(),
    "p_token_percentiles" -> PipelineOracle.tokenPercentilesSql,
    "p_unigram_nll" -> PipelineOracle.unigramNllSql,
    "p_bigram_nll" -> PipelineOracle.bigramNllSql,
    "p_top_terms" -> PipelineOracle.topTermsSql(),
    "p_bpe_pairs" -> PipelineOracle.bpePairsSql(),
    "v_quantize_int8" -> VectorsOracle.quantizeInt8Sql,
    "v_cluster_kmeans" -> VectorsOracle.clusterKmeansSql(),
    "v_kmeans_incremental" -> VectorsOracle.kmeansStateSql(),
    "v_cluster_sample" -> VectorsOracle.clusterSampleSql(),
    "s_stream_cluster" -> StreamOracle.clusterCountsSql(),
    // the stub decode + frame slicing are deterministic byte math, and the
    // resize's source pixels are a closed-form formula through a LOSSLESS
    // codec, so these three ARE oracle-checkable; the plain codec
    // round-trips (m_image_decode/m_audio_decode) stay rows-only
    "m_multimodal_meta" -> MultimodalOracle.mediaFeaturesSql,
    "m_frame_sample" -> MultimodalOracle.frameSampleSql(),
    "m_resize" -> MultimodalOracle.imageResizeSql(),
    "s_stream_sessionize" -> StreamOracle.sessionizeExactSql(),
    "s_stream_membership" -> StreamOracle.transitionsSql,
    "s_stream_dedup" -> StreamOracle.survivorsSql,
    "s_stream_velocity" -> StreamOracle.burstsSql(),
    "s_sessionize_gap" -> StreamOracle.gapSessionsSql(),
    "src_chatlog_rollup" -> ChatOracle.fixtureRollupSql
  ) ++ trained.map { case (key, render) => key -> render() }

  private val trained = scala.collection.concurrent.TrieMap.empty[String, () => String]

  private def record[M](key: String, model: M)(render: => String): M = {
    trained.put(key, () => render)
    model
  }

  def annPq(m: PqModel): PqModel = record("v_ann_pq", m)(VectorsOracle.annPqSql(m))
  def annPqResidual(m: PqModel): PqModel = record("v_ann_pq_residual", m)(VectorsOracle.annPqResidualSql(m))
  def annPqOpq(m: PqModel): PqModel = record("v_ann_pq_opq", m)(VectorsOracle.annPqOpqSql(m))
  def annIvfPq(m: IvfPqModel): IvfPqModel = record("v_ann_ivfpq", m)(VectorsOracle.annIvfPqSql(m))
  def annIvfPqGeo(m: IvfPqModel): IvfPqModel =
    record("v_ann_ivfpq_geo", m)(VectorsOracle.annIvfPqGeoSql(m))
  def knnJoinMph(h: ProbeHierarchy): ProbeHierarchy =
    record("v_knn_join_mph", h)(VectorsOracle.knnJoinMultiProbeHierSql(h))
  def clusterKmeansPar(m: KmeansParModel): KmeansParModel =
    if (m.centroids.isEmpty) m else record("v_cluster_kmeanspar", m)(VectorsOracle.clusterKmeansParSql(m))
  def tokenizeBpe(merges: Array[String]): Array[String] =
    record("t_tokenize_bpe", merges)(TextOracle.tokenizeBpeSql(merges, "text"))
  def qualityClassifier(model: (Array[Double], Double)): (Array[Double], Double) =
    record("t_quality_classifier", model)(
      TextOracle.qualityClassifierSql(model, TextOracle.qualityCorpusTextSql))

  /** Double literal DuckDB types as DOUBLE (the exponent forces it) and
    * parses back to the identical IEEE value (shortest-round-trip string).
    */
  def dl(x: Double): String = {
    val s = x.toString
    if (s.contains("E")) s else s + "E0"
  }
  def dlist(a: Seq[Double]): String = a.map(dl).mkString("[", ", ", "]")

  /** `EventSemantics.fl`'s twin: floor at `scale` decimals. */
  def flSql(expr: String, scale: Int): String = {
    val p = math.pow(10, scale).toLong
    s"floor(($expr) * $p) / $p"
  }

  /** The graph oracles' okey packing needs vec_ids below 2^40. */
  val OKEY_ID_BOUND: Long = 1L << 40

  /** Gate-path guard for the graph oracles' okey packing domain:
    * `twoStageTopKSql`'s BIGINT order key `round(cosine·10^6)·2^40 − vec_b`
    * is an order isomorphism only while every vec_id sits in [0, 2^40) — a
    * violating corpus would yield a WRONG oracle, not an error. Verify
    * asserts the bound on the dumped Spark result (one bounded aggregate
    * over ≤ k·N rows, both id columns); the SQL carries the same guard
    * in-query (DuckDB `error()`), so both engines fail loud.
    */
  def requireOkeyDomain(df: DataFrame, op: String): Unit = {
    import org.apache.spark.sql.functions.{col, max, min}
    val cols = df.columns.toSet
    if (cols.contains("vec_a") && cols.contains("vec_b")) {
      val r = df.agg(
        min(col("vec_a").cast("long")), max(col("vec_a").cast("long")),
        min(col("vec_b").cast("long")), max(col("vec_b").cast("long"))).collect()(0)
      if (!r.isNullAt(0)) {
        val lo = math.min(r.getLong(0), r.getLong(2))
        val hi = math.max(r.getLong(1), r.getLong(3))
        require(lo >= 0 && hi < OKEY_ID_BOUND,
          s"$op: okey domain violated — vec_ids span [$lo, $hi] but the " +
            s"iterated-argmax oracle key requires [0, $OKEY_ID_BOUND); " +
            "the registered SQL would mis-rank, not error, so the gate fails here")
      }
    }
  }
}
