package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._
import graft.oracle.Oracle

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  *
  * Every entry pairs a Spark plan (`queries`) with DuckDB oracle SQL
  * (`oracleSql`) over the same parquet tables; column names match exactly
  * and every non-integer output is floor-rounded (EventSemantics.fl) so
  * both engines produce bit-identical values.
  */
object SparkEntry {

  private def ev(s: SparkSession, d: String) = Tables.events(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)
  private def cust(s: SparkSession, d: String) = Tables.customer(s, d)
  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)
  private def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ChatStats.leaderboard(Tables.events(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- core ETL rollups (SURVEY §2 #4, 7-10) ---
    "q_user_video_rollup" -> ((s, d) => EventSemantics.userData(ev(s, d))),
    "q_user_monthly_activity" -> ((s, d) => EventSemantics.userWeeklyActivity(ev(s, d))),
    "q_language_stats" -> ((s, d) => ChatStats.languageStats(ev(s, d))),
    "q_user_language_share" -> ((s, d) => ChatStats.userLanguageShare(ev(s, d))),
    "q_membership_summary" -> ((s, d) => ChatStats.membershipSummary(ev(s, d))),
    // --- streaming hours (#11-15) ---
    "q_hours_total" -> ((s, d) => StreamingHours.total(ord(s, d), cust(s, d))),
    "q_hours_avg" -> ((s, d) => StreamingHours.avg(ord(s, d), cust(s, d))),
    "q_hours_max" -> ((s, d) => StreamingHours.max(ord(s, d), cust(s, d))),
    "q_monthly_hours" -> ((s, d) => StreamingHours.monthlyHours(ord(s, d), cust(s, d), 1L)),
    "q_hours_diff" -> ((s, d) => StreamingHours.hoursDiff(ord(s, d), cust(s, d))),
    // --- makeup (#16-17) ---
    "q_chat_makeup" -> ((s, d) => Makeup.chatMakeup(ev(s, d))),
    "q_message_type_percents" -> ((s, d) => Makeup.messageTypePercents(ev(s, d), "click", "jp")),
    // --- user/overlap queries (#18-30, 35) ---
    "q_common_users" -> ((s, d) =>
      ChatStats.commonUsersPair(ev(s, d), "click", "2024-01-01", "view", "2024-01-08")),
    "q_common_users_matrix" -> ((s, d) => ChatStats.commonUsersMatrix(ev(s, d))),
    // HLL-sketch matrix twin — sketch estimates are engine-specific, so no
    // DuckDB oracle (rows-only check); the spec bounds error vs the exact matrix
    "q_common_users_matrix_approx" -> ((s, d) => ChatStats.commonUsersMatrixApprox(ev(s, d))),
    // incremental sketch-MV maintenance: sketch(old) merged with sketch(delta),
    // emitted as estimates — engine-specific, so rows-only; the spec pins
    // merged == full-history estimates exactly
    "q_sketch_rollup_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit, to_date, hll_sketch_estimate}
      val e = ev(s, d)
      val cutoff = to_date(lit("2024-01-20"))
      ChatStats.mergeSketchRollups(
        ChatStats.sketchRollup(e.filter(col("ts") < cutoff)),
        ChatStats.sketchRollup(e.filter(col("ts") >= cutoff)))
        .select(col("channel"), col("week"),
          hll_sketch_estimate(col("sk")).as("approx_users"))
    }),
    "q_common_members" -> ((s, d) => ChatStats.commonMembersMatrix(ev(s, d))),
    "q_membership_counts" -> ((s, d) => ChatStats.membershipCounts(ev(s, d), "2024-01-15")),
    "q_membership_total" -> ((s, d) => ChatStats.membershipTotal(ev(s, d))),
    "q_membership_changes" -> ((s, d) => ChatStats.membershipChanges(ev(s, d))),
    "q_chat_leaderboard" -> ((s, d) => ChatStats.leaderboard(ev(s, d))),
    "q_user_changes" -> ((s, d) => ChatStats.userChanges(ev(s, d))),
    "q_exclusive_users" -> ((s, d) => ChatStats.exclusiveUsers(ev(s, d))),
    "q_heavy_lang_users" -> ((s, d) => ChatStats.heavyLangUsers(ev(s, d))),
    "q_user_percentile" -> ((s, d) => ChatStats.userPercentile(ev(s, d))),
    "q_engagement" -> ((s, d) => ChatStats.engagement(ev(s, d))),
    // sketch twin — HLL output is engine-specific, so no DuckDB oracle
    // (rows-only check); the spec bounds its error against q_engagement
    "q_engagement_approx" -> ((s, d) => ChatStats.engagementApprox(ev(s, d))),
    "q_attrition" -> ((s, d) => ChatStats.attrition(ev(s, d))),
    "q_retention_cohort" -> ((s, d) => ChatStats.retentionCohort(ev(s, d))),
    // incremental-MV maintenance: rollup(old partition) merged with the new
    // partition must equal the full-scan rollup (the oracle re-scans all)
    "q_rollup_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit, to_date}
      val e = ev(s, d)
      val cutoff = to_date(lit("2024-01-20"))
      EventSemantics.incrementRollup(
        EventSemantics.userWeeklyActivity(e.filter(col("ts") < cutoff)),
        e.filter(col("ts") >= cutoff))
    }),
    "q_site_stats" -> ((s, d) => ChatStats.siteStats(ev(s, d))),
    // userData-MV incremental maintenance: increment(userData(old), new)
    // must equal the full-scan build (all aggregates mergeable)
    "q_userdata_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit, to_date}
      val e = ev(s, d)
      val cutoff = to_date(lit("2024-01-20"))
      EventSemantics.incrementUserData(
        EventSemantics.userData(e.filter(col("ts") < cutoff)),
        e.filter(col("ts") >= cutoff))
    }),
    // --- highlights (#5-6) + video-highlight listing (#51) + log QA (#53) ---
    "q_funniest_moment" -> ((s, d) => Highlights.funniestMoment(ev(s, d))),
    "q_highlight_velocity" -> ((s, d) => Highlights.highlightVelocity(ev(s, d))),
    "q_video_highlights" -> ((s, d) =>
      Highlights.videoHighlights(Tables.lineitem(s, d), ord(s, d), cust(s, d))),
    "q_log_coverage" -> ((s, d) => Highlights.logCoverage(ev(s, d))),
    "q_funniest_offsets" -> ((s, d) =>
      Highlights.funniestOffsets(Tables.lineitem(s, d), ord(s, d), cust(s, d))),
    // --- channel dim listing (#52) ---
    "q_channel_names" -> ((s, d) => StreamingHours.channelNames(cust(s, d))),
    "q_date_ranges" -> ((s, d) => StreamingHours.dateRanges(ord(s, d))),
    // --- similarity + forecast (#31-34, 37) ---
    "q_channel_similarity" -> ((s, d) => Similarity.channelSimilarity(ev(s, d))),
    // exclThreshold=12 sits inside user 3's per-channel weight range at
    // every SF (weights ~8-18), so the gate exercises BOTH branches of the
    // exclusion filter AND the scoring/top-k path on non-empty output
    // (threshold 3 excluded all 5 synthetic channels -> 0 rows, a vacuous
    // gate in rounds 1-7)
    "q_recommend" -> ((s, d) => Similarity.recommend(ev(s, d), exclThreshold = 12L)),
    "q_content_similarity" -> ((s, d) => Similarity.contentSimilarity(docs(s, d))),
    "q_clustering_communities" -> ((s, d) => Similarity.clusteringCommunities(ev(s, d))),
    // Leiden partition semantics (api.py:478) — modularity optimization is
    // not SQL-expressible, so no DuckDB oracle (rows-only check); the spec
    // pins the clique-bridge split where CC and Leiden disagree
    "q_leiden_communities" -> ((s, d) => Similarity.leidenCommunities(ev(s, d))),
    "q_forecast_hours" -> ((s, d) => Forecast.forecastHours(ord(s, d), cust(s, d))),
    // adaptive NN forecaster (#104): trains a per-channel LSTM/MLP inside
    // each Spark task — rows-only (training has no SQL oracle; spec-gated
    // by NeuralForecastSpec incl. finite-difference gradient checks). The
    // entry demos a fixed 64-channel slice at a lighter training config
    // (h=32, 40 epochs) so the registry cost stays bounded at every SF;
    // the operator takes the full relation and its own defaults stay
    // reference-faithful (h=64, 100 epochs)
    "q_forecast_hours_adaptive" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Forecast.forecastHoursAdaptive(ord(s, d), cust(s, d).filter(col("c_custkey") <= 64),
        hidden = 32, epochs = 40)
    }),
    // --- dedup suite (#38-42) ---
    "d_dedup_exact" -> ((s, d) => Dedup.dedupExact(Fixtures.plantedDocs(docs(s, d)))),
    "d_dedup_minhash" -> ((s, d) => Dedup.dedupMinhash(Fixtures.plantedDocs(docs(s, d)))),
    "d_dedup_simhash" -> ((s, d) => Dedup.dedupSimhash(Fixtures.plantedDocs(docs(s, d)))),
    "d_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(Fixtures.plantedDocs(docs(s, d)))),
    // the DEPLOY path at corpus scale: candidate generation df-capped at 64
    // (hot stopword shingles dropped from the inverted index, Jaccard still
    // exact from the full per-pair intersection) — gated hash-exact so the
    // scale-safe shape, not only the exhaustive twin, is in the gate
    // cap=16: measured on this corpus (cap sweep, round 6) as the smallest
    // cap with output identical to the exhaustive path at sf0.1 — it prunes
    // the df>16 head that generates most of the ~1.7M candidate pairs while
    // every true >=0.3-Jaccard pair still shares a rare shingle.
    // FIXED (not Dedup.autoJaccardCap, the r7 provably-zero-loss auto-sizer
    // deploys use) because the DuckDB twin inlines the same literal cap and
    // the gate must compare identical constants across SFs; the spec suite
    // pins autoJaccardCap's zero-loss guarantee and jaccard_hot_soak.json
    // (kept in commit d1c0210) records it winning wall+CPU on a genuinely
    // stopword-hot corpus
    "d_ngram_jaccard_capped" -> ((s, d) =>
      Dedup.ngramJaccard(Fixtures.plantedDocs(docs(s, d)), maxDf = Some(16L))),
    "d_embed_neardup" -> ((s, d) => Dedup.embedNearDup(emb(s, d))),
    "d_dedup_clusters" -> ((s, d) => Dedup.dedupClusters(Fixtures.plantedDocs(docs(s, d)))),
    "d_dedup_incremental" -> ((s, d) => Dedup.dedupIncremental(Fixtures.plantedDocs(docs(s, d)))),
    // near-dup-MV maintenance: stored LSH index + pair set, delta probes
    // the index; oracle = the MONOLITHIC minhash SQL, so hash equality is
    // the proof the maintenance is exact
    // split by % 7, not % 10: the planted copy offsets (1e7/2e7) are
    // ≡ 3/6 mod 7 but ≡ 0 mod 10 — a %10 split would keep every copy on
    // its source's side and the gate would never exercise CROSS old/delta
    // pairs through the stored index
    "d_minhash_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val all = Fixtures.plantedDocs(docs(s, d))
      val (oldIndex, oldPairs) = Dedup.minhashState(all.filter(col("doc_id") % 7 < 5))
      Dedup.dedupMinhashIncrement(oldIndex, oldPairs, all, all.filter(col("doc_id") % 7 >= 5))
    }),
    // cluster-MV maintenance: stored labels as a star forest + the
    // delta-touching pairs through the components machinery; oracle =
    // the MONOLITHIC clusters SQL (new edges may merge old clusters)
    "d_clusters_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val all = Fixtures.plantedDocs(docs(s, d))
      val old = all.filter(col("doc_id") % 7 < 5)
      val delta = all.filter(col("doc_id") % 7 >= 5)
      val (oldIndex, oldPairs) = Dedup.minhashState(old)
      Dedup.dedupClustersIncrement(
        Dedup.dedupClustersFromPairs(oldPairs, old).select("doc_id", "cluster_id"),
        Dedup.minhashDeltaPairs(oldIndex, all, delta),
        all.select("doc_id"))
    }),
    // the same two maintenance proofs at the DEPLOY shape: stored state
    // written as bucketed catalog tables (graft.sources.DedupWarehouse),
    // maintenance over table SCANS — no build lineage in the maintained
    // plan; the oracle is still the monolithic full-corpus SQL
    "d_minhash_incremental_wh" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val all = Fixtures.plantedDocs(docs(s, d))
      graft.sources.DedupWarehouse.bootstrap(all.filter(col("doc_id") % 7 < 5))
      graft.sources.DedupWarehouse.maintainedPairs(
        s, all, all.filter(col("doc_id") % 7 >= 5))
    }),
    "d_clusters_incremental_wh" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val all = Fixtures.plantedDocs(docs(s, d))
      graft.sources.DedupWarehouse.bootstrap(all.filter(col("doc_id") % 7 < 5))
      graft.sources.DedupWarehouse.maintainedClusters(
        s, all, all.filter(col("doc_id") % 7 >= 5))
    }),
    "d_substring_overlap" -> ((s, d) => Dedup.substringOverlap(Fixtures.plantedDocs(docs(s, d)))),
    "d_dedup_lines" -> ((s, d) => Dedup.dedupLines(Fixtures.plantedDocs(docs(s, d)))),
    "d_semdedup" -> ((s, d) => Dedup.semDedup(emb(s, d))),
    // geometry-blocked variant: block = learned k-means cell (fixed
    // kCells=8 at the gate so the DuckDB unrolled-Lloyd twin inlines the
    // identical literal; deploys size cells via Sizing.forCorpus)
    "d_semdedup_geo" -> ((s, d) => Dedup.semDedupGeo(emb(s, d))),
    // --- vector search (#36, 43-44) ---
    "q_search_highlights" -> ((s, d) => Vectors.searchHighlights(emb(s, d))),
    "v_ann_topk" -> ((s, d) => Vectors.annTopK(emb(s, d))),
    "v_ann_ivf" -> ((s, d) => Vectors.annIvf(emb(s, d))),
    "v_ann_lsh" -> ((s, d) => Vectors.annLsh(emb(s, d))),
    "v_knn_join" -> ((s, d) => Vectors.knnJoin(emb(s, d))),
    "v_knn_join_mp" -> ((s, d) => Vectors.knnJoinMultiProbe(emb(s, d))),
    // two-level coarse quantizer for probe assignment (the oracle replays
    // the recorded hierarchy)
    "v_knn_join_mph" -> ((s, d) => { val e = emb(s, d)
      Vectors.knnJoinMultiProbeHier(e, Vectors.trainProbeHierarchy(e).map(Oracle.knnJoinMph), 5, 2, 2) }),
    // blocks = LEARNED k-means cells instead of the label column (the geo
    // upgrade of the graph build); oracle replays train -> assign -> probe
    // -> graph end-to-end through the unrolled-Lloyd CTE chain, no recorded model
    "v_knn_join_geo" -> ((s, d) => Vectors.knnJoinGeo(emb(s, d))),
    // graph-MV maintenance: stored graph + delta vectors, untouched blocks
    // pass through verbatim (an in-row `isin` filter on the collected
    // touched-label set, no join), touched blocks rejoin;
    // the oracle is the MONOLITHIC full-corpus graph, so hash equality is
    // itself the proof the maintenance is exact (v_kmeans_incremental shape)
    "v_knn_join_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val e = emb(s, d)
      val old = e.filter(col("vec_id") % 10 < 8)
      Vectors.knnGraphIncrement(
        Vectors.knnGraph(old), old, e.filter(col("vec_id") % 10 >= 8))
    }),
    // #130 the same graph maintenance at the DEPLOY shape: the stored
    // graph written as a label-bucketed catalog table
    // (graft.sources.KnnGraphWarehouse), maintenance over the table SCAN
    // — no build lineage in the maintained plan; same monolithic oracle
    "v_knn_join_incremental_wh" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val e = emb(s, d)
      val old = e.filter(col("vec_id") % 10 < 8)
      graft.sources.KnnGraphWarehouse.bootstrap(old)
      graft.sources.KnnGraphWarehouse.maintained(
        s, old, e.filter(col("vec_id") % 10 >= 8))
    }),
    // PQ codes + ADC scoring — the Lloyd codebook is not SQL-expressible,
    // so training runs once here and the oracle replays the recorded
    // codebook; the spec pins exact-path equality with brute force
    "v_ann_pq" -> ((s, d) => { val e = emb(s, d)
      Vectors.annPq(e, Vectors.trainPq(e).map(Oracle.annPq), 10, 100) }),
    // residual (two-stage) PQ refinement — same recorded-model oracle
    "v_ann_pq_residual" -> ((s, d) => { val e = emb(s, d)
      Vectors.annPqResidual(e, Vectors.trainPqResidual(e).map(Oracle.annPqResidual), 10, 100) }),
    // spec pins brute-force equality at full probe/rerank + cell-pruning
    // containment
    "v_ann_ivfpq" -> ((s, d) => { val e = emb(s, d)
      Vectors.annIvfPq(e, Vectors.trainIvfPq(e).map(Oracle.annIvfPq), 10, 3, 100) }),
    "v_ann_ivfpq_geo" -> ((s, d) => { val e = Vectors.geoCells(emb(s, d))
      Vectors.annIvfPq(e, Vectors.trainIvfPq(e).map(Oracle.annIvfPqGeo), 10, 3, 100) }),
    // clustering-MV maintenance: the QUERY builds state from two ingest
    // partitions merged; the ORACLE builds it monolithically — equality
    // proves the additive maintenance is exact
    "v_kmeans_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit, pmod}
      val e = emb(s, d)
      val cent = Vectors.trainCentroids(e, 8, 3)
      val even = e.filter(pmod(col("vec_id"), lit(2)) === 0)
      val odd = e.filter(pmod(col("vec_id"), lit(2)) === 1)
      Vectors.kmeansStateExploded(Vectors.mergeKmeansState(
        Vectors.kmeansState(even, cent), Vectors.kmeansState(odd, cent)))
    }),
    // OPQ ANN (#105): learned orthogonal rotation + PQ — Lloyd +
    // Procrustes are not SQL-expressible, so the oracle replays the
    // recorded rotation and codebook; OpqSpec pins the training
    "v_ann_pq_opq" -> ((s, d) => { val e = emb(s, d)
      Vectors.annPqOpq(e, Vectors.trainPqOpq(e).map(Oracle.annPqOpq), 10, 100) }),
    // --- text suite (#1-3, 45-48) ---
    "t_categorize" -> ((s, d) => TextOps.categorizeDocs(Fixtures.charsetDocs(docs(s, d)))),
    "t_membership_rank" -> ((s, d) => TextOps.membershipRankDocs(Fixtures.badgeDocs(docs(s, d)))),
    "t_humor" -> ((s, d) => TextOps.humorDocs(Fixtures.humorDocs(docs(s, d)))),
    "t_lang_id" -> ((s, d) => TextOps.langIdDocs(Fixtures.charsetDocs(docs(s, d)))),
    "t_quality_score" -> ((s, d) => TextOps.qualityDocs(docs(s, d))),
    "t_token_count" -> ((s, d) => TextOps.tokenCountDocs(docs(s, d))),
    "t_fingerprint" -> ((s, d) => TextOps.fingerprintDocs(docs(s, d))),
    "t_pii_scrub" -> ((s, d) => TextOps.piiScrubDocs(Fixtures.piiDocs(docs(s, d)))),
    "t_strip_html" -> ((s, d) => TextOps.stripHtmlDocs(Fixtures.htmlDocs(docs(s, d)))),
    "t_char_entropy" -> ((s, d) => TextOps.charEntropyDocs(docs(s, d))),
    "t_gopher_rules" -> ((s, d) => TextOps.gopherRulesDocs(docs(s, d))),
    "t_parse_query" -> ((s, d) => TextOps.parseQueryDocs(Fixtures.queryDocs(docs(s, d)))),
    // --- corpus-pipeline ops (#61-64) ---
    "p_decontaminate" -> ((s, d) => Pipeline.decontaminate(docs(s, d), Fixtures.evalPrompts(docs(s, d)))),
    "p_decontaminate_bloom" -> ((s, d) => Pipeline.decontaminateBloom(docs(s, d), Fixtures.evalPrompts(docs(s, d)))),
    "p_perplexity_buckets" -> ((s, d) => Pipeline.perplexityBuckets(docs(s, d))),
    // LR training itself is not SQL-expressible, but SCORING is: the
    // recorded (weights, bias) ride into a literal-inlined oracle that
    // DuckDB re-runs over the raw table
    "t_quality_classifier" -> ((s, d) => TextOps.qualityClassifier(Fixtures.qualityCorpus(docs(s, d)),
      Oracle.qualityClassifier(TextOps.trainQualityClassifier(Fixtures.qualityLabels(docs(s, d)))))),
    // rows-only by design: iterative BPE training is not SQL-expressible;
    // spec-gated (hand-computed merges, Spark ≡ driver-encoder equality)
    "p_bpe_train" -> ((s, d) => Pipeline.bpeTrain(docs(s, d))),
    "t_tokenize_bpe" -> ((s, d) => { val ds = docs(s, d)
      TextOps.tokenizeBpe(ds, Oracle.tokenizeBpe(Pipeline.bpeMerges(ds))) }),
    "t_repetition" -> ((s, d) => Pipeline.repetitionScore(Fixtures.repeatedDocs(docs(s, d)))),
    "p_sample_hash" -> ((s, d) => Pipeline.sampleHash(docs(s, d))),
    "p_shuffle_shards" -> ((s, d) => Pipeline.shuffleShards(docs(s, d))),
    "p_sample_stratified" -> ((s, d) => Pipeline.sampleStratified(docs(s, d))),
    "p_sample_threshold" -> ((s, d) => Pipeline.sampleThreshold(docs(s, d))),
    "p_dsir" -> ((s, d) => Pipeline.dsir(docs(s, d))),
    "p_mix_sample" -> ((s, d) => Pipeline.mixSample(docs(s, d))),
    "p_dataset_card" -> ((s, d) => Pipeline.datasetCard(docs(s, d))),
    "p_pack" -> ((s, d) => Pipeline.packSequences(docs(s, d))),
    "p_corpus_build" -> ((s, d) => Pipeline.corpusBuild(docs(s, d))),
    "p_token_percentiles" -> ((s, d) => Pipeline.tokenPercentiles(docs(s, d))),
    // KLL-sketch twin — engine-specific interpolation, so rows-only check;
    // the spec bounds its error against the exact percentiles
    "p_token_percentiles_approx" -> ((s, d) => Pipeline.tokenPercentilesApprox(docs(s, d))),
    "p_unigram_nll" -> ((s, d) => Pipeline.unigramNll(docs(s, d))),
    "p_bigram_nll" -> ((s, d) => Pipeline.bigramNll(docs(s, d))),
    "p_top_terms" -> ((s, d) => Pipeline.topTerms(docs(s, d))),
    "p_bpe_pairs" -> ((s, d) => Pipeline.bpePairs(docs(s, d))),
    "v_quantize_int8" -> ((s, d) => Vectors.quantizeInt8(emb(s, d))),
    "v_cluster_kmeans" -> ((s, d) => Vectors.clusterKmeans(emb(s, d))),
    "v_cluster_kmeanspar" -> ((s, d) => { val e = emb(s, d)
      Vectors.clusterKmeansPar(e, Oracle.clusterKmeansPar(Vectors.trainKmeansPar(e))) }),
    "v_cluster_sample" -> ((s, d) => Vectors.clusterSample(emb(s, d))),
    // train-batch / monitor-stream: centroids from the batch corpus, the
    // batch twin of the streaming drift monitor as the oracle-checked form
    "s_stream_cluster" -> ((s, d) => {
      val e = emb(s, d)
      graft.streaming.ClusterStream.clusterCounts(
        Fixtures.timedEmbeddings(e), Vectors.trainCentroids(e, 8, 3))
    }),
    // --- multimodal plumbing (#49, rows-only check) + streaming twin (#50) ---
    "m_multimodal_meta" -> ((s, d) => Multimodal.mediaFeatures(docs(s, d))),
    // frame hex-encoded for the gate only: binary columns break the
    // row-sort of value comparators (unhashable bytes); hex is injective
    // so the check is just as strong. The operator's output stays binary.
    "m_frame_sample" -> ((s, d) => Multimodal.frameSample(docs(s, d))
      .withColumn("frame", org.apache.spark.sql.functions.hex(org.apache.spark.sql.functions.col("frame")))),
    // REAL nearest-neighbor resize through the ImageIO decode seam —
    // oracle-checked against the closed-form pixel formula (PNG lossless)
    "m_resize" -> ((s, d) => Multimodal.imageResize(docs(s, d))),
    // real JDK codec round-trips (ImageIO PNG, javax.sound WAV) — no SQL oracle
    "m_image_decode" -> ((s, d) => Multimodal.imageDecode(docs(s, d))),
    "m_audio_decode" -> ((s, d) => Multimodal.audioDecode(docs(s, d))),
    "s_stream_sessionize" -> ((s, d) => graft.streaming.EventStream.sessionizeExact(ev(s, d))),
    "s_stream_membership" -> ((s, d) => graft.streaming.MembershipStream.transitions(ev(s, d)).toDF()),
    "s_stream_dedup" -> ((s, d) => graft.streaming.DedupStream.survivors(Fixtures.plantedDocs(docs(s, d)))),
    "s_stream_velocity" -> ((s, d) => graft.streaming.VelocityStream.bursts(ev(s, d))),
    "s_sessionize_gap" -> ((s, d) => graft.streaming.EventStream.gapSessions(ev(s, d))),
    // streaming sketch-MV maintenance twin — estimates are engine-specific
    // (rows-only); SketchStreamSpec proves streamed state == batch rollup
    "s_sketch_maintain" -> ((s, d) => graft.streaming.SketchStream.maintained(ev(s, d))),
    // the reference's ACTUAL on-disk cache layout in the gate: write the
    // deterministic fixture (chat_logs/{video}.jsonl.gz + videos/*.json +
    // channels.json), read through the real source module, rollup — the
    // DuckDB oracle independently re-reads the same files via read_json
    "src_chatlog_rollup" -> ((s, _) => graft.sources.ChatLogSources.fixtureRollup(s))
  )

  /** DuckDB-dialect oracle for each query (same table names, same column
    * names, same rounding): [[graft.oracle.Oracle.sql]].
    */
  def oracleSql: Map[String, String] = graft.oracle.Oracle.sql
}
