package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{BottomKSample, Dedup, HeavyHitters, Multimodal, ProductQuantization, QuantileSketch, Relational, ReservoirSample, Similarity, Text, XbrlQueries}

/** Driver contract — see /root/repo/SURVEY.md §2 + §7.
  *
  * Every implemented operator appears in `queries`; SQL-expressible ones
  * also appear in `oracleSql` with IDENTICAL column aliases (the driver
  * sorts columns by name and hashes values). Numeric policy and
  * determinism rules: see operators/Relational.scala scaladoc.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01PricingAgg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_agg" -> (Relational.q01PricingAgg _),
    "q02_join_multiway" -> (Relational.q02JoinMultiway _),
    "q03_filter_project" -> (Relational.q03FilterProject _),
    "q04_pivot_wide" -> (Relational.q04PivotWide _),
    "q05_dedup_latest" -> (Relational.q05DedupLatest _),
    "q06_window_running" -> (Relational.q06WindowRunning _),
    "q07_topk_per_group" -> (Relational.q07TopkPerGroup _),
    "q08_rollup" -> (Relational.q08Rollup _),
    "q09_anti_semi_join" -> (Relational.q09AntiSemiJoin _),
    "q10_json_typed_extract" -> (Relational.q10JsonTypedExtract _),
    "q11_schema_merge_union" -> (Relational.q11SchemaMergeUnion _),
    "q12_time_window_agg" -> (Relational.q12TimeWindowAgg _),
    "q13_sessionize" -> (Relational.q13Sessionize _),
    "q14_fuzzy_numeric_dedup" -> (Relational.q14FuzzyNumericDedup _),
    "q15_calculation_validate" -> (Relational.q15CalculationValidate _),
    "q16_asof_join" -> (Relational.q16AsofJoin _),
    "q17_range_join" -> (Relational.q17RangeJoin _),
    // rows-only: sketch estimates (HLL++/KLL) are engine-specific;
    // RelationalSpec bounds the error vs exact. The exact half of the
    // profile is split into q18_exact_stats, which IS fully oracled.
    "q18_approx_stats" -> (Relational.q18ApproxStats _),
    "q18_exact_stats" -> (Relational.q18ExactStats _),
    "q19_deterministic_split" -> (Relational.q19DeterministicSplit _),
    "q20_stratified_sample" -> (Relational.q20StratifiedSample _),
    "q21_token_budget_sample" -> (Relational.q21TokenBudgetSample _),
    "q22_snapshot_diff" -> (Relational.q22SnapshotDiff _),
    "q23_scd2_history" -> (Relational.q23Scd2History _),
    "q24_cdc_merge" -> (Relational.q24CdcMerge _),
    "q25_domain_quota" -> (Relational.q25DomainQuota _),
    "q26_temperature_mix" -> (Relational.q26TemperatureMix _),
    "q27_fk_integrity" -> (Relational.q27FkIntegrity _),
    "q28_zscore_normalize" -> (Relational.q28ZscoreNormalize _),
    "q29_salted_skew_join" -> (Relational.q29SaltedSkewJoin _),
    "q30_group_quantiles" -> (Relational.q30GroupQuantiles _),
    "q65_quantile_state" -> (Relational.q65QuantileState _),
    // rows-only: the GK sketch's sampled tuples (and therefore which
    // in-bound value each quantile serves) are engine-local;
    // QuantileSketchSpec pins the DETERMINISTIC ε rank bound vs exact
    // ranks, state-size bounds, compaction, and parquet round-trip,
    // and StreamingSpec deploys the same states per micro-batch
    "q70_quantile_sketch" -> (QuantileSketch.q70QuantileSketch _),
    // rows-only: stored MG counters (and hot-vs-hot rank order) are
    // insertion-order-dependent within the deterministic bound; the
    // served top-5 SET and row count are deterministic (five planted
    // hots whose guaranteed floor clears every cold ceiling), and
    // HeavyHittersSpec pins presence/bounds/exactness/compaction
    "q71_heavy_hitters" -> (HeavyHitters.q71HeavyHitters _),
    // FULLY oracled sketch gate: the bottom-k (KMV) state serves a
    // distinct sample + estimate that an independent engine reproduces
    // value-for-value from the pinned md5-prefix hash
    "q72_bottomk_sample" -> (BottomKSample.q72BottomkSample _),
    // FULLY oracled set-operation gate: pairwise corpus overlap from
    // bottom-k states alone (the corpora are never joined)
    "q73_corpus_overlap" -> (BottomKSample.q73CorpusOverlap _),
    // FULLY oracled sketch gate: q37's Efraimidis–Spirakis weighted
    // row sample factored into mergeable bounded state — ids, weights,
    // ranks and rounded keys all engine-independent (md5-derived u)
    "q74_reservoir_sample" -> (ReservoirSample.q74ReservoirSample _),
    "q31_zorder_key" -> (Relational.q31ZorderKey _),
    "q32_sketch_state" -> (Relational.q32SketchState _),
    "q33_agg_state" -> (Relational.q33AggState _),
    "q34_grouping_sets" -> (Relational.q34GroupingSets _),
    "q35_gap_islands" -> (Relational.q35GapIslands _),
    "q36_interval_merge" -> (Relational.q36IntervalMerge _),
    "q37_weighted_sample" -> (Relational.q37WeightedSample _),
    "q38_iqr_outliers" -> (Relational.q38IqrOutliers _),
    "q39_funnel" -> (Relational.q39Funnel _),
    "q40_group_histogram" -> (Relational.q40GroupHistogram _),
    "q41_group_regression" -> (Relational.q41GroupRegression _),
    "q42_unpivot" -> (Relational.q42Unpivot _),
    "q43_densify_locf" -> (Relational.q43DensifyLocf _),
    "q44_cohort_retention" -> (Relational.q44CohortRetention _),
    "q45_equidepth_hist" -> (Relational.q45EquidepthHistogram _),
    "q46_compaction_bins" -> (Relational.q46CompactionBins _),
    "q47_rolling_stats" -> (Relational.q47RollingStats _),
    "q48_attribution" -> (Relational.q48Attribution _),
    "q49_event_transitions" -> (Relational.q49EventTransitions _),
    "q50_countmin_state" -> (Relational.q50CountminState _),
    "q51_winsorize" -> (Relational.q51Winsorize _),
    "q52_label_consensus" -> (Relational.q52LabelConsensus _),
    "q53_column_profile" -> (Relational.q53ColumnProfile _),
    "q54_rater_agreement" -> (Relational.q54RaterAgreement _),
    "q55_mad_outliers" -> (Relational.q55MadOutliers _),
    "q56_psi_drift" -> (Relational.q56PsiDrift _),
    "q57_corr_matrix" -> (Relational.q57CorrMatrix _),
    "q58_skew_profile" -> (Relational.q58SkewProfile _),
    "q59_chi2_drift" -> (Relational.q59Chi2Drift _),
    "q60_ks_test" -> (Relational.q60KsTest _),
    "q61_benford" -> (Relational.q61Benford _),
    "q62_top_paths" -> (Relational.q62TopPaths _),
    "q63_expectations" -> (Relational.q63Expectations _),
    "q64_decay_agg" -> (Relational.q64DecayAgg _),
    "q66_ab_test" -> (Relational.q66AbTest _),
    "q67_auc" -> (Relational.q67Auc _),
    "q68_calibration" -> (Relational.q68Calibration _),
    "q69_confusion" -> (Relational.q69Confusion _),
    "d01_dedup_exact" -> (Dedup.d01ExactHash _),
    "d02_dedup_ngram_jaccard" -> (Dedup.d02NgramJaccard _),
    "d03_dedup_minhash_lsh" -> (Dedup.d03MinhashLsh _),
    "d04_dedup_simhash" -> (Dedup.d04Simhash _),
    "d05_dedup_embedding" -> (Dedup.d05EmbeddingCosine _),
    "d06_contamination" -> (Dedup.d06Contamination _),
    "d07_dup_clusters" -> (Dedup.d07DupClusters _),
    // rows-only (hyperplane buckets are engine-local); DedupSpec holds
    // recall vs the exact all-pairs near-dup set + cosine exactness
    "d08_dedup_embedding_lsh" -> (Dedup.d08EmbeddingLsh _),
    "d09_winnow_dups" -> (Dedup.d09WinnowDups _),
    // rows-only (which clean shingles false-hit is sketch-geometry-
    // local); DedupSpec holds it against exact d06 from both sides
    "d10_contamination_bloom" -> (Dedup.d10ContaminationBloom _),
    // rows-only (trained centroids and cell membership are engine-
    // local); DedupSpec proves planted groups collapse to one kept
    // representative and the adversarial corpus stays capped
    "d11_semantic_dedup" -> (Dedup.d11SemanticDedup _),
    // rows-only (minhash seeds and banding are engine-local); DedupSpec
    // pins planted-dup recall across the batch/history split, estimator
    // accuracy vs exact Jaccard, and determinism
    "d12_incremental_dedup" -> (Dedup.d12IncrementalDedup _),
    "d13_containment_dups" -> (Dedup.d13ContainmentDups _),
    "d14_line_dedup" -> (Dedup.d14LineDedup _),
    "d15_template_dedup" -> (Dedup.d15TemplateDedup _),
    "d16_url_dedup" -> (Dedup.d16UrlDedup _),
    "d17_ngram_novelty" -> (Dedup.d17NgramNovelty _),
    "d18_substring_dedup" -> (Dedup.d18SubstringDedup _),
    "d19_neardup_corpus" -> (Dedup.d19NearDupCorpus _),
    "s01_ann_bruteforce" -> (Similarity.s01AnnBruteforce _),
    "s02_ann_lsh" -> (Similarity.s02AnnLsh _),
    "s03_ann_ivf" -> (Similarity.s03AnnIvf _),
    // rows-only like s02/s03 (trained centroids are engine-local);
    // SimilaritySpec holds trained recall >= hash-sampled recall
    "s04_ann_ivf_trained" -> (Similarity.s04AnnIvfTrained _),
    // rows-only (learned PQ codebook is engine-local); SimilaritySpec
    // holds shortlist recall vs exact s01 + the planted-duplicate pin
    "s05_ann_pq" -> (ProductQuantization.s05AnnPq _),
    // rows-only (both codebooks engine-local); SimilaritySpec holds
    // recall vs s01 within 0.1 of plain PQ's while scanning only
    // probed cells' codes
    "s06_ann_ivfpq" -> (ProductQuantization.s06AnnIvfPq _),
    "s07_ann_radius" -> (Similarity.s07AnnRadius _),
    // rows-only (the greedy's float scores are engine-local);
    // SimilaritySpec pins driver-model equality, planted-redundancy
    // demotion, and the lambda = 1 pure-relevance identity
    "s09_mmr_rerank" -> (Similarity.s09MmrRerank _),
    "s10_ann_sq8" -> (ProductQuantization.s10AnnSq8 _),
    "s11_ann_ivfsq8" -> (ProductQuantization.s11AnnIvfSq8 _),
    "s12_ann_filtered" -> (Similarity.s12AnnFiltered _),
    "s13_ann_hamming" -> (Similarity.s13AnnHamming _),
    // rows-only: the knn graph underneath is engine-local LSH;
    // SimilaritySpec holds driver-model equality and the convexity /
    // identity / determinism pins
    "s14_score_propagation" -> (Similarity.s14ScorePropagation _),
    "t18_entropy_stats" -> (Text.t18EntropyStats _),
    // rows-only (an exact SQL knn oracle would be the all-pairs cross
    // join the operator exists to avoid); SimilaritySpec holds recall
    // vs exact knnJoin and planted near-dup pairs
    "s08_knn_join" -> (Similarity.s08KnnJoin _),
    "t01_lang_id" -> (Text.t01LangId _),
    "t02_quality_score" -> (Text.t02QualityScore _),
    "t03_token_count" -> (Text.t03TokenCount _),
    "t04_fingerprint" -> (Text.t04Fingerprint _),
    // oracle: identical md5-derived rolling fold via list_reduce
    "t05_pack_sequences" -> (Text.t05PackSequences _),
    "t06_repetition_stats" -> (Text.t06RepetitionStats _),
    "t07_normalize" -> (Text.t07Normalize _),
    "t08_pii_redact" -> (Text.t08PiiRedact _),
    "t09_boilerplate_spans" -> (Text.t09BoilerplateSpans _),
    "t10_quality_buckets" -> (Text.t10QualityBuckets _),
    "t11_corpus_vocab" -> (Text.t11CorpusVocab _),
    // rows-only: the BPE merge loop's argmax-dependent iteration has no
    // tractable single-SQL twin; TextSpec pins it row-for-row against an
    // independent driver-side reference BPE + invariants
    "t12_bpe_train" -> (Text.t12BpeTrain _),
    // rows-only: learned float weights are engine-local; TextSpec pins
    // a separable fit, bit-exact partition independence, gate accuracy
    "t13_quality_classifier" -> (Text.t13QualityClassifier _),
    // rows-only: log-probability floats are engine-local; TextSpec pins
    // the scores vs an independent driver-side reference LM, bit-exact
    // partition independence, and the fluency ordering
    "t14_lm_perplexity" -> (Text.t14LmPerplexity _),
    "t15_chunk_docs" -> (Text.t15ChunkDocs _),
    "t16_tfidf_keywords" -> (Text.t16TfidfKeywords _),
    "t17_hashed_features" -> (Text.t17HashedFeatures _),
    // rows-only: greedy rank-order merge application has no tractable
    // single-SQL twin; TextSpec pins the native encode against the
    // independent nested-fold formulation + word reconstruction
    "t19_bpe_encode" -> (Text.t19BpeEncode _),
    "t20_readability" -> (Text.t20Readability _),
    "t21_code_detect" -> (Text.t21CodeDetect _),
    "t22_collocations" -> (Text.t22Collocations _),
    "t23_bm25" -> (Text.t23Bm25 _),
    "t24_ranking_eval" -> (Text.t24RankingEval _),
    "t25_rrf_fusion" -> (Text.t25RrfFusion _),
    "m01_multimodal_stub" -> (Multimodal.m01MultimodalStub _),
    "m02_frame_sample" -> (Multimodal.m02FrameSample _),
    "m03_audio_windows" -> (Multimodal.m03AudioWindows _),
    "m04_media_dedup" -> (Multimodal.m04MediaDedup _),
    // rows-only: the fingerprint is the m01 stub decode (no codec in
    // the container); MultimodalSpec pins planted-twin recall, the
    // guaranteed-miss negative, and the bucket cap
    "m05_phash_neardups" -> (Multimodal.m05PhashNearDups _),
    // codec-free header parse: format + dimensions from magic bytes
    // over real PNG/JPEG/GIF header structure — fully oracled (the
    // oracle rebuilds the identical blob and re-parses it byte-by-byte)
    "m06_media_header" -> (Multimodal.m06MediaHeader _),
    // the m06 family extended to audio/video: RIFF/WAVE fmt+data chunk
    // walk and ISO-BMFF moov/mvhd box walk — fully oracled the same way
    "m07_av_header" -> (Multimodal.m07AvHeader _),
    // XBRL engine over the reference's own test archives (rows-only —
    // no synthetic-table twin exists; see XbrlQueries scaladoc)
    "x01_xbrl_parse" -> (XbrlQueries.x01XbrlParse _),
    "x02_xbrl_fact_table" -> (XbrlQueries.x02XbrlFactTable _),
    "x03_xbrl_coverage" -> (XbrlQueries.x03XbrlCoverage _),
    "x04_xbrl_calc_validate" -> (XbrlQueries.x04XbrlCalcValidate _),
    // the reference's headline CLI workload whole: all 255 tables built
    // from one persisted parse + the full parquet datapackage written
    "x05_xbrl_full_extract" -> (XbrlQueries.x05XbrlFullExtract _),
  )

  /** d02's oracle, shared: d07 clusters exactly these pairs. */
  private val ShingleCte: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3
      |), sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
      |  FROM toks
      |), capped AS (
      |  SELECT doc_id, shingle FROM sh
      |  WHERE shingle IN (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 200)
      |), sizes AS (
      |  SELECT doc_id, count(*) AS n FROM capped GROUP BY doc_id
      |), common AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
      |  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)""".stripMargin

  /** BM25 oracle parameterized on (k1, b): the numeric literals are
    * interpolated from the SAME Scala doubles [[graft.operators.Text.bm25Rank]]
    * folds into its plan, so both engines evaluate bit-identical
    * constants by construction (k1+1, 1−b, b), not by transcription.
    */
  private def bm25OracleSql(k1: Double, b: Double): String =
      s"""WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1
        |), df AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
        |), stats AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
        |  FROM dl
        |), q AS (
        |  SELECT DISTINCT query_id, unnest(list_filter(string_split(query_text, ' '), x -> x != '')) AS term
        |  FROM (VALUES (CAST(1 AS BIGINT), 'hash join'),
        |               (CAST(2 AS BIGINT), 'fast scan filter'),
        |               (CAST(3 AS BIGINT), 'customer order data'))
        |    AS queries(query_id, query_text)
        |), contrib AS (
        |  SELECT q.query_id, tf.doc_id,
        |    CAST(round(
        |      ln(1.0 + (stats.n - df.df + 0.5) / (df.df + 0.5))
        |        * (CAST(tf.tf AS DOUBLE) * ${k1 + 1.0})
        |        / (CAST(tf.tf AS DOUBLE)
        |           + $k1 * (${1.0 - b} + $b * CAST(dl.dl AS DOUBLE) / stats.avgdl)),
        |      6) AS DECIMAL(28,6)) AS c
        |  FROM tf
        |  JOIN q USING (term)
        |  JOIN dl USING (doc_id)
        |  JOIN df USING (term)
        |  CROSS JOIN stats
        |), scored AS (
        |  SELECT query_id, doc_id,
        |    CAST(CAST(sum(c) AS DECIMAL(28,6)) AS DOUBLE) AS score,
        |    CAST(count(*) AS BIGINT) AS n_matched
        |  FROM contrib GROUP BY 1, 2
        |), ranked AS (
        |  SELECT *, CAST(row_number() OVER (
        |      PARTITION BY query_id ORDER BY score DESC, doc_id) AS INTEGER) AS rank
        |  FROM scored
        |)
        |SELECT query_id, rank, doc_id, score, n_matched
        |FROM ranked WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin

  private val T23OracleSql: String = bm25OracleSql(1.2, 0.75)

  private val D02OracleSql: String = ShingleCte + "\n" +
    """SELECT d1, d2, round(CAST(common AS DOUBLE) / (s1.n + s2.n - common), 6) AS jaccard
      |FROM common JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
      |ORDER BY jaccard DESC, d1, d2 LIMIT 100""".stripMargin

  // same blocking and caps as d02; only the final formula differs
  // (containment of the smaller shingle set in the pair)
  private val D13OracleSql: String = ShingleCte + "\n" +
    """SELECT d1, d2, common, s1.n AS n1, s2.n AS n2,
      |  round(CAST(common AS DOUBLE) / least(s1.n, s2.n), 6) AS containment
      |FROM common JOIN sizes s1 ON s1.doc_id = d1 JOIN sizes s2 ON s2.doc_id = d2
      |ORDER BY containment DESC, d1, d2 LIMIT 100""".stripMargin

  /** DuckDB-runnable oracle SQL per queries key (identical aliases). */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS sum_disc_price,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))), 2) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_join_multiway" ->
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,

    "q03_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |  strftime(l_shipdate, '%Y-%m-%d') AS ship_date
        |FROM lineitem
        |WHERE l_quantity > 45 AND l_shipdate >= TIMESTAMP '1997-01-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q04_pivot_wide" ->
      """SELECT user_id,
        |  CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS click,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS error,
        |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS purchase,
        |  CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS signup,
        |  CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS view
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "q05_dedup_latest" ->
      """SELECT user_id, event_id, event_type, value,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
        |FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |) WHERE rn = 1
        |ORDER BY user_id""".stripMargin,

    "q06_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q07_topk_per_group" ->
      """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        |  FROM orders
        |) WHERE rk <= 3
        |ORDER BY o_custkey, rk""".stripMargin,

    "q08_rollup" ->
      """SELECT COALESCE(r_name, 'all') AS region_name,
        |  COALESCE(n_name, 'all') AS nation_name,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal,
        |  COUNT(*) AS n_customers
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY region_name, nation_name""".stripMargin,

    "q09_anti_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '1998-01-01')
        |  AND EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |              AND o_orderdate < TIMESTAMP '1998-01-01')
        |ORDER BY c_custkey""".stripMargin,

    "q10_json_typed_extract" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |  event_type = 'error' AS is_error,
        |  strftime(ts, '%Y-%m-%d') AS day
        |FROM events
        |ORDER BY event_id""".stripMargin,

    "q11_schema_merge_union" ->
      """SELECT p_partkey, p_name, p_brand, CAST(NULL AS DOUBLE) AS p_retailprice, 'v1' AS src
        |FROM part WHERE p_size < 25
        |UNION ALL
        |SELECT p_partkey, p_name, CAST(NULL AS VARCHAR) AS p_brand, p_retailprice, 'v2' AS src
        |FROM part WHERE p_size >= 25
        |ORDER BY p_partkey, src""".stripMargin,

    "q12_time_window_agg" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour, event_type""".stripMargin,

    // exact half of the q18 profile (the sketch half is rows-only)
    "q18_exact_stats" ->
      """SELECT event_type,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        |  CAST(MIN(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS min_value,
        |  CAST(MAX(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS max_value
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q13_sessionize" ->
      """WITH gapped AS (
        |  SELECT user_id, event_id, ts, value,
        |    epoch_ns(ts) - LAG(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_ns
        |  FROM events
        |), flagged AS (
        |  SELECT *, CASE WHEN gap_ns IS NULL OR gap_ns > 1800000000000 THEN 1 ELSE 0 END AS new_sess,
        |    CAST(SUM(CASE WHEN gap_ns IS NULL OR gap_ns > 1800000000000 THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM gapped
        |)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS session_value
        |FROM flagged
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q14_fuzzy_numeric_dedup" ->
      """SELECT user_id, event_type, value, event_id FROM (
        |  SELECT user_id, event_type, value, event_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |      ORDER BY (CASE WHEN value = ROUND(value, 0) THEN 0
        |                     WHEN value = ROUND(value, 1) THEN 1
        |                     WHEN value = ROUND(value, 2) THEN 2
        |                     WHEN value = ROUND(value, 3) THEN 3
        |                     ELSE 4 END) DESC, value DESC, event_id ASC) AS rn
        |  FROM events
        |) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,

    "q15_calculation_validate" ->
      """SELECT o_orderkey, o_totalprice AS reported_total, computed_total,
        |  ABS(o_totalprice - computed_total) < 0.01 AS consistent
        |FROM orders
        |JOIN (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS computed_total
        |  FROM lineitem GROUP BY l_orderkey
        |) ON o_orderkey = l_orderkey
        |ORDER BY o_orderkey""".stripMargin,

    // DuckDB's native ASOF JOIN is the oracle for the union+window
    // formulation; equal-ts touches dedup to max event_id on both sides
    "q16_asof_join" ->
      """WITH t AS (
        |  SELECT user_id, ts, event_id FROM events
        |  WHERE event_type IN ('click', 'view')
        |  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
        |), p AS (
        |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
        |)
        |SELECT p.event_id AS purchase_id, p.user_id, t.event_id AS touch_id
        |FROM p ASOF LEFT JOIN t ON p.user_id = t.user_id AND p.ts >= t.ts
        |ORDER BY purchase_id""".stripMargin,

    // md5 hex is engine-portable, so the hash-split assignment is
    // exactly checkable
    "q19_deterministic_split" ->
      """SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '29' THEN 'val'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '52' THEN 'test'
        |       ELSE 'train' END AS split
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // same portable md5-prefix trick as q19, with a per-source threshold
    "q20_stratified_sample" ->
      """SELECT doc_id, source FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
        |  CASE source WHEN 'src0' THEN 'c000' WHEN 'src1' THEN '8000'
        |              WHEN 'src2' THEN '4000' ELSE '2000' END
        |ORDER BY doc_id""".stripMargin,

    // the keep fraction is budget / group-token-total computed in the
    // query itself; md5 prefix compares as a portable integer
    // (('0x'||hex)::INT == Spark's conv(hex,16,10)); FLOOR before the
    // int cast because DuckDB's cast rounds where Spark truncates
    "q21_token_budget_sample" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), t AS (
        |  SELECT source, SUM(n_tokens) AS total FROM d GROUP BY source
        |)
        |SELECT d.doc_id, d.source, d.n_tokens
        |FROM d JOIN t USING (source)
        |WHERE CASE d.source WHEN 'src0' THEN 400 WHEN 'src1' THEN 700 END IS NULL
        |   OR ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT <
        |      CAST(FLOOR(LEAST(1.0,
        |        CAST(CASE d.source WHEN 'src0' THEN 400 WHEN 'src1' THEN 700 END AS DOUBLE)
        |          / CAST(total AS DOUBLE)) * 65536) AS INT)
        |ORDER BY doc_id""".stripMargin,

    // greedy quality-ranked quota: t02's exact score feeds the rank,
    // the keep test runs on the running token sum of BETTER-ranked
    // docs (ROWS ... 1 PRECEDING), so the boundary doc may overflow
    // the budget — identical window frame on both sides; ordering is
    // on the ROUNDED score so rank ties resolve identically
    "q25_domain_quota" ->
      """WITH d AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks, text FROM documents
        |), f AS (
        |  SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens,
        |    len(replace(text, ' ', '')) AS n_alpha_chars,
        |    len(list_distinct(toks)) AS n_uniq,
        |    len(list_filter(toks, x -> x IN ('the','a','of','and','is','to','in'))) AS stop_hits
        |  FROM d
        |), sc AS (
        |  SELECT doc_id, source, n_tokens,
        |    round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
        |      + (CAST(n_uniq AS DOUBLE) / n_tokens) * 0.3
        |      + least(CAST(stop_hits AS DOUBLE) / n_tokens * 5.0, 1.0) * 0.3, 6) AS quality
        |  FROM f
        |), r AS (
        |  SELECT doc_id, source, n_tokens, quality,
        |    -- CAST: DuckDB widens a window SUM(BIGINT) to DECIMAL(38,0);
        |    -- Spark emits BIGINT, and the driver hashes TYPED values
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source
        |      ORDER BY quality DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM sc
        |)
        |SELECT doc_id, source, n_tokens, quality, cum_before FROM r
        |WHERE CASE source WHEN 'src0' THEN 400 WHEN 'src1' THEN 700 WHEN 'src2' THEN 0 END IS NULL
        |   OR cum_before < CASE source WHEN 'src0' THEN 400 WHEN 'src1' THEN 700 WHEN 'src2' THEN 0 END
        |ORDER BY doc_id""".stripMargin,

    // temperature mixture: fractions derive from counts with sqrt
    // weights (IEEE-correctly-rounded in BOTH engines, so bit-equal),
    // the weight sum folds through DECIMAL(38,15) (order-independent,
    // identical both sides), and the keep test is the house md5 16-bit
    // threshold with FLOOR before the int cast (the q21 note)
    "q26_temperature_mix" ->
      """WITH c AS (
        |  SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY lang
        |), t AS (
        |  SELECT SUM(n) AS total,
        |    CAST(SUM(CAST(sqrt(n) AS DECIMAL(38,15))) AS DOUBLE) AS z
        |  FROM c
        |), f AS (
        |  SELECT lang,
        |    LEAST(1.0, FLOOR(0.5 * total) * sqrt(n) / (z * n)) AS frac
        |  FROM c, t
        |)
        |SELECT d.doc_id, d.lang
        |FROM documents d JOIN f USING (lang)
        |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))::INT <
        |      CAST(FLOOR(frac * 65536) AS INT)
        |ORDER BY doc_id""".stripMargin,

    // the restated price goes through exact DECIMAL multiply then one
    // correctly-rounded cast to DOUBLE on both sides (values << 2^53,
    // so both conversions are exact-then-correctly-rounded; see the
    // q01 decimal note for why raw double math would not hash-match)
    "q22_snapshot_diff" ->
      """WITH old AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 7 != 0
        |), new AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 5 = 0
        |      THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE)
        |      ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 11 != 3
        |)
        |SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |  CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |       WHEN n.o_orderkey IS NULL THEN 'removed'
        |       ELSE 'changed' END AS change_type,
        |  o.o_orderstatus AS old_o_orderstatus, n.o_orderstatus AS new_o_orderstatus,
        |  o.o_totalprice AS old_o_totalprice, n.o_totalprice AS new_o_totalprice
        |FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
        |WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
        |   OR NOT (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
        |           AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice)
        |ORDER BY o_orderkey""".stripMargin,

    // same vintage-construction + DECIMAL restatement policy as q22;
    // run starts via null-safe LAG compare, intervals closed by LEAD
    "q23_scd2_history" ->
      """WITH v AS (
        |  SELECT o_orderkey, 1 AS vintage, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 7 != 0
        |  UNION ALL
        |  SELECT o_orderkey, 2, o_orderstatus,
        |    CASE WHEN o_orderkey % 5 = 0
        |      THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE)
        |      ELSE o_totalprice END
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 3,
        |    CASE WHEN o_orderkey % 13 = 2 THEN 'R' ELSE o_orderstatus END,
        |    CASE WHEN o_orderkey % 5 = 0
        |      THEN CAST(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.2 AS DECIMAL(2,1)) AS DOUBLE)
        |      ELSE o_totalprice END
        |  FROM orders
        |), runs AS (
        |  SELECT *,
        |    (LAG(vintage) OVER w IS NULL
        |     OR o_orderstatus IS DISTINCT FROM LAG(o_orderstatus) OVER w
        |     OR o_totalprice IS DISTINCT FROM LAG(o_totalprice) OVER w) AS run_start
        |  FROM v WINDOW w AS (PARTITION BY o_orderkey ORDER BY vintage)
        |), starts AS (SELECT * FROM runs WHERE run_start)
        |SELECT o_orderkey, o_orderstatus, o_totalprice, vintage AS valid_from,
        |  LEAD(vintage) OVER (PARTITION BY o_orderkey ORDER BY vintage) AS valid_to
        |FROM starts
        |ORDER BY o_orderkey, valid_from""".stripMargin,

    // the changeset is built identically on both sides (q22 DECIMAL
    // restatement policy); the merge itself is anti-join + upsert union
    "q24_cdc_merge" ->
      """WITH ch AS (
        |  SELECT o_orderkey, 'X' AS o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE) AS o_totalprice,
        |    'U' AS op
        |  FROM orders WHERE o_orderkey % 9 = 4
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, 'D'
        |  FROM orders WHERE o_orderkey % 9 = 1
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, 'N', o_totalprice, 'U'
        |  FROM orders WHERE o_orderkey % 9 = 7
        |)
        |SELECT b.o_orderkey, b.o_orderstatus, b.o_totalprice
        |FROM orders b LEFT JOIN ch ON b.o_orderkey = ch.o_orderkey
        |WHERE ch.o_orderkey IS NULL
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM ch WHERE op <> 'D'
        |ORDER BY o_orderkey""".stripMargin,

    // sort-based restatement of the range count (r16): the count of
    // touches in (ts-30min, ts] is the difference of two per-user
    // cumulative touch counts — cnt(<= ts) - cnt(<= ts-30min) — each
    // served by an ASOF join against the deduped (user, touch-ts,
    // running-count) frame. Still independent of Spark's bucketed
    // plan (ASOF sort semantics vs equi-join on time blocks), but
    // O(n log n) instead of the r5-r15 naive per-key inequality join,
    // whose per-user cartesian blows up on the sf100 rung's planted
    // 1M-event hot key (the two formulations were verified EXCEPT
    // ALL-identical at sf0.01 and sf0.1 before the swap). epoch_ns
    // keeps boundary comparisons at full precision; CAST ... AS
    // BIGINT so pandas doesn't float the counts.
    "q17_range_join" ->
      """WITH p AS (
        |  SELECT event_id AS purchase_id, user_id, epoch_ns(ts) AS ts_ns
        |  FROM events WHERE event_type = 'purchase'
        |), t AS (
        |  SELECT user_id, epoch_ns(ts) AS ts_ns FROM events
        |  WHERE event_type IN ('click', 'view')
        |), c AS (
        |  SELECT user_id, ts_ns, CAST(max(cnt) AS BIGINT) AS cnt
        |  FROM (
        |    SELECT user_id, ts_ns,
        |      COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_ns
        |        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnt
        |    FROM t) x
        |  GROUP BY user_id, ts_ns
        |), hi AS (
        |  SELECT p.purchase_id, p.user_id, c.cnt
        |  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts_ns >= c.ts_ns
        |), lo AS (
        |  SELECT p.purchase_id, c.cnt
        |  FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id
        |    AND p.ts_ns - 1800000000000 >= c.ts_ns
        |)
        |SELECT hi.purchase_id, hi.user_id,
        |  CAST(COALESCE(hi.cnt, 0) - COALESCE(lo.cnt, 0) AS BIGINT) AS n_touches
        |FROM hi JOIN lo USING (purchase_id)
        |ORDER BY purchase_id""".stripMargin,

    "t04_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(string_split(text, ' '), t -> ('0x' || substr(md5(t), 1, 8))::BIGINT)),
        |    (acc, h) -> (acc * 31 + h) % 72057594037927936) AS fingerprint,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the greedy shard-local fold is sequential per shard, which SQL
    // expresses as a recursive CTE advancing every shard's cursor one
    // row per step; shard/bin ids are portable integer math
    "t05_pack_sequences" ->
      """WITH RECURSIVE docs2 AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |    doc_id % 32 AS shard,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id % 32 ORDER BY doc_id) AS rn
        |  FROM documents
        |), pack(shard, rn, doc_id, n, used, bin) AS (
        |  SELECT shard, rn, doc_id, n, n AS used, CAST(0 AS BIGINT) AS bin
        |  FROM docs2 WHERE rn = 1
        |  UNION ALL
        |  SELECT d.shard, d.rn, d.doc_id, d.n,
        |    CASE WHEN p.used + d.n > 2048 THEN d.n ELSE p.used + d.n END,
        |    CASE WHEN p.used + d.n > 2048 THEN p.bin + 1 ELSE p.bin END
        |  FROM docs2 d JOIN pack p ON d.shard = p.shard AND d.rn = p.rn + 1
        |)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |  CAST(shard * 1099511627776 + bin AS BIGINT) AS bin_id
        |FROM pack ORDER BY doc_id""".stripMargin,

    // integer repetition counts are engine-exact; ratios are left to the
    // consumer (shared denominators carry no extra information)
    "t06_repetition_stats" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t FROM documents
        |), grams AS (
        |  SELECT doc_id,
        |    CAST(greatest(len(t) - 1, 0) AS BIGINT) AS n_2grams,
        |    CAST(len(list_distinct(list_transform(range(1, greatest(len(t), 1)), i -> t[i] || ' ' || t[i+1]))) AS BIGINT) AS n_uniq_2grams
        |  FROM toks
        |), words AS (
        |  SELECT doc_id, unnest(t) AS w FROM toks
        |), wc AS (
        |  SELECT doc_id, w, count(*) AS c FROM words GROUP BY 1, 2
        |), agg AS (
        |  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_word_n, CAST(SUM(c) AS BIGINT) AS n_words
        |  FROM wc GROUP BY 1
        |)
        |SELECT g.doc_id,
        |  CAST(COALESCE(a.n_words, 0) AS BIGINT) AS n_words,
        |  CAST(COALESCE(a.top_word_n, 0) AS BIGINT) AS top_word_n,
        |  g.n_2grams, g.n_uniq_2grams
        |FROM grams g LEFT JOIN agg a USING (doc_id)
        |ORDER BY g.doc_id""".stripMargin,

    // d03/d04/s02/s03 are intentionally absent (rows-only): their hash
    // seeds / hyperplanes / cell seeds are engine-local, so no portable
    // SQL oracle exists; ScalaTest (DedupSpec/SimilaritySpec) checks
    // recall instead.
    // the s01 oracle with the metadata predicate on the corpus side —
    // the filter must be EXACT in the result, not approximate
    "s12_ann_filtered" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb,
        |    sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x), (acc, v) -> acc + v)) AS nrm
        |  FROM embeddings
        |), q AS (SELECT * FROM e WHERE vec_id < 10),
        |c AS (SELECT e.* FROM e JOIN embeddings USING (vec_id) WHERE label % 2 = 0),
        |pairs AS (
        |  SELECT q.vec_id AS q_id, b.vec_id AS n_id,
        |    list_reduce(list_transform(list_zip(q.emb, b.emb), p -> p[1] * p[2]), (acc, v) -> acc + v) / (q.nrm * b.nrm) AS cosine
        |  FROM q JOIN c b ON q.vec_id <> b.vec_id
        |)
        |SELECT q_id, rank, n_id, round(cosine, 6) AS cosine FROM (
        |  SELECT q_id, n_id, cosine, CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS INT) AS rank
        |  FROM pairs
        |) WHERE rank <= 10
        |ORDER BY q_id, rank""".stripMargin,

    // the one fully-oracled ANN entry: the sign-bit fold, XOR+POPCNT
    // distance, and (hamming, n_id) tie order restate verbatim —
    // nothing engine-local (cf. s02/s03 whose geometry is)
    "s13_ann_hamming" ->
      """WITH c AS (
        |  SELECT vec_id,
        |    list_reduce(list_transform(embedding[1:48],
        |      x -> CAST(CASE WHEN x > 0 THEN 1 ELSE 0 END AS BIGINT)),
        |      (acc, b) -> acc * 2 + b) AS code
        |  FROM embeddings
        |), q AS (SELECT vec_id AS q_id, code AS q_code FROM c WHERE vec_id < 10),
        |d AS (
        |  SELECT q_id, c.vec_id AS n_id,
        |    CAST(bit_count(xor(q_code, code)) AS INT) AS hamming
        |  FROM q JOIN c ON c.vec_id != q_id
        |)
        |SELECT q_id, rank, n_id, hamming FROM (
        |  SELECT q_id, n_id, hamming,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY hamming, n_id) AS INT) AS rank
        |  FROM d
        |) WHERE rank <= 10
        |ORDER BY q_id, rank""".stripMargin,

    "s01_ann_bruteforce" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb,
        |    sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x), (acc, v) -> acc + v)) AS nrm
        |  FROM embeddings
        |), q AS (SELECT * FROM e WHERE vec_id < 10),
        |pairs AS (
        |  SELECT q.vec_id AS q_id, b.vec_id AS n_id,
        |    list_reduce(list_transform(list_zip(q.emb, b.emb), p -> p[1] * p[2]), (acc, v) -> acc + v) / (q.nrm * b.nrm) AS cosine
        |  FROM q JOIN e b ON q.vec_id <> b.vec_id
        |)
        |SELECT q_id, rank, n_id, round(cosine, 6) AS cosine FROM (
        |  SELECT q_id, n_id, cosine, CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS INT) AS rank
        |  FROM pairs
        |) WHERE rank <= 10
        |ORDER BY q_id, rank""".stripMargin,

    // radius filter on the ROUNDED cosine on both sides, so the
    // threshold comparison can never split a pair across engines
    "s07_ann_radius" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS emb,
        |    sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x), (acc, v) -> acc + v)) AS nrm
        |  FROM embeddings
        |), q AS (SELECT * FROM e WHERE vec_id < 10),
        |pairs AS (
        |  SELECT q.vec_id AS q_id, b.vec_id AS n_id,
        |    round(list_reduce(list_transform(list_zip(q.emb, b.emb), p -> p[1] * p[2]), (acc, v) -> acc + v) / (q.nrm * b.nrm), 6) AS cosine
        |  FROM q JOIN e b ON q.vec_id <> b.vec_id
        |)
        |SELECT q_id, n_id, cosine FROM pairs WHERE cosine >= 0.2
        |ORDER BY cosine DESC, q_id, n_id LIMIT 10000""".stripMargin,

    "d01_dedup_exact" ->
      """SELECT md5(text) AS h, min(doc_id) AS rep_doc_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY rep_doc_id""".stripMargin,

    "d02_dedup_ngram_jaccard" -> D02OracleSql,

    "d13_containment_dups" -> D13OracleSql,

    // same 16-token disjoint chunking as the engine (the t15 CTE at
    // stride = chunkSize), then the global keep-first rule as a window
    // (fine in the oracle; the ENGINE uses a mergeable min agg) and
    // ordered reassembly; COALESCE('') because string_agg FILTER of an
    // all-dropped doc is NULL while concat_ws of nothing is ''
    "d14_line_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
        |  FROM documents
        |), d AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    16 * greatest(0, CAST(ceil((len(toks) - 16) / 16.0) AS BIGINT)) AS max_start
        |  FROM toks WHERE len(toks) >= 1
        |), lines AS (
        |  SELECT doc_id, s // 16 AS line_no,
        |    array_to_string(toks[s + 1 : least(n, s + 16)], ' ') AS line
        |  FROM (SELECT doc_id, toks, n, unnest(range(0, max_start + 1, 16)) AS s FROM d)
        |), marked AS (
        |  SELECT doc_id, line_no, line,
        |    row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) = 1 AS keep
        |  FROM lines
        |)
        |SELECT doc_id,
        |  count(*) AS n_lines,
        |  CAST(COALESCE(SUM(CASE WHEN keep THEN 1 END), 0) AS BIGINT) AS n_kept,
        |  CAST(count(*) - COALESCE(SUM(CASE WHEN keep THEN 1 END), 0) AS BIGINT) AS n_removed,
        |  COALESCE(string_agg(line, ' ' ORDER BY line_no) FILTER (WHERE keep), '') AS kept_text
        |FROM marked GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    // the character-identical RE2-portable canonicalization (digit runs
    // -> '0', explicit [ \t\n\r] whitespace class -> one space, lower,
    // trim), then the d01 digest-group convention
    "d15_template_dedup" ->
      """SELECT
        |  md5(lower(trim(regexp_replace(regexp_replace(text, '[0-9]+', '0', 'g'),
        |    '[ \t\n\r]+', ' ', 'g')))) AS canon_md5,
        |  MIN(doc_id) AS keep_doc_id,
        |  COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY 1
        |ORDER BY keep_doc_id""".stripMargin,

    // the same deterministic messy-URL construction, then each canon
    // step restated: whole-match scheme+host extract (idx 0), lowercase,
    // default-port strip, fragment/query split, tracking-param filter +
    // sort, trailing-slash strip — RE2-portable, no replacement
    // backreferences (the d15 discipline)
    "d16_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    'HTTP://' || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE 'www.' END
        |    || 'Example.COM'
        |    || CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END
        |    || '/Docs/' || CAST(doc_id % 60 AS VARCHAR)
        |    || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
        |    || '?utm_source=feed&id=' || CAST(doc_id % 12 AS VARCHAR)
        |    || CASE WHEN doc_id % 4 = 0 THEN '&ref=tw#sec2' ELSE '' END AS url
        |  FROM documents
        |), s1 AS (
        |  SELECT doc_id, url,
        |    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', 0) AS sh
        |  FROM u
        |), s2 AS (
        |  SELECT doc_id, lower(sh) AS shl, substr(url, length(sh) + 1) AS rest
        |  FROM s1
        |), s3 AS (
        |  SELECT doc_id,
        |    CASE WHEN shl LIKE 'http://%' THEN regexp_replace(shl, ':80$', '')
        |         WHEN shl LIKE 'https://%' THEN regexp_replace(shl, ':443$', '')
        |         ELSE shl END AS shp,
        |    regexp_replace(rest, '#.*$', '') AS nofrag
        |  FROM s2
        |), s4 AS (
        |  SELECT doc_id, shp,
        |    regexp_replace(nofrag, '\?.*$', '') AS path,
        |    regexp_extract(nofrag, '\?(.*)$', 1) AS qs
        |  FROM s3
        |), s5 AS (
        |  SELECT doc_id, shp,
        |    regexp_replace(path, '/+$', '') AS pathc,
        |    array_to_string(list_sort(list_filter(string_split(qs, '&'),
        |      x -> x != '' AND NOT regexp_matches(x, '^(utm_|gclid=|fbclid=|ref=)'))), '&') AS qsc
        |  FROM s4
        |), c AS (
        |  SELECT doc_id,
        |    shp || pathc || CASE WHEN qsc != '' THEN '?' || qsc ELSE '' END AS canon_url
        |  FROM s5
        |)
        |SELECT canon_url, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
        |FROM c GROUP BY 1
        |ORDER BY canon_url""".stripMargin,

    // the d06 shingle CTE (uncapped distinct 3-grams) over the q19
    // md5 split: eval = val+test docs, reference = train docs
    "d17_ngram_novelty" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        |  FROM toks
        |), eval AS (
        |  SELECT doc_id, shingle FROM sh
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '52'
        |), ref AS (
        |  SELECT DISTINCT shingle FROM sh
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= '52'
        |), sizes AS (
        |  SELECT doc_id, count(*) AS n FROM eval GROUP BY 1
        |), seen AS (
        |  SELECT e.doc_id, count(*) AS s
        |  FROM eval e JOIN ref r ON e.shingle = r.shingle GROUP BY 1
        |)
        |SELECT z.doc_id, z.n AS n_shingles,
        |  z.n - COALESCE(seen.s, 0) AS n_novel,
        |  round(CAST(z.n - COALESCE(seen.s, 0) AS DOUBLE) / z.n, 6) AS novelty
        |FROM sizes z LEFT JOIN seen ON seen.doc_id = z.doc_id
        |ORDER BY z.doc_id""".stripMargin,

    // Lee-et-al span removal: md5 8-token gram keys, keep-first by
    // (doc_id, pos), covered positions expand and union per doc, and
    // the surviving TEXT re-joins ordered — pinned byte-for-byte
    "d18_substring_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, trim(text) AS t FROM documents
        |  WHERE text IS NOT NULL
        |), tokd AS (
        |  SELECT doc_id,
        |    CASE WHEN t = '' THEN [] ELSE string_split_regex(t, '\s+') END
        |      AS toks
        |  FROM base
        |), lens AS (
        |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM tokd
        |), grams AS (
        |  SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
        |    md5(array_to_string(toks[u.i:u.i+7], ' ')) AS gh
        |  FROM lens, UNNEST(generate_series(1, n - 7)) AS u(i)
        |  WHERE n >= 8
        |), ranked AS (
        |  SELECT doc_id, pos,
        |    ROW_NUMBER() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn
        |  FROM grams
        |), covered AS (
        |  SELECT DISTINCT doc_id, CAST(u.p AS BIGINT) AS p
        |  FROM ranked, UNNEST(generate_series(pos, pos + 7)) AS u(p)
        |  WHERE rn > 1
        |), toks AS (
        |  SELECT doc_id, toks[u.i] AS tok, CAST(u.i AS BIGINT) AS p
        |  FROM lens, UNNEST(generate_series(1, n)) AS u(i)
        |), kept AS (
        |  SELECT t.doc_id, t.tok, t.p
        |  FROM toks t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.p = c.p
        |  WHERE c.doc_id IS NULL
        |), agg AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text_dedup
        |  FROM kept GROUP BY doc_id
        |), rem AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_removed
        |  FROM covered GROUP BY doc_id
        |)
        |SELECT l.doc_id, COALESCE(a.text_dedup, '') AS text_dedup,
        |  l.n AS n_tokens, COALESCE(r.n_removed, 0) AS n_removed
        |FROM lens l
        |LEFT JOIN agg a USING (doc_id)
        |LEFT JOIN rem r USING (doc_id)
        |ORDER BY l.doc_id""".stripMargin,

    // connected components over the d02 pairs via transitive closure;
    // the recursive CTE's UNION dedups, so it reaches the fixpoint.
    // `p` is MATERIALIZED (same semantics, DuckDB planner hint):
    // `edges` references it twice, and inlining recomputes the corpus-
    // wide shingle join — at sf1's duplication density that doubled
    // spill past the oracle engine's temp disk
    "d07_dup_clusters" ->
      s"""WITH RECURSIVE p AS MATERIALIZED (SELECT d1, d2 FROM ($D02OracleSql)),
         |edges AS (SELECT d1 AS a, d2 AS b FROM p UNION SELECT d2, d1 FROM p),
         |reach(a, b) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
         |  UNION
         |  SELECT e.a, r.b FROM edges e JOIN reach r ON r.a = e.b
         |)
         |SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
         |ORDER BY doc_id""".stripMargin,

    // the d07 closure extended to the EMITTED corpus: longest-text
    // survivor per cluster (ties to the smallest id, the rank window),
    // every other member dropped, untouched docs passed through with
    // (own id, 1)
    "d19_neardup_corpus" ->
      s"""WITH RECURSIVE p AS MATERIALIZED (SELECT d1, d2 FROM ($D02OracleSql)),
         |edges AS (SELECT d1 AS a, d2 AS b FROM p UNION SELECT d2, d1 FROM p),
         |reach(a, b) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
         |  UNION
         |  SELECT e.a, r.b FROM edges e JOIN reach r ON r.a = e.b
         |),
         |clusters AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
         |clustered AS (
         |  SELECT c.doc_id, c.cluster_id, len(d.text) AS pref
         |  FROM clusters c JOIN documents d USING (doc_id)
         |),
         |surv AS (
         |  SELECT cluster_id, doc_id AS surv_id, cluster_size FROM (
         |    SELECT cluster_id, doc_id,
         |      CAST(row_number() OVER (
         |        PARTITION BY cluster_id ORDER BY pref DESC, doc_id ASC) AS BIGINT) AS rn,
         |      CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
         |    FROM clustered)
         |  WHERE rn = 1
         |),
         |removed AS (
         |  SELECT c.doc_id FROM clusters c JOIN surv s USING (cluster_id)
         |  WHERE c.doc_id != s.surv_id
         |)
         |SELECT d.doc_id, d.text,
         |  COALESCE(s.cluster_id, d.doc_id) AS cluster_id,
         |  COALESCE(s.cluster_size, CAST(1 AS BIGINT)) AS cluster_size
         |FROM documents d
         |LEFT JOIN surv s ON s.surv_id = d.doc_id
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM removed)
         |ORDER BY d.doc_id""".stripMargin,

    "d06_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3
        |), sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        |  FROM toks
        |), corpus AS (
        |  SELECT doc_id, shingle FROM sh WHERE doc_id % 10 != 7
        |), bench AS (
        |  SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 7
        |), sizes AS (
        |  SELECT doc_id, count(*) AS n FROM corpus GROUP BY 1
        |), hits AS (
        |  SELECT c.doc_id, count(*) AS h
        |  FROM corpus c JOIN bench b ON c.shingle = b.shingle GROUP BY 1
        |)
        |SELECT s.doc_id, s.n AS n_shingles, COALESCE(h.h, 0) AS n_contaminated,
        |  round(CAST(COALESCE(h.h, 0) AS DOUBLE) / s.n, 6) AS contamination
        |FROM sizes s LEFT JOIN hits h ON h.doc_id = s.doc_id
        |ORDER BY contamination DESC, s.doc_id LIMIT 100""".stripMargin,

    "d05_dedup_embedding" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
        |    sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x), (acc, v) -> acc + v)) AS nrm
        |  FROM embeddings
        |)
        |SELECT a.label AS label, a.vec_id AS v1, b.vec_id AS v2,
        |  round(list_reduce(list_transform(list_zip(a.emb, b.emb), p -> p[1] * p[2]), (acc, v) -> acc + v) / (a.nrm * b.nrm), 6) AS cosine
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |ORDER BY cosine DESC, v1, v2 LIMIT 50""".stripMargin,

    // t04 (xxhash64 fingerprint) and m01 (JVM-side stub decoder) are
    // rows-only: their values are engine-local by construction.
    "t01_lang_id" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), h AS (
        |  SELECT doc_id, toks,
        |    len(list_filter(toks, x -> x IN ('the','a','of','and','is','to','in'))) AS en_h,
        |    len(list_filter(toks, x -> x IN ('le','la','les','de','et','un','une'))) AS fr_h,
        |    len(list_filter(toks, x -> x IN ('el','la','los','de','y','un','en'))) AS es_h,
        |    len(list_filter(toks, x -> x IN ('der','die','das','und','ein','zu','mit'))) AS de_h
        |  FROM d
        |)
        |SELECT doc_id,
        |  CASE WHEN en_h = 0 AND fr_h = 0 AND es_h = 0 AND de_h = 0 THEN 'unknown'
        |       WHEN en_h >= fr_h AND en_h >= es_h AND en_h >= de_h THEN 'en'
        |       WHEN fr_h >= es_h AND fr_h >= de_h THEN 'fr'
        |       WHEN es_h >= de_h THEN 'es'
        |       ELSE 'de' END AS lang_pred,
        |  round(CAST(en_h AS DOUBLE) / len(toks), 6) AS en_ratio,
        |  round(CAST(fr_h AS DOUBLE) / len(toks), 6) AS fr_ratio
        |FROM h ORDER BY doc_id""".stripMargin,

    "t02_quality_score" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks, text FROM documents
        |), f AS (
        |  SELECT doc_id, len(toks) AS n_tokens,
        |    len(replace(text, ' ', '')) AS n_alpha_chars,
        |    len(list_distinct(toks)) AS n_uniq,
        |    len(list_filter(toks, x -> x IN ('the','a','of','and','is','to','in'))) AS stop_hits
        |  FROM d
        |)
        |SELECT doc_id, n_tokens,
        |  round(CAST(n_alpha_chars AS DOUBLE) / n_tokens, 6) AS avg_token_len,
        |  round(CAST(n_uniq AS DOUBLE) / n_tokens, 6) AS uniq_ratio,
        |  round(CAST(stop_hits AS DOUBLE) / n_tokens, 6) AS stop_ratio,
        |  round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
        |    + (CAST(n_uniq AS DOUBLE) / n_tokens) * 0.3
        |    + least(CAST(stop_hits AS DOUBLE) / n_tokens * 5.0, 1.0) * 0.3, 6) AS quality
        |FROM f ORDER BY doc_id""".stripMargin,

    "t03_token_count" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+')) AS alpha_tokens,
        |  CAST(ceil(CAST(len(text) AS DOUBLE) / 4.0) AS BIGINT) AS bpe_est
        |FROM documents ORDER BY doc_id""".stripMargin,

    // NFC is the identity on the ASCII corpus; lower / \s+ collapse /
    // trim / length agree between Java regex and RE2 on this input
    "t07_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm_text,
        |  CAST(length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // identical deterministic PII injection + the same three STAGED
    // regex passes (emails, then phones on the email-redacted text,
    // then IPs) — the patterns sit in the Java/RE2-shared regex subset
    "t08_pii_redact" ->
      """WITH inj AS (
        |  SELECT doc_id,
        |    text || ' contact u' || CAST(doc_id AS VARCHAR)
        |      || '@mail' || CAST(doc_id % 7 AS VARCHAR)
        |      || '.example.com or 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        |      || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
        |      || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS t
        |  FROM documents
        |), s1 AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |    regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
        |  FROM inj
        |), s2 AS (
        |  SELECT doc_id, n_emails,
        |    CAST(len(regexp_extract_all(t1, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phones,
        |    regexp_replace(t1, '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g') AS t2
        |  FROM s1
        |)
        |SELECT doc_id, n_emails, n_phones,
        |  CAST(len(regexp_extract_all(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  regexp_replace(t2, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted
        |FROM s2 ORDER BY doc_id""".stripMargin,

    // identical 5-token spans, COUNT document frequency, CASE rollup;
    // CAST the CASE sum (DuckDB SUM -> HUGEINT, the q17 lesson)
    "t09_boilerplate_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS t
        |  FROM documents
        |), sp AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 3),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]))) AS span
        |  FROM toks WHERE len(t) >= 5
        |), df AS (
        |  SELECT span, count(*) AS ndocs FROM sp GROUP BY span
        |), per AS (
        |  SELECT sp.doc_id, count(*) AS n_spans,
        |    CAST(SUM(CASE WHEN df.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_spans
        |  FROM sp JOIN df USING (span) GROUP BY sp.doc_id
        |)
        |SELECT d.doc_id,
        |  COALESCE(per.n_spans, 0) AS n_spans,
        |  COALESCE(per.n_shared_spans, 0) AS n_shared_spans
        |FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id""".stripMargin,

    // identical md5-prefix gram hash (conv == '0x' cast), window-min
    // winnowing, DF cap in [2,200], integer pair counts
    "d09_winnow_dups" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS t
        |  FROM documents
        |), gh AS (
        |  SELECT doc_id, list_transform(range(1, len(t) - 2),
        |    i -> CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]), 1, 8)) AS BIGINT)) AS g
        |  FROM toks WHERE len(t) >= 7
        |), pr0 AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(g) - 2), j -> list_min(g[j:j+3]))) AS fp
        |  FROM gh
        |), pr AS (
        |  SELECT DISTINCT doc_id, fp FROM pr0
        |), capped AS (
        |  SELECT doc_id, fp FROM pr
        |  WHERE fp IN (SELECT fp FROM pr GROUP BY fp HAVING count(*) BETWEEN 2 AND 200)
        |)
        |SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared_prints
        |FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2
        |ORDER BY shared_prints DESC, d1, d2 LIMIT 100""".stripMargin,

    // identical two-level word count; top-k by (count desc, word asc);
    // integer cum/total so the hash is exact
    "t11_corpus_vocab" ->
      """WITH words AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x != '')) AS word
        |  FROM documents
        |), counts AS (
        |  SELECT word, count(*) AS n FROM words GROUP BY word
        |), top AS (
        |  SELECT word, n FROM counts ORDER BY n DESC, word LIMIT 100
        |)
        |SELECT
        |  CAST(row_number() OVER (ORDER BY n DESC, word) AS INTEGER) AS vocab_rank,
        |  word, n,
        |  CAST(SUM(n) OVER (ORDER BY n DESC, word ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_count,
        |  (SELECT CAST(SUM(n) AS BIGINT) FROM counts) AS total_count
        |FROM top ORDER BY vocab_rank""".stripMargin,

    // identical window arithmetic: starts 0, 24, ... up to the last
    // start that contributes new tokens; 1-based inclusive list slices
    // on the DuckDB side mirror Spark's (start+1, length) slice
    "t15_chunk_docs" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
        |  FROM documents
        |), d AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    24 * greatest(0, CAST(ceil((len(toks) - 32) / 24.0) AS BIGINT)) AS max_start
        |  FROM toks WHERE len(toks) >= 1
        |), starts AS (
        |  SELECT doc_id, toks, n, unnest(range(0, max_start + 1, 24)) AS s FROM d
        |)
        |SELECT doc_id, s // 24 AS chunk_id, s AS chunk_start,
        |  CAST(len(toks[s + 1 : least(n, s + 32)]) AS BIGINT) AS n_tokens,
        |  array_to_string(toks[s + 1 : least(n, s + 32)], ' ') AS chunk_text
        |FROM starts ORDER BY doc_id, chunk_id""".stripMargin,

    // identical quantize-fold-then-double arithmetic: value to
    // DECIMAL(12,2) once (the q18 policy), exact decimal moments,
    // then a fixed double expression order, rounded to 6 dp. The
    // variance is ANCHORED (r10): ssd = Σ(v−m)² folded exactly about
    // the quantized mean m, served as ssd/n − δ² with δ = mean − m —
    // the same two-pass form the engine folds, so no catastrophic
    // cancellation on either side. n counts values, groups match
    // null-safe, and every row is served (null value → null scores)
    "q28_zscore_normalize" ->
      """WITH q AS (
        |  SELECT event_id, event_type, CAST(value AS DECIMAL(12,2)) AS v FROM events
        |), a AS (
        |  SELECT event_type, COUNT(v) AS n,
        |    CAST(SUM(v) AS DOUBLE) AS s1,
        |    CAST(MIN(v) AS DOUBLE) AS vmin,
        |    CAST(MAX(v) AS DOUBLE) AS vmax,
        |    CAST(CAST(SUM(v) AS DOUBLE) / COUNT(v) AS DECIMAL(12,2)) AS m
        |  FROM q GROUP BY 1
        |), sd AS (
        |  SELECT q.event_type,
        |    CAST(SUM(CAST((v - m) * 100 AS DECIMAL(19,0))
        |           * CAST((v - m) * 100 AS DECIMAL(19,0))) AS DOUBLE) AS ssd
        |  FROM q JOIN a ON q.event_type IS NOT DISTINCT FROM a.event_type
        |  GROUP BY 1
        |), st AS (
        |  SELECT a.*, sd.ssd,
        |    s1 / n - CAST(m AS DOUBLE) AS delta
        |  FROM a JOIN sd ON a.event_type IS NOT DISTINCT FROM sd.event_type
        |)
        |SELECT q.event_id, q.event_type,
        |  CASE WHEN ssd / 10000.0 / n - delta * delta > 0
        |    THEN round((CAST(v AS DOUBLE) - s1 / n)
        |      / sqrt(ssd / 10000.0 / n - delta * delta), 6)
        |    WHEN v IS NOT NULL AND n IS NOT NULL THEN 0.0 END AS value_z,
        |  CASE WHEN vmax > vmin
        |    THEN round((CAST(v AS DOUBLE) - vmin) / (vmax - vmin), 6)
        |    WHEN v IS NOT NULL AND n IS NOT NULL THEN 0.0 END AS value_minmax
        |FROM q LEFT JOIN st ON q.event_type IS NOT DISTINCT FROM st.event_type
        |ORDER BY event_id""".stripMargin,

    // the state detour must be invisible: the oracle aggregates the
    // raw rows directly (decimal fold, double cast, same mean
    // expression) — lossless mergeability is the thing under test
    "q33_agg_state" ->
      """WITH q AS (
        |  SELECT event_type, CAST(value AS DECIMAL(12,2)) AS v FROM events
        |), a AS (
        |  SELECT event_type, COUNT(v) AS n_rows,
        |    CAST(SUM(v) AS DOUBLE) AS sum_v,
        |    CAST(MIN(v) AS DOUBLE) AS min_v,
        |    CAST(MAX(v) AS DOUBLE) AS max_v
        |  FROM q GROUP BY 1
        |)
        |SELECT event_type, n_rows, sum_v, min_v, max_v,
        |  round(sum_v / n_rows, 6) AS avg_v
        |FROM a ORDER BY event_type""".stripMargin,

    // explicit gid arithmetic (GROUPING(a)*2 + GROUPING(b)) and the
    // '(all)' sentinel instead of NULL keys, so neither grouping-id
    // bit conventions nor NULL sort order can diverge across engines
    "q34_grouping_sets" ->
      """SELECT COALESCE(o_orderpriority, '(all)') AS priority,
        |  COALESCE(o_orderstatus, '(all)') AS status,
        |  CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS INT) AS gid,
        |  COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
        |  (o_orderpriority), (o_orderstatus), ())
        |ORDER BY gid, priority, status""".stripMargin,

    // integer ns-to-day division and the tick − rank island id —
    // exact longs end to end on both engines
    "q35_gap_islands" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
        |  FROM events
        |), runs AS (
        |  SELECT user_id,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island,
        |    day
        |  FROM d
        |), r AS (
        |  SELECT user_id, island, COUNT(*) AS len, MIN(day) AS start
        |  FROM runs GROUP BY 1, 2
        |)
        |SELECT user_id, CAST(SUM(len) AS BIGINT) AS active_ticks,
        |  COUNT(*) AS n_islands, MAX(len) AS longest_run,
        |  MIN(start) AS first_tick
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin,

    // running-max-end island flags over exact ns longs; the cumulative
    // flag sum casts to BIGINT (DuckDB widens window SUMs to HUGEINT)
    "q36_interval_merge" ->
      """WITH iv AS (
        |  SELECT user_id, event_id, epoch_ns(ts) AS start_ns,
        |    epoch_ns(ts) + (event_id % 7 + 1) * 3600000000000 AS end_ns
        |  FROM events
        |), f AS (
        |  SELECT *,
        |    max(end_ns) OVER (PARTITION BY user_id ORDER BY start_ns, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv
        |), g AS (
        |  SELECT *, CAST(SUM(CASE WHEN pmax IS NULL OR start_ns > pmax THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY start_ns, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS merged_id
        |  FROM f
        |)
        |SELECT user_id, merged_id, MIN(start_ns) AS start_ns,
        |  MAX(end_ns) AS end_ns, COUNT(*) AS n_merged
        |FROM g GROUP BY user_id, merged_id
        |ORDER BY user_id, merged_id""".stripMargin,

    // the q30 interpolation CTE at q1/q3, pivoted to Tukey fences —
    // fence arithmetic on the ROUNDED quantiles so the boundary
    // comparisons are bit-identical across engines
    "q38_iqr_outliers" ->
      """WITH v AS (
        |  SELECT event_type, CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL
        |), r AS (
        |  SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v) AS r,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM v
        |), t AS (
        |  SELECT event_type, n, q AS quantile, (n - 1) * q AS h
        |  FROM (SELECT DISTINCT event_type, n FROM r),
        |       (SELECT unnest([0.25, 0.75]) AS q)
        |), t2 AS (
        |  SELECT event_type, quantile,
        |    CAST(floor(h) AS BIGINT) + 1 AS lo_r,
        |    least(CAST(floor(h) AS BIGINT) + 2, n) AS hi_r,
        |    h - floor(h) AS frac
        |  FROM t
        |), p AS (
        |  SELECT t2.event_type, quantile, frac,
        |    MAX(CASE WHEN r.r = lo_r THEN v END) AS vlo,
        |    MAX(CASE WHEN r.r = hi_r THEN v END) AS vhi
        |  FROM t2 JOIN r ON r.event_type IS NOT DISTINCT FROM t2.event_type
        |    AND (r.r = lo_r OR r.r = hi_r)
        |  GROUP BY 1, 2, 3
        |), qv AS (
        |  SELECT event_type, quantile, round(vlo + frac * (vhi - vlo), 6) AS value
        |  FROM p
        |), f AS (
        |  SELECT event_type,
        |    MAX(CASE WHEN quantile = 0.25 THEN value END) AS q1,
        |    MAX(CASE WHEN quantile = 0.75 THEN value END) AS q3
        |  FROM qv GROUP BY event_type
        |), f2 AS (
        |  SELECT event_type, q1, q3,
        |    q1 - 1.5 * (q3 - q1) AS lo_fence,
        |    q3 + 1.5 * (q3 - q1) AS hi_fence
        |  FROM f
        |)
        |SELECT v.event_type, q1, q3, lo_fence, hi_fence,
        |  COUNT(*) AS n_values,
        |  CAST(SUM(CASE WHEN v.v < lo_fence THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |  CAST(SUM(CASE WHEN v.v > hi_fence THEN 1 ELSE 0 END) AS BIGINT) AS n_high
        |FROM v JOIN f2 ON v.event_type IS NOT DISTINCT FROM f2.event_type
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY v.event_type""".stripMargin,

    // identical double bin arithmetic (operation order mirrored);
    // sparse bins, top edge clamped, constant groups collapse to bin 0
    "q40_group_histogram" ->
      """WITH v AS (
        |  SELECT event_type, CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL
        |), b AS (
        |  SELECT event_type, MIN(v) AS vmin, MAX(v) AS vmax FROM v GROUP BY 1
        |), binned AS (
        |  SELECT v.event_type, vmin, vmax,
        |    CASE WHEN vmax > vmin
        |      THEN least(CAST(floor((v - vmin) * 20.0 / (vmax - vmin)) AS INT), 19)
        |      ELSE 0 END AS bin
        |  FROM v JOIN b ON v.event_type = b.event_type
        |)
        |SELECT event_type, bin,
        |  round(vmin + bin * ((vmax - vmin) / 20.0), 6) AS bin_lo,
        |  round(vmin + (bin + 1) * ((vmax - vmin) / 20.0), 6) AS bin_hi,
        |  COUNT(*) AS n
        |FROM binned GROUP BY event_type, bin, vmin, vmax
        |ORDER BY event_type, bin""".stripMargin,

    // identical per-key spine (range is inclusive-exclusive, hence
    // hi + 1) and IGNORE-NULLS carry-forward; missing tick OR null
    // observation both count as gaps
    "q43_densify_locf" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS daily_value
        |  FROM events GROUP BY 1, 2
        |), span AS (
        |  SELECT event_type, unnest(range(MIN(day), MAX(day) + 1)) AS day
        |  FROM daily GROUP BY event_type
        |), j AS (
        |  SELECT s.event_type, s.day, d.daily_value
        |  FROM span s LEFT JOIN daily d
        |    ON s.event_type = d.event_type AND s.day = d.day
        |)
        |SELECT event_type, day,
        |  last_value(daily_value IGNORE NULLS) OVER (
        |    PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
        |  daily_value IS NULL AS is_filled
        |FROM j ORDER BY event_type, day""".stripMargin,

    // identical integer week math (ns-epoch day div 7), distinct
    // (user, week) first, per-user window min as the cohort; retention
    // is IEEE division of two exact BIGINTs — deterministic, no
    // rounding needed
    "q44_cohort_retention" ->
      """WITH weekly AS (
        |  SELECT DISTINCT user_id,
        |    (epoch_ns(ts) // 86400000000000) // 7 AS week
        |  FROM events
        |), c AS (
        |  SELECT user_id, week,
        |    MIN(week) OVER (PARTITION BY user_id) AS cohort_week
        |  FROM weekly
        |), n AS (
        |  SELECT cohort_week, week - cohort_week AS week_offset,
        |    COUNT(*) AS n_active
        |  FROM c GROUP BY 1, 2
        |)
        |SELECT n.cohort_week, n.week_offset, n.n_active,
        |  s.n_active AS cohort_size,
        |  CAST(n.n_active AS DOUBLE) / CAST(s.n_active AS DOUBLE) AS retention
        |FROM n JOIN n s ON s.cohort_week = n.cohort_week AND s.week_offset = 0
        |ORDER BY n.cohort_week, n.week_offset""".stripMargin,

    // identical histogram-then-integer-bucket formulation: collapse to
    // the per-group value histogram first, cumulative-count the
    // DISTINCT values, bucket id = exact integer cum*B//n; window SUMs
    // cast back to BIGINT (the q25 DECIMAL-widening lesson)
    "q45_equidepth_hist" ->
      """WITH hist AS (
        |  SELECT event_type AS g, value AS v, COUNT(*) AS c
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), cum AS (
        |  SELECT g, v, c,
        |    CAST(COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before,
        |    CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS n_total
        |  FROM hist
        |)
        |SELECT g AS event_type, (cum_before * 10) // n_total AS bucket,
        |  CAST(SUM(c) AS BIGINT) AS n, MIN(v) AS lo, MAX(v) AS hi
        |FROM cum GROUP BY 1, 2
        |ORDER BY event_type, bucket""".stripMargin,

    // identical DECIMAL-cents exact cumulative sizes in file-key order;
    // bin id = exact integer cum_before // (target cents); BIGINT casts
    // on the widening window SUM
    "q46_compaction_bins" ->
      """WITH sized AS (
        |  SELECT o_orderstatus AS g, o_orderkey AS f,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        |  FROM orders
        |), cum AS (
        |  SELECT g, f, cents,
        |    CAST(COALESCE(SUM(cents) OVER (PARTITION BY g ORDER BY f
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |  FROM sized
        |)
        |SELECT g AS o_orderstatus, cum_before // 100000000 AS bin,
        |  COUNT(*) AS n_files,
        |  CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE) / 100.0 AS bin_size,
        |  MIN(f) AS first_file, MAX(f) AS last_file
        |FROM cum GROUP BY 1, 2
        |ORDER BY o_orderstatus, bin""".stripMargin,

    // identical 7-day RANGE frame over integer days; the frame sum
    // stays DECIMAL-exact and the avg is IEEE division of exact values
    "q47_rolling_stats" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |    SUM(CAST(value AS DECIMAL(12,2))) AS dv
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type, day, CAST(dv AS DOUBLE) AS daily_value,
        |  CAST(SUM(dv) OVER w AS DOUBLE) AS roll_sum,
        |  CAST(COUNT(*) OVER w AS BIGINT) AS roll_n,
        |  CAST(SUM(dv) OVER w AS DOUBLE) / CAST(COUNT(*) OVER w AS DOUBLE) AS roll_avg
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY day
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin,

    // identical IGNORE NULLS carry with the identical (ts, id) total
    // order and 1-PRECEDING frame; all columns integer so nothing can
    // drift
    "q48_attribution" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) AS t, event_id, event_type
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |), m AS (
        |  SELECT user_id, t, event_id, event_type,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |      OVER w AS touch_id,
        |    last_value(CASE WHEN event_type = 'click' THEN t END IGNORE NULLS)
        |      OVER w AS touch_ts
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |)
        |SELECT user_id, event_id AS conv_id, t AS conv_ts, touch_id, touch_ts,
        |  t - touch_ts AS gap_ns
        |FROM m WHERE event_type = 'purchase'
        |ORDER BY user_id, conv_ts, conv_id""".stripMargin,

    // identical lead window over the identical (ts, id) total order;
    // gap sums fold EXACT (DuckDB's HUGEINT == the engine's
    // DECIMAL(38,0) fold — a BIGINT ns fold overflows at 10M events,
    // the sf10 finding) and serve as IEEE doubles of the exact value
    "q49_event_transitions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) AS t, event_id, event_type,
        |    lead(event_type) OVER w AS to_type,
        |    lead(epoch_ns(ts)) OVER w AS nt
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
        |)
        |SELECT event_type AS from_type, to_type, COUNT(*) AS n,
        |  CAST(SUM(nt - t) AS DOUBLE) AS gap_ns_sum,
        |  CAST(SUM(nt - t) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS gap_ns_avg
        |FROM e WHERE to_type IS NOT NULL
        |GROUP BY 1, 2
        |ORDER BY from_type, to_type""".stripMargin,

    // the house content-stable md5 bucketing restated counter for
    // counter: salt = value ':' row index, bucket = 48-bit md5 prefix
    // mod width — bit-identical across engines
    "q50_countmin_state" ->
      """WITH v AS (
        |  SELECT event_type, CAST(user_id AS VARCHAR) AS val FROM events
        |), e AS (
        |  SELECT event_type, val, unnest(range(0, 4)) AS d FROM v
        |)
        |SELECT event_type, d,
        |  ('0x' || substr(md5(val || ':' || CAST(d AS VARCHAR)), 1, 12))::BIGINT % 64 AS bucket,
        |  COUNT(*) AS n
        |FROM e GROUP BY 1, 2, 3
        |ORDER BY event_type, d, bucket""".stripMargin,

    // the KMV bottom-k restated set-theoretically: distinct keys ranked
    // by the pinned 60-bit md5-prefix hash; the estimate is exact
    // integer floor((k-1)*2^60/h_k) via HUGEINT division — sample
    // membership, hashes, ranks AND the estimate all engine-independent
    "q72_bottomk_sample" ->
      """WITH hashed AS (
        |  SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS key,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM events WHERE user_id IS NOT NULL
        |), ranked AS (
        |  SELECT event_type, key, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h, key) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS nd
        |  FROM hashed
        |), kth AS (
        |  SELECT event_type, max(h) AS hk, max(nd) AS nd
        |  FROM ranked WHERE rn <= 128 GROUP BY event_type
        |), nr AS (
        |  SELECT event_type, COUNT(user_id) AS n_rows FROM events GROUP BY event_type
        |)
        |SELECT r.event_type, CAST(r.rn AS INT) AS rank, r.key, r.h,
        |  CASE WHEN k.nd < 128 THEN k.nd
        |       ELSE CAST((CAST(127 AS HUGEINT) * CAST(1152921504606846976 AS HUGEINT)) // k.hk AS BIGINT)
        |  END AS distinct_est,
        |  nr.n_rows
        |FROM ranked r
        |JOIN kth k USING (event_type)
        |JOIN nr USING (event_type)
        |WHERE r.rn <= 16
        |ORDER BY event_type, rank""".stripMargin,

    // the Beyer et al. set-operation estimator restated: each type's
    // bottom-128 by the pinned hash, union synopsis re-ranked per pair
    // with membership flags, overlap = both-flags inside the union's
    // bottom-128; the three KMV cardinalities use the same exact
    // HUGEINT floor division as q72, and the containment ratios repeat
    // the Spark side's pinned left-to-right double arithmetic — all
    // eight columns engine-independent
    "q73_corpus_overlap" ->
      """WITH hashed AS (
        |  SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS key,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
        |  FROM events WHERE user_id IS NOT NULL
        |), ranked0 AS (
        |  SELECT event_type, key, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h, key) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS nd
        |  FROM hashed
        |), bk AS (
        |  SELECT event_type, key, h FROM ranked0 WHERE rn <= 128
        |), side AS (
        |  SELECT event_type,
        |    CASE WHEN max(nd) < 128 THEN max(nd)
        |         ELSE CAST((CAST(127 AS HUGEINT) * CAST(1152921504606846976 AS HUGEINT)) // max(h) AS BIGINT)
        |    END AS est
        |  FROM ranked0 WHERE rn <= 128 GROUP BY event_type
        |), pairs AS (
        |  SELECT a.event_type AS ta, b.event_type AS tb
        |  FROM (SELECT DISTINCT event_type FROM bk) a
        |  JOIN (SELECT DISTINCT event_type FROM bk) b ON a.event_type < b.event_type
        |), mem AS (
        |  SELECT p.ta, p.tb, bk.key, bk.h,
        |    max(CASE WHEN bk.event_type = p.ta THEN 1 ELSE 0 END) AS in_a,
        |    max(CASE WHEN bk.event_type = p.tb THEN 1 ELSE 0 END) AS in_b
        |  FROM pairs p JOIN bk ON bk.event_type IN (p.ta, p.tb)
        |  GROUP BY 1, 2, 3, 4
        |), ranked AS (
        |  SELECT ta, tb, in_a, in_b, h,
        |    row_number() OVER (PARTITION BY ta, tb ORDER BY h, key) AS rn
        |  FROM mem
        |), uagg AS (
        |  SELECT ta AS group_a, tb AS group_b,
        |    CAST(COUNT(*) AS INT) AS k_used,
        |    CAST(SUM(in_a * in_b) AS INT) AS overlap,
        |    round(CAST(SUM(in_a * in_b) AS DOUBLE) / COUNT(*), 6) AS jaccard_est,
        |    CASE WHEN COUNT(*) < 128 THEN COUNT(*)
        |         ELSE CAST((CAST(127 AS HUGEINT) * CAST(1152921504606846976 AS HUGEINT)) // max(h) AS BIGINT)
        |    END AS union_est
        |  FROM ranked WHERE rn <= 128
        |  GROUP BY 1, 2
        |)
        |SELECT u.group_a, u.group_b, u.k_used, u.overlap, u.jaccard_est,
        |  sa.est AS distinct_a, sb.est AS distinct_b, u.union_est,
        |  CASE WHEN sa.est = 0 THEN NULL
        |       ELSE round(CAST(u.overlap AS DOUBLE) / u.k_used * u.union_est / sa.est, 6)
        |  END AS containment_a_in_b,
        |  CASE WHEN sb.est = 0 THEN NULL
        |       ELSE round(CAST(u.overlap AS DOUBLE) / u.k_used * u.union_est / sb.est, 6)
        |  END AS containment_b_in_a
        |FROM uagg u
        |JOIN side sa ON sa.event_type = u.group_a
        |JOIN side sb ON sb.event_type = u.group_b
        |ORDER BY group_a, group_b""".stripMargin,

    // the q37 Efraimidis–Spirakis ranking restated: the top-16 by
    // `greatest(w,1) / −ln(u)` with the pinned md5-derived u — the
    // state path's per-unit top-64 fold serves exactly the global
    // top-16 (top-k by a fixed key is closed under union), so the
    // direct ranking IS the oracle; ids, weights, ranks and round-2
    // keys engine-independent
    // the WHERE mirrors reservoirStates' n_rows definition exactly
    // (rows with a null id or weight carry no identity/mass on the
    // Spark side, so the oracle must not count them either — r14 ADVICE)
    "q74_reservoir_sample" ->
      """WITH d AS (
        |  SELECT source, CAST(doc_id AS VARCHAR) AS id,
        |    CAST(n_chars AS DOUBLE) AS w
        |  FROM documents
        |  WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
        |), keyed AS (
        |  SELECT source, id, w,
        |    greatest(w, 1.0) /
        |      (-ln(((('0x' || substr(md5(id), 1, 12))::BIGINT) + 0.5)
        |        / 281474976710656.0)) AS wk
        |  FROM d
        |), ranked AS (
        |  SELECT source, id, w, wk,
        |    row_number() OVER (PARTITION BY source ORDER BY wk DESC, id) AS smp_rank,
        |    COUNT(*) OVER (PARTITION BY source) AS n_rows
        |  FROM keyed
        |)
        |SELECT source, CAST(smp_rank AS INT) AS smp_rank, id AS doc_id,
        |  w AS weight, round(wk, 2) AS wkey, n_rows
        |FROM ranked WHERE smp_rank <= 16
        |ORDER BY source, smp_rank""".stripMargin,

    // the q30/q38 interpolation CTE at (0.05, 0.95), then a map-only
    // least/greatest clamp on the bit-identical rounded fences
    "q51_winsorize" ->
      """WITH v AS (
        |  SELECT event_type, event_id, CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL
        |), r AS (
        |  SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v) AS r,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM v
        |), t AS (
        |  SELECT event_type, n, q AS quantile, (n - 1) * q AS h
        |  FROM (SELECT DISTINCT event_type, n FROM r),
        |       (SELECT unnest([0.05, 0.95]) AS q)
        |), t2 AS (
        |  SELECT event_type, quantile,
        |    CAST(floor(h) AS BIGINT) + 1 AS lo_r,
        |    least(CAST(floor(h) AS BIGINT) + 2, n) AS hi_r,
        |    h - floor(h) AS frac
        |  FROM t
        |), p AS (
        |  SELECT t2.event_type, quantile, frac,
        |    MAX(CASE WHEN r.r = lo_r THEN v END) AS vlo,
        |    MAX(CASE WHEN r.r = hi_r THEN v END) AS vhi
        |  FROM t2 JOIN r ON r.event_type IS NOT DISTINCT FROM t2.event_type
        |    AND (r.r = lo_r OR r.r = hi_r)
        |  GROUP BY 1, 2, 3
        |), qv AS (
        |  SELECT event_type, quantile, round(vlo + frac * (vhi - vlo), 6) AS fence
        |  FROM p
        |), f AS (
        |  SELECT event_type,
        |    MAX(CASE WHEN quantile = 0.05 THEN fence END) AS lo_fence,
        |    MAX(CASE WHEN quantile = 0.95 THEN fence END) AS hi_fence
        |  FROM qv GROUP BY event_type
        |)
        |SELECT v.event_type, event_id, v AS value,
        |  least(greatest(v, lo_fence), hi_fence) AS winsorized,
        |  (v < lo_fence OR v > hi_fence) AS clipped,
        |  lo_fence, hi_fence
        |FROM v JOIN f ON v.event_type IS NOT DISTINCT FROM f.event_type
        |ORDER BY v.event_type, event_id""".stripMargin,

    // counts, the deterministic (count DESC, label ASC) tie-break, and
    // the agreement ratio restate exactly; SUM OVER goes HUGEINT in
    // DuckDB, hence the BIGINT cast
    "q52_label_consensus" ->
      """WITH votes AS (
        |  SELECT user_id, event_type AS label, COUNT(*) AS n
        |  FROM events WHERE event_type IS NOT NULL
        |  GROUP BY 1, 2
        |), r AS (
        |  SELECT user_id, label, n,
        |    CAST(SUM(n) OVER (PARTITION BY user_id) AS BIGINT) AS tot,
        |    row_number() OVER (PARTITION BY user_id ORDER BY n DESC, label) AS rk
        |  FROM votes
        |)
        |SELECT user_id, label AS consensus, n AS n_votes, tot AS n_total,
        |  round(CAST(n AS DOUBLE) / tot, 6) AS agreement,
        |  (n * 2 > tot) AS is_majority
        |FROM r WHERE rk = 1
        |ORDER BY user_id""".stripMargin,

    // one wide aggregation row restated per column; numeric min/max
    // through the house DECIMAL(12,2)->DOUBLE policy, string min/max
    // lexical, NULLs typed per branch
    "q53_column_profile" ->
      """WITH w AS (
        |  SELECT COUNT(*) AS nr,
        |    COUNT(o_orderkey) AS nn1, COUNT(DISTINCT o_orderkey) AS nd1,
        |    MIN(CAST(CAST(o_orderkey AS DECIMAL(12,2)) AS DOUBLE)) AS mn1,
        |    MAX(CAST(CAST(o_orderkey AS DECIMAL(12,2)) AS DOUBLE)) AS mx1,
        |    COUNT(o_custkey) AS nn2, COUNT(DISTINCT o_custkey) AS nd2,
        |    MIN(CAST(CAST(o_custkey AS DECIMAL(12,2)) AS DOUBLE)) AS mn2,
        |    MAX(CAST(CAST(o_custkey AS DECIMAL(12,2)) AS DOUBLE)) AS mx2,
        |    COUNT(o_orderstatus) AS nn3, COUNT(DISTINCT o_orderstatus) AS nd3,
        |    MIN(o_orderstatus) AS mn3, MAX(o_orderstatus) AS mx3,
        |    COUNT(o_totalprice) AS nn4, COUNT(DISTINCT o_totalprice) AS nd4,
        |    MIN(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)) AS mn4,
        |    MAX(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE)) AS mx4,
        |    COUNT(o_orderpriority) AS nn5, COUNT(DISTINCT o_orderpriority) AS nd5,
        |    MIN(o_orderpriority) AS mn5, MAX(o_orderpriority) AS mx5
        |  FROM orders
        |)
        |SELECT 'o_orderkey' AS col_name, nr AS n_rows, nr - nn1 AS n_null,
        |  nd1 AS n_distinct, mn1 AS min_num, mx1 AS max_num,
        |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM w
        |UNION ALL
        |SELECT 'o_custkey', nr, nr - nn2, nd2, mn2, mx2,
        |  CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM w
        |UNION ALL
        |SELECT 'o_orderstatus', nr, nr - nn3, nd3,
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn3, mx3 FROM w
        |UNION ALL
        |SELECT 'o_totalprice', nr, nr - nn4, nd4, mn4, mx4,
        |  CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM w
        |UNION ALL
        |SELECT 'o_orderpriority', nr, nr - nn5, nd5,
        |  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), mn5, mx5 FROM w
        |ORDER BY col_name""".stripMargin,

    // generalized Fleiss: every p_i is one division of exact BIGINT
    // counts, the p_i mean folds ROUNDED values through an exact
    // DECIMAL(9,6) sum (order-independent), prevalence squares fold in
    // DECIMAL(38,0); single-vote items excluded from p_i AND prevalence
    "q54_rater_agreement" ->
      """WITH votes AS (
        |  SELECT user_id AS item, event_type AS label, COUNT(*) AS n
        |  FROM events WHERE event_type IS NOT NULL
        |  GROUP BY 1, 2
        |), wn AS (
        |  SELECT item, label, n,
        |    CAST(SUM(n) OVER (PARTITION BY item) AS BIGINT) AS ni
        |  FROM votes
        |), qual AS (
        |  SELECT * FROM wn WHERE ni >= 2
        |), per AS (
        |  SELECT item, MAX(ni) AS n_votes,
        |    CAST(SUM(n * (n - 1)) AS BIGINT) AS agree
        |  FROM qual GROUP BY 1
        |), peri AS (
        |  SELECT item, n_votes,
        |    round(CAST(agree AS DOUBLE)
        |      / CAST(n_votes * (n_votes - 1) AS DOUBLE), 6) AS p_i
        |  FROM per
        |), lab AS (
        |  SELECT label, CAST(SUM(n) AS BIGINT) AS tot FROM qual GROUP BY 1
        |), prev AS (
        |  SELECT CAST(SUM(tot) AS BIGINT) AS nn,
        |    SUM(CAST(tot AS DECIMAL(19,0)) * CAST(tot AS DECIMAL(19,0))) AS ssq
        |  FROM lab
        |), tot AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
        |    SUM(CAST(p_i AS DECIMAL(9,6))) AS sp
        |  FROM peri
        |), gl AS (
        |  SELECT n_items,
        |    round(CAST(sp AS DOUBLE) / CAST(n_items AS DOUBLE), 6) AS p_bar,
        |    round(CAST(ssq AS DOUBLE)
        |      / CAST(CAST(nn AS DECIMAL(19,0)) * CAST(nn AS DECIMAL(19,0))
        |          AS DOUBLE), 6) AS p_e
        |  FROM tot, prev
        |)
        |SELECT item AS user_id, n_votes, p_i, n_items, p_bar, p_e,
        |  CASE WHEN p_e = 1.0 THEN NULL
        |    ELSE round((p_bar - p_e) / (1.0 - p_e), 6) END AS kappa
        |FROM peri, gl
        |ORDER BY user_id""".stripMargin,

    // two type-7 histogram passes (median, then MAD over DECIMAL-
    // quantized deviations); z from exact integers/medians is
    // bit-identical IEEE arithmetic, the flag reads the ROUNDED z
    "q55_mad_outliers" ->
      """WITH v AS (
        |  SELECT event_type AS g, event_id AS id,
        |    CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL
        |), h1 AS (
        |  SELECT g, v, COUNT(*) AS c FROM v GROUP BY 1, 2
        |), r1 AS (
        |  SELECT g, v, c,
        |    CAST(SUM(c) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM h1
        |), t1 AS (
        |  SELECT g,
        |    CAST(floor(h) AS BIGINT) + 1 AS lo_r,
        |    least(CAST(floor(h) AS BIGINT) + 2, n) AS hi_r,
        |    h - floor(h) AS frac
        |  FROM (SELECT g, n, CAST(n - 1 AS DOUBLE) * 0.5 AS h
        |        FROM (SELECT DISTINCT g, n FROM r1))
        |), p1 AS (
        |  SELECT r1.g, frac,
        |    MAX(CASE WHEN lo_r > cum - c AND lo_r <= cum THEN v END) AS vlo,
        |    MAX(CASE WHEN hi_r > cum - c AND hi_r <= cum THEN v END) AS vhi
        |  FROM r1 JOIN t1 ON r1.g IS NOT DISTINCT FROM t1.g
        |    AND ((lo_r > cum - c AND lo_r <= cum)
        |      OR (hi_r > cum - c AND hi_r <= cum))
        |  GROUP BY 1, 2
        |), med AS (
        |  SELECT g, round(vlo + frac * (vhi - vlo), 6) AS med FROM p1
        |), d AS (
        |  SELECT v.g, v.id, v.v, med.med,
        |    CAST(CAST(abs(v.v - med.med) AS DECIMAL(12,2)) AS DOUBLE) AS dev
        |  FROM v JOIN med ON v.g IS NOT DISTINCT FROM med.g
        |), h2 AS (
        |  SELECT g, dev, COUNT(*) AS c FROM d GROUP BY 1, 2
        |), r2 AS (
        |  SELECT g, dev, c,
        |    CAST(SUM(c) OVER (PARTITION BY g ORDER BY dev) AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM h2
        |), t2 AS (
        |  SELECT g,
        |    CAST(floor(h) AS BIGINT) + 1 AS lo_r,
        |    least(CAST(floor(h) AS BIGINT) + 2, n) AS hi_r,
        |    h - floor(h) AS frac
        |  FROM (SELECT g, n, CAST(n - 1 AS DOUBLE) * 0.5 AS h
        |        FROM (SELECT DISTINCT g, n FROM r2))
        |), p2 AS (
        |  SELECT r2.g, frac,
        |    MAX(CASE WHEN lo_r > cum - c AND lo_r <= cum THEN dev END) AS vlo,
        |    MAX(CASE WHEN hi_r > cum - c AND hi_r <= cum THEN dev END) AS vhi
        |  FROM r2 JOIN t2 ON r2.g IS NOT DISTINCT FROM t2.g
        |    AND ((lo_r > cum - c AND lo_r <= cum)
        |      OR (hi_r > cum - c AND hi_r <= cum))
        |  GROUP BY 1, 2
        |), mad AS (
        |  SELECT g, round(vlo + frac * (vhi - vlo), 6) AS mad FROM p2
        |)
        |SELECT d.g AS event_type, d.id AS event_id, d.v AS value,
        |  d.med AS med, mad.mad AS mad,
        |  CASE WHEN mad.mad = 0 THEN NULL
        |    ELSE round(0.6745 * (d.v - d.med) / mad.mad, 6) END AS robust_z,
        |  CASE WHEN mad.mad = 0 THEN FALSE
        |    ELSE abs(round(0.6745 * (d.v - d.med) / mad.mad, 6)) > 3.5
        |    END AS is_outlier
        |FROM d JOIN mad ON d.g IS NOT DISTINCT FROM mad.g
        |ORDER BY event_type, event_id""".stripMargin,

    // reference-decile binning of both time halves; bin edges are the
    // q30 type-7 CTE, bin = Σ(v >= edge), PSI terms eps-floored at
    // 1e-6; ln differs ≤1 ulp across libm, invisible at 6dp
    "q56_psi_drift" ->
      """WITH base AS (
        |  SELECT event_type AS g, epoch_ns(ts) AS tsn,
        |    CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
        |), span AS (
        |  SELECT MIN(tsn) AS lo, MAX(tsn) AS hi FROM base
        |), sided AS (
        |  SELECT g, v,
        |    CASE WHEN tsn <= lo + ((hi - lo) // 2) THEN 'ref' ELSE 'cur'
        |      END AS side
        |  FROM base, span
        |), h AS (
        |  SELECT g, v, COUNT(*) AS c FROM sided WHERE side = 'ref'
        |  GROUP BY 1, 2
        |), r AS (
        |  SELECT g, v, c,
        |    CAST(SUM(c) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cum,
        |    CAST(SUM(c) OVER (PARTITION BY g) AS BIGINT) AS n
        |  FROM h
        |), t AS (
        |  SELECT g, q AS quantile, n,
        |    CAST(floor(CAST(n - 1 AS DOUBLE) * q) AS BIGINT) + 1 AS lo_r,
        |    least(CAST(floor(CAST(n - 1 AS DOUBLE) * q) AS BIGINT) + 2, n) AS hi_r,
        |    CAST(n - 1 AS DOUBLE) * q
        |      - floor(CAST(n - 1 AS DOUBLE) * q) AS frac
        |  FROM (SELECT DISTINCT g, n FROM r),
        |       (SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5,
        |                       0.6, 0.7, 0.8, 0.9]) AS q)
        |), p AS (
        |  SELECT r.g, quantile, frac,
        |    MAX(CASE WHEN lo_r > cum - c AND lo_r <= cum THEN v END) AS vlo,
        |    MAX(CASE WHEN hi_r > cum - c AND hi_r <= cum THEN v END) AS vhi
        |  FROM r JOIN t ON r.g IS NOT DISTINCT FROM t.g
        |    AND ((lo_r > cum - c AND lo_r <= cum)
        |      OR (hi_r > cum - c AND hi_r <= cum))
        |  GROUP BY 1, 2, 3
        |), qv AS (
        |  SELECT g, quantile, round(vlo + frac * (vhi - vlo), 6) AS value
        |  FROM p
        |), wideb AS (
        |  SELECT g,
        |    MAX(CASE WHEN quantile = 0.1 THEN value END) AS b0,
        |    MAX(CASE WHEN quantile = 0.2 THEN value END) AS b1,
        |    MAX(CASE WHEN quantile = 0.3 THEN value END) AS b2,
        |    MAX(CASE WHEN quantile = 0.4 THEN value END) AS b3,
        |    MAX(CASE WHEN quantile = 0.5 THEN value END) AS b4,
        |    MAX(CASE WHEN quantile = 0.6 THEN value END) AS b5,
        |    MAX(CASE WHEN quantile = 0.7 THEN value END) AS b6,
        |    MAX(CASE WHEN quantile = 0.8 THEN value END) AS b7,
        |    MAX(CASE WHEN quantile = 0.9 THEN value END) AS b8
        |  FROM qv GROUP BY g
        |), binned AS (
        |  SELECT s.g, s.side,
        |    (CASE WHEN v >= b0 THEN 1 ELSE 0 END)
        |    + (CASE WHEN v >= b1 THEN 1 ELSE 0 END)
        |    + (CASE WHEN v >= b2 THEN 1 ELSE 0 END)
        |    + (CASE WHEN v >= b3 THEN 1 ELSE 0 END)
        |    + (CASE WHEN v >= b4 THEN 1 ELSE 0 END)
        |    + (CASE WHEN v >= b5 THEN 1 ELSE 0 END)
        |    + (CASE WHEN v >= b6 THEN 1 ELSE 0 END)
        |    + (CASE WHEN v >= b7 THEN 1 ELSE 0 END)
        |    + (CASE WHEN v >= b8 THEN 1 ELSE 0 END) AS bin
        |  FROM sided s JOIN wideb ON s.g IS NOT DISTINCT FROM wideb.g
        |), counts AS (
        |  SELECT g, bin,
        |    CAST(SUM(CASE WHEN side = 'ref' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_ref,
        |    CAST(SUM(CASE WHEN side = 'cur' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_cur
        |  FROM binned GROUP BY 1, 2
        |), tot AS (
        |  SELECT g, bin, n_ref, n_cur,
        |    CAST(SUM(n_ref) OVER (PARTITION BY g) AS BIGINT) AS nr,
        |    CAST(SUM(n_cur) OVER (PARTITION BY g) AS BIGINT) AS nc
        |  FROM counts
        |), terms AS (
        |  SELECT g, bin, n_ref, n_cur,
        |    CAST(n_ref AS DOUBLE) / CAST(nr AS DOUBLE) AS pr,
        |    CAST(n_cur AS DOUBLE) / CAST(nc AS DOUBLE) AS pc
        |  FROM tot WHERE nc > 0
        |), terms2 AS (
        |  SELECT g, bin, n_ref, n_cur, pr, pc,
        |    (greatest(pc, 1e-06) - greatest(pr, 1e-06))
        |      * ln(greatest(pc, 1e-06) / greatest(pr, 1e-06)) AS pterm,
        |    abs(pc - pr) AS dterm
        |  FROM terms
        |)
        |SELECT g AS event_type, bin, n_ref, n_cur,
        |  round(pr, 6) AS p_ref, round(pc, 6) AS p_cur,
        |  round(pterm, 6) AS psi_term,
        |  round(SUM(pterm) OVER (PARTITION BY g), 6) AS psi,
        |  round(0.5 * SUM(dterm) OVER (PARTITION BY g), 6) AS tvd
        |FROM terms2 ORDER BY event_type, bin""".stripMargin,

    // the q41 anchored-DECIMAL discipline over all N(N+1)/2 pairs:
    // exact sums, DECIMAL-quantized mean anchors, exact deviation
    // products; listwise null deletion so every pair shares one n
    "q57_corr_matrix" ->
      """WITH v AS (
        |  SELECT l_returnflag AS g,
        |    CAST(l_quantity AS DECIMAL(12,2)) AS v0,
        |    CAST(l_extendedprice AS DECIMAL(12,2)) AS v1,
        |    CAST(l_discount AS DECIMAL(12,2)) AS v2
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_discount IS NOT NULL
        |), a AS (
        |  SELECT g, COUNT(*) AS n,
        |    CAST(SUM(v0) AS DOUBLE) AS s0,
        |    CAST(SUM(v1) AS DOUBLE) AS s1,
        |    CAST(SUM(v2) AS DOUBLE) AS s2
        |  FROM v GROUP BY g
        |), a2 AS (
        |  SELECT g, n, s0, s1, s2,
        |    CAST(s0 / n AS DECIMAL(12,2)) AS m0,
        |    CAST(s1 / n AS DECIMAL(12,2)) AS m1,
        |    CAST(s2 / n AS DECIMAL(12,2)) AS m2
        |  FROM a
        |), sp AS (
        |  SELECT v.g,
        |    CAST(SUM(CAST((v0 - m0) * 100 AS DECIMAL(19,0))
        |           * CAST((v0 - m0) * 100 AS DECIMAL(19,0))) AS DOUBLE) AS sp00,
        |    CAST(SUM(CAST((v0 - m0) * 100 AS DECIMAL(19,0))
        |           * CAST((v1 - m1) * 100 AS DECIMAL(19,0))) AS DOUBLE) AS sp01,
        |    CAST(SUM(CAST((v0 - m0) * 100 AS DECIMAL(19,0))
        |           * CAST((v2 - m2) * 100 AS DECIMAL(19,0))) AS DOUBLE) AS sp02,
        |    CAST(SUM(CAST((v1 - m1) * 100 AS DECIMAL(19,0))
        |           * CAST((v1 - m1) * 100 AS DECIMAL(19,0))) AS DOUBLE) AS sp11,
        |    CAST(SUM(CAST((v1 - m1) * 100 AS DECIMAL(19,0))
        |           * CAST((v2 - m2) * 100 AS DECIMAL(19,0))) AS DOUBLE) AS sp12,
        |    CAST(SUM(CAST((v2 - m2) * 100 AS DECIMAL(19,0))
        |           * CAST((v2 - m2) * 100 AS DECIMAL(19,0))) AS DOUBLE) AS sp22
        |  FROM v JOIN a2 ON v.g IS NOT DISTINCT FROM a2.g
        |  GROUP BY v.g
        |), dd AS (
        |  SELECT a2.g, n,
        |    s0 / n - CAST(m0 AS DOUBLE) AS d0,
        |    s1 / n - CAST(m1 AS DOUBLE) AS d1,
        |    s2 / n - CAST(m2 AS DOUBLE) AS d2,
        |    sp00, sp01, sp02, sp11, sp12, sp22
        |  FROM a2 JOIN sp ON a2.g IS NOT DISTINCT FROM sp.g
        |), c AS (
        |  SELECT g, n,
        |    sp00 / 10000.0 / n - d0 * d0 AS c00,
        |    sp01 / 10000.0 / n - d0 * d1 AS c01,
        |    sp02 / 10000.0 / n - d0 * d2 AS c02,
        |    sp11 / 10000.0 / n - d1 * d1 AS c11,
        |    sp12 / 10000.0 / n - d1 * d2 AS c12,
        |    sp22 / 10000.0 / n - d2 * d2 AS c22
        |  FROM dd
        |)
        |SELECT g AS l_returnflag, col_x, col_y, n,
        |  round(cv, 6) AS cov,
        |  CASE WHEN cxx > 0 AND cyy > 0
        |    THEN round(cv / sqrt(cxx * cyy), 6) END AS corr
        |FROM (
        |  SELECT g, 'l_quantity' AS col_x, 'l_quantity' AS col_y, n,
        |    c00 AS cv, c00 AS cxx, c00 AS cyy FROM c
        |  UNION ALL SELECT g, 'l_quantity', 'l_extendedprice', n,
        |    c01, c00, c11 FROM c
        |  UNION ALL SELECT g, 'l_quantity', 'l_discount', n,
        |    c02, c00, c22 FROM c
        |  UNION ALL SELECT g, 'l_extendedprice', 'l_extendedprice', n,
        |    c11, c11, c11 FROM c
        |  UNION ALL SELECT g, 'l_extendedprice', 'l_discount', n,
        |    c12, c11, c22 FROM c
        |  UNION ALL SELECT g, 'l_discount', 'l_discount', n,
        |    c22, c22, c22 FROM c
        |)
        |ORDER BY l_returnflag, col_x, col_y""".stripMargin,

    // exact BIGINT counts; one-division share, spelled-order skew
    // product, exact ceil-division salt; ties break on the key string
    "q58_skew_profile" ->
      """WITH c AS (
        |  SELECT CAST(l_orderkey AS VARCHAR) AS key, COUNT(*) AS n
        |  FROM lineitem GROUP BY 1
        |), t AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS total,
        |    CAST(COUNT(*) AS BIGINT) AS nkeys
        |  FROM c
        |), top AS (
        |  SELECT key, CAST(n AS BIGINT) AS n
        |  FROM c ORDER BY n DESC, key ASC NULLS FIRST LIMIT 20
        |)
        |SELECT key, n,
        |  CAST(row_number() OVER (ORDER BY n DESC, key ASC NULLS FIRST)
        |    AS INTEGER) AS rank,
        |  round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share,
        |  round(CAST(n AS DOUBLE) / CAST(total AS DOUBLE)
        |    * CAST(nkeys AS DOUBLE), 6) AS skew,
        |  CAST((n * 32 + total - 1) // total AS BIGINT) AS min_salt
        |FROM top, t ORDER BY rank""".stripMargin,

    // integer cell counts off the span split; expected counts in the
    // spelled IEEE order; the statistic folds ROUNDED contributions
    // through an exact DECIMAL sum (the q54 discipline)
    "q59_chi2_drift" ->
      """WITH base AS (
        |  SELECT event_type AS category, epoch_ns(ts) AS tsn
        |  FROM events WHERE ts IS NOT NULL
        |), span AS (
        |  SELECT MIN(tsn) AS lo, MAX(tsn) AS hi FROM base
        |), counts AS (
        |  SELECT category,
        |    CAST(SUM(CASE WHEN tsn <= lo + ((hi - lo) // 2)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        |    CAST(SUM(CASE WHEN tsn > lo + ((hi - lo) // 2)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
        |  FROM base, span GROUP BY 1
        |), t AS (
        |  SELECT CAST(SUM(n_ref) AS BIGINT) AS nr,
        |    CAST(SUM(n_cur) AS BIGINT) AS nc,
        |    CAST(COUNT(*) AS BIGINT) AS k
        |  FROM counts
        |), cells AS (
        |  SELECT category, n_ref, n_cur, k,
        |    CAST(n_ref + n_cur AS DOUBLE) * CAST(nr AS DOUBLE)
        |      / CAST(nr + nc AS DOUBLE) AS e_ref,
        |    CAST(n_ref + n_cur AS DOUBLE) * CAST(nc AS DOUBLE)
        |      / CAST(nr + nc AS DOUBLE) AS e_cur
        |  FROM counts, t WHERE nr > 0 AND nc > 0
        |), cc AS (
        |  SELECT category, n_ref, n_cur, e_ref, e_cur, k,
        |    round((CAST(n_ref AS DOUBLE) - e_ref)
        |        * (CAST(n_ref AS DOUBLE) - e_ref) / e_ref
        |      + (CAST(n_cur AS DOUBLE) - e_cur)
        |        * (CAST(n_cur AS DOUBLE) - e_cur) / e_cur, 6) AS contrib
        |  FROM cells
        |)
        |SELECT category, n_ref, n_cur,
        |  round(e_ref, 6) AS e_ref, round(e_cur, 6) AS e_cur, contrib,
        |  round(CAST(SUM(CAST(contrib AS DECIMAL(18,6))) OVER ()
        |    AS DOUBLE), 6) AS chi2,
        |  CAST(k - 1 AS BIGINT) AS dof
        |FROM cc ORDER BY category""".stripMargin,

    // distinct-value histogram ECDFs as single divisions of exact
    // BIGINT cumulative counts; argmax by (diff desc, value asc)
    "q60_ks_test" ->
      """WITH base AS (
        |  SELECT event_type AS g, epoch_ns(ts) AS tsn,
        |    CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
        |), span AS (
        |  SELECT MIN(tsn) AS lo, MAX(tsn) AS hi FROM base
        |), h AS (
        |  SELECT g, v,
        |    CAST(SUM(CASE WHEN tsn <= lo + ((hi - lo) // 2)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS cr,
        |    CAST(SUM(CASE WHEN tsn > lo + ((hi - lo) // 2)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS cx
        |  FROM base, span GROUP BY 1, 2
        |), d AS (
        |  SELECT g, v,
        |    CAST(SUM(cr) OVER (PARTITION BY g) AS BIGINT) AS nr,
        |    CAST(SUM(cx) OVER (PARTITION BY g) AS BIGINT) AS nc,
        |    abs(CAST(SUM(cr) OVER (PARTITION BY g ORDER BY v) AS DOUBLE)
        |          / CAST(SUM(cr) OVER (PARTITION BY g) AS DOUBLE)
        |      - CAST(SUM(cx) OVER (PARTITION BY g ORDER BY v) AS DOUBLE)
        |          / CAST(SUM(cx) OVER (PARTITION BY g) AS DOUBLE)) AS diff
        |  FROM h
        |), r AS (
        |  SELECT g, v, nr, nc, diff,
        |    row_number() OVER (PARTITION BY g ORDER BY diff DESC, v ASC)
        |      AS rk
        |  FROM d WHERE nr > 0 AND nc > 0
        |)
        |SELECT g AS event_type, nr AS n_ref, nc AS n_cur,
        |  round(diff, 6) AS ks, v AS ks_at
        |FROM r WHERE rk = 1 ORDER BY event_type""".stripMargin,

    // first significant digit from the scale-2 decimal STRING (both
    // engines render it identically); completed digit grid; ln-based
    // expectations; MAD folds ROUNDED deviations through DECIMAL
    "q61_benford" ->
      """WITH digits AS (
        |  SELECT l_returnflag AS g,
        |    CAST(coalesce(regexp_extract(CAST(TRY_CAST(l_extendedprice
        |      AS DECIMAL(24,2)) AS VARCHAR), '[1-9]', 0), '') AS VARCHAR)
        |      AS ds
        |  FROM lineitem
        |), dd AS (
        |  SELECT g, CAST(ds AS INTEGER) AS digit FROM digits WHERE ds != ''
        |), c AS (
        |  SELECT g, digit, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM dd GROUP BY 1, 2
        |), grid AS (
        |  SELECT g, d AS digit
        |  FROM (SELECT DISTINCT g FROM c),
        |       (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS d)
        |), f AS (
        |  SELECT grid.g, grid.digit, COALESCE(n, CAST(0 AS BIGINT)) AS n
        |  FROM grid LEFT JOIN c ON grid.g = c.g AND grid.digit = c.digit
        |), p AS (
        |  SELECT g, digit, n,
        |    CAST(n AS DOUBLE)
        |      / CAST(SUM(n) OVER (PARTITION BY g) AS DOUBLE) AS pobs,
        |    ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) AS pexp
        |  FROM f
        |), pd AS (
        |  SELECT g, digit, n, pobs, pexp,
        |    round(abs(pobs - pexp), 6) AS dev
        |  FROM p
        |), m AS (
        |  SELECT g, digit, n, pobs, pexp, dev,
        |    round(CAST(SUM(CAST(dev AS DECIMAL(18,6)))
        |      OVER (PARTITION BY g) AS DOUBLE) / 9.0, 6) AS mad
        |  FROM pd
        |)
        |SELECT g AS l_returnflag, digit, n,
        |  round(pobs, 6) AS p_obs, round(pexp, 6) AS p_exp, dev, mad,
        |  CASE WHEN mad < 0.006 THEN 'close'
        |       WHEN mad < 0.012 THEN 'acceptable'
        |       WHEN mad < 0.015 THEN 'marginal'
        |       ELSE 'nonconforming' END AS verdict
        |FROM m ORDER BY l_returnflag, digit""".stripMargin,

    // RE2-portable counts (sentence/word/vowel-group runs) and the
    // Flesch linear form; the band cuts on the ROUNDED score
    "t20_readability" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    greatest(CAST(len(regexp_extract_all(text, '[.!?]+'))
        |      AS BIGINT), 1) AS n_sentences,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+'))
        |      AS BIGINT) AS n_words,
        |    CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
        |      AS BIGINT) AS n_syllables
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, n_sentences, n_words, n_syllables,
        |    CASE WHEN n_words = 0 THEN NULL
        |      ELSE round(206.835
        |        - 1.015 * (CAST(n_words AS DOUBLE)
        |          / CAST(n_sentences AS DOUBLE))
        |        - 84.6 * (CAST(n_syllables AS DOUBLE)
        |          / CAST(n_words AS DOUBLE)), 6)
        |      END AS flesch
        |  FROM c
        |)
        |SELECT doc_id, n_sentences, n_words, n_syllables, flesch,
        |  CASE WHEN flesch IS NULL THEN 'empty'
        |    WHEN flesch >= 60.0 THEN 'easy'
        |    WHEN flesch >= 30.0 THEN 'standard'
        |    ELSE 'difficult' END AS band
        |FROM f ORDER BY doc_id""".stripMargin,

    // replace-arithmetic line counts (regex \n so string-literal rules
    // never matter), RE2-portable signal counts, fixed-weight score;
    // the flag cuts on the ROUNDED score
    "t21_code_detect" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(text) AS BIGINT) AS n_chars,
        |    1 + CAST(len(text) AS BIGINT)
        |      - CAST(len(regexp_replace(text, '\n', '', 'g')) AS BIGINT)
        |      AS n_lines,
        |    CAST(len(regexp_extract_all(text, '[{}();=<>]')) AS BIGINT)
        |      AS punct_hits,
        |    CAST(len(regexp_extract_all(text,
        |      'def |function |return |import |class |void |#include |const '))
        |      AS BIGINT) AS kw_hits,
        |    (CAST(len(text) AS BIGINT)
        |      - CAST(len(regexp_replace(text, '\n  ', '', 'g')) AS BIGINT)) // 3
        |    + (CAST(len(text) AS BIGINT)
        |      - CAST(len(regexp_replace(text, '\n\t', '', 'g')) AS BIGINT)) // 2
        |      AS indent_lines,
        |    CAST(len(text) AS BIGINT)
        |      - CAST(len(regexp_replace(text, ';', '', 'g')) AS BIGINT)
        |      AS semi_hits
        |  FROM documents
        |), f AS (
        |  SELECT doc_id, n_lines, punct_hits, kw_hits, indent_lines,
        |    semi_hits,
        |    CASE WHEN n_chars = 0 THEN NULL
        |      ELSE round(
        |        10.0 * (CAST(punct_hits AS DOUBLE) / CAST(n_chars AS DOUBLE))
        |        + 10.0 * (CAST(kw_hits AS DOUBLE) / CAST(n_chars AS DOUBLE))
        |        + 5.0 * (CAST(indent_lines AS DOUBLE) / CAST(n_lines AS DOUBLE))
        |        + 5.0 * (CAST(semi_hits AS DOUBLE) / CAST(n_chars AS DOUBLE)),
        |        6)
        |      END AS code_score
        |  FROM c
        |)
        |SELECT doc_id, n_lines, punct_hits, kw_hits, indent_lines,
        |  semi_hits, code_score,
        |  CASE WHEN code_score IS NULL THEN FALSE
        |    ELSE code_score > 0.05 END AS is_code
        |FROM f ORDER BY doc_id""".stripMargin,




    // quantized pseudo-probability, exact integer bins, decimal conf
    // fold, DECIMAL ECE fold of rounded per-bin terms
    "q68_calibration" ->
      """WITH base AS (
        |  SELECT source AS g,
        |    CAST(CAST(CAST(doc_id % 100 AS DOUBLE) / 100.0
        |      AS DECIMAL(12,2)) AS DOUBLE) AS s,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents
        |), binned AS (
        |  SELECT g, s, y,
        |    least(CAST(floor(s * 10.0) AS INTEGER), 9) AS bin
        |  FROM base WHERE s >= 0.0 AND s <= 1.0
        |), cells AS (
        |  SELECT g, bin, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(y) AS BIGINT) AS n_pos,
        |    SUM(CAST(s AS DECIMAL(12,2))) AS ssum
        |  FROM binned GROUP BY 1, 2
        |), w AS (
        |  SELECT g, bin, n, n_pos,
        |    CAST(SUM(n) OVER (PARTITION BY g) AS BIGINT) AS tot,
        |    round(CAST(ssum AS DOUBLE) / CAST(n AS DOUBLE), 6) AS conf,
        |    round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS acc
        |  FROM cells
        |), t AS (
        |  SELECT g, bin, n, n_pos, conf, acc,
        |    round(abs(acc - conf), 6) AS gap,
        |    round(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)
        |      * abs(acc - conf), 6) AS term
        |  FROM w
        |)
        |SELECT g AS source, bin, n, n_pos, conf, acc, gap,
        |  round(CAST(SUM(CAST(term AS DECIMAL(18,6)))
        |    OVER (PARTITION BY g) AS DOUBLE), 6) AS ece
        |FROM t ORDER BY source, bin""".stripMargin,

    // quantized-score threshold, four exact cells from one agg,
    // spelled metric expressions with null-not-NaN denominators
    "q69_confusion" ->
      """WITH base AS (
        |  SELECT source AS g,
        |    CAST(CAST(n_chars AS DECIMAL(12,2)) AS DOUBLE) >= 300.0 AS p,
        |    lang = 'en' AS y
        |  FROM documents WHERE n_chars IS NOT NULL
        |), cells AS (
        |  SELECT g,
        |    CAST(SUM(CASE WHEN p AND coalesce(y, FALSE) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN p AND NOT coalesce(y, FALSE) THEN 1 ELSE 0
        |      END) AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN NOT p AND coalesce(y, FALSE) THEN 1 ELSE 0
        |      END) AS BIGINT) AS fn,
        |    CAST(SUM(CASE WHEN NOT p AND NOT coalesce(y, FALSE) THEN 1
        |      ELSE 0 END) AS BIGINT) AS tn
        |  FROM base GROUP BY g
        |), m AS (
        |  SELECT g, tp, fp, fn, tn,
        |    CASE WHEN tp + fp = 0 THEN NULL ELSE
        |      round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6)
        |    END AS "precision",
        |    CASE WHEN tp + fn = 0 THEN NULL ELSE
        |      round(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6)
        |    END AS recall
        |  FROM cells
        |)
        |SELECT g AS source, tp, fp, fn, tn, "precision", recall,
        |  CASE WHEN "precision" IS NULL OR recall IS NULL
        |    OR "precision" + recall = 0.0 THEN NULL ELSE
        |    round(2.0 * "precision" * recall / ("precision" + recall), 6)
        |  END AS f1,
        |  round(CAST(tp + tn AS DOUBLE)
        |    / CAST(tp + fp + fn + tn AS DOUBLE), 6) AS accuracy
        |FROM m ORDER BY source""".stripMargin,

    // the score histogram + exact integer double-midranks; the rank
    // mass folds in DECIMAL(38,0); one spelled IEEE AUC expression
    "q67_auc" ->
      """WITH h AS (
        |  SELECT source AS g,
        |    CAST(CAST(n_chars AS DECIMAL(12,2)) AS DOUBLE) AS s,
        |    CAST(COUNT(*) AS BIGINT) AS c,
        |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS pos
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2
        |), r AS (
        |  SELECT g, s, c, pos,
        |    CAST(2 * SUM(c) OVER (PARTITION BY g ORDER BY s) - c + 1
        |      AS BIGINT) AS mr2
        |  FROM h
        |), a AS (
        |  SELECT g, CAST(SUM(pos) AS BIGINT) AS n_pos,
        |    CAST(SUM(c) - SUM(pos) AS BIGINT) AS n_neg,
        |    SUM(CAST(mr2 AS DECIMAL(38,0)) * pos) AS s2
        |  FROM r GROUP BY g
        |)
        |SELECT g AS source, n_pos, n_neg,
        |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL ELSE
        |    round((CAST(s2 AS DOUBLE) / 2.0
        |      - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1.0) / 2.0)
        |      / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
        |  END AS auc
        |FROM a ORDER BY source""".stripMargin,

    // per-unit conversion collapse + integer arm counts; z from four
    // BIGINTs through one spelled IEEE expression (sqrt is correctly
    // rounded by IEEE 754); the verdict cuts on the ROUNDED z
    "q66_ab_test" ->
      """WITH units AS (
        |  SELECT 'arm' || CAST(user_id % 3 AS VARCHAR) AS v, user_id AS u,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1, 2
        |), arms AS (
        |  SELECT v, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(conv) AS BIGINT) AS k
        |  FROM units GROUP BY 1
        |), paired AS (
        |  SELECT a.v AS variant_a, b.v AS variant_b,
        |    a.n AS n_a, b.n AS n_b, a.k AS conv_a, b.k AS conv_b,
        |    CAST(a.k AS DOUBLE) / CAST(a.n AS DOUBLE) AS ra,
        |    CAST(b.k AS DOUBLE) / CAST(b.n AS DOUBLE) AS rb,
        |    CAST(a.k + b.k AS DOUBLE) / CAST(a.n + b.n AS DOUBLE) AS p
        |  FROM arms a JOIN arms b ON a.v < b.v
        |), zed AS (
        |  SELECT variant_a, variant_b, n_a, n_b, conv_a, conv_b, ra, rb,
        |    CASE WHEN p = 0.0 OR p = 1.0 THEN NULL ELSE
        |      round((ra - rb) / sqrt(p * (1.0 - p)
        |        * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6)
        |    END AS z
        |  FROM paired
        |)
        |SELECT variant_a, variant_b, n_a, n_b, conv_a, conv_b,
        |  round(ra, 6) AS rate_a, round(rb, 6) AS rate_b, z,
        |  CASE WHEN z IS NULL THEN FALSE ELSE abs(z) > 1.959964 END
        |    AS significant
        |FROM zed ORDER BY variant_a, variant_b""".stripMargin,

    // exact ns ages off the broadcast max ts; the weight quantizes to
    // DECIMAL(8,6) after one spelled exp(), then every fold is exact
    "q64_decay_agg" ->
      """WITH base AS (
        |  SELECT event_type AS k, epoch_ns(ts) AS tsn,
        |    CAST(value AS DECIMAL(12,2)) AS v
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
        |), now_ts AS (
        |  SELECT MAX(tsn) AS now_ns FROM base
        |), weighted AS (
        |  SELECT k, v,
        |    CAST(round(exp(ln(0.5) * (CAST(now_ns - tsn AS DOUBLE)
        |      / 604800000000000.0)), 6) AS DECIMAL(8,6)) AS w
        |  FROM base, now_ts
        |), agg AS (
        |  SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
        |    SUM(CAST(w * 1000000 AS DECIMAL(19,0))) AS wsum_u,
        |    SUM(CAST(v * 100 AS DECIMAL(19,0))
        |      * CAST(w * 1000000 AS DECIMAL(19,0))) AS dsum_u
        |  FROM weighted GROUP BY k
        |)
        |SELECT k AS event_type, n,
        |  round(CAST(wsum_u AS DOUBLE) / 1e6, 6) AS w_mass,
        |  round(CAST(dsum_u AS DOUBLE) / 1e8, 6) AS decayed_sum,
        |  CASE WHEN wsum_u = 0 THEN NULL ELSE
        |    round((CAST(dsum_u AS DOUBLE) / 1e8)
        |      / (CAST(wsum_u AS DOUBLE) / 1e6), 6) END AS decayed_avg
        |FROM agg ORDER BY event_type""".stripMargin,

    // the q13 session CTE + an ORDER BY string_agg twin of the in-row
    // struct sort; integer counts, (n desc, path) rounded ranking
    "q62_top_paths" ->
      """WITH gapped AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    epoch_ns(ts) - LAG(epoch_ns(ts)) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS gap_ns
        |  FROM events WHERE ts IS NOT NULL
        |), flagged AS (
        |  SELECT *, CAST(SUM(CASE WHEN gap_ns IS NULL
        |      OR gap_ns > 1800000000000 THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_id
        |  FROM gapped
        |), p AS (
        |  SELECT user_id, session_id,
        |    string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
        |    CAST(COUNT(*) AS BIGINT) AS n_steps
        |  FROM flagged GROUP BY 1, 2
        |), c AS (
        |  SELECT path, n_steps, CAST(COUNT(*) AS BIGINT) AS n_sessions
        |  FROM p GROUP BY 1, 2
        |), top AS (
        |  SELECT * FROM c ORDER BY n_sessions DESC, path ASC LIMIT 20
        |)
        |SELECT path, n_steps, n_sessions,
        |  CAST(row_number() OVER (ORDER BY n_sessions DESC, path ASC)
        |    AS INTEGER) AS rank
        |FROM top ORDER BY rank""".stripMargin,

    // every expectation is one conditional count off ONE scan; the
    // concat-canon distinct restates multi-column uniqueness; a NULL
    // predicate row counts as a violation on both engines
    "q63_expectations" ->
      """WITH w AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS total,
        |    CAST(SUM(CASE WHEN o_orderkey IS NOT NULL THEN 0 ELSE 1 END)
        |      AS BIGINT) AS v_oknn,
        |    CAST(SUM(CASE WHEN o_orderstatus IN ('O','F','P')
        |      THEN 0 ELSE 1 END) AS BIGINT) AS v_dom,
        |    CAST(SUM(CASE WHEN o_totalprice >= 0.0
        |      AND o_totalprice <= 300000.0 THEN 0 ELSE 1 END) AS BIGINT)
        |      AS v_rng,
        |    CAST(SUM(CASE WHEN o_orderkey IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_ok,
        |    CAST(COUNT(DISTINCT CASE WHEN o_orderkey IS NOT NULL
        |      THEN CAST(o_orderkey AS VARCHAR) END) AS BIGINT) AS d_ok,
        |    CAST(SUM(CASE WHEN o_custkey IS NOT NULL
        |      AND o_orderdate IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_cd,
        |    CAST(COUNT(DISTINCT CASE WHEN o_custkey IS NOT NULL
        |      AND o_orderdate IS NOT NULL THEN CAST(o_custkey AS VARCHAR)
        |        || chr(1) || CAST(o_orderdate AS VARCHAR) END) AS BIGINT)
        |      AS d_cd
        |  FROM orders
        |)
        |SELECT "check", kind, n_rows, n_violations,
        |  n_violations = 0 AS pass,
        |  CASE WHEN n_rows = 0 THEN 0.0 ELSE
        |    round(CAST(n_violations AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
        |  END AS violation_rate
        |FROM (
        |  SELECT 'orderkey_non_null' AS "check", 'predicate' AS kind,
        |    total AS n_rows, v_oknn AS n_violations FROM w
        |  UNION ALL SELECT 'status_in_domain', 'predicate', total, v_dom
        |    FROM w
        |  UNION ALL SELECT 'price_in_range', 'predicate', total, v_rng
        |    FROM w
        |  UNION ALL SELECT 'orderkey_unique', 'unique', n_ok, n_ok - d_ok
        |    FROM w
        |  UNION ALL SELECT 'cust_date_unique', 'unique', n_cd, n_cd - d_cd
        |    FROM w
        |) ORDER BY "check"""".stripMargin,

    // one-pass token construction (unigrams + positional bigrams),
    // integer counts, the fixed-order PMI ratio, rounded-then-ranked
    "t22_collocations" ->
      """WITH w AS (
        |  SELECT list_filter(string_split(text, ' '), x -> x != '') AS ws
        |  FROM documents
        |), u0 AS (
        |  SELECT unnest(ws) AS wd FROM w
        |), uni AS (
        |  SELECT wd, CAST(COUNT(*) AS BIGINT) AS cw FROM u0 GROUP BY 1
        |), nu AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_uni FROM u0
        |), b0 AS (
        |  SELECT unnest(list_transform(range(1, len(ws)),
        |    i -> [ws[i], ws[i+1]])) AS p
        |  FROM w
        |), nb AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_bi FROM b0
        |), bi AS (
        |  SELECT p[1] AS l, p[2] AS r, CAST(COUNT(*) AS BIGINT) AS n_pair
        |  FROM b0 GROUP BY 1, 2 HAVING COUNT(*) >= 5
        |), scored AS (
        |  SELECT bi.l, bi.r, n_pair, ul.cw AS n_left, ur.cw AS n_right,
        |    round(ln((CAST(n_pair AS DOUBLE) / CAST(n_bi AS DOUBLE))
        |      / ((CAST(ul.cw AS DOUBLE) / CAST(n_uni AS DOUBLE))
        |        * (CAST(ur.cw AS DOUBLE) / CAST(n_uni AS DOUBLE)))), 6)
        |      AS pmi
        |  FROM bi JOIN uni ul ON bi.l = ul.wd
        |    JOIN uni ur ON bi.r = ur.wd, nu, nb
        |), top AS (
        |  SELECT * FROM scored ORDER BY pmi DESC, l ASC, r ASC LIMIT 50
        |)
        |SELECT l || ' ' || r AS bigram, n_pair, n_left, n_right, pmi,
        |  CAST(row_number() OVER (ORDER BY pmi DESC, l ASC, r ASC)
        |    AS INTEGER) AS rank
        |FROM top ORDER BY rank""".stripMargin,

    // the media table's payload IS the document's UTF-8 bytes and the
    // type is a doc_id round-robin, so the byte-level dedup restates
    // exactly (md5 of the same bytes, strlen = byte length in DuckDB)
    "m04_media_dedup" ->
      """SELECT
        |  CASE doc_id % 3 WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'audio/wav'
        |    ELSE 'video/mp4' END AS media_type,
        |  md5(text) AS payload_md5,
        |  CAST(strlen(text) AS BIGINT) AS n_bytes,
        |  MIN(doc_id) AS keep_doc_id,
        |  COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY 1, 2, 3
        |ORDER BY media_type, payload_md5""".stripMargin,

    // the m06 fixture payload is a deterministic hex construction over
    // documents (real PNG/JPEG/GIF header structure around the doc
    // text), so the oracle REBUILDS the identical blob hex and then
    // RE-PARSES it with independent byte reads: fixed-offset substr +
    // ('0x'||…)::INT for PNG/GIF, a recursive-CTE marker walk for the
    // JPEG SOF scan — format, dims, bucket, and the malformed-row null
    // contract all cross-engine checked value-for-value
    "m06_media_header" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(160 + (doc_id * 7) % 1280 AS INT) AS w,
        |    CAST(120 + (doc_id * 13) % 720 AS INT) AS h,
        |    CAST((doc_id % 23) + 1 AS INT) AS cl,
        |    hex(substr(text, 1, 32)) AS body
        |  FROM documents
        |), built AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3
        |      WHEN 0 THEN '89504E470D0A1A0A' || '0000000D' || '49484452'
        |        || printf('%08X', w) || printf('%08X', h)
        |        || '0806000000' || 'DEADBEEF' || body
        |      WHEN 1 THEN 'FFD8' || 'FFE0' || '0010' || '4A46494600' || '0101' || '00'
        |        || '0001' || '0001' || '00' || '00'
        |        || 'FFFE' || printf('%04X', cl + 2) || repeat('41', cl)
        |        || 'FFC0' || '0011' || '08' || printf('%04X', h) || printf('%04X', w)
        |        || '03' || '012200' || '021101' || '031101' || body
        |      ELSE '474946383961'
        |        || substr(printf('%04X', w), 3, 2) || substr(printf('%04X', w), 1, 2)
        |        || substr(printf('%04X', h), 3, 2) || substr(printf('%04X', h), 1, 2)
        |        || 'F70000' || body
        |    END AS full_hex
        |  FROM d
        |), hx AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 17 = 0 THEN substr(full_hex, 1, 10)
        |         WHEN doc_id % 13 = 0 THEN '00' || substr(full_hex, 3)
        |         WHEN doc_id % 19 = 0 AND doc_id % 3 = 1
        |           THEN substr(full_hex, 1, 40) || 'FF00' || substr(full_hex, 41)
        |         ELSE full_hex END AS hx
        |  FROM built
        |), fmt AS (
        |  SELECT doc_id, hx,
        |    CASE WHEN substr(hx, 1, 16) = '89504E470D0A1A0A' THEN 'png'
        |         WHEN substr(hx, 1, 4) = 'FFD8' THEN 'jpeg'
        |         WHEN substr(hx, 1, 12) IN ('474946383761', '474946383961') THEN 'gif'
        |    END AS format
        |  FROM hx
        |), jwalk AS (
        |  -- mirrors MediaHeader.dims' JPEG walk byte-for-byte: marker 00
        |  -- (byte stuffing outside entropy data = corrupt) STOPS the walk,
        |  -- 01/D0-D8 are standalone (advance 2, no length), FF is fill
        |  -- (advance 1); everything else is a lengthed segment. iter cap
        |  -- 255 = MaxSegments 256 iterations, of which the last may read
        |  -- the SOF but not advance.
        |  WITH RECURSIVE seg AS (
        |    SELECT doc_id, hx, 2 AS pos, 0 AS iter
        |    FROM fmt WHERE format = 'jpeg'
        |    UNION ALL
        |    SELECT doc_id, hx,
        |      pos + CASE WHEN substr(hx, pos * 2 + 3, 2) = 'FF' THEN 1
        |                 WHEN substr(hx, pos * 2 + 3, 2) = '01'
        |                   OR substr(hx, pos * 2 + 3, 2) BETWEEN 'D0' AND 'D8' THEN 2
        |                 ELSE 2 + CAST(('0x' || substr(hx, (pos + 2) * 2 + 1, 4)) AS INT)
        |            END, iter + 1
        |    FROM seg
        |    WHERE iter < 255
        |      AND len(hx) >= (pos + 2) * 2
        |      AND substr(hx, pos * 2 + 1, 2) = 'FF'
        |      AND substr(hx, pos * 2 + 3, 2) NOT IN
        |        ('C0','C1','C2','C3','C5','C6','C7','C9','CA','CB','CD','CE','CF',
        |         'DA','D9','00')
        |      AND (substr(hx, pos * 2 + 3, 2) = 'FF'
        |        OR substr(hx, pos * 2 + 3, 2) = '01'
        |        OR substr(hx, pos * 2 + 3, 2) BETWEEN 'D0' AND 'D8'
        |        OR (len(hx) >= (pos + 4) * 2
        |          AND CAST(('0x' || substr(hx, (pos + 2) * 2 + 1, 4)) AS INT) >= 2))
        |  )
        |  SELECT doc_id,
        |    CAST(('0x' || substr(hx, (pos + 7) * 2 + 1, 4)) AS INT) AS w,
        |    CAST(('0x' || substr(hx, (pos + 5) * 2 + 1, 4)) AS INT) AS h
        |  FROM seg
        |  WHERE len(hx) >= (pos + 9) * 2
        |    AND substr(hx, pos * 2 + 1, 2) = 'FF'
        |    AND substr(hx, pos * 2 + 3, 2) IN
        |      ('C0','C1','C2','C3','C5','C6','C7','C9','CA','CB','CD','CE','CF')
        |), dims AS (
        |  SELECT f.doc_id, f.format,
        |    CASE f.format
        |      WHEN 'png' THEN CASE WHEN len(f.hx) >= 48
        |          AND substr(f.hx, 17, 8) = '0000000D' AND substr(f.hx, 25, 8) = '49484452'
        |        THEN CAST(('0x' || substr(f.hx, 33, 8)) AS BIGINT) END
        |      WHEN 'gif' THEN CASE WHEN len(f.hx) >= 20
        |        THEN CAST(('0x' || substr(f.hx, 15, 2) || substr(f.hx, 13, 2)) AS BIGINT) END
        |      WHEN 'jpeg' THEN CAST(j.w AS BIGINT)
        |    END AS w,
        |    CASE f.format
        |      WHEN 'png' THEN CASE WHEN len(f.hx) >= 48
        |          AND substr(f.hx, 17, 8) = '0000000D' AND substr(f.hx, 25, 8) = '49484452'
        |        THEN CAST(('0x' || substr(f.hx, 41, 8)) AS BIGINT) END
        |      WHEN 'gif' THEN CASE WHEN len(f.hx) >= 20
        |        THEN CAST(('0x' || substr(f.hx, 19, 2) || substr(f.hx, 17, 2)) AS BIGINT) END
        |      WHEN 'jpeg' THEN CAST(j.h AS BIGINT)
        |    END AS h,
        |    CAST(len(f.hx) / 2 AS BIGINT) AS n_bytes
        |  FROM fmt f LEFT JOIN jwalk j USING (doc_id)
        |)
        |SELECT doc_id, format,
        |  CAST(CASE WHEN w >= 1 AND h >= 1 AND w <= 2147483647 AND h <= 2147483647
        |    THEN w END AS INT) AS width,
        |  CAST(CASE WHEN w >= 1 AND h >= 1 AND w <= 2147483647 AND h <= 2147483647
        |    THEN h END AS INT) AS height,
        |  CASE WHEN w IS NULL OR h IS NULL OR w < 1 OR h < 1
        |         OR w > 2147483647 OR h > 2147483647 THEN NULL
        |       WHEN w * 3 > h * 4 THEN 'wide'
        |       WHEN h * 3 > w * 4 THEN 'tall'
        |       ELSE 'square' END AS aspect_bucket,
        |  n_bytes
        |FROM dims
        |ORDER BY doc_id""".stripMargin,

    // the m07 fixture payload is the same deterministic hex discipline
    // as m06, over RIFF/WAVE and ISO-BMFF structure: the oracle
    // REBUILDS the identical blob hex and RE-PARSES it with independent
    // byte reads — the RIFF chunk walk and the top-level box walk as
    // recursive CTEs, little-endian u16/u32 reads as substr shuffles —
    // so format, fmt fields, declared duration, and the malformed-row
    // null contract are all cross-engine checked value-for-value.
    // hx/fmt/rwalk feed multiple consumers and the final select joins
    // three derived frames: AS MATERIALIZED, or DuckDB inlines and
    // re-runs the recursive walks per consumer — the first sf10 pass
    // OOM'd a 24 GB limit before materialization, ran in 5.6 s after
    "m07_av_header" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |      WHEN 2 THEN 24000 ELSE 44100 END AS sr,
        |    1 + doc_id % 2 AS ch,
        |    8 + 8 * ((doc_id // 2) % 2) AS bits,
        |    doc_id % 19 + 1 AS junk,
        |    CASE WHEN (doc_id // 3) % 4 = 0 THEN 1 ELSE 0 END AS ver,
        |    CASE doc_id % 4 WHEN 0 THEN 1000 WHEN 1 THEN 90000
        |      WHEN 2 THEN 600 ELSE 48000 END AS tsc,
        |    CASE (doc_id // 5) % 4 WHEN 0 THEN 600 WHEN 1 THEN 1000
        |      WHEN 2 THEN 12288 ELSE 90000 END AS mts,
        |    hex(substr(text, 1, 32)) AS body
        |  FROM documents
        |), q AS (
        |  SELECT *,
        |    (1 + doc_id % 2) * (bits // 8) AS ba,
        |    ((500 + (doc_id * 37) % 3500) * sr) // 1000 AS n_samp,
        |    ((500 + (doc_id * 37) % 3500) * tsc) // 1000 AS dur_units,
        |    ((500 + (doc_id * 37) % 3500) * mts) // 1000 AS mdu,
        |    ((500 + (doc_id * 37) % 3500) * (4 + (doc_id * 7) % 27)) // 1000 AS fc,
        |    junk % 2 AS pad
        |  FROM p
        |), hexes AS (
        |  SELECT doc_id, junk, pad, ver, body,
        |    printf('%08X', 4 + 8 + junk + pad + 24 + 8 + n_samp * ba) AS rs_h,
        |    printf('%08X', junk) AS junk_h,
        |    printf('%08X', sr) AS sr_h,
        |    printf('%08X', sr * ba) AS br_h,
        |    printf('%04X', ch) AS ch_h,
        |    printf('%04X', ba) AS ba_h,
        |    printf('%04X', bits) AS bits_h,
        |    printf('%08X', n_samp * ba) AS ds_h,
        |    printf('%08X', junk + 8) AS free_h,
        |    printf('%08X', tsc) AS tsc_h,
        |    printf('%08X', dur_units) AS du_h,
        |    printf('%08X', mts) AS mts_h,
        |    printf('%08X', mdu) AS mdu_h,
        |    printf('%08X', fc) AS fc_h,
        |    printf('%08X', mdu // fc) AS delta_h
        |  FROM q
        |), built AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3
        |      WHEN 1 THEN '52494646'
        |        || substr(rs_h,7,2)||substr(rs_h,5,2)||substr(rs_h,3,2)||substr(rs_h,1,2)
        |        || '57415645' || '4A554E4B'
        |        || substr(junk_h,7,2)||substr(junk_h,5,2)||substr(junk_h,3,2)||substr(junk_h,1,2)
        |        || repeat('41', junk) || CASE WHEN pad = 1 THEN '00' ELSE '' END
        |        || '666D7420' || '10000000' || '0100'
        |        || substr(ch_h,3,2)||substr(ch_h,1,2)
        |        || substr(sr_h,7,2)||substr(sr_h,5,2)||substr(sr_h,3,2)||substr(sr_h,1,2)
        |        || substr(br_h,7,2)||substr(br_h,5,2)||substr(br_h,3,2)||substr(br_h,1,2)
        |        || substr(ba_h,3,2)||substr(ba_h,1,2)
        |        || substr(bits_h,3,2)||substr(bits_h,1,2)
        |        || '64617461'
        |        || substr(ds_h,7,2)||substr(ds_h,5,2)||substr(ds_h,3,2)||substr(ds_h,1,2)
        |        || body
        |      WHEN 2 THEN '00000010' || '66747970' || '69736F6D' || '00000200'
        |        || free_h || '66726565' || repeat('41', junk)
        |        || CASE WHEN ver = 1 THEN '000000D8' ELSE '000000CC' END || '6D6F6F76'
        |        || CASE WHEN ver = 1
        |             THEN '00000078' || '6D766864' || '01000000' || repeat('00', 16)
        |               || tsc_h || '00000000' || du_h
        |             ELSE '0000006C' || '6D766864' || '00000000' || '00000000'
        |               || '00000000' || tsc_h || du_h
        |           END
        |        || repeat('00', 80)
        |        || '00000058' || '7472616B' || '00000050' || '6D646961'
        |        || '00000020' || '6D646864' || '00000000' || '00000000'
        |          || '00000000' || mts_h || mdu_h || '55C40000'
        |        || '00000028' || '6D696E66' || '00000020' || '7374626C'
        |        || '00000018' || '73747473' || '00000000' || '00000001'
        |          || fc_h || delta_h
        |        || body
        |      ELSE body
        |    END AS full_hex
        |  FROM hexes
        |), hx AS MATERIALIZED (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 17 = 0 THEN substr(full_hex, 1, 10)
        |         WHEN doc_id % 13 = 0 THEN '0000000000000000' || substr(full_hex, 17)
        |         WHEN doc_id % 11 = 0 THEN substr(full_hex, 1, 40)
        |         ELSE full_hex END AS hx
        |  FROM built
        |), fmt AS MATERIALIZED (
        |  SELECT doc_id, hx,
        |    CASE WHEN len(hx) >= 24 AND substr(hx, 1, 8) = '52494646'
        |           AND substr(hx, 17, 8) = '57415645' THEN 'wav'
        |         WHEN len(hx) >= 16 AND substr(hx, 9, 8) = '66747970'
        |           AND CAST(('0x' || substr(hx, 1, 8)) AS BIGINT) >= 8 THEN 'mp4'
        |    END AS av_format
        |  FROM hx
        |), rwalk AS MATERIALIZED (
        |  WITH RECURSIVE rseg AS (
        |    SELECT doc_id, hx, CAST(12 AS BIGINT) AS pos, 0 AS iter
        |    FROM fmt WHERE av_format = 'wav'
        |    UNION ALL
        |    SELECT doc_id, hx,
        |      pos + 8
        |        + CAST(('0x' || substr(hx,(pos+7)*2+1,2) || substr(hx,(pos+6)*2+1,2)
        |            || substr(hx,(pos+5)*2+1,2) || substr(hx,(pos+4)*2+1,2)) AS BIGINT)
        |        + CAST(('0x' || substr(hx,(pos+7)*2+1,2) || substr(hx,(pos+6)*2+1,2)
        |            || substr(hx,(pos+5)*2+1,2) || substr(hx,(pos+4)*2+1,2)) AS BIGINT) % 2,
        |      iter + 1
        |    FROM rseg
        |    WHERE iter < 64 AND len(hx) >= (pos + 8) * 2
        |  )
        |  SELECT doc_id, hx, pos,
        |    substr(hx, pos*2+1, 8) AS cid,
        |    CAST(('0x' || substr(hx,(pos+7)*2+1,2) || substr(hx,(pos+6)*2+1,2)
        |        || substr(hx,(pos+5)*2+1,2) || substr(hx,(pos+4)*2+1,2)) AS BIGINT) AS csize
        |  FROM rseg WHERE len(hx) >= (pos + 8) * 2
        |), wfmt AS (
        |  SELECT doc_id,
        |    CASE WHEN ok THEN CAST(('0x' || substr(hx,(pos+15)*2+1,2) || substr(hx,(pos+14)*2+1,2)
        |      || substr(hx,(pos+13)*2+1,2) || substr(hx,(pos+12)*2+1,2)) AS BIGINT) END AS sr,
        |    CASE WHEN ok THEN CAST(('0x' || substr(hx,(pos+11)*2+1,2)
        |      || substr(hx,(pos+10)*2+1,2)) AS BIGINT) END AS ch,
        |    CASE WHEN ok THEN CAST(('0x' || substr(hx,(pos+21)*2+1,2)
        |      || substr(hx,(pos+20)*2+1,2)) AS BIGINT) END AS ba,
        |    CASE WHEN ok THEN CAST(('0x' || substr(hx,(pos+23)*2+1,2)
        |      || substr(hx,(pos+22)*2+1,2)) AS BIGINT) END AS bits
        |  FROM (
        |    SELECT *, csize >= 16 AND len(hx) >= (pos + 24) * 2 AS ok,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
        |    FROM rwalk WHERE cid = '666D7420') t
        |  WHERE rn = 1
        |), wdata AS (
        |  SELECT doc_id, csize AS dsize
        |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
        |        FROM rwalk WHERE cid = '64617461') t
        |  WHERE rn = 1
        |), bwalk AS MATERIALIZED (
        |  WITH RECURSIVE bseg AS (
        |    SELECT doc_id, hx, CAST(0 AS BIGINT) AS pos, 0 AS iter
        |    FROM fmt WHERE av_format = 'mp4'
        |    UNION ALL
        |    SELECT doc_id, hx, pos + CAST(('0x' || substr(hx, pos*2+1, 8)) AS BIGINT), iter + 1
        |    FROM bseg
        |    WHERE iter < 64 AND len(hx) >= (pos + 8) * 2
        |      AND substr(hx, (pos+4)*2+1, 8) <> '6D6F6F76'
        |      AND CAST(('0x' || substr(hx, pos*2+1, 8)) AS BIGINT) >= 8
        |  )
        |  SELECT doc_id, hx, pos,
        |    pos + CAST(('0x' || substr(hx, pos*2+1, 8)) AS BIGINT) AS mend
        |  FROM bseg
        |  WHERE len(hx) >= (pos + 8) * 2 AND substr(hx, (pos+4)*2+1, 8) = '6D6F6F76'
        |), mvhd AS (
        |  SELECT doc_id,
        |    CASE
        |      WHEN substr(hx,(cp+8)*2+1,2) = '00' AND cp + 28 <= mend
        |           AND len(hx) >= (cp+28)*2
        |        THEN CASE WHEN CAST(('0x' || substr(hx,(cp+20)*2+1,8)) AS BIGINT) >= 1
        |               AND CAST(('0x' || substr(hx,(cp+24)*2+1,8)) AS BIGINT) <> 4294967295
        |             THEN CAST(('0x' || substr(hx,(cp+24)*2+1,8)) AS BIGINT) * 1000
        |               // CAST(('0x' || substr(hx,(cp+20)*2+1,8)) AS BIGINT) END
        |      WHEN substr(hx,(cp+8)*2+1,2) = '01' AND cp + 40 <= mend
        |           AND len(hx) >= (cp+40)*2
        |        -- TRY_CAST: a u64 >= 2^63 nulls (the Spark side's
        |        -- signed-read dur < 0 rejection); the explicit bound
        |        -- mirrors dur > Long.MaxValue/1000 -> null
        |        THEN CASE WHEN CAST(('0x' || substr(hx,(cp+28)*2+1,8)) AS BIGINT) >= 1
        |               AND TRY_CAST(('0x' || substr(hx,(cp+32)*2+1,16)) AS BIGINT)
        |                 <= 9223372036854775
        |             THEN TRY_CAST(('0x' || substr(hx,(cp+32)*2+1,16)) AS BIGINT) * 1000
        |               // CAST(('0x' || substr(hx,(cp+28)*2+1,8)) AS BIGINT) END
        |    END AS dur_ms
        |  FROM (SELECT doc_id, hx, pos + 8 AS cp, LEAST(mend, len(hx) // 2) AS mend
        |        FROM bwalk) t
        |  WHERE len(hx) >= (cp + 8) * 2 AND cp + 8 <= mend
        |    AND substr(hx, (cp+4)*2+1, 8) = '6D766864'
        |), twalk AS MATERIALIZED (
        |  -- trak>mdia>minf>stbl>stts in ONE recursion (r17): state =
        |  -- (pos = next sibling to examine, bend = container end,
        |  -- lvl = depth, li = siblings examined this level); a type
        |  -- hit DESCENDS (pos+header, end = box end, lvl+1, li reset),
        |  -- a miss advances to the next sibling. Full size grammar per
        |  -- level (size==1 u64 largesize via TRY_CAST — a size >= 2^63
        |  -- nulls and stops the walk, the Spark side's negative-size
        |  -- rejection; size==0 to-container-end); per-level sibling
        |  -- cap 64 = AvHeader.MaxChunks
        |  WITH RECURSIVE tseg AS (
        |    SELECT doc_id, hx, pos + 8 AS pos, LEAST(mend, len(hx) // 2) AS bend,
        |      1 AS lvl, 0 AS li
        |    FROM bwalk
        |    UNION ALL
        |    SELECT doc_id, hx,
        |      CASE WHEN hit THEN pos + hdr ELSE pos + bsize END,
        |      CASE WHEN hit THEN LEAST(pos + bsize, bend) ELSE bend END,
        |      CASE WHEN hit THEN lvl + 1 ELSE lvl END,
        |      CASE WHEN hit THEN 0 ELSE li + 1 END
        |    FROM (
        |      SELECT doc_id, hx, pos, bend, lvl, li, raw,
        |        CASE WHEN raw = 1
        |               THEN TRY_CAST(('0x' || substr(hx,(pos+8)*2+1,16)) AS BIGINT)
        |             WHEN raw = 0 THEN bend - pos ELSE raw END AS bsize,
        |        CASE WHEN raw = 1 THEN 16 ELSE 8 END AS hdr,
        |        substr(hx,(pos+4)*2+1,8) = CASE lvl WHEN 1 THEN '7472616B'
        |          WHEN 2 THEN '6D646961' WHEN 3 THEN '6D696E66'
        |          WHEN 4 THEN '7374626C' ELSE '73747473' END AS hit
        |      FROM (SELECT *, CAST(('0x' || substr(hx,pos*2+1,8)) AS BIGINT) AS raw
        |            FROM tseg
        |            WHERE lvl <= 5 AND li < 64 AND pos + 8 <= bend) r
        |      WHERE raw <> 1 OR pos + 16 <= bend
        |    ) s
        |    WHERE bsize >= hdr
        |  )
        |  SELECT doc_id, hx, pos AS sp, bend AS send FROM tseg WHERE lvl = 6
        |), fstts AS (
        |  -- stts content: version u8 must be 0, entry_count u32be
        |  SELECT doc_id, hx, sp, send,
        |    CAST(('0x' || substr(hx,(sp+4)*2+1,8)) AS BIGINT) AS ec
        |  FROM twalk
        |  WHERE sp + 8 <= send AND substr(hx, sp*2+1, 2) = '00'
        |), fok AS (
        |  -- entry table within the cap AND fully inside the box:
        |  -- beyond either, the count is unknown (null), never partial
        |  SELECT doc_id, hx, sp, ec FROM fstts
        |  WHERE ec <= 4096 AND sp + 8 + ec * 8 <= send
        |), fcnt AS (
        |  -- frame count = sum of entry sample_counts; an empty table
        |  -- (ec = 0) is a real 0, not null
        |  SELECT k.doc_id, COALESCE(SUM(e.sc), 0) AS fc
        |  FROM fok k LEFT JOIN (
        |    SELECT f.doc_id,
        |      CAST(('0x' || substr(f.hx,(f.sp+8+t.i*8)*2+1,8)) AS BIGINT) AS sc
        |    FROM fok f, UNNEST(generate_series(0, f.ec - 1)) AS t(i)
        |  ) e ON k.doc_id = e.doc_id
        |  GROUP BY k.doc_id
        |)
        |SELECT f.doc_id, f.av_format,
        |  CAST(CASE WHEN wf.ch >= 1 AND wf.bits >= 1 AND wf.sr >= 1
        |    AND wf.sr <= 2147483647 THEN wf.sr END AS INT) AS sample_rate,
        |  CAST(CASE WHEN wf.ch >= 1 AND wf.bits >= 1 AND wf.sr >= 1
        |    AND wf.sr <= 2147483647 THEN wf.ch END AS INT) AS channels,
        |  CAST(CASE WHEN wf.ch >= 1 AND wf.bits >= 1 AND wf.sr >= 1
        |    AND wf.sr <= 2147483647 THEN wf.bits END AS INT) AS bits_per_sample,
        |  CAST(CASE
        |    WHEN f.av_format = 'wav' THEN
        |      CASE WHEN wf.ch >= 1 AND wf.bits >= 1 AND wf.sr >= 1
        |          AND wf.sr <= 2147483647 AND wf.ba >= 1 AND wd.dsize >= 0
        |        THEN (wd.dsize // wf.ba) * 1000 // wf.sr END
        |    WHEN f.av_format = 'mp4' THEN mv.dur_ms
        |  END AS BIGINT) AS duration_ms,
        |  CAST(fcn.fc AS BIGINT) AS frame_count,
        |  CAST(len(f.hx) / 2 AS BIGINT) AS n_bytes
        |FROM fmt f
        |LEFT JOIN wfmt wf USING (doc_id)
        |LEFT JOIN wdata wd USING (doc_id)
        |LEFT JOIN mvhd mv USING (doc_id)
        |LEFT JOIN fcnt fcn USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // m01's stub decode derives every field from the house payload
    // hash since r16, so the gate oracles exactly: md5 of the same
    // bytes (the payload IS the doc text's UTF-8), hash60 spelling,
    // integer arithmetic only (features served as 10-bit numerators)
    "m01_multimodal_stub" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'audio/wav'
        |      ELSE 'video/mp4' END AS media_type,
        |    CAST(strlen(text) AS BIGINT) AS n_bytes,
        |    CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS sig
        |  FROM documents
        |)
        |SELECT doc_id, media_type, n_bytes,
        |  CAST(64 + sig % 192 AS INT) AS width,
        |  CAST(64 + (sig // 131072) % 192 AS INT) AS height,
        |  sig AS payload_sig,
        |  CAST(sig % 1024 AS INT) AS f0_q,
        |  CAST((sig // 256) % 1024 AS INT) AS f1_q
        |FROM m ORDER BY doc_id""".stripMargin,

    // m02's frames are fully derivable: duration is the parsed mvhd
    // and (r17) the frame count is the parsed stts sample-table sum —
    // both restated here via the fixture's construction formulas,
    // which is not circular because the m07 oracle independently
    // RE-PARSES the same bytes (mvhd walk AND the trak→…→stts walk)
    // value-for-value. frame_sig stays the house md5-prefix hash
    // (decoded-content stand-in).
    "m02_frame_sample" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4 WHEN 0 THEN 1000 WHEN 1 THEN 90000
        |      WHEN 2 THEN 600 ELSE 48000 END AS tsc
        |  FROM documents
        |  WHERE doc_id % 3 = 2 AND doc_id % 17 != 0
        |    AND doc_id % 13 != 0 AND doc_id % 11 != 0
        |), q AS (
        |  SELECT doc_id,
        |    (((500 + (doc_id * 37) % 3500) * tsc) // 1000) * 1000 // tsc AS dur,
        |    ((500 + (doc_id * 37) % 3500) * (4 + (doc_id * 7) % 27)) // 1000 AS fc
        |  FROM p
        |), f AS (
        |  SELECT doc_id, dur, fc, LEAST(4, fc) AS n
        |  FROM q WHERE dur > 0 AND fc > 0
        |)
        |SELECT doc_id, CAST(i AS INT) AS frame_index,
        |  CAST(i * dur // n AS BIGINT) AS frame_ts_ms,
        |  CAST(224 AS INT) AS width, CAST(224 AS INT) AS height,
        |  CAST(('0x' || substr(md5('fr:' || doc_id || ':' || i), 1, 15)) AS BIGINT) AS frame_sig,
        |  CAST(fc AS BIGINT) AS frame_count
        |FROM f, UNNEST(generate_series(0, n - 1)) AS t(i)
        |ORDER BY doc_id, frame_index""".stripMargin,

    // m03's windows are now fully derivable: the fixture's WAV headers
    // are deterministic (same formulas as the m07 oracle — and m07
    // independently re-parses the bytes, so using the construction
    // formulas here is not circular), the framing arithmetic is exact
    // integer math, and energy is the house md5-prefix hash in exact
    // integer ppm — so the whole gate is value-for-value oracled
    "m03_audio_windows" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |      WHEN 2 THEN 24000 ELSE 44100 END AS sr,
        |    CAST(1 + doc_id % 2 AS INT) AS ch
        |  FROM documents
        |  WHERE doc_id % 3 = 1 AND doc_id % 17 != 0
        |    AND doc_id % 13 != 0 AND doc_id % 11 != 0
        |), q AS (
        |  SELECT doc_id, sr, ch,
        |    (((500 + (doc_id * 37) % 3500) * sr) // 1000) * 1000 // sr AS dur
        |  FROM p
        |), f AS (
        |  SELECT doc_id, sr, ch, dur,
        |    CASE WHEN dur < 1000 THEN 1 ELSE (dur - 1000) // 500 + 1 END AS n
        |  FROM q WHERE dur > 0
        |)
        |SELECT f.doc_id,
        |  CAST(i AS INT) AS window_index,
        |  CAST(i * 500 AS BIGINT) AS start_ms,
        |  CAST(LEAST(i * 500 + 1000, dur) AS BIGINT) AS end_ms,
        |  CAST(sr AS INT) AS sample_rate,
        |  ch AS channels,
        |  CAST((LEAST(i * 500 + 1000, dur) - i * 500) * sr // 1000 AS BIGINT) AS n_samples,
        |  CAST(CAST(CAST(('0x' || substr(md5('aw:' || f.doc_id || ':' || i), 1, 15)) AS BIGINT)
        |    AS HUGEINT) * 1000000 // 1152921504606846976 AS BIGINT) AS energy_ppm
        |FROM f, UNNEST(generate_series(0, n - 1)) AS t(i)
        |ORDER BY doc_id, window_index""".stripMargin,

    // the portable UNION ALL spelling of the same wide -> long
    // reshape; DECIMAL-quantized doubles on both sides
    "q42_unpivot" ->
      """WITH w AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(CAST(l_quantity AS DECIMAL(12,2)) AS DOUBLE) AS quantity,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS extendedprice,
        |    CAST(CAST(l_discount AS DECIMAL(12,2)) AS DOUBLE) AS discount,
        |    CAST(CAST(l_tax AS DECIMAL(12,2)) AS DOUBLE) AS tax
        |  FROM lineitem
        |)
        |SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'quantity' AS metric, quantity AS value FROM w
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'extendedprice', extendedprice FROM w
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'discount', discount FROM w
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'tax', tax FROM w
        |)
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,

    // the q28 anchored-moment discipline applied bivariate: exact
    // DECIMAL products about quantized anchors, δ-corrected at serve;
    // listwise null deletion, as in the engine
    "q41_group_regression" ->
      """WITH v AS (
        |  SELECT l_returnflag AS g, CAST(l_quantity AS DECIMAL(12,2)) AS x,
        |    CAST(l_extendedprice AS DECIMAL(12,2)) AS y
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |), a AS (
        |  SELECT g, COUNT(*) AS n, CAST(SUM(x) AS DOUBLE) AS sx,
        |    CAST(SUM(y) AS DOUBLE) AS sy
        |  FROM v GROUP BY 1
        |), a2 AS (
        |  SELECT *, CAST(sx / n AS DECIMAL(12,2)) AS mx,
        |    CAST(sy / n AS DECIMAL(12,2)) AS my
        |  FROM a
        |), m AS (
        |  SELECT v.g, n, sx, sy, mx, my,
        |    CAST(SUM(CAST((x - mx) * 100 AS DECIMAL(19,0))
        |           * CAST((x - mx) * 100 AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST((y - my) * 100 AS DECIMAL(19,0))
        |           * CAST((y - my) * 100 AS DECIMAL(19,0))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST((x - mx) * 100 AS DECIMAL(19,0))
        |           * CAST((y - my) * 100 AS DECIMAL(19,0))) AS DOUBLE) AS sxy
        |  FROM v JOIN a2 ON v.g IS NOT DISTINCT FROM a2.g
        |  GROUP BY 1, 2, 3, 4, 5, 6
        |), f AS (
        |  SELECT g, n, sx, sy, sxx, syy, sxy,
        |    sx / n - CAST(mx AS DOUBLE) AS dx,
        |    sy / n - CAST(my AS DOUBLE) AS dy
        |  FROM m
        |), f2 AS (
        |  SELECT *, sxx / 10000.0 / n - dx * dx AS cxx,
        |    syy / 10000.0 / n - dy * dy AS cyy,
        |    sxy / 10000.0 / n - dx * dy AS cxy
        |  FROM f
        |)
        |SELECT g AS l_returnflag, n, round(cxy, 6) AS cov,
        |  CASE WHEN cxx > 0 AND cyy > 0 THEN round(cxy / sqrt(cxx * cyy), 6) END AS corr,
        |  CASE WHEN cxx > 0 THEN round(cxy / cxx, 6) END AS beta,
        |  CASE WHEN cxx > 0 THEN round(sy / n - (cxy / cxx) * (sx / n), 6) END AS alpha
        |FROM f2 ORDER BY l_returnflag""".stripMargin,

    // identical stacked whole-partition windows: stage i's MIN-CASE
    // references stage i−1's column, null previous stage cascades to
    // null (never reached) — exact ns longs end to end
    "q39_funnel" ->
      """WITH w1 AS (
        |  SELECT user_id, event_type, epoch_ns(ts) AS tns,
        |    MIN(CASE WHEN event_type = 'view' THEN epoch_ns(ts) END)
        |      OVER (PARTITION BY user_id) AS view_ts
        |  FROM events
        |), w2 AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'click' AND tns > view_ts THEN tns END)
        |      OVER (PARTITION BY user_id) AS click_ts
        |  FROM w1
        |), w3 AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND tns > click_ts THEN tns END)
        |      OVER (PARTITION BY user_id) AS purchase_ts
        |  FROM w2
        |)
        |SELECT user_id, view_ts, click_ts, purchase_ts,
        |  CAST(CASE WHEN view_ts IS NOT NULL THEN 1 ELSE 0 END
        |    + CASE WHEN click_ts IS NOT NULL THEN 1 ELSE 0 END
        |    + CASE WHEN purchase_ts IS NOT NULL THEN 1 ELSE 0 END AS INT) AS funnel_stage
        |FROM (SELECT DISTINCT user_id, view_ts, click_ts, purchase_ts FROM w3)
        |ORDER BY user_id""".stripMargin,

    // identical 48-bit md5-prefix u and the order-equivalent
    // Efraimidis–Spirakis key w / −ln(u); ranks separate by ~12 orders
    // of magnitude more than any libm ulp gap (see weightedSample)
    "q37_weighted_sample" ->
      """WITH k AS (
        |  SELECT source, doc_id, n_chars,
        |    CAST(greatest(n_chars, 1) AS DOUBLE) /
        |      (-ln(((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT) + 0.5)
        |        / 281474976710656.0)) AS wk
        |  FROM documents
        |), r AS (
        |  SELECT source, doc_id, n_chars, wk,
        |    row_number() OVER (PARTITION BY source ORDER BY wk DESC, doc_id) AS smp_rank
        |  FROM k
        |)
        |SELECT source, doc_id, n_chars, round(wk, 2) AS wkey, smp_rank
        |FROM r WHERE smp_rank <= 20
        |ORDER BY source, smp_rank""".stripMargin,

    // the 32-term interleave is the SAME generated string on both
    // sides (Relational.zInterleaveSql); bins are floor(double-div) —
    // exact and engine-identical at these magnitudes (see zorderKey)
    "q31_zorder_key" -> (
      """WITH b AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |    CAST(l_partkey AS BIGINT) AS c1, CAST(l_suppkey AS BIGINT) AS c2
        |  FROM lineitem
        |), s AS (
        |  SELECT min(c1) AS min1, max(c1) AS max1,
        |         min(c2) AS min2, max(c2) AS max2 FROM b
        |), binned AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |    CASE WHEN max1 > min1
        |      THEN CAST(floor((c1 - min1) * 65535 / (max1 - min1)) AS BIGINT)
        |      ELSE 0 END AS b1,
        |    CASE WHEN max2 > min2
        |      THEN CAST(floor((c2 - min2) * 65535 / (max2 - min2)) AS BIGINT)
        |      ELSE 0 END AS b2
        |  FROM b, s
        |)
        |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  CAST(""".stripMargin +
        graft.operators.Relational.zInterleaveSql("b1", "b2") +
      """ AS BIGINT) AS z
        |FROM binned ORDER BY l_orderkey, l_linenumber""".stripMargin),

    // identical type-7 interpolation spelled out on both sides (the
    // built-in quantile_cont orders its doubles differently): DECIMAL
    // quantize once, rank ties harmless (equal values), h/frac/lerp in
    // a fixed double expression order, rounded to 6 dp
    "q30_group_quantiles" ->
      """WITH v AS (
        |  SELECT event_type, CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS v
        |  FROM events
        |), r AS (
        |  SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v) AS r,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM v
        |), t AS (
        |  SELECT event_type, n, q AS quantile, (n - 1) * q AS h
        |  FROM (SELECT DISTINCT event_type, n FROM r),
        |       (SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS q)
        |), t2 AS (
        |  SELECT event_type, quantile,
        |    CAST(floor(h) AS BIGINT) + 1 AS lo_r,
        |    least(CAST(floor(h) AS BIGINT) + 2, n) AS hi_r,
        |    h - floor(h) AS frac
        |  FROM t
        |), p AS (
        |  SELECT t2.event_type, quantile, frac,
        |    MAX(CASE WHEN r.r = lo_r THEN v END) AS vlo,
        |    MAX(CASE WHEN r.r = hi_r THEN v END) AS vhi
        |  FROM t2 JOIN r ON r.event_type IS NOT DISTINCT FROM t2.event_type
        |    AND (r.r = lo_r OR r.r = hi_r)
        |  GROUP BY 1, 2, 3
        |)
        |SELECT event_type, quantile, round(vlo + frac * (vhi - vlo), 6) AS value
        |FROM p ORDER BY event_type, quantile""".stripMargin,
    // the q33 losslessness trick for quantile state: the oracle
    // aggregates the RAW rows directly (the q30 SQL verbatim), so the
    // hash match pins that the batched-histogram state detour is
    // invisible
    "q65_quantile_state" ->
      """WITH v AS (
        |  SELECT event_type, CAST(CAST(value AS DECIMAL(12,2)) AS DOUBLE) AS v
        |  FROM events
        |), r AS (
        |  SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v) AS r,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM v
        |), t AS (
        |  SELECT event_type, n, q AS quantile, (n - 1) * q AS h
        |  FROM (SELECT DISTINCT event_type, n FROM r),
        |       (SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS q)
        |), t2 AS (
        |  SELECT event_type, quantile,
        |    CAST(floor(h) AS BIGINT) + 1 AS lo_r,
        |    least(CAST(floor(h) AS BIGINT) + 2, n) AS hi_r,
        |    h - floor(h) AS frac
        |  FROM t
        |), p AS (
        |  SELECT t2.event_type, quantile, frac,
        |    MAX(CASE WHEN r.r = lo_r THEN v END) AS vlo,
        |    MAX(CASE WHEN r.r = hi_r THEN v END) AS vhi
        |  FROM t2 JOIN r ON r.event_type IS NOT DISTINCT FROM t2.event_type
        |    AND (r.r = lo_r OR r.r = hi_r)
        |  GROUP BY 1, 2, 3
        |)
        |SELECT event_type, quantile, round(vlo + frac * (vhi - vlo), 6) AS value
        |FROM p ORDER BY event_type, quantile""".stripMargin,


    // the salting is a partitioning trick and must be invisible in the
    // result: the oracle IS the plain inner join, raw columns untouched
    "q29_salted_skew_join" ->
      """SELECT event_id, user_id, event_type, value, c_name, c_acctbal
        |FROM events JOIN customer ON user_id = c_custkey
        |ORDER BY event_id""".stripMargin,

    // identical md5 bucket + sign-bit arithmetic (the house
    // content-stable hash), integer counts only
    "t17_hashed_features" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term
        |  FROM documents
        |), h AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(term), 1, 4))::INT % 64 AS bucket,
        |    CASE WHEN ('0x' || substr(md5(term), 5, 1))::INT % 2 = 0 THEN 1 ELSE -1 END AS sgn
        |  FROM tok
        |)
        |SELECT doc_id, bucket, count(*) AS n, CAST(SUM(sgn) AS BIGINT) AS signed_sum
        |FROM h GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin,

    // integer-only audit; NOT IN is null-safe here because every
    // parent key column is a non-null primary key, and a NULL child
    // key makes the CASE condition NULL -> uncounted, matching the
    // Spark side's explicit null filter
    "q27_fk_integrity" ->
      """SELECT * FROM (
        |  SELECT 'customer.c_nationkey->nation' AS edge, count(*) AS n_child,
        |    CAST(COALESCE(SUM(CASE WHEN c_nationkey IS NULL THEN 1 END), 0) AS BIGINT) AS n_null_keys,
        |    count(DISTINCT c_nationkey) AS n_distinct_keys,
        |    CAST(COALESCE(SUM(CASE WHEN c_nationkey NOT IN (SELECT n_nationkey FROM nation) THEN 1 END), 0) AS BIGINT) AS n_orphan_rows,
        |    count(DISTINCT CASE WHEN c_nationkey NOT IN (SELECT n_nationkey FROM nation) THEN c_nationkey END) AS n_orphan_keys
        |  FROM customer
        |  UNION ALL
        |  SELECT 'lineitem.l_orderkey->orders', count(*),
        |    CAST(COALESCE(SUM(CASE WHEN l_orderkey IS NULL THEN 1 END), 0) AS BIGINT),
        |    count(DISTINCT l_orderkey),
        |    CAST(COALESCE(SUM(CASE WHEN l_orderkey NOT IN (SELECT o_orderkey FROM orders) THEN 1 END), 0) AS BIGINT),
        |    count(DISTINCT CASE WHEN l_orderkey NOT IN (SELECT o_orderkey FROM orders) THEN l_orderkey END)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem.l_partkey->part', count(*),
        |    CAST(COALESCE(SUM(CASE WHEN l_partkey IS NULL THEN 1 END), 0) AS BIGINT),
        |    count(DISTINCT l_partkey),
        |    CAST(COALESCE(SUM(CASE WHEN l_partkey NOT IN (SELECT p_partkey FROM part) THEN 1 END), 0) AS BIGINT),
        |    count(DISTINCT CASE WHEN l_partkey NOT IN (SELECT p_partkey FROM part) THEN l_partkey END)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem.l_suppkey->supplier', count(*),
        |    CAST(COALESCE(SUM(CASE WHEN l_suppkey IS NULL THEN 1 END), 0) AS BIGINT),
        |    count(DISTINCT l_suppkey),
        |    CAST(COALESCE(SUM(CASE WHEN l_suppkey NOT IN (SELECT s_suppkey FROM supplier) THEN 1 END), 0) AS BIGINT),
        |    count(DISTINCT CASE WHEN l_suppkey NOT IN (SELECT s_suppkey FROM supplier) THEN l_suppkey END)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'nation.n_regionkey->region', count(*),
        |    CAST(COALESCE(SUM(CASE WHEN n_regionkey IS NULL THEN 1 END), 0) AS BIGINT),
        |    count(DISTINCT n_regionkey),
        |    CAST(COALESCE(SUM(CASE WHEN n_regionkey NOT IN (SELECT r_regionkey FROM region) THEN 1 END), 0) AS BIGINT),
        |    count(DISTINCT CASE WHEN n_regionkey NOT IN (SELECT r_regionkey FROM region) THEN n_regionkey END)
        |  FROM nation
        |  UNION ALL
        |  SELECT 'orders.o_custkey->customer', count(*),
        |    CAST(COALESCE(SUM(CASE WHEN o_custkey IS NULL THEN 1 END), 0) AS BIGINT),
        |    count(DISTINCT o_custkey),
        |    CAST(COALESCE(SUM(CASE WHEN o_custkey NOT IN (SELECT c_custkey FROM customer) THEN 1 END), 0) AS BIGINT),
        |    count(DISTINCT CASE WHEN o_custkey NOT IN (SELECT c_custkey FROM customer) THEN o_custkey END)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'orders.o_custkey->customer_pruned', count(*),
        |    CAST(COALESCE(SUM(CASE WHEN o_custkey IS NULL THEN 1 END), 0) AS BIGINT),
        |    count(DISTINCT o_custkey),
        |    CAST(COALESCE(SUM(CASE WHEN o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey % 13 != 0) THEN 1 END), 0) AS BIGINT),
        |    count(DISTINCT CASE WHEN o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey % 13 != 0) THEN o_custkey END)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'supplier.s_nationkey->nation', count(*),
        |    CAST(COALESCE(SUM(CASE WHEN s_nationkey IS NULL THEN 1 END), 0) AS BIGINT),
        |    count(DISTINCT s_nationkey),
        |    CAST(COALESCE(SUM(CASE WHEN s_nationkey NOT IN (SELECT n_nationkey FROM nation) THEN 1 END), 0) AS BIGINT),
        |    count(DISTINCT CASE WHEN s_nationkey NOT IN (SELECT n_nationkey FROM nation) THEN s_nationkey END)
        |  FROM supplier
        |) ORDER BY edge""".stripMargin,

    // identical smoothed-idf arithmetic: exact-long tf/df, one
    // correctly-rounded divide, ln, round to 6 dp BEFORE the rank
    // window so tie-breaking (score desc, term asc) agrees too
    "t16_tfidf_keywords" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
        |), vocab AS (
        |  SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS ctf FROM tf GROUP BY 1
        |), n AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
        |), scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, vocab.df, vocab.ctf,
        |    round(tf.tf * (ln((n.n + 1.0) / (vocab.df + 1.0)) + 1.0), 6) AS tfidf
        |  FROM tf JOIN vocab USING (term) CROSS JOIN n
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
        |  FROM scored
        |)
        |SELECT doc_id, term, tf, df, ctf, tfidf FROM ranked WHERE rk <= 5
        |ORDER BY doc_id, term""".stripMargin,

    // BM25: exact integer tf/df/dl/N, one spelled idf·tf expression
    // rounded at 6 dp, decimal fold of rounded terms, (score desc,
    // doc_id) ranking — the t16 determinism discipline for retrieval
    "t23_bm25" -> T23OracleSql,

    // reciprocal-rank fusion of two BM25 parameterizations — both runs
    // restate from the same parameterized oracle generator; reciprocal
    // terms round at 6 dp and fold through DECIMAL(28,6)
    "t25_rrf_fusion" ->
      s"""WITH runa AS (SELECT * FROM (${bm25OracleSql(1.2, 0.75)})
         |), runb AS (SELECT * FROM (${bm25OracleSql(2.0, 0.0)})
         |), u AS (
         |  SELECT query_id, doc_id, rank FROM runa
         |  UNION ALL
         |  SELECT query_id, doc_id, rank FROM runb
         |), scored AS (
         |  SELECT query_id, doc_id,
         |    CAST(CAST(SUM(CAST(round(1.0 / (60.0 + rank), 6)
         |      AS DECIMAL(28,6))) AS DECIMAL(28,6)) AS DOUBLE) AS rrf_score,
         |    CAST(count(*) AS BIGINT) AS n_runs
         |  FROM u GROUP BY 1, 2
         |), ranked AS (
         |  SELECT *, CAST(row_number() OVER (
         |      PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS INTEGER) AS rank
         |  FROM scored
         |)
         |SELECT query_id, rank, doc_id, rrf_score, n_runs
         |FROM ranked WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // retrieval-quality metrics over the t23 run (embedded verbatim):
    // pseudo-qrels grade docs by distinct matched query terms; DCG
    // terms spell log2 as ln(i+1)/ln(2) in BOTH engines and fold as
    // DECIMAL(28,6) of 6-dp-rounded terms; each metric is one IEEE
    // divide of exact operands
    "t24_ranking_eval" ->
      s"""WITH run AS (SELECT * FROM ($T23OracleSql)
         |), tok2 AS (
         |  SELECT DISTINCT doc_id, unnest(list_filter(string_split(text, ' '), x -> x != '')) AS term
         |  FROM documents
         |), q2 AS (
         |  SELECT DISTINCT query_id, unnest(list_filter(string_split(query_text, ' '), x -> x != '')) AS term
         |  FROM (VALUES (CAST(1 AS BIGINT), 'hash join'),
         |               (CAST(2 AS BIGINT), 'fast scan filter'),
         |               (CAST(3 AS BIGINT), 'customer order data'))
         |    AS queries(query_id, query_text)
         |), qrels AS (
         |  SELECT q2.query_id, tok2.doc_id, CAST(count(*) AS BIGINT) AS rel
         |  FROM tok2 JOIN q2 USING (term) GROUP BY 1, 2
         |), joined AS (
         |  SELECT r.query_id, r.rank, COALESCE(g.rel, 0) AS rel
         |  FROM run r LEFT JOIN qrels g
         |    ON r.query_id = g.query_id AND r.doc_id = g.doc_id
         |), runagg AS (
         |  SELECT query_id,
         |    CAST(SUM(CAST(round((pow(2.0, rel) - 1.0)
         |      / (ln(rank + 1.0) / ln(2.0)), 6) AS DECIMAL(28,6)))
         |      AS DECIMAL(28,6)) AS dcg,
         |    CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nret,
         |    MIN(CASE WHEN rel > 0 THEN rank END) AS minrank
         |  FROM joined GROUP BY 1
         |), ideal AS (
         |  SELECT query_id, rel,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id) AS rn
         |  FROM qrels
         |), idealagg AS (
         |  SELECT query_id,
         |    CAST(SUM(CASE WHEN rn <= 10 THEN
         |      CAST(round((pow(2.0, rel) - 1.0)
         |        / (ln(rn + 1.0) / ln(2.0)), 6) AS DECIMAL(28,6)) END)
         |      AS DECIMAL(28,6)) AS idcg,
         |    CAST(count(*) AS BIGINT) AS n_rel
         |  FROM ideal GROUP BY 1
         |)
         |SELECT query_id,
         |  CASE WHEN i.idcg IS NULL THEN NULL
         |    ELSE round(CAST(COALESCE(r.dcg, 0) AS DOUBLE)
         |      / CAST(i.idcg AS DOUBLE), 6) END AS ndcg,
         |  COALESCE(round(1.0 / r.minrank, 6), 0.0) AS mrr,
         |  round(CAST(COALESCE(r.nret, 0) AS DOUBLE) / 10.0, 6) AS precision_k,
         |  CASE WHEN i.n_rel IS NULL THEN NULL
         |    ELSE round(CAST(COALESCE(r.nret, 0) AS DOUBLE)
         |      / CAST(i.n_rel AS DOUBLE), 6) END AS recall_k,
         |  COALESCE(i.n_rel, 0) AS n_rel
         |FROM runagg r FULL JOIN idealagg i USING (query_id)
         |ORDER BY query_id""".stripMargin,


    // same rounded-quality histogram + pure-integer DIV bucket rule
    // (equal-quality docs share a bucket; no float boundary math)
    "t10_quality_buckets" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks, text FROM documents
        |), f AS (
        |  SELECT doc_id,
        |    round(least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.4
        |      + (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)) * 0.3
        |      + least(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','is','to','in'))) AS DOUBLE) / len(toks) * 5.0, 1.0) * 0.3, 6) AS quality
        |  FROM d
        |), h AS (
        |  SELECT quality, count(*) AS c FROM f GROUP BY quality
        |), cum AS (
        |  SELECT quality,
        |    COALESCE(SUM(c) OVER (ORDER BY quality ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS rank_lo,
        |    SUM(c) OVER () AS total
        |  FROM h
        |)
        |SELECT f.doc_id, f.quality,
        |  CAST((rank_lo * 10) // total AS BIGINT) AS bucket
        |FROM f JOIN cum USING (quality) ORDER BY doc_id""".stripMargin,
  )
}
