package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q01PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (Relational.q01PricingSummary _),
    "q02_filter_project" -> (Relational.q02FilterProject _),
    "q03_shipping_priority" -> (Relational.q03ShippingPriority _),
    "q04_semi_join" -> (Relational.q04SemiJoin _),
    "q05_local_supplier" -> (Relational.q05LocalSupplier _),
    "q06_forecast_revenue" -> (Relational.q06ForecastRevenue _),
    "q07_topk_orders" -> (Relational.q07TopkOrders _),
    "q08_window_rank" -> (Relational.q08WindowRank _),
    "q09_distinct_agg" -> (Relational.q09DistinctAgg _),
    "q10_anti_join" -> (Relational.q10AntiJoin _),
    "q11_group_having" -> (Relational.q11GroupHaving _),
    "q12_case_agg" -> (Relational.q12CaseAgg _),
    "q13_outer_join_agg" -> (Relational.q13OuterJoinAgg _),
    "q14_rollup" -> (Relational.q14Rollup _),
    "q15_union_agg" -> (Relational.q15UnionAgg _),
    "q16_scalar_subquery" -> (Relational.q16ScalarSubquery _),
    "q17_events_sessionize" -> (Relational.q17EventsSessionize _),
    "q18_events_json" -> (Relational.q18EventsJson _),
    "q19_date_bucket_agg" -> (Relational.q19DateBucketAgg _),
    "q20_percentile_stats" -> (Relational.q20PercentileStats _),
    "q20b_percentile_sketch" -> (Relational.q20bPercentileSketch _),
    "q21_exclusive_supplier" -> (Relational.q21ExclusiveSupplier _),
    "q22_dormant_customers" -> (Relational.q22DormantCustomers _),
    "q23_funnel" -> (Relational.q23Funnel _),
    "q24_market_share" -> (Relational.q24MarketShare _),
    "q25_disjunctive_revenue" -> (Relational.q25DisjunctiveRevenue _),
    "q26_cheapest_supplier" -> (Relational.q26CheapestSupplier _),
    "q27_moving_avg" -> (Relational.q27MovingAvg _),
    "q28_cube" -> (Relational.q28Cube _),
    "q29_pivot" -> (Relational.q29Pivot _),
    "q30_set_ops" -> (Relational.q30SetOps _),
    "q31_important_parts" -> ((s, d) => Relational.q31ImportantParts(s, d)),
    "q32_range_window" -> (Relational.q32RangeWindow _),
    "q33_dominant_supplier" -> (Relational.q33DominantSupplier _),
    "q34_small_quantity_revenue" -> (Relational.q34SmallQuantityRevenue _),
    "q35_volume_shipping" -> (Relational.q35VolumeShipping _),
    "q36_spend_deciles" -> ((s, d) => Relational.q36SpendDeciles(s, d)),
    "q37_table_profile" -> (Relational.q37TableProfile _),
    "q37b_profile_approx" -> ((s, d) => Relational.q37bProfileApprox(s, d)), // rows-only: HLL estimates are engine-specific
    "q38_incremental_rollup" -> (Relational.q38IncrementalRollup _),
    "q39_snapshot_diff" -> (Relational.q39SnapshotDiff _),
    "q40_big_orders" -> (Relational.q40BigOrders _),
    "q41_profit_by_nation" -> (Relational.q41ProfitByNation _),
    "q42_returned_top_customers" -> (Relational.q42ReturnedTopCustomers _),
    "q43_priority_shipping" -> (Relational.q43PriorityShipping _),
    "q44_promo_share" -> (Relational.q44PromoShare _),
    "q45_supplier_count_by_class" -> (Relational.q45SupplierCountByClass _),
    "q46_top_supplier" -> ((s, d) => Relational.q46TopSupplier(s, d)),
    "r01_record_count" -> (RefOps.r01RecordCount _),
    "r02_distributed_grep" -> (RefOps.r02DistributedGrep _),
    "r03_grep_count" -> (RefOps.r03GrepCount _),
    "r04_record_finder" -> (RefOps.r04RecordFinder _),
    "r05_cdr_parse" -> (RefOps.r05CdrParse _),
    "r06_encoded_scan" -> (RefOps.r06EncodedScan _),
    "t01_token_count" -> (TextAnalysis.t01TokenCount _),
    "t02_quality_score" -> (TextAnalysis.t02QualityScore _),
    "t03_lang_id" -> (TextAnalysis.t03LangId _),
    "t04_fingerprint" -> (TextAnalysis.t04Fingerprint _),
    "t05_top_tokens" -> (TextAnalysis.t05TopTokens _),
    "t06_bigram_counts" -> (TextAnalysis.t06BigramCounts _),
    "t07_bm25_search" -> (TextAnalysis.t07Bm25Search _),
    "t08_cms_counts" -> (TextAnalysis.t08CmsCounts _),
    "t09_lexical_diversity" -> (TextAnalysis.t09LexicalDiversity _),
    "t10_pii_scrub" -> (TextAnalysis.t10PiiScrub _),
    "t11_repetition_filter" -> (TextAnalysis.t11RepetitionFilter _),
    "t12_entropy_filter" -> ((s, d) => TextAnalysis.t12EntropyFilter(s, d)),
    "t13_unigram_surprisal" -> ((s, d) => TextAnalysis.t13UnigramSurprisal(s, d)),
    "t14_gopher_rules" -> (TextAnalysis.t14GopherRules _),
    "t15_hll_distinct" -> (TextAnalysis.t15HllDistinct _),
    "t16_tfidf_keywords" -> (TextAnalysis.t16TfidfKeywords _),
    "t17_hashed_classifier" -> (TextAnalysis.t17HashedClassifier _),
    "t18_url_filter" -> (TextAnalysis.t18UrlFilter _),
    "t19_bigram_surprisal" -> ((s, d) => TextAnalysis.t19BigramSurprisal(s, d)),
    "t20_line_dedup" -> (TextAnalysis.t20LineDedup _),
    "t22_token_coverage" -> ((s, d) => TextAnalysis.t22TokenCoverage(s, d)),
    "t23_freq_spectrum" -> (TextAnalysis.t23FreqSpectrum _),
    "t24_intradoc_dedup" -> (TextAnalysis.t24IntraDocDedup _),
    "t21_bpe_vocab_train" -> ((s, d) => TextAnalysis.t21BpeVocabTrain(s, d)), // rows-only: iterative argmax, no SQL mirror
    "t25_bpe_tokenize" -> ((s, d) => TextAnalysis.t25BpeTokenize(s, d)), // rows-only: merge list is corpus-dependent, no static SQL mirror
    "t26_pmi_collocations" -> (TextAnalysis.t26PmiCollocations _),
    "t27_url_dedup" -> (TextAnalysis.t27UrlDedup _),
    "t28_classifier_train" -> // rows-only: iterative LBFGS fit, no SQL mirror
      (TextAnalysis.t28TrainQualityClassifier _),
    "t29_vocab_growth" -> (TextAnalysis.t29VocabGrowth _),
    "a01_asof_join" -> (Temporal.a01AsofJoin _),
    "a02_band_join" -> (Temporal.a02BandJoin _),
    "p01_stratified_sample" -> (Sampling.p01StratifiedSample _),
    "p02_hash_split" -> (Sampling.p02HashSplit _),
    "p04_mixture_sample" -> ((s, d) => Sampling.p04MixtureSample(s, d)),
    "p05_pack_chunks" -> (Sampling.p05PackChunks _),
    "p06_token_budget_mix" -> ((s, d) => Sampling.p06TokenBudgetMix(s, d)),
    "p07_epoch_shuffle" -> ((s, d) => Sampling.p07EpochShuffle(s, d)),
    "p08_quality_sample" -> (Sampling.p08QualitySample _),
    "p09_epoch_mix" -> ((s, d) => Sampling.p09EpochMix(s, d)),
    "p13_score_sample" -> (Sampling.p13ScoreSample _),
    "p13b_trained_sample" -> // rows-only: the weight table rides an LBFGS fit (t28's rule)
      (Sampling.p13bTrainedSample _),
    "d01_exact_dedup" -> (Dedup.d01ExactDedup _),
    "d02_ngram_jaccard" -> (Dedup.d02NgramJaccard _),
    "d03_minhash_lsh" -> (Dedup.d03MinhashLsh _),
    "d04_simhash" -> (Dedup.d04Simhash _),
    "d05_embedding_dup" -> (Dedup.d05EmbeddingDup _),
    "d06_simhash_pairs" -> (Dedup.d06SimhashPairs _),
    "d07_dup_clusters" -> ((s, d) => Dedup.d07DupClusters(s, d)),
    "d08_neardup_by_source" -> (Dedup.d08NeardupBySource _),
    "d09_containment" -> (Dedup.d09Containment _),
    "d10_cross_split_leakage" -> ((s, d) => Dedup.d10CrossSplitLeakage(s, d)),
    "d11_winnowed_dup" -> ((s, d) => Dedup.d11WinnowedDup(s, d)),
    "d12_semdedup" -> (Dedup.d12SemDedup _),
    "d17_exact_substring" -> ((s, d) => Dedup.d17ExactSubstring(s, d)),
    "d18_incremental_neardup" -> ((s, d) => Dedup.d18IncrementalNeardup(s, d)),
    "d19_dup_spans" -> ((s, d) => Dedup.d19DupSpans(s, d)),
    "d20_span_surgery" -> (Dedup.d20SpanSurgery _),
    "d21_quality_canonical" -> (Dedup.d21QualityCanonical _),
    "d21b_trained_canonical" -> // rows-only: the score rides t28's distributed fit
      (Dedup.d21bTrainedCanonical _),
    "d12b_semdedup_ivf" -> // rows-only: cluster-first candidates ride a k-means fit (s03's rule)
      (Dedup.d12bSemDedupIvf _),
    "d13_semantic_decontamination" ->
      ((s, d) => Dedup.d13SemanticDecontamination(s, d)),
    "d14_minhash_calibration" -> (Dedup.d14MinhashCalibration _),
    "d15_paragraph_dedup" -> (Dedup.d15ParagraphDedup _),
    "d16_benchmark_decontam" -> ((s, d) => Dedup.d16BenchmarkDecontam(s, d)),
    "a03_asof_forward" -> (Temporal.a03AsofForward _),
    "a04_asof_tolerance" -> ((s, d) => Temporal.a04AsofTolerance(s, d)),
    "s01_knn_brute" -> (Similarity.s01KnnBrute _),
    "s02_ann_lsh" -> (Similarity.s02AnnLsh _),
    "s03_ann_ivf" -> (Similarity.s03AnnIvf _), // rows-only: KMeans not DuckDB-expressible
    "s04_ann_recall" -> (Similarity.s04AnnRecall _),
    "s05_ann_multitable" -> ((s, d) => Similarity.s05AnnMultiTable(s, d)),
    "s06_range_search" -> (Similarity.s06RangeSearch _),
    "s07_ivf_recall" -> (Similarity.s07IvfRecall _), // rows-only: audits the KMeans-based s03
    "s08_kcenter_coreset" -> // rows-only: iterative greedy fit not DuckDB-expressible
      ((s, d) => Similarity.s08KcenterCoreset(s, d)),
    "s09_pq_ann" -> (Similarity.s09PqAnn _), // rows-only: iterative k-means fit (s03 precedent)
    "s10_ivfpq_ann" -> (Similarity.s10IvfPqAnn _), // rows-only: k-means x2 (IVF + PQ codebooks)
    "s11_pq_recall" -> (Similarity.s11PqRecall _), // rows-only: audits the k-means-based s09
    "s12_ann_ivf2" -> ((s, d) => Similarity.s12AnnIvf2(s, d)), // rows-only: distributed two-level k-means fit
    "s13_pca_audit" -> ((s, d) => Similarity.s13PcaAudit(s, d)), // rows-only: no eigensolver in DuckDB
    "s14_ann_pca" -> ((s, d) => Similarity.s14AnnPca(s, d)), // rows-only: PCA-fit shortlist (s13's serving side)
    "s15_sq8_mips" -> (Similarity.s15Sq8Mips _), // GATED: integer SQ8 dot is one cross-engine semantics
    "s16_pca_recall" -> ((s, d) => Similarity.s16PcaRecall(s, d)), // rows-only: audits the PCA-fit s14 across the shortlist sweep
    "s17_sq8_recall" -> (Similarity.s17Sq8Recall _), // rows-only: float-IP reference ranking can tie within an ulp
    "s18_filtered_knn" -> (Similarity.s18FilteredKnn _),
    "s19_knn_graph" -> ((s, d) => Similarity.s19KnnGraph(s, d)),
    "s19b_knn_graph_ivf" -> ((s, d) => Similarity.s19bKnnGraphIvf(s, d)), // rows-only: candidate pool rides the k-means fit (s03's rule)
    "s20_rrf_fusion" -> (Similarity.s20RrfFusion _),
    "s25_label_prop" -> ((s, d) => Similarity.s25LabelProp(s, d)),
    "s26_knn_outlier" -> (Similarity.s26KnnOutlier _),
    "s24_graph_recall" -> // rows-only: audits the k-means-fit graph builds (s03's rule)
      (Similarity.s24GraphRecall _),
    "s23_mmr_rerank" -> // rows-only: the greedy MMR recursion is not SQL-expressible
      ((s, d) => Similarity.s23MmrRerank(s, d)),
    "s21_graph_refine" -> // rows-only: refines the IVF-seeded graph (k-means fit, s03's rule)
      ((s, d) => Similarity.s21GraphRefine(s, d)),
    "s22_cluster_profile" -> // rows-only: list assignments ride the k-means fit (s03's rule)
      ((s, d) => Similarity.s22ClusterProfile(s, d)),

    "m01_binary_meta" -> (Multimodal.m01BinaryMeta _),
    "m02_media_meta" -> (Multimodal.m02MediaMeta _),
    "m03_binary_dedup" -> (Multimodal.m03BinaryDedup _),
    "m04_phash_neardup" -> (Multimodal.m04PhashNeardup _),
    "m04_phash_neardup_px" -> (Multimodal.m04PhashNeardupPx _),
    "m05_frame_reuse" -> (Multimodal.m05FrameReuse _),
    "p03_clean_corpus" -> (Pipelines.p03CleanCorpus _),
    "p10_neardup_corpus" -> (Pipelines.p10NeardupCorpus _),
    "p11_leakage_repair" -> ((s, d) => Pipelines.p11LeakageRepair(s, d)),
    "p12_training_shards" -> // rows-only: merge table is corpus-dependent (t25's rule)
      (Pipelines.p12TrainingShards _),
    "p14_shard_layout" -> (Pipelines.p14ShardLayout _),
    "p15_chunk_spans" -> // rows-only: BPE counts ride the corpus-dependent merge table (p12's rule)
      (Pipelines.p15ChunkSpans _),
    "p16_span_layout" -> (Pipelines.p16SpanLayout _),
    "p17_filter_funnel" -> (Pipelines.p17FilterFunnel _),
    "p18_release_diff" -> ((s, d) => Pipelines.p18ReleaseDiff(s, d)),
    "p19_zorder_layout" -> (Pipelines.p19ZorderLayout _),
    "p20_release_build" -> // rows-only: every stage individually gated; the spec pins the composition
      (Pipelines.p20ReleaseBuild _),
    "p21_corpus_datasheet" -> // rows-only: a union of individually-gated aggregates (p20's rule)
      (Pipelines.p21CorpusDatasheet _),
    "t30_novelty_scan" -> (TextAnalysis.t30NoveltyScan _),
    "t31_source_drift" -> (TextAnalysis.t31SourceDrift _),
    "t32_code_detect" -> (TextAnalysis.t32CodeDetect _),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         ROUND(SUM(l_quantity), 2) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) / 100.0 AS sum_disc_price,
         SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100, 0)
           AS BIGINT)) / 100.0 AS sum_charge,
         ROUND(AVG(l_quantity), 4) AS avg_qty,
         ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           / COUNT(l_extendedprice), 4) AS avg_price,
         ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
           / COUNT(l_discount), 4) AS avg_disc,
         COUNT(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
           AND l_discount >= 0.05 AND l_discount <= 0.07
           AND l_quantity < 10
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""",
    "q03_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
         SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) / 100.0 AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY l_orderkey, o_orderdate, o_orderpriority
         ORDER BY revenue DESC, o_orderdate, l_orderkey
         LIMIT 10""",
    "q04_semi_join" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         GROUP BY o_orderpriority
         ORDER BY o_orderpriority""",
    "q05_local_supplier" ->
      """SELECT n_name,
         SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) / 100.0 AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY n_name
         ORDER BY n_name""",
    "q06_forecast_revenue" ->
      """SELECT SUM(CAST(ROUND(l_extendedprice * l_discount * 100, 0) AS BIGINT)) / 100.0 AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
           AND l_discount >= 0.05 AND l_discount <= 0.07
           AND l_quantity < 24""",
    "q07_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
         FROM orders
         ORDER BY o_totalprice DESC, o_orderkey
         LIMIT 20""",
    "q08_window_rank" ->
      """SELECT c_mktsegment, rk, c_custkey, c_acctbal FROM (
           SELECT c_mktsegment, c_custkey, c_acctbal,
             RANK() OVER (PARTITION BY c_mktsegment
                          ORDER BY c_acctbal DESC, c_custkey) AS rk
           FROM customer) t
         WHERE rk <= 5
         ORDER BY c_mktsegment, rk, c_custkey""",
    "q09_distinct_agg" ->
      """SELECT l_returnflag,
         COUNT(DISTINCT l_partkey) AS n_parts,
         COUNT(DISTINCT l_suppkey) AS n_supps,
         COUNT(*) AS n_rows
         FROM lineitem
         GROUP BY l_returnflag
         ORDER BY l_returnflag""",
    "q10_anti_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders
         WHERE NOT EXISTS (SELECT 1 FROM lineitem
                           WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
         GROUP BY o_orderstatus
         ORDER BY o_orderstatus""",
    "q11_group_having" ->
      """SELECT p_brand, CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_retail,
         COUNT(*) AS n_parts
         FROM part
         GROUP BY p_brand
         HAVING CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) > 2000.0
         ORDER BY p_brand""",
    "q12_case_agg" ->
      """SELECT l_linestatus,
         CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY l_linestatus
         ORDER BY l_linestatus""",
    "q13_outer_join_agg" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
           SELECT c_custkey, COUNT(o_orderkey) AS c_count
           FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
           GROUP BY c_custkey) t
         GROUP BY c_count
         ORDER BY custdist DESC, c_count DESC""",
    "q14_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
         COALESCE(l_linestatus, 'ALL') AS linestatus,
         ROUND(SUM(l_quantity), 2) AS sum_qty,
         COUNT(*) AS n_rows
         FROM lineitem
         GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY returnflag, linestatus""",
    "q15_union_agg" ->
      """SELECT event_type, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM (
           SELECT event_type, value FROM events WHERE value > 150.0
           UNION ALL
           SELECT event_type, value FROM events
           WHERE ts < TIMESTAMP '2024-01-08 00:00:00') t
         GROUP BY event_type
         ORDER BY event_type""",
    "q16_scalar_subquery" ->
      """SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 2) AS avg_yearly
         FROM lineitem l
         JOIN (SELECT l_partkey AS ap_partkey, AVG(l_quantity) AS avg_qty
               FROM lineitem GROUP BY l_partkey) a
           ON l.l_partkey = a.ap_partkey
         WHERE l.l_quantity < 0.2 * a.avg_qty""",
    "q17_events_sessionize" ->
      """SELECT user_id, session_id, COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM (
           SELECT user_id, value,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
           FROM (
             SELECT user_id, ts, event_id, value,
               CASE WHEN prev_ts IS NULL
                    OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
             FROM (
               SELECT user_id, ts, event_id, value,
                 LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
               FROM events) a) b) c
         GROUP BY user_id, session_id
         ORDER BY user_id, session_id""",
    "q18_events_json" ->
      """SELECT event_type,
         CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
         ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
         COUNT(*) AS n
         FROM events
         GROUP BY event_type
         ORDER BY event_type""",
    "q19_date_bucket_agg" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events
         GROUP BY 1, 2
         ORDER BY day, event_type""",
    "q27_moving_avg" ->
      """WITH d AS (
           SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             SUM(CAST(value AS DECIMAL(18,2))) AS day_value
           FROM events GROUP BY 1, 2)
         SELECT event_type, day, CAST(day_value AS DOUBLE) AS day_value,
           ROUND(CAST(SUM(day_value) OVER w AS DOUBLE)
             / COUNT(day_value) OVER w, 4) AS ma7
         FROM d
         WINDOW w AS (PARTITION BY event_type ORDER BY day
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY event_type, day""",
    "q28_cube" ->
      """SELECT CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
           AS INTEGER) AS gid,
         COALESCE(o_orderstatus, 'ALL') AS status,
         COALESCE(o_orderpriority, 'ALL') AS priority,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
         ORDER BY gid, status, priority""",
    "q29_pivot" ->
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         COUNT(*) FILTER (event_type = 'click') AS n_click,
         COUNT(*) FILTER (event_type = 'error') AS n_error,
         COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
         COUNT(*) FILTER (event_type = 'signup') AS n_signup,
         COUNT(*) FILTER (event_type = 'view') AS n_view
         FROM events GROUP BY 1 ORDER BY 1""",
    "q30_set_ops" ->
      """WITH y97 AS (SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
             AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
         y98 AS (SELECT DISTINCT o_custkey FROM orders
           WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
             AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00')
         SELECT 'both' AS segment, COUNT(*) AS n_customers
           FROM (SELECT * FROM y97 INTERSECT SELECT * FROM y98)
         UNION ALL
         SELECT 'only_1997', COUNT(*)
           FROM (SELECT * FROM y97 EXCEPT SELECT * FROM y98)
         UNION ALL
         SELECT 'only_1998', COUNT(*)
           FROM (SELECT * FROM y98 EXCEPT SELECT * FROM y97)
         ORDER BY segment""",
    "q31_important_parts" ->
      """WITH p AS (SELECT l_partkey,
           SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)
             AS BIGINT)) AS rev
           FROM lineitem GROUP BY 1),
         m AS (SELECT CAST(SUM(rev) AS DOUBLE) / COUNT(*) AS mean_rev FROM p)
         SELECT l_partkey, rev / 100.0 AS revenue,
           ROUND(CAST(rev AS DOUBLE) / mean_rev, 4) AS x_mean
         FROM p, m WHERE CAST(rev AS DOUBLE) > 1.3 * mean_rev
         ORDER BY revenue DESC, l_partkey""",
    "q32_range_window" ->
      """WITH d AS (
           SELECT event_type,
             CAST(date_diff('day', DATE '2024-01-01',
               CAST(date_trunc('day', ts) AS DATE)) AS INTEGER) AS day_num,
             SUM(CAST(value AS DECIMAL(18,2))) AS day_value,
             COUNT(*) AS n_events
           FROM events GROUP BY 1, 2)
         SELECT event_type, day_num, CAST(day_value AS DOUBLE) AS day_value,
           CAST(SUM(day_value) OVER w AS DOUBLE) AS wk_value,
           CAST(SUM(n_events) OVER w AS BIGINT) AS wk_events
         FROM d
         WINDOW w AS (PARTITION BY event_type ORDER BY day_num
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY event_type, day_num""",
    "q33_dominant_supplier" ->
      """WITH sp AS (SELECT l_partkey, l_suppkey, SUM(l_quantity) AS q
           FROM lineitem GROUP BY 1, 2),
         p AS (SELECT l_partkey AS p_key, SUM(q) AS tq,
           COUNT(*) AS n_suppliers FROM sp GROUP BY 1),
         r AS (SELECT l_partkey, l_suppkey, q,
           ROW_NUMBER() OVER (PARTITION BY l_partkey
             ORDER BY q DESC, l_suppkey) AS rn FROM sp)
         SELECT l_partkey, l_suppkey AS top_suppkey, n_suppliers,
           ROUND(q / tq, 4) AS share
         FROM r JOIN p ON l_partkey = p_key
         WHERE rn = 1 ORDER BY l_partkey""",
    "q34_small_quantity_revenue" ->
      """WITH sel AS (
           SELECT l_partkey, CAST(floor(l_quantity) AS BIGINT) AS qty,
             l_extendedprice
           FROM lineitem JOIN part ON p_partkey = l_partkey
           WHERE p_brand = 'Brand#4'),
         st AS (SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS sq,
           COUNT(*) AS cnt FROM sel GROUP BY 1)
         SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
           AS DOUBLE) / 7.0, 2) AS avg_yearly
         FROM sel JOIN st USING (l_partkey)
         WHERE 5 * qty * cnt < sq""",
    "q35_volume_shipping" ->
      """SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation,
         year(l_shipdate) AS l_year,
         ROUND(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)
           AS BIGINT)) / 100.0, 2) AS revenue
         FROM lineitem
         JOIN orders ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey
         JOIN nation n1 ON n1.n_nationkey = c_nationkey
         JOIN supplier ON s_suppkey = l_suppkey
         JOIN nation n2 ON n2.n_nationkey = s_nationkey
         WHERE n1.n_name IN ('NATION_1', 'NATION_3')
           AND n2.n_name IN ('NATION_1', 'NATION_3')
           AND n1.n_name <> n2.n_name
         GROUP BY 1, 2, 3
         ORDER BY 1, 2, 3""",
    "q36_spend_deciles" ->
      """WITH sp AS (
           SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents
           FROM orders GROUP BY 1),
         d AS (SELECT o_custkey, cents,
           NTILE(10) OVER (ORDER BY cents DESC, o_custkey) AS decile FROM sp)
         SELECT CAST(decile AS BIGINT) AS decile, COUNT(*) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS total_cents,
           MIN(cents) AS min_cents, MAX(cents) AS max_cents
         FROM d GROUP BY decile ORDER BY decile""",
    "q37_table_profile" -> (Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      .map(c => s"""SELECT '$c' AS col_name,
           COUNT(*) - COUNT($c) AS n_nulls,
           COUNT(DISTINCT $c) AS n_distinct, COUNT(*) AS n_rows
           FROM orders""")
      .mkString(" UNION ALL ") + " ORDER BY col_name"),
    "q38_incremental_rollup" ->
      """SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
         FROM events
         GROUP BY 1, 2
         ORDER BY event_type, day""",
    "q39_snapshot_diff" ->
      """WITH v1 AS (
           SELECT doc_id, source AS src1, md5(text) AS fp1
           FROM documents WHERE doc_id % 7 <> 0),
         v2 AS (
           SELECT doc_id, source AS src2,
             md5(CASE WHEN doc_id % 13 = 0 THEN text || ' [rev2]'
                 ELSE text END) AS fp2
           FROM documents WHERE doc_id % 11 <> 0),
         d AS (
           SELECT COALESCE(src1, src2) AS source,
             CASE WHEN fp1 IS NULL THEN 'added'
                  WHEN fp2 IS NULL THEN 'removed'
                  WHEN fp1 <> fp2 THEN 'changed'
                  ELSE 'same' END AS status
           FROM v1 FULL OUTER JOIN v2 USING (doc_id))
         SELECT source,
           CAST(SUM(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
           CAST(SUM(CASE WHEN status = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           CAST(SUM(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
           CAST(SUM(CASE WHEN status = 'same' THEN 1 ELSE 0 END) AS BIGINT) AS n_same
         FROM d GROUP BY source ORDER BY source""",
    "q40_big_orders" ->
      """SELECT c_name, o_orderkey, o_orderdate,
         ROUND(o_totalprice, 2) AS o_totalprice,
         CAST(sum_qty AS BIGINT) AS sum_qty
         FROM orders
         JOIN (SELECT l_orderkey, SUM(l_quantity) AS sum_qty
               FROM lineitem GROUP BY 1
               HAVING SUM(l_quantity) > 300) b
           ON o_orderkey = b.l_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey
         LIMIT 20""",
    "q41_profit_by_nation" ->
      """SELECT n_name AS nation, year(l_shipdate) AS o_year,
         ROUND(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)
               - CAST(ROUND(p_retailprice * l_quantity * 0.5 * 100, 0) AS BIGINT))
           / 100.0, 2) AS profit
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE p_name LIKE '%gear%'
         GROUP BY 1, 2
         ORDER BY nation, o_year DESC""",
    "q42_returned_top_customers" ->
      """SELECT c_custkey, c_name, ROUND(acct, 2) AS c_acctbal, n_name, rev_cents
         FROM (
           SELECT c_custkey, c_name, c_acctbal AS acct, n_name,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)
               AS BIGINT)) AS BIGINT) AS rev_cents
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           WHERE l_returnflag = 'R'
             AND o_orderdate >= TIMESTAMP '1997-01-01'
             AND o_orderdate < TIMESTAMP '1997-04-01'
           GROUP BY 1, 2, 3, 4)
         ORDER BY rev_cents DESC, c_custkey
         LIMIT 20""",
    "q43_priority_shipping" ->
      """SELECT l_returnflag,
         CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1997-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
         GROUP BY 1
         ORDER BY l_returnflag""",
    "q44_promo_share" ->
      """SELECT promo_cents, total_cents,
         ROUND(promo_cents * 100.0 / total_cents, 4) AS promo_share_pct
         FROM (
           SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END)
               AS BIGINT) AS promo_cents,
             CAST(SUM(cents) AS BIGINT) AS total_cents
           FROM (
             SELECT CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)
               AS BIGINT) AS cents, p_type
             FROM lineitem JOIN part ON l_partkey = p_partkey
             WHERE l_shipdate >= TIMESTAMP '1997-09-01'
               AND l_shipdate < TIMESTAMP '1997-10-01'))""",
    "q45_supplier_count_by_class" ->
      """SELECT p_brand, p_type, p_size,
         CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
         JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
           AND l_suppkey NOT IN
             (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
         GROUP BY 1, 2, 3
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    "q46_top_supplier" ->
      """WITH rev AS (
           SELECT l_suppkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)
               AS BIGINT)) AS BIGINT) AS total_cents
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1997-10-01'
             AND l_shipdate < TIMESTAMP '1998-01-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name, total_cents
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE total_cents = (SELECT MAX(total_cents) FROM rev)
         ORDER BY s_suppkey""",
    "q20_percentile_stats" ->
      """SELECT event_type,
         ROUND(quantile_cont(value, 0.5), 4) AS p50,
         ROUND(quantile_cont(value, 0.95), 4) AS p95,
         ROUND(MIN(value), 2) AS min_v,
         ROUND(MAX(value), 2) AS max_v
         FROM events
         GROUP BY event_type
         ORDER BY event_type""",
    "q20b_percentile_sketch" ->
      """SELECT event_type, COUNT(*) AS n,
         ROUND(quantile_disc(value, 0.5), 4) AS p50,
         ROUND(quantile_disc(value, 0.95), 4) AS p95
         FROM events
         GROUP BY event_type
         ORDER BY event_type""",
    "q21_exclusive_supplier" ->
      """SELECT s.l_suppkey AS suppkey,
         COUNT(DISTINCT s.l_orderkey) AS n_excl_orders
         FROM lineitem s
         WHERE EXISTS (SELECT 1 FROM lineitem o2
                       WHERE o2.l_orderkey = s.l_orderkey
                         AND o2.l_linenumber <> s.l_linenumber)
           AND NOT EXISTS (SELECT 1 FROM lineitem o3
                           WHERE o3.l_orderkey = s.l_orderkey
                             AND o3.l_suppkey <> s.l_suppkey)
         GROUP BY 1
         ORDER BY n_excl_orders DESC, suppkey
         LIMIT 15""",
    "q22_dormant_customers" ->
      """SELECT c_nationkey, COUNT(*) AS n_cust,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
         FROM customer c
         WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                              / COUNT(c_acctbal)
                            FROM customer WHERE c_acctbal > 0)
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderpriority = '1-URGENT')
         GROUP BY c_nationkey
         ORDER BY c_nationkey""",
    "q23_funnel" ->
      """WITH u AS (
           SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
           FROM events GROUP BY user_id)
         SELECT COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS viewed,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                          AND t_click > t_view THEN 1 ELSE 0 END) AS BIGINT) AS clicked_after_view,
           CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click IS NOT NULL
                          AND t_click > t_view AND t_purchase IS NOT NULL
                          AND t_purchase > t_click THEN 1 ELSE 0 END) AS BIGINT) AS purchased_after_click
         FROM u""",
    "q24_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         ROUND((SUM(CAST(ROUND(CASE WHEN n2.n_name = 'NATION_2'
                        THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
                      * 100, 0) AS BIGINT)) / 100.0)
               / (SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)
                      AS BIGINT)) / 100.0), 4) AS mkt_share
         FROM lineitem
         JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n1 ON c_nationkey = n1.n_nationkey
         JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n2 ON s_nationkey = n2.n_nationkey
         GROUP BY 1 ORDER BY 1""",
    "q25_disjunctive_revenue" ->
      """SELECT SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)
           AS BIGINT)) / 100.0 AS revenue,
         COUNT(*) AS n_lines
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_type = 'ECONOMY' AND l_quantity BETWEEN 1 AND 15 AND p_size <= 10)
            OR (p_type = 'STANDARD' AND l_quantity BETWEEN 10 AND 25 AND p_size <= 20)
            OR (p_type = 'LARGE' AND l_quantity BETWEEN 20 AND 35 AND p_size <= 30)""",
    "q26_cheapest_supplier" ->
      """WITH m AS (SELECT l_partkey AS mp_partkey, MIN(l_extendedprice) AS min_price
                    FROM lineitem GROUP BY 1)
         SELECT DISTINCT p_partkey, p_brand, ROUND(min_price, 2) AS min_price,
           s_name, n_name
         FROM lineitem
         JOIN m ON l_partkey = mp_partkey AND l_extendedprice = min_price
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE p_type = 'ECONOMY' AND p_size <= 15
         ORDER BY p_partkey, s_name
         LIMIT 20""",
    "r01_record_count" ->
      Tables.all.map(t => s"SELECT '$t' AS tbl, COUNT(*) AS n_records FROM $t")
        .mkString("", " UNION ALL ", " ORDER BY tbl"),
    "r02_distributed_grep" ->
      """SELECT doc_id, lang, source FROM documents
         WHERE regexp_matches(text, '(fast|slow) (join|merge)')
         ORDER BY doc_id""",
    "r03_grep_count" ->
      """SELECT pattern,
         CAST(SUM(CASE WHEN regexp_matches(text, pattern) THEN 1 ELSE 0 END) AS BIGINT) AS n_matches
         FROM documents
         CROSS JOIN (VALUES ('spark'), ('window [a-z]+'),
                     ('(fast|slow) (join|merge)'), ('zzz_never_matches')) p(pattern)
         GROUP BY pattern
         ORDER BY pattern""",
    "r04_record_finder" ->
      """SELECT doc_id, n_chars FROM documents
         WHERE contains(text, 'window') AND contains(text, 'hash')
         ORDER BY doc_id""",
    "r05_cdr_parse" ->
      """SELECT upper(event_type) AS event,
         COUNT(DISTINCT user_id) AS n_users,
         CAST(SUM(event_id % 7) AS BIGINT) AS sum_proto,
         COUNT(*) AS n_lines
         FROM events
         GROUP BY 1
         ORDER BY 1""",
    "r06_encoded_scan" ->
      """SELECT COUNT(*) AS n_records,
         COUNT(*) AS n_roundtrip_ok,
         CAST(SUM(CASE WHEN contains(text, 'window') THEN 1 ELSE 0 END) AS BIGINT) AS n_matches
         FROM documents""",
  ) ++ TextAnalysis.oracle ++ Dedup.oracle ++ Similarity.oracle ++
    Multimodal.oracle ++ Sampling.oracle ++ Temporal.oracle ++ Pipelines.oracle
}
