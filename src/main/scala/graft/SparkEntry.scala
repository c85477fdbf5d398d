package graft

import graft.engine.WavePhase
import graft.tableio.ParquetStats
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Each entry is one operator family from SURVEY §2; oracleSql carries the
  * DuckDB twin where ANSI SQL can express the semantics (crawl-engine and
  * LSH/ANN queries are gated by the sbt parity suites instead). */
object SparkEntry {

  /** Flagship: the README query shape (`README.rst:27-37` — "crawl a page,
    * act on matching URLs") — a recipe-driven crawl of the fixture web;
    * returns the final URL-seen set in discovery order. */
  def entry(spark: SparkSession): DataFrame =
    Queries.crawlSeen(spark, "/root/testdata/sf0.001")

  /** Every registered query, run in the regime its input size picks
    * (`sized`). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    bodies.map { case (name, body) => name -> sized(name, body) }

  /** Input rows at or below which a query runs under the small-data
    * profile. Set from the per-query crossing measurement in
    * `BENCH/query_regime.md`. */
  val SmallInputRows: Long = 100000L

  /** The regime gate at the query entry. Before `body` runs, the rows of
    * the `*.parquet` tables directly under `dir` are summed from their
    * footers (no Spark job). At most `smallInputRows` rows: the body runs
    * and its result is materialized (`localCheckpoint`) inside one
    * `GraftSession.SmallData` scope; the body must run inside the scope,
    * since several queries run their own actions while they build.
    * Otherwise the body's lazy frame is returned as it is. Either way the
    * body's jobs carry the label `query:<name>`. */
  private[graft] def sized(
      name: String, body: (SparkSession, String) => DataFrame,
      smallInputRows: Long = SmallInputRows): (SparkSession, String) => DataFrame =
    (spark, dir) => WavePhase.time(spark, s"query:$name") {
      if (inputRows(spark, dir) <= smallInputRows)
        GraftSession.withConf(spark, GraftSession.SmallData) {
          body(spark, dir).localCheckpoint(eager = true)
        }
      else body(spark, dir)
    }

  /** Footer row count summed over the `*.parquet` tables directly under
    * `dir` (0 when `dir` does not exist). */
  private[graft] def inputRows(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.isDirectory(p)) 0L
    else fs.listStatus(p).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
      .map(t => ParquetStats.rowCount(spark, t.toString)).sum
  }

  /** The registered query bodies, unwrapped. */
  private[graft] def bodies: Map[String, (SparkSession, String) => DataFrame] = Map(
    // crawl engine (reference semantics; sbt parity gate)
    "crawl_seen" -> (Queries.crawlSeen _),
    "crawl_order" -> (Queries.crawlOrder _),
    "crawl_dump" -> (Queries.crawlDump _),
    "crawl_edges" -> (Queries.crawlEdges _),
    "crawl_aliases" -> (Queries.crawlAliases _),
    "crawl_fetch_log" -> (Queries.crawlFetchLog _),
    "crawl_indegree" -> (Queries.crawlIndegree _),
    "crawl_metrics" -> (Queries.crawlMetrics _),
    "crawl_lineage" -> (Queries.crawlLineage _),
    "crawl_fetched" -> (Queries.crawlFetched _),
    "crawl_increments" -> (Queries.crawlIncrements _),
    "crawl_ivm" -> (Queries.crawlIvm _),
    "extract_testcases" -> (Queries.extractTestcases _),
    "url_canon" -> (Queries.urlCanon _),
    // web.py analytics (A2/A3/G1-G5)
    "web_multiple" -> (Queries.webMultiple _),
    "web_stats" -> (Queries.webStats _),
    "web_trace" -> (Queries.webTrace _),
    "web_deepest" -> (Queries.webDeepest _),
    "web_refs" -> (Queries.webRefs _),
    "web_dump" -> (Queries.webDump _),
    "web_aliases_of" -> (Queries.webAliasesOf _),
    // relational operators (DuckDB-oracled)
    "q1_agg" -> (Queries.q1Agg _),
    "q2_join_revenue" -> (Queries.q2JoinRevenue _),
    "q3_topk_customers" -> (Queries.q3TopkCustomers _),
    "q4_first_event" -> (Queries.q4FirstEvent _),
    "q5_anti_join" -> (Queries.q5AntiJoin _),
    "q6_semi_join" -> (Queries.q6SemiJoin _),
    "q7_running_sum" -> (Queries.q7RunningSum _),
    "q8_time_bucket" -> (Queries.q8TimeBucket _),
    "q33_sessions" -> (Queries.q33Sessions _),
    "q34_quantiles" -> (Queries.q34Quantiles _),
    // text/training pipeline (DuckDB-oracled)
    "q9_tokens" -> (Queries.q9Tokens _),
    "q10_quality" -> (Queries.q10Quality _),
    "q11_lang_id" -> (Queries.q11LangId _),
    "q12_exact_dedup" -> (Queries.q12ExactDedup _),
    "q13_source_stats" -> (Queries.q13SourceStats _),
    "q16_embed_topk" -> (Queries.q16EmbedTopk _),
    // pipeline, rows-only (sbt-tested against in-repo oracles)
    "q14_minhash_pairs" -> (Queries.q14MinhashPairs _),
    "q15_simhash_pairs" -> (Queries.q15SimhashPairs _),
    "q17_ivf_ann" -> (Queries.q17IvfAnn _),
    "q18_embed_near_dups" -> (Queries.q18EmbedNearDups _),
    "q19_ngram_jaccard" -> (Queries.q19NgramJaccard _),
    "q20_multimodal_features" -> (Queries.q20MultimodalFeatures _),
    "q21_frontier_dequeue" -> (Queries.q21FrontierDequeue _),
    "q22_cuckoo_sketch" -> (Queries.q22CuckooSketch _),
    "q32_priority_dequeue" -> (Queries.q32PriorityDequeue _),
    // §2.10 streaming twins (real Structured Streaming runs)
    "q23_stream_window" -> (Queries.q23StreamWindow _),
    "q24_stream_first_seen" -> (Queries.q24StreamFirstSeen _),
    "q31_stream_enrich" -> (Queries.q31StreamEnrich _),
    "q35_stream_late" -> (Queries.q35StreamLate _),
    // winnowing (rolling-hash) document fingerprints
    "q25_winnow_fingerprints" -> (Queries.q25WinnowFingerprints _),
    // display surface: P8 middle-ellipsis truncation, E7 ANSI colorize
    "q26_url_display" -> (Queries.q26UrlDisplay _),
    "q27_colorize" -> (Queries.q27Colorize _),
    // SRP hyperplane-LSH ANN top-k (SQL-replayable md5 planes)
    "q28_lsh_ann" -> (Queries.q28LshAnn _),
    // training-data quality gates: repetition metrics + contamination
    "q29_repetition" -> (Queries.q29Repetition _),
    "q30_contamination" -> (Queries.q30Contamination _),
    // split / duplicate-cluster / sample (pairs→clusters→survivors)
    "q36_train_split" -> (Queries.q36TrainSplit _),
    "q37_dup_clusters" -> (Queries.q37DupClusters _),
    "q38_sample_per_group" -> (Queries.q38SamplePerGroup _),
    // corpus analytics: characteristic terms + boilerplate passages
    "q39_tfidf_terms" -> (Queries.q39Tfidf _),
    "q40_boilerplate_grams" -> (Queries.q40Boilerplate _),
    // semi-structured: JSON metadata extraction + typed aggregation
    "q41_json_props" -> (Queries.q41JsonProps _),
    // relational breadth: as-of join, rollup, pivot
    "q42_asof_join" -> (Queries.q42AsofJoin _),
    "q43_rollup" -> (Queries.q43Rollup _),
    "q44_pivot" -> (Queries.q44Pivot _),
    // PII scrub, bin-bucketed range join, lag-gap profile,
    // cross-batch stateful streaming rate limiter
    "q45_pii_redact" -> (Queries.q45PiiRedact _),
    "q46_range_join" -> (Queries.q46RangeJoin _),
    "q47_event_gaps" -> (Queries.q47EventGaps _),
    "q48_stream_rate_limit" -> (Queries.q48StreamRateLimit _),
    // physical data layout: bucketed co-located join, bounded-file shard
    // export round trip, time-sorted layout with file-skipping scan
    "q49_bucket_join" -> (Queries.q49BucketJoin _),
    "q50_shard_export" -> (Queries.q50ShardExport _),
    "q51_time_pruning" -> (Queries.q51TimePruning _),
    // stream-stream interval join (attribution)
    "q52_stream_join" -> (Queries.q52StreamJoin _),
    // salted-key skew-mitigated shuffle join
    "q53_skew_join" -> (Queries.q53SkewJoin _),
    // SQL-replayable count-min sketch heavy hitters
    "q54_cms_topk" -> (Queries.q54CmsTopk _),
    // 2-D z-order layout with footer-gated two-dim file skipping
    "q55_zorder_layout" -> (Queries.q55ZorderLayout _),
    // runtime bloom-filter join pruning (injected might_contain)
    "q56_runtime_filter" -> (Queries.q56RuntimeFilter _),
    // watermark-bounded streaming dedup (state-evicting seen-set)
    "q58_stream_dedup" -> (Queries.q58StreamDedup _),
    // ordered per-key sequence aggregation (event paths)
    "q57_event_paths" -> (Queries.q57EventPaths _),
    // copy-on-write MERGE with footer-envelope file pruning
    "q59_merge_upsert" -> (Queries.q59MergeUpsert _),
    // add-column schema evolution reconciled at read time
    "q60_schema_evolution" -> (Queries.q60SchemaEvolution _),
    // exactly-once foreachBatch sink into the snapshot store
    "q61_stream_sink" -> (Queries.q61StreamSink _),
    // copy-on-write retention DELETE with envelope file pruning
    "q62_retention_delete" -> (Queries.q62RetentionDelete _),
    // trailing-hour time-RANGE window frames
    "q63_rolling_window" -> (Queries.q63RollingWindow _),
    // blocked edit-distance fuzzy matching (entity resolution)
    "q64_fuzzy_match" -> (Queries.q64FuzzyMatch _),
    // snapshot time travel: the merge fixture read at two versions
    "q65_time_travel" -> (Queries.q65TimeTravel _),

    "crawl_pagerank" -> (Queries.crawlPagerank _),
    "q66_inverted_index" -> (Queries.q66InvertedIndex _),
    "q67_bigram_lm" -> (Queries.q67BigramLm _),
    "q68_feature_bins" -> (Queries.q68FeatureBins _),
    "q69_snapshot_cdc" -> (Queries.q69SnapshotCdc _),
    "q70_stream_sessions" -> (Queries.q70StreamSessions _),
    "q71_mor_delete" -> (Queries.q71MorDelete _),
    // anti-entropy table reconciliation checksum
    "q72_table_checksum" -> (Queries.q72TableChecksum _),
    // df-banded within-doc term co-occurrence (PMI-style lift)
    "q73_term_cooccur" -> (Queries.q73TermCooccur _),
    // integer exponential-decay freshness weighting
    "q74_decay_scores" -> (Queries.q74DecayScores _),
    // triangle motifs over the co-purchase graph
    "q75_triangles" -> (Queries.q75Triangles _),
    // lossless prefix-filtering set-similarity self-join (PPJoin family)
    "q76_prefix_ssjoin" -> (Queries.q76PrefixSsjoin _),
    // ordered funnel (sequence-pattern) analysis
    "q77_funnel" -> (Queries.q77Funnel _),
    // frequency-ranked vocabulary build + order-preserving encode
    "q78_vocab_encode" -> (Queries.q78VocabEncode _),
    // per-doc duplicated-span fraction (ExactSubstr signal)
    "q79_dup_spans" -> (Queries.q79DupSpans _),
    // referential-integrity audit with planted orphans
    "q80_fk_audit" -> (Queries.q80FkAudit _),
    // JSONL sink round trip with read-back content fingerprint
    "q81_jsonl_roundtrip" -> (Queries.q81JsonlRoundtrip _),
    // largest-remainder training-mixture apportionment
    "q82_mixture_alloc" -> (Queries.q82MixtureAlloc _),
    // interleaved text+media spans table: profile + media resolution
    "q83_span_profile" -> (Queries.q83SpanProfile _),
    // classifier-vs-label confusion matrix (evaluation operator)
    "q84_lang_confusion" -> (Queries.q84LangConfusion _),
    // common-neighbor link prediction over the co-purchase graph
    "q85_common_neighbors" -> (Queries.q85CommonNeighbors _),
    // frequent 3-itemsets (Apriori step past pairwise edges)
    "q86_frequent_triples" -> (Queries.q86FrequentTriples _),
    // first-order Markov event-type transition matrix
    "q87_event_transitions" -> (Queries.q87EventTransitions _),
    // cohort retention matrix over 12h activity buckets
    "q88_cohort_retention" -> (Queries.q88CohortRetention _),
    // quantized-integer per-label embedding centroid sums
    "q89_centroid_stats" -> (Queries.q89CentroidStats _),
    // power-of-two (bit-length) inter-arrival gap histogram
    "q90_gap_histogram" -> (Queries.q90GapHistogram _),
    // per-user activity bitmap (bit_or agg + bit_count)
    "q91_activity_bitmask" -> (Queries.q91ActivityBitmask _),
    // column-level data profile (ANALYZE pass)
    "q92_data_profile" -> (Queries.q92DataProfile _),
    // arg-max aggregation: latest event per type without a window sort
    "q93_latest_by_type" -> (Queries.q93LatestByType _),
    // sharded (Merkle-level) checksums: anti-entropy localization
    "q94_shard_checksums" -> (Queries.q94ShardChecksums _),
    // §2.10 part 10: left-outer stream-stream interval join (null
    // emission certified by the watermark)
    "q95_stream_outer_join" -> (Queries.q95StreamOuterJoin _),
    // product-quantization code assignment (integer-exact codebook)
    "q96_pq_codes" -> (Queries.q96PqCodes _),
    // SCD Type-2 dimension versioning
    "q97_scd2_dim" -> (Queries.q97Scd2Dim _),
    // context-length chunking with overlap (sequence packing)
    "q98_chunk_split" -> (Queries.q98ChunkSplit _),
    // robust median/MAD outlier detection (integer-exact)
    "q99_mad_outliers" -> (Queries.q99MadOutliers _),
    // BPE merge-candidate scan (adjacent char-pair counts)
    "q100_bpe_pairs" -> (Queries.q100BpePairs _),
    // snapshot rollback: bad merge undone by an O(1) pointer swap
    "q101_snapshot_rollback" -> (Queries.q101SnapshotRollback _),
    // Merkle-descent repair: digest tree walked level by level, rows
    // touched only inside differing cells
    "q102_merkle_repair" -> (Queries.q102MerkleRepair _),
    // two-sample KS drift statistic, exact-integer rational form
    "q103_ks_drift" -> (Queries.q103KsDrift _),
    // multi-pass blocked fuzzy matching (q64's documented recall path)
    "q104_multi_block" -> (Queries.q104MultiBlock _),
    // small-file bin-packing compaction (rewrite_data_files)
    "q105_compact_files" -> (Queries.q105CompactFiles _),
    // batch ANN kNN join: LSH buckets + exact-integer MIPS rank
    "q106_knn_join" -> (Queries.q106KnnJoin _),
    // trailing-7-day sliding-window distinct users
    "q107_sliding_distinct" -> (Queries.q107SlidingDistinct _),
    // Johnson-Lindenstrauss ±1 random projection, map-side only
    "q108_random_projection" -> (Queries.q108RandomProjection _),
    // O(delta) incremental dedup against a persisted signature index
    "q109_incremental_dedup" -> (Queries.q109IncrementalDedup _),
    // parquet bloom-filter row-group skipping for point lookups
    "q110_bloom_skipping" -> (Queries.q110BloomSkipping _),
    // C4-style line-level boilerplate removal with doc reconstruction
    "q111_line_dedup" -> (Queries.q111LineDedup _),
    // exact-integer ROC AUC via the rank-sum identity
    "q112_auc" -> (Queries.q112Auc _),
    // hive partition pruning: directory-level skipping at planning time
    "q113_partition_pruning" -> (Queries.q113PartitionPruning _),
    // entity resolution end-to-end: blocked match -> transitive closure
    "q114_entity_clusters" -> (Queries.q114EntityClusters _),
    // calendar-spine gap-fill: hourly resample with explicit zeros
    "q115_gap_fill" -> (Queries.q115GapFill _),
    // streaming CDC apply: foreachBatch copy-on-write merge, exactly-once
    "q116_stream_merge" -> (Queries.q116StreamMerge _))

  /** Static oracles. Verify merges OracleGen.all (runtime-rendered VALUES
    * from the sequential RefCrawler) for the crawl and web queries, and
    * OracleGen.dataOracles for q15/q20 (sequential all-pairs / synthesis
    * replay over the sf-dir tables). Every registered query has an oracle
    * (round-3 verdict #6: crawl_lineage now exposes its layout-
    * independent per-wave sums, oracled from RefCrawler origin stats). */
  def oracleSql: Map[String, String] = Map(
    "extract_testcases" -> Queries.extractTestcasesSql,
    "url_canon" -> Queries.urlCanonSql,
    "q14_minhash_pairs" -> Queries.q14Sql,
    "q17_ivf_ann" -> Queries.q17Sql,
    "q18_embed_near_dups" -> Queries.q18Sql,
    "q19_ngram_jaccard" -> Queries.q19Sql,
    "q22_cuckoo_sketch" -> Queries.q22Sql,
    "q23_stream_window" -> Queries.q8Sql, // streaming complete == batch agg
    "q24_stream_first_seen" -> Queries.q24Sql,
    "q31_stream_enrich" -> Queries.q31Sql,
    "q35_stream_late" -> Queries.q35Sql,
    "q25_winnow_fingerprints" -> Queries.q25Sql,
    "q26_url_display" -> Queries.q26Sql,
    "q27_colorize" -> Queries.q27Sql,
    "q28_lsh_ann" -> Queries.q28Sql,
    "q29_repetition" -> Queries.q29Sql,
    "q30_contamination" -> Queries.q30Sql,
    "q1_agg" -> Queries.q1Sql,
    "q2_join_revenue" -> Queries.q2Sql,
    "q3_topk_customers" -> Queries.q3Sql,
    "q4_first_event" -> Queries.q4Sql,
    "q5_anti_join" -> Queries.q5Sql,
    "q6_semi_join" -> Queries.q6Sql,
    "q7_running_sum" -> Queries.q7Sql,
    "q8_time_bucket" -> Queries.q8Sql,
    "q33_sessions" -> Queries.q33Sql,
    "q34_quantiles" -> Queries.q34Sql,
    "q9_tokens" -> Queries.q9Sql,
    "q10_quality" -> Queries.q10Sql,
    "q11_lang_id" -> Queries.q11Sql,
    "q12_exact_dedup" -> Queries.q12Sql,
    "q13_source_stats" -> Queries.q13Sql,
    "q16_embed_topk" -> Queries.q16Sql,
    "q21_frontier_dequeue" -> Queries.q21Sql,
    "q32_priority_dequeue" -> Queries.q32Sql,
    "q36_train_split" -> Queries.q36Sql,
    "q37_dup_clusters" -> Queries.q37Sql,
    "q38_sample_per_group" -> Queries.q38Sql,
    "q39_tfidf_terms" -> Queries.q39Sql,
    "q40_boilerplate_grams" -> Queries.q40Sql,
    "q41_json_props" -> Queries.q41Sql,
    "q42_asof_join" -> Queries.q42Sql,
    "q43_rollup" -> Queries.q43Sql,
    "q44_pivot" -> Queries.q44Sql,
    "q45_pii_redact" -> Queries.q45Sql,
    "q46_range_join" -> Queries.q46Sql,
    "q47_event_gaps" -> Queries.q47Sql,
    "q48_stream_rate_limit" -> Queries.q48Sql,
    "q49_bucket_join" -> Queries.q49Sql,
    "q50_shard_export" -> Queries.q50Sql,
    "q51_time_pruning" -> Queries.q51Sql,
    "q52_stream_join" -> Queries.q52Sql,
    "q53_skew_join" -> Queries.q53Sql,
    "q54_cms_topk" -> Queries.q54Sql,
    "q55_zorder_layout" -> Queries.q55Sql,
    "q56_runtime_filter" -> Queries.q56Sql,
    "q58_stream_dedup" -> Queries.q58Sql,
    "q57_event_paths" -> Queries.q57Sql,
    "q59_merge_upsert" -> Queries.q59Sql,
    "q60_schema_evolution" -> Queries.q60Sql,
    "q61_stream_sink" -> Queries.q61Sql,
    "q62_retention_delete" -> Queries.q62Sql,
    "q63_rolling_window" -> Queries.q63Sql,
    "q64_fuzzy_match" -> Queries.q64Sql,
    "q65_time_travel" -> Queries.q65Sql,
    "q66_inverted_index" -> Queries.q66Sql,
    "q67_bigram_lm" -> Queries.q67Sql,
    "q68_feature_bins" -> Queries.q68Sql,
    "q69_snapshot_cdc" -> Queries.q69Sql,
    "q70_stream_sessions" -> Queries.q33Sql, // all rows on time => batch sessions
    "q71_mor_delete" -> Queries.q71Sql,
    "q72_table_checksum" -> Queries.q72Sql,
    "q73_term_cooccur" -> Queries.q73Sql,
    "q74_decay_scores" -> Queries.q74Sql,
    "q75_triangles" -> Queries.q75Sql,
    "q76_prefix_ssjoin" -> Queries.q76Sql,
    "q77_funnel" -> Queries.q77Sql,
    "q78_vocab_encode" -> Queries.q78Sql,
    "q79_dup_spans" -> Queries.q79Sql,
    "q80_fk_audit" -> Queries.q80Sql,
    "q81_jsonl_roundtrip" -> Queries.q81Sql,
    "q82_mixture_alloc" -> Queries.q82Sql,
    "q83_span_profile" -> Queries.q83Sql,
    "q84_lang_confusion" -> Queries.q84Sql,
    "q85_common_neighbors" -> Queries.q85Sql,
    "q86_frequent_triples" -> Queries.q86Sql,
    "q87_event_transitions" -> Queries.q87Sql,
    "q88_cohort_retention" -> Queries.q88Sql,
    "q89_centroid_stats" -> Queries.q89Sql,
    "q90_gap_histogram" -> Queries.q90Sql,
    "q91_activity_bitmask" -> Queries.q91Sql,
    "q92_data_profile" -> Queries.q92Sql,
    "q93_latest_by_type" -> Queries.q93Sql,
    "q94_shard_checksums" -> Queries.q94Sql,
    "q95_stream_outer_join" -> Queries.q95Sql,
    "q96_pq_codes" -> Queries.q96Sql,
    "q97_scd2_dim" -> Queries.q97Sql,
    "q98_chunk_split" -> Queries.q98Sql,
    "q99_mad_outliers" -> Queries.q99Sql,
    "q100_bpe_pairs" -> Queries.q100Sql,
    "q101_snapshot_rollback" -> Queries.q101Sql,
    "q102_merkle_repair" -> Queries.q102Sql,
    "q103_ks_drift" -> Queries.q103Sql,
    "q104_multi_block" -> Queries.q104Sql,
    "q105_compact_files" -> Queries.q105Sql,
    "q106_knn_join" -> Queries.q106Sql,
    "q107_sliding_distinct" -> Queries.q107Sql,
    "q108_random_projection" -> Queries.q108Sql,
    "q109_incremental_dedup" -> Queries.q109Sql,
    "q110_bloom_skipping" -> Queries.q110Sql,
    "q111_line_dedup" -> Queries.q111Sql,
    "q112_auc" -> Queries.q112Sql,
    "q113_partition_pruning" -> Queries.q113Sql,
    "q114_entity_clusters" -> Queries.q114Sql,
    "q115_gap_fill" -> Queries.q115Sql,
    "q116_stream_merge" -> Queries.q116Sql)
}
