package graft
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{asc_nulls_first, col}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (and the §7 extension set)
  * has an entry in `queries`; those expressible in ANSI SQL have a DuckDB
  * oracle in `oracleSql` with IDENTICAL output column names (the driver
  * sorts columns by name before hashing).
  *
  * Library operators return UNSORTED DataFrames — a global presentation
  * sort is protocol overhead nobody should pay at 100 TB. The driver's
  * hash compare, however, needs a deterministic row order, so this
  * registry (and only it) appends each query's output orderBy. Queries
  * whose ordering IS the semantics (top-k: q_topk, e_knn_brute,
  * d_token_freq) are registered bare.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Multiway star join: revenue per region (broadcast dims, single shuffle).
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.joinMultiway(spark, "/root/testdata/sf0.001")

  private type Q = (SparkSession, String) => DataFrame

  /** Does the plan contain a distribution-REQUIRED shuffle (an exchange
    * EnsureRequirements inserted for an aggregate / join / window /
    * distinct), as opposed to an author-injected round-robin repartition
    * ([[Tables.widen]], shuffleOrigin REPARTITION_BY_NUM)?
    *
    * The distinction decides the protocol-sort form (see [[srt]]): a
    * RangePartitioning sort's bound-sampling pass re-executes exactly the
    * child's LAST stage — everything above its topmost exchange (stages
    * below an existing shuffle boundary are computed once and their
    * shuffle files reused). When the child ends in its own
    * ENSURE_REQUIREMENTS exchange, that re-executed segment is the trivial
    * post-shuffle tail (a final HashAggregate over partial rows), so
    * sampling is a cheap shuffle re-read. An author-injected round-robin
    * exchange is the opposite case by construction: widen exists precisely
    * to parallelize EXPENSIVE compute above it (regex stats, md5
    * shingles), so sampling re-runs that whole compute. AQE note: a plan
    * with any exchange is wrapped in AdaptiveSparkPlanExec, whose children
    * are not reachable via TreeNode traversal — recurse through its
    * (pre-execution) executedPlan explicitly. Subqueries are NOT
    * traversed: within one execution a subquery result is computed once
    * and shared by the sampling and real passes. */
  private def hasRequiredShuffle(plan: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeLike}
    plan match {
      case a: AdaptiveSparkPlanExec => hasRequiredShuffle(a.executedPlan)
      case e: ShuffleExchangeLike =>
        e.shuffleOrigin == ENSURE_REQUIREMENTS || e.children.exists(hasRequiredShuffle)
      case p => p.children.exists(hasRequiredShuffle)
    }
  }

  /** Protocol adapter: append the deterministic presentation sort the
    * driver's row-order-sensitive hash needs. Library operators return
    * UNSORTED frames; only this registry pays the sort.
    *
    * CHILD-AWARE form (round 22, VERDICT r21 item 1; guide §2.4/§1.4).
    * Round 21 swapped every query to repartition(1)+sortWithinPartitions
    * unconditionally; the driver's 32-core bench split the outcome exactly
    * on the child's plan shape:
    *
    *   - child with NO required exchange (filtered scan q1 1.38×, widened
    *     regex projection d_text_stats 2.08× — driver-measured wins): a
    *     global orderBy's RangePartitioning bound-sampling pass re-executes
    *     the child's full compute before the real pass, silently doubling
    *     the operator. The single-partition shuffle sort produces the
    *     identical total row order with one exchange and no sampling.
    *     KEEP repartition(1)+sortWithinPartitions here.
    *
    *   - child ending in its own ENSURE_REQUIREMENTS exchange (aggregate /
    *     join / window tops: q2 4.4× SLOWER, q4 1.6×, q_agg_pricing 1.23×,
    *     q_count_distinct 1.22× — driver-measured regressions, CI-tight):
    *     there the sampling pass only re-reads shuffle output plus a
    *     trivial final-aggregate tail, so the swap bought nothing and paid
    *     a single-reducer round-robin funnel that was pathological at 32
    *     threads on the driver's box. RESTORE orderBy here (the r20 shape,
    *     whose driver numbers are the verdict's acceptance targets).
    *     Round-22 mechanism A/B at local[32] sf0.1 (plans/r22/
    *     protocol_sort_ab.txt): coalesce(1)+sortWithinPartitions is
    *     slightly faster still on tiny agg outputs (q2 0.179 vs 0.313
    *     orderBy) but serializes the whole post-shuffle stage — measured
    *     2× WORSE where that stage carries compute (d_text_stats 0.435 vs
    *     0.228) — and has no driver-side ground truth, so orderBy is the
    *     evidence-backed choice.
    *
    * Scale posture (VERDICT r21 item 2): with this rule the claim "a real
    * 100 TB presentation sort uses orderBy's range sort" is now CODE, not
    * a comment, for every shuffle-reduced output; the single-partition
    * form survives only on exchange-free children, whose protocol outputs
    * the driver collects and hashes row-by-row by contract. For corpora
    * where even those outputs are too big for one partition,
    * `spark.graft.protocolSort=range` forces the scalable range sort on
    * every path (`single` forces the r21 shape; default `auto` = the
    * child-aware rule). The decision is memoized per (session, data dir) —
    * it is a plan-shape probe, never data — so repeated bench runs do not
    * pay the extra physical planning pass. */
  private def srt(fn: Q, keys: Column*): Q = {
    val shape = new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), java.lang.Boolean]
    (s, d) => {
      val df = fn(s, d)
      val mode = s.conf.get("spark.graft.protocolSort", "auto")
      val range = mode match {
        case "range"  => true
        case "single" => false
        case _ =>
          shape.computeIfAbsent((s, d),
            _ => hasRequiredShuffle(df.queryExecution.executedPlan)).booleanValue()
      }
      if (range) df.orderBy(keys: _*)
      else df.repartition(1).sortWithinPartitions(keys: _*)
    }
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // — reference surface (hive.py Q1-Q4 over events) —
    "q1_time_filter" -> srt(ReferenceQueries.q1TimeFilter _, col("event_id")),
    "q2_hourly_avg"  -> srt(ReferenceQueries.q2HourlyAvg _, col("hour_bucket")),
    "q3_union_cube"  -> srt(ReferenceQueries.q3UnionCube _,
      asc_nulls_first("room"), asc_nulls_first("hour_bucket")),
    "q4_join_aggs"   -> srt(ReferenceQueries.q4JoinAggs _, col("hour_bucket")),
    // — generalized relational surface (SURVEY.md §7.2 step 6) —
    "q_agg_pricing"     -> srt(Relational.aggPricing _, col("l_returnflag"), col("l_linestatus")),
    "q_filter_range"    -> srt(Relational.filterRange _, col("l_orderkey"), col("l_linenumber")),
    "q_join_inner"      -> srt(Relational.joinInner _, col("o_orderkey")),
    "q_join_left"       -> srt(Relational.joinLeft _,
      asc_nulls_first("c_custkey"), asc_nulls_first("o_orderkey")),
    "q_join_semi"       -> srt(Relational.joinSemi _, col("c_custkey")),
    "q_join_anti"       -> srt(Relational.joinAnti _, col("c_custkey")),
    "q_join_right"      -> srt(Relational.joinRight _,
      asc_nulls_first("c_custkey"), asc_nulls_first("o_orderkey")),
    "q_cross_join"      -> srt(Relational.crossJoin _, col("r_name"), col("n_name")),
    "q_join_full"       -> srt(Relational.joinFull _, asc_nulls_first("nationkey")),
    "q_join_multiway"   -> srt(Relational.joinMultiway _, col("r_name")),
    "q_union_all"       -> srt(Relational.unionAll _, col("src"), col("nationkey"), col("name")),
    "q_union_distinct"  -> srt(Relational.unionDistinct _, col("nationkey")),
    "q_intersect"       -> srt(Relational.intersectKeys _, col("nationkey")),
    "q_except"          -> srt(Relational.exceptKeys _, col("nationkey")),
    "q_intersect_all"   -> srt(Relational.intersectAllKeys _, col("nationkey")),
    "q_except_all"      -> srt(Relational.exceptAllKeys _, col("nationkey")),
    "q_distinct"        -> srt(Relational.distinctOp _, col("c_mktsegment"), col("c_nationkey")),
    "q_topk"            -> (Relational.topK _),
    "q_window_rank"     -> srt(Relational.windowRank _, col("o_custkey"), col("rn")),
    "q_window_running"  -> srt(Relational.windowRunning _, col("o_custkey"), col("o_orderkey")),
    "q_window_count_distinct" -> srt(Relational.windowCountDistinct _, col("user_id"), col("event_id")),
    "q_funnel"          -> srt(Relational.funnel _, col("stage")),
    "q_histogram"       -> srt(Relational.histogram _, col("bin")),
    "q_zorder_key"      -> srt(Relational.zorderKey _, col("event_id")),
    "q_winsorize"       -> srt(Relational.winsorize _, col("event_id")),
    "q_resample_lerp"   -> srt(Relational.resampleInterpolate _, col("user_id"), col("grid_t")),
    "q_transition_matrix" -> srt(Relational.transitionMatrix _, col("prev_type"), col("next_type")),
    "q_anomaly_zscore"  -> srt(Relational.anomalyZscore _, col("event_id")),
    "q_ewma"            -> srt(Relational.ewmaSmooth _, col("event_id")),
    "q_cusum"           -> srt(Relational.cusumShift _, col("event_id")),
    "d_token_triangles" -> srt(ext.TextAnalysis.tokenTriangles _, col("token")),
    "q_window_lag"      -> srt(Relational.windowLag _,
      asc_nulls_first("o_custkey"), asc_nulls_first("o_orderkey")),
    "q_window_rankings" -> srt(Relational.windowRankings _,
      asc_nulls_first("o_custkey"), asc_nulls_first("o_orderkey")),
    "q_array_funcs"     -> srt(Relational.arrayFuncs _, col("doc_id")),
    "q_explode"         -> srt(Relational.explodeTokens _, col("doc_id"), col("pos")),
    "q_explode_outer"   -> srt(Relational.explodeOuterTokens _,
      col("doc_id"), asc_nulls_first("token")),
    "q_unpivot"         -> srt(Relational.unpivotOp _, col("o_orderkey"), col("metric")),
    "q_sessionize"      -> srt(Relational.sessionize _, col("user_id"), col("session_id")),
    "q_scd2"            -> srt(Relational.scd2 _, col("user_id"), col("valid_from"), col("event_id")),
    "q_collect_agg"     -> srt(Relational.collectAgg _, col("r_name")),
    "q_window_firstlast" -> srt(Relational.windowFirstLast _, col("o_custkey"), col("o_orderkey")),
    "q_window_range"    -> srt(Relational.windowRangeFrame _, col("o_custkey"), col("o_orderkey")),
    "q_window_pct"      -> srt(Relational.windowPercentiles _, col("o_custkey"), col("o_orderkey")),
    "q_rollup"          -> srt(Relational.rollupOp _,
      asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority")),
    "q_grouping_sets"   -> srt(Relational.groupingSetsOp _,
      asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority")),
    "q_having"          -> srt(Relational.havingOp _, col("o_custkey")),
    "q_case_when"       -> srt(Relational.caseWhen _, col("bucket")),
    "q_string_funcs"    -> srt(Relational.stringFuncs _, col("c_custkey")),
    "q_like_filter"     -> srt(Relational.likeFilter _, col("p_partkey")),
    "q_date_funcs"      -> srt(Relational.dateFuncs _, col("o_orderkey")),
    "q_math_funcs"      -> srt(Relational.mathFuncs _, col("l_orderkey"), col("l_linenumber")),
    "q_json_extract"    -> srt(Relational.jsonExtract _, col("event_type")),
    "q_count_distinct"  -> srt(Relational.countDistinctOp _, col("event_type")),
    "q_approx_distinct" -> srt(Relational.approxDistinct _, col("event_type")),
    "q_approx_pctile"   -> srt(Relational.approxPercentileOp _, col("l_returnflag")),
    "q_scalar_subquery" -> srt(Relational.scalarSubquery _, col("o_orderkey")),
    "q_correlated_subq" -> srt(Relational.correlatedSubquery _, col("o_orderkey")),
    "q_stats_agg"       -> srt(Relational.statsAgg _, col("l_returnflag")),
    "q_throttle_dedup"  -> srt(Relational.throttleDedup _, col("event_id")),
    "q_pivot"           -> srt(Relational.pivotOp _, col("hour_bucket")),
    "q_sample_seeded"   -> srt(Relational.sampleSeeded _, col("l_orderkey"), col("l_linenumber")),
    "q_sample_hash"     -> srt(Relational.sampleHash _, col("l_orderkey"), col("l_linenumber")),
    "q_asof_join"       -> srt(Relational.asofJoin _, col("event_id")),
    "q_merge_upsert"    -> srt(Relational.mergeUpsert _, col("o_orderkey")),
    "q_mv_refresh"      -> srt(Relational.mvRefresh _, col("user_id")),
    "q_table_checksum"  -> (Relational.tableChecksum _),
    "q_date_spine"      -> srt(Relational.dateSpine _, col("day")),
    "q_cohort_retention" -> srt(Relational.cohortRetention _, col("cohort_month"), col("months_since")),
    "q_range_join"      -> srt(Relational.rangeJoin _, col("band")),
    "q_window_ignore_nulls" -> srt(Relational.windowIgnoreNulls _, col("o_custkey"), col("o_orderkey")),
    "q_gaps_islands"    -> srt(Relational.gapsIslands _, col("o_custkey"), col("island_start")),
    "q_null_funcs"      -> srt(Relational.nullFuncs _, col("o_orderkey")),
    "q_lateral"         -> srt(Relational.lateralTopPerRegion _,
      col("r_name"), org.apache.spark.sql.functions.desc("acctbal"), col("c_name")),
    "q_struct_funcs"    -> srt(Relational.structFuncs _, col("o_orderkey")),
    "q_map_funcs"       -> srt(Relational.mapFuncs _, col("event_id")),
    "q_regexp_funcs"    -> srt(Relational.regexpFuncs _, col("c_custkey")),
    "q_skew_join_salted" -> srt(Relational.skewJoinSalted _, col("o_orderpriority")),
    "q_orc_scan"        -> srt(sources.OrcSource.orcScan _, col("o_orderstatus")),
    "q_schema_drift"    -> srt(sources.SchemaDrift.schemaDrift _, col("o_orderkey")),
    "q_partition_pruned" -> srt(sources.PartitionedScan.partitionPruned _, col("day")),
    "q_json_scan"       -> srt(sources.JsonSource.jsonScan _, col("o_orderstatus")),
    // — LLM-data-pipeline extensions (SURVEY.md §7.2 step 8) —
    "d_text_stats"      -> srt(ext.TextAnalysis.textStats _, col("doc_id")),
    "d_lang_id"         -> srt(ext.TextAnalysis.langId _, col("doc_id")),
    "d_fingerprint"     -> srt(ext.TextAnalysis.fingerprint _, col("doc_id")),
    "d_winnow"          -> srt(ext.TextAnalysis.winnow _, col("doc_id"), col("pos"), col("fp")),
    "d_winnow_overlap"  -> srt(ext.TextAnalysis.winnowOverlap _, col("doc_a"), col("doc_b")),
    "d_token_freq"      -> (ext.TextAnalysis.tokenFreq _),
    "d_ngram_counts"    -> (ext.TextAnalysis.ngramCounts _),
    "d_pmi_colloc"      -> srt(ext.TextAnalysis.pmiColloc _, col("rank")),
    "d_quality_filter"  -> srt(ext.TextAnalysis.qualityFilter _, col("doc_id")),
    "d_repetition_filter" -> srt(ext.TextAnalysis.repetitionFilter _, col("doc_id")),
    "d_stratified_sample" -> srt(ext.TextAnalysis.stratifiedSample _, col("doc_id")),
    "d_temperature_mix" -> srt(ext.TextAnalysis.temperatureMix _, col("doc_id")),
    "d_dsir_weights"    -> srt(ext.TextAnalysis.dsirWeights _, col("doc_id")),
    "d_dsir_weights_wide" -> srt(ext.TextAnalysis.dsirWeightsWide _,
      col("doc_id")),
    "d_dsir_resample"   -> srt(ext.TextAnalysis.dsirResample _, col("doc_id")),
    "d_dsir_streamed"   -> srt(streaming.StreamDsir.dsirStreamed _, col("doc_id")),
    "d_dsir_kl"         -> srt(ext.TextAnalysis.dsirKl _, col("source")),
    "d_dsir_kl_streamed" -> srt(streaming.StreamDrift.dsirKlStreamed _,
      col("wave"), col("source")),
    "d_pack_chunks"     -> srt(ext.TextAnalysis.packChunks _, col("doc_id")),
    "d_chunk_overlap"   -> srt(ext.TextAnalysis.chunkOverlap _, col("doc_id"), col("chunk_idx")),
    "d_doc_normalize"   -> srt(ext.TextAnalysis.normalize _, col("doc_id")),
    "d_pii_redact"      -> srt(ext.TextAnalysis.piiRedact _, col("doc_id")),
    "d_bpe_merges"      -> srt(ext.TextAnalysis.bpeMerges _, col("round")),
    "d_bpe_merges12"    -> srt(ext.TextAnalysis.bpeMerges12 _, col("round")),
    "d_bpe_encode"      -> srt(ext.TextAnalysis.bpeEncode _, col("token")),
    "d_corpus_stats"    -> srt(ext.TextAnalysis.corpusStats _, col("source"), col("lang")),
    "d_span_dedup"      -> srt(ext.TextAnalysis.spanDedup _, col("doc_id")),
    "m_scene_cuts"      -> srt(ext.Multimodal.sceneCuts _, col("doc_id"), col("frame_idx")),
    "d_dedup_exact"     -> srt(ext.Dedup.dedupExact _, col("keep_id")),
    "d_dedup_minhash"   -> srt(ext.Dedup.dedupMinhash _, col("doc_id")),
    "d_dedup_simhash"   -> srt(ext.Dedup.dedupSimhash _, col("doc_id")),
    "d_ngram_jaccard"   -> srt(ext.Dedup.ngramJaccardFixture _, col("doc_a"), col("doc_b")),
    "d_dedup_groups"    -> srt(ext.Dedup.dedupGroups _, col("doc_id")),
    "d_dedup_pipeline"  -> srt(ext.Dedup.dedupPipeline _, col("doc_id")),
    "d_dedup_pipeline_bucketed" -> srt(ext.Dedup.dedupPipelineBucketed _, col("doc_id")),
    "d_dedup_fuzzy"     -> srt(ext.Dedup.dedupFuzzy _, col("doc_a"), col("doc_b")),
    "d_dedup_incremental" -> srt(ext.Dedup.dedupIncremental _, col("doc_id")),
    "d_dedup_streamed"  -> srt(ext.Dedup.dedupStreamed _, col("doc_id")),
    "d_daily_ingest"    -> srt(ext.Dedup.dailyIngest _, col("doc_id")),
    "d_minhash_est"     -> srt(ext.Dedup.minhashEstimate _, col("doc_a"), col("doc_b")),
    "d_contamination"   -> srt(ext.Dedup.contamination _, col("doc_id"), col("bench_id")),
    "d_bloom_decontam"  -> srt(ext.Dedup.bloomDecontamination _, col("doc_id"), col("bench_id")),
    "d_para_decontam"   -> srt(ext.Dedup.paraContamination _, col("doc_id")),
    "d_lsh_scurve"      -> srt(ext.Dedup.lshScurve _, col("bucket")),
    "d_crossmodal_dedup" -> srt(ext.Dedup.crossmodalDedup _, col("doc_a"), col("doc_b")),
    "e_knn_brute"       -> (ext.Similarity.knnBrute _),
    "e_knn_per_vec"     -> srt(ext.Similarity.knnPerVec _, col("q_id"), col("rank")),
    "e_emb_stats"       -> srt(ext.Similarity.embStats _, col("vec_id")),
    "e_centroids"       -> srt(ext.Similarity.centroids _, col("label"), col("dim")),
    "e_silhouette"      -> srt(ext.Similarity.silhouette _, col("vec_id")),
    "e_pca_project"     -> srt(ext.Similarity.pcaProject _, col("vec_id")),
    "e_ann_recall"      -> srt(ext.Similarity.annRecallEval _, col("method")),
    "e_quantize"        -> srt(ext.Similarity.quantize _, col("vec_id"), col("dim")),
    "e_ann_lsh"         -> srt(ext.Similarity.annLsh _, col("vec_id")),
    "e_ann_ivf"         -> srt(ext.Similarity.annIvf _, col("q_id"), col("rank")),
    "e_ann_ivf_probe2"  -> srt(ext.Similarity.annIvfProbe2 _, col("q_id"), col("rank")),
    "e_ann_ivf_incr"    -> srt(ext.Similarity.annIvfIncremental _, col("q_id"), col("rank")),
    "e_cluster_topics"  -> srt(ext.Similarity.clusterTopics _, col("cell"), col("rank")),
    "e_cosine_dedup"    -> srt(ext.Similarity.cosineDedupExactSmall(_, _), col("vec_a"), col("vec_b")),
    "e_semantic_dedup"  -> srt(ext.Similarity.semanticDedup _, col("vec_id")),
    "e_hamming_ann"     -> srt(ext.Similarity.hammingAnn _, col("q_id"), col("rank")),
    "e_hamming_rerank"  -> srt(ext.Similarity.hammingRerank _, col("q_id"), col("rank")),
    "e_rabitq_ann"      -> srt(ext.Similarity.rabitqAnn _, col("q_id"), col("rank")),
    "e_ann_sq8"         -> srt(ext.Similarity.annSq8 _, col("q_id"), col("rank")),
    "e_hard_negatives"  -> srt(ext.Similarity.hardNegatives _, col("q_id"), col("rank")),
    "e_ann_pq"          -> srt(ext.Similarity.annPq _, col("q_id"), col("rank")),
    "e_ann_ivfpq"       -> srt(ext.Similarity.annIvfPq _, col("q_id"), col("rank")),
    "e_ann_ivfpq_probe2" -> srt(ext.Similarity.annIvfPqProbe2 _, col("q_id"), col("rank")),
    "e_ann_index_lookup" -> srt(ext.Similarity.annIndexRoundTrip _, col("q_id"), col("rank")),
    "e_ann_index_streamed" -> srt(streaming.StreamAnnIndex.annIndexStreamed _, col("q_id"), col("rank")),
    "e_ann_pq_refine"   -> srt(ext.Similarity.annPqRefine _, col("q_id"), col("rank")),
    "e_ann_opq"         -> srt(ext.Similarity.annOpq _, col("q_id"), col("rank")),
    "e_mrl_energy"      -> srt(ext.Similarity.mrlEnergy _, col("vec_id"), col("prefix")),
    "e_mrl_ann"         -> srt(ext.Similarity.mrlAnn _, col("q_id"), col("rank")),
    "d_bm25_search"     -> (ext.TextAnalysis.bm25Search _),
    "d_tfidf_search"    -> (ext.TextAnalysis.tfidfSearch _),
    "d_tfidf_keywords"  -> srt(ext.TextAnalysis.tfidfKeywords _, col("doc_id"), col("rank")),
    "d_classifier_score" -> srt(ext.TextAnalysis.classifierScore _, col("doc_id")),
    "d_quality_ensemble" -> srt(ext.TextAnalysis.qualityEnsemble _, col("doc_id")),
    "d_dataset_split"   -> srt(ext.TextAnalysis.datasetSplit _, col("doc_id")),
    "d_corpus_shuffle"  -> srt(ext.TextAnalysis.corpusShuffle _, col("doc_id")),
    "d_corpus_mix"      -> srt(ext.TextAnalysis.corpusMix _, col("doc_id")),
    "d_corpus_mix_tokens" -> srt(ext.TextAnalysis.corpusMixTokens _, col("doc_id")),
    "d_corpus_mix_incr" -> srt(ext.TextAnalysis.corpusMixIncr _, col("doc_id")),
    "d_corpus_mix_streamed" -> srt(streaming.StreamMix.corpusMixStreamed _, col("doc_id")),
    "d_corpus_mix_tokens_streamed" -> srt(streaming.StreamMixTokens.corpusMixTokensStreamed _, col("doc_id")),
    "d_token_entropy"   -> srt(ext.TextAnalysis.tokenEntropy _, col("doc_id")),
    "d_lm_quality"      -> srt(ext.TextAnalysis.lmQuality _, col("doc_id")),
    "d_bigram_lm"       -> srt(ext.TextAnalysis.bigramLm _, col("doc_id")),
    "d_cms_tokens"      -> (ext.TextAnalysis.cmsTokens _),
    "d_heavy_hitters"   -> (ext.TextAnalysis.heavyHitters _),
    "d_kmv_distinct"    -> srt(ext.TextAnalysis.kmvDistinct _, col("lang")),
    "d_token_pagerank"  -> (ext.TextAnalysis.tokenPagerank _),
    "e_cosine_dedup_lsh" -> srt(ext.Similarity.cosineDedupLsh _, col("vec_a"), col("vec_b")),
    "m_payload_meta"    -> srt(ext.Multimodal.payloadMeta _, col("doc_id")),
    "m_frame_sample"    -> srt(ext.Multimodal.frameSample _, col("doc_id"), col("frame_idx")),
    "m_audio_window"    -> srt(ext.Multimodal.audioWindows _, col("doc_id"), col("win_idx")),
    "m_audio_vad"       -> srt(ext.Multimodal.audioVad _, col("doc_id"), col("seg_idx")),
    "m_feature_extract" -> srt(ext.Multimodal.featureExtract _, col("doc_id"), col("bin")),
    "m_resize"          -> srt(ext.Multimodal.resize _, col("doc_id")),
    "m_phash_dedup"     -> srt(ext.Multimodal.phashDedup _, col("doc_a"), col("doc_b")),
  )

  /** Queries registered WITHOUT an oracle — machine-readable so the
    * driver/COVERAGE can distinguish "intentionally unoracled" from "oracle
    * missing". Invariant (spec-enforced): `rowsOnly` and `oracleSql.keySet`
    * partition `queries.keySet` exactly. Currently one entry:
    * `q_sample_seeded` uses Spark's engine-defined Bernoulli-sample RNG, so
    * no cross-engine oracle can exist; its portable twin `q_sample_hash`
    * (deterministic hash predicate) is the oracled form of the operator. */
  val rowsOnly: Set[String] = Set("q_sample_seeded")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q1_time_filter" -> ReferenceQueries.q1Sql,
    "q2_hourly_avg"  -> ReferenceQueries.q2Sql,
    "q3_union_cube"  -> ReferenceQueries.q3Sql,
    "q4_join_aggs"   -> ReferenceQueries.q4Sql,
    "q_agg_pricing"     -> Relational.aggPricingSql,
    "q_filter_range"    -> Relational.filterRangeSql,
    "q_join_inner"      -> Relational.joinInnerSql,
    "q_join_left"       -> Relational.joinLeftSql,
    "q_join_semi"       -> Relational.joinSemiSql,
    "q_join_anti"       -> Relational.joinAntiSql,
    "q_join_right"      -> Relational.joinRightSql,
    "q_cross_join"      -> Relational.crossJoinSql,
    "q_join_full"       -> Relational.joinFullSql,
    "q_join_multiway"   -> Relational.joinMultiwaySql,
    "q_union_all"       -> Relational.unionAllSql,
    "q_union_distinct"  -> Relational.unionDistinctSql,
    "q_intersect"       -> Relational.intersectKeysSql,
    "q_except"          -> Relational.exceptKeysSql,
    "q_intersect_all"   -> Relational.intersectAllKeysSql,
    "q_except_all"      -> Relational.exceptAllKeysSql,
    "q_distinct"        -> Relational.distinctOpSql,
    "q_topk"            -> Relational.topKSql,
    "q_window_rank"     -> Relational.windowRankSql,
    "q_window_running"  -> Relational.windowRunningSql,
    "q_window_count_distinct" -> Relational.windowCountDistinctSql,
    "q_funnel"          -> Relational.funnelSql,
    "q_histogram"       -> Relational.histogramSql,
    "q_zorder_key"      -> Relational.zorderKeySql,
    "q_winsorize"       -> Relational.winsorizeSql,
    "q_resample_lerp"   -> Relational.resampleInterpolateSql,
    "q_transition_matrix" -> Relational.transitionMatrixSql,
    "q_anomaly_zscore"  -> Relational.anomalyZscoreSql,
    "q_ewma"            -> Relational.ewmaSmoothSql,
    "q_cusum"           -> Relational.cusumShiftSql,
    "d_token_triangles" -> ext.TextAnalysis.tokenTrianglesSql,
    "q_window_lag"      -> Relational.windowLagSql,
    "q_window_rankings" -> Relational.windowRankingsSql,
    "q_array_funcs"     -> Relational.arrayFuncsSql,
    "q_explode"         -> Relational.explodeTokensSql,
    "q_explode_outer"   -> Relational.explodeOuterTokensSql,
    "q_unpivot"         -> Relational.unpivotOpSql,
    "q_sessionize"      -> Relational.sessionizeSql,
    "q_scd2"            -> Relational.scd2Sql,
    "q_collect_agg"     -> Relational.collectAggSql,
    "q_window_firstlast" -> Relational.windowFirstLastSql,
    "q_window_range"    -> Relational.windowRangeFrameSql,
    "q_window_pct"      -> Relational.windowPercentilesSql,
    "q_rollup"          -> Relational.rollupOpSql,
    "q_grouping_sets"   -> Relational.groupingSetsOpSql,
    "q_having"          -> Relational.havingOpSql,
    "q_case_when"       -> Relational.caseWhenSql,
    "q_string_funcs"    -> Relational.stringFuncsSql,
    "q_like_filter"     -> Relational.likeFilterSql,
    "q_date_funcs"      -> Relational.dateFuncsSql,
    "q_math_funcs"      -> Relational.mathFuncsSql,
    "q_json_extract"    -> Relational.jsonExtractSql,
    "q_count_distinct"  -> Relational.countDistinctOpSql,
    "q_approx_distinct" -> Relational.approxDistinctSql,
    "q_approx_pctile"   -> Relational.approxPercentileOpSql,
    "q_sample_hash"     -> Relational.sampleHashSql,
    "q_asof_join"       -> Relational.asofJoinSql,
    "q_merge_upsert"    -> Relational.mergeUpsertSql,
    "q_mv_refresh"      -> Relational.mvRefreshSql,
    "q_table_checksum"  -> Relational.tableChecksumSql,
    "q_date_spine"      -> Relational.dateSpineSql,
    "q_cohort_retention" -> Relational.cohortRetentionSql,
    "q_range_join"      -> Relational.rangeJoinSql,
    "q_window_ignore_nulls" -> Relational.windowIgnoreNullsSql,
    "q_gaps_islands"    -> Relational.gapsIslandsSql,
    "q_null_funcs"      -> Relational.nullFuncsSql,
    "q_lateral"         -> Relational.lateralTopPerRegionSql,
    "q_struct_funcs"    -> Relational.structFuncsSql,
    "q_map_funcs"       -> Relational.mapFuncsSql,
    "q_regexp_funcs"    -> Relational.regexpFuncsSql,
    "q_skew_join_salted" -> Relational.skewJoinSaltedSql,
    "q_orc_scan"        -> sources.OrcSource.orcScanSql,
    "q_schema_drift"    -> sources.SchemaDrift.schemaDriftSql,
    "q_partition_pruned" -> sources.PartitionedScan.partitionPrunedSql,
    "q_json_scan"       -> sources.JsonSource.jsonScanSql,
    "q_scalar_subquery" -> Relational.scalarSubquerySql,
    "q_correlated_subq" -> Relational.correlatedSubquerySql,
    "q_stats_agg"       -> Relational.statsAggSql,
    "q_throttle_dedup"  -> Relational.throttleDedupSql,
    "q_pivot"           -> Relational.pivotOpSql,
    "d_text_stats"      -> ext.TextAnalysis.textStatsSql,
    "d_lang_id"         -> ext.TextAnalysis.langIdSql,
    "d_fingerprint"     -> ext.TextAnalysis.fingerprintSql,
    "d_token_freq"      -> ext.TextAnalysis.tokenFreqSql,
    "d_ngram_counts"    -> ext.TextAnalysis.ngramCountsSql,
    "d_quality_filter"  -> ext.TextAnalysis.qualityFilterSql,
    "d_repetition_filter" -> ext.TextAnalysis.repetitionFilterSql,
    "d_stratified_sample" -> ext.TextAnalysis.stratifiedSampleSql,
    "d_temperature_mix" -> ext.TextAnalysis.temperatureMixSql,
    "d_dsir_weights"    -> ext.TextAnalysis.dsirWeightsSql,
    "d_dsir_weights_wide" -> ext.TextAnalysis.dsirWeightsWideSql,
    "d_dsir_resample"   -> ext.TextAnalysis.dsirResampleSql,
    "d_dsir_streamed"   -> ext.TextAnalysis.dsirStreamedSql,
    "d_dsir_kl"         -> ext.TextAnalysis.dsirKlSql,
    "d_dsir_kl_streamed" -> ext.TextAnalysis.dsirKlStreamedSql,
    "d_pack_chunks"     -> ext.TextAnalysis.packChunksSql,
    "d_chunk_overlap"   -> ext.TextAnalysis.chunkOverlapSql,
    "d_doc_normalize"   -> ext.TextAnalysis.normalizeSql,
    "d_pii_redact"      -> ext.TextAnalysis.piiRedactSql,
    "d_bpe_merges"      -> ext.TextAnalysis.bpeMergesSql,
    "d_bpe_merges12"    -> ext.TextAnalysis.bpeMerges12Sql,
    "d_bpe_encode"      -> ext.TextAnalysis.bpeEncodeSql,
    "d_corpus_stats"    -> ext.TextAnalysis.corpusStatsSql,
    "d_span_dedup"      -> ext.TextAnalysis.spanDedupSql,
    "d_pmi_colloc"      -> ext.TextAnalysis.pmiCollocSql,
    "d_winnow"          -> ext.TextAnalysis.winnowSql,
    "d_winnow_overlap"  -> ext.TextAnalysis.winnowOverlapSql,
    "m_scene_cuts"      -> ext.Multimodal.sceneCutsSql,
    "d_dedup_exact"     -> ext.Dedup.dedupExactSql,
    "d_dedup_minhash"   -> ext.Dedup.dedupMinhashSql,
    "d_dedup_simhash"   -> ext.Dedup.dedupSimhashSql,
    "d_ngram_jaccard"   -> ext.Dedup.ngramJaccardSql,
    "d_dedup_groups"    -> ext.Dedup.dedupGroupsSql,
    "d_dedup_pipeline"  -> ext.Dedup.dedupPipelineSql,
    // physical layout (persisted bucketed bands) must never leak into answers
    "d_dedup_pipeline_bucketed" -> ext.Dedup.dedupPipelineSql,
    "d_dedup_fuzzy"     -> ext.Dedup.dedupFuzzySql,
    "d_dedup_incremental" -> ext.Dedup.dedupIncrementalSql,
    "d_dedup_streamed"  -> ext.Dedup.dedupStreamedSql,
    "d_daily_ingest"    -> ext.Dedup.dailyIngestSql,
    "d_minhash_est"     -> ext.Dedup.minhashEstimateSql,
    "d_contamination"   -> ext.Dedup.contaminationSql,
    "d_bloom_decontam"  -> ext.Dedup.bloomDecontaminationSql,
    "d_para_decontam"   -> ext.Dedup.paraContaminationSql,
    "d_lsh_scurve"      -> ext.Dedup.lshScurveSql,
    "d_crossmodal_dedup" -> ext.Dedup.crossmodalDedupSql,
    "e_knn_brute"       -> ext.Similarity.knnBruteSql,
    "e_knn_per_vec"     -> ext.Similarity.knnPerVecSql,
    "e_emb_stats"       -> ext.Similarity.embStatsSql,
    "e_centroids"       -> ext.Similarity.centroidsSql,
    "e_silhouette"      -> ext.Similarity.silhouetteSql,
    "e_pca_project"     -> ext.Similarity.pcaProjectSql,
    "e_ann_recall"      -> ext.Similarity.annRecallEvalSql,
    "e_quantize"        -> ext.Similarity.quantizeSql,
    "e_ann_lsh"         -> ext.Similarity.annLshSql,
    "e_ann_ivf"         -> ext.Similarity.annIvfSql,
    "e_ann_ivf_probe2"  -> ext.Similarity.annIvfProbe2Sql,
    "e_ann_ivf_incr"    -> ext.Similarity.annIvfIncrementalSql,
    "e_cluster_topics"  -> ext.Similarity.clusterTopicsSql,
    "e_cosine_dedup"    -> ext.Similarity.cosineDedupSql,
    "e_semantic_dedup"  -> ext.Similarity.semanticDedupSql,
    "e_hamming_ann"     -> ext.Similarity.hammingAnnSql,
    "e_hamming_rerank"  -> ext.Similarity.hammingRerankSql,
    "e_rabitq_ann"      -> ext.Similarity.rabitqAnnSql,
    "e_ann_sq8"         -> ext.Similarity.annSq8Sql,
    "e_hard_negatives"  -> ext.Similarity.hardNegativesSql,
    "e_ann_pq"          -> ext.Similarity.annPqSql,
    "e_ann_ivfpq"       -> ext.Similarity.annIvfPqSql,
    "e_ann_ivfpq_probe2" -> ext.Similarity.annIvfPqProbe2Sql,
    // round-trip through the saved index must be invisible to results
    "e_ann_index_lookup" -> ext.Similarity.annIvfPqSql,
    "e_ann_index_streamed" -> ext.Similarity.annIndexStreamedSql,
    "e_ann_pq_refine"   -> ext.Similarity.annPqRefineSql,
    "e_ann_opq"         -> ext.Similarity.annOpqSql,
    "e_mrl_energy"      -> ext.Similarity.mrlEnergySql,
    "e_mrl_ann"         -> ext.Similarity.mrlAnnSql,
    "d_bm25_search"     -> ext.TextAnalysis.bm25SearchSql,
    "d_tfidf_search"    -> ext.TextAnalysis.tfidfSearchSql,
    "d_tfidf_keywords"  -> ext.TextAnalysis.tfidfKeywordsSql,
    "d_classifier_score" -> ext.TextAnalysis.classifierScoreSql,
    "d_quality_ensemble" -> ext.TextAnalysis.qualityEnsembleSql,
    "d_dataset_split"   -> ext.TextAnalysis.datasetSplitSql,
    "d_corpus_shuffle"  -> ext.TextAnalysis.corpusShuffleSql,
    "d_corpus_mix"      -> ext.TextAnalysis.corpusMixSql,
    "d_corpus_mix_tokens" -> ext.TextAnalysis.corpusMixTokensSql,
    "d_corpus_mix_incr" -> ext.TextAnalysis.corpusMixIncrSql,
    "d_corpus_mix_streamed" -> ext.TextAnalysis.corpusMixStreamedSql,
    "d_corpus_mix_tokens_streamed" -> ext.TextAnalysis.corpusMixTokensStreamedSql,
    "d_token_entropy"   -> ext.TextAnalysis.tokenEntropySql,
    "d_lm_quality"      -> ext.TextAnalysis.lmQualitySql,
    "d_bigram_lm"       -> ext.TextAnalysis.bigramLmSql,
    "d_cms_tokens"      -> ext.TextAnalysis.cmsTokensSql,
    "d_heavy_hitters"   -> ext.TextAnalysis.heavyHittersSql,
    "d_kmv_distinct"    -> ext.TextAnalysis.kmvDistinctSql,
    "d_token_pagerank"  -> ext.TextAnalysis.tokenPagerankSql,
    "e_cosine_dedup_lsh" -> ext.Similarity.cosineDedupLshSql,
    "m_payload_meta"    -> ext.Multimodal.payloadMetaSql,
    "m_frame_sample"    -> ext.Multimodal.frameSampleSql,
    "m_audio_window"    -> ext.Multimodal.audioWindowsSql,
    "m_audio_vad"       -> ext.Multimodal.audioVadSql,
    "m_feature_extract" -> ext.Multimodal.featureExtractSql,
    "m_resize"          -> ext.Multimodal.resizeSql,
    "m_phash_dedup"     -> ext.Multimodal.phashDedupSql,
  )
}
