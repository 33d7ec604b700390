package graft
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{asc_nulls_first, col, desc}
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (and the §7 extension set)
  * is one row of `registry`: its name, operator, presentation sort and,
  * where expressible in ANSI SQL, a DuckDB oracle with IDENTICAL output
  * column names (the result compare sorts columns by name before hashing).
  * `queries`, `oracleSql` and `rowsOnly` are derived from those rows.
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

  private[graft] type Q = (SparkSession, String) => DataFrame

  /** Does every input of the plan's LAST stage arrive through a
    * distribution-REQUIRED shuffle (an exchange EnsureRequirements inserted
    * for an aggregate / join / window / distinct)? Only the TOPMOST
    * exchange on each path from the root counts: what lies below it runs
    * in earlier stages whatever the presentation sort does. A path that
    * reaches a leaf (a scan) without an exchange, or whose topmost exchange
    * is an author-injected round-robin repartition ([[Tables.widen]],
    * shuffleOrigin REPARTITION_BY_NUM), answers no. A broadcast exchange is
    * computed by its own job, so its side does not feed the last stage.
    *
    * AQE note: a plan with any exchange is wrapped in AdaptiveSparkPlanExec,
    * whose children are not reachable via TreeNode traversal — recurse
    * through its (pre-execution) executedPlan explicitly. Subqueries are
    * NOT traversed: they run in their own jobs. */
  private[graft] def endsInRequiredShuffle(plan: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ENSURE_REQUIREMENTS,
      ReusedExchangeExec, ShuffleExchangeLike}
    plan match {
      case a: AdaptiveSparkPlanExec => endsInRequiredShuffle(a.executedPlan)
      case r: ReusedExchangeExec => endsInRequiredShuffle(r.child)
      case e: ShuffleExchangeLike => e.shuffleOrigin == ENSURE_REQUIREMENTS
      case _: BroadcastExchangeLike => true
      case p => p.children.nonEmpty && p.children.forall(endsInRequiredShuffle)
    }
  }

  /** Protocol adapter: append the deterministic presentation sort the
    * driver's row-order-sensitive hash needs. Library operators return
    * UNSORTED frames; only this registry pays the sort. Every form below
    * gives the same total order on the keys; they differ in the jobs and
    * exchanges they add.
    *
    *   - child whose last stage reads only a distribution-required shuffle
    *     ([[endsInRequiredShuffle]]: aggregate / join / window tops, q2,
    *     q_agg_pricing, d_dedup_minhash): `coalesce(1)` +
    *     sortWithinPartitions. The shuffle-reduced rows are already
    *     partitioned; coalescing them into one task adds no exchange and no
    *     job, where orderBy's range sort paid a bound-sampling job plus a
    *     range-exchange stage on every query (1.67 of the 5.67 jobs of an
    *     e2ebench dashboard query). The single task runs only the
    *     post-shuffle tail above the exchange.
    *
    *   - any other child (filtered scan q1, a widened regex projection
    *     d_text_stats whose topmost exchange is round-robin):
    *     repartition(1) + sortWithinPartitions. Coalescing here would run
    *     the child's whole compute in one task (round 22 measured
    *     coalesce(1) 2× slower on d_text_stats, whose regex compute sits
    *     above widen's round-robin exchange), and a global orderBy's
    *     bound-sampling pass re-executes it before the real pass (driver-
    *     measured: q1 1.38×, d_text_stats 2.08× from avoiding it).
    *
    * Round 21's SinglePartition exchange over EVERY child regressed q2
    * 4.4× at 32 cores; no form here puts a SinglePartition exchange over a
    * shuffle-reduced child. For corpora where even the protocol outputs
    * are too big for one partition, `spark.graft.protocolSort=range`
    * forces the scalable range sort on every path (`single` forces
    * repartition(1) everywhere; default `auto` = the rule above). The
    * decision is memoized per (session, data dir) — it is a plan-shape
    * probe, never data — so repeated bench runs do not pay the extra
    * physical planning pass. */
  private[graft] def srt(fn: Q, keys: Column*): Q = {
    val shape = new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), java.lang.Boolean]
    (s, d) => {
      val df = fn(s, d)
      s.conf.get("spark.graft.protocolSort", "auto") match {
        case "range"  => df.orderBy(keys: _*)
        case "single" => df.repartition(1).sortWithinPartitions(keys: _*)
        case _ =>
          val reduced = shape.computeIfAbsent((s, d),
            _ => endsInRequiredShuffle(df.queryExecution.executedPlan)).booleanValue()
          (if (reduced) df.coalesce(1) else df.repartition(1)).sortWithinPartitions(keys: _*)
      }
    }
  }

  /** One registry row: a query's name, its operator under the presentation
    * sort (bare when it has no sort keys) and its DuckDB oracle, `None` for a
    * query that is rows-only by declaration. The oracle is a thunk: several
    * SQL vals are lazy for object-init order (see `Dedup.dailyIngestSql`), so
    * it is evaluated only when `oracleSql` is read, never while `queries` is
    * built. */
  private[graft] final case class Row(name: String, run: Q, oracle: Option[() => String])

  /** An oracled row; `keys` is the presentation sort, matching the oracle's
    * ORDER BY. No keys registers the operator bare: top-k entries, whose
    * ordering IS the semantics. */
  private def row(name: String, op: Q, sql: => String, keys: Column*): Row =
    Row(name, if (keys.isEmpty) op else srt(op, keys: _*), Some(() => sql))

  /** One row per implemented operator from SURVEY.md §2. */
  private[graft] lazy val registry: Seq[Row] = Seq(
    // — reference surface (hive.py Q1-Q4 over events) —
    row("q1_time_filter", ReferenceQueries.q1TimeFilter, ReferenceQueries.q1Sql, col("event_id")),
    row("q2_hourly_avg", ReferenceQueries.q2HourlyAvg, ReferenceQueries.q2Sql, col("hour_bucket")),
    row("q3_union_cube", ReferenceQueries.q3UnionCube,
      ReferenceQueries.q3Sql, asc_nulls_first("room"), asc_nulls_first("hour_bucket")),
    row("q4_join_aggs", ReferenceQueries.q4JoinAggs, ReferenceQueries.q4Sql, col("hour_bucket")),
    // — generalized relational surface (SURVEY.md §7.2 step 6) —
    row("q_agg_pricing", Relational.aggPricing,
      Relational.aggPricingSql, col("l_returnflag"), col("l_linestatus")),
    row("q_filter_range", Relational.filterRange,
      Relational.filterRangeSql, col("l_orderkey"), col("l_linenumber")),
    row("q_join_inner", Relational.joinInner, Relational.joinInnerSql, col("o_orderkey")),
    row("q_join_left", Relational.joinLeft,
      Relational.joinLeftSql, asc_nulls_first("c_custkey"), asc_nulls_first("o_orderkey")),
    row("q_join_semi", Relational.joinSemi, Relational.joinSemiSql, col("c_custkey")),
    row("q_join_anti", Relational.joinAnti, Relational.joinAntiSql, col("c_custkey")),
    row("q_join_right", Relational.joinRight,
      Relational.joinRightSql, asc_nulls_first("c_custkey"), asc_nulls_first("o_orderkey")),
    row("q_cross_join", Relational.crossJoin, Relational.crossJoinSql, col("r_name"), col("n_name")),
    row("q_join_full", Relational.joinFull, Relational.joinFullSql, asc_nulls_first("nationkey")),
    row("q_join_multiway", Relational.joinMultiway, Relational.joinMultiwaySql, col("r_name")),
    row("q_union_all", Relational.unionAll,
      Relational.unionAllSql, col("src"), col("nationkey"), col("name")),
    row("q_union_distinct", Relational.unionDistinct, Relational.unionDistinctSql, col("nationkey")),
    row("q_intersect", Relational.intersectKeys, Relational.intersectKeysSql, col("nationkey")),
    row("q_except", Relational.exceptKeys, Relational.exceptKeysSql, col("nationkey")),
    row("q_intersect_all", Relational.intersectAllKeys, Relational.intersectAllKeysSql, col("nationkey")),
    row("q_except_all", Relational.exceptAllKeys, Relational.exceptAllKeysSql, col("nationkey")),
    row("q_distinct", Relational.distinctOp,
      Relational.distinctOpSql, col("c_mktsegment"), col("c_nationkey")),
    row("q_topk", Relational.topK, Relational.topKSql),
    row("q_window_rank", Relational.windowRank, Relational.windowRankSql, col("o_custkey"), col("rn")),
    row("q_window_running", Relational.windowRunning,
      Relational.windowRunningSql, col("o_custkey"), col("o_orderkey")),
    row("q_window_count_distinct", Relational.windowCountDistinct,
      Relational.windowCountDistinctSql, col("user_id"), col("event_id")),
    row("q_funnel", Relational.funnel, Relational.funnelSql, col("stage")),
    row("q_histogram", Relational.histogram, Relational.histogramSql, col("bin")),
    row("q_zorder_key", Relational.zorderKey, Relational.zorderKeySql, col("event_id")),
    row("q_winsorize", Relational.winsorize, Relational.winsorizeSql, col("event_id")),
    row("q_resample_lerp", Relational.resampleInterpolate,
      Relational.resampleInterpolateSql, col("user_id"), col("grid_t")),
    row("q_transition_matrix", Relational.transitionMatrix,
      Relational.transitionMatrixSql, col("prev_type"), col("next_type")),
    row("q_anomaly_zscore", Relational.anomalyZscore, Relational.anomalyZscoreSql, col("event_id")),
    row("q_ewma", Relational.ewmaSmooth, Relational.ewmaSmoothSql, col("event_id")),
    row("q_cusum", Relational.cusumShift, Relational.cusumShiftSql, col("event_id")),
    row("d_token_triangles", ext.TextAnalysis.tokenTriangles,
      ext.TextAnalysis.tokenTrianglesSql, col("token")),
    row("q_window_lag", Relational.windowLag,
      Relational.windowLagSql, asc_nulls_first("o_custkey"), asc_nulls_first("o_orderkey")),
    row("q_window_rankings", Relational.windowRankings,
      Relational.windowRankingsSql, asc_nulls_first("o_custkey"), asc_nulls_first("o_orderkey")),
    row("q_array_funcs", Relational.arrayFuncs, Relational.arrayFuncsSql, col("doc_id")),
    row("q_explode", Relational.explodeTokens, Relational.explodeTokensSql, col("doc_id"), col("pos")),
    row("q_explode_outer", Relational.explodeOuterTokens,
      Relational.explodeOuterTokensSql, col("doc_id"), asc_nulls_first("token")),
    row("q_unpivot", Relational.unpivotOp, Relational.unpivotOpSql, col("o_orderkey"), col("metric")),
    row("q_sessionize", Relational.sessionize, Relational.sessionizeSql, col("user_id"), col("session_id")),
    row("q_scd2", Relational.scd2, Relational.scd2Sql, col("user_id"), col("valid_from"), col("event_id")),
    row("q_collect_agg", Relational.collectAgg, Relational.collectAggSql, col("r_name")),
    row("q_window_firstlast", Relational.windowFirstLast,
      Relational.windowFirstLastSql, col("o_custkey"), col("o_orderkey")),
    row("q_window_range", Relational.windowRangeFrame,
      Relational.windowRangeFrameSql, col("o_custkey"), col("o_orderkey")),
    row("q_window_pct", Relational.windowPercentiles,
      Relational.windowPercentilesSql, col("o_custkey"), col("o_orderkey")),
    row("q_rollup", Relational.rollupOp,
      Relational.rollupOpSql, asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority")),
    row("q_grouping_sets", Relational.groupingSetsOp,
      Relational.groupingSetsOpSql, asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority")),
    row("q_having", Relational.havingOp, Relational.havingOpSql, col("o_custkey")),
    row("q_case_when", Relational.caseWhen, Relational.caseWhenSql, col("bucket")),
    row("q_string_funcs", Relational.stringFuncs, Relational.stringFuncsSql, col("c_custkey")),
    row("q_like_filter", Relational.likeFilter, Relational.likeFilterSql, col("p_partkey")),
    row("q_date_funcs", Relational.dateFuncs, Relational.dateFuncsSql, col("o_orderkey")),
    row("q_math_funcs", Relational.mathFuncs,
      Relational.mathFuncsSql, col("l_orderkey"), col("l_linenumber")),
    row("q_json_extract", Relational.jsonExtract, Relational.jsonExtractSql, col("event_type")),
    row("q_count_distinct", Relational.countDistinctOp, Relational.countDistinctOpSql, col("event_type")),
    row("q_approx_distinct", Relational.approxDistinct, Relational.approxDistinctSql, col("event_type")),
    row("q_approx_pctile", Relational.approxPercentileOp,
      Relational.approxPercentileOpSql, col("l_returnflag")),
    row("q_scalar_subquery", Relational.scalarSubquery, Relational.scalarSubquerySql, col("o_orderkey")),
    row("q_correlated_subq", Relational.correlatedSubquery,
      Relational.correlatedSubquerySql, col("o_orderkey")),
    row("q_stats_agg", Relational.statsAgg, Relational.statsAggSql, col("l_returnflag")),
    row("q_throttle_dedup", Relational.throttleDedup, Relational.throttleDedupSql, col("event_id")),
    row("q_pivot", Relational.pivotOp, Relational.pivotOpSql, col("hour_bucket")),
    // rows-only by declaration (see `rowsOnly`)
    Row("q_sample_seeded", srt(Relational.sampleSeeded, col("l_orderkey"), col("l_linenumber")), None),
    row("q_sample_hash", Relational.sampleHash,
      Relational.sampleHashSql, col("l_orderkey"), col("l_linenumber")),
    row("q_asof_join", Relational.asofJoin, Relational.asofJoinSql, col("event_id")),
    row("q_merge_upsert", Relational.mergeUpsert, Relational.mergeUpsertSql, col("o_orderkey")),
    row("q_mv_refresh", Relational.mvRefresh, Relational.mvRefreshSql, col("user_id")),
    row("q_table_checksum", Relational.tableChecksum, Relational.tableChecksumSql),
    row("q_date_spine", Relational.dateSpine, Relational.dateSpineSql, col("day")),
    row("q_cohort_retention", Relational.cohortRetention,
      Relational.cohortRetentionSql, col("cohort_month"), col("months_since")),
    row("q_range_join", Relational.rangeJoin, Relational.rangeJoinSql, col("band")),
    row("q_window_ignore_nulls", Relational.windowIgnoreNulls,
      Relational.windowIgnoreNullsSql, col("o_custkey"), col("o_orderkey")),
    row("q_gaps_islands", Relational.gapsIslands,
      Relational.gapsIslandsSql, col("o_custkey"), col("island_start")),
    row("q_null_funcs", Relational.nullFuncs, Relational.nullFuncsSql, col("o_orderkey")),
    row("q_lateral", Relational.lateralTopPerRegion, Relational.lateralTopPerRegionSql,
      col("r_name"), desc("acctbal"), col("c_name")),
    row("q_struct_funcs", Relational.structFuncs, Relational.structFuncsSql, col("o_orderkey")),
    row("q_map_funcs", Relational.mapFuncs, Relational.mapFuncsSql, col("event_id")),
    row("q_regexp_funcs", Relational.regexpFuncs, Relational.regexpFuncsSql, col("c_custkey")),
    row("q_skew_join_salted", Relational.skewJoinSalted,
      Relational.skewJoinSaltedSql, col("o_orderpriority")),
    row("q_orc_scan", sources.OrcSource.orcScan, sources.OrcSource.scanAggSql, col("o_orderstatus")),
    row("q_schema_drift", sources.SchemaDrift.schemaDrift,
      sources.SchemaDrift.schemaDriftSql, col("o_orderkey")),
    row("q_partition_pruned", sources.PartitionedScan.partitionPruned,
      sources.PartitionedScan.partitionPrunedSql, col("day")),
    row("q_json_scan", sources.JsonSource.jsonScan, sources.OrcSource.scanAggSql, col("o_orderstatus")),
    // — LLM-data-pipeline extensions (SURVEY.md §7.2 step 8) —
    row("d_text_stats", ext.TextAnalysis.textStats, ext.TextAnalysis.textStatsSql, col("doc_id")),
    row("d_lang_id", ext.TextAnalysis.langId, ext.TextAnalysis.langIdSql, col("doc_id")),
    row("d_fingerprint", ext.TextAnalysis.fingerprint, ext.TextAnalysis.fingerprintSql, col("doc_id")),
    row("d_winnow", ext.TextAnalysis.winnow,
      ext.TextAnalysis.winnowSql, col("doc_id"), col("pos"), col("fp")),
    row("d_winnow_overlap", ext.TextAnalysis.winnowOverlap,
      ext.TextAnalysis.winnowOverlapSql, col("doc_a"), col("doc_b")),
    row("d_token_freq", ext.TextAnalysis.tokenFreq, ext.TextAnalysis.tokenFreqSql),
    row("d_ngram_counts", ext.TextAnalysis.ngramCounts, ext.TextAnalysis.ngramCountsSql),
    row("d_pmi_colloc", ext.TextAnalysis.pmiColloc, ext.TextAnalysis.pmiCollocSql, col("rank")),
    row("d_quality_filter", ext.TextAnalysis.qualityFilter, ext.TextAnalysis.qualityFilterSql, col("doc_id")),
    row("d_repetition_filter", ext.TextAnalysis.repetitionFilter,
      ext.TextAnalysis.repetitionFilterSql, col("doc_id")),
    row("d_stratified_sample", ext.TextAnalysis.stratifiedSample,
      ext.TextAnalysis.stratifiedSampleSql, col("doc_id")),
    row("d_temperature_mix", ext.TextAnalysis.temperatureMix,
      ext.TextAnalysis.temperatureMixSql, col("doc_id")),
    row("d_dsir_weights", ext.TextAnalysis.dsirWeights, ext.TextAnalysis.dsirWeightsSql, col("doc_id")),
    row("d_dsir_weights_wide", ext.TextAnalysis.dsirWeightsWide,
      ext.TextAnalysis.dsirWeightsWideSql, col("doc_id")),
    row("d_dsir_resample", ext.TextAnalysis.dsirResample, ext.TextAnalysis.dsirResampleSql, col("doc_id")),
    row("d_dsir_streamed", streaming.StreamDsir.dsirStreamed,
      ext.TextAnalysis.dsirStreamedSql, col("doc_id")),
    row("d_dsir_kl", ext.TextAnalysis.dsirKl, ext.TextAnalysis.dsirKlSql, col("source")),
    row("d_dsir_kl_streamed", streaming.StreamDrift.dsirKlStreamed,
      ext.TextAnalysis.dsirKlStreamedSql, col("wave"), col("source")),
    row("d_pack_chunks", ext.TextAnalysis.packChunks, ext.TextAnalysis.packChunksSql, col("doc_id")),
    row("d_chunk_overlap", ext.TextAnalysis.chunkOverlap,
      ext.TextAnalysis.chunkOverlapSql, col("doc_id"), col("chunk_idx")),
    row("d_doc_normalize", ext.TextAnalysis.normalize, ext.TextAnalysis.normalizeSql, col("doc_id")),
    row("d_pii_redact", ext.TextAnalysis.piiRedact, ext.TextAnalysis.piiRedactSql, col("doc_id")),
    row("d_bpe_merges", ext.TextAnalysis.bpeMerges, ext.TextAnalysis.bpeMergesSql, col("round")),
    row("d_bpe_merges12", ext.TextAnalysis.bpeMerges12, ext.TextAnalysis.bpeMerges12Sql, col("round")),
    row("d_bpe_encode", ext.TextAnalysis.bpeEncode, ext.TextAnalysis.bpeEncodeSql, col("token")),
    row("d_corpus_stats", ext.TextAnalysis.corpusStats,
      ext.TextAnalysis.corpusStatsSql, col("source"), col("lang")),
    row("d_span_dedup", ext.TextAnalysis.spanDedup, ext.TextAnalysis.spanDedupSql, col("doc_id")),
    row("m_scene_cuts", ext.Multimodal.sceneCuts,
      ext.Multimodal.sceneCutsSql, col("doc_id"), col("frame_idx")),
    row("d_dedup_exact", ext.Dedup.dedupExact, ext.Dedup.dedupExactSql, col("keep_id")),
    row("d_dedup_minhash", ext.Dedup.dedupMinhash, ext.Dedup.dedupMinhashSql, col("doc_id")),
    row("d_dedup_simhash", ext.Dedup.dedupSimhash, ext.Dedup.dedupSimhashSql, col("doc_id")),
    row("d_ngram_jaccard", ext.Dedup.ngramJaccardFixture,
      ext.Dedup.ngramJaccardSql, col("doc_a"), col("doc_b")),
    row("d_dedup_groups", ext.Dedup.dedupGroups, ext.Dedup.dedupGroupsSql, col("doc_id")),
    row("d_dedup_pipeline", ext.Dedup.dedupPipeline, ext.Dedup.dedupPipelineSql, col("doc_id")),
    // physical layout (persisted bucketed bands) must never leak into answers
    row("d_dedup_pipeline_bucketed", ext.Dedup.dedupPipelineBucketed,
      ext.Dedup.dedupPipelineSql, col("doc_id")),
    row("d_dedup_fuzzy", ext.Dedup.dedupFuzzy, ext.Dedup.dedupFuzzySql, col("doc_a"), col("doc_b")),
    row("d_dedup_incremental", ext.Dedup.dedupIncremental, ext.Dedup.dedupIncrementalSql, col("doc_id")),
    row("d_dedup_streamed", ext.Dedup.dedupStreamed, ext.Dedup.dedupStreamedSql, col("doc_id")),
    row("d_daily_ingest", ext.Dedup.dailyIngest, ext.Dedup.dailyIngestSql, col("doc_id")),
    row("d_minhash_est", ext.Dedup.minhashEstimate, ext.Dedup.minhashEstimateSql, col("doc_a"), col("doc_b")),
    row("d_contamination", ext.Dedup.contamination,
      ext.Dedup.contaminationSql, col("doc_id"), col("bench_id")),
    row("d_bloom_decontam", ext.Dedup.bloomDecontamination,
      ext.Dedup.bloomDecontaminationSql, col("doc_id"), col("bench_id")),
    row("d_para_decontam", ext.Dedup.paraContamination, ext.Dedup.paraContaminationSql, col("doc_id")),
    row("d_lsh_scurve", ext.Dedup.lshScurve, ext.Dedup.lshScurveSql, col("bucket")),
    row("d_crossmodal_dedup", ext.Dedup.crossmodalDedup,
      ext.Dedup.crossmodalDedupSql, col("doc_a"), col("doc_b")),
    row("e_knn_brute", ext.Similarity.knnBrute, ext.Similarity.knnBruteSql),
    row("e_knn_per_vec", ext.Similarity.knnPerVec, ext.Similarity.knnPerVecSql, col("q_id"), col("rank")),
    row("e_emb_stats", ext.Similarity.embStats, ext.Similarity.embStatsSql, col("vec_id")),
    row("e_centroids", ext.Similarity.centroids, ext.Similarity.centroidsSql, col("label"), col("dim")),
    row("e_silhouette", ext.Similarity.silhouette, ext.Similarity.silhouetteSql, col("vec_id")),
    row("e_pca_project", ext.Similarity.pcaProject, ext.Similarity.pcaProjectSql, col("vec_id")),
    row("e_ann_recall", ext.Similarity.annRecallEval, ext.Similarity.annRecallEvalSql, col("method")),
    row("e_quantize", ext.Similarity.quantize, ext.Similarity.quantizeSql, col("vec_id"), col("dim")),
    row("e_ann_lsh", ext.Similarity.annLsh, ext.Similarity.annLshSql, col("vec_id")),
    row("e_ann_ivf", ext.Similarity.annIvf, ext.Similarity.annIvfSql, col("q_id"), col("rank")),
    row("e_ann_ivf_probe2", ext.Similarity.annIvfProbe2,
      ext.Similarity.annIvfProbe2Sql, col("q_id"), col("rank")),
    row("e_ann_ivf_incr", ext.Similarity.annIvfIncremental,
      ext.Similarity.annIvfIncrementalSql, col("q_id"), col("rank")),
    row("e_cluster_topics", ext.Similarity.clusterTopics,
      ext.Similarity.clusterTopicsSql, col("cell"), col("rank")),
    row("e_cosine_dedup", ext.Similarity.cosineDedupExactSmall(_, _),
      ext.Similarity.cosineDedupSql, col("vec_a"), col("vec_b")),
    row("e_semantic_dedup", ext.Similarity.semanticDedup, ext.Similarity.semanticDedupSql, col("vec_id")),
    row("e_hamming_ann", ext.Similarity.hammingAnn, ext.Similarity.hammingAnnSql, col("q_id"), col("rank")),
    row("e_hamming_rerank", ext.Similarity.hammingRerank,
      ext.Similarity.hammingRerankSql, col("q_id"), col("rank")),
    row("e_rabitq_ann", ext.Similarity.rabitqAnn, ext.Similarity.rabitqAnnSql, col("q_id"), col("rank")),
    row("e_ann_sq8", ext.Similarity.annSq8, ext.Similarity.annSq8Sql, col("q_id"), col("rank")),
    row("e_hard_negatives", ext.Similarity.hardNegatives,
      ext.Similarity.hardNegativesSql, col("q_id"), col("rank")),
    row("e_ann_pq", ext.Similarity.annPq, ext.Similarity.annPqSql, col("q_id"), col("rank")),
    row("e_ann_ivfpq", ext.Similarity.annIvfPq, ext.Similarity.annIvfPqSql, col("q_id"), col("rank")),
    row("e_ann_ivfpq_probe2", ext.Similarity.annIvfPqProbe2,
      ext.Similarity.annIvfPqProbe2Sql, col("q_id"), col("rank")),
    // round-trip through the saved index must be invisible to results
    row("e_ann_index_lookup", ext.Similarity.annIndexRoundTrip,
      ext.Similarity.annIvfPqSql, col("q_id"), col("rank")),
    row("e_ann_index_streamed", streaming.StreamAnnIndex.annIndexStreamed,
      ext.Similarity.annIndexStreamedSql, col("q_id"), col("rank")),
    row("e_ann_pq_refine", ext.Similarity.annPqRefine,
      ext.Similarity.annPqRefineSql, col("q_id"), col("rank")),
    row("e_ann_opq", ext.Similarity.annOpq, ext.Similarity.annOpqSql, col("q_id"), col("rank")),
    row("e_mrl_energy", ext.Similarity.mrlEnergy, ext.Similarity.mrlEnergySql, col("vec_id"), col("prefix")),
    row("e_mrl_ann", ext.Similarity.mrlAnn, ext.Similarity.mrlAnnSql, col("q_id"), col("rank")),
    row("d_bm25_search", ext.TextAnalysis.bm25Search, ext.TextAnalysis.bm25SearchSql),
    row("d_tfidf_search", ext.TextAnalysis.tfidfSearch, ext.TextAnalysis.tfidfSearchSql),
    row("d_tfidf_keywords", ext.TextAnalysis.tfidfKeywords,
      ext.TextAnalysis.tfidfKeywordsSql, col("doc_id"), col("rank")),
    row("d_classifier_score", ext.TextAnalysis.classifierScore,
      ext.TextAnalysis.classifierScoreSql, col("doc_id")),
    row("d_quality_ensemble", ext.TextAnalysis.qualityEnsemble,
      ext.TextAnalysis.qualityEnsembleSql, col("doc_id")),
    row("d_dataset_split", ext.TextAnalysis.datasetSplit, ext.TextAnalysis.datasetSplitSql, col("doc_id")),
    row("d_corpus_shuffle", ext.TextAnalysis.corpusShuffle, ext.TextAnalysis.corpusShuffleSql, col("doc_id")),
    row("d_corpus_mix", ext.TextAnalysis.corpusMix, ext.TextAnalysis.corpusMixSql, col("doc_id")),
    row("d_corpus_mix_tokens", ext.TextAnalysis.corpusMixTokens,
      ext.TextAnalysis.corpusMixTokensSql, col("doc_id")),
    row("d_corpus_mix_incr", ext.TextAnalysis.corpusMixIncr,
      ext.TextAnalysis.corpusMixIncrSql, col("doc_id")),
    row("d_corpus_mix_streamed", streaming.StreamMix.corpusMixStreamed,
      ext.TextAnalysis.corpusMixStreamedSql, col("doc_id")),
    row("d_corpus_mix_tokens_streamed", streaming.StreamMixTokens.corpusMixTokensStreamed,
      ext.TextAnalysis.corpusMixTokensStreamedSql, col("doc_id")),
    row("d_token_entropy", ext.TextAnalysis.tokenEntropy, ext.TextAnalysis.tokenEntropySql, col("doc_id")),
    row("d_lm_quality", ext.TextAnalysis.lmQuality, ext.TextAnalysis.lmQualitySql, col("doc_id")),
    row("d_bigram_lm", ext.TextAnalysis.bigramLm, ext.TextAnalysis.bigramLmSql, col("doc_id")),
    row("d_cms_tokens", ext.TextAnalysis.cmsTokens, ext.TextAnalysis.cmsTokensSql),
    row("d_heavy_hitters", ext.TextAnalysis.heavyHitters, ext.TextAnalysis.heavyHittersSql),
    row("d_kmv_distinct", ext.TextAnalysis.kmvDistinct, ext.TextAnalysis.kmvDistinctSql, col("lang")),
    row("d_token_pagerank", ext.TextAnalysis.tokenPagerank, ext.TextAnalysis.tokenPagerankSql),
    row("e_cosine_dedup_lsh", ext.Similarity.cosineDedupLsh,
      ext.Similarity.cosineDedupLshSql, col("vec_a"), col("vec_b")),
    row("m_payload_meta", ext.Multimodal.payloadMeta, ext.Multimodal.payloadMetaSql, col("doc_id")),
    row("m_frame_sample", ext.Multimodal.frameSample,
      ext.Multimodal.frameSampleSql, col("doc_id"), col("frame_idx")),
    row("m_audio_window", ext.Multimodal.audioWindows,
      ext.Multimodal.audioWindowsSql, col("doc_id"), col("win_idx")),
    row("m_audio_vad", ext.Multimodal.audioVad, ext.Multimodal.audioVadSql, col("doc_id"), col("seg_idx")),
    row("m_feature_extract", ext.Multimodal.featureExtract,
      ext.Multimodal.featureExtractSql, col("doc_id"), col("bin")),
    row("m_resize", ext.Multimodal.resize, ext.Multimodal.resizeSql, col("doc_id")),
    row("m_phash_dedup", ext.Multimodal.phashDedup, ext.Multimodal.phashDedupSql, col("doc_a"), col("doc_b")),
  )

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(r => r.name -> r.run).toMap

  /** Queries registered WITHOUT an oracle — machine-readable so the
    * driver/COVERAGE can distinguish "intentionally unoracled" from "oracle
    * missing". Currently one row: `q_sample_seeded` uses Spark's
    * engine-defined Bernoulli-sample RNG, so no cross-engine oracle can
    * exist; its portable twin `q_sample_hash` (deterministic hash predicate)
    * is the oracled form of the operator. */
  lazy val rowsOnly: Set[String] = registry.collect { case Row(n, _, None) => n }.toSet

  /** For each oracled query, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables, with IDENTICAL output column names. */
  def oracleSql: Map[String, String] =
    registry.flatMap(r => r.oracle.map(sql => r.name -> sql())).toMap
}
