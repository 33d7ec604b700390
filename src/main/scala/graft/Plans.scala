package graft

import java.nio.file.{Files, Paths}

/** Dumps the formatted physical plan of every Bench headline query to
  * PLANS.md — reviewable evidence of pushdown/broadcast/shuffle shape
  * without re-running anything. Usage:
  * sbt "runMain graft.Plans [sfDir [name ...]]". Names restrict the dump
  * to those registry queries (any registry row, not only the audited
  * set) and print it to stdout, so a subset dump never overwrites the
  * committed PLANS.md.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val only = args.drop(1).toSeq
    val unknown = only.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not registry queries: ${unknown.mkString(", ")}")
    val spark = GraftSession.local(GraftSession.cpus(32))
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append(
      if (only.isEmpty) "# PLANS — formatted physical plans of the Bench headline set\n\n"
      else "# Formatted physical plans of the named registry queries\n\n")
    sb.append(s"Generated by `graft.Plans` against `$sfDir`. Regenerate with\n")
    sb.append("`sbt \"runMain graft.Plans\"` after plan-affecting changes.\n")
    // Headline set plus the scale-path operators whose plan shape IS the
    // design claim (bucket-keyed joins, no unbucketed self-join, single
    // shuffle for the as-of union+window).
    val audited = Bench.headline ++ Seq(
      "e_cosine_dedup_lsh", "d_ngram_jaccard", "q_asof_join", "q_range_join",
      "q_skew_join_salted", "e_ann_ivf_probe2", "d_minhash_est",
      "e_ann_pq_refine", "e_ann_ivfpq", "e_hamming_ann", "d_cms_tokens",
      "d_lm_quality", "d_bm25_search", "q_merge_upsert", "d_token_pagerank",
      "q_orc_scan", "e_ann_opq", "e_mrl_ann", "d_chunk_overlap",
      "d_bloom_decontam", "e_hamming_rerank", "d_tfidf_search",
      "q_window_count_distinct", "q_funnel", "q_histogram", "q_zorder_key",
      "e_rabitq_ann", "d_classifier_score", "e_ann_sq8",
      "e_hard_negatives", "d_crossmodal_dedup", "d_quality_ensemble",
      "q_json_scan", "q_winsorize", "q_resample_lerp",
      "q_transition_matrix", "d_token_triangles", "q_anomaly_zscore",
      "e_silhouette", "e_ann_recall", "m_phash_dedup", "d_token_entropy",
      "d_dataset_split", "d_corpus_shuffle", "d_corpus_mix",
      "d_corpus_mix_tokens", "d_pii_redact",
      "d_para_decontam", "m_scene_cuts",
      "e_pca_project", "e_ann_ivf_incr", "d_lsh_scurve", "d_winnow_overlap",
      "d_pmi_colloc", "e_cluster_topics", "q_ewma", "q_cusum",
      "d_heavy_hitters", "e_ann_index_lookup", "q_mv_refresh", "q_scd2",
      "m_audio_vad", "d_corpus_stats", "d_span_dedup",
      "q_partition_pruned", "q_schema_drift", "d_daily_ingest",
      "d_dsir_weights", "d_dsir_weights_wide", "d_dsir_resample",
      "d_dsir_kl", "d_dsir_kl_streamed")
    val dumped = if (only.nonEmpty) only else audited
    dumped.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        val df = fn(spark, sfDir)
        sb.append(s"\n## $name\n\n```\n")
        sb.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        sb.append("```\n")
      }
    }
    if (only.nonEmpty) print(sb.toString)
    else {
      Files.writeString(Paths.get("PLANS.md"), sb.toString)
      println(s"[plans] wrote PLANS.md (${audited.size} queries)")
    }
    spark.stop()
  }
}
