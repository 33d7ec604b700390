package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.TextAnalysis

/** ONLINE targeted data selection — the deploy half of DSIR's
  * train-once/select-as-you-go contract (Xie et al., NeurIPS 2023;
  * batch laws: `TextAnalysis.dsirWeights`/`dsirResample`): the hashed
  * n-gram importance model is fitted ONCE offline ([[modelWrite]], a
  * 512-row log-ratio table — the exact frozen-model posture of
  * [[StreamAnnIndex]]), then raw-pool documents arrive as a streaming
  * (doc_id, source, text) DataFrame and the operator maintains the
  * RUNNING Gumbel-top-k selection: each micro-batch is scored
  * map-side against the frozen model (integer micro-nat keys — the
  * identical law `dsirResampleOn` applies, so the final selected set
  * provably equals the batch resample over the same corpus), admitted
  * or rejected against the current threshold, and previously-selected
  * docs whose key falls below the new kth key are EVICTED.
  *
  * Why this is O(batch + k) per micro-batch, never O(corpus): keys are
  * STATIC once scored (the model is frozen), so the selection
  * threshold — the kth-largest (gkey, doc_id) pair seen so far — is
  * MONOTONE non-decreasing, a doc below it can never re-enter, and the
  * new threshold is computable from (current selected ∪ batch) alone:
  * a ≤ k-row range-pruned read of the key-ordered scores store plus
  * the batch's own keys. No density probes (contrast [[StreamMix]],
  * whose thresholds move both ways), no corpus re-rank, no windows.
  *
  * Store tables (all `USING parquet`, appends sorted on their probe
  * key so row-group stats prune between compactions), in append order:
  *   - `<prefix>_thr`    (batch_id, t_key, t_doc, n_sel) — the
  *     threshold snapshot per batch ((Long.MinValue, Long.MaxValue)
  *     sentinel while fewer than k docs are pooled: everything
  *     selected).
  *   - `<prefix>_scores` (doc_id, gkey, batch_id) — every pool doc
  *     ever scored, insert-once on doc_id, key-ordered for the
  *     bounded selected-set range read.
  *   - `<prefix>_ledger` (doc_id, gkey, kept, batch_id) — the change
  *     EVENT LOG: every fresh doc's first verdict plus every eviction
  *     flip; the replay fast-path re-emits its batch slice.
  * plus the frozen side table `<prefix>_model` (f, lr_u), the 512-row
  * log-ratio model written once by [[modelWrite]], read per batch.
  *
  * Crash-window order is thr → scores → ledger, the [[ThresholdMixer]]
  * posture: a thr row without its ledger rows marks a recovering
  * batch, whose recomputed state must MATCH the stored snapshot
  * (foreign-checkpoint refusal) and whose emissions are re-derived;
  * scores residue is absorbed by the insert-once anti-join; the
  * emission frame is deterministic (frozen model + seeded keys), so
  * replays re-emit bit-identically. Duplicate doc_ids within a batch
  * collapse to one deterministic winner (smallest (source, text)) —
  * the siblings' replay device.
  *
  * Zero-gram docs (NULL or empty text — `TextAnalysis.dsirGrams`
  * filters empty grams, so the empty string's [""] split yields no
  * evidence either) score no key and by law never enter the pool — the
  * batch twins drop them identically. Since r18 the whole scoring law
  * (log-ratios AND the Gumbel term) runs on `IlogMicro`'s integer
  * fixed-point log: no libm in either engine, keys bit-identical by
  * construction. Target-domain arrivals (the sources the model's p side
  * was fitted on) are not candidates and are filtered out. */
object StreamDsir extends StoreOperator {
  protected val opName = "streamingDsir"
  private[graft] val storeTables = Seq(
    StoreTable("thr", Some("(batch_id BIGINT, t_key BIGINT, t_doc BIGINT, " +
      "n_sel BIGINT) USING parquet"), Seq("batch_id")),
    StoreTable("scores", Some("(doc_id BIGINT, gkey BIGINT, batch_id BIGINT) " +
      "USING parquet"), Seq("gkey", "doc_id")),
    StoreTable("ledger", Some("(doc_id BIGINT, gkey BIGINT, kept BOOLEAN, " +
      "batch_id BIGINT) USING parquet"), Seq("doc_id")))
  override protected val sideTables = Seq("model")

  /** No-threshold sentinel: selection is `gkey > t_key || (gkey ==
    * t_key && doc_id <= t_doc)`, so (MinValue, MaxValue) selects every
    * scored doc — the state while the pool holds fewer than k docs. */
  private val NoKey = Long.MinValue
  private val NoDoc = Long.MaxValue

  private def selPred(tKey: Long, tDoc: Long) =
    (col("gkey") > lit(tKey)) ||
      (col("gkey") === lit(tKey) && col("doc_id") <= lit(tDoc))

  /** Fit + persist the frozen log-ratio model over the reference
    * corpus (target sources vs raw pool — `TextAnalysis.dsirModel`).
    * Train-once: a REFIT under a running selection stream would
    * invalidate every stored key — stop the stream and start a new
    * prefix, the [[StreamAnnIndex]] rebuild contract. */
  def modelWrite(spark: SparkSession, prefix: String,
      documents: DataFrame,
      buckets: Int = TextAnalysis.DsirBuckets): Unit = {
    TextAnalysis.dsirModel(documents, buckets)
      .coalesce(1).sortWithinPartitions("f")
      .write.mode("overwrite").saveAsTable(tableName(prefix, "model"))
  }

  /** ORDERED small-file compaction + thr-history retention
    * ([[StoreOperator.compactStoreTables]]: rank-based snapshot
    * retention, staged trim), with scores ordered on the (gkey,
    * doc_id) probe key the selected-set range read prunes on. */
  def compactStore(spark: SparkSession, prefix: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      retainThrBatches: Int = 8): Map[String, (Int, Int)] =
    compactStoreTables(spark, prefix, targetFileBytes, retainThrBatches)

  /** One micro-batch: score the fresh pool docs against the frozen
    * model, advance the monotone top-k threshold, emit fresh verdicts
    * plus evictions. Package-private so specs drive replay/crash
    * windows without a running stream. Returns the batch's emission
    * frame (doc_id, gkey, kept, batch_id), eagerly materialized. */
  private[graft] def processBatch(spark: SparkSession, prefix: String,
      batch: DataFrame, batchId: Long, seed: String = "dsir42",
      k: Int = TextAnalysis.DsirK,
      targetSources: Seq[String] = TextAnalysis.DsirTargetSources,
      buckets: Int = TextAnalysis.DsirBuckets)
      : DataFrame = {
    ensureStore(spark, prefix)
    graft.functions.Md5Prefix60.register(spark)
    require(spark.catalog.tableExists(tableName(prefix, "model")),
      s"streamingDsir($prefix): no frozen model at ${tableName(prefix, "model")} — " +
        "fit it once with StreamDsir.modelWrite before streaming")

    // Deterministic within-batch collapse + pool filter (the model's
    // own target-domain sources are not candidates), then the frozen
    // scoring law — keys are exact integers, so replays re-derive them
    // bit-identically.
    val pool = StoreOperator.collapse(
        batch.select(col("doc_id"), col("source"), col("text")),
        "doc_id", col("source"), col("text"))
      .filter(!col("source").isin(targetSources: _*))
    val scored = TextAnalysis.dsirScore(pool, spark.table(tableName(prefix, "model")),
        seed, buckets)
    // fresh pool docs (never decided; decidedSplit pins the scored
    // batch); crash-residue scores rows of THIS batch are excluded from
    // every old-side read below
    val freshK = decidedSplit(spark, prefix, scored, batchId) match {
      case Left(emission) => return emission
      case Right(f) => f.localCheckpoint(true)
    }

    def thrRow(rows: Array[org.apache.spark.sql.Row]) = rows.headOption
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val st = thrState(spark, prefix, batchId,
      Seq(col("t_key"), col("t_doc"), col("n_sel")), "scores")
    val prevThr = thrRow(st.prev)
    val curThr = thrRow(st.cur)
    // ---- the standing selected set: at most k rows, read through the
    // key-range predicate the key-ordered store prunes on. Keys are
    // static, so docs at-or-below the previous threshold are out
    // FOREVER — this bounded read is the whole reason the batch never
    // rescans the corpus.
    val oldSel: Array[(Long, Long)] = prevThr match {
      case Some((pKey, pDoc, nSelPrev)) =>
        val sel = spark.table(tableName(prefix, "scores"))
          .filter(selPred(pKey, pDoc))
          .join(broadcast(freshK.select(col("doc_id"))),
            Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("gkey"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        require(sel.length == nSelPrev,
          s"streamingDsir($prefix): selected-set read returned " +
            s"${sel.length} rows, thresholds snapshot says $nSelPrev — " +
            "store and snapshot disagree (bug or foreign store)")
        sel
      case None =>
        // No predecessor snapshot means NOTHING may be decided yet —
        // guarded BEFORE any sentinel-threshold read: falling back to
        // select-all over a populated store would collect the corpus
        // to the driver and emit spurious evictions for every
        // unselected doc (the exact garbage path a thr history trimmed
        // past the predecessor would open).
        val residue = spark.table(tableName(prefix, "scores"))
          .join(broadcast(freshK.select(col("doc_id"))),
            Seq("doc_id"), "left_anti")
          .limit(1).count()
        require(residue == 0L,
          s"streamingDsir($prefix): no thresholds snapshot precedes " +
            s"batch_id=$batchId but the scores store carries decided " +
            "docs — the predecessor snapshot is missing (foreign store, " +
            "or thr history trimmed below retainThrBatches >= 2)")
        Array.empty
    }

    // ---- new threshold = kth of (old selected ∪ fresh) by
    // (gkey desc, doc_id asc): the union is ≤ k + |batch| rows and the
    // kth lands via TakeOrderedAndProject — driver state stays ≤ k.
    import spark.implicits._
    val oldSelDf = oldSel.toSeq.toDF("doc_id", "gkey")
    val union = freshK.unionByName(oldSelDf)
    val topk = union
      .orderBy(col("gkey").desc, col("doc_id"))
      .limit(k).collect().map(r => (r.getLong(0), r.getLong(1)))
    val (tKey, tDoc, nSel) =
      if (topk.length < k) (NoKey, NoDoc, topk.length.toLong)
      else (topk.last._2, topk.last._1, k.toLong)

    // Recovery-binding guard: a legit crash-after-thr replay re-derives
    // the SAME snapshot; any mismatch is a foreign checkpoint.
    if (st.recovering)
      require(curThr.contains((tKey, tDoc, nSel)),
        s"streamingDsir($prefix): thresholds already stored for " +
          s"batch_id=$batchId do not match this batch's recomputed " +
          "state — the store prefix is bound to a different checkpoint")

    // ---- emissions: every fresh doc's first verdict + evictions of
    // standing docs the risen threshold displaced (≤ k driver rows;
    // admissions of old docs are impossible — the threshold is
    // monotone).
    val freshVerdicts = freshK
      .select(col("doc_id"), col("gkey"), selPred(tKey, tDoc).as("kept"))
    val evicted = oldSel.filterNot { case (d, g) =>
      g > tKey || (g == tKey && d <= tDoc)
    }
    val delta = freshVerdicts
      .unionByName(evicted.toSeq.toDF("doc_id", "gkey")
        .select(col("doc_id"), col("gkey"), lit(false).as("kept")))
      .withColumn("batch_id", lit(batchId))
      .localCheckpoint(true)

    // ---- appends in the declared order thr → scores → ledger
    val scoresToAppend =
      if (!st.recovering) freshK
      else freshK.join(spark.table(tableName(prefix, "scores")).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
    appendInOrder(spark, prefix,
      Option.when(!st.recovering)(Seq((batchId, tKey, tDoc, nSel))
        .toDF("batch_id", "t_key", "t_doc", "n_sel")),
      Some(scoresToAppend.select(col("doc_id"), col("gkey"))
        .withColumn("batch_id", lit(batchId))),
      Some(delta))
    delta
  }

  /** Current selection for every pooled doc — audits and the scale
    * probe's law gate (vs `dsirResampleOn` over the reconstructed
    * corpus); the serve path never needs it. One store scan + a 1-row
    * threshold read. */
  def currentSelected(spark: SparkSession, prefix: String): DataFrame = {
    ensureStore(spark, prefix)
    val thr = spark.table(tableName(prefix, "thr"))
    val lastRow = thr.agg(max(col("batch_id"))).head()
    val scores = spark.table(tableName(prefix, "scores"))
    if (lastRow.isNullAt(0))
      return scores.select(col("doc_id"), col("gkey"),
        lit(false).as("selected")).filter(lit(false))
    val t = thr.filter(col("batch_id") === lastRow.getLong(0))
      .select(col("t_key"), col("t_doc")).head()
    scores.select(col("doc_id"), col("gkey"),
      selPred(t.getLong(0), t.getLong(1)).as("selected"))
  }

  /** Start the online selector over a streaming (doc_id, source, text)
    * DataFrame. The frozen model must exist ([[modelWrite]]). `sink`
    * receives each batch's change frame and its batchId and must be
    * idempotent per batchId (standard foreachBatch recovery
    * contract). */
  def streamingDsir(docs: DataFrame, prefix: String = "stream_dsir",
      seed: String = "dsir42", k: Int = TextAnalysis.DsirK,
      targetSources: Seq[String] = TextAnalysis.DsirTargetSources,
      checkpoint: Option[String] = None)
      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    start(docs, prefix, checkpoint)(
      processBatch(_, prefix, _, _, seed, k, targetSources))(sink)

  /** The oracled batch twin (registry entry `d_dsir_streamed`, the
    * same device as `d_corpus_mix_streamed`): model frozen over the
    * FULL documents table, the raw pool replayed through the REAL
    * store-backed [[processBatch]] in the standard four waves
    * (`wave = (doc_id div 20) mod 4`), emissions folded to per-doc
    * (doc_id, gkey, wave, admitted, kept) — admitted is the arrival
    * verdict, kept the final one. The DuckDB twin re-derives every
    * wave's top-k from the scoring law, so the oracle pins the
    * monotone-threshold dataflow to the batch selection semantics;
    * final kept additionally equals `dsirResampleOn`'s selected set
    * over the same corpus (spec-asserted). Sequential-replay twin:
    * Bench excludes it — steady-state cost is ONE processBatch per
    * micro-batch. */
  def dsirStreamed(spark: SparkSession, sfDir: String): DataFrame = {
    val prefix = "dsr_replay"
    resetStore(spark, prefix)
    val docs = graft.Tables.documents(spark, sfDir)
    modelWrite(spark, prefix, docs)
    replayWaves(docs.select(col("doc_id"), col("source"), col("text")))(
      processBatch(spark, prefix, _, _)): Unit
    val led = spark.table(tableName(prefix, "ledger"))
    val first = Window.partitionBy(col("doc_id")).orderBy(col("batch_id"))
    val verdicts = led
      .withColumn("rn", row_number().over(first))
      .withColumn("rnLast", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("batch_id").desc)))
      .groupBy(col("doc_id"))
      .agg(max(when(col("rn") === 1, col("kept"))).as("admitted"),
        max(when(col("rnLast") === 1, col("kept"))).as("kept"))
    spark.table(tableName(prefix, "scores"))
      .select(col("doc_id"), col("gkey"),
        StoreOperator.wave.as("wave"))
      .join(verdicts, Seq("doc_id"))
      .select(col("doc_id"), col("gkey"), col("wave"),
        col("admitted"), col("kept"))
  }
}
