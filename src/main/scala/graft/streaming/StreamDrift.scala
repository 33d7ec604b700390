package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.TextAnalysis

/** ONLINE domain-drift monitoring — the streaming sibling of the
  * batch `d_dsir_kl` diagnostic (`TextAnalysis.dsirKlOn`), and the
  * alarm a large-scale ingest pipeline actually runs: the raw-pool
  * hashed-gram distribution q̂ is FROZEN once at fit time
  * ([[modelWrite]] — a dense [[TextAnalysis.DsirBuckets]]-row bucket
  * count table, the StreamDsir/StreamAnnIndex train-once posture),
  * then arriving (doc_id, source, text) micro-batches accumulate
  * per-(source, bucket) gram counts and every batch emits the RUNNING
  * per-source KL(p̂_s ‖ q̂) snapshot in integer micro-nats — a pool
  * source drifting away from its fit-time distribution rings here
  * long before a model trained on the mix does. The scoring law is
  * `TextAnalysis.dsirKlAgainst`, the ONE implementation the batch
  * diagnostic uses, over the same libm-free `IlogMicro` integer log —
  * snapshots are bit-reproducible, so replays re-emit identically.
  *
  * Per-batch cost is O(batch grams + |sources|·B), never O(corpus):
  * the batch reduces map-side to ≤ |sources|·B delta rows, the store
  * read aggregates the counts table (≤ |sources|·B rows steady-state
  * after [[compactStore]]'s fold), and the KL spine is |sources|·B.
  *
  * Store tables (all `USING parquet`):
  *   - `<prefix>_model`   (f, c_q) — the frozen pool bucket counts;
  *     written once by [[modelWrite]].
  *   - `<prefix>_counts`  (source, f, c_s, batch_id) — per-batch
  *     count DELTAS, append-only, one coalesced file per batch;
  *     [[compactStore]] folds applied deltas to one row per
  *     (source, f).
  *   - `<prefix>_applied` (batch_id) — the replay ledger, written
  *     AFTER the counts append (the crash-window order).
  *
  * Crash windows: counts-without-applied marks a recovering batch —
  * the residue must MATCH the recomputed deltas (recovery-binding
  * guard; they are deterministic, so a mismatch means a foreign
  * store), the re-append is skipped, and the marker lands. A replayed
  * APPLIED batch takes the emit-only path. [[compactStore]] folds
  * ONLY applied deltas — unapplied crash residue is dropped by the
  * fold (its batch will be replayed and re-append), so a compaction
  * racing a crashed stream cannot double-count. Within-batch
  * duplicate doc_ids collapse to one deterministic winner (smallest
  * (source, text)) — the siblings' replay device. Zero-gram docs
  * (NULL/empty text, NULL source) contribute nothing by the gram law.
  */
object StreamDrift extends StoreOperator {
  protected val opName = "streamingDrift"
  private[graft] val storeTables = Seq(
    StoreTable("counts", Some("(source STRING, f BIGINT, c_s BIGINT, " +
      "batch_id BIGINT) USING parquet"), Seq("source", "f")),
    StoreTable("applied", Some("(batch_id BIGINT) USING parquet"), Seq("batch_id")))
  override protected val sideTables = Seq("model")

  /** Fit + persist the frozen pool model: dense B-row (f, c_q) bucket
    * counts over the reference corpus's NON-target sources — the
    * distribution every subsequent snapshot diverges from. Train-once:
    * a refit under a running monitor would shift every standing KL;
    * stop the stream and start a new prefix (the StreamDsir rebuild
    * contract). */
  def modelWrite(spark: SparkSession, prefix: String,
      documents: DataFrame,
      targetSources: Seq[String] = TextAnalysis.DsirTargetSources): Unit = {
    val pool = TextAnalysis.dsirSourceCounts(documents)
      .filter(!col("source").isin(targetSources: _*))
      .groupBy(col("f")).agg(sum(col("c_s")).as("c_q"))
    graft.sources.TableOps.resetTable(spark, tableName(prefix, "model"),
      spark.range(TextAnalysis.DsirBuckets).toDF("f")
        .join(pool, Seq("f"), "left").na.fill(0L, Seq("c_q"))
        .coalesce(1).sortWithinPartitions("f"))
  }

  /** The frozen q side as ([[TextAnalysis.dsirKlAgainst]]-shaped)
    * (qByF, qTot) — dense model rows plus their sum. */
  private def frozenQ(spark: SparkSession, prefix: String)
      : (DataFrame, DataFrame) = {
    val m = spark.table(tableName(prefix, "model"))
    // Loud B-consistency guard (same contract as TextAnalysis.dsirScore):
    // the frozen model is a dense DsirBuckets-row spine, so a later JVM
    // with a different SPARK_GRAFT_DSIR_BUCKETS would hash batch grams
    // mod the NEW B against the OLD-B model and compute silently wrong
    // KL. The model's own row count carries its fit-time B; refuse.
    val modelB = m.count()
    require(modelB == TextAnalysis.DsirBuckets,
      s"driftMonitor($prefix): frozen model has $modelB bucket rows but " +
        s"this JVM runs DsirBuckets=${TextAnalysis.DsirBuckets} " +
        "(SPARK_GRAFT_DSIR_BUCKETS changed?); refit under a new prefix " +
        "or restore the original B")
    (m.select(col("f"), col("c_q")),
      m.agg(coalesce(sum(col("c_q")), lit(0L)).as("cq_tot")))
  }

  /** The running KL snapshot over every APPLIED batch — the
    * serve-path read: one aggregate of the counts store, semi-joined
    * to the tiny applied ledger so unapplied crash residue can never
    * leak into a snapshot. */
  private def snapshot(spark: SparkSession, prefix: String): DataFrame = {
    val applied = spark.table(tableName(prefix, "applied")).select(col("batch_id"))
    val sByF = spark.table(tableName(prefix, "counts"))
      .join(broadcast(applied.distinct()), Seq("batch_id"), "left_semi")
      .groupBy(col("source"), col("f")).agg(sum(col("c_s")).as("c_s"))
      .localCheckpoint(true)
    val (qByF, qTot) = frozenQ(spark, prefix)
    TextAnalysis.dsirKlAgainst(sByF, qByF, qTot)
  }

  /** Public audit read: the current per-source drift snapshot. */
  def currentDrift(spark: SparkSession, prefix: String): DataFrame = {
    ensureStore(spark, prefix)
    snapshot(spark, prefix)
  }

  /** One micro-batch: reduce the batch to per-(source, f) count
    * deltas, append them insert-once, mark applied, and emit the
    * running per-source snapshot (source, n_grams, kl_micro,
    * batch_id). Package-private so specs drive replay/crash windows
    * without a running stream. */
  private[graft] def processBatch(spark: SparkSession, prefix: String,
      batch: DataFrame, batchId: Long): DataFrame = {
    ensureStore(spark, prefix)
    require(spark.catalog.tableExists(tableName(prefix, "model")),
      s"streamingDrift($prefix): no frozen model at ${tableName(prefix, "model")} — " +
        "fit it once with StreamDrift.modelWrite before streaming")
    // B-consistency BEFORE any write (frozenQ re-checks on the serve
    // path): without this, a JVM whose SPARK_GRAFT_DSIR_BUCKETS differs
    // from the store's fit-time B would append mod-new-B deltas first
    // and only fail at the snapshot — loud either way, but the early
    // refusal keeps the counts table clean of mixed-B rows.
    frozenQ(spark, prefix): Unit

    val applied = spark.table(tableName(prefix, "applied"))
    val ahead = applied.filter(col("batch_id") > batchId).limit(1).count()
    require(ahead == 0L,
      s"streamingDrift($prefix): applied ledger carries batch ids " +
        s"beyond $batchId — the store prefix is bound to a different " +
        "(newer) checkpoint; use a new prefix or restore the original")

    // ---- replay fast-path: an applied batch re-emits its snapshot
    // (deterministic law over the same store) without touching state
    if (applied.filter(col("batch_id") === batchId).limit(1).count() > 0)
      return snapshot(spark, prefix)
        .withColumn("batch_id", lit(batchId)).localCheckpoint(true)

    // ---- deterministic within-batch collapse, then the delta reduce
    val deltas = TextAnalysis.dsirSourceCounts(StoreOperator.collapse(
        batch.select(col("doc_id"), col("source"), col("text")),
        "doc_id", col("source"), col("text")))
      .localCheckpoint(true)

    // ---- crash-window recovery: counts residue without the applied
    // marker must equal the recomputed deltas bit-for-bit
    val residue = spark.table(tableName(prefix, "counts"))
      .filter(col("batch_id") === batchId)
      .select(col("source"), col("f"), col("c_s"))
    val hasResidue = residue.limit(1).count() > 0
    if (hasResidue) {
      val diff = residue.exceptAll(deltas)
        .unionByName(deltas.exceptAll(residue)).limit(1).count()
      require(diff == 0L,
        s"streamingDrift($prefix): counts residue for batch_id=$batchId " +
          "does not match this batch's recomputed deltas — the store " +
          "prefix is bound to a different checkpoint")
    }
    // counts, then the applied marker — the declared crash order; the
    // residue path skips the re-append. A zero-gram batch writes neither
    // (its replay recomputes the same empty delta and the same snapshot).
    val changed = hasResidue || deltas.limit(1).count() > 0
    import spark.implicits._
    appendInOrder(spark, prefix,
      Option.when(changed && !hasResidue)(deltas.withColumn("batch_id", lit(batchId))),
      Option.when(changed)(Seq(batchId).toDF("batch_id")))
    snapshot(spark, prefix)
      .withColumn("batch_id", lit(batchId)).localCheckpoint(true)
  }

  /** Fold compaction ([[StoreOperator.compactStoreTables]]): applied
    * deltas collapse to ONE row per (source, f) tagged with the max
    * applied batch id (the steady-state O(|sources|·B) store the serve
    * read assumes); unapplied crash residue is DROPPED by the applied
    * semi-join (its batch replays and re-appends). Nothing is compacted
    * before the first applied batch. Run with the stream idle. Returns
    * (rows before, rows after) per table. */
  def compactStore(spark: SparkSession, prefix: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Map[String, (Long, Long)] = {
    ensureStore(spark, prefix)
    val names = storeTableNames(prefix)
    def rows() = names.map(spark.table(_).count())
    val before = rows()
    if (maxApplied(spark, prefix).isDefined)
      compactStoreTables(spark, prefix, targetFileBytes): Unit
    names.zip(before.zip(rows())).toMap
  }

  private def maxApplied(spark: SparkSession, prefix: String): Option[Long] = {
    val m = spark.table(tableName(prefix, "applied")).agg(max(col("batch_id"))).head()
    Option.when(!m.isNullAt(0))(m.getLong(0))
  }

  override protected def compactRewrite(spark: SparkSession, prefix: String,
      suffix: String): DataFrame => DataFrame =
    if (suffix != "counts") identity
    else { counts =>
      val applied = spark.table(tableName(prefix, "applied")).select(col("batch_id"))
      counts.join(broadcast(applied.distinct()), Seq("batch_id"), "left_semi")
        .groupBy(col("source"), col("f")).agg(sum(col("c_s")).as("c_s"))
        .withColumn("batch_id", lit(maxApplied(spark, prefix).get))
        .select(col("source"), col("f"), col("c_s"), col("batch_id"))
    }

  /** Start the online drift monitor over a streaming (doc_id, source,
    * text) DataFrame. The frozen model must exist ([[modelWrite]]).
    * `sink` receives each batch's snapshot frame and its batchId and
    * must be idempotent per batchId (standard foreachBatch recovery
    * contract). */
  def streamingDrift(docs: DataFrame, prefix: String = "stream_drift",
      checkpoint: Option[String] = None)
      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    start(docs, prefix, checkpoint)(processBatch(_, prefix, _, _))(sink)

  /** The oracled batch twin (registry entry `d_dsir_kl_streamed`, the
    * `d_dsir_streamed` device): model frozen over the FULL documents
    * table's pool sources, every doc replayed through the REAL
    * store-backed [[processBatch]] in the standard four waves
    * (`wave = (doc_id div 20) mod 4`), each wave's emitted snapshot
    * collected as (wave, source, n_grams, kl_micro). The DuckDB twin
    * re-derives each wave's KL from cumulative wave-prefix counts
    * against the same frozen q, so the oracle pins the incremental
    * count dataflow to the batch law; the final wave additionally
    * equals `dsirKlOn` (spec-asserted — q there derives from the same
    * full corpus). Sequential-replay twin: Bench excludes it —
    * steady-state cost is ONE processBatch per micro-batch. */
  def dsirKlStreamed(spark: SparkSession, sfDir: String): DataFrame = {
    val prefix = "drf_replay"
    resetStore(spark, prefix)
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    modelWrite(spark, prefix, docs)
    replayWaves(docs)(processBatch(spark, prefix, _, _))
      .map(_.select(col("batch_id").cast("int").as("wave"), col("source"),
        col("n_grams"), col("kl_micro")))
      .reduce(_ unionByName _)
  }
}
