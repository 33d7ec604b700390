package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.TableOps

/** One store table of a [[StoreOperator]]: `<prefix>_<suffix>`, created
  * from `ddl` by [[StoreOperator.ensureStore]] (None: another writer owns
  * its creation, e.g. the ANN index build) and, when flat, appended — and
  * compacted — ordered on `sortCols` ([[StreamStoreOps.appendToStore]]). */
private[graft] final case class StoreTable(suffix: String, ddl: Option[String],
    sortCols: Seq[String])

/** The skeleton every store-backed streaming operator runs on
  * ([[StreamDedup]], [[StreamMix]], [[StreamMixTokens]], [[StreamDsir]],
  * [[StreamDrift]], [[StreamAnnIndex]]) — the exactly-once protocol the
  * paper's subscriber keeps by landing each update once into its store
  * tables, written ONCE instead of per operator:
  *
  *   - the store tables in CRASH-WINDOW APPEND ORDER ([[storeTables]]):
  *     [[appendInOrder]] writes a batch's frames in exactly that order,
  *     each append atomic under Spark's file-commit protocol, so a crash
  *     leaves a PREFIX of the list written — the state every operator's
  *     replay converges from (spec-proven for every prefix length,
  *     `StoreOperatorSpec`);
  *   - [[ensureStore]]: cross-JVM fresh-location sweep, DDL, and the
  *     half-swapped-compaction recovery; the scratch reset
  *     ([[resetStore]]) and the four-wave replay loop ([[replayWaves]]);
  *   - the one `foreachBatch` + `checkpointLocation` starter ([[start]]);
  *   - the ledger operators' prologue ([[decidedSplit]]: decided-set
  *     probe, replay fast path, undecided-docs guard) and the thresholds
  *     state read ([[thrState]]: ahead / prev-cur / recovering /
  *     inconsistent-store guards);
  *   - compaction of every store table ([[compactStoreTables]]: the
  *     bucketed or ordered flat rewrite by the live catalog spec,
  *     rank-based thr snapshot retention).
  *
  * Sinks must be idempotent per batchId — the standard foreachBatch
  * recovery contract every operator inherits. */
private[graft] trait StoreOperator {

  /** Operator name the refusal messages carry, e.g. `streamingMix`. */
  protected def opName: String

  /** Store tables in crash-window append order — the ONE declaration of
    * that order. */
  private[graft] def storeTables: Seq[StoreTable]

  /** Frozen side tables (fitted models) a replay twin resets with the
    * store; never appended per batch. */
  protected def sideTables: Seq[String] = Nil

  protected def tableName(prefix: String, suffix: String): String =
    s"${prefix}_$suffix"

  private[graft] def storeTableNames(prefix: String): Seq[String] =
    storeTables.map(t => tableName(prefix, t.suffix))

  /** One existence check per declared store table (the owned ones and
    * those another writer creates):
    *
    *   - live table present: nothing to do;
    *   - live table absent but its compaction staging table
    *     (`TableOps.stagingNameFor`) present: a compaction died between
    *     its drop and its rename, and the staged copy is the ONLY copy —
    *     rename it back. CREATEing an empty table here instead would let
    *     the next compaction's staging reset delete the data for good
    *     (an empty ledger re-decides old docs, an empty thr table
    *     refuses every later batch);
    *   - both absent: sweep the managed location (an uncataloged table
    *     whose warehouse directory survived a previous JVM must not
    *     adopt the stale files — TableOps.ensureFreshLocation), then
    *     CREATE from the declared DDL.
    *
    * PRECONDITION of the half-swap rename: a PERSISTENT metastore — the
    * recovery pivots on the catalog still knowing the staging table. A
    * non-persistent catalog that dies mid-swap loses the entry, the
    * residue is orphaned at the staging name's warehouse path, and the
    * store comes back empty; that deployment shape needs the
    * metastore-atomic rename / table-format commit SCALING.md's
    * compaction section prescribes. */
  def ensureStore(spark: SparkSession, prefix: String): Unit =
    storeTables.foreach { t =>
      val name = tableName(prefix, t.suffix)
      val staged = TableOps.stagingNameFor(name)
      if (spark.catalog.tableExists(name)) ()
      else if (spark.catalog.tableExists(staged)) {
        TableOps.ensureFreshLocation(spark, name)
        spark.sql(s"ALTER TABLE $staged RENAME TO $name")
      } else t.ddl.foreach { ddl =>
        TableOps.ensureFreshLocation(spark, name)
        spark.sql(s"CREATE TABLE IF NOT EXISTS $name $ddl")
      }
    }

  /** Drop + clear the managed location of every store and side table
    * and of each store table's compaction staging table: a replay
    * twin's (or a probe's) scratch store must reset idempotently even
    * when a PREVIOUS JVM left its warehouse dirs behind, and must not
    * resurrect an orphaned staged copy on its next ensureStore. */
  private[graft] def resetStore(spark: SparkSession, prefix: String): Unit =
    (sideTables.map(tableName(prefix, _)) ++ storeTableNames(prefix) ++
      storeTableNames(prefix).map(TableOps.stagingNameFor))
      .foreach(TableOps.dropWithLocation(spark, _))

  /** Append one frame per store table (None: nothing to write), in the
    * declared crash-window order. insertInto is positional: each frame
    * is selected in its table's column order. Every frame whose plan
    * reads a store table is pinned before the FIRST append
    * ([[StreamStoreOps.frozen]]), so no insert plan reads a store table
    * and no frame sees an earlier append of its own batch; a frame built
    * only from pinned blocks is inserted as it is. */
  protected def appendInOrder(spark: SparkSession, prefix: String,
      frames: Option[DataFrame]*): Unit = {
    require(frames.length == storeTables.length,
      s"$opName: ${frames.length} frames for ${storeTables.length} store tables")
    val fixed = frames.map(_.map(StreamStoreOps.frozen(_, storeTableNames(prefix))))
    storeTables.zip(fixed).foreach { case (t, f) =>
      f.foreach(StreamStoreOps.appendToStore(spark,
        tableName(prefix, t.suffix), _, t.sortCols))
    }
  }

  /** Start the operator over a streaming DataFrame: `step` processes one
    * micro-batch, `sink` receives its emission and batchId. */
  protected def start(input: DataFrame, prefix: String,
      checkpoint: Option[String])
      (step: (SparkSession, DataFrame, Long) => DataFrame)
      (sink: (DataFrame, Long) => Unit): StreamingQuery = {
    ensureStore(input.sparkSession, prefix)
    val writer = input.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(step(batch.sparkSession, batch, batchId), batchId)
      }
    checkpoint.foreach(writer.option("checkpointLocation", _))
    writer.start()
  }

  /** The decided-set prologue of a ledger operator (`<prefix>_ledger`,
    * keyed on doc_id, carrying batch_id). `batch` is the collapsed batch;
    * it is pinned here. Left = the emission with nothing to compute:
    * empty for an empty batch, the recorded rows for a committed one;
    * Right = the batch's never-decided rows.
    *
    * ONE pinned ledger probe on the batch's doc_ids
    * ([[StreamStoreOps.probe]], the batch's doc_id range observed by its
    * pin) serves the replay detection and the fresh split. Ledger rows
    * for this batch_id mean the batch fully committed — but ONLY if every
    * batch doc is decided: a fresh checkpoint restarted against a used
    * store presents old batch ids with NEW docs, and silently re-emitting
    * history would swallow them, so that refuses. */
  protected def decidedSplit(spark: SparkSession, prefix: String,
      batch: DataFrame, batchId: Long): Either[DataFrame, DataFrame] = {
    val ledger = spark.table(tableName(prefix, "ledger"))
    val (batchD, ids) = StreamStoreOps.pinRanged(batch, "doc_id")
    if (ids.isEmpty) return Left(ledger.filter(lit(false)))
    val decided = StreamStoreOps.probe(ledger, batchD.select(col("doc_id")), ids)
    if (decided.filter(col("batch_id") === batchId).limit(1).count() > 0) {
      val undecided = batchD
        .join(decided.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .limit(1).count()
      require(undecided == 0L,
        s"$opName($prefix): ledger already carries batch_id=$batchId but " +
          "this batch contains undecided doc_ids — the store prefix is " +
          "bound to a different checkpoint (a fresh checkpoint restarts " +
          "batch ids against a store that already used them); use a new " +
          "prefix or restore the original checkpoint")
      Left(ledger.filter(col("batch_id") === batchId).localCheckpoint(true))
    } else Right(batchD.join(decided.select(col("doc_id")).distinct(),
      Seq("doc_id"), "left_anti"))
  }

  /** Thresholds snapshots around `batchId` in `<prefix>_thr`: the
    * predecessor's rows (the highest batch id below) and this batch's
    * own rows from a crashed attempt, projected on `cols`. Tiny table
    * reads, behind the ahead and inconsistent-store guards. */
  protected def thrState(spark: SparkSession, prefix: String, batchId: Long,
      cols: Seq[Column], dataSuffix: String): StoreOperator.ThrState = {
    val thr = spark.table(tableName(prefix, "thr"))
    require(thr.filter(col("batch_id") > batchId).limit(1).count() == 0L,
      s"$opName($prefix): thresholds table carries batch ids beyond " +
        s"$batchId — the store prefix is bound to a different (newer) " +
        "checkpoint; use a new prefix or restore the original checkpoint")
    val prevId = thr.filter(col("batch_id") < batchId)
      .agg(max(col("batch_id"))).head()
    def at(b: Long) = thr.filter(col("batch_id") === b).select(cols: _*).collect()
    val st = StoreOperator.ThrState(
      if (prevId.isNullAt(0)) Array.empty[Row] else at(prevId.getLong(0)),
      at(batchId))
    if (st.prev.isEmpty && !st.recovering)
      require(spark.table(tableName(prefix, dataSuffix)).limit(1).count() == 0L,
        s"$opName($prefix): $dataSuffix table is non-empty but no " +
          "thresholds snapshot precedes this batch — inconsistent store state")
    st
  }

  /** The rewrite a FLAT store table's compaction stages (default: the
    * rows as they are); [[StreamDrift]] folds its count deltas here. */
  protected def compactRewrite(spark: SparkSession, prefix: String,
      suffix: String): DataFrame => DataFrame = identity

  /** Small-file compaction of every store table, run with the stream
    * idle — between micro-batches or with the stream stopped, same
    * contract as every in-place lake maintenance job here. Each table's
    * LIVE catalog bucket spec picks the rewrite:
    *
    *   - bucketed: `TableOps.compactBucketedTable`, one right-sized file
    *     per non-empty bucket, the bucket count rescaled with store bytes
    *     ([[StreamDedup.bucketsFor]]; a bucket count is immutable outside
    *     a full rewrite, and a grown store's per-bucket files would blow
    *     past the target size);
    *   - flat: `TableOps.compactTable` ordered on the table's `sortCols`
    *     (tight per-file key ranges, so the pushed probe predicates skip
    *     whole files), staging [[compactRewrite]]'s rows — and, for
    *     `<prefix>_thr`, only the trailing `retainThrBatches` snapshots.
    *
    * `thr` goes last. Every rewrite lands in the staging table BEFORE the
    * live table is touched, so a trim or fold never has a crash window
    * where the dropped rows' table is the only copy; a death between the
    * swap's drop and rename is healed by [[ensureStore]]. Returns
    * per-table (filesBefore, filesAfter). */
  protected def compactStoreTables(spark: SparkSession, prefix: String,
      targetFileBytes: Long, retainThrBatches: Int = 2): Map[String, (Int, Int)] = {
    ensureStore(spark, prefix)
    // >= 2, not >= 1: healthy-path recovery reads only the trailing
    // snapshot, but a crash-after-thr replay of the NEWEST batch N
    // recomputes its state from snapshot N-1 — trimming to N alone
    // would make that replay recompute from scratch, fail the
    // foreign-checkpoint consistency guard, and permanently wedge the
    // stream (the snapshot it needs is deleted; no prefix or
    // checkpoint fix recovers it).
    require(retainThrBatches >= 2,
      "retainThrBatches: a crash-after-thr replay of the newest batch " +
        "recovers from its PREDECESSOR snapshot — keep >= 2")
    storeTables.sortBy(_.suffix == "thr").map { t =>
      val name = tableName(prefix, t.suffix)
      name -> (StreamStoreOps.liveBucketSpec(spark, name) match {
        case Some(_) => TableOps.compactBucketedTable(spark, name,
          Some(StreamDedup.bucketsFor(TableOps.tableDataBytes(spark, name),
            targetFileBytes)))
        case None => TableOps.compactTable(spark, name, targetFileBytes,
          t.sortCols,
          if (t.suffix == "thr") thrTrim(spark, name, retainThrBatches)
          else compactRewrite(spark, prefix, t.suffix))
      })
    }.toMap
  }

  /** Retention by RANK over the DISTINCT stored batch ids, never by id
    * arithmetic: batch ids are NOT contiguous in the thr table (a batch
    * whose pool filter leaves nothing writes no snapshot), so a
    * `max - (retain-1)` range cut could land inside a gap and delete the
    * PREDECESSOR snapshot the newest batch's crash-after-thr replay
    * recovers from — wedging (mixers) or, worse, degrading the recovery
    * to the no-history sentinel (selector). */
  private def thrTrim(spark: SparkSession, thr: String,
      retainThrBatches: Int): DataFrame => DataFrame = {
    val keepIds = spark.table(thr).select(col("batch_id")).distinct()
      .orderBy(col("batch_id").desc).limit(retainThrBatches)
      .collect().map(_.getLong(0))
    if (keepIds.isEmpty) identity
    else _.filter(col("batch_id") >= keepIds.min)
  }

  /** The replay twins' four arrivals: `input` tagged with
    * [[StoreOperator.wave]] and pinned, then `step` — one processBatch
    * against the twin's store — per wave in order. Returns each wave's
    * emission. */
  protected def replayWaves(input: DataFrame)
      (step: (DataFrame, Long) => DataFrame): IndexedSeq[DataFrame] = {
    val waved = input.withColumn("wave", StoreOperator.wave).localCheckpoint(true)
    (0 until 4).map(w =>
      step(waved.filter(col("wave") === lit(w)).drop("wave"), w.toLong))
  }
}

private[graft] object StoreOperator {

  /** [[StoreOperator.thrState]]'s result; `cur` non-empty = recovering. */
  final case class ThrState(prev: Array[Row], cur: Array[Row]) {
    def recovering: Boolean = cur.nonEmpty
  }

  /** The standard four-wave arrival split of the replay twins, in
    * integer arithmetic: above 2^53 a double quotient loses ulps and
    * could mis-wave a doc against the oracle's integer `//`. */
  val wave: Column = expr("CAST(pmod(doc_id DIV 20, 4) AS INT)")

  /** Deterministic within-batch collapse: one row per `key`, the
    * smallest under `order`. An at-least-once source can redeliver a key
    * INSIDE one micro-batch; dropDuplicates keeps a partition-order-
    * dependent row, so a replay could recompute different state and
    * wedge a recovery guard. Ties under `order` are indistinguishable
    * downstream, so the winner is replay-stable. */
  def collapse(df: DataFrame, key: String, order: Column*): DataFrame =
    df.withColumn("rn",
        row_number().over(Window.partitionBy(col(key)).orderBy(order: _*)))
      .filter(col("rn") === 1).drop("rn")
}
