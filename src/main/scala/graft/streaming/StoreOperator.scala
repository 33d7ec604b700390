package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.TableOps

/** One store table of a [[StoreOperator]]: `<prefix>_<suffix>`, created
  * from `ddl` by [[StoreOperator.ensureStore]] (None: another writer owns
  * its creation, e.g. the ANN index build) and appended — and compacted —
  * ordered on `sortCols` ([[StreamStoreOps.appendToStore]]). */
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
  *   - [[ensureStore]]'s cross-JVM fresh-location sweep + idempotent DDL,
  *     and the replay twins' scratch reset ([[resetStore]]);
  *   - the one `foreachBatch` + `checkpointLocation` starter ([[start]]);
  *   - the ledger operators' prologue ([[decidedSplit]]: decided-set
  *     slice, replay fast path, undecided-docs guard) and the thresholds
  *     state read ([[thrState]]: ahead / prev-cur / recovering /
  *     inconsistent-store guards);
  *   - thresholds-store compaction with rank-based snapshot retention.
  *
  * Sinks must be idempotent per batchId — the standard foreachBatch
  * recovery contract every operator inherits. */
private[graft] trait StoreOperator {
  import StreamStoreOps.MaxPruneKeys

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

  /** Idempotent store DDL, residue-proof across JVMs: an uncataloged
    * table whose warehouse directory survived a previous JVM must not
    * adopt the stale files (TableOps.ensureFreshLocation). */
  def ensureStore(spark: SparkSession, prefix: String): Unit = {
    val owned = storeTables.filter(_.ddl.isDefined)
    owned.foreach(t =>
      TableOps.ensureFreshLocation(spark, tableName(prefix, t.suffix)))
    owned.foreach(t => spark.sql(
      s"CREATE TABLE IF NOT EXISTS ${tableName(prefix, t.suffix)} ${t.ddl.get}"))
  }

  /** Drop + clear the managed location of every store and side table:
    * a replay twin's scratch store must reset idempotently even when a
    * PREVIOUS JVM left its warehouse dirs behind. */
  protected def resetStore(spark: SparkSession, prefix: String): Unit =
    (sideTables.map(tableName(prefix, _)) ++ storeTableNames(prefix))
      .foreach(TableOps.dropWithLocation(spark, _))

  /** Append one frame per store table (None: nothing to write), in the
    * declared crash-window order. insertInto is positional: each frame
    * is selected in its table's column order and must be pinned, not
    * read from a table a later append mutates. */
  protected def appendInOrder(spark: SparkSession, prefix: String,
      frames: Option[DataFrame]*): Unit = {
    require(frames.length == storeTables.length,
      s"$opName: ${frames.length} frames for ${storeTables.length} store tables")
    storeTables.zip(frames).foreach { case (t, f) =>
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
    * keyed on doc_id, carrying batch_id). `batchD` is the collapsed,
    * pinned batch. Left = the emission with nothing to compute: empty
    * for an empty batch, the recorded rows for a committed one; Right =
    * the batch's never-decided rows.
    *
    * ONE pruned ledger read serves the replay detection and the fresh
    * split (capped IN-list, [[StreamStoreOps.decidedSlice]]). Ledger rows
    * for this batch_id mean the batch fully committed — but ONLY if every
    * batch doc is decided: a fresh checkpoint restarted against a used
    * store presents old batch ids with NEW docs, and silently re-emitting
    * history would swallow them, so that refuses. */
  protected def decidedSplit(spark: SparkSession, prefix: String,
      batchD: DataFrame, batchId: Long): Either[DataFrame, DataFrame] = {
    val ledger = spark.table(tableName(prefix, "ledger"))
    if (batchD.isEmpty) return Left(ledger.filter(lit(false)))
    val batchIds = batchD.select(col("doc_id"))
      .limit(MaxPruneKeys + 1).collect().map(_.getLong(0)).toIndexedSeq
    val decided = StreamStoreOps.decidedSlice(spark, ledger, batchIds)
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

  /** ORDERED small-file compaction of a thresholds store, run with the
    * stream idle: each data table rewritten ordered on its probe key
    * (its `sortCols`), then `<prefix>_thr` TRIMMED to the trailing
    * `retainThrBatches` snapshots via compactTable's staged retention
    * filter — survivors land on disk in the staging table BEFORE the
    * live table is touched, so the recovery-critical state never has a
    * crash window where the dropped rows' table is its only copy.
    * Returns per-table (filesBefore, filesAfter). */
  protected def compactThresholdStore(spark: SparkSession, prefix: String,
      targetFileBytes: Long, retainThrBatches: Int): Map[String, (Int, Int)] = {
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
    // Retention by RANK over the DISTINCT stored batch ids, never by id
    // arithmetic: batch ids are NOT contiguous in the thr table (a
    // batch whose pool filter leaves nothing writes no snapshot), so a
    // `max - (retain-1)` range cut could land inside a gap and delete
    // the PREDECESSOR snapshot the newest batch's crash-after-thr
    // replay recovers from — wedging (mixers) or, worse, degrading the
    // recovery to the no-history sentinel (selector).
    val keepIds = spark.table(tableName(prefix, "thr"))
      .select(col("batch_id")).distinct()
      .orderBy(col("batch_id").desc).limit(retainThrBatches)
      .collect().map(_.getLong(0))
    storeTables.sortBy(_.suffix == "thr").map { t =>
      val name = tableName(prefix, t.suffix)
      val where = Option.when(t.suffix == "thr" && keepIds.nonEmpty)(
        s"batch_id >= ${keepIds.min}")
      name -> TableOps.compactTable(spark, name, targetFileBytes,
        orderBy = t.sortCols, where = where)
    }.toMap
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
