package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Store-read and store-append primitives shared by the streaming
  * store operators ([[StoreOperator]]) — one source of truth for the
  * capped ledger-slice prune, the native-IN pushdown window and the
  * bucket-aligned append, so a fix to any of them cannot silently
  * diverge between the operators. */
private[graft] object StreamStoreOps {

  /** Cap on any probe-side key collect: above it, the unpruned scan is
    * the cheaper plan anyway. */
  val MaxPruneKeys = 100000

  /** The batch's `key` values for a store-side prune, collected capped at
    * one past [[MaxPruneKeys]] (past the cap [[keySlice]] keeps the full
    * scan, so the exact count above it never matters). */
  def batchKeys(batch: DataFrame, key: String): IndexedSeq[Long] =
    batch.select(col(key)).limit(MaxPruneKeys + 1).collect()
      .map(_.getLong(0)).toIndexedSeq

  /** A store table's LIVE catalog bucket spec (None: flat). It drifts
    * upward across compaction rebucketings, so appends and compaction
    * read it per call instead of trusting the CREATE-time DDL. */
  def liveBucketSpec(spark: SparkSession, table: String)
      : Option[org.apache.spark.sql.catalyst.catalog.BucketSpec] =
    graft.sources.TableOps.catalogMeta(spark, table).bucketSpec

  /** Run `body` with the parquet native-IN pushdown window widened to
    * 1000 keys: parquet receives an IN-list as a real In predicate only
    * up to `spark.sql.parquet.pushdown.inFilterThreshold` values
    * (default 10); bigger lists collapse to a min..max range, which
    * skips nothing for uniform hash keys and only coarsely for doc
    * ids. Raised, the key SET reaches row-group dictionaries and page
    * indexes. CONCURRENCY CAVEAT: the conf is SESSION-global — the
    * caller is assumed to own the SparkSession for the duration (true
    * of every foreachBatch serve path: one batch at a time). Two
    * concurrent streams sharing a session would see each other's
    * threshold; give each its own `SparkSession.newSession()` instead. */
  def withPushdownInWindow[T](spark: SparkSession)(body: => T): T = {
    val inKey = "spark.sql.parquet.pushdown.inFilterThreshold"
    val saved = spark.conf.get(inKey)
    spark.conf.set(inKey, 1000)
    try body finally spark.conf.set(inKey, saved)
  }

  /** Capped key-slice prune — THE store-read shape of every streaming
    * operator here (decide splits, append guards, ack joins): the store
    * grows with the corpus while the batch stays micro-batch-sized, so
    * restricting the store side of a key-equi/anti-join to the batch's
    * own keys is a no-op on the join and turns the read into a pushed
    * IN-list (bucket/row-group pruned under [[withPushdownInWindow]]).
    * Empty batch → empty slice; over [[MaxPruneKeys]] → the unpruned
    * frame (the full scan is the cheaper plan anyway). One definition
    * so a cap/semantics fix cannot silently diverge between operators. */
  def keySlice(df: DataFrame, key: String, ids: IndexedSeq[Long]): DataFrame =
    if (ids.isEmpty) df.filter(lit(false))
    else if (ids.length > MaxPruneKeys) df
    else df.filter(col(key).isin(ids: _*))

  /** The decided-set slice of a change ledger: [[keySlice]] on doc_id,
    * pushed natively via [[withPushdownInWindow]] and pinned; over the
    * cap the unpruned scan stays LAZY — a localCheckpoint would pin the
    * entire corpus-sized ledger to executor storage. */
  def decidedSlice(spark: SparkSession, ledger: DataFrame,
      batchIds: IndexedSeq[Long]): DataFrame =
    withPushdownInWindow(spark) {
      if (batchIds.length > MaxPruneKeys) ledger
      else keySlice(ledger, "doc_id", batchIds).localCheckpoint(true)
    }

  /** Bucket-layout-aligned append shared by every store-backed streaming
    * operator ([[StoreOperator.appendInOrder]]): repartition on the
    * table's LIVE bucket columns/count (it drifts upward across
    * compaction rebucketings) so each task carries exactly one bucket
    * id — an append adds at most one file per NON-EMPTY bucket instead
    * of tasks × buckets; a flat legacy table keeps the batch-sized
    * sorted single-file append. The bucketed writer enforces the
    * catalog sort spec per bucket file, so both layouts stay
    * stats-tight on the probe key. Deliberate trade-off vs the flat
    * layout's one file per append: a micro-batch spread across B
    * buckets writes up to min(|batch|, B) small files per table, so
    * the inter-compaction file pile grows B× faster — the price of
    * the Exchange-free store joins and bucket-pruned probes the
    * layout buys; the compaction cadence owns the pile,
    * and at deployment scale batches outweigh bucket counts, amortizing
    * the per-file cost back out. */
  def appendToStore(spark: SparkSession, table: String,
      df: DataFrame, sortCols: Seq[String]): Unit = {
    val laid = liveBucketSpec(spark, table) match {
      case Some(s) =>
        df.repartition(s.numBuckets, s.bucketColumnNames.map(col): _*)
      case None =>
        df.coalesce(1).sortWithinPartitions(sortCols.head, sortCols.tail: _*)
    }
    laid.write.insertInto(table)
  }
}
