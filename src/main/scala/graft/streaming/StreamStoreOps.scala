package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

/** Store-read and store-append primitives shared by the streaming
  * store operators ([[StoreOperator]]) — one source of truth for the
  * capped one-job key collect, the key-slice prune, the native-IN
  * pushdown window, the pin rule and the bucket-aligned append, so a
  * fix to any of them cannot silently diverge between the operators. */
private[graft] object StreamStoreOps {

  /** Cap on any probe-side key collect: above it, the unpruned scan is
    * the cheaper plan anyway. */
  val MaxPruneKeys = 100000

  /** The distinct rows of `df`, collected by ONE result job (after any
    * shuffle stages of `df`'s own plan) with the distinct done on the
    * driver; None when there are more than `cap`. Each task ships at most
    * `cap + 1` distinct rows, so the driver holds at most partitions ×
    * (cap + 1) — a `distinct()` before the collect would cost an exchange
    * job, and a `limit` collect scans partitions in several jobs. */
  def distinctUpTo(df: DataFrame, cap: Long): Option[IndexedSeq[Row]] = {
    val shipped = df.mapPartitions { rows =>
      val seen = scala.collection.mutable.HashSet.empty[Row]
      while (rows.hasNext && seen.size <= cap) seen += rows.next()
      seen.iterator
    }(Encoders.row(df.schema)).collect()
    Some(shipped.distinct.toIndexedSeq).filter(_.length <= cap)
  }

  /** The distinct `key` values of `df` for a store-side prune
    * ([[distinctUpTo]]); None past `cap` — there [[keySlice]] keeps the
    * unpruned scan, the cheaper plan anyway. */
  def distinctKeys[T](df: DataFrame, key: String,
      cap: Long = MaxPruneKeys): Option[IndexedSeq[T]] =
    distinctUpTo(df.select(col(key)), cap).map(_.map(_.getAs[T](0)))

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

  /** `c IN keys`; an empty list is plain false, which the optimizer
    * turns into an empty relation with no scan. */
  def isIn[T](c: Column, keys: Seq[T]): Column =
    if (keys.isEmpty) lit(false) else c.isin(keys: _*)

  /** Capped key-slice prune — THE store-read shape of every streaming
    * operator here (decide splits, append guards, ack joins): the store
    * grows with the corpus while the batch stays micro-batch-sized, so
    * restricting the store side of a key-equi/anti-join to the batch's
    * own keys is a no-op on the join and turns the read into a pushed
    * IN-list (bucket/row-group pruned under [[withPushdownInWindow]]).
    * No keys → empty slice; None (past the cap, [[distinctKeys]]) → the
    * unpruned frame (the full scan is the cheaper plan anyway). One
    * definition so a cap/semantics fix cannot silently diverge between
    * operators. */
  def keySlice[T](df: DataFrame, key: String, keys: Option[Seq[T]]): DataFrame =
    keys.fold(df)(ks => df.filter(isIn(col(key), ks)))

  /** A store read filtered by `pred` and pinned once (eager
    * localCheckpoint) for the batch's several consumers; None (a key set
    * past the cap) keeps the unpruned read LAZY — a localCheckpoint would
    * pin the entire corpus-sized table to executor storage. */
  def pinnedSlice(df: DataFrame, pred: Option[Column]): DataFrame =
    pred.fold(df)(p => df.filter(p).localCheckpoint(true))

  /** The decided-set slice of a change ledger: [[pinnedSlice]] on the
    * batch's doc_ids, pushed natively via [[withPushdownInWindow]]. */
  def decidedSlice(spark: SparkSession, ledger: DataFrame,
      batchIds: Option[Seq[Long]]): DataFrame =
    withPushdownInWindow(spark) {
      pinnedSlice(ledger, batchIds.map(isIn(col("doc_id"), _)))
    }

  /** `df`, pinned (eager localCheckpoint) if and only if its plan reads
    * one of `tables` — the rule for every frame a store append writes
    * ([[StoreOperator.appendInOrder]]). A lazy read of a store table
    * evaluated inside an insert would see the batch's earlier appends
    * (and an insert would read the table it writes); a frame built only
    * from pinned blocks is frozen already, and a pin would only add a
    * job. */
  def frozen(df: DataFrame, tables: Seq[String]): DataFrame = {
    val names = tables.map(_.toLowerCase).toSet
    val readsStore = df.queryExecution.analyzed.exists {
      case r: LogicalRelation =>
        r.catalogTable.exists(t => names(t.identifier.table.toLowerCase))
      case _ => false
    }
    if (readsStore) df.localCheckpoint(true) else df
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
