package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

/** Store-read and store-append primitives shared by the streaming
  * store operators ([[StoreOperator]]) — one source of truth for the
  * store probe, the pin rule and the bucket-aligned append, so a fix to
  * any of them cannot silently diverge between the operators. */
private[graft] object StreamStoreOps {

  /** The closed range [lo, hi] of a Long key column; `lo > hi` is the
    * range of a frame with no rows ([[KeyRange.Empty]]). */
  final case class KeyRange(lo: Long, hi: Long) {
    def isEmpty: Boolean = lo > hi
    /** `c` inside the range: two literals a parquet scan pushes and
      * checks against row-group statistics; plain false when empty. */
    def covers(c: Column): Column = if (isEmpty) lit(false) else c.between(lo, hi)
  }
  object KeyRange {
    val Empty: KeyRange = KeyRange(Long.MaxValue, Long.MinValue)
  }

  /** `df` pinned (eager localCheckpoint) together with the [[KeyRange]]
    * of its Long column `key`. The range is a `Dataset.observe` metric of
    * the pin's own job, read back from that query when the pin returns:
    * no extra job and no listener wait. */
  def pinRanged(df: DataFrame, key: String): (DataFrame, KeyRange) = {
    val observed = df.observe("graft_key_range",
      min(col(key)).cast("long"), max(col(key)).cast("long"))
    val pinned = observed.localCheckpoint(true)
    val row = observed.queryExecution.observedMetrics("graft_key_range")
    (pinned, if (row.isNullAt(0)) KeyRange.Empty else KeyRange(row.getLong(0), row.getLong(1)))
  }

  /** THE store probe of every streaming operator (ledger splits, append
    * guards, candidate and verify reads): the rows of `store` whose
    * `keys` columns match a row of the pinned, batch-bounded `keys`
    * frame, as `store ⋉ broadcast(keys)`, pinned (eager localCheckpoint)
    * for the batch's several consumers. The store grows with the corpus
    * while the keys stay micro-batch-sized, so restricting the store
    * side of a key-equi/anti-join to the batch's own keys is a no-op on
    * that join. `ranges` (each the [[KeyRange]] of a part of the keys,
    * on `keys`' first column) are pushed to the scan before the join as
    * an OR of two-literal ranges, so a key-sorted store skips the row
    * groups outside them; ranges that are all empty read nothing. Unlike
    * a literal IN-list, the plan does not grow with the key count. */
  def probe(store: DataFrame, keys: DataFrame, ranges: KeyRange*): DataFrame = {
    val on = keys.columns.toSeq
    val ranged = ranges.map(_.covers(col(on.head))).reduceOption(_ || _)
      .fold(store)(store.filter)
    ranged.join(broadcast(keys), on, "left_semi").localCheckpoint(true)
  }

  /** A store table's LIVE catalog bucket spec (None: flat). It drifts
    * upward across compaction rebucketings, so appends and compaction
    * read it per call instead of trusting the CREATE-time DDL. */
  def liveBucketSpec(spark: SparkSession, table: String)
      : Option[org.apache.spark.sql.catalyst.catalog.BucketSpec] =
    graft.sources.TableOps.catalogMeta(spark, table).bucketSpec

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
    * operator ([[StoreOperator.appendInOrder]]): hash-repartition on the
    * table's LIVE bucket columns (the count drifts upward across
    * compaction rebucketings) into [[writeTasks]] tasks, a divisor of the
    * bucket count. The bucket id is pmod(h, B) and the task is pmod(h, t);
    * for t dividing B, pmod(h, B) mod t = pmod(h, t), so each bucket id
    * lands in exactly one task and an append adds at most one file per
    * NON-EMPTY bucket, from B/t times fewer tasks than one per bucket.
    * A flat legacy
    * table keeps the batch-sized sorted single-file append. The bucketed
    * writer enforces the catalog sort spec per bucket file, so both
    * layouts stay stats-tight on the probe key. Deliberate trade-off vs
    * the flat layout's one file per append: a micro-batch spread across
    * B buckets writes up to min(|batch|, B) small files per table, so the
    * inter-compaction file pile grows B× faster — the price of the
    * Exchange-free store joins the layout buys; the compaction cadence
    * owns the pile, and at deployment scale batches outweigh bucket
    * counts, amortizing the per-file cost back out. */
  def appendToStore(spark: SparkSession, table: String,
      df: DataFrame, sortCols: Seq[String]): Unit = {
    val laid = liveBucketSpec(spark, table) match {
      case Some(s) =>
        df.repartition(writeTasks(spark, s.numBuckets), s.bucketColumnNames.map(col): _*)
      case None =>
        df.coalesce(1).sortWithinPartitions(sortCols.head, sortCols.tail: _*)
    }
    laid.write.insertInto(table)
  }

  /** Write tasks of a bucketed append: the largest divisor of
    * `numBuckets` that is at most `spark.sql.shuffle.partitions`. */
  private def writeTasks(spark: SparkSession, numBuckets: Int): Int = {
    val cap = spark.sessionState.conf.numShufflePartitions
    (1 to numBuckets).filter(d => numBuckets % d == 0 && d <= cap).max
  }
}
