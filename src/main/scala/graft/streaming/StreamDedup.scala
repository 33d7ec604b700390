package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** ONLINE near-duplicate filtering of a document stream — the streaming
  * half of the dedup family (SURVEY.md §2 extensions; the batch members
  * are `ext.Dedup.dedupPipeline` / `dedupIncremental`): documents arrive
  * as a streaming DataFrame of (doc_id, source, text), each micro-batch
  * is deduplicated against the accumulated KEPT corpus and within
  * itself (`ext.Dedup.streamDedupStep` — the exact core the oracled
  * batch twin `d_dedup_streamed` folds through, so the streaming logic
  * is DuckDB-checked via the twin), kept docs extend the store, and a
  * per-doc verdict stream goes to the caller's sink.
  *
  * The store is three catalog tables (created on first use):
  *
  *   - `<prefix>_bands`     (doc_id, band_idx, band) — MinHash band
  *     relation of every KEPT doc; 4 fixed-size rows per doc, the only
  *     thing candidate generation ever joins. BUCKETED+SORTED on band
  *     (`ensureStore` DDL, [[StreamDedup.BandBuckets]]): the store side
  *     of the per-batch candidate join arrives pre-partitioned — only
  *     the micro-batch shuffles — and after `compactStore` the store is
  *     a constant-file-count pile whose scan cost no longer tracks the
  *     corpus (the round-14 scale residual, SCALING.md).
  *   - `<prefix>_toks`      (doc_id, toks) — distinct-token sets for
  *     exact-Jaccard verification; only candidate-matched doc_ids are
  *     ever read. BUCKETED+SORTED on doc_id, so the pushed candidate
  *     id set prunes whole buckets and row groups, and the verify
  *     join's store side arrives pre-partitioned. Old document BODIES
  *     are never stored or read.
  *   - `<prefix>_decisions` (doc_id, source, kept, matched_old,
  *     batch_id) — the decide-exactly-once ledger: docs already present
  *     are never re-processed, and a replayed batch re-emits their
  *     recorded verdicts unchanged. BUCKETED+SORTED on doc_id like
  *     toks (the decide-split probe is a doc_id IN-list).
  *
  * Exactly-once contract (same posture as the lake fold's anti-join
  * idiom, `sources/LakeFold.scala`): writes land store-first,
  * decisions-last, and each store append is anti-joined against the rows
  * already present (bands on (doc_id, band_idx), toks on doc_id; the
  * decisions append needs no guard — see [[processBatch]]), so each
  * crash window converges under Spark's batch replay —
  *
  *   - crash BEFORE any append: plain re-run.
  *   - crash after bands/toks, before decisions: the replay re-decides
  *     the batch against a store that already holds the crashed
  *     attempt's kept docs; self-pairs are excluded by doc_id inside
  *     streamDedupStep, kept docs re-keep (Jaccard 1 matches are only
  *     sought among OTHER doc_ids), the anti-joined appends add no
  *     duplicate rows, and nothing was emitted yet. A doc whose
  *     in-batch representative now sits in the store may flip from a
  *     within-batch drop to a store drop with the same matched_old —
  *     same verdict, different route.
  *   - crash after decisions, before the sink ran or completed: the
  *     replay finds every doc decided, recomputes nothing, and re-emits
  *     the recorded verdicts — the sink must be idempotent per batchId,
  *     the contract checkpoint recovery already imposes on every
  *     foreachBatch writer.
  *
  * A micro-batch reads each store table once: the ledger by the batch's
  * doc_ids, bands by the batch's band keys OR doc_ids, toks by the
  * candidate OR batch doc_ids. Each read is pinned once and serves both
  * the dedup step and the append guards. A frame is pinned if and only
  * if its plan reads a store table: every frame an append's guard reads
  * is frozen before the first append, and no insert plan reads a store
  * table. Past the key cap the reads stay lazy (a pin would copy a
  * corpus-sized table), and the guarded frames that read them are
  * pinned instead.
  *
  * Verdict rows: (doc_id, source, kept, matched_old, batch_id) —
  * matched_old is the smallest verified kept-corpus match (store drop),
  * the component representative (within-batch drop), or NULL (kept).
  */
object StreamDedup extends StoreOperator {
  protected val opName = "streamingDedup"

  /** Bucket count for the bands store, bucketed on the full candidate
    * join key (band_idx, band). The COMPOSITE key is load-bearing:
    * Spark's co-partition check requires a side to be hash-partitioned
    * on ALL the join's keys (requireAllClusterKeysForCoPartition
    * defaults true — a single-column `band` bucket layout reads
    * "Bucketed: false (disabled by query planner)" and shuffles the
    * store anyway). Bucket PRUNING is single-column-only and therefore
    * forgone; what the batch's band IN-list still gets is page/
    * dictionary skipping inside each sorted bucket file (streamDedupStep
    * pushes the key set natively). 16 fits the test corpus; a
    * corpus-sized deployment scales it with store bytes (buckets ≈
    * store size / target file size) so each bucket file stays
    * right-sized while the FILE COUNT stays constant — the per-batch
    * serve scan then opens a bounded file set no matter how large the
    * kept corpus grows. 16 is only the CREATE-time floor:
    * [[compactStore]] re-sizes the count with [[bucketsFor]] as the
    * store grows (a bucket count is immutable outside a full rewrite,
    * and compaction is the one place the table is rewritten anyway). */
  private[graft] val BandBuckets = 16

  /** Bucket-count growth policy: enough buckets that one bucket ≈ one
    * target-sized file, rounded UP to a power of two so growth steps
    * are infrequent (each rebucketing is a full rewrite) and monotone,
    * clamped to [[BandBuckets]]..65536 (≈ 8 TB of band rows at 128 MB
    * files — past that, partition the store by band_idx and scale per
    * partition). Power-of-two also keeps successive layouts nested
    * under murmur3-pmod only in expectation, not exactly — which is
    * fine: correctness never depends on WHICH bucket a key lands in,
    * only on both join sides agreeing, and Spark re-checks the spec at
    * plan time.
    *
    * Do NOT shrink `targetFileBytes` to manufacture parallelism: bucket
    * count past what the cluster's cores can absorb is the small-files
    * anti-pattern, and it was measured here, not assumed — the x100
    * probe with 2048 ~30 KB buckets on 32 cores served at 7.3×,
    * WORSE than the fixed-16 layout's 2.0×, pure task-scheduling and
    * file-open overhead; the same store at 128 buckets (4× cores)
    * served at 1.43× (BENCH_SCALEUP.json, SCALING.md round 16). At
    * deployment scale the 128 MB default keeps per-task work real and
    * cores grow with the corpus, so the file-size bound is the right
    * driver; on a fixed-size cluster, cap the count near a small
    * multiple of total cores. */
  private[graft] def bucketsFor(storeBytes: Long,
      targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val needed = math.max(1L, (storeBytes + targetFileBytes - 1) / targetFileBytes)
    val pow2 = java.lang.Long.highestOneBit(needed) match {
      case h if h == needed => needed
      case h => h * 2
    }
    math.min(65536L, math.max(BandBuckets.toLong, pow2)).toInt
  }

  /** The store, in append order (store first, decisions last). All three
    * tables are BUCKETED+SORTED on their probe key — bands on the
    * composite candidate-join key (see [[BandBuckets]]), toks and the
    * decisions ledger on doc_id — the layout that removes every
    * corpus-proportional serve-path term: after [[compactStore]] each
    * store is a constant-file-count, key-clustered table, so a
    * micro-batch's candidate join reads a bounded file set and shuffles
    * only the batch side, doc_id-keyed joins (the verify join, the
    * append guards) find the store side pre-partitioned, and the pushed
    * doc_id IN-lists prune whole BUCKETS (single-column bucket pruning)
    * on top of the row-group skips the within-bucket sort provides.
    * `d_dedup_pipeline_bucketed` proves bucketing cannot change any
    * answer; a store created before this DDL (flat toks/decisions from
    * rounds <= 16) keeps working — appends and compaction follow the
    * catalog's actual spec. */
  private[graft] val storeTables = Seq(
    StoreTable("bands", Some("(doc_id BIGINT, band_idx INT, band STRING) " +
      "USING parquet CLUSTERED BY (band_idx, band) SORTED BY (band_idx, band) " +
      s"INTO $BandBuckets BUCKETS"), Seq("band_idx", "band")),
    StoreTable("toks", Some("(doc_id BIGINT, toks ARRAY<STRING>) USING parquet " +
      s"CLUSTERED BY (doc_id) SORTED BY (doc_id) INTO $BandBuckets BUCKETS"),
      Seq("doc_id")),
    StoreTable("decisions", Some("(doc_id BIGINT, source STRING, kept BOOLEAN, " +
      "matched_old BIGINT, batch_id BIGINT) USING parquet " +
      s"CLUSTERED BY (doc_id) SORTED BY (doc_id) INTO $BandBuckets BUCKETS"),
      Seq("doc_id")))

  /** One micro-batch: decide fresh docs, append store then decisions
    * (each guarded — see the object doc's crash-window analysis), and
    * return the batch's full verdict frame (fresh decisions plus replayed
    * ones, built only from blocks pinned before the appends — safe to
    * hand to any sink after them). Each store table is read once
    * (pruned under the cap) and each read is pinned once for all its
    * consumers; a frame is pinned only where its plan reads a store
    * table. Exposed package-private so specs can drive replay/crash
    * windows without a running stream. */
  private[graft] def processBatch(spark: SparkSession, prefix: String,
      batch: DataFrame, batchId: Long): DataFrame = {
    ensureStore(spark, prefix)
    // The whole batch evaluates inside the widened native-IN pushdown
    // window (StreamStoreOps doc): the decide-split and store-read
    // IN-lists routinely exceed parquet's 10-key default, above which
    // the pushed predicate degrades to a min..max range that skips
    // nothing for scattered ids — every eager evaluation (checkpoints,
    // inserts) happens in here; streamDedupServe's own nested window is
    // harmless.
    StreamStoreOps.withPushdownInWindow(spark) {
    // Within-batch doc_id collapse (StoreOperator.collapse): without it
    // a redelivered doc flows through twice — duplicate verdict
    // emissions, duplicate ledger/toks rows multiplying every later
    // replay join, and (for same-id-different-text redelivery) a
    // minhash signature silently merged from both texts. One
    // deterministic winner (smallest (source, text)) pins replay.
    val batch1 = StoreOperator.collapse(batch, "doc_id", col("source"), col("text"))
      .localCheckpoint(true)
    // The batch's doc_ids (one bounded collect; None past the cap) prune
    // every store read: the ledger here, bands and toks in
    // streamDedupServe. Restricting either side of a doc_id equi-/anti-
    // join to the batch's ids is a no-op, and the store tables grow with
    // the TOTAL corpus while the batch stays micro-batch-sized.
    val batchIds = StreamStoreOps.distinctKeys[Long](batch1, "doc_id")
    val decided = StreamStoreOps.decidedSlice(
      spark, spark.table(tableName(prefix, "decisions")), batchIds)
    // The decide-exactly-once split, frozen BEFORE any append: the
    // appends mutate the ledger `decided` reads, and a lazy evaluation
    // after the decisions append would count the batch's own fresh docs
    // as replayed. Under the cap `decided` is the pinned slice of exactly
    // this batch's recorded rows, so it IS the replayed set; past it the
    // lazy ledger is joined to the batch's ids and pinned (`frozen`).
    // One pin of `batch1 LEFT JOIN decided` would cost as many jobs, but
    // its join size estimate (a product) would reach every frame derived
    // from `fresh`, and the planner would shuffle joins it now broadcasts.
    val replayed = StreamStoreOps.frozen(
      batchIds.fold(decided.join(batch1.select(col("doc_id")), Seq("doc_id")))(_ => decided)
        .select(col("doc_id"), col("source"), col("kept"), col("matched_old"), col("batch_id")),
      storeTableNames(prefix))
    val fresh = batch1
      .join(decided.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    // One pinned read of bands and of toks serves the step's joins and
    // the append guards below (streamDedupServe's doc has the slices).
    val step = graft.ext.Dedup.streamDedupServe(fresh,
      spark.table(tableName(prefix, "bands")), spark.table(tableName(prefix, "toks")),
      batchIds)
    // Guarded appends. Each guard reads the `doc_id IN batch ids` part of
    // the step's store read — restricting it to the batch's ids is a
    // no-op on the anti-join, whose left side carries only batch docs.
    // The bands guard anti-joins on (doc_id, band_idx), NOT doc_id
    // alone: a doc's 4 band rows land across multiple bucket FILES, and
    // a crash mid job-commit can persist some files without the rest —
    // a doc-granular guard would then see the doc "present" on replay
    // and permanently drop its missing bands (future near-duplicates
    // colliding only on those bands would be kept). toks/decisions are
    // one row per doc and keep the doc-granular guard.
    val newBands = step.keptBands
      .join(StreamStoreOps.keySlice(step.bandsRead.select(col("doc_id"), col("band_idx")),
        "doc_id", batchIds), Seq("doc_id", "band_idx"), "left_anti")
      .select(col("doc_id"), col("band_idx"), col("band"))
    val newToks = step.keptToks
      .join(StreamStoreOps.keySlice(step.toksRead.select(col("doc_id")),
        "doc_id", batchIds), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("toks"))
    // No guard anti-join on the decisions — it is provably redundant:
    // freshDecisions derives from `fresh` = batch1 ∖ decided, with
    // `decided` frozen before any append and only this batch writing the
    // ledger, so a second anti-join against the same set removes nothing
    // in any crash window (partial-append residue lands in `decided` on
    // the NEXT replay, where those docs take the replayed path).
    val freshDecisions = step.verdicts
      .withColumn("batch_id", lit(batchId))
      .select(col("doc_id"), col("source"), col("kept"),
        col("matched_old"), col("batch_id"))
    // Under the cap the three frames read only pinned blocks, so each
    // anti-join runs inside its insert and no insert plan reads a store
    // table; past it a guard reads a lazy store table, and appendInOrder
    // pins that frame before the first append (StreamStoreOps.frozen).
    // Each append follows its table's LIVE bucket layout (the counts
    // drift upward across compactStore rebucketings).
    appendInOrder(spark, prefix, Some(newBands), Some(newToks),
      Some(freshDecisions))
    freshDecisions.union(replayed)
    }
  }

  /** Small-file compaction of the three store tables — the maintenance
    * pass the serve path's probe pruning assumes. Every micro-batch
    * appends a few small files to each table; after N batches the stores
    * are N-file piles with interleaved key ranges, so the pushed id-range
    * predicates ([[processBatch]]'s ledger pruning,
    * `streamDedupStep(prune = true)`'s toks pruning) can skip nothing.
    * [[StoreOperator.compactStoreTables]] rewrites each bucketed table to
    * one right-sized file per non-empty bucket, rescaling the bucket
    * count with store bytes ([[bucketsFor]]) — the fixed-16 layout was
    * the remaining 2x in the 100x pruned-serve datum; a legacy flat
    * store gets the ordered rewrite. Returns per-table (filesBefore,
    * filesAfter). */
  def compactStore(spark: SparkSession, prefix: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Map[String, (Int, Int)] =
    compactStoreTables(spark, prefix, targetFileBytes)

  /** Start the online dedup filter over a streaming (doc_id, source,
    * text) DataFrame. `sink` receives each batch's verdict frame and its
    * batchId and must be idempotent per batchId (standard foreachBatch
    * recovery contract — see the object doc). */
  def streamingDedup(docs: DataFrame, prefix: String = "stream_dedup",
      checkpoint: Option[String] = None)
      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    start(docs, prefix, checkpoint)(processBatch(_, prefix, _, _))(sink)
}
