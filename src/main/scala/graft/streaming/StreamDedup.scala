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
  *     ever joined. BUCKETED+SORTED on doc_id, so the pushed candidate
  *     id range skips the row groups outside it. Old document BODIES
  *     are never stored or read.
  *   - `<prefix>_decisions` (doc_id, source, kept, matched_old,
  *     batch_id) — the decide-exactly-once ledger: docs already present
  *     are never re-processed, and a replayed batch re-emits their
  *     recorded verdicts unchanged. BUCKETED+SORTED on doc_id like
  *     toks (the decide-split probe pushes the batch's doc_id range).
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
  * A micro-batch reads each store table once, by one pinned broadcast
  * semi-join probe ([[StreamStoreOps.probe]]) on a batch-bounded key
  * frame: the ledger on the batch's doc_ids, bands on the batch's
  * (band_idx, band) pairs, toks on the candidate and batch doc_ids. The
  * doc_id probes also push the [min, max] range of their keys, observed
  * by the key frame's own pin. Each probe serves both the dedup step and
  * the append guards, and no insert plan reads a store table. The probe
  * never plans a literal IN-list: its planning time does not grow with
  * the batch, and it needs no key collect and no cap.
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
    * forgone, and the md5 band keys span their keyspace, so the batch's
    * bands probe pushes no range either: the semi-join drops the
    * non-matching rows after the scan. 16 fits the test corpus; a
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
    * doc_id ranges skip the row groups the within-bucket sort keeps
    * outside them.
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
    * hand to any sink after them). Each store table is read once, by one
    * pinned semi-join probe ([[StreamStoreOps.probe]]) that serves all
    * its consumers, so no insert plan reads a store table. Exposed
    * package-private so specs can drive replay/crash windows without a
    * running stream. */
  private[graft] def processBatch(spark: SparkSession, prefix: String,
      batch: DataFrame, batchId: Long): DataFrame = {
    ensureStore(spark, prefix)
    // Within-batch doc_id collapse (StoreOperator.collapse): without it
    // a redelivered doc flows through twice — duplicate verdict
    // emissions, duplicate ledger/toks rows multiplying every later
    // replay join, and (for same-id-different-text redelivery) a
    // minhash signature silently merged from both texts. One
    // deterministic winner (smallest (source, text)) pins replay. The
    // pin also observes the batch's doc_id range, which every doc_id
    // probe below pushes to its store scan.
    val (batch1, batchRange) = StreamStoreOps.pinRanged(
      StoreOperator.collapse(batch, "doc_id", col("source"), col("text")), "doc_id")
    // The decide-exactly-once split, frozen BEFORE any append: the
    // appends mutate the ledger, and a lazy evaluation after the
    // decisions append would count the batch's own fresh docs as
    // replayed. The probe pins exactly this batch's recorded rows, so it
    // IS the replayed set. `fresh` is batch1 anti-join that set rather
    // than one pin of `batch1 LEFT JOIN decided`: a left join's size
    // estimate (a product) would reach every frame derived from `fresh`,
    // and the planner would shuffle joins it now broadcasts.
    val decided = StreamStoreOps.probe(spark.table(tableName(prefix, "decisions")),
      batch1.select(col("doc_id")), batchRange)
    val replayed = decided
      .select(col("doc_id"), col("source"), col("kept"), col("matched_old"), col("batch_id"))
    val fresh = batch1
      .join(decided.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    // One pinned probe of bands and of toks serves the step's joins and
    // the append guards below (streamDedupServe's doc has the probes).
    val step = graft.ext.Dedup.streamDedupServe(fresh,
      spark.table(tableName(prefix, "bands")), spark.table(tableName(prefix, "toks")),
      prune = true, guard = Some(batchRange))
    // Guarded appends, each anti-joined against the step's pinned probe
    // of its table: the bands probe holds every stored row carrying one
    // of the batch's (band_idx, band) pairs, among them any crashed
    // attempt's rows for a batch doc (same text, same pairs); the toks
    // probe holds the batch's own doc_ids. The bands guard anti-joins on
    // (doc_id, band_idx), NOT doc_id alone: a doc's 4 band rows land
    // across multiple bucket FILES, and a crash mid job-commit can
    // persist some files without the rest — a doc-granular guard would
    // then see the doc "present" on replay and permanently drop its
    // missing bands (future near-duplicates colliding only on those
    // bands would be kept). toks/decisions are one row per doc and keep
    // the doc-granular guard.
    val newBands = step.keptBands
      .join(step.bandsRead.select(col("doc_id"), col("band_idx")),
        Seq("doc_id", "band_idx"), "left_anti")
      .select(col("doc_id"), col("band_idx"), col("band"))
    val newToks = step.keptToks
      .join(step.toksRead.select(col("doc_id")), Seq("doc_id"), "left_anti")
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
    // The three frames read only pinned blocks, so each anti-join runs
    // inside its insert. Each append follows its table's LIVE bucket
    // layout (the counts drift upward across compactStore rebucketings).
    appendInOrder(spark, prefix, Some(newBands), Some(newToks),
      Some(freshDecisions))
    freshDecisions.union(replayed)
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
