package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ext.Similarity

/** ONLINE maintenance of the persisted IVF-PQ index — the ingest half
  * of the ANN family's train-once/persist/serve split (the serve half
  * is `Similarity.annServeStream`/`annServeStreamBlueGreen`): new
  * vectors arrive as a streaming DataFrame of (vec_id, embedding), each
  * micro-batch is encoded against the FROZEN resident model (coarse
  * cell argmin + cell-residual PQ codes — `Similarity.ivfPqEncode`, the
  * "FAISS add" loop: training happened once, offline, on the base
  * corpus via `Similarity.annIndexWrite`/`annIndexWriteFrom`), and the
  * fresh codes are appended to the bucketed `<prefix>_codes` store the
  * serve paths already read. Cell quality for streamed-in vectors is
  * whatever the frozen Voronoi partition gives — exactly the production
  * trade `annIvfIncremental` documents, monitored via `e_ann_recall`
  * and answered by retraining + `annServeStreamBlueGreen` cut-over.
  *
  * Store semantics are INSERT-ONCE on vec_id (the index's primary key):
  * a vec_id already present keeps its standing row — an update is a
  * delete + re-add at the index-rebuild boundary, never an in-place
  * mutation under readers (FAISS `add` posture). Unlike the dedup
  * filter, NO decisions ledger is needed for exactly-once: a vector's
  * (cell, codes) is a pure function of the frozen model, so a replayed
  * batch re-derives bit-identical acknowledgments and the anti-joined
  * append adds nothing — every crash window converges under Spark's
  * batch replay:
  *
  *   - crash before the append: plain re-run.
  *   - crash after a partial append: the replay re-encodes and the
  *     vec_id anti-join admits only the rows that never landed.
  *   - crash after the append, before the sink: the replay finds every
  *     row present, appends nothing, and re-emits the SAME ack frame —
  *     the sink must be idempotent per batchId, the contract checkpoint
  *     recovery already imposes on every foreachBatch writer.
  *
  * Operational contract: the model is resolved per batch through the
  * version-keyed memo (`Similarity.loadIvfPqModel` — an unchanged
  * version costs one catalog metadata fetch, no Spark job), but a
  * REBUILD under a running add stream desyncs the stream's encodes from
  * the new model — stop the add stream across a rebuild, exactly the
  * `annServeStream` restart contract.
  *
  * 100 TB posture: per batch the work is O(|batch| · (k·d + M·K·d))
  * map-side arithmetic (model enters as plan literals), one broadcast
  * semi-join probe of the store's (vec_id, cell) columns on the batch's
  * vec_ids (the batch's vec_id range pushed to the scan, so only row
  * groups overlapping it are read), and a bucket-aligned append; the
  * standing corpus is never shuffled or rewritten on the hot path.
  * [[compactStore]] owns the append file pile and rescales the bucket
  * count with store bytes, the same maintenance contract as
  * [[StreamDedup]]. */
object StreamAnnIndex extends StoreOperator {
  protected val opName = "streamingIndexAdd"
  // created by the index build (Similarity.annIndexWrite), not here
  private[graft] val storeTables = Seq(StoreTable("codes", None, Seq("cell")))
  // the frozen model the same build writes
  override protected val sideTables = Seq("centroids", "codebooks")

  /** One micro-batch: encode against the frozen model, append the
    * not-yet-present rows (anti-joined on vec_id against one pinned
    * probe of the store on the batch's own ids), and return the batch's
    * ack frame (vec_id, cell, batch_id) — deterministic per batch, so replays
    * re-emit it bit-identically (see the object doc's crash-window
    * analysis). The acked cell is the cell the vector is SERVED from:
    * for a vec_id the insert-once guard found already standing — e.g.
    * a re-submission with a changed embedding — the ack carries the
    * STANDING row's cell, never a fresh encoding the index didn't
    * store. Duplicate vec_ids WITHIN a batch are collapsed to one
    * deterministic winner (smallest embedding under array ordering)
    * before encoding — senders own key uniqueness; the tie-break only
    * pins replay determinism. Exposed package-private so specs can
    * drive replay/crash windows without a running stream. */
  private[graft] def processBatch(spark: SparkSession, prefix: String,
      batch: DataFrame, batchId: Long): DataFrame = {
    val (cents, cb) = Similarity.loadIvfPqModel(spark, prefix)
    // the pin observes the batch's vec_id range for the store probe
    val (encoded, idRange) = StreamStoreOps.pinRanged(Similarity.ivfPqEncode(
        StoreOperator.collapse(batch.select(col("vec_id"), col("embedding")),
          "vec_id", col("embedding")),
      cents, cb), "vec_id")
    // the standing rows of the batch's vec_ids, one pinned probe;
    // restricting the anti-join's right side to left-side keys is a no-op
    val standing = StreamStoreOps.probe(
      spark.table(tableName(prefix, "codes"))
        .select(col("vec_id"), col("cell").as("standing_cell")),
      encoded.select(col("vec_id")), idRange)
    val fresh = encoded
      .join(standing, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"), col("codes"))
    appendInOrder(spark, prefix, Some(fresh))
    // Append-revision stamp: blue-green serve loops key their codes
    // re-list on (rebuild id, store rev), so new vectors become
    // servable at the next serve-batch boundary WITHOUT a restart
    // (Similarity.codesVersion). Stamped on every non-empty batch —
    // not just fresh appends — so the crash window "files landed,
    // stamp didn't" heals on the batch's replay instead of leaving
    // the rows invisible to running serve fleets indefinitely.
    if (!idRange.isEmpty) bumpRev(spark, prefix)
    // Ack cell = the cell the vector is SERVED from: the STANDING
    // row's cell when the insert-once guard kept it (a re-submitted
    // vec_id with a changed embedding must not be acked into a cell
    // the index never stored), the fresh encoding's otherwise. The
    // probe was pinned before the append, so the frame is deterministic
    // under replay.
    encoded.select(col("vec_id"), col("cell"))
      .join(standing, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("standing_cell"), col("cell")).as("cell"))
      .withColumn("batch_id", lit(batchId))
  }

  private def bumpRev(spark: SparkSession, prefix: String): Unit =
    spark.sql(s"ALTER TABLE ${tableName(prefix, "codes")} SET TBLPROPERTIES " +
      s"('graft.store.rev' = '${java.util.UUID.randomUUID()}')"): Unit

  /** Bucketed compaction of the codes store — collapses the per-append
    * file pile back to one right-sized file per non-empty bucket and
    * rescales the bucket count with store bytes
    * ([[StoreOperator.compactStoreTables]]; the CREATE-time count fits
    * the base build). Run with the add stream idle. The rewrite replaces
    * every FILE under an unchanged identity (compaction preserves the
    * graft.* properties), so the append revision is bumped: running
    * blue-green fleets re-list proactively instead of through the
    * missing-file retry path. */
  def compactStore(spark: SparkSession, prefix: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val r = compactStoreTables(spark, prefix, targetFileBytes).values.head
    bumpRev(spark, prefix)
    r
  }

  /** Start the online index-add loop over a streaming (vec_id,
    * embedding) DataFrame. The persisted index (model tables + codes
    * store) must exist — build it with `Similarity.annIndexWrite` /
    * `annIndexWriteFrom` over the training corpus first. `sink`
    * receives each batch's ack frame and its batchId and must be
    * idempotent per batchId (standard foreachBatch recovery contract —
    * see the object doc). */
  def streamingIndexAdd(vectors: DataFrame, prefix: String = "ann_ivfpq",
      checkpoint: Option[String] = None)
      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    start(vectors, prefix, checkpoint)(processBatch(_, prefix, _, _))(sink)

  /** Registry replay twin (`e_ann_index_streamed`, oracled by
    * `Similarity.annIndexStreamedSql`): train + persist the index over
    * the BASE corpus only (vec_id % 5 != 0, the `annIvfIncremental`
    * split), stream the remaining 20% through the REAL store-backed
    * [[processBatch]] in two waves, then answer the standard 30-query
    * single-probe lookup from the final store — each neighbor labeled
    * base/new so the result itself proves the streamed-in rows are
    * retrievable. The whole fold runs inside the build-once guard
    * keyed to its source dir (`ensureFromSource` — the guard property
    * lands only after the last wave, so a crashed partial fold
    * rebuilds from scratch); repeat invocations pay serve cost only,
    * the production posture. */
  def annIndexStreamed(spark: SparkSession, sfDir: String): DataFrame = {
    val prefix = "annx_replay"
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    Similarity.ensureFromSource(spark, tableName(prefix, "codes"), sfDir) {
      Similarity.annIndexWriteFrom(spark,
        emb.filter(col("vec_id") % 5 =!= 0), prefix)
      (0 until 2).foreach { wave =>
        processBatch(spark, prefix,
          emb.filter(col("vec_id") % 5 === 0)
            .filter(pmod(floor(col("vec_id") / 5), lit(2)) === wave),
          wave.toLong): Unit
      }
    }
    val (cents, cb) = Similarity.loadIvfPqModel(spark, prefix)
    Similarity.ivfPqScore(emb, spark.table(tableName(prefix, "codes")), cents, cb,
        probes = 1)
      .withColumn("src", when(col("neighbor_id") % 5 === 0, lit("new"))
        .otherwise(lit("base")))
  }
}
