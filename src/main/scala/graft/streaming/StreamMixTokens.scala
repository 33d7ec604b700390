package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** ONLINE TOKEN-weighted corpus mixing with epoching — the streaming
  * half of `ext.TextAnalysis.corpusMixTokens` the way [[StreamMix]] is
  * the streaming half of `corpusMix`: documents arrive as a streaming
  * (doc_id, source, text) DataFrame, each micro-batch extends the
  * accumulated corpus, and the epoch quotas are re-derived over
  * everything on hand under the exact-integer token law — budget
  * `B = Σ tokens`, `b_s = (w_s·B) div Σw`, `full_epochs = b_s div t_s`,
  * `rem = b_s mod t_s`, and the PARTIAL epoch is the maximal shuffle-key
  * prefix of the source whose docs each still see budget
  * (`cum_before < rem`). A doc's repetition count in the mixture is
  * `copies = full_epochs(source) + (in_partial ? 1 : 0)`.
  *
  * The [[ThresholdMixer]] with a doc weighing its whitespace token count
  * (NULL text counts ZERO tokens — a NULL in the store would poison every
  * later cum-sum). Per-doc emissions are IN_PARTIAL changes only:
  * `full_epochs` changes are per-SOURCE and ride the thresholds snapshot,
  * so a batch that bumps every doc's copies by one epoch costs
  * O(|sources|), not O(corpus). Store tables, in append order:
  *   - `<prefix>_thr`    (source, w, t_tok, full_epochs, rem, t_skey,
  *     t_doc, cum_t, batch_id)
  *   - `<prefix>_docs`   (doc_id, source, skey, tok)
  *   - `<prefix>_ledger` (doc_id, source, in_partial, batch_id)
  *
  * Emitted rows: (doc_id, source, in_partial, batch_id). Folding the
  * latest in_partial per doc with the snapshot's full_epochs reproduces
  * every doc's copies after every batch — spec-asserted equal to
  * `corpusMixTokensOn` over each arrival prefix (StreamMixTokensSpec) and
  * oracled through [[corpusMixTokensStreamed]]. */
object StreamMixTokens extends ThresholdMixer {
  protected val opName = "streamingMixTokens"
  private[graft] val storeTables = Seq(
    StoreTable("thr", Some("(source STRING, w BIGINT, t_tok BIGINT, " +
      "full_epochs BIGINT, rem BIGINT, t_skey BIGINT, t_doc BIGINT, " +
      "cum_t BIGINT, batch_id BIGINT) USING parquet"), Seq("batch_id")),
    StoreTable("docs", Some("(doc_id BIGINT, source STRING, skey BIGINT, " +
      "tok BIGINT) USING parquet"), Seq("source", "skey", "doc_id")),
    StoreTable("ledger", Some("(doc_id BIGINT, source STRING, " +
      "in_partial BOOLEAN, batch_id BIGINT) USING parquet"), Seq("doc_id")))
  protected val verdict = "in_partial"
  protected val weightExpr =
    Some(coalesce(size(split(col("text"), " ")).cast("long"), lit(0L)))
  protected val inputCols = Seq("doc_id", "source", "text")
  protected val thrCanonical = Seq(col("w"), col("t_tok"), col("full_epochs"),
    col("rem"), col("t_skey"), col("t_doc"), col("cum_t"))
  protected def thrValues(t: MixThr): Seq[Long] =
    Seq(t.w, t.total, t.full, t.rem, t.tS, t.tD, t.cumT)

  /** Token quotas are generic integer arithmetic — no divide-12
    * constraint — but a non-positive weight still yields a zero/negative
    * share or a zero wsum. A source with ZERO accumulated tokens has no
    * servable epochs: full = rem = 0, the batch law's guarded branch
    * (corpusMixTokensOn's CASE WHEN t_s = 0), never a division. */
  protected def quotas(prefix: String, totals: Map[String, Long],
      weights: Map[String, Long]): Map[String, (Long, Long)] = {
    weights.foreach { case (s, w) =>
      require(w >= 1,
        s"$opName($prefix): weight $w for source '$s' — weights must be >= 1")
    }
    val budget = totals.values.sum
    val wsum = weights.values.sum
    totals.map { case (s, t) =>
      val b = (weights(s) * budget) / wsum
      s -> (if (t == 0L) (0L, 0L) else (b / t, b % t))
    }
  }

  /** One micro-batch (see [[ThresholdMixer]]); package-private so specs
    * drive replay/crash windows without a running stream. */
  private[graft] def processBatch(spark: SparkSession, prefix: String,
      batch: DataFrame, batchId: Long, seed: String = "epoch42",
      weights: String => Long = StreamMix.FixtureWeights): DataFrame =
    mixBatch(spark, prefix, batch, batchId, seed, weights)

  /** Current copies for every stored doc from the latest thresholds
    * snapshot — the audit/law-equality surface (compared against
    * `corpusMixTokensOn` over the same accumulated corpus). */
  def currentCopies(spark: SparkSession, prefix: String): DataFrame =
    currentState(spark, prefix).select(col("doc_id"), col("source"),
      (col("full") + when(col("in"), 1L).otherwise(0L)).as("copies"))

  /** Registry twin `d_corpus_mix_tokens_streamed` (seed "epoch42", the
    * batch token law's own): emissions folded WITH each wave's thresholds
    * snapshot into (doc_id, source, wave, copies0..copies3). The DuckDB
    * twin (`ext.TextAnalysis.corpusMixTokensStreamedSql`) re-derives every
    * wave's copies from the running-cum rank law. */
  def corpusMixTokensStreamed(spark: SparkSession, sfDir: String): DataFrame =
    wavesTwin(spark, sfDir, "cmxt_replay", "epoch42") { (state, w) =>
      val fe = spark.table(tableName("cmxt_replay", "thr"))
        .filter(col("batch_id") === lit(w.toLong))
        .select(col("source").as("src"), col("full_epochs"))
      state.join(broadcast(fe), Seq("src")).select(col("doc_id"),
        (col("full_epochs") + when(col("v"), 1L).otherwise(0L)).as(s"copies$w"))
    }

  /** Start the online token mixer over a streaming (doc_id, source,
    * text) DataFrame. `sink` receives each batch's in_partial-change
    * frame and its batchId and must be idempotent per batchId; epoch
    * counts ride the `<prefix>_thr` snapshot. The appends run in
    * foreachBatch's cloned session, so a consumer polling the thr
    * table from a DIFFERENT session must `refreshTable` before each
    * read (the standard cross-session listing-cache contract). */
  def streamingMixTokens(docs: DataFrame, prefix: String = "stream_mix_tok",
      seed: String = "epoch42", checkpoint: Option[String] = None,
      weights: String => Long = StreamMix.FixtureWeights)
      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    start(docs, prefix, checkpoint)(
      processBatch(_, prefix, _, _, seed, weights))(sink)
}
