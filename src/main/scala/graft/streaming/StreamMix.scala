package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** ONLINE corpus mixing of a document stream — the streaming half of the
  * corpus-ops family (batch members: `ext.TextAnalysis.corpusMix` and its
  * oracled arrival twin `corpusMixIncr`, SURVEY.md §2 extensions):
  * documents arrive as a streaming DataFrame of (doc_id, source), each
  * micro-batch extends the accumulated corpus, the mix is RE-QUOTAED over
  * everything on hand under the exact-integer law (`u12 = min over
  * sources of n·(12/w)`, `quota = (w·u12) div 12`, kept = the quota docs
  * with the smallest shuffle keys, ties by doc_id), and the caller's sink
  * receives the batch's VERDICT CHANGES — an arrival that shrinks the
  * binding source EVICTS previously-kept docs, growth ADMITS new ones.
  *
  * The [[ThresholdMixer]] with every doc weighing 1: kept ⟺ rank ≤ quota
  * ⟺ (skey, doc_id) ≤ T(source). Store tables, in append order:
  *   - `<prefix>_thr`    (source, w, n, quota, t_skey, t_doc, batch_id)
  *   - `<prefix>_docs`   (doc_id, source, skey)
  *   - `<prefix>_ledger` (doc_id, source, kept, batch_id)
  *
  * Emitted rows: (doc_id, source, kept, batch_id). Folding emissions by
  * latest batch_id reproduces the full kept set after every batch —
  * spec-asserted equal to `corpusMixIncr`'s per-wave kept columns
  * (StreamMixSpec), which ties the online operator to the DuckDB-oracled
  * law. */
object StreamMix extends ThresholdMixer {
  protected val opName = "streamingMix"
  private[graft] val storeTables = Seq(
    StoreTable("thr", Some("(source STRING, w BIGINT, n BIGINT, quota BIGINT, " +
      "t_skey BIGINT, t_doc BIGINT, batch_id BIGINT) USING parquet"), Seq("batch_id")),
    StoreTable("docs", Some("(doc_id BIGINT, source STRING, skey BIGINT) " +
      "USING parquet"), Seq("source", "skey", "doc_id")),
    StoreTable("ledger", Some("(doc_id BIGINT, source STRING, kept BOOLEAN, " +
      "batch_id BIGINT) USING parquet"), Seq("doc_id")))
  protected val verdict = "kept"
  protected val weightExpr = None
  protected val inputCols = Seq("doc_id", "source")
  // cum_t of the count law is the quota itself; no epochs
  protected val thrCanonical = Seq(col("w"), col("n"), lit(0L), col("quota"),
    col("t_skey"), col("t_doc"), col("quota"))
  protected def thrValues(t: MixThr): Seq[Long] = Seq(t.w, t.total, t.rem, t.tS, t.tD)

  /** The 12-trick (`v = n·(12/w)`, `quota = (w·u12) div 12`) is EXACT
    * integer math only for weights dividing 12 — the batch law's
    * documented constraint (TextAnalysis corpusMix scaladoc). An
    * unvalidated caller weight of 5 silently distorts the mix (12/5=2),
    * 13+ zeroes every quota (mass eviction), 0 divides by zero. */
  protected def quotas(prefix: String, totals: Map[String, Long],
      weights: Map[String, Long]): Map[String, (Long, Long)] = {
    weights.foreach { case (s, w) =>
      require(w >= 1 && 12L % w == 0L,
        s"$opName($prefix): weight $w for source '$s' — the exact-integer " +
          "quota law requires a divisor of 12 ({1, 2, 3, 4, 6, 12})")
    }
    val u12 = totals.map { case (s, n) => n * (12L / weights(s)) }.min
    totals.map { case (s, _) => s -> ((0L, (weights(s) * u12) / 12L)) }
  }

  /** Default source-weight law: the fixture's `(srcN mod 4) + 1`, the
    * same parse `corpusMixOn` applies batch-side. A source's weight only
    * enters through this function on its FIRST appearance (afterwards it
    * rides in the thresholds snapshot), so a non-`srcN` name under the
    * default law fails loudly with the contract named — callers with
    * real-world source names pass their own `weights` to
    * [[streamingMix]]/[[processBatch]] instead. */
  val FixtureWeights: String => Long = { source =>
    // Reads the FIRST 10 digits only — the EXACT parse the batch laws
    // apply (`substring(source, 4, 10).cast("long")` in corpusMixOn /
    // corpusMixTokensOn), so the two halves can never disagree on a
    // long numeric suffix; 10 digits also keeps toLong overflow-free.
    require(source.startsWith("src") && source.length > 3 &&
      source.drop(3).forall(_.isDigit),
      s"StreamMix: no weight for source '$source' — the default weight " +
        "law expects fixture names 'src<N>' (weight = (first-10-digits " +
        "of N mod 4) + 1, the batch law's substring(source, 4, 10) " +
        "parse); pass weights= for other source naming schemes")
    math.floorMod(source.drop(3).take(10).toLong, 4L) + 1L
  }

  /** One micro-batch (see [[ThresholdMixer]]); package-private so specs
    * drive replay/crash windows without a running stream. */
  private[graft] def processBatch(spark: SparkSession, prefix: String,
      batch: DataFrame, batchId: Long, seed: String = "mix42",
      weights: String => Long = FixtureWeights): DataFrame =
    mixBatch(spark, prefix, batch, batchId, seed, weights)

  /** Current kept verdict for every stored doc from the latest
    * thresholds snapshot — compared against `corpusMixOn`'s full re-rank
    * by audits and the ScaleUpBench mix-serve probe. */
  def currentKept(spark: SparkSession, prefix: String): DataFrame =
    currentState(spark, prefix)
      .select(col("doc_id"), col("source"), col("in").as("kept"))

  /** Registry twin `d_corpus_mix_streamed` (seed "incr42", the waves of
    * `corpusMixIncr`): (doc_id, source, wave, kept0..kept3). The DuckDB
    * twin (`ext.TextAnalysis.corpusMixStreamedSql`) re-derives every
    * wave's kept set from the rank law, pinning the threshold/probe
    * dataflow to the exact-integer quota semantics. */
  def corpusMixStreamed(spark: SparkSession, sfDir: String): DataFrame =
    wavesTwin(spark, sfDir, "cmx_replay", "incr42")(
      (state, w) => state.select(col("doc_id"), col("v").as(s"kept$w")))

  /** Start the online mixer over a streaming (doc_id, source) DataFrame.
    * `sink` receives each batch's verdict-change frame and its batchId
    * and must be idempotent per batchId. */
  def streamingMix(docs: DataFrame, prefix: String = "stream_mix",
      seed: String = "mix42", checkpoint: Option[String] = None,
      weights: String => Long = FixtureWeights)
      (sink: (DataFrame, Long) => Unit): StreamingQuery =
    start(docs, prefix, checkpoint)(
      processBatch(_, prefix, _, _, seed, weights))(sink)
}
