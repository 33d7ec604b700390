package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-source threshold state of a [[ThresholdMixer]]: the accumulated
  * weight `total`, the quota law's `full` epochs and partial quota
  * `rem`, and (tS, tD) — the key of the last doc whose cum_before < rem
  * (sentinel when rem = 0) — with `cumT` the weight at-or-below it. */
private[streaming] final case class MixThr(source: String, w: Long,
    total: Long, full: Long, rem: Long, tS: Long, tD: Long, cumT: Long)

/** ONLINE corpus mixing of a document stream under a per-source quota law
  * over doc WEIGHTS — the one threshold mixer behind [[StreamMix]] (every
  * doc weighs 1) and [[StreamMixTokens]] (a doc weighs its token count).
  * Each micro-batch extends the accumulated corpus, the law re-derives
  * every source's (full epochs, partial quota rem) over everything on
  * hand, and the sink receives the batch's VERDICT CHANGES: a doc is in
  * its source's partial ⟺ `cum_before < rem` over the (skey, doc_id)
  * shuffle-key order, cum_before being the weight of the source's docs
  * before it. The doc-count law is the token law with weight 1: there
  * cum_before = rank − 1, so `rank ≤ quota` ⟺ `cum_before < quota`, and
  * the threshold's cum_t is the quota itself.
  *
  * == The scale design: thresholds, not ranks ==
  *
  * cum_before is nondecreasing in key order, so the membership predicate
  * is a PREFIX and collapses to `key ≤ T(source)`, T the key of the
  * prefix's last doc — shuffle keys are unique per doc, so it is a
  * total-order comparison against ONE key per source:
  *
  *   - the mix STATE is a ~|sources|-row thresholds table, not a per-doc
  *     column — a doc's verdict is recomputed from its key and its
  *     source's threshold in O(1), with no window over the ledger;
  *   - per-source totals update INCREMENTALLY (total' = total + fresh
  *     weight), so the quota law is driver-side integer arithmetic over
  *     ~|sources| rows — no per-batch corpus aggregate;
  *   - a batch flips verdicts ONLY between the old and new thresholds, so
  *     the flip scan is a range-pruned read of the (source, skey,
  *     doc_id)-ordered docs store, never a full-corpus rank window;
  *   - the new threshold is found by DENSITY-GUIDED RANGE PROBES:
  *     md5-prefix keys are uniform on [0, 2^60), so the window expected
  *     to hold g missing weight past T_old is g/total·2^60 wide — one
  *     range-pruned scan of ~4× that window (widened 8× on undershoot,
  *     full-range fallback guaranteed to terminate) walks the merged
  *     (old ∪ fresh) slice in key order with a running weight sum. The
  *     one mass-flip case — a NEW small source shrinking every quota —
  *     costs O(flips), the size of the emission itself.
  *
  * Per-batch cost is O(batch + flips + |sources| + pruned-scan overhead);
  * the corpus enters only through file-skip constants (the `mix_serve`
  * probe in [[graft.ScaleUpBench]] records the curve).
  *
  * == Store tables, in append order ==
  *
  *   - `<prefix>_thr`    — the thresholds snapshot appended per
  *     state-changing batch; current state = rows at the highest
  *     batch_id; history trimmed to the trailing snapshots at compaction.
  *   - `<prefix>_docs`   (doc_id, source, skey[, tok]) — the accumulated
  *     corpus (bodies never stored), compacted on (source, skey, doc_id)
  *     so probes and flip scans skip every file outside their window.
  *   - `<prefix>_ledger` (doc_id, source, <verdict>, batch_id) — one row
  *     per verdict CHANGE; the replay log AND the decided-set filter,
  *     probed only by the batch's own doc_ids. Never windowed.
  *
  * == Exactly-once contract ==
  *
  * Append order thr → docs → ledger gives three crash windows that all
  * converge under foreachBatch's serial replay:
  *
  *   - crash BEFORE the thr append: plain re-run — nothing recorded.
  *   - crash after thr, before docs: the replay finds thr rows carrying
  *     this batch_id and REUSES them (they are the deterministic function
  *     of the same corpus + batch, so the recomputed law must MATCH them
  *     — a mismatch is a foreign checkpoint and refuses); fresh docs are
  *     re-derived from the unwritten ledger and the emission recomputed
  *     against the same stored thresholds — identical.
  *   - crash after docs, before ledger: as above, plus the docs append
  *     guards with an anti-join, taken ONLY on this recovery path; old-
  *     corpus reads exclude the batch's own fresh ids so the half-
  *     appended docs cannot masquerade as old corpus.
  *   - crash after ledger: the replay finds every batch doc decided and
  *     re-emits exactly the recorded rows ([[StoreOperator.decidedSplit]]).
  *
  * Folding emissions by latest batch_id (plus the thr snapshot's full
  * epochs) reproduces the law after every batch — spec-asserted against
  * the batch laws and oracled through the four-wave twins. */
private[graft] abstract class ThresholdMixer extends StoreOperator {
  import ThresholdMixer.{KeySpace, NoKey, Probe, keyGT, keyLE}

  /** The emitted per-doc membership column (`kept` / `in_partial`). */
  protected def verdict: String

  /** A doc's weight from its raw batch row, stored as the docs table's
    * `tok`; None = every doc weighs 1 (no stored column). */
  protected def weightExpr: Option[Column]

  /** The raw columns an arriving batch carries. */
  protected def inputCols: Seq[String]

  /** The thr table projected to (w, total, full, rem, t_skey, t_doc,
    * cum_t). */
  protected def thrCanonical: Seq[Column]

  /** A snapshot row's values between source and batch_id, in the thr
    * table's column order. */
  protected def thrValues(t: MixThr): Seq[Long]

  /** The quota law: per source (full epochs, partial quota rem) from the
    * accumulated totals and the weights; refuses invalid weights. */
  protected def quotas(prefix: String, totals: Map[String, Long],
      weights: Map[String, Long]): Map[String, (Long, Long)]

  def compactStore(spark: SparkSession, prefix: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      retainThrBatches: Int = 8): Map[String, (Int, Int)] =
    compactStoreTables(spark, prefix, targetFileBytes, retainThrBatches)

  /** One micro-batch: extend the corpus, move the per-source thresholds,
    * emit the verdict changes (doc_id, source, <verdict>, batch_id),
    * eagerly materialized — recomputed or replayed. */
  protected def mixBatch(spark: SparkSession, prefix: String,
      batch: DataFrame, batchId: Long, seed: String,
      weights: String => Long): DataFrame = {
    ensureStore(spark, prefix)
    graft.functions.Md5Prefix60.register(spark)
    import spark.implicits._
    val wt = if (weightExpr.isDefined) col("tok") else lit(1L)
    val docsT = tableName(prefix, "docs")

    // Within-batch collapse on the smallest (source[, tok]): a replay of
    // an at-least-once redelivery must recompute the same totals.
    val prepared = batch.select(
      Seq(col("doc_id"), col("source")) ++ weightExpr.map(_.as("tok")): _*)
    val collapsed = StoreOperator.collapse(prepared, "doc_id",
      prepared.columns.tail.map(col).toSeq: _*)
    val fresh = decidedSplit(spark, prefix, collapsed, batchId) match {
      case Left(emission) => return emission
      case Right(f) => f
    }

    val st = thrState(spark, prefix, batchId, col("source") +: thrCanonical, "docs")
    def thrMap(rows: Array[Row]): Map[String, MixThr] = rows.map(r =>
      r.getString(0) -> MixThr(r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .toMap
    val prevThr = thrMap(st.prev)
    val curThr = thrMap(st.cur)
    def tOld(s: String) =
      prevThr.get(s).map(t => (t.tS, t.tD)).getOrElse(NoKey)

    // Fresh docs, keyed. The seed goes through lit(), never string
    // interpolation into an expr (a quote in a caller seed would break
    // parsing); md5_prefix60 is the batch law's own function.
    val freshK = fresh.withColumn("skey", call_function("md5_prefix60",
      concat(lit(seed), lit(":"), col("doc_id").cast("string"))))
      .localCheckpoint(true)
    // Old-corpus reads must never see this batch's own docs: on the
    // crash-after-docs path they are already in the table. Fresh is
    // micro-batch-sized, so the anti-join broadcasts.
    def oldDocs: DataFrame = spark.table(docsT)
      .join(broadcast(freshK.select(col("doc_id"))), Seq("doc_id"), "left_anti")

    // ---- per-source fresh weight and b = weight of fresh docs ≤ T_old
    // (one job); both sums coalesce so an all-zero source reads 0.
    val prevDf = prevThr.values.toSeq.map(t => (t.source, t.tS, t.tD))
      .toDF("source", "p_skey", "p_doc")
    val freshStats = freshK
      .join(broadcast(prevDf), Seq("source"), "left")
      .groupBy(col("source"))
      .agg(coalesce(sum(wt), lit(0L)).as("ft"),
        coalesce(sum(when(keyLE(coalesce(col("p_skey"), lit(NoKey._1)),
          coalesce(col("p_doc"), lit(NoKey._2))), wt).otherwise(0L)), lit(0L))
          .as("b"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap

    // ---- the quota law over incrementally maintained totals
    val sources = (prevThr.keySet ++ freshStats.keySet).toSeq.sorted
    val total = sources.map(s => s -> (prevThr.get(s).map(_.total).getOrElse(0L) +
      freshStats.get(s).map(_._1).getOrElse(0L))).toMap
    val wOf = sources.map(s =>
      s -> prevThr.get(s).map(_.w).getOrElse(weights(s))).toMap
    val quota = quotas(prefix, total, wOf)

    // Recovery-binding guard: a legit crash-after-thr replay re-derives
    // the SAME (sources, w, total, full, rem) from the same corpus +
    // batch; any mismatch means the batch_id collision is a foreign
    // checkpoint, not a crash window.
    if (st.recovering)
      require(curThr.keySet == sources.toSet && sources.forall { s =>
        val t = curThr(s)
        t.w == wOf(s) && t.total == total(s) && (t.full, t.rem) == quota(s)
      }, s"$opName($prefix): thresholds already stored for " +
        s"batch_id=$batchId do not match this batch's recomputed state " +
        "— the store prefix is bound to a different checkpoint; use a " +
        "new prefix or restore the original checkpoint")

    val newThr: Map[String, MixThr] =
      if (st.recovering) curThr
      else {
        // cum@T_old over the MERGED corpus = stored cum_t + fresh weight
        // at-or-below T_old; the probe walks from there to rem.
        val resolved = scala.collection.mutable.Map[String, (Long, Long, Long)]()
        val probes = sources.flatMap { s =>
          val rem = quota(s)._2
          val cum0 = prevThr.get(s).map(_.cumT).getOrElse(0L) +
            freshStats.get(s).map(_._2).getOrElse(0L)
          val (tS, tD) = tOld(s)
          if (rem == 0L) { resolved(s) = (NoKey._1, NoKey._2, 0L); None }
          // T_old still ends the partial: it weighs ≥ 1 and the next doc
          // starts at cum0 = rem. Sound only when every weight is ≥ 1.
          else if (weightExpr.isEmpty && cum0 == rem) {
            resolved(s) = (tS, tD, cum0); None
          } else {
            // weight still to cover (descending counts T_old itself);
            // window = 4× its uniform-density width
            val g = if (cum0 < rem) rem - cum0 else cum0 - rem + 1
            val w0 = ((BigInt(g) * KeySpace * 4) / BigInt(total(s)).max(1))
              .min(KeySpace).toLong.max(1L)
            Some(Probe(s, if (cum0 < rem) 1 else -1, rem, cum0, tS, tD, w0))
          }
        }
        resolved ++= probe(spark, oldDocs, freshK, wt, probes)
        sources.map { s =>
          val (tS, tD, cumT) = resolved(s)
          s -> MixThr(s, wOf(s), total(s), quota(s)._1, quota(s)._2, tS, tD, cumT)
        }.toMap
      }

    // ---- delta emission. Old docs flip ONLY inside the per-source
    // (T_old, T_new] boundary region — a range-pruned scan of the
    // key-ordered store; fresh docs all emit their first verdict.
    val flips = sources.flatMap { s =>
      val (told, tnew) = (tOld(s), (newThr(s).tS, newThr(s).tD))
      val cmp = Ordering[(Long, Long)].compare(tnew, told)
      if (cmp == 0) None
      else if (cmp > 0) Some((s, told, tnew, true)) // admitted
      else Some((s, tnew, told, false)) // evicted
    }
    val newDf = newThr.values.toSeq.map(t => (t.source, t.tS, t.tD))
      .toDF("source", "n_skey", "n_doc")
    val freshVerdicts = freshK.join(broadcast(newDf), Seq("source"))
      .select(col("doc_id"), col("source"),
        keyLE(col("n_skey"), col("n_doc")).as(verdict))
    val delta = (if (flips.isEmpty) freshVerdicts else oldDocs
        .filter(flips.map { case (s, lo, hi, _) =>
          col("source") === lit(s) &&
            keyGT(lit(lo._1), lit(lo._2)) && keyLE(lit(hi._1), lit(hi._2))
        }.reduce(_ || _))
        .join(broadcast(flips.map { case (s, _, _, v) => (s, v) }
          .toDF("source", "v_new")), Seq("source"))
        .select(col("doc_id"), col("source"), col("v_new").as(verdict))
        .unionByName(freshVerdicts))
      .withColumn("batch_id", lit(batchId))
      .localCheckpoint(true)

    // ---- appends in the declared order thr → docs → ledger
    val thrRows = Option.when(!st.recovering)(spark.createDataFrame(
      newThr.values.toSeq
        .map(t => Row.fromSeq(t.source +: thrValues(t) :+ batchId)).asJava,
      spark.table(tableName(prefix, "thr")).schema))
    val docsToAppend =
      if (!st.recovering) freshK // normal path: no existence probe at all
      else freshK.join(spark.table(docsT).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
    appendInOrder(spark, prefix, thrRows,
      Some(docsToAppend.select(spark.table(docsT).columns.toSeq.map(col): _*)),
      Some(delta))
    delta
  }

  /** The density-guided boundary probe: per round ONE aggregation job
    * walks each probed source's slice in key order (ascending past T_old,
    * descending from it) with a running weight sum. cb is the row's TRUE
    * cum_before both ways (ascending: cum0 + run − wt; descending:
    * cum0 − run), so the last key with cb < rem is the threshold and
    * cb + wt its cum_t; ascending, a hit with cum_t < rem means the
    * window ended first. (key·dir ordering assumes |doc_id| < 2^62;
    * skey < 2^60 by construction.) Returns (t_skey, t_doc, cum_t). */
  private def probe(spark: SparkSession, oldDocs: DataFrame, freshK: DataFrame,
      wt: Column, start: Seq[Probe]): Map[String, (Long, Long, Long)] = {
    import spark.implicits._
    val resolved = scala.collection.mutable.Map[String, (Long, Long, Long)]()
    var probes = start
    var rounds = 0
    while (probes.nonEmpty) {
      rounds += 1
      require(rounds <= 64, s"$opName: boundary probe failed to converge (bug)")
      val pred: Column = probes.map { p =>
        val base = col("source") === lit(p.source)
        if (p.dir > 0)
          base && keyGT(lit(p.tS), lit(p.tD)) &&
            col("skey") <= lit(math.min(KeySpace - 1, p.tS + p.width))
        else
          base && keyLE(lit(p.tS), lit(p.tD)) &&
            col("skey") >= lit(math.max(-1L, p.tS - p.width))
      }.reduce(_ || _)
      def slice(df: DataFrame) = df.filter(pred)
        .select(col("doc_id"), col("source"), col("skey"), wt.as("wt"))
      val params = probes.map(p => (p.source, p.dir, p.rem, p.cum0))
        .toDF("source", "dir", "rem", "cum0")
      val ord = Window.partitionBy(col("source"))
        .orderBy((col("skey") * col("dir")).asc, (col("doc_id") * col("dir")).asc)
      val hits = slice(oldDocs).unionByName(slice(freshK))
        .join(broadcast(params), Seq("source"))
        .withColumn("run", sum(col("wt"))
          .over(ord.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("cb", when(col("dir") > 0,
          col("cum0") + col("run") - col("wt")).otherwise(col("cum0") - col("run")))
        .groupBy(col("source"))
        .agg(max(when(col("cb") < col("rem"), struct(col("skey"),
          col("doc_id"), (col("cb") + col("wt")).as("cum")))).as("hit"))
        .collect()
        .flatMap(r => Option(r.getStruct(1)).map(h =>
          r.getString(0) -> (h.getLong(0), h.getLong(1), h.getLong(2))))
        .toMap
      probes = probes.filter { p =>
        hits.get(p.source) match {
          case Some(hit) if p.dir < 0 || hit._3 >= p.rem =>
            resolved(p.source) = hit; false
          case _ =>
            val covered =
              if (p.dir > 0) p.tS + p.width >= KeySpace - 1 else p.tS - p.width <= -1L
            require(!covered, s"$opName: source ${p.source} exhausted the " +
              "fully-widened probe window without reaching its threshold — " +
              "weight accounting is inconsistent (bug)")
            p.width = math.min(KeySpace, p.width * 8); true
        }
      }
    }
    resolved.toMap
  }

  /** Every stored doc's current (full, in) — full epochs of its source
    * and partial membership — from the LATEST thresholds snapshot: one
    * store scan + a ~|sources|-row broadcast, no window, no ledger read.
    * The audit / law-equality surface; the serve path never needs it. */
  protected def currentState(spark: SparkSession, prefix: String): DataFrame = {
    ensureStore(spark, prefix)
    val thr = spark.table(tableName(prefix, "thr"))
    val last = thr.agg(max(col("batch_id"))).head()
    val docs = spark.table(tableName(prefix, "docs"))
    if (last.isNullAt(0))
      return docs.select(col("doc_id"), col("source"), lit(0L).as("full"),
        lit(false).as("in")).filter(lit(false))
    val cur = thr.filter(col("batch_id") === last.getLong(0))
      .select(col("source"), thrCanonical(2).as("full"), // (w, total, full, ...)
        col("t_skey"), col("t_doc"))
    docs.join(broadcast(cur), Seq("source"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("full"), lit(0L)).as("full"),
        (col("t_skey").isNotNull && keyLE(col("t_skey"), col("t_doc"))).as("in"))
  }

  /** The oracled four-wave replay twin of a mixer: the documents table
    * arrives in the standard waves ([[StoreOperator.wave]]), each wave
    * runs the REAL store-backed batch against a scratch store, and the
    * emissions fold to the latest verdict per arrived doc — (doc_id, src,
    * v) — which `perWave` turns into that wave's output column. Result:
    * (doc_id, source, wave, <one column per wave>), NULL before a doc
    * arrives. Bench excludes these sequential-replay twins (4 × the
    * per-wave job floor); the live cost is ONE batch per micro-batch. */
  protected def wavesTwin(spark: SparkSession, sfDir: String, prefix: String,
      seed: String)(perWave: (DataFrame, Int) => DataFrame): DataFrame = {
    resetStore(spark, prefix)
    val docs = graft.Tables.documents(spark, sfDir)
    val deltas = replayWaves(docs.select(inputCols.map(col): _*))(
      mixBatch(spark, prefix, _, _, seed, StreamMix.FixtureWeights))
    var state: DataFrame = null // latest verdict per arrived doc
    val folds = deltas.zipWithIndex.map { case (d, w) =>
      val delta = d.select(col("doc_id"), col("source").as("src"), col(verdict).as("v"))
      state = (if (state == null) delta
        else delta.unionByName(
          state.join(delta.select(col("doc_id")), Seq("doc_id"), "left_anti")))
        .localCheckpoint(true)
      perWave(state, w)
    }
    folds.foldLeft(docs.select(col("doc_id"), col("source"),
        StoreOperator.wave.as("wave")))(
      (acc, f) => acc.join(f, Seq("doc_id"), "left"))
  }
}

private object ThresholdMixer {
  /** skey = first 60 bits of md5 (functions/Md5Prefix60), so the
    * keyspace is exactly [0, 2^60) and uniform — the density estimate
    * every boundary probe relies on. */
  val KeySpace: Long = 1L << 60

  /** Sentinel threshold ordering BEFORE every real key (rem 0 keeps
    * nothing; real skeys are non-negative). */
  val NoKey: (Long, Long) = (-1L, -1L)

  /** (skey, doc_id) ≤ (tS, tD) lexicographically — the in-partial
    * predicate — and its complement. */
  def keyLE(tS: Column, tD: Column): Column =
    (col("skey") < tS) || (col("skey") === tS && col("doc_id") <= tD)
  def keyGT(tS: Column, tD: Column): Column =
    (col("skey") > tS) || (col("skey") === tS && col("doc_id") > tD)

  /** One source's open boundary probe: walk direction, partial quota,
    * cum@T_old, T_old and the current window width. */
  final case class Probe(source: String, dir: Int, rem: Long, cum0: Long,
      tS: Long, tD: Long, var width: Long)
}
