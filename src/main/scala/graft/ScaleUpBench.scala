package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale-up data for the 100 TB posture (round-11 task): the
  * plan-shape arguments in SCALING.md say the headline operators grow
  * ~linearly in input size; this main MEASURES points of that curve
  * instead of arguing it. For each factor K it materializes a K× replica
  * of the two fact tables the headline set touches —
  *
  *   - `events`: K salted copies (event_id / user_id offset per copy so
  *     keys stay unique; ts / value / type untouched so filter
  *     selectivity and group cardinality scale the way a real K× corpus
  *     would), raw `ts` column copied UNCONVERTED so the replica keeps
  *     the driver generation's footer type and `q1_time_filter`'s
  *     raw-column pushdown path is exercised identically;
  *   - `documents`: K copies with doc_id offset and every TOKEN prefixed
  *     by a per-copy salt, so copies are NOT near-duplicates of each
  *     other — the MinHash band graph decomposes into K disjoint
  *     replicas of the original and candidate volume grows K×, not K²×
  *     (unsalted copies would collide on every band and manufacture a
  *     quadratic candidate blowup that says nothing about real scaling);
  *   - `embeddings`: K copies with vec_id offset, vectors untouched —
  *     e_knn_brute (the compute-bound ANN floor: broadcast 1-row query
  *     against the corpus, codegen'd dot products, top-k) sees K× the
  *     distance computations; duplicate vectors only produce top-k
  *     ties, which timing doesn't care about
  *
  * — and times the four reference queries plus the banded dedup pipeline
  * against a layout-parity x1 rewrite and each xK replica. Median of
  * `runs` timed passes after one warm-up, same protocol as Bench's
  * extended set. Alongside the timings it records, per query, whether
  * the FINAL adaptive plan at xK has the same operator shape as at x1
  * (AQE re-plans at runtime; a strategy flip under scale — e.g. a
  * broadcast join demoting to sort-merge — is exactly what this datum
  * exists to catch). Writes one JSON line per factor to
  * BENCH_SCALEUP.json; materialization is untimed.
  *
  * Usage: sbt "runMain graft.ScaleUpBench"  (SPARK_GRAFT_SF_DIR,
  * SPARK_GRAFT_SCALEUP_FACTORS (comma list, default "10,30"),
  * SPARK_GRAFT_SCALEUP_RUNS override.)
  */
object ScaleUpBench {

  private val allQueries = Seq(
    "q1_time_filter", "q2_hourly_avg", "q3_union_cube", "q4_join_aggs",
    "d_dedup_pipeline", "e_knn_brute")

  /** SPARK_GRAFT_SCALEUP_QUERIES narrows the probe set (comma list) —
    * the x100 run targets just the two fastest-growing probes from the
    * 30x sweep (q1_time_filter, e_knn_brute), and materializing a 100x
    * documents replica for a dedup probe nobody asked about would
    * dominate the run. Tables are materialized per-need accordingly. */
  private val queries: Seq[String] =
    sys.env.get("SPARK_GRAFT_SCALEUP_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(allQueries)

  private def needsTable(t: String): Boolean = t match {
    case "events" => queries.exists(_.startsWith("q"))
    case "documents" => queries.exists(_.startsWith("d_"))
    case "embeddings" => queries.exists(_.startsWith("e_"))
    case _ => false
  }

  /** `e_ann_serve` in SPARK_GRAFT_SCALEUP_QUERIES enables the IVF-PQ
    * SERVE-path probe (round-14 task): it is not a SparkEntry query —
    * the split is the point — so it is carved out of the per-query
    * sweep and measured as (index build once, per-batch serve latency
    * over a FIXED 30-query batch, final plan shape) per factor. The
    * batch stays 30 queries at every K (copy 0 keeps vec_id 0..n), so
    * the serve number isolates corpus growth: candidate volume per
    * probed cell grows with the corpus while the query side is
    * constant — exactly the shape a serving fleet sees as the indexed
    * corpus grows under a fixed request rate. */
  private val annServeProbe: Boolean = queries.contains("e_ann_serve")

  /** `d_dedup_serve` enables the STREAMING-DEDUP serve-path probe
    * (sibling of the ANN one): per factor, one untimed store build
    * (bands + token sets of the whole xK corpus persisted as tables —
    * the accumulated kept corpus of `StreamDedup`), then the median
    * per-batch latency of `streamDedupStep` over a FIXED 250-doc batch:
    * 125 exact near-dups of copy-0 store docs (new doc_ids) and 125
    * probe-salted novel docs. Token salting preserves within-set
    * Jaccard, so the batch's verdict structure is IDENTICAL at every
    * factor (recorded as kept/dropped counts and asserted same) while
    * the store side of the band join grows K× — per-batch dedup cost
    * as the kept corpus grows under a fixed arrival rate. */
  private val dedupServeProbe: Boolean = queries.contains("d_dedup_serve")

  /** `d_dedup_serve_pruned` measures the MITIGATION the plain serve
    * probe's growth analysis names: the same fixed 250-doc batch served
    * with probe-side store pruning on (`streamDedupStep(prune = true)`,
    * the `StreamDedup.processBatch` default) against a toks store laid
    * out doc_id-ordered (range-partitioned + sorted — the natural layout
    * of an append-only store with monotonic ids, and what a compaction
    * pass maintains). The pushed candidate-id range then SKIPS every
    * toks row group outside copy-0's id window instead of decoding all
    * K× kept docs' token arrays. Bands layout and batch are identical to
    * the plain probe, so the delta isolates the pruning mechanism. */
  private val dedupServePrunedProbe: Boolean =
    queries.contains("d_dedup_serve_pruned")

  /** `d_mix_serve` enables the STREAMING-MIX serve-path probe (sibling
    * of the dedup one, closing the round-15 "named but unmeasured"
    * residual for `StreamMix`): per factor, one untimed store build
    * (the whole xK corpus fed as batch 0, then `compactStore` so the
    * docs table has the (source, skey, doc_id)-ordered layout the
    * boundary probes and flip scans range-prune against), then the
    * median per-batch latency of `StreamMix.processBatch` over a FIXED
    * 250-doc batch of NEW doc_ids (copy-0 docs re-id'd per run — each
    * timed pass is a genuine new micro-batch, never a replay, and the
    * store grows by only 250 rows per pass). The batch's source mix is
    * identical at every factor while the accumulated corpus grows K×,
    * so the number is per-batch re-quota + flip cost as the corpus
    * grows under a fixed arrival rate — the exact claim in StreamMix's
    * scaladoc ("O(batch + flips), not O(corpus)"). */
  private val mixServeProbe: Boolean = queries.contains("d_mix_serve")

  /** `d_dedup_serve_full` drives the WHOLE `StreamDedup.processBatch`
    * per timed pass — decide-once ledger split, candidate+verify step,
    * anti-joined store appends and the decisions append — against the
    * real bucketed store tables, where `d_dedup_serve_pruned` isolates
    * the candidate+verify step alone. The delta between the two is the
    * bookkeeping the round-16 verdict flagged (the append-guard
    * anti-joins were full store scan+distinct per batch until round
    * 17's capped IN-list prune, and toks/decisions were flat until the
    * doc_id bucketing): per pass, a fresh 250-doc batch (125 near-dups
    * of copy-0 store docs, 125 pass-salted novel docs — novel SALT is
    * per-pass so earlier passes' kept docs never match later ones, and
    * the verdict structure stays 125/125 at every pass and factor).
    * The correctness gate is decide-exactly-once replay equality of
    * the last timed batch. */
  private val dedupServeFullProbe: Boolean =
    queries.contains("d_dedup_serve_full")

  /** `d_mix_tokens_serve` enables the TOKEN-weighted mix serve probe —
    * `StreamMixTokens.processBatch` measured exactly the way
    * `d_mix_serve` measures `StreamMix`: untimed store build (whole xK
    * corpus as batch 0 + compactStore), then median per-batch latency
    * over a FIXED 250-doc batch of new ids per pass; the law gate
    * compares the threshold-derived `currentCopies` against
    * `corpusMixTokensOn`'s full re-rank of the same accumulated docs. */
  private val mixTokensServeProbe: Boolean =
    queries.contains("d_mix_tokens_serve")

  /** `e_ann_add` enables the streaming index-ADD probe — the ingest
    * sibling of `e_ann_serve`: per factor, one untimed full-corpus
    * index build (the standing index a maintenance stream extends),
    * then the median per-batch latency of `StreamAnnIndex.processBatch`
    * over a FIXED 250-vector batch of NEW vec_ids per pass (copy-0
    * vectors re-id'd per pass, so each timed pass is a genuine add and
    * the store grows by only 250 rows per pass). The batch is identical
    * at every factor while the standing codes store grows K×, so the
    * number is per-batch encode + guard-probe + append cost as the
    * indexed corpus grows under a fixed arrival rate — StreamAnnIndex's
    * O(batch) claim on trial. The insert-once gate replays the last
    * timed batch: acks must re-emit identically and the store must not
    * grow. */
  private val annAddProbe: Boolean = queries.contains("e_ann_add")

  /** `d_dsir_serve` measures `StreamDsir`: untimed model fit + whole-xK
    * corpus fed as batch 0 + compactStore (the (gkey, doc_id)-ordered
    * layout the bounded selected-set read range-prunes against), then
    * the median per-batch latency of a FIXED 250-doc batch of new
    * doc_ids against the K×-grown standing pool — the O(batch + k)
    * claim in StreamDsir's scaladoc, gated by a full recomputed-key
    * equality + independent top-k re-rank of the final store. */
  private val dsirServeProbe: Boolean = queries.contains("d_dsir_serve")

  /** `d_drift_serve` measures `StreamDrift`: untimed model fit +
    * whole-xK corpus fed as batch 0 + fold compaction, then the median
    * per-batch latency of a FIXED 250-doc batch against the K×-grown
    * accumulated counts — the O(batch + |sources|·B) claim in
    * StreamDrift's scaladoc, gated by snapshot equality against the
    * batch KL law over the independently reconstructed corpus. */
  private val driftServeProbe: Boolean = queries.contains("d_drift_serve")

  /** `d_dsir_buckets` measures the BUCKET-CAPACITY remedy the r18 storm
    * probe surfaced (SCALING.md "Known limit"): with B = 512 hash
    * buckets, a 100×-replica corpus's 100 disjoint prefixed
    * vocabularies saturate every bucket and wash the smoothed
    * log-ratios toward 0 (the reason a fixed-amplification storm that
    * displaces 81 docs at x1 displaces none at x100). The remedy is
    * raising B into the DSIR paper's 10⁴–10⁶ range — dataflow
    * unchanged. This probe computes the log-ratio model at
    * B ∈ {512, 8192, 65536} over x1 and xK and reports mean/max |lr_u|
    * (micro-nats) plus the count of informative buckets
    * (|lr_u| ≥ 10⁵ = 0.1 nat): the datum is that xK magnitudes recover
    * toward the x1 level as B grows, i.e. lr_u no longer collapses. */
  private val dsirBucketsProbe: Boolean = queries.contains("d_dsir_buckets")

  /** `d_dsir_storm_cal` runs the r18 eviction storm AT CORPUS-MATCHED B
    * (round-20): SCALING.md §8b scopes the storm harness to
    * corpus-matched B — wide B at gate scale flips every weight's sign
    * and the adaptive amplification loop diverges — so until now the
    * wide-B regime had no storm datum: the xK storm ran at the
    * saturated registry B where the model itself is washed out and
    * needed 512× amplification to displace anything. This probe picks
    * B with [[graft.ext.TextAnalysis.dsirCalibratedBuckets]] (512 at
    * x1, 65536 at the x100 replica), rebuilds the selector store at
    * that B, and runs the identical adaptive storm. The datum: at
    * matched B the storm's repeat factor stays at the x1 level (the
    * model keeps its discrimination against the grown vocabulary) and
    * displacing the standing top-k stays O(batch + k) flat. */
  private val dsirStormCalProbe: Boolean =
    queries.contains("d_dsir_storm_cal")

  /** `d_dedup_bucketed_guard` asserts, per factor, the ONE invariant the
    * bucketed dedup layout exists for: the recurring band pair join over
    * the persisted bucketed band table plans with ZERO Exchange no
    * matter how large the corpus grew (ScaleToolsSpec pins this at gate
    * scale; this probe re-asserts it against the xK replica, where AQE
    * has the most reason to re-plan). Records the Exchange count (must
    * be 0) and whether the join is the bucketed SortMergeJoin. */
  private val dedupBucketedGuardProbe: Boolean =
    queries.contains("d_dedup_bucketed_guard")

  private val probeQueries: Seq[String] =
    queries.filterNot(q => q == "e_ann_serve" || q == "d_dedup_serve" ||
      q == "d_dedup_serve_pruned" || q == "d_mix_serve" ||
      q == "d_dedup_serve_full" || q == "d_mix_tokens_serve" ||
      q == "e_ann_add" || q == "d_dsir_serve" || q == "d_drift_serve" ||
      q == "d_dsir_buckets" || q == "d_dedup_bucketed_guard" ||
      q == "d_dsir_storm_cal")

  /** Operator-name sequence of the FINAL (post-AQE) physical plan of an
    * executed DataFrame: one token per tree line, tree-drawing and
    * codegen-stage decoration stripped, runtime shuffle-read coalescing
    * (AQEShuffleRead) ignored — partition coalescing legitimately varies
    * with volume; join/aggregate/exchange STRUCTURE must not. Only the
    * "== Final Plan ==" section counts: the Initial (pre-runtime-stats)
    * section legitimately differs with volume — e.g. q4's static
    * estimate at x30 exceeds the broadcast threshold so the initial
    * plan says SortMergeJoin, and AQE re-promotes to BroadcastHashJoin
    * once the 24-row aggregated side is measured. That repromotion is
    * the behavior this check exists to CONFIRM, not flag. */
  private def finalPlanShape(df: DataFrame): Seq[String] = {
    // Execute through the df's OWN QueryExecution so ITS AdaptiveSparkPlan
    // reaches isFinalPlan=true (a noop-sink write would finalize a
    // separate write-command plan instead), but count InternalRows rather
    // than collect()ing them — a selective query at x30 returns millions
    // of rows and a driver-side collect would OOM the sweep.
    df.queryExecution.toRdd.count(): Unit
    df.queryExecution.executedPlan.treeString.linesIterator
      .map(_.dropWhile(c => !c.isLetter))
      .map(_.takeWhile(_.isLetter))
      .filter(_.nonEmpty)
      .takeWhile(_ != "Initial") // stop at "== Initial Plan =="
      .filterNot(Set("AQEShuffleRead", "InputAdapter", "WholeStageCodegen"))
      .toSeq
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factors = sys.env.getOrElse("SPARK_GRAFT_SCALEUP_FACTORS", "10,30")
      .split(",").map(_.trim.toInt).toSeq
    val runs = sys.env.getOrElse("SPARK_GRAFT_SCALEUP_RUNS", "5").toInt
    val nCores = GraftSession.cpus(32)
    val spark = GraftSession.local(nCores)
    // same benign accumulator-race exposure as Bench (see the scaladoc
    // on Bench.quietBenignAccumulatorRace) — keep it out of this
    // artifact's tail too
    Bench.quietBenignAccumulatorRace()

    val out = "/tmp/graft_scaleup"
    val ev = Tables.table(spark, sfDir, "events")
    val docs = Tables.table(spark, sfDir, "documents")
    val emb = Tables.table(spark, sfDir, "embeddings")

    // layout-parity baseline: the SAME writer produces both sides, and
    // BOTH sides get >= one file per core (x1: 32, xK: 32K — same
    // bytes-per-file regime, file counts tracking SPARK_GRAFT_CPUS so an
    // overridden core count keeps the invariant). With fewer files than cores the x1 scan is
    // parallelism-bound, not volume-bound, and the ratio understates
    // growth (a first cut with 8/80 files timed x1's q1 at 2.3x its
    // 32-file time purely from the 8-task scan).
    if (needsTable("events"))
      ev.repartition(nCores).write.mode("overwrite").parquet(s"$out/x1/events.parquet")
    if (needsTable("documents"))
      docs.repartition(nCores).write.mode("overwrite").parquet(s"$out/x1/documents.parquet")
    if (needsTable("embeddings"))
      emb.repartition(nCores).write.mode("overwrite").parquet(s"$out/x1/embeddings.parquet")

    def materializeReplica(k: Int): Unit = {
      if (needsTable("events")) {
        // key offsets: one past the current max, per copy
        val evMax = ev.agg(max(col("event_id")), max(col("user_id"))).head()
        val (eOff, uOff) = (evMax.getLong(0) + 1, evMax.getLong(1) + 1)
        val evK = (0 until k).map { i =>
          ev.withColumn("event_id", col("event_id") + lit(i.toLong * eOff))
            .withColumn("user_id", col("user_id") + lit(i.toLong * uOff))
        }.reduce(_ unionByName _)
        evK.repartition(nCores * k).write.mode("overwrite").parquet(s"$out/x$k/events.parquet")
      }
      if (needsTable("documents")) {
        val dOff = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
        val docsK = (0 until k).map { i =>
          docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * dOff))
            .withColumn("text", array_join(
              transform(split(col("text"), " "), t => concat(lit(s"c${i}_"), t)), " "))
        }.reduce(_ unionByName _)
        docsK.repartition(nCores * k).write.mode("overwrite").parquet(s"$out/x$k/documents.parquet")
      }
      if (needsTable("embeddings")) {
        // vec_id 0 (e_knn_brute's query vector) exists only in copy 0, so
        // the broadcast query side stays one row at every K
        val vOff = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
        val embK = (0 until k).map { i =>
          emb.withColumn("vec_id", col("vec_id") + lit(i.toLong * vOff))
        }.reduce(_ unionByName _)
        embK.repartition(nCores * k).write.mode("overwrite").parquet(s"$out/x$k/embeddings.parquet")
      }
    }

    def sweep(dir: String): Seq[(String, Double)] = probeQueries.flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        try name -> Bench.timeQuery(fn, spark, dir, runs).median
        catch {
          case e: Throwable =>
            System.err.println(s"[scaleup] $name @ $dir failed: ${e.getMessage}")
            name -> -1.0
        }
      }
    }
    // A crashed query must stay distinguishable from a genuine shape
    // change in the artifact: record it as the FAILED sentinel (emitted
    // as JSON null below), never as an empty shape that would read as
    // plan drift.
    val FAILED = Seq("__FAILED__")
    def shapes(dir: String): Map[String, Seq[String]] = probeQueries.flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        try name -> finalPlanShape(fn(spark, dir))
        catch {
          case e: Throwable =>
            System.err.println(s"[scaleup] plan probe $name @ $dir failed: ${e.getMessage}")
            name -> FAILED
        }
      }
    }.toMap

    // Layout probe (SPARK_GRAFT_SCALEUP_LAYOUT_PROBE=1): rewrite the
    // xK replica at x1's FILE COUNT (so bytes-per-file grows K× instead
    // of file count) and re-time the probe queries against it.
    // Separates the two candidate growth drivers per query: if xK's
    // growth was per-file task overhead (K× more tasks), the fat
    // layout collapses toward the x1 time; if it was bytes scanned or
    // shuffled, the fat layout times the same as the parity layout —
    // for shuffle-bearing queries (q4's join, the banded dedup) a
    // collapse additionally rules the SHUFFLE out as the driver, since
    // the shuffle volume is identical across layouts.
    // SPARK_GRAFT_SCALEUP_LAYOUT_QUERIES picks the probe set (comma
    // list, default q1_time_filter); each fattens only the tables it
    // reads.
    val layoutProbe =
      sys.env.get("SPARK_GRAFT_SCALEUP_LAYOUT_PROBE").contains("1")
    val layoutQueries: Seq[String] = if (!layoutProbe) Nil else
      sys.env.get("SPARK_GRAFT_SCALEUP_LAYOUT_QUERIES")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Seq("q1_time_filter"))
        .filter(probeQueries.contains)

    // ANN serve-path probe (see annServeProbe doc): fixed 30-query
    // batch; the same vec_ids exist at every factor (copy 0 keeps the
    // originals). event_ts is a constant — serveBatch groups on
    // (q_id, event_ts) and any fixed slot works.
    def annQueries(dir: String): DataFrame =
      Tables.table(spark, dir, "embeddings")
        .filter(col("vec_id") < 30)
        .select(col("vec_id").as("q_id"),
          lit(java.sql.Timestamp.valueOf("2017-03-05 00:00:00")).as("event_ts"),
          col("embedding"))
    /** (index build sec — one timed pass, it is a write; per-batch serve
      * sec — Bench protocol, warm-up + `runs`, median; final plan shape
      * of the serve query). Distinct table prefix per factor so each
      * serves its own version — no memo cross-talk. */
    def annServe(dir: String, pfx: String): (Double, Double, Seq[String]) = {
      val t0 = System.nanoTime()
      graft.ext.Similarity.annIndexWrite(spark, dir, pfx)
      val build = (System.nanoTime() - t0) / 1e9
      val serve = Bench.timeQuery((_, _) =>
        graft.ext.Similarity.serveBatch(annQueries(dir), prefix = pfx),
        spark, dir, runs).median
      val shape =
        finalPlanShape(graft.ext.Similarity.serveBatch(annQueries(dir), prefix = pfx))
      (build, serve, shape)
    }
    lazy val annX1 = annServe(s"$out/x1", "scup_ann_x1")

    // x1's bands-store bytes, recorded by the first pruned build — the
    // per-bucket byte target the xK pruned builds rescale against
    var prunedX1BandBytes: Long = 0L
    /** (store build sec, per-batch serve sec median, kept, dropped) for
      * the streaming-dedup serve probe (see dedupServeProbe doc). */
    def dedupServe(dir: String, pfx: String,
        pruned: Boolean = false): (Double, Double, Long, Long) = {
      import graft.ext.Dedup
      val docs = Tables.table(spark, dir, "documents")
      val t0 = System.nanoTime()
      Seq("bands", "toks").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS ${pfx}_$t"): Unit)
      // pruned probe: bands land BUCKETED+SORTED on (band_idx, band) —
      // the StreamDedup.ensureStore layout after compactStore — so the
      // store file count is a constant B at every factor instead of
      // tracking the replica's file count (the x100 residual named in
      // SCALING.md was dominated by a corpus-tracking file pile, not
      // bytes), the store side of the candidate join is co-partitioned,
      // and the batch's band IN-list skips pages/dictionaries inside the
      // sorted bucket files instead of collapsing to a useless md5
      // min..max range.
      val bandsDf = Dedup.minhashBands(docs)
      if (pruned) {
        val b = graft.streaming.StreamDedup.BandBuckets
        bandsDf.repartition(b, col("band_idx"), col("band"))
          .write.bucketBy(b, "band_idx", "band").sortBy("band_idx", "band")
          .saveAsTable(s"${pfx}_bands")
        // deployment growth policy (StreamDedup.bucketsFor via
        // compactStore), scale-modeled for the toy corpus: pin the
        // target per-bucket bytes to x1's so the xK count grows in the
        // ratio a fixed-128MB-target store sees at real size, BUT
        // capped at 4x the machine's cores — bucket count past the
        // parallelism the hardware can exploit is the small-files
        // anti-pattern, measured here directly: the uncapped model
        // (2048 buckets of ~30KB at x100) served at 7.3x, WORSE than
        // the fixed-16 layout's 2.0x, pure scheduling + file-open
        // overhead. A real deployment grows cores with corpus; this
        // box cannot, so the honest local model scales per-task bytes
        // down only as far as idle parallelism exists to absorb it.
        val bytes = graft.sources.TableOps.tableDataBytes(spark, s"${pfx}_bands")
        if (prunedX1BandBytes == 0L) prunedX1BandBytes = bytes
        else {
          val desired = math.min(nCores * 4,
            graft.streaming.StreamDedup.bucketsFor(
              bytes, math.max(1L, prunedX1BandBytes / b)))
          if (desired != b)
            graft.sources.TableOps.compactBucketedTable(
              spark, s"${pfx}_bands", Some(desired)): Unit
        }
      } else bandsDf.write.saveAsTable(s"${pfx}_bands")
      val toksDf = docs.select(col("doc_id"),
        array_distinct(split(col("text"), " ")).as("toks"))
      // pruned probe: doc_id-ordered toks layout so the pushed candidate
      // id range becomes parquet row-group skips (see dedupServePrunedProbe)
      (if (pruned)
        toksDf.repartitionByRange(nCores, col("doc_id"))
          .sortWithinPartitions("doc_id")
      else toksDf)
        .write.saveAsTable(s"${pfx}_toks")
      val build = (System.nanoTime() - t0) / 1e9
      // The batch is PINNED once, untimed — the production shape:
      // StreamDedup.processBatch localCheckpoints the micro-batch before
      // the step, so a serve run's cost is batch-sized + store-side.
      // The probe's earlier unpinned `def batch` was a filter over the
      // WHOLE xK replica, and every one of the step's several batch
      // references re-scanned the K×-file corpus — a probe artifact
      // that grew with K and dominated the recorded serve "growth"
      // (x100 pruned: ~17 s unpinned vs ~3.5 s pinned, same verdicts).
      val batch: DataFrame = {
        val base = docs.filter(col("doc_id") < 250)
          .select((col("doc_id") + lit(1000000000000L)).as("doc_id"),
            col("source"), col("text"))
        base.filter(col("doc_id") % 2 === 0)
          .unionByName(base.filter(col("doc_id") % 2 === 1)
            .withColumn("text", array_join(
              transform(split(col("text"), " "),
                t => concat(lit("probe_"), t)), " ")))
      }.localCheckpoint(true)
      val serve = Bench.timeQuery((s, _) => {
        val (v, _, _) = Dedup.streamDedupStep(batch,
          s.table(s"${pfx}_bands"), s.table(s"${pfx}_toks"), prune = pruned)
        v
      }, spark, dir, runs).median
      val (v, _, _) = Dedup.streamDedupStep(batch,
        spark.table(s"${pfx}_bands"), spark.table(s"${pfx}_toks"),
        prune = pruned)
      val kept = v.filter(col("kept")).count()
      (build, serve, kept, 250L - kept)
    }
    lazy val dedupX1 = dedupServe(s"$out/x1", "scup_sd_x1")
    lazy val dedupPrunedX1 = dedupServe(s"$out/x1", "scup_sdp_x1", pruned = true)

    /** (store build sec, per-batch serve sec median, emitted rows of the
      * final timed batch, fresh rows of it) for the streaming-mix serve
      * probe (see mixServeProbe doc). Emission = 250 fresh verdicts +
      * O(quota shift) old-doc flips; the fresh count is asserted 250 at
      * every factor, the flip count is recorded (it varies with where
      * the thresholds land, but must stay batch-order, not corpus-order). */
    def mixServe(dir: String, pfx: String)
        : (Double, Double, Long, Long, Double, Long) = {
      import graft.streaming.StreamMix
      StreamMix.resetStore(spark, pfx)
      val docs = Tables.table(spark, dir, "documents")
        .select(col("doc_id"), col("source"))
      val t0 = System.nanoTime()
      StreamMix.processBatch(spark, pfx, docs, 0L, "mixsrv42").count(): Unit
      StreamMix.compactStore(spark, pfx)
      val build = (System.nanoTime() - t0) / 1e9
      // copy 0 keeps original ids at every K — the same 250 (doc, source)
      // rows everywhere; per-pass id offsets make each pass a new batch
      val base = docs.filter(col("doc_id") < 250).localCheckpoint(true)
      var nextB = 1L
      var lastTotal = 0L
      var lastFresh = 0L
      val serve = Bench.timeQuery((s, _) => {
        val b = nextB; nextB += 1
        val batch = base.select(
          (col("doc_id") + lit(1000000000000L + b * 1000000L)).as("doc_id"),
          col("source"))
        val d = StreamMix.processBatch(s, pfx, batch, b, "mixsrv42")
        lastTotal = d.count()
        lastFresh = d.filter(col("doc_id") >= 1000000000000L + b * 1000000L)
          .count()
        d
      }, spark, dir, runs).median
      require(lastFresh == 250L,
        s"mix-serve probe: expected 250 fresh verdicts, got $lastFresh")
      // law-equality gate (the dedup probe's verdicts_same analog —
      // verdicts here legitimately differ ACROSS factors because the
      // quota law sees a different corpus, so each factor is instead
      // checked against the LAW): the threshold-derived current state
      // over the whole accumulated store must equal corpusMixOn's full
      // re-rank of the same docs, doc for doc.
      val state = StreamMix.currentKept(spark, pfx)
      val law = graft.ext.TextAnalysis.corpusMixOn(
          spark.table(s"${pfx}_docs").select(col("doc_id"), col("source")),
          "mixsrv42")
        .select(col("doc_id"), col("kept").as("law_kept"))
      val lawBad = state.join(law, Seq("doc_id"))
        .filter(col("kept") =!= col("law_kept")).count()
      require(lawBad == 0L,
        s"mix-serve probe: $lawBad docs diverge from the corpusMix law")
      // coverage: the docs store must hold exactly the replica plus
      // every probe batch (currentKept and corpusMixOn both read the
      // STORE, so the law gate alone cannot see lost rows)
      val expectedDocs = docs.count() + 250L * (nextB - 1)
      val storedDocs = spark.table(s"${pfx}_docs").count()
      require(storedDocs == expectedDocs,
        s"mix-serve probe: store holds $storedDocs docs, expected $expectedDocs")
      // MASS-EVICTION datum (round-17, closing the fixed-250-doc blind
      // spot): a NEW tiny source shrinks u12 and flips verdicts across
      // EVERY source — the one case where flips >> batch, so the
      // emission itself is the dominant cost and the O(flips) bound is
      // what's on trial. One measured batch (steady-state medians above
      // are untouched), then the law gate again over the collapsed
      // state.
      val tiny = base.limit(5).select(
        (col("doc_id") + lit(2000000000000L)).as("doc_id"),
        lit("src999991").as("source")).localCheckpoint(true)
      val mt0 = System.nanoTime()
      val md = StreamMix.processBatch(spark, pfx, tiny, nextB, "mixsrv42")
      val massFlips = md.count() - 5L
      val massSec = (System.nanoTime() - mt0) / 1e9
      require(massFlips > 250L,
        s"mass-eviction probe produced only $massFlips flips — fixture inert")
      val lawBad2 = StreamMix.currentKept(spark, pfx)
        .join(graft.ext.TextAnalysis.corpusMixOn(
            spark.table(s"${pfx}_docs").select(col("doc_id"), col("source")),
            "mixsrv42")
          .select(col("doc_id"), col("kept").as("law_kept")), Seq("doc_id"))
        .filter(col("kept") =!= col("law_kept")).count()
      require(lawBad2 == 0L,
        s"mix-serve probe: $lawBad2 docs diverge from the law after the " +
          "mass eviction")
      (build, serve, lastTotal, lastTotal - lastFresh, massSec, massFlips)
    }
    lazy val mixX1 = mixServe(s"$out/x1", "scup_mx_x1")

    /** (store build sec, per-batch serve sec median, kept of last
      * batch, dropped of last batch, replay_same) for the FULL
      * `StreamDedup.processBatch` probe — see [[dedupServeFullProbe]]. */
    def dedupServeFull(dir: String, pfx: String)
        : (Double, Double, Long, Long, Boolean) = {
      import graft.streaming.StreamDedup
      StreamDedup.resetStore(spark, pfx)
      val docs = Tables.table(spark, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val t0 = System.nanoTime()
      StreamDedup.processBatch(spark, pfx, docs, 0L).count(): Unit
      StreamDedup.compactStore(spark, pfx)
      val build = (System.nanoTime() - t0) / 1e9
      val base = docs.filter(col("doc_id") < 250).localCheckpoint(true)
      def mkBatch(b: Long): DataFrame = {
        // even half: verbatim copy-0 near-dups (id parity survives the
        // even offsets) -> store drops; odd half: PASS-salted novel
        // tokens (earlier passes' kept docs can never match) -> kept.
        // 125/125 at every pass and factor.
        val ids = base.select(
          (col("doc_id") + lit(1000000000000L + b * 1000000L)).as("doc_id"),
          col("source"), col("text"))
        ids.filter(col("doc_id") % 2 === 0)
          .unionByName(ids.filter(col("doc_id") % 2 === 1)
            .withColumn("text", array_join(
              transform(split(col("text"), " "),
                t => concat(lit(s"probe${b}_"), t)), " ")))
      }
      def rows(df: DataFrame) = df
        .select(col("doc_id"), col("kept"),
          coalesce(col("matched_old"), lit(-1L)).as("mo"))
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2)))
        .toSet
      var nextB = 1L
      var lastB = 0L
      var lastRows: Set[(Long, Boolean, Long)] = Set.empty
      val serve = Bench.timeQuery((s, _) => {
        val b = nextB; nextB += 1; lastB = b
        val batch = mkBatch(b).localCheckpoint(true)
        val v = StreamDedup.processBatch(s, pfx, batch, b)
        lastRows = rows(v) // the ORIGINAL emission, captured at decide time
        v
      }, spark, dir, runs).median
      val lastKept = lastRows.count(_._2).toLong
      val lastTotal = lastRows.size.toLong
      require(lastTotal == 250L,
        s"dedup-serve-full probe: expected 250 verdicts, got $lastTotal")
      // decide-exactly-once gate: replaying the last timed batch must
      // re-emit the verdicts RECORDED when it was first decided (a
      // replay-vs-replay compare would pass vacuously on a corrupted
      // ledger — both reads would see the same bad rows)
      val replayed = rows(StreamDedup.processBatch(spark, pfx,
        mkBatch(lastB).localCheckpoint(true), lastB))
      (build, serve, lastKept, lastTotal - lastKept, lastRows == replayed)
    }
    lazy val dedupFullX1 = dedupServeFull(s"$out/x1", "scup_sdf_x1")

    /** (store build sec, per-batch serve sec median, emitted rows of the
      * final timed batch, old-doc flips of it) for the token-weighted
      * mix probe — see [[mixTokensServeProbe]]. */
    def mixTokensServe(dir: String, pfx: String)
        : (Double, Double, Long, Long) = {
      import graft.streaming.StreamMixTokens
      StreamMixTokens.resetStore(spark, pfx)
      val docs = Tables.table(spark, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val t0 = System.nanoTime()
      StreamMixTokens.processBatch(spark, pfx, docs, 0L, "mixsrv42").count(): Unit
      StreamMixTokens.compactStore(spark, pfx)
      val build = (System.nanoTime() - t0) / 1e9
      val base = docs.filter(col("doc_id") < 250).localCheckpoint(true)
      def probeBatch(b: Long): DataFrame = base.select(
        (col("doc_id") + lit(1000000000000L + b * 1000000L)).as("doc_id"),
        col("source"), col("text"))
      var nextB = 1L
      var lastTotal = 0L
      var lastFresh = 0L
      val serve = Bench.timeQuery((s, _) => {
        val b = nextB; nextB += 1
        val d = StreamMixTokens.processBatch(s, pfx, probeBatch(b), b, "mixsrv42")
        lastTotal = d.count()
        lastFresh = d.filter(col("doc_id") >= 1000000000000L + b * 1000000L)
          .count()
        d
      }, spark, dir, runs).median
      require(lastFresh == 250L,
        s"mix-tokens-serve probe: expected 250 fresh verdicts, got $lastFresh")
      // law gate: the threshold-derived copies over the whole
      // accumulated corpus must equal corpusMixTokensOn's full re-rank
      // of the same docs (reconstructed: replica + every probe batch)
      val lawInput = (1L until nextB).map(probeBatch)
        .foldLeft(docs)(_ unionByName _)
      val law = graft.ext.TextAnalysis.corpusMixTokensOn(lawInput, "mixsrv42")
        .select(col("doc_id"), col("copies").as("law_copies"))
      val state = StreamMixTokens.currentCopies(spark, pfx)
      // coverage first: the law input is reconstructed INDEPENDENTLY of
      // the store, so count equality proves no doc was lost or invented
      // (an inner-join-only gate would pass on a store that dropped rows)
      val stateCnt = state.count()
      val lawCnt = law.count()
      require(stateCnt == lawCnt,
        s"mix-tokens-serve probe: store holds $stateCnt docs, the law " +
          s"input $lawCnt — docs lost or duplicated")
      val lawBad = state.join(law, Seq("doc_id"))
        .filter(col("copies") =!= col("law_copies")).count()
      require(lawBad == 0L,
        s"mix-tokens-serve probe: $lawBad docs diverge from the token law")
      (build, serve, lastTotal, lastTotal - lastFresh)
    }
    lazy val mixTokX1 = mixTokensServe(s"$out/x1", "scup_mxt_x1")

    /** (index build sec, per-batch add sec median, insert-once gate)
      * for the streaming index-add probe — see [[annAddProbe]]. */
    def annAdd(dir: String, pfx: String): (Double, Double, Boolean) = {
      import graft.streaming.StreamAnnIndex
      StreamAnnIndex.resetStore(spark, pfx)
      val embD = Tables.table(spark, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val t0 = System.nanoTime()
      graft.ext.Similarity.annIndexWrite(spark, dir, pfx)
      val build = (System.nanoTime() - t0) / 1e9
      val corpusN = embD.count()
      // copy 0 keeps original ids at every K — the same 250 vectors
      // everywhere; per-pass id offsets make each pass a genuine add
      val base = embD.filter(col("vec_id") < 250).localCheckpoint(true)
      def mkBatch(b: Long): DataFrame = base.select(
        (col("vec_id") + lit(1000000000000L + b * 1000000L)).as("vec_id"),
        col("embedding"))
      def acks(df: DataFrame) = df.select(col("vec_id"), col("cell"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      var nextB = 1L
      var lastB = 0L
      var lastAcks: Set[(Long, Int)] = Set.empty
      val serve = Bench.timeQuery((s, _) => {
        val b = nextB; nextB += 1; lastB = b
        val v = StreamAnnIndex.processBatch(s, pfx, mkBatch(b), b)
        lastAcks = acks(v) // the ORIGINAL emission, captured at add time
        v
      }, spark, dir, runs).median
      require(lastAcks.size == 250,
        s"ann-add probe: expected 250 acks, got ${lastAcks.size}")
      // insert-once gate: every pass landed exactly once, and a replay
      // of the last timed batch re-emits its recorded acks without
      // growing the store
      val storeN = spark.table(s"${pfx}_codes").count()
      require(storeN == corpusN + 250L * (nextB - 1),
        s"ann-add probe: store holds $storeN codes, expected " +
          s"${corpusN + 250L * (nextB - 1)}")
      val replayed = acks(StreamAnnIndex.processBatch(spark, pfx,
        mkBatch(lastB), lastB))
      val unchanged = spark.table(s"${pfx}_codes").count() == storeN
      (build, serve, lastAcks == replayed && unchanged)
    }
    lazy val annAddX1 = annAdd(s"$out/x1", "scup_sa_x1")

    /** (model+store build sec, per-batch serve sec median, last delta
      * rows, last evictions) for the streaming-DSIR probe — see
      * [[dsirServeProbe]]. */
    def dsirServe(dir: String, pfx: String)
        : (Double, Double, Long, Long, Double, Long) = {
      import graft.streaming.StreamDsir
      import graft.ext.TextAnalysis
      StreamDsir.resetStore(spark, pfx)
      val docs = Tables.table(spark, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val t0 = System.nanoTime()
      StreamDsir.modelWrite(spark, pfx, docs)
      StreamDsir.processBatch(spark, pfx, docs, 0L, "dsrv42").count(): Unit
      StreamDsir.compactStore(spark, pfx)
      val build = (System.nanoTime() - t0) / 1e9
      val base = docs.filter(col("doc_id") < 250).localCheckpoint(true)
      def probeBatch(b: Long): DataFrame = base.select(
        (col("doc_id") + lit(1000000000000L + b * 1000000L)).as("doc_id"),
        col("source"), col("text"))
      var nextB = 1L
      var lastTotal = 0L
      var lastFresh = 0L
      val serve = Bench.timeQuery((s, _) => {
        val b = nextB; nextB += 1
        val d = StreamDsir.processBatch(s, pfx, probeBatch(b), b, "dsrv42")
        lastTotal = d.count()
        lastFresh = d.filter(col("doc_id") >= 1000000000000L + b * 1000000L)
          .count()
        d
      }, spark, dir, runs).median
      // probe batches re-id copy-0 docs, which INCLUDE target-source
      // rows the pool filter drops — fresh verdicts are the batch's
      // raw-pool slice, pinned against the same filter applied here
      val poolPerBatch = base
        .filter(!col("source").isin(TextAnalysis.DsirTargetSources: _*))
        .count()
      require(lastFresh == poolPerBatch,
        s"dsir-serve probe: expected $poolPerBatch fresh verdicts, " +
          s"got $lastFresh")
      // law gates over the final store, all untimed:
      // (1) coverage + key equality: every pool doc of the
      // INDEPENDENTLY reconstructed corpus is stored with exactly the
      // frozen-model recomputed key;
      val lawInput = (1L until nextB).map(probeBatch)
        .foldLeft(docs)(_ unionByName _)
        .filter(!col("source").isin(TextAnalysis.DsirTargetSources: _*))
      val lawKeys = TextAnalysis.dsirScore(lawInput,
        spark.table(s"${pfx}_model"), "dsrv42")
      val stored = spark.table(s"${pfx}_scores")
        .select(col("doc_id"), col("gkey").as("stored_gkey"))
      val storedCnt = stored.count()
      val lawCnt = lawKeys.count()
      require(storedCnt == lawCnt,
        s"dsir-serve probe: store holds $storedCnt docs, the law input " +
          s"$lawCnt — docs lost or duplicated")
      val keyBad = stored.join(lawKeys, Seq("doc_id"))
        .filter(col("stored_gkey") =!= col("gkey")).count()
      require(keyBad == 0L,
        s"dsir-serve probe: $keyBad stored keys diverge from the frozen " +
          "scoring law")
      // (2) selection law: the threshold-derived selected set equals an
      // independent top-k re-rank of the store
      val expect = stored
        .orderBy(col("stored_gkey").desc, col("doc_id"))
        .limit(TextAnalysis.DsirK)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      val got = StreamDsir.currentSelected(spark, pfx)
        .filter(col("selected")).select(col("doc_id")).collect()
        .map(_.getLong(0)).toSet
      require(got == expect,
        s"dsir-serve probe: selected set (${got.size}) != independent " +
          s"top-k re-rank (${expect.size})")
      // EVICTION-STORM datum (round-18, the mix mass-flip analog —
      // closing the 0-evictions blind spot of the steady batches):
      // TARGET-DOMAIN text, m×-repeated and ranked by its own
      // frozen-model weight, scores above the standing threshold, so
      // one batch displaces most of the standing top-k at once. The
      // repeat factor is ADAPTIVE because the replica fixture dilutes
      // the model as K grows (materializeReplica prefixes each copy's
      // tokens, so 100 disjoint vocabularies saturate the 512 hash
      // buckets and every lr_u shrinks toward 0 — a fixed 4× storm
      // that displaces 81 docs at x1 displaces none at x100): double m
      // until the 2k-th ranked amplified weight clears the standing
      // t_key even under the worst Gumbel draw (g ≥ ilog 10⁶ −
      // ilog(ilog 2⁶¹) ≈ −3.75e6 micro-nats). Weights scale linearly
      // in m, so the loop is bounded and deterministic. Evictions are
      // capped by k (only selected docs can be evicted), so this is
      // the worst case the monotone threshold ever pays in one batch —
      // the datum pins the O(batch + k) emission bound: storm cost
      // must stay flat across replica factors while the store grows xK.
      val tKey = spark.table(s"${pfx}_thr")
        .orderBy(col("batch_id").desc).limit(1)
        .select(col("t_key")).head().getLong(0)
      val model = spark.table(s"${pfx}_model")
      def stormAt(rep: Int): (DataFrame, Long) = {
        val t = docs
          .filter(col("source").isin(TextAnalysis.DsirTargetSources: _*))
          .select(col("doc_id"), lit("src999997").as("source"),
            array_join(array_repeat(col("text"), rep), " ").as("text"))
          .localCheckpoint(true)
        val top = TextAnalysis.dsirWeightsAgainst(
            TextAnalysis.dsirGrams(t), model)
          .orderBy(col("w_micro").desc, col("doc_id"))
          .limit(2 * TextAnalysis.DsirK).localCheckpoint(true)
        val mnW = top.agg(min(col("w_micro"))).head().getLong(0)
        (t.join(broadcast(top.select(col("doc_id"))), Seq("doc_id")), mnW)
      }
      var rep = 4
      var (stormSel, stormMinW) = stormAt(rep)
      while (stormMinW <= tKey + 4000000L && rep < 512) {
        rep *= 2
        val r = stormAt(rep); stormSel = r._1; stormMinW = r._2
      }
      System.err.println(
        s"[scaleup] dsir storm: repeat=$rep minW=$stormMinW tKey=$tKey")
      val storm = stormSel
        .select((col("doc_id") + lit(3000000000000L)).as("doc_id"),
          col("source"), col("text"))
        .localCheckpoint(true)
      val st0 = System.nanoTime()
      val sd = StreamDsir.processBatch(spark, pfx, storm, nextB, "dsrv42")
      val stormTotal = sd.count()
      val stormSec = (System.nanoTime() - st0) / 1e9
      val stormEvict =
        stormTotal - sd.filter(col("doc_id") >= 3000000000000L).count()
      require(stormEvict >= TextAnalysis.DsirK / 2,
        s"dsir eviction-storm probe displaced only $stormEvict of the " +
          s"standing top-${TextAnalysis.DsirK} — fixture inert")
      // law gate AFTER the storm: the collapsed selection still equals
      // an independent top-k re-rank of the whole store
      val stored2 = spark.table(s"${pfx}_scores")
        .select(col("doc_id"), col("gkey"))
      val expect2 = stored2.orderBy(col("gkey").desc, col("doc_id"))
        .limit(TextAnalysis.DsirK)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      val got2 = StreamDsir.currentSelected(spark, pfx)
        .filter(col("selected")).select(col("doc_id")).collect()
        .map(_.getLong(0)).toSet
      require(got2 == expect2,
        s"dsir-serve probe: selected set diverges from the top-k " +
          "re-rank after the eviction storm")
      (build, serve, lastTotal, lastTotal - lastFresh, stormSec, stormEvict)
    }
    lazy val dsirX1 = dsirServe(s"$out/x1", "scup_ds_x1")

    /** (store build sec, per-batch serve sec median, snapshot rows of
      * the final timed batch) for the drift-monitor probe — see
      * [[driftServeProbe]]. */
    def driftServe(dir: String, pfx: String): (Double, Double, Long) = {
      import graft.streaming.StreamDrift
      import graft.ext.TextAnalysis
      StreamDrift.resetStore(spark, pfx)
      val docs = Tables.table(spark, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val t0 = System.nanoTime()
      StreamDrift.modelWrite(spark, pfx, docs)
      StreamDrift.processBatch(spark, pfx, docs, 0L).count(): Unit
      StreamDrift.compactStore(spark, pfx)
      val build = (System.nanoTime() - t0) / 1e9
      val base = docs.filter(col("doc_id") < 250).localCheckpoint(true)
      def probeBatch(b: Long): DataFrame = base.select(
        (col("doc_id") + lit(1000000000000L + b * 1000000L)).as("doc_id"),
        col("source"), col("text"))
      var nextB = 1L
      var lastRows = 0L
      val serve = Bench.timeQuery((s, _) => {
        val b = nextB; nextB += 1
        val d = StreamDrift.processBatch(s, pfx, probeBatch(b), b)
        lastRows = d.count()
        d
      }, spark, dir, runs).median
      // law gate (untimed): the running snapshot equals the batch KL
      // law over the INDEPENDENTLY reconstructed corpus (replica +
      // every probe batch) against the frozen q — count-preserving,
      // so lost or doubled deltas cannot pass
      val lawDocs = (1L until nextB).map(probeBatch)
        .foldLeft(docs)(_ unionByName _)
      val m = spark.table(s"${pfx}_model")
      val law = TextAnalysis.dsirKlAgainst(
        TextAnalysis.dsirSourceCounts(lawDocs).localCheckpoint(true),
        m.select(col("f"), col("c_q")),
        m.agg(coalesce(sum(col("c_q")), lit(0L)).as("cq_tot")))
      val got = StreamDrift.currentDrift(spark, pfx)
      val diff = got.exceptAll(law).unionByName(law.exceptAll(got))
        .limit(1).count()
      require(diff == 0L,
        s"drift-serve probe: running snapshot diverges from the batch " +
          "KL law over the reconstructed corpus")
      (build, serve, lastRows)
    }
    lazy val driftX1 = driftServe(s"$out/x1", "scup_dr_x1")

    /** Per-B log-ratio magnitude stats for [[dsirBucketsProbe]]:
      * (B, mean |lr_u| micro-nats, max |lr_u|, buckets with
      * |lr_u| >= 1e5). One bounded-key aggregate pass per B — the same
      * dataflow the weight family runs, just wider spines. */
    def dsirBucketStats(dir: String): Seq[(Int, Double, Long, Long)] = {
      import graft.ext.TextAnalysis
      val docs = Tables.table(spark, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      Seq(512, 8192, 65536).map { b =>
        val lr = TextAnalysis.dsirLogRatios(
          TextAnalysis.dsirGrams(docs, b), b)
        val r = lr.agg(
          avg(abs(col("lr_u"))), max(abs(col("lr_u"))),
          sum(when(abs(col("lr_u")) >= 100000L, 1L).otherwise(0L))).head()
        System.err.println(f"[scaleup] dsir-buckets $dir B=$b " +
          f"mean|lr_u|=${r.getDouble(0)}%.1f max=${r.getLong(1)} " +
          f"informative=${r.getLong(2)}")
        (b, r.getDouble(0), r.getLong(1), r.getLong(2))
      }
    }
    lazy val dsirBucketsX1 = dsirBucketStats(s"$out/x1")

    /** [[dsirStormCalProbe]]: (calibrated B, storm repeat factor,
      * storm seconds, evictions, store build seconds). Same store +
      * adaptive-storm machinery as `dsirServe`, with B calibrated from
      * the corpus and threaded through model fit, scoring, and the
      * storm's own weight ranking. */
    def dsirStormCal(dir: String, pfx: String)
        : (Int, Int, Double, Long, Double) = {
      import graft.streaming.StreamDsir
      import graft.ext.TextAnalysis
      StreamDsir.resetStore(spark, pfx)
      val docs = Tables.table(spark, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val calB = TextAnalysis.dsirCalibratedBuckets(docs)
      System.err.println(s"[scaleup] dsir-storm-cal $dir: calibrated B=$calB")
      val t0 = System.nanoTime()
      StreamDsir.modelWrite(spark, pfx, docs, calB)
      StreamDsir.processBatch(spark, pfx, docs, 0L, "dsrv42",
        buckets = calB).count(): Unit
      StreamDsir.compactStore(spark, pfx)
      val build = (System.nanoTime() - t0) / 1e9
      val tKey = spark.table(s"${pfx}_thr")
        .orderBy(col("batch_id").desc).limit(1)
        .select(col("t_key")).head().getLong(0)
      val model = spark.table(s"${pfx}_model")
      // identical adaptive amplification law to dsirServe's storm —
      // double the repeat factor until the 2k-th ranked amplified
      // weight clears the standing threshold under the worst Gumbel
      // draw. At corpus-matched B the loop should terminate at the x1
      // level instead of the saturated-model 512 cap.
      def stormAt(rep: Int): (DataFrame, Long) = {
        val t = docs
          .filter(col("source").isin(TextAnalysis.DsirTargetSources: _*))
          .select(col("doc_id"), lit("src999997").as("source"),
            array_join(array_repeat(col("text"), rep), " ").as("text"))
          .localCheckpoint(true)
        val top = TextAnalysis.dsirWeightsAgainst(
            TextAnalysis.dsirGrams(t, calB), model)
          .orderBy(col("w_micro").desc, col("doc_id"))
          .limit(2 * TextAnalysis.DsirK).localCheckpoint(true)
        val mnW = top.agg(min(col("w_micro"))).head().getLong(0)
        (t.join(broadcast(top.select(col("doc_id"))), Seq("doc_id")), mnW)
      }
      var rep = 4
      var (stormSel, stormMinW) = stormAt(rep)
      while (stormMinW <= tKey + 4000000L && rep < 512) {
        rep *= 2
        val r = stormAt(rep); stormSel = r._1; stormMinW = r._2
      }
      System.err.println(
        s"[scaleup] dsir-storm-cal: B=$calB repeat=$rep " +
          s"minW=$stormMinW tKey=$tKey")
      val storm = stormSel
        .select((col("doc_id") + lit(3000000000000L)).as("doc_id"),
          col("source"), col("text"))
        .localCheckpoint(true)
      val st0 = System.nanoTime()
      val sd = StreamDsir.processBatch(spark, pfx, storm, 1L, "dsrv42",
        buckets = calB)
      val stormTotal = sd.count()
      val stormSec = (System.nanoTime() - st0) / 1e9
      val stormEvict =
        stormTotal - sd.filter(col("doc_id") >= 3000000000000L).count()
      require(stormEvict >= TextAnalysis.DsirK / 2,
        s"dsir calibrated-B eviction storm displaced only $stormEvict " +
          s"of the ${TextAnalysis.DsirK} standing docs at B=$calB")
      // selection law after the storm, same gate as dsirServe: the
      // collapsed selection equals an independent top-k re-rank
      val stored = spark.table(s"${pfx}_scores")
        .select(col("doc_id"), col("gkey"))
      val expect = stored
        .orderBy(col("gkey").desc, col("doc_id"))
        .limit(TextAnalysis.DsirK)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      val got = StreamDsir.currentSelected(spark, pfx)
        .filter(col("selected")).select(col("doc_id")).collect()
        .map(_.getLong(0)).toSet
      require(got == expect,
        s"dsir-storm-cal: selected set (${got.size}) diverges from an " +
          s"independent top-k re-rank after the storm at B=$calB")
      (calB, rep, stormSec, stormEvict, build)
    }
    lazy val stormCalX1 = dsirStormCal(s"$out/x1", "scup_dsc_x1")

    /** (exchange count in the bucketed pair-join plan, SMJ present) for
      * [[dedupBucketedGuardProbe]] — store build untimed, plan asserted. */
    def dedupBucketedGuard(dir: String, table: String): (Int, Boolean) = {
      import graft.ext.Dedup
      val docs = Tables.table(spark, dir, "documents")
      val pairs = Dedup.bandPairsBucketed(spark, docs, table = table)
      pairs.queryExecution.toRdd.count(): Unit
      val plan = pairs.queryExecution.executedPlan.treeString
      val exchanges = "Exchange".r.findAllIn(plan).length
      val smj = plan.contains("SortMergeJoin")
      require(exchanges == 0,
        s"bucketed band pair join gained $exchanges Exchange(s) at $dir:\n" +
          plan.linesIterator.take(30).mkString("\n"))
      (exchanges, smj)
    }
    lazy val dedupGuardX1 = dedupBucketedGuard(s"$out/x1", "scup_bg_x1_bands")

    val x1 = sweep(s"$out/x1")
    val x1Shapes = shapes(s"$out/x1")
    def j(pairs: Seq[(String, Double)]): String =
      pairs.map { case (n, v) => "\"" + n + f"\":$v%.4f" }.mkString("{", ",", "}")
    val lines = factors.map { k =>
      materializeReplica(k)
      val xk = sweep(s"$out/x$k")
      val xkShapes = shapes(s"$out/x$k")
      val ratio = x1.zip(xk).map { case ((n, a), (_, b)) =>
        n -> (if (a > 0 && b > 0) b / a else -1.0)
      }
      val planSame = probeQueries.map { n =>
        // Exact operator sequence, or the same operator MULTISET — the
        // latter admits AQE flipping a BroadcastHashJoin's build side
        // (both of q4's aggregated inputs are ~24 rows; which one AQE
        // measures as smaller at runtime may differ per scale). A
        // strategy change (BHJ->SMJ, new Exchange) still trips it.
        // A FAILED probe on either side emits null: `false` always
        // means a REAL shape change, never a crashed query.
        val probeFailed = Seq(x1Shapes.get(n), xkShapes.get(n))
          .exists(_.forall(_ == FAILED))
        val same = x1Shapes.get(n).exists { s =>
          s.nonEmpty && xkShapes.get(n).exists(t => t == s || t.sorted == s.sorted)
        }
        if (!probeFailed && !same) System.err.println(
          s"[scaleup] plan shape drift for $n at x$k:\n  x1=${x1Shapes.getOrElse(n, Nil).mkString(">")}\n  x$k=${xkShapes.getOrElse(n, Nil).mkString(">")}")
        "\"" + n + (if (probeFailed) "\":null" else s"""":$same""")
      }.mkString("{", ",", "}")
      val probeJson =
        if (layoutQueries.nonEmpty) {
          def fatten(t: String): Unit =
            spark.read.parquet(s"$out/x$k/$t.parquet")
              .repartition(nCores)
              .write.mode("overwrite").parquet(s"$out/x${k}_fat/$t.parquet")
          if (layoutQueries.exists(_.startsWith("q"))) fatten("events")
          if (layoutQueries.exists(_.startsWith("d_"))) fatten("documents")
          if (layoutQueries.exists(_.startsWith("e_"))) fatten("embeddings")
          val ts = layoutQueries.map { n =>
            val t = SparkEntry.queries.get(n).map { fn =>
              try Bench.timeQuery(fn, spark, s"$out/x${k}_fat", runs).median
              catch { case _: Throwable => -1.0 }
            }.getOrElse(-1.0)
            f""""${n}_sec":$t%.4f"""
          }.mkString(",")
          s""","layout_probe":{$ts,"files":$nCores,"note":"x$k bytes in x1 file count"}"""
        } else ""
      val annJson = if (!annServeProbe) "" else {
        val (b1, s1, sh1) = annX1
        val (bk, sk, shk) = annServe(s"$out/x$k", s"scup_ann_x$k")
        val same = sh1.nonEmpty && (shk == sh1 || shk.sorted == sh1.sorted)
        if (!same) System.err.println(
          s"[scaleup] ann-serve plan shape drift at x$k:\n  x1=${sh1.mkString(">")}\n  x$k=${shk.mkString(">")}")
        f""","ann_serve":{"x1_build_sec":$b1%.4f,"x${k}_build_sec":$bk%.4f,"x1_serve_sec":$s1%.4f,"x${k}_serve_sec":$sk%.4f,"build_ratio":${if (b1 > 0) bk / b1 else -1.0}%.4f,"serve_ratio":${if (s1 > 0) sk / s1 else -1.0}%.4f,"plan_same":$same}"""
      }
      val dedupJson = if (!dedupServeProbe) "" else {
        val (b1, s1, k1c, d1) = dedupX1
        val (bk, sk, kkc, dk) = dedupServe(s"$out/x$k", s"scup_sd_x$k")
        val same = k1c == kkc && d1 == dk
        if (!same) System.err.println(
          s"[scaleup] dedup-serve verdict drift at x$k: x1=($k1c kept, $d1 dropped) x$k=($kkc kept, $dk dropped)")
        f""","dedup_serve":{"x1_build_sec":$b1%.4f,"x${k}_build_sec":$bk%.4f,"x1_serve_sec":$s1%.4f,"x${k}_serve_sec":$sk%.4f,"build_ratio":${if (b1 > 0) bk / b1 else -1.0}%.4f,"serve_ratio":${if (s1 > 0) sk / s1 else -1.0}%.4f,"kept":$k1c,"dropped":$d1,"verdicts_same":$same}"""
      }
      val dedupPrunedJson = if (!dedupServePrunedProbe) "" else {
        val (b1, s1, k1c, d1) = dedupPrunedX1
        val (bk, sk, kkc, dk) =
          dedupServe(s"$out/x$k", s"scup_sdp_x$k", pruned = true)
        val same = k1c == kkc && d1 == dk
        if (!same) System.err.println(
          s"[scaleup] pruned dedup-serve verdict drift at x$k: x1=($k1c kept, $d1 dropped) x$k=($kkc kept, $dk dropped)")
        f""","dedup_serve_pruned":{"x1_build_sec":$b1%.4f,"x${k}_build_sec":$bk%.4f,"x1_serve_sec":$s1%.4f,"x${k}_serve_sec":$sk%.4f,"build_ratio":${if (b1 > 0) bk / b1 else -1.0}%.4f,"serve_ratio":${if (s1 > 0) sk / s1 else -1.0}%.4f,"kept":$k1c,"dropped":$d1,"verdicts_same":$same}"""
      }
      val mixJson = if (!mixServeProbe) "" else {
        val (b1, s1, t1, f1, ms1, mf1) = mixX1
        val (bk, sk, tk, fk, msk, mfk) = mixServe(s"$out/x$k", s"scup_mx_x$k")
        f""","mix_serve":{"x1_build_sec":$b1%.4f,"x${k}_build_sec":$bk%.4f,"x1_serve_sec":$s1%.4f,"x${k}_serve_sec":$sk%.4f,"build_ratio":${if (b1 > 0) bk / b1 else -1.0}%.4f,"serve_ratio":${if (s1 > 0) sk / s1 else -1.0}%.4f,"x1_changes":$t1,"x${k}_changes":$tk,"x1_flips":$f1,"x${k}_flips":$fk,"x1_mass_flip_sec":$ms1%.4f,"x${k}_mass_flip_sec":$msk%.4f,"x1_mass_flips":$mf1,"x${k}_mass_flips":$mfk}"""
      }
      val dedupFullJson = if (!dedupServeFullProbe) "" else {
        val (b1, s1, k1c, d1, r1) = dedupFullX1
        val (bk, sk, kkc, dk, rk) =
          dedupServeFull(s"$out/x$k", s"scup_sdf_x$k")
        val same = k1c == kkc && d1 == dk
        if (!same) System.err.println(
          s"[scaleup] full dedup-serve verdict drift at x$k: x1=($k1c kept, $d1 dropped) x$k=($kkc kept, $dk dropped)")
        if (!(r1 && rk)) System.err.println(
          s"[scaleup] full dedup-serve decide-exactly-once gate FAILED " +
            s"at x$k (x1=$r1, x$k=$rk) — replay re-emitted different verdicts")
        f""","dedup_serve_full":{"x1_build_sec":$b1%.4f,"x${k}_build_sec":$bk%.4f,"x1_serve_sec":$s1%.4f,"x${k}_serve_sec":$sk%.4f,"build_ratio":${if (b1 > 0) bk / b1 else -1.0}%.4f,"serve_ratio":${if (s1 > 0) sk / s1 else -1.0}%.4f,"kept":$k1c,"dropped":$d1,"verdicts_same":$same,"replay_same":${r1 && rk}}"""
      }
      val mixTokJson = if (!mixTokensServeProbe) "" else {
        val (b1, s1, t1, f1) = mixTokX1
        val (bk, sk, tk, fk) = mixTokensServe(s"$out/x$k", s"scup_mxt_x$k")
        f""","mix_tokens_serve":{"x1_build_sec":$b1%.4f,"x${k}_build_sec":$bk%.4f,"x1_serve_sec":$s1%.4f,"x${k}_serve_sec":$sk%.4f,"build_ratio":${if (b1 > 0) bk / b1 else -1.0}%.4f,"serve_ratio":${if (s1 > 0) sk / s1 else -1.0}%.4f,"x1_changes":$t1,"x${k}_changes":$tk,"x1_flips":$f1,"x${k}_flips":$fk}"""
      }
      val annAddJson = if (!annAddProbe) "" else {
        val (b1, s1, r1) = annAddX1
        val (bk, sk, rk) = annAdd(s"$out/x$k", s"scup_sa_x$k")
        if (!(r1 && rk)) System.err.println(
          s"[scaleup] ann-add insert-once gate FAILED at x$k (x1=$r1, x$k=$rk)")
        f""","ann_add":{"x1_build_sec":$b1%.4f,"x${k}_build_sec":$bk%.4f,"x1_add_sec":$s1%.4f,"x${k}_add_sec":$sk%.4f,"build_ratio":${if (b1 > 0) bk / b1 else -1.0}%.4f,"add_ratio":${if (s1 > 0) sk / s1 else -1.0}%.4f,"replay_same":${r1 && rk}}"""
      }
      val dsirJson = if (!dsirServeProbe) "" else {
        val (b1, s1, t1, e1, ss1, se1) = dsirX1
        val (bk, sk, tk, ek, ssk, sek) = dsirServe(s"$out/x$k", s"scup_ds_x$k")
        f""","dsir_serve":{"x1_build_sec":$b1%.4f,"x${k}_build_sec":$bk%.4f,"x1_serve_sec":$s1%.4f,"x${k}_serve_sec":$sk%.4f,"build_ratio":${if (b1 > 0) bk / b1 else -1.0}%.4f,"serve_ratio":${if (s1 > 0) sk / s1 else -1.0}%.4f,"x1_changes":$t1,"x${k}_changes":$tk,"x1_evictions":$e1,"x${k}_evictions":$ek,"x1_storm_sec":$ss1%.4f,"x${k}_storm_sec":$ssk%.4f,"x1_storm_evictions":$se1,"x${k}_storm_evictions":$sek}"""
      }
      val driftJson = if (!driftServeProbe) "" else {
        val (b1, s1, r1) = driftX1
        val (bk, sk, rk) = driftServe(s"$out/x$k", s"scup_dr_x$k")
        f""","drift_serve":{"x1_build_sec":$b1%.4f,"x${k}_build_sec":$bk%.4f,"x1_serve_sec":$s1%.4f,"x${k}_serve_sec":$sk%.4f,"build_ratio":${if (b1 > 0) bk / b1 else -1.0}%.4f,"serve_ratio":${if (s1 > 0) sk / s1 else -1.0}%.4f,"x1_rows":$r1,"x${k}_rows":$rk}"""
      }
      val dedupGuardJson = if (!dedupBucketedGuardProbe) "" else {
        val (e1, s1) = dedupGuardX1
        val (ek, sk) = dedupBucketedGuard(s"$out/x$k", s"scup_bg_x${k}_bands")
        s""","dedup_bucketed_guard":{"x1_exchanges":$e1,"x${k}_exchanges":$ek,"x1_smj":$s1,"x${k}_smj":$sk}"""
      }
      val dsirBJson = if (!dsirBucketsProbe) "" else {
        val xkStats = dsirBucketStats(s"$out/x$k")
        def sect(stats: Seq[(Int, Double, Long, Long)]): String =
          stats.map { case (b, mean, mx, inf) =>
            f""""b$b":{"mean_abs_lr_u":$mean%.1f,"max_abs_lr_u":$mx,"informative_buckets":$inf}"""
          }.mkString("{", ",", "}")
        // recovery = xK mean|lr_u| at the widest B over the x1 mean at
        // the registry's B=512 — 1.0 means the remedy restores the
        // signal past the x1-AT-512 level against a Kx-grown disjoint
        // vocabulary. That baseline is deliberately the registry's
        // pinned B, but the x1 signal itself RISES with B, so the
        // same-B ratios (xK/x1 at MATCHED B, r19 advice) are reported
        // alongside — they answer "how much of the like-for-like
        // signal survives the Kx growth" rather than "is the remedy
        // past the gate-scale operating point".
        val x1At512 = dsirBucketsX1.head._2
        val xkWidest = xkStats.last._2
        val recovery = if (x1At512 > 0) xkWidest / x1At512 else -1.0
        val sameB = dsirBucketsX1.zip(xkStats).map {
          case ((b, m1, _, _), (bk2, mk, _, _)) =>
            require(b == bk2, s"dsir-buckets stats misaligned: $b vs $bk2")
            f""""b$b":${if (m1 > 0) mk / m1 else -1.0}%.4f"""
        }.mkString("{", ",", "}")
        f""","dsir_buckets":{"x1":${sect(dsirBucketsX1)},"x$k":${sect(xkStats)},"recovery_vs_x1_b512":$recovery%.4f,"same_b_ratio":$sameB}"""
      }
      val stormCalJson = if (!dsirStormCalProbe) "" else {
        val (b1, r1, s1, e1, bu1) = stormCalX1
        val (bk, rk, sk, ek, buk) = dsirStormCal(s"$out/x$k", s"scup_dsc_x$k")
        f""","dsir_storm_cal":{"x1_b":$b1,"x${k}_b":$bk,"x1_rep":$r1,"x${k}_rep":$rk,"x1_storm_sec":$s1%.4f,"x${k}_storm_sec":$sk%.4f,"storm_ratio":${if (s1 > 0) sk / s1 else -1.0}%.4f,"x1_evictions":$e1,"x${k}_evictions":$ek,"x1_build_sec":$bu1%.4f,"x${k}_build_sec":$buk%.4f}"""
      }
      f"""{"sf":"$sfDir","factor":$k,"runs":$runs,"x1":${j(x1)},"x$k":${j(xk)},"ratio":${j(ratio)},"plan_same":$planSame$probeJson$annJson$dedupJson$dedupPrunedJson$mixJson$dedupFullJson$mixTokJson$annAddJson$dsirJson$driftJson$dedupGuardJson$dsirBJson$stormCalJson}"""
    }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_SCALEUP_OUT", "BENCH_SCALEUP.json")),
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    lines.foreach(println)
    // the serve probe's index tables are scratch state, not artifacts
    ("x1" +: factors.map(k => s"x$k")).foreach { fx =>
      if (annServeProbe)
        Seq("codes", "centroids", "codebooks").foreach(t =>
          spark.sql(s"DROP TABLE IF EXISTS scup_ann_${fx}_$t"): Unit)
      if (dedupServeProbe)
        Seq("bands", "toks").foreach(t =>
          spark.sql(s"DROP TABLE IF EXISTS scup_sd_${fx}_$t"): Unit)
      if (dedupServePrunedProbe)
        Seq("bands", "toks").foreach(t =>
          spark.sql(s"DROP TABLE IF EXISTS scup_sdp_${fx}_$t"): Unit)
      if (mixServeProbe)
        graft.streaming.StreamMix.resetStore(spark, s"scup_mx_$fx")
      if (dedupServeFullProbe)
        graft.streaming.StreamDedup.resetStore(spark, s"scup_sdf_$fx")
      if (mixTokensServeProbe)
        graft.streaming.StreamMixTokens.resetStore(spark, s"scup_mxt_$fx")
      if (annAddProbe)
        graft.streaming.StreamAnnIndex.resetStore(spark, s"scup_sa_$fx")
      if (dsirServeProbe)
        graft.streaming.StreamDsir.resetStore(spark, s"scup_ds_$fx")
      if (dsirStormCalProbe)
        graft.streaming.StreamDsir.resetStore(spark, s"scup_dsc_$fx")
      if (driftServeProbe)
        graft.streaming.StreamDrift.resetStore(spark, s"scup_dr_$fx")
      if (dedupBucketedGuardProbe)
        spark.sql(s"DROP TABLE IF EXISTS scup_bg_${fx}_bands"): Unit
    }
    spark.stop()
  }
}
