package graft

import graft.streaming.StreamDedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamDedupSpec extends SparkSpec {

  private def dropStore(prefix: String): Unit =
    Seq("bands", "toks", "decisions").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$t"): Unit)

  /** (doc_id, source, kept, matched_old, batch_id) rows of a verdict
    * frame, normalized for set compare (matched_old -1 encodes NULL). */
  private def rowsOf(df: org.apache.spark.sql.DataFrame) = df
    .select(col("doc_id"), col("source"), col("kept"),
      coalesce(col("matched_old"), lit(-1L)).as("mo"), col("batch_id"))
    .collect()
    .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
      r.getLong(3), r.getLong(4)))
    .toSet

  test("streaming dedup matches the oracled 4-wave batch twin, batch for batch") {
    dropStore("sd_eq")
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // the twin's expected verdicts, wave column standing in for batch_id
    val expected = ext.Dedup.dedupStreamed(spark, sf001)
      .select(col("doc_id"), col("source"), col("kept"),
        coalesce(col("matched_old"), lit(-1L)).as("mo"),
        col("wave").cast("long").as("batch_id"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2),
        r.getLong(3), r.getLong(4)))
      .toSet
    // stream the same corpus in the twin's four waves; processAllAvailable
    // between addData calls pins wave i to batchId i
    val byWave = Tables.documents(spark, sf001)
      .withColumn("wave",
        floor(substring(col("source"), 4, 10).cast("int") / 5).cast("int"))
      .select(col("wave"), col("doc_id"), col("source"), col("text"))
      .collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getString(2), r.getString(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toIndexedSeq).toMap
    val emitted =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Boolean, Long, Long)]
    val mem = MemoryStream[(Long, String, String)]
    val q = StreamDedup.streamingDedup(
      mem.toDF().toDF("doc_id", "source", "text"), prefix = "sd_eq") {
      (out, _) => rowsOf(out).foreach(emitted.add(_): Unit)
    }
    (0 until 4).foreach { w =>
      mem.addData(byWave(w): _*)
      q.processAllAvailable()
    }
    q.stop()
    val got = emitted.toArray(Array.empty[(Long, String, Boolean, Long, Long)]).toSet
    assert(got == expected,
      s"streamed verdicts diverge from the twin: only-got=${(got -- expected).take(3)} " +
        s"only-want=${(expected -- got).take(3)}")
    // every batch doc got exactly one verdict
    assert(got.size == 500, s"expected 500 verdicts, got ${got.size}")
    dropStore("sd_eq")
  }

  test("a doc redelivered twice INSIDE one batch collapses to one verdict and one store row") {
    dropStore("sd_dup")
    val batch = Tables.documents(spark, sf001)
      .filter(substring(col("source"), 4, 10).cast("int") < 5)
      .select(col("doc_id"), col("source"), col("text"))
      .limit(20)
    // at-least-once redelivery within a micro-batch, second copy with
    // DIFFERENT text — the deterministic winner is the smallest
    // (source, text), and only ITS tokens may reach the signature
    val doubled = batch.unionByName(
      batch.withColumn("text", concat(lit("zzz_redelivered "), col("text"))))
    val verdicts = rowsOf(StreamDedup.processBatch(spark, "sd_dup", doubled, 0L))
    assert(verdicts.size == 20, s"expected 20 verdicts, got ${verdicts.size}")
    Seq("toks", "decisions").foreach { t =>
      val dup = spark.table(s"sd_dup_$t")
        .groupBy(col("doc_id")).count().filter(col("count") > 1).count()
      assert(dup == 0L, s"$t holds $dup duplicated doc_ids")
    }
    // the kept winner's token set is the ORIGINAL text's (smallest
    // (source, text) sorts before the zzz_-prefixed redelivery), never a
    // merge of both deliveries
    assert(spark.table("sd_dup_toks")
      .filter(expr("exists(toks, t -> t = 'zzz_redelivered')")).count() == 0L,
      "redelivered text leaked into a minhash token set")
    dropStore("sd_dup")
  }

  test("a replayed batch re-emits identical decisions and leaves the store unchanged") {
    dropStore("sd_rp")
    val batch = Tables.documents(spark, sf001)
      .filter(substring(col("source"), 4, 10).cast("int") < 5)
      .select(col("doc_id"), col("source"), col("text"))
    val first = rowsOf(StreamDedup.processBatch(spark, "sd_rp", batch, 7L))
    val counts = Seq("bands", "toks", "decisions")
      .map(t => t -> spark.table(s"sd_rp_$t").count()).toMap
    // full replay of the same batch (same batchId): nothing recomputes,
    // the recorded verdicts re-emit bit-identically, store is unchanged
    val second = rowsOf(StreamDedup.processBatch(spark, "sd_rp", batch, 7L))
    assert(second == first,
      s"replay diverged: only-second=${(second -- first).take(3)} " +
        s"only-first=${(first -- second).take(3)}")
    Seq("bands", "toks", "decisions").foreach { t =>
      assert(spark.table(s"sd_rp_$t").count() == counts(t),
        s"replay grew sd_rp_$t")
    }
    assert(spark.table("sd_rp_decisions")
      .groupBy(col("doc_id")).count().filter(col("count") > 1).count() == 0,
      "replay must not double-record any decision")
    dropStore("sd_rp")
  }

  test("a checkpointed restart resumes mid-corpus with exactly-once decisions") {
    dropStore("sd_ck")
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("sd_ck_chk").toString
    val byWave = Tables.documents(spark, sf001)
      .withColumn("wave",
        floor(substring(col("source"), 4, 10).cast("int") / 5).cast("int"))
      .select(col("wave"), col("doc_id"), col("source"), col("text"))
      .collect()
      .map(r => (r.getInt(0), (r.getLong(1), r.getString(2), r.getString(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toIndexedSeq).toMap
    val emitted =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Boolean, Long, Long)]
    val mem = MemoryStream[(Long, String, String)]
    def start() = StreamDedup.streamingDedup(
      mem.toDF().toDF("doc_id", "source", "text"), prefix = "sd_ck",
      checkpoint = Some(ckpt)) {
      (out, _) => rowsOf(out).foreach(emitted.add(_): Unit)
    }
    // first incarnation processes waves 0-1, then STOPS — the kept corpus
    // and the decision ledger survive only in the store tables + checkpoint
    val q1 = start()
    (0 until 2).foreach { w => mem.addData(byWave(w): _*); q1.processAllAvailable() }
    q1.stop()
    // second incarnation, same checkpoint + same source: wave 2 arrived
    // while it was down and must be deduped against wave 0-1's kept
    // corpus; wave 3 follows in its own batch (fed per-wave so the batch
    // boundaries match the twin's — a combined 2+3 batch could
    // legitimately pick a different component representative)
    mem.addData(byWave(2): _*)
    val q2 = start()
    q2.processAllAvailable()
    mem.addData(byWave(3): _*)
    q2.processAllAvailable()
    q2.stop()
    val got = emitted.toArray(Array.empty[(Long, String, Boolean, Long, Long)])
    // exactly one verdict per doc across both incarnations — the ledger
    // absorbs any batch replay the restart triggers
    assert(got.length == got.map(_._1).distinct.length,
      s"restart double-emitted a verdict: ${got.length} rows, ${got.map(_._1).distinct.length} docs")
    assert(got.length == 500, s"expected 500 verdicts across the restart, got ${got.length}")
    // and the verdicts equal the 4-wave twin's (restart is invisible),
    // modulo batch numbering: post-restart waves may share one batch id
    val expected = ext.Dedup.dedupStreamed(spark, sf001)
      .select(col("doc_id"), col("kept"),
        coalesce(col("matched_old"), lit(-1L)).as("mo"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSet
    assert(got.map(t => (t._1, t._3, t._4)).toSet == expected,
      "restart changed a verdict vs the batch twin")
    dropStore("sd_ck")
  }

  test("probe-side store pruning changes no verdict, no kept row, and handles the no-candidate batch") {
    dropStore("sd_pr")
    StreamDedup.ensureStore(spark, "sd_pr")
    val docs = Tables.documents(spark, sf001)
      .withColumn("src_num", substring(col("source"), 4, 10).cast("int"))
    // seed the store with waves 0-1's kept docs (unpruned path)
    val seed = docs.filter(col("src_num") < 10)
      .select(col("doc_id"), col("source"), col("text"))
    val (_, kb0, kt0) = ext.Dedup.streamDedupStep(
      seed, spark.table("sd_pr_bands"), spark.table("sd_pr_toks"))
    kb0.select(col("doc_id"), col("band_idx"), col("band"))
      .write.insertInto("sd_pr_bands")
    kt0.select(col("doc_id"), col("toks")).write.insertInto("sd_pr_toks")
    val batch = docs.filter(col("src_num") >= 10)
      .select(col("doc_id"), col("source"), col("text"))
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("kept"),
        coalesce(col("matched_old"), lit(-1L)).as("mo"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSet
    val (vPlain, kbP, ktP) = ext.Dedup.streamDedupStep(
      batch, spark.table("sd_pr_bands"), spark.table("sd_pr_toks"))
    val (vPruned, kbQ, ktQ) = ext.Dedup.streamDedupStep(
      batch, spark.table("sd_pr_bands"), spark.table("sd_pr_toks"),
      prune = true)
    assert(norm(vPruned) == norm(vPlain),
      "pruning changed a verdict or matched_old")
    assert(vPruned.filter(col("kept")).count() > 0 &&
      vPruned.filter(!col("kept")).count() > 0,
      "fixture must exercise both kept and dropped docs")
    assert(kbQ.select(col("doc_id"), col("band_idx"), col("band")).collect().toSet ==
      kbP.select(col("doc_id"), col("band_idx"), col("band")).collect().toSet,
      "pruning changed the kept band rows")
    assert(ktQ.select(col("doc_id")).collect().toSet ==
      ktP.select(col("doc_id")).collect().toSet,
      "pruning changed the kept toks rows")
    // tiny driver-finish bound: the within-batch graph (> 1 edge) takes
    // star contraction instead of the driver finish
    val (vCap, kbC, ktC) = ext.Dedup.streamDedupStep(
      batch, spark.table("sd_pr_bands"), spark.table("sd_pr_toks"),
      prune = true, maxLocalEdges = 1)
    assert(norm(vCap) == norm(vPlain), "cap fall-back diverged")
    val batchIds = batch.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(norm(vPlain).count(v => !v._2 && batchIds.contains(v._3)) >= 2,
      "fixture must drop >= 2 docs within the batch (a graph over the cap)")
    assert(kbC.select(col("doc_id"), col("band_idx"), col("band")).collect().toSet ==
      kbP.select(col("doc_id"), col("band_idx"), col("band")).collect().toSet,
      "cap fall-back changed the kept band rows")
    assert(ktC.select(col("doc_id"), col("toks")).collect().map(r =>
      (r.getLong(0), r.getSeq[String](1))).toSet ==
      ktP.select(col("doc_id"), col("toks")).collect().map(r =>
        (r.getLong(0), r.getSeq[String](1))).toSet,
      "cap fall-back changed the kept toks rows")
    // all-novel batch (salted tokens → no band ever collides with the
    // store): candidate set is empty, the pruned toks scan short-circuits,
    // and every doc not duplicated within the batch is kept
    val novel = batch.limit(20)
      .select((col("doc_id") + lit(500000L)).as("doc_id"), col("source"),
        array_join(transform(split(col("text"), " "),
          t => concat(lit("nv_"), t)), " ").as("text"))
    val (vNovel, _, _) = ext.Dedup.streamDedupStep(
      novel, spark.table("sd_pr_bands"), spark.table("sd_pr_toks"),
      prune = true)
    assert(vNovel.filter(col("matched_old").isNotNull &&
      col("matched_old") < 500000L).count() == 0,
      "a novel doc matched the store through the pruned path")
    assert(vNovel.count() == 20, "novel batch lost a verdict")
    dropStore("sd_pr")
  }

  test("serve path plans no unfiltered store scan — every bands/toks/decisions read is pruned") {
    // full location clear: a crashed prior JVM can leave warehouse dirs
    // the in-memory catalog no longer knows about
    Seq("sd_ps_bands", "sd_ps_toks", "sd_ps_decisions")
      .foreach(graft.sources.TableOps.dropWithLocation(spark, _))
    val docs = Tables.documents(spark, sf001)
      .withColumn("src_num", substring(col("source"), 4, 10).cast("int"))
      .select(col("src_num"), col("doc_id"), col("source"), col("text"))
      .localCheckpoint(true)
    // wave 0 populates the store; the listener audits wave 1's serve
    StreamDedup.processBatch(spark, "sd_ps",
      docs.filter(col("src_num") < 10).drop("src_num"), 0L).count(): Unit
    // capture EVERY plan the serve batch executes (localCheckpoint pins,
    // anti-join guards, inserts) and, per store-table scan, its pushed
    // filters and the keys of the LeftSemi join it sits under, if any —
    // inferred IsNotNull filters alone would make any scan look "pruned"
    final case class Scan(table: String, pushed: String, hasIn: Boolean,
        semiKeys: Option[Set[String]])
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Scan]
    // plan.foreach does NOT descend into AQE's nested trees — an
    // AdaptiveSparkPlanExec holds its live plan behind executedPlan and
    // each QueryStageExec wraps its subtree as a leaf — so walk them
    // explicitly or every scan under an exchange goes uncounted
    val dbg = new java.util.concurrent.ConcurrentLinkedQueue[String]
    def walk(plan: org.apache.spark.sql.execution.SparkPlan,
        semi: Option[Set[String]]): Unit = {
      plan.subqueries.foreach(walk(_, None))
      plan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          // walk the INITIAL plan as well: AQE's empty-relation
          // propagation can eliminate an already-materialized (or
          // never-needed) scan from the final plan, hiding the shape
          // this audit exists to check
          walk(a.initialPlan, semi); walk(a.executedPlan, semi)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan, semi)
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi =>
          walk(j.left, Some(j.leftKeys.flatMap(_.references.map(_.name)).toSet))
          walk(j.right, semi)
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.tableIdentifier.map(_.table).filter(_.startsWith("sd_ps_")).foreach { t =>
            val hasIn = f.dataFilters.exists(_.exists {
              case _: org.apache.spark.sql.catalyst.expressions.In |
                   _: org.apache.spark.sql.catalyst.expressions.InSet => true
              case _ => false
            })
            seen.add(Scan(t, f.metadata.getOrElse("PushedFilters", ""), hasIn, semi)): Unit
          }
        case other => other.children.foreach(walk(_, semi))
      }
    }
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        dbg.add(s"$funcName :: ${qe.executedPlan.nodeName}"): Unit
        walk(qe.executedPlan, None)
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      StreamDedup.processBatch(spark, "sd_ps",
        docs.filter(col("src_num") >= 10).drop("src_num"), 1L).count(): Unit
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val scans = seen.toArray(Array.empty[Scan]).toSeq
    // the audit must have SEEN all three stores, or it proves nothing
    Seq("sd_ps_bands", "sd_ps_toks", "sd_ps_decisions").foreach(t =>
      assert(scans.exists(_.table == t),
        s"no $t scan captured — audit inert; captured=$scans; " +
          s"events=${dbg.toArray.mkString(" | ")}"))
    // toks and decisions: the batch-bounded doc_id range reaches the scan
    for (s <- scans if s.table != "sd_ps_bands")
      assert(s.pushed.contains("GreaterThanOrEqual(doc_id,") &&
        s.pushed.contains("LessThanOrEqual(doc_id,"),
        s"${s.table} scan pushes no doc_id range: ${s.pushed}")
    // bands: every scan is the store side of the (band_idx, band) semi-join
    for (s <- scans if s.table == "sd_ps_bands")
      assert(s.semiKeys.contains(Set("band_idx", "band")),
        s"bands scan not under a LeftSemi join on (band_idx, band): $s")
    // no store scan plans a literal IN-list
    val inLists = scans.filter(s => s.hasIn || s.pushed.contains("In("))
    assert(inLists.isEmpty, s"store scans with an IN-list: $inLists")
    dropStore("sd_ps")
  }

  test("ordered store compaction preserves verdicts and yields disjoint per-file id ranges") {
    dropStore("sd_cpA"); dropStore("sd_cpB")
    val byWave = (0 until 4).map { w =>
      Tables.documents(spark, sf001)
        .filter(floor(substring(col("source"), 4, 10).cast("int") / 5) === w)
        .select(col("doc_id"), col("source"), col("text"))
    }
    // prefix A: four batches straight through. prefix B: same batches,
    // but the whole store is compacted (ordered rewrite) after batch 1.
    val vA = (0 until 4).flatMap(w =>
      rowsOf(StreamDedup.processBatch(spark, "sd_cpA", byWave(w), w.toLong)))
    val vB01 = (0 until 2).flatMap(w =>
      rowsOf(StreamDedup.processBatch(spark, "sd_cpB", byWave(w), w.toLong)))
    val counts = Seq("bands", "toks", "decisions")
      .map(t => t -> spark.table(s"sd_cpB_$t").count()).toMap
    val res = StreamDedup.compactStore(spark, "sd_cpB")
    Seq("bands", "toks", "decisions").foreach { t =>
      assert(spark.table(s"sd_cpB_$t").count() == counts(t),
        s"compaction changed sd_cpB_$t's row count")
      val (nBefore, nAfter) = res(s"sd_cpB_$t")
      // all three stores are bucketed: compaction collapses the
      // per-append pile to at most one file per non-empty bucket
      val bound = StreamDedup.BandBuckets
      assert(nAfter <= nBefore && nAfter <= bound,
        s"sd_cpB_$t: expected <= $bound compacted files, got $nAfter (from $nBefore)")
    }
    // the ordered-rewrite mechanism (the legacy-flat-store compaction
    // path): per-file doc_id ranges of an ordered multi-file rewrite
    // must be disjoint — asserted on a FLAT copy of the toks rows (the
    // live store is bucketed, which compactTable rightly refuses)
    graft.sources.TableOps.dropWithLocation(spark, "sd_cpB_toks_flat")
    graft.sources.TableOps.resetTable(spark, "sd_cpB_toks_flat",
      spark.table("sd_cpB_toks"))
    graft.sources.TableOps.compactTable(spark, "sd_cpB_toks_flat",
      targetFileBytes = 2048, orderBy = Seq("doc_id"))
    val ranges = spark.table("sd_cpB_toks_flat")
      .groupBy(input_file_name().as("f"))
      .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(ranges.length > 1, "fixture must produce a multi-file rewrite")
    ranges.zip(ranges.drop(1)).foreach { case ((_, hi), (lo, _)) =>
      assert(hi < lo, s"overlapping per-file id ranges: ${ranges.mkString(",")}")
    }
    val vB23 = (2 until 4).flatMap(w =>
      rowsOf(StreamDedup.processBatch(spark, "sd_cpB", byWave(w), w.toLong)))
    assert((vB01 ++ vB23).toSet == vA.toSet,
      "compaction mid-corpus changed a verdict")
    graft.sources.TableOps.dropWithLocation(spark, "sd_cpB_toks_flat")
    dropStore("sd_cpA"); dropStore("sd_cpB")
  }

  test("doc_id-bucketed toks/decisions: spec in catalog, verdicts equal a legacy flat-store twin") {
    Seq("sd_bt", "sd_bu").foreach(p => Seq("bands", "toks", "decisions")
      .foreach(t => graft.sources.TableOps.dropWithLocation(spark, s"${p}_$t")))
    // the LEGACY twin: flat toks/decisions created BEFORE ensureStore —
    // its IF NOT EXISTS DDL must leave them flat, and every append /
    // compaction must follow the catalog's actual (bucket-less) spec
    spark.sql("CREATE TABLE sd_bu_toks (doc_id BIGINT, toks ARRAY<STRING>) " +
      "USING parquet")
    spark.sql("CREATE TABLE sd_bu_decisions (doc_id BIGINT, source STRING, " +
      "kept BOOLEAN, matched_old BIGINT, batch_id BIGINT) USING parquet")
    val byWave = (0 until 4).map { w =>
      Tables.documents(spark, sf001)
        .filter(floor(substring(col("source"), 4, 10).cast("int") / 5) === w)
        .select(col("doc_id"), col("source"), col("text"))
    }
    def spec(t: String) = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t))
      .bucketSpec
    (0 until 2).foreach { w =>
      val a = rowsOf(StreamDedup.processBatch(spark, "sd_bt", byWave(w), w.toLong))
      val b = rowsOf(StreamDedup.processBatch(spark, "sd_bu", byWave(w), w.toLong))
      assert(a == b, s"wave $w: bucketed store diverged from the flat twin")
    }
    Seq("sd_bt_toks", "sd_bt_decisions").foreach(t =>
      assert(spec(t).exists(s => s.bucketColumnNames == Seq("doc_id") &&
        s.sortColumnNames == Seq("doc_id")),
        s"$t missing its doc_id bucket spec: ${spec(t)}"))
    Seq("sd_bu_toks", "sd_bu_decisions").foreach(t =>
      assert(spec(t).isEmpty, s"legacy flat $t acquired a bucket spec"))
    // compaction follows each catalog spec (bucketed rewrite vs ordered
    // flat rewrite) and changes no subsequent verdict
    StreamDedup.compactStore(spark, "sd_bt")
    StreamDedup.compactStore(spark, "sd_bu")
    assert(spec("sd_bt_toks").isDefined && spec("sd_bu_toks").isEmpty,
      "compaction flipped a store's layout family")
    (2 until 4).foreach { w =>
      val a = rowsOf(StreamDedup.processBatch(spark, "sd_bt", byWave(w), w.toLong))
      val b = rowsOf(StreamDedup.processBatch(spark, "sd_bu", byWave(w), w.toLong))
      assert(a == b, s"post-compaction wave $w: bucketed vs flat diverged")
    }
    Seq("sd_bt", "sd_bu").foreach(dropStore)
  }

  test("bucketed bands store: exchange-free store side, bucket-spec-preserving compaction, layout-blind verdicts") {
    dropStore("sd_bk")
    val byWave = (0 until 3).map { w =>
      Tables.documents(spark, sf001)
        .filter(floor(substring(col("source"), 4, 10).cast("int") / 5) === w)
        .select(col("doc_id"), col("source"), col("text"))
    }
    (0 until 2).foreach(w =>
      StreamDedup.processBatch(spark, "sd_bk", byWave(w), w.toLong).count(): Unit)
    // the catalog carries the bucketed layout ensureStore declared
    def bucketSpec = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("sd_bk_bands"))
      .bucketSpec
    assert(bucketSpec.exists(s => s.numBuckets == StreamDedup.BandBuckets &&
      s.bucketColumnNames == Seq("band_idx", "band") &&
      s.sortColumnNames == Seq("band_idx", "band")),
      s"bands store lost its bucket spec: $bucketSpec")
    // the candidate join's store side needs NO Exchange: forced to SMJ,
    // the only shuffle in the plan is the batch side's (the probe frame
    // is pinned first so its own minhash aggregation doesn't count)
    val probeBands = ext.Dedup.minhashBands(byWave(2)).localCheckpoint(true)
    val joined = spark.table("sd_bk_bands").as("o")
      .join(probeBands.as("n").hint("merge"),
        col("o.band_idx") === col("n.band_idx") &&
          col("o.band") === col("n.band") &&
          col("o.doc_id") =!= col("n.doc_id"))
    val plan = joined.queryExecution.executedPlan.treeString
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"expected exactly one Exchange (the batch side), got $exchanges:\n$plan")
    assert(plan.contains("Bucketed: true"),
      s"store scan did not use the bucketed layout:\n$plan")
    // compaction preserves the spec and bounds the file pile to the
    // bucket count (two appends wrote more files than buckets get)
    val (nb, na) = StreamDedup.compactStore(spark, "sd_bk")("sd_bk_bands")
    assert(bucketSpec.isDefined, "compaction dropped the bands bucket spec")
    assert(na <= StreamDedup.BandBuckets && na <= nb,
      s"expected <= ${StreamDedup.BandBuckets} files after compaction, got $na (from $nb)")
    // physical layout must never leak into answers: the same wave served
    // from the bucketed tables and from layout-less in-memory copies of
    // the identical rows must produce identical verdicts
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("kept"),
        coalesce(col("matched_old"), lit(-1L)).as("mo"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSet
    val (vBucketed, _, _) = ext.Dedup.streamDedupStep(byWave(2),
      spark.table("sd_bk_bands"), spark.table("sd_bk_toks"), prune = true)
    val (vPlain, _, _) = ext.Dedup.streamDedupStep(byWave(2),
      spark.table("sd_bk_bands").localCheckpoint(true),
      spark.table("sd_bk_toks").localCheckpoint(true), prune = true)
    assert(norm(vBucketed) == norm(vPlain),
      "bucketed layout changed a verdict")
    dropStore("sd_bk")
  }

  test("compaction rescales the bands bucket count with store bytes; appends and serving follow the new layout") {
    // the growth policy itself: one bucket per target file, next power
    // of two, floored at the CREATE-time count, capped at 65536
    val MB128 = 128L * 1024 * 1024
    assert(StreamDedup.bucketsFor(0L) == StreamDedup.BandBuckets)
    assert(StreamDedup.bucketsFor(16L * MB128) == 16)
    assert(StreamDedup.bucketsFor(16L * MB128 + 1) == 32)
    assert(StreamDedup.bucketsFor(100L * MB128) == 128)
    assert(StreamDedup.bucketsFor(Long.MaxValue / 4) == 65536)
    dropStore("sd_gr"); dropStore("sd_gs")
    val byWave = (0 until 3).map { w =>
      Tables.documents(spark, sf001)
        .filter(floor(substring(col("source"), 4, 10).cast("int") / 5) === w)
        .select(col("doc_id"), col("source"), col("text"))
    }
    (0 until 2).foreach { w =>
      StreamDedup.processBatch(spark, "sd_gr", byWave(w), w.toLong).count(): Unit
      StreamDedup.processBatch(spark, "sd_gs", byWave(w), w.toLong).count(): Unit
    }
    // a tiny target file size makes the sf0.001 store "outgrow" 16
    // buckets, forcing the rescale path a real deployment hits at TB size
    val (_, filesAfter) =
      StreamDedup.compactStore(spark, "sd_gr", targetFileBytes = 1024L)("sd_gr_bands")
    val spec = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier("sd_gr_bands"))
      .bucketSpec
    val nb = spec.map(_.numBuckets).getOrElse(0)
    assert(nb > StreamDedup.BandBuckets && (nb & (nb - 1)) == 0,
      s"expected a rescaled power-of-two bucket count, got $nb")
    assert(spec.exists(s => s.bucketColumnNames == Seq("band_idx", "band") &&
      s.sortColumnNames == Seq("band_idx", "band")),
      s"rescale changed the bucket/sort columns: $spec")
    assert(filesAfter <= nb, s"$filesAfter files for $nb buckets")
    // the rescaled store still plans a bucketed (exchange-free) scan
    val probeBands = ext.Dedup.minhashBands(byWave(2)).localCheckpoint(true)
    val plan = spark.table("sd_gr_bands").as("o")
      .join(probeBands.as("n").hint("merge"),
        col("o.band_idx") === col("n.band_idx") &&
          col("o.band") === col("n.band") &&
          col("o.doc_id") =!= col("n.doc_id"))
      .queryExecution.executedPlan.treeString
    assert(plan.contains("Bucketed: true"),
      s"rescaled store scan did not use the bucketed layout:\n$plan")
    // wave 2 served from the rescaled store matches the untouched twin,
    // and the append landed at most one file per (task, bucket) — the
    // repartition follows the LIVE count, so at most nb new files
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("kept"),
        coalesce(col("matched_old"), lit(-1L)).as("mo"))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSet
    val vGrown = StreamDedup.processBatch(spark, "sd_gr", byWave(2), 2L)
    val vPlain = StreamDedup.processBatch(spark, "sd_gs", byWave(2), 2L)
    assert(norm(vGrown) == norm(vPlain), "rescaled layout changed a verdict")
    dropStore("sd_gr"); dropStore("sd_gs")
  }

  test("crash residue between the store append and the decisions append converges") {
    dropStore("sd_cr")
    StreamDedup.ensureStore(spark, "sd_cr")
    val batch = Tables.documents(spark, sf001)
      .filter(substring(col("source"), 4, 10).cast("int") < 5)
      .select(col("doc_id"), col("source"), col("text"))
    // simulate the crashed first attempt: ALL kept docs' bands+toks landed
    // in the store, but no decision was recorded and nothing was emitted —
    // exactly the state a crash between the two appends leaves behind
    val (verdicts, kb, kt) = ext.Dedup.streamDedupStep(
      batch, spark.table("sd_cr_bands"), spark.table("sd_cr_toks"))
    kb.select(col("doc_id"), col("band_idx"), col("band"))
      .write.insertInto("sd_cr_bands")
    kt.select(col("doc_id"), col("toks")).write.insertInto("sd_cr_toks")
    val keptFirst = verdicts.filter(col("kept"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // the replay: every doc is undecided, the store already holds the
    // kept docs' rows. Kept docs must re-keep (no self-match), dropped
    // docs must carry the same matched_old, and the anti-joined appends
    // must not duplicate a single store row.
    val replay = rowsOf(StreamDedup.processBatch(spark, "sd_cr", batch, 0L))
    val keptReplay = replay.filter(_._3).map(_._1)
    assert(keptReplay == keptFirst,
      s"crash replay changed the kept set: only-replay=${(keptReplay -- keptFirst).take(3)} " +
        s"only-first=${(keptFirst -- keptReplay).take(3)}")
    val firstV = verdicts
      .select(col("doc_id"), col("kept"), coalesce(col("matched_old"), lit(-1L)))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSet
    assert(replay.map(t => (t._1, t._3, t._4)) == firstV,
      "crash replay changed a verdict or matched_old")
    Seq("bands", "toks").foreach { t =>
      val dup = spark.table(s"sd_cr_$t")
        .groupBy(col("doc_id")).count()
        .filter(col("count") > (if (t == "bands") 4 else 1)).count()
      assert(dup == 0, s"crash replay duplicated rows in sd_cr_$t")
    }
    dropStore("sd_cr")
  }

  /** `body`'s result and every store-table scan executed by the queries
    * it runs, as (query number, table), for tables named `tablePrefix*`.
    * AQE's nested trees are walked explicitly (initial and final plan,
    * each query stage's subtree), since `plan.foreach` stops at them. */
  private def storeScans[T](tablePrefix: String)(body: => T): (T, Seq[(Int, String)]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]
    val queries = new java.util.concurrent.atomic.AtomicInteger
    def record(q: Int, plan: org.apache.spark.sql.execution.SparkPlan): Unit =
      (plan +: plan.subqueriesAll).foreach(_.foreach {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          record(q, a.initialPlan); record(q, a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          record(q, s.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.tableIdentifier.map(_.table).filter(_.startsWith(tablePrefix))
            .foreach(t => seen.add((q, t)): Unit)
        case _ => ()
      })
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        record(queries.incrementAndGet(), qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val out = try {
      val r = body
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      r
    } finally spark.listenerManager.unregister(listener)
    assert(queries.get > 0, "no executed query captured — audit inert")
    (out, seen.toArray(Array.empty[(Int, String)]).toSeq)
  }

  test("a served batch reads each store table in exactly one executed query") {
    Seq("bands", "toks", "decisions")
      .foreach(t => graft.sources.TableOps.dropWithLocation(spark, s"sd_one_$t"))
    val byWave = (0 until 2).map { w =>
      Tables.documents(spark, sf001)
        .filter(floor(substring(col("source"), 4, 10).cast("int") / 5) === w)
        .select(col("doc_id"), col("source"), col("text"))
    }
    StreamDedup.processBatch(spark, "sd_one", byWave(0), 0L).count(): Unit
    val (served, scans) = storeScans("sd_one_") {
      StreamDedup.processBatch(spark, "sd_one", byWave(1), 1L)
    }
    Seq("bands", "toks", "decisions").foreach { t =>
      val reads = scans.collect { case (q, n) if n == s"sd_one_$t" => q }.distinct
      assert(reads.size == 1,
        s"sd_one_$t read by ${reads.size} executed queries (want 1): $scans")
    }
    // the fixture must drop a wave-1 doc against the store, or the
    // verify join never reads the toks slice
    assert(served.join(byWave(0).select(col("doc_id").as("matched_old")),
      "matched_old").count() > 0, "fixture: no wave-1 doc matched the stored wave 0")
    dropStore("sd_one")
  }

  test("a crash that landed only part of a doc's bands appends exactly the missing band rows") {
    dropStore("sd_pb")
    StreamDedup.ensureStore(spark, "sd_pb")
    val batch = Tables.documents(spark, sf001)
      .filter(substring(col("source"), 4, 10).cast("int") < 5)
      .select(col("doc_id"), col("source"), col("text"))
    // the crashed attempt: the bands append committed only the bucket
    // files holding band_idx 0-1 of each kept doc (a crash mid
    // job-commit); no toks, no decision was written, nothing was emitted
    val (verdicts, kb, _) = ext.Dedup.streamDedupStep(
      batch, spark.table("sd_pb_bands"), spark.table("sd_pb_toks"))
    def bandRows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("band_idx"), col("band")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    val want = bandRows(kb).toSet
    kb.filter(col("band_idx") < 2).select(col("doc_id"), col("band_idx"), col("band"))
      .write.insertInto("sd_pb_bands")
    val planted = bandRows(spark.table("sd_pb_bands")).toSet
    assert(planted.nonEmpty && planted.size < want.size, "fixture: nothing partial planted")
    val firstV = verdicts
      .select(col("doc_id"), col("kept"), coalesce(col("matched_old"), lit(-1L)))
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSet
    val replay = rowsOf(StreamDedup.processBatch(spark, "sd_pb", batch, 0L))
    assert(replay.map(t => (t._1, t._3, t._4)) == firstV,
      "partial-bands replay changed a verdict or matched_old")
    // exactly the missing (doc_id, band_idx) rows were appended: the
    // store holds every kept band row once, and nothing else
    val stored = bandRows(spark.table("sd_pb_bands"))
    assert(stored.size == stored.toSet.size, "replay duplicated a band row")
    assert(stored.toSet == want,
      s"store bands differ from the kept rows: missing=${(want -- stored).take(3)} " +
        s"extra=${(stored.toSet -- want).take(3)}")
    val keptDocs = firstV.count(_._2).toLong
    assert(spark.table("sd_pb_toks").count() == keptDocs &&
      spark.table("sd_pb_toks").select(col("doc_id")).distinct().count() == keptDocs,
      "toks must hold one row per kept doc")
    assert(spark.table("sd_pb_decisions").count() == firstV.size.toLong,
      "decisions must hold one row per doc")
    dropStore("sd_pb")
  }

  test("an append pins a frame if and only if its plan reads a store table") {
    dropStore("sd_fz")
    StreamDedup.ensureStore(spark, "sd_fz")
    val tables = StreamDedup.storeTableNames("sd_fz")
    def readsFiles(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation])
    // a lazy store read is pinned: its plan reads blocks, not the table
    val storeRead = spark.table("sd_fz_toks").filter(col("doc_id") > 0L)
    val pinned = graft.streaming.StreamStoreOps.frozen(storeRead, tables)
    assert(readsFiles(storeRead) && !readsFiles(pinned), "store read not pinned")
    // frames built from pinned blocks, or reading no store table, stay as they are
    val fromPins = pinned.select(col("doc_id"))
    assert(graft.streaming.StreamStoreOps.frozen(fromPins, tables) eq fromPins)
    val other = Tables.documents(spark, sf001).select(col("doc_id"))
    assert(graft.streaming.StreamStoreOps.frozen(other, tables) eq other)
    dropStore("sd_fz")
  }
}
