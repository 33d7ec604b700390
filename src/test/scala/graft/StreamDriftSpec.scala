package graft

import graft.ext.TextAnalysis
import graft.streaming.StreamDrift
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamDriftSpec extends SparkSpec {

  private def dropStore(prefix: String): Unit =
    Seq("model", "counts", "applied").foreach(t =>
      graft.sources.TableOps.dropWithLocation(spark, s"${prefix}_$t"))

  private def rowsOf(df: org.apache.spark.sql.DataFrame) = df
    .select(col("source"), col("n_grams"), col("kl_micro"))
    .collect()
    .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    .toSet

  private def wavedDocs = Tables.documents(spark, sf001)
    .withColumn("wave", expr("CAST(pmod(doc_id DIV 20, 4) AS INT)"))
    .select(col("doc_id"), col("source"), col("text"), col("wave"))

  test("live stream folds to the replay twin; final snapshot equals the batch KL law") {
    dropStore("drf_eq")
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = Tables.documents(spark, sf001)
    StreamDrift.modelWrite(spark, "drf_eq", docs)
    val byWave = wavedDocs.collect()
      .map(r => (r.getInt(3), (r.getLong(0), r.getString(1), r.getString(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toIndexedSeq).toMap
    val perBatch =
      scala.collection.concurrent.TrieMap.empty[Long, Set[(String, Long, Long)]]
    val mem = MemoryStream[(Long, String, String)]
    val q = StreamDrift.streamingDrift(
      mem.toDF().toDF("doc_id", "source", "text"), prefix = "drf_eq") {
      (out, bid) => perBatch(bid) = rowsOf(out)
    }
    (0 until 4).foreach { w => mem.addData(byWave(w): _*); q.processAllAvailable() }
    q.stop()
    assert(perBatch.keySet == Set(0L, 1L, 2L, 3L))
    // every wave's live snapshot == the replay twin's wave rows
    spark.catalog.refreshTable("drf_eq_counts")
    spark.catalog.refreshTable("drf_eq_applied")
    val twin = StreamDrift.dsirKlStreamed(spark, sf001).collect()
      .map(r => (r.getInt(0).toLong, (r.getString(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    (0L to 3L).foreach { w =>
      assert(perBatch(w) == twin(w),
        s"wave $w: live snapshot != replay twin\n${perBatch(w)}\n${twin(w)}")
    }
    // the final snapshot IS the batch diagnostic (q frozen over the
    // same full corpus the batch law derives its pool from)
    val batchLaw = rowsOf(TextAnalysis.dsirKlOn(docs))
    assert(perBatch(3L) == batchLaw,
      s"final snapshot != dsirKlOn\n${perBatch(3L)}\n$batchLaw")
    dropStore("drf_eq"); dropStore("drf_replay")
  }

  test("a replayed batch re-emits the identical snapshot and leaves tables unchanged") {
    dropStore("drf_rp")
    StreamDrift.modelWrite(spark, "drf_rp", Tables.documents(spark, sf001))
    val w0 = wavedDocs.filter(col("wave") === 0)
      .select(col("doc_id"), col("source"), col("text"))
    val w1 = wavedDocs.filter(col("wave") === 1)
      .select(col("doc_id"), col("source"), col("text"))
    val first0 = rowsOf(StreamDrift.processBatch(spark, "drf_rp", w0, 0L))
    val first1 = rowsOf(StreamDrift.processBatch(spark, "drf_rp", w1, 1L))
    val counts = spark.table("drf_rp_counts").count()
    val applied = spark.table("drf_rp_applied").count()
    // replay the LAST batch (the only one foreachBatch ever replays):
    // emit-only path, identical rows, no store growth
    val again1 = rowsOf(StreamDrift.processBatch(spark, "drf_rp", w1, 1L))
    assert(again1 == first1, "replay must re-emit the identical snapshot")
    assert(spark.table("drf_rp_counts").count() == counts)
    assert(spark.table("drf_rp_applied").count() == applied)
    assert(first0 != first1, "fixture inert: wave 1 changed nothing")
    dropStore("drf_rp")
  }

  test("counts-without-applied crash residue converges without double-counting") {
    dropStore("drf_cr")
    StreamDrift.modelWrite(spark, "drf_cr", Tables.documents(spark, sf001))
    val w0 = wavedDocs.filter(col("wave") === 0)
      .select(col("doc_id"), col("source"), col("text"))
    val w1 = wavedDocs.filter(col("wave") === 1)
      .select(col("doc_id"), col("source"), col("text"))
    rowsOf(StreamDrift.processBatch(spark, "drf_cr", w0, 0L)): Unit
    // simulate the crash window: batch 1's counts land, applied does not
    val deltas = TextAnalysis.dsirSourceCounts(w1)
      .withColumn("batch_id", lit(1L))
      .select(col("source"), col("f"), col("c_s"), col("batch_id"))
    deltas.coalesce(1).write.insertInto("drf_cr_counts")
    val preCounts = spark.table("drf_cr_counts").count()
    val recovered = rowsOf(StreamDrift.processBatch(spark, "drf_cr", w1, 1L))
    // no re-append; marker landed; snapshot includes batch 1 exactly once
    assert(spark.table("drf_cr_counts").count() == preCounts,
      "recovery re-appended the residue — double count")
    assert(spark.table("drf_cr_applied")
      .filter(col("batch_id") === 1L).count() == 1L)
    dropStore("drf_cl")
    // clean-path control: same two batches on a fresh prefix
    dropStore("drf_cl")
    StreamDrift.modelWrite(spark, "drf_cl", Tables.documents(spark, sf001))
    rowsOf(StreamDrift.processBatch(spark, "drf_cl", w0, 0L)): Unit
    val clean = rowsOf(StreamDrift.processBatch(spark, "drf_cl", w1, 1L))
    assert(recovered == clean, "recovered snapshot != clean-path snapshot")
    // a MISMATCHED residue refuses loudly (foreign store)
    dropStore("drf_fx")
    StreamDrift.modelWrite(spark, "drf_fx", Tables.documents(spark, sf001))
    rowsOf(StreamDrift.processBatch(spark, "drf_fx", w0, 0L)): Unit
    import spark.implicits._
    Seq(("srcX", 0L, 999L, 1L)).toDF("source", "f", "c_s", "batch_id")
      .coalesce(1).write.insertInto("drf_fx_counts")
    val e = intercept[IllegalArgumentException] {
      StreamDrift.processBatch(spark, "drf_fx", w1, 1L)
    }
    assert(e.getMessage.contains("does not match"))
    dropStore("drf_cr"); dropStore("drf_cl"); dropStore("drf_fx")
  }

  test("compaction folds applied deltas, drops unapplied residue, preserves snapshots") {
    dropStore("drf_cp")
    StreamDrift.modelWrite(spark, "drf_cp", Tables.documents(spark, sf001))
    val w = wavedDocs
    (0 until 3).foreach { i =>
      StreamDrift.processBatch(spark, "drf_cp",
        w.filter(col("wave") === i)
          .select(col("doc_id"), col("source"), col("text")), i.toLong): Unit
    }
    val before = rowsOf(StreamDrift.currentDrift(spark, "drf_cp"))
    // plant unapplied residue for a future batch 9 — the fold must drop it
    import spark.implicits._
    Seq(("src0", 3L, 777L, 9L)).toDF("source", "f", "c_s", "batch_id")
      .coalesce(1).write.insertInto("drf_cp_counts")
    val stats = StreamDrift.compactStore(spark, "drf_cp")
    val foldedRows = spark.table("drf_cp_counts")
    assert(stats("drf_cp_counts")._2 <= stats("drf_cp_counts")._1)
    assert(foldedRows.filter(col("batch_id") === 9L).count() == 0L,
      "fold kept unapplied residue")
    assert(foldedRows.groupBy(col("source"), col("f")).count()
      .filter(col("count") > 1).count() == 0L, "fold left duplicate keys")
    assert(rowsOf(StreamDrift.currentDrift(spark, "drf_cp")) == before,
      "compaction changed the snapshot")
    // subsequent batches keep working on the folded store
    val after3 = rowsOf(StreamDrift.processBatch(spark, "drf_cp",
      w.filter(col("wave") === 3)
        .select(col("doc_id"), col("source"), col("text")), 3L))
    assert(after3 != before, "fixture inert: wave 3 changed nothing")
    dropStore("drf_cp")
  }

  test("a half-swapped fold (counts dropped, stage not renamed) recovers on ensureStore") {
    dropStore("drf_hs")
    StreamDrift.modelWrite(spark, "drf_hs", Tables.documents(spark, sf001))
    val w0 = wavedDocs.filter(col("wave") === 0)
      .select(col("doc_id"), col("source"), col("text"))
    rowsOf(StreamDrift.processBatch(spark, "drf_hs", w0, 0L)): Unit
    val before = rowsOf(StreamDrift.currentDrift(spark, "drf_hs"))
    // simulate a death between compactStore's drop and rename: the
    // staged copy is the ONLY copy
    val countsStage = graft.sources.TableOps.stagingNameFor("drf_hs_counts")
    spark.table("drf_hs_counts").write.saveAsTable(countsStage)
    graft.sources.TableOps.dropWithLocation(spark, "drf_hs_counts")
    StreamDrift.ensureStore(spark, "drf_hs")
    assert(rowsOf(StreamDrift.currentDrift(spark, "drf_hs")) == before,
      "half-swap recovery lost the counts store")
    assert(!spark.catalog.tableExists(countsStage))
    dropStore("drf_hs")
  }

  test("a half-swapped APPLIED-ledger compaction recovers on ensureStore") {
    dropStore("drf_ha")
    StreamDrift.modelWrite(spark, "drf_ha", Tables.documents(spark, sf001))
    val w0 = wavedDocs.filter(col("wave") === 0)
      .select(col("doc_id"), col("source"), col("text"))
    rowsOf(StreamDrift.processBatch(spark, "drf_ha", w0, 0L)): Unit
    val before = rowsOf(StreamDrift.currentDrift(spark, "drf_ha"))
    assert(before.nonEmpty, "fixture inert: empty snapshot")
    // simulate a death between TableOps.compactTable's drop and rename
    // on the applied ledger: the staged copy is the ONLY copy. The
    // staging name comes from the compactor's own default (not a
    // hardcoded suffix copy), so this spec keeps guarding the real
    // window if the default ever changes.
    val appliedStage =
      graft.sources.TableOps.stagingNameFor("drf_ha_applied")
    spark.table("drf_ha_applied").write.saveAsTable(appliedStage)
    graft.sources.TableOps.dropWithLocation(spark, "drf_ha_applied")
    StreamDrift.ensureStore(spark, "drf_ha")
    assert(rowsOf(StreamDrift.currentDrift(spark, "drf_ha")) == before,
      "applied-ledger half-swap recovery lost the ledger — historical " +
        "counts were semi-joined out of the snapshot")
    assert(!spark.catalog.tableExists(appliedStage))
    dropStore("drf_ha")
    graft.sources.TableOps.dropWithLocation(spark, appliedStage)
  }

  test("refusals: missing model, ledger ahead of the batch; zero-gram batches are no-ops") {
    dropStore("drf_rf")
    import spark.implicits._
    val w0 = wavedDocs.filter(col("wave") === 0)
      .select(col("doc_id"), col("source"), col("text"))
    val noModel = intercept[IllegalArgumentException] {
      StreamDrift.processBatch(spark, "drf_rf", w0, 0L)
    }
    assert(noModel.getMessage.contains("no frozen model"))
    StreamDrift.modelWrite(spark, "drf_rf", Tables.documents(spark, sf001))
    rowsOf(StreamDrift.processBatch(spark, "drf_rf", w0, 5L)): Unit
    val ahead = intercept[IllegalArgumentException] {
      StreamDrift.processBatch(spark, "drf_rf", w0, 3L)
    }
    assert(ahead.getMessage.contains("beyond"))
    // zero-gram batch: NULL/empty text and NULL source contribute
    // nothing, write nothing, emit the unchanged snapshot
    val pre = spark.table("drf_rf_counts").count()
    val z = Seq((900L, "srcZ", null.asInstanceOf[String]),
      (901L, "srcZ", ""), (902L, null.asInstanceOf[String], "real text"))
      .toDF("doc_id", "source", "text")
    val snap = rowsOf(StreamDrift.processBatch(spark, "drf_rf", z, 6L))
    assert(spark.table("drf_rf_counts").count() == pre)
    assert(!snap.exists(_._1 == "srcZ"), "zero-gram source leaked a snapshot row")
    dropStore("drf_rf")
  }
}
