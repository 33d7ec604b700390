package graft

import scala.jdk.CollectionConverters._

import graft.streaming._
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Exactly-once over the [[StoreOperator]] skeleton, for all six
  * store-backed operators, against their DECLARED append order:
  *
  *  1. partial-append replay — store A runs the fixture's four waves; for
  *     every k below the table count, store B is A-before-wave-2 plus the
  *     first k tables' wave-2 rows (A's after-minus-before diff: a crash
  *     after the k-th append), and replaying wave 2 on B must leave every
  *     store table and the emission equal to A's;
  *  2. checkpoint restart — a real checkpointed stream through the
  *     skeleton's starter is stopped after wave 2 and restarted on the same
  *     checkpoint with waves 3-4; its stores and its folded sink must
  *     equal the uninterrupted run A (one micro-batch per wave, batch ids
  *     0-3 in both);
  *  3. half-swapped compaction — for every store table, A-after-wave-2
  *     with that table present ONLY as its compaction staging copy (a
  *     death between the swap's drop and rename): ensureStore must bring
  *     back every table equal to A's, and waves 3-4 must emit A's rows;
  *  4. compaction — compactStore between waves 2 and 3 changes no
  *     emission and no store row (StreamDrift's counts compared as their
  *     per-(source, f) fold, which is what its compaction keeps). */
class StoreOperatorSpec extends SparkSpec {

  /** An operator under test: `setup` fits its frozen side state under a
    * prefix, `waves` are its four inputs, `step` one processBatch, and
    * `stream` its streaming starter with a checkpoint. */
  private case class Case(op: StoreOperator, setup: String => Unit,
      waves: IndexedSeq[DataFrame],
      step: (String, DataFrame, Long) => DataFrame,
      stream: (DataFrame, String, String) => ((DataFrame, Long) => Unit) =>
        org.apache.spark.sql.streaming.StreamingQuery)

  private lazy val docs = Tables.documents(spark, sf001)
    .select(col("doc_id"), col("source"), col("text"))
  private def docWaves(cols: String*) = (0 until 4).map(w =>
    docs.filter(StoreOperator.wave === w).select(cols.map(col): _*))
  private lazy val emb = Tables.embeddings(spark, sf001)
    .select(col("vec_id"), col("embedding"))

  private lazy val cases: Seq[(String, Case)] = Seq(
    "mix" -> Case(StreamMix, _ => (), docWaves("doc_id", "source"),
      StreamMix.processBatch(spark, _, _, _, "incr42"),
      (in, p, ck) => StreamMix.streamingMix(in, p, "incr42", Some(ck))),
    "mixtok" -> Case(StreamMixTokens, _ => (), docWaves("doc_id", "source", "text"),
      StreamMixTokens.processBatch(spark, _, _, _),
      (in, p, ck) => StreamMixTokens.streamingMixTokens(in, p, checkpoint = Some(ck))),
    "dsir" -> Case(StreamDsir, StreamDsir.modelWrite(spark, _, docs),
      docWaves("doc_id", "source", "text"),
      StreamDsir.processBatch(spark, _, _, _),
      (in, p, ck) => StreamDsir.streamingDsir(in, p, checkpoint = Some(ck))),
    "drift" -> Case(StreamDrift, StreamDrift.modelWrite(spark, _, docs),
      docWaves("doc_id", "source", "text"),
      StreamDrift.processBatch(spark, _, _, _),
      (in, p, ck) => StreamDrift.streamingDrift(in, p, Some(ck))),
    "dedup" -> Case(StreamDedup, _ => (), docWaves("doc_id", "source", "text"),
      StreamDedup.processBatch(spark, _, _, _),
      (in, p, ck) => StreamDedup.streamingDedup(in, p, Some(ck))),
    // the index trains on the base 80% (deterministic seeds); the other
    // 20% streams in four waves
    "ann" -> Case(StreamAnnIndex,
      graft.ext.Similarity.annIndexWriteFrom(spark, emb.filter(col("vec_id") % 5 =!= 0), _),
      (0 until 4).map(w => emb.filter(col("vec_id") % 5 === 0)
        .filter(expr("pmod(vec_id DIV 5, 4)") === w)),
      StreamAnnIndex.processBatch(spark, _, _, _),
      (in, p, ck) => StreamAnnIndex.streamingIndexAdd(in, p, Some(ck))))

  private def fresh(c: Case, prefix: String): Unit = {
    (Seq("model", "centroids", "codebooks").map(s => s"${prefix}_$s") ++
      c.op.storeTableNames(prefix)).foreach(graft.sources.TableOps.dropWithLocation(spark, _))
    c.setup(prefix)
    c.op.ensureStore(spark, prefix)
  }

  /** A frame's rows, pinned on the driver (the store mutates later). */
  private def pinned(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)

  private def snap(table: String): DataFrame = {
    spark.catalog.refreshTable(table)
    pinned(spark.table(table))
  }

  private def same(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def replace(table: String, rows: DataFrame): Unit = {
    spark.sql(s"TRUNCATE TABLE $table")
    rows.write.insertInto(table)
  }

  private val runs = scala.collection.mutable.Map[String,
    (IndexedSeq[Seq[DataFrame]], IndexedSeq[DataFrame])]()

  /** Store A after each wave (index w+1; 0 = before any) and the
    * emissions — the uninterrupted reference run, once per operator. */
  private def runA(name: String, c: Case) = runs.getOrElseUpdate(name, {
    val a = s"soa_$name"
    fresh(c, a)
    val tables = c.op.storeTableNames(a)
    val stores = scala.collection.mutable.ArrayBuffer(tables.map(snap))
    val emitted = c.waves.indices.map { w =>
      val e = pinned(c.step(a, c.waves(w), w.toLong))
      stores += tables.map(snap)
      e
    }
    (stores.toIndexedSeq, emitted)
  })

  /** Each operator's compactStore (their return types differ, so the
    * trait cannot carry it). */
  private lazy val compactions: Map[String, String => Unit] = Map(
    "mix" -> ((p: String) => StreamMix.compactStore(spark, p): Unit),
    "mixtok" -> ((p: String) => StreamMixTokens.compactStore(spark, p): Unit),
    "dsir" -> ((p: String) => StreamDsir.compactStore(spark, p): Unit),
    "drift" -> ((p: String) => StreamDrift.compactStore(spark, p): Unit),
    "dedup" -> ((p: String) => StreamDedup.compactStore(spark, p): Unit),
    "ann" -> ((p: String) => StreamAnnIndex.compactStore(spark, p): Unit))

  /** A store table's rows as compaction must keep them: StreamDrift
    * folds its count deltas, so only their per-(source, f) sums hold. */
  private def kept(suffix: String, rows: DataFrame): DataFrame =
    if (suffix != "counts") rows
    else rows.groupBy(col("source"), col("f")).agg(sum(col("c_s")).as("c_s"))

  cases.foreach { case (name, c) =>
    test(s"$name: a crash after any prefix of the declared appends replays to the clean store") {
      val (storesA, emittedA) = runA(name, c)
      val b = s"sob_$name"
      fresh(c, b)
      val tablesB = c.op.storeTableNames(b)
      tablesB.indices.foreach { k =>
        // A before wave 2, then the first k tables' wave-2 rows
        tablesB.indices.foreach { i =>
          replace(tablesB(i), storesA(2)(i))
          if (i < k) pinned(storesA(3)(i).exceptAll(storesA(2)(i)))
            .write.insertInto(tablesB(i))
        }
        val replayed = c.step(b, c.waves(2), 2L)
        assert(same(replayed, emittedA(2)),
          s"$name k=$k: replayed wave-2 emission differs from the clean run")
        tablesB.indices.foreach { i =>
          assert(same(snap(tablesB(i)), storesA(3)(i)),
            s"$name k=$k: ${c.op.storeTables(i).suffix} differs from the clean run")
        }
      }
    }

    test(s"$name: a checkpointed stream stopped after wave 2 resumes to the uninterrupted run") {
      val (storesA, emittedA) = runA(name, c)
      val p = s"sos_$name"
      fresh(c, p)
      val ckpt = java.nio.file.Files.createTempDirectory(s"sos_${name}_ck").toString
      implicit val enc: Encoder[Row] = Encoders.row(c.waves(0).schema)
      implicit val sq = spark.sqlContext
      val mem = MemoryStream[Row]
      val input = mem.toDF()
      val sink = new java.util.concurrent.ConcurrentHashMap[Long, DataFrame]()
      def start() = c.stream(input, p, ckpt) { (out, id) =>
        // idempotent per batchId: a replayed batch overwrites its entry
        sink.put(id, pinned(out)): Unit
      }
      val q1 = start()
      (0 until 2).foreach { w =>
        mem.addData(c.waves(w).collect().toSeq: _*); q1.processAllAvailable()
      }
      q1.stop()
      mem.addData(c.waves(2).collect().toSeq: _*)
      val q2 = start()
      q2.processAllAvailable()
      mem.addData(c.waves(3).collect().toSeq: _*)
      q2.processAllAvailable()
      q2.stop()
      assert(sink.keySet.asScala.toSet == Set(0L, 1L, 2L, 3L),
        s"$name: sink saw batches ${sink.keySet}")
      (0 until 4).foreach { w =>
        assert(same(sink.get(w.toLong), emittedA(w)),
          s"$name: restarted stream's batch $w differs from the uninterrupted run")
      }
      c.op.storeTableNames(p).indices.foreach { i =>
        assert(same(snap(c.op.storeTableNames(p)(i)), storesA(4)(i)),
          s"$name: ${c.op.storeTables(i).suffix} differs after the restart")
      }
    }

    test(s"$name: a compaction that died between drop and rename of any store table heals on ensureStore") {
      val (storesA, emittedA) = runA(name, c)
      val h = s"soh_$name"
      fresh(c, h)
      val tables = c.op.storeTableNames(h)
      def suffix(i: Int) = c.op.storeTables(i).suffix
      // every table is tried; the failures are reported together
      val broken = tables.indices.flatMap { k =>
        scala.util.Try {
          tables.indices.foreach(i => replace(tables(i), storesA(2)(i)))
          // the staged copy keeps the live layout (bucket spec included)
          // and is the ONLY copy once the live table is dropped
          val staged = graft.sources.TableOps.stagingNameFor(tables(k))
          graft.sources.TableOps.dropWithLocation(spark, staged)
          spark.sql(s"CREATE TABLE $staged LIKE ${tables(k)}")
          spark.sql(s"INSERT INTO $staged SELECT * FROM ${tables(k)}")
          graft.sources.TableOps.dropWithLocation(spark, tables(k))
          c.op.ensureStore(spark, h)
          tables.indices.foreach { i =>
            assert(same(snap(tables(i)), storesA(2)(i)),
              s"${suffix(i)} differs from the clean run after recovery")
          }
          assert(!spark.catalog.tableExists(staged), "the staged copy was left behind")
          (2 until 4).foreach { w =>
            assert(same(c.step(h, c.waves(w), w.toLong), emittedA(w)),
              s"wave $w after recovery differs from the clean run")
          }
          tables.indices.foreach { i =>
            assert(same(snap(tables(i)), storesA(4)(i)),
              s"${suffix(i)} differs from the clean run after waves 3-4")
          }
        }.failed.toOption.map(e => s"${suffix(k)} half-swapped: ${e.getMessage}")
      }
      assert(broken.isEmpty, s"$name:\n${broken.mkString("\n")}")
    }

    test(s"$name: compactStore between waves 2 and 3 changes no emission and no store row") {
      val (storesA, emittedA) = runA(name, c)
      val p = s"soc_$name"
      fresh(c, p)
      val tables = c.op.storeTableNames(p)
      tables.indices.foreach(i => replace(tables(i), storesA(2)(i)))
      compactions(name)(p)
      tables.foreach(t => assert(!spark.catalog.tableExists(
        graft.sources.TableOps.stagingNameFor(t)), s"$t: staging table left behind"))
      (2 until 4).foreach { w =>
        assert(same(c.step(p, c.waves(w), w.toLong), emittedA(w)),
          s"$name: wave $w after compaction differs from the uninterrupted run")
      }
      tables.indices.foreach { i =>
        val sfx = c.op.storeTables(i).suffix
        assert(same(kept(sfx, snap(tables(i))), kept(sfx, storesA(4)(i))),
          s"$name: $sfx differs from the uninterrupted run after compaction")
      }
    }
  }

  test("a bucketed append writes at most one file per bucket id, in the largest bucket-count divisor of tasks") {
    val t = "so_bucket_append"
    graft.sources.TableOps.dropWithLocation(spark, t)
    spark.sql(s"CREATE TABLE $t (doc_id BIGINT, v STRING) USING parquet " +
      "CLUSTERED BY (doc_id) SORTED BY (doc_id) INTO 16 BUCKETS")
    val dir = new org.apache.hadoop.fs.Path(
      graft.sources.TableOps.catalogMeta(spark, t).location)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files = fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith(".")).toSet
    val sc = spark.sparkContext
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    // shuffle partitions → the largest divisor of 16 at most that many
    try Seq(6 -> 4, 3 -> 2, 16 -> 16, 40 -> 16).zipWithIndex.foreach {
      case ((partitions, want), i) =>
        spark.conf.set(key, partitions.toString)
        val rows = spark.range(i * 1000L, i * 1000L + 400L)
          .select(col("id").as("doc_id"), col("id").cast("string").as("v"))
        val before = files
        val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]
        val l = new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
            stages.add((e.stageInfo.stageId, e.stageInfo.numTasks)): Unit
        }
        org.apache.spark.GraftListenerBus.drain(sc)
        sc.addSparkListener(l)
        try {
          StreamStoreOps.appendToStore(spark, t, rows, Seq("doc_id"))
          org.apache.spark.GraftListenerBus.drain(sc)
        } finally sc.removeSparkListener(l)
        val added = (files -- before).toSeq
        val buckets = added.map(n => org.apache.spark.sql.execution.datasources
          .BucketingUtils.getBucketId(n).getOrElse(fail(s"no bucket id in $n")))
        assert(buckets.size == buckets.distinct.size,
          s"$partitions partitions: an append wrote two files for one bucket: ${added.sorted}")
        assert(buckets.size == 16, s"$partitions partitions: 400 rows filled ${buckets.size} of 16 buckets")
        // the write stage is the append's last stage
        val write = stages.asScala.maxBy(_._1)
        assert(write._2 == want,
          s"$partitions partitions: write stage ran ${write._2} tasks, want $want")
    } finally spark.conf.set(key, saved)
    assert(spark.table(t).count() == 1600L)
    graft.sources.TableOps.dropWithLocation(spark, t)
  }
}
