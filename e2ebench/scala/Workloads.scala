package graft.e2ebench

import java.io.File
import java.security.MessageDigest
import java.util.concurrent.{ConcurrentHashMap, TimeoutException}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{SparkEntry, Tables}
import graft.ext.Dedup
import graft.ops.{ReferenceQueries, Relational}
import graft.streaming.{SensorReading, StreamDedup, StreamIngest}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** One workload on one Spark session. The harness calls `warmUp` as part
  * of set-up, then `prepare` + `op` + `check` per timed op, then
  * optionally `traced`, then `dump`. */
abstract class Workload(val spark: SparkSession, val a: Args) {
  /** Output mismatches found so far; any entry makes the run incorrect. */
  val mismatches = mutable.ArrayBuffer.empty[String]

  def warmUp(): Unit
  /** Ops per round of the workload's mix; the timed loop ends on a round
    * boundary so every run measures the same mix. */
  def cycle: Int = 1
  def hasNext: Boolean = true
  /** Engine work between ops that no op's latency covers (counted in wall time). */
  def prepare(): Unit = ()
  def op(t: Tracer, i: Int): Unit
  /** Check op `i`'s output against the verified reference (untimed). */
  def check(i: Int): Unit
  /** Input rows fully processed by the timed ops; None where every op reads
    * the whole input. */
  def rowsDone: Option[Long] = None
  /** A fixed amount of work, so its counts repeat exactly, on streams and
    * stores of its own. */
  def traced(t: Tracer): Map[String, Double]
  /** Write the reference outputs `run.py` checks independently. */
  def dump(): Unit
  def stop(): Unit = ()

  protected def checkDir(name: String): String = new File(new File(a.out, "check"), name).getPath
}

object Workload {
  val names: Seq[String] = Seq("dashboard", "ingest", "dedup")

  def apply(spark: SparkSession, a: Args): Workload = a.workload match {
    case "dashboard" => new Dashboard(spark, a)
    case "ingest" => new Ingest(spark, a)
    case "dedup" => new OnlineDedup(spark, a)
  }

  def digest(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Block until the stream has run data batch `batchId`. A trigger that
    * listed its source just before the newest file arrived can end
    * `processAllAvailable` early, so drain until the batch is seen. */
  def await(q: StreamingQuery, batchId: Long, t: Tracer): Unit = {
    t.awaits(q.id, batchId)
    val deadline = System.nanoTime + 120L * 1000000000L
    while (!q.recentProgress.exists(p => p.batchId == batchId && p.numInputRows > 0)) {
      q.exception.foreach(e => throw e)
      if (!q.isActive) throw new IllegalStateException(s"stream ${q.name} stopped")
      if (System.nanoTime > deadline)
        throw new TimeoutException(s"batch $batchId not processed within 120 s")
      q.processAllAvailable()
    }
  }

  def writeParquet(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.mode("overwrite").parquet(path)
}

/** Dashboard reads: each op is one registry query, round-robin over the
  * paper's Q1-Q4 and the two distinct-count queries, built through
  * `SparkEntry.queries` and collected to the client. */
final class Dashboard(spark: SparkSession, a: Args) extends Workload(spark, a) {
  import Dashboard._
  // fetched once per session, as a long-lived dashboard server holds it
  private val registry = SparkEntry.queries
  private val reference = mutable.LinkedHashMap.empty[String, (String, Array[Row], StructType)]
  private var last: Array[Row] = Array.empty

  override def cycle: Int = queries.size

  private def run(name: String, t: Tracer, i: Int): Array[Row] = {
    val df = t.span("entry", name, i)(registry(name)(spark, a.data))
    t.span("exec", "collect", i)(df.collect())
  }

  def warmUp(): Unit = for (_ <- 0 until WarmCycles; name <- queries) {
    val df = registry(name)(spark, a.data)
    val rows = df.collect()
    reference(name) = (Workload.digest(rows.iterator.map(_.toString)), rows, df.schema)
  }

  def op(t: Tracer, i: Int): Unit = last = run(queries(i % queries.size), t, i)

  def check(i: Int): Unit = {
    val name = queries(i % queries.size)
    if (Workload.digest(last.iterator.map(_.toString)) != reference(name)._1)
      mismatches += s"$name: op $i output differs from the checked reference output"
  }

  def traced(t: Tracer): Map[String, Double] = {
    for (i <- 0 until TracedOps) {
      val q = queries(i % queries.size)
      last = t.span("op", q, i)(run(q, t, i))
      check(i)
      // Probes: the bare operator (what SparkEntry's protocol sort wraps)
      // and the table-open path every query starts with.
      t.span("probe", q, i) {
        val df = t.span("ops", q, i)(bare(q)(spark, a.data))
        t.span("exec", "collect", i)(df.collect())
      }
      t.span("tables", "Tables.table", i)(Tables.table(spark, a.data, "events"))
      t.span("tables", "Tables.events", i)(Tables.events(spark, a.data))
      t.span("tables", "Tables.longTsIsNanos", i)(Tables.longTsIsNanos(spark, a.data))
    }
    Map("ops" -> TracedOps.toDouble)
  }

  def dump(): Unit = {
    reference.foreach { case (name, (_, rows, schema)) =>
      Workload.writeParquet(spark, rows.toSeq, schema, checkDir(s"dashboard/$name"))
    }
    Json.write(checkDir("dashboard/oracle_sql.json"),
      Json.obj(queries.map(q => q -> Json.str(SparkEntry.oracleSql(q))): _*))
  }
}

object Dashboard {
  /** Rounds of the query mix per warm-up pass. After one round, later
    * rounds still ran 15-25% faster than the first timed one, so a run
    * that fitted one more round read high. */
  val WarmCycles = 2
  /** Ops of the traced pass: two rounds of the mix. */
  val TracedOps = 12

  val queries: Seq[String] = Seq("q1_time_filter", "q2_hourly_avg", "q3_union_cube",
    "q4_join_aggs", "q_count_distinct", "q_window_count_distinct")

  /** The operators behind each registry entry, without its protocol sort. */
  val bare: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_time_filter" -> ReferenceQueries.q1TimeFilter,
    "q2_hourly_avg" -> ReferenceQueries.q2HourlyAvg,
    "q3_union_cube" -> ReferenceQueries.q3UnionCube,
    "q4_join_aggs" -> ReferenceQueries.q4JoinAggs,
    "q_count_distinct" -> Relational.countDistinctOp,
    "q_window_count_distinct" -> Relational.windowCountDistinct)
}

/** NGSI-LD stream ingest: each op lands one notification file as one
  * micro-batch through parseNotifications -> throttle -> startSink. */
final class Ingest(spark: SparkSession, a: Args) extends Workload(spark, a) {
  private val files = Option(new File(a.data, "notifications").listFiles()).toSeq.flatten
    .filter(_.getName.endsWith(".jsonl")).sortBy(_.getName)
  require(files.size > Ingest.WarmFiles, s"need more than ${Ingest.WarmFiles} notification files")

  private final class Stream(name: String, t: Tracer) {
    val base = new File(a.out, s"ingest/$name")
    val in = new File(base, "in")
    in.mkdirs()
    val sink = new File(base, "sink").getPath
    var fed = 0
    val query: StreamingQuery = {
      import spark.implicits._
      val kept = t.span("ops", "parseNotifications+throttle", -1) {
        val raw = spark.readStream.option("maxFilesPerTrigger", 1).text(in.getPath).toDF("json")
        StreamIngest.throttle(StreamIngest.parseNotifications(raw).as[SensorReading], a.gapMs).toDF()
      }
      t.span("streaming", "startSink", -1)(
        StreamIngest.startSink(kept, sink, new File(base, "ckpt").getPath))
    }
    def step(): Unit = {
      Io.copyIn(files(fed), in)
      Workload.await(query, fed, t)
      fed += 1
    }
    def landed(): Long = if (fed == 0) 0L else spark.read.parquet(sink).count()
    /** The sink as (entityid, room, sensor, event_ts µs, value) lines, for
      * the sequential model in check.py; the first line counts the files fed. */
    def dump(path: String): Unit = {
      val rows = spark.read.parquet(sink)
        .select(col("entityid"), col("room"), col("sensor"), expr("unix_micros(event_ts)"), col("value"))
        .collect().map(r => Seq(r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
          java.lang.Double.toString(r.getDouble(4))).mkString("\t"))
      new File(path).getParentFile.mkdirs()
      Json.writeLines(path, s"files\t$fed" +: rows.toSeq)
    }
  }

  private var main: Stream = _
  private var warmRows = 0L

  def warmUp(): Unit = {
    main = new Stream("main", Tracer.off)
    (0 until Ingest.WarmFiles).foreach(_ => main.step())
    warmRows = main.landed()
  }
  override def hasNext: Boolean = main.fed < files.size
  def op(t: Tracer, i: Int): Unit = main.step()
  // the whole sink is checked against the sequential model after the run
  def check(i: Int): Unit = ()
  override def rowsDone: Option[Long] = Some(main.landed() - warmRows)

  def traced(t: Tracer): Map[String, Double] = {
    // a fresh stream over the first files, so every traced run sees the
    // same batches
    val s = new Stream("traced", t)
    val n = math.min(Ingest.TracedFiles, files.size)
    for (i <- 0 until n) t.span("op", "batch", i)(s.step())
    s.query.recentProgress.filter(_.numInputRows > 0).foreach(t.batch)
    val attempts = t.span("probe", "parseNotifications", -1) {
      StreamIngest.parseNotifications(
        spark.read.text(files.take(n).map(_.getPath): _*).toDF("json")).count()
    }
    // the benchmark's own reads of the sink, under a span of their own so
    // no op is charged for their jobs
    val landed = t.span("check", "sink", -1) {
      s.dump(checkDir("ingest/traced.tsv"))
      s.landed()
    }
    val (storeFiles, storeBytes) = Io.dataFiles(new File(s.sink))
    s.query.stop()
    Map("ops" -> n.toDouble, "rows_out" -> landed.toDouble, "attempts" -> attempts.toDouble,
      "kept" -> landed.toDouble, "store_files" -> storeFiles.toDouble,
      "store_bytes" -> storeBytes.toDouble)
  }

  def dump(): Unit = main.dump(checkDir("ingest/main.tsv"))
  override def stop(): Unit = if (main != null) main.query.stop()
}

object Ingest {
  val WarmFiles = 3
  /** Micro-batches of the traced pass. */
  val TracedFiles = 12
}

/** Online near-duplicate filtering: each op is one micro-batch of
  * StreamDedup.streamingDedup; a pass feeds the four source waves of the
  * documents table into a fresh store. */
final class OnlineDedup(spark: SparkSession, a: Args) extends Workload(spark, a) {
  import OnlineDedup._
  private val waves = (0 until 4).map(w => new File(a.data, s"waves/wave$w.parquet"))

  private final class Pass(val name: String, t: Tracer) {
    val base = new File(a.out, s"dedup/$name")
    val in = new File(base, "in")
    in.mkdirs()
    val prefix = s"e2e_$name"
    val verdicts = new ConcurrentHashMap[Long, Array[Row]]()
    var fed = 0
    val query: StreamingQuery = t.span("streaming", "streamingDedup", -1) {
      val docs = spark.readStream.schema(InputSchema).option("maxFilesPerTrigger", 1)
        .parquet(in.getPath)
      StreamDedup.streamingDedup(docs, prefix, Some(new File(base, "ckpt").getPath)) {
        (v: DataFrame, id: Long) => verdicts.put(id, v.collect())
      }
    }
    def step(): Unit = {
      Io.copyIn(waves(fed), in)
      Workload.await(query, fed, t)
      fed += 1
    }
    def done: Boolean = fed == waves.size
    /** Wave `w`'s verdicts as (doc_id, source, kept, matched_old, wave), by doc_id. */
    def rows(w: Int): Seq[Row] = verdicts.get(w.toLong).toSeq.map { r =>
      val m = r.fieldIndex("matched_old")
      Row(r.getAs[Long]("doc_id"), r.getAs[String]("source"), r.getAs[Boolean]("kept"),
        if (r.isNullAt(m)) null else java.lang.Long.valueOf(r.getLong(m)), w)
    }.sortBy(_.getLong(0))
    def storeFiles: (Int, Long) = {
      val wh = new File(a.out, "warehouse")
      Seq("bands", "toks", "decisions").map(s => Io.dataFiles(new File(wh, s"${prefix}_$s".toLowerCase)))
        .foldLeft((0, 0L)) { case ((f, b), (f2, b2)) => (f + f2, b + b2) }
    }
  }

  private val passes = mutable.ArrayBuffer.empty[Pass]
  private var decided = 0L

  // Later waves probe a larger store and cost more, so the timed loop ends
  // on a whole pass: every run times the same mix of waves.
  override def cycle: Int = waves.size

  private def newPass(name: String, t: Tracer): Pass = {
    val p = new Pass(name, t)
    passes += p
    p
  }
  private def current: Pass = passes.last

  // One micro-batch on a throwaway store warms the code paths every batch runs.
  def warmUp(): Unit = {
    val p = newPass("warm", Tracer.off)
    p.step()
    p.query.stop()
  }

  override def prepare(): Unit = if (current.done || current.name == "warm") {
    current.query.stop()
    newPass(s"p${passes.size - 1}", Tracer.off)
  }

  def op(t: Tracer, i: Int): Unit = {
    current.step()
    decided += current.verdicts.get((current.fed - 1).toLong).length
  }

  // every pass's verdicts are checked against the DuckDB oracle by run.py
  def check(i: Int): Unit = ()
  override def rowsDone: Option[Long] = Some(decided)

  def traced(t: Tracer): Map[String, Double] = {
    current.query.stop()
    val p = newPass("traced", t)
    for (i <- waves.indices) t.span("op", s"wave$i", i)(p.step())
    p.query.recentProgress.filter(_.numInputRows > 0).foreach(t.batch)
    p.query.stop()
    val (storeFiles, storeBytes) = p.storeFiles
    val all = waves.indices.flatMap(p.rows)
    // Probe: band candidates and exact verification on the same corpus,
    // for the share of candidate pairs that verify.
    val docs = t.span("tables", "Tables.documents", -1)(Tables.documents(spark, a.data))
    val cands = Dedup.bandCandidates(docs).cache()
    val nCands = t.span("ext", "bandCandidates", -1)(cands.count())
    val nVerified = t.span("ext", "jaccardVerify", -1)(Dedup.jaccardVerify(docs, cands).count())
    cands.unpersist()
    Map("ops" -> waves.size.toDouble, "rows_out" -> all.size.toDouble,
      "attempts" -> all.size.toDouble, "kept" -> all.count(_.getBoolean(2)).toDouble,
      "store_files" -> storeFiles.toDouble, "store_bytes" -> storeBytes.toDouble,
      "candidates" -> nCands.toDouble, "verified" -> nVerified.toDouble)
  }

  def dump(): Unit = {
    val rows = passes.toSeq.flatMap(p => (0 until p.fed).flatMap(p.rows).map(r => Row.fromSeq(p.name +: r.toSeq)))
    Workload.writeParquet(spark, rows, StructType(StructField("pass", StringType) +: VerdictSchema.fields),
      checkDir("dedup/verdicts"))
    Json.write(checkDir("dedup/passes.json"), Json.obj(passes.toSeq.map(p => p.name -> p.fed.toString): _*))
    Json.write(checkDir("dedup/oracle_sql.json"),
      Json.obj("d_dedup_streamed" -> Json.str(SparkEntry.oracleSql("d_dedup_streamed"))))
  }

  override def stop(): Unit = passes.foreach(_.query.stop())
}

object OnlineDedup {
  val InputSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType),
    StructField("text", StringType)))
  val VerdictSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType),
    StructField("kept", BooleanType), StructField("matched_old", LongType),
    StructField("wave", IntegerType)))
}
