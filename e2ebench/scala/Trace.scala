package graft.e2ebench

import java.lang.management.ManagementFactory
import java.util.{Properties, UUID}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval on the epoch-nanosecond clock. Benchmark spans wrap
  * a call into one layer's public function and name their parent span
  * (-1 for a root). Derived spans (Spark jobs, Catalyst phases, streaming
  * triggers) come from Spark's own listeners and progress reports and
  * carry their counters in `attrs`. Jobs and triggers name their parent
  * from the properties Spark tags them with; Catalyst phases have parent
  * -2 and are placed by time by the reader (layers.py). */
final case class Span(id: Int, parent: Int, layer: String, name: String, op: Int,
    start: Long, end: Long, attrs: Map[String, Double] = Map.empty, detail: String = "")

/** Span recorder. Spans stay in memory until [[Tracer.write]]. A tracer
  * without a SparkContext is disabled and runs each body with no
  * bookkeeping. Benchmark spans open and close on the client thread and
  * tag every job that thread starts with their id (a local property, as a
  * job group does); derived spans may arrive from Spark's listener thread,
  * so appends synchronize. */
final class Tracer(sc: Option[SparkContext]) {
  val enabled: Boolean = sc.isDefined
  private val origin = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = origin + System.nanoTime()

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0
  // (query id, batch id) of a trigger -> the span that waited for it, and
  // -> the trigger's own span
  private val awaitedBy = mutable.Map.empty[(String, Long), Int]
  private val triggers = mutable.Map.empty[(String, Long), Int]

  def span[T](layer: String, name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId - 1 }
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val ctx = sc.get
      val outer = ctx.getLocalProperty(Tracer.SpanKey)
      ctx.setLocalProperty(Tracer.SpanKey, id.toString)
      val start = now()
      try body
      finally {
        val end = now()
        ctx.setLocalProperty(Tracer.SpanKey, outer)
        synchronized { spans += Span(id, parent, layer, name, op, start, end) }
        open = open.tail
      }
    }

  /** The open span waits for trigger `batchId` of stream `queryId`: that
    * trigger, and the jobs it runs on the stream's thread, are its children. */
  def awaits(queryId: UUID, batchId: Long): Unit =
    if (enabled) synchronized { awaitedBy((queryId.toString, batchId)) = open.headOption.getOrElse(-1) }

  def derived(layer: String, name: String, parent: Int, start: Long, end: Long,
      attrs: Map[String, Double], detail: String = ""): Int = synchronized {
    spans += Span(nextId, parent, layer, name, -1, start, end, attrs, detail)
    nextId += 1
    nextId - 1
  }

  /** One streaming trigger as a span under the span that awaited it: its
    * start is the progress timestamp, its length the trigger's execution time. */
  def batch(p: StreamingQueryProgress): Unit = synchronized {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
    val state = p.stateOperators.toSeq
    val key = (p.id.toString, p.batchId)
    triggers(key) = derived("streaming", "batch", awaitedBy.getOrElse(key, -1), start,
      start + (d.getOrElse("triggerExecution", 0.0) * 1e6).toLong,
      d.map { case (k, v) => s"ms.$k" -> v } ++ Map(
        "rows_in" -> p.numInputRows.toDouble,
        "state_rows" -> state.map(_.numRowsTotal).sum.toDouble,
        "state_bytes" -> state.map(_.memoryUsedBytes).sum.toDouble),
      s"${p.id}/${p.batchId}")
  }

  /** The span a job belongs to, from the local properties it started with:
    * a stream's job belongs to its trigger (Spark tags it with the query and
    * batch id), any other job to the benchmark span that was open on the
    * thread that started it. -1 when neither applies, e.g. a stream job run
    * outside a trigger, or a trigger no traced op waited for. */
  def jobParent(props: Properties): Int = synchronized {
    def prop(k: String) = Option(props).flatMap(p => Option(p.getProperty(k)))
    prop(Tracer.QueryIdKey) match {
      case Some(q) => prop(Tracer.BatchIdKey).flatMap(b => triggers.get((q, b.toLong))).getOrElse(-1)
      case None => prop(Tracer.SpanKey).map(_.toInt).getOrElse(-1)
    }
  }

  def write(path: String): Unit = synchronized {
    def attrs(a: Map[String, Double]) =
      a.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":${Json.str(s.layer)},""" +
        s""""name":${Json.str(s.name)},"op":${s.op},"start":${s.start},"end":${s.end},""" +
        s""""attrs":${attrs(s.attrs)},"detail":${Json.str(s.detail)}}"""
    }
    Json.writeLines(path, lines.toSeq)
  }
}

object Tracer {
  val off = new Tracer(None)
  /** Local property naming the benchmark span a job was started in. */
  val SpanKey = "e2ebench.span"
  // set by Spark's MicroBatchExecution on the stream thread
  val QueryIdKey = "sql.streaming.queryId"
  val BatchIdKey = "streaming.sql.batchId"
}

/** Records every Spark job with the local properties it started with, for
  * [[Tracer.jobParent]] to attribute, and sums what its tasks report. */
final class ExecListener(tracer: Tracer) extends SparkListener {
  private final class Job(val start: Long, val callSite: String, val props: Properties) {
    var end = 0L
    val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmitted = mutable.Map.empty[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // Spark's call site, and the innermost engine frame that started the job
    val engineFrame = e.stageInfos.flatMap(_.details.linesIterator)
      .find(l => l.contains("graft.") && !l.contains("graft.e2ebench")).map(_.trim)
    val callSite = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
    // the plan operators of the job's final stage, since a stream thread's
    // jobs all share the call site of the stream's start
    val last = e.stageInfos.sortBy(_.stageId).lastOption
    val operators = last.map(_.rddInfos.flatMap(_.scope.map(_.name)).distinct.mkString("[", ", ", "]"))
    val site = (callSite ++ engineFrame ++ operators).mkString(" / ")
    jobs(e.jobId) = new Job(e.time * 1000000L, site, e.properties)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time * 1000000L
      if (e.jobResult != JobSucceeded) j.sums("failed_jobs") += 1
    }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    stageSubmitted(info.stageId) = info.submissionTime.getOrElse(System.currentTimeMillis())
    stageJob.get(info.stageId).flatMap(jobs.get).foreach(_.sums("stages") += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      val s = j.sums
      s("tasks") += 1
      s("sched_wait_ms") += math.max(0L,
        e.taskInfo.launchTime - stageSubmitted.getOrElse(e.stageId, e.taskInfo.launchTime))
      Option(e.taskMetrics).foreach { m =>
        s("run_ms") += m.executorRunTime
        s("cpu_ns") += m.executorCpuTime
        s("deser_ms") += m.executorDeserializeTime
        s("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        s("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        s("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
        s("input_bytes") += m.inputMetrics.bytesRead
        s("output_bytes") += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Emit every finished job as a derived `exec` span. Call after the
    * listener bus has drained and every trigger span is recorded. */
  def flush(): Unit = synchronized {
    jobs.values.filter(_.end > 0).foreach { j =>
      tracer.derived("exec", "job", tracer.jobParent(j.props), j.start, j.end,
        j.sums.toMap + ("jobs" -> 1.0), j.callSite)
    }
    jobs.clear()
  }
}

/** Catalyst phase timings (analysis, optimization, planning) of every
  * query action, read from its `QueryPlanningTracker`. */
final class PlanListener(tracer: Tracer) extends QueryExecutionListener {
  private val seen = mutable.Set.empty[(Int, String)]
  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, p) =>
      if (seen.add((System.identityHashCode(qe), phase)))
        tracer.derived("catalyst", phase, -2, p.startTimeMs * 1000000L,
          p.endTimeMs * 1000000L, Map.empty)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** JVM-wide collector time and heap peak over an interval. */
final class JvmWindow {
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  heapPools.foreach(_.resetPeakUsage())
  private val gc0 = gcMs

  def gcSeconds: Double = (gcMs - gc0) / 1000.0
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
