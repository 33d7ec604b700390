package graft.e2ebench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.E2eBenchListenerBus
import org.apache.spark.sql.SparkSession

/** Command-line arguments, each parsed and range-checked when read. */
final case class Args(workload: String, data: String, out: String, seconds: Int,
    trace: Boolean, cpus: Int, gapMs: Long)

object Args {
  private val known = Set("--workload", "--data", "--out", "--seconds", "--trace",
    "--cpus", "--gap-ms")

  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, "arguments come as --name value pairs")
    val m = argv.grouped(2).map(p => p(0) -> p(1)).toMap
    (m.keySet -- known).foreach(k => throw new IllegalArgumentException(s"unknown argument $k"))
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    def int(k: String, lo: Int, hi: Int = Int.MaxValue) =
      get(k).toIntOption.filter(v => v >= lo && v <= hi).getOrElse(throw
        new IllegalArgumentException(s"$k must be an integer in [$lo, $hi], got '${get(k)}'"))
    val workload = get("--workload")
    require(Workload.names.contains(workload), s"unknown workload '$workload'")
    Args(workload, get("--data"), get("--out"), int("--seconds", 1),
      int("--trace", 0, 1) == 1, int("--cpus", 1), int("--gap-ms", 1).toLong)
  }
}

/** The benchmark's JVM side: builds the session, runs one workload's
  * set-up, timed closed loop and optional traced pass, and writes raw
  * samples, reference outputs and spans for `run.py` to check and
  * summarise.
  *
  * Usage: Harness --workload W --data DIR --out DIR --seconds S --trace 0|1
  *   --cpus N --gap-ms G
  */
object Harness {
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("e2ebench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(a.out, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(a.out, "local").getAbsolutePath)
      // `Workload.await` looks a trigger up by batch id in recentProgress
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.Bench.quietBenignAccumulatorRace()
    s
  }

  /** Peak resident set size of this JVM, from the kernel's high-water mark. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = try Args.parse(argv) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"e2ebench: ${e.getMessage}")
        sys.exit(2)
    }
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    new File(a.out, "check").mkdirs()
    val failures = mutable.ArrayBuffer.empty[String]
    def fail(phase: String, op: Int, e: Throwable): Unit = failures += Json.obj(
      "workload" -> Json.str(a.workload), "phase" -> Json.str(phase), "op" -> op.toString,
      "error" -> Json.str(e.getClass.getName), "message" -> Json.str(String.valueOf(e.getMessage)))

    // Set-up: session build plus warm-up pass, timed from JVM start.
    val w = Workload(session(a), a)
    w.warmUp()
    val setupS = (System.currentTimeMillis - jvmStartMs) / 1000.0

    // Timed closed loop: one client thread, next op when the last ends.
    // Output checks run between ops and are excluded from wall time. A
    // broken engine fails fast, so the loop gives up after 20 failed ops
    // rather than spin through the whole window.
    val lat = mutable.ArrayBuffer.empty[Double]
    var failed = 0
    var checkNs = 0L
    val t0 = System.nanoTime
    def elapsedNs = System.nanoTime - t0 - checkNs
    while ((elapsedNs < a.seconds * 1000000000L || lat.size % w.cycle != 0) &&
        w.hasNext && failed < 20) {
      val i = lat.size
      try {
        w.prepare()
        val s = System.nanoTime
        w.op(Tracer.off, i)
        lat += (System.nanoTime - s) / 1e9
        val c = System.nanoTime
        w.check(i)
        checkNs += System.nanoTime - c
      } catch {
        case NonFatal(e) =>
          failed += 1
          lat += Double.PositiveInfinity
          fail("timed", i, e)
      }
    }
    val wallS = elapsedNs / 1e9
    val rows = w.rowsDone
    val rss = peakRssMb()

    // With --trace 1: the traced pass, a fixed amount of work.
    val facts: Map[String, Double] =
      if (!a.trace) Map.empty
      else {
        val spark = w.spark
        val t = new Tracer(Some(spark.sparkContext))
        val exec = new ExecListener(t)
        val plans = new PlanListener(t)
        spark.sparkContext.addSparkListener(exec)
        spark.listenerManager.register(plans)
        val jvm = new JvmWindow
        val f = try w.traced(t) catch {
          case NonFatal(e) => fail("traced", -1, e); Map.empty[String, Double]
        }
        val jvmFacts = Map("gc_s" -> jvm.gcSeconds, "heap_peak_mb" -> jvm.heapPeakMb)
        E2eBenchListenerBus.drain(spark.sparkContext)
        spark.listenerManager.unregister(plans)
        spark.sparkContext.removeSparkListener(exec)
        exec.flush()
        t.write(new File(a.out, "trace.jsonl").getPath)
        f ++ jvmFacts
      }

    try w.dump() catch { case NonFatal(e) => fail("dump", -1, e) }
    w.stop()
    Json.writeLines(new File(a.out, "failures.jsonl").getPath, failures.toSeq)
    Json.write(new File(a.out, "result.json").getPath, Json.obj(
      "setup_s" -> Json.num(setupS),
      "lat_s" -> Json.arr(lat.map(Json.num)),
      "failed" -> failed.toString,
      // failures outside the timed loop: set-up is fatal, these are not
      "errors" -> (failures.size - failed).toString,
      "wall_s" -> Json.num(wallS),
      "rows" -> rows.fold("null")(_.toString),
      "peak_rss_mb" -> Json.num(rss),
      "mismatches" -> Json.arr(w.mismatches.map(Json.str)),
      "facts" -> Json.obj(facts.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*)))
    w.spark.stop()
  }
}

object Io {
  /** Make `src` appear in `dir` atomically, as a stream source expects:
    * copy under a hidden name, then rename. */
  def copyIn(src: File, dir: File): Unit = {
    val tmp = new File(dir, s".${src.getName}.tmp").toPath
    Files.copy(src.toPath, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, new File(dir, src.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Data files and bytes under `dir`, skipping Spark's hidden metadata. */
  def dataFiles(dir: File): (Int, Long) = {
    def walk(f: File): Seq[File] =
      if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
      else if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    val files = Option(dir.listFiles()).toSeq.flatten.flatMap(walk)
    (files.size, files.map(_.length).sum)
  }
}
