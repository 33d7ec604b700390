package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** ScaleUpBench's artifact layout and env-var validation, without a
  * Spark job: every probe's section, formatted from fixed synthetic
  * measurements, carries the keys of that probe's latest section in the
  * committed BENCH_SCALEUP.json in the same order, and the probe-name
  * parsers refuse what they would otherwise drop. */
class ScaleUpBenchSpec extends AnyFunSuite {
  import ScaleUpBench._

  private val mapper = new ObjectMapper()
  private val committed: Seq[JsonNode] = {
    val src = scala.io.Source.fromFile("BENCH_SCALEUP.json", "UTF-8")
    try src.getLines().filter(_.trim.nonEmpty).map(mapper.readTree).toList
    finally src.close()
  }

  private val timings: M = Map("build_sec" -> 2.0, "serve_sec" -> 1.0)
  private val dedup: M = timings ++ Map("kept" -> 125L, "dropped" -> 125L)
  private val samples: Map[String, M] = Map(
    "e_ann_serve" -> (timings + ("shape" -> Seq("Project", "BroadcastHashJoin"))),
    "d_dedup_serve" -> dedup,
    "d_dedup_serve_pruned" -> dedup,
    "d_mix_serve" -> (timings ++ Map("changes" -> 267, "flips" -> 17L,
      "mass_flip_sec" -> 0.5, "mass_flips" -> 550L)),
    "d_dedup_serve_full" -> (dedup + ("replay" -> true)),
    "d_mix_tokens_serve" -> (timings ++ Map("changes" -> 250, "flips" -> 0L)),
    "e_ann_add" -> Map("build_sec" -> 2.0, "add_sec" -> 1.0, "replay" -> true),
    "d_dsir_serve" -> (timings ++ Map("changes" -> 250, "evictions" -> 0L,
      "storm_sec" -> 0.5, "storm_evictions" -> 100L)),
    "d_drift_serve" -> (timings + ("rows" -> 20)),
    "d_dedup_bucketed_guard" -> Map("exchanges" -> 0, "smj" -> true),
    "d_dsir_buckets" -> bucketsMeasured(
      Seq((512, 1.5, 3L, 1L), (8192, 2.5, 4L, 2L), (65536, 3.5, 5L, 3L))),
    "d_dsir_storm_cal" -> Map("b" -> 512, "rep" -> 16, "storm_sec" -> 0.5,
      "evictions" -> 100L, "build_sec" -> 2.0))

  /** Field names in order, nested objects as `name.child`. */
  private def keys(n: JsonNode, at: String = ""): Seq[String] =
    n.properties().asScala.toSeq.flatMap { e =>
      val k = at + e.getKey
      k +: (if (e.getValue.isObject) keys(e.getValue, k + ".") else Nil)
    }

  /** The latest committed line carrying `section`. */
  private def latest(section: String): JsonNode =
    committed.filter(_.has(section)).lastOption
      .getOrElse(fail(s"BENCH_SCALEUP.json has no $section section"))

  private def parsed(sectionJson: String): JsonNode =
    mapper.readTree("{" + sectionJson.stripPrefix(",") + "}")

  test("every probe's section has the committed keys in the committed order") {
    assert(samples.keySet == probes.map(_.name).toSet)
    probes.foreach { p =>
      val line = latest(p.section)
      val k = line.get("factor").asInt
      val got = parsed(section(p, k, samples(p.name), samples(p.name))).get(p.section)
      assert(keys(got) == keys(line.get(p.section)), s"${p.name} @ x$k")
    }
  }

  test("the layout probe's section has the committed keys in the committed order") {
    val line = latest("layout_probe")
    val k = line.get("factor").asInt
    val got = parsed(layoutSection(k, Seq("q1_time_filter" -> 1.0), 4)).get("layout_probe")
    assert(keys(got) == keys(line.get("layout_probe")))
  }

  test("committed lines carry their sections in the probe table's order") {
    val order = "layout_probe" +: probes.map(_.section)
    committed.foreach { line =>
      val sections = line.properties().asScala.toSeq.map(_.getKey).dropWhile(_ != "plan_same").drop(1)
      assert(sections.forall(order.contains), sections)
      assert(sections == order.filter(sections.contains), sections)
    }
  }

  test("a derived ratio is -1 when the x1 side is not positive, and booleans compare both sides") {
    val full = probes.find(_.name == "d_dedup_serve_full").get
    val x1 = samples(full.name) + ("build_sec" -> 0.0)
    val xk = samples(full.name) ++ Map("kept" -> 124L, "replay" -> false)
    val got = parsed(section(full, 2, x1, xk)).get(full.section)
    assert(got.get("build_ratio").asDouble == -1.0)
    assert(got.get("serve_ratio").asDouble == 1.0)
    assert(got.get("kept").asLong == 125L)
    assert(!got.get("verdicts_same").asBoolean)
    assert(!got.get("replay_same").asBoolean)
  }

  test("plan shapes match modulo a Sort dropped over a result of at most one row") {
    // the q1 shapes at sf0.001: x1 returns one row and AQE's
    // OptimizeOneRowPlan drops its protocol Sort, x2 returns two
    val x1 = Seq("AdaptiveSparkPlan", "ResultQueryStage", "ShuffleQueryStage", "Exchange",
      "Project", "Filter", "ColumnarToRow", "FileScan")
    val x2 = x1.patch(2, Seq("Sort"), 0)
    assert(sameShape(x1, 1, x2, 2) && sameShape(x2, 2, x1, 1))
    assert(sameShape(x1, 0, x2, 5))
    assert(!sameShape(x1, 2, x2, 2), "a Sort missing over two rows is a real change")
    assert(!sameShape(x1, 1, x2.patch(2, Seq("Sort"), 0), 2), "only one Sort may go")
    assert(!sameShape(x1, 1, x2.updated(4, "BroadcastExchange"), 2), "the rest must still match")
    // the build-side flip the multiset rule admits, and an empty shape
    val q4 = Seq("BroadcastHashJoin", "HashAggregate", "BroadcastExchange", "HashAggregate")
    assert(sameShape(q4, 24, Seq("BroadcastHashJoin", "BroadcastExchange", "HashAggregate",
      "HashAggregate"), 24))
    assert(!sameShape(Nil, 0, Nil, 0))
  }

  test("SPARK_GRAFT_SCALEUP_QUERIES refuses an unknown name and accepts every query and probe") {
    val all = SparkEntry.queries.keys.toSeq.sorted ++ probes.map(_.name)
    assert(parseQueries(Some(all.mkString(" , "))) == all)
    assert(parseQueries(None).forall(SparkEntry.queries.contains))
    val e = intercept[IllegalArgumentException](
      parseQueries(Some("q1_time_filter,d_mix_srve")))
    assert(e.getMessage.contains("d_mix_srve"))
    intercept[IllegalArgumentException](parseQueries(Some(" , ")))
  }

  test("the layout probe takes only 0 or 1 and only swept query names") {
    val sweep = Seq("q1_time_filter", "q4_join_aggs")
    assert(parseLayout(None, Some("bogus"), sweep).isEmpty)
    assert(parseLayout(Some("0"), None, sweep).isEmpty)
    assert(parseLayout(Some("1"), None, sweep) == Seq("q1_time_filter"))
    assert(parseLayout(Some("1"), None, Seq("q4_join_aggs")).isEmpty)
    assert(parseLayout(Some("1"), Some("q4_join_aggs"), sweep) == Seq("q4_join_aggs"))
    val unswept = intercept[IllegalArgumentException](
      parseLayout(Some("1"), Some("q4_join_aggs,q2_hourly_avg"), sweep))
    assert(unswept.getMessage.contains("q2_hourly_avg"))
    val flag = intercept[IllegalArgumentException](parseLayout(Some("yes"), None, sweep))
    assert(flag.getMessage.contains("yes"))
  }
}
