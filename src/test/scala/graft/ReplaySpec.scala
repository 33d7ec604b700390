package graft

import graft.ingest.CsvBatchIngest
import org.apache.spark.sql.functions._

/** Reference-replay fixture (SURVEY.md §5): the reference's own 18 CSVs
  * go through the batch ingest path, then the four hive.py query SHAPES
  * run against the canonical room-partitioned table. One aggregate is
  * cross-checked against an independent plain-Scala computation over the
  * raw file, tying the whole path (parse → canonicalize → query) to
  * ground truth without DuckDB.
  */
class ReplaySpec extends SparkSpec {
  lazy val table: String = {
    val out = java.nio.file.Files.createTempDirectory("graft_replay").toString
    CsvBatchIngest.ingest(spark, measurements, out)
    out
  }

  test("Q1 shape: time-window filter on the ingested table") {
    assumeMeasurements()
    val t = spark.read.parquet(table)
    val asOf = t.agg(max("ts").as("max_ts"))
    val lastDay = t.join(broadcast(asOf))
      .filter(col("ts") >= col("max_ts") - expr("INTERVAL 24 HOURS"))
      .select("temperature", "ts")
    assert(lastDay.count() > 0)
  }

  test("Q2 shape: hourly temperature average matches independent computation") {
    assumeMeasurements()
    // independent ground truth: plain-Scala aggregation of the raw file
    val lines = scala.io.Source.fromFile(s"$measurements/Kitchen_Temperature.csv")
      .getLines().toSeq
    val parsed = lines.flatMap { l =>
      l.split("\t") match {
        case Array(ts, v) =>
          try Some((ts.trim.toLong, v.trim.toDouble)) catch { case _: Throwable => None }
        case _ => None
      }
    }
    val byHour = parsed.groupBy { case (ts, _) => ((ts % 86400) / 3600).toInt }
      .map { case (h, vs) => h -> vs.map(_._2).sum / vs.size }
    val got = spark.read.parquet(table)
      .filter(col("room") === "Kitchen" && col("temperature").isNotNull)
      .groupBy(hour(col("ts")).as("h"))
      .agg(avg("temperature").as("a"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(got.keySet == byHour.keySet)
    got.foreach { case (h, a) => assert(math.abs(a - byHour(h)) < 1e-9,
      s"hour $h: $a vs ${byHour(h)}") }
  }

  test("Q3 shape: cube over room and hour has consistent totals") {
    assumeMeasurements()
    val cube = spark.read.parquet(table)
      .cube(col("room"), hour(col("ts")).as("h"))
      .agg(count(lit(1)).as("n")).cache()
    val grand = cube.filter(col("room").isNull && col("h").isNull)
      .collect()(0).getLong(2)
    assert(grand == spark.read.parquet(table).count())
    val perRoom = cube.filter(col("room").isNotNull && col("h").isNull)
      .agg(sum("n")).collect()(0).getLong(0)
    assert(perRoom == grand)
    cube.unpersist()
  }

  test("Q4 shape: join of per-room hourly aggregates") {
    assumeMeasurements()
    val t = spark.read.parquet(table)
    def hourly(room: String) = t
      .filter(col("room") === room && col("temperature").isNotNull)
      .groupBy(hour(col("ts")).as("h"))
      .agg(avg("temperature").as(s"avg_$room"))
    val joined = hourly("Kitchen").join(hourly("Bathroom"), Seq("h"), "inner")
    assert(joined.count() == 24) // both rooms report in every hour bucket
  }
}
