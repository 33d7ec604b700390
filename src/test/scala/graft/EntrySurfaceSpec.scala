package graft

import graft.ops.ReferenceQueries
import org.apache.spark.sql.types.TimestampType

/** Entry-point surfaces: the registry map's identity, GraftSession's
  * core-count parse, and Q1 on every `events.ts` footer generation
  * Tables.events supports. */
class EntrySurfaceSpec extends SparkSpec {

  test("SparkEntry.queries is one map: every read sees the same closures and memos") {
    assert(SparkEntry.queries eq SparkEntry.queries)
    assert(SparkEntry.queries("q1_time_filter") eq SparkEntry.queries("q1_time_filter"))
  }

  test("SPARK_GRAFT_CPUS parses when read and refuses a non-numeric or non-positive value") {
    assert(GraftSession.parseCpus(None, 32) == 32)
    assert(GraftSession.parseCpus(Some(" 8 "), 32) == 8)
    intercept[NumberFormatException](GraftSession.parseCpus(Some("eight"), 32))
    intercept[IllegalArgumentException](GraftSession.parseCpus(Some("0"), 32))
  }

  test("q1 on a UTC-adjusted TIMESTAMP_MICROS ts footer returns the reference rows") {
    val dir = java.nio.file.Files.createTempDirectory("q1_utc").toString
    val key = "spark.sql.parquet.outputTimestampType"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try Tables.events(spark, sf001).write.parquet(s"$dir/events.parquet")
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(Tables.eventsRaw(spark, dir).schema("ts").dataType == TimestampType,
      "the copy's footer is not the UTC-adjusted generation")
    def rows(sfDir: String) = ReferenceQueries.q1TimeFilter(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    val want = rows(sf001)
    assert(want.nonEmpty)
    assert(rows(dir) == want)
  }
}
