package graft

import graft.ingest.CsvBatchIngest
import org.apache.spark.sql.functions._

/** Ingest-fidelity tests replaying the reference's own dataset
  * (`/root/reference/Measurements/`, read-only — FIXTURES.md §A). */
class IngestSpec extends SparkSpec {
  test("reads all 18 room/sensor files with filename-derived identity") {
    assumeMeasurements()
    val raw = CsvBatchIngest.readRaw(spark, measurements).cache()
    val rooms = raw.select("room").distinct().collect().map(_.getString(0)).toSet
    assert(rooms == Set("Room1", "Room2", "Room3", "Kitchen", "Bathroom", "Toilet"))
    val sensors = raw.select("sensor").distinct().collect().map(_.getString(0)).toSet
    assert(sensors == Set("temperature", "humidity", "brightness"))
    assert(raw.count() > 150000) // ~186k valid rows
    assert(raw.filter(col("ts").isNull || col("value").isNull).count() == 0)
    raw.unpersist()
  }

  test("event timestamps are preserved (2017 range, not ingest time)") {
    assumeMeasurements()
    val raw = CsvBatchIngest.readRaw(spark, measurements)
    val r = raw.agg(min("ts").cast("date").cast("string"),
      max("ts").cast("date").cast("string")).collect()(0)
    assert(r.getString(0).startsWith("2017-03"))
    assert(r.getString(1).startsWith("2017-06"))
  }

  test("canonical form is sparse: exactly one sensor column per row") {
    assumeMeasurements()
    val canon = CsvBatchIngest.toCanonical(CsvBatchIngest.readRaw(spark, measurements))
    val bad = canon.filter(
      (col("temperature").isNotNull.cast("int") +
        col("humidity").isNotNull.cast("int") +
        col("brightness").isNotNull.cast("int")) =!= 1).count()
    assert(bad == 0)
  }

  test("seeded sampling is deterministic across runs") {
    assumeMeasurements()
    val raw = CsvBatchIngest.readRaw(spark, measurements)
    val a = raw.sample(withReplacement = false, 0.5, 42).count()
    val b = raw.sample(withReplacement = false, 0.5, 42).count()
    assert(a == b)
  }

  test("resetTable is idempotent and registerExternal overlays in place") {
    import graft.sources.TableOps
    val df = Tables.nation(spark, sf001)
    TableOps.resetTable(spark, "nation_t", df)
    TableOps.resetTable(spark, "nation_t", df) // second reset must not fail
    assert(spark.table("nation_t").count() == df.count())
    val out = java.nio.file.Files.createTempDirectory("graft_ext_tbl").toString
    df.write.mode("overwrite").parquet(out)
    TableOps.registerExternal(spark, "nation_ext", out)
    assert(spark.table("nation_ext").count() == df.count())
    assert(TableOps.versionInfo(spark).exists(_._1 == "spark.version"))
    spark.sql("DROP TABLE IF EXISTS nation_t")
    spark.sql("DROP TABLE IF EXISTS nation_ext")
  }

  test("ingest writes a room-partitioned table readable back") {
    assumeMeasurements()
    val out = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    CsvBatchIngest.ingest(spark, measurements, out, fraction = 0.1)
    val back = spark.read.parquet(out)
    assert(back.columns.toSet ==
      Set("entityid", "temperature", "humidity", "brightness", "ts", "room"))
    assert(back.select("room").distinct().count() == 6)
    // humidity came out as INT per the reference Hive schema
    assert(back.schema("humidity").dataType.typeName == "integer")
    // the point of partitionBy(room): a per-room predicate must prune
    // directories at planning time, not scan-and-filter
    val someRoom = back.select("room").head().getString(0)
    val oneRoom = back.filter(col("room") === someRoom)
    val plan = oneRoom.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(room"),
      s"room predicate did not become a partition filter:\n$plan")
    assert(oneRoom.count() > 0)
  }
}
