package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's four benchmark queries (`/root/reference/hive.py:49-99`),
  * re-expressed Spark-first over the `events` table (FIXTURES.md §B maps the
  * six per-room sensor tables onto `events`: `event_type` ↔ room tag,
  * `value` ↔ sensor reading, `ts` ↔ ts).
  *
  * Determinism notes (SURVEY.md §7.4):
  *   - the reference's `unix_timestamp()` "now" (hive.py:53) is pinned to
  *     `max(ts)` of the table so the DuckDB oracle sees the same window;
  *   - queries return unsorted results; `SparkEntry` appends the explicit
  *     output orderBy the oracle protocol needs;
  *   - floating aggregates are rounded to 4 decimals on BOTH sides so that
  *     Spark's partial-aggregation summation order vs DuckDB's sequential
  *     order cannot flip the hash compare.
  *
  * Scale notes: the pinned "now" is a driver-side scalar collect of a
  * single-column max, after which the window predicate is a literal that
  * pushes into the parquet scan (row-group pruning). The hourly
  * aggregations are partial (map-side) + final hash aggregates; CUBE
  * expands 4 grouping sets in a single pass (`Expand`); the Q4 join is a
  * broadcast-hash join of two ≤24-row aggregated sides.
  */
object ReferenceQueries {

  /** Q1 — time-window filter + projection (hive.py:50-54).
    * Reference shape: SELECT temperature, ts FROM kitchen_data WHERE
    * unix_timestamp(ts) >= unix_timestamp() - 3600.
    * Filter is a plain comparison on `ts` (no function wrapping the column)
    * so it is pushed into the parquet scan as a min/max-prunable predicate.
    */
  def q1TimeFilter(spark: SparkSession, sfDir: String): DataFrame = {
    // Pin "now" by collecting the 1-row max to the driver and filtering
    // with a LITERAL bound on the RAW scan column, so the predicate
    // reaches the parquet scan (PushedFilters + row-group min/max pruning
    // — see PLANS.md). A broadcast-join formulation can't push (runtime
    // column bound), and neither can a filter on a converted column
    // (derived expression). The raw column's type is generation-dependent
    // (long nanos vs TIMESTAMP_NTZ — Tables.events): both branches filter
    // the native type, then normalize to the µs/UTC TimestampType the
    // oracle compares against.
    val raw = Tables.eventsRaw(spark, sfDir)
    val filtered = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // the raw long's UNIT comes from the same footer decision
        // Tables.events makes (ns-annotated vs plain-INT64-µs
        // generations — longTsIsNanos), never assumed: hard-coding ns
        // here mis-scaled the window 1000× against a µs generation
        // while every other events query adapted. µs-domain window
        // `floor(r/scale) ≥ b` is exactly `r ≥ scale·b`, so the
        // literal bound matches the oracle bit-for-bit.
        val scale = if (Tables.longTsIsNanos(spark, sfDir)) 1000L else 1L
        val maxRaw = raw.agg(max(col("ts"))).collect()(0).getLong(0)
        val boundRaw = (maxRaw / scale - 3600L * 1000000L) * scale
        raw.filter(col("ts") >= lit(boundRaw))
          .withColumn("ts", timestamp_micros(expr(s"ts div $scale")))
      case org.apache.spark.sql.types.TimestampType =>
        // UTC-adjusted footer (Spark's own TIMESTAMP_MICROS write): the
        // max collects as java.sql.Timestamp (java.time.Instant under
        // the java8 datetime API); both keep the footer's µs, and
        // Instant.minus is exact, so the literal bound is the oracle's
        val maxTs = raw.agg(max(col("ts"))).collect()(0).get(0) match {
          case t: java.sql.Timestamp => t.toInstant
          case i: java.time.Instant => i
        }
        raw.filter(col("ts") >= lit(maxTs.minus(1L, java.time.temporal.ChronoUnit.HOURS)))
      case _ =>
        // LocalDateTime keeps the footer's full µs precision (a
        // java.sql.Timestamp round-trip through getTime would floor to
        // ms); minusHours is exact, so the NTZ literal bound is the
        // same µs value the oracle's `max(ts) - INTERVAL 1 HOUR` pins.
        val maxTs = raw.agg(max(col("ts"))).collect()(0)
          .getAs[java.time.LocalDateTime](0)
        raw.filter(col("ts") >= lit(maxTs.minusHours(1)))
          .withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
    filtered.select(col("event_id"), col("ts"), col("value"))
  }

  val q1Sql: String =
    """SELECT event_id, ts, value FROM events
      |WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
      |ORDER BY event_id""".stripMargin

  /** Q2 — group-by-hour average + sort (hive.py:55-60). */
  def q2HourlyAvg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(hour(col("ts")).as("hour_bucket"))
      .agg(Num.r4(avg(col("value"))).as("avg_value"))

  val q2Sql: String =
    """SELECT hour(ts) AS hour_bucket, round(avg(value) + 1e-9, 4) AS avg_value
      |FROM events GROUP BY hour(ts) ORDER BY hour_bucket""".stripMargin

  /** Q3 — union of tagged per-room scans + GROUP BY CUBE (hive.py:61-83).
    * The reference unions six physical tables; here the rooms are values of
    * `event_type` in ONE table, so the 6-way UNION ALL collapses into a
    * single scan (SURVEY.md §1.3) and `cube` produces the same 4 grouping
    * sets (type×hour, type, hour, grand total) in one Expand pass.
    */
  def q3UnionCube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type").as("room"), hour(col("ts")).as("hour_bucket"), col("value"))
      .cube(col("room"), col("hour_bucket"))
      .agg(
        Num.r4(avg(col("value"))).as("avg_value"),
        round(min(col("value")), 4).as("min_value"),
        round(max(col("value")), 4).as("max_value"),
        count(lit(1)).as("count_readings"))

  val q3Sql: String =
    """SELECT event_type AS room, hour(ts) AS hour_bucket,
      |       round(avg(value) + 1e-9, 4) AS avg_value,
      |       round(min(value), 4) AS min_value,
      |       round(max(value), 4) AS max_value,
      |       count(*) AS count_readings
      |FROM events
      |GROUP BY CUBE (event_type, hour(ts))
      |ORDER BY room ASC NULLS FIRST, hour_bucket ASC NULLS FIRST""".stripMargin

  /** Q4 — inner join of two aggregated subqueries on hour (hive.py:84-98).
    * Both sides aggregate to ≤24 rows, so Catalyst broadcast-hash-joins
    * them (no shuffle of the join itself); each side is a pruned scan of
    * one `event_type` partition-equivalent.
    */
  def q4JoinAggs(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    def hourly(tag: String, outCol: String): DataFrame =
      ev.filter(col("event_type") === tag)
        .groupBy(hour(col("ts")).as("hour_bucket"))
        .agg(Num.r4(avg(col("value"))).as(outCol))
    hourly("click", "avg_click")
      .join(hourly("purchase", "avg_purchase"), Seq("hour_bucket"), "inner")
  }

  val q4Sql: String =
    """SELECT a.hour_bucket, a.avg_click, b.avg_purchase
      |FROM (SELECT hour(ts) AS hour_bucket, round(avg(value) + 1e-9, 4) AS avg_click
      |      FROM events WHERE event_type = 'click' GROUP BY hour(ts)) a
      |JOIN (SELECT hour(ts) AS hour_bucket, round(avg(value) + 1e-9, 4) AS avg_purchase
      |      FROM events WHERE event_type = 'purchase' GROUP BY hour(ts)) b
      |USING (hour_bucket)
      |ORDER BY hour_bucket""".stripMargin
}
