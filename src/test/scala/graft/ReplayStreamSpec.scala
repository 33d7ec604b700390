package graft

import graft.streaming.{SensorReading, StreamIngest}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

/** End-to-end streaming replay (SURVEY.md §3.2 dataflow): the reference's
  * own measurement CSVs are re-shaped into simulator-style NGSI-LD
  * notification envelopes (`real_time_data_simulator.py:40-52` PATCH
  * payload inside the subscriber's `{"data":[…]}` notification), replayed
  * through a file-source stream one micro-batch per file, run through
  * parse → per-entity throttle → checkpointed room-partitioned sink, and
  * the landed table is then queried with the reference's Q2 shape
  * (`hive.py` hourly average). Every stage's output is cross-checked
  * against a plain-Scala sequential model of the same semantics, so this
  * one spec ties the whole ingest dataflow together.
  */
class ReplayStreamSpec extends SparkSpec {
  private val GapMs = 600000L // 10-minute per-entity throttle

  private def iso(epochS: Long): String =
    java.time.LocalDateTime.ofEpochSecond(epochS, 0, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd'T'HH:mm:ss'+00:00'"))

  private def readCsv(room: String, sensor: String, n: Int): Seq[(String, String, Long, Double)] = {
    val src = scala.io.Source.fromFile(s"$measurements/${room}_$sensor.csv")
    try src.getLines().flatMap { l =>
      l.split("\t") match {
        case Array(ts, v) =>
          try Some((room, sensor.toLowerCase, ts.trim.toLong, v.trim.toDouble))
          catch { case _: Throwable => None }
        case _ => None
      }
    }.take(n).toList
    finally src.close()
  }

  private def notif(room: String, sensor: String, epochS: Long, v: Double): String =
    s"""{"data":[{"id":"urn:ngsi-ld:$room:$room","type":"$room","$sensor":""" +
      s"""{"type":"Property","value":$v,"observedAt":"${iso(epochS)}"}}]}"""

  test("CSV replay through stream parse, throttle, sink matches the sequential model") {
    assumeMeasurements()
    import spark.implicits._
    // Chronological replay of two rooms' sensors, chunked into 4 files =
    // 4 micro-batches (mtimes pinned so the file source preserves order).
    val readings = (readCsv("Kitchen", "Temperature", 200) ++
      readCsv("Bathroom", "Humidity", 200)).sortBy(r => (r._3, r._1))
    val inDir = Files.createTempDirectory("graft_replay_in")
    val chunk = (readings.size + 3) / 4
    readings.grouped(chunk).zipWithIndex.foreach { case (rs, i) =>
      val p = inDir.resolve(f"notif_$i%03d.json")
      Files.write(p, rs.map(r => notif(r._1, r._2, r._3, r._4))
        .mkString("\n").getBytes("UTF-8"))
      Files.setLastModifiedTime(p, FileTime.fromMillis(1000000000000L + i * 60000L))
    }

    val base = Files.createTempDirectory("graft_replay_out").toString
    val stream = spark.readStream
      .option("maxFilesPerTrigger", 1)
      .text(inDir.toString)
      .toDF("json")
    val throttled = StreamIngest.throttle(
      StreamIngest.parseNotifications(stream).as[SensorReading], GapMs)
    val q = StreamIngest.startSink(throttled.toDF(), s"$base/data", s"$base/ckpt")
    q.processAllAvailable()
    q.stop()

    // Sequential model: per entity, keep a reading iff >= GapMs after the
    // last KEPT one, scanning in event-time order (the replay is
    // chronological, so batch boundaries cannot reorder an entity's rows).
    val expected = readings.groupBy(_._1).flatMap { case (_, rs) =>
      var lastKeptMs = Long.MinValue
      rs.sortBy(_._3).filter { r =>
        val tMs = r._3 * 1000
        val keep = lastKeptMs == Long.MinValue || tMs == lastKeptMs ||
          tMs - lastKeptMs >= GapMs
        if (keep) lastKeptMs = tMs
        keep
      }
    }.toSeq

    val landed = spark.read.parquet(s"$base/data").cache()
    assert(landed.count() == expected.size,
      s"landed ${landed.count()} vs model ${expected.size}")
    // Spot-check the exact kept row set for one entity.
    val gotKitchen = landed.filter(col("room") === "Kitchen")
      .select("event_ts").collect().map(_.getTimestamp(0).getTime / 1000).sorted.toSeq
    val expKitchen = expected.filter(_._1 == "Kitchen").map(_._3).sorted
    assert(gotKitchen == expKitchen)

    // Reference Q2 shape over the landed table vs the model's aggregate.
    val got = landed.filter(col("sensor") === "temperature")
      .groupBy(hour(col("event_ts")).as("h"))
      .agg(avg("value").as("a"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val expByHour = expected.filter(_._2 == "temperature")
      .groupBy(r => ((r._3 % 86400) / 3600).toInt)
      .map { case (h, vs) => h -> vs.map(_._4).sum / vs.size }
    assert(got.keySet == expByHour.keySet)
    got.foreach { case (h, a) =>
      assert(math.abs(a - expByHour(h)) < 1e-9, s"hour $h: $a vs ${expByHour(h)}")
    }
    landed.unpersist()
  }

  test("full-width replay: all 18 reference CSVs, 6-entity round-robin, batch-boundary-independent") {
    assumeMeasurements()
    // ST3 at the reference's full width: every room × sensor stream
    // multiplexed into one chronological replay (reduced row count per
    // CSV so the interleave, not the volume, is what's exercised). The
    // throttle is per-ROOM, so three sensors of one room genuinely
    // contend for the same state — the interleave semantics the 2-room
    // test above cannot reach. Assertions are TIE-ROBUST by design:
    // same-second readings of one room resolve by arrival order
    // (throttle's sort is stable on event_ts), so the kept COUNT and
    // kept TIMESTAMP sets are deterministic while the winning row's
    // sensor identity is not — value-level exactness is the 2-room
    // test's job.
    val rooms = Seq("Kitchen", "Bathroom", "Toilet", "Room1", "Room2", "Room3")
    val sensors = Seq("Temperature", "Humidity", "Brightness")
    val readings = (for { r <- rooms; s <- sensors } yield readCsv(r, s, 60))
      .flatten.sortBy(r => (r._3, r._1, r._2))
    assert(readings.size == 18 * 60, "fixture must load all 18 CSVs")

    def replay(nFiles: Int): Map[String, Seq[Long]] = {
      val inDir = Files.createTempDirectory(s"graft_replay18_${nFiles}_in")
      val chunk = (readings.size + nFiles - 1) / nFiles
      readings.grouped(chunk).zipWithIndex.foreach { case (rs, i) =>
        val p = inDir.resolve(f"notif_$i%03d.json")
        Files.write(p, rs.map(r => notif(r._1, r._2, r._3, r._4))
          .mkString("\n").getBytes("UTF-8"))
        Files.setLastModifiedTime(p, FileTime.fromMillis(1000000000000L + i * 60000L))
      }
      val base = Files.createTempDirectory(s"graft_replay18_${nFiles}_out").toString
      import spark.implicits._
      val stream = spark.readStream
        .option("maxFilesPerTrigger", 1)
        .text(inDir.toString)
        .toDF("json")
      val throttled = StreamIngest.throttle(
        StreamIngest.parseNotifications(stream).as[SensorReading], GapMs)
      val q = StreamIngest.startSink(throttled.toDF(), s"$base/data", s"$base/ckpt")
      q.processAllAvailable()
      q.stop()
      val landed = spark.read.parquet(s"$base/data")
      // full width actually landed: every room partition, every sensor
      assert(landed.select(col("room")).distinct().count() == rooms.size,
        "a room's stream never landed")
      assert(landed.select(col("sensor")).distinct().count() == sensors.size,
        "a sensor's stream never landed")
      landed.select(col("room"), col("event_ts")).collect()
        .map(r => r.getString(0) -> r.getTimestamp(1).getTime / 1000)
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    }

    // sequential per-room model over the chronological merge; rows
    // stamped at the KEPT instant all pass (the whole-entity-update
    // law — sibling sensors of one notification share observedAt)
    val expected = readings.groupBy(_._1).map { case (room, rs) =>
      var lastKeptMs = Long.MinValue
      room -> rs.sortBy(_._3).filter { r =>
        val tMs = r._3 * 1000
        val keep = lastKeptMs == Long.MinValue || tMs == lastKeptMs ||
          tMs - lastKeptMs >= GapMs
        if (keep) lastKeptMs = tMs
        keep
      }.map(_._3).sorted.toSeq
    }
    val got6 = replay(6)
    assert(got6.keySet == expected.keySet)
    expected.foreach { case (room, ts) =>
      assert(got6(room) == ts, s"$room kept set diverges from the model")
    }
    // micro-batch boundaries must not change a single verdict: the same
    // chronological corpus split into a different file/batch count lands
    // identically (ST3 order-independence + ST4 pacing invariance)
    val got3 = replay(3)
    assert(got3 == got6, "batch boundaries changed the kept set")
  }
}
