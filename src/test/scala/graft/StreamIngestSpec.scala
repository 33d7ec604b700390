package graft

import graft.streaming.{SensorReading, StreamIngest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamIngestSpec extends SparkSpec {

  def notif(room: String, temp: Double, at: String): String =
    s"""{"data":[{"id":"urn:ngsi-ld:$room:$room","type":"$room",
       |"temperature":{"type":"Property","value":$temp,"observedAt":"$at"}}]}"""
      .stripMargin.replace("\n", "")

  test("notification parsing flattens sparse attributes") {
    import spark.implicits._
    val df = Seq(
      notif("Kitchen", 17.5, "2017-03-08T23:58:47+00:00"),
      // entity with two sensors present
      """{"data":[{"id":"urn:ngsi-ld:Room1:Room1","type":"Room1",
        |"temperature":{"type":"Property","value":20.1,"observedAt":"2017-03-08T23:58:48+00:00"},
        |"humidity":{"type":"Property","value":55.0,"observedAt":"2017-03-08T23:58:48+00:00"}}]}"""
        .stripMargin.replace("\n", "")
    ).toDF("json")
    val parsed = StreamIngest.parseNotifications(df).cache()
    assert(parsed.count() == 3) // 1 + 2 sparse attributes
    val kitchen = parsed.filter(col("room") === "Kitchen").collect()
    assert(kitchen.length == 1 && kitchen(0).getAs[Double]("value") == 17.5)
    assert(parsed.filter(col("event_ts").isNull).count() == 0)
    parsed.unpersist()
  }

  test("malformed or alien notifications drop out without failing the stream") {
    import spark.implicits._
    val df = Seq(
      "not json at all {{{",
      """{"data": "wrong shape"}""",
      """{"data":[{"id":"urn:x:A","type":"A"}]}""", // entity with no sensors
      """{"data":[{"id":"urn:x:B","type":"B",
        |"temperature":{"type":"Property","value":"NaNish","observedAt":"bad-ts"}}]}"""
        .stripMargin.replace("\n", ""),
      // good value, garbage timestamp — must not reach state with null ts
      """{"data":[{"id":"urn:x:C","type":"C",
        |"temperature":{"type":"Property","value":3.5,"observedAt":"not-a-time"}}]}"""
        .stripMargin.replace("\n", ""),
      notif("Kitchen", 17.5, "2017-03-08T23:58:47+00:00") // one good row
    ).toDF("json")
    val parsed = StreamIngest.parseNotifications(df).collect()
    assert(parsed.length == 1)
    assert(parsed(0).getAs[String]("room") == "Kitchen")
  }

  test("throttle keeps first reading per entity per gap (batch mode)") {
    import spark.implicits._
    def r(e: String, ms: Long) =
      SensorReading(e, e, "temperature", 1.0, new Timestamp(ms))
    val in = Seq(
      r("A", 0), r("A", 10), r("A", 60), r("A", 100), // gaps: keep 0, 60, (100-60<50 drop)
      r("B", 5) // other entity unaffected
    ).toDS()
    val kept = StreamIngest.throttle(in, minGapMs = 50).collect()
      .map(x => (x.entityid, x.event_ts.getTime)).sorted.toSeq
    assert(kept == Seq(("A", 0L), ("A", 60L), ("B", 5L)))
    // sibling sensors stamped at the KEPT instant all pass — one parsed
    // notification explodes into one row per sensor sharing observedAt,
    // and the reference throttles the whole-entity PUT, not one
    // attribute of it; the next in-gap instant still drops
    def s(sensor: String, ms: Long) =
      SensorReading("C", "C", sensor, 1.0, new Timestamp(ms))
    val multi = Seq(s("brightness", 0), s("humidity", 0),
      s("temperature", 0), s("temperature", 10)).toDS()
    val keptM = StreamIngest.throttle(multi, minGapMs = 50).collect()
    assert(keptM.length == 3 && keptM.forall(_.event_ts.getTime == 0L),
      s"sibling sensors of the kept update must all pass: ${keptM.toSeq}")
  }

  test("throttle over a memory stream honors state across batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[SensorReading]
    val q = StreamIngest.throttle(mem.toDS(), minGapMs = 50)
      .writeStream.format("memory").queryName("throttled")
      .outputMode("append").start()
    def r(ms: Long) = SensorReading("A", "A", "temperature", 1.0, new Timestamp(ms))
    mem.addData(r(0), r(20))   // batch 1: keep 0
    q.processAllAvailable()
    mem.addData(r(40), r(70))  // batch 2: 40 dropped (40-0<50), 70 kept
    q.processAllAvailable()
    val kept = spark.sql("SELECT event_ts FROM throttled").collect()
      .map(_.getTimestamp(0).getTime).sorted.toSeq
    q.stop()
    assert(kept == Seq(0L, 70L))
  }

  test("append-mode hourly agg finalizes on watermark and drops late data") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    val agg = StreamIngest.hourlyAvg(
      StreamIngest.parseNotifications(mem.toDF().toDF("json")))
    val q = agg.writeStream.format("memory").queryName("hourly_append")
      .outputMode("append").start()
    // hour-10 readings; watermark still inside the window → nothing emits
    mem.addData(
      notif("Kitchen", 10.0, "2017-03-08T10:05:00+00:00"),
      notif("Kitchen", 20.0, "2017-03-08T10:55:00+00:00"))
    q.processAllAvailable()
    assert(spark.sql("SELECT * FROM hourly_append").count() == 0)
    // event at 12:30 pushes the watermark (10 min) past 11:00 → the
    // hour-10 window finalizes with avg 15
    mem.addData(notif("Kitchen", 30.0, "2017-03-08T12:30:00+00:00"))
    q.processAllAvailable()
    val emitted = spark.sql("SELECT avg_value, n_readings FROM hourly_append").collect()
    assert(emitted.length == 1 && emitted(0).getDouble(0) == 15.0 &&
      emitted(0).getLong(1) == 2)
    // a LATE hour-10 reading (behind the watermark) must be dropped
    mem.addData(notif("Kitchen", 99.0, "2017-03-08T10:30:00+00:00"))
    q.processAllAvailable()
    assert(spark.sql("SELECT * FROM hourly_append").count() == 1)
    q.stop()
  }

  test("checkpointed sink lands room-partitioned parquet") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    val parsed = StreamIngest.parseNotifications(mem.toDF().toDF("json"))
    val base = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val q = StreamIngest.startSink(parsed, s"$base/data", s"$base/ckpt")
    mem.addData(
      notif("Kitchen", 17.5, "2017-03-08T23:58:47+00:00"),
      notif("Room1", 20.0, "2017-03-08T23:58:48+00:00"))
    q.processAllAvailable()
    q.stop()
    val back = spark.read.parquet(s"$base/data")
    assert(back.count() == 2)
    assert(back.select("room").distinct().collect().map(_.getString(0)).toSet ==
      Set("Kitchen", "Room1"))
    assert(new java.io.File(s"$base/ckpt").exists())
  }

  test("stream-static enrichment join attaches dimension attributes") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dim = Seq(("Kitchen", 1, "ground"), ("Room1", 2, "first"))
      .toDF("room", "floor_no", "floor_name")
    val mem = MemoryStream[String]
    val enriched = StreamIngest.parseNotifications(mem.toDF().toDF("json"))
      .join(broadcast(dim), Seq("room"), "left")
    val q = enriched.writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    mem.addData(
      notif("Kitchen", 17.5, "2017-03-08T23:58:47+00:00"),
      notif("Toilet", 1.0, "2017-03-08T23:58:48+00:00"))
    q.processAllAvailable()
    val rows = spark.sql("SELECT room, floor_name FROM enriched ORDER BY room").collect()
    q.stop()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "Kitchen" && rows(0).getString(1) == "ground")
    assert(rows(1).getString(0) == "Toilet" && rows(1).isNullAt(1)) // unmatched dim
  }

  test("watermarked stream dedup drops redeliveries across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    val deduped = StreamIngest.dedupStream(
      StreamIngest.parseNotifications(mem.toDF().toDF("json")))
    val q = deduped.writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    val reading = notif("Kitchen", 17.5, "2017-03-08T10:00:00+00:00")
    mem.addData(reading, reading) // duplicate within one batch
    q.processAllAvailable()
    mem.addData(reading)          // redelivery in a later batch
    q.processAllAvailable()
    mem.addData(notif("Kitchen", 18.0, "2017-03-08T10:01:00+00:00")) // distinct ts
    q.processAllAvailable()
    val n = spark.sql("SELECT * FROM deduped").count()
    q.stop()
    assert(n == 2) // one per distinct (entity, sensor, event_ts)
  }

  test("session_window agg closes sessions on gap and finalizes on watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    val agg = StreamIngest.sessionAgg(
      StreamIngest.parseNotifications(mem.toDF().toDF("json")),
      gap = "30 minutes", watermark = "10 minutes")
    val q = agg.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    // two readings 10 min apart -> one session; nothing emits while the
    // watermark is inside the session's close horizon
    mem.addData(
      notif("Kitchen", 10.0, "2017-03-08T10:00:00+00:00"),
      notif("Kitchen", 20.0, "2017-03-08T10:10:00+00:00"))
    q.processAllAvailable()
    assert(spark.sql("SELECT * FROM sessions").count() == 0)
    // an event far past the gap pushes the watermark beyond 10:40+10m,
    // closing the first session (2 events, avg 15) exactly once
    mem.addData(notif("Kitchen", 30.0, "2017-03-08T12:00:00+00:00"))
    q.processAllAvailable()
    val rows = spark.sql(
      "SELECT entityid, n_events, avg_value FROM sessions").collect()
    q.stop()
    assert(rows.length == 1)
    assert(rows(0).getLong(1) == 2 && rows(0).getDouble(2) == 15.0)
  }

  test("stream-stream interval join buffers within the lookback only") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def tnotif(room: String, sensor: String, v: Double, at: String): String =
      s"""{"data":[{"id":"urn:ngsi-ld:$room:$room","type":"$room",
         |"$sensor":{"type":"Property","value":$v,"observedAt":"$at"}}]}"""
        .stripMargin.replace("\n", "")
    val memL = MemoryStream[String]
    val memR = MemoryStream[String]
    val joined = StreamIngest.correlate(
      StreamIngest.parseNotifications(memL.toDF().toDF("json"))
        .filter(col("sensor") === "temperature"),
      StreamIngest.parseNotifications(memR.toDF().toDF("json"))
        .filter(col("sensor") === "humidity"),
      watermark = "10 minutes", lookback = "5 minutes")
    val q = joined.writeStream.format("memory").queryName("correlated")
      .outputMode("append").start()
    memR.addData(
      tnotif("Kitchen", "humidity", 40.0, "2017-03-08T10:00:00+00:00"), // in window
      tnotif("Kitchen", "humidity", 50.0, "2017-03-08T09:50:00+00:00")) // too old
    memL.addData(tnotif("Kitchen", "temperature", 21.5, "2017-03-08T10:03:00+00:00"))
    q.processAllAvailable()
    val rows = spark.sql(
      "SELECT l_value, r_value FROM correlated").collect()
    q.stop()
    // only the humidity reading within the 5-minute lookback joins
    assert(rows.length == 1)
    assert(rows(0).getDouble(0) == 21.5 && rows(0).getDouble(1) == 40.0)
  }

  test("streaming hourly average aggregates by window and room") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    val parsed = StreamIngest.parseNotifications(mem.toDF().toDF("json"))
    val agg = StreamIngest.hourlyAvg(parsed)
    val q = agg.writeStream.format("memory").queryName("hourly")
      .outputMode("complete").start()
    mem.addData(
      notif("Kitchen", 10.0, "2017-03-08T10:05:00+00:00"),
      notif("Kitchen", 20.0, "2017-03-08T10:55:00+00:00"),
      notif("Kitchen", 30.0, "2017-03-08T11:05:00+00:00"))
    q.processAllAvailable()
    val rows = spark.sql("SELECT room, avg_value, n_readings FROM hourly ORDER BY avg_value")
      .collect()
    q.stop()
    assert(rows.length == 2)
    assert(rows(0).getAs[Double]("avg_value") == 15.0 && rows(0).getAs[Long]("n_readings") == 2)
    assert(rows(1).getAs[Double]("avg_value") == 30.0)
  }

  test("streaming contamination screen flags on ingest, statelessly") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon"),
      (101L, "one two three four five")
    ).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val screened = StreamIngest.contaminationStream(
      mem.toDS().toDF("doc_id", "text"), bench)
    // stateless per-row projection ⇒ append mode must be legal
    val q = screened.writeStream.format("memory")
      .queryName("screen").outputMode("append").start()
    mem.addData(
      (0L, "junk alpha beta gamma delta epsilon junk"), // 2 shared 4-grams
      (1L, "completely clean document with no overlap at all"),
      (2L, "one two three four")) // exactly one shared 4-gram
    q.processAllAvailable()
    mem.addData((3L, "alpha beta gamma delta")) // later batch, 1 shared
    q.processAllAvailable()
    val got = spark.sql("SELECT doc_id, n_shared_shingles FROM screen")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    q.stop()
    assert(got == Map(0L -> 2, 2L -> 1, 3L -> 1))
  }

  test("bloom screen-on-ingest flags a superset of the exact screen") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon"),
      (101L, "one two three four five")
    ).toDF("doc_id", "text")
    val rows = Seq(
      (0L, "junk alpha beta gamma delta epsilon junk"), // 2 shared 4-grams
      (1L, "completely clean document with no overlap at all"),
      (2L, "one two three four"), // exactly one shared 4-gram
      (3L, "alpha beta gamma delta"))
    val mem = MemoryStream[(Long, String)]
    val screened = StreamIngest.bloomScreenStream(
      mem.toDS().toDF("doc_id", "text"), bench)
    val q = screened.writeStream.format("memory")
      .queryName("bloom_screen").outputMode("append").start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    val got = spark.sql("SELECT doc_id, n_candidate_shingles FROM bloom_screen")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    q.stop()
    // No false negatives: every exactly-contaminated doc is flagged with
    // at least its exact shingle count. (At fpp≈4e-4 on this fixture the
    // sets coincide, but only the superset direction is guaranteed.)
    val exact = Map(0L -> 2, 2L -> 1, 3L -> 1)
    exact.foreach { case (id, n) =>
      assert(got.contains(id) && got(id) >= n, s"doc $id lost by bloom screen")
    }
    assert(!got.contains(1L) || got.size <= exact.size + 1) // fp slack: tiny
  }

  test("streaming welford anomaly screen replays a sequential model") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ev = Tables.events(spark, sf001)
      .select(col("user_id"), col("event_id"), col("value"),
        unix_micros(col("ts")).as("ts"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(r => (r._4, r._2))
    // exact sequential model: score-then-update welford per user
    val st = scala.collection.mutable.Map[Long, (Double, Double, Double)]()
    val expected = ev.map { case (uid, eid, v, _) =>
      var (n, mean, m2) = st.getOrElse(uid, (0.0, 0.0, 0.0))
      val z = if (n >= 2.0 && m2 > 0.0) (v - mean) / math.sqrt(m2 / (n - 1.0)) else 0.0
      n += 1.0; val d = v - mean; mean += d / n; m2 += d * (v - mean)
      st(uid) = (n, mean, m2)
      (uid, eid) -> (math.rint(z * 1e4) / 1e4, math.abs(z) > 2)
    }.toMap
    val (b1, b2) = ev.splitAt(ev.length / 2)
    val mem = MemoryStream[(Long, Long, Double, Long)]
    val out = StreamIngest.anomalyStream(
      mem.toDS().toDF("user_id", "event_id", "value", "ts"))
    val q = out.toDF("user_id", "event_id", "z", "is_anomaly")
      .writeStream.format("memory")
      .queryName("anomaly_stream").outputMode("append").start()
    mem.addData(b1.toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(b2.toIndexedSeq: _*)
    q.processAllAvailable()
    val got = spark.sql(
      "SELECT user_id, event_id, z, is_anomaly FROM anomaly_stream")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getDouble(2), r.getBoolean(3)))
      .toMap
    q.stop()
    assert(got.size == ev.length)
    assert(got == expected)
    // and it actually flags something on real data
    assert(got.values.count(_._2) > 0)
  }

  test("streaming funnel state machine replays the batch funnel exactly") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ev = Tables.events(spark, sf001)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(r => (r._3, r._1))
    // batch truth: per-user ordered stage progression
    val truth = ev.groupBy(_._1).map { case (uid, rows) =>
      var stage = 0; var tEntry = Long.MinValue
      val stages = Array("view", "click", "purchase")
      // same ts-tie rule as the operator: funnel-stage order, not lexicographic
      def ord(t: String) = { val i = stages.indexOf(t); if (i < 0) 3 else i }
      rows.sortBy(r => (r._3, ord(r._2))).foreach { case (_, tpe, ts) =>
        if (stage < 3 && tpe == stages(stage) && ts >= tEntry) {
          stage += 1; tEntry = ts
        }
      }
      uid -> stage
    }
    // two time-ordered micro-batches: cross-batch carryover must hold
    val (b1, b2) = ev.splitAt(ev.length / 2)
    val mem = MemoryStream[(Long, String, Long)]
    val out = StreamIngest.funnelStream(
      mem.toDS().toDF("user_id", "event_type", "ts"))
    val q = out.toDF("user_id", "stage").writeStream.format("memory")
      .queryName("funnel_stream").outputMode("update").start()
    mem.addData(b1.toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(b2.toIndexedSeq: _*)
    q.processAllAvailable()
    // stages only advance, so the final state is the per-user max update
    val got = spark.sql(
      "SELECT user_id, max(stage) AS stage FROM funnel_stream GROUP BY user_id")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    q.stop()
    assert(got == truth)
    // and the stage totals line up with the batch operator's counts
    val batchCounts = graft.ops.Relational.funnel(spark, sf001).collect()
      .map(r => r.getInt(0) -> r.getLong(2)).toMap
    (1 to 3).foreach { s =>
      assert(batchCounts(s) == truth.count(_._2 >= s),
        s"stage $s count mismatch vs batch funnel")
    }
  }

  test("streaming funnel breaks ts ties in stage order, matching batch min-ts counting") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // user 1: view and click share a timestamp — the batch funnel's
    // min(click ts) >= min(view ts) counts BOTH advances, so the stream
    // must process view before click at the tied ts (stage order, not
    // lexicographic, where "click" < "view" would strand the machine at 1).
    // user 2: all three stages at one ts — must reach stage 3.
    val ev = Seq(
      (1L, "view", 100L), (1L, "click", 100L),
      (2L, "view", 50L), (2L, "click", 50L), (2L, "purchase", 50L),
      (3L, "click", 10L), (3L, "view", 20L)) // click before view: stage 1 only
    val mem = MemoryStream[(Long, String, Long)]
    val out = StreamIngest.funnelStream(
      mem.toDS().toDF("user_id", "event_type", "ts"))
    val q = out.toDF("user_id", "stage").writeStream.format("memory")
      .queryName("funnel_ties").outputMode("update").start()
    mem.addData(ev: _*)
    q.processAllAvailable()
    val got = spark.sql(
      "SELECT user_id, max(stage) AS stage FROM funnel_ties GROUP BY user_id")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    q.stop()
    assert(got == Map(1L -> 2, 2L -> 3, 3L -> 1))
  }

  test("streaming CMS sketch converges to the batch cell grid") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // the IDENTICAL mode-agnostic dataflow (ext.TextAnalysis.cmsCellsOf)
    // maintained incrementally: fixed-key groupBy => state bounded at
    // depth x width cells forever, no watermark needed
    val docs = Tables.documents(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (first, second) = docs.splitAt(docs.length / 2)
    val mem = MemoryStream[(Long, String)]
    val cells = graft.ext.TextAnalysis.cmsCellsOf(mem.toDS().toDF("doc_id", "text"))
    val q = cells.writeStream.format("memory")
      .queryName("cms_stream").outputMode("complete").start()
    mem.addData(first.toIndexedSeq)
    q.processAllAvailable()
    mem.addData(second.toIndexedSeq)
    q.processAllAvailable()
    val streamed = spark.sql("SELECT j, bucket, c FROM cms_stream").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    q.stop()
    val batch = graft.ext.TextAnalysis
      .cmsCellsOf(Tables.documents(spark, sf001)).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed == batch, "streamed sketch != batch sketch")
  }

  test("streaming misra-gries covers every true heavy hitter within mg bounds") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val shards = 4
    val k = 20
    val toks = Tables.documents(spark, sf001).collect()
      .flatMap(_.getString(1).split(" ")).toIndexedSeq
    val (first, second) = toks.splitAt(toks.length / 2)
    val mem = MemoryStream[String]
    val out = StreamIngest.mgTopkStream(mem.toDS(), k, shards)
      .toDF("shard", "version", "summary")
    val q = out.writeStream.format("memory").queryName("mg_stream")
      .outputMode("update").start()
    mem.addData(first)
    q.processAllAvailable()
    mem.addData(second)
    q.processAllAvailable()
    val latest = spark.sql("SELECT shard, version, summary FROM mg_stream")
      .collect()
      .groupBy(_.getInt(0)).map { case (_, rs) => rs.maxBy(_.getLong(1)) }
    q.stop()
    val est = latest.flatMap(_.getSeq[org.apache.spark.sql.Row](2)
      .map(x => x.getString(0) -> x.getLong(1))).toMap
    // independent model: exact counts + per-shard occurrence totals
    def shardOf(t: String) = math.floorMod(t.hashCode, shards)
    val trueCnt = toks.groupBy(identity).map { case (t, ts) => t -> ts.size.toLong }
    val shardN = toks.groupBy(shardOf).map { case (s, ts) => s -> ts.size.toLong }
    // summary entries never overestimate, and undercount within the MG bound
    est.foreach { case (t, e) =>
      val c = trueCnt(t)
      val bound = shardN(shardOf(t)).toDouble / (k + 1)
      assert(e <= c, s"$t estimate $e above true $c")
      assert(c - e <= bound, s"$t undercount ${c - e} above bound $bound")
    }
    // guarantee: every token above its shard's N/(k+1) is in the summary
    trueCnt.foreach { case (t, c) =>
      if (c > shardN(shardOf(t)).toDouble / (k + 1))
        assert(est.contains(t), s"true heavy hitter $t missing")
    }
    // batch twin: in ONE batch each shard is exactly the merged-MG of its
    // counts — compare against a driver-side model of the merge rule
    val one = StreamIngest.mgTopkStream(toks.toDS(), k, shards).collect()
      .map { case (s, _, sm) => s -> sm }.toMap
    toks.groupBy(shardOf).foreach { case (s, ts) =>
      val counts = ts.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
      val want =
        if (counts.size <= k) counts
        else {
          val thr = counts.values.toSeq.sorted(Ordering[Long].reverse)(k)
          counts.collect { case (t, c) if c - thr > 0 => t -> (c - thr) }
        }
      assert(one(s).toMap == want, s"shard $s batch twin mismatch")
    }
    // and the streamed union covers the batch d_heavy_hitters output
    graft.ext.TextAnalysis.heavyHitters(spark, sf001).collect()
      .map(_.getString(0))
      .foreach(t => assert(est.contains(t), s"batch heavy hitter $t missing"))
  }

  test("streaming ewma replays the sequential recurrence across batch splits") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ev = Tables.events(spark, sf001)
      .select(col("user_id"), col("event_id"),
        col("value"), unix_micros(col("ts")).as("ts"))
      .as[(Long, Long, Double, Long)].collect().toIndexedSeq
    val (first, second) = ev.splitAt(ev.length / 2)
    val mem = MemoryStream[(Long, Long, Double, Long)]
    val out = StreamIngest.ewmaStream(
      mem.toDS().toDF("user_id", "event_id", "value", "ts"))
    val q = out.toDF("user_id", "event_id", "ewma")
      .writeStream.format("memory").queryName("ewma_stream")
      .outputMode("append").start()
    mem.addData(first)
    q.processAllAvailable()
    mem.addData(second)
    q.processAllAvailable()
    val got = spark.sql("SELECT event_id, ewma FROM ewma_stream").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    q.stop()
    // exact sequential model: per user in (ts, event_id) order, but the
    // batch SPLIT boundary resets nothing — state carries across
    def r4(x: Double) = java.math.BigDecimal.valueOf(x + 1e-9)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    val model = (first.sortBy(r => (r._4, r._2)) ++ second.sortBy(r => (r._4, r._2)))
      .groupBy(_._1).flatMap { case (_, rows) =>
        var seeded = false; var y = 0.0
        rows.map { case (_, eid, v, _) =>
          y = if (seeded) 0.3 * v + 0.7 * y else v
          seeded = true
          eid -> r4(y)
        }
      }
    assert(got.size == ev.length)
    model.foreach { case (eid, want) =>
      assert(got(eid) == want, s"event $eid: got ${got(eid)}, want $want")
    }
  }

  test("streaming cusum equals batch q_cusum across splits and shuffled arrival") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // ground truth: the batch operator's statistics and 4-sigma flags
    val want = graft.ops.Relational.cusumShift(spark, sf001).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getBoolean(3)))).toMap
    // calibration table = the same 6dp-rounded per-user moments the
    // batch op trains on (calibrate on history, monitor the stream)
    val stats = Tables.events(spark, sf001).groupBy(col("user_id"))
      .agg(round(avg(col("value")) + lit(1e-9), 6).as("mu"),
        round(stddev_samp(col("value")) + lit(1e-9), 6).as("sigma"))
    // replay in global (ts, event_id) order across three batch splits,
    // but SHUFFLE arrival inside each batch — the operator must re-sort
    val ev = Tables.events(spark, sf001)
      .select(col("user_id"), col("event_id"),
        col("value"), unix_micros(col("ts")).as("ts"))
      .as[(Long, Long, Double, Long)].collect().toIndexedSeq
      .sortBy(r => (r._4, r._2))
    val rnd = new scala.util.Random(8)
    val batches = ev.grouped(math.max(1, ev.length / 3))
      .map(b => rnd.shuffle(b)).toSeq
    val mem = MemoryStream[(Long, Long, Double, Long)]
    val out = StreamIngest.cusumStream(
      mem.toDS().toDF("user_id", "event_id", "value", "ts"), stats)
    val q = out.toDF("user_id", "event_id", "cusum", "is_shift")
      .writeStream.format("memory").queryName("cusum_stream")
      .outputMode("append").start()
    batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    val got = spark.sql("SELECT event_id, cusum, is_shift FROM cusum_stream")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    q.stop()
    assert(got.size == ev.length)
    want.foreach { case (eid, w) =>
      assert(got(eid) == w, s"event $eid: got ${got(eid)}, want $w")
    }
  }

  test("streaming scd2 max-version snapshot equals the batch build") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val want = graft.ops.Relational.scd2(spark, sf001)
      .select(col("user_id"), col("event_id"),
        unix_micros(col("valid_from")).as("vf"),
        coalesce(unix_micros(col("valid_to")), lit(-1L)).as("vt"),
        col("is_current"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSet
    val ev = Tables.events(spark, sf001)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts"))
      .as[(Long, Long, Long)].collect().toIndexedSeq
      .sortBy(r => (r._3, r._2))
    val batches = ev.grouped(math.max(1, ev.length / 3)).toSeq
    val mem = MemoryStream[(Long, Long, Long)]
    val out = StreamIngest.scd2Stream(
      mem.toDS().toDF("user_id", "event_id", "ts"))
    val q = out.toDF("user_id", "event_id", "version", "valid_from",
        "valid_to", "is_current")
      .writeStream.format("memory").queryName("scd2_stream")
      .outputMode("append").start()
    batches.foreach { b => mem.addData(b); q.processAllAvailable() }
    // readers keep the max-version row per (user_id, event_id)
    val got = spark.sql(
      """SELECT user_id, event_id, valid_from, valid_to, is_current FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_id
        |                               ORDER BY version DESC) AS rn
        |  FROM scd2_stream) WHERE rn = 1""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).toSet
    q.stop()
    assert(got == want,
      s"only-stream=${(got -- want).take(3)} only-batch=${(want -- got).take(3)}")
  }

  test("streaming scd2 drops cross-batch late events instead of inverting intervals") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long)]
    val out = StreamIngest.scd2Stream(
      mem.toDS().toDF("user_id", "event_id", "ts"))
    val q = out.toDF("user_id", "event_id", "version", "valid_from",
        "valid_to", "is_current")
      .writeStream.format("memory").queryName("scd2_late")
      .outputMode("append").start()
    mem.addData((1L, 10L, 100L)); q.processAllAvailable()
    // a LATE event (ts 50 < the standing version's valid_from 100) must
    // be conclusively dropped: emitting would close v1 with
    // valid_to=50 < valid_from=100 and promote the stale row
    mem.addData((1L, 11L, 50L)); q.processAllAvailable()
    // an in-order successor still versions normally
    mem.addData((1L, 12L, 200L)); q.processAllAvailable()
    // readers keep the max-version row per event (the sibling test's
    // contract); the raw emission is an append-only event log
    val rows = spark.sql(
      """SELECT event_id, valid_from, valid_to, is_current FROM (
        |  SELECT *, row_number() OVER (PARTITION BY event_id
        |                               ORDER BY version DESC) AS rn
        |  FROM scd2_late) WHERE rn = 1""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    q.stop()
    assert(!rows.exists(_._1 == 11L), s"late event emitted: $rows")
    assert(rows.filter(r => r._3 >= 0).forall(r => r._3 >= r._2),
      s"inverted validity interval: $rows")
    assert(rows == Set((10L, 100L, 200L, false), (12L, 200L, -1L, true)),
      s"snapshot wrong: $rows")
  }

  test("pii scrub at ingest equals the batch cascade row for row") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val rows = Seq(
      (1L, "mail a@b.io and c.d@e.org now"),
      (2L, "call 415-555-0199 from 10.0.0.7"),
      (3L, "clean row with nothing to hide"))
    val mem = MemoryStream[(Long, String)]
    val q = StreamIngest.piiRedactStream(mem.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("pii_ingest")
      .outputMode("append").start()
    mem.addData(rows)
    q.processAllAvailable()
    val streamed = spark.sql("SELECT * FROM pii_ingest").collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    q.stop()
    val batch = graft.ext.TextAnalysis
      .piiRedactOnDocs(rows.toDF("doc_id", "text"), "text").collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(streamed == batch)
    assert(!streamed.values.exists(_.head.toString.contains("@")))
  }

  test("keyed-state streaming kmv estimate equals the batch twin, split-invariant") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    graft.functions.Md5Prefix60.register(spark)
    // the exact bigram-hash pairs the batch d_kmv_distinct folds
    val pairs = Tables.documents(spark, sf001)
      .withColumn("tokens", split(col("text"), " "))
      .filter(size(col("tokens")) >= 2)
      .select(col("lang"), explode(expr(
        """transform(sequence(0, size(tokens) - 2),
          |  i -> concat(tokens[i], ' ', tokens[i+1]))""".stripMargin)).as("bigram"))
      .distinct()
      .select(col("lang"), expr("md5_prefix60(bigram)").as("h"))
      .as[(String, Long)].collect().toIndexedSeq
    val (first, second) = pairs.splitAt(pairs.length / 2)
    val mem = MemoryStream[(String, Long)]
    val out = StreamIngest.kmvDistinctStream(mem.toDS())
      .toDF("lang", "version", "hk", "n_seen", "est")
    val q = out.writeStream.format("memory").queryName("kmv_keyed")
      .outputMode("update").start()
    mem.addData(first)
    q.processAllAvailable()
    mem.addData(second)
    q.processAllAvailable()
    val latest = spark.sql("SELECT * FROM kmv_keyed").collect()
      .groupBy(_.getString(0)).map { case (l, rs) =>
        val r = rs.maxBy(_.getLong(1))
        l -> ((r.getLong(2), r.getLong(3), r.getDouble(4)))
      }
    q.stop()
    // estimate equals the batch d_kmv_distinct column exactly
    val batch = graft.ext.TextAnalysis.kmvDistinct(spark, sf001).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(latest.keySet == batch.keySet)
    latest.foreach { case (l, (_, _, est)) =>
      assert(est == batch(l), s"$l streamed $est != batch ${batch(l)}")
    }
    // bottom-K union is associative: one batch == the two-batch replay
    val one = StreamIngest.kmvDistinctStream(pairs.toDS()).collect()
      .map { case (l, _, hk, n, est) => l -> ((hk, n, est)) }.toMap
    assert(one == latest.toMap, "batch split changed the kmv state")
  }

  test("native kmv aggregate in a streaming agg equals the batch sketch") {
    // The TypedImperativeAggregate's serialize/merge path runs through the
    // state store here (complete-mode agg re-merges buffers every batch);
    // the sketch is a SET of bottom-K hashes, so incremental arrival must
    // reproduce the batch result exactly. State is bounded at K longs per
    // lang forever — no watermark needed.
    import spark.implicits._
    implicit val sq = spark.sqlContext
    graft.functions.Md5Prefix60.register(spark)
    graft.functions.SketchAggs.register(spark)
    val docs = Tables.documents(spark, sf001).select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val (first, second) = docs.splitAt(docs.length / 2)
    def hashes(df: org.apache.spark.sql.DataFrame) = df
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .select(col("lang"), expr("md5_prefix60(token)").as("h"))
    val mem = MemoryStream[(String, String)]
    val agg = hashes(mem.toDS().toDF("lang", "text"))
      .groupBy(col("lang")).agg(expr("kmv_sketch(h)").as("sk"))
    val q = agg.writeStream.format("memory").queryName("kmv_stream")
      .outputMode("complete").start()
    mem.addData(first.toIndexedSeq)
    q.processAllAvailable()
    mem.addData(second.toIndexedSeq)
    q.processAllAvailable()
    val streamed = spark.sql("SELECT lang, sk FROM kmv_stream").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    q.stop()
    val batch = hashes(Tables.documents(spark, sf001))
      .groupBy(col("lang")).agg(expr("kmv_sketch(h)").as("sk"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(streamed == batch, "streamed kmv sketch != batch kmv sketch")
  }

  // ---- ST7: exactly-once under restart ---------------------------------

  /** Drops `lines` into `dir` as one text file via tmp+ATOMIC_MOVE so the
    * file source never lists a half-written file. A file source (unlike
    * MemoryStream) persists its per-batch file manifest in the
    * checkpoint's `sources/` log, so a restarted query can re-read the
    * exact files of an uncommitted batch — the property a restart test
    * needs from its source. */
  private def addInputFile(dir: String, name: String, lines: Seq[String]): Unit = {
    val tmp = java.nio.file.Paths.get(dir, s".$name.tmp")
    java.nio.file.Files.write(tmp, lines.mkString("\n").getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(dir, name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def fileNotifications(inDir: String) =
    StreamIngest.parseNotifications(
      spark.readStream.option("maxFilesPerTrigger", 1).text(inDir).toDF("json"))

  test("sink is exactly-once across a crash between sink commit and offset commit") {
    val base = java.nio.file.Files.createTempDirectory("graft_eo").toString
    val inDir = s"$base/in"; new java.io.File(inDir).mkdirs()
    addInputFile(inDir, "f0.txt", Seq(
      notif("Kitchen", 17.5, "2017-03-08T23:58:47+00:00"),
      notif("Room1", 20.0, "2017-03-08T23:58:48+00:00")))

    // Run 1: land batch 0, then "crash" inside the at-least-once window —
    // the sink has finalized batch 0 (data files + _spark_metadata entry)
    // but the driver's commits/0 marker is lost. This is exactly the race
    // where the reference's HBase writer (subscriber.py:64-75) would
    // double-write on redelivery; deleting commits/0 after a stop
    // reproduces that driver state bit-for-bit.
    val q1 = StreamIngest.startSink(
      fileNotifications(inDir), s"$base/out", s"$base/ckpt")
    q1.processAllAvailable()
    q1.stop()
    assert(new java.io.File(s"$base/ckpt/offsets/0").exists())
    val commit0 = new java.io.File(s"$base/ckpt/commits/0")
    assert(commit0.exists() && commit0.delete(),
      "could not simulate the crash window")
    // a crashed driver never wrote the local-FS CRC sidecar either; leaving
    // it stale would read as a concurrent writer, not a crash
    new java.io.File(s"$base/ckpt/commits/.0.crc").delete()

    // Run 2: restart from the same checkpoint. Spark sees offsets/0
    // without commits/0, re-plans batch 0 as uncommitted and RE-EXECUTES
    // it; the FileStreamSink's own transaction log already contains batch
    // 0, so the re-delivery must be skipped (no duplicates), after which
    // the new file becomes batch 1 (no loss).
    addInputFile(inDir, "f1.txt", Seq(
      notif("Kitchen", 18.0, "2017-03-08T23:59:47+00:00"),
      notif("Toilet", 21.0, "2017-03-08T23:59:48+00:00")))
    val q2 = StreamIngest.startSink(
      fileNotifications(inDir), s"$base/out", s"$base/ckpt")
    q2.processAllAvailable()
    q2.stop()

    // Uninterrupted twin: same input, fresh sink + checkpoint, no crash.
    val q3 = StreamIngest.startSink(
      fileNotifications(inDir), s"$base/out_clean", s"$base/ckpt_clean")
    q3.processAllAvailable()
    q3.stop()

    def landed(path: String): Seq[(String, String, Double, Long)] =
      spark.read.parquet(path)
        .select("entityid", "sensor", "value", "event_ts").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
          r.getTimestamp(3).getTime)).toSeq.sorted
    val recovered = landed(s"$base/out")
    assert(recovered.length == 4,
      s"expected each reading exactly once (4), got ${recovered.length}")
    assert(recovered == landed(s"$base/out_clean"),
      "restarted sink diverged from the uninterrupted run")
  }

  test("throttle state survives a checkpoint restart") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_eo_state").toString
    val inDir = s"$base/in"; new java.io.File(inDir).mkdirs()
    def at(sec: Long) = f"1970-01-01T00:${sec / 60}%02d:${sec % 60}%02d+00:00"
    def throttled = StreamIngest.throttle(
      fileNotifications(inDir).as[SensorReading], minGapMs = 50000L)

    // Run 1: keep 0 s, drop 20 s; last-kept state = 0 s. Clean stop.
    addInputFile(inDir, "f0.txt", Seq(
      notif("Kitchen", 1.0, at(0)), notif("Kitchen", 2.0, at(20))))
    val q1 = StreamIngest.startSink(throttled.toDF(), s"$base/out", s"$base/ckpt")
    q1.processAllAvailable()
    q1.stop()

    // Run 2 (restart): 40 s must still be dropped (40 − 0 < 50 — only a
    // recovered state store knows last-kept was 0 s; a fresh state would
    // wrongly keep it), 70 s kept. This is the state-recovery half of the
    // exactly-once claim: the restarted query resumes the SAME state, not
    // a re-derived approximation.
    addInputFile(inDir, "f1.txt", Seq(
      notif("Kitchen", 3.0, at(40)), notif("Kitchen", 4.0, at(70))))
    val q2 = StreamIngest.startSink(throttled.toDF(), s"$base/out", s"$base/ckpt")
    q2.processAllAvailable()
    q2.stop()

    val keptSecs = spark.read.parquet(s"$base/out")
      .select("event_ts").collect()
      .map(_.getTimestamp(0).getTime / 1000).toSeq.sorted
    assert(keptSecs == Seq(0L, 70L),
      s"state not recovered across restart: kept $keptSecs")
  }

  test("every keyed operator's emissions survive a checkpoint restart") {
    import spark.implicits._
    // one event feed for all six operators, split over two files; ts
    // runs on across the split so file 2's rows fold onto file 1's state
    val rnd = new scala.util.Random(11)
    val stages = Seq("view", "click", "purchase")
    val files = (0 until 2).map { f =>
      (0 until 40).map { j =>
        val n = f * 40 + j
        s"""{"user_id":${rnd.nextInt(5)},"event_id":$n,""" +
          s""""event_type":"${stages(rnd.nextInt(3))}",""" +
          s""""value":${rnd.nextGaussian()},"ts":${n * 7}}"""
      }
    }
    val stats = (0L until 5L).map(u => (u, 0.0, 0.5)).toDF("user_id", "mu", "sigma")
    val ops: Seq[(String, String, DataFrame => DataFrame)] = Seq(
      ("throttle", "append", ev => StreamIngest.throttle(ev.select(
        concat(lit("e"), col("user_id")).as("entityid"), lit("r").as("room"),
        col("event_type").as("sensor"), col("value"),
        timestamp_millis(col("ts")).as("event_ts")).as[SensorReading], 50L).toDF()),
      ("anomalyStream", "append", ev => StreamIngest.anomalyStream(ev).toDF()),
      ("funnelStream", "update", ev => StreamIngest.funnelStream(ev).toDF()),
      ("ewmaStream", "append", ev => StreamIngest.ewmaStream(ev).toDF()),
      ("cusumStream", "append", ev => StreamIngest.cusumStream(ev, stats).toDF()),
      ("scd2Stream", "append", ev => StreamIngest.scd2Stream(ev).toDF()))

    ops.foreach { case (name, mode, op) =>
      val base = java.nio.file.Files.createTempDirectory(s"graft_restart_$name").toString
      // feeds `inputs` one file per micro-batch, stopping and restarting
      // from the checkpoint after the first when `restart`; returns every
      // emitted row tagged with its batch id
      def run(tag: String, inputs: Seq[Seq[String]], restart: Boolean)
          : Seq[(Long, String)] = {
        val inDir = s"$base/$tag/in"; new java.io.File(inDir).mkdirs()
        val got = scala.collection.mutable.ArrayBuffer[(Long, String)]()
        def start() = op(spark.readStream
            .schema("user_id LONG, event_id LONG, event_type STRING, value DOUBLE, ts LONG")
            .option("maxFilesPerTrigger", 1).json(inDir))
          .writeStream.outputMode(mode)
          .option("checkpointLocation", s"$base/$tag/ckpt")
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            got ++= batch.collect().map(r => batchId -> r.toString)
            ()
          }
          .start()
        var q = start()
        inputs.zipWithIndex.foreach { case (lines, i) =>
          if (restart && i == 1) { q.stop(); q = start() }
          addInputFile(inDir, s"f$i.json", lines)
          q.processAllAvailable()
        }
        q.stop()
        got.toSeq.sorted
      }
      val clean = run("clean", files, restart = false)
      val restarted = run("restarted", files, restart = true)
      assert(restarted == clean,
        s"$name: restarted run diverged from the uninterrupted run: " +
          s"only-restarted=${restarted.diff(clean).take(3)} only-clean=${clean.diff(restarted).take(3)}")
      // the fixture has teeth: file 2 folded onto FRESH state emits
      // something else, so a restart that lost the state could not pass
      val fresh = run("fresh", files.drop(1), restart = false).map(_._2)
      assert(fresh != clean.filter(_._1 == 1L).map(_._2),
        s"$name: file 2's emissions do not depend on file 1's state")
    }
  }

  test("day-partitioned streaming sink keeps dynamic pruning on the growing lake") {
    // The streaming analog of q_partition_pruned: the sink lands one
    // directory per event-time day, and a dim-filtered join over the
    // GROWING table must still prune day directories at runtime — the
    // contract that makes the streamed lake queryable like the batch one.
    val base = java.nio.file.Files.createTempDirectory("graft_daysink").toString
    val inDir = s"$base/in"; new java.io.File(inDir).mkdirs()
    // 2017-03-05 = Sunday, 03-06 = Monday, 03-07 = Tuesday
    addInputFile(inDir, "f0.txt", Seq(
      notif("Kitchen", 17.5, "2017-03-05T10:00:00+00:00"),
      notif("Kitchen", 18.5, "2017-03-06T10:00:00+00:00")))
    val q = StreamIngest.startDaySink(
      fileNotifications(inDir), s"$base/lake", s"$base/ckpt")
    q.processAllAvailable()
    // grow the lake: a later batch adds a NEW day partition
    addInputFile(inDir, "f1.txt", Seq(
      notif("Kitchen", 19.5, "2017-03-07T10:00:00+00:00")))
    q.processAllAvailable()
    q.stop()

    val lake = spark.read.parquet(s"$base/lake")
    val weekdays = spark.read.parquet(s"$base/lake")
      .select(col("day")).distinct()
      .filter(expr("pmod(datediff(day, DATE '1970-01-01') + 3, 7) <= 4"))
    val joined = lake.join(broadcast(weekdays), Seq("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamicpruningexpression in the streamed lake's fact scan:\n$plan")
    val got = joined.collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    // Sunday (03-05) pruned out; both weekday partitions present — the
    // one from batch 0 AND the one appended after the first read cycle
    assert(got == Map("2017-03-06" -> 1L, "2017-03-07" -> 1L),
      s"weekday-filtered lake read wrong: $got")
  }

  test("streaming ANN serve answers from the persisted index, matching batch serve") {
    // The serve half of train-once/persist/serve run ONLINE: a memory
    // stream of query vectors, answered per micro-batch from the saved
    // IVF-PQ index via a stream-static bucketed join, top-k cut by a
    // watermarked aggregation. Every emitted row must match the batch
    // serve path (annIndexLookup, probes=1) bit for bit.
    import spark.implicits._
    import graft.ext.Similarity
    implicit val sq = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    Similarity.annIndexEnsure(spark, sf, prefix = "ann_srv")

    val qvecs = Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    val mem = MemoryStream[(Long, Timestamp, Seq[Float])]
    val served = Similarity.annServeStream(
      mem.toDF().toDF("q_id", "event_ts", "embedding"),
      k = 3, prefix = "ann_srv", lateness = "1 second")
    val q = served.writeStream.format("memory").queryName("ann_served")
      .outputMode("append").start()

    // two query batches 1 min apart, then a flush row far ahead so the
    // watermark closes every real slot
    val (front, back) = qvecs.splitAt(5)
    // timestamps sit WELL above the epoch: the initial watermark is
    // the epoch itself, and a row at exactly that instant is dropped
    // as late before it ever reaches the aggregation
    mem.addData(front.map { case (id, v) => (id, new Timestamp(100000L), v) }.toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(back.map { case (id, v) => (id, new Timestamp(160000L), v) }.toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData((9999L, new Timestamp(3600000L), qvecs.head._2))
    q.processAllAvailable()
    val got = spark.sql(
      """SELECT q_id, CAST(pos + 1 AS BIGINT) AS rank, t.neighbor_id, t.adc
        |FROM ann_served LATERAL VIEW posexplode(topk) v AS pos, t
        |WHERE q_id < 10""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    q.stop()

    val want = Similarity.annIndexLookup(spark, sf, prefix = "ann_srv")
      .select(col("q_id"), col("rank").cast("long"), col("neighbor_id"), col("adc"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == want,
      s"stream serve diverged from batch serve: only-stream=${(got -- want).take(3)} " +
        s"only-batch=${(want -- got).take(3)}")

    // bounded state: the flush query's own slot is still open (nothing
    // newer closed it) -- exactly the in-flight set, nothing more
    assert(spark.sql("SELECT DISTINCT q_id FROM ann_served").count() == 10)

    // multiprobe arm: probes = 2 (map-side sort-slice cell selection,
    // no window) must equal the batch serve at probes = 2
    val mem2 = MemoryStream[(Long, Timestamp, Seq[Float])]
    val served2 = Similarity.annServeStream(
      mem2.toDF().toDF("q_id", "event_ts", "embedding"),
      k = 3, prefix = "ann_srv", probes = 2, lateness = "1 second")
    val q2 = served2.writeStream.format("memory").queryName("ann_served_p2")
      .outputMode("append").start()
    mem2.addData(qvecs.map { case (id, v) =>
      (id, new Timestamp(100000L), v) }.toIndexedSeq: _*)
    q2.processAllAvailable()
    mem2.addData((9999L, new Timestamp(3600000L), qvecs.head._2))
    q2.processAllAvailable()
    val got2 = spark.sql(
      """SELECT q_id, CAST(pos + 1 AS BIGINT) AS rank, t.neighbor_id, t.adc
        |FROM ann_served_p2 LATERAL VIEW posexplode(topk) v AS pos, t
        |WHERE q_id < 10""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    q2.stop()
    val want2 = Similarity.annIndexLookup(spark, sf, prefix = "ann_srv", probes = 2)
      .select(col("q_id"), col("rank").cast("long"), col("neighbor_id"), col("adc"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got2 == want2,
      s"probes=2 stream serve diverged: only-stream=${(got2 -- want2).take(3)} " +
        s"only-batch=${(want2 -- got2).take(3)}")
    Seq("codes", "centroids", "codebooks")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ann_srv_$t"))
  }

  test("blue-green ANN serve cuts over to a rebuilt index without a restart") {
    // The hot-swap the pinned-model stream cannot do: rebuild the index
    // UNDER the running serve stream and keep serving — batches before
    // the rebuild answer from version N, batches after from N+1, no
    // query dropped, no restart. Expectations per version come through
    // the same (already spec-proven) scoring core, computed while that
    // version is current.
    import spark.implicits._
    import graft.ext.Similarity
    implicit val sq = spark.sqlContext
    val sfA = "/root/testdata/sf0.001"
    Similarity.annIndexEnsure(spark, sfA, prefix = "ann_bg")

    // corpus B: same ids, elementwise-squared vectors — different
    // centroids, codebooks, and neighbor structure
    val dirB = java.nio.file.Files.createTempDirectory("graft_annbg").toString
    Tables.embeddings(spark, sfA)
      .withColumn("embedding",
        expr("transform(embedding, x -> CAST(x * x AS FLOAT))"))
      .write.mode("overwrite").parquet(s"$dirB/embeddings.parquet")

    val qvecs = Tables.embeddings(spark, sfA)
      .filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    def batchDf(rows: Seq[(Long, Timestamp, Seq[Float])]) =
      rows.toDF("q_id", "event_ts", "embedding")
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("q_id", "CAST(event_ts AS STRING) AS ts",
        "CAST(topk AS STRING) AS topk")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

    val (front, back) = qvecs.splitAt(5)
    val b1 = front.map { case (id, v) => (id, new Timestamp(100000L), v) }.toSeq
    // the repeat of q_id 0 in batch 2 (later ts) pins the cut-over:
    // same vector, answered from each version in turn
    val b2 = (back :+ qvecs.head)
      .map { case (id, v) => (id, new Timestamp(160000L), v) }.toSeq

    // per-version expectations, computed while that version is current
    val wantA = rowsOf(Similarity.serveBatch(batchDf(b1), prefix = "ann_bg"))
    val mem = MemoryStream[(Long, Timestamp, Seq[Float])]
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String)]
    val q = Similarity.annServeStreamBlueGreen(
      mem.toDF().toDF("q_id", "event_ts", "embedding"), prefix = "ann_bg") {
      (out, _) => rowsOf(out).foreach(emitted.add(_): Unit)
    }
    // cold-load version A on the STREAM's session too: batch 1 must
    // resolve the model tables on the foreachBatch clone so its relation
    // cache actually HOLDS version-A entries — the stale state the
    // post-rebuild cold load (below) has to survive
    Similarity.clearIvfPqModelCache()
    mem.addData(b1.toIndexedSeq: _*)
    q.processAllAvailable()
    val gotA = emitted.toArray(Array.empty[(Long, String, String)]).toSet
    assert(gotA == wantA,
      s"pre-rebuild batch diverged: only-got=${(gotA -- wantA).take(2)} " +
        s"only-want=${(wantA -- gotA).take(2)}")

    // REBUILD under the running stream (source dir changed -> new
    // version), then serve batch 2 without restarting q. Clear the
    // JVM-shared model memo first so the STREAM'S cloned session — whose
    // relation cache is independent of the session that ran the rebuild
    // DDL — performs the genuinely COLD load of version B (catalog
    // resolution of the new centroids/codebooks + collect). Round 13's
    // version of this test pre-warmed the memo via serveBatch on the
    // main session before batch 2, which masked exactly the stale-
    // relation missing-file failure the cold path can hit; wantB is now
    // computed AFTER the stream has served it, for the same reason.
    Similarity.annIndexEnsure(spark, dirB, prefix = "ann_bg")
    Similarity.clearIvfPqModelCache()
    mem.addData(b2.toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()
    val wantB = rowsOf(Similarity.serveBatch(batchDf(b2), prefix = "ann_bg"))
    val gotAll = emitted.toArray(Array.empty[(Long, String, String)]).toSet
    assert(gotAll == wantA ++ wantB,
      s"post-rebuild serve diverged: only-got=${(gotAll -- (wantA ++ wantB)).take(2)} " +
        s"only-want=${((wantA ++ wantB) -- gotAll).take(2)}")
    // the cut-over genuinely changed the answer: q_id 0's batch-1 topk
    // (version A) differs from its batch-2 topk (version B)
    val topk0 = gotAll.filter(_._1 == 0L).map(_._3)
    assert(topk0.size == 2,
      s"expected two q_id=0 answers (one per version), got $topk0")
    Seq("codes", "centroids", "codebooks")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ann_bg_$t"))
  }

  test("blue-green serve survives a rebuild racing the batch MID-EXECUTION") {
    // The window the between-batch cut-over test cannot reach: the
    // batch's plan resolves version N, and the rebuild deletes N's
    // files while the sink is EXECUTING that plan. Without the bounded
    // in-place retry this kills the StreamingQuery (Spark does not
    // retry a failed foreachBatch in place) — the restart blue-green
    // exists to avoid. Forced deterministically here: the sink's first
    // invocation performs the rebuild itself, then executes its (now
    // poisoned) plan; the retry must re-resolve and serve the batch
    // entirely from the NEW version.
    import graft.ext.Similarity
    implicit val sq = spark.sqlContext
    val sfA = "/root/testdata/sf0.001"
    Similarity.annIndexEnsure(spark, sfA, prefix = "ann_race")
    // corpus C: shifted vectors — different centroids/codes than A
    val dirC = java.nio.file.Files.createTempDirectory("graft_annrace").toString
    Tables.embeddings(spark, sfA)
      .withColumn("embedding",
        expr("transform(embedding, x -> CAST(x + 1.0 AS FLOAT))"))
      .write.mode("overwrite").parquet(s"$dirC/embeddings.parquet")
    import spark.implicits._
    val qvecs = Tables.embeddings(spark, sfA)
      .filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), new Timestamp(100000L), r.getSeq[Float](1)))
      .toIndexedSeq
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("q_id", "CAST(event_ts AS STRING) AS ts",
        "CAST(topk AS STRING) AS topk")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

    // cold state on every session: batch 1 must resolve version A's
    // model tables on the stream's clone, so the rebuild genuinely
    // leaves stale relation-cache entries behind for the retry to beat
    Similarity.clearIvfPqModelCache()
    val sinkCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, String)]
    val mem = MemoryStream[(Long, Timestamp, Seq[Float])]
    val q = Similarity.annServeStreamBlueGreen(
      mem.toDF().toDF("q_id", "event_ts", "embedding"), prefix = "ann_race") {
      (out, _) =>
        if (sinkCalls.incrementAndGet() == 1)
          // the race: version roll lands between this batch's plan
          // resolution and its execution (files of the resolved
          // version are deleted under the plan)
          Similarity.annIndexEnsure(spark, dirC, prefix = "ann_race")
        rowsOf(out).foreach(emitted.add(_): Unit)
    }
    mem.addData(qvecs: _*)
    q.processAllAvailable() // would throw StreamingQueryException if the retry failed
    q.stop()
    assert(sinkCalls.get >= 2,
      s"the raced batch must have re-run the sink, saw ${sinkCalls.get} call(s)")
    val wantC = rowsOf(Similarity.serveBatch(
      qvecs.toDF("q_id", "event_ts", "embedding"), prefix = "ann_race"))
    val got = emitted.toArray(Array.empty[(Long, String, String)]).toSet
    assert(got == wantC,
      s"retried batch must serve entirely from the new version: " +
        s"only-got=${(got -- wantC).take(2)} only-want=${(wantC -- got).take(2)}")
    Seq("codes", "centroids", "codebooks")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS ann_race_$t"))
  }
}
