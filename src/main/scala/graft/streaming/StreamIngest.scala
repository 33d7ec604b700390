package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import graft.ext.Dedup
import graft.ops.Num

/** One flattened sensor reading from an NGSI-LD notification. */
case class SensorReading(
    entityid: String,
    room: String,
    sensor: String,
    value: Double,
    event_ts: java.sql.Timestamp)

/** Streaming ingestion of NGSI-LD notification envelopes with the
  * reference subscriber's semantics (`/root/reference/subscriber.py`),
  * re-expressed on Structured Streaming (SURVEY.md §2.8, §3.2):
  *
  *   - notification envelope `{"data":[entity…]}` parsed with an explicit
  *     schema (`from_json` + `explode`) — `subscriber.py:104-123`;
  *   - per-entity throttle: an update is kept only if ≥ `minGapMs` has
  *     passed since the last KEPT update for that entity id
  *     (`subscriber.py:21-23,112-118`) — implemented as keyed state via
  *     `flatMapGroupsWithState`, through the one per-key fold
  *     ([[keyedFold]]) that every keyed operator here shares. State is
  *     one fixed-width entry per live key and is never evicted; eviction
  *     would return only as a change with a test that turns it on;
  *   - the engine keeps BOTH event time (`observedAt`) and ingest time,
  *     where the reference discarded event time (ST6);
  *   - exactly-once lands via checkpointed `writeStream`/`foreachBatch`
  *     instead of the reference's at-least-once per-row puts (ST7).
  *
  * Every function here takes/returns DataFrames so the same logic runs on
  * a `readStream` source in production and on a `MemoryStream` in tests.
  */
object StreamIngest {

  private val attrSchema = StructType(Seq(
    StructField("type", StringType),
    StructField("value", DoubleType),
    StructField("observedAt", StringType)))

  /** NGSI-LD notification envelope (FIXTURES.md §A streaming fixture). */
  val notificationSchema: StructType = StructType(Seq(
    StructField("data", ArrayType(StructType(Seq(
      StructField("id", StringType),
      StructField("type", StringType),
      StructField("temperature", attrSchema),
      StructField("humidity", attrSchema),
      StructField("brightness", attrSchema)))))))

  /** JSON envelope column → one row per (entity, present sensor).
    * Sparse attributes (`subscriber.py:58-60`) become a stack+filter:
    * absent sensors drop out, mirroring the reference's sparse puts. */
  def parseNotifications(df: DataFrame, jsonCol: String = "json"): DataFrame =
    df.select(from_json(col(jsonCol), notificationSchema).as("n"))
      .select(explode(col("n.data")).as("e"))
      .select(col("e.id").as("entityid"), col("e.type").as("room"),
        expr(
          """stack(3,
            |  'temperature', e.temperature.value, e.temperature.observedAt,
            |  'humidity',    e.humidity.value,    e.humidity.observedAt,
            |  'brightness',  e.brightness.value,  e.brightness.observedAt)
            |AS (sensor, value, observed_at)""".stripMargin))
      .filter(col("value").isNotNull)
      // try_to_timestamp, not to_timestamp: under ANSI mode a single
      // malformed observedAt would otherwise throw and KILL the streaming
      // query; a poisoned row must drop, not crash the pipeline
      .select(col("entityid"), col("room"), col("sensor"), col("value"),
        expr("try_to_timestamp(observed_at)").as("event_ts"),
        current_timestamp().as("ingest_ts"))
      .filter(col("event_ts").isNotNull)

  /** The one per-key fold under the keyed-state operators here
    * ([[throttle]], [[anomalyStream]], [[funnelStream]], [[ewmaStream]],
    * [[cusumStream]], [[scd2Stream]]). It groups `rows` by `key`, sorts
    * each key's micro-batch rows by `order`, and calls `step` with the
    * key's stored state (`None` for a new key). `step` returns the new
    * state and the rows to emit; the state is written back only when it
    * changed. The sort is what makes a checkpoint replay re-emit the same
    * rows: the group iterator's arrival order is shuffle-merge order, not
    * stable across a replay. State is one fixed-width entry per live key
    * and is never evicted (no timeout is set); eviction would return only
    * as a change with a test that turns it on. Spark executes
    * `flatMapGroupsWithState` over batch and streaming Datasets alike. */
  private def keyedFold[In, K: Encoder, O: Ordering, S: Encoder, Out: Encoder](
      rows: Dataset[In], mode: OutputMode = OutputMode.Append)(
      key: In => K, order: In => O)(
      step: (K, Option[S], Seq[In]) => (S, Seq[Out])): Dataset[Out] =
    rows.groupByKey(key)
      .flatMapGroupsWithState[S, Out](mode, GroupStateTimeout.NoTimeout) {
        (k: K, group: Iterator[In], state: GroupState[S]) =>
          val prev = state.getOption
          val (next, out) = step(k, prev, group.toSeq.sortBy(order))
          if (!prev.contains(next)) state.update(next)
          out.iterator
      }

  /** Per-entity throttle (reference ST5): keep a reading only if its
    * event time is ≥ `minGapMs` after the last kept reading of the same
    * entity. State is one timestamp per live entity, never evicted. An
    * entity whose every row in a micro-batch drops keeps its state
    * untouched. Readings fold in (event time, sensor) order: a parsed
    * notification yields one row per sensor SHARING a timestamp, and
    * without the sensor tie-break WHICH same-ts row survives the throttle
    * would depend on arrival order, breaking exactly-once re-emission.
    */
  def throttle(readings: Dataset[SensorReading], minGapMs: Long): Dataset[SensorReading] = {
    import readings.sparkSession.implicits._
    keyedFold(readings)(_.entityid, r => (r.event_ts.getTime, r.sensor)) {
      (_, st: Option[Long], rows) =>
        var lastKept = st.getOrElse(Long.MinValue)
        // `t == lastKept` also passes: the reference throttles per ENTITY
        // and puts the WHOLE update (every attribute) when the gap clears
        // (subscriber.py:112-118), so every sibling sensor row stamped at
        // the kept instant belongs to the kept update — a strict `>= gap`
        // alone kept only the sort-first sensor and silently dropped the
        // rest of the notification.
        val kept = rows.filter { r =>
          val t = r.event_ts.getTime
          val keep = lastKept == Long.MinValue || t == lastKept ||
            t - lastKept >= minGapMs
          if (keep) lastKept = t
          keep
        }
        (lastKept, kept)
    }
  }

  /** Streaming analog of reference Q2: watermarked hourly average per
    * room — the stateful-aggregation demo (SURVEY.md §7.2 step 7). */
  def hourlyAvg(readings: DataFrame, watermark: String = "10 minutes"): DataFrame =
    readings
      .withWatermark("event_ts", watermark)
      .groupBy(window(col("event_ts"), "1 hour").as("hour_window"), col("room"))
      .agg(avg(col("value")).as("avg_value"), count(lit(1)).as("n_readings"))

  /** Watermarked streaming deduplication: drop re-deliveries of the same
    * (entity, sensor, event time) reading — the at-least-once-source →
    * exactly-once-pipeline bridge. `dropDuplicatesWithinWatermark` keys
    * state by the dedup columns and evicts it once the watermark passes,
    * so state is bounded by the redelivery horizon, not stream length
    * (plain dropDuplicates on a stream would grow state forever). */
  def dedupStream(readings: DataFrame, watermark: String = "10 minutes"): DataFrame =
    readings
      .withWatermark("event_ts", watermark)
      .dropDuplicatesWithinWatermark("entityid", "sensor", "event_ts")

  /** Streaming sessionization — the `session_window` twin of the batch
    * `Relational.sessionize` operator: per-entity sessions close after
    * `gap` of event-time silence, and the watermark finalizes (and bounds
    * the state of) sessions whose gap has conclusively passed. Append mode
    * emits each session exactly once, on close. */
  def sessionAgg(readings: DataFrame, gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    readings
      .withWatermark("event_ts", watermark)
      .groupBy(session_window(col("event_ts"), gap).as("session"), col("entityid"))
      .agg(count(lit(1)).as("n_events"), avg(col("value")).as("avg_value"))
      .select(col("entityid"), col("session.start").as("session_start"),
        col("session.end").as("session_end"), col("n_events"), col("avg_value"))

  /** Stream-stream interval join: correlate each left-stream reading with
    * right-stream readings of the same entity in the trailing `lookback`
    * event-time window. Both sides carry watermarks and the join condition
    * carries the time bound, so Spark can evict buffered state once the
    * watermark passes — without the bound the state would grow with the
    * stream. The streaming counterpart of the batch as-of/range joins. */
  def correlate(left: DataFrame, right: DataFrame,
      watermark: String = "10 minutes",
      lookback: String = "5 minutes"): DataFrame = {
    val l = left.select(col("entityid"), col("sensor").as("l_sensor"),
      col("value").as("l_value"), col("event_ts").as("l_ts"))
      .withWatermark("l_ts", watermark)
    val r = right.select(col("entityid").as("r_entityid"), col("sensor").as("r_sensor"),
      col("value").as("r_value"), col("event_ts").as("r_ts"))
      .withWatermark("r_ts", watermark)
    l.join(r,
      col("entityid") === col("r_entityid") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $lookback") &&
        col("r_ts") <= col("l_ts"),
      "inner")
      .select(col("entityid"), col("l_sensor"), col("l_value"), col("l_ts"),
        col("r_sensor"), col("r_value"), col("r_ts"))
  }

  /** The two ingest screens' shared prologue: each document's `tokens`
    * and `shl`, its distinct k-shingle ARRAY ([[Dedup.shingleArray]]),
    * empty under k tokens. The screens probe the array inside one
    * projection, so they keep the array form rather than the exploded
    * relation. */
  private def withShingleArray(docs: DataFrame, k: Int): DataFrame =
    docs
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("shl",
        when(size(col("tokens")) >= k, Dedup.shingleArray("tokens", k))
          .otherwise(array().cast("array<string>")))

  /** The eval set's distinct k-shingles (one `shingle` column), through
    * the family-shared shingler [[Dedup.shinglesOf]]. */
  private def benchShingleSet(benchDocs: DataFrame, k: Int): DataFrame =
    Dedup.shinglesOf(benchDocs, "bench_id", k).select(col("shingle")).distinct()

  /** Streaming contamination screen — decontamination AT INGEST: flag
    * each arriving document that shares any verbatim `k`-token shingle
    * with the (small, static) benchmark/eval set. Deliberately STATELESS:
    * the eval set's distinct shingles are collected once (eval sets are
    * small by construction — same argument as the batch screen's
    * broadcast) and compiled into the plan as an array literal, and each
    * streaming row computes `array_intersect` against it in one codegen'd
    * projection. No streaming aggregation, no state store, append-mode
    * safe — documents are seen once and never buffered, which is the
    * 100 TB ingest shape. (A groupBy-per-bench-doc attribution would be a
    * global stateful agg whose state grows with the corpus — exactly
    * what a screen-on-ingest must avoid; run the batch `contamination`
    * operator offline when per-bench attribution is needed.)
    * Input stream schema: (doc_id LONG, text STRING, …); emits
    * (doc_id, n_shared_shingles), keeping only contaminated rows —
    * join back on doc_id when the full row is needed downstream. */
  def contaminationStream(docs: DataFrame, benchDocs: DataFrame,
      k: Int = 4): DataFrame = {
    val benchShingles: Array[String] = benchShingleSet(benchDocs, k)
      .collect().map(_.getString(0))
    withShingleArray(docs, k)
      .withColumn("n_shared_shingles",
        size(array_intersect(col("shl"),
          array(benchShingles.toIndexedSeq.map(lit): _*))))
      .filter(col("n_shared_shingles") > 0)
      .select(col("doc_id"), col("n_shared_shingles"))
  }

  /** Bloom-screened decontamination on ingest — [[contaminationStream]]'s
    * scale path. The exact screen compiles the full eval shingle SET into
    * the plan (fine for thousands of shingles; plan-bloat and per-row
    * array_intersect cost at production eval suites of 1e6-1e7). This
    * variant compiles only a Bloom BIT ARRAY (~2 bytes/shingle regardless
    * of shingle width) and counts, per streaming document, its shingles
    * that probe positive — still stateless, append-safe, one codegen'd
    * projection, no state store. Bloom filters have no false negatives,
    * so every truly contaminated document is flagged (possibly with a
    * small overcount / rare extra doc from false positives at fpp≈4e-4);
    * route flagged docs to the batch `Dedup.contamination` verifier for
    * the exact attribution. Emits (doc_id, n_candidate_shingles > 0). */
  def bloomScreenStream(docs: DataFrame, benchDocs: DataFrame,
      k: Int = 4): DataFrame = {
    val bits = Dedup.bloomBits(benchShingleSet(benchDocs, k), numHashes = 5)
    val probe = Dedup.bloomProbeSql(bits, numHashes = 5, term = "s")
    withShingleArray(docs, k)
      .withColumn("n_candidate_shingles",
        size(expr(s"filter(shl, s -> $probe)")))
      .filter(col("n_candidate_shingles") > 0)
      .select(col("doc_id"), col("n_candidate_shingles"))
  }

  /** Streaming per-entity anomaly screen — Welford's online
    * mean/variance per user as `flatMapGroupsWithState` state (n, mean,
    * M2: three doubles per live user, the textbook bounded-state running
    * moment), scoring each arriving event against the distribution of
    * the user's PRIOR events (score-then-update, so the score never
    * tests a value against a distribution that already contains it).
    * Emits (user_id, event_id, z, is_anomaly) per event; |z| > 2 flags,
    * and the first two events of a user emit z = 0 (no variance yet) —
    * the same cold-start convention monitoring systems use. The batch
    * twin `q_anomaly_zscore` scores against the FULL-corpus per-user
    * moments; the streaming op is the prefix-causal variant, and the
    * spec replays it against an exact sequential model. Events sort
    * within a micro-batch (same device as [[throttle]]); the state is
    * never evicted ([[keyedFold]]). Input schema: (user_id LONG,
    * event_id LONG, value DOUBLE, ts LONG micros). */
  def anomalyStream(events: DataFrame): Dataset[(Long, Long, Double, Boolean)] = {
    import events.sparkSession.implicits._
    val in = events.select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("value").cast("double"), col("ts").cast("long"))
      .as[(Long, Long, Double, Long)]
    keyedFold(in)(_._1, r => (r._4, r._2)) {
      (uid, st: Option[(Double, Double, Double)], rows) =>
        var (n, mean, m2) = st.getOrElse((0.0, 0.0, 0.0))
        val out = rows.map { case (_, eid, v, _) =>
          // score against prior state (sample variance, matching
          // stddev_samp)
          val z =
            if (n >= 2.0 && m2 > 0.0) (v - mean) / math.sqrt(m2 / (n - 1.0))
            else 0.0
          // Welford update
          n += 1.0
          val d = v - mean
          mean += d / n
          m2 += d * (v - mean)
          (uid, eid, Num.r4(z), math.abs(z) > 2)
        }
        ((n, mean, m2), out)
    }
  }

  /** Streaming ordered funnel — the incremental twin of the batch
    * `Relational.funnel` (view → click → purchase, each stage counted
    * only at-or-after the user's entry into the previous one), maintained
    * as a per-user state machine in `flatMapGroupsWithState`: state is
    * ONE (stage, entry-ts) pair per live user — fixed-width, independent
    * of event volume, the bounded-state contract every stateful op here
    * keeps. Each update emits the user's current stage, so Update-mode
    * consumers always hold the latest funnel position and stage counts
    * are a groupBy away. Events are sorted within a micro-batch by
    * (ts, funnel-stage order) — stage order breaks ts ties so a same-ts
    * view+click advances both stages, matching the batch funnel's
    * min-ts comparisons; cross-batch regressions (an event older than
    * the user's current stage entry) cannot retro-advance the machine —
    * the watermark-bounded reorder window is the deployment knob, and
    * the batch operator is the exact replay for audits. The state is
    * never evicted ([[keyedFold]]).
    * Input schema: (user_id LONG, event_type STRING, ts LONG micros). */
  def funnelStream(events: DataFrame): Dataset[(Long, Int)] = {
    import events.sparkSession.implicits._
    val stages = Array("view", "click", "purchase")
    // Tie-break equal timestamps by FUNNEL ORDER (view < click <
    // purchase), not lexicographically — a same-ts (view, click) pair
    // must advance two stages exactly as the batch funnel's
    // `min(click ts) >= min(view ts)` comparison counts it, or the
    // "batch operator is the exact replay" audit contract breaks.
    // Unknown event types sort last; they never match a stage.
    def ord(tpe: String): Int = {
      val i = stages.indexOf(tpe); if (i < 0) stages.length else i
    }
    val in = events.select(col("user_id").cast("long"), col("event_type"),
        col("ts").cast("long"))
      .as[(Long, String, Long)]
    keyedFold(in, OutputMode.Update)(_._1, r => (r._3, ord(r._2))) {
      (uid, st: Option[(Int, Long)], rows) =>
        var (stage, tEntry) = st.getOrElse((0, Long.MinValue))
        rows.foreach { case (_, tpe, ts) =>
          if (stage < stages.length && tpe == stages(stage) && ts >= tEntry) {
            stage += 1; tEntry = ts
          }
        }
        ((stage, tEntry), Seq((uid, stage)))
    }
  }

  /** Streaming EWMA — the monitoring smoother as keyed state: ONE
    * double (the running y) plus nothing else per live user, updated
    * y ← α·x + (1−α)·y in (ts, event_id) order within each micro-batch.
    * Deliberately the INFINITE-memory recurrence from stream start —
    * the batch `q_ewma` keeps a trailing-20 window because an audit
    * query re-reads history and wants bounded recomputation, while the
    * streaming smoother's whole point is that the recurrence IS the
    * state (the window would force buffering 20 values per user for no
    * operational gain; α already discounts the past geometrically).
    * The spec replays an exact sequential model across batch splits.
    * Emits (user_id, event_id, ewma) per event, r4-rounded on emit
    * only — state carries full precision so splits cannot drift. The
    * state is never evicted ([[keyedFold]]). Input schema:
    * (user_id LONG, event_id LONG, value DOUBLE, ts LONG). */
  def ewmaStream(events: DataFrame, alpha: Double = 0.3): Dataset[(Long, Long, Double)] = {
    import events.sparkSession.implicits._
    val in = events.select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("value").cast("double"), col("ts").cast("long"))
      .as[(Long, Long, Double, Long)]
    keyedFold(in)(_._1, r => (r._4, r._2)) {
      (uid, st: Option[(Boolean, Double)], rows) =>
        var (seeded, y) = st.getOrElse((false, 0.0))
        val out = rows.map { case (_, eid, v, _) =>
          y = if (seeded) alpha * v + (1 - alpha) * y else v
          seeded = true
          (uid, eid, Num.r4(y))
        }
        ((seeded, y), out)
    }
  }

  /** Streaming CUSUM changepoint monitor — the batch `q_cusum`
    * ([[graft.ops.Relational.cusumShift]]) run as keyed state, in the
    * calibrate-then-monitor posture real deployments use: per-user
    * μ/σ come in as a STATIC calibration table (trained on history —
    * here the same 6-dp-rounded moments the batch op computes) joined
    * broadcast onto the stream, and the per-user state is exactly TWO
    * doubles: the running drift-compensated cumulative sum C and its
    * running minimum m. Emitting s = C − min(m, 0) replays the batch
    * op's cumsum-above-running-min identity with the SAME sequential
    * arithmetic the window frames execute (incremental left-to-right
    * adds), so streamed statistics and 4σ shift flags equal the batch
    * result bit-for-bit on an in-order replay — not just approximately
    * (spec-asserted against `q_cusum` across batch splits with shuffled
    * intra-batch arrival). Rows sort by (ts, event_id) within each
    * micro-batch; state carries full precision, r4 rounding happens on
    * emit only. Users absent from the calibration table (or with a
    * degenerate σ) carry a zero statistic and never flag, matching the
    * batch op. The state is never evicted ([[keyedFold]]).
    * Input schema: (user_id LONG, event_id LONG, value DOUBLE, ts
    * LONG); stats schema: (user_id, mu, sigma). */
  def cusumStream(events: DataFrame, stats: DataFrame)
      : Dataset[(Long, Long, Double, Boolean)] = {
    import events.sparkSession.implicits._
    val calib = broadcast(stats.select(
      col("user_id").cast("long").as("user_id"),
      col("mu").cast("double").as("mu"),
      col("sigma").cast("double").as("sigma")))
    val in = events.select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("value").cast("double"), col("ts").cast("long"))
      .join(calib, Seq("user_id"), "left")
      .select(col("user_id"), col("event_id"), col("value"), col("ts"),
        coalesce(col("mu"), lit(0.0)).as("mu"),
        coalesce(col("sigma"), lit(0.0)).as("sigma"))
      .as[(Long, Long, Double, Long, Double, Double)]
    keyedFold(in)(_._1, r => (r._4, r._2)) {
      (uid, st: Option[(Double, Double)], rows) =>
        var (c, m) = st.getOrElse((0.0, Double.PositiveInfinity))
        val out = rows.map { case (_, eid, v, _, mu, sigma) =>
          val ok = sigma != 0.0
          c += (if (ok) v - mu - 0.5 * sigma else 0.0)
          m = math.min(m, c)
          val s = c - math.min(m, 0.0)
          (uid, eid, Num.r4(s), ok && s > 4.0 * sigma)
        }
        ((c, m), out)
    }
  }

  /** Streaming SCD Type-2 — the CDC form of [[graft.ops.Relational.scd2]]:
    * each arriving change OPENS a version (valid_to NULL, current) and
    * CLOSES its predecessor (valid_to = the new change's ts). Append-mode
    * streams cannot retract the already-emitted open version, so the
    * operator emits VERSIONED rows — a per-user monotone `version`
    * counter, readers keep the max-version row per (user_id, event_id),
    * the same contract as [[kmvDistinctStream]]'s versioned summaries
    * (and exactly how a warehouse MERGE applies a CDC stream). Keyed
    * state is three longs (last event_id, its valid_from, the version
    * counter) per live user — fixed width forever. After any replay,
    * the max-version snapshot equals the batch SCD2 build row for row
    * (spec-asserted across batch splits) — PROVIDED (user_id, event_id)
    * pairs are unique in the change feed, which CDC key semantics (and
    * the events fixture) guarantee. If the same event_id reappeared in a
    * later change row for a user, the max-version reader would supersede
    * the earlier closed interval instead of keeping both history rows;
    * a feed without unique change keys must read by version RANGE per
    * user instead of max-version per (user_id, event_id). Rows sort by (ts, event_id)
    * within each micro-batch; the state is never evicted ([[keyedFold]]).
    * Input schema: (user_id LONG, event_id LONG, ts LONG micros).
    * Emits (user_id, event_id, version, valid_from, valid_to, is_current)
    * with valid_to = -1 standing for the open interval's NULL. */
  def scd2Stream(events: DataFrame): Dataset[(Long, Long, Long, Long, Long, Boolean)] = {
    import events.sparkSession.implicits._
    val in = events.select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts").cast("long"))
      .as[(Long, Long, Long)]
    keyedFold(in)(_._1, r => (r._3, r._2)) {
      (uid, st: Option[(Long, Long, Long)], rows) =>
        var cur = st
        val out = rows.flatMap { case (_, eid, ts) =>
          cur match {
            // CROSS-BATCH late-data guard (the funnelStream `ts >= tEntry`
            // posture): an event older than the standing version's
            // valid_from cannot supersede it — emitting would close the
            // current version with valid_to < valid_from (an inverted
            // interval) and promote a STALE row to is_current, diverging
            // from the batch SCD2 build's global ts order. Within a batch
            // the sort handles ordering; across batches late events are
            // conclusively dropped, the standard streaming SCD2 policy.
            case Some((_, prevFrom, _)) if ts < prevFrom => Nil
            case Some((prevEid, prevFrom, ver)) =>
              // close the predecessor, open the new version
              cur = Some((eid, ts, ver + 2))
              Seq((uid, prevEid, ver + 1, prevFrom, ts, false),
                (uid, eid, ver + 2, ts, -1L, true))
            case None =>
              cur = Some((eid, ts, 1L))
              Seq((uid, eid, 1L, ts, -1L, true))
          }
        }
        // a group is never empty, so a new key's first row opened a version
        (cur.get, out)
    }
  }

  /** PII scrub at ingest — the cleaning stage run where the data LANDS:
    * [[graft.ext.TextAnalysis.piiRedactOnDocs]]'s staged regexp cascade
    * is pure per-row projection, so it runs unchanged under Structured
    * Streaming (append-mode, zero state, no watermark) and the corpus
    * is born scrubbed — no window where raw PII sits queryable in the
    * lake. The spec replays a batch twin over the same rows to prove
    * stream == batch exactly (stateless ⇒ trivially so, which is the
    * point: cleaning belongs at ingest precisely because it needs no
    * state). */
  def piiRedactStream(docs: DataFrame): DataFrame =
    graft.ext.TextAnalysis.piiRedactOnDocs(docs, "text")

  /** Streaming KMV distinct-count — the bottom-K sketch of the batch
    * `d_kmv_distinct` run as keyed streaming state: per group the
    * GroupState holds the K smallest DISTINCT hashes seen so far (a
    * sorted Seq ≤ K longs — fixed-width state forever, like the CMS grid
    * and MG counters beside it). The bottom-K union is idempotent,
    * commutative, and associative, so the streamed summary after ANY
    * batch split equals the batch aggregate over the same rows exactly —
    * not approximately — and the estimate replays the batch twin's
    * closed form: n_seen when fewer than K hashes exist (exact regime),
    * else (K−1)·2⁶⁰/hₖ (same [[graft.ext.TextAnalysis.KmvK]] /
    * `KmvDomain` constants, same r4 rounding — spec-asserted equal to
    * `d_kmv_distinct`). Emits (group, version, hk, n_seen, est) per
    * group per batch; readers keep the max-version row. Input is
    * (group, hash) pairs — hash upstream with `md5_prefix60`, the same
    * portable hash the batch op folds. */
  def kmvDistinctStream(pairs: Dataset[(String, Long)],
      k: Int = graft.ext.TextAnalysis.KmvK)
      : Dataset[(String, Long, Long, Long, Double)] = {
    import pairs.sparkSession.implicits._
    val domain = graft.ext.TextAnalysis.KmvDomain
    pairs.groupByKey(_._1)
      .mapGroupsWithState[(Long, Seq[Long]), (String, Long, Long, Long, Double)](
        GroupStateTimeout.NoTimeout) {
        (grp: String, rows: Iterator[(String, Long)],
         state: GroupState[(Long, Seq[Long])]) =>
          val (ver, prev) = state.getOption.getOrElse((0L, Seq.empty[Long]))
          val set = new java.util.TreeSet[java.lang.Long]()
          prev.foreach(set.add(_))
          rows.foreach { case (_, h) =>
            set.add(h)
            if (set.size > k) set.pollLast()
          }
          val sk = {
            val out = new Array[Long](set.size)
            var i = 0
            val it = set.iterator()
            while (it.hasNext) { out(i) = it.next(); i += 1 }
            out
          }
          val hk = if (sk.isEmpty) 0L else sk.last
          val nSeen = sk.length.toLong
          val est =
            if (nSeen < k) nSeen.toDouble
            else Num.r4((k - 1).toDouble * domain / hk.toDouble)
          state.update((ver + 1, sk.toSeq))
          (grp, ver + 1, hk, nSeen, est)
      }
  }

  /** Streaming Misra-Gries top-k — the one-pass heavy-hitter summary with
    * permanently bounded state, the streaming twin of the batch
    * `ext.TextAnalysis.heavyHitters` merged-MG (same `d_heavy_hitters`
    * oracle family). Tokens shard by hash(token) % `shards`; each shard's
    * GroupState holds ≤ `k` (token → counter) entries maintained with the
    * mergeable-summaries rule (Agarwal et al. 2012): add the batch's
    * EXACT counts, then if over k entries subtract the (k+1)-th largest
    * combined count from all and drop non-positives. Unlike the classic
    * per-token MG update this is independent of row order within a batch,
    * so results are deterministic for a given batch split — and when all
    * data arrives in one batch each shard reproduces the batch merged-MG
    * exactly (spec-asserted). Total state is shards×k counters FOREVER —
    * the same bounded-state contract as the CMS grid — and since a token
    * maps to exactly one shard, the union of shard summaries carries the
    * per-shard MG guarantee: c(t) − est(t) ≤ N_shard/(k+1), so every
    * token with c(t) above that bound is present in the summary. Emits
    * (shard, version, summary) per shard per batch; readers keep the
    * max-version row per shard. Runs identically over batch Datasets
    * (Spark executes mapGroupsWithState in both modes). */
  def mgTopkStream(tokens: Dataset[String], k: Int = 20, shards: Int = 4)
      : Dataset[(Int, Long, Seq[(String, Long)])] = {
    import tokens.sparkSession.implicits._
    tokens.groupByKey(t => math.floorMod(t.hashCode, shards))
      .mapGroupsWithState[(Long, Map[String, Long]), (Int, Long, Seq[(String, Long)])](
        GroupStateTimeout.NoTimeout) {
        (shard: Int, rows: Iterator[String],
         state: GroupState[(Long, Map[String, Long])]) =>
          val (ver, prev) = state.getOption.getOrElse((0L, Map.empty[String, Long]))
          val batch = rows.foldLeft(Map.empty[String, Long]) { (m, t) =>
            m.updated(t, m.getOrElse(t, 0L) + 1L)
          }
          val combined = (prev.keySet ++ batch.keySet).iterator
            .map(t => t -> (prev.getOrElse(t, 0L) + batch.getOrElse(t, 0L)))
            .toMap
          val pruned =
            if (combined.size <= k) combined
            else {
              val thr = combined.values.toSeq.sorted(Ordering[Long].reverse)(k)
              combined.collect { case (t, c) if c - thr > 0 => t -> (c - thr) }
            }
          state.update((ver + 1, pruned))
          (shard, ver + 1, pruned.toSeq.sortBy { case (t, c) => (-c, t) })
      }
  }

  /** Checkpointed exactly-once sink into a room-partitioned parquet table
    * (the engine's analog of the reference's HBase writer, ST7). */
  def startSink(readings: DataFrame, outPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    readings.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .partitionBy("room")
      .format("parquet")
      .option("path", outPath)
      .start()

  /** Checkpointed exactly-once sink into the DAY-partitioned lake — ST7
    * joined to the batch path's partitioned-scan story
    * (`PartitionedScan.eventsByDay`): the stream lands one directory per
    * EVENT-TIME calendar day, the steady-state ingest layout, so the
    * growing table keeps the partitioned-read contract while batches
    * append — a dim-filtered join over it still prunes day directories
    * dynamically (spec-asserted in StreamIngestSpec), and the
    * FileStreamSink's transaction log keeps concurrent batch reads
    * consistent with in-flight appends (a reader lists committed batches,
    * never half-written files).
    *
    * Day-2 compaction caveat — the flip side of that same transaction
    * log: batch readers of a FileStreamSink directory resolve files
    * through `_spark_metadata`, which pins EXACT file names, so
    * `TableOps.compactPartition` must NOT rewrite files underneath it
    * (readers would chase deleted files; this is the problem
    * log-rewriting table formats solve). The composition that works:
    * periodically fold the sink's closed day directories into the
    * CATALOG lake table (`PartitionedScan.eventsByDay`-shaped, no
    * metadata log) and compact THERE — the pattern the spec suite
    * exercises on the catalog side. */
  def startDaySink(readings: DataFrame, outPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    readings.withColumn("day", to_date(col("event_ts")))
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .partitionBy("day")
      .format("parquet")
      .option("path", outPath)
      .start()
}
