package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Day-fold maintenance for the streamed lake — the missing composition
  * between the streaming day sink (`StreamIngest.startDaySink`: a
  * FileStreamSink whose `_spark_metadata` log pins exact file names, so
  * compaction must NEVER rewrite files under it) and the catalog lake
  * table (`PartitionedScan.eventsByDay`-shaped: plain day-partitioned
  * directories, compactable with `TableOps.compactPartition`).
  *
  * Steady state: the stream appends small per-batch files into
  * `day=<event-date>` directories; once a day is CLOSED (strictly older
  * than the watermark — no in-flight batch can still append to it),
  * [[foldClosedDays]] copies its rows into the catalog lake and compacts
  * the folded partition there. The sink's metadata log is never
  * rewritten; a folded day's sink directory is cold data that
  * [[retireFoldedSinkDays]] drops wholesale — every read in this module
  * stays correct afterwards because listing comes from the log, the
  * sink read pins the lake's schema (no inference footer-open), and
  * partition pruning drops retired days before any file opens.
  *
  * Idempotence is by ANTI-JOIN, not by marker: a fold appends only the
  * sink rows whose key is absent from the lake's same-day partition
  * (null-SAFE key equality — a NULL-valued reading must still match its
  * already-landed copy, or every crash/re-run cycle would duplicate it),
  * so a re-run after ANY crash — including a death mid-append that left
  * a subset of task files committed — appends exactly the missing rows
  * and converges. The completion bookkeeping
  * (`graft.folded.days` + `graft.retired.floor` on the lake table) is an
  * optimization that lets later runs and [[combinedRead]] skip settled
  * days, never a correctness input — and it is BOUNDED: settled days
  * drop out of the list when their sink dirs retire (the floor, one
  * day-string, absorbs them), so a years-long daily cadence cannot grow
  * a table property past metastore value limits.
  *
  * 100 TB posture: one fold touches one day of data (the anti-join keys
  * shuffle one day's rows against one lake partition — static partition
  * pruning on both sides), compaction rewrites one partition directory,
  * and the days loop is driver-side over a bounded list of calendar
  * days, not data.
  *
  * LATE-DATA CONTRACT (read this before sizing the watermark): Spark
  * enforces event-time watermarks only at STATEFUL operators; the day
  * sink (`StreamIngest.startDaySink`) is a stateless partitioned file
  * sink, so an event later than the watermark delay is still COMMITTED
  * into its (already-closed) day directory — the engine does not drop
  * it. This module therefore treats "day < watermarkDay ⇒ closed" as a
  * well-sized-watermark ASSUMPTION and makes violations loud and exact
  * instead of silent loss: every settle records the day's committed
  * sink file count, [[foldClosedDays]] re-examines settled-unretired
  * days and RE-FOLDS any whose committed count grew (the anti-join
  * keeps the re-fold exact; counts come from the sink METADATA LOG —
  * the same universe the fold reads — not a raw directory listing, see
  * [[committedDayFileCounts]]), [[retireFoldedSinkDays]] re-counts immediately
  * before each delete and refuses to retire a grown day (the next fold
  * tick absorbs it first), and a day that gains data AFTER its sink
  * directory was retired — the one case that cannot be absorbed,
  * because the sink's metadata log names deleted files — fails both
  * entry points with a sizing diagnostic. Net: a late event inside the
  * fold+retire lag is folded (visible after the next tick); a late
  * event beyond it halts maintenance loudly; no row is ever silently
  * hidden and deleted.
  */
object LakeFold {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Settled-but-unretired days (the bounded working list). Days at or
    * below [[retiredFloor]] are ALSO settled; each consumer's settled
    * closure checks both (built from one [[bookkeeping]] fetch). */
  private[graft] def foldedDays(spark: SparkSession, lakeTable: String): Seq[String] =
    foldedDayCounts(spark, lakeTable).map(_._1)

  /** Settled-unretired days WITH the sink data-file count recorded at
    * settle time (`day:count` entries in `graft.folded.days`) — the
    * growth detector's baseline. `None` count tolerates entries written
    * before counts existed (growth check then treats the day as grown
    * once, re-folds, and records a real count). */
  private[graft] def foldedDayCounts(spark: SparkSession, lakeTable: String)
      : Seq[(String, Option[Int])] =
    tableProp(spark, lakeTable, "graft.folded.days")
      .map(splitDayEntries(_).map(parseDayCount))
      .getOrElse(Nil)

  /** One definition of the `graft.folded.days` entry split shared by
    * both readers — a format change edited in only one place. */
  private def splitDayEntries(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  private def parseDayCount(entry: String): (String, Option[Int]) =
    entry.split(":") match {
      case Array(day, n) => (day, n.toIntOption)
      case _             => (entry, None)
    }

  /** Every day <= this day-string has been folded AND had its sink dir
    * retired. One O(1) property, so retirement PRUNES bookkeeping
    * instead of growing it. */
  private[graft] def retiredFloor(spark: SparkSession, lakeTable: String): Option[String] =
    tableProp(spark, lakeTable, "graft.retired.floor").filter(_.nonEmpty)

  private def lakeMeta(spark: SparkSession, table: String) =
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))

  private def tableProp(spark: SparkSession, table: String, key: String): Option[String] =
    lakeMeta(spark, table).properties.get(key)

  /** (settled-unretired list, floor) from ONE metadata fetch — the two
    * properties are always read together, and against a real metastore
    * each getTableMetadata is a round-trip. */
  private def bookkeeping(spark: SparkSession, lakeTable: String)
      : (Seq[String], Option[String]) = {
    val props = lakeMeta(spark, lakeTable).properties
    val listed = props.get("graft.folded.days")
      .map(splitDayEntries(_).map(parseDayCount(_)._1)).getOrElse(Nil)
    (listed, props.get("graft.retired.floor").filter(_.nonEmpty))
  }

  /** Record `day` as settled with `fileCount` committed sink data files
    * observed at settle time (replacing any prior entry for the day —
    * a growth-triggered re-fold re-records the new count). */
  private def markFolded(spark: SparkSession, lakeTable: String, day: String,
      fileCount: Int): Unit = {
    val all = (foldedDayCounts(spark, lakeTable).filterNot(_._1 == day) :+
      (day, Some(fileCount))).sortBy(_._1)
      .map { case (d, n) => n.fold(d)(c => s"$d:$c") }
    spark.sql(s"ALTER TABLE $lakeTable SET TBLPROPERTIES " +
      s"('graft.folded.days' = '${all.mkString(",")}')")
  }

  /** LOG-COMMITTED data-file count per sink day, from one replay of the
    * sink's `_spark_metadata` log — the growth detector's baseline and
    * probe. It must be the log and NOT a raw directory listing: the
    * fold reads exactly the log-committed rows ([[sinkRows]] resolves
    * through `_spark_metadata`), so a baseline that counted ALL files
    * would include a file WRITTEN before the count probe but
    * log-committed after the fold read — counted-but-not-folded; its
    * later commit adds no new file, the growth detector never fires,
    * and retirement deletes the only copy of committed rows (the silent
    * loss the module doc forbids). Counting the same universe the fold
    * reads closes that hole: any commit after the baseline probe RAISES
    * the committed count, so growth fires. The probe is taken BEFORE
    * the fold read (see the pass-1 comment in [[foldClosedDays]]), so a
    * commit landing between probe and read is both folded now and
    * re-detected as growth next run — one spurious empty anti-join, the
    * conservative direction. Driver-side metadata replay, no data-file
    * opens. (Counts recorded by builds that baselined on raw listings
    * could overcount vs this probe; such days re-base the first time
    * they re-fold — the `None`-count tolerance in [[parseDayCount]]
    * already covers entries with no count at all.) */
  private[graft] def committedDayFileCounts(spark: SparkSession,
      sinkPath: String): Map[String, Int] = {
    import org.apache.spark.sql.execution.streaming.sinks.FileStreamSinkLog
    val logDir = new org.apache.hadoop.fs.Path(sinkPath, "_spark_metadata")
    val fs = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(logDir)) Map.empty
    else {
      val sinkLog =
        new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark, logDir.toString)
      sinkLog.allFiles().toSeq
        .map(f => new org.apache.hadoop.fs.Path(f.path).getParent.getName)
        .filter(_.startsWith("day="))
        .groupBy(_.stripPrefix("day="))
        .map { case (d, fsForDay) => d -> fsForDay.size }
    }
  }

  private[graft] def committedDayFileCount(spark: SparkSession,
      sinkPath: String, day: String): Int =
    committedDayFileCounts(spark, sinkPath).getOrElse(day, 0)

  /** Fail-loudly guard against the unrecoverable late-data case: a day
    * at or below the retired floor whose sink directory EXISTS again
    * means the stream committed an event after that day's sink files
    * were deleted. Those rows cannot be folded — the sink's metadata
    * log for that day names deleted files, so any log-resolved read of
    * it fails — and silently proceeding would let the next retirement
    * delete the only copy. Halt maintenance and tell the operator to
    * re-size the watermark delay (the module doc's late-data
    * contract). */
  private def assertNoRetiredResurrection(spark: SparkSession, sinkPath: String,
      lakeTable: String): Unit =
    retiredFloor(spark, lakeTable).foreach { floor =>
      val back = sinkDays(spark, sinkPath).filter(_ <= floor)
      require(back.isEmpty,
        s"late data arrived in RETIRED sink day(s) ${back.mkString(", ")} " +
          s"(retired floor $floor): the stream committed events later than " +
          "the watermark delay plus the fold+retire lag. These rows cannot " +
          "be folded (the sink metadata log for those days names deleted " +
          "files) and will NOT be silently deleted — recover them by " +
          "reading the resurrected day directory directly, then delete it, " +
          "and size the stream's watermark delay to cover your real " +
          "late-data horizon")
    }

  /** The sink's committed rows — `spark.read.parquet` on a FileStreamSink
    * directory resolves files through `_spark_metadata`, so half-written
    * or uncommitted-batch files are invisible by construction. The read
    * takes the LAKE's schema explicitly: schema inference opens some
    * data file's footer, and after [[retireFoldedSinkDays]] the first
    * log entry may point at a deleted file — with the schema pinned, no
    * file is touched until execution, by which point partition pruning
    * has dropped every retired day. The pinned schema would silently
    * NULL-fill a lake column the sink never wrote (where inference
    * failed loudly), so [[foldClosedDays]] runs [[assertNoDrift]] — a
    * one-footer check against a live day's files — before any fold. */
  private def sinkRows(spark: SparkSession, sinkPath: String,
      lakeTable: String): DataFrame =
    spark.read.schema(spark.table(lakeTable).schema).parquet(sinkPath)

  /** Writer schema of one day directory, from the first READABLE parquet
    * footer among its data files — `None` when the dir holds no data
    * files at all (writer died before its first file: nothing to fold,
    * nothing to drift). A writer that died MID-WRITE can leave a torn
    * file with no footer; inferring over the whole dir would surface
    * that as an opaque parquet error and wedge every fold until manual
    * cleanup, so this probes file-by-file and falls back past torn ones.
    * When EVERY data file is unreadable: the FOLD path (`lenient =
    * false`, the default) throws — the day is closed, in-flight writes
    * are impossible, so all-torn there is real crash residue and the
    * error names the offending files. The READ-probe path passes
    * `lenient = true` and gets `None` instead: [[combinedRead]] probes
    * the NEWEST unsettled day, which is exactly the directory the live
    * writer is appending to, and at day rollover its only file can be
    * mid-write with no footer yet — healthy operation, not residue, so
    * the probe falls back to the next-newest day rather than failing.
    * One listStatus + (usually) one footer open per call. */
  private[graft] def dayWriterSchema(spark: SparkSession, sinkPath: String,
      day: String, lenient: Boolean = false)
      : Option[org.apache.spark.sql.types.StructType] = {
    val dir = new org.apache.hadoop.fs.Path(sinkPath, s"day=$day")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return None
    val files = fs.listStatus(dir).toIndexedSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath)
    if (files.isEmpty) return None
    val failures = scala.collection.mutable.ListBuffer.empty[(String, Throwable)]
    val found = files.iterator.map { f =>
      try Some(Tables.fileSchema(spark, f.toString))
      catch {
        case scala.util.control.NonFatal(e) => failures += f.toString -> e; None
      }
    }.collectFirst { case Some(s) => s }
    if (found.isEmpty && !lenient)
      throw new IllegalStateException(
        s"sink day=$day has ${files.length} data file(s) but none carries a " +
          s"readable parquet footer (torn crash residue?): " +
          failures.map(_._1).mkString(", "), failures.last._2)
    found
  }

  /** Loud lake-vs-sink schema-drift check against ONE day's writer
    * schema, restoring the failure the pinned-schema read traded away:
    * without this, a lake column the sink never wrote would be silently
    * NULL-filled, folded, settled, and the authentic sink copy later
    * retired. Reads the day dir DIRECTLY (below the sink root, so no
    * _spark_metadata resolution) — fine for a schema-only look:
    * uncommitted files in the dir carry the same writer schema. A
    * no-data-file day passes vacuously. */
  private def assertNoDrift(spark: SparkSession, sinkPath: String,
      lakeTable: String, liveDay: String): Unit =
    dayWriterSchema(spark, sinkPath, liveDay)
      .foreach(assertSchemaMatches(spark, lakeTable, liveDay, _))

  private def assertSchemaMatches(spark: SparkSession, lakeTable: String,
      day: String, schema: org.apache.spark.sql.types.StructType): Unit = {
    val fileCols = schema.map(f => f.name -> f.dataType).toSet
    val lakeCols = spark.table(lakeTable).schema
      .filterNot(_.name == "day").map(f => f.name -> f.dataType).toSet
    require(fileCols == lakeCols,
      s"lake/sink schema drift: sink day=$day files carry " +
        s"${fileCols.toSeq.sortBy(_._1).mkString(", ")} but $lakeTable " +
        s"expects ${lakeCols.toSeq.sortBy(_._1).mkString(", ")} — folding " +
        "would NULL-fill or drop columns; reconcile the schemas first")
  }

  /** The sink's day partitions, from DIRECTORY NAMES, not a data scan: a
    * full-sink `distinct(day)` query would open every committed file,
    * which fails once retired days' files are gone — the directory
    * listing is metadata-only and equally authoritative (a `day=` dir
    * exists iff some batch wrote there; a dir holding only
    * never-committed files yields zero committed rows downstream —
    * [[foldClosedDays]] leaves such a day UNSETTLED in case a restarted
    * stream replays the batch). */
  private[graft] def sinkDays(spark: SparkSession, sinkPath: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(sinkPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toIndexedSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("day="))
      .map(_.stripPrefix("day="))
      .sorted
  }

  /** Null-safe conjunction over `keys` between two aliased sides — the
    * anti-join predicate everywhere in this module. Plain `===` (or the
    * usingColumns form) is null-UNSAFE: a row with a NULL key column
    * would never match its own already-landed copy, so every
    * crash/re-run would append it again. `<=>` is still an equi-join
    * predicate, so the planner keeps hash/sort-merge strategies. */
  private def nullSafeOn(left: String, right: String, keys: Seq[String]): Column =
    keys.map(k => col(s"$left.$k") <=> col(s"$right.$k")).reduce(_ && _)

  /** Fold ONE day from the sink into the lake: append the day's sink
    * rows that are not already in the lake's same-day partition (keyed
    * on `keyCols`, defaulting to every lake column — full-row identity).
    * Exposed package-side so the crash spec can drive a partial fold.
    * Returns the number of rows appended. */
  private[graft] def foldDay(spark: SparkSession, sinkPath: String,
      lakeTable: String, day: String,
      keyCols: Seq[String] = Nil): Long = {
    val cols = spark.table(lakeTable).columns.toIndexedSeq
    val dayRows = sinkRows(spark, sinkPath, lakeTable)
      .filter(col("day").cast("string") === day)
      .select(cols.map(col): _*) // table column order: insertInto is positional
    foldRowsIntoLake(spark, lakeTable, day, dayRows, keyCols)
  }

  /** The fold's anti-join core over an ALREADY-RESOLVED source of one
    * day's rows — shared by the log-resolved path ([[foldDay]]) and the
    * log-BYPASSING salvage path ([[salvageResurrectedDay]], where the
    * day's metadata log names deleted files and must not be consulted). */
  private def foldRowsIntoLake(spark: SparkSession, lakeTable: String,
      day: String, dayRows: DataFrame, keyCols: Seq[String]): Long = {
    val lake = spark.table(lakeTable)
    val cols = lake.columns.toIndexedSeq
    val keys = if (keyCols.nonEmpty) keyCols else cols
    val existing = lake.filter(col("day").cast("string") === day)
    val missing = dayRows.as("s")
      .join(existing.select(keys.map(col): _*).as("l"),
        nullSafeOn("s", "l", keys), "left_anti")
    // persist across the count + insert pair: without it the day-scan +
    // anti-join shuffle — the fold's whole cost — executes twice
    missing.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = missing.count()
      if (n > 0) missing.write.insertInto(lakeTable)
      n
    } finally {
      missing.unpersist(): Unit
      // The insert's own cache refresh (refreshByPath over the persisted
      // `missing`, which reads this lake) RE-LISTS the freshly-inserted
      // partition files into the lake relation's private file-status
      // region — a relation instance shared, via the catalog's relation
      // cache, with any reader DataFrame planned before this fold. When
      // compaction then swaps those files, that cached listing would
      // strand such readers on deleted paths; clearing it here makes
      // them re-list the live layout instead.
      TableOps.refreshRelationIndex(lake)
    }
  }

  /** Fold every sink day STRICTLY older than `watermarkDay` into
    * `lakeTable`, oldest first; compact each folded partition; record
    * completion. Re-runnable at any point: fully-folded days are skipped
    * via the completion property, partially-folded days (crash residue)
    * finish via the anti-join, and compaction's own stage+swap recovery
    * handles a death mid-rewrite (`TableOps.stagePartitionCompaction`).
    * Oldest-first processing marks days settled as they complete. A
    * closed day whose directory holds only never-committed files is
    * examined but NOT settled (see the in-loop comment), so the settled
    * set can have a gap; [[retireFoldedSinkDays]] only ever retires the
    * maximal SETTLED PREFIX of the sink's days, so such a gap merely
    * pauses retirement at that day — the floor can never come to cover
    * an unsettled one.
    *
    * Late-data defense (see the module doc's contract): before folding,
    * every settled-UNRETIRED day whose LOG-COMMITTED file count exceeds
    * its settle-time record is RE-FOLDED — a watermark-delay
    * violation landed rows in a day this module already hid from
    * [[combinedRead]], and the re-fold (exact, by the same anti-join)
    * moves them into the lake where they become visible again. The
    * violation is logged loudly with the file-count delta. A day
    * resurrected AFTER retirement fails the whole call instead
    * ([[assertNoRetiredResurrection]]).
    * Returns the days folded AND SETTLED (or re-settled) by this run. */
  def foldClosedDays(spark: SparkSession, sinkPath: String, lakeTable: String,
      watermarkDay: String, keyCols: Seq[String] = Nil,
      targetFileBytes: Long = 128L * 1024 * 1024): Seq[String] = {
    assertNoRetiredResurrection(spark, sinkPath, lakeTable)
    val counts = foldedDayCounts(spark, lakeTable).toMap
    val floor = retiredFloor(spark, lakeTable)
    val days = sinkDays(spark, sinkPath)
    // partition existence is probed at the table's CATALOG location, not
    // a reconstructed warehouse path — an external lake would otherwise
    // never probe true and silently skip compaction forever
    val lakeLoc = new org.apache.hadoop.fs.Path(lakeMeta(spark, lakeTable).location)
    val fs = lakeLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)

    def foldAndSettle(day: String, countNow: Int): Boolean = {
      // drift-check EVERY day about to fold, not just the first with a
      // data file: a long-lived stream restarted with an evolved schema
      // leaves different closed days carrying different writer schemas,
      // and a drifted later day would otherwise be silently NULL-filled,
      // folded, settled, and its authentic sink copy retired. One
      // listStatus + one footer per day — noise next to the fold itself.
      // (An EMPTY day dir has no schema to read and nothing to fold, so
      // it can't drift — assertNoDrift passes it vacuously.)
      assertNoDrift(spark, sinkPath, lakeTable, day)
      foldDay(spark, sinkPath, lakeTable, day, keyCols): Unit
      if (fs.exists(new org.apache.hadoop.fs.Path(lakeLoc, s"day=$day"))) {
        TableOps.compactPartition(spark, lakeTable, "day", day, targetFileBytes): Unit
        markFolded(spark, lakeTable, day, countNow)
        true
      } else {
        // zero committed rows AND no lake partition: the day dir holds
        // only never-committed files. Do NOT settle it — a restarted
        // stream may REPLAY that batch and commit rows into this day
        // later; a settled day would hide them from combinedRead and
        // retirement would then delete the only copy. Leaving it
        // unsettled costs one pruned empty fold per run and converges
        // the moment a replay commits (or never, harmlessly).
        false
      }
    }

    // pass 1 — re-fold settled-unretired days that GREW since settling
    // (committed count snapshotted BEFORE any fold read: a commit
    // landing between the snapshot and a read is both folded now and
    // re-checked next run — the conservative order)
    val committedNow = committedDayFileCounts(spark, sinkPath)
    val regrown = days.filter { day =>
      counts.contains(day) && {
        val now = committedNow.getOrElse(day, 0)
        val grew = counts(day).forall(now > _)
        if (grew) {
          log.warn(s"sink day=$day grew after settling " +
            s"(${counts(day).fold("?")(_.toString)} -> $now data files): " +
            "events later than the stream's watermark delay were committed " +
            "into a closed day; re-folding them into the lake. Size the " +
            "watermark delay to your real late-data horizon")
          foldAndSettle(day, now): Unit
        }
        grew
      }
    }

    // pass 2 — first-time fold of unsettled closed days
    val settledNow: String => Boolean =
      day => counts.contains(day) || floor.exists(day <= _)
    val fresh = days.filter(_ < watermarkDay).filterNot(settledNow)
      .filter(day => foldAndSettle(day, committedNow.getOrElse(day, 0)))
    (regrown ++ fresh).sorted
  }

  /** The query-facing combined lake: catalog table ∪ the sink's
    * not-yet-settled days. Exact under EVERY fold state — a sink row a
    * partial fold already landed in the lake is suppressed by a
    * key-grouped window that keeps the lake copy, so a crash between
    * append and completion-marking cannot surface duplicates.
    *
    * Exact under CONCURRENT folding too, which is why this is a window
    * over one merged dataset and not the anti-join it used to be: a
    * partitioned catalog table lists its partitions lazily PER SCAN, so
    * two lake subtrees in one plan can observe different snapshots when
    * a fold's insertInto lands between their listings — the anti-join
    * formulation double-counted a freshly folded day when its lake scan
    * for the union side saw the insert but the anti-join side did not
    * (caught by the concurrency soak spec). Here the lake is split into
    * COMPLEMENTARY partition sets (settled | unsettled, constants from
    * plan-time bookkeeping): the settled side cannot collide with the
    * sink by construction, and the unsettled side merges with the open
    * sink rows into ONE dataset deduplicated by a key-partitioned
    * min-over-window (lake copy wins) — a row landing mid-read is
    * either seen by the lake scan (sink copy suppressed) or not (sink
    * copy serves), exactly once either way.
    *
    * Cost note: the window shuffles only unsettled-day lake rows + open
    * sink rows — at steady state the open tail, pruned before any file
    * opens; the settled bulk of the lake is a bare scan with no shuffle
    * (same class as the anti-join it replaces, one shuffle vs two
    * shuffled join sides). */
  def combinedRead(spark: SparkSession, sinkPath: String, lakeTable: String,
      keyCols: Seq[String] = Nil, checkDrift: Boolean = true): DataFrame = {
    val lake = spark.table(lakeTable)
    val cols = lake.columns.toIndexedSeq
    val keys = if (keyCols.nonEmpty) keyCols else cols
    val (listed, floor) = bookkeeping(spark, lakeTable)
    if (checkDrift) {
      // The open side serves under the PINNED lake schema, so a drifted
      // sink would silently NULL-fill / drop open-day columns until the
      // next fold fails loudly — close that interim window here: check
      // the NEWEST unsettled day carrying a readable footer (the day the
      // live writer is appending to — where drift appears first). One
      // listStatus + one footer; `checkDrift = false` opts out for
      // tight-loop callers that run foldClosedDays on a cadence anyway.
      // LENIENT probe: at day rollover the newest dir's only file can be
      // mid-write with no footer yet — healthy, not crash residue — so
      // an all-unreadable day yields None here and the iterator falls
      // back to the next-newest unsettled day (the loud all-torn failure
      // is reserved for the fold path, where the day is closed and
      // in-flight writes are impossible).
      val settledNow: String => Boolean = { val l = listed.toSet
        day => l(day) || floor.exists(day <= _) }
      // the NULL-day default partition is excluded from the probe: '_'
      // sorts after every digit, so .reverse would put it FIRST, and it
      // is never settled — its old (possibly pre-drift) files would
      // become the ONLY footer the check ever inspects, silently
      // reopening the live-day NULL-fill window this probe exists to
      // close
      sinkDays(spark, sinkPath).filterNot(settledNow)
        .filterNot(_ == "__HIVE_DEFAULT_PARTITION__").reverse.iterator
        .map(day => day -> dayWriterSchema(spark, sinkPath, day, lenient = true))
        .collectFirst { case (day, Some(s)) => (day, s) }
        .foreach { case (day, s) => assertSchemaMatches(spark, lakeTable, day, s) }
    }
    val d = col("day").cast("string")
    // NULL-day rows (unparseable event dates land in the default
    // partition, reading back as NULL) are NEVER folded — the default
    // partition's name sorts above every date so no watermark closes
    // it — so they must stay on the unsettled side: a bare `d > floor`
    // or `!d.isin(...)` evaluates to NULL for them and would silently
    // drop rows that exist nowhere else
    val unsettledCond: Column = Seq(
      floor.map(f => d > f),
      Option.when(listed.nonEmpty)(!d.isin(listed: _*))
    ).flatten.reduceOption(_ && _)
      .map(c => d.isNull || c).getOrElse(lit(true))
    val open = sinkRows(spark, sinkPath, lakeTable)
      .filter(unsettledCond).select(cols.map(col): _*)
    // helper-column hygiene: withColumn REPLACES a same-named user
    // column — with default keyCols the dedup would then group on the
    // literal and emit it, silent wrong data — so refuse loudly instead
    require(!cols.contains("_src") && !cols.contains("_minsrc"),
      s"combinedRead($lakeTable): the lake schema uses the reserved " +
        "helper column names _src/_minsrc — rename those columns")
    // merged open tail: unsettled lake rows win over their sink copies
    // via min(_src) per key group (window grouping treats NULL keys as
    // equal — the same null-safe identity `<=>` gave the anti-join)
    val merged = lake.filter(unsettledCond)
      .select(cols.map(col): _*).withColumn("_src", lit(0))
      .unionByName(open.withColumn("_src", lit(1)))
    val dedup = merged
      .withColumn("_minsrc",
        min(col("_src")).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("_src") === 0 || col("_minsrc") === 1)
      .select(cols.map(col): _*)
    lake.filter(!unsettledCond).unionByName(dedup)
  }

  /** Retire the sink directories of SETTLED days — the retention job the
    * fold's lifecycle story promises. A folded day's sink files are cold
    * duplicates of lake data; deleting the `day=` directory reclaims the
    * space. The `_spark_metadata` log keeps naming the deleted files,
    * which is safe by construction everywhere in this module: file
    * LISTING comes from the log (no filesystem access to data files),
    * [[sinkRows]] pins the lake schema so inference opens no footer, and
    * every downstream read is partition-pruned to unsettled days before
    * any file opens. What retirement does FORECLOSE is un-pruned direct
    * reads of the sink path by outside code — after retiring, the sink
    * is no longer a standalone queryable table; [[combinedRead]] is the
    * query surface (which is true of any sink whose settled days have
    * moved to the lake).
    *
    * Only the maximal settled PREFIX of the sink's days is retired (a
    * settled day past an unsettled one is left alone — unreachable under
    * [[foldClosedDays]]'s oldest-first marking, but enforced anyway),
    * which is what lets bookkeeping SHRINK: the retired days leave
    * `graft.folded.days` and are absorbed into the O(1)
    * `graft.retired.floor`, so a years-long daily fold+retire cadence
    * carries a bounded property, not one comma entry per day forever.
    * Returns the days whose directories were deleted this run (a re-run
    * is a no-op). */
  def retireFoldedSinkDays(spark: SparkSession, sinkPath: String,
      lakeTable: String, exclude: Set[String] = Set.empty): Seq[String] = {
    assertNoRetiredResurrection(spark, sinkPath, lakeTable)
    val counts = foldedDayCounts(spark, lakeTable).toMap
    val floor = retiredFloor(spark, lakeTable)
    val settled: String => Boolean =
      day => counts.contains(day) || floor.exists(day <= _)
    val base = new org.apache.hadoop.fs.Path(sinkPath)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // A settled day whose COMMITTED file count grew past its
    // settle-time record holds late rows the lake does not have yet —
    // deleting it would be the silent loss the module doc forbids. Stop
    // the prefix there (and warn); the next foldClosedDays re-folds the
    // day and re-records its count, after which retirement resumes.
    // Re-probed HERE, per day, immediately before the delete — a fresh
    // log replay each time, so a commit landing between a fold tick and
    // this call (or mid-prefix) is still caught. Log-committed counts,
    // same universe the fold reads — see [[committedDayFileCounts]].
    def safeToRetire(day: String): Boolean = counts.get(day) match {
      case Some(rec) =>
        val now = committedDayFileCount(spark, sinkPath, day)
        val grown = rec.forall(now > _)
        if (grown) log.warn(s"sink day=$day grew after settling " +
          s"(${rec.fold("?")(_.toString)} -> $now data files); refusing to " +
          "retire it until the next fold absorbs the late rows")
        !grown
      case None => true // below the floor: already retired, delete is a no-op
    }
    // `exclude` implements TWO-PHASE retirement (see [[foldFromStream]]):
    // days the CURRENT tick just settled are passed here so their sink
    // files survive until the next tick — and because retirement is
    // strictly prefix-of-settled, an excluded day also shields every
    // day after it this run
    val prefix = sinkDays(spark, sinkPath)
      .takeWhile(d => settled(d) && !exclude(d) && safeToRetire(d))
    // takeWhile, NOT filter, on the delete outcome: Hadoop delete
    // returns false instead of throwing in several failure modes, and
    // if a LATER day's delete succeeded past an earlier failure the
    // floor (max of deleted) would absorb the failed day with its
    // directory intact — every subsequent fold/retire would then halt
    // on a false "retired-day resurrection" diagnosis
    val deleted = prefix.takeWhile { day =>
      val ok = fs.delete(new org.apache.hadoop.fs.Path(base, s"day=$day"), true)
      if (!ok) log.warn(s"could not delete sink day=$day; halting the " +
        "retire prefix here (will retry next run)")
      ok
    }
    if (deleted.nonEmpty) {
      val newFloor = (deleted ++ floor).max
      val remaining = foldedDayCounts(spark, lakeTable)
        .filter(_._1 > newFloor)
        .map { case (d, n) => n.fold(d)(c => s"$d:$c") }
      spark.sql(s"ALTER TABLE $lakeTable SET TBLPROPERTIES " +
        s"('graft.retired.floor' = '$newFloor', " +
        s"'graft.folded.days' = '${remaining.mkString(",")}')")
    }
    deleted
  }

  /** Operator-driven recovery for the ONE late-data case maintenance
    * cannot absorb and therefore halts on: a day at or below the
    * retired floor whose sink directory EXISTS again (the stream
    * committed events after that day's files were deleted —
    * [[assertNoRetiredResurrection]] fails both entry points). The
    * resurrected day's `_spark_metadata` entries name deleted files, so
    * any log-resolved read of it is poisoned forever; this salvage
    * therefore reads the resurrected DIRECTORY directly (below the sink
    * root — no log resolution), folds the rows into the lake by the
    * standard null-safe anti-join (exact under re-runs and against
    * rows a concurrent path already landed), compacts the partition,
    * and DELETES the directory — which clears the resurrection halt, so
    * the next [[foldClosedDays]]/[[retireFoldedSinkDays]] tick resumes.
    * Bookkeeping needs no update: the day stays at/below the floor, and
    * with its sink dir gone the settled side of [[combinedRead]] serves
    * it entirely from the lake, salvaged rows included.
    *
    * A direct read sees committed and uncommitted files alike — the
    * right posture here (uncommitted rows are real sensor data the
    * anti-join lands exactly once; if a restarted stream later REPLAYS
    * such a batch into this day, that is a fresh resurrection and a
    * re-salvage converges by the same anti-join). Files with torn
    * footers (crash residue) are probed file-by-file and skipped, like
    * [[dayWriterSchema]]; drift is checked against the first readable
    * footer before anything folds. Returns rows appended; a re-run —
    * or a call when nothing is resurrected — is a 0-row no-op. After
    * salvaging, still re-size the stream's watermark delay: salvage is
    * the mop, not the fix. */
  def salvageResurrectedDay(spark: SparkSession, sinkPath: String,
      lakeTable: String, day: String, keyCols: Seq[String] = Nil,
      targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    val floor = retiredFloor(spark, lakeTable)
    require(floor.exists(day <= _),
      s"day=$day is not retired (floor: ${floor.getOrElse("unset")}) — its " +
        "sink data is still log-readable, so ordinary maintenance absorbs " +
        "it; run foldClosedDays instead of salvaging")
    val dir = new org.apache.hadoop.fs.Path(sinkPath, s"day=$day")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return 0L // nothing resurrected — idempotent no-op
    val lake = spark.table(lakeTable)
    val cols = lake.columns.toIndexedSeq
    val files = fs.listStatus(dir).toIndexedSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath.toString)
    val readable = files.filter { f =>
      try { Tables.fileSchema(spark, f); true }
      catch { case scala.util.control.NonFatal(e) =>
        log.warn(s"salvage day=$day: skipping unreadable (torn) file $f: " +
          e.getMessage)
        false
      }
    }
    val appended = if (readable.isEmpty) 0L else {
      dayWriterSchema(spark, sinkPath, day)
        .foreach(assertSchemaMatches(spark, lakeTable, day, _))
      // data files carry every lake column EXCEPT the partition column
      // `day` (it lives in the directory name the log-resolved read
      // parses); pin that reduced schema and re-attach the constant
      val dataSchema = org.apache.spark.sql.types.StructType(
        lake.schema.filterNot(_.name == "day"))
      val rows = spark.read.schema(dataSchema).parquet(readable: _*)
        .withColumn("day", lit(day).cast(lake.schema("day").dataType))
        .select(cols.map(col): _*)
      foldRowsIntoLake(spark, lakeTable, day, rows, keyCols)
    }
    if (appended > 0)
      TableOps.compactPartition(spark, lakeTable, "day", day, targetFileBytes): Unit
    require(fs.delete(dir, true),
      s"salvage day=$day: folded $appended row(s) but could not delete the " +
        "resurrected directory — maintenance stays halted; remove it manually")
    log.warn(s"salvaged resurrected sink day=$day: $appended late row(s) " +
      s"folded into $lakeTable from ${readable.size} file(s) " +
      s"(${files.size - readable.size} torn file(s) skipped); directory " +
      "deleted, maintenance unblocked. Size the stream's watermark delay " +
      "to your real late-data horizon")
    appended
  }

  /** Closed-day floor of a LIVE stream, read from the query's own
    * event-time watermark (`lastProgress.eventTime["watermark"]`, an ISO
    * instant — its date is the day). IMPORTANT: this is a
    * WELL-SIZED-WATERMARK heuristic, not an engine guarantee — Spark
    * enforces watermarks only at stateful operators, and the day sink
    * is a stateless file sink, so an event arriving later than the
    * watermark delay is still committed into its day < watermarkDay
    * directory. The module's late-data defense (settle-time file
    * counts, re-fold on growth, refuse-to-retire on growth, loud
    * failure on post-retirement arrivals — see the module doc) is what
    * makes that violation exact-and-loud instead of silent loss; size
    * the stream's `withWatermark` delay to your real late-data horizon
    * so violations stay rare. `None` when the query has no event-time
    * watermark (no `withWatermark` upstream — nothing is provably
    * closed), has produced no progress yet, or still sits at the epoch
    * sentinel (watermark before first data). */
  def watermarkDay(query: org.apache.spark.sql.streaming.StreamingQuery)
      : Option[String] =
    Option(query.lastProgress)
      .flatMap(p => Option(p.eventTime.get("watermark")))
      .map(_.take(10))
      .filter(_ > "1970-01-01")

  /** The self-driving fold tick: derive the closed-day floor from the
    * live stream and run one fold (+ optional retirement) cycle against
    * it. This is the whole steady-state maintenance loop — schedule it
    * on any cadence (each call is independently idempotent and
    * crash-re-runnable, per [[foldClosedDays]] /
    * [[retireFoldedSinkDays]]); with no watermark to act on it is a
    * no-op. Safe to run WHILE the stream appends: a well-sized
    * watermark keeps commits in days >= the watermark day while the
    * fold only touches days strictly below it, [[combinedRead]] stays
    * exact under every interleaving (soak-spec-verified: concurrent
    * append / fold / retire / read threads), and commits that violate
    * the watermark sizing are caught by the late-data defense (re-fold
    * on growth / refuse-to-retire / loud post-retirement failure — see
    * the module doc) rather than lost.
    *
    * Retirement is TWO-PHASE: the days THIS tick just settled are
    * excluded from this tick's retirement and only become
    * retire-eligible on the next one. The race that motivates it: a
    * [[combinedRead]] PLANNED while a day was still unsettled lists
    * that day's sink files, and if the day folds, settles, and is
    * retired before the read executes, those files are gone and the
    * read fails with missing-file. With the deferral, any reader that
    * completes within one tick interval can never hit it — it either
    * planned before the settle (files survive until next tick) or
    * after (the settled day prunes out; its rows serve from the lake).
    * A reader slower than a full tick interval retains the standard
    * retry-on-conflict contract of any store that physically removes
    * files (compaction/vacuum in log-structured formats): re-invoking
    * [[combinedRead]] re-plans against the new bookkeeping and
    * succeeds.
    *
    * The same re-plan-and-retry contract covers the rarer IN-PLACE
    * COMPACTION conflict. Spark caches leaf-file listings per relation
    * instance, in a private region no table-level refresh can reach, so
    * [[foldDay]] and `TableOps.compactPartition` clear every listing
    * reachable from the maintenance side (the insert's recache
    * re-listing and the stage read's — both of which land in the
    * relation instance shared with readers planned off the catalog's
    * current relation cache; spec-asserted by the one-tick-behind
    * reader test). What remains unreachable by construction is a
    * listing a reader's own EARLIER EXECUTION cached privately before a
    * later fold compacted those files: such a reader fails loudly with
    * FAILED_READ_FILE — never silent wrong data — and recreating the
    * DataFrame (Spark's own guidance for this error) succeeds. */
  def foldFromStream(spark: SparkSession,
      query: org.apache.spark.sql.streaming.StreamingQuery,
      sinkPath: String, lakeTable: String, keyCols: Seq[String] = Nil,
      targetFileBytes: Long = 128L * 1024 * 1024,
      retire: Boolean = true): Seq[String] = {
    val folded = watermarkDay(query)
      .map(foldClosedDays(spark, sinkPath, lakeTable, _, keyCols, targetFileBytes))
      .getOrElse(Nil)
    if (retire)
      retireFoldedSinkDays(spark, sinkPath, lakeTable, folded.toSet): Unit
    folded
  }
}
