package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogTable, CatalogTableType}

/** Catalog/table lifecycle operators — the engine analog of the
  * reference's DDL surface (SURVEY.md S5/S6):
  *
  *   - reference S5: idempotent drop-if-exists + create per table
  *     (`insert.py:49-62`, `subscriber.py:66-75`);
  *   - reference S6: `CREATE EXTERNAL TABLE … STORED BY HBaseStorageHandler`
  *     (`hive.py:29-44`) — here a managed/`path`-based parquet table in the
  *     session catalog, partitioned instead of per-room physical tables.
  *
  * These run against the session catalog (in-memory by default, Hive
  * metastore when the session enables it) — the DDL is identical either
  * way, which is the point: the reference needed HBase+Hive plumbing for
  * this; the engine needs one `saveAsTable`.
  */
object TableOps {

  /** DROP IF EXISTS + clear the managed location. The drop alone is not
    * idempotent ACROSS JVMs with the in-memory catalog: a fresh session
    * has no catalog entry to drop, but the previous run's warehouse
    * directory survives on disk and `saveAsTable` then refuses with
    * LOCATION_ALREADY_EXISTS. (A shared Hive metastore remembers the
    * table instead, making the plain drop sufficient — this helper keeps
    * the reset idempotent under both catalogs.) */
  private[graft] def dropWithLocation(spark: SparkSession, name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    deleteDir(spark, warehousePath(spark, name))
  }

  private def deleteDir(spark: SparkSession, path: Path): Unit = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) fs.delete(path, true): Unit
  }

  /** Pre-CREATE residue guard for the streaming stores' `CREATE TABLE
    * IF NOT EXISTS`: with the in-memory catalog a fresh JVM has no
    * entry for a table whose managed warehouse directory survived a
    * previous JVM, so the create would silently ADOPT the stale data
    * files as live rows (the r17 suite flake — StreamDedupSpec's
    * compaction test read a snapshot-time `sd_cpa_bands` residue). If
    * the catalog does not know the table but its managed location
    * exists on disk, delete the location BEFORE creating. No-op when
    * the table is cataloged (same-JVM reuse, or a persistent metastore
    * that legitimately remembers the data).
    *
    * SCOPE: managed-location stores only — the callers are the
    * streaming store prefixes, whose tables are always created managed
    * at `warehouse/<name>`. An EXTERNAL (custom-location) table escapes
    * this guard (its residue is not at the probed path and would be
    * adopted by a later CREATE … LOCATION), and conversely an unrelated
    * directory squatting at `warehouse/<name>` while the name is
    * uncataloged is deleted. Do not route external tables through
    * here; [[registerExternal]] is their reset path. */
  private[graft] def ensureFreshLocation(spark: SparkSession, name: String): Unit =
    if (!spark.catalog.tableExists(name)) deleteDir(spark, warehousePath(spark, name))

  /** Idempotent reset: drop-if-exists then recreate from a DataFrame,
    * partitioned by the given columns (the reference's six per-room
    * tables become one partitioned table, SURVEY.md §1.3). */
  def resetTable(spark: SparkSession, name: String, df: DataFrame,
                 partitionCols: Seq[String] = Nil): Unit = {
    dropWithLocation(spark, name)
    val writer = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .saveAsTable(name)
  }

  /** External-table registration over an existing parquet location
    * (closest analog of the reference's external tables: metadata only,
    * data stays in place). */
  def registerExternal(spark: SparkSession, name: String, path: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING parquet LOCATION '$path'")
  }

  /** Bucketed table write: co-locates rows by join key so that joins and
    * aggregations between tables bucketed the same way need NO shuffle —
    * the 100 TB replacement for repartitioning per query. Requires the
    * session catalog (bucket metadata lives there). */
  def resetBucketedTable(spark: SparkSession, name: String, df: DataFrame,
                         bucketCol: String, nBuckets: Int): Unit =
    resetBucketedTable(spark, name, df, Seq(bucketCol), nBuckets)

  /** Composite-key form: joins keyed on ALL bucket columns (in order)
    * between same-bucketed tables plan without an Exchange. */
  def resetBucketedTable(spark: SparkSession, name: String, df: DataFrame,
                         bucketCols: Seq[String], nBuckets: Int): Unit = {
    dropWithLocation(spark, name)
    df.write.mode("overwrite")
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(name)
    // Per-rebuild identity for downstream model caches: catalog
    // createTime has millisecond resolution, so a drop+recreate landing
    // in the same tick would be indistinguishable from the old table.
    spark.sql(s"ALTER TABLE $name SET TBLPROPERTIES " +
      s"('graft.rebuild.id' = '${java.util.UUID.randomUUID()}')")
  }

  private def dataFiles(spark: SparkSession, p: Path)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toIndexedSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
  }

  /** Total data bytes under a managed table's location (live files
    * only) — the input to bucket-count growth policies. */
  private[graft] def tableDataBytes(spark: SparkSession, name: String): Long =
    dataFiles(spark, tableLocation(spark, name)).map(_.getLen).sum

  private[sources] def warehousePath(spark: SparkSession, name: String) =
    new Path(spark.conf.get("spark.sql.warehouse.dir"), name.toLowerCase)

  private[graft] def catalogMeta(spark: SparkSession, name: String): CatalogTable =
    spark.sessionState.catalog.getTableMetadata(TableIdentifier(name))

  /** The table's CATALOG storage location. Prefer this over
    * [[warehousePath]] wherever the table already exists: a
    * reconstructed warehouse path silently misses EXTERNAL tables
    * (location outside the warehouse — the lake case
    * `LakeFold.foldClosedDays` explicitly supports and probes through
    * the catalog for exactly this reason). [[warehousePath]] remains
    * only where no metadata exists to ask (post-DROP location sweeps,
    * pre-CREATE staging probes). */
  private[sources] def tableLocation(spark: SparkSession, name: String) =
    new Path(catalogMeta(spark, name).location)

  /** The staging-table name a [[compactTable]] or [[compactBucketedTable]]
    * of `name` swaps through. Shared so half-swap recovery code (and its
    * specs) probe the same name the compactor actually uses — a hardcoded
    * copy of the suffix would silently reopen the recovery window if
    * this name ever changed (`StoreOperator.ensureStore` renames the
    * orphaned staging table back after a death between drop and rename). */
  private[graft] def stagingNameFor(name: String): String =
    s"${name}_compacting"

  /** Stage phase of [[compactTable]]: build the full compacted rewrite
    * as a SEPARATE staging table, touching nothing the live table owns.
    * Exposed (package-)separately so the crash-consistency spec can
    * stop exactly here — the crash window the stage+swap protocol is
    * designed for: a death before the swap leaves the live table
    * byte-identical and only an orphaned staging table behind, and the
    * orphan is reclaimed by the NEXT compaction's own resetTable (drop
    * if exists + clear location). Returns (stagingName, filesBefore).
    *
    * `orderBy` (optional) makes the rewrite ORDERED: range-partitioned
    * on the named columns and sorted within each file, so per-file and
    * per-row-group min/max stats become tight, disjoint ranges and any
    * pushed range/IN predicate on those columns skips whole files — the
    * layout that turns probe-side pruning (streamDedupStep's serve-path
    * filter, q1's ts pushdown) from row-skipping into scan-skipping.
    * The sort costs one extra shuffle over the plain rewrite; both run
    * on the staging copy, never the live table.
    *
    * `rewrite` (default: the rows as they are) transforms the rows the
    * staged copy receives — a retention trim or a fold. It inherits the
    * stage+swap crash posture for free — survivors land on disk in the
    * staging table BEFORE anything touches the live one, so no crash
    * window exists where the dropped rows' table is the only copy (the
    * hazard of a collect-then-reset trim). */
  private[graft] def stageCompaction(spark: SparkSession, name: String,
      targetFileBytes: Long, stagingName: String = null,
      orderBy: Seq[String] = Nil,
      rewrite: DataFrame => DataFrame = identity): (String, Int) = {
    val loc = warehousePath(spark, name)
    // Partitioned tables keep their data under per-partition
    // SUBDIRECTORIES; compacting through a flat rewrite would silently
    // discard the partitioning (and the flat listing would see zero
    // files and "compact" to one). Refuse loudly — [[compactPartition]]
    // is the partitioned form, one partition slice at a time.
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val subdirs = fs.listStatus(loc).filter(_.isDirectory)
    require(subdirs.isEmpty,
      s"compactTable($name): table has partition subdirectories " +
        s"(${subdirs.take(3).map(_.getPath.getName).mkString(", ")}…) — " +
        "compact per partition slice (compactPartition) instead of " +
        "flattening the layout")
    // Same silent-flatten hazard for BUCKETED tables: the staging rewrite
    // goes through resetTable, which drops the bucket spec, and every
    // Exchange-free join keyed on the buckets would silently regain a
    // shuffle. Refuse loudly; a bucketed table is compacted by rewriting
    // through resetBucketedTable with its original spec.
    val bucketSpec = catalogMeta(spark, name).bucketSpec
    require(bucketSpec.isEmpty,
      s"compactTable($name): table is bucketed (${bucketSpec.orNull}) — a " +
        "flat rewrite would drop the bucket layout; recompact via " +
        "resetBucketedTable with the original spec instead")
    val before = dataFiles(spark, loc)
    val nOut = math.max(1L,
      (before.map(_.getLen).sum + targetFileBytes - 1) / targetFileBytes).toInt
    val staging = Option(stagingName).getOrElse(stagingNameFor(name))
    val src = rewrite(spark.table(name))
    val laid =
      if (orderBy.isEmpty) src.repartition(nOut)
      else src
        .repartitionByRange(nOut, orderBy.map(org.apache.spark.sql.functions.col): _*)
        .sortWithinPartitions(orderBy.head, orderBy.tail: _*)
    resetTable(spark, staging, laid)
    (staging, before.length)
  }

  /** Small-file compaction — the standing lake-maintenance job every
    * 100 TB deployment runs: streaming ingest and per-batch writes leave
    * thousands of KB-sized parquet files per table (each costing a task,
    * a footer read, and an open at scan time); compaction rewrites the
    * table into ⌈bytes / targetFileBytes⌉ right-sized files. The rewrite
    * goes to a staging table first ([[stageCompaction]] — all the heavy
    * I/O happens there, crash-safe) and swaps in via drop+RENAME, so a
    * reader never sees a HALF-WRITTEN table. The swap itself is two
    * metadata ops, not atomic: a death between them loses the table
    * NAME but never data (the staging table, [[stagingNameFor]], holds
    * the full compacted copy; the store operators' ensureStore renames
    * it back) — the classic non-transactional-catalog caveat a
    * production lake closes with a metastore-atomic rename or a table
    * format's commit protocol (see SCALING.md). Returns (filesBefore,
    * filesAfter). */
  def compactTable(spark: SparkSession, name: String,
                   targetFileBytes: Long = 128L * 1024 * 1024,
                   orderBy: Seq[String] = Nil,
                   rewrite: DataFrame => DataFrame = identity): (Int, Int) = {
    val (staging, nBefore) =
      stageCompaction(spark, name, targetFileBytes, orderBy = orderBy,
        rewrite = rewrite)
    (nBefore, swapIn(spark, staging, name))
  }

  /** The swap tail of [[compactTable]] and [[compactBucketedTable]]: the
    * live table's `graft.*` identity is stamped on the staged copy, then
    * drop + RENAME. Stamped BEFORE the drop, so a death between the two
    * metadata ops leaves a staged copy that is the whole table, identity
    * included. Returns filesAfter. */
  private def swapIn(spark: SparkSession, staging: String, name: String): Int = {
    restoreGraftProps(spark, staging, graftProps(spark, name))
    dropWithLocation(spark, name)
    spark.sql(s"ALTER TABLE $staging RENAME TO $name")
    dataFiles(spark, warehousePath(spark, name)).length
  }

  /** Engine-stamped table properties (`graft.*`) must SURVIVE a
    * stage+swap rewrite: compaction changes the table's files, not its
    * identity — without this, routine maintenance silently reset the
    * build-once guards (`graft.source.dir`: the next ensure would
    * retrain and DISCARD streamed-in index rows), the model-cache
    * version (`graft.rebuild.id`: reintroducing the createTime
    * millisecond-tick stale-model hazard the stamp closed), and the
    * append revision (`graft.store.rev`). Captured from the live
    * metadata and stamped on the replacement table. */
  private def graftProps(spark: SparkSession, name: String): Map[String, String] =
    catalogMeta(spark, name).properties.filter(_._1.startsWith("graft."))

  private def restoreGraftProps(spark: SparkSession, name: String,
      props: Map[String, String]): Unit =
    if (props.nonEmpty) {
      // Catalog API, not interpolated SQL: property values are caller
      // data (graft.source.dir holds a filesystem path — quotes are
      // legal in one), and a parse failure here would land AFTER the
      // drop+rename swap, stranding the compacted table without the
      // identity props the build-once guards read. alterTable is the
      // same call the SET TBLPROPERTIES command bottoms out in, minus
      // the parser.
      val meta = catalogMeta(spark, name)
      spark.sessionState.catalog.alterTable(
        meta.copy(properties = meta.properties ++ props))
    }

  /** [[compactTable]] for BUCKETED tables — the form [[stageCompaction]]
    * refuses, because a flat rewrite would silently drop the bucket spec
    * and re-introduce the Exchange the bucketed layout exists to remove.
    * The rewrite preserves the catalog's exact (bucket columns, sort
    * columns, bucket count): the data is first repartitioned INTO the
    * bucket layout's own partitioning (`repartition(n, cols)` hashes
    * with the same murmur3-pmod the bucket id uses), so the staged table
    * lands as ONE right-shaped file per non-empty bucket no matter how
    * many small per-append files the live table accreted — the file
    * count a bucketed store serves from is then a constant B, not a
    * number that tracks corpus growth. Same stage+swap crash posture as
    * [[compactTable]] (heavy I/O on the staging table; the drop+RENAME
    * caveat documented there applies). Returns (filesBefore, filesAfter).
    *
    * `newBuckets` RESCALES the bucket count during the rewrite (bucket
    * and sort columns are always preserved): a bucket count is fixed at
    * CREATE time, so a store that outgrew its layout — per-bucket bytes
    * far past the target file size — can only re-size here, where the
    * whole table is being rewritten anyway. Callers own the growth
    * policy (see `StreamDedup.bucketsFor`). */
  def compactBucketedTable(spark: SparkSession, name: String,
      newBuckets: Option[Int] = None): (Int, Int) = {
    val meta = catalogMeta(spark, name)
    val spec = meta.bucketSpec
      .getOrElse(throw new IllegalArgumentException(
        s"compactBucketedTable($name): table has no bucket spec — " +
          "use compactTable"))
    // Same silent-flatten hazard stageCompaction guards: a PARTITIONED
    // bucketed table keeps its data under per-partition subdirectories,
    // and the flat rewrite below would silently drop the partition spec
    // (and the flat dataFiles listing would miscount). Refuse loudly —
    // no caller has such a table; one that grows one compacts per
    // partition slice.
    require(meta.partitionColumnNames.isEmpty,
      s"compactBucketedTable($name): table is partitioned on " +
        s"(${meta.partitionColumnNames.mkString(", ")}) — the flat rewrite " +
        "would drop the partition layout; compact per partition slice")
    val before = dataFiles(spark, warehousePath(spark, name)).length
    val cols = spec.bucketColumnNames.map(org.apache.spark.sql.functions.col)
    val staging = stagingNameFor(name)
    dropWithLocation(spark, staging)
    // The rewrite must read the live table WITHOUT bucket grouping: a
    // bucketed scan advertises HashPartitioning(bucketCols, n), which
    // lets the planner drop the repartition below as redundant — while
    // the physical scan of a many-small-files bucket pile still splits
    // by file, so the write would emit a file per (task, bucket) pair
    // instead of one per bucket. With plain reads the repartition
    // survives and every output task carries exactly one bucket id.
    val bucketReadKey = "spark.sql.sources.bucketing.enabled"
    val savedBucketRead = spark.conf.get(bucketReadKey)
    val nb = newBuckets.getOrElse(spec.numBuckets)
    require(nb > 0, s"compactBucketedTable($name): bucket count $nb")
    try {
      spark.conf.set(bucketReadKey, "false")
      val laid = spark.table(name).repartition(nb, cols: _*)
      val writer = laid.write.mode("overwrite")
        .bucketBy(nb, spec.bucketColumnNames.head,
          spec.bucketColumnNames.tail: _*)
      (if (spec.sortColumnNames.nonEmpty)
         writer.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
       else writer)
        .saveAsTable(staging)
    } finally spark.conf.set(bucketReadKey, savedBucketRead)
    (before, swapIn(spark, staging, name))
  }

  /** Current backing version N of a VIEW-fronted table (`name` resolves
    * through a view to `name_vN` — see [[resetViewedTable]]). */
  private[graft] def backingVersion(spark: SparkSession, name: String): Int = {
    val meta = catalogMeta(spark, name)
    require(meta.tableType == CatalogTableType.VIEW,
      s"$name is not a view — use compactTable for directly-named tables")
    val txt = meta.viewText.getOrElse("")
    s"(?i)${java.util.regex.Pattern.quote(name)}_v(\\d+)".r
      .findFirstMatchIn(txt)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(
        s"$name's view text does not name a ${name}_v<N> backing table: $txt"))
  }

  /** Idempotent reset of a VIEW-fronted table: data lands in `name_v1`
    * and the query-visible `name` is a view over it. This indirection is
    * what makes [[compactTableAtomic]]'s swap metadata-only: readers
    * always resolve `name`, and repointing a view is ONE catalog op. */
  def resetViewedTable(spark: SparkSession, name: String, df: DataFrame): Unit = {
    // the name may pre-exist as either form; drop with the matching DDL
    if (spark.catalog.tableExists(name)) {
      val isView = catalogMeta(spark, name).tableType == CatalogTableType.VIEW
      if (isView) spark.sql(s"DROP VIEW $name") else dropWithLocation(spark, name)
    }
    // reclaim every stale backing version from prior generations
    dropStaleVersions(spark, name, keep = None)
    resetTable(spark, s"${name}_v1", df)
    spark.sql(s"CREATE OR REPLACE VIEW $name AS SELECT * FROM ${name}_v1")
  }

  /** Drop every `name_v<N>` backing table except `keep` — the one
    * version-reclaim rule, shared by [[resetViewedTable]] (keep nothing:
    * a reset replaces all generations) and [[compactTableAtomic]] (keep
    * the live version; everything else is crash debris or the previous
    * run's reader-grace version). */
  private def dropStaleVersions(spark: SparkSession, name: String,
      keep: Option[String]): Unit =
    spark.catalog.listTables().collect()
      .map(_.name)
      .filter(_.matches(s"(?i)${java.util.regex.Pattern.quote(name)}_v\\d+"))
      .filter(n => !keep.exists(n.equalsIgnoreCase))
      .foreach(dropWithLocation(spark, _))

  /** [[compactTable]] with the swap window shrunk to METADATA-ONLY: the
    * query-visible name is a view over a versioned backing table
    * (`name` → `name_vN`), the compacted rewrite stages as `name_v(N+1)`
    * (all heavy I/O crash-safe — the live view never references it), and
    * the swap is a single `CREATE OR REPLACE VIEW`, which the catalog
    * applies as one atomic metastore op — there is no instant at which a
    * reader resolving `name` finds it absent, closing the drop+RENAME
    * window [[compactTable]] documents (a crash there loses the NAME
    * until re-pointed). Crash matrix: before the swap — view still reads
    * vN, byte-identical, and the orphaned v(N+1) is reclaimed by the next
    * attempt's resetTable; after the swap — view reads the compacted
    * v(N+1). The retired vN is NEVER dropped by the run that retired it:
    * an in-flight reader that resolved the view to vN just before the
    * swap still holds a plan over vN's files, and deleting them under it
    * fails the query mid-collect. Instead the cleanup pass at the START
    * of the next compaction reclaims every non-live version — readers
    * get a full inter-compaction grace window (the vacuum retention idea
    * from snapshot table formats), at the storage cost of carrying at
    * most one previous version between runs. Bucketed tables keep the
    * [[compactTable]] path: their Exchange-free joins hang off catalog
    * bucket metadata, which a view does not carry, so view indirection
    * would silently re-introduce shuffles ([[stageCompaction]] refuses
    * bucketed inputs for the same reason). Returns (filesBefore,
    * filesAfter). */
  def compactTableAtomic(spark: SparkSession, name: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      orderBy: Seq[String] = Nil): (Int, Int) = {
    val v = backingVersion(spark, name)
    val cur = s"${name}_v$v"
    // reclaim stale versions a crashed prior run left behind and the
    // previous run's reader-grace version (anything versioned that is
    // not the live backing table)
    dropStaleVersions(spark, name, keep = Some(cur))
    val next = s"${name}_v${v + 1}"
    val (staging, nBefore) =
      stageCompaction(spark, cur, targetFileBytes, next, orderBy)
    spark.sql(s"CREATE OR REPLACE VIEW $name AS SELECT * FROM $staging")
    // identity properties ride the version bump (same contract as
    // compactTable/compactBucketedTable — see [[graftProps]]): the
    // staged table is a fresh resetTable with none, so without the copy
    // a view-fronted table carrying graft.* stamps would lose them on
    // routine compaction
    restoreGraftProps(spark, staging, graftProps(spark, cur))
    // cur is deliberately NOT dropped here — see the reader-grace note in
    // the scaladoc; the next run's cleanup pass reclaims it
    (nBefore, dataFiles(spark, warehousePath(spark, staging)).length)
  }

  /** Stage phase of [[compactPartition]]: rewrite ONE partition's files
    * into a HIDDEN sibling directory (dot-prefixed — both Spark's file
    * index and [[dataFiles]] ignore it), leaving the live partition
    * untouched. A death here leaves the table byte-identical; the
    * orphaned staging dir is overwritten by the next attempt. Returns
    * (stagingPath, filesBefore). */
  private[graft] def stagePartitionCompaction(spark: SparkSession,
      name: String, partCol: String, partVal: String,
      targetFileBytes: Long): (org.apache.hadoop.fs.Path, Int, DataFrame) = {
    val partDirName = s"$partCol=$partVal"
    // resolved from the CATALOG location, never a reconstructed
    // warehouse path — the lake table may be EXTERNAL (LakeFold probes
    // partition existence at the catalog location for the same reason),
    // and a warehouse-reconstructed path would refuse with "no such
    // partition directory" on the first fold of any external lake
    val tableLoc = tableLocation(spark, name)
    val partPath = new Path(tableLoc, partDirName)
    val fs = partPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Half-swapped recovery: a crash between compactPartition's two
    // renames leaves the LIVE directory absent while the data sits intact
    // in a hidden sibling — `.compacting_<dir>` (the completed staged
    // rewrite; the retire rename only starts after the staging write
    // finished, so when the live dir is missing AND staging carries its
    // _SUCCESS commit marker, staging is a full copy) and/or
    // `.old_<dir>` (the retired originals). Auto-complete instead of
    // aborting: promote the committed staging if present, else restore
    // the retired originals — either way the next attempt starts from a
    // whole partition, with no manual spelunking through hidden dirs.
    if (!fs.exists(partPath)) {
      val staged = new Path(tableLoc, s".compacting_$partDirName")
      val retired = new Path(tableLoc, s".old_$partDirName")
      val stagedCommitted = fs.exists(staged) &&
        fs.exists(new Path(staged, "_SUCCESS"))
      if (stagedCommitted) {
        require(fs.rename(staged, partPath),
          s"compactPartition($name, $partDirName): recovery could not " +
            s"promote $staged")
        deleteDir(spark, retired)
        refreshLiveRelationIndex(spark, name)
        spark.catalog.refreshTable(name)
      } else if (fs.exists(retired)) {
        require(fs.rename(retired, partPath),
          s"compactPartition($name, $partDirName): recovery could not " +
            s"restore $retired")
        refreshLiveRelationIndex(spark, name)
        spark.catalog.refreshTable(name)
      }
    }
    require(fs.exists(partPath),
      s"compactPartition($name, $partDirName): no such partition directory " +
        s"(and no .old_$partDirName/.compacting_$partDirName recovery " +
        "sibling holds its data)")
    val before = dataFiles(spark, partPath)
    val nOut = math.max(1L,
      (before.map(_.getLen).sum + targetFileBytes - 1) / targetFileBytes).toInt
    // Read the slice THROUGH the table so the partition filter prunes to
    // exactly this directory (cast both sides to string: partition values
    // arrive typed from the directory name). The partition column itself
    // is directory-encoded, so the staged files must not contain it.
    // The resolved table is RETURNED so [[compactPartition]] can refresh
    // exactly this relation's file-status cache after the swap: this
    // stage read lists the partition's PRE-swap files into that private
    // cache, and if the relation instance is the catalog-cached one it
    // is shared with every reader DataFrame planned since the last
    // invalidation — without the post-swap refresh those readers would
    // chase the deleted pre-swap files.
    val live = spark.table(name)
    val slice = live
      .filter(org.apache.spark.sql.functions.col(partCol).cast("string")
        === partVal)
      .drop(partCol)
    val staging = new Path(tableLoc, s".compacting_$partDirName")
    slice.repartition(nOut).write.mode("overwrite").parquet(staging.toString)
    (staging, before.length, live)
  }

  /** Per-partition small-file compaction — the form of [[compactTable]]
    * the steady-state lake actually runs: a day-partitioned ingest table
    * (`events_by_day`) accretes small files ONLY in the most recent
    * day's directory, so the maintenance job compacts one partition
    * slice at a time and never rewrites the table. Layout-preserving by
    * construction: the partition directory keeps its name, no other
    * partition is touched, and the table's partitioning metadata never
    * changes — so partition pruning (static and dynamic) over the table
    * is exactly as before. The swap is rename-out + rename-in of one
    * directory (two FS metadata ops on the partition only — the rest of
    * the table stays readable throughout; the crashed-swap recovery
    * parallels compactTable's: the renamed-aside `.old` dir holds the
    * original files, the staging dir the compacted ones, nothing is
    * deleted until both renames landed). Returns (filesBefore,
    * filesAfter) for the compacted partition. */
  def compactPartition(spark: SparkSession, name: String,
      partCol: String, partVal: String,
      targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val (staging, nBefore, stageSource) =
      stagePartitionCompaction(spark, name, partCol, partVal, targetFileBytes)
    val partDirName = s"$partCol=$partVal"
    // catalog location, same external-lake contract as the stage phase
    val tableLoc = tableLocation(spark, name)
    val partPath = new Path(tableLoc, partDirName)
    val fs = partPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val retired = new Path(tableLoc, s".old_$partDirName")
    deleteDir(spark, retired)
    require(fs.rename(partPath, retired),
      s"compactPartition($name, $partDirName): could not retire live dir")
    require(fs.rename(staging, partPath),
      s"compactPartition($name, $partDirName): could not promote staging")
    fs.delete(retired, true): Unit
    // The files under the partition changed; drop cached listings at
    // EVERY reachable level. `refreshTable` alone evicts only the
    // catalog's relation cache (future resolutions list fresh) — but
    // file LISTINGS are cached per relation instance, in a private
    // client-id-scoped region no table-level refresh can reach. The
    // stage read above listed the pre-swap files into ITS relation's
    // region, and that relation instance — resolved through the catalog
    // cache — is shared with every reader DataFrame planned since the
    // last invalidation, so refreshing it here un-poisons those readers.
    // A reader holding an OLDER, no-longer-cached relation instance
    // whose region was populated by its own earlier execution cannot be
    // reached from here at all (Spark's own guidance is to recreate the
    // DataFrame): such a reader keeps the standard in-place-compaction
    // contract — a LOUD FAILED_READ_FILE, never silent wrong data, and
    // a re-planned read succeeds.
    refreshRelationIndex(stageSource)
    refreshLiveRelationIndex(spark, name)
    spark.catalog.refreshTable(name)
    (nBefore, dataFiles(spark, partPath).length)
  }

  /** Invalidate the cached file listings of every file relation in
    * `df`'s analyzed plan (file listings are cached per relation
    * instance, so `refreshTable`'s relation-cache eviction does not
    * reach them). */
  private[graft] def refreshRelationIndex(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.refresh()
      case _ => ()
    }

  /** [[refreshRelationIndex]] of the relation object CURRENTLY resolved
    * for `name` — the one readers planned against the catalog's present
    * relation cache hold. */
  private def refreshLiveRelationIndex(spark: SparkSession, name: String): Unit =
    refreshRelationIndex(spark.table(name))

  /** Reference S11 (`hive.py:12-17`): engine config introspection. */
  def versionInfo(spark: SparkSession): Seq[(String, String)] = Seq(
    "spark.version" -> spark.version,
    "scala.version" -> scala.util.Properties.versionNumberString)
}
