package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Loaders for the driver-generated parquet corpus (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. Parquet carries the schema, so
  * no `inferSchema` is needed; scans are columnar and Catalyst pushes
  * filters/projections into the reader (the reference's Hive-over-HBase
  * layer could do neither — see SURVEY.md §4).
  *
  * Every open reads ONE parquet footer on the driver and hands the schema
  * it declares to the reader. A plain `spark.read.parquet(path)` derives
  * the same schema through `mergeSchemasInParallel`, which starts one
  * Spark job per table read even with mergeSchema off: at dashboard scale
  * that job was the largest fixed cost of a query. Nothing is cached:
  * every call reads its footer again, so a rewritten table is seen at
  * once.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    open(spark, sfDir, name)._1

  /** `name`'s frame and the footer its schema came from. */
  private def open(spark: SparkSession, sfDir: String, name: String): (DataFrame, ParquetMetadata) = {
    val path = s"$sfDir/$name.parquet"
    val footer = readFooter(spark, dataFile(spark, path))
    (spark.read.schema(footerSchema(spark, footer)).parquet(path), footer)
  }

  /** The file whose footer speaks for `path`: `path` itself, or the
    * lexicographically first visible `.parquet` file of a directory (the
    * layout Spark writes). Fails naming `path` when there is none. */
  private def dataFile(spark: SparkSession, path: String): Path = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.getFileStatus(p).isDirectory) p
    else {
      val files = fs.listStatus(p).toIndexedSeq.filter { st =>
        val n = st.getPath.getName
        st.isFile && n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }.map(_.getPath)
      require(files.nonEmpty, s"$path: directory holds no parquet data file")
      files.minBy(_.getName)
    }
  }

  private def readFooter(spark: SparkSession, file: Path): ParquetMetadata = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration))
    try reader.getFooter finally reader.close()
  }

  /** The schema Spark's own parquet inference derives from one footer
    * (its `readSchemaFromFooter`): the Spark schema a Spark writer stored
    * under the row-metadata key, else the parquet schema converted under
    * the session's conf (nanosAsLong, inferTimestampNTZ, binary-as-string,
    * INT96-as-timestamp). */
  private def footerSchema(spark: SparkSession, footer: ParquetMetadata): StructType = {
    val meta = footer.getFileMetaData
    Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .flatMap(s => scala.util.Try(DataType.fromJson(s)).toOption)
      .collect { case st: StructType => st }
      .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(meta.getSchema))
  }

  /** One parquet file's schema from its footer, without a Spark job. Throws
    * when the file has no readable footer (a torn write). */
  private[graft] def fileSchema(spark: SparkSession, file: String): StructType =
    footerSchema(spark, readFooter(spark, new Path(file)))

  def region(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame      = table(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "lineitem")
  /** `events.ts` has drifted across testdata generations: originally
    * parquet TIMESTAMP(NANOS) (which Spark reads as a nanosecond long
    * under `spark.sql.legacy.parquet.nanosAsLong=true`), later
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (which Spark reads as
    * TIMESTAMP_NTZ). A long-lived lake hits exactly this (see
    * SchemaDrift), so the loader adapts on the footer's declared type
    * rather than pinning one generation:
    *
    *   - LongType (TIMESTAMP(NANOS) under nanosAsLong, or a plain
    *     INT64 column) → [[longTsIsNanos]] decides the unit from the
    *     FOOTER (logical-type annotation first, row-group max-stat
    *     magnitude for unannotated INT64 — µs and ns epochs are 3
    *     orders of magnitude apart for any date in 1973–5138, so the
    *     split is unambiguous); ns truncates to µs with INTEGER
    *     division (`ts div 1000` stays in long arithmetic; a double
    *     `/1000` would lose precision above 2^53 ns and could shift a
    *     timestamp by 1 µs);
    *   - TIMESTAMP_NTZ (µs or ms NTZ footers) → reinterpret the
    *     wall-clock as UTC (sessions run with
    *     spark.sql.session.timeZone=UTC, so the cast is a pure type
    *     change, not an instant shift);
    *   - TimestampType (µs or ms adjusted-to-UTC footers) → already
    *     the target type, pass through.
    *
    * Either way callers see one stable type: TimestampType in µs, UTC.
    * DuckDB applies the same ns→µs truncation / NTZ-as-UTC reading, so
    * oracle comparisons line up exactly. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val (raw, footer) = open(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        if (tsIsNanos(spark, sfDir, footer))
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        else
          raw.withColumn("ts", timestamp_micros(col("ts")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Is a LongType `ts` column nanoseconds (vs microseconds)? Decided
    * from the parquet FOOTER, not assumed: a TIMESTAMP(NANOS) annotation
    * says ns outright; a plain INT64 column (no annotation) is decided
    * by the row-group max statistic — 1e17 cleanly splits the epochs
    * (1e17 ns ≈ 1973, 1e17 µs ≈ year 5138). Falls back to a one-column
    * aggregate in the (never-written-by-Spark-or-DuckDB) case of a
    * stats-free footer. Driver-side cost: one footer read of one file. */
  private[graft] def longTsIsNanos(spark: SparkSession, sfDir: String): Boolean =
    tsIsNanos(spark, sfDir, readFooter(spark, dataFile(spark, s"$sfDir/events.parquet")))

  /** [[longTsIsNanos]] on an already-read `events` footer. */
  private def tsIsNanos(spark: SparkSession, sfDir: String, footer: ParquetMetadata): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val schema = footer.getFileMetaData.getSchema
    val prim = schema.getType(schema.getFieldIndex("ts")).asPrimitiveType()
    prim.getLogicalTypeAnnotation match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
        t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
      case _ =>
        import scala.jdk.CollectionConverters._
        val maxes = footer.getBlocks.asScala
          .flatMap(_.getColumns.asScala)
          .filter(_.getPath.toDotString == "ts")
          .flatMap { c =>
            val s = c.getStatistics
            if (s != null && s.hasNonNullValue)
              Some(s.genericGetMax.asInstanceOf[java.lang.Long].longValue)
            else None
          }
        val mx =
          if (maxes.nonEmpty) maxes.max
          else eventsRaw(spark, sfDir)
            .agg(max(abs(col("ts")))).head.getLong(0)
        mx >= 100000000000000000L // 1e17
    }
  }

  /** `events` with `ts` still the NATIVE footer type of the scan (long
    * nanos or TIMESTAMP_NTZ, generation-dependent — see events above).
    * Time-range predicates meant to reach the scan (PushedFilters +
    * row-group pruning) must be applied HERE, against the raw column —
    * applied after the µs conversion they sit on a derived expression
    * and cannot push down. See ReferenceQueries.q1.
    *
    * Requires `spark.sql.legacy.parquet.nanosAsLong=true` at SESSION
    * BUILD for the nanos generation (all mains and SparkSpec set it; a
    * reader must not mutate global session conf as a side effect, and
    * the conf only takes effect reliably when set before the first
    * parquet read anyway). The conf is inert for µs footers. */
  def eventsRaw(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events")
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** Widen a small scan before CPU-heavy per-row work (optimization guide
    * §2.5 "input skew": a scan with fewer splits than the cluster has
    * cores serializes everything downstream of it). A single-file,
    * single-row-group parquet table — exactly what the test corpus is —
    * plans ONE input split no matter how many cores the session has, so
    * regex/digest/HOF-heavy projections run on one core while the other
    * 31 idle. One round-robin exchange of the (by construction small)
    * input restores full parallelism.
    *
    * Scale-adaptive by derivation, not a tuned constant: the no-op
    * condition is `scan splits >= defaultParallelism`, which every
    * at-scale table satisfies (100 TB plans ~10⁶ splits), so the exchange
    * exists only in the regime where the scan cannot feed the cores —
    * and there the shuffled bytes are bounded by splits × maxPartitionBytes
    * (< cores × 128 MB). Apply ONLY in front of compute-heavy per-row
    * work: for cheap projections/aggregations the extra stage costs more
    * than the parallelism buys (measured: sha256 dedup slowed 0.22 s →
    * 0.41 s at sf0.1, while regex text-stats sped 0.30 s → 0.19 s and
    * md5-shingle MinHash 1.06 s → 0.55 s).
    *
    * PRECONDITION (ADVICE r21): the round-robin exchange ties
    * row-to-partition layout to defaultParallelism, so a widened
    * operator's OUTPUT must be order-insensitive or carry total
    * tie-breaking sort keys — otherwise partition-local tie order makes
    * the result machine-dependent. Every current caller is
    * oracle-verified with total keys (ProtocolSortSpec documents the
    * invariant); do not add widen in front of a ties-sensitive operator.
    * Cost note: the `df.rdd.getNumPartitions` probe constructs a second
    * physical plan for the child per call — acceptable for the handful of
    * compute-heavy callers, not free; don't sprinkle widen defensively. */
  private[graft] def widen(df: DataFrame): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < n) df.repartition(n) else df
  }
}
