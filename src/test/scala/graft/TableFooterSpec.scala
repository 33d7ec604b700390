package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Tables` opens every table from one driver-side footer read: the schema
  * it hands the reader is the one Spark's own inference derives, on every
  * corpus scale and every `events.ts` generation, and opening a table
  * starts no Spark job. */
class TableFooterSpec extends SparkSpec {

  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet(): Unit
    }
    GraftListenerBus.drain(sc)
    sc.addSparkListener(l)
    try { body; GraftListenerBus.drain(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  /** The schema `Tables` opens `dir/name` with is exactly the one
    * `spark.read.parquet` infers (StructType equality: names, types,
    * nullability, metadata), and so is the footer's own schema: every
    * field of these files is OPTIONAL. */
  private def assertSameSchema(dir: String, name: String): Unit = {
    val path = s"$dir/$name.parquet"
    val inferred = spark.read.parquet(path).schema
    val opened = Tables.table(spark, dir, name).schema
    assert(opened == inferred, s"$path:\n opened   $opened\n inferred $inferred")
    assert(footerOf(path) == inferred, s"$path:\n footer   ${footerOf(path)}\n inferred $inferred")
  }

  private def footerOf(path: String): StructType = {
    val f = new java.io.File(path)
    Tables.fileSchema(spark,
      if (f.isFile) path else f.listFiles().map(_.getPath).filter(_.endsWith(".parquet")).min)
  }

  test("the footer-derived schema is Spark's inferred schema for every table at every SF") {
    for (dir <- Seq(sf001, sf01, "/root/testdata/sf0.1"); t <- tables)
      assertSameSchema(dir, t)
  }

  test("the footer-derived schema is Spark's inferred schema for every events.ts generation") {
    val base = java.nio.file.Files.createTempDirectory("graft_ts_gen").toString
    val ev = Tables.events(spark, sf001).select(col("event_id"), col("user_id"), col("ts"))
    def write(gen: String, df: DataFrame, tsType: String = "TIMESTAMP_MICROS"): String = {
      val dir = s"$base/$gen"
      val key = "spark.sql.parquet.outputTimestampType"
      val saved = spark.conf.getOption(key)
      spark.conf.set(key, tsType)
      try df.write.parquet(s"$dir/events.parquet")
      finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      dir
    }
    val gens = Map(
      "int64_ns" -> write("int64_ns", ev.withColumn("ts", unix_micros(col("ts")) * 1000L)),
      "int64_us" -> write("int64_us", ev.withColumn("ts", unix_micros(col("ts")))),
      "ntz_us" -> write("ntz_us", ev.withColumn("ts", col("ts").cast(TimestampNTZType))),
      "utc_us" -> write("utc_us", ev),
      "utc_ms" -> write("utc_ms", ev, "TIMESTAMP_MILLIS"))
    // TIMESTAMP(NANOS) can only come from a non-Spark writer: one file with
    // a REQUIRED key column, so a non-nullable footer field is covered too
    val nanos = s"$base/nanos"
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; optional int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$nanos/events.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try (1L to 3L).foreach { i =>
      w.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", i).append("ts", 1700000000000000000L + i * 1000L))
    } finally w.close()

    gens.foreach { case (gen, dir) =>
      withClue(s"$gen: ")(assertSameSchema(dir, "events"))
      assert(Tables.events(spark, dir).schema("ts").dataType == TimestampType, gen)
    }
    // a REQUIRED footer field: the reader, like Spark's inference, opens
    // every field nullable
    val inferred = spark.read.parquet(s"$nanos/events.parquet").schema
    assert(Tables.table(spark, nanos, "events").schema == inferred)
    assert(!footerOf(s"$nanos/events.parquet")("event_id").nullable && inferred("event_id").nullable)
    assert(Tables.events(spark, nanos).schema("ts").dataType == TimestampType)
    assert(Tables.table(spark, nanos, "events").schema("ts").dataType == LongType)
    assert(Tables.longTsIsNanos(spark, nanos) && Tables.longTsIsNanos(spark, gens("int64_ns")))
    assert(!Tables.longTsIsNanos(spark, gens("int64_us")))
    val fromNanos = Tables.events(spark, nanos).orderBy("event_id")
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
    assert(fromNanos == Seq(1700000000000001L, 1700000000000002L, 1700000000000003L))
  }

  test("opening a table starts no Spark job; registry q2 runs as many jobs as bare q2") {
    Tables.events(spark, sf001).count(): Unit // warm the session
    assert(jobsDuring(Tables.table(spark, sf001, "events")) == 0)
    assert(jobsDuring(Tables.events(spark, sf001)) == 0)
    assert(jobsDuring(Tables.lineitem(spark, sf01)) == 0)
    val q2 = SparkEntry.queries("q2_hourly_avg")
    q2(spark, sf001).collect(): Unit // memoize the sort-form probe
    val bare = jobsDuring(ops.ReferenceQueries.q2HourlyAvg(spark, sf001).collect(): Unit)
    val registry = jobsDuring(q2(spark, sf001).collect(): Unit)
    assert(bare > 0 && registry == bare, s"registry q2 ran $registry jobs, bare q2 $bare")
  }

  test("a missing table or a directory without parquet data fails naming the path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_no_table").toString
    val missing = intercept[java.io.FileNotFoundException](Tables.table(spark, dir, "events"))
    assert(missing.getMessage.contains(s"$dir/events.parquet"), missing.getMessage)
    new java.io.File(s"$dir/orders.parquet").mkdirs()
    new java.io.File(s"$dir/orders.parquet/_SUCCESS").createNewFile(): Unit
    val empty = intercept[IllegalArgumentException](Tables.table(spark, dir, "orders"))
    assert(empty.getMessage.contains(s"$dir/orders.parquet"), empty.getMessage)
  }

  test("a torn parquet file has no readable footer") {
    val dir = java.nio.file.Files.createTempDirectory("graft_torn").toString
    val f = new java.io.File(dir, "part-0.parquet")
    java.nio.file.Files.write(f.toPath, "PAR1 torn mid-write".getBytes("UTF-8")): Unit
    intercept[Exception](Tables.fileSchema(spark, f.getPath))
  }
}
