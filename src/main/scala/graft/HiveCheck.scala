package graft

import graft.sources.TableOps

/** Standalone check that the DDL surface (sources/TableOps) works against
  * a REAL Hive metastore (embedded Derby), matching the north-star
  * "Spark SQL + Hive connector" deployment shape. Runs in its own JVM
  * because the catalog implementation is fixed at first-session creation.
  * Usage: sbt "runMain graft.HiveCheck"; prints `[hive] ok …` on success.
  */
object HiveCheck {
  def main(args: Array[String]): Unit = {
    val base = java.nio.file.Files.createTempDirectory("graft_hive").toString
    System.setProperty("derby.system.home", s"$base/derby")
    val spark = GraftSession.local(4, _
      .config("spark.sql.warehouse.dir", s"$base/warehouse")
      .enableHiveSupport())
    require(spark.conf.get("spark.sql.catalogImplementation") == "hive",
      "expected a hive catalog")

    // partitioned managed table through the Hive metastore
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("room", org.apache.spark.sql.functions.col("event_type"))
    TableOps.resetTable(spark, "events_hive", events, Seq("room"))
    val n = spark.sql("SELECT count(*) FROM events_hive").collect()(0).getLong(0)
    val parts = spark.sql("SHOW PARTITIONS events_hive").count()

    // external table over a parquet DIRECTORY (Hive metastore requires a
    // directory location, unlike the path-based in-memory catalog)
    Tables.region(spark, "/root/testdata/sf0.001")
      .write.mode("overwrite").parquet(s"$base/region_ext")
    TableOps.registerExternal(spark, "region_ext", s"$base/region_ext")
    val r = spark.table("region_ext").count()

    // partition pruning against the metastore-backed table
    val pruned = spark.sql("SELECT count(*) FROM events_hive WHERE room = 'click'")
      .collect()(0).getLong(0)

    require(n > 0 && parts >= 5 && r == 5 && pruned > 0 && pruned < n)
    println(s"[hive] ok rows=$n partitions=$parts region=$r pruned=$pruned")
    spark.sql("DROP TABLE IF EXISTS events_hive")
    spark.sql("DROP TABLE IF EXISTS region_ext")
    spark.stop()
  }
}
