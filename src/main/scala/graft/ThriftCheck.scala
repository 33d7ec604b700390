package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.hive.thriftserver.HiveThriftServer2

/** Standalone check of the external SQL wire surface (SURVEY.md S10): the
  * reference serves HiveServer2 Thrift (`/root/reference/hive.py:8-9`
  * connects with pyhive). Here the engine's session catalog is exposed
  * through Spark's own HiveThriftServer2 and queried back over the SAME
  * protocol + JDBC driver stack a reference client would use, running the
  * reference's Q2 shape end-to-end across the wire.
  *
  * Runs in its own JVM (catalog + server lifecycle are per-JVM).
  * Usage: sbt "runMain graft.ThriftCheck"; prints `[thrift] ok …`.
  */
object ThriftCheck {
  def main(args: Array[String]): Unit = {
    val base = java.nio.file.Files.createTempDirectory("graft_thrift").toString
    System.setProperty("derby.system.home", s"$base/derby")
    // Ephemeral free port (bind 0, read the assignment, release): a fixed
    // port would collide with a stale server or a concurrent run and turn
    // into a 30 s retry spin ending in an unrelated-looking connect error.
    // A probe-then-bind window remains (another process could grab the
    // port between close and the server's bind) — accepted for this
    // single-machine diagnostic; the connect loop below surfaces it as a
    // plain connection failure rather than hanging.
    val port = {
      val probe = new java.net.ServerSocket(0)
      try probe.getLocalPort finally probe.close()
    }
    val spark = GraftSession.local(4, _
      .config("spark.sql.warehouse.dir", s"$base/warehouse")
      .config("hive.server2.thrift.port", port.toString)
      .config("hive.server2.thrift.bind.host", "127.0.0.1")
      .enableHiveSupport())

    // The events table, registered globally so Thrift sessions see it.
    Tables.events(spark, "/root/testdata/sf0.001")
      .createOrReplaceGlobalTempView("events_wire")

    HiveThriftServer2.startWithSparkSession(spark, exitOnError = false)
    try {
      Class.forName("org.apache.hive.jdbc.HiveDriver")
      // The server binds asynchronously; retry the connect briefly.
      var conn: java.sql.Connection = null
      var attempts = 0
      while (conn == null) {
        try conn = java.sql.DriverManager
          .getConnection(s"jdbc:hive2://127.0.0.1:$port/default", "", "")
        catch {
          case e: Exception =>
            attempts += 1
            if (attempts > 30) throw e
            Thread.sleep(1000)
        }
      }
      val st = conn.createStatement()
      // Reference Q2 over the wire, exactly as hive.py issues it.
      val rs = st.executeQuery(
        """SELECT hour(ts) AS hour_bucket, round(avg(value), 4) AS avg_value
          |FROM global_temp.events_wire GROUP BY hour(ts) ORDER BY hour_bucket""".stripMargin)
      val rows = Iterator.continually(rs)
        .takeWhile(_.next()).map(r => (r.getInt(1), r.getDouble(2))).toVector
      require(rows.size == 24, s"expected 24 hourly rows, got ${rows.size}")
      require(rows.map(_._1) == (0 until 24).toVector, "hour buckets off")
      // Cross-check against the in-process engine result. Tolerance
      // compare (1e-4 = one unit in the rounded decimal place): two
      // separate executions of round(avg, 4) can land a bucket on a
      // half-tie and flip the last digit without anything being wrong.
      val local = ReferenceQueriesLocal.hourly(spark)
      require(local.keySet == rows.toMap.keySet, "wire vs local bucket sets differ")
      rows.foreach { case (h, v) =>
        require(math.abs(v - local(h)) <= 1e-4, s"hour $h: wire $v vs local ${local(h)}")
      }
      println(s"[thrift] ok rows=${rows.size} port=$port")
      conn.close()
    } finally {
      spark.stop()
    }
  }
}

/** In-process twin of the over-the-wire Q2 for the cross-check. */
private object ReferenceQueriesLocal {
  def hourly(spark: SparkSession): Map[Int, Double] = {
    import org.apache.spark.sql.functions._
    spark.table("global_temp.events_wire")
      .groupBy(hour(col("ts")).as("h"))
      .agg(round(avg(col("value")), 4).as("a"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
  }
}
