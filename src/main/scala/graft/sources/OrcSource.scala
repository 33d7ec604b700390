package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** ORC source variant — generalizes reference S1 beyond CSV/parquet: the
  * engine's scan surface is format-pluggable through Spark's data-source
  * registry, and ORC ships in spark-sql (orc-core is on the classpath;
  * there is no spark-avro connector jar, so Avro stays out of scope).
  * The operator round-trips the orders table through ORC at a
  * deterministic temp location and answers from the ORC scan; predicate
  * pushdown and column pruning reach the ORC reader exactly as with
  * parquet (PushedFilters in the scan node, spec-asserted), and the
  * round-trip is lossless, so the DuckDB oracle can run the same
  * aggregate over the ORIGINAL parquet and match bit-for-bit. At scale
  * the materialization half is the one-time format-conversion job; the
  * scan half is the steady-state reader.
  */
object OrcSource {
  // per-JVM scratch root ([[Scratch]]): a SHARED tmp path raced
  // overwrite-vs-read between parallel bench and verify JVMs — one
  // JVM's mode(overwrite) deleted part files under the other's scan
  private def orcPath(sfDir: String): String =
    s"${Scratch.root("graft_orc").getPath}/" +
      s"${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}/orders"

  /** Idempotent ORC materialization of `orders` + read-back. Overwrite on
    * every call keeps the operator deterministic and self-contained. */
  def ordersOrc(spark: SparkSession, sfDir: String): DataFrame = {
    val path = orcPath(sfDir)
    Tables.orders(spark, sfDir).write.mode("overwrite").orc(path)
    spark.read.orc(path)
  }

  /** Filter + aggregate answered from the ORC scan; the o_totalprice
    * predicate pushes into the ORC reader (row-group skipping via ORC
    * stripe statistics — the same scan-pruning contract as parquet). */
  def orcScan(spark: SparkSession, sfDir: String): DataFrame =
    scanAgg(ordersOrc(spark, sfDir))

  /** The filter + aggregate both format variants answer ([[orcScan]] and
    * [[JsonSource.jsonScan]]), one query shape so their plans diff
    * cleanly. */
  private[sources] def scanAgg(orders: DataFrame): DataFrame =
    orders
      .filter(col("o_totalprice") > 150000)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")) + lit(1e-9), 2).as("total_price"))

  /** Oracle of both scans over the original parquet — valid because the
    * ORC round-trip is lossless, and so is the JSON one under its
    * explicit schema. */
  val scanAggSql: String =
    """SELECT o_orderstatus, count(*) AS n_orders,
      |       round(sum(o_totalprice) + 1e-9, 2) AS total_price
      |FROM orders
      |WHERE o_totalprice > 150000
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin
}
