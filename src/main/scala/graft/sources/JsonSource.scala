package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables

/** JSON-lines source variant — the third scan format beside parquet/CSV
  * and ORC (reference S1 generalized; NDJSON is what the reference's
  * NGSI-LD notifications are made of, so the batch engine should read it
  * too). The round-trip is lossless under an EXPLICIT schema (dates
  * re-parse from ISO strings, doubles print at full precision), which the
  * spec asserts — but unlike parquet/ORC, a JSON scan has no column
  * pruning or predicate pushdown: every byte of every row is parsed
  * before any filter runs. That asymmetry is the design point at 100 TB:
  * JSON is an INGEST format — land it, convert to columnar once
  * (`CsvBatchIngest` posture), and answer queries from the columnar copy.
  * The operator keeps the query-from-JSON path anyway because one-shot
  * exploratory scans over landed JSON are a real workload, and the
  * explicit-schema read avoids the double-pass schema inference a naive
  * `spark.read.json` pays.
  */
object JsonSource {
  // per-JVM scratch root with exit sweep — the overwrite-vs-read
  // concurrency contract lives in ONE place ([[Scratch]])
  private def jsonPath(sfDir: String): String =
    s"${Scratch.root("graft_json").getPath}/" +
      s"${sfDir.replaceAll("[^a-zA-Z0-9]", "_")}/orders"

  /** Idempotent NDJSON materialization of `orders` + explicit-schema
    * read-back (overwrite keeps it deterministic and self-contained). */
  def ordersJson(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Tables.orders(spark, sfDir)
    val path = jsonPath(sfDir)
    src.write.mode("overwrite").json(path)
    spark.read.schema(src.schema).json(path)
  }

  /** Filter + aggregate answered from the JSON scan — the same
    * [[OrcSource.scanAgg]] as the ORC variant, so the two formats' plans
    * diff cleanly: the ORC plan shows PushedFilters, the JSON plan shows
    * the filter ABOVE a full parse — the documented reason to convert
    * early. */
  def jsonScan(spark: SparkSession, sfDir: String): DataFrame =
    OrcSource.scanAgg(ordersJson(spark, sfDir))
}
