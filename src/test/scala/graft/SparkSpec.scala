package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all specs (one JVM, reused via getOrCreate). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf001 = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"
  /** The reference repo's own sensor CSVs (FIXTURES.md §A). */
  val measurements = "/root/reference/Measurements"

  /** Cancels (not fails) a test that reads [[measurements]] on a machine
    * without the reference checkout. */
  def assumeMeasurements(): Unit =
    assume(new java.io.File(measurements).isDirectory,
      s"reference CSVs absent: $measurements")
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4)
}
