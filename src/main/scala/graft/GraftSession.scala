package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession factory of every main and the test suite: UTC
  * session time zone, `nanosAsLong` for the ns-annotated `events.ts`
  * footer generations (Tables.events adapts on the footer), no UI, one
  * shuffle partition per core. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, parsed when read: a non-numeric or non-positive
    * value fails here, loudly, instead of reaching a master URL or an
    * output file. Each caller keeps its own default. */
  def cpus(default: Int): Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"), default)

  private[graft] def parseCpus(value: Option[String], default: Int): Int =
    value.fold(default) { v =>
      val n = v.trim.toInt // NumberFormatException on a non-numeric value
      require(n >= 1, s"SPARK_GRAFT_CPUS=$n: need at least one core")
      n
    }

  /** A local session on `cpus` cores, logging at WARN; `configure`
    * adds caller settings (catalog, server) before `getOrCreate`. */
  def local(cpus: Int,
      configure: SparkSession.Builder => SparkSession.Builder = identity)
      : SparkSession = {
    val s = configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
