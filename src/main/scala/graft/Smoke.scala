package graft


/** Dev smoke driver: runs SparkEntry.entry exactly as the round driver's
  * t1 check does (rows > 0 on sf0.001) and prints the formatted physical
  * plan so partitioning/broadcast decisions can be inspected per round.
  * Usage: sbt "runMain graft.Smoke [queryName] [time]"
  * With the trailing `time` argument, additionally runs the Bench
  * protocol for that one query (warm-up + SPARK_GRAFT_BENCH_RUNS
  * timed noop-sink materializations, default 5) and prints
  * median/mean — the per-query profiling loop for chasing a single
  * operator's cost without a full bench pass.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.cpus(32))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    args.headOption match {
      case Some(name) =>
        val fn = SparkEntry.queries(name)
        val df = fn(spark, sfDir)
        df.explain("formatted")
        println(s"[smoke] rows=${df.count()}")
        df.show(5, truncate = false)
        if (args.lift(1).contains("time")) {
          val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
          val st = Bench.timeQuery(fn, spark, sfDir, runs)
          println(f"[smoke] $name @ $sfDir: median=${st.median}%.3f s " +
            f"mean=${st.mean}%.3f s ci95=${st.ci95}%.3f (runs=$runs)")
        }
      case None =>
        val df = SparkEntry.entry(spark)
        df.explain("formatted")
        println(s"[smoke] rows=${df.count()}")
        df.show(5, truncate = false)
    }
    spark.stop()
  }
}
