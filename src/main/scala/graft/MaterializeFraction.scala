package graft


/** Dev-tool main: materialize the first pct % of every table under a
  * scale-factor dir (by primary-key order — `Bench.materializeFraction`'s
  * exact LOAD_PERCENTAGE semantics) into an output dir, so correctness
  * sweeps can run at INTERMEDIATE scale points the driver doesn't ship.
  * The concrete use: `d_dedup_groups`'s deliberately naive quadratic
  * DuckDB twin blows a 90-min budget at sf0.1 (5 000 docs) but fits at a
  * 30 % fraction (1 500 docs ≈ sf0.03) — the midpoint that closes the
  * oracle-coverage gap above sf0.01. Spark writes the fraction, so the
  * parquet footers match what the engine reads everywhere else.
  *
  * Usage: runMain graft.MaterializeFraction <sfDir> <outBase> <pct>
  * (tables land at <outBase>/p<pct>/<table>.parquet)
  */
object MaterializeFraction {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outBase, pctS) = args.take(3)
    val spark = GraftSession.local(GraftSession.cpus(8))
    val out = Bench.materializeFraction(spark, sfDir, pctS.toInt, outBase)
    println(s"[materialize-fraction] wrote $out")
    spark.stop()
  }
}
