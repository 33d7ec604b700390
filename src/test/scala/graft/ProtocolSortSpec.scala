package graft

import org.apache.spark.sql.functions._

/** Optimization invariants for the registry's protocol sort and the
  * widen helper (rounds 21–22).
  *
  *  1. `SparkEntry.srt` is CHILD-AWARE:
  *     - a query whose child's topmost exchange is NOT distribution-
  *       required (exchange-free filtered scan q1, or a round-robin
  *       widen under a regex projection d_text_stats) plans a
  *       SinglePartition exchange + in-partition sort — coalescing would
  *       run the child's compute in one task, and a global orderBy's
  *       RangePartitioning bound-sampling pass would re-execute it
  *       (driver-measured: q1 1.38×, d_text_stats 2.08× from avoiding
  *       it);
  *     - a query whose child ends in its own ENSURE_REQUIREMENTS exchange
  *       (aggregate/join/window tops: q2, q_agg_pricing, d_dedup_minhash)
  *       plans coalesce(1) + in-partition sort: no exchange above the
  *       child's own and no sampling job. No SinglePartition exchange
  *       over a shuffle-reduced child — that unconditional funnel was a
  *       driver-measured 4.4× regression on q2 at 32 cores (r21).
  *     - `spark.graft.protocolSort=range` forces the scalable range sort
  *       on every path (the 100 TB presentation-sort posture);
  *       default `auto` applies the child-aware rule.
  *
  *  2. `Tables.widen` must widen a fewer-splits-than-cores scan to
  *     defaultParallelism, preserve the rows exactly, and no-op (same
  *     plan, no added exchange) once the input already has enough
  *     partitions — the guard that keeps it inert at scale.
  *     PRECONDITION (ADVICE r21): widen's round-robin exchange ties
  *     row-to-partition layout to defaultParallelism, so a widened
  *     operator's OUTPUT must be order-insensitive or carry total
  *     tie-breaking sort keys — every current caller is oracle-verified
  *     with total keys; a future caller on a ties-sensitive operator
  *     would produce machine-dependent output.
  */
class ProtocolSortSpec extends SparkSpec {

  private def planOf(name: String, dir: String = sf001): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("exchange-free children keep the SinglePartition protocol sort") {
    Seq("q1_time_filter", "d_text_stats").foreach { name =>
      val plan = planOf(name)
      assert(plan.contains("SinglePartition"),
        s"$name: protocol sort lost its SinglePartition exchange")
      assert(!plan.contains("rangepartitioning"),
        s"$name: RangePartitioning exchange reintroduced on an " +
          "exchange-free child — its sampling pass re-executes the " +
          "operator before the real pass")
    }
  }

  /** Shuffle exchanges in a frame's physical plan, through AQE's wrapper. */
  private def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def go(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case e: ShuffleExchangeLike => 1 + e.children.map(go).sum
      case q => q.children.map(go).sum
    }
    go(df.queryExecution.executedPlan)
  }

  test("shuffle-reduced children are sorted in one coalesced partition, with no exchange of their own") {
    Seq("q2_hourly_avg" -> ops.ReferenceQueries.q2HourlyAvg _,
      "q_agg_pricing" -> ops.Relational.aggPricing _,
      "d_dedup_minhash" -> ext.Dedup.dedupMinhash _).foreach { case (name, bare) =>
      val df = SparkEntry.queries(name)(spark, sf001)
      val plan = planOf(name)
      assert(!plan.contains("rangepartitioning"),
        s"$name: range sort reintroduced — its bound-sampling job and range " +
          "exchange are pure per-query overhead over a shuffle-reduced child")
      assert(!plan.contains("SinglePartition"),
        s"$name: single-partition exchange over a shuffle-reduced child " +
          "(the r21 funnel: q2 4.4× slower at 32 cores)")
      assert(plan.contains("Coalesce"), s"$name: protocol sort is not coalesce(1)")
      assert(exchanges(df) == exchanges(bare(spark, sf001)),
        s"$name: the protocol sort added an exchange above the child's own")
      val ranged = {
        spark.conf.set("spark.graft.protocolSort", "range")
        try SparkEntry.queries(name)(spark, sf001).collect().toSeq
        finally spark.conf.unset("spark.graft.protocolSort")
      }
      assert(df.collect().toSeq == ranged, s"$name: rows or row order differ from orderBy's")
    }
  }

  test("a child whose topmost exchange is round-robin keeps the SinglePartition sort") {
    // a required shuffle BELOW the topmost exchange does not count: the
    // round-robin repartition is what feeds the last stage
    val child: SparkEntry.Q = (s, _) =>
      s.range(0, 1000).groupBy((col("id") % 7).as("k")).count().repartition(3)
    val sorted = SparkEntry.srt(child, col("k"))(spark, sf001)
    assert(!SparkEntry.endsInRequiredShuffle(child(spark, sf001).queryExecution.executedPlan))
    val plan = sorted.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("SinglePartition"), plan)
    assert(!plan.contains("rangepartitioning") && !plan.contains("Coalesce"), plan)
    assert(sorted.collect().map(_.getLong(0)).toSeq == (0L until 7L))
  }

  test("spark.graft.protocolSort=range forces the scalable range sort everywhere") {
    spark.conf.set("spark.graft.protocolSort", "range")
    try {
      val plan = planOf("q1_time_filter")
      assert(plan.contains("rangepartitioning"),
        "protocolSort=range must plan orderBy's range sort even on an " +
          "exchange-free child (the 100 TB presentation-sort posture)")
      assert(!plan.contains("SinglePartition, REPARTITION_BY_NUM"))
    } finally spark.conf.unset("spark.graft.protocolSort")
  }

  test("widen parallelizes a single-split scan and preserves rows") {
    val docs = Tables.documents(spark, sf001)
    assert(docs.rdd.getNumPartitions < spark.sparkContext.defaultParallelism,
      "fixture changed: documents no longer a narrow scan — rewrite this spec")
    val widened = Tables.widen(docs)
    assert(widened.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    val a = docs.select(col("doc_id"), col("text")).collect().map(_.toString).sorted
    val b = widened.select(col("doc_id"), col("text")).collect().map(_.toString).sorted
    assert(a.sameElements(b), "widen changed row content")
  }

  test("widen is a no-op once the scan already feeds every core") {
    val n = spark.sparkContext.defaultParallelism
    val wide = Tables.documents(spark, sf001).repartition(n + 1)
    assert(Tables.widen(wide) eq wide,
      "widen must not add an exchange when splits >= defaultParallelism")
  }
}
