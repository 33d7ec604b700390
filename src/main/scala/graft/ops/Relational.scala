package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Generalized relational operator surface (SURVEY.md §7.2 step 6).
  *
  * The reference declares its queries in HiveQL, so "same query
  * capabilities" means everything HiveQL offered over those tables:
  * filters, projections with scalar functions, all join types, set ops,
  * cube/rollup/grouping sets, distinct, top-k, windows. Each operator
  * here is one named query over the TPC-H-ish corpus with a DuckDB
  * oracle (FIXTURES.md §B).
  *
  * Scale conventions used throughout:
  *   - dimension tables (region/nation) are explicitly `broadcast()`;
  *     fact-fact joins stay shuffle joins keyed on the join column;
  *   - aggregations are expressed via groupBy/agg so Catalyst plans
  *     partial (map-side) + final hash aggregation;
  *   - floating aggregates are rounded (2 decimals for price sums, 4 for
  *     averages/ratios) identically in Spark and the oracle so the hash
  *     compare is immune to summation-order ulps;
  *   - operators return UNSORTED results (row order is presentation, not
  *     computation — no global sort is paid at 100 TB); the deterministic
  *     orderBy the oracle protocol needs is applied by `SparkEntry`'s
  *     registry, except where ordering IS the semantics (top-k).
  */
object Relational {

  // ---------------------------------------------------------------- agg

  /** TPC-H Q1-shaped pricing summary: multi-aggregate hash group-by. */
  def aggPricing(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") <= lit("1998-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        Num.r4(avg(col("l_quantity"))).as("avg_qty"),
        Num.r4(avg(col("l_extendedprice"))).as("avg_price"),
        count(lit(1)).as("count_order"))

  val aggPricingSql: String =
    """SELECT l_returnflag, l_linestatus,
      |       round(sum(l_quantity), 2) AS sum_qty,
      |       round(sum(l_extendedprice), 2) AS sum_base_price,
      |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      |       round(avg(l_quantity) + 1e-9, 4) AS avg_qty,
      |       round(avg(l_extendedprice) + 1e-9, 4) AS avg_price,
      |       count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-12-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ------------------------------------------------------------- filter

  /** Range + conjunctive predicate filter, pushed to the parquet scan. */
  def filterRange(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") <  lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))

  val filterRangeSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // -------------------------------------------------------------- joins

  /** Inner equi-join fact→dim. */
  def joinInner(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"), "inner")
      .select(col("o_orderkey"), col("c_name"), col("o_totalprice"))

  val joinInnerSql: String =
    """SELECT o_orderkey, c_name, o_totalprice
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_orderkey""".stripMargin

  /** Left outer join, preserving customers without matching orders in the
    * filtered right side. */
  def joinLeft(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir).filter(col("o_totalprice") > 450000),
        col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_totalprice"))

  val joinLeftSql: String =
    """SELECT c_custkey, c_name, o_orderkey, o_totalprice
      |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 450000) o
      |  ON c_custkey = o_custkey
      |ORDER BY c_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""".stripMargin

  /** Left-semi join: customers holding at least one high-value order. */
  def joinSemi(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir).filter(col("o_totalprice") > 450000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))

  val joinSemiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 450000)
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti join: customers with no high-value order. */
  def joinAnti(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir).filter(col("o_totalprice") > 450000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))

  val joinAntiSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
      |ORDER BY c_custkey""".stripMargin

  /** Right outer join (mirror of joinLeft, exercising the planner's
    * right-side preservation). */
  def joinRight(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir).filter(col("o_totalprice") > 450000)
      .join(Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"), "right")
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"), col("o_totalprice"))

  val joinRightSql: String =
    """SELECT c_custkey, c_name, o_orderkey, o_totalprice
      |FROM (SELECT * FROM orders WHERE o_totalprice > 450000) o
      |RIGHT JOIN customer ON o_custkey = c_custkey
      |ORDER BY c_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""".stripMargin

  /** Cartesian product of the two smallest dimensions. */
  def crossJoin(spark: SparkSession, sfDir: String): DataFrame =
    Tables.region(spark, sfDir).select(col("r_name"))
      .crossJoin(Tables.nation(spark, sfDir).select(col("n_name")))

  val crossJoinSql: String =
    """SELECT r_name, n_name FROM region CROSS JOIN nation
      |ORDER BY r_name, n_name""".stripMargin

  /** Full outer join of two aggregated sides (per-nation customer vs
    * supplier counts over filtered subsets so each side has gaps). */
  def joinFull(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
      .filter(col("c_acctbal") > 9000)
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_custs"))
    val supp = Tables.supplier(spark, sfDir)
      .filter(col("s_acctbal") > 5000)
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_supps"))
    cust.join(supp, Seq("nationkey"), "full")
  }

  val joinFullSql: String =
    """SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey, c.n_custs, s.n_supps
      |FROM (SELECT c_nationkey AS nationkey, count(*) AS n_custs
      |      FROM customer WHERE c_acctbal > 9000 GROUP BY 1) c
      |FULL JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_supps
      |           FROM supplier WHERE s_acctbal > 5000 GROUP BY 1) s
      |  USING (nationkey)
      |ORDER BY nationkey ASC NULLS FIRST""".stripMargin

  /** Star join: revenue per region. lineitem→orders→customer→nation→region
    * with the two true dimension tables broadcast; the fact-side joins
    * shuffle on their keys and AQE handles the rest. One final 5-row agg. */
  def joinMultiway(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, sfDir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))

  val joinMultiwaySql: String =
    """SELECT r_name,
      |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |       count(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name
      |ORDER BY r_name""".stripMargin

  // ------------------------------------------------------------ set ops

  /** 2-way UNION ALL with tagged branches (reference U1 shape). */
  def unionAll(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir).select(
      lit("customer").as("src"), col("c_nationkey").as("nationkey"),
      col("c_name").as("name"), col("c_acctbal").as("acctbal"))
    val s = Tables.supplier(spark, sfDir).select(
      lit("supplier").as("src"), col("s_nationkey").as("nationkey"),
      col("s_name").as("name"), col("s_acctbal").as("acctbal"))
    c.unionByName(s)
  }

  val unionAllSql: String =
    """SELECT * FROM (
      |  SELECT 'customer' AS src, c_nationkey AS nationkey, c_name AS name, c_acctbal AS acctbal FROM customer
      |  UNION ALL
      |  SELECT 'supplier', s_nationkey, s_name, s_acctbal FROM supplier)
      |ORDER BY src, nationkey, name""".stripMargin

  /** UNION DISTINCT of the two nationkey sets. */
  def unionDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir).select(col("c_nationkey").as("nationkey"))
      .union(Tables.supplier(spark, sfDir).select(col("s_nationkey").as("nationkey")))
      .distinct()

  val unionDistinctSql: String =
    """SELECT c_nationkey AS nationkey FROM customer
      |UNION
      |SELECT s_nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin

  /** INTERSECT (distinct) of nation keys present on both sides. */
  def intersectKeys(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir).select(col("c_nationkey").as("nationkey"))
      .intersect(Tables.supplier(spark, sfDir)
        .filter(col("s_acctbal") > 5000).select(col("s_nationkey").as("nationkey")))

  val intersectKeysSql: String =
    """SELECT c_nationkey AS nationkey FROM customer
      |INTERSECT
      |SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000
      |ORDER BY nationkey""".stripMargin

  /** EXCEPT (distinct): nations with customers but no rich supplier. */
  def exceptKeys(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir).select(col("c_nationkey").as("nationkey"))
      .except(Tables.supplier(spark, sfDir)
        .filter(col("s_acctbal") > 5000).select(col("s_nationkey").as("nationkey")))

  val exceptKeysSql: String =
    """SELECT DISTINCT c_nationkey AS nationkey FROM customer
      |EXCEPT
      |SELECT s_nationkey FROM supplier WHERE s_acctbal > 5000
      |ORDER BY nationkey""".stripMargin

  /** INTERSECT ALL — multiset semantics (duplicates preserved up to the
    * minimum multiplicity on either side). */
  def intersectAllKeys(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir).select(col("c_nationkey").as("nationkey"))
      .intersectAll(Tables.supplier(spark, sfDir).select(col("s_nationkey").as("nationkey")))

  val intersectAllKeysSql: String =
    """SELECT c_nationkey AS nationkey FROM customer
      |INTERSECT ALL
      |SELECT s_nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin

  /** EXCEPT ALL — multiset difference. */
  def exceptAllKeys(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir).select(col("c_nationkey").as("nationkey"))
      .exceptAll(Tables.supplier(spark, sfDir).select(col("s_nationkey").as("nationkey")))

  val exceptAllKeysSql: String =
    """SELECT c_nationkey AS nationkey FROM customer
      |EXCEPT ALL
      |SELECT s_nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin

  // --------------------------------------------------- distinct / top-k

  def distinctOp(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .select(col("c_mktsegment"), col("c_nationkey"))
      .distinct()

  val distinctOpSql: String =
    """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
      |ORDER BY c_mktsegment, c_nationkey""".stripMargin

  /** Global top-k: orderBy + limit plans as TakeOrderedAndProject — a
    * per-partition heap + driver merge, no total sort. */
  def topK(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(15)

  val topKSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 15""".stripMargin

  // ------------------------------------------------------------ windows

  /** Ranking window: first 3 orders per customer. */
  def windowRank(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
  }

  val windowRankSql: String =
    """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_orderdate, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  /** Cumulative frame: running spend per customer. */
  def windowRunning(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum(col("o_totalprice")).over(w), 2).as("running_spend"))
  }

  val windowRunningSql: String =
    """SELECT o_custkey, o_orderkey,
      |       round(sum(o_totalprice) OVER (
      |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
      |FROM orders
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Offset window: days since the customer's previous order. */
  def windowLag(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
          .as("days_since_prev"))
  }

  val windowLagSql: String =
    """SELECT o_custkey, o_orderkey,
      |       datediff('day',
      |         lag(o_orderdate, 1) OVER (PARTITION BY o_custkey
      |                                   ORDER BY o_orderdate, o_orderkey),
      |         o_orderdate) AS days_since_prev
      |FROM orders
      |ORDER BY o_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""".stripMargin

  /** Running DISTINCT count over a window — a gap in Spark's window
    * surface (`count(DISTINCT x) OVER` is unsupported). The naive
    * composition `size(array_distinct(collect_list(x) OVER w))` carries an
    * O(rows-so-far) array per output row — quadratic memory on a hot
    * partition key, dead at 100 TB. This formulation is O(1) per row: mark
    * each (user, type)'s FIRST occurrence with a row_number, then a plain
    * running sum of the markers. Two shuffles (on (user_id, event_type)
    * then user_id) instead of one, but both are fixed-width rows and the
    * second re-partitions by a prefix of the first key. */
  def windowCountDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val firstSeen = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val running = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, sfDir)
      .withColumn("is_first",
        when(row_number().over(firstSeen) === 1, 1L).otherwise(0L))
      .select(col("user_id"), col("event_id"),
        sum(col("is_first")).over(running).as("distinct_types_so_far"))
  }

  val windowCountDistinctSql: String =
    """SELECT user_id, event_id,
      |       count(DISTINCT event_type) OVER (
      |         PARTITION BY user_id ORDER BY ts, event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      |       ) AS distinct_types_so_far
      |FROM events
      |ORDER BY user_id, event_id""".stripMargin

  /** Ranking-function family: dense_rank / ntile / lead over one window. */
  def windowRankings(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"),
        dense_rank().over(w).as("drank"),
        ntile(4).over(w).as("quartile"),
        lead(col("o_orderkey"), 1).over(w).as("next_orderkey"))
  }

  val windowRankingsSql: String =
    """SELECT o_custkey, o_orderkey,
      |       CAST(dense_rank() OVER w AS INT) AS drank,
      |       CAST(ntile(4) OVER w AS INT) AS quartile,
      |       lead(o_orderkey, 1) OVER w AS next_orderkey
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""".stripMargin

  /** Distribution window functions: percent_rank / cume_dist (exact
    * small-integer ratios in double — bit-identical across engines, the
    * 1e-9 rounding guard is belt-and-braces). */
  def windowPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"),
        Num.r4(percent_rank().over(w)).as("prank"),
        Num.r4(cume_dist().over(w)).as("cdist"))
  }

  val windowPercentilesSql: String =
    """SELECT o_custkey, o_orderkey,
      |       round(percent_rank() OVER w + 1e-9, 4) AS prank,
      |       round(cume_dist() OVER w + 1e-9, 4) AS cdist
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Array scalar-function family over tokenized text. */
  def arrayFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("tokens", split(col("text"), " "))
      .select(
        col("doc_id"),
        size(col("tokens")).as("n_tokens"),
        concat_ws(" ", slice(sort_array(col("tokens")), 1, 5)).as("first5_sorted"),
        array_contains(col("tokens"), "the").as("has_the"),
        element_at(col("tokens"), 1).as("first_token"),
        element_at(col("tokens"), -1).as("last_token"))

  val arrayFuncsSql: String =
    """SELECT doc_id,
      |       len(string_split(text, ' ')) AS n_tokens,
      |       array_to_string(list_slice(list_sort(string_split(text, ' ')), 1, 5), ' ') AS first5_sorted,
      |       list_contains(string_split(text, ' '), 'the') AS has_the,
      |       string_split(text, ' ')[1] AS first_token,
      |       string_split(text, ' ')[-1] AS last_token
      |FROM documents ORDER BY doc_id""".stripMargin

  // ------------------------------------------- rollup / grouping sets

  def rollupOp(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total_price"))

  val rollupOpSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
      |       round(sum(o_totalprice), 2) AS total_price
      |FROM orders
      |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  def groupingSetsOp(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders_gs")
    spark.sql(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS total_price
        |FROM orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin)
  }

  val groupingSetsOpSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
      |       round(sum(o_totalprice), 2) AS total_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  // ------------------------------------------------- having / case-when

  def havingOp(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total_spend"))
      .filter(col("n_orders") >= 15)

  val havingOpSql: String =
    """SELECT o_custkey, count(*) AS n_orders,
      |       round(sum(o_totalprice), 2) AS total_spend
      |FROM orders GROUP BY o_custkey HAVING count(*) >= 15
      |ORDER BY o_custkey""".stripMargin

  def caseWhen(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(
        when(col("o_totalprice") < 100000, "small")
          .when(col("o_totalprice") < 300000, "mid")
          .otherwise("large").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"))

  val caseWhenSql: String =
    """SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
      |            WHEN o_totalprice < 300000 THEN 'mid'
      |            ELSE 'large' END AS bucket,
      |       count(*) AS n_orders
      |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin

  // ----------------------------------------------- scalar function sets

  def stringFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("name_upper"),
        lower(col("c_mktsegment")).as("seg_lower"),
        length(col("c_name")).as("name_len"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        concat_ws("-", col("c_mktsegment"), col("c_nationkey")).as("seg_nation"),
        regexp_replace(col("c_name"), "0", "").as("name_nozero"))

  val stringFuncsSql: String =
    """SELECT c_custkey,
      |       upper(c_name) AS name_upper,
      |       lower(c_mktsegment) AS seg_lower,
      |       length(c_name) AS name_len,
      |       substr(c_name, 1, 8) AS name_prefix,
      |       concat_ws('-', c_mktsegment, c_nationkey) AS seg_nation,
      |       regexp_replace(c_name, '0', '', 'g') AS name_nozero
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** Pattern predicates: LIKE and regexp matching with extraction. */
  def likeFilter(spark: SparkSession, sfDir: String): DataFrame =
    Tables.part(spark, sfDir)
      .filter(col("p_type").like("%ECO%") || col("p_name").rlike("^(red|blue)"))
      .select(col("p_partkey"), col("p_name"), col("p_type"),
        regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_num"))

  val likeFilterSql: String =
    """SELECT p_partkey, p_name, p_type,
      |       COALESCE(regexp_extract(p_brand, '([0-9]+)', 1), '') AS brand_num
      |FROM part
      |WHERE p_type LIKE '%ECO%' OR regexp_matches(p_name, '^(red|blue)')
      |ORDER BY p_partkey""".stripMargin

  def dateFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("order_year"),
        month(col("o_orderdate")).as("order_month"),
        dayofmonth(col("o_orderdate")).as("order_day"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("timestamp")).as("days_since_epoch"),
        unix_timestamp(col("o_orderdate")).as("epoch_s"))

  val dateFuncsSql: String =
    """SELECT o_orderkey,
      |       year(o_orderdate) AS order_year,
      |       month(o_orderdate) AS order_month,
      |       day(o_orderdate) AS order_day,
      |       date_trunc('month', o_orderdate) AS month_start,
      |       strftime(o_orderdate, '%Y-%m') AS ym,
      |       datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since_epoch,
      |       CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
      |FROM orders ORDER BY o_orderkey""".stripMargin

  def mathFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(col("l_orderkey") <= 1000)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        round(abs(col("l_discount") - 0.05), 4).as("disc_dev"),
        floor(col("l_extendedprice")).cast("long").as("price_floor"),
        ceil(col("l_extendedprice")).cast("long").as("price_ceil"),
        round(sqrt(col("l_quantity")), 4).as("qty_sqrt"),
        round(log(col("l_extendedprice")), 4).as("price_ln"),
        round(pow(col("l_quantity"), 2), 2).as("qty_sq"))

  val mathFuncsSql: String =
    """SELECT l_orderkey, l_linenumber,
      |       round(abs(l_discount - 0.05), 4) AS disc_dev,
      |       CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
      |       CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
      |       round(sqrt(l_quantity), 4) AS qty_sqrt,
      |       round(ln(l_extendedprice), 4) AS price_ln,
      |       round(pow(l_quantity, 2), 2) AS qty_sq
      |FROM lineitem WHERE l_orderkey <= 1000
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Array aggregation: collect_set per group, sorted and joined to a
    * string so the comparison is order-deterministic across engines
    * (raw collect_list order is partitioning-dependent). */
  def collectAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.nation(spark, sfDir)
      .join(Tables.region(spark, sfDir), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        array_join(sort_array(collect_set(col("n_name"))), ",").as("nations"),
        countDistinct(col("n_name")).as("n_nations"))

  val collectAggSql: String =
    """SELECT r_name,
      |       array_to_string(list_sort(list(DISTINCT n_name)), ',') AS nations,
      |       count(DISTINCT n_name) AS n_nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  /** Frame-bounded first/last: each order row annotated with its
    * customer's first and latest order over the full partition frame. */
  def windowFirstLast(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"),
        first(col("o_orderkey")).over(w).as("first_orderkey"),
        last(col("o_orderkey")).over(w).as("last_orderkey"))
  }

  val windowFirstLastSql: String =
    """SELECT o_custkey, o_orderkey,
      |       first_value(o_orderkey) OVER w AS first_orderkey,
      |       last_value(o_orderkey) OVER w AS last_orderkey
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** IGNORE NULLS offset/frame windows — the gap-fill family time-series
    * pipelines run (last-observation-carried-forward, previous/next
    * non-null reading). Nulls are injected deterministically (every 5th
    * orderkey) so the fill paths are actually exercised; `locf` is the
    * LOCF repair, `prev_nn`/`next_nn` the non-null offset lookups. One
    * customer-keyed window shuffle serves all three functions — per-key
    * windows, never a global sort, so the shape holds at 100 TB. */
  def windowIgnoreNulls(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, sfDir)
      .withColumn("v",
        when(col("o_orderkey") % 5 === 0, lit(null)).otherwise(col("o_totalprice")))
      .select(col("o_custkey"), col("o_orderkey"), col("v"),
        last(col("v"), ignoreNulls = true).over(wf).as("locf"),
        lag(col("v"), 1, null, ignoreNulls = true).over(w).as("prev_nn"),
        lead(col("v"), 1, null, ignoreNulls = true).over(w).as("next_nn"))
  }

  val windowIgnoreNullsSql: String =
    """SELECT o_custkey, o_orderkey, v,
      |       last_value(v IGNORE NULLS) OVER (PARTITION BY o_custkey
      |         ORDER BY o_orderdate, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf,
      |       lag(v, 1 IGNORE NULLS) OVER w AS prev_nn,
      |       lead(v, 1 IGNORE NULLS) OVER w AS next_nn
      |FROM (SELECT o_custkey, o_orderkey, o_orderdate,
      |             CASE WHEN o_orderkey % 5 = 0 THEN NULL
      |                  ELSE o_totalprice END AS v
      |      FROM orders)
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Gaps-and-islands: per customer, maximal runs of consecutive order
    * MONTHS (the classic rn-difference formulation — row_number along the
    * month sequence, anchor = month − rn months, runs share an anchor).
    * Everything is keyed by customer: one window shuffle plus one
    * group-by on the same key, no global ordering anywhere, so island
    * detection parallelizes across keys at any scale. */
  def gapsIslands(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("mon"))
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), trunc(col("o_orderdate"), "month").as("mon"))
      .distinct()
      .withColumn("rn", row_number().over(w))
      .withColumn("anchor", add_months(col("mon"), -col("rn")))
      .groupBy(col("o_custkey"), col("anchor"))
      .agg(min(col("mon")).as("island_start"),
        max(col("mon")).as("island_end"),
        count(lit(1)).as("n_months"))
      .select(col("o_custkey"), col("island_start"), col("island_end"),
        col("n_months"))
  }

  val gapsIslandsSql: String =
    """WITH m AS (
      |  SELECT DISTINCT o_custkey,
      |         CAST(date_trunc('month', o_orderdate) AS DATE) AS mon
      |  FROM orders),
      |r AS (
      |  SELECT o_custkey, mon,
      |         row_number() OVER (PARTITION BY o_custkey ORDER BY mon) AS rn
      |  FROM m)
      |SELECT o_custkey, min(mon) AS island_start, max(mon) AS island_end,
      |       count(*) AS n_months
      |FROM (SELECT o_custkey, mon,
      |             CAST(mon - to_months(CAST(rn AS INT)) AS DATE) AS anchor
      |      FROM r)
      |GROUP BY o_custkey, anchor
      |ORDER BY o_custkey, island_start""".stripMargin

  /** Sessionization: split each user's event stream into sessions at
    * >30-minute gaps (lag + cumulative sum of session-start flags — the
    * batch formulation of what `session_window` does in streaming), then
    * aggregate per session. Two windows over the same (user_id, ts)
    * partitioning reuse one shuffle. */
  def sessionize(spark: SparkSession, sfDir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 1800L * 1000000L,
          1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(byUser))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        Num.r4(avg(col("value"))).as("avg_value"))
  }

  /** Order-independent table checksum — the data-integrity primitive a
    * 100 TB migration/replication/compaction validates with: every row
    * normalizes to a canonical string, hashes through the engine's
    * portable 60-bit md5 fold ([[graft.functions.Md5Prefix60]]), and the
    * per-row hashes reduce by modular SUM — commutative and associative,
    * so ONE map-side-combined aggregate fingerprints the table
    * regardless of row order, partitioning, or file layout (exactly
    * what changes under repartition/compaction/engine migration; pair
    * with [[graft.sources.TableOps.compactTable]]). The mod-p cap keeps
    * 600k·2³¹ far inside BIGINT so no engine promotes to wider
    * arithmetic. Normalization pins the cross-engine string forms:
    * doubles go through DECIMAL(12,2) (exact cents both engines),
    * timestamps through the shared 'yyyy-MM-dd HH:mm:ss' cast. */
  def tableChecksum(spark: SparkSession, sfDir: String): DataFrame =
    tableChecksumOf(spark, Tables.orders(spark, sfDir))

  def tableChecksumOf(spark: SparkSession, orders: DataFrame): DataFrame = {
    graft.functions.Md5Prefix60.register(spark)
    orders
      .select(expr(
        """md5_prefix60(concat_ws('|',
          |  CAST(o_orderkey AS STRING), CAST(o_custkey AS STRING),
          |  o_orderstatus,
          |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS STRING),
          |  CAST(o_orderdate AS STRING), o_orderpriority))""".stripMargin)
        .as("h"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("h") % lit(2147483647L)).as("checksum"))
  }

  val tableChecksumSql: String =
    """WITH h AS (
      |  SELECT list_reduce(list_transform(range(0, 15),
      |           q -> CAST(strpos('0123456789abcdef',
      |                  substr(md5(s), CAST(q + 1 AS INT), 1)) - 1 AS BIGINT)),
      |         (a, b) -> a * 16 + b) % 2147483647 AS hm
      |  FROM (SELECT CAST(o_orderkey AS VARCHAR) || '|' ||
      |               CAST(o_custkey AS VARCHAR) || '|' ||
      |               o_orderstatus || '|' ||
      |               CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) || '|' ||
      |               CAST(o_orderdate AS VARCHAR) || '|' ||
      |               o_orderpriority AS s
      |        FROM orders))
      |SELECT CAST(count(*) AS BIGINT) AS n_rows,
      |       CAST(sum(hm) AS BIGINT) AS checksum
      |FROM h""".stripMargin

  /** Incremental materialized-view refresh — the maintenance pattern
    * that makes standing aggregates affordable at 100 TB: the MV stores
    * MERGEABLE partial state per key ((sum, count) here — avg itself is
    * not mergeable, its partials are), a delta batch aggregates the SAME
    * partials over only the new rows, and refresh = union the two
    * partial relations and re-reduce — the corpus is NEVER rescanned,
    * per-refresh cost is O(delta) + an MV-sized merge. The fixture
    * splits events deterministically (event_id % 10) into base/delta so
    * most keys exercise the merge; the oracle is the full recompute
    * over all rows, proving merge-of-partials == recompute (the same
    * algebra Spark's own partial aggregation relies on, lifted to
    * cross-batch persistence). Final avg is derived sum/count in BOTH
    * engines, so the only FP divergence is summation order, absorbed by
    * the r4 convention. */
  def mvRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("value"))
    def partials(rows: DataFrame): DataFrame = rows
      .groupBy(col("user_id"))
      .agg(sum(col("value")).as("s"), count(lit(1)).as("c"))
    val mv = partials(ev.filter(col("event_id") % 10 =!= 0)) // standing state
    val delta = partials(ev.filter(col("event_id") % 10 === 0)) // new batch
    mv.unionByName(delta)
      .groupBy(col("user_id"))
      .agg(sum(col("s")).as("s2"), sum(col("c")).as("n"))
      .select(col("user_id"), col("n"),
        Num.r4(col("s2")).as("sum_value"),
        Num.r4(col("s2") / col("n")).as("avg_value"))
  }

  val mvRefreshSql: String =
    """SELECT user_id, count(*) AS n,
      |       round(sum(value) + 1e-9, 4) AS sum_value,
      |       round(sum(value) / count(*) + 1e-9, 4) AS avg_value
      |FROM events GROUP BY 1
      |ORDER BY user_id""".stripMargin

  /** SCD Type-2 dimension build — the warehouse-side operator that turns
    * a changefeed into validity intervals (Kimball's slowly-changing
    * dimension): per user in (ts, event_id) order, each change row
    * becomes a version with `valid_from` = its own timestamp,
    * `valid_to` = the NEXT change's timestamp (NULL while current), and
    * an `is_current` flag. One `lead` window over the per-user
    * Exchange+Sort the whole monitoring family already shares —
    * at 100 TB the shuffle carries (key, ts, value) triples, never
    * payload history, and the interval build is a single pass. Pairs
    * with `q_merge_upsert` (latest-state apply): MERGE keeps the
    * current row, SCD2 keeps the full history queryable by as-of
    * interval containment. */
  def scd2(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("value"),
        col("ts").as("valid_from"),
        lead(col("ts"), 1).over(w).as("valid_to"))
      .withColumn("is_current", col("valid_to").isNull)
  }

  val scd2Sql: String =
    """SELECT user_id, event_id, value,
      |       ts AS valid_from,
      |       lead(ts, 1) OVER w AS valid_to,
      |       lead(ts, 1) OVER w IS NULL AS is_current
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, valid_from, event_id""".stripMargin

  val sessionizeSql: String =
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id, value,
      |         CASE WHEN lag(ts, 1) OVER w IS NULL
      |                OR epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) > 1800000000
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id
      |                                        ORDER BY ts, event_id) AS BIGINT) AS session_id
      |  FROM flagged)
      |SELECT user_id, session_id,
      |       min(ts) AS session_start, max(ts) AS session_end,
      |       count(*) AS n_events, round(avg(value) + 1e-9, 4) AS avg_value
      |FROM sessions GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** Generator/table-function family: positional explode of token arrays
    * (1-based positions to align with the oracle's generate_subscripts). */
  def explodeTokens(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("pos"), col("col").as("token"))

  val explodeTokensSql: String =
    """SELECT doc_id,
      |       CAST(generate_subscripts(string_split(text, ' '), 1) AS INT) AS pos,
      |       unnest(string_split(text, ' ')) AS token
      |FROM documents ORDER BY doc_id, pos""".stripMargin

  /** Null-preserving generator: explode_outer keeps a row (with NULL)
    * for documents whose filtered token list is empty — the flatten
    * variant that doesn't silently drop parents. */
  def explodeOuterTokens(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("long_tokens",
        filter(split(col("text"), " "), t => length(t) > 7))
      .select(col("doc_id"), explode_outer(col("long_tokens")).as("token"))

  val explodeOuterTokensSql: String =
    """SELECT doc_id,
      |       unnest(CASE WHEN lt IS NULL OR len(lt) = 0
      |                   THEN [CAST(NULL AS VARCHAR)]
      |                   ELSE lt END) AS token
      |FROM (SELECT doc_id,
      |             list_filter(string_split(text, ' '), t -> length(t) > 7) AS lt
      |      FROM documents)
      |ORDER BY doc_id, token ASC NULLS FIRST""".stripMargin

  /** Unpivot/melt: wide numeric columns to (id, metric, value) long form
    * — the inverse of pivot, and a pure narrow transform (no shuffle). */
  def unpivotOp(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_custkey").cast("double").as("o_custkey_d"))
      .unpivot(Array(col("o_orderkey")),
        Array(col("o_totalprice"), col("o_custkey_d")), "metric", "value")

  /** Stacked-projection oracle rather than DuckDB's UNPIVOT keyword:
    * Dataset.unpivot RETAINS rows whose value is NULL while SQL UNPIVOT
    * excludes them by default (and DuckDB has no INCLUDE NULLS clause), so
    * the UNION ALL form — which trivially keeps NULL values — is the twin
    * that matches Spark's semantics on nullable value columns too. */
  val unpivotOpSql: String =
    """SELECT o_orderkey, 'o_totalprice' AS metric, o_totalprice AS value
      |FROM orders
      |UNION ALL
      |SELECT o_orderkey, 'o_custkey_d', CAST(o_custkey AS DOUBLE)
      |FROM orders
      |ORDER BY o_orderkey, metric""".stripMargin

  /** Statistical aggregates: sample stddev/variance and exact
    * interpolated median per group. */
  def statsAgg(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        Num.r4(stddev_samp(col("l_quantity"))).as("qty_stddev"),
        Num.r4(var_samp(col("l_quantity"))).as("qty_var"),
        Num.r4(expr("percentile(l_quantity, 0.5D)")).as("qty_median"),
        count(lit(1)).as("n"))

  val statsAggSql: String =
    """SELECT l_returnflag,
      |       round(stddev_samp(l_quantity) + 1e-9, 4) AS qty_stddev,
      |       round(var_samp(l_quantity) + 1e-9, 4) AS qty_var,
      |       round(quantile_cont(l_quantity, 0.5) + 1e-9, 4) AS qty_median,
      |       count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Correlated scalar subquery (Catalyst decorrelates it into an
    * aggregate + join — SURVEY.md §4 "subquery handling"): orders that
    * exceed their own customer's average order value. */
  def correlatedSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir).createOrReplaceTempView("orders_corr")
    spark.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders_corr o
        |WHERE o_totalprice > 1.5 * round((SELECT avg(i.o_totalprice)
        |                                   FROM orders_corr i
        |                                   WHERE i.o_custkey = o.o_custkey)
        |                                  + 1e-9, 4)""".stripMargin)
  }

  val correlatedSubquerySql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders o
      |WHERE o_totalprice > 1.5 * round((SELECT avg(i.o_totalprice)
      |                                 FROM orders i
      |                                 WHERE i.o_custkey = o.o_custkey)
      |                                + 1e-9, 4)
      |ORDER BY o_orderkey""".stripMargin

  // ------------------------------------------------------- json / misc

  /** JSON extraction from the events `props` column (semi-structured).
    * try_cast, not cast: the reference's defensive-cast semantics (T9) —
    * under ANSI mode a malformed props value must yield NULL, not kill
    * the query (both engines use their TRY form for parity). */
  def jsonExtract(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"),
        expr("try_cast(get_json_object(props, '$.k') AS INT)").as("k_val"))
      .groupBy(col("event_type"))
      .agg(Num.r4(avg(col("k_val"))).as("avg_k"),
        count(lit(1)).as("n_events"))

  val jsonExtractSql: String =
    """SELECT event_type,
      |       round(avg(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) + 1e-9, 4) AS avg_k,
      |       count(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Exact distinct count per group (expands to a two-phase aggregate). */
  def countDistinctOp(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))

  val countDistinctOpSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** HyperLogLog++ approximate distinct — the 100 TB path where exact
    * distinct would shuffle every key. This sketch-only form is the
    * library operator; `approxDistinct` below is its VERIFICATION twin. */
  def approxDistinctSketch(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"))

  /** Verification twin registered with the driver: raw sketch estimates
    * are engine-specific, so the oracle-checked contract is the ERROR
    * BOUND — this query deliberately pays for the exact count next to the
    * HLL++ estimate (rsd 0.02) and emits a boolean asserting the estimate
    * landed within 10 % (5σ); the DuckDB twin emits the same exact count
    * with TRUE. A hash mismatch would mean the sketch violated its own
    * accuracy guarantee. Library callers on real data use
    * `approxDistinctSketch`, which never computes the exact side. */
  def approxDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("event_type"), col("n_users"),
        (abs(col("approx_users") - col("n_users")).cast("double") / col("n_users") <= 0.1)
          .as("within_10pct"))

  val approxDistinctSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users,
      |       TRUE AS within_10pct
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Verification twin (same contract as `approxDistinct`): deliberately
    * computes the exact interpolated median next to the engine-specific
    * sketch and asserts the estimate lands within ±1 quantity unit; the
    * oracle emits the exact value with TRUE. */
  def approxPercentileOp(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_quantity, 0.5D)").as("exact_median"),
        expr("approx_percentile(l_quantity, 0.5D, 10000)").as("approx_median"))
      .select(col("l_returnflag"),
        Num.r4(col("exact_median")).as("exact_median"),
        (abs(col("approx_median") - col("exact_median")) <= 1.0).as("within_bounds"))

  val approxPercentileOpSql: String =
    """SELECT l_returnflag,
      |       round(quantile_cont(l_quantity, 0.5) + 1e-9, 4) AS exact_median,
      |       TRUE AS within_bounds
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Scalar subquery: orders above the global average price. */
  def scalarSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val avgPrice = o.agg(avg(col("o_totalprice")).as("avg_price"))
    // threshold compares the ROUNDED aggregate (the file's convention):
    // Spark's partial-agg avg and DuckDB's sequential avg can differ in
    // the last ulp, flipping a price sitting exactly on the boundary
    o.join(broadcast(avgPrice))
      .filter(col("o_totalprice") > round(col("avg_price") + lit(1e-9), 4))
      .select(col("o_orderkey"), col("o_totalprice"))
  }

  val scalarSubquerySql: String =
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_totalprice >
      |      round((SELECT avg(o_totalprice) FROM orders) + 1e-9, 4)
      |ORDER BY o_orderkey""".stripMargin

  /** Batch analog of the streaming per-entity throttle (SURVEY.md ST5):
    * keep the first event per (user, minute). */
  def throttleDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"), date_trunc("minute", col("ts")))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"), col("ts"))
  }

  val throttleDedupSql: String =
    """SELECT event_id, user_id, ts FROM events
      |QUALIFY row_number() OVER (PARTITION BY user_id, date_trunc('minute', ts)
      |                           ORDER BY ts, event_id) = 1
      |ORDER BY event_id""".stripMargin

  /** Pivot: hourly average value per event type as columns. */
  def pivotOp(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(hour(col("ts")).as("hour_bucket"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(Num.r4(avg(col("value"))))

  val pivotOpSql: String =
    """SELECT hour(ts) AS hour_bucket,
      |       round(avg(value) FILTER (WHERE event_type = 'click') + 1e-9, 4) AS click,
      |       round(avg(value) FILTER (WHERE event_type = 'error') + 1e-9, 4) AS error,
      |       round(avg(value) FILTER (WHERE event_type = 'purchase') + 1e-9, 4) AS purchase,
      |       round(avg(value) FILTER (WHERE event_type = 'signup') + 1e-9, 4) AS signup,
      |       round(avg(value) FILTER (WHERE event_type = 'view') + 1e-9, 4) AS view
      |FROM events GROUP BY hour(ts) ORDER BY hour_bucket""".stripMargin

  /** Seeded Bernoulli sample (reference T5, `insert.py:79-81`). RNG streams
    * differ across engines — rows-only check, no oracle; `sampleHash` below
    * is the oracle-checkable twin. */
  def sampleSeeded(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .sample(withReplacement = false, 0.5, 42)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))

  /** Portable deterministic hash sample: keep rows whose md5 of the
    * primary key falls below a fixed hex prefix (0x1a/0x100 ≈ 10.2 %).
    * Unlike a Bernoulli RNG stream this selects the SAME row set on every
    * engine and every partitioning — the property that makes sampled
    * pipelines reproducible across backends — so it gets a full oracle. */
  def sampleHash(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .filter(md5(concat_ws("-", col("l_orderkey"), col("l_linenumber"))
        .cast("binary")) < "1a")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))

  val sampleHashSql: String =
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |WHERE md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)) < '1a'
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Value-based RANGE window frame (vs the ROWS frames elsewhere): each
    * order annotated with its customer's trailing-30-day order count and
    * spend. The frame is defined on an integer day offset, so ties (same
    * day) enter the frame together regardless of row order — which is
    * also what makes the result deterministic without a tie-break. */
  def windowRangeFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val day = datediff(col("o_orderdate"), lit("1995-01-01").cast("date"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(day)
      .rangeBetween(-30, Window.currentRow)
    Tables.orders(spark, sfDir)
      .select(col("o_custkey"), col("o_orderkey"),
        count(lit(1)).over(w).as("n_orders_30d"),
        round(sum(col("o_totalprice")).over(w) + lit(1e-9), 2).as("spend_30d"))
  }

  val windowRangeFrameSql: String =
    """SELECT o_custkey, o_orderkey,
      |       count(*) OVER w AS n_orders_30d,
      |       round(sum(o_totalprice) OVER w + 1e-9, 2) AS spend_30d
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey
      |             ORDER BY datediff('day', DATE '1995-01-01', o_orderdate)
      |             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Null-handling scalar family: NULLIF / COALESCE / NVL2 / IS DISTINCT
    * FROM over synthesized nulls (the fixture columns are non-nullable,
    * so nulls are introduced with nullif). */
  def nullFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(
        col("o_orderkey"),
        coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status_label"),
        isnull(nullif(col("o_orderpriority"), lit("1-URGENT"))).as("is_urgent"),
        expr("nvl2(nullif(o_orderstatus, 'F'), 'live', 'finished')").as("live_label"),
        (nullif(col("o_orderstatus"), lit("O"))
          <=> nullif(col("o_orderstatus"), lit("F"))).as("status_self_eq"))

  val nullFuncsSql: String =
    """SELECT o_orderkey,
      |       coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_label,
      |       nullif(o_orderpriority, '1-URGENT') IS NULL AS is_urgent,
      |       CASE WHEN nullif(o_orderstatus, 'F') IS NOT NULL
      |            THEN 'live' ELSE 'finished' END AS live_label,
      |       nullif(o_orderstatus, 'O') IS NOT DISTINCT FROM
      |         nullif(o_orderstatus, 'F') AS status_self_eq
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** LATERAL correlated subquery: per-region top-2 customers by account
    * balance — Catalyst plans the correlated limit as a per-group ranked
    * join (DomainJoin decorrelation), the declarative form of the
    * "top-k per dimension row" pattern. */
  def lateralTopPerRegion(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.region(spark, sfDir).createOrReplaceTempView("region_lat")
    Tables.nation(spark, sfDir).createOrReplaceTempView("nation_lat")
    Tables.customer(spark, sfDir).createOrReplaceTempView("customer_lat")
    spark.sql(
      """SELECT r_name, c_name, acctbal
        |FROM region_lat, LATERAL (
        |  SELECT c_name, c_acctbal AS acctbal
        |  FROM customer_lat JOIN nation_lat ON c_nationkey = n_nationkey
        |  WHERE n_regionkey = r_regionkey
        |  ORDER BY c_acctbal DESC, c_name ASC LIMIT 2) t""".stripMargin)
  }

  val lateralTopPerRegionSql: String =
    """SELECT r_name, c_name, acctbal
      |FROM region, LATERAL (
      |  SELECT c_name, c_acctbal AS acctbal
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  WHERE n_regionkey = r_regionkey
      |  ORDER BY c_acctbal DESC, c_name ASC LIMIT 2) t
      |ORDER BY r_name, acctbal DESC, c_name""".stripMargin

  /** Nested (struct) column family: build, carry, and re-project a struct
    * — the schema shape every semi-structured pipeline round-trips. */
  def structFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"),
        struct(col("o_orderstatus").as("st"), col("o_orderpriority").as("pr"),
          col("o_totalprice").as("price")).as("meta"))
      .select(
        col("o_orderkey"),
        col("meta.st").as("status"),
        upper(col("meta.pr")).as("priority_uc"),
        // 1e-9 guard: x*1.1 lands on exact half-cent ties that the two
        // engines round apart (same convention as Num.r4)
        round(col("meta.price") * 1.1 + lit(1e-9), 2).as("price_with_tax"))

  val structFuncsSql: String =
    """SELECT o_orderkey, meta.st AS status, upper(meta.pr) AS priority_uc,
      |       round(meta.price * 1.1 + 1e-9, 2) AS price_with_tax
      |FROM (SELECT o_orderkey,
      |             struct_pack(st := o_orderstatus, pr := o_orderpriority,
      |                         price := o_totalprice) AS meta
      |      FROM orders)
      |ORDER BY o_orderkey""".stripMargin

  /** Map-column family: build, probe (present and absent keys), and
    * enumerate a map column. try_element_at, not element_at — ANSI mode
    * throws on absent map keys. */
  def mapFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_id"),
        map(lit("type"), col("event_type"),
          lit("user"), col("user_id").cast("string")).as("m"))
      .select(col("event_id"),
        expr("try_element_at(m, 'type')").as("type_val"),
        expr("try_element_at(m, 'missing')").as("missing_val"),
        size(col("m")).as("n_keys"),
        array_join(map_keys(col("m")), ",").as("keys_csv"))

  val mapFuncsSql: String =
    """SELECT event_id,
      |       m['type'][1] AS type_val,
      |       map_extract(m, 'missing')[1] AS missing_val,
      |       CAST(cardinality(m) AS INT) AS n_keys,
      |       array_to_string(map_keys(m), ',') AS keys_csv
      |FROM (SELECT event_id,
      |             map(['type', 'user'],
      |                 [event_type, CAST(user_id AS VARCHAR)]) AS m
      |      FROM events)
      |ORDER BY event_id""".stripMargin

  /** As-of join: each click event annotated with the same user's most
    * recent purchase value at-or-before its timestamp. Spark has no ASOF
    * JOIN operator, and the naive range-join formulation
    * (`a.ts >= b.ts` + per-row max) explodes to O(|A|·|B|) per user — so
    * this is the scalable UNION + window formulation instead: tag both
    * sides, sort each user's merged timeline once (a single shuffle on
    * user_id), and carry the last non-null purchase value forward with a
    * running `last(ignoreNulls)` frame. Purchases are pre-aggregated per
    * (user, ts) so ties are deterministic on both engines. The DuckDB twin
    * is its native ASOF LEFT JOIN — same semantics, independent plan. */
  def asofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("p_value"))
      .select(col("user_id"), col("ts"), lit(null).cast("long").as("event_id"),
        col("p_value"), lit(0).as("is_click"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"),
        lit(null).cast("double").as("p_value"), lit(1).as("is_click"))
    // Purchases sort before clicks at equal ts, so "at-or-before" is
    // inclusive — matching ASOF's a.ts >= b.ts bound.
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("is_click"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    purchases.unionByName(clicks)
      .withColumn("last_purchase_value",
        last(col("p_value"), ignoreNulls = true).over(w))
      .filter(col("is_click") === 1)
      .select(col("event_id"), col("user_id"), col("ts"), col("last_purchase_value"))
  }

  val asofJoinSql: String =
    """WITH p AS (SELECT user_id, ts, max(value) AS p_value
      |           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
      |SELECT c.event_id, c.user_id, c.ts, p.p_value AS last_purchase_value
      |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
      |ORDER BY event_id""".stripMargin

  /** Range (band) join: classify orders into price bands by interval
    * predicate against a tiny broadcast dimension — the plan is a
    * BroadcastNestedLoopJoin (each row tests |bands| intervals), which is
    * the right physical strategy when the band table is small; an
    * equi-bucketed pre-bin would replace it if the band count grew. */
  def rangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val bands = Seq(
      ("small", 0.0, 100000.0),
      ("mid", 100000.0, 300000.0),
      ("large", 300000.0, 1.0e9)).toDF("band", "lo", "hi")
    Tables.orders(spark, sfDir)
      .join(broadcast(bands),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total_price"))
  }

  val rangeJoinSql: String =
    """SELECT band, count(*) AS n_orders,
      |       round(sum(o_totalprice), 2) AS total_price
      |FROM orders
      |JOIN (VALUES ('small', 0.0, 100000.0),
      |             ('mid', 100000.0, 300000.0),
      |             ('large', 300000.0, 1000000000.0)) AS bands(band, lo, hi)
      |  ON o_totalprice >= lo AND o_totalprice < hi
      |GROUP BY band ORDER BY band""".stripMargin

  /** Regexp surface: extract/replace/match — the remaining scalar string
    * family (LIKE is covered by likeFilter). All three run inside one
    * codegen'd projection over a pruned 2-column scan. DuckDB parity
    * notes: regexp_extract returns '' on no-match in BOTH engines;
    * Spark's regexp_replace is global by default, so the oracle passes
    * the 'g' flag explicitly. */
  def regexpFuncs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .filter(col("c_name").rlike("[02468]$")) // even-numbered customers
      .select(col("c_custkey"),
        regexp_extract(col("c_name"), "#(\\d+)", 1).as("cust_num"),
        regexp_replace(col("c_mktsegment"), "[AEIOU]", "_").as("seg_masked"))

  val regexpFuncsSql: String =
    """SELECT c_custkey,
      |       regexp_extract(c_name, '#(\d+)', 1) AS cust_num,
      |       regexp_replace(c_mktsegment, '[AEIOU]', '_', 'g') AS seg_masked
      |FROM customer
      |WHERE regexp_matches(c_name, '[02468]$')
      |ORDER BY c_custkey""".stripMargin

  /** Salted two-phase join+aggregate — the skew-mitigation pattern at
    * 100 TB: when one join key is hot enough to overwhelm a single
    * reducer, split EACH key's rows across `SaltBuckets` deterministic
    * salts (hash of the fact row's unique key — no RNG, so plans replay),
    * replicate the small build side once per salt, join on (key, salt),
    * then partially aggregate per (key, salt) before the final key-level
    * merge. The oracle is the PLAIN unsalted join/aggregate — salting is
    * a physical rewrite and must be semantically invisible. Here the
    * skew axis is o_orderpriority (5 hot values over 10k orders: a real
    * 5-reducer bottleneck shape at scale). */
  val SaltBuckets = 8

  def skewJoinSalted(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val prio = Seq(
      ("1-URGENT", 1), ("2-HIGH", 2), ("3-MEDIUM", 3),
      ("4-NOT SPECIFIED", 4), ("5-LOW", 5)).toDF("o_orderpriority", "prio_rank")
    // ONE salting implementation (SkewTools.saltedInnerJoin: fact rows
    // pick a deterministic salt from their primary key, the 5-row dim
    // replicates ×SaltBuckets) — a second hand-rolled copy here could
    // silently drift from the shared helper's scheme. The aggregation
    // after the salted join is a plain groupBy: Spark's hash aggregate
    // already combines map-side per (key, salt)-spread partition, so the
    // hot key's partials arrive pre-reduced.
    val fact = Tables.orders(spark, sfDir)
    SkewTools.saltedInnerJoin(fact, prio, "o_orderpriority",
        SaltBuckets, col("o_orderkey"))
      .groupBy(col("o_orderpriority"), col("prio_rank"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")) + lit(1e-9), 2).as("total_price"))
      .select(col("o_orderpriority"), col("prio_rank"),
        col("n_orders"), col("total_price"))
  }

  /** Plain unsalted formulation — salting must not change the answer. */
  val skewJoinSaltedSql: String =
    """SELECT o_orderpriority, prio_rank,
      |       count(*) AS n_orders,
      |       round(sum(o_totalprice) + 1e-9, 2) AS total_price
      |FROM orders
      |JOIN (VALUES ('1-URGENT', 1), ('2-HIGH', 2), ('3-MEDIUM', 3),
      |             ('4-NOT SPECIFIED', 4), ('5-LOW', 5))
      |  AS p(o_orderpriority, prio_rank) USING (o_orderpriority)
      |GROUP BY o_orderpriority, prio_rank
      |ORDER BY o_orderpriority""".stripMargin

  /** Date-spine gap fill — the generate-and-join pattern behind every
    * time-series report: build the complete daily calendar between the
    * corpus's min and max order date (a 1-row bounds aggregate exploded
    * through `sequence`, so the spine derives from data, not a literal),
    * left-join the per-day aggregate onto it, and zero-fill silent days.
    * At scale the spine is O(days) — trivially broadcast — while the
    * daily aggregate is the usual map-side-partial groupBy; days with no
    * orders surface as explicit zero rows, which is the semantics
    * downstream charting/forecasting needs. */
  def dateSpine(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    val bounds = orders.agg(
      to_date(min(col("o_orderdate"))).as("d0"),
      to_date(max(col("o_orderdate"))).as("d1"))
    val spine = bounds
      .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    val daily = orders
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
    spine.join(daily, Seq("day"), "left")
      .select(col("day"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("revenue"), lit(0.0)).as("revenue"))
  }

  val dateSpineSql: String =
    """WITH bounds AS (
      |  SELECT CAST(min(o_orderdate) AS DATE) AS d0,
      |         CAST(max(o_orderdate) AS DATE) AS d1
      |  FROM orders),
      |spine AS (
      |  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM bounds),
      |daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders,
      |         round(sum(o_totalprice), 2) AS revenue
      |  FROM orders GROUP BY 1)
      |SELECT s.day, COALESCE(d.n_orders, 0) AS n_orders,
      |       COALESCE(d.revenue, 0.0) AS revenue
      |FROM spine s LEFT JOIN daily d ON d.day = s.day
      |ORDER BY s.day""".stripMargin

  /** Cohort retention — the canonical product-analytics rollup: customers
    * grouped by first-order month (their cohort), activity bucketed by
    * whole months since that cohort month, counted distinct per
    * (cohort, offset) cell. Dataflow: one groupBy for the cohort
    * assignment (per-customer min), a broadcast-join back onto the
    * distinct activity months, and a final count-distinct — the
    * customer-keyed shuffle happens once, and the output is O(cohorts ×
    * horizon), independent of order volume. */
  def cohortRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_custkey"),
        date_trunc("month", col("o_orderdate")).as("month"))
    val cohorts = orders.groupBy(col("o_custkey"))
      .agg(min(col("month")).as("cohort_month"))
    orders.distinct()
      .join(cohorts, Seq("o_custkey"))
      .select(col("o_custkey"), col("cohort_month"),
        months_between(col("month"), col("cohort_month")).cast("int").as("months_since"))
      .groupBy(col("cohort_month"), col("months_since"))
      .agg(countDistinct(col("o_custkey")).as("n_customers"))
  }

  val cohortRetentionSql: String =
    """WITH a AS (
      |  SELECT DISTINCT o_custkey, date_trunc('month', o_orderdate) AS month
      |  FROM orders),
      |cohorts AS (
      |  SELECT o_custkey, min(month) AS cohort_month FROM a GROUP BY o_custkey)
      |SELECT c.cohort_month,
      |       CAST(datediff('month', c.cohort_month, a.month) AS INT) AS months_since,
      |       count(DISTINCT a.o_custkey) AS n_customers
      |FROM a JOIN cohorts c USING (o_custkey)
      |GROUP BY 1, 2
      |ORDER BY cohort_month, months_since""".stripMargin

  /** MERGE / changefeed-apply — the incremental-maintenance primitive every
    * warehouse pipeline runs (SQL:2003 MERGE, Delta/Iceberg upsert): apply
    * a change set of updates, deletes, and inserts to a base table in one
    * pass. The change set here derives deterministically from the fixture
    * (keys ≡ 0 mod 3 get a repriced update, of those keys ≡ 0 mod 7 become
    * deletes, and fresh keys = max(o_orderkey) + old — collision-free at
    * any scale factor — arrive as inserts), so the oracle replays it
    * exactly. Shape: ONE left join base→changes resolves both
    * update and delete (the op column discriminates), then inserts union
    * in — no full-outer join, no second pass over the base. At 100 TB the
    * base shuffles on its key once (or not at all if base and changefeed
    * are co-bucketed on the key — see TableOps.writeBucketed); a small
    * changefeed broadcasts instead. `src` labels each row's provenance for
    * the audit trail. */
  def mergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val changes = base.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 1.1 + lit(1e-9), 2).as("new_price"),
        when(col("o_orderkey") % 7 === 0, lit("D")).otherwise(lit("U")).as("op"))
    // Insert keys offset by the base's max key (1-row broadcast aggregate),
    // so they cannot collide with existing keys at ANY scale factor — a
    // fixed 10^7 offset would alias real orderkeys once max(o_orderkey)
    // passes it (TPC-H reaches 6M·SF).
    val mx = broadcast(base.agg(max(col("o_orderkey")).as("mx")))
    val inserts = changes.filter(col("op") === "U").crossJoin(mx)
      .select((col("mx") + col("o_orderkey")).as("o_orderkey"),
        col("new_price").as("o_totalprice"),
        lit("N").as("o_orderstatus"), lit("inserted").as("src"))
    base.join(changes, Seq("o_orderkey"), "left")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("o_orderkey"),
        coalesce(col("new_price"), col("o_totalprice")).as("o_totalprice"),
        col("o_orderstatus"),
        when(col("op") === "U", lit("updated")).otherwise(lit("base")).as("src"))
      .unionAll(inserts)
  }

  val mergeUpsertSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders),
      |changes AS (
      |  SELECT o_orderkey,
      |         round(o_totalprice * 1.1 + 1e-9, 2) AS new_price,
      |         CASE WHEN o_orderkey % 7 = 0 THEN 'D' ELSE 'U' END AS op
      |  FROM base WHERE o_orderkey % 3 = 0),
      |merged AS (
      |  SELECT b.o_orderkey,
      |         COALESCE(c.new_price, b.o_totalprice) AS o_totalprice,
      |         b.o_orderstatus,
      |         CASE WHEN c.op = 'U' THEN 'updated' ELSE 'base' END AS src
      |  FROM base b LEFT JOIN changes c USING (o_orderkey)
      |  WHERE c.op IS NULL OR c.op != 'D')
      |SELECT * FROM merged
      |UNION ALL
      |SELECT mx + o_orderkey AS o_orderkey, new_price AS o_totalprice,
      |       'N' AS o_orderstatus, 'inserted' AS src
      |FROM changes CROSS JOIN (SELECT max(o_orderkey) AS mx FROM base)
      |WHERE op = 'U'
      |ORDER BY o_orderkey""".stripMargin

  /** Ordered event funnel (view → click → purchase): how many users reach
    * each stage IN ORDER — a stage counts only when it happens at-or-after
    * the user's entry into the previous stage. The product-analytics
    * staple Spark has no primitive for. Dataflow: three user-keyed
    * conditional-min aggregates, each consuming the previous stage's entry
    * time; all three shuffles key on user_id, so AQE/exchange-reuse keeps
    * it one physical repartition of the events scan, and the output is
    * 3 rows regardless of corpus size. */
  def funnel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val t1 = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val t2 = ev.filter(col("event_type") === "click")
      .join(t1, Seq("user_id"))
      .filter(col("ts") >= col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val t3 = ev.filter(col("event_type") === "purchase")
      .join(t2, Seq("user_id"))
      .filter(col("ts") >= col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    t1.agg(count(lit(1)).as("n_users")).select(lit(1).as("stage"), lit("view").as("event_type"), col("n_users"))
      .unionAll(t2.agg(count(lit(1)).as("n_users")).select(lit(2).as("stage"), lit("click").as("event_type"), col("n_users")))
      .unionAll(t3.agg(count(lit(1)).as("n_users")).select(lit(3).as("stage"), lit("purchase").as("event_type"), col("n_users")))
  }

  val funnelSql: String =
    """WITH t1 AS (
      |  SELECT user_id, min(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |t2 AS (
      |  SELECT e.user_id, min(e.ts) AS t2 FROM events e
      |  JOIN t1 ON e.user_id = t1.user_id
      |  WHERE e.event_type = 'click' AND e.ts >= t1.t1
      |  GROUP BY e.user_id),
      |t3 AS (
      |  SELECT e.user_id, min(e.ts) AS t3 FROM events e
      |  JOIN t2 ON e.user_id = t2.user_id
      |  WHERE e.event_type = 'purchase' AND e.ts >= t2.t2
      |  GROUP BY e.user_id)
      |SELECT 1 AS stage, 'view' AS event_type, count(*) AS n_users FROM t1
      |UNION ALL
      |SELECT 2, 'click', count(*) FROM t2
      |UNION ALL
      |SELECT 3, 'purchase', count(*) FROM t3
      |ORDER BY stage""".stripMargin

  /** Equi-width numeric histogram — the profiling primitive behind every
    * "distribution of column X" dashboard: 20 bins spanning the global
    * [min, max]. Two passes: a 1-row (min, max) broadcast, then a map-side
    * bucket assignment + groupBy on the bin id — O(bins) output at any
    * corpus size, never a sort. The bucket formula is written with the
    * IDENTICAL operation order in both engines ((v−mn)·20/(mx−mn), floor,
    * clamp) — IEEE doubles make the same op sequence bit-deterministic, so
    * bin edges cannot disagree in the last ulp. */
  def histogram(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val bounds = broadcast(ev.agg(min(col("value")).as("mn"), max(col("value")).as("mx")))
    ev.crossJoin(bounds)
      .select(least(lit(19), floor((col("value") - col("mn")) * 20.0 / (col("mx") - col("mn"))))
        .cast("int").as("bin"),
        col("mn"), col("mx"))
      .groupBy(col("bin"), col("mn"), col("mx"))
      .agg(count(lit(1)).as("n"))
      .select(col("bin"),
        Num.r4(col("mn") + col("bin") * (col("mx") - col("mn")) / 20.0).as("bin_lo"),
        Num.r4(col("mn") + (col("bin") + 1) * (col("mx") - col("mn")) / 20.0).as("bin_hi"),
        col("n"))
  }

  val histogramSql: String =
    """WITH b AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
      |binned AS (
      |  SELECT CAST(least(19, floor((value - mn) * 20.0 / (mx - mn))) AS INT) AS bin,
      |         mn, mx
      |  FROM events, b)
      |SELECT bin,
      |       round(mn + bin * (mx - mn) / 20.0 + 1e-9, 4) AS bin_lo,
      |       round(mn + (bin + 1) * (mx - mn) / 20.0 + 1e-9, 4) AS bin_hi,
      |       count(*) AS n
      |FROM binned GROUP BY bin, mn, mx
      |ORDER BY bin""".stripMargin

  /** Winsorization — robust-stats outlier clipping, the numeric-cleaning
    * step of a feature/metrics pipeline: clip `value` to the exact
    * [p05, p95] corpus percentiles and flag what was clipped. Two-pass
    * shape like [[histogram]]: the percentile pair reduces to ONE
    * broadcast row (exact `percentile` here; swap `approx_percentile`
    * at 100 TB for a sketch-sized shuffle — same dataflow), then the
    * clip is a map-side projection over the scan. Both engines use
    * linear interpolation for the exact percentile, so the bounds
    * replay. */
  def winsorize(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val bounds = broadcast(ev.agg(
      expr("percentile(value, 0.05D)").as("p05"),
      expr("percentile(value, 0.95D)").as("p95")))
    ev.crossJoin(bounds)
      .select(col("event_id"),
        Num.r4(greatest(col("p05"), least(col("p95"), col("value"))))
          .as("value_w"),
        (col("value") < col("p05") || col("value") > col("p95"))
          .as("clipped"))
  }

  val winsorizeSql: String =
    """WITH b AS (
      |  SELECT quantile_cont(value, 0.05) AS p05,
      |         quantile_cont(value, 0.95) AS p95
      |  FROM events)
      |SELECT event_id,
      |       round(greatest(p05, least(p95, value)) + 1e-9, 4) AS value_w,
      |       (value < p05 OR value > p95) AS clipped
      |FROM events, b
      |ORDER BY event_id""".stripMargin

  /** Time-series resampling with linear interpolation — the gap-filling
    * primitive of sensor analytics (the reference's domain: irregular
    * IoT readings onto a fixed grid): each user's `value` series is
    * sampled at every hour boundary inside its own [min ts, max ts]
    * span, interpolating between the neighboring readings. Single-pass
    * formulation: readings and grid points UNION into one frame, and one
    * user-keyed sort gives both neighbors via last/first-ignore-nulls
    * windows over mirrored frames (readings order before grid points at
    * equal ts, so an exact-hit grid point reads its own reading
    * backward). ONE shuffle total — both windows share the partitioning
    * and ordering, so Catalyst plans a single sort, vs the two as-of
    * joins (backward + forward) this replaces. Time math stays in the
    * integer µs domain; the lerp is the only FP step and uses identical
    * operation order in both engines. Duplicate (user, ts) readings
    * pre-average so the series is a well-defined function.
    *
    * Density contract: a user's grid cardinality is the HOURS OF THEIR
    * TIME SPAN, independent of how many readings they have — one
    * degenerate key (a sensor that reported once in 1990 and once
    * today) would explode into hundreds of thousands of grid rows on a
    * single partition regardless of corpus size. `maxGridPerUser`
    * (default 100 000 ≈ 11.4 years hourly) bounds that: a user whose
    * span exceeds it fails the job LOUDLY, naming the user and its
    * span, before a single grid row for it is generated — at 100 TB
    * you want the degenerate key surfaced at the |users|-row aggregate,
    * not discovered as a hot straggler partition. In-contract inputs
    * are untouched (the guard branch never taints the plan: the error
    * lives in the untaken arm of a lazily-evaluated CASE). */
  def resampleInterpolate(spark: SparkSession, sfDir: String): DataFrame =
    resampleInterpolate(spark, sfDir, maxGridPerUser = 100000)

  private[graft] def resampleInterpolate(spark: SparkSession, sfDir: String,
      maxGridPerUser: Int): DataFrame =
    resampleOnMicros(
      Tables.events(spark, sfDir)
        .select(col("user_id"), unix_micros(col("ts")).as("t"), col("value")),
      maxGridPerUser)

  /** The frame-based core over (user_id, t µs, value) rows — split out
    * so specs can drive the grid edges (no-hour-boundary spans,
    * pre-1970 epochs) without a fixture table. */
  private[graft] def resampleOnMicros(readings: DataFrame,
      maxGridPerUser: Int): DataFrame = {
    val hourUs = 3600L * 1000000L
    val r = readings
      .groupBy(col("user_id"), col("t")).agg(avg(col("value")).as("value"))
    val grid = r.groupBy(col("user_id"))
      .agg(min(col("t")).as("tmin"), max(col("t")).as("tmax"))
      // ceil-to-multiple via pmod, not `div`: the truncating-div form
      // ((tmin + h−1) div h)·h is wrong for NEGATIVE (pre-1970) epochs
      // (trunc ≠ floor) and diverges from DuckDB's flooring `//`;
      // tmin + pmod(h − pmod(tmin, h), h) is sign-safe and replayed
      // identically by the twin's double-% pmod idiom
      .withColumn("g0",
        expr(s"tmin + pmod($hourUs - pmod(tmin, $hourUs), $hourUs)"))
      // grid points this user would generate — pure long arithmetic on
      // the per-user aggregate row, evaluated BEFORE any sequence() is
      // materialized for it
      .withColumn("npts", expr(s"(tmax - g0) div $hourUs + 1"))
      .select(col("user_id"), explode(
        // a span containing NO hour boundary (g0 > tmax — e.g. a single
        // reading, or all readings inside one hour) generates an EMPTY
        // grid: sequence() with start > stop and a positive step THROWS,
        // where the twin's generate_series returns empty. Branch on the
        // BOUNDS, not npts: truncating div makes a negative (tmax − g0)
        // round npts up to 1.
        when(col("g0") > col("tmax"),
          expr("CAST(array() AS array<bigint>)"))
          .when(col("npts") > maxGridPerUser,
            raise_error(format_string(
              s"resample grid overflow: user_id=%s spans %s hourly grid " +
                s"points (cap $maxGridPerUser) — a degenerate long-lived " +
                "key; raise maxGridPerUser or pre-filter the span",
              col("user_id"), col("npts"))).cast("array<bigint>"))
          .otherwise(sequence(col("g0"), col("tmax"), lit(hourUs)))).as("t"))
    val rows = r.select(col("user_id"), col("t"), col("value"), lit(0).as("is_grid"))
      .unionByName(grid.select(col("user_id"), col("t"),
        lit(null).cast("double").as("value"), lit(1).as("is_grid")))
    val wb = Window.partitionBy(col("user_id")).orderBy(col("t"), col("is_grid"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // The FORWARD neighbor deliberately comes from a REVERSED running
    // frame, not `first(...).over(currentRow → unboundedFollowing)`:
    // Spark executes an unbounded-FOLLOWING frame by re-scanning from
    // the current row to the partition end for EVERY row
    // (UnboundedFollowingWindowFunctionFrame) — O(n²) per user, and
    // measured as ~10× this operator's entire runtime at sf0.01 —
    // while the running unbounded-PRECEDING frame is a single O(n)
    // accumulation pass. last-ignoreNulls over the (t, is_grid)-DESC
    // running frame is definitionally first-ignoreNulls over the ASC
    // following frame, current row included in both; (t, is_grid) is
    // unique per user (readings pre-averaged), so both orders are
    // total and the swap is exact. Cost: one extra in-partition sort
    // (same key, reversed), no extra exchange.
    val wfRev = Window.partitionBy(col("user_id"))
      .orderBy(col("t").desc, col("is_grid").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def reading(c: org.apache.spark.sql.Column) = when(col("is_grid") === 0, c)
    // one select, not chained withColumns: the interleaved Projects
    // block CollapseWindow and the plan runs FOUR Window passes over
    // the sorted run; declared together, the same-frame functions fuse
    // into exactly two Window operators sharing one exchange
    rows
      .select(col("user_id"), col("t"), col("is_grid"),
        last(reading(col("t")), ignoreNulls = true).over(wb).as("tp"),
        last(reading(col("value")), ignoreNulls = true).over(wb).as("vp"),
        last(reading(col("t")), ignoreNulls = true).over(wfRev).as("tn"),
        last(reading(col("value")), ignoreNulls = true).over(wfRev).as("vn"))
      .filter(col("is_grid") === 1)
      .select(col("user_id"), col("t").as("grid_t"),
        Num.r4(
          when(col("tn").isNull, col("vp"))
            .when(col("tp").isNull, col("vn"))
            .when(col("tn") === col("tp"), col("vp"))
            .otherwise(col("vp") + (col("vn") - col("vp"))
              * ((col("t") - col("tp")).cast("double")
                 / (col("tn") - col("tp")).cast("double")))).as("value_i"))
  }

  val resampleInterpolateSql: String =
    """WITH r AS (
      |  SELECT user_id, epoch_us(ts) AS t, avg(value) AS value
      |  FROM events GROUP BY 1, 2),
      |s AS (SELECT user_id, min(t) AS tmin, max(t) AS tmax FROM r GROUP BY 1),
      |g AS (
      |  SELECT user_id, unnest(generate_series(
      |    tmin + (3600000000 - ((tmin % 3600000000) + 3600000000)
      |            % 3600000000) % 3600000000,
      |    tmax, 3600000000)) AS t
      |  FROM s),
      |u AS (
      |  SELECT user_id, t, value, 0 AS is_grid FROM r
      |  UNION ALL
      |  SELECT user_id, t, NULL, 1 FROM g),
      |w AS (
      |  SELECT user_id, t, is_grid,
      |    last_value(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY t, is_grid
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
      |    last_value(CASE WHEN is_grid = 0 THEN value END IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY t, is_grid
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vp,
      |    first_value(CASE WHEN is_grid = 0 THEN t END IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY t, is_grid
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS tn,
      |    first_value(CASE WHEN is_grid = 0 THEN value END IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY t, is_grid
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vn
      |  FROM u)
      |SELECT user_id, t AS grid_t,
      |       round(CASE WHEN tn IS NULL THEN vp
      |                  WHEN tp IS NULL THEN vn
      |                  WHEN tn = tp THEN vp
      |                  ELSE vp + (vn - vp)
      |                       * (CAST(t - tp AS DOUBLE) / CAST(tn - tp AS DOUBLE))
      |             END + 1e-9, 4) AS value_i
      |FROM w WHERE is_grid = 1
      |ORDER BY user_id, grid_t""".stripMargin

  /** Markov transition matrix over per-user event sequences — the
    * behavior-modeling aggregate (next-action prediction, anomaly
    * scoring): count every consecutive (prev → next) event-type pair
    * within a user's timeline and normalize rows to probabilities. One
    * lag window over the user-keyed sort + one groupBy on the (from, to)
    * pair — the output is |types|² regardless of corpus size, and the
    * probability normalization is a broadcast-join against the |types|
    * row-sum aggregate, never a second corpus pass. */
  def transitionMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("prev_type"))
      .agg(sum(col("n")).as("row_total"))
    pairs.join(broadcast(totals), Seq("prev_type"))
      .select(col("prev_type"), col("next_type"), col("n"),
        Num.r4(col("n").cast("double") / col("row_total")).as("p"))
  }

  val transitionMatrixSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |         lag(event_type, 1) OVER (PARTITION BY user_id
      |                                  ORDER BY ts, event_id) AS prev_type
      |  FROM events),
      |pairs AS (
      |  SELECT prev_type, event_type AS next_type, count(*) AS n
      |  FROM seq WHERE prev_type IS NOT NULL
      |  GROUP BY 1, 2),
      |tot AS (SELECT prev_type, sum(n) AS row_total FROM pairs GROUP BY 1)
      |SELECT p.prev_type, p.next_type, p.n,
      |       round(p.n * 1.0 / t.row_total + 1e-9, 4) AS p
      |FROM pairs p JOIN tot t USING (prev_type)
      |ORDER BY p.prev_type, p.next_type""".stripMargin

  /** CUSUM changepoint detection — the classic mean-shift monitor
    * (Page 1954) beside the z-score and EWMA screens. The textbook form
    * is a sequential recurrence s ← max(0, s + x − μ − k), which windows
    * cannot express directly — but CUSUM⁺ equals the cumulative-sum
    * walk's height above its running minimum (s_i = C_i − min(0,
    * min_{j≤i} C_j)), so the whole detector becomes TWO stacked window
    * functions over one per-user sort: a running sum of the drift-
    * compensated deviations (slack k = σ/2, the standard half-sigma
    * allowance) and a running minimum of that sum. A shift flags when
    * the statistic exceeds the usual h = 4σ decision interval. Shares
    * the per-user Exchange+Sort with the rest of the monitoring family;
    * both windows reuse ONE sort. Degenerate users (σ null/0) carry a
    * zero statistic and never flag. μ and σ are rounded to 6 dp (the
    * repo's round-before-reuse convention, same as the IVF centroids /
    * PCA axes) BEFORE entering the running sum: the raw aggregates
    * differ between engines by summation-order ulps, and an unbounded
    * cumulative sum would otherwise accumulate that drift toward the
    * 4σ decision boundary as series grow. */
  def cusumShift(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val stats = ev.groupBy(col("user_id"))
      .agg(round(avg(col("value")) + lit(1e-9), 6).as("mu"),
        round(stddev_samp(col("value")) + lit(1e-9), 6).as("sigma"))
    val wCum = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.join(stats, Seq("user_id"))
      .withColumn("ok", col("sigma").isNotNull && col("sigma") =!= 0)
      .withColumn("c",
        sum(when(col("ok"),
          col("value") - col("mu") - lit(0.5) * col("sigma"))
          .otherwise(lit(0.0))).over(wCum))
      .withColumn("s", col("c") - least(min(col("c")).over(wCum), lit(0.0)))
      .select(col("event_id"), col("user_id"),
        Num.r4(col("s")).as("cusum"),
        (col("ok") && col("s") > lit(4.0) * col("sigma")).as("is_shift"))
  }

  val cusumShiftSql: String =
    """WITH st AS (
      |  SELECT user_id, round(avg(value) + 1e-9, 6) AS mu,
      |         round(stddev_samp(value) + 1e-9, 6) AS sigma
      |  FROM events GROUP BY 1),
      |cm AS (
      |  SELECT e.event_id, e.user_id, e.ts, st.sigma,
      |    (st.sigma IS NOT NULL AND st.sigma != 0) AS ok,
      |    sum(CASE WHEN st.sigma IS NOT NULL AND st.sigma != 0
      |             THEN e.value - st.mu - 0.5 * st.sigma ELSE 0.0 END)
      |      OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      |  FROM events e JOIN st USING (user_id)),
      |sc AS (
      |  SELECT event_id, user_id, sigma, ok,
      |    c - least(min(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS s
      |  FROM cm)
      |SELECT event_id, user_id,
      |  round(s + 1e-9, 4) AS cusum,
      |  (ok AND s > 4.0 * sigma) AS is_shift
      |FROM sc
      |ORDER BY event_id""".stripMargin

  /** Trailing-window EWMA — the classic monitoring smoother beside the
    * z-score screen: per user, y = α·x + (1−α)·y over the last 20
    * observations (the bounded window keeps the closed form numerically
    * stable AND makes the op a plain windowed fold — the unbounded
    * recurrence would need (1−α)^(−j) scalings that overflow). The fold
    * runs oldest→newest over the frame-ordered collected list, a
    * per-row deterministic reduction both engines execute in the same
    * IEEE order (DuckDB's `list_reduce` seeds with the first element;
    * the Spark fold seeds with `vals[1]` and folds the tail — same
    * recurrence by construction). One shuffle: the per-user window
    * sort, shared shape with the rest of the per-user family.
    * Null observations are excluded EXPLICITLY in both engines: Spark's
    * `collect_list` silently drops NULLs while DuckDB's `list()` keeps
    * them (turning the fold NULL), so the operator pins the smoother to
    * non-null values with a filter rather than relying on the fixture
    * being non-null. */
  def ewmaSmooth(spark: SparkSession, sfDir: String): DataFrame = {
    val alpha = 0.3
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-19, Window.currentRow)
    Tables.events(spark, sfDir)
      .filter(col("value").isNotNull)
      .withColumn("vals", collect_list(col("value")).over(w))
      .select(col("event_id"), col("user_id"),
        Num.r4(expr(
          s"""aggregate(slice(vals, 2, size(vals) - 1),
             |  cast(element_at(vals, 1) as double),
             |  (acc, x) -> $alpha * x + ${1 - alpha} * acc)""".stripMargin))
          .as("ewma"))
  }

  val ewmaSmoothSql: String =
    """SELECT event_id, user_id,
      |  round(list_reduce(vals, (acc, x) -> 0.3 * x + 0.7 * acc)
      |    + 1e-9, 4) AS ewma
      |FROM (
      |  SELECT event_id, user_id,
      |         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
      |           AS vals
      |  FROM events WHERE value IS NOT NULL)
      |ORDER BY event_id""".stripMargin

  /** Per-entity z-score anomaly flagging — the metric-monitoring screen
    * (sensor glitches, metric spikes): each event's `value` scores
    * against ITS USER's mean/σ and flags |z| > 2. Two-pass per-key
    * shape: one groupBy computes the per-user moment pair (joined back
    * on user_id — AQE picks broadcast vs shuffle-hash by the aggregate's
    * actual size; a FORCED broadcast of a |users|-row table would OOM at
    * billions of users), then the scoring is a map-side projection.
    * Users with a degenerate σ=0 (or a single event) cannot be scored
    * and flag false. Sample stddev matches DuckDB's `stddev` default,
    * so z replays bit-for-bit. */
  def anomalyZscore(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val stats = ev.groupBy(col("user_id"))
      .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sigma"))
    ev.join(stats, Seq("user_id"))
      .select(col("event_id"), col("user_id"),
        Num.r4(when(col("sigma").isNull || col("sigma") === 0, 0.0)
          .otherwise((col("value") - col("mu")) / col("sigma"))).as("z"),
        (col("sigma").isNotNull && col("sigma") =!= 0
          && abs((col("value") - col("mu")) / col("sigma")) > 2).as("is_anomaly"))
  }

  val anomalyZscoreSql: String =
    """WITH s AS (
      |  SELECT user_id, avg(value) AS mu, stddev_samp(value) AS sigma
      |  FROM events GROUP BY user_id)
      |SELECT event_id, e.user_id,
      |       round(CASE WHEN sigma IS NULL OR sigma = 0 THEN 0.0
      |             ELSE (value - mu) / sigma END + 1e-9, 4) AS z,
      |       (sigma IS NOT NULL AND sigma != 0
      |        AND abs((value - mu) / sigma) > 2) AS is_anomaly
      |FROM events e JOIN s USING (user_id)
      |ORDER BY event_id""".stripMargin

  /** Z-order (Morton) layout key — the data-skipping primitive of
    * lakehouse table layout (Delta OPTIMIZE ZORDER, Iceberg sort orders):
    * interleave the bits of two scan dimensions so that sorting by the
    * single `zval` co-locates rows close in BOTH dimensions, giving
    * parquet min/max row-group pruning on either predicate column from one
    * physical order. Dimensions here: user_id and the event's epoch day,
    * each masked to 16 bits (the production knob). Pure integer bit
    * algebra — replays exactly in the oracle. At 100 TB this runs as the
    * sort key of a `repartitionByRange(zval).sortWithinPartitions(zval)`
    * rewrite; the key computation itself is the map-side expression tested
    * here (see ScaleToolsSpec for the locality win it buys). */
  def zorderKey(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date")).as("epoch_day"))
      .select(col("event_id"),
        expr(
          """aggregate(sequence(0, 15), CAST(0 AS BIGINT), (acc, i) ->
            |  acc
            |  + (shiftright(user_id % 65536, i) & 1) * shiftleft(CAST(1 AS BIGINT), 2 * i)
            |  + (shiftright(epoch_day % 65536, i) & 1) * shiftleft(CAST(1 AS BIGINT), 2 * i + 1))"""
            .stripMargin).as("zval"))

  val zorderKeySql: String =
    """SELECT event_id,
      |  CAST(list_sum(list_transform(range(0, 16), i ->
      |    (((user_id % 65536) >> CAST(i AS INT)) & 1) * (CAST(1 AS BIGINT) << CAST(2 * i AS INT))
      |    + (((datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 65536) >> CAST(i AS INT)) & 1)
      |      * (CAST(1 AS BIGINT) << CAST(2 * i + 1 AS INT)))) AS BIGINT) AS zval
      |FROM events
      |ORDER BY event_id""".stripMargin
}
