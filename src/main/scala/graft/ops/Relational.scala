package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Core relational query surface: grouped aggregation, multi-way joins
  * (broadcast for dimensions), semi/anti joins, window functions,
  * sort/limit, set operations, grouping sets.
  *
  * The reference (SURVEY.md §2.4-2.6) has no general relational
  * operators — these are the engine extensions that make the library a
  * complete query surface over the star schema, expressed declaratively
  * so Catalyst handles pushdown/pruning/join-ordering.
  *
  * Scale notes (100 TB design):
  *  - Dimension tables (region/nation/supplier/part/customer) are
  *    broadcast explicitly — no shuffle of the fact table for those
  *    joins.  Fact-fact joins (orders ⋈ lineitem) shuffle on the join
  *    key once; AQE coalesces/skew-splits at runtime.
  *  - Aggregations are partial (map-side combine) by construction —
  *    `groupBy.agg` with algebraic aggregates.
  *  - Filters are written against source columns so they push into the
  *    parquet scan (verified: PushedFilters in the formatted plan).
  *
  * Floating-point parity with the DuckDB oracle: every aggregate over
  * doubles is rounded with enough precision that both engines land on
  * identical grid points (inputs carry ≤2 decimal digits; products with
  * discounts ≤4; see oracle SQL in SparkEntry).
  */
object Relational {

  /** TPC-H Q1-style pricing summary: grouped algebraic aggregates. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" <= to_timestamp(lit("1998-09-02")))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        round(sum($"l_quantity"), 2).as("sum_qty"),
        round(sum($"l_extendedprice"), 2).as("sum_base_price"),
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4)
          .as("sum_disc_price"),
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")
          * (lit(1.0) + $"l_tax")), 6).as("sum_charge"),
        round(avg($"l_quantity"), 6).as("avg_qty"),
        round(avg($"l_extendedprice"), 6).as("avg_price"),
        round(avg($"l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** TPC-H Q6-style selective filter + single scalar aggregate.
    * The three predicates all push down to the parquet scan. */
  def q6Revenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= to_timestamp(lit("1998-01-01")) &&
        $"l_shipdate" < to_timestamp(lit("1999-01-01")) &&
        $"l_discount".between(0.03, 0.07) && $"l_quantity" < 24)
      .agg(round(sum($"l_extendedprice" * $"l_discount"), 4).as("revenue"))
  }

  /** TPC-H Q3-style: customer ⋈ orders ⋈ lineitem, grouped revenue,
    * top-10.  customer is a dimension → broadcast; orders⋈lineitem
    * shuffles once on orderkey. */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
      .filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderdate" < to_timestamp(lit("1999-06-30")))
      .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"o_orderpriority")
    val li = Tables.lineitem(spark, dir)
      .filter($"l_shipdate" > to_timestamp(lit("1997-06-30")))
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    ord.join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(li, $"o_orderkey" === $"l_orderkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4)
        .as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
  }

  /** TPC-H Q5-style five-way star join: all four dimensions broadcast,
    * single shuffle on the fact join key, grouped by nation. */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val region = Tables.region(spark, dir).filter($"r_name" === "ASIA")
    val nation = Tables.nation(spark, dir)
    val cust = Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey")
    val supp = Tables.supplier(spark, dir).select($"s_suppkey", $"s_nationkey")
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= to_timestamp(lit("1997-01-01")) &&
        $"o_orderdate" < to_timestamp(lit("1999-01-01")))
      .select($"o_orderkey", $"o_custkey")
    val li = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_suppkey", $"l_extendedprice", $"l_discount")
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(broadcast(supp),
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(nation), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4)
        .as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
  }

  /** Left-semi join: orders that have at least one large lineitem. */
  def qSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val big = Tables.lineitem(spark, dir)
      .filter($"l_quantity" >= 45).select($"l_orderkey")
    Tables.orders(spark, dir)
      .join(big, $"o_orderkey" === $"l_orderkey", "left_semi")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice"), 2).as("sum_price"))
      .orderBy($"o_orderstatus")
  }

  /** Left-anti join: customers with no orders after 2001-01-01. */
  def qAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= to_timestamp(lit("2001-01-01")))
      .select($"o_custkey")
    Tables.customer(spark, dir)
      .join(ord, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  /** Left outer join + count: per-customer order counts including
    * zero-order customers (TPC-H Q13 shape). */
  def qCustOrderCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir).select($"c_custkey")
    val ord = Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey")
    cust.join(ord, $"c_custkey" === $"o_custkey", "left_outer")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count"))
      .groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  /** Window functions: per-supplier revenue rank and running total. */
  def qWindowRank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val byMonth = Tables.lineitem(spark, dir)
      .groupBy($"l_suppkey", date_trunc("month", $"l_shipdate").as("month"))
      .agg(round(sum($"l_extendedprice"), 2).as("rev"))
    val w = Window.partitionBy($"l_suppkey").orderBy($"month")
    byMonth
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("running_rev",
        round(sum($"rev").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2))
      .filter($"rn" <= 3)
      .select($"l_suppkey", $"month", $"rev", $"rn", $"running_rev")
      .orderBy($"l_suppkey", $"month")
  }

  /** Top-N sort/limit: 15 highest-value orders. */
  def qTopOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderdate")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(15)
  }

  /** Distinct + multi-distinct aggregates. */
  def qDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey").as("n_supps"),
        countDistinct($"l_orderkey").as("n_orders"))
      .orderBy($"l_returnflag")
  }

  /** Set operations: union / intersect / except over customer keys. */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val building = Tables.customer(spark, dir)
      .filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val rich = Tables.customer(spark, dir)
      .filter($"c_acctbal" > 5000).select($"c_custkey")
    val both = building.intersect(rich).withColumn("tag", lit("both"))
    val onlyB = building.except(rich).withColumn("tag", lit("building_only"))
    val onlyR = rich.except(building).withColumn("tag", lit("rich_only"))
    both.unionByName(onlyB).unionByName(onlyR)
      .groupBy($"tag").agg(count(lit(1)).as("n"))
      .orderBy($"tag")
  }

  /** Conditional aggregation (CASE WHEN inside agg, TPC-H Q12 shape). */
  def qCaseAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_orderpriority")
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= to_timestamp(lit("1998-01-01")) &&
        $"l_shipdate" < to_timestamp(lit("1999-01-01")))
      .select($"l_orderkey", $"l_returnflag")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag")
      .agg(
        sum(when($"o_orderpriority" === "1-URGENT" ||
          $"o_orderpriority" === "2-HIGH", 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when($"o_orderpriority" =!= "1-URGENT" &&
          $"o_orderpriority" =!= "2-HIGH", 1L).otherwise(0L))
          .as("low_line_count"))
      .orderBy($"l_returnflag")
  }

  /** GROUP BY ROLLUP over the region→nation hierarchy. */
  def qRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nation = Tables.nation(spark, dir)
    val region = Tables.region(spark, dir)
    Tables.customer(spark, dir)
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_cust"),
        round(sum($"c_acctbal"), 2).as("sum_bal"))
      .orderBy($"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
  }

  /** HAVING: parts appearing in many lineitems. */
  def qHaving(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_partkey")
      .agg(count(lit(1)).as("n_lines"),
        round(sum($"l_quantity"), 2).as("total_qty"))
      .filter($"n_lines" >= 40)
      .orderBy($"l_partkey")
  }

  /** Scalar subquery: customers with balance above the global average. */
  def qAboveAvg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
    // Global avg is a 1-row broadcastable aggregate — cross-joined, not
    // collected to the driver, so the plan stays fully distributed.
    val globalAvg = cust.agg(avg($"c_acctbal").as("global_avg"))
    cust.crossJoin(broadcast(globalAvg))
      .filter($"c_acctbal" > $"global_avg")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_above"),
        round(avg($"c_acctbal"), 6).as("avg_bal"))
      .orderBy($"c_mktsegment")
  }

  /** TPC-H Q17 shape — correlated scalar subquery, written in its
    * decorrelated form (per-part threshold aggregate joined back, the
    * plan Catalyst produces for the correlated SQL; the oracle uses
    * the correlated form).  All threshold arithmetic is exact
    * (integer-valued doubles), so membership at the comparison
    * boundary is engine-independent. */
  def qSmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val thresholds = li.groupBy($"l_partkey".as("t_partkey"))
      .agg((avg($"l_quantity") * 0.2).as("qty_thresh"))
    val brandParts = Tables.part(spark, dir)
      .filter($"p_brand" === "Brand#23").select($"p_partkey")
    li.join(broadcast(brandParts), $"l_partkey" === $"p_partkey")
      .join(thresholds, $"l_partkey" === $"t_partkey")
      .filter($"l_quantity" < $"qty_thresh")
      .agg(round(sum($"l_extendedprice") / 7.0, 4).as("avg_yearly"))
  }

  /** TPC-H Q18 shape — IN-subquery over a grouped HAVING. */
  def qLargeOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
    val big = li.groupBy($"l_orderkey")
      .agg(sum($"l_quantity").as("sum_qty"))
      .filter($"sum_qty" > 200)
    Tables.orders(spark, dir)
      .join(big, $"o_orderkey" === big("l_orderkey"))
      .join(broadcast(Tables.customer(spark, dir).select($"c_custkey", $"c_name")),
        $"o_custkey" === $"c_custkey")
      .select($"c_name", $"o_orderkey", $"o_orderdate", $"o_totalprice",
        round($"sum_qty", 2).as("sum_qty"))
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(20)
  }

  /** TPC-H Q19 shape — disjunction of conjunctive range predicates;
    * the part-side conjuncts push to the part scan, the join stays a
    * single broadcast. */
  def qDisjunctivePredicates(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val part = Tables.part(spark, dir)
      .select($"p_partkey", $"p_brand", $"p_size")
    Tables.lineitem(spark, dir)
      .join(broadcast(part), $"l_partkey" === $"p_partkey")
      .filter(
        ($"p_brand" === "Brand#12" && $"p_size".between(1, 15) &&
          $"l_quantity".between(1, 11)) ||
        ($"p_brand" === "Brand#23" && $"p_size".between(10, 30) &&
          $"l_quantity".between(10, 20)) ||
        ($"p_brand" === "Brand#34" && $"p_size".between(20, 50) &&
          $"l_quantity".between(20, 30)))
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4)
        .as("revenue"))
  }

  /** Pivot: yearly order stats spread across the (closed) status
    * domain.  Explicit pivot values keep the output schema static —
    * required for a deterministic oracle and the only scalable form
    * anyway (value discovery is a driver-side distinct at 100 TB). */
  def qPivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy(year($"o_orderdate").as("o_year"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)).as("n"),
        round(sum($"o_totalprice"), 2).as("price"))
      .orderBy($"o_year")
  }

  /** HLL++ approx-distinct — the constant-memory path for distinct
    * cardinalities at 100 TB — with its accuracy contract as the checkable
    * result: the raw estimate is engine-internal (HLL sketches cannot
    * hash-match another engine), so the query emits the exact count
    * (fully hash-checked) plus a boolean asserting the estimate lands
    * within 5× the configured rsd of it.  The oracle claims TRUE from
    * exact arithmetic — a drifting sketch turns the cell red, so the
    * sketch's tolerance is verified rather than trusted, without
    * pretending cross-engine bit-equality of the estimate itself. */
  val ApproxRsd = 0.01

  def qApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        approx_count_distinct($"l_orderkey", ApproxRsd).as("approx_orders"),
        countDistinct($"l_orderkey").as("exact_orders"))
      .select($"l_returnflag", $"exact_orders",
        (abs($"approx_orders" - $"exact_orders").cast("double")
          / $"exact_orders" <= 5 * ApproxRsd).as("within_rsd"))
      .orderBy($"l_returnflag")
  }

  def qApproxDistinctOracleSql: String =
    """SELECT l_returnflag,
      | count(DISTINCT l_orderkey) AS exact_orders,
      | TRUE AS within_rsd
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Grouping sets via CUBE: all four aggregation levels over
    * (status, priority) in one pass — Spark expands the grouping sets
    * and aggregates once, no union of scans. */
  def qCube(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice"), 2).as("sum_price"))
      .orderBy($"o_orderstatus".asc_nulls_first,
        $"o_orderpriority".asc_nulls_first)
  }

  def qCubeOracleSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
      | round(sum(o_totalprice), 2) AS sum_price
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST,
      |  o_orderpriority ASC NULLS FIRST""".stripMargin

  /** Full outer join: per-nation rare-rich-customer count vs supplier
    * count — the filter makes one side sparse so both null sides of
    * the join are actually exercised. */
  def qFullOuter(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val c = Tables.customer(spark, dir)
      .filter($"c_acctbal" > 9900)
      .groupBy($"c_nationkey").agg(count(lit(1)).as("rich_customers"))
    val s = Tables.supplier(spark, dir)
      .filter($"s_acctbal" > 8000)
      .groupBy($"s_nationkey").agg(count(lit(1)).as("suppliers"))
    c.join(s, $"c_nationkey" === $"s_nationkey", "full_outer")
      .select(coalesce($"c_nationkey", $"s_nationkey").as("nationkey"),
        $"rich_customers", $"suppliers")
      .orderBy($"nationkey")
  }

  def qFullOuterOracleSql: String =
    """WITH c AS (
      |  SELECT c_nationkey, count(*) AS rich_customers
      |  FROM customer WHERE c_acctbal > 9900 GROUP BY c_nationkey),
      |s AS (
      |  SELECT s_nationkey, count(*) AS suppliers
      |  FROM supplier WHERE s_acctbal > 8000 GROUP BY s_nationkey)
      |SELECT coalesce(c_nationkey, s_nationkey) AS nationkey,
      |  rich_customers, suppliers
      |FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey
      |ORDER BY nationkey""".stripMargin

  /** K-Minimum-Values distinct-count sketch — the oracle-checkable
    * companion to qApproxDistinct: built entirely from the portable
    * 60-bit md5 hash, so the DuckDB oracle reproduces the estimate
    * bit-for-bit (HLL sketches differ across engines; KMV doesn't).
    * Estimator: ndv ≈ (k-1) · 2^60 / h_(k) from the k-th smallest
    * distinct hash; exact count when a group has < k distinct values.
    * Scale: distinct-then-window shuffles once on the group key; state
    * per group is the k smallest hashes — constant memory, mergeable
    * (the classic KMV property), unlike countDistinct's full set. */
  val KmvK = 64

  def qKmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._

    // Declarative distinct-then-rank: the distinct's map-side partial
    // aggregation is already the partition-local reduction (a typed
    // mapPartitions top-k was measured no faster — the encoder
    // boundary costs what the smaller shuffle saves).
    val h = Tables.lineitem(spark, dir)
      .select($"l_returnflag",
        expr(SparkDialect.h60("CAST(l_orderkey AS STRING)")).as("h"))
      .distinct()
    val w = Window.partitionBy($"l_returnflag").orderBy($"h")
    h.withColumn("rn", row_number().over(w))
      .filter($"rn" <= KmvK) // kth-min + small-group exact count only
      .groupBy($"l_returnflag")
      .agg(max(when($"rn" === KmvK, $"h")).as("kth"),
        count(lit(1)).as("nd"))
      .select($"l_returnflag",
        when($"nd" < KmvK, $"nd")
          .otherwise(floor(lit((KmvK - 1).toDouble) * pow(lit(2.0), 60)
            / $"kth".cast("double")).cast("long"))
          .as("kmv_distinct"))
      .orderBy($"l_returnflag")
  }

  def qKmvDistinctOracleSql: String =
    s"""WITH h AS (
       |  SELECT DISTINCT l_returnflag,
       |    CAST(CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) AS h
       |  FROM lineitem),
       |r AS (
       |  SELECT l_returnflag, h,
       |    row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
       |  FROM h),
       |s AS (
       |  SELECT l_returnflag,
       |    max(CASE WHEN rn = $KmvK THEN h END) AS kth,
       |    count(*) AS nd
       |  FROM r WHERE rn <= $KmvK GROUP BY l_returnflag)
       |SELECT l_returnflag,
       |  CAST(CASE WHEN nd < $KmvK THEN nd
       |    ELSE CAST(floor(${KmvK - 1}.0 * pow(2.0, 60) / CAST(kth AS DOUBLE)) AS BIGINT)
       |  END AS BIGINT) AS kmv_distinct
       |FROM s ORDER BY l_returnflag""".stripMargin

  /** Semi-structured extraction: pull a field out of the JSON `props`
    * column and aggregate by a derived bucket (get_json_object is
    * codegen'd; the scan prunes to the two referenced columns). */
  def qJsonExtract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select(get_json_object($"props", "$.k").cast("long").as("k"), $"value")
      .groupBy(expr("k DIV 10").as("k_bucket"))
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value"), 4).as("sum_value"),
        min($"k").as("min_k"), max($"k").as("max_k"))
      .orderBy($"k_bucket")
  }

  /** Date/time functions: monthly order stats (EXTRACT/date_trunc). */
  def qDateAgg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy(year($"o_orderdate").as("o_year"),
        month($"o_orderdate").as("o_month"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice"), 2).as("sum_price"),
        round(min($"o_totalprice"), 2).as("min_price"),
        round(max($"o_totalprice"), 2).as("max_price"))
      .orderBy($"o_year", $"o_month")
  }
}
