package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-3 query-surface extensions: the remaining TPC-H-shaped
  * queries expressible over the reduced fixture schema (no partsupp,
  * no shipmode/commitdate/phone columns — see TESTDATA.md), plus
  * analytic-window, grouping-sets, unpivot, percentile, gap-fill and
  * bloom-filter operators.
  *
  * The reference itself (SURVEY.md §2.5-2.6) has none of these; they
  * are the engine extensions that complete the relational surface.
  * Each query keeps its DuckDB oracle SQL next to the engine
  * implementation.
  *
  * Scale notes (100 TB):
  *  - All dimension joins broadcast; fact-fact joins shuffle once on
  *    the join key.
  *  - q_bloom_semi_join demonstrates the scale pattern Spark's
  *    row-level runtime filtering automates: build a bloom filter over
  *    the small filtered side, broadcast it, and prefilter the fact
  *    scan BEFORE the shuffle — the exact semi-join then touches only
  *    candidate rows.  The result is identical to the plain semi-join
  *    (false positives are removed by the exact join), which is the
  *    oracle.
  *  - q_gapfill's calendar explode is per-key (sequence over each
  *    symbol's own date range) — no global calendar product.
  *  - q_moving_avg / q_ntile_lag window over per-key partitions;
  *    the only global window (q_moving_avg's date ordering) operates
  *    on the already-aggregated daily relation (≤ one row per day).
  */
object RelationalExt {

  // ---------------------------------------------------------------- helpers

  /** Register the named fixture tables as temp views and run Spark SQL. */
  private def runSql(spark: SparkSession, dir: String, sql: String,
                     tables: Seq[String]): DataFrame = {
    tables.foreach {
      case "events" => Tables.events(spark, dir).createOrReplaceTempView("events")
      case t => Tables.load(spark, dir, t).createOrReplaceTempView(t)
    }
    spark.sql(sql)
  }

  // ------------------------------------------------------- TPC-H Q4 (adapted)

  /** Q4-style order-priority check: correlated EXISTS whose predicate
    * references the outer row (l_shipdate > o_orderdate) — a left-semi
    * join with a non-equi residual condition. */
  def q4OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= to_timestamp(lit("1997-07-01")) &&
        $"o_orderdate" < to_timestamp(lit("1997-10-01")))
    val li = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_shipdate")
    ord.join(li, $"l_orderkey" === $"o_orderkey" && $"l_shipdate" > $"o_orderdate",
        "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy($"o_orderpriority")
  }

  val q4OrderPriorityOracleSql: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-07-01'
      |  AND o_orderdate < TIMESTAMP '1997-10-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ------------------------------------------------------- TPC-H Q7 (adapted)

  /** Q7-style volume shipping between two nations: supplier nation ↔
    * customer nation flows by ship year.  Both nation joins broadcast;
    * the only shuffle is orders⋈lineitem. */
  def q7NationVolume(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nation = Tables.nation(spark, dir).select($"n_nationkey", $"n_name")
    val supp = Tables.supplier(spark, dir).select($"s_suppkey", $"s_nationkey")
    val cust = Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey")
    val ord = Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey")
    val li = Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= to_timestamp(lit("1996-01-01")) &&
        $"l_shipdate" < to_timestamp(lit("1998-01-01")))
      .select($"l_orderkey", $"l_suppkey", $"l_shipdate",
        ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("volume"))
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(broadcast(nation.select($"n_nationkey".as("sn_key"),
        $"n_name".as("supp_nation"))), $"s_nationkey" === $"sn_key")
      .join(broadcast(nation.select($"n_nationkey".as("cn_key"),
        $"n_name".as("cust_nation"))), $"c_nationkey" === $"cn_key")
      .filter(($"supp_nation" === "NATION_1" && $"cust_nation" === "NATION_6") ||
        ($"supp_nation" === "NATION_6" && $"cust_nation" === "NATION_1"))
      .groupBy($"supp_nation", $"cust_nation",
        year($"l_shipdate").cast("int").as("l_year"))
      .agg(round(sum($"volume"), 4).as("revenue"))
      .orderBy($"supp_nation", $"cust_nation", $"l_year")
  }

  val q7NationVolumeOracleSql: String =
    """SELECT supp_nation, cust_nation, l_year, round(sum(volume), 4) AS revenue
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |    CAST(year(l_shipdate) AS INTEGER) AS l_year,
      |    l_extendedprice * (1 - l_discount) AS volume
      |  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
      |    JOIN orders ON o_orderkey = l_orderkey
      |    JOIN customer ON c_custkey = o_custkey
      |    JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |    JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_6')
      |      OR (n1.n_name = 'NATION_6' AND n2.n_name = 'NATION_1'))
      |    AND l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1998-01-01')
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin

  // ------------------------------------------------------- TPC-H Q8 (adapted)

  /** Q8-style market share: NATION_1 suppliers' share of ECONOMY-part
    * revenue sold into AMERICA customers, by order year — a conditional
    * ratio over a six-way star join.
    *
    * Building the DataFrame runs Spark jobs: two driver-side
    * `collect()`s fold the AMERICA nation keys and NATION_1's key set
    * into literal `isin` probes before the returned plan exists. */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val part = Tables.part(spark, dir)
      .filter($"p_type" === "ECONOMY").select($"p_partkey")
    val supp = Tables.supplier(spark, dir).select($"s_suppkey", $"s_nationkey")
    val cust = Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey")
    val n1 = Tables.nation(spark, dir)
      .select($"n_nationkey".as("cn_key"), $"n_regionkey")
    val region = Tables.region(spark, dir).filter($"r_name" === "AMERICA")
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= to_timestamp(lit("1996-01-01")) &&
        $"o_orderdate" < to_timestamp(lit("1998-01-01")))
      .select($"o_orderkey", $"o_custkey", $"o_orderdate")
    val li = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_partkey", $"l_suppkey",
        ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("volume"))
    // Dimension chains fold OFF the fact stream (r15): customer ⋈
    // nation ⋈ region is only an is-in-AMERICA membership test, so it
    // collapses to one customer-key set the fact stream semi-probes;
    // supplier ⋈ nation prejoins to (s_suppkey, supp_nation).  The
    // fact table then streams through FOUR broadcast probes instead of
    // seven.  The folds are kept SHALLOW (each build chain is at most
    // two broadcasts deep, and the four builds materialize in
    // parallel) — a first cut that semi-joined orders on the BUILD
    // side measured slower at sf0.1 because it serialized three
    // broadcast rounds.  At 100 TB the same shape holds: per-fact-row
    // work drops 7→4 probes while every fold stays dimension-sized.
    // The customer-side region fold is a CONSTANT-SIZED dimension
    // chain (nation ⋈ region, ≤ 25 rows at any scale factor): resolve
    // it to a literal key set driver-side — the same bounded-collect
    // discipline as the k-means codebooks — so the is-in-AMERICA test
    // PUSHES into the customer scan as an In() filter instead of
    // paying a broadcast-inside-broadcast build chain that serializes
    // two jobs before the fact stream can start (r15; measured ~0.2 s
    // of the query's floor at sf0.1, and at 100 TB it turns the
    // customer-side probe into scan-level pruning).
    val amKeys = n1.join(region, $"n_regionkey" === $"r_regionkey")
      .select($"cn_key").collect()
      .map(_.getAs[Number](0).longValue()).sorted
    val custAm = cust
      .filter($"c_nationkey".isin(amKeys: _*))
      .select($"c_custkey")
    // The supplier-side nation probe folds the same way (r16): the
    // aggregate only tests supp_nation = 'NATION_1', so the ≤ 25-row
    // nation dimension resolves driver-side to NATION_1's key set and
    // the probe ships a BOOLEAN per supplier instead of a string —
    // one fewer broadcast build job (supplier ⋈ nation disappears
    // from the plan) and a 1-byte probe payload.  Same bounded-collect
    // discipline as the customer fold above; CASE arithmetic
    // unchanged, oracle text untouched.
    val n1Keys = Tables.nation(spark, dir)
      .filter($"n_name" === "NATION_1")
      .select($"n_nationkey").collect()
      .map(_.getAs[Number](0).longValue()).sorted
    val suppFlag = supp
      .select($"s_suppkey", $"s_nationkey".isin(n1Keys: _*).as("is_n1"))
    li.join(broadcast(part), $"l_partkey" === $"p_partkey")
      .join(broadcast(ord), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(custAm), $"o_custkey" === $"c_custkey", "leftsemi")
      .join(broadcast(suppFlag), $"l_suppkey" === $"s_suppkey")
      .groupBy(year($"o_orderdate").cast("int").as("o_year"))
      .agg(round(
        sum(when($"is_n1", $"volume").otherwise(0.0)) /
          sum($"volume"), 6).as("mkt_share"))
      .orderBy($"o_year")
  }

  val q8MarketShareOracleSql: String =
    """SELECT o_year,
      | round(sum(CASE WHEN nation = 'NATION_1' THEN volume ELSE 0 END)
      |        / sum(volume), 6) AS mkt_share
      |FROM (
      |  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |    l_extendedprice * (1 - l_discount) AS volume, n2.n_name AS nation
      |  FROM part JOIN lineitem ON p_partkey = l_partkey
      |    JOIN supplier ON s_suppkey = l_suppkey
      |    JOIN orders ON l_orderkey = o_orderkey
      |    JOIN customer ON o_custkey = c_custkey
      |    JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |    JOIN region ON n1.n_regionkey = r_regionkey
      |    JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
      |    AND o_orderdate >= TIMESTAMP '1996-01-01'
      |    AND o_orderdate < TIMESTAMP '1998-01-01')
      |GROUP BY o_year ORDER BY o_year""".stripMargin

  // ------------------------------------------------------ TPC-H Q10 (adapted)

  /** Q10-style returned-item report: top-20 customers by revenue lost
    * to returns in a quarter. */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
      .select($"c_custkey", $"c_name", $"c_acctbal", $"c_nationkey")
    val nation = Tables.nation(spark, dir).select($"n_nationkey", $"n_name")
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= to_timestamp(lit("1997-10-01")) &&
        $"o_orderdate" < to_timestamp(lit("1998-01-01")))
      .select($"o_orderkey", $"o_custkey")
    val li = Tables.lineitem(spark, dir)
      .filter($"l_returnflag" === "R")
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_custkey", $"c_name", $"c_acctbal", $"n_name")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4)
        .as("revenue"))
      .orderBy($"revenue".desc, $"c_custkey")
      .limit(20)
  }

  val q10ReturnedItemsOracleSql: String =
    """SELECT c_custkey, c_name, c_acctbal, n_name,
      | round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
      |FROM customer JOIN orders ON o_custkey = c_custkey
      | JOIN lineitem ON l_orderkey = o_orderkey
      | JOIN nation ON c_nationkey = n_nationkey
      |WHERE o_orderdate >= TIMESTAMP '1997-10-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_returnflag = 'R'
      |GROUP BY c_custkey, c_name, c_acctbal, n_name
      |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  // ------------------------------------------------------ TPC-H Q14 (adapted)

  /** Q14-style promotion effect: percentage of one month's revenue from
    * PROMO parts — conditional-sum ratio after a broadcast dim join. */
  def q14PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val part = Tables.part(spark, dir).select($"p_partkey", $"p_type")
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= to_timestamp(lit("1998-01-01")) &&
        $"l_shipdate" < to_timestamp(lit("1998-02-01")))
      .join(broadcast(part), $"l_partkey" === $"p_partkey")
      .agg(round(lit(100.0) *
        sum(when($"p_type" === "PROMO",
          $"l_extendedprice" * (lit(1.0) - $"l_discount")).otherwise(0.0)) /
        sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 6)
        .as("promo_revenue"))
  }

  val q14PromoRevenueOracleSql: String =
    """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
      |   THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
      |   / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-02-01'""".stripMargin

  // ------------------------------------------------------ TPC-H Q15 (adapted)

  /** Q15-style top supplier: revenue per supplier over a quarter,
    * suppliers achieving the global maximum (scalar subquery over the
    * same derived relation).  Revenue is rounded BEFORE the max
    * comparison so the equality happens on grid points in both engines. */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // consumed twice (max subquery + join) — memoize the aggregation
    // instead of recomputing the filtered scan per consumer
    val revenue = RelationCache.cached(spark, s"q15_revenue:$dir") {
      Tables.lineitem(spark, dir)
        .filter($"l_shipdate" >= to_timestamp(lit("1998-01-01")) &&
          $"l_shipdate" < to_timestamp(lit("1998-04-01")))
        .groupBy($"l_suppkey")
        .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4)
          .as("total_revenue"))
    }
    val maxRev = revenue.agg(max($"total_revenue").as("mr"))
    Tables.supplier(spark, dir).select($"s_suppkey", $"s_name")
      .join(revenue, $"s_suppkey" === $"l_suppkey")
      .join(broadcast(maxRev), $"total_revenue" === $"mr")
      .select($"s_suppkey", $"s_name", $"total_revenue")
      .orderBy($"s_suppkey")
  }

  val q15TopSupplierOracleSql: String =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      |    AND l_shipdate < TIMESTAMP '1998-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue
      |FROM supplier JOIN revenue ON s_suppkey = supplier_no
      |WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  // ------------------------------------------------------ TPC-H Q11 (adapted)

  /** Q11-style important balances: nations whose suppliers' revenue
    * exceeds a fixed fraction of the global total — Q11's
    * filter-groups-by-a-global-aggregate shape, expressed as a scalar
    * subquery over the same derived relation (a WHERE on the grouped
    * CTE in the oracle; a broadcast threshold join in the engine).
    * Both the per-group sums and the threshold are rounded to the
    * money grid before the comparison, so the predicate evaluates on
    * identical doubles in both engines. */
  def q11ImportantBalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val supp = Tables.supplier(spark, dir).select($"s_suppkey", $"s_nationkey")
    val nation = Tables.nation(spark, dir).select($"n_nationkey", $"n_name")
    val rev = RelationCache.cached(spark, s"q11_rev:$dir") {
      Tables.lineitem(spark, dir)
        .select($"l_suppkey", $"l_extendedprice")
        .join(broadcast(supp), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(nation), $"s_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(round(sum($"l_extendedprice"), 2).as("nation_rev"))
    }
    val thr = rev.agg(round(sum($"nation_rev") * 0.045, 2).as("thr"))
    rev.join(broadcast(thr), $"nation_rev" > $"thr")
      .select($"n_name", $"nation_rev")
      .orderBy($"nation_rev".desc, $"n_name")
  }

  val q11ImportantBalanceOracleSql: String =
    """WITH rev AS (
      |  SELECT n_name, round(sum(l_extendedprice), 2) AS nation_rev
      |  FROM lineitem
      |    JOIN supplier ON l_suppkey = s_suppkey
      |    JOIN nation ON s_nationkey = n_nationkey
      |  GROUP BY n_name)
      |SELECT n_name, nation_rev FROM rev
      |WHERE nation_rev > (SELECT round(sum(nation_rev) * 0.045, 2) FROM rev)
      |ORDER BY nation_rev DESC, n_name""".stripMargin

  // --------------------------------------------------------- GROUPING SETS

  /** Explicit GROUPING SETS (distinct from rollup/cube: an arbitrary
    * set list) + grouping() indicator columns.  The SQL is ANSI enough
    * to be both the engine text and the oracle text. */
  val qGroupingSetsSql: String =
    """SELECT r_name, c_mktsegment,
      | CAST(grouping(r_name) AS INTEGER) AS g_region,
      | CAST(grouping(c_mktsegment) AS INTEGER) AS g_segment,
      | count(*) AS n_cust, round(sum(c_acctbal), 2) AS sum_bal
      |FROM customer
      | JOIN nation ON c_nationkey = n_nationkey
      | JOIN region ON n_regionkey = r_regionkey
      |GROUP BY GROUPING SETS ((r_name, c_mktsegment), (r_name), (c_mktsegment), ())
      |ORDER BY g_region, g_segment, r_name ASC NULLS FIRST,
      |  c_mktsegment ASC NULLS FIRST""".stripMargin

  def qGroupingSets(spark: SparkSession, dir: String): DataFrame =
    runSql(spark, dir, qGroupingSetsSql, Seq("customer", "nation", "region"))

  // ------------------------------------------------------------ moving frames

  /** Sliding-frame window aggregates over the daily order series:
    * 7-day moving average/sum and a 30-day moving max.  Frames are ROWS
    * BETWEEN over the (unique-keyed, pre-aggregated) daily relation, so
    * both engines see identical frame contents; ANSI-shared text. */
  val qMovingAvgSql: String =
    """WITH d AS (
      |  SELECT o_orderdate AS day, count(*) AS n_orders,
      |    round(sum(o_totalprice), 2) AS rev
      |  FROM orders GROUP BY o_orderdate)
      |SELECT day, n_orders, rev,
      |  round(avg(rev) OVER (ORDER BY day
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7,
      |  round(sum(rev) OVER (ORDER BY day
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS sum7,
      |  round(max(rev) OVER (ORDER BY day
      |    ROWS BETWEEN 29 PRECEDING AND CURRENT ROW), 2) AS max30
      |FROM d ORDER BY day""".stripMargin

  def qMovingAvg(spark: SparkSession, dir: String): DataFrame =
    runSql(spark, dir, qMovingAvgSql, Seq("orders"))

  // -------------------------------------------------------- lead/lag/ntile

  /** Navigation-function family per customer order history: lag/lead,
    * first_value, ntile quartiles — all with fully-determined ordering
    * (date, then key).  ANSI-shared text. */
  val qNtileLagSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
      |  round(lag(o_totalprice) OVER w, 2) AS prev_price,
      |  round(lead(o_totalprice) OVER w, 2) AS next_price,
      |  round(first_value(o_totalprice) OVER w, 2) AS first_price,
      |  CAST(ntile(4) OVER (PARTITION BY o_custkey
      |    ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS price_quartile
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  def qNtileLag(spark: SparkSession, dir: String): DataFrame =
    runSql(spark, dir, qNtileLagSql, Seq("orders"))

  // ------------------------------------------------------ histogram quantiles

  /** Mergeable histogram-quantile estimation, verified against the
    * exact interpolated percentile — the constant-memory quantile
    * answer at 100 TB, where exact percentiles need a full sort (or
    * per-group value buffers) and a t-digest/KLL sketch is opaque to
    * an oracle.  An equi-width histogram IS a quantile sketch with a
    * provable bound: bin counts are integer sums (associative +
    * commutative — partials merge across any partitioning, like the
    * CM sketch), and inverse-interpolating the cumulative histogram
    * recovers any quantile to within one bin width of the truth.
    *
    * The relation reports, per requested p: the histogram estimate,
    * the exact interpolated percentile (Spark `percentile` ≡ DuckDB
    * `quantile_cont`, both rank (n−1)·p — the `q_percentiles`
    * lockstep), the absolute error, the bin width, and
    * `within_bound` = |err| ≤ bin width — the sketch's accuracy
    * contract as an oracle-checked column, the same
    * estimate-plus-verified-bound shape as `q_approx_distinct`.
    * The one-bin-width bound is the DENSE case (the target rank's
    * two bracketing order statistics land in the same bin — true of
    * any corpus whose quantile region is populated, incl. this
    * fixture at every SF); when a rank falls exactly between a
    * populated bin and a run of empty ones, the true interpolated
    * value lies in the empty gap the histogram cannot resolve and
    * the column honestly reads false — which is itself the signal
    * (the data has a hole where you asked for a quantile).
    *
    * Determinism: min/max/counts are exact; the interpolation is a
    * fixed double expression of them.  Bins: 128 equi-width over the
    * observed [lo, hi] — `least(floor(...), B−1)` clamps x = hi into
    * the last bin.
    *
    * Scale: one pass to (lo, hi, n) — at 100 TB that pre-pass is why
    * production histograms fix the range a priori — one map-side-
    * combining 128-cell aggregate, then window + joins over ≤ 128-row
    * relations.  The exact side (full-sort percentile) is the
    * verification baseline, not the scale path. */
  def histQuantilesSql(d: SqlDialect, bins: Int = 128,
                       ps: Seq[Double] = Seq(0.5, 0.9, 0.99)): String = {
    val pctl = d match {
      case SparkDialect => "percentile"
      case _            => "quantile_cont"
    }
    val exact = ps.map(p =>
      s"SELECT ${d.dlit(p)} AS p, $pctl(x, ${d.dlit(p)}) AS exact FROM s")
      .mkString("\n  UNION ALL ")
    s"""WITH s AS (
       |  SELECT l_extendedprice AS x FROM lineitem),
       |b AS (
       |  SELECT min(x) AS lo, max(x) AS hi,
       |    CAST(count(*) AS BIGINT) AS n FROM s),
       |h AS (
       |  SELECT bin, CAST(count(*) AS BIGINT) AS c FROM (
       |    -- degenerate all-equal column: hi = lo makes the bin
       |    -- divisor 0 and 0/0 = NaN, whose BIGINT cast / least()
       |    -- ordering differ by engine — route it to bin 0 explicitly
       |    -- so correctness never rides on NaN-cast coincidences
       |    SELECT CASE WHEN b.hi = b.lo THEN CAST(0 AS BIGINT)
       |      ELSE CAST(least(floor((s.x - b.lo)
       |        / ((b.hi - b.lo) / ${d.dlit(bins.toDouble)})),
       |      ${bins - 1}) AS BIGINT) END AS bin
       |    FROM s CROSS JOIN b) z
       |  GROUP BY bin),
       |cum AS (
       |  SELECT bin, c,
       |    CAST(sum(c) OVER (ORDER BY bin) AS BIGINT) AS cum,
       |    CAST(coalesce(sum(c) OVER (ORDER BY bin
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS prev_cum
       |  FROM h),
       |ex AS (
       |  $exact),
       |t AS (
       |  SELECT ex.p, ex.exact, b.lo, b.hi, b.n,
       |    ex.p * (b.n - 1) + 1 AS tgt
       |  FROM ex CROSS JOIN b),
       |sel AS (
       |  SELECT t.p, min(cum.bin) AS bin
       |  FROM t JOIN cum ON CAST(cum.cum AS DOUBLE) >= t.tgt
       |  GROUP BY t.p),
       |est AS (
       |  SELECT t.p, t.exact, t.n,
       |    (t.hi - t.lo) / ${d.dlit(bins.toDouble)} AS w,
       |    t.lo + (sel.bin + (t.tgt - cum.prev_cum) / cum.c)
       |      * ((t.hi - t.lo) / ${d.dlit(bins.toDouble)}) AS est
       |  FROM t JOIN sel ON sel.p = t.p
       |  JOIN cum ON cum.bin = sel.bin)
       |SELECT p, CAST(n AS BIGINT) AS n,
       |  round(est, 4) AS est,
       |  round(exact, 4) AS exact,
       |  round(abs(est - exact), 4) AS abs_err,
       |  round(w, 4) AS bin_width,
       |  (abs(est - exact) <= w) AS within_bound
       |FROM est
       |ORDER BY p""".stripMargin
  }

  def qHistQuantiles(spark: SparkSession, dir: String): DataFrame =
    runSql(spark, dir, histQuantilesSql(SparkDialect), Seq("lineitem"))

  // ------------------------------------------------------------- percentiles

  /** Exact interpolated percentiles per group: Spark's percentile()
    * and DuckDB's quantile_cont() both use linear interpolation at
    * rank (n-1)·q, so the grid-rounded results agree. */
  def qPercentiles(spark: SparkSession, dir: String): DataFrame =
    runSql(spark, dir,
      """SELECT l_returnflag,
        |  round(percentile(l_extendedprice, 0.25), 4) AS p25_price,
        |  round(percentile(l_extendedprice, 0.5), 4) AS median_price,
        |  round(percentile(l_extendedprice, 0.75), 4) AS p75_price,
        |  round(percentile(l_quantity, 0.5), 4) AS median_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      Seq("lineitem"))

  val qPercentilesOracleSql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
      |  round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
      |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75_price,
      |  round(quantile_cont(l_quantity, 0.5), 4) AS median_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ----------------------------------------------------------------- unpivot

  /** Wide→long unpivot of part's numeric attributes (Dataset.unpivot →
    * Generate/Expand, a narrow op), then per-(brand, attr) stats.  The
    * oracle spells the same relation as a UNION ALL. */
  def qUnpivot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.part(spark, dir)
      .select($"p_brand", $"p_size".cast("double").as("p_size"),
        $"p_retailprice")
      .unpivot(Array($"p_brand"), Array($"p_size", $"p_retailprice"),
        "attr", "value")
      .groupBy($"p_brand", $"attr")
      .agg(count(lit(1)).as("n"),
        round(avg($"value"), 6).as("avg_value"),
        round(sum($"value"), 2).as("sum_value"))
      .orderBy($"p_brand", $"attr")
  }

  val qUnpivotOracleSql: String =
    """WITH u AS (
      |  SELECT p_brand, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS value FROM part
      |  UNION ALL
      |  SELECT p_brand, 'p_retailprice' AS attr, p_retailprice AS value FROM part)
      |SELECT p_brand, attr, count(*) AS n,
      |  round(avg(value), 6) AS avg_value,
      |  round(sum(value), 2) AS sum_value
      |FROM u GROUP BY p_brand, attr ORDER BY p_brand, attr""".stripMargin

  // -------------------------------------------------------- bloom semi join

  /** Bloom-filter-accelerated semi join: aggregate the (small) filtered
    * orders side into a bloom filter (`bloom_filter_agg`), broadcast
    * it, prefilter the lineitem scan with `might_contain` BEFORE any
    * shuffle, then exact semi-join the survivors.  False positives are
    * eliminated by the exact join, so the result — the oracle — is the
    * plain semi-join.  At 100 TB the bloom probe runs at scan speed and
    * the shuffle carries only matching rows. */
  def qBloomSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    // Bloom sizing must be a plan-time literal (BloomFilterAggregate
    // folds NDV/bits during analysis), so derive it from a cheap count
    // of the build side: a pushed-down filtered scan of the SMALL side
    // — the same side the bloom exists to compress — so the extra job
    // costs one predicate-pruned scan, never a pass over the probe
    // side.  8 bits/key ≈ 3% false-positive rate with Spark's optimal-k
    // formula; the floor keeps tiny builds from degenerate all-collide
    // filters, and false positives only cost exact-join work, never
    // correctness.
    Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
    val buildRows = spark.sql(
      "SELECT count(*) FROM orders WHERE o_orderpriority = '1-URGENT'")
      .head.getLong(0)
    val ndv = math.max(4096L, buildRows)
    val bits = ndv * 8L
    // might_contain requires the bloom filter as a scalar subquery (or
    // constant): the subquery executes once, its ~ndv-byte result is
    // broadcast inside the filter expression, and the probe runs at
    // scan speed before the shuffle.
    runSql(spark, dir,
      s"""WITH urgent AS (
        |  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'),
        |pre AS (
        |  SELECT l_orderkey, l_returnflag, l_extendedprice FROM lineitem
        |  WHERE graft_might_contain(
        |    (SELECT graft_bloom_agg(xxhash64(o_orderkey), ${ndv}L, ${bits}L)
        |     FROM urgent),
        |    xxhash64(l_orderkey)))
        |SELECT l_returnflag, count(*) AS n_lines,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM pre
        |WHERE EXISTS (SELECT 1 FROM urgent WHERE o_orderkey = l_orderkey)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
      Seq("orders", "lineitem"))
  }

  val qBloomSemiJoinOracleSql: String =
    """SELECT l_returnflag, count(*) AS n_lines,
      | round(sum(l_extendedprice), 2) AS sum_price
      |FROM lineitem
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_orderkey = l_orderkey
      |                AND o_orderpriority = '1-URGENT')
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ----------------------------------------------------------------- gapfill

  /** Calendar gap-fill + forward fill over the per-type daily event
    * series: each key explodes its own [min_day, max_day] calendar
    * (sequence — per-key, no global product), left-joins observations,
    * and forward-fills with last_value-ignore-nulls.  The canonical
    * time-series resample/ffill operator. */
  def qGapfill(spark: SparkSession, dir: String): DataFrame =
    runSql(spark, dir,
      """WITH d AS (
        |  SELECT event_type AS sym, date_trunc('DAY', ts) AS day,
        |    round(sum(value), 4) AS v
        |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |r AS (
        |  SELECT sym, min(day) AS d0, max(day) AS d1 FROM d GROUP BY sym),
        |cal AS (
        |  SELECT sym, explode(sequence(d0, d1, interval 1 day)) AS day FROM r),
        |j AS (
        |  SELECT cal.sym, cal.day, d.v,
        |    CAST(d.v IS NOT NULL AS BOOLEAN) AS observed
        |  FROM cal LEFT JOIN d ON cal.sym = d.sym AND cal.day = d.day)
        |SELECT sym, day, observed,
        |  round(last_value(v, true) OVER (PARTITION BY sym ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS v_filled
        |FROM j ORDER BY sym, day""".stripMargin,
      Seq("events"))

  val qGapfillOracleSql: String =
    """WITH d AS (
      |  SELECT event_type AS sym, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
      |    round(sum(value), 4) AS v
      |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
      |r AS (
      |  SELECT sym, min(day) AS d0, max(day) AS d1 FROM d GROUP BY sym),
      |cal AS (
      |  SELECT sym, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day FROM r),
      |j AS (
      |  SELECT cal.sym, cal.day, d.v,
      |    CAST(d.v IS NOT NULL AS BOOLEAN) AS observed
      |  FROM cal LEFT JOIN d ON cal.sym = d.sym AND cal.day = d.day)
      |SELECT sym, day, observed,
      |  round(last_value(v IGNORE NULLS) OVER (PARTITION BY sym ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS v_filled
      |FROM j ORDER BY sym, day""".stripMargin

  // -------------------------------------------------------- array HOF stats

  /** Per-vector component statistics via array higher-order functions —
    * a pure narrow projection (no explode→shuffle): max/min component,
    * positive-component count, mean (shared left-to-right fold) and L2
    * norm (shared dot).  Generated for both dialects from TextOps. */
  def arrayStatsSql(d: SqlDialect): String = {
    val sumC = d.fold("v", "CAST(0.0 AS DOUBLE)", "s", "x", "s + x")
    s"""WITH e AS (
       |  SELECT vec_id, label, ${d.toDoubleArr("embedding")} AS v FROM embeddings)
       |SELECT vec_id, label,
       |  round(${d.arrMax("v")}, 6) AS max_c,
       |  round(${d.arrMin("v")}, 6) AS min_c,
       |  CAST(${d.arrSize(d.arrFilter("v", "x", "x > CAST(0.0 AS DOUBLE)"))}
       |    AS BIGINT) AS n_pos,
       |  round(($sumC) / ${TextOps.EmbeddingDim}, 6) AS mean_c,
       |  round(sqrt(${d.dot("v", "v")}), 6) AS l2_norm
       |FROM e ORDER BY vec_id""".stripMargin
  }

  def qArrayStats(spark: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(spark, dir).createOrReplaceTempView("embeddings")
    spark.sql(arrayStatsSql(SparkDialect))
  }

  // ---------------------------------------------------------- data profiling

  /** Column-profile operator: per-column row/null/distinct counts plus
    * a numeric min/max (value for numeric columns, length for strings)
    * — the data-quality summary every ingestion pipeline runs before
    * accepting a drop.  One scan per profiled relation (the UNION ALL
    * branches share the cached scan; each branch is a partial-agg
    * reduction).  ANSI-shared text. */
  val qProfileSql: String =
    """SELECT 'c_acctbal' AS col, count(*) AS n,
      |  CAST(count(*) - count(c_acctbal) AS BIGINT) AS n_null,
      |  CAST(count(DISTINCT c_acctbal) AS BIGINT) AS n_distinct,
      |  round(min(c_acctbal), 2) AS min_v, round(max(c_acctbal), 2) AS max_v
      |FROM customer
      |UNION ALL
      |SELECT 'c_custkey', count(*),
      |  CAST(count(*) - count(c_custkey) AS BIGINT),
      |  CAST(count(DISTINCT c_custkey) AS BIGINT),
      |  CAST(min(c_custkey) AS DOUBLE), CAST(max(c_custkey) AS DOUBLE)
      |FROM customer
      |UNION ALL
      |SELECT 'c_name_len', count(*),
      |  CAST(count(*) - count(c_name) AS BIGINT),
      |  CAST(count(DISTINCT c_name) AS BIGINT),
      |  CAST(min(length(c_name)) AS DOUBLE), CAST(max(length(c_name)) AS DOUBLE)
      |FROM customer
      |UNION ALL
      |SELECT 'c_mktsegment_len', count(*),
      |  CAST(count(*) - count(c_mktsegment) AS BIGINT),
      |  CAST(count(DISTINCT c_mktsegment) AS BIGINT),
      |  CAST(min(length(c_mktsegment)) AS DOUBLE),
      |  CAST(max(length(c_mktsegment)) AS DOUBLE)
      |FROM customer
      |ORDER BY col""".stripMargin

  def qProfile(spark: SparkSession, dir: String): DataFrame =
    runSql(spark, dir, qProfileSql, Seq("customer"))

  // --------------------------------------------------------------- funnel

  /** Ordered event funnel over the events stream: per user, did a
    * signup happen, then a later click, then a later purchase?  The
    * strictly-ordered min-timestamp chain (min(signup) < min(click
    * after signup) < min(purchase after that)) — one groupBy(user)
    * with conditional aggregates, no self-joins.  ANSI-shared text. */
  val qEventFunnelSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
      |  FROM events GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, u.t_signup,
      |    min(CASE WHEN e.event_type = 'click'
      |             AND e.ts > u.t_signup THEN e.ts END) AS t_click
      |  FROM events e JOIN u ON e.user_id = u.user_id
      |  GROUP BY e.user_id, u.t_signup),
      |p AS (
      |  SELECT e.user_id, c.t_signup, c.t_click,
      |    min(CASE WHEN e.event_type = 'purchase'
      |             AND e.ts > c.t_click THEN e.ts END) AS t_purchase
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  GROUP BY e.user_id, c.t_signup, c.t_click)
      |SELECT
      |  count(*) AS n_users,
      |  CAST(count(t_signup) AS BIGINT) AS n_signup,
      |  CAST(count(t_click) AS BIGINT) AS n_signup_click,
      |  CAST(count(t_purchase) AS BIGINT) AS n_full_funnel,
      |  round(CAST(count(t_purchase) AS DOUBLE)
      |    / greatest(count(t_signup), 1), 6) AS conversion
      |FROM p""".stripMargin

  def qEventFunnel(spark: SparkSession, dir: String): DataFrame =
    runSql(spark, dir, qEventFunnelSql, Seq("events"))

  // ------------------------------------------------------------- retention

  /** Weekly cohort retention: for each pair (first-active week w0,
    * active week w), how many users from the w0 cohort were active in
    * w — the classic triangle retention matrix, via two grouped
    * aggregates and one broadcast-size join.  Weeks are day-precision
    * epochs (date_trunc week), shared ANSI text. */
  val qRetentionSql: String =
    """WITH a AS (
      |  SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
      |  FROM events GROUP BY user_id, CAST(date_trunc('week', ts) AS TIMESTAMP)),
      |f AS (
      |  SELECT user_id, min(wk) AS w0 FROM a GROUP BY user_id)
      |SELECT f.w0 AS cohort_week, a.wk AS active_week,
      |  count(*) AS n_active
      |FROM a JOIN f ON a.user_id = f.user_id
      |GROUP BY f.w0, a.wk
      |ORDER BY cohort_week, active_week""".stripMargin

  def qRetention(spark: SparkSession, dir: String): DataFrame =
    runSql(spark, dir, qRetentionSql, Seq("events"))
}
