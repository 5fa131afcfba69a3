package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Cluster-scale layout patterns, exercised and plan-verified in
  * ScalePatternsSpec:
  *
  *  - **Bucketed co-located joins**: writing both fact tables bucketed
  *    on the join key lets repeated joins run with ZERO shuffle — the
  *    bucket layout is the shuffle, paid once at write time.  On a
  *    100 TB star schema this turns every orders⋈lineitem from a
  *    full-table exchange into a local zip of bucket files.
  *
  *  - **Salted aggregation**: two-phase aggregation over a synthetic
  *    salt for heavy-hitter keys.  AQE's skew-join handling covers
  *    joins; aggregation skew (one key ≫ others) still needs salting
  *    when a single reducer would own the hot key.  Partial map-side
  *    aggregation usually absorbs this for algebraic aggregates; the
  *    explicit pattern matters for holistic ones (collect_list etc.).
  */
object ScalePatterns {

  /** Write `df` bucketed (+ sorted) by `keys` as a managed parquet
    * table — the layout that makes future joins on `keys` shuffle-free. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    keys: Seq[String]): Unit =
    df.write
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .mode(SaveMode.Overwrite)
      .saveAsTable(table)

  /** Join two bucketed tables on their bucket keys; with matching
    * bucket counts the plan has no Exchange on either side. */
  def coLocatedJoin(spark: SparkSession, leftTable: String,
                    rightTable: String, key: String): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), key)

  /** Two-phase salted aggregation: count + sum of `valueCol` per
    * `key`, partial-aggregated over (key, salt) first so no single
    * reducer owns a hot key. Result is exactly groupBy(key).agg(...). */
  def saltedSumCount(df: DataFrame, key: String, valueCol: String,
                     salts: Int): DataFrame = {
    df
      // content-derived salt: hashing EVERY column keeps the salt a
      // deterministic function of the row, so a stage retry after a
      // fetch failure re-assigns identical salts and the partial
      // aggregates stay exact (a monotonically_increasing_id salt can
      // shift across attempts — SPARK-23207 class of bugs).  Spread is
      // still guaranteed for the common skew shape: identical duplicate
      // rows that collapse onto one salt are exactly the rows map-side
      // partial aggregation combines for free
      .withColumn("__salt",
        pmod(xxhash64(df.columns.map(col): _*), lit(salts)))
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__n"), sum(col(valueCol)).as("__s"))
      .groupBy(col(key))
      .agg(sum("__n").as("n"), sum("__s").as(s"sum_$valueCol"))
  }

  /** Salted aggregation as an oracle-checked query: l_returnflag has
    * only 3 values, so a plain groupBy funnels 600 k rows into 3
    * reducers — the textbook aggregation-skew shape.  The salted
    * two-phase form spreads each hot key over 16 sub-keys and must
    * produce EXACTLY the plain aggregate (l_quantity is integral, so
    * the double sums are order-independent); the oracle is the plain
    * single-phase GROUP BY. */
  def qSaltedAgg(spark: org.apache.spark.sql.SparkSession,
                 dir: String): DataFrame = {
    import spark.implicits._
    saltedSumCount(
      graft.Tables.lineitem(spark, dir).select($"l_returnflag", $"l_quantity"),
      "l_returnflag", "l_quantity", salts = 16)
      .select($"l_returnflag", $"n",
        round($"sum_l_quantity", 2).as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  def qSaltedAggOracleSql: String =
    """SELECT l_returnflag, count(*) AS n,
      | round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Shuffle-key skew diagnostic — the report an operator team runs
    * BEFORE a 100 TB job to decide whether a key needs salting, AQE
    * skew-split headroom, or a broadcast rewrite: for a prospective
    * shuffle key, the top heavy hitters with their share of the
    * relation, plus the share of the heaviest of `parts` hash
    * partitions under the engine-portable h60 hash — i.e. how
    * unbalanced the exchange would actually be.  A `max_part_share`
    * near 1/parts says the shuffle balances; near a single key's
    * share says one reducer owns the job's tail latency.
    *
    * The partition model uses the portable MD5-based h60 (not Spark's
    * internal murmur), so the oracle verifies the arithmetic; the
    * shape of the skew, not the exact reducer assignment, is the
    * signal — any uniform hash family gives the same balance picture.
    *
    * Scale: two map-side-combining aggregates over the key column
    * (key counts, then bucket sums) and a ≤ parts-row reduce —
    * diagnostic cost is one pass over one column. */
  def skewReportSql(d: SqlDialect, topN: Int = 10, parts: Int = 32): String =
    s"""WITH k AS (
       |  SELECT o_custkey AS key FROM orders),
       |n AS (
       |  SELECT CAST(count(*) AS BIGINT) AS total FROM k),
       |kc AS (
       |  SELECT key, CAST(count(*) AS BIGINT) AS c FROM k GROUP BY key),
       |parts AS (
       |  SELECT (${d.h60(d.castStr("key"))} % $parts) AS part,
       |    CAST(sum(c) AS BIGINT) AS pc
       |  FROM kc GROUP BY ${d.h60(d.castStr("key"))} % $parts),
       |mx AS (
       |  SELECT CAST(max(pc) AS BIGINT) AS max_pc FROM parts),
       |top AS (
       |  SELECT key, c FROM kc ORDER BY c DESC, key LIMIT $topN)
       |SELECT top.key, top.c AS key_count,
       |  round(CAST(top.c AS DOUBLE) / n.total, 6) AS key_share,
       |  mx.max_pc AS max_part_count,
       |  round(CAST(mx.max_pc AS DOUBLE) / n.total, 6) AS max_part_share,
       |  round(CAST(mx.max_pc AS DOUBLE) * $parts / n.total, 6)
       |    AS part_imbalance
       |FROM top CROSS JOIN n CROSS JOIN mx
       |ORDER BY key_count DESC, key""".stripMargin

  def qSkewReport(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.load(spark, dir, "orders").createOrReplaceTempView("orders")
    spark.sql(skewReportSql(SparkDialect))
  }
}
