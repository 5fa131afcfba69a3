package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.ingest.BarPipeline

/** Temporal operators Spark lacks as built-ins, re-expressed
  * Spark-first:
  *
  *  - **As-of join** (point-in-time join): for each left row, attach
  *    the latest right row with `rightTs <= leftTs` in the same key.
  *    Implemented as union + partitioned last(ignoreNulls) window — one
  *    shuffle on the key, zero range explosion, linear in rows.  That
  *    is the scalable formulation at 100 TB: the naive range-join
  *    (`l JOIN r ON l.ts >= r.ts` + argmax) materializes O(events ×
  *    bars-per-key) intermediates, this never does.  The oracle checks
  *    it against DuckDB's native ASOF JOIN — an independent algorithm.
  *
  *  - **Session windows**: engine uses Spark's native
  *    `session_window(ts, gap)` state machine; the oracle rebuilds
  *    sessions with the classic lag/cumsum break-flag construction —
  *    again algorithm-independent agreement.
  */
object Temporal {

  /** Generic as-of join.  Column sets of `left` and `right` must be
    * disjoint apart from `keyCol`.  Inner-join semantics: left rows
    * with no prior right row are dropped.
    *
    * Dispatches to the native streaming-merge operator
    * (graft.plans.AsofJoinExec — constant memory, no union/window
    * machinery) unless `spark.graft.asof.native=false` selects the
    * composable union+window fallback. */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
               leftTs: String, rightTs: String): DataFrame = {
    val spark = left.sparkSession
    val native = spark.conf.getOption("spark.graft.asof.native")
      .forall(_.toBoolean)
    if (native) asofJoinNative(left, right, keyCol, leftTs, rightTs)
    else asofJoinViaWindow(left, right, keyCol, leftTs, rightTs)
  }

  /** Native path: custom logical node planned to a sort-merge as-of
    * exec via the injected strategy. */
  def asofJoinNative(left: DataFrame, right: DataFrame, keyCol: String,
                     leftTs: String, rightTs: String): DataFrame = {
    import org.apache.spark.sql.GraftShim
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import graft.plans.AsofJoinNode
    val spark = left.sparkSession
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             n: String) = p.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"column $n not found"))
    val node = AsofJoinNode(lp, rp,
      attr(lp, keyCol), attr(rp, keyCol), attr(lp, leftTs), attr(rp, rightTs))
    // project away the right-side key copy so both paths agree
    GraftShim.ofRows(spark,
      Project(lp.output ++ rp.output.filterNot(_.name == keyCol), node))
  }

  /** Composable fallback: union + partitioned last(ignoreNulls). */
  def asofJoinViaWindow(left: DataFrame, right: DataFrame, keyCol: String,
                        leftTs: String, rightTs: String): DataFrame = {
    val leftCols = left.columns.filterNot(_ == keyCol).toSeq
    val rightCols = right.columns.filterNot(_ == keyCol).toSeq
    val l = left
      .withColumn("__ts", col(leftTs)).withColumn("__side", lit(1))
      .select((Seq(keyCol, "__ts", "__side") ++ leftCols).map(col) ++
        rightCols.map(c => lit(null).cast(right.schema(c).dataType).as(c)): _*)
    val r = right
      .withColumn("__ts", col(rightTs)).withColumn("__side", lit(0))
      .select(Seq(keyCol, "__ts", "__side").map(col) ++
        leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        rightCols.map(col): _*)
    // At equal timestamps the right row sorts first (__side 0 < 1), so
    // a left row sees a right row stamped at the same instant.
    val w = Window.partitionBy(keyCol).orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = l.unionByName(r).select(
      (Seq(keyCol, "__side").map(col) ++ leftCols.map(col) ++
        rightCols.map(c => last(col(c), ignoreNulls = true).over(w).as(c))): _*)
    filled
      .filter(col("__side") === 1 && col(rightTs).isNotNull)
      .drop("__side")
  }

  /** Events enriched with their as-of daily bar (the bar whose window
    * start is the latest at or before the event), aggregated per
    * matched bar for a compact deterministic result. */
  def asofEventBars(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = Tables.events(spark, dir)
      .filter($"event_type".isNotNull)
      .select($"event_type".as("symbol"), $"ts", $"value")
    val bars = BarPipeline.canonicalBars(spark, dir)
      .select($"symbol", $"timestamp".as("bar_ts"), $"close".as("bar_close"))
    asofJoin(events, bars, "symbol", "ts", "bar_ts")
      .groupBy($"symbol", $"bar_ts")
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value"), 4).as("sum_value"),
        round(max($"bar_close"), 4).as("bar_close"))
      .orderBy($"symbol", $"bar_ts")
  }

  def asofOracleSql: String =
    s"""WITH ev AS (
       |  SELECT event_type AS symbol, CAST(ts AS TIMESTAMP) AS ts, value
       |  FROM events WHERE event_type IS NOT NULL),
       |b AS (
       |  SELECT event_type AS symbol,
       |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS bar_ts,
       |    max_by(value, ts) AS bar_close
       |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2)
       |SELECT e.symbol, b.bar_ts, count(*) AS n_events,
       |  round(sum(e.value), 4) AS sum_value,
       |  round(max(b.bar_close), 4) AS bar_close
       |FROM ev e ASOF JOIN b
       |  ON e.symbol = b.symbol AND e.ts >= b.bar_ts
       |GROUP BY e.symbol, b.bar_ts
       |ORDER BY e.symbol, b.bar_ts""".stripMargin

  /** Per-symbol session windows with a 1-hour inactivity gap, via
    * Spark's native session_window. */
  def sessionWindows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .filter($"event_type".isNotNull)
      .select($"event_type".as("symbol"), $"ts", $"value")
      .groupBy($"symbol", session_window($"ts", "1 hour"))
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value"), 4).as("sum_value"),
        min($"ts").as("session_start"),
        max($"ts").as("session_last"))
      .select($"symbol", $"session_start", $"session_last",
        $"n_events", $"sum_value")
      .orderBy($"symbol", $"session_start")
  }

  /** Time-series similarity between symbols: Pearson correlation of
    * their daily-close series (aligned on the bar timestamp) — the
    * bar-series flavor of similarity search (cf. the time-series
    * similarity papers in PAPERS.md).  One equi-join on the timestamp
    * plus a tiny grouped corr aggregate; trivially scalable. */
  /** Range join: events matched to every daily bar within ±2 days —
    * the interval-predicate join Spark has no native operator for.  A
    * naive `|e.ts − b.t| ≤ 2d` condition plans as a nested-loop/cross
    * join; the engine instead BINS both sides to days and equi-joins on
    * (symbol, candidate day) — each event explodes to its 5 candidate
    * bins, the join is a plain shuffled/broadcast hash join, and the
    * exact microsecond predicate filters inside the join stage
    * (plan-shape-tested: no BroadcastNestedLoopJoin).  That is the
    * standard binned range-join at any scale: work ∝ rows × bins, not
    * rows².  The oracle runs the naive inequality join — a different
    * plan that must produce identical rows. */
  val RangeJoinDays = 2

  def rangeJoinEventBars(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rangeUs = RangeJoinDays * 86400L * 1000000L
    val events = Tables.events(spark, dir)
      .filter($"event_type".isNotNull)
      .select($"event_type".as("symbol"), $"ts", $"value")
    val bars = BarPipeline.canonicalBars(spark, dir)
      .select($"symbol".as("b_symbol"), $"timestamp".as("bar_ts"))
    events
      .withColumn("d", date_trunc("day", $"ts"))
      .withColumn("off", explode(expr(
        s"sequence(${-RangeJoinDays}, $RangeJoinDays)")))
      .withColumn("cand_day", expr("timestampadd(DAY, off, d)"))
      .join(bars, $"symbol" === $"b_symbol" && $"cand_day" === $"bar_ts")
      .filter(abs(unix_micros($"ts") - unix_micros($"bar_ts")) <= rangeUs)
      .groupBy($"symbol", $"bar_ts")
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value"), 4).as("sum_value"))
      .orderBy($"symbol", $"bar_ts")
  }

  def rangeJoinOracleSql: String =
    s"""WITH ev AS (
       |  SELECT event_type AS symbol, CAST(ts AS TIMESTAMP) AS ts, value
       |  FROM events WHERE event_type IS NOT NULL),
       |b AS (
       |  SELECT event_type AS symbol,
       |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS t
       |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2)
       |SELECT ev.symbol, b.t AS bar_ts, count(*) AS n_events,
       |  round(sum(ev.value), 4) AS sum_value
       |FROM ev JOIN b ON ev.symbol = b.symbol
       |  AND abs(epoch_us(ev.ts) - epoch_us(b.t))
       |      <= ${RangeJoinDays * 86400L * 1000000L}
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  def tsCorrelation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bars = BarPipeline.canonicalBars(spark, dir)
      .select($"symbol", $"timestamp", $"close")
    bars.as("a")
      .join(bars.as("b"),
        $"a.timestamp" === $"b.timestamp" && $"a.symbol" < $"b.symbol")
      .groupBy($"a.symbol".as("symbol_a"), $"b.symbol".as("symbol_b"))
      .agg(count(lit(1)).as("n_days"),
        round(corr($"a.close", $"b.close"), 4).as("close_corr"))
      .orderBy($"symbol_a", $"symbol_b")
  }

  def tsCorrelationOracleSql: String =
    s"""WITH b AS (
       |  SELECT event_type AS symbol,
       |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS t,
       |    max_by(value, ts) AS close
       |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2)
       |SELECT a.symbol AS symbol_a, bb.symbol AS symbol_b,
       |  count(*) AS n_days,
       |  round(corr(a.close, bb.close), 4) AS close_corr
       |FROM b a JOIN b bb ON a.t = bb.t AND a.symbol < bb.symbol
       |GROUP BY 1, 2 ORDER BY symbol_a, symbol_b""".stripMargin

  /** Trailing z-score anomaly detection over per-(event_type, day)
    * arrival counts — the monitoring query an ingest pipeline runs on
    * its own event volumes: a day whose count sits more than 2σ from
    * its trailing-14-observation mean is flagged (at least 7 prior
    * observations required before scoring).  Variance comes from
    * explicit window sums (Σn, Σn²) instead of `stddev_samp`, so the
    * engine and the oracle accumulate in the identical order: the
    * integer window sums are exact, and the double arithmetic is the
    * same expression on both sides — no dependence on either engine's
    * internal variance algorithm (Welford vs two-pass).
    *
    * Scale: one map-side-combining aggregate collapses raw events to
    * the (type, day) series before the window; the window partitions
    * by event_type over ~days rows — per-key state is the day series,
    * never raw events.  The same SQL string runs on both engines. */
  val anomalySql: String =
    """WITH d AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
      |w AS (
      |  SELECT event_type, day, n,
      |    CAST(sum(n) OVER tw AS BIGINT) AS s1,
      |    CAST(sum(n * n) OVER tw AS BIGINT) AS s2,
      |    count(*) OVER tw AS c
      |  FROM d
      |  WINDOW tw AS (PARTITION BY event_type ORDER BY day
      |                ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)),
      |z AS (
      |  SELECT event_type, day, n, c,
      |    CAST(s1 AS DOUBLE) / c AS mu,
      |    (CAST(s2 AS DOUBLE)
      |      - c * (CAST(s1 AS DOUBLE) / c) * (CAST(s1 AS DOUBLE) / c))
      |      / (c - 1) AS var
      |  FROM w WHERE c >= 7)
      |SELECT event_type, day, n, round(mu, 6) AS expected_n,
      |  round((n - mu) / sqrt(var), 6) AS z_score
      |FROM z
      |WHERE var > 0 AND abs((n - mu) / sqrt(var)) > 2
      |ORDER BY event_type, day""".stripMargin

  def anomaly(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.events(spark, dir).createOrReplaceTempView("events")
    spark.sql(anomalySql)
  }

  def sessionOracleSql: String =
    s"""WITH e AS (
       |  SELECT event_type AS symbol, CAST(ts AS TIMESTAMP) AS ts, value
       |  FROM events WHERE event_type IS NOT NULL),
       |l AS (
       |  SELECT symbol, ts, value,
       |    CASE WHEN lag(ts) OVER (PARTITION BY symbol ORDER BY ts) IS NULL
       |           OR ts - lag(ts) OVER (PARTITION BY symbol ORDER BY ts)
       |              >= INTERVAL 1 HOUR
       |         THEN 1 ELSE 0 END AS brk
       |  FROM e),
       |s AS (
       |  SELECT symbol, ts, value,
       |    sum(brk) OVER (PARTITION BY symbol ORDER BY ts
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM l)
       |SELECT symbol, min(ts) AS session_start, max(ts) AS session_last,
       |  count(*) AS n_events, round(sum(value), 4) AS sum_value
       |FROM s GROUP BY symbol, sid
       |ORDER BY symbol, session_start""".stripMargin
}
