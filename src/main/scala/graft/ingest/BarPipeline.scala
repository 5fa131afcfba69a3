package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.model.Timeframes

/** The reference's E1 dataflow re-expressed as declarative Spark batch
  * operators over the `events` fixture stream (SURVEY.md §3 E1):
  * catalog scan → per-symbol tick scan → tumbling-window bar
  * construction (T5) → canonicalize → keyed dedup (T3) → summary agg
  * (A1) → run status (A2/A4).
  *
  * `events` stands in for the remote tick/bar source: `event_type` is
  * the symbol, `value` the trade price, one event one tick.
  *
  * Scale design: bar construction is a single map-side-combinable
  * groupBy on (symbol, bucket) — at 100 TB this is one shuffle keyed by
  * a low-cardinality symbol × time bucket; skewed symbols are handled
  * by AQE skew-split since the agg is algebraic (min_by/max_by/min/max/
  * count all have partial merge).
  */
object BarPipeline {

  /** S2+P5+P8: asset catalog derived from the observed symbols.
    * (Reference scans Firestore `assets`; here the catalog is the
    * distinct symbol set with the provider tag defaulted, and
    * null-symbol rows filtered with a logged skip.) */
  def assetCatalog(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select($"event_type".as("symbol"))
      .filter($"symbol".isNotNull) // P5
      .distinct()
      .select(
        concat(lit("alpaca_"), $"symbol").as("asset_doc_id"),
        lit("alpaca").as("provider_doc_id"), // P8 provider predicate value
        $"symbol")
  }

  /** P8: provider equality predicate over the catalog — the
    * reference's commented-out `where("provider_doc_id","==","alpaca")`
    * (`app/alpaca_service.py:85`) implemented as a real option. */
  def filterByProvider(catalog: DataFrame, provider: String): DataFrame =
    catalog.filter(col("provider_doc_id") === provider)

  /** T5: tumbling-window OHLCV bar construction from ticks. */
  def barsFromTicks(events: DataFrame, timeframe: String = "Day"): DataFrame =
    ohlcv(bucketedTicks(events, timeframe))

  /** P5: the ticks that carry a symbol, each with its `bucket`: the
    * label's `date_trunc` unit (`Timeframes`) of its `ts`. */
  def bucketedTicks(events: DataFrame, timeframe: String): DataFrame =
    events
      .filter(col("event_type").isNotNull) // P5
      .withColumn("bucket", date_trunc(Timeframes.unit(timeframe), col("ts")))

  /** The OHLCV aggregate of both bar paths: one (symbol, t, o, h, l, c,
    * v) row per symbol and `bucket` of `bucketedTicks`.  open/close are
    * min_by/max_by on the event timestamp — true time-ordered
    * first/last, not positional (SURVEY §2.4 A1 note).  Deterministic
    * because (symbol, ts) is unique in the fixtures. */
  def ohlcv(bucketed: DataFrame): DataFrame =
    bucketed
      // grouped on `bucket` itself: a watermark on it keys the
      // streaming state, and checkpoints record the key as (symbol, bucket)
      .groupBy(col("event_type").as("symbol"), col("bucket"))
      .agg(
        min_by(col("value"), col("ts")).as("o"),
        max(col("value")).as("h"),
        min(col("value")).as("l"),
        max_by(col("value"), col("ts")).as("c"),
        count(lit(1)).as("v"))
      .withColumnRenamed("bucket", "t")

  /** Raw bars → canonical schema (never None here: `t` is present),
    * under the resolved timeframe label (F8). */
  def canonicalBars(spark: SparkSession, dir: String,
      timeframe: String = "Day"): DataFrame = {
    val tf = Timeframes.resolve(timeframe)
    Canonicalize.canonicalize(
      barsFromTicks(Tables.events(spark, dir), tf), tf).get
  }

  /** T3: the overlapping-refetch + idempotent-upsert dedup semantics.
    * Two overlapping trailing windows are re-fetched and unioned; the
    * deterministic key makes the union collapse under dropDuplicates —
    * re-running an ingest is a no-op.  At scale this is sink-side
    * MERGE; here the dedup itself is the observable operator. */
  def overlappingIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val w1 = ev.filter($"ts" < to_timestamp(lit("2024-01-21")))
    val w2 = ev.filter($"ts" >= to_timestamp(lit("2024-01-11")))
    val bars1 = Canonicalize.canonicalize(barsFromTicks(w1), "Day").get
    val bars2 = Canonicalize.canonicalize(barsFromTicks(w2), "Day").get
    // Overlap days straddling the window edges differ (partial buckets)
    // — last-write-wins like the reference's merge=True re-upsert: keep
    // the w2 (newer fetch) version of a duplicated key.
    bars1.withColumn("fetch_seq", lit(1))
      .unionByName(bars2.withColumn("fetch_seq", lit(2)))
      .groupBy($"symbol", $"bar_key")
      .agg(
        max_by(struct($"timestamp", $"timeframe", $"open", $"high",
          $"low", $"close", $"volume"), $"fetch_seq").as("bar"))
      .select($"symbol", $"bar_key", $"bar.timestamp".as("timestamp"),
        $"bar.timeframe".as("timeframe"), $"bar.open".as("open"),
        $"bar.high".as("high"), $"bar.low".as("low"),
        $"bar.close".as("close"), $"bar.volume".as("volume"))
  }

  /** A1+F2: per-asset ingest summary — true min/max of the batch window
    * as ISO strings plus the bar count (the Pub/Sub payload fields,
    * ref `app/alpaca_service.py:246-248`). */
  def ingestSummaries(bars: DataFrame): DataFrame =
    bars.groupBy(col("symbol").as("asset_symbol"), col("timeframe"))
      .agg(
        date_format(min(col("timestamp")), "yyyy-MM-dd'T'HH:mm:ss'Z'")
          .as("start_timestamp_utc"),
        date_format(max(col("timestamp")), "yyyy-MM-dd'T'HH:mm:ss'Z'")
          .as("end_timestamp_utc"),
        count(lit(1)).as("bars_count"))

  /** S5/F6: summary rows → JSON event messages (tested in ScalaTest;
    * JSON string formatting is engine-specific so not oracle-checked). */
  def summaryEventJson(summaries: DataFrame): DataFrame =
    summaries.select(
      lit("HistoricalDataUpdated").as("event_type"),
      to_json(struct(
        col("asset_symbol"), col("timeframe"),
        col("start_timestamp_utc"), col("end_timestamp_utc"),
        col("bars_count"))).as("message"))

  /** A2/A4: run-level status record over a completed batch. */
  def runStatus(bars: DataFrame): DataFrame =
    bars.agg(
      countDistinct(col("symbol")).as("assets_processed_count"),
      count(lit(1)).as("total_bars_saved_in_last_run"),
      // A4: OR-fold of per-asset failures; the declarative pipeline has
      // no partial failures (they quarantine upstream, T7) so this is
      // the no-error fold over saved rows.
      (sum(when(col("volume").isNull, 1L).otherwise(0L)) > 0)
        .as("run_had_errors"))
}
