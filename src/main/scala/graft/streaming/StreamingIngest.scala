package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.ingest.{BarPipeline, BarStore, Canonicalize, Quarantine}
import graft.model.Timeframes

/** The E1 dataflow under Structured Streaming (SURVEY.md §2.7 T1-T6).
  *
  * Source: file stream of tick/event parquet (stands in for the remote
  * bar feed; a production connector would be a DataSource V2 table).
  * Transform: watermarked tumbling-window OHLCV aggregation (T5) →
  * canonicalize.  Sink: `foreachBatch` keyed idempotent upsert into the
  * partitioned bar store (T3) — the same BarStore as batch mode, so
  * streaming and batch ingests are interchangeable and re-runs are
  * no-ops.  Trigger: `AvailableNow` reproduces one run of the
  * reference's scheduled cadence (cron fires a run that drains what's
  * available); its interval and cron modes are `graft.Serve.runLoop`
  * firing such runs.
  *
  * Scale: state is bounded by the watermark (T4 — the reference's
  * 30-day trailing refetch window); the windowed agg shuffles once on
  * (symbol, window) with partial aggregation map-side.
  */
object StreamingIngest {

  /** Name of the bar query's observed metric: one long, `bars`, the
    * rows a micro-batch lands in the store (`RunStatusListener` reads
    * it as `bars_in_last_batch`). */
  val LandedBarsMetric = "landed_bars"

  /** Raw event-file schema (ts as raw nanos Long — see Tables.events). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-stream source over a directory of event parquet files.
    *
    * Like `Tables.events`, adapts to the `ts` physical type the files
    * actually store (raw nanos Long under the legacy conf, or
    * TIMESTAMP_NTZ micros from newer fixture generations): a file
    * stream needs its schema up front, so probe the directory once
    * with a static read — one footer read at stream build time, not
    * per micro-batch.  Either way downstream sees `ts: TimestampType`
    * at micros precision, identical to the batch loader.
    *
    * A stream started on an EMPTY directory has nothing to probe, and
    * a file stream cannot change schema after start, so it falls back
    * to the nanos-Long raw schema (the standing fixture generation).
    * Every `Serve.runOnce` starts a new stream and so probes again: a
    * run that finds NTZ-micros files is read as such. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    // Same fail-fast guard as Tables.events: on a session not built via
    // GraftSession/Verify a nanos-format stream would otherwise die at
    // start with an opaque Spark nanos-timestamp error.
    require(
      spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true",
      "session must set spark.sql.legacy.parquet.nanosAsLong=true " +
        "(GraftSession.build does) - events*.parquet may be TIMESTAMP(NANOS)")
    val schema =
      try spark.read.option("pathGlobFilter", "events*.parquet")
        .parquet(dir).schema
      catch { case _: Exception => eventSchema } // empty dir: starts before files
    val raw = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events*.parquet")
      .option("maxFilesPerTrigger", "4") // bounded micro-batches at scale
      .parquet(dir)
    schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** T5 under streaming: watermarked tumbling OHLCV bars.
    * Watermark = the reference's 30-day late-data horizon (T4).
    *
    * The bucket is calendar `date_trunc`, NOT `window(ts, duration)`:
    * fixed-length epoch-aligned windows diverge from the batch path for
    * Week (epoch weeks start Thursday) and Month (no fixed length), and
    * batch↔streaming interchangeability through the shared BarStore
    * requires identical bar timestamps/bar_keys.  `date_trunc` is
    * deterministic per-row, so the watermark moves to the *bucket*
    * column — grouping on the watermarked column keeps state eviction
    * (one state row per symbol × bucket, evicted once the watermark
    * passes the bucket start + the late horizon).
    *
    * The eviction delay is the horizon PLUS one bucket length
    * (`Timeframes.bucketMinutes`): truncation moves an event's time
    * back by up to a bucket, so without the slack a previous-Month
    * bucket could close the moment the new month starts — any event
    * the ts-based horizon would accept (ts ≥ max(ts) − horizon) is
    * then still accepted, because bucket(ts) ≥ ts − bucketLen. */
  def streamingBars(events: DataFrame, timeframe: String = "Day"): DataFrame = {
    val delayMinutes = 30L * 1440L + Timeframes.bucketMinutes(timeframe)
    BarPipeline.ohlcv(BarPipeline.bucketedTicks(events, timeframe)
      .withWatermark("bucket", s"$delayMinutes minutes"))
  }

  /** Full streaming ingest: source → bars → canonicalize → upsert →
    * per-asset summary events (S5).  Update mode + keyed upsert sink =
    * exactly-once-per-key semantics via deterministic bar keys (the
    * reference's merge=True story).  When `eventsDir` is set, each
    * successful micro-batch appends one JSON summary message per asset
    * (`{event_type, payload{...}}`, the reference's Pub/Sub publish
    * after a successful write, `app/alpaca_service.py:237-258`) —
    * emitted AFTER the store merge, preserving the reference's
    * write-then-publish ordering.
    *
    * T7 under streaming: when `quarantineDir` is set, a second
    * streaming query routes raw events that violate
    * `Quarantine.eventRules()` — the SAME rule set as the batch
    * `ingest_quarantine` operator — to `quarantineDir`/events as
    * parquet rows carrying their `reject_reasons`, so a malformed
    * event is isolated without failing (or even touching) the bar
    * batch.  All three quarantine outputs and the summary feed are
    * `SinkRetention.appendDated` sinks (capture-date partitioned, no
    * file-sink manifest).  It is a separate query because the
    * rejects must be captured at raw-event granularity, BEFORE the
    * stateful window aggregation that the main query's foreachBatch
    * sees; both drain under the same trigger, and callers await both.
    * Inside foreachBatch, aggregated rows that `Canonicalize` would
    * silently drop (null bucket) are likewise quarantined to
    * `quarantineDir`/bars instead of vanishing — these are per-micro-
    * batch SNAPSHOTS of the (update-mode) aggregate row, stamped with
    * `batch_id` so a retried batch is distinguishable and a consumer
    * tallies one row per key at the max batch_id (the raw-event
    * capture in `quarantineDir`/events remains the authoritative
    * malformed-event record).  A canonicalize reject of the WHOLE
    * batch (missing timestamp column — a structurally different
    * schema) goes to `quarantineDir`/bars_structural rather than
    * throwing, so one malformed batch can never kill the query.
    *
    * The timeframe label is resolved once here (`Timeframes.resolve`,
    * F8): the bars' buckets, watermark and `bar_key`/`timeframe`
    * columns all follow the resolved label, as in the batch path.
    *
    * Both queries run under `Trigger.AvailableNow`: a call drains what
    * the source holds and stops, so callers await termination.  Serve's
    * scheduler fires one call per run.
    *
    * Both queries start from one `readEvents` stream (one schema probe
    * per call); each still gets its own source and checkpoint.
    *
    * The bar query observes `LandedBarsMetric`: its batch's rows with a
    * non-null bucket, the rows canonicalize keeps and the store merge
    * lands.  It reaches the listener in the batch's progress
    * (`observedMetrics`), counted once because the batch is persisted.
    *
    * One evaluation per micro-batch: the `foreachBatch` body uses its
    * batch several times (emptiness checks, the store merge's read and
    * write, the summary publish), and every use of an unpersisted batch
    * re-runs the stateful aggregation, state restore and save included,
    * with Spark summing the operator's metrics over the re-runs.  So
    * the body persists the batch, answers both emptiness checks with
    * one `count_if` aggregate and unpersists at the end: the stateful
    * stage runs once and the progress record reports true per-batch
    * state metrics.
    *
    * No eviction-only micro-batch: the bar query starts with
    * `spark.sql.streaming.noDataMicroBatches.enabled=false` (set for
    * its `start()` only; the quarantine query and other streaming
    * queries keep Spark's default).  Otherwise each `AvailableNow` drain
    * ends with a batch that reads nothing and exists only because the
    * watermark moved: it restores and commits the whole state store,
    * and in update mode it emits no row.  Without it, the keys the
    * moved watermark passes are evicted by the next data batch, which
    * runs under the watermark the skipped batch would have used; live
    * state stays bounded by the horizon plus one run.
    *
    * Returns the main query AND the quarantine query (when
    * `quarantineDir` is set) so callers can await/stop/observe both —
    * a dropped handle would leak a running stream whose failure
    * nobody can see. */
  def start(spark: SparkSession, srcDir: String, storeDir: String,
      checkpointDir: String, timeframe: String = "Day",
      eventsDir: Option[String] = None,
      quarantineDir: Option[String] = None,
      eventSink: Option[graft.ingest.EventSink] = None)
      : (StreamingQuery, Option[StreamingQuery]) = {
    // eventsDir is the default-sink shorthand; both forms publish
    // through the same EventSink seam (S5) after the store write
    val sinks: Seq[graft.ingest.EventSink] =
      eventsDir.map(new graft.ingest.EventSink.DatedFileSink(_)).toSeq ++
        eventSink
    val tf = Timeframes.resolve(timeframe)
    val events = readEvents(spark, srcDir)
    val quarantineQuery = quarantineDir.map { qd =>
      val (_, rejects) = Quarantine.split(events, Quarantine.eventRules())
      // foreachBatch append (not the streaming file sink): the sink is
      // then a plain dated parquet dir with no _spark_metadata log, so
      // a reader lists its files directly.  At-least-once; batch_id
      // enables dedup.
      rejects.writeStream
        .option("checkpointLocation", s"$checkpointDir/_quarantine")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          graft.ingest.SinkRetention.appendDated(
            batch.withColumn("batch_id", lit(batchId)), s"$qd/events")
        }
        .start()
    }
    val bars = streamingBars(events, tf)
      .observe(LandedBarsMetric, count_if(col("t").isNotNull).as("bars"))
    val barWriter = bars.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try Canonicalize.canonicalize(batch, tf) match {
          case Some(canonical) =>
            // canonicalize keeps exactly the rows with a non-null bucket
            val counts = batch
              .agg(count_if(col("t").isNull), count_if(col("t").isNotNull))
              .head()
            val (nullBucket, keyed) = (counts.getLong(0), counts.getLong(1))
            if (nullBucket > 0) quarantineDir.foreach { qd =>
              graft.ingest.SinkRetention.appendDated(
                batch.filter(col("t").isNull)
                  .withColumn("reject_reason", lit("null_bucket"))
                  .withColumn("batch_id", lit(batchId)), s"$qd/bars")
            }
            if (keyed > 0) {
              BarStore.merge(canonical, storeDir)
              if (sinks.nonEmpty) {
                val summaryEvents = BarPipeline.summaryEventJson(
                  BarPipeline.ingestSummaries(canonical))
                sinks.foreach(_.publish(summaryEvents, batchId))
              }
            }
          case None => // structural reject: isolate, never throw (T7)
            quarantineDir.foreach { qd =>
              graft.ingest.SinkRetention.appendDated(
                batch.withColumn("reject_reason", lit("missing_timestamp"))
                  .withColumn("batch_id", lit(batchId)),
                s"$qd/bars_structural")
            }
        } finally batch.unpersist()
      }
    // the query's session is cloned at start, so the setting binds this
    // query alone; it is not pinned in the offset log either
    val barQuery = graft.GraftSession.withConf(spark,
      "spark.sql.streaming.noDataMicroBatches.enabled", "false") {
      barWriter.start()
    }
    barQuery -> quarantineQuery
  }
}
