package graft.streaming

import java.nio.file.Files
import graft.{SparkSuite, Tables}
import graft.ingest.{BarPipeline, BarStore, Canonicalize}
import org.apache.spark.sql.functions.{expr, timestamp_micros}

/** Streaming ≡ batch: the Structured Streaming ingest must land exactly
  * the rows the batch pipeline produces, and a checkpointed restart
  * must be a no-op (T1-T6). */
class StreamingIngestSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(tag: String) =
    Files.createTempDirectory(tag).toString

  private def nanos(s: String): java.lang.Long =
    java.sql.Timestamp.valueOf(s).getTime * 1000000L

  private type RawEvent =
    (Long, java.lang.Long, Long, String, Double, String)

  /** Land `rows` in `src` as one events parquet file named `name`, the
    * way a fetch drops a file for the next run to drain. */
  private def addEventFile(src: String, name: String,
      rows: Seq[RawEvent]): Unit = {
    val staged = tmp("stage")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(staged)
    val part = Files.list(java.nio.file.Paths.get(staged)).toArray
      .map(_.toString).filter(_.endsWith(".parquet")).head
    Files.copy(java.nio.file.Paths.get(part),
      java.nio.file.Paths.get(src, name))
  }

  test("streaming ingest lands the same canonical bars as batch") {
    val store = tmp("store") + "/bars"
    val ckpt = tmp("ckpt")
    val events = tmp("events") + "/summaries"
    val listener = new RunStatusListener
    spark.streams.addListener(listener)
    try {
      val (q, _) = StreamingIngest.start(spark, sf(), store, ckpt,
        eventsDir = Some(events))
      q.awaitTermination(120000)
      // S5: one summary event per asset per successful batch,
      // published after the store write
      val published = spark.read.json(events)
      assert(published.count() >= 5) // 5 symbols in the fixture
      assert(published.columns.toSet ==
        Set("event_type", "message", "batch_id", "sink_date"))
      assert(published.select("event_type").distinct().collect()
        .map(_.getString(0)).toSeq == Seq("HistoricalDataUpdated"))
      val streamed = BarStore.read(spark, store)
        .select("bar_key", "symbol", "timestamp", "timeframe",
          "open", "high", "low", "close", "volume")
        .collect().toSet
      val batch = BarPipeline.canonicalBars(spark, sf()).collect().toSet
      assert(streamed === batch)
      // one evaluation per micro-batch: the fixture spans 30 days, inside
      // the 31-day eviction horizon, so after each batch the
      // aggregation's live state is exactly one row per stored
      // (symbol, day).  Spark sums the state operator's metrics over
      // every re-run of the batch's plan, so a batch evaluated k times
      // would report k times this.
      val stateRows = q.recentProgress.toSeq
        .map(p => (p.batchId, p.stateOperators.head.numRowsTotal))
      assert(stateRows.nonEmpty &&
        stateRows.forall { case (_, rows) => rows == streamed.size },
        s"(batch, state rows) $stateRows for ${streamed.size} live keys")
      assert(listener.snapshot.batchesCompleted >= 1)
      assert(listener.snapshot.errorMessage.isEmpty)
      val status = listener.statusDf(spark).collect().head
      assert(status.getAs[Long]("batches_completed") >= 1L)
    } finally spark.streams.removeListener(listener)
  }

  test("checkpointed restart is a no-op (exactly-once via keyed sink)") {
    val store = tmp("store") + "/bars"
    val ckpt = tmp("ckpt")
    val (q1, _) = StreamingIngest.start(spark, sf(), store, ckpt)
    q1.awaitTermination(120000)
    val once = BarStore.read(spark, store).collect().toSet
    // same checkpoint: no new files → AvailableNow drains nothing
    val (q2, _) = StreamingIngest.start(spark, sf(), store, ckpt)
    q2.awaitTermination(120000)
    val twice = BarStore.read(spark, store).collect().toSet
    assert(once === twice)
    // fresh checkpoint (full re-fetch, T3): still identical content
    val (q3, _) = StreamingIngest.start(spark, sf(), store, tmp("ckpt2"))
    q3.awaitTermination(120000)
    val refetch = BarStore.read(spark, store).collect().toSet
    assert(once === refetch)
  }

  test("Week bars match batch (calendar buckets, not epoch windows)") {
    // Epoch-aligned window('1 week') starts weeks on Thursday;
    // date_trunc('week') starts them Monday.  The streaming path must
    // produce the batch path's bar timestamps or the shared BarStore
    // keys diverge.
    val store = tmp("store") + "/bars"
    val (q, _) = StreamingIngest.start(spark, sf(), store, tmp("ckpt"),
      timeframe = "Week")
    q.awaitTermination(120000)
    val streamed = BarStore.read(spark, store)
      .select("bar_key", "symbol", "timestamp", "timeframe",
        "open", "high", "low", "close", "volume")
      .collect().toSet
    val batch = BarPipeline.canonicalBars(spark, sf(), "Week").collect().toSet
    assert(streamed === batch)
  }

  test("Month bars match batch (bucket-length watermark slack)") {
    // Month is the worst case for the bucket-column watermark: without
    // the one-bucket slack the previous month's state could evict the
    // moment a new month starts, dropping late events the 30-day
    // ts-horizon would accept.
    val store = tmp("store") + "/bars"
    val (q, _) = StreamingIngest.start(spark, sf(), store, tmp("ckpt"),
      timeframe = "Month")
    q.awaitTermination(120000)
    val streamed = BarStore.read(spark, store)
      .select("bar_key", "symbol", "timestamp", "timeframe",
        "open", "high", "low", "close", "volume")
      .collect().toSet
    val batch = BarPipeline.canonicalBars(spark, sf(), "Month").collect().toSet
    assert(streamed === batch)
  }

  test("an unknown timeframe label lands Day bars labelled Day on both paths (F8)") {
    val store = tmp("store") + "/bars"
    val (q, _) = StreamingIngest.start(spark, sf(), store, tmp("ckpt"),
      timeframe = "Tick")
    q.awaitTermination(120000)
    assert(q.exception.isEmpty)
    val streamed = BarStore.read(spark, store)
      .select("bar_key", "symbol", "timestamp", "timeframe",
        "open", "high", "low", "close", "volume")
      .collect().toSet
    val day = BarPipeline.canonicalBars(spark, sf()).collect().toSet
    assert(BarPipeline.canonicalBars(spark, sf(), "Tick").collect().toSet === day)
    assert(streamed === day)
    assert(streamed.nonEmpty &&
      streamed.forall(_.getAs[String]("timeframe") == "Day"))
  }

  /** The WARN lines `Timeframes` logs while `body` runs. */
  private def timeframeWarnings(body: => Unit): List[String] = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    var seen = List.empty[String]
    val appender = new AbstractAppender("timeframe-warnings", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = synchronized {
        if (e.getLevel == Level.WARN) seen :+= e.getMessage.getFormattedMessage
      }
    }
    appender.start()
    val logger = LogManager.getLogger(graft.model.Timeframes.getClass)
      .asInstanceOf[Logger]
    logger.addAppender(appender)
    try body finally logger.removeAppender(appender)
    seen
  }

  test("an unknown timeframe label logs one WARN per bar entry point, a valid one none (F8)") {
    def warnings(label: String) = Seq(
      timeframeWarnings(BarPipeline.canonicalBars(spark, sf(), label)),
      timeframeWarnings {
        val (q, _) = StreamingIngest.start(spark, sf(), tmp("wstore") + "/bars",
          tmp("wckpt"), timeframe = label)
        q.awaitTermination(120000)
      })
    val tick = List("unknown timeframe label 'Tick': landing Day bars")
    assert(warnings("Tick") == Seq(tick, tick))
    assert(warnings("Day") == Seq(Nil, Nil))
  }

  test("malformed events land in quarantine without failing the batch (T7)") {
    val src = tmp("qsrc")
    val store = tmp("qstore") + "/bars"
    val qd = tmp("quarantine")
    // raw feed: 2 valid ticks, one value-range violation (aggregates
    // into bars like batch — the quarantine is the monitoring copy),
    // one null-ts and one null-symbol tick (both absent from bars)
    val rows = Seq(
      (1L, nanos("2024-01-01 10:00:00"), 7L, "AAA", 10.0, "{}"),
      (2L, nanos("2024-01-01 11:00:00"), 7L, "AAA", 999.0, "{}"),
      (3L, null.asInstanceOf[java.lang.Long], 7L, "AAA", 20.0, "{}"),
      (4L, nanos("2024-01-01 12:00:00"), 7L, null.asInstanceOf[String], 30.0, "{}"),
      (5L, nanos("2024-01-02 09:00:00"), 7L, "BBB", 50.0, "{}"))
    addEventFile(src, "events_custom.parquet", rows)

    val (q, qq) = StreamingIngest.start(spark, src, store, tmp("qckpt"),
      quarantineDir = Some(qd))
    q.awaitTermination(120000)
    assert(q.exception.isEmpty) // the malformed rows failed nothing
    // the quarantine query shares the trigger; drain it via its own
    // returned handle (no fishing in spark.streams.active)
    qq.foreach { s => s.awaitTermination(120000); assert(s.exception.isEmpty) }

    val rejected = spark.read.parquet(s"$qd/events")
    val byId = rejected.collect()
      .map(r => r.getAs[Long]("event_id") ->
        r.getAs[scala.collection.Seq[String]]("reject_reasons").toSet).toMap
    assert(byId.keySet == Set(2L, 3L, 4L))
    assert(byId(2L) == Set("value_range"))
    assert(byId(3L) == Set("null_ts"))
    assert(byId(4L) == Set("null_symbol"))

    // bars match the batch pipeline over the same raw feed: null-ts and
    // null-symbol ticks absent, the value outlier aggregated as batch does
    val rawBatch = spark.read.schema(StreamingIngest.eventSchema)
      .parquet(src)
      .withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
    val expected = Canonicalize
      .canonicalize(BarPipeline.barsFromTicks(rawBatch), "Day").get
      .collect().toSet
    val streamed = BarStore.read(spark, store)
      .select("bar_key", "symbol", "timestamp", "timeframe",
        "open", "high", "low", "close", "volume")
      .collect().toSet
    assert(streamed === expected)
    assert(streamed.exists(_.getAs[Double]("high") == 999.0))
  }

  test("no eviction-only batch: keys behind the watermark leave with the next data batch") {
    // three scheduled runs; the eviction horizon is 31 days (30-day
    // watermark plus one Day bucket of slack)
    val src = tmp("esrc")
    val store = tmp("estore") + "/bars"
    val ckpt = tmp("eckpt")
    def ticks(firstId: Long, days: Seq[String]): Seq[RawEvent] =
      days.zipWithIndex.flatMap { case (day, d) =>
        Seq("AAA", "BBB").zipWithIndex.flatMap { case (sym, k) =>
          Seq("09:30:00", "15:45:00").zipWithIndex.map { case (hms, h) =>
            (firstId + d * 4 + k * 2 + h, nanos(s"$day $hms"), 7L, sym,
              10.0 + d + k + h, "{}")
          }
        }
      }
    val runs = Seq(
      // run 1: 5 days x 2 symbols; the watermark moves to Jan 5 - 31 d
      ticks(0L, (1 to 5).map(d => f"2024-01-$d%02d")),
      // run 2: past the horizon; its batch still runs under run 1's
      // watermark, so nothing is evicted, and it moves the watermark to
      // Feb 20 - 31 d = Jan 20, past every run-1 key
      ticks(100L, Seq("2024-02-20")),
      // run 3: its batch runs under the Jan 20 watermark and evicts run 1
      ticks(200L, Seq("2024-02-21")))
    val progress = runs.zipWithIndex.map { case (rows, i) =>
      addEventFile(src, s"events_run$i.parquet", rows)
      val (q, _) = StreamingIngest.start(spark, src, store, ckpt)
      q.awaitTermination(120000)
      assert(q.exception.isEmpty)
      q.recentProgress.toSeq
    }
    val inputRows = progress.map(_.map(_.numInputRows))
    assert(inputRows.forall(r => r.nonEmpty && r.forall(_ > 0)),
      s"bar-query input rows per run: $inputRows")
    // (state rows, rows removed) after each run's last batch: 10 keys,
    // then 10 + 2, then run 1's 10 evicted, leaving runs 2 and 3's keys
    val state = progress.map { p =>
      val op = p.last.stateOperators.head
      (op.numRowsTotal, op.numRowsRemoved)
    }
    assert(state == Seq((10L, 0L), (12L, 0L), (4L, 10L)), s"state $state")
    // eviction only drops state: the store equals one run over all files
    val oneShot = tmp("eoneshot") + "/bars"
    val (q, _) = StreamingIngest.start(spark, src, oneShot, tmp("eckpt1"))
    q.awaitTermination(120000)
    val stored = BarStore.read(spark, store).collect().toSet
    assert(stored.size == 14)
    assert(stored === BarStore.read(spark, oneShot).collect().toSet)
  }

  test("merge preserves untouched keys in a touched partition") {
    val store = tmp("store") + "/bars"
    val all = BarPipeline.canonicalBars(spark, sf())
    BarStore.merge(all, store)
    // an update batch carrying a single symbol must not clobber the
    // other symbols sharing its date partitions
    val oneSymbol = all.filter($"symbol" === "click")
    BarStore.merge(oneSymbol, store)
    val after = BarStore.read(spark, store)
    assert(after.count() === all.count())
    assert(after.filter($"symbol" =!= "click").count() ===
      all.filter($"symbol" =!= "click").count())
  }
}
