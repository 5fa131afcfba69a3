package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

class RunStatusListenerSpec extends SparkSuite {

  test("listener folds progress into the 1-row health projection") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val listener = new RunStatusListener
    spark.streams.addListener(listener)
    val input = MemoryStream[Int]
    val q = input.toDS().writeStream
      .format("memory").queryName("rsl_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(1, 2, 3)
      q.processAllAvailable()
      // listener events are delivered asynchronously
      val deadline = System.currentTimeMillis() + 20000
      while (listener.snapshot.batchesCompleted < 1 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      val s = listener.snapshot
      assert(s.batchesCompleted >= 1)
      assert(s.lastSuccessTimestampUtc.isDefined)
      assert(s.errorMessage.isEmpty)
      val row = listener.statusDf(spark).collect().head
      assert(row.getAs[Long]("batches_completed") >= 1L)
      assert(row.getAs[String]("error_message") == null)
      // P4 anti-projection: no heavy payload columns in the projection
      assert(!listener.statusDf(spark).columns.contains("bars"))
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("state metrics surface per-operator state sizes after a multi-batch run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val listener = new RunStatusListener
    spark.streams.addListener(listener)
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 09:30:00")
    def t(d: Int) = new java.sql.Timestamp(t0.getTime + d * 86400L * 1000L)
    // the ingest's bar aggregation: one state row per (symbol, day),
    // started without no-data batches like StreamingIngest.start's
    val writer = StreamingIngest.streamingBars(
        input.toDS().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("rsl_state_sink")
      .outputMode(OutputMode.Update())
    val q = graft.GraftSession.withConf(spark,
      "spark.sql.streaming.noDataMicroBatches.enabled", "false")(writer.start())
    try {
      input.addData((t(0), "AAA", 1.0), (t(0), "BBB", 2.0), (t(0), "AAA", 3.0))
      q.processAllAvailable()
      input.addData((t(1), "AAA", 4.0))
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 20000
      while (listener.snapshot.batchesCompleted < 2 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      val metrics = listener.stateMetricsDf(spark).collect()
      assert(metrics.length == 1, "the bar aggregation is one stateful operator")
      val m = metrics.head
      // AAA and BBB on day 0, AAA on day 1; the 30-day horizon evicts none
      assert(m.getAs[Long]("state_rows") == 3L, m)
      // the second batch touched only (AAA, day 1)
      assert(m.getAs[Long]("rows_updated") == 1L, m)
      assert(m.getAs[Long]("rows_removed") == 0L, m)
      assert(m.getAs[Long]("memory_used_bytes") >= 0L)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("state metrics are kept per query, in either delivery order") {
    import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
    import org.apache.spark.sql.streaming.ProgressEvents.{progress, stateOperator}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import RunStatusListener.StateMetric
    // the ingest's two queries read the same 2379 tick rows; the bar
    // query holds the aggregation's state and observes the bars it
    // lands, the quarantine query holds and observes neither
    val bar = java.util.UUID.randomUUID()
    val quarantine = java.util.UUID.randomUUID()
    def barBatch(batchId: Long, rows: Long, landed: Long) = progress(bar,
      batchId, s"2024-01-0${batchId + 1}T00:00:00.000Z", 2379L,
      Seq(stateOperator("stateStoreSave", rows, rowsUpdated = 40L,
        rowsRemoved = 3L, memoryBytes = 4096L)),
      Map(StreamingIngest.LandedBarsMetric -> new GenericRowWithSchema(
        Array[Any](landed), StructType(Seq(StructField("bars", LongType))))))
    def quarantineBatch(batchId: Long) = progress(quarantine, batchId,
      s"2024-01-0${batchId + 1}T00:00:01.000Z", 2379L, Seq.empty)
    def barMetric(rows: Long) =
      Seq(StateMetric("stateStoreSave", rows, 40L, 3L, 4096L))

    // (order, events, the bar query's state rows and bars_in_last_batch
    // after each event)
    val orders = Seq(
      ("bar query first", Seq(barBatch(0, 120L, 40L), quarantineBatch(0),
        barBatch(1, 160L, 7L), quarantineBatch(1)),
        Seq(Some(120L) -> 40L, Some(120L) -> 40L, Some(160L) -> 7L,
          Some(160L) -> 7L)),
      ("quarantine query first", Seq(quarantineBatch(0),
        barBatch(0, 120L, 40L), quarantineBatch(1), barBatch(1, 160L, 7L)),
        Seq(None -> 0L, Some(120L) -> 40L, Some(120L) -> 40L,
          Some(160L) -> 7L)))
    orders.foreach { case (order, events, expected) =>
      val listener = new RunStatusListener
      events.zip(expected).zipWithIndex.foreach { case ((e, (rows, bars)), i) =>
        listener.onQueryProgress(e)
        val s = listener.snapshot
        assert(s.batchesCompleted == i + 1, order)
        assert(s.stateOperators == rows.toSeq.flatMap(barMetric),
          s"$order, event $i")
        assert(s.barsInLastBatch == bars, s"$order, event $i")
      }
    }

    // two stateful queries: the union, in first-report order, each query's
    // later progress replacing only its own entry
    val listener = new RunStatusListener
    val other = java.util.UUID.randomUUID()
    listener.onQueryProgress(barBatch(0, 120L, 40L))
    listener.onQueryProgress(progress(other, 0L, "2024-01-01T00:00:02.000Z",
      5L, Seq(stateOperator("dedupeWithinWatermark", 5L))))
    listener.onQueryProgress(barBatch(1, 160L, 7L))
    assert(listener.snapshot.stateOperators ==
      barMetric(160L) :+ StateMetric("dedupeWithinWatermark", 5L, 0L, 0L, 0L))
  }

  test("in-memory status JSON is byte-identical to the DataFrame views' toJSON") {
    import RunStatusListener.{Snapshot, StateMetric}
    val empty = Snapshot(None, None, 0L, 0L, None)
    // every escape class Jackson distinguishes: quote, backslash, the
    // short control escapes, a \u escape, and non-ASCII kept as is
    val full = Snapshot(Some("2024-01-02T03:04:05.678Z"),
      Some("2024-01-02T03:04:05.999Z"), 7L, 1234L,
      Some("bad \"quote\" \\ path\nline\ttab \u0001 caf\u00e9 \u6570\u636e"),
      Seq(StateMetric("stateStoreSave", 150L, 3L, 2L, 40960L),
        StateMetric("dedupeWithinWatermark", 0L, 0L, 0L, 0L)))
    Seq(empty, full).foreach { s =>
      val viaSpark = RunStatusListener.statusDf(spark, s).toJSON.collect()
      assert(viaSpark.length == 1)
      assert(RunStatusListener.statusJson(s) == viaSpark.head)
      assert(RunStatusListener.stateMetricsJson(s) ==
        RunStatusListener.stateMetricsDf(spark, s).toJSON.collect().toSeq)
    }
    // null fields are omitted, as Spark's toJSON omits them
    assert(!RunStatusListener.statusJson(empty).contains("error_message"))
    assert(RunStatusListener.stateMetricsJson(full).length == 2)
  }
}
