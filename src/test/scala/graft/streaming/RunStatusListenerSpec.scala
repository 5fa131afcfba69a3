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
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(h: Int) = new java.sql.Timestamp(t0.getTime + h * 3600L * 1000L)
    val q = StreamingNearDedup.dedupDocs(
        input.toDS().toDF("doc_id", "ingest_ts", "text"))
      .writeStream.format("memory").queryName("rsl_state_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(Seq(
        (1L, t(0), "the quick brown fox jumps over the lazy dog today"),
        (2L, t(0), "pack my box with five dozen assorted liquor jugs")))
      q.processAllAvailable()
      input.addData(Seq(
        (3L, t(1), "sphinx of black quartz judge my vow said the king")))
      q.processAllAvailable()
      val deadline = System.currentTimeMillis() + 20000
      while (listener.snapshot.stateOperators.isEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      val metrics = listener.stateMetricsDf(spark).collect()
      assert(metrics.nonEmpty, "a stateful chain must report state operators")
      val byName = metrics.map(r =>
        r.getAs[String]("operator_name") -> r.getAs[Long]("state_rows")).toMap
      // the band-key registry: 3 docs x 8 bands = 24 live keys
      val dedupRows = byName.collect {
        case (name, rows) if name.contains("transformWithState") => rows
      }
      assert(dedupRows.nonEmpty, s"operators seen: ${byName.keySet}")
      assert(dedupRows.head == 24L,
        s"band-key count should be 3 docs x 8 bands, got $byName")
      // the windowed fresh-band aggregation holds state too
      assert(metrics.length >= 2)
      assert(metrics.forall(_.getAs[Long]("memory_used_bytes") >= 0L))
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("state metrics are kept per query, in either delivery order") {
    import org.apache.spark.sql.streaming.ProgressEvents.{progress, stateOperator}
    import RunStatusListener.StateMetric
    // the ingest's two queries: the bar query holds the aggregation's
    // state, the quarantine query holds none
    val bar = java.util.UUID.randomUUID()
    val quarantine = java.util.UUID.randomUUID()
    def barBatch(batchId: Long, rows: Long) = progress(bar, batchId,
      s"2024-01-0${batchId + 1}T00:00:00.000Z", 40L,
      Seq(stateOperator("stateStoreSave", rows, rowsUpdated = 40L,
        rowsRemoved = 3L, memoryBytes = 4096L)))
    def quarantineBatch(batchId: Long) = progress(quarantine, batchId,
      s"2024-01-0${batchId + 1}T00:00:01.000Z", 40L, Seq.empty)
    def barMetric(rows: Long) =
      Seq(StateMetric("stateStoreSave", rows, 40L, 3L, 4096L))

    // (order, events, the bar query's state rows after each event)
    val orders = Seq(
      ("bar query first", Seq(barBatch(0, 120L), quarantineBatch(0),
        barBatch(1, 160L), quarantineBatch(1)),
        Seq(Some(120L), Some(120L), Some(160L), Some(160L))),
      ("quarantine query first", Seq(quarantineBatch(0), barBatch(0, 120L),
        quarantineBatch(1), barBatch(1, 160L)),
        Seq(None, Some(120L), Some(120L), Some(160L))))
    orders.foreach { case (order, events, barRows) =>
      val listener = new RunStatusListener
      events.zip(barRows).zipWithIndex.foreach { case ((e, rows), i) =>
        listener.onQueryProgress(e)
        val s = listener.snapshot
        assert(s.batchesCompleted == i + 1, order)
        assert(s.stateOperators == rows.toSeq.flatMap(barMetric),
          s"$order, event $i")
      }
    }

    // two stateful queries: the union, in first-report order, each query's
    // later progress replacing only its own entry
    val listener = new RunStatusListener
    val other = java.util.UUID.randomUUID()
    listener.onQueryProgress(barBatch(0, 120L))
    listener.onQueryProgress(progress(other, 0L, "2024-01-01T00:00:02.000Z",
      5L, Seq(stateOperator("dedupeWithinWatermark", 5L))))
    listener.onQueryProgress(barBatch(1, 160L))
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
