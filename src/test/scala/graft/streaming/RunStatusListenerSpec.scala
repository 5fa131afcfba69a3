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
