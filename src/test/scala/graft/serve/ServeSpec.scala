package graft.serve

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import graft.{Serve, SparkSuite}
import graft.ingest.{BarPipeline, BarStore}
import graft.streaming.RunStatusListener

/** End-to-end serving loop (E2/E3): the HTTP status surface over a
  * live store must answer the reference's root health check and the
  * WS-connect snapshot push with exactly the store's contents, and the
  * scheduler loop must compute the reference's interval/cron delays. */
class ServeSpec extends SparkSuite {

  private def tmp(tag: String) = Files.createTempDirectory(tag).toString

  private def get(url: String): (Int, String) = {
    val client = java.net.http.HttpClient.newHttpClient()
    val resp = client.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("serving loop: ingest once, then GET /, /snapshot, /summaries") {
    val work = tmp("serve_work")
    val listener = new RunStatusListener
    spark.streams.addListener(listener)
    val server = new StatusServer(spark, s"$work/bars", listener)
    val port = server.start()
    try {
      // health surface is live BEFORE the first fetch (empty store)
      val (c0, b0) = get(s"http://127.0.0.1:$port/snapshot")
      assert(c0 == 200 && b0.contains("\"bars\":[]"))

      Serve.runOnce(spark, sf(), work)

      val (c1, root) = get(s"http://127.0.0.1:$port/")
      assert(c1 == 200)
      assert(root.contains(
        "\"message\":\"graft historical data service is running\""))
      // the health projection must NOT carry the bar payload, only
      // counters (ref app/main.py:113-120 deletes the bars list)
      assert(root.contains("\"latest_data_status\":{"))
      assert(root.contains("\"batches_completed\":"))
      assert(root.contains("\"bars_count\":") && !root.contains("\"bars\":["))

      val stored = BarStore.read(spark, s"$work/bars")
      val (c2, snap) = get(s"http://127.0.0.1:$port/snapshot")
      assert(c2 == 200)
      assert(snap.contains(s""""bars_count":${stored.count()}"""))
      assert(snap.contains("\"truncated\":false"))
      // snapshot rows ARE the store rows: every stored bar_key appears
      val keys = stored.select("bar_key").collect().map(_.getString(0))
      val missing = keys.filterNot(k => snap.contains(s""""bar_key":"$k""""))
      assert(missing.isEmpty, s"snapshot missing ${missing.take(3).toSeq}")

      val (c4, metrics) = get(s"http://127.0.0.1:$port/state_metrics")
      assert(c4 == 200 && metrics.startsWith("{\"state_operators\":["))

      val (c3, sums) = get(s"http://127.0.0.1:$port/summaries")
      assert(c3 == 200)
      val expected = BarPipeline.ingestSummaries(stored).collect()
      assert(expected.nonEmpty)
      expected.foreach { r =>
        assert(sums.contains(
          s""""asset_symbol":"${r.getAs[String]("asset_symbol")}""""))
        assert(sums.contains(s""""bars_count":${r.getAs[Long]("bars_count")}"""))
      }
    } finally {
      server.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("after a run, GET / reports the landed bars and status calls run no job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val work = tmp("serve_nojob")
    val listener = new RunStatusListener
    // listeners see each event in turn, so once both queries' terminations
    // (bars + quarantine) have arrived, every progress event has too
    val terminated = new java.util.concurrent.atomic.AtomicInteger
    val watcher = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        terminated.incrementAndGet()
    }
    spark.streams.addListener(listener)
    spark.streams.addListener(watcher)
    // job starts by job group; a marker job fences off earlier events
    val jobGroups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobGroups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    def await(what: String)(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(cond, s"timed out waiting for $what")
    }
    def marker(tag: String): Unit = {
      spark.sparkContext.setJobGroup(tag, tag)
      try spark.range(1).count() finally spark.sparkContext.clearJobGroup()
      await(s"marker job $tag")(jobGroups.contains(tag))
    }
    val server = new StatusServer(spark, s"$work/bars", listener)
    val port = server.start()
    try {
      Serve.runOnce(spark, sf(), work)
      await("both queries' termination events")(terminated.get() == 2)
      val (code, root) = get(s"http://127.0.0.1:$port/")
      assert(code == 200)
      val barsCount = "\"bars_count\":(\\d+)".r.findFirstMatchIn(root)
        .map(_.group(1).toLong)
      // the fixture's one events file drains in one bar batch, which
      // lands every stored bar: bars_count counts those bars, not the
      // events the batch read, and the quarantine query's progress
      // (which may arrive last) leaves it as is
      val landed = BarStore.read(spark, s"$work/bars").count()
      val read = graft.Tables.events(spark, sf()).count()
      assert(landed > 0 && landed < read)
      assert(barsCount.contains(landed), root)

      spark.sparkContext.addSparkListener(jobs)
      marker("before")
      (1 to 10).foreach { _ =>
        assert(get(s"http://127.0.0.1:$port/")._1 == 200)
        assert(get(s"http://127.0.0.1:$port/state_metrics")._1 == 200)
      }
      marker("after")
      val between = jobGroups.asScala.toSeq
        .dropWhile(_ != "before").dropWhile(_ == "before")
        .takeWhile(_ != "after")
      assert(between.isEmpty, s"status calls ran ${between.size} Spark jobs")
    } finally {
      server.stop()
      spark.sparkContext.removeSparkListener(jobs)
      spark.streams.removeListener(watcher)
      spark.streams.removeListener(listener)
    }
  }

  test("snapshot endpoint caps its payload and says so") {
    val work = tmp("serve_cap")
    Serve.runOnce(spark, sf(), work)
    val listener = new RunStatusListener
    val server = new StatusServer(spark, s"$work/bars", listener,
      snapshotLimit = 7)
    val port = server.start()
    try {
      val (code, snap) = get(s"http://127.0.0.1:$port/snapshot")
      assert(code == 200)
      assert(snap.contains("\"bars_count\":7"))
      assert(snap.contains("\"truncated\":true"))
    } finally server.stop()
  }

  test("/snapshot calls that overlap store merges all answer 200") {
    val store = tmp("serve_race") + "/bars"
    val bars = BarPipeline.canonicalBars(spark, sf()).localCheckpoint()
    val n = bars.count()
    BarStore.merge(bars, store)
    val server = new StatusServer(spark, store, new RunStatusListener)
    val port = server.start()
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      // each merge rewrites every date partition, the worst case for a
      // reader that lists the store while the overwrite replaces it
      val writer = Future((1 to 8).foreach(_ => BarStore.merge(bars, store)))
      val answers = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
      while (!writer.isCompleted)
        answers += get(s"http://127.0.0.1:$port/snapshot")
      Await.result(writer, 5.minutes)
      assert(answers.nonEmpty)
      val failed = answers.filter(_._1 != 200)
      assert(failed.length == 0, s"of ${answers.length} answers failed, " +
        s"the first with ${failed.headOption.map(_._2.take(200))}")
      // every answer saw the whole store, never a partial listing
      assert(answers.forall(_._2.contains(s""""bars_count":$n,""")))
    } finally server.stop()
  }

  test("SSE /events pushes the snapshot on connect, then on each batch") {
    val work = tmp("serve_sse")
    Serve.runOnce(spark, sf(), work)
    val listener = new RunStatusListener
    val server = new StatusServer(spark, s"$work/bars", listener,
      snapshotLimit = 5)
    val port = server.start()
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      // max_events=2: the handler closes the stream after the connect
      // push + one update, so ofString completes with the whole body
      val body = Future {
        val client = java.net.http.HttpClient.newHttpClient()
        client.send(
          java.net.http.HttpRequest.newBuilder(java.net.URI.create(
            s"http://127.0.0.1:$port/events?max_events=2&heartbeat_ms=200"))
            .build(),
          java.net.http.HttpResponse.BodyHandlers.ofString()).body()
      }
      // fire the change channel until the stream closes — at least one
      // bump is guaranteed to land after the handler captured its
      // baseline version, which is all the update push needs
      var got: Option[String] = None
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (got.isEmpty && System.nanoTime() < deadline) {
        listener.bumpForTest()
        try got = Some(Await.result(body, 300.millis))
        catch { case _: java.util.concurrent.TimeoutException => () }
      }
      val text = got.getOrElse(fail("SSE stream never completed"))
      // connect push: the full /snapshot payload, as an SSE event
      assert(text.contains("event: snapshot"), text.take(400))
      assert(text.contains("\"bars\":["), text.take(400))
      // the post-batch push arrived on the SAME connection — the
      // strictly-more-than-the-reference part (ref WS pushes once)
      assert(text.contains("event: update"), text.take(400))
      // event ids carry the status version (monotone, gap-detectable)
      val ids = "id: (\\d+)".r.findAllMatchIn(text)
        .map(_.group(1).toLong).toSeq
      assert(ids.size == 2 && ids(1) > ids(0), ids.toString)
    } finally server.stop()
  }

  test("scheduler loop: initial fetch + maxRuns re-runs with computed delays") {
    val work = tmp("serve_loop")
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    val listener = new RunStatusListener
    spark.streams.addListener(listener)
    try {
      Serve.runLoop(spark, sf(), work, Serve.Interval(7), maxRuns = 2,
        sleeper = delays += _)
      // interval trigger sleeps the fixed delay before each re-run
      assert(delays.toSeq == Seq(7000L, 7000L))
      // three AvailableNow drains against one checkpoint: first lands
      // everything, re-runs are incremental no-ops on a static source
      val stored = BarStore.read(spark, s"$work/bars")
      val batch = BarPipeline.canonicalBars(spark, sf())
        .select(stored.columns.filter(_ != "bar_date").map(
          org.apache.spark.sql.functions.col): _*)
      assert(stored.drop("bar_date").collect().toSet == batch.collect().toSet)
      assert(listener.snapshot.errorMessage.isEmpty)
    } finally spark.streams.removeListener(listener)
  }

  test("cron trigger computes the next UTC fire time") {
    import Serve.{Cron, nextDelayMs}
    val t0 = java.time.Instant.parse("2024-03-10T08:30:00Z").toEpochMilli
    // later today: 09:15 is 45 min away
    assert(nextDelayMs(Cron(9, 15), t0) == 45L * 60 * 1000)
    // already passed today: tomorrow 08:00 (23.5 h)
    assert(nextDelayMs(Cron(8, 0), t0) == (23L * 60 + 30) * 60 * 1000)
    // exactly now → strictly after: a full day
    assert(nextDelayMs(Cron(8, 30), t0) == 24L * 60 * 60 * 1000)
    assert(Serve.nextDelayMs(Serve.Interval(90), t0) == 90000L)
  }

  test("cron property: every fire lands on HH:MM UTC and never overlaps") {
    import Serve.{Cron, nextDelayMs}
    val dayMs = 24L * 3600 * 1000
    val rnd = new scala.util.Random(7)
    val epoch2024 = java.time.Instant.parse("2024-01-01T00:00:00Z")
      .toEpochMilli
    (1 to 1000).foreach { _ =>
      val h = rnd.nextInt(24)
      val m = rnd.nextInt(60)
      // any millisecond across two years of DST-free UTC days
      val now = epoch2024 + math.abs(rnd.nextLong()) % (730L * dayMs)
      val d = nextDelayMs(Cron(h, m), now)
      // strictly in the future, never more than a day out
      assert(d > 0 && d <= dayMs,
        s"delay $d out of (0, 24h] for cron $h:$m at $now")
      // the fire instant is exactly HH:MM:00.000 UTC
      val fire = now + d
      assert(fire % dayMs == (h * 3600L + m * 60L) * 1000L,
        s"cron $h:$m at $now fires at $fire, not on the minute")
      // fired exactly on the boundary, the next fire is a FULL day out
      // (strictly-after rule) — so two runs can never be scheduled for
      // the same boundary and the loop cannot overlap itself
      assert(nextDelayMs(Cron(h, m), fire) == dayMs)
    }
  }

  test("cron runLoop fires at the boundary under a simulated clock") {
    val work = tmp("serve_cron")
    val delays = scala.collection.mutable.ArrayBuffer.empty[Long]
    var clock = java.time.Instant.parse("2024-03-10T08:30:00Z").toEpochMilli
    Serve.runLoop(spark, sf(), work, Serve.Cron(9, 15), maxRuns = 2,
      sleeper = d => { delays += d; clock += d },
      nowUtcMs = () => clock)
    // first re-run at today's 09:15 (45 min), then exactly daily —
    // the no-overlap sequence the property test proves in general
    assert(delays.toSeq == Seq(45L * 60 * 1000, 24L * 3600 * 1000))
    // the initial fetch landed the store; the cron re-runs were
    // incremental no-ops against the static source
    val stored = BarStore.read(spark, s"$work/bars")
    val batch = BarPipeline.canonicalBars(spark, sf())
    assert(stored.count() == batch.count())
  }

  test("trigger parsing accepts the reference's two shapes, rejects junk") {
    assert(Serve.parseTrigger("interval:300") == Serve.Interval(300))
    assert(Serve.parseTrigger("cron:06:45") == Serve.Cron(6, 45))
    intercept[IllegalArgumentException](Serve.parseTrigger("hourly"))
    intercept[IllegalArgumentException](Serve.parseTrigger("cron:25:00"))
    intercept[IllegalArgumentException](Serve.parseTrigger("interval:0"))
  }
}
