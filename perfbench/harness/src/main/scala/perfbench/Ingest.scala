package perfbench

import com.fasterxml.jackson.databind.JsonNode
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{CompletableFuture, ConcurrentLinkedQueue, TimeUnit}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import graft.Serve
import graft.serve.StatusServer
import graft.streaming.RunStatusListener

/** The paper's loop: land tick files, drain them with scheduled
  * `Serve.runOnce` runs, and serve status the whole time.
  *
  * Phases: `setups` timed starts of session + `StatusServer` (up to
  * its first answered `GET /`); a backfill run over several days of
  * files; then one run per landed day, each followed by an idle gap,
  * until `seconds` have elapsed (four runs at least, five when
  * traced).  An open-loop client calls `GET /` at a fixed rate
  * throughout; each request is sent when it falls due and timed from
  * then.  In a traced run every second daily run is traced.
  *
  * No client calls `GET /snapshot`: it reads the bar store, and a read
  * that overlaps `BarStore.merge`'s partition rewrite fails with
  * FILE_NOT_EXIST.  Store reads next to store writes join the workload
  * once the store's reads are snapshot-isolated. */
object Ingest {
  final case class Request(dueUs: Long, sendUs: Long, endUs: Long, status: Int,
      json: Boolean, bytes: Int)

  def run(cfg: JsonNode, out: String): Unit = {
    val src = cfg.get("src_dir").asText()
    val work = cfg.get("work_dir").asText()
    val backfill = Json.strings(cfg.get("backfill"))
    val daily = Json.strings(cfg.get("daily"))
    val seconds = cfg.get("seconds").asDouble()
    val traced = cfg.get("trace").asBoolean()
    val cores = cfg.get("cores").asInt()
    val rootPerS = cfg.get("root_per_s").asDouble()
    Files.createDirectories(Paths.get(src))
    val http = HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(10)).build()
    def get(port: Int, path: String): HttpResponse[String] =
      http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .timeout(java.time.Duration.ofSeconds(60)).build(),
        HttpResponse.BodyHandlers.ofString())

    val (spark, (listener, server, port), setupS) =
      Main.setUp(cores, cfg.get("setups").asInt(), { s =>
        val l = new RunStatusListener
        s.streams.addListener(l)
        val srv = new StatusServer(s, s"$work/bars", l)
        val p = srv.start(0)
        val r = get(p, "/")
        require(r.statusCode() == 200, s"GET / answered ${r.statusCode()}")
        (l, srv, p)
      }, (st: (RunStatusListener, StatusServer, Int)) => st._2.stop())
    val trace = new Trace
    trace.install(spark)

    def land(file: String): Long = {
      val name = Paths.get(file).getFileName.toString
      val tmp = Paths.get(src, s".landing_$name")
      Files.copy(Paths.get(file), tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, Paths.get(src, name), StandardCopyOption.ATOMIC_MOVE)
      trace.nowUs
    }
    val runs = ArrayBuffer.empty[Map[String, Any]]
    val errors = ArrayBuffer.empty[Map[String, Any]]
    def scheduled(kind: String, files: Seq[String], tracedRun: Boolean): Unit = {
      trace.enabled = tracedRun
      val landed = files.map(land)
      val t0 = trace.nowUs
      try trace.span(spark, s"runOnce.$kind", "streaming") {
        Serve.runOnce(spark, src, work)
      } catch {
        case e: Exception => errors += Map("run" -> runs.size, "error" -> e.toString)
      }
      val t1 = trace.nowUs
      val summariesMs =
        if (!tracedRun) None
        else {
          val s0 = trace.nowUs
          val r = get(port, "/summaries")
          if (r.statusCode() != 200 || !Json.isValid(r.body()))
            errors += Map("run" -> runs.size, "error" -> "bad /summaries answer")
          Some((trace.nowUs - s0) / 1000.0)
        }
      trace.enabled = false
      runs += Map("kind" -> kind, "files" -> files.map(f =>
        Paths.get(f).getFileName.toString), "land_us" -> landed.last,
        "start_us" -> t0, "end_us" -> t1, "s" -> (t1 - t0) / 1e6,
        "traced" -> tracedRun, "summaries_ms" -> summariesMs)
    }

    scheduled("backfill", backfill, tracedRun = false)

    val requests = new ConcurrentLinkedQueue[Request]()
    /** Open loop: a `GET /` falls due every 1/perS seconds until `done`,
      * and is sent then whether or not earlier ones have answered; each
      * is timed from when it was due. */
    def openLoop(perS: Double, done: => Boolean): Seq[CompletableFuture[Unit]] = {
      val sent = ArrayBuffer.empty[CompletableFuture[Unit]]
      val periodUs = (1e6 / perS).toLong
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/"))
        .timeout(java.time.Duration.ofSeconds(60)).build()
      var due = trace.nowUs
      while (!done) {
        val wait = due - trace.nowUs
        if (wait > 0) Thread.sleep(wait / 1000, ((wait % 1000) * 1000).toInt)
        val (d, send) = (due, trace.nowUs)
        sent += http.sendAsync(req, HttpResponse.BodyHandlers.ofString())
          .handle[Unit] { (r, e) =>
            val end = trace.nowUs
            val (code, body) = if (e == null) (r.statusCode(), r.body()) else (-1, e.toString)
            requests.add(Request(d, send, end, code, code == 200 && Json.isValid(body),
              body.length))
            trace.record("GET /", "StatusServer", d, end)
          }
        due += periodUs
      }
      sent.toSeq
    }
    // the health check runs throughout, next to the store writes
    @volatile var stop = false
    @volatile var healthSent = Seq.empty[CompletableFuture[Unit]]
    val health = new Thread(() => healthSent = openLoop(rootPerS, stop),
      "perfbench-client-health")
    health.setDaemon(true)
    health.start()

    // scheduled runs with a fixed idle gap after each (Serve's interval
    // trigger)
    val gapUs = (cfg.get("gap_s").asDouble() * 1e6).toLong
    // daily runs keep warming up for a few runs, and the host's speed
    // drifts: four runs at least average over both; a traced run makes
    // five, so that untraced runs bracket each traced one
    val minRuns = if (traced) 5 else 4
    val m0 = System.nanoTime()
    var day = 0
    while (day < daily.size &&
        ((System.nanoTime() - m0) / 1e9 < seconds || day < minRuns)) {
      scheduled("daily", Seq(daily(day)), tracedRun = traced && day % 2 == 1)
      Thread.sleep(gapUs / 1000)
      day += 1
    }
    stop = true
    health.join(120000)
    healthSent.foreach(_.get(120, TimeUnit.SECONDS))
    if (day == daily.size && (System.nanoTime() - m0) / 1e9 < seconds)
      errors += Map("error" -> s"ran out of day files after $day runs")

    Main.writeFile(s"$out/result.json", Json.write(Map(
      "provenance" -> Main.provenance(spark, cores),
      "setup_s" -> setupS, "runs" -> runs,
      "requests" -> requests.asScala.toSeq.map(r => Map(
        "due_us" -> r.dueUs, "send_us" -> r.sendUs,
        "end_us" -> r.endUs, "status" -> r.status, "json" -> r.json,
        "bytes" -> r.bytes)),
      "progress" -> trace.progressEvents,
      "cache_mb" -> Main.storageMb(spark), "errors" -> errors)))
    if (traced) trace.dump(out)
    trace.uninstall(spark)
    server.stop()
    spark.streams.removeListener(listener)
    spark.stop()
  }
}
