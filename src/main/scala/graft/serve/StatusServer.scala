package graft.serve

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import graft.ingest.BarStore
import graft.streaming.RunStatusListener

/** The reference's serving loop (E2/E3) as a pull-model HTTP surface
  * over the engine's queryable state — `app/main.py:103-157`:
  *
  *  - `GET /` ≡ the reference's root health check: a status summary
  *    WITHOUT the heavy bar payload, plus `bars_count`
  *    (`app/main.py:105-121` copies the status dict, counts bars,
  *    deletes the list).
  *  - `GET /snapshot` ≡ the `/ws` connect-push (`app/main.py:124-157`
  *    sends the full status *including all bars* to each connecting
  *    client).  HTTP pull replaces the push socket: same payload, and
  *    a client that polls gets exactly the WS-on-connect semantics —
  *    the reference's socket never pushes again after connect either
  *    (it only listens), so pull loses nothing.
  *  - `GET /events` — a TRUE push channel (SSE): the connection stays
  *    open, the snapshot payload is pushed immediately on connect
  *    (exactly the ref's WS-accept push), and a further `update` event
  *    is pushed every time a micro-batch lands (version-bumped by
  *    `RunStatusListener.awaitChange` — no polling).  This STRICTLY
  *    DOMINATES the reference socket, which only ever pushes once per
  *    connection; the parity claim needs no poll≡reconnect argument.
  *  - `GET /summaries` — the per-asset A1 summary over the live store
  *    (what the reference publishes per asset to Pub/Sub).
  *  - `GET /state_metrics` — the per-stateful-operator footprint of
  *    the latest micro-batch (T6 observability).
  *
  * Which endpoints run Spark: only `/snapshot` (with each `/events`
  * push, which carries its payload) and `/summaries`, because they
  * read the bar store.  They read under `BarStore.reading`, so a
  * scheduled run's merge in this JVM waits for them and they never
  * list a partition the merge is replacing.  `/`, `/state_metrics`
  * and the status part of `/snapshot` read the listener's in-memory
  * snapshot once per request and format it with
  * `RunStatusListener.statusJson`/`stateMetricsJson` (the bytes
  * `statusDf`/`stateMetricsDf`'s `toJSON` would give), so
  * a health check runs no job and never queues behind the ingest's
  * jobs.  The state metrics are true per-batch counts: the ingest
  * evaluates each micro-batch once.
  *
  * Scale note: `/` and `/state_metrics` are O(1) in the store size and
  * `/summaries` is an aggregate (~catalog rows).  `/snapshot`
  * serializes bars and is capped at `snapshotLimit` rows with an
  * explicit `truncated` flag — the reference's payload is "the last
  * fetch, in RAM", inherently small; against a 100 TB store a snapshot
  * endpoint must bound its own response rather than stream the
  * table. */
final class StatusServer(spark: SparkSession, storeDir: String,
    listener: RunStatusListener, snapshotLimit: Int = 50000) {

  @volatile private var server: HttpServer = _
  @volatile private var running = false

  def start(port: Int = 0): Int = synchronized {
    require(server == null, "StatusServer already started")
    server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", port), 0)
    // long-lived SSE connections must not starve the one-shot
    // endpoints: hand each exchange its own (daemon) thread
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(
      (r: Runnable) => {
        val t = new Thread(r, "graft-status-http")
        t.setDaemon(true)
        t
      }))
    server.createContext("/", handler(_ => rootJson()))
    server.createContext("/snapshot", handler(_ => snapshotJson()))
    server.createContext("/summaries", handler(_ => summariesJson()))
    server.createContext("/state_metrics", handler(_ => stateMetricsJson()))
    server.createContext("/events", sseHandler)
    running = true
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = synchronized {
    running = false
    if (server != null) { server.stop(0); server = null }
  }

  /** Server-Sent Events push channel.  Query params (testing /
    * client-pacing aids): `max_events=N` closes the stream after N
    * pushes; `heartbeat_ms=M` sets the keep-alive comment cadence
    * while idle (default 15 s).  Event ids carry the listener's
    * status version, so a reconnecting client can detect missed
    * batches by id gap. */
  private def sseHandler: com.sun.net.httpserver.HttpHandler =
    (ex: HttpExchange) => {
      try {
        if (ex.getRequestMethod != "GET") {
          val b = """{"error":"method not allowed"}""".getBytes("UTF-8")
          ex.sendResponseHeaders(405, b.length)
          ex.getResponseBody.write(b)
        } else {
          val params = Option(ex.getRequestURI.getQuery).getOrElse("")
            .split("&").filter(_.contains("=")).map { kv =>
              val Array(k, v) = kv.split("=", 2); k -> v
            }.toMap
          val maxEvents = params.get("max_events")
            .flatMap(_.toIntOption).getOrElse(Int.MaxValue)
          val heartbeatMs = params.get("heartbeat_ms")
            .flatMap(_.toLongOption).getOrElse(15000L)
          val h = ex.getResponseHeaders
          h.set("Content-Type", "text/event-stream")
          h.set("Cache-Control", "no-cache")
          ex.sendResponseHeaders(200, 0) // chunked; stream stays open
          val out = ex.getResponseBody
          def send(event: String, id: Long, data: String): Unit = {
            out.write(s"event: $event\nid: $id\ndata: $data\n\n"
              .getBytes("UTF-8"))
            out.flush()
          }
          // the ref's WS-accept push: full snapshot immediately
          var v = listener.version
          send("snapshot", v, snapshotJson())
          var sent = 1
          while (sent < maxEvents && running) {
            val nv = listener.awaitChange(v, heartbeatMs)
            if (nv > v) {
              v = nv
              send("update", v, snapshotJson())
              sent += 1
            } else {
              out.write(": keepalive\n\n".getBytes("UTF-8"))
              out.flush()
            }
          }
        }
      } catch {
        case _: java.io.IOException => () // client disconnected
      } finally ex.close()
    }

  private def handler(body: HttpExchange => String)
      : com.sun.net.httpserver.HttpHandler = (ex: HttpExchange) => {
    val (status, payload) =
      try {
        if (ex.getRequestMethod != "GET")
          (405, """{"error":"method not allowed"}""")
        else (200, body(ex))
      } catch {
        case e: Throwable => (500, RunStatusListener.jsonObject(
          _.writeStringField("error", String.valueOf(e.getMessage))))
      }
    val bytes = payload.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Status projection without bars + bars_count — ref `read_root`. */
  private def rootJson(): String = {
    val s = listener.snapshot
    RunStatusListener.jsonObject { g =>
      g.writeStringField("message", "graft historical data service is running")
      g.writeObjectFieldStart("latest_data_status")
      RunStatusListener.writeStatusFields(g, s)
      // the ref ALSO reports bars_count (len of the in-RAM list) — here,
      // the last batch's landed rows, the same quantity
      g.writeNumberField("bars_count", s.barsInLastBatch)
      g.writeEndObject()
    }
  }

  /** Full connect-push payload: status + the store's bars (capped). */
  private def snapshotJson(): String = {
    val status = RunStatusListener.statusJson(listener.snapshot)
    val bars = readStore {
      BarStore.read(spark, storeDir)
        .orderBy("symbol", "timestamp")
        .limit(snapshotLimit + 1)
        .toJSON.collect()
    }
    val truncated = bars.length > snapshotLimit
    val kept = if (truncated) bars.take(snapshotLimit) else bars
    s"""{"status":$status,"bars_count":${kept.length},""" +
      s""""truncated":$truncated,""" +
      kept.mkString("\"bars\":[", ",", "]}")
  }

  /** Per-stateful-operator metrics of the latest micro-batch (T6
    * observability — the watermark-sizing feedback loop); empty array
    * when the last query ran no stateful operators. */
  private def stateMetricsJson(): String =
    RunStatusListener.stateMetricsJson(listener.snapshot)
      .mkString("{\"state_operators\":[", ",", "]}")

  /** Per-asset ingest summary over the live store (A1 shape). */
  private def summariesJson(): String =
    readStore {
      graft.ingest.BarPipeline
        .ingestSummaries(BarStore.read(spark, storeDir))
        .orderBy("asset_symbol", "timeframe")
        .toJSON.collect()
    }.mkString("{\"summaries\":[", ",", "]}")

  /** A store read under the store's read lock, so an in-process
    * `BarStore.merge` never rewrites a partition the read lists; no
    * rows when the store is absent (`BarStore.exists`). */
  private def readStore(rows: => Array[String]): Array[String] =
    BarStore.reading(spark, storeDir) {
      if (BarStore.exists(spark, storeDir)) rows else Array.empty
    }
}
