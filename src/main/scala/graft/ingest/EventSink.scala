package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

/** Pluggable delivery seam for the per-batch summary events (S5) —
  * the write-path mirror of `sources.BarTransport` on the read path.
  *
  * The reference publishes one `HistoricalDataUpdated` message per
  * asset per run to Pub/Sub (`app/alpaca_service.py:183-258`); the
  * engine's default sink is a dated JSON append (queryable, capture-
  * date partitioned — SURVEY §2.1 sanctions parquet/JSON as the
  * Pub/Sub stand-in).
  * This trait makes the destination swappable without touching any
  * connector mechanics: `StreamingIngest.start` publishes through it
  * after each successful store write, exactly as before.
  *
  * Delivery contract: AT-LEAST-ONCE.  A sink that fails must THROW —
  * the enclosing `foreachBatch` then fails the micro-batch and the
  * checkpoint replays it, so a transport outage becomes redelivery,
  * never silent loss.  Every delivered event carries `batch_id`; an
  * idempotent consumer dedups on it (the reference's Pub/Sub consumers
  * face the same at-least-once contract).
  */
trait EventSink {
  /** Deliver one batch's summary events (`event_type`, `message`). */
  def publish(events: DataFrame, batchId: Long): Unit
}

object EventSink {

  /** Default sink: dated-partition append via `SinkRetention` (JSON by
    * default — human-greppable, `spark.read.json`-queryable), exactly
    * the pre-seam behavior bit for bit. */
  final class DatedFileSink(dir: String, format: String = "json")
      extends EventSink {
    override def publish(events: DataFrame, batchId: Long): Unit =
      SinkRetention.appendDated(
        events.withColumn("batch_id", lit(batchId)), dir, format = format)
  }

  /** HTTP POST sink: one POST per micro-batch with an NDJSON body
    * (one `{"event_type":…,"message":…,"batch_id":…}` object per
    * line), `X-Graft-Batch-Id` header for consumer-side idempotence.
    *
    * The collect here is BOUNDED BY CONSTRUCTION: summary events are
    * one row per (asset, timeframe) per batch — the asset catalog's
    * cardinality, not the data's (the reference publishes the same
    * per-asset fan-out, one Pub/Sub message per symbol).  A batch that
    * somehow exceeds `maxEventsPerPost` fails loudly rather than
    * assembling an unbounded driver-side body.
    *
    * Failure mode honors the trait contract: non-2xx or connect
    * failure throws, the micro-batch fails, the checkpoint redelivers
    * — at-least-once, keyed by `batch_id`. */
  final class HttpPostSink(endpoint: String,
      connectTimeoutMs: Long = 5000, requestTimeoutMs: Long = 30000,
      maxEventsPerPost: Int = 100000) extends EventSink {

    override def publish(events: DataFrame, batchId: Long): Unit = {
      // cap + 1 probe keeps the guard cheap; toJSON preserves the
      // exact field spelling the file sink writes
      val rows = events.toJSON.limit(maxEventsPerPost + 1).collect()
      require(rows.length <= maxEventsPerPost,
        s"summary batch exceeds $maxEventsPerPost events; a summary " +
          "relation is per-(asset,timeframe) and should never be this " +
          "wide — refusing an unbounded driver-side POST body")
      if (rows.isEmpty) return
      val body = rows.map { j =>
        // graft the batch id into each NDJSON line: {"a":1} -> {"a":1,"batch_id":N}
        j.stripSuffix("}") + s""","batch_id":$batchId}"""
      }.mkString("", "\n", "\n")
      val client = java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofMillis(connectTimeoutMs))
        .build()
      val req = java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(endpoint))
        .timeout(java.time.Duration.ofMillis(requestTimeoutMs))
        .header("Content-Type", "application/x-ndjson")
        .header("X-Graft-Batch-Id", batchId.toString)
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
        .build()
      val resp = client.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() / 100 == 2,
        s"event sink POST to $endpoint failed: HTTP ${resp.statusCode()} " +
          s"${resp.body().take(200)} — failing the batch for redelivery")
    }
  }
}
