package graft.streaming

import java.util.UUID
import java.util.concurrent.atomic.AtomicReference
import scala.collection.immutable.VectorMap
import com.fasterxml.jackson.core.{JsonFactory, JsonGenerator}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** E2/E3 parity: the reference's mutable `last_fetch_status` record
  * (`app/alpaca_service.py:19-25`) realized as a
  * `StreamingQueryListener` that folds query progress into a 1-row
  * status snapshot.  Unlike the reference's RAM-only dict (v1 docs note
  * it is lost on restart), the stream itself is checkpointed — status
  * is reconstructible; this record is a monitoring projection.
  *
  * The health projection (S7/P4/A3): the snapshot exposes counters and
  * the last error, never the heavy bar payload — and implements the
  * *intended* v1 semantics (real bar counts) rather than the v2 defect
  * where `bars_count` is always 0 (SURVEY.md §0).  The landed count is
  * the bar query's observed metric (`StreamingIngest.LandedBarsMetric`):
  * the bars its last data batch wrote to the store, not the tick rows
  * it read.  A progress event without that metric (the quarantine
  * query's, or a batch that read no input) advances the timestamps and
  * batch count but keeps the last landed count.
  *
  * State metrics are kept per query id: `stateOperators` is the union
  * of each query's latest progress, in the order the queries first
  * reported.  So a query without stateful operators (the ingest's
  * quarantine query) reporting after the bar query does not blank the
  * bar query's metrics.  The id is the one the checkpoint keeps, so a
  * scheduled query restarted on its checkpoint replaces its own entry.
  *
  * The snapshot lives in memory: `statusJson`/`stateMetricsJson`
  * format it without a Spark job, byte-identical to the `toJSON` rows
  * of the queryable `statusDf`/`stateMetricsDf`.  Its state metrics
  * are true per-batch counts when the query evaluates each micro-batch
  * once, as `StreamingIngest.start` does; Spark sums an operator's
  * metrics over every re-run of a batch's plan.
  */
object RunStatusListener {
  /** One stateful operator's footprint in the latest progress: the
    * observability a pipeline needs to size watermarks from data —
    * e.g. the bar aggregation's live (symbol, bucket) rows — plus
    * eviction flow and memory. */
  final case class StateMetric(
      operatorName: String,
      stateRows: Long,
      rowsUpdated: Long,
      rowsRemoved: Long,
      memoryUsedBytes: Long)

  final case class Snapshot(
      lastAttemptTimestampUtc: Option[String],
      lastSuccessTimestampUtc: Option[String],
      batchesCompleted: Long,
      barsInLastBatch: Long,
      errorMessage: Option[String],
      stateOperators: Seq[StateMetric] = Seq.empty)

  /** The 1-row health projection of `s` as a queryable DataFrame. */
  def statusDf(spark: SparkSession, s: Snapshot): DataFrame = {
    import spark.implicits._
    Seq((s.lastAttemptTimestampUtc, s.lastSuccessTimestampUtc,
      s.batchesCompleted, s.barsInLastBatch, s.errorMessage))
      .toDF("last_attempt_timestamp_utc", "last_success_timestamp_utc",
        "batches_completed", "bars_in_last_batch", "error_message")
  }

  /** One row per stateful operator of `s` as a queryable DataFrame. */
  def stateMetricsDf(spark: SparkSession, s: Snapshot): DataFrame = {
    import spark.implicits._
    s.stateOperators
      .map(m => (m.operatorName, m.stateRows, m.rowsUpdated,
        m.rowsRemoved, m.memoryUsedBytes))
      .toDF("operator_name", "state_rows", "rows_updated",
        "rows_removed", "memory_used_bytes")
  }

  // Jackson is what Spark's `toJSON` writes with; the writers below
  // follow its rules (schema field order, null fields omitted), so each
  // string equals the matching DataFrame's `toJSON` row.
  private val jsonFactory = new JsonFactory()

  /** One JSON object whose fields `fill` writes. */
  private[graft] def jsonObject(fill: JsonGenerator => Unit): String = {
    val out = new java.io.StringWriter
    val g = jsonFactory.createGenerator(out)
    try { g.writeStartObject(); fill(g); g.writeEndObject() }
    finally g.close()
    out.toString
  }

  /** The fields of `statusDf`'s row, in its column order. */
  private[graft] def writeStatusFields(g: JsonGenerator, s: Snapshot): Unit = {
    s.lastAttemptTimestampUtc.foreach(
      g.writeStringField("last_attempt_timestamp_utc", _))
    s.lastSuccessTimestampUtc.foreach(
      g.writeStringField("last_success_timestamp_utc", _))
    g.writeNumberField("batches_completed", s.batchesCompleted)
    g.writeNumberField("bars_in_last_batch", s.barsInLastBatch)
    s.errorMessage.foreach(g.writeStringField("error_message", _))
  }

  /** `statusDf(spark, s).toJSON.collect().head`, from memory. */
  def statusJson(s: Snapshot): String = jsonObject(writeStatusFields(_, s))

  /** `stateMetricsDf(spark, s).toJSON.collect()`, from memory. */
  def stateMetricsJson(s: Snapshot): Seq[String] =
    s.stateOperators.map(m => jsonObject { g =>
      Option(m.operatorName).foreach(g.writeStringField("operator_name", _))
      g.writeNumberField("state_rows", m.stateRows)
      g.writeNumberField("rows_updated", m.rowsUpdated)
      g.writeNumberField("rows_removed", m.rowsRemoved)
      g.writeNumberField("memory_used_bytes", m.memoryUsedBytes)
    })
}

final class RunStatusListener extends StreamingQueryListener {
  import RunStatusListener.{Snapshot, StateMetric}

  // the snapshot, paired with each query's latest state operators by
  // query id (first-report order), whose union is its `stateOperators`
  private val state = new AtomicReference((
    Snapshot(None, None, 0L, 0L, None),
    VectorMap.empty[UUID, Seq[StateMetric]]))

  private def updateSnapshot(f: Snapshot => Snapshot): Unit =
    state.updateAndGet { case (s, byQuery) => (f(s), byQuery) }

  // Change-notification channel for the push surface (StatusServer's
  // SSE endpoint): every status mutation bumps a version and wakes
  // waiters, so a push connection sleeps between batches instead of
  // polling.  Single JVM-local lock — waiters are HTTP connections
  // (bounded), signals are per-micro-batch (seconds apart).
  private val changeLock = new Object
  private var versionCounter: Long = 0L

  private def bumpVersion(): Unit = changeLock.synchronized {
    versionCounter += 1
    changeLock.notifyAll()
  }

  /** Monotonic status version: increments on every completed batch or
    * terminal error. */
  def version: Long = changeLock.synchronized(versionCounter)

  /** Block until the status version exceeds `since` or the timeout
    * elapses; returns the version at wake-up (== `since` on timeout). */
  def awaitChange(since: Long, timeoutMillis: Long): Long =
    changeLock.synchronized {
      val deadline = System.nanoTime() + timeoutMillis * 1000000L
      var remain = timeoutMillis
      while (versionCounter <= since && remain > 0) {
        changeLock.wait(remain)
        remain = (deadline - System.nanoTime()) / 1000000L
      }
      versionCounter
    }

  /** Test seam: fire the change channel without a real streaming
    * event (constructing QueryProgressEvent requires Spark internals). */
  private[graft] def bumpForTest(): Unit = bumpVersion()

  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit =
    updateSnapshot(_.copy(
      lastAttemptTimestampUtc = Some(e.timestamp), errorMessage = None))

  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val metrics = p.stateOperators.toSeq.map(so =>
      StateMetric(so.operatorName, so.numRowsTotal, so.numRowsUpdated,
        so.numRowsRemoved, so.memoryUsedBytes))
    state.updateAndGet { case (s, byQuery) =>
      val next = byQuery.updated(p.id, metrics)
      (s.copy(
        lastAttemptTimestampUtc = Some(p.timestamp),
        lastSuccessTimestampUtc = Some(p.timestamp),
        batchesCompleted = s.batchesCompleted + 1,
        barsInLastBatch = Option(p.observedMetrics)
          .flatMap(m => Option(m.get(StreamingIngest.LandedBarsMetric)))
          .fold(s.barsInLastBatch)(_.getAs[Long]("bars")),
        stateOperators = next.values.flatten.toSeq), next)
    }
    bumpVersion()
  }

  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach { msg =>
      updateSnapshot(_.copy(errorMessage = Some(msg)))
      bumpVersion()
    }

  def snapshot: Snapshot = state.get()._1

  /** The GET-/-style health projection as a queryable 1-row DataFrame. */
  def statusDf(spark: SparkSession): DataFrame =
    RunStatusListener.statusDf(spark, snapshot)

  /** Per-stateful-operator metrics of each query's latest micro-batch
    * as a queryable table — one row per operator (windowed aggregation,
    * watermark dedup …) with its live state row count, per-batch
    * update/eviction flow and memory footprint.  This is the feedback
    * loop for sizing watermarks: a state row count that grows batch
    * over batch means the horizon outlives the feed's actual lag. */
  def stateMetricsDf(spark: SparkSession): DataFrame =
    RunStatusListener.stateMetricsDf(spark, snapshot)
}
