package org.apache.spark.sql.streaming

import java.util.UUID
import scala.jdk.CollectionConverters._

/** Builds `QueryProgressEvent`s for listener specs; the progress
  * constructors are `private[spark]`, hence this package. */
object ProgressEvents {

  /** One stateful operator's progress; fields a spec does not set are
    * zero. */
  def stateOperator(name: String, rowsTotal: Long, rowsUpdated: Long = 0L,
      rowsRemoved: Long = 0L, memoryBytes: Long = 0L)
      : StateOperatorProgress =
    new StateOperatorProgress(name, rowsTotal, rowsUpdated, 0L,
      rowsRemoved, 0L, 0L, memoryBytes, 0L, 0L, 0L)

  /** The progress event of batch `batchId` of query `id`, which read
    * `inputRows` rows from one source and observed `observed`. */
  def progress(id: UUID, batchId: Long, timestamp: String, inputRows: Long,
      state: Seq[StateOperatorProgress],
      observed: Map[String, org.apache.spark.sql.Row] = Map.empty)
      : StreamingQueryListener.QueryProgressEvent =
    new StreamingQueryListener.QueryProgressEvent(
      new StreamingQueryProgress(id, UUID.randomUUID(), null, timestamp,
        batchId, 0L, Map.empty[String, java.lang.Long].asJava,
        Map.empty[String, String].asJava, state.toArray,
        Array(new SourceProgress("spec source", null, null, null,
          inputRows, 0.0, 0.0)),
        new SinkProgress("spec sink"),
        observed.asJava))
}
