package graft.ingest

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Capture-date layout for the append-only side sinks (event-summary
  * JSON, quarantine parquet), which under streaming gain one batch of
  * files per trigger.  `appendDated` stamps each row with `sink_date`,
  * a SINK-BOUNDARY server date (the F7 pattern: when rows landed, not
  * their event time), and partitions the sink by it, so a reader
  * prunes to the capture dates it wants and an operator can retire
  * old dates a whole directory at a time.
  *
  * These sinks are written via `foreachBatch` appends (no streaming
  * file-sink `_spark_metadata` log), so directory listing IS the read
  * path.  At-least-once appends carry `batch_id` for downstream dedup;
  * the quarantine is a monitoring copy, where duplicate rows are
  * benign and silent loss is not. */
object SinkRetention {

  val DateCol = "sink_date"

  /** Append `df` to `path` partitioned by the capture date.
    *
    * Fails fast if the target carries a streaming file-sink
    * `_spark_metadata` log (a sink written by an older deployment's
    * `format("parquet").writeStream`): Spark resolves reads of such a
    * directory THROUGH the manifest, so rows appended here would be
    * invisible to every reader and aged out by no one — silent loss
    * disguised as an empty query.  The one-line migration is to move
    * the legacy files aside (or delete the `_spark_metadata` dir
    * after confirming its files are re-ingested).  One `exists` call
    * per append — noise next to the write job it guards. */
  def appendDated(df: DataFrame, path: String,
                  format: String = "parquet"): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, "_spark_metadata")
    val fs = p.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    require(!fs.exists(p),
      s"$path carries a streaming file-sink _spark_metadata log; " +
        "rows appended outside the manifest would be invisible to " +
        "readers. Migrate the legacy sink (move its files aside or " +
        "remove _spark_metadata after re-ingesting) before appending.")
    df.withColumn(DateCol, current_date())
      .write.mode(SaveMode.Append).partitionBy(DateCol)
      .format(format).save(path)
  }
}
