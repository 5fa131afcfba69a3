package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.streaming.Trigger

/** Streaming chunking ≡ batch: `chunkingSqlCore` is a stateless
  * narrow generate (no watermark, no state, no shuffle), so the SAME
  * statement that backs the registered batch query runs unchanged
  * over a streaming `documents` view, and a corpus fed through the
  * stream chunks identically to the batch pass. */
class StreamingChunkingSpec extends SparkSuite {
  import spark.implicits._

  test("streamed chunking equals the batch chunk relation") {
    val batch = graft.ops.TextAnalysis.chunking(spark, sf())
      .collect()
      .map(r => (r.getLong(0), r.getAs[Long]("chunk_id")) ->
        ((r.getAs[Long]("start_tok"), r.getAs[Long]("n_tok_chunk"),
          r.getAs[Long]("chunk_hash"))))
      .toMap

    val dir = java.nio.file.Files.createTempDirectory("chunk_src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf() + "/documents.parquet"),
      dir.resolve("documents.parquet"))
    val schema = graft.Tables.documents(spark, sf()).schema
    spark.readStream.schema(schema).parquet(dir.toString)
      .createOrReplaceTempView("documents")
    val q = spark.sql(
        graft.ops.TextAnalysis.chunkingSqlCore(graft.ops.SparkDialect))
      .writeStream.format("memory").queryName("streamed_chunks")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(120000), "stream did not finish in time")
    finally q.stop()

    val streamed = spark.table("streamed_chunks").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("chunk_id")) ->
        ((r.getAs[Long]("start_tok"), r.getAs[Long]("n_tok_chunk"),
          r.getAs[Long]("chunk_hash"))))
      .toMap
    assert(streamed.size == batch.size)
    assert(streamed == batch)
  }

  test("the chunking statement is stateless and shuffle-free") {
    graft.Tables.documents(spark, sf())
      .createOrReplaceTempView("documents")
    val plan = spark.sql(
        graft.ops.TextAnalysis.chunkingSqlCore(graft.ops.SparkDialect))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(800))
    assert(!plan.contains("StateStore"), plan.take(800))
  }
}
