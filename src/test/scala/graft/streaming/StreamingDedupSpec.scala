package graft.streaming

import java.sql.Timestamp
import graft.SparkSuite
import graft.ops.SparkDialect
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.expr

/** Exact dedup's content digest (`Dedup.exactSql`'s md5 over
  * whitespace-collapsed lowercase text) as the key of a watermarked
  * stream dedup: first occurrence passes, duplicates drop within and
  * across micro-batches and across a checkpointed restart, and the
  * kept set matches the batch operator's keepers. */
class StreamingDedupSpec extends SparkSuite {
  import spark.implicits._

  /** The normalization `Dedup.exactSql` digests. */
  private val digest =
    s"md5(${SparkDialect.reReplace("trim(lower(text))", "\\s+", " ")})"

  /** docs carry (doc_id, ingest_ts, text); emits first-seen rows. */
  private def dedupDocs(docs: DataFrame): DataFrame =
    docs
      .withColumn("digest", expr(digest))
      .withWatermark("ingest_ts", "30 days")
      .dropDuplicatesWithinWatermark("digest")

  test("drops duplicate documents within and across batches") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val docs = input.toDS().toDF("doc_id", "ingest_ts", "text")
    val q = dedupDocs(docs)
      .writeStream.format("memory").queryName("dedup_docs")
      .outputMode("append").start()
    try {
      val t = Timestamp.valueOf("2024-01-01 00:00:00")
      // batch 1: b is an in-batch duplicate of a (same normalized text)
      input.addData(
        (1L, t, "The quick  brown fox"),
        (2L, t, "the QUICK brown   fox"),
        (3L, t, "something else entirely"))
      q.processAllAvailable()
      // batch 2: cross-batch duplicate of doc 1 + one new doc
      input.addData(
        (4L, t, "THE QUICK BROWN FOX"),
        (5L, t, "a genuinely new document"))
      q.processAllAvailable()
      val out = spark.table("dedup_docs")
      assert(out.count() == 3) // docs 1 (or 2), 3, 5 — one per digest
      assert(out.select("digest").distinct().count() == 3)
      // the surviving fox doc is the first occurrence, not a later one
      assert(out.filter($"doc_id" === 4L).count() == 0)
    } finally q.stop()
  }

  test("digest state survives a checkpointed restart") {
    import java.nio.file.Files
    val src = Files.createTempDirectory("dedup_src").toString
    val ckpt = Files.createTempDirectory("dedup_ckpt").toString
    val out = Files.createTempDirectory("dedup_out").toString
    val t = Timestamp.valueOf("2024-01-01 00:00:00")
    def writeBatch(rows: Seq[(Long, Timestamp, String)]): Unit =
      rows.toDF("doc_id", "ingest_ts", "text")
        .write.mode("append").parquet(src)
    def drain(): Unit = {
      val q = dedupDocs(
        spark.readStream.schema("doc_id LONG, ingest_ts TIMESTAMP, text STRING")
          .parquet(src))
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try assert(q.awaitTermination(120000), "stream did not finish in time")
      finally q.stop()
    }
    writeBatch(Seq((1L, t, "alpha doc"), (2L, t, "beta doc")))
    drain()
    // restart from the same checkpoint: a duplicate of doc 1 must be
    // dropped by state recovered from the checkpoint, not re-emitted
    writeBatch(Seq((3L, t, "ALPHA   DOC"), (4L, t, "gamma doc")))
    drain()
    val result = spark.read.parquet(out)
    assert(result.count() == 3) // alpha once, beta, gamma
    assert(result.filter($"doc_id" === 3L).count() == 0)
  }

  test("streamed corpus equals the batch-exact-deduped corpus") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = graft.Tables.documents(spark, sf())
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), Timestamp.valueOf("2024-01-01 00:00:00"),
        r.getString(1)))
    val input = MemoryStream[(Long, Timestamp, String)]
    val q = dedupDocs(input.toDS().toDF("doc_id", "ingest_ts", "text"))
      .writeStream.format("memory").queryName("dedup_corpus")
      .outputMode("append").start()
    try {
      // feed in two chunks to cross a batch boundary; the second also
      // re-sends the first 50 documents under new ids with their
      // whitespace widened, which the digest normalizes away
      val (a, b) = corpus.splitAt(corpus.length / 2)
      val resent = a.take(50).map { case (id, t, text) =>
        (id + 100000L, t, "  " + text.replace(" ", "   ") + " ")
      }
      input.addData(a.toIndexedSeq); q.processAllAvailable()
      input.addData((b ++ resent).toIndexedSeq); q.processAllAvailable()
      val streamed = spark.table("dedup_corpus")
        .select("doc_id").collect().map(_.getLong(0)).toSeq
      // the batch keepers: each digest group's representative
      val keepers = graft.ops.Dedup.exact(spark, sf())
        .filter(!$"is_duplicate")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(keepers.nonEmpty)
      assert(streamed.length == keepers.size)
      assert(streamed.toSet == keepers)
    } finally q.stop()
  }
}
