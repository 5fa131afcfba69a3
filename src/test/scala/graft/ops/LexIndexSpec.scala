package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Lifecycle pins for the persisted lexical (BM25) index: persisted
  * serve ≡ the in-memory operator, bootstrap + appends ≡ one-shot
  * build, replay idempotence of serve and shard health, and
  * append-per-micro-batch maintenance from a stream. */
class LexIndexSpec extends SparkSuite {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  private def docsAll = graft.Tables.documents(spark, sf())
    .select($"doc_id", $"text")

  test("persisted serve equals the in-memory bm25") {
    val exp = rows(Retrieval.bm25(spark, sf()))
    val got = rows(LexIndex.bm25Persisted(spark, sf()))
    assert(got == exp)
    // second call is build-if-absent: same store, same rows
    assert(rows(LexIndex.bm25Persisted(spark, sf())) == exp)
  }

  test("bootstrap plus appends equals a one-shot build") {
    val full = docsAll.collect().map(r => (r.getLong(0), r.getString(1)))
    val path = java.nio.file.Files.createTempDirectory("lexa").toString
    full.grouped(200).zipWithIndex.foreach { case (chunk, i) =>
      LexIndex.append(spark, path, chunk.toSeq.toDF("doc_id", "text"), s"c$i")
    }
    val one = java.nio.file.Files.createTempDirectory("lexb").toString
    LexIndex.append(spark, one, full.toSeq.toDF("doc_id", "text"), "all")
    assert(rows(LexIndex.serve(spark, path)) == rows(LexIndex.serve(spark, one)))
    assert(rows(LexIndex.serve(spark, path)) == rows(Retrieval.bm25(spark, sf())))
  }

  test("a replayed append changes nothing served") {
    val path = java.nio.file.Files.createTempDirectory("lexr").toString
    val df = docsAll
    LexIndex.append(spark, path, df, "b0")
    val before = rows(LexIndex.serve(spark, path))
    LexIndex.append(spark, path, df, "b0") // at-least-once replay
    assert(rows(LexIndex.serve(spark, path)) == before)
  }

  test("shard health audits a replayed store identically") {
    val path = java.nio.file.Files.createTempDirectory("lexh").toString
    LexIndex.append(spark, path, docsAll, "b0")
    val clean = rows(LexIndex.healthOf(spark, path))
    assert(clean.nonEmpty)
    // invariants: fractions sum to 1, balance averages to 1
    val fracs = clean.map(_(3).asInstanceOf[Double])
    assert(math.abs(fracs.sum - 1.0) < 1e-3)
    val bals = clean.map(_(4).asInstanceOf[Double])
    assert(math.abs(bals.sum / bals.length - 1.0) < 1e-3)
    // replayed postings do not change the audit (dedup shield)
    LexIndex.append(spark, path, docsAll, "b0")
    assert(rows(LexIndex.healthOf(spark, path)) == clean)
  }

  test("streaming maintenance converges to the batch build") {
    // the caller-managed maintenance loop: each micro-batch is one
    // LexIndex.append keyed by its batch id
    implicit val sqlCtx = spark.sqlContext
    val full = docsAll.collect().map(r => (r.getLong(0), r.getString(1)))
    val path = java.nio.file.Files.createTempDirectory("lexs").toString
    val input = MemoryStream[(Long, String)]
    val q = input.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        LexIndex.append(batch.sparkSession, path, batch, s"b$bid")
      }
      .start()
    try {
      full.grouped(150).foreach { chunk =>
        input.addData(chunk.toIndexedSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(rows(LexIndex.serve(spark, path)) == rows(Retrieval.bm25(spark, sf())))
  }
}
