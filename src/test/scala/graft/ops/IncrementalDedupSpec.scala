package graft.ops

import java.nio.file.{Files, Paths}
import graft.{SparkSuite, Tables}

/** Pins for the incremental near-dup path (`Dedup.incremental`): the
  * persisted-signature-store serving must be indistinguishable from
  * the single-statement recomputation, the store must be built once
  * and reused, and the bucket cap must degrade boundedly. */
class IncrementalDedupSpec extends SparkSuite {

  private def tmpBase(tag: String): String =
    Files.createTempDirectory(s"inc_dedup_$tag").toString

  private def sqlResult() = {
    Tables.documents(spark, sf()).createOrReplaceTempView("documents")
    spark.sql(Dedup.incrementalSql(SparkDialect))
  }

  test("store-based serving equals the single-statement recomputation") {
    val served = Dedup.incremental(spark, sf(), Some(tmpBase("eq")))
      .collect().map(_.toSeq).toSeq
    val direct = sqlResult().collect().map(_.toSeq).toSeq
    assert(served.nonEmpty)
    assert(served == direct)
  }

  test("pairs always end in the new batch; vs_corpus flags the old side") {
    val splitId = math.floor(
      Tables.documents(spark, sf()).agg(org.apache.spark.sql.functions
        .max("doc_id")).head().getLong(0) * Dedup.IncrementalSplitFrac).toLong
    val rows = Dedup.incremental(spark, sf(), Some(tmpBase("shape"))).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("doc_id_a"), r.getAs[Long]("doc_id_b"))
      assert(a < b)
      assert(b >= splitId) // the higher id is always in the increment
      assert(r.getAs[Int]("vs_corpus") == (if (a < splitId) 1 else 0))
      assert(r.getAs[Double]("est_sim") >= Dedup.MinEstSim)
    }
    // both kinds of pair exist on the fixture: new-vs-corpus and
    // new-vs-new (exact duplicates land on both sides of the split)
    assert(rows.exists(_.getAs[Int]("vs_corpus") == 1))
  }

  test("the corpus store is built once and reused across invocations") {
    val base = tmpBase("reuse")
    val first = Dedup.incremental(spark, sf(), Some(base))
      .collect().map(_.toSeq).toSeq
    val store = Files.list(Paths.get(base)).iterator().next()
    val marker = store.resolve("_SUCCESS")
    assert(Files.exists(marker))
    val mtime = Files.getLastModifiedTime(marker)
    val second = Dedup.incremental(spark, sf(), Some(base))
      .collect().map(_.toSeq).toSeq
    assert(second == first)
    assert(Files.getLastModifiedTime(marker) == mtime) // no rebuild
  }

  test("band-bucket cap degrades to bounded work, not wrong answers") {
    val base = tmpBase("cap")
    val full = Dedup.incremental(spark, sf(), Some(base))
      .collect().map(_.toSeq).toSet
    // cap = 0 drops every bucket: bounded-empty, no failure
    assert(Dedup.incremental(spark, sf(), Some(base), cap = 0).collect()
      .isEmpty)
    // a tighter cap yields a subset of the uncapped pairs — degradation
    // loses candidates, never fabricates them
    val capped = Dedup.incremental(spark, sf(), Some(base), cap = 1)
      .collect().map(_.toSeq).toSet
    assert(capped.subsetOf(full))
  }
}
