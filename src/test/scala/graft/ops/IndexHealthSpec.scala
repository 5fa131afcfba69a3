package graft.ops

import graft.{SparkSuite, Tables}

/** Pins for `Similarity.indexHealth`: the per-list report must account
  * for every stored vector, agree with the raw-embeddings SQL
  * recomputation, and be deterministic across invocations. */
class IndexHealthSpec extends SparkSuite {

  test("health report accounts for every vector exactly once") {
    val rows = Similarity.indexHealth(spark, sf()).collect()
    assert(rows.nonEmpty)
    val total = Tables.embeddings(spark, sf()).count()
    assert(rows.map(_.getAs[Long]("n_vecs")).sum == total)
    // fractions sum to 1 (up to the per-row rounding)
    assert(math.abs(rows.map(_.getAs[Double]("frac")).sum - 1.0) < 1e-4)
    // balance averages 1 by construction: sum(n·k/total) = k
    val k = rows.length
    assert(math.abs(rows.map(_.getAs[Double]("balance")).sum - k) < 1e-3)
  }

  test("store-derived report equals the raw-embeddings SQL recomputation") {
    Tables.embeddings(spark, sf()).createOrReplaceTempView("embeddings")
    val direct = spark.sql(Similarity.indexHealthSql(SparkDialect))
      .collect().map(_.toSeq).toSeq
    val served = Similarity.indexHealth(spark, sf())
      .collect().map(_.toSeq).toSeq
    assert(served == direct)
  }

  test("report is deterministic across invocations") {
    val a = Similarity.indexHealth(spark, sf()).collect().map(_.toSeq).toSeq
    val b = Similarity.indexHealth(spark, sf()).collect().map(_.toSeq).toSeq
    assert(a == b)
  }
}
