package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.DataFrame

/** Asymmetric containment dedup (Dedup.ngramContainmentCapped): a
  * short document wholly embedded inside a much longer one must be
  * caught (containment 1.0) even though symmetric Jaccard sits far
  * below its 0.5 gate, and the reported scores must equal a plain-
  * Scala re-derivation from the shingle sets — an independent
  * computation, not a replay of the SQL. */
class ContainmentSpec extends SparkSuite {

  /** doc 1: 22 unique tokens → 20 shingles.  doc 2: doc 1's text plus
    * 80 more unique tokens → 100 shingles containing all of doc 1's.
    * doc 3: unrelated.  docs 4/5: a genuine near-identical pair (one
    * token differs) — both directions just under 1.0. */
  private lazy val docs: DataFrame = {
    import spark.implicits._
    val short = (1 to 22).map(i => s"a$i").mkString(" ")
    val long = short + " " + (1 to 80).map(i => s"b$i").mkString(" ")
    val body = (1 to 30).map(i => s"c$i").mkString(" ")
    Seq(
      1L -> short,
      2L -> long,
      3L -> (1 to 40).map(i => s"z$i").mkString(" "),
      4L -> s"$body tail4",
      5L -> s"$body tail5"
    ).toDF("doc_id", "text")
  }

  private def postings: DataFrame =
    docs.selectExpr("doc_id", "graft_shingles3(graft_tokens(text)) AS grams")
      .selectExpr("doc_id", "size(grams) AS ng", "explode(grams) AS gram")

  private lazy val gramSets: Map[Long, Set[String]] =
    docs.selectExpr("doc_id", "graft_shingles3(graft_tokens(text)) AS grams")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap

  private def expected(a: Long, b: Long): (Double, Double) = {
    val s = (gramSets(a) & gramSets(b)).size.toDouble
    (s / gramSets(a).size, s / gramSets(b).size)
  }

  private def close(got: (Double, Double), want: (Double, Double)): Boolean =
    math.abs(got._1 - want._1) < 1e-9 && math.abs(got._2 - want._2) < 1e-9

  test("embedded sub-document is a containment dup but not a Jaccard dup") {
    val pairs = Dedup.ngramContainmentCapped(postings, TextOps.MaxGramDf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    // (1,2): every one of doc 1's 20 shingles appears in doc 2
    val (c12ab, c12ba) = expected(1L, 2L)
    assert(c12ab == 1.0)
    assert(close(pairs((1L, 2L)), (1.0, math.rint(c12ba * 1e6) / 1e6)))
    // ...and Jaccard = 20/100 — invisible to the symmetric gate
    val jac = Dedup.ngramJaccardCapped(postings, TextOps.MaxGramDf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val s12 = (gramSets(1L) & gramSets(2L)).size.toDouble
    assert(s12 / (gramSets(1L).size + gramSets(2L).size - s12) < 0.5)
    assert(!jac.contains((1L, 2L)),
      "the embedded pair must NOT pass the symmetric Jaccard gate")
    // the near-identical pair passes both gates, scores re-derived
    val (c45ab, c45ba) = expected(4L, 5L)
    assert(close(pairs((4L, 5L)),
      (math.rint(c45ab * 1e6) / 1e6, math.rint(c45ba * 1e6) / 1e6)))
    assert(jac.contains((4L, 5L)))
    // nothing else: the unrelated doc never pairs
    assert(pairs.keySet == Set((1L, 2L), (4L, 5L)))
  }

  test("hot-gram fold-back keeps containment exact under a tiny cap") {
    import spark.implicits._
    // boilerplate shared by every doc goes hot under cap 3; the
    // near-dup pair (20, 21) still collides on its cold body grams and
    // the dropped boilerplate folds back EXACTLY into its scores
    val boiler = "this software is provided without any warranty of any kind"
    val body = (1 to 20).map(i => s"x$i").mkString(" ")
    val bdocs = ((10L until 18L).map(i =>
      i -> s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f $boiler") ++
      Seq(20L -> s"$body $boiler", 21L -> s"$body extra21 $boiler"))
      .toDF("doc_id", "text")
    val posts = bdocs
      .selectExpr("doc_id", "graft_shingles3(graft_tokens(text)) AS grams")
      .selectExpr("doc_id", "size(grams) AS ng", "explode(grams) AS gram")
    val sets = bdocs
      .selectExpr("doc_id", "graft_shingles3(graft_tokens(text)) AS grams")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val s = (sets(20L) & sets(21L)).size.toDouble
    val want = (math.rint(s / sets(20L).size * 1e6) / 1e6,
      math.rint(s / sets(21L).size * 1e6) / 1e6)
    val capped = Dedup.ngramContainmentCapped(posts, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    assert(close(capped((20L, 21L)), want))
  }

  test("engine result matches the dialect-shared SQL on the same corpus") {
    docs.createOrReplaceTempView("documents")
    val sql = spark.sql(Dedup.ngramContainmentSql(SparkDialect))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    val eng = Dedup.ngramContainmentCapped(postings, TextOps.MaxGramDf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    assert(sql == eng)
  }
}
