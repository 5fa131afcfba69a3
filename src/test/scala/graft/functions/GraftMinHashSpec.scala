package graft.functions

import graft.SparkSuite
import graft.ops.{DuckDialect, SparkDialect, TextOps}

/** Native shingle/minhash expressions vs the HOF/grouped-SQL
  * formulations they replaced — run against the fixture corpus so the
  * comparison covers real tokenization edge cases. */
class GraftMinHashSpec extends SparkSuite {

  private def docsView(): Unit =
    graft.Tables.documents(spark, sf()).createOrReplaceTempView("documents")

  test("native shingles equal the array_distinct/transform chain") {
    docsView()
    // the chain the oracle keeps, expressed with Spark primitives: use
    // the trait default implementation (SparkDialect overrides it)
    val hofChain = {
      val d = SparkDialect
      // inline the trait body: distinct(transform(sequence, concat))
      val toks = "graft_tokens(text)"
      s"""array_distinct(transform(
         |  CASE WHEN size($toks) - 2 >= 1 THEN sequence(1, size($toks) - 2)
         |       ELSE slice(sequence(1, 1), 1, 0) END,
         |  i -> element_at($toks, i) || ' ' || element_at($toks, i + 1)
         |       || ' ' || element_at($toks, i + 2)))""".stripMargin
    }
    val native = spark.sql(
      s"SELECT doc_id, graft_shingles3(graft_tokens(text)) AS g FROM documents")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toMap
    val hof = spark.sql(s"SELECT doc_id, $hofChain AS g FROM documents")
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toMap
    assert(native.size == 500)
    assert(native == hof)
  }

  test("native minhash equals the grouped 32-min SQL formulation") {
    docsView()
    val native = spark.sql(
      """SELECT doc_id, graft_minhash(graft_shingles3(graft_tokens(text))) AS mh
        |FROM documents""".stripMargin)
      .where("mh IS NOT NULL")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    val d = SparkDialect
    val P = TextOps.P
    val mins = (0 until TextOps.NumPerms).map(i =>
      s"min((${TextOps.permA(i)} * g + ${TextOps.permB(i)}) % $P) AS h$i")
      .mkString(", ")
    val grouped = spark.sql(
      s"""WITH t AS (
         |  SELECT doc_id, explode(graft_shingles3(graft_tokens(text))) AS gram
         |  FROM documents),
         |g AS (SELECT doc_id, (${d.h60("gram")} % $P) AS g FROM t)
         |SELECT doc_id, $mins FROM g GROUP BY doc_id""".stripMargin)
      .collect().map(r => (r.getLong(0),
        (1 to TextOps.NumPerms).map(r.getLong(_)).toSeq)).toMap
    assert(native.keySet == grouped.keySet)
    assert(native.forall { case (k, v) => grouped(k) == v })
  }

  test("edge shapes: short arrays and empty grams") {
    import spark.implicits._
    val rows = Seq(
      (1L, Seq.empty[String]),
      (2L, Seq("a", "b")),           // < 3 tokens → no shingles
      (3L, Seq("a", "b", "c")),      // exactly one shingle
      (4L, Seq("a", "b", "a", "b", "a")) // overlapping, duplicate grams
    ).toDF("id", "toks")
      .selectExpr("id", "graft_shingles3(toks) AS g",
        "graft_minhash(graft_shingles3(toks)) AS mh")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[String](1),
        if (r.isNullAt(2)) null else r.getSeq[Long](2))).toList
    assert(rows(0)._2.isEmpty && rows(0)._3 == null)
    assert(rows(1)._2.isEmpty && rows(1)._3 == null)
    assert(rows(2)._2 == Seq("a b c") && rows(2)._3 != null)
    assert(rows(3)._2 == Seq("a b a", "b a b", "a b a").distinct)
  }
}
