package graft.streaming

import graft.SparkSuite
import graft.ops.{SparkDialect, TextAnalysis, TextFilters}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

/** The curation fragments the batch relations and the DuckDB oracle
  * share (`TextAnalysis.scoredSplitExprs`, `TextAnalysis.PiiFamilies`/
  * `piiRedact`, `TextFilters.gopher*Exprs`) are narrow per-row
  * projections: applied with `selectExpr` to a stream they keep no
  * state and add no shuffle, so a corpus fed through Structured
  * Streaming equals the batch computation row-for-row. */
class StreamingCurationSpec extends SparkSuite {
  import spark.implicits._

  /** Quality score + split on doc_id / text, keeping score ≥ 0.5. */
  private def curate(docs: DataFrame): DataFrame =
    docs
      .selectExpr(("*" +: TextAnalysis.scoredSplitExprs(SparkDialect)): _*)
      .filter("quality_score >= 0.5")

  /** Per-family PII counts, then redact (rewrite the text) or drop. */
  private def piiGate(docs: DataFrame, redact: Boolean = true): DataFrame = {
    val d = SparkDialect
    val counts = TextAnalysis.PiiFamilies.map { case (name, pat) =>
      s"CAST(${d.regexpExtractAllSize("lower(text)", pat)} AS BIGINT) AS $name"
    }
    val flagged = docs.selectExpr("*" +: counts: _*)
      .selectExpr("*",
        "(n_emails + n_ips + n_ids + n_phones > 0) AS has_pii")
    if (redact)
      flagged.withColumn("text", org.apache.spark.sql.functions.expr(
        s"CASE WHEN has_pii THEN ${TextAnalysis.piiRedact(d, "lower(text)")} " +
          "ELSE text END"))
    else flagged.filter("NOT has_pii")
  }

  /** The Gopher rule battery staged as chained projections, so the
    * tokenization lands in one materialized column. */
  private def gopherGate(docs: DataFrame, keepOnly: Boolean = true): DataFrame = {
    val d = SparkDialect
    val rules = TextFilters.gopherRuleExprs(d)
    val verdicts = docs
      .selectExpr("*", s"${d.tokens("text")} AS toks")
      .selectExpr("*" +: TextFilters.gopherCountExprs(d): _*)
      .selectExpr("*" +: TextFilters.gopherRatioExprs(d): _*)
      .selectExpr(("*" +: rules.map { case (n, e) => s"$e AS $n" }): _*)
      .selectExpr("*",
        s"(${rules.map(_._1).mkString(" AND ")}) AS passes_gopher")
      .drop("toks", "word_chars", "n_sym", "n_lines", "n_bullet",
        "n_ellipsis", "n_alpha_words")
    if (keepOnly) verdicts.filter("passes_gopher") else verdicts
  }

  test("streamed curation equals the batch quality+split computation") {
    val batch = curate(graft.Tables.documents(spark, sf()))
      .select($"doc_id", $"quality_score", $"split")
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getString(2))))
      .toMap

    // stream the same fixture through AvailableNow (the file source
    // needs a directory — stage the fixture file into one)
    val dir = java.nio.file.Files.createTempDirectory("curation_src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(sf() + "/documents.parquet"),
      dir.resolve("documents.parquet"))
    val schema = graft.Tables.documents(spark, sf()).schema
    val q = curate(spark.readStream.schema(schema).parquet(dir.toString))
      .writeStream.format("memory").queryName("curated_docs")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    try assert(q.awaitTermination(120000), "stream did not finish in time")
    finally q.stop()

    val streamed = spark.table("curated_docs")
      .select($"doc_id", $"quality_score", $"split")
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getString(2))))
      .toMap
    assert(streamed.nonEmpty && streamed.size < 500) // the gate filtered
    assert(streamed == batch)
    // every surviving score clears the gate; splits are the 3 buckets
    assert(streamed.values.forall(_._1 >= 0.5))
    assert(streamed.values.map(_._2).toSet.subsetOf(Set("train", "val", "test")))
  }

  test("the streaming pass keeps the batch plan shape: no state, no shuffle") {
    val plan = curate(graft.Tables.documents(spark, sf()))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(800))
    assert(!plan.contains("StateStore"), plan.take(800))
  }

  test("PII gate redacts or drops on a streamed feed exactly like batch") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "mail me at alice@example.com for the report"),
      (2L, "a perfectly clean document with no identifiers"),
      (3L, "server 10.0.0.7 and ssn 123-45-6789 leaked"))
    val batchRedacted = piiGate(docs.toDF("doc_id", "text"), redact = true)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("text"), r.getAs[Boolean]("has_pii"))).toMap
    assert(batchRedacted(1L)._2 && batchRedacted(3L)._2 && !batchRedacted(2L)._2)
    assert(batchRedacted(1L)._1.contains("<pii>") &&
      !batchRedacted(1L)._1.contains("alice@"))
    assert(!batchRedacted(3L)._1.contains("123-45-6789"))
    assert(batchRedacted(2L)._1 == docs(1)._2, "clean text passes untouched")

    val input = MemoryStream[(Long, String)]
    val q = piiGate(input.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("pii_gated")
      .outputMode("append").start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      val streamed = spark.table("pii_gated")
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[String]("text"), r.getAs[Boolean]("has_pii"))).toMap
      assert(streamed == batchRedacted, "stream == batch under redaction")
    } finally q.stop()

    // drop mode removes the flagged docs entirely
    val dropped = piiGate(docs.toDF("doc_id", "text"), redact = false)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(dropped == Set(2L))
  }

  test("gopher gate keeps exactly the batch rule-battery's documents") {
    implicit val sqlCtx = spark.sqlContext
    // batch expectation: the oracle-checked relation's verdicts
    graft.Tables.documents(spark, sf()).createOrReplaceTempView("documents")
    val oracle = spark.sql(TextFilters.gopherRulesSql(SparkDialect))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("passes_gopher")).toMap
    val expectedKept = oracle.filter(_._2).keySet
    assert(expectedKept.nonEmpty && expectedKept.size < oracle.size)

    val fixture = graft.Tables.documents(spark, sf())
      .select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1)))

    val input = MemoryStream[(Long, String)]
    val q = gopherGate(input.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("gopher_gated")
      .outputMode("append").start()
    try {
      input.addData(fixture: _*)
      q.processAllAvailable()
      val streamedKept = spark.table("gopher_gated")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(streamedKept == expectedKept,
        "stream keeps exactly the batch relation's passing documents")
    } finally q.stop()

    // audit mode carries every row with its verdicts, matching the
    // batch relation on the rule verdicts
    val audit = gopherGate(fixture.toSeq.toDF("doc_id", "text"), keepOnly = false)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Boolean]("passes_gopher")).toMap
    assert(audit == oracle)
    val plan = gopherGate(fixture.toSeq.toDF("doc_id", "text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("StateStore"),
      plan.take(800))
  }

  test("rules-then-model chain: gopher gate composes upstream of curate") {
    implicit val sqlCtx = spark.sqlContext
    val fixture = graft.Tables.documents(spark, sf())
      .select($"doc_id", $"text")
    // batch expectation: cheap rules first, the quality score on survivors
    val batchKept = curate(gopherGate(fixture))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val gopherOnly = gopherGate(fixture).count()
    assert(batchKept.nonEmpty && batchKept.size < gopherOnly,
      "both gates must bite in the chain")

    val rows = fixture.collect().map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String)]
    val q = curate(gopherGate(input.toDS().toDF("doc_id", "text")))
      .writeStream.format("memory").queryName("rules_then_model")
      .outputMode("append").start()
    try {
      input.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("rules_then_model")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(streamed == batchKept)
    } finally q.stop()
  }
}
