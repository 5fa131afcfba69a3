package graft.ops

import graft.{GraftSession, SparkSuite}

/** The BPE trainer against the textbook example (Sennrich et al.
  * 2016's low/lower/newest/widest corpus, hand-traced merge sequence)
  * plus cross-algorithm parity: the distributed driver-loop trainer
  * must agree with the unrolled pure-Catalyst SQL formulation (the
  * same text the DuckDB oracle runs) on the real fixture. */
class BpeTrainSpec extends SparkSuite {

  /** A documents dir holding the classic corpus with known merges:
    * low×5, lower×2, newest×6, widest×3. */
  private lazy val handDir: String = {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("bpe_hand").toString
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    Seq((1L, text)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("hand-traced merge sequence on the textbook corpus") {
    val got = BpeTrain.bpeMerges(spark, handDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    val want = Seq(
      (1L, "e", "s", "es", 9L),      // es/st tie at 9 → pair ASC
      (2L, "es", "t", "est", 9L),
      (3L, "l", "o", "lo", 7L),      // lo/ow tie at 7
      (4L, "lo", "w", "low", 7L),
      (5L, "e", "w", "ew", 6L),      // ew/ne/"w est" tie at 6
      (6L, "ew", "est", "ewest", 6L),
      (7L, "n", "ewest", "newest", 6L),
      (8L, "d", "est", "dest", 3L),
      (9L, "i", "dest", "idest", 3L),
      (10L, "w", "idest", "widest", 3L))
    assert(got == want)
  }

  test("driver-loop trainer == unrolled-SQL trainer on the fixture") {
    val loop = BpeTrain.bpeMerges(spark, sf()).collect().toSeq
    graft.Tables.documents(spark, sf())
      .createOrReplaceTempView("documents")
    val unrolled = spark.sql(BpeTrain.bpeMergesSql(SparkDialect))
      .collect().toSeq
    assert(loop.nonEmpty && loop == unrolled)
  }

  test("encode: literal-chain engine == cross-join oracle form") {
    val eng = BpeTrain.bpeEncode(spark, sf()).collect().toSeq
    graft.Tables.documents(spark, sf())
      .createOrReplaceTempView("documents")
    // the oracle text's ~60-CTE chain (train + encode, unrolled) needs
    // more analyzer fixpoint iterations than Spark's default 100; only
    // this spec runs the oracle through Spark — the correctness gate
    // hands it to DuckDB, whose planner walks CTE chains linearly
    GraftSession.withConf(spark, "spark.sql.analyzer.maxIterations", "500") {
      val sqlForm = spark.sql(BpeTrain.bpeEncodeSql(SparkDialect))
        .collect().toSeq
      assert(eng.nonEmpty && eng == sqlForm)
    }
  }

  test("encode invariants: merges only fuse, never split or drop") {
    BpeTrain.bpeEncode(spark, sf()).collect().foreach { r =>
      val (nTok, nChars, nSym) =
        (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nSym <= nChars, s"doc ${r.getLong(0)}: more symbols than chars")
      assert(nSym >= nTok, s"doc ${r.getLong(0)}: fewer symbols than tokens")
      if (nTok > 0) assert(r.getDouble(4) >= 1.0)
    }
  }

  test("fertility: per-lang sums reconcile with the per-doc encode") {
    val enc = BpeTrain.bpeEncode(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val lang = graft.Tables.documents(spark, sf())
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val want = enc.groupBy(e => lang(e._1)).map { case (l, es) =>
      (l, es.length.toLong, es.map(_._2).sum, es.map(_._3).sum,
        es.map(_._4).sum)
    }.toSet
    val got = BpeTrain.bpeFertility(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == want)
  }

  test("greedy replace semantics: overlap and adjacency edge cases") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("bpe_edge").toString
    // "aaa": merge (a,a) must fuse greedily left-to-right → [aa, a],
    // leaving pair (aa,a) for the next round, NOT (a,aa).
    Seq((1L, "aaa aaa aaa")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ms = BpeTrain.bpeMerges(spark, dir).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(ms.take(2) == Seq(("a", "a", 6L), ("aa", "a", 3L)))
  }
}
