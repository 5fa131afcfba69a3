package graft.ops

import graft.SparkSuite

/** Round-14 additions: per-source token-distribution drift (PSI),
  * near-dup graph degree histogram, and the NDCG@5 ranking-quality
  * harness.  Each gets (a) a semantic property check, (b) a
  * reconciliation against an independent recomputation, and (c) the
  * engine ≡ oracle-SQL-run-by-Spark equivalence. */
class Round14OpsSpec extends SparkSuite {

  // ---------------- text_token_drift ----------------

  test("token drift: one row per source, psi >= 0, totals reconcile") {
    val rows = TextFilters.tokenDrift(spark, sf("sf0.01")).collect()
    graft.Tables.documents(spark, sf("sf0.01"))
      .createOrReplaceTempView("documents")
    val srcs = spark.sql(
      "SELECT coalesce(source, '(null)') AS s FROM documents GROUP BY 1")
      .collect().map(_.getString(0)).toSet
    assert(rows.map(_.getString(0)).toSet == srcs)
    // PSI is a sum of (p-q)ln(p/q) terms, each >= 0; quantization can
    // only move the sum by |terms| * 1e-9
    rows.foreach(r => assert(r.getDouble(2) >= -1e-6,
      s"negative psi for ${r.getString(0)}"))
    // per-source token masses sum to the corpus token count
    val total = spark.sql(
      "SELECT sum(size(graft_tokens(text))) FROM documents")
      .collect()(0).getLong(0)
    assert(rows.map(_.getLong(1)).sum == total)
  }

  test("token drift: a vocabulary-swapped source trips the flag") {
    import spark.implicits._
    // source A speaks the fixture's stopword-ish English, source B a
    // disjoint vocabulary — B's distribution shares no mass with the
    // rest, so its PSI must clear the 0.2 + noise-floor bar
    val en = "the of and to in is that it was for"
    val zz = "zorp blee quux frob wibble snarf grue plugh xyzzy thud"
    val docs = (1 to 40).map(i =>
      (i.toLong, if (i % 2 == 0) en else zz,
        "en", if (i % 2 == 0) "web" else "weird", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.createOrReplaceTempView("documents")
    val rows = spark.sql(TextFilters.tokenDriftSql(SparkDialect))
      .collect().map(r => r.getString(0) -> r.getInt(4)).toMap
    assert(rows("web") == 1 && rows("weird") == 1)
  }

  test("token drift: engine == oracle SQL form (run by Spark)") {
    val eng = TextFilters.tokenDrift(spark, sf("sf0.01")).collect()
    graft.Tables.documents(spark, sf("sf0.01"))
      .createOrReplaceTempView("documents")
    val sqlForm =
      spark.sql(TextFilters.tokenDriftSql(SparkDialect)).collect()
    assert(eng.toSeq == sqlForm.toSeq)
  }

  // ---------------- dedup_degree_hist ----------------

  test("degree hist: masses reconcile with the pair list") {
    val rows = Dedup.degreeHist(spark, sf("sf0.01")).collect()
    val nDocs = graft.Tables.documents(spark, sf("sf0.01")).count()
    assert(rows.map(_.getLong(1)).sum == nDocs)
    val nPairs = Dedup.ngramJaccard(spark, sf("sf0.01")).count()
    // sum of degrees counts each pair at both endpoints
    assert(rows.map(r => r.getLong(0) * r.getLong(1)).sum == 2 * nPairs)
    // degrees are distinct and sorted
    val degs = rows.map(_.getLong(0)).toSeq
    assert(degs == degs.sorted && degs.distinct == degs)
  }

  test("degree hist: engine == oracle SQL form (run by Spark)") {
    val eng = Dedup.degreeHist(spark, sf("sf0.01")).collect()
    graft.Tables.documents(spark, sf("sf0.01"))
      .createOrReplaceTempView("documents")
    val sqlForm =
      spark.sql(Dedup.degreeHistSql(SparkDialect)).collect()
    assert(eng.toSeq == sqlForm.toSeq)
  }

  // ---------------- sim_retrieval_ndcg ----------------

  test("ndcg: bounded in [0,1], 1.0 iff the full true set is returned") {
    val rows = Similarity.retrievalNdcg(spark, sf("sf0.01")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      for (c <- Seq("ndcg_kmeans", "ndcg_ivf_pq")) {
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.0 + 1e-9, s"$c=$v out of range")
      }
    }
    // binary-gain NDCG@5 is exactly 1 when the served set equals the
    // true set (any order): cross-check ndcg=1 rows against recall=1
    // rows from the recall harness for the shared kmeans variant
    val recall = Similarity.recall(spark, sf("sf0.01")).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Double]("recall_kmeans"))
      .toMap
    rows.foreach { r =>
      val qid = r.getAs[Long]("query_id")
      val ndcg = r.getAs[Double]("ndcg_kmeans")
      // forward direction needs n_true == served k: with n_true < 5
      // a full-recall variant can still place its matches late
      if (recall(qid) == 1.0 && r.getAs[Long]("n_true") == 5)
        assert(ndcg == 1.0, s"query $qid: full recall but ndcg=$ndcg")
      if (ndcg == 1.0) assert(recall(qid) == 1.0,
        s"query $qid: ndcg=1 but recall=${recall(qid)}")
    }
  }

  test("ndcg: engine == oracle SQL form (run by Spark), full + sampled") {
    graft.Tables.embeddings(spark, sf("sf0.001"))
      .createOrReplaceTempView("embeddings")
    val eng = Similarity.retrievalNdcg(spark, sf("sf0.001")).collect()
    val sqlForm =
      spark.sql(Similarity.retrievalNdcgSql(SparkDialect)).collect()
    assert(eng.toSeq == sqlForm.toSeq)
    val engS =
      Similarity.retrievalNdcgSampled(spark, sf("sf0.001")).collect()
    val sqlFormS =
      spark.sql(Similarity.retrievalNdcgSampledSql(SparkDialect)).collect()
    assert(engS.toSeq == sqlFormS.toSeq)
  }
}
