package graft.ops

import graft.SparkSuite

class TextAnalysisSpec extends SparkSuite {

  test("chunking tiles every document with the declared window and stride") {
    val w = TextAnalysis.ChunkWindow
    val s = TextAnalysis.ChunkWindow - TextAnalysis.ChunkOverlap
    val rows = TextAnalysis.chunking(spark, sf()).collect()
    assert(rows.nonEmpty)
    // independent token counts with the operator's own tokenizer
    graft.Tables.documents(spark, sf()).createOrReplaceTempView("documents")
    val nToks = spark.sql(
        "SELECT doc_id, size(graft_tokens(text)) AS n FROM documents")
      .collect().map(r => r.getAs[Long](0) -> r.getInt(1).toLong).toMap
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == nToks.keySet)
    rows.groupBy(_.getAs[Long]("doc_id")).foreach { case (did, cs) =>
      val nTok = nToks(did)
      val sorted = cs.sortBy(_.getAs[Long]("chunk_id"))
      // contiguous ids from 0; starts advance by the stride
      assert(sorted.map(_.getAs[Long]("chunk_id")).toSeq ==
        (0L until sorted.length))
      sorted.foreach { c =>
        assert(c.getAs[Long]("start_tok") ==
          c.getAs[Long]("chunk_id") * s + 1)
        assert(c.getAs[Long]("n_tok_chunk") <= w)
      }
      // full coverage: non-final chunks are full windows and the last
      // chunk ends exactly at the document's final token
      sorted.init.foreach(c => assert(c.getAs[Long]("n_tok_chunk") == w))
      val last = sorted.last
      assert(last.getAs[Long]("start_tok") +
        last.getAs[Long]("n_tok_chunk") - 1 == nTok, s"doc $did")
      // chunk count is the closed-form next-fit count
      val expected = if (nTok <= w) 1L else 1L + (nTok - w + s - 1) / s
      assert(sorted.length.toLong == expected, s"doc $did n_tok $nTok")
    }
  }

  test("token counts cover every doc with sane values") {
    val rows = TextAnalysis.tokenCounts(spark, sf()).collect()
    assert(rows.length == 500)
    assert(rows.forall { r =>
      val ws = r.getAs[Long]("n_ws_tokens")
      val bpe = r.getAs[Long]("n_bpe_tokens")
      val norm = r.getAs[Long]("n_norm_tokens")
      ws > 0 && bpe >= ws && norm > 0
    })
  }

  test("quality scores are bounded [0, 1] with consistent ratios") {
    val rows = TextAnalysis.quality(spark, sf()).collect()
    assert(rows.length == 500)
    assert(rows.forall { r =>
      val q = r.getAs[Double]("quality_score")
      val sym = r.getAs[Double]("symbol_ratio")
      val dig = r.getAs[Double]("digit_ratio")
      val stop = r.getAs[Double]("stopword_ratio")
      q >= 0 && q <= 1 && sym >= 0 && sym <= 1 &&
        dig >= 0 && dig <= 1 && stop >= 0 && stop <= 1
    })
  }

  test("language id predicts a known tag with hit support") {
    val rows = TextAnalysis.langId(spark, sf()).collect()
    assert(rows.length == 500)
    val tags = Set("en", "es", "fr", "de", "und")
    assert(rows.forall(r => tags(r.getAs[String]("pred_lang"))))
    assert(rows.forall { r =>
      (r.getAs[String]("pred_lang") == "und") ==
        (r.getAs[Long]("best_hits") == 0L)
    })
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("repetition signals match hand-computed values") {
    import spark.implicits._
    Seq((1L, "a a a a b"), (2L, "w x y z q r"), (3L, "p q"))
      .toDF("doc_id", "text").createOrReplaceTempView("documents")
    val m = spark.sql(TextAnalysis.repetitionSql(SparkDialect)).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    // doc 1: top word 4/5, 3-gram positions {aaa, aaa, aab} → dup 1/3,
    // both past the bars
    assert(m(1L) == ((5L, 0.8, round6(1.0 / 3), 1L)))
    // doc 2: all-distinct — no repetition signal fires
    assert(m(2L) == ((6L, round6(1.0 / 6), 0.0, 0L)))
    // doc 3: under 3 words → no 3-gram positions, but top word 1/2
    assert(m(3L) == ((2L, 0.5, 0.0, 1L)))
  }

  test("repetition matches the Scala reference on seeded random token streams") {
    import spark.implicits._
    val rnd = new scala.util.Random(4321)
    // small vocab forces real repetition; varying length hits the n<3 edge
    val docs = (0 until 100).map { i =>
      val len = 1 + rnd.nextInt(12)
      i.toLong -> Seq.fill(len)(s"w${rnd.nextInt(4)}").mkString(" ")
    }
    docs.toDF("doc_id", "text").createOrReplaceTempView("documents")
    val got = spark.sql(TextAnalysis.repetitionSql(SparkDialect)).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    docs.foreach { case (id, text) =>
      val toks = text.split(" ").toSeq
      val twf = toks.groupBy(identity).values.map(_.size).max.toDouble / toks.size
      val grams = toks.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSeq
      val dgf = if (toks.size >= 3)
        1.0 - grams.distinct.size.toDouble / (toks.size - 2) else 0.0
      val rep = if (twf > 0.2 || dgf > 0.3) 1L else 0L
      assert(got(id) == ((toks.size.toLong, round6(twf), round6(dgf), rep)),
        s"doc $id: '$text'")
    }
  }

  test("dup spans match hand-computed values: cross-doc, within-doc, short") {
    import spark.implicits._
    val shared = (1 to 8).map(i => s"s$i").mkString(" ")
    Seq(
      1L -> s"$shared a b c",      // 4 spans; position 1 duplicated in doc 2
      2L -> s"x y $shared",        // 3 spans; position 3 duplicated in doc 1
      3L -> "u1 u2 u3 u4 u5 u6 u7 u8 u9", // all spans unique
      4L -> "too short",           // < 8 tokens → 0 spans, frac 0
      5L -> s"$shared $shared")    // 9 spans; within-doc repeat dups 2 of them
      .toDF("doc_id", "text").createOrReplaceTempView("documents")
    val got = spark.sql(TextAnalysis.dupSpansSql(SparkDialect)).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((4L, 1L, 0.25)))
    assert(got(2L) == ((3L, 1L, round6(1.0 / 3))))
    assert(got(3L) == ((2L, 0L, 0.0)))
    assert(got(4L) == ((0L, 0L, 0.0)))
    // doc 5: of its 9 spans only positions 1 and 9 are the shared
    // 8-gram (occ 4 corpus-wide: docs 1, 2, and twice here)
    assert(got(5L) == ((9L, 2L, round6(2.0 / 9))))
  }

  test("dup span cut removes exactly the union of covering intervals") {
    import spark.implicits._
    val shared = (1 to 8).map(i => s"s$i").mkString(" ")
    Seq(
      1L -> s"$shared a b c",      // dup start 1 covers pos 1-8 of 11
      2L -> s"x y $shared",        // dup start 3 covers pos 3-10 of 10
      3L -> "u1 u2 u3 u4 u5 u6 u7 u8 u9", // no dup spans → nothing cut
      4L -> "too short",           // < 8 tokens → nothing cut
      5L -> s"$shared $shared")    // starts 1 and 9 cover all 16
      .toDF("doc_id", "text").createOrReplaceTempView("documents")
    val got = spark.sql(TextAnalysis.dupSpanCutSql(SparkDialect)).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got(1L) == ((11L, 8L, 3L, round6(8.0 / 11))))
    assert(got(2L) == ((10L, 8L, 2L, 0.8)))
    assert(got(3L) == ((9L, 0L, 9L, 0.0)))
    assert(got(4L) == ((2L, 0L, 2L, 0.0)))
    assert(got(5L) == ((16L, 16L, 0L, 1.0)))
  }

  test("dup span cut is consistent with the dup spans measurement") {
    val cut = TextAnalysis.dupSpanCut(spark, sf()).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("cut_tokens"),
          r.getAs[Long]("kept_tokens")))).toMap
    val spans = TextAnalysis.dupSpans(spark, sf()).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_dup_spans")).toMap
    assert(cut.keySet == spans.keySet && cut.nonEmpty)
    cut.foreach { case (id, (n, c, k)) =>
      assert(k == n - c && c >= 0 && c <= n, s"doc $id")
      val nd = spans(id)
      // a doc is cut iff it has a duplicated span; each dup start cuts
      // at most 8 positions, and one cuts at least min(8, n)
      if (nd == 0L) assert(c == 0L, s"doc $id")
      else assert(c >= math.min(8L, n) && c <= math.min(n, nd * 8L),
        s"doc $id: n=$n c=$c nd=$nd")
    }
  }

  test("repetition fractions are bounded on the fixture corpus") {
    val rows = TextAnalysis.repetition(spark, sf()).collect()
    assert(rows.length == 500)
    assert(rows.forall { r =>
      val tw = r.getAs[Double]("top_word_frac")
      val dg = r.getAs[Double]("dup_3gram_frac")
      val rep = r.getAs[Long]("repetitive")
      tw > 0 && tw <= 1 && dg >= 0 && dg < 1 &&
        (rep == 1L) == (tw > 0.2 || dg > 0.3)
    })
  }

  test("mixture plan matches hand-computed rates and caps at 1") {
    import spark.implicits._
    // en: 8 tokens, de: 2 tokens → total 10, budget 5, share 2.5 each:
    // en rate 2.5/8, de capped at 1.0 (short of its share, taken whole)
    Seq((1L, "a b c d", "en"), (2L, "e f g h", "en"), (3L, "i j", "de"))
      .toDF("doc_id", "text", "lang").createOrReplaceTempView("documents")
    val m = spark.sql(TextAnalysis.mixturePlanSql(SparkDialect)).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    assert(m("en") == ((8L, 0.8, 0.3125, 3L))) // round(2.5, 0) → 3
    assert(m("de") == ((2L, 0.2, 1.0, 2L)))
  }

  test("mixture plan on the fixture: rates bounded, budget respected") {
    val rows = TextAnalysis.mixturePlan(spark, sf()).collect()
    val total = rows.map(_.getAs[Long]("lang_tokens")).sum
    assert(rows.forall { r =>
      val rate = r.getAs[Double]("sample_rate")
      rate > 0 && rate <= 1 &&
        r.getAs[Long]("expected_tokens") <= r.getAs[Long]("lang_tokens")
    })
    // expected take stays within the half-corpus budget (+1/lang rounding)
    assert(rows.map(_.getAs[Long]("expected_tokens")).sum
      <= total / 2 + rows.length)
    assert(math.abs(rows.map(_.getAs[Double]("natural_share")).sum - 1.0) < 1e-4)
  }

  test("fingerprints are stable, in-range, and order-sensitive") {
    val a = TextAnalysis.fingerprint(spark, sf()).collect()
    val b = TextAnalysis.fingerprint(spark, sf()).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq) // deterministic
    assert(a.forall { r =>
      val fp = r.getAs[Long]("doc_fp"); fp >= 0 && fp < TextOps.P
    })
    // distinct docs should (overwhelmingly) have distinct fingerprints
    assert(a.map(_.getAs[Long]("doc_fp")).distinct.length > 490)
  }

  test("PII families fire on a synthetic corpus and redaction shortens the text") {
    import spark.implicits._
    val docs = Seq(
      (1L, "contact me at Alice.Smith+work@example.COM or bob@sub.domain.org"),
      (2L, "server at 192.168.1.10 and 10.0.0.255 responded"),
      (3L, "ssn 123-45-6789 on file"),
      (4L, "call +1 (415) 555-0199 today"),
      (5L, "a perfectly clean document with no identifiers at all"))
    docs.toDF("doc_id", "text").createOrReplaceTempView("documents")
    val got = spark.sql(TextAnalysis.piiSql(SparkDialect)).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getAs[Long]("n_emails") == 2)
    assert(got(2L).getAs[Long]("n_ips") == 2)
    assert(got(3L).getAs[Long]("n_ids") == 1)
    // the digit-run family overlaps the SSN shape by design
    assert(got(3L).getAs[Long]("n_phones") >= 1)
    assert(got(4L).getAs[Long]("n_phones") >= 1)
    assert(got(5L).getAs[Long]("n_emails") == 0 &&
      got(5L).getAs[Long]("n_ips") == 0 && got(5L).getAs[Long]("n_ids") == 0 &&
      got(5L).getAs[Long]("n_phones") == 0)
    assert(!got(5L).getAs[Boolean]("has_pii"))
    docs.foreach { case (id, text) =>
      val r = got(id)
      assert(r.getAs[Boolean]("has_pii") == (id != 5L))
      if (id != 5L)
        assert(r.getAs[Long]("redacted_len") < text.length,
          s"doc $id must shrink under redaction")
      else assert(r.getAs[Long]("redacted_len") == text.length)
    }
  }

  test("curation log verdicts are consistent with the operators they explain") {
    val log = TextAnalysis.curationLog(spark, sf()).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(log.size == 500)
    // stage 1: passed_quality == membership in the inlined score gate
    val passers = graft.Tables.documents(spark, sf())
      .selectExpr(("doc_id" +: TextAnalysis.scoredSplitExprs(SparkDialect)): _*)
      .filter("quality_score >= 0.5")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    log.foreach { case (id, r) =>
      assert(r.getAs[Boolean]("passed_quality") == passers.contains(id), s"doc $id")
    }
    // stage 2: dedup verdict only among passers; keeper = min doc_id of
    // the normalized-digest group (recomputed independently)
    val texts = graft.Tables.documents(spark, sf())
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val reps = passers.groupBy(id =>
        texts(id).trim.toLowerCase.replaceAll("\\s+", " "))
      .values.flatMap(g => g.map(_ -> g.min)).toMap
    log.foreach { case (id, r) =>
      if (passers.contains(id))
        assert(r.getAs[Boolean]("is_exact_dup") == (reps(id) != id), s"doc $id")
      else assert(r.isNullAt(r.fieldIndex("is_exact_dup")),
        s"doc $id never reached dedup")
    }
    // kept mirrors the curation pipeline exactly (quality + keeper);
    // has_pii is advisory, never a kept conjunct
    val kept = log.collect { case (id, r) if r.getAs[Boolean]("kept") => id }.toSet
    assert(kept == passers.filter(id => reps(id) == id))
    // the kept corpus is exactly what text_curation aggregates
    val curN = TextAnalysis.curation(spark, sf()).collect()
      .map(_.getAs[Long]("n_docs")).sum
    assert(kept.size.toLong == curN)
  }

  test("unigram surprisal matches a Scala recomputation with quantized sums") {
    val texts = graft.Tables.documents(spark, sf())
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def toks(t: String): Seq[String] =
      t.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
        .split(" ").filter(_.nonEmpty).toSeq
    val all = texts.flatMap(d => toks(d._2))
    val tf = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val total = all.length.toDouble
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected = texts.map { case (id, t) =>
      val q = toks(t).map(w => math.rint(math.log(tf(w) / total) * 1e6).toLong)
      id -> ((q.length.toLong, r6(-q.sum.toDouble / (1e6 * q.length))))
    }.toMap
    val got = TextAnalysis.unigramLogprob(spark, sf()).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got == expected)
    assert(got.values.forall(_._2 > 0), "surprisal is positive")
  }

  test("novelty counts singleton shingles exactly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),      // shingles: a b g, b g d
      (2L, "alpha beta gamma epsilon"),    // shares 'alpha beta gamma'
      (3L, "zeta eta theta iota"))         // all unique
    docs.toDF("doc_id", "text").createOrReplaceTempView("documents")
    val got = spark.sql(TextAnalysis.noveltySql(SparkDialect)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(1L) == ((2L, 1L, 0.5)))
    assert(got(2L) == ((2L, 1L, 0.5)))
    assert(got(3L) == ((2L, 2L, 1.0)))
    // fixture: fractions bounded and some sharing exists
    val fix = TextAnalysis.novelty(spark, sf()).collect()
    assert(fix.nonEmpty)
    assert(fix.forall { r =>
      val f = r.getDouble(3); f >= 0.0 && f <= 1.0
    })
  }

  test("the fixture corpus is PII-free and every row says so") {
    val rows = TextAnalysis.pii(spark, sf()).collect()
    assert(rows.length == 500)
    assert(rows.forall(r => !r.getAs[Boolean]("has_pii")))
    assert(rows.forall(r => r.getAs[Long]("redacted_len") > 0))
  }

  test("curation funnel aggregates the full audit log exactly") {
    val log = TextAnalysis.curationLogFull(spark, sf()).collect()
    val n0 = log.length.toLong
    val n1 = log.count(_.getAs[Boolean]("passed_quality")).toLong
    val n2 = log.count(r => !r.isNullAt(r.fieldIndex("passed_surprisal"))
      && r.getAs[Boolean]("passed_surprisal")).toLong
    val n3 = log.count(_.getAs[Boolean]("kept")).toLong

    val funnel = TextAnalysis.curationFunnel(spark, sf()).collect()
      .map(r => r.getAs[String]("stage") ->
        (r.getAs[Long]("n_in"), r.getAs[Long]("n_out"))).toMap
    assert(funnel == Map(
      "quality" -> (n0, n1), "surprisal" -> (n1, n2), "dedup" -> (n2, n3)))
    // a funnel narrows monotonically and every stage is live
    assert(n0 > n1 && n1 >= n2 && n2 >= n3 && n3 > 0)
  }

  test("corpus-derived surprisal band keeps a sane rate on a shifted " +
      "distribution") {
    import spark.implicits._
    // a corpus whose surprisal distribution sits nowhere near the
    // benchmark fixture's ~3.4: a tiny Zipf-ish vocabulary puts mean
    // surprisal around ln(vocab) ≈ 2 — a FIXED fixture-fit band would
    // reject every document here.  Texts are ≥ 60 plain tokens so the
    // quality gate passes and the surprisal stage is what decides.
    val common = Seq("alpha", "beta", "gamma", "delta")
    val rare = (0 until 40).map(i => s"rare$i")
    def text(i: Int): String = {
      // vary the common/rare mix per doc so surprisal has spread
      val nRare = i % 5
      val toks = (0 until (60 - nRare)).map(j => common((i + j) % 4)) ++
        rare.slice((i * 3) % 36, (i * 3) % 36 + nRare)
      toks.mkString(" ")
    }
    (1 to 200).map(i => (i.toLong, text(i)))
      .toDF("doc_id", "text").createOrReplaceTempView("documents")
    val log = spark.sql(TextAnalysis.curationLogFullSql(SparkDialect))
      .collect()
    val lo = log.head.getAs[Double]("surprisal_lo")
    val hi = log.head.getAs[Double]("surprisal_hi")
    // the band followed the corpus (vs the fixture's 3.39-3.41)
    assert(hi < 3.0, s"band [$lo,$hi] should track the shifted corpus")
    assert(lo < hi)
    val passedBand = log.count(r =>
      !r.isNullAt(r.fieldIndex("passed_surprisal")) &&
        r.getAs[Boolean]("passed_surprisal"))
    val failedBand = log.count(r =>
      !r.isNullAt(r.fieldIndex("passed_surprisal")) &&
        !r.getAs[Boolean]("passed_surprisal"))
    // sane band rate: the central bulk survives, both tails are live
    // (the synthetic texts repeat, so the dedup stage after the band
    // legitimately thins `kept` further — the band is what's on trial)
    assert(passedBand >= log.length / 4,
      s"band passed $passedBand of ${log.length} — must keep the bulk")
    assert(failedBand > 0, "a central band must drop some tail docs")
    assert(log.count(_.getAs[Boolean]("kept")) > 0,
      "the full chain still keeps representatives end-to-end")
    // the engine-facing fit helper agrees with the in-query band
    val dir = java.nio.file.Files.createTempDirectory("band_fit")
    spark.table("documents").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val (flo, fhi) = TextAnalysis.surprisalBand(spark, dir.toString)
      .getOrElse(fail("a tokenized corpus must fit a band"))
    assert(math.abs(flo - lo) < 1e-6 && math.abs(fhi - hi) < 1e-6)
    org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("an untokenizable corpus yields no band and all-failed gates, never an NPE") {
    // ADVICE r12: a corpus where NO document has tokens fits no LM —
    // the band quantiles are NULL.  The fit helper must return None
    // (not NPE on getDouble) and the engine entry points must fall
    // back to the in-query NULL band, whose COALESCE-to-FALSE gate
    // fails every document — the single-statement oracle's behavior.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("band_degrade")
    try {
      Seq((1L, "!!! ???"), (2L, "..."), (3L, "--- ***"))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      assert(TextAnalysis.surprisalBand(spark, dir.toString).isEmpty)
      val log = TextAnalysis.curationLogFull(spark, dir.toString).collect()
      assert(log.length == 3)
      assert(log.forall(!_.getAs[Boolean]("kept")))
      // the surprisal stage never passes a doc without LM evidence
      assert(log.forall(r => r.isNullAt(r.fieldIndex("passed_surprisal")) ||
        !r.getAs[Boolean]("passed_surprisal")))
      // the sibling entry points take the same fallback without error
      TextAnalysis.surprisalBuckets(spark, dir.toString).collect()
      TextAnalysis.curationFunnel(spark, dir.toString).collect()
    } finally {
      RelationCache.clear(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }

  test("surprisal buckets partition the corpus around the gate's band") {
    val rows = TextAnalysis.surprisalBuckets(spark, sf()).collect()
      .map(r => r.getAs[String]("bucket") ->
        (r.getAs[Long]("docs"), r.getAs[Double]("lo_surprisal"),
          r.getAs[Double]("hi_surprisal"))).toMap
    // all three buckets live, and together they cover every scored doc
    assert(rows.keySet == Set("head", "middle", "tail"))
    assert(rows.values.map(_._1).sum == 500L)
    // the [Q1, Q3] band keeps the central bulk in the middle (the
    // histogram estimate lands near, not exactly on, the quartiles)
    assert(rows("middle")._1 >= 200L && rows("middle")._1 <= 300L)
    // buckets are ordered intervals: head below middle below tail
    assert(rows("head")._3 <= rows("middle")._2)
    assert(rows("middle")._3 <= rows("tail")._2)
    // the engine's literal-injected band ≡ the single-statement
    // in-query derivation (the oracle form)
    graft.Tables.documents(spark, sf()).createOrReplaceTempView("documents")
    val oracleForm = spark.sql(
      TextAnalysis.surprisalBucketsSql(SparkDialect)).collect()
      .map(r => r.getAs[String]("bucket") ->
        (r.getAs[Long]("docs"), r.getAs[Double]("lo_surprisal"),
          r.getAs[Double]("hi_surprisal"))).toMap
    assert(oracleForm == rows)
  }
}
