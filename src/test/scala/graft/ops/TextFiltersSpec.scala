package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.Row

class TextFiltersSpec extends SparkSuite {

  private def fixtureDocs() = {
    graft.Tables.documents(spark, sf()).createOrReplaceTempView("documents")
  }

  /** Independent reference for the portable 60-bit hash. */
  private def h60(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
    java.lang.Long.parseLong(hex, 16)
  }

  // ---------------- Gopher rule battery ----------------

  test("gopher rules: fixture-live rules have both verdicts populated") {
    val rows = TextFilters.gopherRules(spark, sf()).collect()
    assert(rows.length == 500)
    def split(col: String) = {
      val (p, f) = rows.partition(_.getAs[Boolean](col))
      (p.length, f.length)
    }
    // the three rules whose bounds are fit to the fixture: both
    // branches must be live, else the oracle proves nothing
    for (c <- Seq("r_word_count", "r_mean_word_len", "r_stopwords")) {
      val (pass, fail) = split(c)
      assert(pass > 0 && fail > 0, s"$c pass=$pass fail=$fail")
    }
    val (kept, dropped) = split("passes_gopher")
    assert(kept > 0 && dropped > 0)
    // conjunction is exactly the AND of the per-rule verdicts
    rows.foreach { r =>
      val and = Seq("r_word_count", "r_mean_word_len", "r_symbol_ratio",
        "r_bullet_lines", "r_ellipsis_lines", "r_alpha_words",
        "r_stopwords").forall(r.getAs[Boolean])
      assert(r.getAs[Boolean]("passes_gopher") == and)
    }
  }

  test("gopher rules: each fixture-dead rule fires on a nasty corpus") {
    import spark.implicits._
    // one offender per rule that the clean fixture cannot exercise
    val nasty = Seq(
      // symbol bomb: '#'-riddled short text
      (1L, "the of # and # to # in # is # that # it # was # for # x"),
      // bullet list: every line starts with a bullet
      (2L, "- the of and\n- to in is\n- that it was\n- for and the"),
      // ellipsis spam: every line trails off
      (3L, "the of and to...\nin is that it...\nwas for the of..."),
      // numeric salad: words with no alphabetic character
      (4L, "the of 123 456 789 101 112 131 415 161 718 192 021 222"),
      // clean control that passes every rule (needs >= 20 words,
      // mean word len in [3, 4.6], >= 2 distinct stopwords)
      (5L, ("the of and " + Seq.fill(20)("scan part hash").mkString(" "))))
      .toDF("doc_id", "text")
    nasty.createOrReplaceTempView("documents")
    val rows = spark.sql(TextFilters.gopherRulesSql(SparkDialect))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!rows(1L).getAs[Boolean]("r_symbol_ratio"))
    assert(!rows(2L).getAs[Boolean]("r_bullet_lines"))
    assert(!rows(3L).getAs[Boolean]("r_ellipsis_lines"))
    assert(!rows(4L).getAs[Boolean]("r_alpha_words"))
    assert(rows(5L).getAs[Boolean]("passes_gopher"))
    Seq(1L, 2L, 3L, 4L).foreach(id =>
      assert(!rows(id).getAs[Boolean]("passes_gopher")))
  }

  // ---------------- Count-Min heavy hitters ----------------

  test("count-min estimates dominate exact counts and match a reference sketch") {
    val rows = TextFilters.heavyHitters(spark, sf()).collect()
    assert(rows.length == TextFilters.CmTopN)
    // CM never undercounts
    rows.foreach { r =>
      assert(r.getAs[Boolean]("cm_ge_exact"))
      assert(r.getAs[Long]("cm_est") >= r.getAs[Long]("exact_cnt"))
      assert(r.getAs[Long]("overcount") ==
        r.getAs[Long]("cm_est") - r.getAs[Long]("exact_cnt"))
    }
    // output is the exact top-N, ordered
    val counts = rows.map(_.getAs[Long]("exact_cnt"))
    assert(counts.sameElements(counts.sortBy(-_)))

    // independent reference sketch built in plain Scala over the same
    // tokenizer — pins the hash/bucket arithmetic, not just invariants
    fixtureDocs()
    val toks = spark.sql("SELECT graft_tokens(text) AS t FROM documents")
      .collect().flatMap(_.getSeq[String](0))
    val w = TextFilters.CmWidth
    val sketch = Array.fill(TextFilters.CmDepth, w)(0L)
    toks.foreach { t =>
      for (r <- 0 until TextFilters.CmDepth)
        sketch(r)((h60(s"$t#$r") % w).toInt) += 1
    }
    rows.foreach { row =>
      val t = row.getAs[String]("token")
      val est = (0 until TextFilters.CmDepth)
        .map(r => sketch(r)((h60(s"$t#$r") % w).toInt)).min
      assert(row.getAs[Long]("cm_est") == est, s"token $t")
    }
  }

  // ---------------- Token-balanced shard plan ----------------

  test("window-free shard assignment matches the SQL striping exactly") {
    val assigned = TextFilters.shardAssignments(spark, sf())
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("shard"))).toMap
    // reference striping computed independently
    fixtureDocs()
    val ref = spark.sql(
        "SELECT doc_id, CAST(size(graft_tokens(text)) AS BIGINT) AS n FROM documents")
      .collect().map(r => (r.getAs[Long](0), r.getAs[Long](1)))
      .sortBy { case (id, n) => (-n, id) }
      .zipWithIndex
      .map { case ((id, n), i) => id -> (n, i.toLong % TextFilters.NumShards) }
      .toMap
    assert(assigned == ref)
  }

  test("shard plan balances token mass and writeShards round-trips") {
    val plan = TextFilters.shardPlan(spark, sf()).collect()
    assert(plan.length == TextFilters.NumShards)
    val masses = plan.map(_.getAs[Long]("token_mass"))
    val maxDoc = {
      fixtureDocs()
      spark.sql("SELECT max(size(graft_tokens(text))) FROM documents")
        .collect()(0).getInt(0).toLong
    }
    // striping bounds the gap between any two shards by one max doc
    assert(masses.max - masses.min <= maxDoc,
      s"gap ${masses.max - masses.min} > maxDoc $maxDoc")
    plan.foreach { r =>
      val b = r.getAs[Double]("balance")
      assert(b > 0.8 && b < 1.2, s"balance $b")
    }

    val out = java.nio.file.Files.createTempDirectory("shards").toString
    try {
      val written = TextFilters.writeShards(spark, sf(), out)
        .collect().map(r => r.getAs[Long]("shard") ->
          (r.getAs[Long]("n_docs"), r.getAs[Long]("token_mass"))).toMap
      val expected = plan.map(r => r.getAs[Long]("shard") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("token_mass"))).toMap
      assert(written == expected)
      // one data file per shard: a trainer streams shard=k/ directly
      for (s <- 0 until TextFilters.NumShards) {
        val files = new java.io.File(s"$out/shard=$s")
          .listFiles().filter(_.getName.endsWith(".parquet"))
        assert(files.length == 1, s"shard $s has ${files.length} files")
      }
      // within-shard rows are in reproducible pseudo-shuffle order:
      // ascending salted hash of the doc id, no RNG anywhere
      val shard0 = spark.read.parquet(s"$out/shard=0")
        .select("doc_id", "shuffle_rank").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shuffle_rank")))
      val ranks = shard0.map(_._2)
      assert(ranks.sameElements(ranks.sorted), "shuffle_rank ascending")
      shard0.foreach { case (id, rk) => assert(rk == h60(s"shuf#$id")) }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("shard manifest agrees with the plan and detects any drift") {
    val plan = TextFilters.shardPlan(spark, sf()).collect()
      .map(r => r.getAs[Long]("shard") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("token_mass"))).toMap
    val manifest = TextFilters.shardManifest(spark, sf()).collect()
    assert(manifest.map(r => r.getAs[Long]("shard") ->
      (r.getAs[Long]("n_docs"), r.getAs[Long]("token_mass"))).toMap == plan)

    // checksum is the XOR of the member digests — recompute one shard
    fixtureDocs()
    val assigned = TextFilters.shardAssignments(spark, sf())
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("shard"))
      .toMap
    val digests = spark.sql(
        "SELECT doc_id, graft_h60(text) AS dg FROM documents")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val shard0 = digests.collect {
      case (id, dg) if assigned(id) == 0L => dg }.foldLeft(0L)(_ ^ _)
    val got0 = manifest.find(_.getAs[Long]("shard") == 0L).get
      .getAs[Long]("content_checksum")
    assert(got0 == shard0, "checksum = XOR of member digests")

    // drift detection: drop one document -> exactly the affected
    // shards' checksums change when re-derived
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf())
    docs.filter($"doc_id" =!= 0L).createOrReplaceTempView("documents")
    val drifted = spark.sql(
        TextFilters.shardManifestSql(SparkDialect)).collect()
      .map(r => r.getAs[Long]("shard") ->
        r.getAs[Long]("content_checksum")).toMap
    val orig = manifest.map(r => r.getAs[Long]("shard") ->
      r.getAs[Long]("content_checksum")).toMap
    assert(drifted != orig, "removing a document must change the manifest")
  }

  // ---------------- PMI collocations ----------------

  test("pmi pairs match an independent collocation recomputation") {
    val rows = TextFilters.pmiPairs(spark, sf()).collect()
    assert(rows.length == TextFilters.PmiTopN)
    val pmis = rows.map(_.getAs[Double]("pmi"))
    assert(pmis.zip(pmis.tail).forall { case (a, b) => a >= b })
    assert(rows.forall(_.getAs[Long]("pair_count") >= TextFilters.PmiMinCount))

    fixtureDocs()
    val bigrams = spark.sql("SELECT graft_tokens(text) AS t FROM documents")
      .collect().flatMap(_.getSeq[String](0).sliding(2).filter(_.length == 2)
        .map(p => s"${p(0)} ${p(1)}"))
    val c2 = bigrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val cx = bigrams.groupBy(_.split(' ')(0)).view
      .mapValues(_.length.toLong).toMap
    val cy = bigrams.groupBy(_.split(' ')(1)).view
      .mapValues(_.length.toLong).toMap
    val total = bigrams.length.toLong
    val expected = c2.filter(_._2 >= TextFilters.PmiMinCount).map {
      case (bg, c) =>
        val Array(x, y) = bg.split(' ')
        val q = math.round(
          math.log(total.toDouble * c / (cx(x).toDouble * cy(y))) * 1e6)
        (bg, c, q)
    }.toSeq.sortBy(t => (-t._3, t._1)).take(TextFilters.PmiTopN)
    val got = rows.map(r => (r.getAs[String]("bigram"),
      r.getAs[Long]("pair_count"),
      math.round(r.getAs[Double]("pmi") * 1e6)))
    assert(got.toSeq == expected.map(t => (t._1, t._2, t._3)))
  }

  // ---------------- Bigram LM ----------------

  test("bigram surprisal matches an independent Scala recomputation") {
    val rows = TextFilters.bigramLogprob(spark, sf()).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("mean_surprisal"))).toMap

    fixtureDocs()
    val docs = spark.sql("SELECT doc_id, graft_tokens(text) AS t FROM documents")
      .collect().map(r => (r.getAs[Long](0), r.getSeq[String](1)))
    val bigrams = docs.flatMap { case (_, t) => t.sliding(2).filter(_.length == 2)
      .map(p => s"${p(0)} ${p(1)}") }
    val c2 = bigrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val c1 = bigrams.groupBy(_.split(' ')(0)).view.mapValues(_.length.toLong).toMap
    val v = docs.flatMap(_._2).distinct.length.toLong
    val expected = docs.flatMap { case (id, t) =>
      val bgs = t.sliding(2).filter(_.length == 2)
        .map(p => s"${p(0)} ${p(1)}").toSeq
      if (bgs.isEmpty) None
      else {
        val qs = bgs.map { bg =>
          val p = (c2(bg) + 1.0) / (c1(bg.split(' ')(0)) + v)
          math.round(math.log(p) * 1e6)
        }
        Some(id -> (bgs.length.toLong,
          BigDecimal(-qs.sum.toDouble / (1e6 * qs.length))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      }
    }.toMap
    assert(rows.keySet == expected.keySet)
    expected.foreach { case (id, (n, s)) =>
      assert(rows(id)._1 == n, s"doc $id n_bigrams")
      assert(math.abs(rows(id)._2 - s) < 1e-9, s"doc $id surprisal")
    }
  }

  test("bigram LM separates ordered text from scrambled text") {
    import spark.implicits._
    // corpus of repeated ordered phrases + one scrambled doc: every
    // unigram matches the corpus, only the ORDER is wrong — the
    // signal a unigram LM cannot see
    val phrase = "the quick brown fox jumps over the lazy dog"
    val docs = (1L to 20L).map(i => (i, phrase)) :+
      (99L, "dog the over quick lazy fox brown jumps the")
    docs.toDF("doc_id", "text").createOrReplaceTempView("documents")
    val rows = spark.sql(TextFilters.bigramLogprobSql(SparkDialect))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("mean_surprisal")).toMap
    val ordered = rows(1L)
    val scrambled = rows(99L)
    assert(scrambled > ordered + 1.0,
      s"scrambled $scrambled should far exceed ordered $ordered")
  }

  test("gopher dashboard: a source literally named 'ALL' stays " +
      "distinguishable from the rollup sentinel") {
    import spark.implicits._
    val text = "the quick brown fox jumps over the lazy dog and runs on"
    Seq((1L, text, "ALL"), (2L, text, "web"), (3L, text, null))
      .toDF("doc_id", "text", "source")
      .createOrReplaceTempView("documents")
    val rows = spark.sql(TextFilters.gopherBySourceSql(SparkDialect))
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("is_rollup"),
        r.getAs[Long]("n_docs")))
    // two rows display as 'ALL': only the sentinel carries is_rollup=1
    assert(rows.count(_._1 == "ALL") == 2)
    assert(rows.filter(_._1 == "ALL").map(_._2).toSet == Set(0L, 1L))
    assert(rows.find(r => r._1 == "ALL" && r._2 == 1L).get._3 == 3L,
      "the rollup row counts the whole corpus")
    assert(rows.find(r => r._1 == "ALL" && r._2 == 0L).get._3 == 1L,
      "the genuine 'ALL' source counts only its own docs")
    assert(rows.find(r => r._1 == "(null)" && r._2 == 0L).get._3 == 1L)
  }
}
