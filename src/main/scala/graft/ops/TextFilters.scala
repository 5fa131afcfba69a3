package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Rule-based curation filters and corpus-frequency sketches — the
  * heuristic wing of the quality family (`TextAnalysis` carries the
  * model-based scorers: composite quality, unigram/bigram LM, the
  * trained classifier).
  *
  * The reference pipeline (SURVEY.md §2) has no text surface at all —
  * these extend the engine toward the LLM-training-data north star:
  * the Gopher rule battery (Rae et al. 2021 §A1.1) is the standard
  * pre-filter every web-scale corpus runs before any model-based
  * scoring, and Count-Min heavy hitters are the constant-memory
  * frequency primitive a 100 TB token stream needs where exact
  * `GROUP BY token` state would be unbounded.
  *
  * Everything is emitted in both SQL dialects (engine + DuckDB
  * oracle), same portability discipline as `TextOps`: MD5-derived
  * hashes, integer arithmetic, fixed fold orders.
  */
object TextFilters {

  // ----------------------------------------------------------------
  // Gopher-style rule filter battery
  // ----------------------------------------------------------------

  /** Fixture-live rule bounds.  Gopher's published bounds (50–100 000
    * words, mean word length 3–10) are tuned for web text; on the
    * generated benchmark corpus (10–99 words of short-word salad,
    * mean word length 3.7–5.3) they would leave several rules with a
    * dead tail — every document passing — and the oracle check would
    * prove nothing about the failing branch.  The registered query
    * therefore pins bounds that keep BOTH verdicts populated at every
    * generated SF (word count 20–80 ≈ 72 % pass, mean length ≤ 4.6 ≈
    * 60 % pass, ≥ 2 distinct stopwords ≈ 63 % pass); a real
    * deployment passes Gopher's own bounds through the parameters.
    * The rules with no live fail-branch on this fixture (symbol
    * ratio, bullet/ellipsis lines, alpha words — the corpus has no
    * symbols, newlines, or non-alpha words) are each exercised on a
    * synthetic nasty corpus in TextFiltersSpec. */
  val MinWords = 20
  val MaxWords = 80
  val MinMeanWordLen = 3.0
  val MaxMeanWordLen = 4.6
  val MinDistinctStopwords = 2

  /** Stopword set for the "≥ k distinct stopwords" rule: the langid
    * family's English set plus the articles.  Gopher's own 8-word set
    * ({the, be, to, of, and, that, have, with}) intersects the
    * generated fixture vocabulary only at "the", which would leave a
    * single reachable distinct count and a dead fail-branch at
    * minStop = 2; adding the articles keeps the rule's BOTH verdicts
    * live on the fixture (~63 % pass at sf0.01) while remaining a
    * perfectly standard function-word set for real corpora. */
  val GopherStops: Seq[String] = TextAnalysis.StopEn ++ Seq("a", "an")

  /** Gopher rule battery (Rae et al. 2021 §A1.1), one row per
    * document: the measured statistic for every rule plus its verdict,
    * and the conjunction `passes_gopher`.  Documents failing are kept
    * in the output — this is an audit relation, the drop itself is a
    * trivial downstream filter (same shape as `curationLogSql`).
    *
    * Rules (web-scale standard, bounds parameterized):
    *  - word count within [minWords, maxWords]
    *  - mean word length within [minMeanLen, maxMeanLen]
    *  - symbol-to-word ratio (`#`, `…`, `...`) ≤ 0.1
    *  - ≤ 90 % of lines start with a bullet (`-`, `*`, `•`)
    *  - ≤ 30 % of lines end with an ellipsis
    *  - ≥ 80 % of words contain at least one alphabetic character
    *  - ≥ minStop DISTINCT stopwords present (Gopher's "2 of the 8")
    *
    * Scale: a single narrow projection over `documents` — no joins,
    * no shuffle (the ORDER BY is presentation-only; a pipeline
    * consumer drops it).  Identical in cost to `qualitySql`, which
    * plan-shape tests already pin shuffle-free. */
  /** Stage 1 — raw counts over (text, toks) columns.  Shared verbatim
    * by the SQL relation of both dialects, so they cannot diverge. */
  def gopherCountExprs(d: SqlDialect): Seq[String] = {
    val ws = d.wsTokens("text")
    val lines = d.arrFilter(
      d.arrTransform(d.splitRx("text", "\\n"), "l", "trim(l)"),
      "l", "l != ''")
    val hasAlpha = (t: String) =>
      s"length(${d.reReplace(t, "[^a-zA-Z]", "")}) > 0"
    val bullet = "(l LIKE '-%' OR l LIKE '*%' OR l LIKE '•%')"
    val ellipsis = "(l LIKE '%...' OR l LIKE '%…')"
    val stopHits = d.arrSize(d.arrDistinct(
      d.arrFilter("toks", "t", d.containedIn("t", GopherStops))))
    Seq(
      s"CAST(${d.arrSize(ws)} AS BIGINT) AS n_words",
      s"${d.fold(d.arrTransform(ws, "w", "length(w)"),
                 "CAST(0 AS BIGINT)", "s", "x", "s + x")} AS word_chars",
      s"CAST(${d.regexpExtractAllSize("text", "#|\\.\\.\\.|…")} AS BIGINT) AS n_sym",
      s"CAST(${d.arrSize(lines)} AS BIGINT) AS n_lines",
      s"CAST(${d.arrSize(d.arrFilter(lines, "l", bullet))} AS BIGINT) AS n_bullet",
      s"CAST(${d.arrSize(d.arrFilter(lines, "l", ellipsis))} AS BIGINT) AS n_ellipsis",
      s"CAST(${d.arrSize(d.arrFilter(ws, "w", hasAlpha("w")))} AS BIGINT) AS n_alpha_words",
      s"CAST($stopHits AS BIGINT) AS n_stopwords")
  }

  /** Stage 2 — ratios over the stage-1 count columns. */
  def gopherRatioExprs(d: SqlDialect): Seq[String] = Seq(
    "round(CAST(word_chars AS DOUBLE) / greatest(n_words, 1), 6) AS mean_word_len",
    "round(CAST(n_sym AS DOUBLE) / greatest(n_words, 1), 6) AS symbol_ratio",
    "round(CAST(n_bullet AS DOUBLE) / greatest(n_lines, 1), 6) AS bullet_line_frac",
    "round(CAST(n_ellipsis AS DOUBLE) / greatest(n_lines, 1), 6) AS ellipsis_line_frac",
    "round(CAST(n_alpha_words AS DOUBLE) / greatest(n_words, 1), 6) AS alpha_word_frac")

  /** Stage 3 — per-rule verdicts over the stage-2 columns, as
    * (column name, boolean expression) pairs; `passes_gopher` is the
    * conjunction of exactly these expressions. */
  def gopherRuleExprs(d: SqlDialect,
                      minWords: Int = MinWords,
                      maxWords: Int = MaxWords,
                      minMeanLen: Double = MinMeanWordLen,
                      maxMeanLen: Double = MaxMeanWordLen,
                      minStop: Int = MinDistinctStopwords)
      : Seq[(String, String)] = Seq(
    "r_word_count" -> s"(n_words BETWEEN $minWords AND $maxWords)",
    "r_mean_word_len" -> (s"(mean_word_len BETWEEN ${d.dlit(minMeanLen)}" +
      s" AND ${d.dlit(maxMeanLen)})"),
    "r_symbol_ratio" -> s"(symbol_ratio <= ${d.dlit(0.1)})",
    "r_bullet_lines" -> s"(bullet_line_frac <= ${d.dlit(0.9)})",
    "r_ellipsis_lines" -> s"(ellipsis_line_frac <= ${d.dlit(0.3)})",
    "r_alpha_words" -> s"(alpha_word_frac >= ${d.dlit(0.8)})",
    "r_stopwords" -> s"(n_stopwords >= $minStop)")

  def gopherRulesSql(d: SqlDialect,
                     minWords: Int = MinWords,
                     maxWords: Int = MaxWords,
                     minMeanLen: Double = MinMeanWordLen,
                     maxMeanLen: Double = MaxMeanWordLen,
                     minStop: Int = MinDistinctStopwords): String = {
    val rules =
      gopherRuleExprs(d, minWords, maxWords, minMeanLen, maxMeanLen, minStop)
    s"""WITH t AS (
       |  SELECT doc_id, text, ${d.tokens("text")} AS toks FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    ${gopherCountExprs(d).mkString(",\n    ")}
       |  FROM t),
       |r AS (
       |  SELECT doc_id, n_words, n_stopwords,
       |    ${gopherRatioExprs(d).mkString(",\n    ")}
       |  FROM m)
       |SELECT doc_id, n_words, mean_word_len, symbol_ratio,
       |  bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
       |  n_stopwords,
       |  ${rules.map { case (n, e) => s"$e AS $n" }.mkString(",\n  ")},
       |  (${rules.map(_._2).mkString("\n    AND ")}) AS passes_gopher
       |FROM r
       |ORDER BY doc_id""".stripMargin
  }

  /** Per-source rule-battery dashboard: for every ingest source (plus
    * the whole-corpus 'ALL' rollup row), the document count and the
    * pass rate of each fixture-live rule and of the full battery —
    * the per-feed quality scoreboard a pipeline owner watches to spot
    * a degrading source before it pollutes training data.  Built by
    * aggregating `gopherRulesSql` AS A SUBQUERY joined back to
    * `documents` for the source column — dashboard and per-doc audit
    * are the same relation by construction (the curation-funnel
    * discipline).  Rates are BIGINT pass-count sums divided once at
    * the end, so partial-aggregation order cannot shift them.
    *
    * The rollup row is marked by a dedicated `is_rollup` = 1 column
    * (from `grouping()`), NOT solely by the 'ALL' display label — a
    * genuine ingest source literally named 'ALL' (or '(null)') stays
    * distinguishable from the sentinel rows, and the ORDER BY includes
    * `is_rollup` so such a collision cannot make the output order
    * ambiguous either.
    *
    * Scale: the rule battery is a narrow projection; the rollup is
    * one GROUPING SETS aggregate keyed by source — dim-cardinality
    * output. */
  def gopherBySourceSql(d: SqlDialect): String = {
    val rate = (c: String) =>
      s"round(CAST(sum(CASE WHEN $c THEN 1 ELSE 0 END) AS DOUBLE)" +
        s" / count(*), 6)"
    s"""SELECT CASE WHEN grouping(dd.source) = 1 THEN 'ALL'
       |    ELSE coalesce(dd.source, '(null)') END AS source,
       |  CAST(grouping(dd.source) AS BIGINT) AS is_rollup,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  ${rate("g.r_word_count")} AS rate_word_count,
       |  ${rate("g.r_mean_word_len")} AS rate_mean_word_len,
       |  ${rate("g.r_stopwords")} AS rate_stopwords,
       |  ${rate("g.passes_gopher")} AS rate_pass_all
       |FROM (
       |${gopherRulesSql(d)}
       |) g
       |JOIN documents dd ON dd.doc_id = g.doc_id
       |GROUP BY GROUPING SETS ((dd.source), ())
       |ORDER BY source, is_rollup""".stripMargin
  }

  // ----------------------------------------------------------------
  // Count-Min heavy hitters
  // ----------------------------------------------------------------

  /** Sketch geometry: depth 4 × width 64.  Width 64 keeps the
    * collision error LIVE on the fixture vocabulary (~31 distinct
    * tokens at sf0.01 would all but avoid collisions at width 1024 —
    * the estimate column would equal the exact column and the oracle
    * would prove nothing about the sketch arithmetic); production
    * picks width ≈ e/ε for target error ε·N, and the parameters pass
    * through. */
  val CmDepth = 4
  val CmWidth = 64
  val CmTopN = 20

  /** Count-Min heavy hitters (Cormode & Muthukrishnan 2005): estimate
    * token frequencies through a depth×width counter sketch, report
    * the exact top-N tokens with their CM estimates side by side.
    *
    * Hashing: row r maps token t to bucket h60(t || '#' || r) % width
    * — the portable MD5-derived hash, so engine and oracle build
    * bit-identical sketches (no seeded murmur mismatch possible).
    * The estimate is the classic min over rows of the bucket sums.
    * `overcount = cm_est - exact_cnt` is the materialized error
    * (CM never undercounts — `cm_ge_exact` pins the invariant in
    * both engines), and `within_2n_w` checks the 2N/w Markov bound
    * each row satisfies in expectation.
    *
    * Scale: the sketch build is ONE aggregation of depth·width = 256
    * cells — tokens fan out ×4 (the depth), then a map-side-combining
    * GROUP BY collapses each partition to ≤ 256 partial cells before
    * any shuffle; the reduced sketch is 256 rows regardless of corpus
    * size.  That is the whole point of CM at 100 TB: the exact top-N
    * (here the verification side) needs a full token GROUP BY whose
    * state is the vocabulary, while the sketch's state is constant
    * and mergeable across any partitioning — the estimate side of
    * this query is what survives when the vocabulary no longer fits.
    * The top-N probe joins 20 tokens × 4 rows against 256 cells —
    * broadcast-trivial. */
  /** CM bucket of token expression `tok` in sketch row `r`:
    * h60(token '#' row) mod width — the one hash definition the batch
    * relation and the DuckDB oracle share. */
  def cmBucket(d: SqlDialect, tok: String, r: String,
               width: Int = CmWidth): String =
    s"(${d.h60(s"$tok || '#' || ${d.castStr(r)}")} % $width)"

  def heavyHittersSql(d: SqlDialect,
                      depth: Int = CmDepth,
                      width: Int = CmWidth,
                      topN: Int = CmTopN,
                      tokSrc: Option[String] = None): String = {
    val bkt = (tok: String, r: String) => cmBucket(d, tok, r, width)
    val tBody = tokSrc.getOrElse(
      s"SELECT doc_id, ${d.tokens("text")} AS toks FROM documents")
    s"""WITH t AS (
       |  $tBody),
       |tok AS (
       |  SELECT ${d.explode("toks")} AS token FROM t),
       |n AS (
       |  SELECT CAST(count(*) AS BIGINT) AS total FROM tok),
       |rws AS (
       |  SELECT ${d.explode(d.sequence0(depth.toString))} AS r),
       |cm AS (
       |  SELECT r, ${bkt("token", "r")} AS bkt,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM tok CROSS JOIN rws GROUP BY r, ${bkt("token", "r")}),
       |ex AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS exact_cnt
       |  FROM tok GROUP BY token),
       |top AS (
       |  SELECT token, exact_cnt FROM ex
       |  ORDER BY exact_cnt DESC, token LIMIT $topN),
       |est AS (
       |  SELECT top.token, top.exact_cnt, min(cm.c) AS cm_est
       |  FROM top CROSS JOIN rws
       |  JOIN cm ON cm.r = rws.r AND cm.bkt = ${bkt("top.token", "rws.r")}
       |  GROUP BY top.token, top.exact_cnt)
       |SELECT est.token, est.exact_cnt, est.cm_est,
       |  est.cm_est - est.exact_cnt AS overcount,
       |  (est.cm_est >= est.exact_cnt) AS cm_ge_exact,
       |  (CAST(est.cm_est - est.exact_cnt AS DOUBLE)
       |    <= ${d.dlit(2.0)} * n.total / $width) AS within_2n_w
       |FROM est CROSS JOIN n
       |ORDER BY est.exact_cnt DESC, est.token""".stripMargin
  }

  // ----------------------------------------------------------------
  // Token-balanced training-shard plan
  // ----------------------------------------------------------------

  val NumShards = 8

  /** Token-balanced shard assignment — the OUTPUT side of a
    * training-data pipeline: curated documents must land in N shards
    * of near-equal token mass (trainer data loaders stream shards
    * round-robin; an unbalanced shard is a straggler every epoch).
    *
    * Assignment is sorted striping (longest-processing-time family):
    * rank documents by token count descending (doc_id tiebreak),
    * shard = (rank − 1) mod N.  Striping bounds the mass gap between
    * any two shards by one maximum document, no iterative bin-packing
    * needed, and the assignment is a pure function of the corpus —
    * bit-reproducible anywhere.
    *
    * This relation is the per-shard audit: document count, token
    * mass, and `balance` = mass / ideal (ideal = total/N); striping
    * keeps balance within ~1 max-doc of 1.0 on any corpus.
    *
    * Scale: the rank is a GLOBAL sort — fine in SQL at verify scale
    * but a single-partition window at 100 TB.  `shardAssignments`
    * below is the window-free engine path (range-partitioned sort +
    * per-partition offsets); TextFiltersSpec pins it ≡ this SQL.  The
    * per-shard aggregate is N rows. */
  def shardPlanSql(d: SqlDialect, nShards: Int = NumShards): String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(${d.arrSize(d.tokens("text"))} AS BIGINT) AS n_tokens
       |  FROM documents),
       |o AS (
       |  SELECT doc_id, n_tokens,
       |    row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rn
       |  FROM t),
       |a AS (
       |  SELECT CAST((rn - 1) % $nShards AS BIGINT) AS shard, n_tokens
       |  FROM o),
       |s AS (
       |  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(n_tokens) AS BIGINT) AS token_mass,
       |    CAST(min(n_tokens) AS BIGINT) AS min_tokens,
       |    CAST(max(n_tokens) AS BIGINT) AS max_tokens
       |  FROM a GROUP BY shard),
       |tot AS (
       |  SELECT CAST(sum(token_mass) AS DOUBLE) / $nShards AS ideal FROM s)
       |SELECT shard, n_docs, token_mass, min_tokens, max_tokens,
       |  round(CAST(token_mass AS DOUBLE) / tot.ideal, 6) AS balance
       |FROM s CROSS JOIN tot
       |ORDER BY shard""".stripMargin

  /** Release manifest for the shard plan — the reproducibility audit
    * published WITH a training-data release: per shard, the document
    * count, token mass, and an order-independent content checksum
    * (`bit_xor` of the portable 60-bit text digests — XOR is
    * associative/commutative/self-inverse, so the checksum is
    * identical under any partitioning or row order, and any single
    * changed/missing/duplicated document flips it).  A consumer
    * re-derives this table from the delivered shards and diffs; a
    * mismatch pinpoints WHICH shard drifted without hashing the
    * whole corpus serially.
    *
    * Scale: the striping rank (documented single-window at verify
    * scale, `shardAssignments` at 100 TB) + one map-side-combining
    * aggregate; XOR partials merge like any sum. */
  def shardManifestSql(d: SqlDialect, nShards: Int = NumShards): String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(${d.arrSize(d.tokens("text"))} AS BIGINT) AS n_tokens,
       |    ${d.h60("text")} AS digest
       |  FROM documents),
       |o AS (
       |  SELECT doc_id, n_tokens, digest,
       |    row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rn
       |  FROM t)
       |SELECT CAST((rn - 1) % $nShards AS BIGINT) AS shard,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS token_mass,
       |  CAST(bit_xor(digest) AS BIGINT) AS content_checksum
       |FROM o
       |GROUP BY (rn - 1) % $nShards
       |ORDER BY shard""".stripMargin

  /** Window-free per-document shard assignment — the 100 TB path for
    * `shardPlanSql`'s striping.  `orderBy` gives Spark's
    * range-partitioned global sort (each partition holds a contiguous
    * rank range, sorted within); `zipWithIndex` then assigns
    * contiguous global ranks with one extra count job instead of
    * funneling the corpus through a single window partition.  The
    * result is bit-identical to `row_number() OVER (ORDER BY ...)` —
    * TextFiltersSpec pins the equivalence against the SQL relation.
    *
    * Output: (doc_id, n_tokens, shard). */
  def shardAssignments(spark: SparkSession, dir: String,
                       nShards: Int = NumShards): DataFrame =
    shardAssignments(spark, dir, nShards, withDigest = false)

  /** `withDigest = true` additionally carries the portable 60-bit text
    * digest through the sort — the column `shardManifest`'s checksum
    * XORs, computed in the same single pass as the assignment. */
  def shardAssignments(spark: SparkSession, dir: String,
                       nShards: Int, withDigest: Boolean): DataFrame = {
    val base = Seq(col("doc_id"),
      expr(s"CAST(${SparkDialect.arrSize(SparkDialect.tokens("text"))}" +
        " AS BIGINT)").as("n_tokens"))
    val cols =
      if (withDigest) base :+ expr(SparkDialect.h60("text")).as("digest")
      else base
    val t = Tables.documents(spark, dir).select(cols: _*)
    val sorted = t.orderBy(col("n_tokens").desc, col("doc_id"))
    val schema = sorted.schema.add("shard", "long")
    val rows = sorted.rdd.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (i % nShards))
    }
    spark.createDataFrame(rows, schema)
  }

  /** Session-shared engine-side assignment relation (digest included)
    * consumed by BOTH registered shard queries — one tokenize + sort +
    * rank pass instead of two, and the window-free 100 TB path
    * (`shardAssignments`) instead of the single-partition
    * `row_number()` window the SQL oracles keep. */
  private def shardAssignmentsCached(spark: SparkSession,
                                     dir: String): DataFrame =
    RelationCache.cached(spark, s"shard_assignments:$dir") {
      shardAssignments(spark, dir, NumShards, withDigest = true)
    }

  /** Materialize the shard plan: write each document's (doc_id, text,
    * n_tokens) to `out` partitioned by `shard=`.  One file per shard
    * (each shard repartitions to its own write task); a trainer
    * streams `shard=k/` directly.  Rows are written in `shuffle_rank`
    * order — a salted content-independent hash of the doc id — so the
    * within-shard read order is a reproducible pseudo-shuffle: the
    * data-loader contract (shard + deterministic shuffle) with no RNG
    * state to checkpoint, the same salted-hash coin the weighted
    * sampler uses.  Returns the per-shard (docs, token mass) actually
    * written, for callers to assert against the plan. */
  def writeShards(spark: SparkSession, dir: String, out: String,
                  nShards: Int = NumShards): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val assigned = shardAssignments(spark, dir, nShards)
      .join(docs, "doc_id")
      .withColumn("shuffle_rank",
        expr(SparkDialect.h60(s"'shuf#' || ${SparkDialect.castStr("doc_id")}")))
    // identity partitioner: shard k → task k, exactly.  A hash
    // repartition on 8 distinct values collides (some tasks carry
    // 2-3 shards while others idle) and a range repartition's
    // sampling can split one shard across tasks (two files in its
    // dir); the explicit partitioner is the only 1:1 mapping.
    val schema = assigned.schema
    val si = schema.fieldIndex("shard")
    val parted = spark.createDataFrame(
      assigned.rdd.keyBy(_.getLong(si))
        .partitionBy(new org.apache.spark.Partitioner {
          def numPartitions: Int = nShards
          def getPartition(key: Any): Int = key.asInstanceOf[Long].toInt
        })
        .values,
      schema)
    parted
      // shard leads the sort so the dynamic-partition writer sees its
      // required ordering already satisfied and does NOT inject its
      // own (rank-destroying) sort by the partition column
      .sortWithinPartitions("shard", "shuffle_rank")
      .write.mode("overwrite").partitionBy("shard").parquet(out)
    spark.read.parquet(out)
      .groupBy("shard")
      .agg(count("*").as("n_docs"), sum("n_tokens").as("token_mass"))
      .orderBy("shard")
  }

  // ----------------------------------------------------------------
  // Bigram-LM surprisal
  // ----------------------------------------------------------------

  /** Bigram-LM surprisal scoring — one order up from
    * `unigramLogprobSql`, toward the CCNet/KenLM n-gram-perplexity
    * filter that web-scale curation actually runs: fit a bigram model
    * with add-1 smoothing on the corpus itself,
    * p(w₂|w₁) = (c(w₁w₂) + 1) / (c(w₁·) + V), and score each document
    * by the mean surprisal −E[ln p] over its token bigrams.  The
    * bigram model sees word ORDER — scrambled boilerplate that a
    * unigram model scores as perfectly corpus-like lands in the
    * high-surprisal tail here, which is precisely the signal the
    * unigram filter cannot express.
    *
    * Determinism: each bigram's ln is µ-quantized to integer
    * micro-nats before the per-doc sum (same discipline as the
    * unigram scorer), so partial-aggregation order and libm ulps
    * cannot shift the result.  c(w₁·) is derived FROM the bigram
    * relation (count of bigrams with first word w₁ = non-final
    * occurrences of w₁), keeping numerator and denominator consistent
    * at document edges without a positional join.
    *
    * Docs with < 2 tokens have no bigrams and no row — same relation
    * in both engines (the `noveltySql` convention).
    *
    * Scale: bigram vocabulary is a dim relation (fixture: ≤ 31² ≈ 1k;
    * web corpora: still ≪ corpus size) joined broadcast-hinted;
    * beyond broadcast size it degrades to a shuffled join where AQE
    * skew-split handles Zipf-heavy bigrams — identical shape to the
    * unigram scorer the plan tests already cover. */
  /** The adjacent-token bigram array over `toks` — one definition for
    * both bigram consumers and the shared engine relation. */
  private[ops] def bigramArr(d: SqlDialect): String = d.arrTransform(
    d.sequence1(s"${d.arrSize("toks")} - 1"), "i",
    s"${d.arrAt("toks", "i")} || ' ' || ${d.arrAt("toks", "i + 1")}")

  /** Session-shared corpus bigram relation (doc_id, bg), derived from
    * the shared tokens relation — `text_bigram_logprob` and
    * `text_pmi_pairs` both need it, and their SQL forms regenerate it
    * per CTE reference (3-4× each).  Registered as the `doc_bg` view
    * by the engine entries; oracle texts keep the inline form. */
  private[ops] def docBigrams(spark: SparkSession, dir: String): DataFrame =
    RelationCache.cached(spark, s"doc_bigrams:$dir") {
      TextOps.docTokens(spark, dir)
        .select(col("doc_id"),
          explode(expr(bigramArr(SparkDialect))).as("bg"))
    }

  /** Session-shared bigram-count relation (bg, c) — the `c2` CTE both
    * bigram consumers aggregate 3-4× (dim-sized: bigram vocabulary).
    * One corpus pass total across both queries. */
  private[ops] def docBigramCounts(spark: SparkSession,
                                   dir: String): DataFrame =
    RelationCache.cached(spark, s"doc_bigram_counts:$dir") {
      docBigrams(spark, dir).groupBy(col("bg"))
        .agg(count(lit(1)).cast("long").as("c"))
    }

  /** Force-build the shared bigram relations (bench `doc_bigrams`). */
  def prebuildDocBigrams(spark: SparkSession, dir: String): Unit = {
    docBigrams(spark, dir).count()
    docBigramCounts(spark, dir).count()
    ()
  }

  def bigramLogprobSql(d: SqlDialect,
                       tokSrc: Option[String] = None,
                       bgSrc: Option[String] = None,
                       c2Src: Option[String] = None): String = {
    val bigrams = bigramArr(d)
    val tBody = tokSrc.getOrElse(
      s"SELECT doc_id, ${d.tokens("text")} AS toks FROM documents")
    val bgBody = bgSrc.getOrElse(
      s"SELECT doc_id, ${d.explode(bigrams)} AS bg FROM t")
    val c2Body = c2Src.getOrElse(
      "SELECT bg, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY bg")
    s"""WITH t AS (
       |  $tBody),
       |bg AS (
       |  $bgBody),
       |c2 AS (
       |  $c2Body),
       |c1 AS (
       |  SELECT ${d.arrAt(d.split("bg", " "), "1")} AS w1,
       |    CAST(sum(c) AS BIGINT) AS c
       |  FROM c2 GROUP BY ${d.arrAt(d.split("bg", " "), "1")}),
       |v AS (
       |  SELECT CAST(count(DISTINCT token) AS BIGINT) AS nv
       |  FROM (SELECT ${d.explode("toks")} AS token FROM t) u),
       |s AS (
       |  SELECT /*+ BROADCAST(c2, c1) */ bg.doc_id,
       |    CAST(round(ln((CAST(c2.c AS DOUBLE) + ${d.dlit(1.0)})
       |        / (CAST(c1.c AS DOUBLE) + v.nv)) * ${d.dlit(1000000.0)})
       |      AS BIGINT) AS q
       |  FROM bg
       |  JOIN c2 ON c2.bg = bg.bg
       |  JOIN c1 ON c1.w1 = ${d.arrAt(d.split("bg.bg", " "), "1")}
       |  CROSS JOIN v)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  round(-CAST(sum(q) AS DOUBLE) / (${d.dlit(1000000.0)} * count(*)), 6)
       |    AS mean_surprisal
       |FROM s GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  // ----------------------------------------------------------------
  // PMI collocations
  // ----------------------------------------------------------------

  val PmiTopN = 20
  val PmiMinCount = 5

  /** Top PMI collocations — the classic phrase/multi-word-expression
    * detector (Church & Hanks 1990) over the corpus bigram relation:
    * PMI(x,y) = ln(N·c(xy) / (c(x·)·c(·y))) for adjacent token pairs,
    * reported for the `topN` highest-PMI bigrams with count ≥
    * `minCount` (raw PMI promotes hapax pairs; the count floor is the
    * standard guard).  A curation pipeline uses these to build
    * tokenizer merge seeds and boilerplate phrase lists.
    *
    * Counting conventions: c(x·)/(·y) are the bigram-relation
    * marginals (first-position and second-position occurrence
    * counts), N the total bigram count — so the three marginals are
    * consistent with c(xy) at document edges by construction.  The
    * ln is µ-quantized (deterministic across engines/libm); ordering
    * ties break on the bigram text.
    *
    * Scale: the bigram vocabulary is a dim relation; marginals are
    * two reduces of it; the join back is dim×dim (broadcast).  The
    * only corpus-sized pass is the bigram count itself — shared
    * shape with `bigramLogprobSql`. */
  def pmiPairsSql(d: SqlDialect,
                  topN: Int = PmiTopN,
                  minCount: Int = PmiMinCount,
                  tokSrc: Option[String] = None,
                  bgSrc: Option[String] = None,
                  c2Src: Option[String] = None): String = {
    val bigrams = bigramArr(d)
    val w1 = (bg: String) => d.arrAt(d.split(bg, " "), "1")
    val w2 = (bg: String) => d.arrAt(d.split(bg, " "), "2")
    val tBody = tokSrc.getOrElse(
      s"SELECT doc_id, ${d.tokens("text")} AS toks FROM documents")
    val bgBody = bgSrc.getOrElse(
      s"SELECT ${d.explode(bigrams)} AS bg FROM t")
    val c2Body = c2Src.getOrElse(
      "SELECT bg, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY bg")
    s"""WITH t AS (
       |  $tBody),
       |bg AS (
       |  $bgBody),
       |c2 AS (
       |  $c2Body),
       |n AS (
       |  SELECT CAST(sum(c) AS BIGINT) AS total FROM c2),
       |cx AS (
       |  SELECT ${w1("bg")} AS w, CAST(sum(c) AS BIGINT) AS c
       |  FROM c2 GROUP BY ${w1("bg")}),
       |cy AS (
       |  SELECT ${w2("bg")} AS w, CAST(sum(c) AS BIGINT) AS c
       |  FROM c2 GROUP BY ${w2("bg")}),
       |p AS (
       |  SELECT c2.bg, c2.c,
       |    CAST(round(ln(CAST(n.total AS DOUBLE) * c2.c
       |        / (CAST(cx.c AS DOUBLE) * cy.c)) * ${d.dlit(1000000.0)})
       |      AS BIGINT) AS pmi_q
       |  FROM c2
       |  JOIN cx ON cx.w = ${w1("c2.bg")}
       |  JOIN cy ON cy.w = ${w2("c2.bg")}
       |  CROSS JOIN n
       |  WHERE c2.c >= $minCount)
       |SELECT bg AS bigram, c AS pair_count,
       |  round(CAST(pmi_q AS DOUBLE) / ${d.dlit(1000000.0)}, 6) AS pmi
       |FROM p
       |ORDER BY pmi_q DESC, bg LIMIT $topN""".stripMargin
  }

  // ----------------------------------------------------------------
  // Engine entry points
  // ----------------------------------------------------------------

  private def run(spark: SparkSession, dir: String, sql: String): DataFrame = {
    Tables.documents(spark, dir).createOrReplaceTempView("documents")
    spark.sql(sql)
  }

  def gopherRules(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, gopherRulesSql(SparkDialect))
  def gopherBySource(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, gopherBySourceSql(SparkDialect))
  /** Engine-side token source: the session-shared tokenized corpus
    * (`TextOps.docTokens`) registered as the `doc_toks` view — the
    * heavy token consumers read it instead of re-tokenizing per CTE
    * reference; oracle texts keep the inline tokenize (r16). */
  private def toksFrom(spark: SparkSession, dir: String): Option[String] = {
    TextOps.docTokens(spark, dir).createOrReplaceTempView("doc_toks")
    Some("SELECT doc_id, toks FROM doc_toks")
  }

  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, heavyHittersSql(SparkDialect,
      tokSrc = toksFrom(spark, dir)))
  /** Engine form of `text_shard_plan`: per-shard aggregate over the
    * window-free cached assignment (`shardAssignments`, spec-pinned
    * ≡ the SQL's global `row_number()`); `shardPlanSql` stays the
    * independent DuckDB oracle.  Same casts, same `round(mass/ideal,
    * 6)` double arithmetic, so results are bit-identical. */
  def shardPlan(spark: SparkSession, dir: String): DataFrame = {
    val s = shardAssignmentsCached(spark, dir)
      .groupBy(col("shard"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("token_mass"),
        min(col("n_tokens")).cast("long").as("min_tokens"),
        max(col("n_tokens")).cast("long").as("max_tokens"))
    val tot = s.agg(
      (sum(col("token_mass")).cast("double") / NumShards).as("ideal"))
    s.crossJoin(tot)
      .select(col("shard"), col("n_docs"), col("token_mass"),
        col("min_tokens"), col("max_tokens"),
        round(col("token_mass").cast("double") / col("ideal"), 6)
          .as("balance"))
      .orderBy("shard")
  }

  /** Engine form of `text_shard_manifest`: XOR-checksum aggregate over
    * the same cached window-free assignment (digest carried through
    * the one assignment pass); `shardManifestSql` stays the oracle. */
  def shardManifest(spark: SparkSession, dir: String): DataFrame =
    shardAssignmentsCached(spark, dir)
      .groupBy(col("shard"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("token_mass"),
        expr("CAST(bit_xor(digest) AS BIGINT)").as("content_checksum"))
      .orderBy("shard")
  /** Register the shared bigram relations as views; returns the
    * (bgSrc, c2Src) bodies for the SQL builders. */
  private def bgFrom(spark: SparkSession, dir: String,
                     withDocId: Boolean): (Option[String], Option[String]) = {
    docBigrams(spark, dir).createOrReplaceTempView("doc_bg")
    docBigramCounts(spark, dir).createOrReplaceTempView("doc_bg_counts")
    (Some(if (withDocId) "SELECT doc_id, bg FROM doc_bg"
          else "SELECT bg FROM doc_bg"),
      Some("SELECT bg, c FROM doc_bg_counts"))
  }

  def bigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val (bgSrc, c2Src) = bgFrom(spark, dir, withDocId = true)
    run(spark, dir, bigramLogprobSql(SparkDialect,
      tokSrc = toksFrom(spark, dir), bgSrc = bgSrc, c2Src = c2Src))
  }
  def pmiPairs(spark: SparkSession, dir: String): DataFrame = {
    val (bgSrc, c2Src) = bgFrom(spark, dir, withDocId = false)
    run(spark, dir, pmiPairsSql(SparkDialect,
      tokSrc = toksFrom(spark, dir), bgSrc = bgSrc, c2Src = c2Src))
  }

  /** Per-source document cap — the Common-Crawl-style per-domain cap
    * every production pretraining mix applies so one over-crawled
    * domain cannot dominate the corpus.  Within each source the
    * keepers are elected by a SALTED HASH of the doc id (rank ≤ cap
    * under (hash, doc_id) order): a content-independent deterministic
    * uniform sample — the same coin `writeShards`' pseudo-shuffle and
    * the weighted sampler flip — so re-runs keep the SAME documents
    * with no RNG state.  The cap is corpus-derived
    * (`SourceCapShare` × the even share n/k, ceil'd), so the operator
    * trips on every fixture's skew instead of needing per-corpus
    * retuning; production calls pick their own absolute cap.
    *
    * Scale: one shuffle by source + a per-source sort for the rank —
    * the `q_topk_per_group` shape, linearithmic, no all-pairs and no
    * global window.  (At extreme per-source cardinality the
    * rank-free variant thresholds the uniform hash at cap/n_s — an
    * approximate cap with no sort at all; the exact rank form is the
    * oracle-checkable contract.)  Output: per source, the doc count,
    * the cap, kept/dropped, and kept character mass — the audit a
    * curation run publishes next to `dedup_report`. */
  val SourceCapShare = 0.75

  def sourceCapSql(d: SqlDialect): String =
    s"""WITH s AS (
       |  SELECT doc_id, coalesce(source, '(null)') AS source,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    ${d.h60(s"'cap#' || ${d.castStr("doc_id")}")} AS rnk
       |  FROM documents),
       |tot AS (
       |  SELECT CAST(ceil(${d.dlit(SourceCapShare)}
       |      * CAST(count(*) AS DOUBLE)
       |      / count(DISTINCT source)) AS BIGINT) AS cap
       |  FROM s),
       |r AS (
       |  SELECT source, n_chars,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY rnk, doc_id) AS rn
       |  FROM s),
       |j AS (
       |  SELECT source, n_chars, cap,
       |    CASE WHEN rn <= cap THEN 1 ELSE 0 END AS kept
       |  FROM r CROSS JOIN tot)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs, cap,
       |  CAST(sum(kept) AS BIGINT) AS kept,
       |  CAST(count(*) - sum(kept) AS BIGINT) AS dropped,
       |  CAST(sum(kept * n_chars) AS BIGINT) AS kept_chars
       |FROM j GROUP BY source, cap
       |ORDER BY source""".stripMargin

  def sourceCap(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, sourceCapSql(SparkDialect))

  /** Per-source token-distribution drift: the text-side twin of
    * `sim_embedding_drift` — Population Stability Index of each
    * source's token distribution against the REST of the corpus, over
    * a fixed binning of the global top-`TokenDriftBins` tokens plus an
    * `<other>` bucket.  This is the mixture-monitoring report a
    * pretraining pipeline runs per ingest batch: a source whose
    * language shifted (crawler drift, template change, encoding bug)
    * trips the flag before it moves the trained model.
    *
    * Determinism mirrors `embeddingDriftSql` exactly: PSI terms are
    * µ-quantized to the 10⁻⁹ grid as BIGINTs before the sum, so
    * aggregation order cannot move the result; bin selection is exact
    * integer counts with a token-string tie-break.  Laplace-style
    * smoothing (+½ per bin) keeps every log finite; the same
    * finite-sample noise floor (B−1)·(1/n_s + 1/n_rest) debiases the
    * verdict so the 0.2 alert bar means the same thing at every
    * corpus size.
    *
    * Scale: the explode feeds ONE map-side-combining aggregate keyed
    * (source, token) — shuffled volume is bounded by per-source
    * vocabulary incidence, not corpus length; everything after the
    * bin join is per-(source, bin) arithmetic over B+1 rows per
    * source.  At 100 TB this is a scan plus a vocabulary-sized
    * shuffle, the same shape as `text_heavy_hitters`. */
  val TokenDriftBins = 20

  /** The (source, token, count) relation the drift pipeline fans out
    * from — the ONLY part that touches the corpus.  Split out because
    * SQL CTEs are inlined per reference in both engines: the body
    * references it via `g` and `sb`, and `top` twice more, so the
    * single-statement form re-runs the corpus explode 3-4× (measured
    * in the plan: three parquet scans with Generate).  The oracle
    * keeps the inline form; the engine caches this relation once
    * (vocabulary × sources rows, tiny) and registers it as the `wc`
    * view the body reads. */
  private def tokenWcSql(d: SqlDialect): String =
    s"""SELECT source, w, count(*) AS n FROM (
       |  SELECT coalesce(source, '(null)') AS source,
       |    ${d.explode(d.tokens("text"))} AS w
       |  FROM documents) ww
       |GROUP BY source, w""".stripMargin

  /** Drift pipeline body over a standing `wc` relation. */
  private def tokenDriftBody(d: SqlDialect): String = {
    val b = TokenDriftBins
    val q9 = d.dlit(1.0e9)
    val half = d.dlit(0.5)
    val smooth = d.dlit((b + 1) / 2.0) // (B bins + other) * 1/2
    s"""g AS (
       |  SELECT w, sum(n) AS gn FROM wc GROUP BY w),
       |top AS (
       |  SELECT w FROM (
       |    SELECT w, row_number() OVER (ORDER BY gn DESC, w) AS rn
       |    FROM g) rg
       |  WHERE rn <= $b),
       |sb AS (
       |  SELECT wc.source,
       |    CASE WHEN top.w IS NOT NULL THEN wc.w
       |         ELSE '<other>' END AS bin,
       |    sum(wc.n) AS n
       |  FROM wc LEFT JOIN top ON top.w = wc.w
       |  GROUP BY 1, 2),
       |gb AS (
       |  SELECT bin, sum(n) AS n FROM sb GROUP BY bin),
       |stot AS (
       |  SELECT source, sum(n) AS sn FROM sb GROUP BY source),
       |gt AS (
       |  SELECT sum(n) AS gn FROM sb),
       |-- the bin universe IS gb's key set: every top token occurs
       |-- somewhere (it was elected by count), and '<other>' exists
       |-- iff any non-top token does — no separate bins relation
       |grid AS (
       |  SELECT st.source, st.sn, gb.bin, gb.n AS gbn
       |  FROM stot st CROSS JOIN gb),
       |pq AS (
       |  SELECT grid.source,
       |    (CAST(coalesce(s2.n, 0) AS DOUBLE) + $half)
       |      / (CAST(grid.sn AS DOUBLE) + $smooth) AS p,
       |    (CAST(grid.gbn - coalesce(s2.n, 0) AS DOUBLE) + $half)
       |      / (CAST(gt.gn - grid.sn AS DOUBLE) + $smooth) AS q
       |  FROM grid
       |  CROSS JOIN gt
       |  LEFT JOIN sb s2 ON s2.source = grid.source AND s2.bin = grid.bin),
       |terms AS (
       |  SELECT source,
       |    CAST(round((p - q) * ln(p / q) * $q9) AS BIGINT) AS t9
       |  FROM pq),
       |psi AS (
       |  SELECT source, CAST(sum(t9) AS DOUBLE) / $q9 AS psi FROM terms
       |  GROUP BY source),
       |nf AS (
       |  SELECT st.source, CAST(st.sn AS BIGINT) AS n_tokens,
       |    ${d.dlit(b.toDouble)} * (${d.dlit(1.0)} / st.sn
       |      + ${d.dlit(1.0)} / (gt.gn - st.sn)) AS noise_floor
       |  FROM stot st CROSS JOIN gt)
       |SELECT psi.source, nf.n_tokens, round(psi, 6) AS psi,
       |  round(nf.noise_floor, 6) AS noise_floor,
       |  CASE WHEN psi > ${d.dlit(0.2)} + nf.noise_floor
       |    THEN 1 ELSE 0 END AS drifted
       |FROM psi JOIN nf ON nf.source = psi.source
       |ORDER BY psi.source""".stripMargin
  }

  /** Single-statement oracle form: the corpus CTE inlined ahead of
    * the body (DuckDB re-inlines it per reference — acceptable for
    * the oracle, avoided by the engine's cached-view form). */
  def tokenDriftSql(d: SqlDialect): String =
    s"""WITH wc AS (
       |${tokenWcSql(d)}),
       |${tokenDriftBody(d)}""".stripMargin

  def tokenDrift(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.documents(spark, dir).createOrReplaceTempView("documents")
    // materialized (r15): the body references wc twice (global top-B
    // election + per-source binning), and every action otherwise
    // re-analyzes the tokenize→explode→count chain behind the view
    RelationCache.materialized(spark, s"token_wc:$dir") {
      spark.sql(tokenWcSql(SparkDialect))
    }.createOrReplaceTempView("wc")
    spark.sql(s"WITH ${tokenDriftBody(SparkDialect)}")
  }
}
