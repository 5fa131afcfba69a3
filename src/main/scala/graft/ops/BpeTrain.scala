package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum => fsum}
import graft.Tables

/** One learned byte-pair merge: at `step`, the adjacent symbol pair
  * (`lhs`, `rhs`) with the highest corpus count (`pair_count`, ties
  * broken by pair string ascending) is fused into `merged`. */
case class BpeMerge(step: Long, lhs: String, rhs: String,
                    merged: String, pair_count: Long)

/** Distributed BPE (byte-pair-encoding) vocabulary training — the
  * subword-tokenizer trainer a large-scale LLM data pipeline runs over
  * its corpus (Sennrich et al. 2016, "Neural Machine Translation of
  * Rare Words with Subword Units" — public algorithm).
  *
  * Extends the reference's token surface (its `n_bpe_tokens` is a
  * fixed regex approximation — see `TextAnalysis.tokenCountsSql`) with
  * the real trainer: learn the merge table from the corpus, then
  * encode documents with it and measure compression.
  *
  * Scale design (the part that matters at 100 TB): classic BPE trains
  * on the WORD HISTOGRAM, not the corpus.  The only corpus-scale pass
  * is the distributed word count (one shuffle on the word key, map-side
  * combine); every merge round then runs on the distinct-word table,
  * which is orders of magnitude smaller (Heaps' law) and cached once
  * (`RelationCache`).  Each round is one distributed aggregation
  * (adjacent-pair counts weighted by word frequency) plus a bounded
  * 1-row argmax collect — the same collect discipline as the k-means
  * codebook trainer (`Similarity.trainCodebookCached`), and exactly how
  * production BPE trainers iterate.  Merge application is a pure
  * per-row `replace` on the spaced symbol string: `replace(seq,
  * 'a b ', 'ab ')` is left-to-right non-overlapping in both engines,
  * which IS greedy BPE pair fusion — no per-word loop, no UDF.
  *
  * Word-internal only (no end-of-word marker), over the normalized
  * token stream (`SqlDialect.tokens`: lower → strip non-alnum), so
  * symbols are always `[a-z0-9]+` and the space delimiter is safe.
  *
  * The DuckDB oracle unrolls the same `Rounds` iterations as CTEs
  * (the `kmeansCandCtes` pattern) — an independent single-node
  * formulation of the identical semantics, so parity cross-checks the
  * distributed trainer against a second algorithm, and
  * `BpeTrainSpec` additionally runs the unrolled SQL through Spark
  * itself (engine loop vs pure-Catalyst unroll must agree).
  */
object BpeTrain {

  /** Unrolled merge rounds: small enough to keep the oracle's CTE
    * chain (and the encode query's nested `replace`) readable, large
    * enough that later merges build on earlier merged symbols (the
    * fixture corpus fuses 3- and 4-char subwords by round 10). */
  val Rounds = 10

  // ---- shared dialect fragments ------------------------------------

  /** Word → spaced symbol string with a trailing delimiter:
    * "low" → "l o w ".  Every symbol is FOLLOWED by one space, so
    * fusing pair (a,b) is the plain-string replace of "a b " with
    * "ab " — adjacent occurrences stay replaceable ("a b a b " →
    * "ab ab "), and greedy left-to-right non-overlap matches the
    * reference algorithm's scan ("a a a " under (a,a) → "aa a "). */
  private def spaced(d: SqlDialect, word: String): String =
    s"(${d.arrJoin(d.arrTransform(d.sequence1(s"length($word)"), "i",
        s"substr($word, i, 1)"), " ")} || ' ')"

  /** Symbol array of a spaced sequence (drops the trailing ''). */
  private def syms(d: SqlDialect, seq: String): String =
    d.arrFilter(d.split(seq, " "), "s", "s != ''")

  /** Adjacent pairs of a symbol array, one entry per occurrence
    * (BPE counts every adjacency, weighted by word frequency). */
  private def pairsOf(d: SqlDialect, sy: String): String =
    d.arrTransform(d.sequence1(s"${d.arrSize(sy)} - 1"), "i",
      s"${d.arrAt(sy, "i")} || ' ' || ${d.arrAt(sy, "i + 1")}")

  /** CTEs: corpus token stream → word histogram → spaced seqs (w0).
    * The `tok`→`wc` aggregation is the one corpus-scale shuffle. */
  private def wordHistCtes(d: SqlDialect): String =
    s"""tok AS (
       |  SELECT ${d.explode(d.tokens("text"))} AS word FROM documents),
       |wc AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS cnt
       |  FROM tok GROUP BY word),
       |w0 AS (
       |  SELECT ${spaced(d, "word")} AS seq, cnt FROM wc)""".stripMargin

  /** One unrolled training round `i` (1-based): pair counts from
    * w{i-1}, deterministic argmax (count DESC, pair ASC), fused w{i}. */
  private def roundCtes(d: SqlDialect, i: Int): String =
    s"""x$i AS (
       |  SELECT ${syms(d, "seq")} AS sy, cnt FROM w${i - 1}),
       |y$i AS (
       |  SELECT ${d.explode(pairsOf(d, "sy"))} AS pair, cnt FROM x$i),
       |p$i AS (
       |  SELECT pair, CAST(sum(cnt) AS BIGINT) AS pc FROM y$i GROUP BY pair),
       |b$i AS (
       |  SELECT ${d.arrAt(d.split("pair", " "), "1")} AS lhs,
       |         ${d.arrAt(d.split("pair", " "), "2")} AS rhs, pc
       |  FROM (SELECT pair, pc,
       |          row_number() OVER (ORDER BY pc DESC, pair) AS rn
       |        FROM p$i) z
       |  WHERE rn = 1),
       |w$i AS (
       |  SELECT replace(w.seq, b.lhs || ' ' || b.rhs || ' ',
       |                 b.lhs || b.rhs || ' ') AS seq, w.cnt
       |  FROM w${i - 1} w CROSS JOIN b$i b)""".stripMargin

  private def trainCtes(d: SqlDialect): String =
    (wordHistCtes(d) +: (1 to Rounds).map(roundCtes(d, _))).mkString(",\n")

  // ---- text_bpe_pairs: round-1 pair census (top 20) ----------------

  def bpePairsSql(d: SqlDialect): String =
    s"""WITH ${wordHistCtes(d)},
       |${roundCtes(d, 1)}
       |SELECT pair, pc AS pair_count, CAST(rn AS BIGINT) AS rank
       |FROM (SELECT pair, pc,
       |        row_number() OVER (ORDER BY pc DESC, pair) AS rn
       |      FROM p1) z
       |WHERE rn <= 20
       |ORDER BY rank""".stripMargin

  // ---- text_bpe_merges: the trained merge table --------------------

  /** Unrolled-SQL formulation of the full trainer (oracle; also
    * runnable by Spark for the cross-algorithm spec). */
  def bpeMergesSql(d: SqlDialect): String = {
    val rows = (1 to Rounds).map(i =>
      s"""SELECT CAST($i AS BIGINT) AS step, lhs, rhs,
         |  lhs || rhs AS merged, pc AS pair_count FROM b$i""".stripMargin)
    s"""WITH ${trainCtes(d)}
       |SELECT step, lhs, rhs, merged, pair_count FROM (
       |${rows.mkString("", "\nUNION ALL\n", "")}
       |) u ORDER BY step""".stripMargin
  }

  // ---- text_bpe_encode: apply the merge table, measure compression --

  /** Encode body over externally supplied CTEs that must end in a
    * relation `ec(doc_id, tchars, encseq)` — the per-token spaced
    * sequence with all merges applied.  Symbol counting happens here,
    * on the materialized column (Spark rejects subqueries under
    * higher-order functions, so the oracle's merge strings must be
    * resolved to plain columns before the HOFs run); per-doc totals
    * LEFT-JOIN back so zero-token docs keep a row. */
  private def bpeEncodeBody(d: SqlDialect, prefixCtes: String): String =
    s"""WITH $prefixCtes,
       |e AS (
       |  SELECT doc_id, tchars,
       |    CAST(${d.arrSize(syms(d, "encseq"))} AS BIGINT) AS nsym
       |  FROM ec),
       |g AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(sum(tchars) AS BIGINT) AS n_alnum_chars,
       |    CAST(sum(nsym) AS BIGINT) AS n_bpe_symbols
       |  FROM e GROUP BY doc_id)
       |SELECT doc.doc_id,
       |  coalesce(g.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
       |  coalesce(g.n_alnum_chars, CAST(0 AS BIGINT)) AS n_alnum_chars,
       |  coalesce(g.n_bpe_symbols, CAST(0 AS BIGINT)) AS n_bpe_symbols,
       |  round(CAST(coalesce(g.n_alnum_chars, CAST(0 AS BIGINT)) AS DOUBLE)
       |    / greatest(CAST(coalesce(g.n_bpe_symbols, CAST(0 AS BIGINT))
       |        AS DOUBLE), 1.0), 6) AS chars_per_symbol
       |FROM documents doc LEFT JOIN g ON g.doc_id = doc.doc_id
       |ORDER BY doc.doc_id""".stripMargin

  private def tokenizeCte(d: SqlDialect): String =
    s"""dt AS (
       |  SELECT doc_id, ${d.explode(d.tokens("text"))} AS t FROM documents),
       |ec0 AS (
       |  SELECT doc_id, CAST(length(t) AS BIGINT) AS tchars,
       |    ${spaced(d, "t")} AS encseq
       |  FROM dt)""".stripMargin

  /** Oracle encode: each trained merge is applied by CROSS JOINing the
    * round's 1-row best-pair relation (the `w_i` pattern) — scalar
    * subqueries per merge would either exceed Spark's analyzer
    * resolution budget or, with per-reference CTE inlining, recompute
    * the training chain exponentially.  `bb_i` pads an exhausted round
    * (empty `b_i`, tiny corpus) to a '#' sentinel row, which never
    * occurs in a spaced seq, so its replace is a no-op — matching the
    * engine loop, which simply stops early. */
  /** Train + tokenize + merge-application CTEs ending in
    * `ec(doc_id, tchars, encseq)` — the shared oracle prefix of the
    * encode and fertility queries. */
  private def oracleEncCtes(d: SqlDialect): String = {
    val steps = (1 to Rounds).map { i =>
      s"""bb$i AS (
         |  SELECT coalesce(min(lhs), '#') AS lhs, coalesce(min(rhs), '#') AS rhs
         |  FROM b$i),
         |ec$i AS (
         |  SELECT e.doc_id, e.tchars,
         |    replace(e.encseq, b.lhs || ' ' || b.rhs || ' ',
         |            b.lhs || b.rhs || ' ') AS encseq
         |  FROM ec${i - 1} e CROSS JOIN bb$i b)""".stripMargin
    }.mkString(",\n")
    s"""${trainCtes(d)},
       |${tokenizeCte(d)},
       |$steps,
       |ec AS (SELECT doc_id, tchars, encseq FROM ec$Rounds)""".stripMargin
  }

  def bpeEncodeSql(d: SqlDialect): String =
    bpeEncodeBody(d, oracleEncCtes(d))

  // ---- text_bpe_fertility: per-language tokenizer-equity report -----

  /** Per-language fertility of the trained vocabulary: chars per
    * emitted symbol and symbols per word, by `documents.lang`.  The
    * standard multilingual-tokenizer equity metric — a language whose
    * text fragments into many more symbols per word pays more sequence
    * length per sentence (and more compute per token of content) under
    * the shared vocab; this report is what drives vocab-size or
    * mixture adjustments.  Exact integer sums aggregated from the same
    * encode relation as `text_bpe_encode`; zero-token languages keep a
    * row via the documents-side rollup. */
  private def bpeFertilityBody(d: SqlDialect, prefixCtes: String): String =
    s"""WITH $prefixCtes,
       |e AS (
       |  SELECT doc_id, tchars,
       |    CAST(${d.arrSize(syms(d, "encseq"))} AS BIGINT) AS nsym
       |  FROM ec),
       |agg AS (
       |  SELECT doc.lang, CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(sum(e.tchars) AS BIGINT) AS n_chars,
       |    CAST(sum(e.nsym) AS BIGINT) AS n_symbols
       |  FROM e JOIN documents doc ON doc.doc_id = e.doc_id
       |  GROUP BY doc.lang),
       |nd AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM documents GROUP BY lang)
       |SELECT nd.lang, nd.n_docs,
       |  coalesce(agg.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
       |  coalesce(agg.n_chars, CAST(0 AS BIGINT)) AS n_chars,
       |  coalesce(agg.n_symbols, CAST(0 AS BIGINT)) AS n_symbols,
       |  round(CAST(coalesce(agg.n_chars, CAST(0 AS BIGINT)) AS DOUBLE)
       |    / greatest(CAST(coalesce(agg.n_symbols, CAST(0 AS BIGINT))
       |        AS DOUBLE), 1.0), 6) AS chars_per_symbol,
       |  round(CAST(coalesce(agg.n_symbols, CAST(0 AS BIGINT)) AS DOUBLE)
       |    / greatest(CAST(coalesce(agg.n_tokens, CAST(0 AS BIGINT))
       |        AS DOUBLE), 1.0), 6) AS symbols_per_token
       |FROM nd LEFT JOIN agg ON agg.lang = nd.lang
       |ORDER BY nd.lang""".stripMargin

  def bpeFertilitySql(d: SqlDialect): String =
    bpeFertilityBody(d, oracleEncCtes(d))

  // ---- engine side --------------------------------------------------

  private def docsView(spark: SparkSession, dir: String): Unit = {
    Tables.documents(spark, dir).createOrReplaceTempView("documents")
  }

  /** The cached word-histogram relation (seq, cnt) — the only
    * corpus-scale computation; every merge round re-reads this. */
  private def wordHist(spark: SparkSession, dir: String): DataFrame =
    RelationCache.cached(spark, s"bpe_w0:$dir") {
      docsView(spark, dir)
      spark.sql(s"WITH ${wordHistCtes(SparkDialect)} SELECT seq, cnt FROM w0")
    }

  /** The distributed trainer: `Rounds` iterations of (pair-count
    * aggregation → 1-row argmax collect → broadcast-literal merge
    * apply) over the cached word histogram.  Memoized per (session,
    * dir) alongside the relations it derives from. */
  def trainedMerges(spark: SparkSession, dir: String): Seq[BpeMerge] =
    RelationCache.cachedScalar(spark, s"bpe_merges:$dir") {
      val d = SparkDialect
      var w = wordHist(spark, dir)
      val buf = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
      var step = 1
      var exhausted = false
      while (step <= Rounds && !exhausted) {
        val top = w
          .selectExpr(s"${syms(d, "seq")} AS sy", "cnt")
          .selectExpr(s"${d.explode(pairsOf(d, "sy"))} AS pair", "cnt")
          .groupBy(col("pair")).agg(fsum("cnt").as("pc"))
          .orderBy(col("pc").desc, col("pair").asc)
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else {
          val pair = top(0).getString(0)
          val pc = top(0).getLong(1)
          val Array(l, r) = pair.split(" ", 2)
          buf += BpeMerge(step.toLong, l, r, l + r, pc)
          // merge application: pure narrow map over the histogram —
          // the literals are the broadcast "model" of this round
          w = w.selectExpr(s"replace(seq, '$l $r ', '$l$r ') AS seq", "cnt")
          step += 1
        }
      }
      buf.toVector
    }

  /** Literal merge chain for the encode query: the collected merge
    * table (≤ `Rounds` rows — a bounded model, like the k-means
    * codebook) inlined as constants, i.e. broadcast to every task. */
  private def literalChain(ms: Seq[BpeMerge])(e: String): String =
    ms.foldLeft(e)((acc, m) =>
      s"replace($acc, '${m.lhs} ${m.rhs} ', '${m.merged} ')")

  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    docsView(spark, dir)
    spark.sql(bpePairsSql(SparkDialect))
  }

  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    trainedMerges(spark, dir).toDF().orderBy(col("step"))
  }

  /** Engine-side CTEs ending in `ec`: tokenize + the collected merge
    * table inlined as a literal replace chain. */
  private def engineEncCtes(ms: Seq[BpeMerge]): String = {
    val d = SparkDialect
    s"""${tokenizeCte(d)},
       |ec AS (
       |  SELECT doc_id, tchars,
       |    ${literalChain(ms)("encseq")} AS encseq
       |  FROM ec0)""".stripMargin
  }

  def bpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val ms = trainedMerges(spark, dir)
    docsView(spark, dir)
    spark.sql(bpeEncodeBody(SparkDialect, engineEncCtes(ms)))
  }

  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val ms = trainedMerges(spark, dir)
    docsView(spark, dir)
    spark.sql(bpeFertilityBody(SparkDialect, engineEncCtes(ms)))
  }
}
