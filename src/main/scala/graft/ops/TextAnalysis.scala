package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Text-analysis operators over the `documents` table: token counting,
  * quality scoring, n-gram language ID, and rolling-hash document
  * fingerprinting — the per-document scoring pass a training-data
  * pipeline runs before filtering/dedup.
  *
  * Each operator is generated from one dialect-parameterized SQL body
  * (SparkDialect for the engine, DuckDialect for the driver's oracle),
  * so the engine result and the oracle are the *same logic* by
  * construction — only hash/array/regex primitives differ per dialect,
  * and those are chosen for bit-identical semantics (see TextOps).
  *
  * Scale notes: every operator here is embarrassingly parallel — a
  * single narrow projection per document, no shuffle at all (verified:
  * the physical plan is Scan → Project, one WholeStageCodegen span for
  * the non-lambda parts). At 100 TB these run at scan speed; the only
  * ordering shuffle is the final ORDER BY for oracle determinism, which
  * a production caller would drop.
  */
object TextAnalysis {

  /** English/Spanish/French/German stopword samples for lang-ID.
    * Deterministic heuristic, not a trained model: count stopword hits
    * per language over normalized tokens, argmax with fixed precedence
    * en > es > fr > de, 'und' (undetermined) when nothing hits. */
  val StopEn = Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for")
  val StopEs = Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "del")
  val StopFr = Seq("le", "les", "des", "et", "une", "dans", "est", "pour", "sur", "avec")
  val StopDe = Seq("der", "die", "und", "den", "von", "zu", "das", "mit", "ist", "im")

  /** Token counts: whitespace tokens of the raw text and BPE-ish regex
    * tokens (letter runs | single digits | single symbols) of the
    * lowercased text. */
  def tokenCountsSql(d: SqlDialect): String = {
    val bpe = "[a-z]+|[0-9]|[^a-z0-9\\s]"
    s"""WITH t AS (
       |  SELECT doc_id,
       |    ${d.wsTokens("text")} AS ws,
       |    ${d.tokens("text")} AS toks,
       |    lower(text) AS lt
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(${d.arrSize("ws")} AS BIGINT) AS n_ws_tokens,
       |  CAST(${d.regexpExtractAllSize("lt", bpe)} AS BIGINT) AS n_bpe_tokens,
       |  CAST(${d.arrSize("toks")} AS BIGINT) AS n_norm_tokens
       |FROM t
       |ORDER BY doc_id""".stripMargin
  }

  // -- fragments shared by qualitySql / sampleSplitSql / curationSql --
  // (one definition each: a fix in one operator cannot silently
  // diverge from the pipeline that composes it)

  /** Count of characters matching `pat` (removal-length difference). */
  private def lenMinus(d: SqlDialect)(pat: String): String =
    s"(length(text) - length(${d.reReplace("text", pat, "")}))"

  /** Composite [0,1] quality score, unrounded.  Parameterized on the
    * four input expressions (column names in the CTE forms, inline
    * expressions in the single projection of `scoredSplitExprs`) so
    * there is exactly one formula and no textual substitution. */
  private def scoreExpr(nTokens: String = "n_tokens", nSym: String = "n_sym",
                        nDigit: String = "n_digit",
                        nChars: String = "n_chars"): String =
    s"""least(CAST(1.0 AS DOUBLE), CAST($nTokens AS DOUBLE) / 50.0)
       |    * (1.0 - $nSym / greatest($nChars, 1))
       |    * (1.0 - $nDigit / greatest($nChars, 1))""".stripMargin

  /** Deterministic 90/5/5 split assignment from the doc_id hash.
    * `private[ops]`: the split-leakage audit (`Dedup.splitLeakage`)
    * joins this exact assignment against the near-dup pair relation —
    * one definition, so the audit can never drift from the splitter. */
  private[ops] def splitCase(d: SqlDialect): String = {
    val bucket = s"(${d.h60(d.castStr("doc_id"))} % 100)"
    s"""CASE WHEN $bucket < 90 THEN 'train'
       |         WHEN $bucket < 95 THEN 'val'
       |         ELSE 'test' END""".stripMargin
  }

  /** The quality score + split assignment as self-contained SELECT
    * expressions over (doc_id, text) — the fragments inlined into one
    * projection, for callers that need a single narrow pass (the
    * weighted sample's score column).  Same lenMinus/scoreExpr/
    * splitCase definitions as qualitySql/curationSql, so the inlined
    * and CTE forms cannot diverge. */
  def scoredSplitExprs(d: SqlDialect): Seq[String] = {
    val inlined = scoreExpr(
      nTokens = s"CAST(${d.arrSize(d.tokens("text"))} AS BIGINT)",
      nSym = s"CAST(${lenMinus(d)("[^a-zA-Z0-9\\s]")} AS DOUBLE)",
      nDigit = s"CAST(${lenMinus(d)("[0-9]")} AS DOUBLE)",
      nChars = "CAST(length(text) AS BIGINT)")
    Seq(s"round($inlined, 6) AS quality_score",
      s"${splitCase(d)} AS split")
  }

  /** Quality scoring: char/token counts, symbol/digit ratios, stopword
    * ratio, and a composite [0,1] quality score. */
  def qualitySql(d: SqlDialect): String = {
    s"""WITH t AS (
       |  SELECT doc_id, text, ${d.tokens("text")} AS toks FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS n_chars,
       |    CAST(${d.arrSize("toks")} AS BIGINT) AS n_tokens,
       |    ${d.fold(d.arrTransform("toks", "t", "length(t)"),
                     "CAST(0 AS BIGINT)", "s", "x", "s + x")} AS tok_chars,
       |    CAST(${lenMinus(d)("[^a-zA-Z0-9\\s]")} AS DOUBLE) AS n_sym,
       |    CAST(${lenMinus(d)("[0-9]")} AS DOUBLE) AS n_digit,
       |    CAST(${d.arrSize(d.arrFilter("toks", "t", d.containedIn("t", StopEn)))}
       |      AS DOUBLE) AS n_stop
       |  FROM t)
       |SELECT doc_id, n_chars, n_tokens,
       |  round(CAST(tok_chars AS DOUBLE) / greatest(n_tokens, 1), 6) AS avg_token_len,
       |  round(n_sym / greatest(n_chars, 1), 6) AS symbol_ratio,
       |  round(n_digit / greatest(n_chars, 1), 6) AS digit_ratio,
       |  round(n_stop / greatest(n_tokens, 1), 6) AS stopword_ratio,
       |  round(${scoreExpr()}, 6) AS quality_score
       |FROM m
       |ORDER BY doc_id""".stripMargin
  }

  /** Language ID via stopword-hit argmax. Emits the labeled lang too,
    * so downstream can measure heuristic-vs-label agreement. */
  def langIdSql(d: SqlDialect): String = {
    val hit = (words: Seq[String]) =>
      s"CAST(${d.arrSize(d.arrFilter("toks", "t", d.containedIn("t", words)))} AS BIGINT)"
    s"""WITH t AS (
       |  SELECT doc_id, lang, ${d.tokens("text")} AS toks FROM documents),
       |h AS (
       |  SELECT doc_id, lang,
       |    ${hit(StopEn)} AS hits_en, ${hit(StopEs)} AS hits_es,
       |    ${hit(StopFr)} AS hits_fr, ${hit(StopDe)} AS hits_de
       |  FROM t)
       |SELECT doc_id, lang,
       |  CASE WHEN greatest(hits_en, hits_es, hits_fr, hits_de) = 0 THEN 'und'
       |       WHEN hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_de THEN 'en'
       |       WHEN hits_es >= hits_fr AND hits_es >= hits_de THEN 'es'
       |       WHEN hits_fr >= hits_de THEN 'fr'
       |       ELSE 'de' END AS pred_lang,
       |  greatest(hits_en, hits_es, hits_fr, hits_de) AS best_hits
       |FROM h
       |ORDER BY doc_id""".stripMargin
  }

  /** Document fingerprinting: full-document rolling polynomial hash of
    * the token-hash sequence (order-sensitive), plus a winnowing-style
    * minimum over 8-token window hashes (robust to local edits). */
  def fingerprintSql(d: SqlDialect): String = {
    val P = TextOps.P
    val wordHashes =
      d.arrTransform("toks", "w", s"(${d.h60("w")} % $P)")
    val roll = (arr: String) =>
      d.fold(arr, "CAST(0 AS BIGINT)", "acc", "v", s"((acc * 31) % $P + v) % $P")
    val winHashes =
      d.arrTransform(d.sequence1(s"${d.arrSize("wh")} - 7"), "i",
        roll(d.arrSlice("wh", "i", "8")))
    s"""WITH t AS (
       |  SELECT doc_id, ${d.tokens("text")} AS toks FROM documents),
       |h AS (
       |  SELECT doc_id, ${d.arrSize("toks")} AS nt, $wordHashes AS wh FROM t)
       |SELECT doc_id,
       |  CAST(nt AS BIGINT) AS n_tokens,
       |  ${roll("wh")} AS doc_fp,
       |  coalesce(${d.arrMin(winHashes)}, ${roll("wh")}) AS win_fp
       |FROM h
       |ORDER BY doc_id""".stripMargin
  }

  /** Deterministic train/val/test splitting (90/5/5) by content-
    * independent hash of the document id — the split assignment a
    * training pipeline must reproduce bit-identically on any engine,
    * any partitioning, any run.  Emits per-split corpus stats. */
  def sampleSplitSql(d: SqlDialect): String = {
    // n_chars computed from the text, matching qualitySql/curationSql:
    // every operator's char stats are a pure function of the text, so
    // the per-split totals reconcile across operators even on corpora
    // whose stored n_chars column drifts
    s"""WITH s AS (
       |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
       |    ${splitCase(d)} AS split
       |  FROM documents)
       |SELECT split, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |  CAST(min(doc_id) AS BIGINT) AS min_doc_id,
       |  CAST(max(doc_id) AS BIGINT) AS max_doc_id
       |FROM s GROUP BY split
       |ORDER BY split""".stripMargin
  }

  /** End-to-end curation pipeline — the composition a training-data
    * team actually runs, as ONE declarative query: quality-gate the
    * corpus (same composite score as qualitySql, threshold 0.5) →
    * exact-dedup the survivors to their min-id representatives → assign
    * deterministic 90/5/5 splits → per-split corpus stats.  Each stage
    * reuses the shared dialect fragments, so the whole pipeline is
    * oracle-checked end to end; at scale it is a narrow scoring pass,
    * one dedup shuffle, and one small aggregation. */
  def curationSql(d: SqlDialect): String = {
    // composed from the SAME fragments as quality/dedup/split — the
    // rounded score gate matches text_quality's displayed score exactly
    val norm = d.reReplace("trim(lower(text))", "\\s+", " ")
    // n_chars is COMPUTED from the text (like qualitySql and
    // scoredSplitExprs), never read from the stored column: the score
    // must be a pure function of the text so every form and the
    // oracle agree even on corpora whose stored n_chars drifts
    s"""WITH t AS (
       |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, text,
       |    ${d.tokens("text")} AS toks
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, n_chars, text,
       |    CAST(${d.arrSize("toks")} AS BIGINT) AS n_tokens,
       |    CAST(${lenMinus(d)("[^a-zA-Z0-9\\s]")} AS DOUBLE) AS n_sym,
       |    CAST(${lenMinus(d)("[0-9]")} AS DOUBLE) AS n_digit
       |  FROM t),
       |q AS (
       |  SELECT doc_id, n_chars, n_tokens, text,
       |    round(${scoreExpr()}, 6) AS score
       |  FROM m),
       |keep AS (
       |  SELECT doc_id, n_chars, n_tokens, md5($norm) AS text_md5
       |  FROM q WHERE score >= 0.5),
       |rep AS (
       |  SELECT text_md5, min(doc_id) AS rep_id FROM keep GROUP BY text_md5),
       |ded AS (
       |  SELECT k.doc_id, k.n_chars, k.n_tokens
       |  FROM keep k JOIN rep r
       |    ON k.text_md5 = r.text_md5 AND k.doc_id = r.rep_id),
       |s AS (
       |  SELECT ${splitCase(d)} AS split,
       |    doc_id, n_chars, n_tokens
       |  FROM ded)
       |SELECT split, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
       |FROM s GROUP BY split ORDER BY split""".stripMargin
  }

  /** TF-IDF top-3 terms per document: term frequency over normalized
    * tokens, document frequency from the distinct (doc, term) relation,
    * idf = ln(N/df), ranked per doc (ties on term).  The classic
    * keyword-extraction / relevance-weighting operator; at scale it is
    * two hash aggregations and a broadcast of the (tiny) doc count.
    * The score is rounded to the 6-decimal grid BEFORE ranking so both
    * engines order identical values (ln() is only 1-ulp-accurate and
    * mathematically tied scores — e.g. ln(36) vs 2·ln(6) — could
    * otherwise rank differently per engine). */
  def tfidfSql(d: SqlDialect, tokSrc: Option[String] = None): String = {
    val tokBody = tokSrc.getOrElse(
      s"SELECT doc_id, ${d.tokens("text")} AS toks FROM documents")
    s"""WITH tok AS (
       |  $tokBody),
       |e AS (
       |  SELECT doc_id, ${d.explode("toks")} AS term FROM tok),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM e GROUP BY doc_id, term),
       |df AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY term),
       |n AS (
       |  SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
       |s AS (
       |  SELECT tf.doc_id, tf.term,
       |    round(CAST(tf.tf AS DOUBLE)
       |      * ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)), 6) AS tfidf
       |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
       |r AS (
       |  SELECT doc_id, term, tfidf,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY tfidf DESC, term) AS rn
       |  FROM s)
       |SELECT doc_id, term, tfidf,
       |  CAST(rn AS BIGINT) AS rank
       |FROM r WHERE rn <= 3
       |ORDER BY doc_id, rank""".stripMargin
  }

  /** Sequence packing (token-budget sharding): per language, documents
    * in doc_id order are assigned to consecutive packs of ≤2048-token
    * running budget via the cumulative token count — the deterministic,
    * window-expressible form of next-fit packing a training pipeline
    * uses to build fixed-size context batches.  Per-key windows keep it
    * embarrassingly parallel across shards at scale. */
  def packSequencesSql(d: SqlDialect): String = {
    val budget = 2048
    s"""WITH tok AS (
       |  SELECT doc_id, lang, ${d.arrSize(d.tokens("text"))} AS n_tok
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, lang, n_tok,
       |    CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM tok),
       |p AS (
       |  SELECT lang, doc_id, n_tok,
       |    ${d.intDiv("(cum - 1)", budget.toString)} AS pack_id
       |  FROM c)
       |SELECT lang, CAST(pack_id AS BIGINT) AS pack_id,
       |  count(*) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
       |  CAST(max(n_tok) AS BIGINT) AS max_tokens,
       |  CAST(min(doc_id) AS BIGINT) AS first_doc,
       |  CAST(max(doc_id) AS BIGINT) AS last_doc
       |FROM p GROUP BY lang, pack_id
       |ORDER BY lang, pack_id""".stripMargin
  }

  /** Fixed-window document chunking with overlap — the pretraining /
    * RAG shard operator: each document becomes ⌈max(0, n−W)/S⌉+1
    * chunks of ≤`ChunkWindow` tokens on a stride of
    * `ChunkWindow − ChunkOverlap`, so consecutive chunks share
    * `ChunkOverlap` tokens and no token is lost.  Emits per chunk the
    * token span and a 60-bit content hash of the joined token slice —
    * enough for a downstream exact-dedup over CHUNKS (the shard-level
    * dedup a pipeline runs after packing) without shipping chunk text
    * through the comparison.  Chunk count and spans are pure
    * arithmetic over the token count; the hash is the shared h60 —
    * deterministic in both engines.  Narrow per-document generate +
    * projection: no shuffle, embarrassingly parallel at any scale. */
  val ChunkWindow = 32
  val ChunkOverlap = 8

  /** The chunk relation WITHOUT the final sort — stateless and
    * shuffle-free, so the identical statement also runs over a
    * STREAMING `documents` view (append mode; global ORDER BY is a
    * batch-only concept).  `chunkingSql` adds the presentation sort
    * for the registered batch query. */
  /** The chunk-definition CTE chain — the ONE statement of the chunk
    * arithmetic (count CASE, stride, slice bounds), shared by the
    * chunking/chunk-dedup family here and the passage-level retrieval
    * in `Retrieval.chunkBm25Sql`, so the spans a retrieval hit names
    * can never drift from the spans the dedup report counts.  Ends in
    * `chunks(doc_id, lang, chunk_id, n_tok, ctoks)`. */
  private[ops] def chunkRelCtes(d: SqlDialect): String = {
    val w = ChunkWindow
    val s = ChunkWindow - ChunkOverlap
    s"""ctok AS (
       |  SELECT doc_id, lang, ${d.tokens("text")} AS toks FROM documents),
       |cn AS (
       |  SELECT doc_id, lang, toks, ${d.arrSize("toks")} AS n_tok FROM ctok),
       |cdef AS (
       |  SELECT doc_id, lang, toks, n_tok,
       |    (CASE WHEN n_tok <= $w THEN 1
       |     ELSE 1 + ${d.intDiv(s"(n_tok - $w + $s - 1)", s.toString)}
       |     END) AS n_chunks
       |  FROM cn),
       |cx AS (
       |  SELECT doc_id, lang, toks, n_tok,
       |    ${d.explode(d.sequence0("n_chunks"))} AS chunk_id
       |  FROM cdef),
       |chunks AS (
       |  SELECT doc_id, lang, chunk_id, n_tok,
       |    ${d.arrSlice("toks", s"chunk_id * $s + 1", w.toString)} AS ctoks
       |  FROM cx)""".stripMargin
  }

  def chunkingSqlCore(d: SqlDialect): String = {
    val w = ChunkWindow
    val s = ChunkWindow - ChunkOverlap
    s"""WITH ${chunkRelCtes(d)}
       |SELECT doc_id, lang, CAST(chunk_id AS BIGINT) AS chunk_id,
       |  CAST(chunk_id * $s + 1 AS BIGINT) AS start_tok,
       |  CAST(least($w, n_tok - chunk_id * $s) AS BIGINT) AS n_tok_chunk,
       |  ${d.h60(d.arrJoin("ctoks", " "))} AS chunk_hash
       |FROM chunks""".stripMargin
  }

  def chunkingSql(d: SqlDialect): String =
    s"""${chunkingSqlCore(d)}
       |ORDER BY doc_id, chunk_id""".stripMargin

  /** Chunk-level redundancy report — the downstream consumer the
    * chunk hash exists for: per language, how many chunks the corpus
    * shards into, how many are distinct by content hash, and the
    * redundant mass an exact chunk-dedup would drop (Σ (f−1) over
    * hashes with frequency f > 1).  One hash-shuffle over the chunk
    * relation with map-side combine — scale-safe at any corpus. */
  def chunkDedupSql(d: SqlDialect): String =
    s"""WITH g AS (
       |  SELECT lang, chunk_hash, count(*) AS f
       |  FROM (${chunkingSqlCore(d)}) ch
       |  GROUP BY lang, chunk_hash)
       |SELECT lang,
       |  CAST(sum(f) AS BIGINT) AS n_chunks,
       |  CAST(count(*) AS BIGINT) AS n_distinct,
       |  CAST(sum(CASE WHEN f > 1 THEN f - 1 ELSE 0 END) AS BIGINT)
       |    AS n_redundant,
       |  round(CAST(sum(CASE WHEN f > 1 THEN f - 1 ELSE 0 END) AS DOUBLE)
       |    / sum(f), 6) AS redundancy_ratio
       |FROM g GROUP BY lang
       |ORDER BY lang""".stripMargin

  /** Deterministic quality-weighted sampling: each document is kept
    * with probability equal to its quality score, decided by comparing
    * a content-independent hash of the doc id (salted so it is
    * independent of the split-assignment hash) against the score on a
    * fixed 10⁶ grid — the training-mix sampler that upweights clean
    * text, reproducible bit-for-bit on any engine, any partitioning,
    * any run.  Emits per-language acceptance stats.
    *
    * The round(x, 0) before the BIGINT cast is REQUIRED, even for
    * scores already on the round(..., 6) grid: multiplying a 6-decimal
    * double by 10⁶ is NOT always exact (the error can reach a full ulp
    * in the upper half of a binade).  Exhaustively, 23,104 of the
    * 10⁶+1 grid values do not multiply back to the intended integer,
    * and 11,549 land BELOW it — e.g. 0.000249 · 10⁶ =
    * 248.99999999999997, where Spark's truncating CAST yields 248
    * while DuckDB's rounding CAST yields 249.  Removing the round()
    * breaks Spark/DuckDB parity on-grid; do not remove it. */
  def weightedSampleSql(d: SqlDialect): String = {
    val scoreExprAliased = scoredSplitExprs(d).head // round(...,6) AS quality_score
    val salted = d.h60(s"${d.castStr("doc_id")} || '_ws'")
    s"""WITH q AS (
       |  SELECT doc_id, lang, $scoreExprAliased
       |  FROM documents),
       |k AS (
       |  SELECT lang, quality_score,
       |    CASE WHEN ($salted % 1000000)
       |         < CAST(round(quality_score * 1000000, 0) AS BIGINT)
       |         THEN 1 ELSE 0 END AS kept
       |  FROM q)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(kept) AS BIGINT) AS n_kept,
       |  round(avg(quality_score), 6) AS avg_score
       |FROM k GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Repetition signals in the style of the Gopher quality filters
    * (Rae et al. 2021, "Scaling Language Models", §A1.1), adapted to
    * word level because the fixture corpus is single-line: per doc,
    * the fraction of tokens taken by the single most frequent token
    * (`top_word_frac`) and the fraction of word-3-gram positions whose
    * gram repeats inside the doc (`dup_3gram_frac` = 1 − distinct/
    * total positions; `shingles3` is the distinct set, so no second
    * gram pass).  `repetitive` flags docs past the Gopher-ish bars
    * (top word > 20% or duplicate 3-gram positions > 30%) as an
    * INT 0/1 for engine-portable hashing.  Docs with zero normalized
    * tokens have no word rows to aggregate and fall out of the output
    * (inner-join semantics, identical on both engines) — there is
    * nothing to score and no division by zero.
    *
    * Scale shape: token stats are a narrow projection; the top-word
    * count is explode → two map-side-combining aggregates keyed by
    * doc_id — partial aggregation collapses each doc's token counts
    * before the shuffle, so the shuffled volume is distinct
    * (doc, token) pairs, bounded by corpus vocabulary incidence, and
    * skew is bounded by document length, not corpus frequency. */
  def repetitionSql(d: SqlDialect): String =
    s"""WITH t AS (
       |  SELECT doc_id, ${d.tokens("text")} AS toks FROM documents),
       |s AS (
       |  SELECT doc_id, ${d.arrSize("toks")} AS n_words,
       |    ${d.arrSize(d.shingles3("toks"))} AS n_distinct_3g
       |  FROM t),
       |w AS (
       |  SELECT doc_id, ${d.explode("toks")} AS w FROM t),
       |wc AS (
       |  SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w),
       |tw AS (
       |  SELECT doc_id, max(c) AS top_c FROM wc GROUP BY doc_id),
       |j AS (
       |  SELECT s.doc_id, s.n_words,
       |    CAST(tw.top_c AS DOUBLE) / s.n_words AS twf,
       |    CASE WHEN s.n_words >= 3
       |      THEN ${d.dlit(1.0)}
       |        - CAST(s.n_distinct_3g AS DOUBLE) / (s.n_words - 2)
       |      ELSE ${d.dlit(0.0)} END AS dgf
       |  FROM s JOIN tw ON tw.doc_id = s.doc_id)
       |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
       |  round(twf, 6) AS top_word_frac,
       |  round(dgf, 6) AS dup_3gram_frac,
       |  CAST(CASE WHEN twf > 0.2 OR dgf > 0.3 THEN 1 ELSE 0 END
       |    AS BIGINT) AS repetitive
       |FROM j
       |ORDER BY doc_id""".stripMargin

  /** Data-mixture sampling plan (the fixed-weight mixture step of a
    * training-data pipeline, cf. the hand-set mixture weights in The
    * Pile / C4): given the observed per-language token mass, compute
    * the sampling rate that hits an equal-share language mixture
    * within a total budget of half the corpus tokens.  Rates cap at
    * 1.0 — a language short of its share is taken whole, and the
    * shortfall is visible as expected_tokens < budget/n_langs (no
    * re-allocation pass is attempted).  Pure
    * aggregate arithmetic: two map-side-combining aggs and a 1-row
    * broadcast cross join (the `q_above_avg` global-aggregate
    * pattern), so the plan is scan-bound at any scale. */
  def mixturePlanSql(d: SqlDialect): String = {
    val rate = s"""least(${d.dlit(1.0)},
       |    CAST(g.total_tokens AS DOUBLE) / 2 / g.n_langs / l.lang_tokens)""".stripMargin
    s"""WITH t AS (
       |  SELECT lang, CAST(${d.arrSize(d.tokens("text"))} AS BIGINT) AS ntok
       |  FROM documents),
       |l AS (
       |  SELECT lang, CAST(sum(ntok) AS BIGINT) AS lang_tokens
       |  FROM t GROUP BY lang),
       |g AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_langs,
       |    CAST(sum(lang_tokens) AS BIGINT) AS total_tokens FROM l)
       |SELECT l.lang, l.lang_tokens,
       |  round(CAST(l.lang_tokens AS DOUBLE) / g.total_tokens, 6)
       |    AS natural_share,
       |  round($rate, 6) AS sample_rate,
       |  CAST(round($rate * l.lang_tokens, 0) AS BIGINT) AS expected_tokens
       |FROM l CROSS JOIN g
       |ORDER BY lang""".stripMargin
  }

  /** Exponent for the temperature-scaled mixture: XLM-R's α = 0.7
    * (Conneau et al. 2020 sample languages ∝ qᵢ^α; mT5 uses the
    * sharper α = 0.3).  α < 1 flattens the head and upweights tail
    * languages; α = 1 is natural sampling, α → 0 the equal-share
    * degenerate case `text_mixture_plan` models. */
  val MixtureAlpha = 0.7

  /** Temperature-scaled mixture plan (the XLM-R / mT5 sampling rule,
    * UniMax's point of comparison): language shares ∝ qᵢ^α where
    * qᵢ is the natural token share and α = `MixtureAlpha` < 1 — the
    * head is flattened, the tail upweighted, natural ordering
    * preserved (unlike equal-share).  Reports, per language, the
    * natural share, the temperature share, and the sampling rate /
    * expected tokens that realize the temperature mixture under the
    * same half-corpus token budget as `text_mixture_plan` (rates cap
    * at 1.0; an over-asked tail language is taken whole and the
    * shortfall stays visible rather than re-allocated).
    *
    * Determinism discipline for the one transcendental chain: qᵢ is a
    * ratio of identical BIGINTs (exactly-rounded division → identical
    * doubles), ln(qᵢ) is µ-quantized the instant it leaves libm, the
    * ×α runs on the quantized grid point, and exp's 1-ulp noise
    * on a value ≤ 1 is ~10⁻¹⁶ — absorbed by the 10⁻⁶ re-quantization
    * (the `dsirSampleSql` exp discipline).  Shares are then ratios of
    * integer weight sums: exact.
    *
    * Scale: identical shape to `text_mixture_plan` — one per-language
    * aggregate, two 1-row broadcasts; scan-bound at any corpus. */
  def mixtureTemperatureSql(d: SqlDialect): String = {
    val quant = d.dlit(1e6)
    val alpha = d.dlit(MixtureAlpha)
    // w_u = round(exp(alpha * round(ln(q)*1e6)/1e6) * 1e6): the
    // µ-quantized q^α in integer micro-units.
    val wU =
      s"""CAST(round(exp($alpha *
         |      CAST(CAST(round(ln(CAST(l.lang_tokens AS DOUBLE) / g.total_tokens)
         |        * $quant) AS BIGINT) AS DOUBLE) / $quant) * $quant) AS BIGINT)""".stripMargin
    val rate =
      s"""least(${d.dlit(1.0)},
         |    CAST(w.total_tokens AS DOUBLE) / 2
         |      * (CAST(w.w_u AS DOUBLE) / tw.tw) / w.lang_tokens)""".stripMargin
    s"""WITH t AS (
       |  SELECT lang, CAST(${d.arrSize(d.tokens("text"))} AS BIGINT) AS ntok
       |  FROM documents),
       |l AS (
       |  SELECT lang, CAST(sum(ntok) AS BIGINT) AS lang_tokens
       |  FROM t GROUP BY lang),
       |g AS (
       |  SELECT CAST(sum(lang_tokens) AS BIGINT) AS total_tokens FROM l),
       |w AS (
       |  SELECT l.lang, l.lang_tokens, g.total_tokens, $wU AS w_u
       |  FROM l CROSS JOIN g),
       |tw AS (
       |  SELECT CAST(sum(w_u) AS BIGINT) AS tw FROM w)
       |SELECT w.lang, w.lang_tokens,
       |  round(CAST(w.lang_tokens AS DOUBLE) / w.total_tokens, 6)
       |    AS natural_share,
       |  round(CAST(w.w_u AS DOUBLE) / tw.tw, 6) AS temp_share,
       |  round($rate, 6) AS sample_rate,
       |  CAST(round($rate * w.lang_tokens, 0) AS BIGINT) AS expected_tokens
       |FROM w CROSS JOIN tw
       |ORDER BY lang""".stripMargin
  }

  /** Corpus-wide duplicated-span measurement in the style of Lee et
    * al. 2021 ("Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499): per document, the fraction of token
    * 8-gram positions whose span occurs at least twice ANYWHERE in the
    * corpus (other docs or a repeat within the same doc).  This is the
    * corpus-level complement of `text_repetition` (within-doc only)
    * and `dedup_ngram_jaccard` (pairwise): it localizes duplication to
    * span positions without ever forming doc×doc pairs.  Spans are
    * compared by their 60-bit md5 hash (engine-portable; collisions
    * ~2⁻⁶⁰ per pair).
    *
    * Scale shape: explode → map-side-combining `groupBy(gh)` for the
    * occurrence table → one shuffle join back on gh → per-doc
    * aggregate.  A viral span skews its join key LINEARLY (all its
    * positions meet one df row — AQE skew-split territory), never
    * quadratically: there is no candidate pair generation here, which
    * is why this needs no hot-gram cap.  The windowed alternative
    * (`count(*) OVER (PARTITION BY gh)`) would ship every posting of a
    * hot span into one window task — same reasoning as
    * `TextOps.capPostings`, so the groupBy+join form is the one that
    * survives 100×. */
  def dupSpansSql(d: SqlDialect, n: Int = 8): String = {
    val concatN = (0 until n).map(j =>
      if (j == 0) d.arrAt("toks", "i") else d.arrAt("toks", s"i + $j"))
      .mkString(" || ' ' || ")
    val grams = d.arrTransform(
      d.sequence1(s"${d.arrSize("toks")} - ${n - 1}"), "i", d.h60(concatN))
    s"""WITH t AS (
       |  SELECT doc_id, ${d.tokens("text")} AS toks FROM documents),
       |s AS (
       |  SELECT doc_id, $grams AS ghs FROM t),
       |e AS (
       |  SELECT doc_id, ${d.explode("ghs")} AS gh FROM s),
       |df AS (
       |  SELECT gh, count(*) AS occ FROM e GROUP BY gh),
       |j AS (
       |  SELECT e.doc_id,
       |    CASE WHEN df.occ >= 2 THEN 1 ELSE 0 END AS dup
       |  FROM e JOIN df ON df.gh = e.gh),
       |a AS (
       |  SELECT doc_id, count(*) AS n_spans,
       |    CAST(sum(dup) AS BIGINT) AS n_dup FROM j GROUP BY doc_id)
       |SELECT t.doc_id,
       |  coalesce(CAST(a.n_spans AS BIGINT), CAST(0 AS BIGINT)) AS n_spans,
       |  coalesce(a.n_dup, CAST(0 AS BIGINT)) AS n_dup_spans,
       |  round(CASE WHEN coalesce(a.n_spans, 0) > 0
       |    THEN CAST(a.n_dup AS DOUBLE) / a.n_spans
       |    ELSE ${d.dlit(0.0)} END, 6) AS dup_span_frac
       |FROM t LEFT JOIN a ON a.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  /** The REMOVAL half of Lee et al. 2021's exact-substring dedup
    * (`text_dup_spans` is the measurement half): per document, the
    * token budget left after cutting every position covered by a
    * duplicated 8-gram span (a span whose 60-bit hash occurs ≥ 2×
    * anywhere in the corpus).  A position p is cut iff some duplicated
    * span starts in [p−7, p] — the union of the covering intervals,
    * which is what an actual cut-list writer would delete.
    *
    * Scale shape: the occurrence table is the same map-side-combining
    * `groupBy(gh)` as `text_dup_spans` (viral spans skew a JOIN key
    * linearly, never quadratically — no pair generation, no cap
    * needed).  Coverage is a per-document window (`max(start_flag)
    * OVER (PARTITION BY doc_id ORDER BY pos ROWS 7 PRECEDING)`) —
    * bounded by each document's own length, so the window never
    * concentrates corpus-scale data in one task the way a global or
    * per-gram window would.  Both explodes are token-linear.
    * Deterministic: pure integer counts; the only double is the final
    * round(cut/n, 6). */
  def dupSpanCutSql(d: SqlDialect, n: Int = 8): String = {
    val concatN = (0 until n).map(j =>
      if (j == 0) d.arrAt("toks", "i") else d.arrAt("toks", s"i + $j"))
      .mkString(" || ' ' || ")
    val grams = d.arrTransform(
      d.sequence1(s"${d.arrSize("toks")} - ${n - 1}"), "i", d.h60(concatN))
    s"""WITH t AS (
       |  SELECT doc_id, ${d.tokens("text")} AS toks FROM documents),
       |s AS (
       |  SELECT doc_id, ${d.arrSize("toks")} AS n_toks, $grams AS ghs
       |  FROM t),
       |e AS (
       |  SELECT doc_id, ${d.explode(d.sequence1(d.arrSize("ghs")))} AS pos,
       |    ghs FROM s),
       |sp AS (
       |  -- e carries ghs only inside this pipeline-local projection
       |  -- (explode -> element_at fuse in one codegen stage); nothing
       |  -- array-valued ever crosses an exchange
       |  SELECT doc_id, pos, ${d.arrAt("ghs", "pos")} AS gh FROM e),
       |df AS (
       |  SELECT gh FROM (
       |    SELECT gh, count(*) AS occ FROM sp GROUP BY gh) o
       |  WHERE o.occ >= 2),
       |ds AS (
       |  SELECT sp.doc_id, sp.pos FROM sp JOIN df ON df.gh = sp.gh),
       |pp AS (
       |  SELECT doc_id, ${d.explode(d.sequence1("n_toks"))} AS pos FROM s),
       |cov AS (
       |  SELECT pp.doc_id, pp.pos,
       |    CASE WHEN ds.pos IS NOT NULL THEN 1 ELSE 0 END AS st
       |  FROM pp LEFT JOIN ds
       |    ON ds.doc_id = pp.doc_id AND ds.pos = pp.pos),
       |w AS (
       |  SELECT doc_id,
       |    max(st) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW) AS cut
       |  FROM cov),
       |a AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |    CAST(sum(cut) AS BIGINT) AS cut_tokens
       |  FROM w GROUP BY doc_id)
       |SELECT t.doc_id,
       |  coalesce(CAST(a.n_tokens AS BIGINT), CAST(0 AS BIGINT)) AS n_tokens,
       |  coalesce(a.cut_tokens, CAST(0 AS BIGINT)) AS cut_tokens,
       |  coalesce(CAST(a.n_tokens AS BIGINT), CAST(0 AS BIGINT))
       |    - coalesce(a.cut_tokens, CAST(0 AS BIGINT)) AS kept_tokens,
       |  round(CASE WHEN coalesce(a.n_tokens, 0) > 0
       |    THEN CAST(a.cut_tokens AS DOUBLE) / a.n_tokens
       |    ELSE ${d.dlit(0.0)} END, 6) AS cut_frac
       |FROM t LEFT JOIN a ON a.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  /** Shared CTE chain ending in relation e(doc_id, split, gram) — one
    * definition for the oracle SQL and the engine's cached build. */
  private def contaminationGramCtes(d: SqlDialect): String =
    s"""t AS (
       |  SELECT doc_id, ${splitCase(d)} AS split, ${d.tokens("text")} AS toks
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, split, ${d.shingles3("toks")} AS grams FROM t),
       |e AS (
       |  SELECT doc_id, split, ${d.explode("grams")} AS gram FROM g)""".stripMargin

  /** Benchmark-contamination check: eval-split documents sharing word
    * 3-gram shingles with the train split.  Candidates come from the
    * inverted shingle index (blocked equi-join — never all-pairs); per
    * eval doc we report how many train docs share ≥ 3 shingles and the
    * strongest-overlap train doc (ties → min id).  Split assignment
    * reuses the shared 90/5/5 hash fragment, so "train"/"eval" here is
    * exactly text_sample_split's assignment.
    *
    * Like `Dedup.ngramJaccardSql`, candidate generation drops postings
    * for hot grams (df > maxDf) — one viral boilerplate shingle would
    * otherwise contribute O(f²) join rows — and folds the dropped
    * grams back EXACTLY into each surviving pair's shared-count via
    * the per-doc hot-gram array intersection (shingles are distinct
    * per doc), so the ≥ 3 threshold and the reported counts equal the
    * uncapped computation for every pair that shares at least one
    * cold gram.
    *
    * KNOWN BLIND SPOT — pairs whose ENTIRE overlap is hot grams are
    * not reported, and unlike Jaccard dedup (where boilerplate-only
    * overlap sits far below any similarity threshold) the ≥ 3 bar here
    * is easily met by hot grams alone, so a short eval doc made of
    * pure boilerplate can silently lose its contamination hits.  This
    * is inherent to the cap, not fixable cheaply: generating hot-only
    * candidates means pairing documents through posting lists of df >
    * maxDf, i.e. exactly the O(f²) blow-up the cap exists to prevent
    * (at web scale "documents containing ≥ 1 hot gram" is nearly all
    * documents, so a hot×hot doc join is an all-pairs join in
    * disguise).  Callers screening high-value eval sets should raise
    * `maxDf` (the fixture default of 64 is generous; results here are
    * proven bit-identical with and without the cap) or pre-strip known
    * boilerplate before the check.  The companion `contaminationRisk`
    * query lists exactly the eval docs for which this blind spot is
    * live (hot-gram mass alone ≥ 3), so the limitation is observable,
    * not silent.  The oracle applies the identical cap, so correctness
    * runs verify the capped spec. */
  def contaminationSql(d: SqlDialect, maxDf: Int = TextOps.MaxGramDf): String = {
    s"""WITH ${contaminationGramCtes(d)},
       |ew AS (
       |  SELECT doc_id, split, gram,
       |    count(*) OVER (PARTITION BY gram) AS df FROM e),
       |ec AS (
       |  SELECT doc_id, split, gram FROM ew WHERE df <= $maxDf),
       |hot AS (
       |  SELECT doc_id, ${d.listAgg("gram")} AS hgrams
       |  FROM ew WHERE df > $maxDf GROUP BY doc_id),
       |pair AS (
       |  SELECT ev.doc_id AS eval_id, tr.doc_id AS train_id,
       |    count(*) AS cold
       |  FROM ec ev JOIN ec tr ON ev.gram = tr.gram
       |  WHERE ev.split != 'train' AND tr.split = 'train'
       |  GROUP BY ev.doc_id, tr.doc_id),
       |v AS (
       |  SELECT p.eval_id, p.train_id,
       |    p.cold + coalesce(
       |      CAST(${d.arrIntersectSize("he.hgrams", "ht.hgrams")} AS BIGINT),
       |      CAST(0 AS BIGINT)) AS shared
       |  FROM pair p
       |  LEFT JOIN hot he ON he.doc_id = p.eval_id
       |  LEFT JOIN hot ht ON ht.doc_id = p.train_id),
       |f AS (
       |  SELECT eval_id, train_id, shared FROM v WHERE shared >= 3),
       |r AS (
       |  SELECT eval_id, train_id, shared,
       |    count(*) OVER (PARTITION BY eval_id) AS n_train_matches,
       |    row_number() OVER (PARTITION BY eval_id
       |      ORDER BY shared DESC, train_id) AS rn
       |  FROM f)
       |SELECT eval_id AS doc_id,
       |  CAST(n_train_matches AS BIGINT) AS n_train_matches,
       |  train_id AS top_train_doc,
       |  CAST(shared AS BIGINT) AS top_shared_grams
       |FROM r WHERE rn = 1
       |ORDER BY doc_id""".stripMargin
  }

  /** PII detection + redaction metrics — the safety-filter pass a
    * training-data pipeline runs before anything else is allowed to
    * see the text.  Four pattern families are counted per document
    * with engine-portable regexes (no lookaround, so java.util.regex
    * and RE2 read them identically): email addresses, IPv4 literals,
    * SSN-style ids, and phone-like digit runs (the digit-run family
    * deliberately also matches SSN shapes — families overlap rather
    * than leave gaps, documented here).  `redacted_len` is the
    * document length AFTER replacing every match with a fixed tag —
    * the actual redaction transform, measured rather than promised.
    *
    * The fixture corpus is PII-free by construction, so every fixture
    * row reports zeros (schema + per-row hash still checked end to
    * end); TextAnalysisSpec feeds a synthetic corpus where each family
    * fires and pins counts and redaction.  Scale: a shuffle-free
    * narrow projection, exactly like `qualitySql`. */
  /** The PII pattern families, shared by the batch query, the
    * curation audit logs and the oracle — one definition for every
    * consumer. */
  val PiiEmail = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PiiIp = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  val PiiSsn = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
  val PiiPhone = "\\+?[0-9][0-9 ()-]{6,}[0-9]"
  val PiiFamilies: Seq[(String, String)] = Seq(
    "n_emails" -> PiiEmail, "n_ips" -> PiiIp,
    "n_ids" -> PiiSsn, "n_phones" -> PiiPhone)

  /** Chained redaction of every family in `expr` (lowercased text). */
  def piiRedact(d: SqlDialect, expr: String): String =
    PiiFamilies.map(_._2).foldLeft(expr) {
      (acc, pat) => d.reReplace(acc, pat, "<pii>")
    }

  def piiSql(d: SqlDialect): String = {
    val counts = PiiFamilies.map { case (name, pat) =>
      s"CAST(${d.regexpExtractAllSize("lt", pat)} AS BIGINT) AS $name"
    }.mkString(",\n    ")
    s"""WITH t AS (
       |  SELECT doc_id, lower(text) AS lt FROM documents),
       |c AS (
       |  SELECT doc_id,
       |    $counts,
       |    CAST(length(${piiRedact(d, "lt")}) AS BIGINT) AS redacted_len
       |  FROM t)
       |SELECT doc_id, n_emails, n_ips, n_ids, n_phones,
       |  (n_emails + n_ips + n_ids + n_phones > 0) AS has_pii,
       |  redacted_len
       |FROM c ORDER BY doc_id""".stripMargin
  }

  /** Per-document curation audit log — the provenance record that
    * makes the gate chain explainable: for every document, the quality
    * score and each stage's verdict (quality gate at the same rounded
    * 0.5 bar as `curationSql`, exact-dedup keeper election among the
    * quality survivors — dedup runs after the gate, so failers carry
    * NULL for a stage they never reached — and the PII families), plus
    * the final kept decision.  `kept` mirrors EXACTLY the
    * `curationSql` pipeline (quality + keeper); `has_pii` is an
    * advisory flag, not a kept conjunct, because PII is redacted
    * (`piiRedact`) rather than dropped — a drop-mode pipeline ANDs it
    * in itself.  Every predicate is the SAME shared fragment the
    * individual operators use, so the log cannot disagree with the
    * pipeline it explains (spec-pinned against `curation` + an
    * independent recomputation).
    *
    * Scale: the quality/PII verdicts are narrow projections; the dedup
    * verdict adds the one digest-keyed aggregate + join `dedup_exact`
    * itself pays.  This is the table a data-governance review asks
    * for: "why is doc X (not) in the corpus?" answered by one row. */
  def curationLogSql(d: SqlDialect): String = {
    val norm = d.reReplace("trim(lower(text))", "\\s+", " ")
    val piiCount = PiiFamilies.map { case (_, pat) =>
      d.regexpExtractAllSize("lower(text)", pat)
    }.mkString(" + ")
    s"""WITH t AS (
       |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, text,
       |    ${d.tokens("text")} AS toks
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, n_chars, text,
       |    CAST(${d.arrSize("toks")} AS BIGINT) AS n_tokens,
       |    CAST(${lenMinus(d)("[^a-zA-Z0-9\\s]")} AS DOUBLE) AS n_sym,
       |    CAST(${lenMinus(d)("[0-9]")} AS DOUBLE) AS n_digit
       |  FROM t),
       |q AS (
       |  SELECT doc_id, text, round(${scoreExpr()}, 6) AS score,
       |    (($piiCount) > 0) AS has_pii
       |  FROM m),
       |keep AS (
       |  SELECT doc_id, md5($norm) AS text_md5
       |  FROM q WHERE score >= 0.5),
       |rep AS (
       |  SELECT text_md5, min(doc_id) AS rep_id FROM keep GROUP BY text_md5)
       |SELECT q.doc_id, q.score AS quality_score,
       |  (q.score >= 0.5) AS passed_quality,
       |  CASE WHEN k.doc_id IS NULL THEN NULL
       |       ELSE (k.doc_id != r.rep_id) END AS is_exact_dup,
       |  q.has_pii,
       |  -- FALSE short-circuits the NULL dedup verdict for gate
       |  -- failers (FALSE AND NULL = FALSE in both engines' 3VL)
       |  ((q.score >= 0.5) AND k.doc_id = r.rep_id) AS kept
       |FROM q
       |LEFT JOIN keep k ON k.doc_id = q.doc_id
       |LEFT JOIN rep r ON r.text_md5 = k.text_md5
       |ORDER BY q.doc_id""".stripMargin
  }

  /** Quantile pair defining the corpus-derived surprisal band: the
    * central [Q1, Q3] half keeps the corpus bulk and both tails stay
    * live on any corpus with spread; a deployment wanting a wider or
    * asymmetric band passes explicit bounds instead. */
  val SurprisalBandLoP = 0.25
  val SurprisalBandHiP = 0.75

  /** The corpus unigram-surprisal relations shared by the full
    * curation log, the funnel, and the band-fit helper: token
    * frequencies → µ-quantized per-token surprisal → per-doc mean
    * (identical arithmetic to `unigramLogprobSql`).  Expects a `t`
    * relation of (doc_id, toks) to be in scope. */
  private def surCtes(d: SqlDialect): String =
    s"""tok AS (
       |  SELECT doc_id, ${d.explode("toks")} AS token FROM t),
       |tf AS (
       |  SELECT token, count(*) AS c FROM tok GROUP BY token),
       |n AS (
       |  SELECT CAST(sum(c) AS DOUBLE) AS total FROM tf),
       |su AS (
       |  SELECT /*+ BROADCAST(tf) */ tok.doc_id,
       |    CAST(round(ln(CAST(tf.c AS DOUBLE) / n.total) * ${d.dlit(1000000.0)})
       |      AS BIGINT) AS q
       |  FROM tok JOIN tf ON tf.token = tok.token CROSS JOIN n),
       |sur AS (
       |  SELECT doc_id,
       |    round(-CAST(sum(q) AS DOUBLE) / (${d.dlit(1000000.0)} * count(*)), 6)
       |      AS mean_surprisal
       |  FROM su GROUP BY doc_id)""".stripMargin

  /** Corpus-derived surprisal band as SQL CTEs over the `sur`
    * relation: `bnd` is ONE row (blo, bhi) = the [Q1, Q3] quantiles of
    * the per-doc mean-surprisal distribution, estimated by the same
    * mergeable 128-bin equi-width histogram inverse-interpolation as
    * `RelationalExt.histQuantilesSql` (oracle-proven identical in both
    * engines; the one-bin-width error is irrelevant for a band whose
    * exact placement is a tuning choice).  Constant memory at any
    * corpus size — the min/max/count pre-pass plus one 128-cell
    * map-side-combining aggregate — where an exact percentile would
    * need a full sort.  Every arithmetic step is a deterministic IEEE
    * expression of exact integers and 6-decimal-rounded doubles, so
    * engine and oracle land on bit-identical bounds.  Degenerate
    * corpora stay defined: all-equal surprisal yields the zero-width
    * band [lo, lo]; an EMPTY `sur` (no doc has tokens) yields a NULL
    * band, and the gate's COALESCE(..., FALSE) fails every doc — no
    * LM evidence, no pass. */
  private def surprisalBandCtes(d: SqlDialect): String = {
    val b = d.dlit(128.0)
    def tgt(p: Double) = s"(${d.dlit(p)} * (sb.n - 1) + ${d.dlit(1.0)})"
    def sel(name: String, p: Double) =
      s"""$name AS (
         |  SELECT min(s.bin) AS bin FROM scum s CROSS JOIN sb
         |  WHERE CAST(s.cum AS DOUBLE) >= ${tgt(p)})""".stripMargin
    def est(selRel: String, cumRel: String, p: Double) =
      s"max(sb.lo + ($selRel.bin + (${tgt(p)} - $cumRel.prev_cum)" +
        s" / $cumRel.c) * ((sb.hi - sb.lo) / $b))"
    s"""sb AS (
       |  SELECT min(mean_surprisal) AS lo, max(mean_surprisal) AS hi,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM sur),
       |sh AS (
       |  SELECT bin, CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT CASE WHEN sb.hi = sb.lo THEN CAST(0 AS BIGINT)
       |      ELSE CAST(least(floor((s.mean_surprisal - sb.lo)
       |        / ((sb.hi - sb.lo) / $b)), 127) AS BIGINT) END AS bin
       |    FROM sur s CROSS JOIN sb) z
       |  GROUP BY bin),
       |scum AS (
       |  SELECT bin, c,
       |    CAST(sum(c) OVER (ORDER BY bin) AS BIGINT) AS cum,
       |    CAST(coalesce(sum(c) OVER (ORDER BY bin
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS prev_cum
       |  FROM sh),
       |${sel("q1s", SurprisalBandLoP)},
       |${sel("q3s", SurprisalBandHiP)},
       |bnd AS (
       |  SELECT ${est("q1s", "c1", SurprisalBandLoP)} AS blo,
       |    ${est("q3s", "c3", SurprisalBandHiP)} AS bhi
       |  FROM sb CROSS JOIN q1s CROSS JOIN q3s
       |  LEFT JOIN scum c1 ON c1.bin = q1s.bin
       |  LEFT JOIN scum c3 ON c3.bin = q3s.bin)""".stripMargin
  }

  /** WITH-free form of the `sur` relation for the ENGINE's cached
    * view: identical arithmetic to `surCtes` (per-token µ-quantized
    * ln before the per-doc sum; total = corpus token count), but
    * expressed as nested subqueries — a temp view whose stored plan
    * carries CTE nodes trips a Catalyst CTE-id collision
    * (`PushdownPredicatesAndPruneColumnsForCTEDef`) when referenced
    * from another WITH query, so the view must be CTE-free.  The
    * token explode appears three times, but the view is built ONCE
    * per session and cached. */
  private def surViewSql(d: SqlDialect): String = {
    val tok =
      s"SELECT doc_id, ${d.explode(d.tokens("text"))} AS token FROM documents"
    s"""SELECT tok.doc_id,
       |  round(-CAST(sum(CAST(round(ln(CAST(tf.c AS DOUBLE) / n.total)
       |    * ${d.dlit(1000000.0)}) AS BIGINT)) AS DOUBLE)
       |    / (${d.dlit(1000000.0)} * count(*)), 6) AS mean_surprisal
       |FROM ($tok) tok
       |JOIN (SELECT token, count(*) AS c FROM ($tok) tk GROUP BY token) tf
       |  ON tf.token = tok.token
       |CROSS JOIN (SELECT CAST(count(*) AS DOUBLE) AS total FROM ($tok) ta) n
       |GROUP BY tok.doc_id""".stripMargin
  }

  /** Fit the corpus-derived surprisal band of the batch curation log
    * as two doubles, which the curation queries inline as literals.
    * Session-memoized per dataset; reads the cached `sur` view, so the
    * corpus LM fit is paid once. */
  def surprisalBand(spark: SparkSession, dir: String): Option[(Double, Double)] = {
    registerSurView(spark, dir)
    RelationCache.cachedScalar(spark, s"curation_band:$dir") {
      val row = spark.sql(
        s"WITH ${surprisalBandCtes(SparkDialect)}\nSELECT blo, bhi FROM bnd")
        .head()
      // A corpus where NO document has tokens fits no LM: the band
      // quantiles are NULL.  Return None so callers fall back to the
      // in-query band form (bnd.blo/bnd.bhi — NULL band fails every
      // doc via the COALESCE-to-FALSE gate), matching the
      // single-statement oracle instead of NPE-ing on getDouble.
      if (row.isNullAt(0) || row.isNullAt(1)) None
      else Some((row.getDouble(0), row.getDouble(1)))
    }
  }

  /** `curationLogSql` extended with the surprisal stage — the full
    * gate chain the composed pipeline runs (quality → surprisal →
    * dedup keeper, with the PII flag advisory as before): per document
    * the quality score, the mean unigram surprisal (fit on the corpus
    * itself, identical µ-quantized arithmetic to
    * `unigramLogprobSql` — the log's surprisal column is directly
    * comparable to `text_unigram_logprob`), each stage's verdict
    * (NULL when the doc never reached the stage), and the final
    * `kept`.  The keeper election runs among quality AND surprisal
    * survivors — a gate chain elects representatives only from
    * documents that passed every upstream gate.  A doc with no tokens
    * has no LM evidence: its surprisal is NULL and the gate fails it
    * (COALESCE to FALSE), pinned portable across both engines' 3VL.
    *
    * The surprisal band is DERIVED FROM THE CORPUS inside the query
    * (`surprisalBandCtes` — the [Q1, Q3] central quantiles of the
    * mean-surprisal distribution, constant-memory histogram estimate),
    * and reported as `surprisal_lo`/`surprisal_hi` columns so the
    * fitted band is itself oracle-checked.  This is what makes the
    * registered query corpus-agnostic: on ANY corpus the gate keeps
    * the central bulk and drops both tails, instead of rejecting
    * everything whenever a fixed band misses the corpus's surprisal
    * range. */
  def curationLogFullSql(d: SqlDialect): String =
    curationLogFullSql(d, band = None)

  /** `band = None` is the single-statement ORACLE form: the sur/bnd
    * chains ride as CTEs (inlined per reference by both engines) and
    * the band is derived inside the query.  The ENGINE entry point
    * passes the pre-fitted band (from `surprisalBand`, the identical
    * arithmetic over the session-cached `sur` view): `sur` then
    * resolves to the cached temp view and the bounds ride as double
    * literals, so the token explode + corpus LM fit runs ONCE per
    * session — the cached-DataFrame fan-out discipline every
    * multi-consumer operator here follows.  `Double.toString` is the
    * shortest round-trip representation, so the literal parses back
    * to the bit-identical double the oracle derives. */
  private[ops] def curationLogFullSql(d: SqlDialect,
      band: Option[(Double, Double)]): String = {
    val norm = d.reReplace("trim(lower(text))", "\\s+", " ")
    val piiCount = PiiFamilies.map { case (_, pat) =>
      d.regexpExtractAllSize("lower(text)", pat)
    }.mkString(" + ")
    val (blo, bhi) = band match {
      case Some((lo, hi)) =>
        (s"CAST('${lo}' AS DOUBLE)", s"CAST('${hi}' AS DOUBLE)")
      case None => ("bnd.blo", "bnd.bhi")
    }
    val inBand = s"sur.mean_surprisal BETWEEN $blo AND $bhi"
    val surChain =
      if (band.isEmpty) s"${surCtes(d)},\n${surprisalBandCtes(d)},\n" else ""
    val bndJoin = if (band.isEmpty) "CROSS JOIN bnd " else ""
    s"""WITH t AS (
       |  SELECT doc_id, text, ${d.tokens("text")} AS toks
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, text,
       |    CAST(${d.arrSize("toks")} AS BIGINT) AS n_tokens,
       |    CAST(${lenMinus(d)("[^a-zA-Z0-9\\s]")} AS DOUBLE) AS n_sym,
       |    CAST(${lenMinus(d)("[0-9]")} AS DOUBLE) AS n_digit
       |  FROM t),
       |q AS (
       |  SELECT doc_id, text, round(${scoreExpr()}, 6) AS score,
       |    (($piiCount) > 0) AS has_pii
       |  FROM m),
       |${surChain}keep AS (
       |  SELECT q.doc_id, md5($norm) AS text_md5
       |  FROM q LEFT JOIN sur ON sur.doc_id = q.doc_id $bndJoin
       |  WHERE q.score >= 0.5 AND COALESCE($inBand, FALSE)),
       |rep AS (
       |  SELECT text_md5, min(doc_id) AS rep_id FROM keep GROUP BY text_md5)
       |SELECT q.doc_id, q.score AS quality_score,
       |  (q.score >= 0.5) AS passed_quality,
       |  sur.mean_surprisal,
       |  round($blo, 6) AS surprisal_lo,
       |  round($bhi, 6) AS surprisal_hi,
       |  CASE WHEN q.score >= 0.5
       |       THEN COALESCE($inBand, FALSE) ELSE NULL END AS passed_surprisal,
       |  CASE WHEN k.doc_id IS NULL THEN NULL
       |       ELSE (k.doc_id != r.rep_id) END AS is_exact_dup,
       |  q.has_pii,
       |  ((q.score >= 0.5) AND COALESCE($inBand, FALSE)
       |    AND k.doc_id = r.rep_id) AS kept
       |FROM q
       |${bndJoin}LEFT JOIN sur ON sur.doc_id = q.doc_id
       |LEFT JOIN keep k ON k.doc_id = q.doc_id
       |LEFT JOIN rep r ON r.text_md5 = k.text_md5
       |ORDER BY q.doc_id""".stripMargin
  }

  /** Stage-by-stage attrition of the full curation gate chain — the
    * funnel a pipeline owner reads before anything else: how many
    * documents entered each gate, how many survived it, and the drop
    * fraction.  Built by aggregating `curationLogFullSql` AS A
    * SUBQUERY — the funnel and the per-doc audit log are the same
    * relation by construction and cannot disagree (the discipline the
    * whole curation-log family follows).
    *
    * Gate order mirrors the composed DAG: quality → surprisal →
    * exact-dedup keeper election.  A stage's `n_in` is the previous
    * stage's `n_out`; the surprisal stage counts
    * COALESCE(passed_surprisal, FALSE) because a gate-failer upstream
    * never reaches the stage (NULL verdict — not a pass).
    *
    * Scale: one aggregation over the log relation into a single row,
    * unpivoted to 3 stage rows — the funnel costs one extra reduce
    * over whatever the log costs. */
  def curationFunnelSql(d: SqlDialect): String =
    curationFunnelSql(d, band = None)

  private[ops] def curationFunnelSql(d: SqlDialect,
      band: Option[(Double, Double)]): String = {
    val log = curationLogFullSql(d, band)
    s"""SELECT CAST(s.stage_id AS BIGINT) AS stage_id, s.stage,
       |  CAST(s.n_in AS BIGINT) AS n_in,
       |  CAST(s.n_out AS BIGINT) AS n_out,
       |  CAST(s.n_in - s.n_out AS BIGINT) AS n_dropped,
       |  round(CAST(s.n_in - s.n_out AS DOUBLE)
       |    / greatest(s.n_in, 1), 6) AS drop_frac
       |FROM (
       |  WITH lg AS (
       |$log
       |  ),
       |  agg AS (
       |    SELECT count(*) AS n0,
       |      CAST(sum(CASE WHEN passed_quality THEN 1 ELSE 0 END)
       |        AS BIGINT) AS n1,
       |      CAST(sum(CASE WHEN coalesce(passed_surprisal, FALSE)
       |        THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       |      CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n3
       |    FROM lg)
       |  SELECT 1 AS stage_id, 'quality' AS stage, n0 AS n_in, n1 AS n_out
       |  FROM agg
       |  UNION ALL
       |  SELECT 2, 'surprisal', n1, n2 FROM agg
       |  UNION ALL
       |  SELECT 3, 'dedup', n2, n3 FROM agg
       |) s
       |ORDER BY stage_id""".stripMargin
  }

  /** Unigram-LM surprisal scoring — the classic LM quality filter: a
    * unigram model is fit on the corpus itself (token frequencies /
    * total), and each document is scored by the mean surprisal
    * −E[ln p(token)] of its tokens.  Gibberish and boilerplate land at
    * the extremes; mid-range documents read like the corpus.  Per-token
    * surprisals are µ-quantized to integers before the per-doc sum, so
    * the result is independent of partial-aggregation order (and of
    * last-ulp ln() differences between engines' libm).
    *
    * Scale: the token→frequency join is a dim join against the
    * vocabulary (broadcast-hinted; beyond broadcast size it degrades
    * to a shuffled join where AQE's skew split handles Zipf-heavy
    * tokens), then one map-side-combining per-doc aggregate.  The
    * 1-row total joins as a broadcast scalar. */
  def unigramLogprobSql(d: SqlDialect): String =
    s"""WITH t AS (
       |  SELECT doc_id, ${d.tokens("text")} AS toks FROM documents),
       |tok AS (
       |  SELECT doc_id, ${d.explode("toks")} AS token FROM t),
       |tf AS (
       |  SELECT token, count(*) AS c FROM tok GROUP BY token),
       |n AS (
       |  SELECT CAST(sum(c) AS DOUBLE) AS total FROM tf),
       |s AS (
       |  SELECT /*+ BROADCAST(tf) */ tok.doc_id,
       |    CAST(round(ln(CAST(tf.c AS DOUBLE) / n.total) * ${d.dlit(1000000.0)})
       |      AS BIGINT) AS q
       |  FROM tok JOIN tf ON tf.token = tok.token CROSS JOIN n)
       |SELECT doc_id, count(*) AS n_tokens,
       |  round(-CAST(sum(q) AS DOUBLE) / (${d.dlit(1000000.0)} * count(*)), 6)
       |    AS mean_surprisal
       |FROM s GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** Shingle novelty — the data-selection signal dual to dedup: the
    * fraction of a document's (distinct) 3-gram shingles that occur in
    * NO other document.  High-novelty docs carry unique content; a
    * near-zero score flags recombinations of corpus boilerplate even
    * when no single near-dup pair fires.  Documents with fewer than 3
    * tokens have no shingles and no row — same relation both engines.
    * Scale: one gram-keyed counting aggregate + a dim join back, all
    * integer arithmetic. */
  def noveltySql(d: SqlDialect): String =
    s"""WITH t AS (
       |  SELECT doc_id, ${d.shingles3(d.tokens("text"))} AS grams
       |  FROM documents),
       |e AS (
       |  SELECT doc_id, ${d.arrSize("grams")} AS ng,
       |    ${d.explode("grams")} AS gram
       |  FROM t),
       |gdf AS (
       |  SELECT gram, count(*) AS df FROM e GROUP BY gram)
       |SELECT e.doc_id,
       |  CAST(max(e.ng) AS BIGINT) AS n_grams,
       |  CAST(sum(CASE WHEN gdf.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_novel,
       |  round(CAST(sum(CASE WHEN gdf.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / max(e.ng), 6) AS novelty_frac
       |FROM e JOIN gdf ON gdf.gram = e.gram
       |GROUP BY e.doc_id
       |ORDER BY e.doc_id""".stripMargin

  private def run(spark: SparkSession, dir: String, sql: String): DataFrame = {
    Tables.documents(spark, dir).createOrReplaceTempView("documents")
    spark.sql(sql)
  }

  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, tokenCountsSql(SparkDialect))
  def quality(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, qualitySql(SparkDialect))
  def langId(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, langIdSql(SparkDialect))
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, fingerprintSql(SparkDialect))
  def sampleSplit(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, sampleSplitSql(SparkDialect))
  /** Engine form of `text_curation` (r16): the SQL oracle's `keep`
    * CTE is referenced twice (rep + ded), so Spark's per-reference CTE
    * inlining paid the full tokenize+regex+md5 corpus pass TWICE and
    * joined the copies.  Here the keep chain (t→m→q→keep, one
    * reference each — same dialect fragments) runs ONCE, and the
    * min-id representative election is a PARTITIONED window over
    * text_md5 (`doc_id = min(doc_id) OVER (PARTITION BY text_md5)` ≡
    * the oracle's keep ⋈ group-min self-join), then the same
    * split-case aggregate.  One corpus pass + one md5 shuffle;
    * `curationSql` stays the independent DuckDB oracle. */
  def curation(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val d = SparkDialect
    val norm = d.reReplace("trim(lower(text))", "\\s+", " ")
    // t/m/q/keep bodies copied verbatim from curationSql — one
    // reference each, so the chain inlines to a single pass
    val keepSql =
      s"""WITH t AS (
         |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, text,
         |    ${d.tokens("text")} AS toks
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, n_chars, text,
         |    CAST(${d.arrSize("toks")} AS BIGINT) AS n_tokens,
         |    CAST(${lenMinus(d)("[^a-zA-Z0-9\\s]")} AS DOUBLE) AS n_sym,
         |    CAST(${lenMinus(d)("[0-9]")} AS DOUBLE) AS n_digit
         |  FROM t),
         |q AS (
         |  SELECT doc_id, n_chars, n_tokens, text,
         |    round(${scoreExpr()}, 6) AS score
         |  FROM m)
         |SELECT doc_id, n_chars, n_tokens, md5($norm) AS text_md5
         |FROM q WHERE score >= 0.5""".stripMargin
    val keep = run(spark, dir, keepSql)
    val ded = keep
      .withColumn("rep_id",
        min(col("doc_id")).over(Window.partitionBy(col("text_md5"))))
      .filter(col("doc_id") === col("rep_id"))
    ded.select(expr(splitCase(d)).as("split"),
        col("n_chars"), col("n_tokens"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        sum(col("n_tokens")).cast("long").as("total_tokens"))
      .orderBy(col("split"))
  }

  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    TextOps.docTokens(spark, dir).createOrReplaceTempView("doc_toks")
    run(spark, dir, tfidfSql(SparkDialect,
      tokSrc = Some("SELECT doc_id, toks FROM doc_toks")))
  }
  def packSequences(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, packSequencesSql(SparkDialect))
  def chunking(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, chunkingSql(SparkDialect))
  def chunkDedup(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, chunkDedupSql(SparkDialect))
  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, weightedSampleSql(SparkDialect))
  def repetition(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, repetitionSql(SparkDialect))
  def mixturePlan(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, mixturePlanSql(SparkDialect))
  def mixtureTemperature(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, mixtureTemperatureSql(SparkDialect))
  def dupSpans(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, dupSpansSql(SparkDialect))
  def dupSpanCut(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, dupSpanCutSql(SparkDialect))
  def pii(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, piiSql(SparkDialect))
  def curationLog(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, curationLogSql(SparkDialect))
  /** Engine-side materialization of the multi-consumer `sur` relation
    * as a session-cached temp view: the gate and the verdict columns
    * both reference it, and SQL CTEs are inlined PER REFERENCE in
    * both engines — without this the token explode + corpus LM fit
    * would run three times per query.  The view is built from the
    * CTE-free `surViewSql` (see there for the Catalyst CTE-id
    * collision this avoids).  The oracle keeps the single-statement
    * inline form (its CTEs shadow this view, so registering it is
    * also safe for the SQL-equivalence specs). */
  private def registerSurView(spark: SparkSession, dir: String): Unit = {
    Tables.documents(spark, dir).createOrReplaceTempView("documents")
    RelationCache.materialized(spark, s"curation_sur:$dir") {
      spark.sql(surViewSql(SparkDialect))
    }.createOrReplaceTempView("sur")
  }

  def curationLogFull(spark: SparkSession, dir: String): DataFrame = {
    val band = surprisalBand(spark, dir) // registers the sur view
    spark.sql(curationLogFullSql(SparkDialect, band))
  }

  /** CCNet-style corpus partition by LM surprisal: every scored
    * document lands in `head` (mean surprisal below the corpus Q1 —
    * most corpus-like), `middle` (inside the [Q1, Q3] band), or
    * `tail` (above Q3), with per-bucket doc counts and µ-quantized
    * surprisal stats.  The band is the SAME corpus-derived quantile
    * estimate the curation gate uses (`surprisalBandCtes`), so the
    * bucketing and the gate can never disagree about where the
    * central bulk sits.  Deterministic across engines: per-doc
    * surprisals are already round(·, 6); the per-bucket mean sums
    * µ-quantized BIGINTs, so partial-aggregation order cannot move
    * the result.  Scale: one pass over the cached `sur` relation +
    * a 3-row aggregate — the LM fit amortizes across the whole
    * curation family. */
  def surprisalBucketsSql(d: SqlDialect): String =
    surprisalBucketsSql(d, band = None)

  private[ops] def surprisalBucketsSql(d: SqlDialect,
      band: Option[(Double, Double)]): String = {
    val (blo, bhi) = band match {
      case Some((lo, hi)) =>
        (s"CAST('${lo}' AS DOUBLE)", s"CAST('${hi}' AS DOUBLE)")
      case None => ("bnd.blo", "bnd.bhi")
    }
    // surCtes reads token arrays from a preceding `t` CTE — provide it
    // here (the curation statement does the same)
    val surChain =
      if (band.isEmpty)
        s"""t AS (
           |  SELECT doc_id, ${d.tokens("text")} AS toks FROM documents),
           |${surCtes(d)},
           |${surprisalBandCtes(d)},
           |""".stripMargin
      else ""
    val bndJoin = if (band.isEmpty) "CROSS JOIN bnd" else ""
    val mu = d.dlit(1000000.0)
    s"""WITH ${surChain}lab AS (
       |  SELECT sur.doc_id, sur.mean_surprisal,
       |    CASE WHEN sur.mean_surprisal < $blo THEN 'head'
       |         WHEN sur.mean_surprisal > $bhi THEN 'tail'
       |         ELSE 'middle' END AS bucket
       |  FROM sur $bndJoin)
       |SELECT bucket, CAST(count(*) AS BIGINT) AS docs,
       |  round(min(mean_surprisal), 6) AS lo_surprisal,
       |  round(max(mean_surprisal), 6) AS hi_surprisal,
       |  round(CAST(sum(CAST(round(mean_surprisal * $mu) AS BIGINT))
       |    AS DOUBLE) / ($mu * count(*)), 6) AS avg_surprisal
       |FROM lab GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  def surprisalBuckets(spark: SparkSession, dir: String): DataFrame = {
    val band = surprisalBand(spark, dir) // registers the sur view
    spark.sql(surprisalBucketsSql(SparkDialect, band))
  }
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val band = surprisalBand(spark, dir)
    spark.sql(curationFunnelSql(SparkDialect, band))
  }

  /** Bench-priced build of the shared curation LM relation (`sur`
    * view + band quantiles, labeled `curation_sur`): three queries
    * (`text_curation_log_full`, `text_curation_funnel`,
    * `text_surprisal_buckets`) serve from it, and under RUNS=1 its
    * token-explode + LM-fit cost otherwise attributes to whichever
    * of them runs first. */
  def prebuildSurRelation(spark: SparkSession, dir: String): Unit = {
    surprisalBand(spark, dir)
    spark.table("sur").count()
    ()
  }
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, unigramLogprobSql(SparkDialect))
  def novelty(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, noveltySql(SparkDialect))

  /** Surfaces the contamination cap's documented blind spot (see
    * `contaminationSql`): eval-split docs whose HOT-gram count alone
    * reaches the ≥ 3 shared-gram bar — for exactly these docs a
    * contaminated train pair could hide entirely inside hot grams and
    * never be generated by the cold join.  No pair generation happens
    * here: one semi-join of eval postings against the (tiny,
    * broadcast-guarded) hot set and a per-doc count, so the check
    * costs one pass over the cached posting relation regardless of how
    * viral the hot grams are.  An empty result proves the blind spot
    * is not live for this corpus/cap; a non-empty one tells the user
    * which eval docs need a raised `maxDf` or boilerplate stripping
    * before trusting `text_contamination`. */
  def contaminationRisk(spark: SparkSession, dir: String): DataFrame =
    contaminationRiskCapped(contaminationGrams(spark, dir), TextOps.MaxGramDf)

  /** The risk projection over an exploded posting relation — split out
    * so specs can drive it with a synthetic boilerplate corpus and a
    * tiny cap.  `hgrams` arrays are per-doc distinct (shingles are
    * distinct per doc), so `size(hgrams)` is the doc's hot-gram df
    * mass toward the ≥ 3 threshold. */
  private[ops] def contaminationRiskCapped(posts: DataFrame, maxDf: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val (_, hotPerDoc) = TextOps.capPostings(posts, maxDf)
    posts.filter(col("split") =!= "train").select("doc_id").distinct()
      .join(hotPerDoc, Seq("doc_id"))
      .select(col("doc_id"),
        size(col("hgrams")).cast("long").as("n_hot_grams"))
      .filter(col("n_hot_grams") >= 3)
      .orderBy("doc_id")
  }

  /** Oracle for `contaminationRisk` — same gram CTEs, df via window
    * (fine for the oracle's single-node engine), hot-only eval docs
    * with ≥ 3 hot grams. */
  def contaminationRiskSql(d: SqlDialect, maxDf: Int = TextOps.MaxGramDf): String =
    s"""WITH ${contaminationGramCtes(d)},
       |ew AS (
       |  SELECT doc_id, split, gram,
       |    count(*) OVER (PARTITION BY gram) AS df FROM e)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hot_grams
       |FROM ew WHERE df > $maxDf AND split != 'train'
       |GROUP BY doc_id HAVING count(*) >= 3
       |ORDER BY doc_id""".stripMargin

  /** Engine-side contamination: the exploded (doc, split, gram)
    * relation feeds BOTH sides of the inverted-index join; the
    * single-statement SQL (kept as the oracle) inlines the tokenize +
    * shingle chain per reference, so the engine computes it once as a
    * cached DataFrame and self-joins aliases — the same multi-consumer
    * pattern as Dedup's gram/signature relations. */
  def contamination(spark: SparkSession, dir: String): DataFrame =
    contaminationCapped(contaminationGrams(spark, dir), TextOps.MaxGramDf)

  /** The session-shared exploded posting relation e(doc_id, split,
    * gram) both contamination checks read. */
  private def contaminationGrams(spark: SparkSession, dir: String): DataFrame =
    RelationCache.materialized(spark, s"contamination_grams:$dir") {
      run(spark, dir,
        s"""WITH ${contaminationGramCtes(SparkDialect)}
           |SELECT doc_id, split, gram FROM e""".stripMargin)
    }

  /** The capped pair stage over an exploded posting relation
    * e(doc_id, split, gram) — split out so specs can run it on
    * synthetic boilerplate-heavy corpora with a tiny cap.  Mirrors the
    * CTE chain of `contaminationSql` (ec → pair → v → f → r) exactly,
    * but with gram df from a map-side-combining groupBy and the (tiny)
    * hot-gram set broadcast (`TextOps.capPostings`) — no window or
    * shuffle keyed on a skewed gram. */
  private[ops] def contaminationCapped(posts: DataFrame, maxDf: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val (cold, hotPerDoc) = TextOps.capPostings(posts, maxDf)
    val pair = cold.filter(col("split") =!= "train").as("ev")
      .join(cold.filter(col("split") === "train").as("tr"),
        col("ev.gram") === col("tr.gram"))
      .groupBy(col("ev.doc_id").as("eval_id"), col("tr.doc_id").as("train_id"))
      .agg(count(lit(1)).as("cold_shared"))
    pair
      .join(hotPerDoc.as("he"), col("he.doc_id") === col("eval_id"), "left")
      .join(hotPerDoc.as("ht"), col("ht.doc_id") === col("train_id"), "left")
      .withColumn("shared", col("cold_shared") + coalesce(
        size(array_intersect(col("he.hgrams"), col("ht.hgrams"))).cast("long"),
        lit(0L)))
      .filter(col("shared") >= 3)
      .withColumn("n_train_matches",
        count(lit(1)).over(Window.partitionBy(col("eval_id"))))
      .withColumn("rn", row_number().over(Window.partitionBy(col("eval_id"))
        .orderBy(col("shared").desc, col("train_id"))))
      .filter(col("rn") === 1)
      .select(col("eval_id").as("doc_id"),
        col("n_train_matches").cast("long").as("n_train_matches"),
        col("train_id").as("top_train_doc"),
        col("shared").cast("long").as("top_shared_grams"))
      .orderBy(col("doc_id"))
  }
}
