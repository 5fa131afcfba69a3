package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Retrieval & data-selection operators over the document corpus — the
  * query-side counterpart of the dedup/similarity families: lexical
  * BM25 ranking, hybrid lexical+vector fusion, and DSIR-style
  * importance weighting for training-data selection.
  *
  * Like the rest of the text family (TextAnalysis/Dedup), every
  * operator is a dialect-parameterized SQL body emitted for Spark (the
  * engine) and DuckDB (the oracle), built from the portable primitives
  * in `SqlDialect`: MD5-based 60-bit hashing, identical fold orders,
  * and µ-quantization of every transcendental (`ln`) before any
  * cross-row sum, so partial-aggregation order can never change the
  * result and both engines land on identical grid points.
  *
  * The reference pipeline (SURVEY.md §2) has no retrieval surface at
  * all — these are engine extensions in the same spirit as the
  * similarity family: the operators a 100 TB training-data platform
  * runs to mine, select and audit its corpus.
  */
object Retrieval {

  /** BM25 parameters — the Robertson/Sparck-Jones defaults. */
  val K1 = 1.2
  val B = 0.75

  /** Reciprocal-rank-fusion constant (the standard k=60 from the
    * Cormack/Clarke/Buettcher TREC fusion paper). */
  val RrfK = 60

  /** Retrieval depth fused per modality; final fused cut. */
  val FuseDepth = 20
  val TopK = 10

  /** DSIR feature-hash buckets (hashed unigrams). */
  val DsirBuckets = 4096

  /** Fixed keyword query for the standalone BM25 ranking — terms from
    * the fixture vocabulary so every term has corpus support. */
  val QueryTerms: Seq[String] = Seq("spark", "join", "window", "stream", "hash")

  private val Quant = "1000000.0"

  /** Shared lexical-statistics CTE prefix: tokenized docs, per-doc
    * length, corpus scalars (N, avgdl), term frequencies and document
    * frequencies.  The `tf`/`df` relations are the classic inverted
    * index: at scale `tf` is one map-side-combining aggregate over the
    * exploded postings and `df` a second tiny aggregate; the scalar
    * `stats` row broadcasts into every consumer. */
  private def lexCtes(d: SqlDialect): String =
    s"""t AS (
       |  SELECT doc_id, ${d.tokens("text")} AS toks FROM documents),
       |dl AS (
       |  SELECT doc_id, CAST(${d.arrSize("toks")} AS BIGINT) AS ndl FROM t),
       |stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |    CAST(sum(ndl) AS DOUBLE) / count(*) AS avgdl
       |  FROM dl),
       |tok AS (
       |  SELECT doc_id, ${d.explode("toks")} AS term FROM t),
       |tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
       |df AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY term)""".stripMargin

  /** The µ-quantized BM25 idf: idf(t) = ln(1 + (N − df + ½) / (df +
    * ½)), quantized to integer micro-units the instant it leaves `ln`
    * — the only non-exactly-rounded operation in the whole scoring
    * chain (IEEE +,−,×,÷ are exactly rounded and run in identical
    * textual order in both engines; libm `ln` is only 1-ulp, which
    * the 10⁻⁶ grid absorbs).  Column-parameterized so the persisted
    * serving path (`LexIndex.serve`) runs the very same expression
    * over its store columns. */
  private[ops] def idfExpr(d: SqlDialect, nDocs: String, df: String): String =
    s"""CAST(round(ln(${d.dlit(1.0)} + ($nDocs - CAST($df AS DOUBLE) + ${d.dlit(0.5)})
       |      / (CAST($df AS DOUBLE) + ${d.dlit(0.5)})) * $Quant) AS BIGINT)""".stripMargin

  private def idfCte(d: SqlDialect): String =
    s"""idf AS (
       |  SELECT df.term,
       |    ${idfExpr(d, "s.n_docs", "df.df")} AS idf_u
       |  FROM df CROSS JOIN stats s)""".stripMargin

  /** Per-posting BM25 contribution in integer micro-units.  The term
    * saturation factor tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) is plain
    * IEEE arithmetic on exactly-representable inputs (tf, dl integers;
    * avgdl the same one-row double both sides), multiplied by the
    * already-quantized idf and re-quantized — so per-doc scores are
    * integer sums, associative under any partial-aggregation order.
    * Column-parameterized for the same `LexIndex.serve` lockstep as
    * `idfExpr`. */
  private[ops] def contribCols(d: SqlDialect, idfU: String, tf: String,
      ndl: String, avgdl: String): String = {
    val tfD = s"CAST($tf AS DOUBLE)"
    val dlD = s"CAST($ndl AS DOUBLE)"
    s"""CAST(round(CAST($idfU AS DOUBLE) * ($tfD * ${d.dlit(K1 + 1.0)})
       |      / ($tfD + ${d.dlit(K1)} * (${d.dlit(1.0 - B)} + ${d.dlit(B)} * $dlD / $avgdl))) AS BIGINT)""".stripMargin
  }

  private def contribExpr(d: SqlDialect, tfRel: String = "tf"): String =
    contribCols(d, "i.idf_u", s"$tfRel.tf", "dl.ndl", "s.avgdl")

  /** BM25 top-10 for the fixed keyword query — the standard lexical
    * relevance ranking (Robertson's probabilistic model; the default
    * first-stage retriever of every RAG / data-mining stack).
    *
    * Scale: query terms are a literal array, so `qtf` is the posting
    * list of |q| terms only — candidate docs are those containing ≥ 1
    * query term (inverted-index retrieval, never a corpus scan); the
    * idf/stats sides are tiny broadcasts and the final top-k is one
    * bounded global sort of the candidate set.  A skew-heavy stopword
    * query degrades toward a corpus scan exactly as in any search
    * engine — mitigated upstream by query-term selection, not by the
    * engine. */
  /** CTE prefix of [[bm25Sql]] ending in `agg(doc_id, n_hit_terms,
    * s_u)` — factored so the engine entry can take the top-k
    * window-free (orderBy+limit) while the oracle keeps the global
    * rank window; text concatenation is byte-identical. */
  private def bm25AggCtes(d: SqlDialect): String =
    s"""${lexCtes(d)},
       |${idfCte(d)},
       |qtf AS (
       |  SELECT doc_id, term, tf FROM tf
       |  WHERE ${d.containedIn("term", QueryTerms)}),
       |sc AS (
       |  SELECT qtf.doc_id,
       |    ${contribExpr(d, "qtf")} AS c_u
       |  FROM qtf
       |  JOIN idf i ON i.term = qtf.term
       |  JOIN dl ON dl.doc_id = qtf.doc_id
       |  CROSS JOIN stats s),
       |agg AS (
       |  SELECT doc_id, count(*) AS n_hit_terms, sum(c_u) AS s_u
       |  FROM sc GROUP BY doc_id)""".stripMargin

  def bm25Sql(d: SqlDialect): String = {
    s"""WITH ${bm25AggCtes(d)},
       |r AS (
       |  SELECT doc_id, n_hit_terms, s_u,
       |    row_number() OVER (ORDER BY s_u DESC, doc_id) AS rn
       |  FROM agg)
       |SELECT CAST(rn AS BIGINT) AS rank, doc_id,
       |  round(CAST(s_u AS DOUBLE) / $Quant, 6) AS bm25,
       |  CAST(n_hit_terms AS BIGINT) AS n_hit_terms
       |FROM r WHERE rn <= $TopK
       |ORDER BY rank""".stripMargin
  }

  /** Passage-level BM25 — `text_bm25_topk` re-run at CHUNK
    * granularity: the corpus is sharded by `TextAnalysis`'s
    * fixed-window chunker (window `ChunkWindow`, overlap
    * `ChunkOverlap` — the same spans `text_chunking` emits), each
    * chunk becomes a retrieval unit with its own length
    * normalization, and the fixed keyword query ranks chunks.  This
    * is the production RAG retrieval shape: documents are too coarse
    * to feed a context window, so the index unit is the passage, and
    * the hit carries (doc_id, chunk_id) so the caller can fetch the
    * exact span.  Corpus statistics (N, avgdl, df) are chunk-level —
    * the standard choice when the passage store IS the index.
    *
    * Determinism: the identical integer µ-quantized BM25 chain as
    * `bm25Sql` (quantized idf, re-quantized per-posting
    * contributions, integer per-chunk sums); chunk membership is pure
    * arithmetic over the token count.  Scale: chunking is a narrow
    * per-document generate (no shuffle); tf/df are map-side-combining
    * aggregates over the chunk postings; the query-term filter prunes
    * candidates to chunks containing ≥ 1 query term exactly as in the
    * document-level operator — never a corpus scan. */
  /** CTE prefix of [[chunkBm25Sql]] ending in `agg` — same factoring
    * rationale as [[bm25AggCtes]]. */
  private def chunkBm25AggCtes(d: SqlDialect): String =
    s"""${TextAnalysis.chunkRelCtes(d)},
       |dl AS (
       |  SELECT doc_id, chunk_id, CAST(${d.arrSize("ctoks")} AS BIGINT) AS ndl
       |  FROM chunks),
       |stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |    CAST(sum(ndl) AS DOUBLE) / count(*) AS avgdl
       |  FROM dl),
       |tokc AS (
       |  SELECT doc_id, chunk_id, ${d.explode("ctoks")} AS term FROM chunks),
       |tf AS (
       |  SELECT doc_id, chunk_id, term, count(*) AS tf
       |  FROM tokc GROUP BY doc_id, chunk_id, term),
       |df AS (
       |  SELECT term, count(*) AS df FROM tf GROUP BY term),
       |idf AS (
       |  SELECT df.term, ${idfExpr(d, "s.n_docs", "df.df")} AS idf_u
       |  FROM df CROSS JOIN stats s),
       |qtf AS (
       |  SELECT doc_id, chunk_id, term, tf FROM tf
       |  WHERE ${d.containedIn("term", QueryTerms)}),
       |sc AS (
       |  SELECT qtf.doc_id, qtf.chunk_id,
       |    ${contribCols(d, "i.idf_u", "qtf.tf", "dl.ndl", "s.avgdl")} AS c_u
       |  FROM qtf
       |  JOIN idf i ON i.term = qtf.term
       |  JOIN dl ON dl.doc_id = qtf.doc_id AND dl.chunk_id = qtf.chunk_id
       |  CROSS JOIN stats s),
       |agg AS (
       |  SELECT doc_id, chunk_id, count(*) AS n_hit_terms, sum(c_u) AS s_u
       |  FROM sc GROUP BY doc_id, chunk_id)""".stripMargin

  def chunkBm25Sql(d: SqlDialect): String = {
    s"""WITH ${chunkBm25AggCtes(d)},
       |r AS (
       |  SELECT doc_id, chunk_id, n_hit_terms, s_u,
       |    row_number() OVER (ORDER BY s_u DESC, doc_id, chunk_id) AS rn
       |  FROM agg)
       |SELECT CAST(rn AS BIGINT) AS rank, doc_id,
       |  CAST(chunk_id AS BIGINT) AS chunk_id,
       |  round(CAST(s_u AS DOUBLE) / $Quant, 6) AS bm25,
       |  CAST(n_hit_terms AS BIGINT) AS n_hit_terms
       |FROM r WHERE rn <= $TopK
       |ORDER BY rank""".stripMargin
  }

  /** Hybrid retrieval with reciprocal-rank fusion: for each query
    * document (doc_id ≡ 0 mod 100 — the similarity family's standing
    * query-set convention, and doc_id ≡ vec_id in the fixtures), fuse
    *  - the VECTOR ranking: exact cosine over the embedding column
    *    (rank on the 10⁻⁶-rounded score, id tie-break), and
    *  - the LEXICAL ranking: BM25 with the query document's own terms
    *    as the query (document-as-query, the standard more-like-this
    *    shape),
    * each cut at depth 20, via RRF: score(d) = Σ 1/(60 + rank_m(d))
    * over the modalities that retrieved d.  RRF needs no score
    * calibration between modalities — only ranks — which is why it is
    * the default hybrid fusion in production search systems.
    *
    * Both fusion contributions are µ-quantized integers (1/(60+r) on
    * the 10⁻⁶ grid), so fused scores sort identically in both engines;
    * ties break on neighbor id.
    *
    * Scale: the vector side is the brute-force baseline over a tiny
    * query set (broadcast q × corpus scan — `sim_ann_*` are the
    * sub-linear variants of this stage); the lexical side is a
    * query-term posting join whose query side (|Q| docs × their
    * distinct terms) broadcasts; fusion itself is a full outer join of
    * two ≤ |Q|·20-row relations — negligible at any scale. */
  def hybridRrfSql(d: SqlDialect): String =
    s"""WITH ${bruteVtopCtes(d)},
       |${lexRankCtes(d)},
       |${fusionTail(d)}""".stripMargin

  /** Brute-force vector-modality CTE prefix of `hybridRrfSql`, ending
    * in `vtop(qid, nid, vrank)` — factored out so the engine side can
    * run it standalone and fuse against the CACHED lexical rank
    * relation instead of re-inlining the whole lexical chain. */
  private def bruteVtopCtes(d: SqlDialect, sampled: Boolean = false): String = {
    val sampleCtes =
      if (sampled) s"${Similarity.qsampleCtes(d)},\n" else ""
    val qBody =
      if (sampled)
        """SELECT n.vec_id, n.v, n.nrm
          |  FROM n JOIN qsample s ON s.vec_id = n.vec_id""".stripMargin
      else "SELECT vec_id, v, nrm FROM n WHERE vec_id % 100 = 0"
    s"""e AS (
       |  SELECT vec_id, ${d.toDoubleArr("embedding")} AS v FROM embeddings),
       |n AS (
       |  SELECT vec_id, v, sqrt(${d.dot("v", "v")}) AS nrm FROM e),
       |${sampleCtes}q AS (
       |  $qBody),
       |vs AS (
       |  SELECT q.vec_id AS qid, n.vec_id AS nid,
       |    round(${d.dot("q.v", "n.v")} / (q.nrm * n.nrm), 6) AS cs
       |  FROM q JOIN n ON q.vec_id != n.vec_id),
       |vr AS (
       |  SELECT qid, nid,
       |    row_number() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS vrank
       |  FROM vs),
       |vtop AS (
       |  SELECT qid, nid, vrank FROM vr WHERE vrank <= $FuseDepth)""".stripMargin
  }

  /** `sim_hybrid_rrf` with the SUB-LINEAR vector side: the exact
    * brute-force cosine ranking is replaced by the trained-k-means
    * IVF candidate generation (`Similarity.kmeansCandCtes` — the
    * nprobe=2 probing of `sim_ivf_kmeans`), so the vector modality
    * scans only the probed lists instead of the corpus.  Fusion,
    * lexical side and determinism discipline are identical; ANN
    * ranks can differ from brute-force exactly where the recall
    * harness (`sim_recall`) quantifies the loss — this variant is
    * the production shape, `sim_hybrid_rrf` the small-n verify gate,
    * the same pairing as `dedup_embedding` vs `dedup_embedding_lsh`. */
  def hybridRrfAnnSql(d: SqlDialect): String =
    hybridAnnSqlOver(d, Similarity.kmeansCandCtes(d))

  /** `sim_hybrid_rrf_ann` with the √n-SCALED trained codebook on the
    * vector side — the pairing that survives corpus growth: the
    * fixed-seed codebook's k ∝ n training dominates the whole hybrid
    * at 100× (SCALING.md: 542 s, ~all of it the k = 2 000 Lloyd
    * chain + its store), while the scaled family keeps training and
    * probing near-flat per decade.  Lexical side, fusion and
    * determinism discipline identical; only the candidate CTEs swap
    * seeding. */
  def hybridRrfAnnScaledSql(d: SqlDialect): String =
    hybridAnnSqlOver(d, Similarity.kmeansCandCtesScaled(d))

  private def hybridAnnSqlOver(d: SqlDialect, candCtes: String): String =
    s"""WITH $candCtes,
       |vsc AS (
       |  SELECT cand.qid, cand.nid,
       |    round(${d.dot("q.v", "x.v")} / (q.nrm * x.nrm), 6) AS cs
       |  FROM cand
       |  JOIN n q ON q.vec_id = cand.qid
       |  JOIN n x ON x.vec_id = cand.nid),
       |vr AS (
       |  SELECT qid, nid,
       |    row_number() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS vrank
       |  FROM vsc),
       |vtop AS (
       |  SELECT qid, nid, vrank FROM vr WHERE vrank <= $FuseDepth),
       |${lexRankCtes(d)},
       |${fusionTail(d)}""".stripMargin

  /** Query-term budget for document-as-query retrieval: only the
    * `MltTerms` highest-tf·idf terms of the query document are
    * searched — Lucene More-Like-This's "interesting terms" cap.
    * Bounds the posting-join fan-out per query regardless of document
    * length, and drops the least-selective (low-idf) terms first —
    * the ones whose postings are longest and contribute least. */
  val MltTerms = 8

  /** Impact-ordered posting truncation for the hybrids' lexical side:
    * each term's posting list is cut to its `MaxPostings` highest-tf
    * entries (tf desc, doc_id tie-break) before candidate generation —
    * the deterministic core of WAND/block-max early termination, and
    * the layout an impact-ordered index materializes at build time.
    * A document outside every query term's top-`MaxPostings` can no
    * longer be retrieved lexically — exactly the approximation those
    * engines make: the dropped postings are the uniformly weak
    * contributions.  Candidate volume per query is then bounded by
    * `MltTerms · MaxPostings` at ANY corpus size; without the cut the
    * small-vocabulary worst case (every term in most documents — the
    * scaling fixture) degrades to a corpus scan per query, measured at
    * 67× for 10× data.  1000 is above every per-term document
    * frequency at the sf0.01 oracle scale (max df ≈ 500), so the
    * correctness gate exercises the cap-never-trips path and the
    * oracle recomputes the identical truncation when it does trip. */
  val MaxPostings = 1000

  /** Lexical document-as-query ranking CTEs (query docs ≡ 0 mod 100),
    * ending in `ltop(qid, nid, lrank)` — shared by both hybrid
    * variants. */
  private def lexRankCtes(d: SqlDialect, sampled: Boolean = false): String = {
    val qPred =
      if (sampled)
        "tf.doc_id IN (SELECT vec_id FROM qsample)"
      else "tf.doc_id % 100 = 0"
    s"""${lexCtes(d)},
       |${idfCte(d)},
       |qt AS (
       |  SELECT qid, term FROM (
       |    SELECT tf.doc_id AS qid, tf.term,
       |      row_number() OVER (PARTITION BY tf.doc_id
       |        ORDER BY i.idf_u * tf.tf DESC, tf.term) AS trn
       |    FROM tf JOIN idf i ON i.term = tf.term
       |    WHERE $qPred) z
       |  WHERE trn <= $MltTerms),
       |ltf AS (
       |  SELECT doc_id, term, tf FROM (
       |    SELECT doc_id, term, tf,
       |      row_number() OVER (PARTITION BY term
       |        ORDER BY tf DESC, doc_id) AS prn
       |    FROM tf) zp
       |  WHERE prn <= $MaxPostings),
       |ls AS (
       |  SELECT qt.qid, ltf.doc_id AS nid,
       |    sum(${contribCols(d, "i.idf_u", "ltf.tf", "dl.ndl", "s.avgdl")}) AS s_u
       |  FROM qt
       |  JOIN ltf ON ltf.term = qt.term AND ltf.doc_id != qt.qid
       |  JOIN idf i ON i.term = ltf.term
       |  JOIN dl ON dl.doc_id = ltf.doc_id
       |  CROSS JOIN stats s
       |  GROUP BY qt.qid, ltf.doc_id),
       |lr AS (
       |  SELECT qid, nid,
       |    row_number() OVER (PARTITION BY qid ORDER BY s_u DESC, nid) AS lrank
       |  FROM ls),
       |ltop AS (
       |  SELECT qid, nid, lrank FROM lr WHERE lrank <= $FuseDepth)""".stripMargin
  }

  /** RRF fusion of `vtop(qid, nid, vrank)` and `ltop(qid, nid,
    * lrank)` plus the final top-k projection — the closing CTEs of
    * both hybrid variants. */
  private def fusionTail(d: SqlDialect): String =
    s"""u AS (
       |  SELECT COALESCE(v.qid, l.qid) AS qid, COALESCE(v.nid, l.nid) AS nid,
       |    v.vrank AS vrank, l.lrank AS lrank
       |  FROM vtop v FULL JOIN ltop l ON l.qid = v.qid AND l.nid = v.nid),
       |f AS (
       |  SELECT qid, nid, vrank, lrank,
       |    COALESCE(CAST(round(${d.dlit(1e6)} / ($RrfK + vrank)) AS BIGINT), 0)
       |      + COALESCE(CAST(round(${d.dlit(1e6)} / ($RrfK + lrank)) AS BIGINT), 0)
       |      AS rrf_u
       |  FROM u),
       |r AS (
       |  SELECT qid, nid, vrank, lrank, rrf_u,
       |    row_number() OVER (PARTITION BY qid ORDER BY rrf_u DESC, nid) AS rn
       |  FROM f)
       |SELECT qid AS query_id, nid AS neighbor_id,
       |  round(CAST(rrf_u AS DOUBLE) / $Quant, 6) AS rrf_score,
       |  CAST(vrank AS BIGINT) AS vec_rank, CAST(lrank AS BIGINT) AS lex_rank,
       |  CAST(rn AS BIGINT) AS rank
       |FROM r WHERE rn <= $TopK
       |ORDER BY query_id, rank""".stripMargin

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): fit two hashed
    * bag-of-unigrams models — the TARGET distribution (here the
    * English subset, standing in for a curated high-quality corpus)
    * and the RAW distribution (the whole corpus) — over
    * `DsirBuckets` feature-hash buckets with add-1 smoothing, then
    * weight every document by its per-token mean log-likelihood
    * ratio Σ ln p̂_target(f(x)) − ln p̂_raw(f(x)).  Documents that
    * "read like the target" get high weight; `text_weighted_sample`'s
    * deterministic sampler consumes exactly this kind of weight
    * column for the resampling step.
    *
    * Every per-bucket log-ratio is µ-quantized BEFORE the per-doc sum
    * (the `unigram_logprob` discipline), so the result survives any
    * aggregation order.  Scale: two bucket-count aggregates (≤ 4096
    * rows each — broadcast), one posting join against the tiny λ
    * table, one per-doc sum: nothing grows beyond the token count. */
  /** The DSIR model-and-score CTE chain, ending in
    * `s(doc_id, n_tokens, w_u)` — shared by the weight projection and
    * the resampling step. */
  private def dsirCtes(d: SqlDialect): String = {
    val b = DsirBuckets
    s"""t AS (
       |  SELECT doc_id, lang, ${d.tokens("text")} AS toks FROM documents),
       |f AS (
       |  SELECT doc_id, lang, ${d.h60("token")} % $b AS fb FROM (
       |    SELECT doc_id, lang, ${d.explode("toks")} AS token FROM t) x),
       |ct AS (
       |  SELECT fb, count(*) AS c FROM f WHERE lang = 'en' GROUP BY fb),
       |cr AS (
       |  SELECT fb, count(*) AS c FROM f GROUP BY fb),
       |nt AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM ct),
       |nr AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM cr),
       |lam AS (
       |  SELECT cr.fb,
       |    CAST(round((ln((CAST(COALESCE(ct.c, 0) AS DOUBLE) + ${d.dlit(1.0)})
       |        / (nt.n + ${d.dlit(b.toDouble)}))
       |      - ln((CAST(cr.c AS DOUBLE) + ${d.dlit(1.0)})
       |        / (nr.n + ${d.dlit(b.toDouble)}))) * $Quant) AS BIGINT) AS l_u
       |  FROM cr LEFT JOIN ct ON ct.fb = cr.fb
       |  CROSS JOIN nt CROSS JOIN nr),
       |s AS (
       |  SELECT f.doc_id, count(*) AS n_tokens, sum(l.l_u) AS w_u
       |  FROM f JOIN lam l ON l.fb = f.fb
       |  GROUP BY f.doc_id)""".stripMargin
  }

  def dsirWeightsSql(d: SqlDialect): String =
    s"""WITH ${dsirCtes(d)}
       |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |  round(CAST(w_u AS DOUBLE) / ($Quant * n_tokens), 6) AS dsir_logratio
       |FROM s ORDER BY doc_id""".stripMargin

  /** The RESAMPLING half of DSIR: each document is kept with
    * probability min(1, r(x)) where r(x) = exp(per-token mean
    * log-likelihood ratio) — the rejection-sampling acceptance form
    * of importance resampling — decided by the deterministic salted
    * coin of `text_weighted_sample` (h60(doc_id·salt) mod 10⁶ against
    * the µ-quantized probability), so the selection is reproducible
    * run-to-run and engine-to-engine: no RNG, yet marginally each doc
    * is kept with exactly the prescribed probability over the salt
    * space.  Reported per language: how hard the target distribution
    * reshapes each slice (the en slice keeps the most by
    * construction; see `dsirWeightsSql`).
    *
    * Scale: the per-doc coin and probability are one projection over
    * the weight relation; the rollup is one tiny aggregate. */
  def dsirSampleSql(d: SqlDialect): String = {
    val salted = d.h60(s"${d.castStr("s.doc_id")} || '_dsir'")
    s"""WITH ${dsirCtes(d)},
       |p AS (
       |  SELECT s.doc_id, t2.lang,
       |    CASE WHEN ($salted % 1000000)
       |         < least(CAST(${d.dlit(1e6)} AS BIGINT),
       |             CAST(round(exp(CAST(w_u AS DOUBLE) / ($Quant * n_tokens))
       |               * $Quant) AS BIGINT))
       |         THEN 1 ELSE 0 END AS kept
       |  FROM s JOIN (SELECT doc_id, lang FROM documents) t2
       |    ON t2.doc_id = s.doc_id)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(kept) AS BIGINT) AS n_kept,
       |  round(CAST(sum(kept) AS DOUBLE) / count(*), 6) AS keep_frac
       |FROM p GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** Learning rate for the quality classifier — natural-units scale
    * on the mean-token-weight logit; 8.0 gives visible class
    * separation within the 3 unrolled epochs (spec-asserted). */
  val ClfLr = 8.0

  /** Unrolled full-batch epochs of the classifier.  Like the Lloyd
    * rounds of the k-means family: fixed, small, and written out so
    * ONE SQL statement recomputes the whole training from the raw
    * corpus in either engine. */
  val ClfEpochs = 3

  /** Per-document feature relation of the classifier: hashed-unigram
    * term frequencies over `DsirBuckets` buckets — the same feature
    * map as DSIR (fastText-style hashed bag of words). */
  private def clfTfbSql(d: SqlDialect,
      src: String = "documents"): String =
    s"""SELECT doc_id, fb, count(*) AS tf FROM (
       |    SELECT doc_id, ${d.h60("token")} % $DsirBuckets AS fb FROM (
       |      SELECT doc_id, ${d.explode("toks")} AS token FROM (
       |        SELECT doc_id, ${d.tokens("text")} AS toks
       |        FROM $src) tt) tx) tz
       |  GROUP BY doc_id, fb""".stripMargin

  /** Per-document label/length relation: y = 1 for the English slice
    * (the curated-corpus stand-in, DSIR's target split), token count
    * for the mean-logit normalization.  Zero-token docs carry no
    * features and are excluded from training and scoring. */
  private def clfDocSql(d: SqlDialect,
      src: String = "documents"): String =
    s"""SELECT doc_id, lang, y_u, n_tok FROM (
       |    SELECT doc_id, lang,
       |      CAST(CASE WHEN lang = 'en' THEN 1000000 ELSE 0 END AS BIGINT)
       |        AS y_u,
       |      CAST(${d.arrSize("toks")} AS BIGINT) AS n_tok FROM (
       |      SELECT doc_id, lang, ${d.tokens("text")} AS toks
       |      FROM $src) td) tn
       |  WHERE n_tok > 0""".stripMargin

  /** The classifier's training + scoring chain over `docRel(doc_id,
    * lang, y_u, n_tok)` and `tfbRel(doc_id, fb, tf)` — shared by the
    * single-statement oracle (relations inlined) and the engine path
    * (relations cached once as temp views; the statement references
    * them ~7 times and SQL CTEs inline per reference in BOTH
    * engines).
    *
    * Arithmetic discipline, so training is deterministic under any
    * partial-aggregation order: labels/probabilities live on the 10⁻⁶
    * integer grid (y_u, p_u), residuals are integer differences, each
    * per-posting gradient contribution round(r_u·tf/n_tok) is an
    * integer, bucket gradients are integer sums (associative), and
    * each weight step round(g·lr/n) re-lands on the grid.  The only
    * transcendental is the sigmoid's exp, taken on identical doubles
    * in both engines and re-quantized immediately — the
    * `unigram_logprob`/DSIR rule applied to a trained model. */
  /** µ-quantized sigmoid of the mean-token logit — shared by every
    * scoring site (training epochs and final scoring). */
  private[ops] def clfPU(d: SqlDialect, sU: String, nTok: String): String =
    s"""CAST(round(${d.dlit(1e6)} / (${d.dlit(1.0)}
       |      + exp(-(CAST($sU AS DOUBLE) / (CAST($nTok AS DOUBLE) * ${d.dlit(1e6)}))))) AS BIGINT)""".stripMargin

  /** Training CTEs only — `nd, r1, g1, w1, …, w$ClfEpochs`; the
    * tail CTEs score against `w$ClfEpochs`. */
  private[ops] def clfTrainCtes(d: SqlDialect, docRel: String,
      tfbRel: String): String = {
    val lr = d.dlit(ClfLr)
    def gradCte(i: Int): String =
      s"""g$i AS (
         |  SELECT t.fb,
         |    CAST(sum(CAST(round(CAST(r.r_u AS DOUBLE) * t.tf / dd.n_tok)
         |      AS BIGINT)) AS BIGINT) AS g
         |  FROM $tfbRel t
         |  JOIN r$i r ON r.doc_id = t.doc_id
         |  JOIN $docRel dd ON dd.doc_id = t.doc_id
         |  GROUP BY t.fb)""".stripMargin
    val later = (2 to ClfEpochs).map { i =>
      s"""${clfScoreCte(d, s"s$i", s"w${i - 1}", docRel, tfbRel)},
         |r$i AS (
         |  SELECT doc_id, y_u - ${clfPU(d, "s_u", "n_tok")} AS r_u FROM s$i),
         |${gradCte(i)},
         |w$i AS (
         |  SELECT g.fb,
         |    COALESCE(w.w_u, CAST(0 AS BIGINT))
         |      + CAST(round(CAST(g.g AS DOUBLE) * $lr / nd.n) AS BIGINT)
         |      AS w_u
         |  FROM g$i g LEFT JOIN w${i - 1} w ON w.fb = g.fb
         |  CROSS JOIN nd)""".stripMargin
    }.mkString(",\n")
    s"""nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM $docRel),
       |r1 AS (
       |  SELECT doc_id, y_u - CAST(500000 AS BIGINT) AS r_u FROM $docRel),
       |${gradCte(1)},
       |w1 AS (
       |  SELECT g1.fb,
       |    CAST(round(CAST(g1.g AS DOUBLE) * $lr / nd.n) AS BIGINT) AS w_u
       |  FROM g1 CROSS JOIN nd),
       |$later""".stripMargin
  }

  private def clfScoreCte(d: SqlDialect, name: String, wRel: String,
      docRel: String, tfbRel: String): String =
    s"""$name AS (
       |  SELECT dd.doc_id, dd.y_u, dd.n_tok,
       |    COALESCE(CAST(sum(w.w_u * t.tf) AS BIGINT), 0) AS s_u
       |  FROM $docRel dd
       |  JOIN $tfbRel t ON t.doc_id = dd.doc_id
       |  LEFT JOIN $wRel w ON w.fb = t.fb
       |  GROUP BY dd.doc_id, dd.y_u, dd.n_tok)""".stripMargin

  private def clfTailCtes(d: SqlDialect, docRel: String,
      tfbRel: String): String = {
    val q = d.dlit(1e6)
    s"""${clfTrainCtes(d, docRel, tfbRel)},
       |${clfScoreCte(d, "sfin", s"w$ClfEpochs", docRel, tfbRel)},
       |pfin AS (
       |  SELECT doc_id, ${clfPU(d, "s_u", "n_tok")} AS prob_u FROM sfin)
       |SELECT dd.lang, count(*) AS n_docs,
       |  round(CAST(sum(p.prob_u) AS DOUBLE) / (count(*) * $q), 6)
       |    AS mean_prob,
       |  CAST(sum(CASE WHEN p.prob_u > 500000 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_above
       |FROM pfin p JOIN $docRel dd ON dd.doc_id = p.doc_id
       |GROUP BY dd.lang
       |ORDER BY dd.lang""".stripMargin
  }

  /** Trainable quality classifier — the GPT-3/PaLM-style
    * curated-vs-raw filter (Brown et al. 2020 §A: a linear classifier
    * over hashed features scores every raw document by its
    * resemblance to the curated corpus; documents are then kept by
    * score): a logistic model over hashed-unigram features, trained
    * IN the engine by `ClfEpochs` unrolled full-batch
    * gradient-descent epochs (the Lloyd-rounds move applied to GD),
    * English slice as the curated stand-in, reported as per-language
    * mean probability and above-0.5 counts.  Complements DSIR: same
    * features, but a DISCRIMINATIVE model — where DSIR reweights by a
    * generative likelihood ratio, this trains the decision boundary
    * the production filters actually ship.
    *
    * Scale: per epoch, one posting join (token-mass linear) and one
    * ≤`DsirBuckets`-row gradient aggregate that broadcasts back —
    * the model never leaves broadcast size, and epochs are a small
    * constant.  The engine caches the feature/label relations once;
    * the oracle recomputes everything from raw text in one
    * statement. */
  def qualityClassifierSql(d: SqlDialect): String =
    s"""WITH doc AS (
       |  ${clfDocSql(d)}),
       |tfb AS (
       |  ${clfTfbSql(d)}),
       |${clfTailCtes(d, "doc", "tfb")}""".stripMargin

  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir).createOrReplaceTempView("documents")
    RelationCache.cached(spark, s"clf_doc:$dir") {
      spark.sql(clfDocSql(SparkDialect))
    }.createOrReplaceTempView("clf_doc")
    RelationCache.cached(spark, s"clf_tfb:$dir") {
      spark.sql(clfTfbSql(SparkDialect))
    }.createOrReplaceTempView("clf_tfb")
    spark.sql(
      s"WITH ${clfTailCtes(SparkDialect, "clf_doc", "clf_tfb")}")
  }

  /** k-anonymity audit over the corpus's quasi-identifiers — the
    * privacy-release check that complements the PII scan (`text_pii`
    * finds direct identifiers; this finds documents REIDENTIFIABLE by
    * attribute combination): every (source, lang, length-bucket)
    * equivalence class of size < k is a re-identification risk for
    * its members.  Reported per source: class count, how many classes
    * are below the bar, the smallest class, and the member count at
    * risk — the table a release review signs off on.
    *
    * Scale: one groupBy over the quasi-identifier tuple (map-side
    * combining; class count bounded by the attribute product, not the
    * corpus) and a per-source rollup of the class relation. */
  def kAnonymitySql(d: SqlDialect, k: Int = 5): String =
    s"""WITH t AS (
       |  SELECT source, lang,
       |    ${d.intDiv(s"CAST(${d.arrSize(d.tokens("text"))} AS BIGINT)", "32")}
       |      AS len_bucket
       |  FROM documents),
       |cls AS (
       |  SELECT source, lang, len_bucket, count(*) AS sz
       |  FROM t GROUP BY source, lang, len_bucket)
       |SELECT source,
       |  count(*) AS n_classes,
       |  CAST(sum(CASE WHEN sz < $k THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_small_classes,
       |  CAST(min(sz) AS BIGINT) AS min_class_size,
       |  CAST(sum(CASE WHEN sz < $k THEN sz ELSE 0 END) AS BIGINT)
       |    AS n_at_risk
       |FROM cls GROUP BY source
       |ORDER BY source""".stripMargin

  /** Corpus data card: one GROUPING SETS pass emitting per-source,
    * per-language and whole-corpus rows of the statistics a dataset
    * release documents — document/token counts, exact-duplicate
    * fraction (on the same whitespace-normalized MD5 the dedup family
    * keys on), and mean document length.  The `<all>` label marks the
    * rolled-up dimension.
    *
    * Scale: a single aggregation pass; count(DISTINCT md5) expands to
    * the standard two-phase distinct-aggregate plan, partitioned by
    * the grouping key — no all-to-one collapse except the final
    * 1-group rows, whose partial state is one counter per partition. */
  def corpusStatsSql(d: SqlDialect): String = {
    val norm = d.reReplace("trim(lower(text))", "\\s+", " ")
    s"""WITH t AS (
       |  SELECT source, lang,
       |    CAST(${d.arrSize(d.tokens("text"))} AS BIGINT) AS n_tok,
       |    md5($norm) AS tmd5
       |  FROM documents)
       |SELECT COALESCE(source, '<all>') AS source,
       |  COALESCE(lang, '<all>') AS lang,
       |  count(*) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       |  CAST(count(DISTINCT tmd5) AS BIGINT) AS n_distinct_texts,
       |  round(${d.dlit(1.0)} - CAST(count(DISTINCT tmd5) AS DOUBLE) / count(*), 6)
       |    AS dup_frac,
       |  round(CAST(sum(n_tok) AS DOUBLE) / count(*), 6) AS avg_tokens
       |FROM t
       |GROUP BY GROUPING SETS ((source), (lang), ())
       |ORDER BY 1, 2""".stripMargin
  }

  /** Hybrid-retrieval divergence harness — `sim_recall`'s discipline
    * applied to the fused rankings: per query, how much of the exact
    * hybrid's top-k (brute-force vector modality) the production
    * hybrid (IVF vector modality) retains.  1.0 means the ANN swap
    * changed nothing a user would see; the gap is the price of the
    * sub-linear vector side AT THE FUSION LEVEL, which per-modality
    * recall (`sim_recall`) cannot read off because RRF can mask or
    * amplify a vector-rank change.  Like `sim_recall`, a measurement
    * query: it deliberately pays for both pipelines. */
  def hybridRecallSql(d: SqlDialect): String =
    s"""WITH x AS (
       |  SELECT query_id, neighbor_id FROM (${hybridRrfSql(d)}) hx),
       |y AS (
       |  SELECT query_id, neighbor_id FROM (${hybridRrfAnnSql(d)}) hy),
       |c AS (
       |  SELECT x.query_id, count(y.neighbor_id) AS n_common
       |  FROM x LEFT JOIN y
       |    ON y.query_id = x.query_id AND y.neighbor_id = x.neighbor_id
       |  GROUP BY x.query_id)
       |SELECT query_id, CAST(n_common AS BIGINT) AS n_common,
       |  round(CAST(n_common AS DOUBLE) / ${d.dlit(TopK.toDouble)}, 6)
       |    AS recall_frac
       |FROM c ORDER BY query_id""".stripMargin

  /** The exact hybrid restricted to the deterministic √|Q| query
    * sample — both modalities filter the query side BEFORE their
    * expensive stages (the brute-force vector join and the MLT term
    * pick), so the statement's cost is ~√|Q|·n instead of |Q|·n.
    * Per-query semantics are UNCHANGED: every ranking (vector,
    * lexical, fused) is per-query independent, so a sampled query's
    * rows are bit-identical to its rows in `hybridRrfSql`. */
  def hybridRrfSampledSql(d: SqlDialect): String =
    s"""WITH ${bruteVtopCtes(d, sampled = true)},
       |${lexRankCtes(d, sampled = true)},
       |${fusionTail(d)}""".stripMargin

  /** `sim_hybrid_recall` with the SAMPLED exact hybrid as ground
    * truth — the variant that runs at 10×/100× fixtures where the
    * full harness is a registered baseline (its brute-force side is
    * |Q|·n by definition).  The ANN hybrid side serves all queries
    * (that IS the production workload); the LEFT JOIN from the
    * sampled exact side restricts the comparison to the sample. */
  def hybridRecallSampledSql(d: SqlDialect): String =
    s"""WITH x AS (
       |  SELECT query_id, neighbor_id FROM (${hybridRrfSampledSql(d)}) hx),
       |y AS (
       |  SELECT query_id, neighbor_id FROM (${hybridRrfAnnSql(d)}) hy),
       |c AS (
       |  SELECT x.query_id, count(y.neighbor_id) AS n_common
       |  FROM x LEFT JOIN y
       |    ON y.query_id = x.query_id AND y.neighbor_id = x.neighbor_id
       |  GROUP BY x.query_id)
       |SELECT query_id, CAST(n_common AS BIGINT) AS n_common,
       |  round(CAST(n_common AS DOUBLE) / ${d.dlit(TopK.toDouble)}, 6)
       |    AS recall_frac
       |FROM c ORDER BY query_id""".stripMargin

  /** Per-shard health of the persisted lexical postings index — the
    * `sim_index_health` projection for the BM25 store: posting and
    * distinct-term counts per `tshard=` partition, corpus fraction,
    * and balance (count / ideal-even count).  A hot shard means the
    * term-hash is colliding a skewed vocabulary slice; serves probing
    * that shard pay the skew.  Engine side reads ONLY the persisted
    * store; the oracle recomputes the sharded posting relation from
    * the raw documents, so a green check proves the store contents
    * ARE the tokenize→shard semantics. */
  def lexIndexHealthSql(d: SqlDialect): String =
    s"""WITH ${lexCtes(d)},
       |sh AS (
       |  SELECT doc_id, term, ${d.h60("term")} % ${LexIndex.Shards} AS tshard
       |  FROM tf),
       |h AS (
       |  SELECT tshard, CAST(count(*) AS BIGINT) AS n_posts,
       |    CAST(count(DISTINCT term) AS BIGINT) AS n_terms
       |  FROM sh GROUP BY tshard),
       |tt AS (
       |  SELECT CAST(sum(n_posts) AS BIGINT) AS total,
       |    CAST(count(*) AS BIGINT) AS k FROM h)
       |SELECT h.tshard, h.n_posts, h.n_terms,
       |  round(CAST(h.n_posts AS DOUBLE) / tt.total, 6) AS frac,
       |  round(CAST(h.n_posts AS DOUBLE) * tt.k / tt.total, 6) AS balance
       |FROM h CROSS JOIN tt
       |ORDER BY h.tshard""".stripMargin

  /** Engine side of `sim_hybrid_recall`: the two hybrid variants
    * joined in the DataFrame API (top-k sets are |Q|·k rows — the
    * join is a rounding error next to the pipelines). */
  def hybridRecall(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val ex = hybridRrf(spark, dir).select("query_id", "neighbor_id")
    val an = hybridRrfAnn(spark, dir).select("query_id", "neighbor_id")
    val common = ex.join(an, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_common"))
    ex.select("query_id").distinct()
      .join(common, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_common"), lit(0L)).cast("long").as("n_common"),
        round(coalesce(col("n_common"), lit(0L)).cast("double") / TopK, 6)
          .as("recall_frac"))
      .orderBy("query_id")
  }

  /** Engine side of `sim_hybrid_rrf_sampled`: the exact hybrid
    * restricted to the deterministic √|Q| query sample — the
    * ground-truth generator that stays runnable at the scaling
    * fixtures where the full exact hybrid is a registered baseline.
    * Memoized because TWO queries consume it (this one and the
    * sampled recall harness).  The brute vector side derives from
    * the cached FULL rank relation when the full harness already ran
    * this session (per-query independence makes the restriction
    * bit-identical — spec-pinned) and falls back to the standalone
    * √|Q|·n sampled build otherwise (the scale path); the lexical
    * side filters the one cached rank the whole family shares. */
  def hybridRrfSampled(spark: SparkSession, dir: String): DataFrame =
    RelationCache.materialized(spark, s"hybrid_rrf_sampled:$dir") {
      import org.apache.spark.sql.functions._
      // window-free engine sample (r16): same deterministic pick as
      // the SQL qsample CTEs, via orderBy().limit(k) instead of the
      // single-partition rank window (the oracle text keeps the window)
      val qsample = Similarity.qsampleDF(spark, dir)
      val vtop = RelationCache.peek(spark, s"hybrid_vtop:$dir")
        .map(_.join(qsample, col("qid") === col("vec_id"), "left_semi"))
        .getOrElse(RelationCache.materialized(spark, s"hybrid_vtop_sampled:$dir") {
          // DataFrame twin of bruteVtopCtes(sampled): the standalone
          // √|Q|·n build for the scale path — per-query top-K is a
          // PARTITIONED window (narrow), no global window anywhere
          val nb = Similarity.ivfBase(spark, dir)
            .select("vec_id", "v", "nrm")
          val q = nb.join(qsample, "vec_id")
          q.as("q").join(nb.as("n"),
              col("q.vec_id") =!= col("n.vec_id"))
            .select(col("q.vec_id").as("qid"), col("n.vec_id").as("nid"),
              expr(s"round(${SparkDialect.dot("q.v", "n.v")}" +
                " / (q.nrm * n.nrm), 6)").as("cs"))
            .withColumn("vrank", row_number().over(
              org.apache.spark.sql.expressions.Window
                .partitionBy(col("qid"))
                .orderBy(col("cs").desc, col("nid"))))
            .filter(col("vrank") <= FuseDepth)
            .select("qid", "nid", "vrank")
        })
      val ltopSampled = lexTop(spark, dir)
        .join(qsample, col("qid") === col("vec_id"), "left_semi")
      fuse(vtop, ltopSampled)
    }

  /** Engine side of `sim_hybrid_recall_sampled`: the CACHED sampled
    * exact hybrid (`hybridRrfSampled`) compared against the
    * store-served production ANN hybrid.  The single-statement SQL
    * recomputing both pipelines from raw tables stays as the oracle. */
  def hybridRecallSampled(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val ex = hybridRrfSampled(spark, dir).select("query_id", "neighbor_id")
    val an = hybridRrfAnn(spark, dir).select("query_id", "neighbor_id")
    val common = ex.join(an, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_common"))
    ex.select("query_id").distinct()
      .join(common, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_common"), lit(0L)).cast("long").as("n_common"),
        round(coalesce(col("n_common"), lit(0L)).cast("double") / TopK, 6)
          .as("recall_frac"))
      .orderBy("query_id")
  }

  private def run(spark: SparkSession, dir: String, sql: String): DataFrame = {
    Tables.documents(spark, dir).createOrReplaceTempView("documents")
    Tables.embeddings(spark, dir).createOrReplaceTempView("embeddings")
    spark.sql(sql)
  }

  /** Engine form of `text_bm25_topk` (r16): the candidate aggregate
    * from the shared SQL prefix, then global top-k as
    * `orderBy().limit(k)` (TakeOrderedAndProject — per-partition
    * heaps) + a k-row re-rank, the `LexIndex.serve` pattern — instead
    * of the oracle's rank<=k global window, which funnels every
    * candidate doc through ONE partition (corpus-sized under stopword
    * queries).  `bm25Sql` stays the DuckDB oracle. */
  def bm25(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val agg = run(spark, dir,
      s"WITH ${bm25AggCtes(SparkDialect)} " +
        "SELECT doc_id, n_hit_terms, s_u FROM agg")
    agg.orderBy(col("s_u").desc, col("doc_id")).limit(TopK)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("s_u").desc, col("doc_id"))))
      .select(col("rn").cast("long").as("rank"), col("doc_id"),
        expr(s"round(CAST(s_u AS DOUBLE) / $Quant, 6)").as("bm25"),
        col("n_hit_terms").cast("long").as("n_hit_terms"))
      .orderBy(col("rank"))
  }

  /** Engine form of `text_chunk_bm25` — same window-free top-k tail
    * as [[bm25]] over the chunk-level aggregate. */
  def chunkBm25(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val agg = run(spark, dir,
      s"WITH ${chunkBm25AggCtes(SparkDialect)} " +
        "SELECT doc_id, chunk_id, n_hit_terms, s_u FROM agg")
    agg.orderBy(col("s_u").desc, col("doc_id"), col("chunk_id"))
      .limit(TopK)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("s_u").desc, col("doc_id"), col("chunk_id"))))
      .select(col("rn").cast("long").as("rank"), col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        expr(s"round(CAST(s_u AS DOUBLE) / $Quant, 6)").as("bm25"),
        col("n_hit_terms").cast("long").as("n_hit_terms"))
      .orderBy(col("rank"))
  }
  /** The shared lexical BM25 rank relation `ltop(qid, nid, lrank)` —
    * memoized through [[RelationCache]] per (session, corpus dir)
    * because FOUR queries consume it back-to-back in a bench/verify
    * run (`sim_hybrid_rrf`, `_ann`, `_ann_scaled`, and the recall
    * harness via the first two): without the memo each variant
    * re-executes the tokenize → idf → MLT-term pick → capped posting
    * join → window chain, the dominant cost of the hybrid family.
    * The relation itself is tiny (≤ |Q|·FuseDepth rows), so the cache
    * holds results, not intermediates. */
  private def lexTop(spark: SparkSession, dir: String): DataFrame =
    RelationCache.materialized(spark, s"hybrid_ltop:$dir") {
      run(spark, dir,
        s"WITH ${lexRankCtes(SparkDialect)} SELECT qid, nid, lrank FROM ltop")
    }

  /** Force the shared lexical rank relation — the `HybridLexRank`
    * `SparkEntry.Build`, so the tokenize → idf → MLT-pick → posting
    * join → window chain is priced as its own labeled bench line
    * (deliberately NOT forcing the ANN-side relations here: those
    * depend on the k-means stores, which have their own build line).
    * Idempotent: session-memoized. */
  def prebuildLexRank(spark: SparkSession, dir: String): Unit = {
    lexTop(spark, dir).count(); ()
  }

  /** SCALE CAVEAT: documented brute-force baseline (flagged `baseline`
    * in `SparkEntry.registry`, default-excluded from large-scale
    * smokes) — the vector modality scores every (query, doc) pair
    * exactly.  The 100 TB forms are `hybridRrfAnn` /
    * `hybridRrfAnnScaled` below: identical fusion arithmetic, vector
    * candidates served from the persisted partition-pruned k-means
    * stores.  Engine side fuses the standalone brute vtop against the
    * CACHED lexical rank (same arithmetic as the single-statement
    * oracle, which stays fully inlined). */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame =
    fuse(bruteVtop(spark, dir), lexTop(spark, dir))

  /** The full brute-force vector rank relation — memoized like
    * [[lexTop]] because two queries consume it (`sim_hybrid_rrf` and
    * the recall harness via `hybridRrf`); ≤ |Q|·FuseDepth rows. */
  private def bruteVtop(spark: SparkSession, dir: String): DataFrame =
    RelationCache.materialized(spark, s"hybrid_vtop:$dir") {
      run(spark, dir,
        s"WITH ${bruteVtopCtes(SparkDialect)} SELECT qid, nid, vrank FROM vtop")
    }

  /** Engine side of `sim_hybrid_rrf_ann`: the vector modality is
    * SERVED FROM the persisted trained-k-means store
    * (`Similarity.kmeansStoreTopN` — build-if-absent, partition-
    * pruned probes) instead of re-deriving the Lloyd chain, and the
    * fusion runs in the DataFrame API over the two tiny rank
    * relations.  The single-statement SQL (`hybridRrfAnnSql`), which
    * recomputes everything from raw tables, stays as the oracle — a
    * green check proves the store-served candidates and the
    * from-scratch chain agree end-to-end. */
  def hybridRrfAnn(spark: SparkSession, dir: String): DataFrame =
    // memoized: THREE queries consume this fused relation back-to-back
    // (sim_hybrid_rrf_ann and both recall harnesses compare against
    // it); ≤ |Q|·TopK rows, so the cache holds results, and
    // RelationCache.clear — the store-refresh hook — releases it with
    // the underlying index relations
    RelationCache.materialized(spark, s"hybrid_ann:$dir") {
      fuse(Similarity.kmeansStoreTopN(spark, dir, FuseDepth),
        lexTop(spark, dir))
    }

  /** Engine side of `sim_hybrid_rrf_ann_scaled`: vector candidates
    * from the persisted √n-scaled store, lexical side and fusion
    * shared verbatim with the fixed variant. */
  def hybridRrfAnnScaled(spark: SparkSession, dir: String): DataFrame = {
    val vtop = Similarity.kmeansStoreTopNScaled(spark, dir, FuseDepth)
    fuse(vtop, lexTop(spark, dir))
  }

  /** DataFrame twin of `fusionTail` — identical µ-quantized RRF
    * arithmetic and tie-breaks over (qid, nid, vrank) ⋈ (qid, nid,
    * lrank). */
  private def fuse(vtop: DataFrame, ltop: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val u = vtop.as("v")
      .join(ltop.as("l"),
        col("v.qid") === col("l.qid") && col("v.nid") === col("l.nid"),
        "full")
      .select(coalesce(col("v.qid"), col("l.qid")).as("qid"),
        coalesce(col("v.nid"), col("l.nid")).as("nid"),
        col("v.vrank").as("vrank"), col("l.lrank").as("lrank"))
    u.withColumn("rrf_u",
        coalesce(expr(s"CAST(round(1000000.0D / ($RrfK + vrank)) AS BIGINT)"),
          lit(0L))
          + coalesce(expr(s"CAST(round(1000000.0D / ($RrfK + lrank)) AS BIGINT)"),
            lit(0L)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("rrf_u").desc, col("nid"))))
      .filter(col("rn") <= TopK)
      .select(col("qid").as("query_id"), col("nid").as("neighbor_id"),
        round(col("rrf_u").cast("double") / 1e6, 6).as("rrf_score"),
        col("vrank").cast("long").as("vec_rank"),
        col("lrank").cast("long").as("lex_rank"),
        col("rn").cast("long").as("rank"))
      .orderBy("query_id", "rank")
  }
  def dsirSample(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, dsirSampleSql(SparkDialect))
  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, dsirWeightsSql(SparkDialect))
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, corpusStatsSql(SparkDialect))
  def kAnonymity(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, kAnonymitySql(SparkDialect))
}
