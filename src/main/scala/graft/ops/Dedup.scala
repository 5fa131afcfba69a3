package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables
import TextOps._

/** Deduplication operators over `documents` / `embeddings`: exact
  * (hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup — the standard near-duplicate toolkit for
  * large-scale training-data curation (cf. the dedup pipelines in
  * PAPERS.md).
  *
  * Engine (SparkDialect) and oracle (DuckDialect) are generated from
  * the same dialect-parameterized SQL, with engine-portable hashing
  * (TextOps.h60) so MinHash/SimHash signatures agree bit-for-bit.
  *
  * Scale design (100 TB):
  *  - Exact dedup: one hash-shuffle on the content digest; map-side
  *    partial aggregation applies.  Never compares full texts.
  *  - N-gram / MinHash / SimHash: candidate generation is *blocked*
  *    (shared shingle, shared LSH band, shared SimHash band) so the
  *    all-pairs O(n²) never materializes — candidates ≪ n².  The
  *    verify step touches only candidate pairs.
  *  - SimHash banding (6 bands × 10 bits over the 60-bit signature)
  *    is provably complete for Hamming distance ≤ 5 by pigeonhole
  *    (any such pair has an intact band), so the banded engine result
  *    equals the oracle's brute-force all-pairs scan — an
  *    algorithm-independent correctness check.
  *  - Embedding near-dup is exact all-pairs here (the verify gate runs
  *    at small n); the LSH-bucketed scale path is `Similarity.annLsh`.
  */
object Dedup {

  /** Exact dedup: md5 over whitespace-collapsed lowercase text; every
    * doc mapped to its group representative (min doc_id). */
  def exactSql(d: SqlDialect): String = {
    val norm = d.reReplace("trim(lower(text))", "\\s+", " ")
    s"""WITH n AS (
       |  SELECT doc_id, md5($norm) AS text_md5 FROM documents),
       |g AS (
       |  SELECT text_md5, min(doc_id) AS rep_doc_id,
       |         count(*) AS group_size
       |  FROM n GROUP BY text_md5)
       |SELECT n.doc_id, g.rep_doc_id, g.group_size,
       |  CAST(n.doc_id != g.rep_doc_id AS BOOLEAN) AS is_duplicate
       |FROM n JOIN g ON n.text_md5 = g.text_md5
       |ORDER BY n.doc_id""".stripMargin
  }

  /** Per-source dedup impact report: how much of each ingest source's
    * volume exact dedup removes (keeper = min doc_id per normalized
    * digest — the identical normalization and keeper rule as
    * `exactSql`, built from the same fragments so they cannot
    * diverge).  This is the roll-up a curation pipeline publishes per
    * feed to spot sources that mostly re-send content.  Two map-side-
    * combining hash aggregates + one join keyed on the digest — the
    * same scale shapes as `dedup_exact` itself. */
  def reportSql(d: SqlDialect): String = {
    val norm = d.reReplace("trim(lower(text))", "\\s+", " ")
    s"""WITH n AS (
       |  SELECT doc_id, source, md5($norm) AS text_md5 FROM documents),
       |g AS (
       |  SELECT text_md5, min(doc_id) AS rep_doc_id FROM n GROUP BY text_md5)
       |SELECT n.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN n.doc_id != g.rep_doc_id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_dup_docs,
       |  round(CAST(sum(CASE WHEN n.doc_id != g.rep_doc_id THEN 1 ELSE 0 END)
       |    AS DOUBLE) / count(*), 6) AS dup_frac
       |FROM n JOIN g ON n.text_md5 = g.text_md5
       |GROUP BY n.source
       |ORDER BY n.source""".stripMargin
  }

  /** Token-weighted dedup impact per source: `reportSql` counts
    * documents, but a training pipeline budgets TOKENS — a source
    * whose few duplicates are its longest documents hides real
    * redundancy behind a low doc-level `dup_frac`.  Same normalized
    * digest and min-doc_id keeper fragments as `exactSql` (built from
    * the identical expressions, so the two reports cannot diverge on
    * what counts as a duplicate); token mass of a duplicate group is
    * credited to its keeper's source, mirroring the doc-level
    * convention.  Scale: two map-side-combining hash aggregates + one
    * digest join — the same shapes as `reportSql`. */
  def reportTokensSql(d: SqlDialect): String = {
    val norm = d.reReplace("trim(lower(text))", "\\s+", " ")
    s"""WITH n AS (
       |  SELECT doc_id, source, md5($norm) AS text_md5,
       |    CAST(${d.arrSize(d.wsTokens("text"))} AS BIGINT) AS n_tok
       |  FROM documents),
       |g AS (
       |  SELECT text_md5, min(doc_id) AS rep_doc_id FROM n GROUP BY text_md5)
       |SELECT n.source,
       |  CAST(sum(n.n_tok) AS BIGINT) AS total_tokens,
       |  CAST(sum(CASE WHEN n.doc_id = g.rep_doc_id THEN n.n_tok ELSE 0 END)
       |    AS BIGINT) AS kept_tokens,
       |  CASE WHEN sum(n.n_tok) = 0 THEN NULL ELSE
       |    round(1 - CAST(sum(CASE WHEN n.doc_id = g.rep_doc_id
       |        THEN n.n_tok ELSE 0 END) AS DOUBLE) / sum(n.n_tok), 6)
       |  END AS dup_token_frac
       |FROM n JOIN g ON n.text_md5 = g.text_md5
       |GROUP BY n.source
       |ORDER BY n.source""".stripMargin
  }

  def reportTokens(spark: SparkSession, dir: String): DataFrame =
    runDocs(spark, dir, reportTokensSql(SparkDialect))

  /** Cross-source duplication matrix: for every unordered source pair
    * (a ≤ b), how many exact-duplicate document pairs span them — the
    * provenance dashboard that tells a pipeline operator WHICH feeds
    * re-send each other's content (syndication, mirrors, scraper
    * overlap), where `dedup_report` only says how much each feed
    * duplicates overall.  Same normalized digest as `exactSql` (built
    * from the identical fragment, so the matrix and the reports cannot
    * disagree on what counts as a duplicate).
    *
    * Scale shape: the per-(digest, source) count is a map-side-
    * combining hash aggregate, after which the digest self-join's
    * fan-out is bounded by the number of DISTINCT SOURCES sharing that
    * digest — never by the digest's document count (a 10⁶-copy viral
    * doc in 3 feeds meets 3 rows, not 10⁶).  Pair counts come from the
    * closed forms C(cnt,2) within a source and cnt_a·cnt_b across, so
    * no document-level pair is ever materialized.  Documents with a
    * NULL source are excluded by the pair join (SQL comparison
    * semantics), matching the convention that the matrix is a
    * per-feed view. */
  def crossSourceSql(d: SqlDialect): String = {
    val norm = d.reReplace("trim(lower(text))", "\\s+", " ")
    s"""WITH n AS (
       |  SELECT doc_id, source, md5($norm) AS text_md5 FROM documents),
       |c AS (
       |  SELECT text_md5, source, count(*) AS cnt
       |  FROM n GROUP BY text_md5, source),
       |p AS (
       |  SELECT a.source AS source_a, b.source AS source_b,
       |    CASE WHEN a.source = b.source
       |      THEN ${d.intDiv("(a.cnt * (a.cnt - 1))", "2")}
       |      ELSE a.cnt * b.cnt END AS pairs
       |  FROM c a JOIN c b
       |    ON a.text_md5 = b.text_md5 AND a.source <= b.source)
       |SELECT source_a, source_b,
       |  CAST(sum(CASE WHEN pairs > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS shared_digests,
       |  CAST(sum(pairs) AS BIGINT) AS dup_pairs
       |FROM p GROUP BY source_a, source_b
       |HAVING sum(pairs) > 0
       |ORDER BY source_a, source_b""".stripMargin
  }

  def crossSource(spark: SparkSession, dir: String): DataFrame =
    runDocs(spark, dir, crossSourceSql(SparkDialect))

  /** Word-3-gram Jaccard near-dup pairs (J ≥ 0.5).  Candidates are
    * blocked on shared shingles, and postings for hot grams
    * (document frequency > maxDf) are dropped from candidate
    * generation — a stop-phrase shingle shared by f documents would
    * otherwise contribute O(f²) join rows, the skew bomb of
    * inverted-index dedup at scale.  The dropped grams are folded back
    * EXACTLY into each surviving pair's shared-count via the
    * intersection of the per-doc hot-gram arrays (small: only
    * boilerplate grams are hot), so reported Jaccard values are
    * identical to the uncapped computation; only pairs whose every
    * shared gram is hot are lost (see TextOps.MaxGramDf). */
  def ngramJaccardSql(d: SqlDialect, maxDf: Int = MaxGramDf): String = {
    // Layered CTEs on purpose: `toks` and `grams` must be materialized
    // columns before any multi-reference use, or the tokenize chain is
    // substituted into each lambda element access and recomputed per
    // shingle (observed 40s → 4s at sf0.1).  No `WHERE size > 0`
    // either — explode of an empty array yields no rows anyway, and
    // the pushed-down predicate would duplicate the gram expression.
    s"""WITH tok AS (
       |  SELECT doc_id, ${d.tokens("text")} AS toks FROM documents),
       |t AS (
       |  SELECT doc_id, ${d.shingles3("toks")} AS grams FROM tok),
       |s AS (
       |  SELECT doc_id, grams, ${d.arrSize("grams")} AS ng FROM t),
       |e AS (
       |  SELECT doc_id, ng, ${d.explode("grams")} AS gram FROM s),
       |ew AS (
       |  SELECT doc_id, ng, gram,
       |    count(*) OVER (PARTITION BY gram) AS df FROM e),
       |ec AS (
       |  SELECT doc_id, ng, gram FROM ew WHERE df <= $maxDf),
       |hot AS (
       |  SELECT doc_id, ${d.listAgg("gram")} AS hgrams
       |  FROM ew WHERE df > $maxDf GROUP BY doc_id),
       |c AS (
       |  SELECT a.doc_id AS ia, b.doc_id AS ib,
       |         max(a.ng) AS na, max(b.ng) AS nb,
       |         CAST(count(*) AS DOUBLE) AS cold
       |  FROM ec a JOIN ec b ON a.gram = b.gram AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |v AS (
       |  SELECT c.ia, c.ib, c.na, c.nb,
       |    c.cold + coalesce(
       |      CAST(${d.arrIntersectSize("ha.hgrams", "hb.hgrams")} AS DOUBLE),
       |      ${d.dlit(0.0)}) AS shared
       |  FROM c
       |  LEFT JOIN hot ha ON ha.doc_id = c.ia
       |  LEFT JOIN hot hb ON hb.doc_id = c.ib)
       |SELECT ia AS doc_id_a, ib AS doc_id_b,
       |  round(shared / (na + nb - shared), 6) AS jaccard
       |FROM v
       |WHERE shared / (na + nb - shared) >= 0.5
       |ORDER BY doc_id_a, doc_id_b""".stripMargin
  }

  /** Oracle twin of the engine's `ngramContainment`: the identical
    * capped-posting CTE chain as `ngramJaccardSql` (tok → t → s → e →
    * ew → ec/hot → c → v), with the containment projections and the
    * either-direction threshold as the tail.  Same statement runs in
    * Spark and DuckDB. */
  def ngramContainmentSql(d: SqlDialect, maxDf: Int = MaxGramDf): String = {
    val base = ngramJaccardSql(d, maxDf)
    val tail = base.indexOf("SELECT ia AS doc_id_a")
    base.substring(0, tail) +
      s"""SELECT ia AS doc_id_a, ib AS doc_id_b,
         |  round(shared / na, 6) AS contain_ab,
         |  round(shared / nb, 6) AS contain_ba
         |FROM v
         |WHERE greatest(shared / na, shared / nb) >= ${d.dlit(ContainThreshold)}
         |ORDER BY doc_id_a, doc_id_b""".stripMargin
  }

  /** MinHash signature components: for perm i,
    * h_i = min over shingles of (a_i * (h60(gram) % P) + b_i) % P. */
  private def minhashSigExprs: Seq[String] =
    (0 until NumPerms).map { i =>
      s"min((${permA(i)} * g + ${permB(i)}) % $P) AS h$i"
    }

  /** Band key: concat of the band's 4 signature components. */
  private def bandKey(d: SqlDialect, b: Int, qual: String = ""): String =
    (0 until RowsPerBand)
      .map(r => d.castStr(s"$qual" + s"h${b * RowsPerBand + r}"))
      .mkString(" || '_' || ")

  /** Shared gram-set CTE chain ending in relation
    * mh_grams(doc_id, grams, ng). */
  private def gramCtes(d: SqlDialect): String =
    s"""tok AS (
       |  SELECT doc_id, ${d.tokens("text")} AS toks FROM documents),
       |t AS (
       |  SELECT doc_id, ${d.shingles3("toks")} AS grams FROM tok),
       |mh_grams AS (
       |  SELECT doc_id, grams, ${d.arrSize("grams")} AS ng FROM t)""".stripMargin

  /** Signature CTE chain (over mh_grams) ending in relation
    * mh_sig(doc_id, h0..h31). */
  private def sigCtes(d: SqlDialect): String =
    s"""e AS (
       |  SELECT doc_id, ${d.explode("grams")} AS gram FROM mh_grams),
       |gh AS (
       |  SELECT doc_id, (${d.h60("gram")} % $P) AS g FROM e),
       |mh_sig AS (
       |  SELECT doc_id, ${minhashSigExprs.mkString(", ")}
       |  FROM gh GROUP BY doc_id)""".stripMargin

  /** Banding + candidate + verify over relations mh_sig / mh_grams
    * (CTEs in the oracle, cached temp views in the engine). */
  private def minhashPairSql(d: SqlDialect): String = {
    val bandSelects = (0 until Bands).map { b =>
      s"SELECT doc_id, $b AS band, ${bandKey(d, b)} AS bkey FROM mh_sig"
    }.mkString("\n  UNION ALL\n  ")
    val sigMatches = (0 until NumPerms)
      .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |scored AS (
       |  SELECT c.ia, c.ib,
       |    CAST(($sigMatches) AS DOUBLE) / $NumPerms AS est_sim,
       |    CAST(${d.arrIntersectSize("ga.grams", "gb.grams")} AS DOUBLE)
       |      / (ga.ng + gb.ng - ${d.arrIntersectSize("ga.grams", "gb.grams")}) AS jaccard
       |  FROM cand c
       |  JOIN mh_sig sa ON sa.doc_id = c.ia
       |  JOIN mh_sig sb ON sb.doc_id = c.ib
       |  JOIN mh_grams ga ON ga.doc_id = c.ia
       |  JOIN mh_grams gb ON gb.doc_id = c.ib)
       |SELECT ia AS doc_id_a, ib AS doc_id_b,
       |  round(est_sim, 6) AS est_sim, round(jaccard, 6) AS jaccard
       |FROM scored
       |WHERE jaccard >= 0.5
       |ORDER BY doc_id_a, doc_id_b""".stripMargin
  }

  /** MinHash + LSH near-dup: banded candidate generation (8 bands × 4
    * rows over 32 perms), est. similarity from signature agreement,
    * exact Jaccard verification (J ≥ 0.5) on candidate pairs only.
    * Single-statement form, used as the oracle. */
  def minhashLshSql(d: SqlDialect): String = {
    val pair = minhashPairSql(d)
    s"""WITH ${gramCtes(d)},
       |${sigCtes(d)},
       |${pair.stripPrefix("WITH ")}""".stripMargin
  }

  /** 60-bit SimHash from token counts: bit j set iff the count-weighted
    * sum of (±1 per word-hash bit j) is positive.  The contribution is
    * linear in the count, so the per-(doc, word) counting stage is
    * fused away: ±1 terms are summed directly over raw word instances
    * — one shuffle (groupBy doc) with map-side partial aggregation
    * instead of two. */
  private def simhashCte(d: SqlDialect): String = {
    val sums = (0 until SimHashBits).map { j =>
      s"sum(2 * ((${d.shiftRight("h", j.toString)}) & 1) - 1) AS s$j"
    }.mkString(", ")
    val sig = (0 until SimHashBits)
      .map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""w AS (
       |  SELECT doc_id, ${d.explode(d.tokens("text"))} AS word FROM documents),
       |wh AS (
       |  SELECT doc_id, ${d.h60("word")} AS h FROM w),
       |bits AS (
       |  SELECT doc_id, $sums FROM wh GROUP BY doc_id),
       |sig AS (
       |  SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM bits)""".stripMargin
  }

  /** The SQL sig relation alone (test hook: GraftSimHashSpec checks
    * the native expression against this independent formulation). */
  def simhashSqlSigForTest(d: SqlDialect): String =
    s"WITH ${simhashCte(d)} SELECT doc_id, simhash FROM sig"

  /** Oracle-side SimHash: brute-force all-pairs Hamming scan — a
    * different algorithm that must produce the identical result set,
    * because banded candidate generation is complete for distance ≤ 5. */
  def simhashBruteSql(d: SqlDialect): String =
    s"""WITH ${simhashCte(d)}
       |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       |  CAST(bit_count(${d.xor("a.simhash", "b.simhash")}) AS BIGINT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(${d.xor("a.simhash", "b.simhash")}) <= $SimHashMaxHamming
       |ORDER BY doc_id_a, doc_id_b""".stripMargin

  /** SimHash near-dup pairs (ia, ib, hamming ≤ 5) via band-blocked
    * candidates (complete by pigeonhole — see header), UNSORTED.  The
    * signature relation feeds 6 band projections, so the engine
    * computes it once as a cached DataFrame (same reasoning as
    * minhashLsh). */
  def simhashVerifiedPairs(spark: SparkSession, dir: String): DataFrame = {
    // materialize the sig memo entry BEFORE entering the pairs memo so
    // the two cached() calls never nest
    val sig = simhashSig(spark, dir)
    RelationCache.materialized(spark, s"simhash_pairs:$dir") {
      simhashVerifiedPairsPlan(spark, sig)
    }
  }

  /** Engine-side signature relation: the native graft_simhash
    * projection (one narrow pass, no explode/shuffle) — the SQL
    * sum-per-bit CTE stays as the oracle's independent formulation.
    * Token-less docs yield NULL and are filtered, matching the CTE's
    * emits-no-row behavior. */
  private def simhashSig(spark: SparkSession, dir: String): DataFrame =
    RelationCache.materialized(spark, s"simhash_sig:$dir") {
      runDocs(spark, dir,
        s"""SELECT doc_id, graft_simhash(${SparkDialect.tokens("text")}) AS simhash
           |FROM documents""".stripMargin)
        .filter("simhash IS NOT NULL")
    }

  /** Drop over-cap (band, key) buckets BEFORE a banded self-join —
    * the ONE statement of the band-bucket degradation bound (see
    * TextOps.MaxBandBucket), shared by the SimHash, MinHash and
    * incremental candidate paths so a change to the cap semantics
    * cannot leave one path diverged.  The count window shuffles on
    * the same (band, key) key the downstream join needs, so the
    * exchange is shared; an adversarial bucket of f ≫ cap members
    * costs O(f) here instead of O(f²) in the join.  Dropped mass is
    * observable via the cap-report operators. */
  private def cappedBands(bands: DataFrame, keyCol: String,
      cap: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    bands
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col(keyCol))))
      .filter(col("df") <= cap)
      .drop("df")
  }

  private def simhashVerifiedPairsPlan(spark: SparkSession, sig: DataFrame,
      maxBucket: Int = MaxBandBucket): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val bands0 = simhashBandsOf(sig)
    // Same bounded-bucket degradation as the MinHash path (TextOps
    // .MaxBandBucket): on an adversarially self-similar corpus the
    // band buckets — and the TRUE ≤5-bit pair set — grow
    // quadratically, so even with the hamming filter in the join the
    // fan-out has a quadratic floor.  Over-cap buckets are dropped
    // whole BEFORE the self-join; a pair is lost only if all its
    // colliding buckets are capped (≥ cap-sized near-clone cliques).
    // `simhashCapReport` is the observable receipt.  The fixture
    // maxima are far below the default cap, so oracle results carry
    // no cap effect (proven by the green suite).
    val bands = cappedBands(bands0, "bval", maxBucket)
    // Hamming filter BEFORE the pair distinct: signature bits correlate
    // strongly on a same-vocabulary corpus, so band buckets are large
    // and the self-join emits millions of candidate pairs — the ≤5-bit
    // filter keeps a handful.  Filtering in the join stage means the
    // distinct only ever shuffles the survivors (measured 24s → ~1s at
    // sf0.1); dedup on (ia, ib) alone is safe since hamming is a
    // function of the pair.
    // The verified pair relation is cached once per (session, dir) via
    // RelationCache: both dedup_simhash and dedup_clusters consume the
    // same DataFrame instance.
    bands.as("a")
      .join(bands.as("b"),
        $"a.band" === $"b.band" && $"a.bval" === $"b.bval" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("ia"), $"b.doc_id".as("ib"),
        expr("CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT)").as("hamming"))
      .filter($"hamming" <= SimHashMaxHamming)
      .distinct()
  }

  /** The 6 10-bit band projections of a simhash signature relation. */
  private def simhashBandsOf(sig: DataFrame): DataFrame = {
    val spark = sig.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val mask = (1 << SimHashBandBits) - 1
    (0 until SimHashBands).map { b =>
      sig.select($"doc_id", $"simhash", lit(b).as("band"),
        expr(s"(shiftright(simhash, ${b * SimHashBandBits}) & $mask)").as("bval"))
    }.reduce(_.unionByName(_))
  }

  /** `minhashCapReport`'s counterpart for the SimHash band join: one
    * row of (capped_buckets, capped_pairs = Σ C(f,2) over over-cap
    * buckets, kept_pairs with the cap applied).  Spec-pinned rather
    * than registered — the registered cap receipt is the MinHash one;
    * this is the same pattern over the other banded join. */
  def simhashCapReport(spark: SparkSession, dir: String,
      cap: Int): DataFrame =
    simhashCapReportFrom(simhashSig(spark, dir), cap)

  /** `simhashCapReport` over an arbitrary (doc_id, text) relation. */
  def simhashCapReportOf(docs: DataFrame, cap: Int): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.GraftFunctions.register(spark)
    simhashCapReportFrom(
      docs.selectExpr("doc_id",
          s"graft_simhash(${SparkDialect.tokens("text")}) AS simhash")
        .filter("simhash IS NOT NULL"), cap)
  }

  private def simhashCapReportFrom(sig: DataFrame, cap: Int): DataFrame = {
    val spark = sig.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val sizes = simhashBandsOf(sig).groupBy($"band", $"bval")
      .agg(count(lit(1)).as("df"))
    val capped = sizes.filter($"df" > cap)
      .agg(count(lit(1)).as("capped_buckets"),
        expr("CAST(floor(COALESCE(sum(df * (df - 1)), 0) / 2.0) AS BIGINT)")
          .as("capped_pairs"))
    val kept = simhashVerifiedPairsPlan(spark, sig, cap)
      .agg(count(lit(1)).as("kept_pairs"))
    capped.crossJoin(kept)
  }

  /** Oracle-facing form of the banded result: sorted, renamed. */
  def simhashBanded(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    simhashVerifiedPairs(spark, dir)
      .select($"ia".as("doc_id_a"), $"ib".as("doc_id_b"), $"hamming")
      .orderBy($"doc_id_a", $"doc_id_b")
  }

  /** Embedding cosine near-dup pairs (cos ≥ 0.4), exact all-pairs with
    * pre-computed norms.  Identical left-to-right double fold on both
    * sides → bit-identical cosines. */
  def embeddingCosineSql(d: SqlDialect): String = {
    s"""WITH e AS (
       |  SELECT vec_id, ${d.toDoubleArr("embedding")} AS v FROM embeddings),
       |n AS (
       |  SELECT vec_id, v, sqrt(${d.dot("v", "v")}) AS nrm FROM e)
       |SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
       |  round(${d.dot("a.v", "b.v")} / (a.nrm * b.nrm), 6) AS cosine
       |FROM n a JOIN n b ON a.vec_id < b.vec_id
       |WHERE ${d.dot("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.4
       |ORDER BY vec_id_a, vec_id_b""".stripMargin
  }

  /** LSH-blocked embedding near-dup — the 100 TB path: candidates are
    * pairs sharing at least one hyperplane band (same 16-plane / 4×4
    * banding as Similarity.annLsh), verified by exact cosine ≥ 0.4.
    * Approximate-by-construction (banding bounds recall); the engine
    * and oracle run the identical banding, so the result is still
    * deterministic and hash-checked.  `dedup_embedding` remains the
    * exact all-pairs reference. */
  def embeddingLshSql(d: SqlDialect): String = {
    val bitCols = (0 until AnnPlanes).map { p =>
      // literal weight array → plain (codegen'd) dot product, not an
      // interpreted per-element HOF chain; same left-to-right fold
      val proj = d.dot("v", d.arrOf(planeWeights(p).map(d.dlit)))
      s"(CASE WHEN $proj > 0 THEN 1 ELSE 0 END) AS bit$p"
    }.mkString(",\n    ")
    val bandSelects = (0 until AnnBands).map { b =>
      val v = (0 until AnnBandBits)
        .map(r => s"bit${b * AnnBandBits + r} * ${1 << (AnnBandBits - 1 - r)}")
        .mkString(" + ")
      s"SELECT vec_id, $b AS band, ($v) AS bval FROM bits"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH e AS (
       |  SELECT vec_id, ${d.toDoubleArr("embedding")} AS v FROM embeddings),
       |n AS (
       |  SELECT vec_id, v, sqrt(${d.dot("v", "v")}) AS nrm FROM e),
       |bits AS (
       |  SELECT vec_id,
       |    $bitCols
       |  FROM n),
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bval = b.bval AND a.vec_id < b.vec_id),
       |sc AS (
       |  SELECT c.ia, c.ib, ${d.dot("x.v", "y.v")} / (x.nrm * y.nrm) AS cs
       |  FROM cand c
       |  JOIN n x ON x.vec_id = c.ia
       |  JOIN n y ON y.vec_id = c.ib)
       |SELECT ia AS vec_id_a, ib AS vec_id_b, round(cs, 6) AS cosine
       |FROM sc WHERE cs >= 0.4
       |ORDER BY vec_id_a, vec_id_b""".stripMargin
  }

  def embeddingLsh(spark: SparkSession, dir: String): DataFrame =
    // memoized (r15): its own query + the lshRecall ratio consume it
    RelationCache.materialized(spark, s"emb_lsh_pairs:$dir") {
      graft.functions.GraftFunctions.register(spark)
      Tables.embeddings(spark, dir).createOrReplaceTempView("embeddings")
      spark.sql(embeddingLshSql(SparkDialect))
    }

  /** Corpus-scaled embedding-LSH near-dup — the fix for the fixed
    * band space's quadratic floor (SCALING.md round-10 table:
    * `dedup_embedding_lsh` grew 44× on 10× data because 4 bands ×
    * 4 bits = 16 buckets hold Θ(n) vectors each).
    *
    * Same 4 bands, but each band key is the FIRST `nb` bits of a
    * 16-bit-per-band hyperplane signature, where
    * `nb = clamp(4..16, ceil(log2(n / 32)))` comes from a scalar
    * subquery over the corpus count — expected bucket occupancy
    * stays ~32 vectors regardless of corpus size, so candidate
    * volume is ~16n per band instead of n²/16.  The SQL text is
    * static (all 64 bit columns are computed; the data-dependent
    * part is only the substring length), so the identical statement
    * runs in Spark and DuckDB and the result stays deterministic
    * and hash-checked.  At the oracle scales (n ≤ 500) nb floors at
    * 4, i.e. the scaled variant coincides with `embeddingLsh`'s
    * bucket granularity there; the two diverge only where the fixed
    * grid starts to saturate.  (Standard LSH recall tradeoff applies:
    * narrower buckets lower per-band collision probability for true
    * near-dups; a production deployment grows the band COUNT
    * alongside — kept at 4 here so the engine/oracle pair stays one
    * statement.  `dedup_embedding` remains the exact reference.) */
  def embeddingLshScaledSql(d: SqlDialect): String = {
    val maxBits = 16
    val bitCols = (0 until AnnBands * maxBits).map { p =>
      val proj = d.dot("v", d.arrOf(planeWeights(p).map(d.dlit)))
      s"(CASE WHEN $proj > 0 THEN 1 ELSE 0 END) AS bit$p"
    }.mkString(",\n    ")
    val bandStrs = (0 until AnnBands).map { b =>
      val cat = (0 until maxBits)
        .map(r => d.castStr(s"bit${b * maxBits + r}"))
        .mkString(", ")
      s"SELECT vec_id, $b AS band, concat($cat) AS bstr FROM bits"
    }.mkString("\n  UNION ALL\n  ")
    // nb = clamp(4..16, ceil(log2(n/32))) via an INTEGER threshold
    // ladder: n ≤ 32·2^b → b.  A float log2 here is an engine parity
    // trap — Spark computes ln(x)/ln(2), DuckDB calls std::log2, and
    // at n/32 an exact power of two the quotient form can land one
    // ulp above the integer and ceil to a different width, silently
    // changing every band key.  Pure integer comparisons cannot
    // disagree.
    val nbLadder = (4 until maxBits)
      .map(b => s"WHEN count(*) <= ${32L * (1L << b)} THEN $b")
      .mkString("\n    ")
    s"""WITH e AS (
       |  SELECT vec_id, ${d.toDoubleArr("embedding")} AS v FROM embeddings),
       |n AS (
       |  SELECT vec_id, v, sqrt(${d.dot("v", "v")}) AS nrm FROM e),
       |p AS (
       |  SELECT CAST(CASE
       |    $nbLadder
       |    ELSE $maxBits END AS INT) AS nb
       |  FROM n),
       |bits AS (
       |  SELECT vec_id,
       |    $bitCols
       |  FROM n),
       |bands AS (
       |  $bandStrs),
       |keys AS (
       |  SELECT vec_id, band, substring(bstr, 1, p.nb) AS bkey
       |  FROM bands CROSS JOIN p),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
       |  FROM keys a JOIN keys b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id),
       |sc AS (
       |  SELECT c.ia, c.ib, ${d.dot("x.v", "y.v")} / (x.nrm * y.nrm) AS cs
       |  FROM cand c
       |  JOIN n x ON x.vec_id = c.ia
       |  JOIN n y ON y.vec_id = c.ib)
       |SELECT ia AS vec_id_a, ib AS vec_id_b, round(cs, 6) AS cosine
       |FROM sc WHERE cs >= 0.4
       |ORDER BY vec_id_a, vec_id_b""".stripMargin
  }

  /** Normalized embeddings (vec_id, v, nrm), cached once per corpus —
    * shared by the semantic-dedup family and the scaled LSH serve
    * below (same key both build). */
  private[ops] def embNorms(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    RelationCache.cached(spark, s"semantic_norms:$dir") {
      Tables.embeddings(spark, dir)
        .select(col("vec_id"),
          org.apache.spark.sql.functions.expr(
            SparkDialect.toDoubleArr("embedding")).as("v"))
        .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
    }
  }

  /** Cached (vec_id, band, bkey) banded hyperplane signature — the
    * engine-side building block of `embeddingLshScaled`.  One pass
    * computes the `AnnBands × nb` sign bits (nb from the same integer
    * count ladder as the SQL formulation, resolved once driver-side
    * from the cached norms relation) and `posexplode`s the band keys;
    * the SQL oracle's UNION-ALL-over-`bits` CTE re-derives all 64
    * projections once PER BAND when inlined, a measured 4× waste that
    * made this the suite's heaviest honest scaling row. */
  def embBandKeys(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val n = embNorms(spark, dir)
    RelationCache.materialized(spark, s"emb_band_keys:$dir") {
      val maxBits = 16
      val cnt = n.count()
      // same clamp(4..16, ceil(log2(n/32))) as the SQL's integer ladder
      val nb = (4 until maxBits).find(b => cnt <= 32L * (1L << b))
        .getOrElse(maxBits)
      val bandKeys = (0 until AnnBands).map { b =>
        // only the nb bits the band key keeps are computed — identical
        // to substring(concat(all 16 bits), 1, nb) by construction
        val bits = (0 until nb).map { r =>
          val p = b * maxBits + r
          val proj = SparkDialect.dot("v",
            SparkDialect.arrOf(planeWeights(p).map(SparkDialect.dlit)))
          s"CAST((CASE WHEN $proj > 0 THEN 1 ELSE 0 END) AS STRING)"
        }.mkString(", ")
        expr(s"concat($bits)")
      }
      n.select(col("vec_id"),
        posexplode(array(bandKeys: _*)).as(Seq("band", "bkey")))
    }
  }

  /** Bench-priced build of the banded-signature relation (labeled
    * `emb_band_keys`), so its one-time cost doesn't attribute to the
    * serving query's min-of-runs row. */
  def prebuildEmbBandKeys(spark: SparkSession, dir: String): Unit = {
    embBandKeys(spark, dir).count(); ()
  }

  /** Engine form of `embeddingLshScaledSql` — same banding, same
    * verify, bit-identical cosines (graft_dot everywhere), but the
    * signature/norm relations are computed ONCE and cached instead of
    * re-derived per CTE reference when Spark inlines the SQL text.
    * The SQL stays the independent DuckDB oracle. */
  def embeddingLshScaled(spark: SparkSession, dir: String): DataFrame =
   // memoized (r15): its own query + the lshRecall ratio consume it
   RelationCache.materialized(spark, s"emb_lsh_scaled_pairs:$dir") {
    import org.apache.spark.sql.functions._
    val n = embNorms(spark, dir)
    val keys = embBandKeys(spark, dir)
    // Verify BEFORE distinct: band buckets are skewed on clustered
    // embeddings (real corpora cluster by topic; the fixture by
    // label), so the SQL form's candidate-DISTINCT shuffles tens of
    // millions of doomed pairs before the cosine gate ever runs.
    // Carrying (v, nrm) into the band self-join keeps the collision
    // pairs inside one join stage — cosine + threshold run in codegen
    // as each pair is generated, and only survivors (≤ bands× the
    // result) reach the distinct.  Cosine is deterministic per pair,
    // so distinct over (ia, ib, cosine) is exactly pair-distinct.
    val kv = keys.join(n, "vec_id")
    kv.as("a")
      .join(kv.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.vec_id") < col("b.vec_id"))
      .withColumn("cs",
        expr("graft_dot(a.v, b.v)") / (col("a.nrm") * col("b.nrm")))
      .filter(col("cs") >= 0.4)
      .select(col("a.vec_id").as("vec_id_a"), col("b.vec_id").as("vec_id_b"),
        round(col("cs"), 6).as("cosine"))
      .distinct()
      .orderBy("vec_id_a", "vec_id_b")
   }

  /** Pair-recall report for the two banded embedding near-dup
    * variants against the exact all-pairs baseline — the measured
    * answer to "what does banding give up?".  LSH candidates are a
    * subset of exact pairs by construction (same cos ≥ 0.4 verify),
    * so recall is a pure count ratio; one row with the three pair
    * counts and both recalls.  This is the dedup-side analogue of
    * `sim_recall`: it turns the narrowing tradeoff documented on
    * `embeddingLshScaledSql` into an observable number a deployment
    * tracks when it widens bands or tightens bits. */
  def lshRecallSql(d: SqlDialect): String =
    // greatest(...,1): with zero exact pairs both LSH counts are zero
    // too (subset), so recall is a defined 0.0 — without the guard
    // Spark's non-ANSI /0 yields NULL where DuckDB's IEEE division
    // yields NaN, an engine/oracle mismatch on all-dissimilar corpora
    s"""SELECT e.exact_pairs, l.lsh_pairs, s.scaled_pairs,
       |  round(CAST(l.lsh_pairs AS DOUBLE) / greatest(e.exact_pairs, 1), 6)
       |    AS lsh_recall,
       |  round(CAST(s.scaled_pairs AS DOUBLE) / greatest(e.exact_pairs, 1), 6)
       |    AS scaled_recall
       |FROM
       |  (SELECT CAST(count(*) AS BIGINT) AS exact_pairs
       |   FROM (${embeddingCosineSql(d)}) x) e
       |CROSS JOIN
       |  (SELECT CAST(count(*) AS BIGINT) AS lsh_pairs
       |   FROM (${embeddingLshSql(d)}) y) l
       |CROSS JOIN
       |  (SELECT CAST(count(*) AS BIGINT) AS scaled_pairs
       |   FROM (${embeddingLshScaledSql(d)}) z) s""".stripMargin

  def lshRecall(spark: SparkSession, dir: String): DataFrame = {
    // Engine form (r15): count the three MEMOIZED pair relations the
    // registered queries `dedup_embedding` / `dedup_embedding_lsh` /
    // `dedup_embedding_lsh_scaled` already serve (each individually
    // hash-checked against its own oracle), instead of re-running all
    // three SQL chains inline — Spark inlines the CTEs per reference,
    // so the old form recomputed the exact all-pairs scan and both
    // banding chains from raw embeddings on every call (1.66 s warm →
    // 0.2 s).  Arithmetic matches `lshRecallSql` term for term; the
    // single-statement SQL stays the independent DuckDB oracle.
    import org.apache.spark.sql.functions._
    val e = embeddingCosine(spark, dir)
      .agg(count(lit(1)).cast("long").as("exact_pairs"))
    val l = embeddingLsh(spark, dir)
      .agg(count(lit(1)).cast("long").as("lsh_pairs"))
    val s = embeddingLshScaled(spark, dir)
      .agg(count(lit(1)).cast("long").as("scaled_pairs"))
    e.crossJoin(l).crossJoin(s)
      .select(col("exact_pairs"), col("lsh_pairs"), col("scaled_pairs"),
        round(col("lsh_pairs").cast("double")
          / greatest(col("exact_pairs"), lit(1L)), 6).as("lsh_recall"),
        round(col("scaled_pairs").cast("double")
          / greatest(col("exact_pairs"), lit(1L)), 6).as("scaled_recall"))
  }

  /** Sampled twin of `dedup_lsh_recall` — the banding-recall receipt
    * that runs at 10×/100×, where the full report is excluded as a
    * registered baseline (it CONTAINS the exact all-pairs subquery by
    * definition).  A deterministic ⌈√n⌉ vector sample S (the
    * `qsampleCtes` ranked salted-hash pick, vector-side) restricts
    * BOTH sides of the ratio to pairs touching S:
    *
    *   exact_pairs_s  = |{(a,b) : cos ≥ 0.4, a<b, a∈S ∨ b∈S}|  — the
    *     brute-force side costs |S|·n ≈ n^1.5 dots instead of n²;
    *   scaled_pairs_s = the corpus-scaled LSH pairs touching S, with
    *     the sample predicate INSIDE the band self-join (one side of
    *     the join is the |S|-row slice), so candidate volume is
    *     ~|S|·occupancy, never the full pair relation;
    *
    * and scaled pairs are a subset of exact pairs by construction
    * (same cosine verify), so the ratio is the per-sample recall of
    * the production banding — an unbiased estimate of the full
    * `scaled_recall` under the uniform salted pick.  Only the
    * scale-safe variant is scored: the fixed-grid `dedup_embedding_lsh`
    * is itself a registered baseline, so a sampled recall for it
    * would be a receipt about a query that never runs at scale. */
  def lshRecallSampledSql(d: SqlDialect): String = {
    val salted = d.h60(s"${d.castStr("vec_id")} || '_vsample'")
    s"""WITH e AS (
       |  SELECT vec_id, ${d.toDoubleArr("embedding")} AS v FROM embeddings),
       |n AS (
       |  SELECT vec_id, v, sqrt(${d.dot("v", "v")}) AS nrm FROM e),
       |vn AS (SELECT count(*) AS nv FROM n),
       |vs AS (
       |  SELECT vec_id,
       |    row_number() OVER (ORDER BY $salted, vec_id) AS srn
       |  FROM n),
       |vsample AS (
       |  SELECT vs.vec_id FROM vs CROSS JOIN vn
       |  WHERE vs.srn <= CAST(ceil(sqrt(CAST(vn.nv AS DOUBLE))) AS BIGINT)),
       |ex AS (
       |  SELECT DISTINCT least(a.vec_id, b.vec_id) AS ia,
       |    greatest(a.vec_id, b.vec_id) AS ib
       |  FROM n a
       |  JOIN vsample s ON s.vec_id = a.vec_id
       |  JOIN n b ON b.vec_id != a.vec_id
       |  WHERE ${d.dot("a.v", "b.v")} / (a.nrm * b.nrm) >= ${d.dlit(0.4)}),
       |sp AS (
       |  SELECT vec_id_a AS ia, vec_id_b AS ib
       |  FROM (${embeddingLshScaledSql(d)}) z
       |  WHERE vec_id_a IN (SELECT vec_id FROM vsample)
       |     OR vec_id_b IN (SELECT vec_id FROM vsample)),
       |ec AS (SELECT CAST(count(*) AS BIGINT) AS exact_pairs_s FROM ex),
       |sc AS (SELECT CAST(count(*) AS BIGINT) AS scaled_pairs_s FROM sp)
       |SELECT ec.exact_pairs_s, sc.scaled_pairs_s,
       |  round(CAST(sc.scaled_pairs_s AS DOUBLE)
       |    / greatest(ec.exact_pairs_s, 1), 6) AS scaled_recall_s
       |FROM ec CROSS JOIN sc""".stripMargin
  }

  /** Engine form of `lshRecallSampled`: the cached norm/band-key
    * relations (`embNorms` / `embBandKeys`) with the sample slice
    * joined onto ONE side of both the brute-force scan and the band
    * self-join — the restriction the SQL oracle states as IN-filters
    * over the full pair relation, pushed where a 100× run needs it.
    * Pair sets are identical: a scaled-LSH pair touching S collides
    * in some band with its S-side present in the sliced relation. */
  def lshRecallSampled(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val n = embNorms(spark, dir)
    val keys = embBandKeys(spark, dir)
    val sampleN = math.ceil(math.sqrt(n.count().toDouble)).toInt
    // the sample is the sampleN SMALLEST rows under the total order
    // (salted hash, vec_id) — exactly what orderBy().limit(k) computes
    // via TakeOrderedAndProject (per-partition top-K heaps, K·P merge),
    // where the SQL oracle's rank<=k global window would funnel the
    // corpus through ONE partition (r16; the window form stays the
    // DuckDB oracle text)
    val samp = n.select(col("vec_id"),
        expr(SparkDialect.h60(
          s"${SparkDialect.castStr("vec_id")} || '_vsample'")).as("h"))
      .orderBy($"h", $"vec_id")
      .limit(sampleN)
      .select("vec_id")
    val ns = n.join(samp, "vec_id")
    val ex = ns.as("a")
      .join(n.as("b"), $"a.vec_id" =!= $"b.vec_id")
      .filter(expr("graft_dot(a.v, b.v)") / ($"a.nrm" * $"b.nrm") >= 0.4)
      .select(least($"a.vec_id", $"b.vec_id").as("ia"),
        greatest($"a.vec_id", $"b.vec_id").as("ib"))
      .distinct()
      .agg(count(lit(1)).cast("long").as("exact_pairs_s"))
    val kv = keys.join(n, "vec_id")
    val kvs = kv.join(samp, "vec_id")
    val sp = kvs.as("a")
      .join(kv.as("b"),
        $"a.band" === $"b.band" && $"a.bkey" === $"b.bkey" &&
          $"a.vec_id" =!= $"b.vec_id")
      .filter(expr("graft_dot(a.v, b.v)") / ($"a.nrm" * $"b.nrm") >= 0.4)
      .select(least($"a.vec_id", $"b.vec_id").as("ia"),
        greatest($"a.vec_id", $"b.vec_id").as("ib"))
      .distinct()
      .agg(count(lit(1)).cast("long").as("scaled_pairs_s"))
    ex.crossJoin(sp)
      .withColumn("scaled_recall_s",
        round($"scaled_pairs_s".cast("double")
          / greatest($"exact_pairs_s", lit(1L)), 6))
  }

  /** Keeper election over the corpus-scaled embedding near-dup graph —
    * `dedup_compact`'s contract for the embedding family: verified
    * pairs (the `dedup_embedding_lsh_scaled` banding + cos ≥ 0.4
    * rule) → connected components → each cluster keeps its minimum
    * vec_id; vectors in no verified pair keep themselves.  Output is
    * the kept vec_id set, ~n rows.
    *
    * This is the form a deployment that only needs the keep/drop
    * decision should run instead of the pair relation: on corpora
    * where true near-dup mass is itself quadratic (the Gaussian
    * fixture's 100× row pays an honest exp-1.17 OUTPUT floor on
    * pairs), the pair edges here flow straight from the band
    * self-join into the union-find contraction — no pair-distinct
    * shuffle (union-find is duplicate-edge-insensitive), no round(),
    * no global pair sort, no materialized pair output — and the
    * result cardinality is bounded by the corpus, not by the pair
    * mass. */
  def embeddingCompact(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val n = embNorms(spark, dir)
    val kv = embBandKeys(spark, dir).join(n, "vec_id")
    val pairs = kv.as("a")
      .join(kv.as("b"),
        $"a.band" === $"b.band" && $"a.bkey" === $"b.bkey" &&
          $"a.vec_id" < $"b.vec_id")
      .filter(expr("graft_dot(a.v, b.v)") / ($"a.nrm" * $"b.nrm") >= 0.4)
      .select($"a.vec_id".as("ia"), $"b.vec_id".as("ib"))
    val clusters = connectedComponents(pairs)
      .select($"doc_id".as("vec_id"), $"cluster_rep")
    n.select($"vec_id").join(clusters, Seq("vec_id"), "left")
      .filter($"cluster_rep".isNull || $"cluster_rep" === $"vec_id")
      .select($"vec_id")
      .orderBy($"vec_id")
  }

  /** Oracle for `embeddingCompact`: the single-statement scaled-LSH
    * pair chain, a recursive-CTE reachability closure (the
    * independent third algorithm, as in `compactKeptOracleSql`), and
    * keeper = min reachable id; unpaired vectors keep themselves. */
  def embeddingCompactOracleSql(d: SqlDialect): String =
    s"""WITH RECURSIVE vp AS (
       |  SELECT vec_id_a AS ia, vec_id_b AS ib
       |  FROM (${embeddingLshScaledSql(d)}) z),
       |edges AS (
       |  SELECT ia AS src, ib AS dst FROM vp
       |  UNION ALL SELECT ib, ia FROM vp),
       |reach(src, dst) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT edges.src, r.dst FROM edges JOIN reach r ON edges.dst = r.src),
       |lab AS (
       |  SELECT src AS vec_id, min(dst) AS rep FROM reach GROUP BY src)
       |SELECT e.vec_id AS vec_id FROM embeddings e
       |LEFT JOIN lab ON lab.vec_id = e.vec_id
       |WHERE lab.vec_id IS NULL OR lab.rep = e.vec_id
       |ORDER BY e.vec_id""".stripMargin

  private def runDocs(spark: SparkSession, dir: String, sql: String): DataFrame = {
    // InferFiltersFromGenerate substitutes the whole shingle/token
    // expression into a pre-Generate filter (size(...)>0, isnotnull),
    // re-tokenizing every document several times per row.  Our
    // generators explode arrays that are essentially never empty, so
    // the inferred filter is pure overhead — measured 5-10x on the
    // LSH queries at sf0.1.
    // Appended to (not clobbering) any exclusions another component
    // set.  Deliberately NOT restored after building the DataFrame:
    // optimization happens lazily at action time, so restoring here
    // would re-enable the rule before the plan is ever optimized.
    TextOps.excludeRule(spark,
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    graft.functions.GraftFunctions.register(spark)
    Tables.documents(spark, dir).createOrReplaceTempView("documents")
    spark.sql(sql)
  }

  def exact(spark: SparkSession, dir: String): DataFrame =
    runDocs(spark, dir, exactSql(SparkDialect))

  def report(spark: SparkSession, dir: String): DataFrame =
    runDocs(spark, dir, reportSql(SparkDialect))

  /** Cached gram-set relation (doc_id, grams, ng), shared by the
    * ngram and minhash engine paths.  Re-invocations hit Spark's
    * cache manager (same canonicalized plan → same InMemoryRelation). */
  private def gramsDF(spark: SparkSession, dir: String): DataFrame =
    RelationCache.materialized(spark, s"mh_grams:$dir") {
      runDocs(spark, dir,
        s"WITH ${gramCtes(SparkDialect)} SELECT doc_id, grams, ng FROM mh_grams")
    }

  /** Engine-side ngram Jaccard: the gram relation feeds both sides of
    * the inverted-index self-join — computed once, cached, joined via
    * DataFrame aliases (the single-statement SQL form inlines it
    * twice; kept as the oracle).  Candidate generation runs the SAME
    * hot-gram df cap + exact fold-back algorithm as `ngramJaccardSql`,
    * but in the shuffle-safe engine form (`TextOps.capPostings`:
    * groupBy-count df + broadcast hot set, never a window or shuffle
    * keyed on a skewed gram). */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardProjection(sharedPairsDF(spark, dir))

  /** The memoized capped candidate-pair relation for the corpus at
    * `dir` — `dedup_ngram_jaccard` and `dedup_containment` are both
    * projections over it, and a bench/verify run executes them
    * back-to-back: without the memo each query re-pays the capped
    * posting self-join (the two heaviest honest rows of the 100×
    * suite).  The cached relation is the PAIR stage output
    * (ia, ib, na, nb, shared) — candidate pairs post-blocking, orders
    * of magnitude smaller than the posting-join intermediates. */
  /** Force the shared capped candidate-pair relation for `dir` —
    * registered in `SparkEntry.builds` so bench artifacts price the
    * posting self-join as its own labeled line instead of silently
    * attributing it to whichever consumer runs first alphabetically
    * (at the 100× fixture the pair build is ~100 s; the consumers'
    * per-query rows are then pure projection cost).  Idempotent: the
    * relation is session-memoized. */
  def prebuildSharedPairs(spark: SparkSession, dir: String): Unit = {
    sharedPairsDF(spark, dir).count(); ()
  }

  private def sharedPairsDF(spark: SparkSession, dir: String): DataFrame =
    RelationCache.materialized(spark, s"ngram_pairs:$dir:$MaxGramDf") {
      import spark.implicits._
      import org.apache.spark.sql.functions._
      // the join sides re-run only the explode over the cached gram
      // relation — cheap, and NOT worth pinning a second (exploded,
      // larger) copy of the gram corpus in cache memory
      val e = gramsDF(spark, dir)
        .select($"doc_id", $"ng", explode($"grams").as("gram"))
      cappedSharedPairs(e, MaxGramDf)
    }

  /** The capped pair stage over an exploded posting relation
    * e(doc_id, ng, gram) — split out so specs can run it on synthetic
    * boilerplate-heavy corpora with a tiny cap.  Mirrors the CTE chain
    * of `ngramJaccardSql` (ec → c → v) exactly: cold candidate join on
    * df-capped postings, then the dropped hot grams folded back into
    * each surviving pair's shared-count via the per-doc hot-array
    * intersection, so reported Jaccard values equal the uncapped
    * computation (shingles are distinct per doc). */
  private[ops] def ngramJaccardCapped(posts: DataFrame, maxDf: Int): DataFrame =
    jaccardProjection(cappedSharedPairs(posts, maxDf))

  /** Jaccard score + threshold over a capped pair relation. */
  private def jaccardProjection(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    pairs
      .withColumn("jaccard", $"shared" / ($"na" + $"nb" - $"shared"))
      .filter($"jaccard" >= 0.5)
      .select($"ia".as("doc_id_a"), $"ib".as("doc_id_b"),
        round($"jaccard", 6).as("jaccard"))
      .orderBy($"doc_id_a", $"doc_id_b")
  }

  /** Shared capped pair stage: (ia, ib, na, nb, shared) over an
    * exploded posting relation — the cold candidate join on df-capped
    * postings plus the exact hot-gram fold-back.  Jaccard and
    * containment are projections over this one relation; the blocking
    * and cap semantics (and their 100 TB safety argument) live here
    * once. */
  private[ops] def cappedSharedPairs(posts: DataFrame, maxDf: Int): DataFrame = {
    val spark = posts.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val (cold, hotPerDoc) = TextOps.capPostings(posts, maxDf)
    val c = cold.as("a")
      .join(cold.as("b"), $"a.gram" === $"b.gram" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("ia"), $"b.doc_id".as("ib"))
      .agg(max($"a.ng").as("na"), max($"b.ng").as("nb"),
        count(lit(1)).cast("double").as("cold_shared"))
    c.join(hotPerDoc.as("ha"), $"ha.doc_id" === $"ia", "left")
      .join(hotPerDoc.as("hb"), $"hb.doc_id" === $"ib", "left")
      .withColumn("shared", $"cold_shared" + coalesce(
        size(array_intersect($"ha.hgrams", $"hb.hgrams")).cast("double"),
        lit(0.0)))
      .select($"ia", $"ib", $"na", $"nb", $"shared")
  }

  /** Asymmetric n-gram containment pairs: |A∩B| / |A| per direction,
    * kept when either direction reaches `ContainThreshold`.  Catches
    * the sub-document duplication symmetric Jaccard under-scores — a
    * short document wholly embedded in a much longer one has
    * containment 1.0 but Jaccard ≈ |A|/|B|, far below any pair
    * threshold.  Candidate generation is the SAME df-capped posting
    * join + exact hot-gram fold-back as `ngramJaccardCapped` (one
    * blocked stage, two score projections), so the 100 TB safety
    * story — no O(f²) hot-gram fan-out, bounded per-gram join keys —
    * is inherited, not re-argued. */
  private[ops] def ngramContainmentCapped(posts: DataFrame,
      maxDf: Int): DataFrame =
    containmentProjection(cappedSharedPairs(posts, maxDf))

  /** Directional containment scores + threshold over a capped pair
    * relation. */
  private def containmentProjection(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    pairs
      .withColumn("contain_ab", $"shared" / $"na")
      .withColumn("contain_ba", $"shared" / $"nb")
      .filter(greatest($"contain_ab", $"contain_ba") >= ContainThreshold)
      .select($"ia".as("doc_id_a"), $"ib".as("doc_id_b"),
        round($"contain_ab", 6).as("contain_ab"),
        round($"contain_ba", 6).as("contain_ba"))
      .orderBy($"doc_id_a", $"doc_id_b")
  }

  def ngramContainment(spark: SparkSession, dir: String): DataFrame =
    containmentProjection(sharedPairsDF(spark, dir))

  /** Split-leakage audit: near-duplicate pairs (the same J ≥ 0.5
    * relation `dedup_ngram_jaccard` reports) whose members land in
    * DIFFERENT train/val/test splits — the data-hygiene report an LLM
    * pipeline runs before trusting held-out metrics, since a test doc
    * with a near-dup in train is evaluation contamination the
    * benchmark-overlap check (`text_contamination`) cannot see.
    * Consumes the cached capped pair relation (a projection — the
    * posting join is already priced by `SparkEntry.builds`) and the
    * exact splitter of `text_sample_split` (`TextAnalysis.splitCase` —
    * one definition, audit and splitter cannot drift).  Split pairs
    * are reported as unordered categories (least/greatest), with each
    * category's share of all near-dup pairs and a leak flag. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val pairs = sharedPairsDF(spark, dir)
      .withColumn("jaccard", $"shared" / ($"na" + $"nb" - $"shared"))
      .filter($"jaccard" >= 0.5)
      .select($"ia", $"ib")
    graft.functions.GraftFunctions.register(spark)
    Tables.documents(spark, dir).createOrReplaceTempView("documents")
    val sp = spark.sql(
      s"""SELECT doc_id, ${TextAnalysis.splitCase(SparkDialect)} AS split
         |FROM documents""".stripMargin)
    pairs
      .join(sp.select($"doc_id".as("ia"), $"split".as("sa")), "ia")
      .join(sp.select($"doc_id".as("ib"), $"split".as("sb")), "ib")
      .select(least($"sa", $"sb").as("split_a"),
        greatest($"sa", $"sb").as("split_b"))
      .groupBy($"split_a", $"split_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("frac", round($"n_pairs".cast("double")
        / sum($"n_pairs").over(Window.partitionBy()), 6))
      .select($"split_a", $"split_b", $"n_pairs", $"frac",
        when($"split_a" =!= $"split_b", 1).otherwise(0)
          .cast("int").as("leaked"))
      .orderBy($"split_a", $"split_b")
  }

  /** Oracle twin of `splitLeakage`: the identical capped-posting CTE
    * chain as `ngramJaccardSql`, J ≥ 0.5 pair filter, split join, and
    * unordered-category aggregation as the tail. */
  def splitLeakageSql(d: SqlDialect, maxDf: Int = MaxGramDf): String = {
    val base = ngramJaccardSql(d, maxDf)
    val tail = base.indexOf("SELECT ia AS doc_id_a")
    base.substring(0, tail) +
      s""",
         |jp AS (
         |  SELECT ia, ib FROM v
         |  WHERE shared / (na + nb - shared) >= ${d.dlit(0.5)}),
         |sp AS ${d.mat} (
         |  SELECT doc_id, ${TextAnalysis.splitCase(d)} AS split
         |  FROM documents),
         |pj AS (
         |  SELECT least(sa.split, sb.split) AS split_a,
         |         greatest(sa.split, sb.split) AS split_b
         |  FROM jp
         |  JOIN sp sa ON sa.doc_id = jp.ia
         |  JOIN sp sb ON sb.doc_id = jp.ib)
         |SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs,
         |  round(CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (), 6) AS frac,
         |  CAST(CASE WHEN split_a != split_b THEN 1 ELSE 0 END AS INTEGER)
         |    AS leaked
         |FROM pj GROUP BY split_a, split_b
         |ORDER BY split_a, split_b""".stripMargin
  }

  /** Near-dup graph degree distribution: how many near-duplicate
    * partners (the same J ≥ 0.5 relation `dedup_ngram_jaccard`
    * reports) each document has, folded to a histogram
    * (degree → n_docs, degree-0 row included via the left join to the
    * full corpus).  This is the one-page duplication-shape report a
    * curation run publishes next to `dedup_report`: a heavy tail here
    * (one doc with degree 500) means boilerplate the pair list alone
    * buries in volume, and the degree-0 mass is the fraction of the
    * corpus dedup will not touch at all.
    *
    * Scale: a projection over the SAME session-cached capped pair
    * relation the jaccard/containment/leakage queries consume (the
    * posting join is priced once by `SparkEntry.builds`), then two
    * map-side-combining aggregates.  The degree-0 row comes from a
    * COUNT subtraction, not a left join of the full corpus against
    * the (tiny) degree relation — at 100 TB that join would shuffle
    * every doc_id to learn only how many are absent. */
  def degreeHist(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val pairs = sharedPairsDF(spark, dir)
      .withColumn("jaccard", $"shared" / ($"na" + $"nb" - $"shared"))
      .filter($"jaccard" >= 0.5)
      .select($"ia", $"ib")
    val deg = pairs.select($"ia".as("doc_id"))
      .unionAll(pairs.select($"ib".as("doc_id")))
      .groupBy($"doc_id").agg(count(lit(1)).as("degree"))
    val hist = deg.groupBy($"degree").agg(count(lit(1)).as("n_docs"))
    val zero = Tables.documents(spark, dir)
      .select(count(lit(1)).as("n"))
      .crossJoin(deg.select(count(lit(1)).as("nd")))
      .select(lit(0L).as("degree"), ($"n" - $"nd").as("n_docs"))
      .filter($"n_docs" > 0)
    zero.unionAll(hist).orderBy($"degree")
  }

  /** Oracle twin of `degreeHist`: the identical capped-posting CTE
    * chain as `ngramJaccardSql`, J ≥ 0.5 pair filter, then the
    * endpoint-explode + degree histogram (+ subtraction-derived
    * degree-0 row) as the tail. */
  def degreeHistSql(d: SqlDialect, maxDf: Int = MaxGramDf): String = {
    val base = ngramJaccardSql(d, maxDf)
    val tail = base.indexOf("SELECT ia AS doc_id_a")
    base.substring(0, tail) +
      s""",
         |jp AS (
         |  SELECT ia, ib FROM v
         |  WHERE shared / (na + nb - shared) >= ${d.dlit(0.5)}),
         |ends AS (
         |  SELECT ia AS doc_id FROM jp
         |  UNION ALL SELECT ib AS doc_id FROM jp),
         |deg AS (
         |  SELECT doc_id, count(*) AS degree FROM ends GROUP BY doc_id),
         |zero AS (
         |  SELECT CAST(0 AS BIGINT) AS degree,
         |    CAST((SELECT count(*) FROM documents)
         |      - (SELECT count(*) FROM deg) AS BIGINT) AS n_docs),
         |hist AS (
         |  SELECT CAST(degree AS BIGINT) AS degree,
         |    CAST(count(*) AS BIGINT) AS n_docs
         |  FROM deg GROUP BY degree)
         |SELECT degree, n_docs FROM (
         |  SELECT * FROM zero WHERE n_docs > 0
         |  UNION ALL SELECT * FROM hist) u
         |ORDER BY degree""".stripMargin
  }

  /** Engine-side MinHash: the signature and gram-set relations are
    * consumed by 8 band projections + 4 verify joins; SQL CTEs are
    * inlined per reference (re-running the whole pipeline ~10×, both
    * in Spark and in DuckDB), so the engine computes each relation
    * ONCE as a cached DataFrame and fans out with DataFrame self-join
    * aliases — the idiomatic Spark answer to multi-consumer reuse.
    * Both relations are ~1 row/doc with fixed-width columns: at 100 TB
    * these are the (small) derived index tables, cacheable or
    * checkpointable cluster-wide.  Scalar logic comes from the same
    * generated fragments as the single-statement oracle. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    minhashPairsCached(spark, dir).orderBy($"doc_id_a", $"doc_id_b")
  }

  /** The session-cached verified-pair relation at the DEFAULT band
    * cap — `dedup_minhash_lsh` and `dedup_compact` both consume it,
    * and each otherwise re-pays the banded candidate join + Jaccard
    * verify (~30-40 s at the 100× fixture).  Built over the shared
    * gram/signature caches; warmed by the priced `minhash_pair_cache`
    * build entry.  (`minhashCapReport` uses a different cap and keeps
    * its own pair stage.) */
  private def minhashPairsCached(spark: SparkSession,
      dir: String): DataFrame = {
    // Native per-row signature (graft_minhash): one md5 per gram + 32
    // min-updates in a narrow projection, replacing the explode →
    // hash-shuffle → 32-min aggregate subplan.  The grouped SQL form
    // stays as the oracle's independent formulation; empty gram sets
    // yield NULL and are filtered to match its emits-no-row relation.
    val grams = gramsDF(spark, dir)
    val sig = RelationCache.materialized(spark, s"mh_sig:$dir") {
      minhashSigFrom(grams)
    }
    RelationCache.materialized(spark, s"mh_pairs:$dir") {
      minhashPairsFrom(grams, sig)
    }
  }

  /** Wide signature relation (doc_id, h0..h31) from a gram relation —
    * the engine-side native form shared by the dir-cached path above
    * and the arbitrary-relation path below. */
  private def minhashSigFrom(grams: DataFrame): DataFrame =
    grams
      .selectExpr("doc_id", "graft_minhash(grams) AS mh")
      .where("mh IS NOT NULL")
      .selectExpr("doc_id" +:
        (0 until NumPerms).map(i => s"element_at(mh, ${i + 1}) AS h$i"): _*)

  /** Banding + candidate generation + exact-Jaccard verification over
    * prepared gram/signature relations — the pair stage of
    * `minhashLsh`, factored so callers with their own relations (the
    * streaming finishing pass) reuse it.  Unordered: the oracle-facing
    * entry point adds the ORDER BY. */
  private def minhashPairsFrom(grams: DataFrame, sig: DataFrame,
      maxBucket: Int = MaxBandBucket): DataFrame = {
    val spark = grams.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = SparkDialect
    val bands = cappedBands(bandsOf(sig), "bkey", maxBucket)
    val cand = bands.as("a")
      .join(bands.as("b"),
        $"a.band" === $"b.band" && $"a.bkey" === $"b.bkey" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("ia"), $"b.doc_id".as("ib"))
      .distinct()
    val sigMatches = (0 until NumPerms)
      .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    cand
      .join(sig.as("sa"), $"sa.doc_id" === $"ia")
      .join(sig.as("sb"), $"sb.doc_id" === $"ib")
      .join(grams.as("ga"), $"ga.doc_id" === $"ia")
      .join(grams.as("gb"), $"gb.doc_id" === $"ib")
      .withColumn("est_sim", expr(s"CAST(($sigMatches) AS DOUBLE) / $NumPerms"))
      .withColumn("inter",
        expr(d.arrIntersectSize("ga.grams", "gb.grams")).cast("double"))
      .withColumn("jaccard", $"inter" / ($"ga.ng" + $"gb.ng" - $"inter"))
      .filter($"jaccard" >= 0.5)
      .select($"ia".as("doc_id_a"), $"ib".as("doc_id_b"),
        round($"est_sim", 6).as("est_sim"), round($"jaccard", 6).as("jaccard"))
  }

  /** The 8 band projections of a signature relation, stacked. */
  private def bandsOf(sig: DataFrame): DataFrame = {
    val spark = sig.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    (0 until Bands).map { b =>
      sig.select($"doc_id", lit(b).as("band"),
        expr(bandKey(SparkDialect, b)).as("bkey"))
    }.reduce(_.unionByName(_))
  }

  /** Cap chosen for the REGISTERED cap-report query: small enough to
    * trip on the fixture corpora (max bucket 3 at sf0.01), so the
    * degraded path itself is oracle-exercised — production corpora
    * run `minhashCapReport(spark, dir, cap)` with their real cap. */
  val DemoBandBucketCap = 2

  /** Observability for the bounded-bucket degradation: one row with
    * the number of over-cap band buckets, the candidate-pair mass
    * they would have contributed (Σ C(f,2) — the exact upper bound on
    * pairs dropped from candidate generation), and the verified-pair
    * count that survives with the cap applied.  On a benign corpus
    * capped_buckets = 0 and kept_pairs equals the uncapped operator's
    * row count; on an adversarial one this is the receipt for what
    * bounded work gave up. */
  def minhashCapReport(spark: SparkSession, dir: String): DataFrame =
    minhashCapReport(spark, dir, DemoBandBucketCap)

  def minhashCapReport(spark: SparkSession, dir: String,
      cap: Int): DataFrame = {
    val grams = gramsDF(spark, dir)
    val sig = RelationCache.materialized(spark, s"mh_sig:$dir") {
      minhashSigFrom(grams)
    }
    capReportFrom(grams, sig, cap)
  }

  private def capReportFrom(grams: DataFrame, sig: DataFrame,
      cap: Int): DataFrame = {
    val spark = grams.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val sizes = bandsOf(sig).groupBy($"band", $"bkey")
      .agg(count(lit(1)).as("df"))
    val capped = sizes.filter($"df" > cap)
      .agg(count(lit(1)).as("capped_buckets"),
        expr("CAST(floor(COALESCE(sum(df * (df - 1)), 0) / 2.0) AS BIGINT)")
          .as("capped_pairs"))
    val kept = minhashPairsFrom(grams, sig, cap)
      .agg(count(lit(1)).as("kept_pairs"))
    capped.crossJoin(kept)
  }

  /** Oracle form of `minhashCapReport`: the same banding chain with
    * bucket sizes aggregated once, candidates generated only from
    * under-cap buckets, and the dropped mass folded into one row. */
  def minhashCapReportSql(d: SqlDialect): String =
    minhashCapReportSql(d, DemoBandBucketCap)

  def minhashCapReportSql(d: SqlDialect, cap: Int): String = {
    val bandSelects = (0 until Bands).map { b =>
      s"SELECT doc_id, $b AS band, ${bandKey(d, b)} AS bkey FROM mh_sig"
    }.mkString("\n  UNION ALL\n  ")
    val sigMatches = (0 until NumPerms)
      .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH ${gramCtes(d)},
       |${sigCtes(d)},
       |bands AS (
       |  $bandSelects),
       |bsz AS (
       |  SELECT band, bkey, count(*) AS df FROM bands GROUP BY band, bkey),
       |fb AS (
       |  SELECT b.doc_id, b.band, b.bkey
       |  FROM bands b JOIN bsz z
       |    ON z.band = b.band AND z.bkey = b.bkey AND z.df <= $cap),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
       |  FROM fb a JOIN fb b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |scored AS (
       |  SELECT c.ia, c.ib,
       |    CAST(${d.arrIntersectSize("ga.grams", "gb.grams")} AS DOUBLE)
       |      / (ga.ng + gb.ng - ${d.arrIntersectSize("ga.grams", "gb.grams")}) AS jaccard
       |  FROM cand c
       |  JOIN mh_sig sa ON sa.doc_id = c.ia
       |  JOIN mh_sig sb ON sb.doc_id = c.ib
       |  JOIN mh_grams ga ON ga.doc_id = c.ia
       |  JOIN mh_grams gb ON gb.doc_id = c.ib),
       |kept AS (
       |  SELECT count(*) AS kept_pairs FROM scored WHERE jaccard >= 0.5),
       |capped AS (
       |  SELECT count(*) AS capped_buckets,
       |    CAST(floor(COALESCE(sum(df * (df - 1)), 0) / 2.0) AS BIGINT)
       |      AS capped_pairs
       |  FROM bsz WHERE df > $cap)
       |SELECT CAST(capped.capped_buckets AS BIGINT) AS capped_buckets,
       |  capped.capped_pairs, CAST(kept.kept_pairs AS BIGINT) AS kept_pairs
       |FROM capped CROSS JOIN kept""".stripMargin
  }

  /** Verified MinHash-LSH near-dup pairs over an arbitrary
    * (doc_id, text) relation — the same banding + J ≥ 0.5 verification
    * as `minhashLsh`, for callers that bring their own corpus slice
    * (the streaming finishing pass `StreamingNearDedup.compact` runs
    * this over a settled window).  The gram/signature relations are
    * deliberately NOT session-cached: a compaction window is a
    * one-shot slice, and identical shuffle subplans across the verify
    * joins fall into ReusedExchange. */
  def verifiedPairsOf(docs: DataFrame): DataFrame =
    verifiedPairsOf(docs, MaxBandBucket)

  /** `verifiedPairsOf` with an explicit band-bucket cap — the knob a
    * production corpus tunes (see TextOps.MaxBandBucket). */
  def verifiedPairsOf(docs: DataFrame, maxBucket: Int): DataFrame = {
    val grams = gramsOf(docs)
    minhashPairsFrom(grams, minhashSigFrom(grams), maxBucket)
  }

  /** `minhashCapReport` over an arbitrary (doc_id, text) relation —
    * the degradation receipt for callers bringing their own corpus. */
  def capReportOf(docs: DataFrame, cap: Int): DataFrame = {
    val grams = gramsOf(docs)
    capReportFrom(grams, minhashSigFrom(grams), cap)
  }

  private def gramsOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    TextOps.excludeRule(spark,
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    graft.functions.GraftFunctions.register(spark)
    docs
      .selectExpr("doc_id", "graft_shingles3(graft_tokens(text)) AS grams")
      .selectExpr("doc_id", "grams", "size(grams) AS ng")
  }

  /** Cluster-canonical keeper set over an arbitrary
    * (doc_id, ingest_ts, text) relation: verified pairs
    * (`verifiedPairsOf`) → connected components → keep the
    * min-(ingest_ts, doc_id) member per cluster; documents in no
    * verified pair keep themselves.  Returns (doc_id, ingest_ts) of
    * the keepers — the absolute dedup result the streaming
    * candidate-level operator approximates, packaged for the
    * finishing pass (`StreamingNearDedup.compact`).
    *
    * Scale: only paired docs (≪ corpus) enter the component graph;
    * the keeper election is one hash shuffle on cluster_rep with
    * map-side-combining min_by. */
  def canonicalKeepers(docs: DataFrame): DataFrame =
    canonicalKeepersFrom(docs,
      verifiedPairsOf(docs.select("doc_id", "text")))

  /** `canonicalKeepers` over precomputed verified pairs — so callers
    * that already hold the session-cached gram/signature relations
    * (the `dedup_compact` query) don't re-pay the full shingle +
    * MinHash + banding chain the generic entry derives from scratch. */
  def canonicalKeepersFrom(docs: DataFrame, verified: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val clusters = connectedComponents(
        verified.select("doc_id_a", "doc_id_b"))
      .select(col("doc_id"), col("cluster_rep"))
    docs.join(clusters, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("cluster_rep"), col("doc_id")))
      .groupBy(col("rep"))
      .agg(min_by(struct(col("doc_id"), col("ingest_ts")),
        struct(col("ingest_ts"), col("doc_id"))).as("w"))
      .select(col("w.doc_id").as("doc_id"),
        col("w.ingest_ts").as("ingest_ts"))
  }

  /** The finishing-pass keeper election as an oracle-checked batch
    * query: `canonicalKeepers` over `documents` with a deterministic
    * synthetic arrival order (ingest_ts = doc_id seconds since epoch),
    * so the keeper of each verified near-dup cluster is its minimum
    * doc_id and the whole result is reproducible in any engine. */
  def compactKept(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, dir)
      .select($"doc_id", $"text", timestamp_seconds($"doc_id").as("ingest_ts"))
    // the SAME session-cached verified-pair relation as
    // `dedup_minhash_lsh` (minus its ORDER BY)
    canonicalKeepersFrom(docs, minhashPairsCached(spark, dir))
      .select($"doc_id").orderBy($"doc_id")
  }

  /** Oracle for `compactKept`: verified pairs from the single-statement
    * MinHash-LSH chain, a recursive-CTE reachability closure (the same
    * independent third algorithm as the clusters oracle), and keeper =
    * the min reachable id; unpaired documents keep themselves. */
  def compactKeptOracleSql(d: SqlDialect): String =
    s"""WITH RECURSIVE ${gramCtes(d)},
       |${sigCtes(d)},
       |vp AS (
       |  SELECT doc_id_a AS ia, doc_id_b AS ib FROM (
       |    ${minhashPairSql(d)}) z),
       |edges AS (
       |  SELECT ia AS src, ib AS dst FROM vp
       |  UNION ALL SELECT ib, ia FROM vp),
       |reach(src, dst) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT edges.src, r.dst FROM edges JOIN reach r ON edges.dst = r.src),
       |lab AS (
       |  SELECT src AS doc_id, min(dst) AS cluster_rep
       |  FROM reach GROUP BY src)
       |SELECT d.doc_id FROM documents d
       |LEFT JOIN lab ON lab.doc_id = d.doc_id
       |WHERE lab.doc_id IS NULL OR lab.cluster_rep = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashBanded(spark, dir)

  /** Per-partition union-find (path-compressed, roots ordered by id so
    * a set's root is its minimum member): edges in, one (node, localRep)
    * row per distinct node out — a spanning forest ≤ half the input. */
  private def localCC(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    // detach the key set first: find() path-compresses (mutates the
    // map), which must not race the map's own iterator
    val nodes = parent.keys.toArray
    nodes.iterator.map(n => (n, find(n)))
  }

  /** Iterated contraction to the exact connected-components forest.
    * Each round runs union-find inside every edge partition
    * (`mapPartitions` — executor-side, no shuffle inside the round),
    * replacing the partition's edges with a (node → local min)
    * spanning forest.  While the total forest is still larger than
    * `stitchMaxEdges`, partitions are merged 4-way and contracted
    * again — the row count is non-increasing and the partition count
    * drops geometrically, so the loop is O(log parts) rounds — then a
    * single-task stitch finishes (skipped when a round already
    * contracted to one partition, which makes the forest exact).
    *
    * Returns the stitched (node, rep) forest — one row per distinct
    * input node — plus the number of contraction rounds run (test
    * hook: ConnectedComponentsSpec forces ≥2 rounds with a tiny
    * threshold).
    *
    * Each round's forest is persisted so the count that drives the
    * loop doesn't recompute the upstream pair generation; the previous
    * round is unpersisted as soon as the next is materialized.  The
    * final persist stays until Spark evicts it (bounded by
    * `stitchMaxEdges` rows, or by the phase-1 forest when no iteration
    * was needed) — repeated invocations share one cache entry because
    * the logical plan is identical. */
  private[ops] def contractForest(
      edges: org.apache.spark.sql.Dataset[(Long, Long)],
      stitchMaxEdges: Long): (org.apache.spark.sql.Dataset[(Long, Long)], Int) = {
    import org.apache.spark.storage.StorageLevel
    import edges.sparkSession.implicits._
    var forest = edges.mapPartitions(localCC)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var rounds = 1
    var n = forest.count()
    var parts = forest.rdd.getNumPartitions
    while (n > stitchMaxEdges && parts > 1) {
      val prev = forest
      parts = math.max(1, parts / 4)
      // repartition, NOT coalesce: coalesce would turn the round into
      // a narrow dependency and collapse the parallel contraction into
      // the downstream task; the shuffle boundary ships only the
      // already-contracted forest
      forest = prev.repartition(parts).mapPartitions(localCC)
        .persist(StorageLevel.MEMORY_AND_DISK)
      rounds += 1
      n = forest.count()
      prev.unpersist()
    }
    val stitched =
      if (parts == 1) forest
      else forest.repartition(1).mapPartitions(localCC)
    (stitched, rounds)
  }

  /** Near-duplicate clusters: connected components over the SimHash
    * pair graph — the operator a dedup pipeline actually consumes
    * (pick one representative per cluster, drop the rest), built on
    * the pairwise output above.
    *
    * Engine: iterated contraction (`contractForest`), the
    * MapReduce-classic CC scheme — per-partition union-find rounds
    * shrink the edge list until it fits one task, then a single-task
    * stitch finishes.  At tested scales one round suffices and the
    * plan equals the former fixed two-phase form; at 100 TB with
    * billions of near-dup docs the loop keeps every task's input
    * bounded by `stitchMaxEdges`.  An iterated *join* loop was
    * measured 10× slower here: Spark pays ~1 s/round of job+codegen
    * floor, while diameter-long chains need a dozen rounds — the
    * contraction loop needs O(log partitions) rounds regardless of
    * graph diameter.
    *
    * The result (min doc_id per component) is algorithm-independent,
    * so the oracle computes it with a third method again: a DuckDB
    * recursive-CTE reachability closure.
    *
    * Scale: only near-dup docs (pairs ≪ corpus) enter the graph. */
  /** Generic connected components over any two-column Long pair
    * DataFrame (any near-dup pair source: SimHash, MinHash, embedding
    * cosine).  Output: one row per clustered node with the component's
    * min id as representative and the component size.
    * `stitchMaxEdges` caps the single-task stitch input (default 4M
    * rows ≈ 64 MB of (Long, Long) pairs — comfortable for one task). */
  def connectedComponents(pairs: DataFrame,
                          stitchMaxEdges: Long = 4L << 20): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val edges = pairs
      .select(pairs.columns.take(2).map(c => col(c).cast("long")): _*)
      .as[(Long, Long)]
    val (forest, _) = contractForest(edges, stitchMaxEdges)
    forest
      .toDF("node", "rep")
      .groupBy($"rep")
      .agg(collect_list($"node").as("members"))
      .select($"rep".as("cluster_rep"),
        size($"members").cast("long").as("cluster_size"),
        explode($"members").as("doc_id"))
      .select($"doc_id", $"cluster_rep", $"cluster_size")
      .orderBy($"doc_id")
  }

  def simhashClusters(spark: SparkSession, dir: String): DataFrame =
    // the UNSORTED cached pair relation: union-find is order-
    // insensitive, so the oracle-facing orderBy would be a wasted
    // exchange+sort here
    connectedComponents(simhashVerifiedPairs(spark, dir).select("ia", "ib"))

  /** Oracle: reachability closure via recursive CTE — a different
    * algorithm that must land on the identical min-reachable-id. */
  def simhashClustersOracleSql(d: SqlDialect): String =
    s"""WITH RECURSIVE ${simhashCte(d)},
       |p AS (
       |  SELECT a.doc_id AS ia, b.doc_id AS ib
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |  WHERE bit_count(${d.xor("a.simhash", "b.simhash")}) <= $SimHashMaxHamming),
       |e AS (
       |  SELECT ia AS src, ib AS dst FROM p
       |  UNION ALL SELECT ib, ia FROM p),
       |reach(src, dst) AS (
       |  SELECT src, src FROM e
       |  UNION
       |  SELECT e.src, r.dst FROM e JOIN reach r ON e.dst = r.src),
       |lab AS (
       |  SELECT src AS doc_id, min(dst) AS cluster_rep
       |  FROM reach GROUP BY src),
       |sz AS (
       |  SELECT cluster_rep, count(*) AS cluster_size FROM lab
       |  GROUP BY cluster_rep)
       |SELECT lab.doc_id, lab.cluster_rep, sz.cluster_size
       |FROM lab JOIN sz USING (cluster_rep)
       |ORDER BY doc_id""".stripMargin
  def embeddingCosine(spark: SparkSession, dir: String): DataFrame =
    // memoized (r15): its own query + the lshRecall ratio consume it
    RelationCache.materialized(spark, s"emb_cosine_pairs:$dir") {
      graft.functions.GraftFunctions.register(spark)
      Tables.embeddings(spark, dir).createOrReplaceTempView("embeddings")
      spark.sql(embeddingCosineSql(SparkDialect))
    }

  // ------------------------------------------------- semantic dedup

  /** Cluster count for the semantic-dedup blocking step.  At fixture
    * size the seeds are the first k vectors; a production run sizes k
    * ~ N / desired-cluster-size and trains the codebook (the
    * `sim_ivf_kmeans` Lloyd loop drops in unchanged — seed assignment
    * here keeps the oracle expressible as one SQL statement). */
  val SemanticClusters = 8

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): assign every embedding to its nearest centroid
    * by cosine, then search near-duplicates only WITHIN each cluster —
    * the pairwise work drops from O(N²) to O(Σ cᵢ²), bounded by the
    * largest cluster instead of the corpus.  A vector is dropped when
    * a lower-id cluster-mate sits within cosine ≥ 0.4 (same threshold
    * as `dedup_embedding`, whose exact all-pairs result remains the
    * verify gate for the blocking loss).  Output is the per-cluster
    * dedup summary.
    *
    * Centroids are the k lowest-id vectors — deterministic so the
    * oracle reproduces the assignment exactly; ties on assignment
    * cosine break to the smallest centroid id on both sides. */
  def semanticSql(d: SqlDialect): String = {
    s"""WITH e AS (
       |  SELECT vec_id, ${d.toDoubleArr("embedding")} AS v FROM embeddings),
       |n AS (
       |  SELECT vec_id, v, sqrt(${d.dot("v", "v")}) AS nrm FROM e),
       |c AS (
       |  SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n
       |  WHERE vec_id < $SemanticClusters),
       |sc AS (
       |  SELECT n.vec_id, c.cid,
       |    ${d.dot("n.v", "c.cv")} / (n.nrm * c.cnrm) AS cs
       |  FROM n CROSS JOIN c),
       |asg AS (
       |  SELECT vec_id, cid,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
       |  FROM sc),
       |m AS (SELECT vec_id, cid FROM asg WHERE rn = 1),
       |p AS (
       |  SELECT y.vec_id AS ib
       |  FROM m x JOIN m y ON x.cid = y.cid AND x.vec_id < y.vec_id
       |  JOIN n a ON a.vec_id = x.vec_id
       |  JOIN n b ON b.vec_id = y.vec_id
       |  WHERE ${d.dot("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.4),
       |dr AS (SELECT DISTINCT ib FROM p)
       |SELECT m.cid AS cluster_id,
       |  CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(count(dr.ib) AS BIGINT) AS n_dropped,
       |  CAST(count(*) - count(dr.ib) AS BIGINT) AS n_kept
       |FROM m LEFT JOIN dr ON dr.ib = m.vec_id
       |GROUP BY m.cid
       |ORDER BY cluster_id""".stripMargin
  }

  /** Engine path: the norm relation feeds four consumers (the
    * centroid side, the assignment cross join, and both sides of the
    * pair join), so it is a session-cached
    * DataFrame fanned out with aliases — the single-statement SQL
    * (kept as the oracle) would recompute it per reference.  The
    * centroid side is broadcast (k rows); assignment is one map-side
    * pass + a max_by aggregate (struct ordering ≡ the oracle's
    * ORDER BY cs DESC, cid), so no N×k window state; the pair join
    * shuffles on cid — the per-cluster blocking this operator exists
    * for.
    *
    * SCALE CAVEAT: this fixed-k variant is the documented simple
    * oracle baseline (registered in `SparkEntry.scaleBaselines`,
    * default-excluded from large-scale smokes).  With k constant,
    * cluster population grows ~n/k and the within-cluster pair join
    * ~n²/k — quadratic.  The 100 TB form is `semanticScaled` below:
    * √n TRAINED clusters plus a per-cluster candidate cap with exact
    * dropped-pair accounting, which removes both growth terms (same
    * keep/drop rule). */
  def semantic(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    val n = embNorms(spark, dir)
    val c = broadcast(n.filter(col("vec_id") < SemanticClusters)
      .select(col("vec_id").as("cid"), col("v").as("cv"),
        col("nrm").as("cnrm")))
    val m = RelationCache.materialized(spark, s"semantic_assign:$dir") {
      n.crossJoin(c)
        .withColumn("cs", expr("graft_dot(v, cv)") / (col("nrm") * col("cnrm")))
        .groupBy(col("vec_id"))
        .agg(max_by(col("cid"), struct(col("cs"), -col("cid"))).as("cid"))
    }
    val dropped = m.as("x")
      .join(m.as("y"),
        col("x.cid") === col("y.cid") && col("x.vec_id") < col("y.vec_id"))
      .join(n.as("a"), col("a.vec_id") === col("x.vec_id"))
      .join(n.as("b"), col("b.vec_id") === col("y.vec_id"))
      .filter(expr("graft_dot(a.v, b.v)") / (col("a.nrm") * col("b.nrm"))
        >= 0.4)
      .select(col("y.vec_id").as("ib"))
      .distinct()
    m.join(dropped, col("vec_id") === col("ib"), "left")
      .groupBy(col("cid").as("cluster_id"))
      .agg(count(lit(1)).as("n_vecs"), count(col("ib")).as("n_dropped"))
      .withColumn("n_kept", col("n_vecs") - col("n_dropped"))
      .orderBy("cluster_id")
  }

  // ----- scale-safe semantic dedup: √n trained clusters + capped pairs

  /** Per-cluster candidate cap of the SCALED semantic dedup, as a
    * multiple of the ideal even cluster size n/k (the `indexHealth`
    * "balance" unit): a cluster over `mult × n/k` is a skew hot-spot
    * whose within-cluster pair join would do `balance²` × the ideal
    * work, so it is excluded from pairing and reported instead —
    * exactly the `minhashCapReport` degradation contract.  1.25 is the
    * REGISTERED demo value, chosen (like `DemoBandBucketCap`) to trip
    * on the fixture corpora so the capped path itself is
    * oracle-exercised; production corpora call
    * `semanticScaled(spark, dir, mult)` with their own tolerance. */
  val SemanticCapMult: Double = 1.25

  /** Scale-safe semantic dedup — `semantic`'s 100 TB form, fixing its
    * two growth terms at once:
    *
    *  1. CLUSTER COUNT: instead of the fixed `SemanticClusters`
    *     lowest-id picks (k constant ⇒ cluster population ~n/k ⇒ pair
    *     work ~n²/k, quadratic), the partition is the √n-scaled
    *     TRAINED codebook shared with `sim_ivf_kmeans_scaled`
    *     (`Similarity.trainScaledCodebookCached` — deterministic
    *     µ-quantized Lloyd, k ≈ √n), so mean cluster population grows
    *     only as √n and total pair work drops from O(n²) to O(n^1.5)
    *     worst-case.
    *  2. SKEWED CLUSTERS: a data skew can still concentrate mass in
    *     one cluster; clusters over `mult × n/k` members are EXCLUDED
    *     from the pair join and reported with their exact forgone
    *     pair mass C(sz, 2) in `capped_pairs` (`is_capped` = 1, the
    *     `minhashCapReport` receipt) — per-cluster pair work is
    *     bounded by C(mult·√n, 2) regardless of the data.
    *
    * Output: one row per trained cluster — population, dropped/kept
    * members under the ≥ 0.4 cosine rule (`semantic`'s semantics,
    * unchanged), and the cap columns.  The oracle recomputes the
    * ENTIRE chain — √n seeding, two Lloyd rounds, assignment, cap
    * arithmetic, pair join — from raw embeddings in single-statement
    * SQL (`semanticScaledSql`), so the trained path is verified
    * end-to-end, not just the fold.
    *
    * Plan shape: codebook training is the shared memoized driver fold
    * (k·D quantized longs per round); assignment is one narrow pass
    * against the broadcast codebook; the pair join shuffles on cid
    * with every partition bounded by the cap. */
  def semanticScaled(spark: SparkSession, dir: String): DataFrame =
    semanticScaled(spark, dir, SemanticCapMult)

  /** Absolute member-count floor above which an (under-cap) trained
    * cluster is SUBCLUSTERED before its within-cluster pair join —
    * the second-level split that flattens the family's scaling slope
    * from the designed n^1.5 (per-cluster pair work ~C(1.25·√n, 2)
    * with k ≈ √n clusters) toward n^1.25: a split cluster of size sz
    * pairs within ⌈√sz⌉ Lloyd-refined subclusters of ~√sz members,
    * so its pair work drops from C(sz,2) to ~√sz·C(√sz,2) ≈ sz^1.5/2,
    * and the corpus total to k·(√n)^1.5 ≈ n^1.25.  Pairs CROSSING a
    * subcluster boundary are forgone and accounted exactly in
    * `capped_pairs` (the `minhashCapReport` receipt discipline —
    * nothing is dropped silently).
    *
    * 128 is deliberately above every under-cap cluster at the oracle
    * fixtures (cap = ⌈1.25·n/k⌉ is 28 at sf0.01 and 89 at sf0.1, and
    * no cluster entering the pair join can exceed cap), so at oracle
    * scales the split is a no-op and the single-statement SQL oracle
    * verifies the family end-to-end unchanged — the same
    * coincide-at-oracle-scale discipline as `embeddingLshScaledSql`'s
    * band-width ladder.  The split engages where it pays: cap
    * crosses 128 once n > ~10.5k (10×/100× fixtures), exactly the
    * regime where C(cap,2) dominates the row.  The split path itself
    * is spec-verified on hand-built clusters and under a forced
    * floor (`Round15OpsSpec`). */
  val SemanticSubSplitFloor: Long = 128L

  /** Scaled semantic dedup with the default [[SemanticSubSplitFloor]].
    *
    * Building the DataFrame runs Spark jobs (either overload): the
    * codebook training and cluster assignment on first use in a
    * session, a `count()` of the vectors for the cap, and a `.head()`
    * of the largest under-cap cluster size that picks the split
    * branch. */
  def semanticScaled(spark: SparkSession, dir: String,
      mult: Double): DataFrame =
    semanticScaled(spark, dir, mult, SemanticSubSplitFloor)

  def semanticScaled(spark: SparkSession, dir: String, mult: Double,
      splitFloor: Long): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    val base = Similarity.ivfBase(spark, dir)
    val cents = Similarity.trainScaledCodebookCached(spark, dir, base)
    val nv = base.select($"vec_id", $"v", $"nrm")
    val asgn = RelationCache.materialized(spark, s"semantic_scaled_asgn:$dir") {
      Similarity.assignedCid(nv, cents).select($"vec_id", $"cid")
    }
    val csz = asgn.groupBy($"cid").agg(count(lit(1)).as("sz"))
    // cap = ceil(mult · n/k): same IEEE expression order as the oracle
    val cnt = nv.count()
    val cap = math.ceil(mult * cnt / cents.size).toLong
    // under-cap members with vectors and cluster size — the input to
    // the second-level split; blocks carry (cid, sub) keys
    val und = asgn
      .join(csz.filter($"sz" <= cap), "cid")
      .join(nv, "vec_id")
    // Split short-circuit (r15): when NO under-cap cluster exceeds the
    // floor — provably every oracle fixture, where cap < floor — the
    // split is the identity (every cluster passes through as one
    // sub = 0 block), but the un-pruned plan still carries the whole
    // seed/Lloyd/reassign machinery over an EMPTY `big` relation:
    // measured +1.7 s of pure planning + empty-stage scheduling at
    // sf0.1.  One k-row aggregate over the session-cached assignment
    // decides the branch; the split itself engages unchanged at
    // 10×/100× (and under the forced floors the specs use).
    val maxUnd = csz.filter($"sz" <= cap)
      .agg(coalesce(max($"sz"), lit(0L))).head().getLong(0)
    val blocks =
      (if (maxUnd <= splitFloor)
         und.select(col("vec_id"), col("cid"), lit(0L).as("sub"))
       else subclusterBlocks(und, splitFloor))
        .select($"vec_id", $"cid", $"sub")
    val dropped = blocks.as("x")
      .join(blocks.as("y"),
        $"x.cid" === $"y.cid" && $"x.sub" === $"y.sub" &&
          $"x.vec_id" < $"y.vec_id")
      .join(nv.as("a"), $"a.vec_id" === $"x.vec_id")
      .join(nv.as("b"), $"b.vec_id" === $"y.vec_id")
      .filter(expr("graft_dot(a.v, b.v)") / ($"a.nrm" * $"b.nrm") >= 0.4)
      .select($"y.vec_id".as("ib"))
      .distinct()
    val dc = blocks.join(dropped, $"vec_id" === $"ib", "left")
      .groupBy($"cid").agg(count($"ib").as("ndrop"))
    // exact forgone-pair receipt per cluster: C(sz,2) − Σ_sub C(ssz,2)
    // (zero when the cluster was a single block)
    val forgone = blocks.groupBy($"cid", $"sub")
      .agg(count(lit(1)).as("ssz"))
      .groupBy($"cid")
      .agg(sum(expr("(ssz * (ssz - 1)) DIV 2")).as("in_pairs"))
    csz.join(dc, Seq("cid"), "left")
      .join(forgone, Seq("cid"), "left")
      .select($"cid".as("cluster_id"), $"sz".as("n_vecs"),
        when($"sz" > cap, 0L).otherwise(coalesce($"ndrop", lit(0L)))
          .as("n_dropped"),
        ($"sz" - when($"sz" > cap, 0L)
          .otherwise(coalesce($"ndrop", lit(0L)))).as("n_kept"),
        when($"sz" > cap, 1L).otherwise(0L).as("is_capped"),
        when($"sz" > cap, expr("(sz * (sz - 1)) DIV 2"))
          .otherwise(expr("(sz * (sz - 1)) DIV 2")
            - coalesce($"in_pairs", lit(0L)))
          .as("capped_pairs"))
      .orderBy($"cluster_id")
  }

  /** Second-level subcluster assignment: members of clusters larger
    * than `splitFloor` are partitioned into ⌈√sz⌉ subclusters by one
    * deterministic Lloyd round — seed with the ⌈√sz⌉ lowest vec_ids
    * of the cluster (the `semantic` fixed-pick discipline), assign
    * each member to its max-cosine seed (tie → lowest sub id),
    * recompute µ-quantized subcluster means (integer sums of
    * round(x·10⁶), associative and order-independent), reassign
    * against the refined means.  Clusters at or under the floor pass
    * through as a single `sub = 0` block.
    *
    * Input: (vec_id, cid, sz, v, nrm).  Output: (vec_id, cid, sub).
    * Cost shape: the seed and refine joins each pair every member
    * with its own cluster's ~√sz candidates (Σ sz·√sz ≈ n^1.25 dot
    * products corpus-wide); the window rank runs per cluster, keyed
    * and bounded by cap. */
  private[ops] def subclusterBlocks(und: DataFrame,
      splitFloor: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val small = und.filter(col("sz") <= splitFloor)
      .select(col("vec_id"), col("cid"), lit(0L).as("sub"))
    val big = und.filter(col("sz") > splitFloor)
    // seed pick WITHOUT a window: collect the cluster's id list (cap-
    // bounded — only under-cap clusters reach this code) and slice the
    // ⌈√sz⌉ lowest; posexplode's position is the sub id.  A
    // partitionBy(cid) row_number computes the same thing but puts a
    // Window operator on the semantic-dedup plan, which PlanShapeSpec
    // forbids for this family.
    val seedIds = big.groupBy(col("cid"))
      .agg(sort_array(collect_list(col("vec_id"))).as("ids"))
      .select(col("cid"), posexplode(expr(
        "slice(ids, 1, CAST(ceil(sqrt(CAST(size(ids) AS DOUBLE))) AS INT))"))
        .as(Seq("spos", "sid")))
    val seeds = seedIds
      .join(big.select(col("vec_id").as("sid"),
        col("v").as("cv"), col("nrm").as("cnrm")), "sid")
      .select(col("cid"), col("spos").cast("long").as("sub"),
        col("cv"), col("cnrm"))
    val a0 = big.join(seeds, "cid")
      .withColumn("cs",
        expr("graft_dot(v, cv)") / (col("nrm") * col("cnrm")))
      .groupBy(col("cid"), col("vec_id"))
      .agg(max_by(col("sub"), struct(col("cs"), -col("sub"))).as("sub"))
    // one Lloyd refinement: µ-quantized per-dimension means
    val sums = a0.join(big.select(col("vec_id"), col("v")), "vec_id")
      .select(col("cid"), col("sub"),
        posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cid"), col("sub"), col("pos"))
      .agg(sum(expr("CAST(round(x * 1000000.0) AS BIGINT)")).as("qs"),
        count(lit(1)).as("m"))
    val cents = sums.groupBy(col("cid"), col("sub"))
      .agg(sort_array(collect_list(struct(col("pos"), col("qs")))).as("z"),
        max(col("m")).as("m"))
      .withColumn("cv",
        expr("transform(z, e -> CAST(e.qs AS DOUBLE) / (m * 1000000.0))"))
      .withColumn("cnrm", expr("sqrt(graft_dot(cv, cv))"))
      .select(col("cid"), col("sub"), col("cv"), col("cnrm"))
    val a1 = big.join(cents, "cid")
      .withColumn("cs",
        expr("graft_dot(v, cv)") / (col("nrm") * col("cnrm")))
      .groupBy(col("cid"), col("vec_id"))
      .agg(max_by(col("sub"), struct(col("cs"), -col("sub"))).as("sub"))
    small.unionByName(
      a1.select(col("vec_id"), col("cid"), col("sub")))
  }

  /** Oracle for `semanticScaled`: `Similarity.kmeansCandCtesScaled`'s
    * trained √n chain (identical CTEs to the `sim_ivf_kmeans_scaled`
    * oracle) followed by the cap arithmetic and the capped
    * within-cluster pair join. */
  def semanticScaledSql(d: SqlDialect): String =
    semanticScaledSql(d, SemanticCapMult)

  def semanticScaledSql(d: SqlDialect, mult: Double): String = {
    val cf = s"c${Similarity.KmeansIters}" // final trained centroids
    s"""WITH ${Similarity.kmeansCandCtesScaled(d)},
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS cnt FROM n),
       |kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM $cf),
       |capv AS (
       |  SELECT CAST(ceil(${d.dlit(mult)} * cnt / k) AS BIGINT) AS cap
       |  FROM tot CROSS JOIN kk),
       |csz AS (
       |  SELECT cid, CAST(count(*) AS BIGINT) AS sz FROM asgn GROUP BY cid),
       |und AS (
       |  SELECT a.vec_id, a.cid
       |  FROM asgn a JOIN csz z ON z.cid = a.cid
       |  CROSS JOIN capv WHERE z.sz <= capv.cap),
       |p AS (
       |  SELECT y.vec_id AS ib
       |  FROM und x JOIN und y ON x.cid = y.cid AND x.vec_id < y.vec_id
       |  JOIN n a ON a.vec_id = x.vec_id
       |  JOIN n b ON b.vec_id = y.vec_id
       |  WHERE ${d.dot("a.v", "b.v")} / (a.nrm * b.nrm) >= ${d.dlit(0.4)}),
       |dr AS (SELECT DISTINCT ib FROM p),
       |dc AS (
       |  SELECT u.cid, CAST(count(dr.ib) AS BIGINT) AS ndrop
       |  FROM und u LEFT JOIN dr ON dr.ib = u.vec_id
       |  GROUP BY u.cid)
       |SELECT z.cid AS cluster_id, z.sz AS n_vecs,
       |  CAST(CASE WHEN z.sz > capv.cap THEN 0
       |       ELSE coalesce(dc.ndrop, 0) END AS BIGINT) AS n_dropped,
       |  CAST(z.sz - CASE WHEN z.sz > capv.cap THEN 0
       |       ELSE coalesce(dc.ndrop, 0) END AS BIGINT) AS n_kept,
       |  CAST(CASE WHEN z.sz > capv.cap THEN 1 ELSE 0 END AS BIGINT)
       |    AS is_capped,
       |  CAST(CASE WHEN z.sz > capv.cap
       |       THEN ${d.intDiv("(z.sz * (z.sz - 1))", "2")} ELSE 0 END
       |    AS BIGINT) AS capped_pairs
       |FROM csz z CROSS JOIN capv LEFT JOIN dc ON dc.cid = z.cid
       |ORDER BY cluster_id""".stripMargin
  }

  // ----- incremental near-dup against a persisted signature store ---

  /** Fixture batch split: documents with doc_id ≥ floor(max·0.8) play
    * the role of the NEW daily increment; the rest is the already-
    * indexed corpus.  Pure integer arithmetic on max(doc_id), so the
    * engine scalar and the oracle's subquery agree exactly. */
  val IncrementalSplitFrac = 0.8

  /** Signature-estimated similarity gate for the incremental path:
    * est_sim = fraction of agreeing MinHash components (granularity
    * 1/32).  Unlike `minhashLsh`'s exact-Jaccard verification this
    * needs NO access to corpus text — at 100 TB the whole point is
    * that an increment is deduped against signatures alone, without
    * rescanning stored documents. */
  val MinEstSim = 0.5

  /** The doc_id floor of the fixture's new-increment split.  Runs a
    * Spark job (`.head()` of max(doc_id)) on first use in a session;
    * later calls read the session memo. */
  private def incrementalSplitId(spark: SparkSession, dir: String): Long =
    RelationCache.cachedScalar(spark, s"dedup_split:$dir") {
      import org.apache.spark.sql.functions._
      val mx = Tables.documents(spark, dir).agg(max(col("doc_id"))).head()
      require(!mx.isNullAt(0),
        s"cannot split an EMPTY documents relation at $dir")
      java.lang.Long.valueOf(
        math.floor(mx.getLong(0) * IncrementalSplitFrac).toLong)
    }.longValue()

  /** Fingerprint-keyed store path for the corpus signature index —
    * `indexStorePath`'s discipline (count + max key in the name, so a
    * regenerated corpus gets a fresh store).  Runs a Spark job on every
    * call: the fingerprint is a `.head()` of count + max(doc_id) over
    * `corpus`. */
  private def sigStorePath(spark: SparkSession, dir: String,
      storeBase: Option[String], corpus: DataFrame,
      splitId: Long): org.apache.hadoop.fs.Path = {
    import org.apache.spark.sql.functions._
    val fp = corpus.agg(count(lit(1)), max(col("doc_id"))).head()
    require(fp.getLong(0) > 0,
      s"cannot key a signature store for an EMPTY corpus at $dir")
    new org.apache.hadoop.fs.Path(
      storeBase.getOrElse(sys.props("java.io.tmpdir")),
      s"graft_mhsig_" + dir.replaceAll("[^A-Za-z0-9.]", "_") +
        "_" + java.lang.Integer.toHexString(dir.hashCode) +
        s"_${fp.getLong(0)}_${fp.getLong(1)}_$splitId")
  }

  /** Incremental near-dup: dedup a NEW document batch against an
    * already-indexed corpus WITHOUT rescanning the corpus — the daily-
    * increment shape of a 100 TB pipeline, where the corpus is only
    * ever touched through its persisted signature index.
    *
    * Store (built once per corpus fingerprint, atomic publish):
    *   `bands/`  — (doc_id, bkey, bdf) partitioned by `band=`, where
    *     bdf is the bucket's corpus-side size precomputed at build
    *     time so serving can cap adversarial buckets WITHOUT a window
    *     over the (huge) store;
    *   `sig/`    — (doc_id, h0..h31) wide MinHash signatures.
    *
    * Serve: batch grams → signatures → band keys; candidates are
    * (corpus×batch) band-bucket collisions read from the store plus
    * (batch×batch) self-collisions; both sides bucket-capped at
    * `cap` (store side via the precomputed bdf, batch side via a
    * window on the — small — increment).  Pairs are gated on
    * signature agreement (`MinEstSim`) alone; corpus text is never
    * read.  Output: (doc_id_a, doc_id_b, est_sim, vs_corpus).
    *
    * `incrementalSql` recomputes the identical relation from raw
    * documents in one SQL statement (uncapped — the caps never trip
    * on the fixtures, which `IncrementalDedupSpec` pins both ways). */
  def incremental(spark: SparkSession, dir: String): DataFrame =
    incremental(spark, dir, None)

  /** Force the build-if-absent corpus signature store the incremental
    * path serves from — idempotent; Bench times it as its own labeled
    * `build:` line so the one-time corpus indexing cost never
    * attributes to the first incremental-dedup query of a session. */
  def prebuildSignatureStore(spark: SparkSession, dir: String,
      storeBase: Option[String] = None): org.apache.hadoop.fs.Path = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val splitId = incrementalSplitId(spark, dir)
    val corpusGrams = gramsDF(spark, dir).filter($"doc_id" < splitId)
    val store = sigStorePath(spark, dir, storeBase, corpusGrams, splitId)
    Similarity.publishIndex(spark, store) { tmp =>
      val sig = minhashSigFrom(corpusGrams)
      val bands = bandsOf(sig)
        .withColumn("bdf", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"band", $"bkey")))
      bands
        .repartition($"band")
        .sortWithinPartitions($"bkey") // row-group pruning on bkey probes
        .write.mode("overwrite").partitionBy("band")
        .parquet(s"$tmp/bands")
      sig.write.mode("overwrite").parquet(s"$tmp/sig")
      val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.create(new org.apache.hadoop.fs.Path(s"$tmp/_SUCCESS")).close()
    }
    store
  }

  /** Force the session-cached full-corpus gram/signature relations the
    * whole minhash family serves from — called by the priced
    * `minhash_pair_cache` build entry, because `prebuildSignatureStore`
    * alone warms neither when the persisted store is already published
    * (publish-once skips its build body), leaving the first
    * alphabetical consumer (`dedup_compact`) to pay both cache builds
    * in a RUNS=1 artifact. */
  def prebuildSessionSig(spark: SparkSession, dir: String): Unit = {
    minhashPairsCached(spark, dir).count() // warms mh_grams + mh_sig too
    ()
  }

  def incremental(spark: SparkSession, dir: String,
      storeBase: Option[String],
      cap: Int = MaxBandBucket): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val splitId = incrementalSplitId(spark, dir)
    val grams = gramsDF(spark, dir)
    val store = prebuildSignatureStore(spark, dir, storeBase)
    val batchSig = RelationCache.materialized(spark, s"mh_sig_inc:$dir") {
      minhashSigFrom(grams.filter($"doc_id" >= splitId))
    }
    val batchBands = cappedBands(bandsOf(batchSig), "bkey", cap)
    val storeBands = spark.read.parquet(s"$store/bands")
      .filter($"bdf" <= cap)
      .select($"doc_id", $"band".cast("int").as("band"), $"bkey")
    val oldNew = storeBands.as("a")
      .join(batchBands.as("b"),
        $"a.band" === $"b.band" && $"a.bkey" === $"b.bkey")
      .select($"a.doc_id".as("ia"), $"b.doc_id".as("ib"))
    val newNew = batchBands.as("a")
      .join(batchBands.as("b"),
        $"a.band" === $"b.band" && $"a.bkey" === $"b.bkey" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("ia"), $"b.doc_id".as("ib"))
    val cand = oldNew.unionByName(newNew).distinct()
    val storeSig = spark.read.parquet(s"$store/sig")
    val allSig = storeSig.unionByName(batchSig)
    val sigMatches = (0 until NumPerms)
      .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    cand
      .join(allSig.as("sa"), $"sa.doc_id" === $"ia")
      .join(allSig.as("sb"), $"sb.doc_id" === $"ib")
      .withColumn("est_sim",
        expr(s"CAST(($sigMatches) AS DOUBLE) / $NumPerms"))
      .filter($"est_sim" >= MinEstSim)
      .select($"ia".as("doc_id_a"), $"ib".as("doc_id_b"),
        round($"est_sim", 6).as("est_sim"),
        when($"ia" < splitId, 1).otherwise(0).cast("int").as("vs_corpus"))
      .orderBy($"doc_id_a", $"doc_id_b")
  }

  /** Single-statement oracle for `incremental`: signatures for ALL
    * documents, banded candidates restricted to pairs whose higher id
    * is in the new batch, signature-agreement gate — the store is an
    * implementation detail the oracle proves away. */
  def incrementalSql(d: SqlDialect): String = {
    val bandSelects = (0 until Bands).map { b =>
      s"SELECT doc_id, $b AS band, ${bandKey(d, b)} AS bkey FROM mh_sig"
    }.mkString("\n  UNION ALL\n  ")
    val sigMatches = (0 until NumPerms)
      .map(i => s"(CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH ${gramCtes(d)},
       |${sigCtes(d)},
       |split AS (
       |  SELECT CAST(floor(max(doc_id) * ${d.dlit(IncrementalSplitFrac)})
       |    AS BIGINT) AS sid FROM documents),
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |  WHERE b.doc_id >= (SELECT sid FROM split)),
       |scored AS (
       |  SELECT c.ia, c.ib,
       |    CAST(($sigMatches) AS DOUBLE) / $NumPerms AS est_sim
       |  FROM cand c
       |  JOIN mh_sig sa ON sa.doc_id = c.ia
       |  JOIN mh_sig sb ON sb.doc_id = c.ib)
       |SELECT ia AS doc_id_a, ib AS doc_id_b,
       |  round(est_sim, 6) AS est_sim,
       |  CAST(CASE WHEN ia < (SELECT sid FROM split) THEN 1 ELSE 0 END
       |    AS INT) AS vs_corpus
       |FROM scored
       |WHERE est_sim >= ${d.dlit(MinEstSim)}
       |ORDER BY doc_id_a, doc_id_b""".stripMargin
  }
}
