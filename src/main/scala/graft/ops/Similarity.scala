package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables
import TextOps._

/** Similarity search over the `embeddings` table (Array[Float] → cast
  * to double before any arithmetic).
  *
  * Two paths, same query set (every vec_id ≡ 0 mod 100):
  *  - `topK`: exact brute-force cosine top-10 per query.  The query
  *    side is tiny and broadcast; the big side streams — per-partition
  *    scoring then a single narrow shuffle of (queries × candidates)
  *    survivors for the final ranking.  This is the correctness
  *    baseline any ANN variant is measured against.
  *  - `annLsh`: random-hyperplane LSH (16 deterministic integer-weight
  *    planes → 4 bands × 4 bits).  Candidates = vectors sharing any
  *    band value with the query (OR-amplification), ranked within the
  *    candidate set.  At 100 TB this is the scale path: the band join
  *    is an equi-join on (band, value) — no all-pairs product — and
  *    the plane projections are a narrow map over the scan.
  *
  * Plane weights come from a fixed affine formula (TextOps
  * .planeWeightSql), not an RNG, so engine and oracle agree exactly.
  */
object Similarity {

  private def baseCtes(d: SqlDialect): String =
    s"""e AS (
       |  SELECT vec_id, ${d.toDoubleArr("embedding")} AS v FROM embeddings),
       |n AS (
       |  SELECT vec_id, v, sqrt(${d.dot("v", "v")}) AS nrm FROM e)""".stripMargin

  /** Exact brute-force cosine top-10 per query vector. */
  def topKSql(d: SqlDialect): String = {
    s"""WITH ${baseCtes(d)},
       |q AS (
       |  SELECT vec_id, v, nrm FROM n WHERE vec_id % 100 = 0),
       |p AS (
       |  SELECT q.vec_id AS qid, n.vec_id AS nid,
       |    ${d.dot("q.v", "n.v")} / (q.nrm * n.nrm) AS cs
       |  FROM q JOIN n ON q.vec_id != n.vec_id),
       |r AS (
       |  SELECT qid, nid, cs,
       |    row_number() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS rn
       |  FROM p)
       |SELECT qid AS query_id, nid AS neighbor_id,
       |  round(cs, 6) AS cosine, CAST(rn AS BIGINT) AS rank
       |FROM r WHERE rn <= 10
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Symmetric int8 quantization of the embedding column — the storage
    * compression step an ANN index runs before sharding vectors at
    * scale (4× smaller than float32, 8× smaller than the double work
    * form).  Per vector: scale = 127 / max|v_i|, code_i = ⌊v_i·scale +
    * 0.5⌋ (explicit floor(+0.5) instead of round() so the tie rule is
    * the same expression in both dialects), and the reported per-vector
    * reconstruction RMSE comes from the single-transform error array
    * v_i − code_i/scale.  max|code_i| = 127 by construction — no
    * clipping branch.
    *
    * Scale shape: a pure narrow projection (no shuffle but the oracle
    * ORDER BY); the lambda transforms are interpreted HOFs, so a fused
    * native Expression (GraftQuantize) is the optimization path if
    * this ever dominates a profile — at dim 64 the cost is dwarfed by
    * the scan. */
  def quantizeSql(d: SqlDialect): String = {
    val absMax = d.arrMax(d.arrTransform("v", "x", "abs(x)"))
    val err = d.arrTransform("v", "x",
      "x - floor(x * scale + 0.5) / scale")
    // All-zero vectors have no scale (127 / 0): emit NULL scale/rmse
    // explicitly — Spark's non-ANSI division yields NULL while DuckDB
    // doubles yield inf, so the guard is the portable form (pinned by
    // SimilaritySpec's zero-vector edge case).
    s"""WITH e AS (
       |  SELECT vec_id, ${d.toDoubleArr("embedding")} AS v FROM embeddings),
       |s AS (
       |  SELECT vec_id, v,
       |    CASE WHEN $absMax = ${d.dlit(0.0)} THEN NULL
       |         ELSE ${d.dlit(127.0)} / $absMax END AS scale
       |  FROM e),
       |q AS (
       |  SELECT vec_id, scale, ${d.arrSize("v")} AS dim, $err AS err FROM s),
       |r AS (
       |  SELECT vec_id, scale,
       |    CASE WHEN scale IS NULL THEN NULL
       |         ELSE ${d.dot("err", "err")} / dim END AS mse
       |  FROM q)
       |SELECT vec_id, round(scale, 6) AS scale,
       |  round(sqrt(mse), 6) AS rmse
       |FROM r
       |ORDER BY vec_id""".stripMargin
  }

  /** Top-k search served FROM the int8 codes (the `quantizeSql`
    * quantizer): scores are integer-valued dot products of the code
    * arrays, de-scaled by the two quantization scales and the true
    * norms — the memory-bandwidth-lean serving mode of a quantized
    * index (4× fewer bytes than float32 through the scan; the integer
    * dot is exact in doubles since |code| ≤ 127).  Ranking may differ
    * from `sim_topk_bruteforce` near ties (quantization noise ~1e-3
    * cosine at dim 64) — that approximation is itself deterministic
    * and oracle-checked, and `SimilaritySpec` pins the agreement with
    * the exact operator.  Ties in the quantized score break on
    * neighbor id exactly like the exact operator. */
  def quantizedTopKSql(d: SqlDialect): String = {
    val absMax = d.arrMax(d.arrTransform("v", "x", "abs(x)"))
    val code = d.arrTransform("v", "x",
      "CAST(floor(x * scale + 0.5) AS DOUBLE)")
    // All-zero vectors are excluded from the quantized serving set
    // (same NULL-scale guard as quantizeSql): they have no codes and no
    // cosine direction, and leaving a NULL score in the ranking would
    // hit the engines' opposing NULL-ordering defaults.
    s"""WITH e AS (
       |  SELECT vec_id, ${d.toDoubleArr("embedding")} AS v FROM embeddings),
       |n AS (
       |  SELECT vec_id, v, sqrt(${d.dot("v", "v")}) AS nrm FROM e),
       |s AS (
       |  SELECT vec_id, v, nrm,
       |    CASE WHEN $absMax = ${d.dlit(0.0)} THEN NULL
       |         ELSE ${d.dlit(127.0)} / $absMax END AS scale
       |  FROM n),
       |qz AS (
       |  SELECT vec_id, nrm, scale, $code AS code FROM s
       |  WHERE scale IS NOT NULL),
       |q AS (
       |  SELECT vec_id, nrm, scale, code FROM qz WHERE vec_id % 100 = 0),
       |p AS (
       |  SELECT q.vec_id AS qid, x.vec_id AS nid,
       |    ${d.dot("q.code", "x.code")} / (q.scale * x.scale)
       |      / (q.nrm * x.nrm) AS cs
       |  FROM q JOIN qz x ON q.vec_id != x.vec_id),
       |r AS (
       |  SELECT qid, nid, cs,
       |    row_number() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS rn
       |  FROM p)
       |SELECT qid AS query_id, nid AS neighbor_id,
       |  round(cs, 6) AS approx_cosine, CAST(rn AS BIGINT) AS rank
       |FROM r WHERE rn <= 10
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Signed projection onto deterministic hyperplane p: a dot product
    * against the literal weight array (codegen'd graft_dot on the
    * engine side; same left-to-right fold as the HOF form it replaced). */
  private def projBit(d: SqlDialect, p: Int): String = {
    val proj = d.dot("v", d.arrOf(planeWeights(p).map(d.dlit)))
    s"(CASE WHEN $proj > 0 THEN 1 ELSE 0 END)"
  }

  /** LSH-bucketed approximate top-5: candidates share ≥1 of 4 band
    * values (4 bits each from 16 hyperplane sign bits).
    *
    * SCALE CAVEAT: the band space is FIXED (4 bands × 16 buckets), so
    * bucket population grows ∝ n and the band self-join degrades
    * superlinearly (measured 1.30/decade, SCALING.md) — this variant
    * is the small-corpus / grid-contrast form, flagged `baseline` in
    * `SparkEntry.registry`.  The 100 TB paths are
    * `annLshScaledSql` below (corpus-scaled band width, ~constant
    * bucket occupancy) and the IVF family (`sim_ivf_kmeans_scaled`). */
  def annLshSql(d: SqlDialect): String = {
    val bitCols = (0 until AnnPlanes)
      .map(p => s"${projBit(d, p)} AS bit$p").mkString(",\n    ")
    val bandSelects = (0 until AnnBands).map { b =>
      val v = (0 until AnnBandBits)
        .map(r => s"bit${b * AnnBandBits + r} * ${1 << (AnnBandBits - 1 - r)}")
        .mkString(" + ")
      s"SELECT vec_id, $b AS band, ($v) AS bval FROM bits"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH ${baseCtes(d)},
       |bits AS (
       |  SELECT vec_id,
       |    $bitCols
       |  FROM n),
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS qid, x.vec_id AS nid
       |  FROM bands q JOIN bands x
       |    ON q.band = x.band AND q.bval = x.bval
       |   AND q.vec_id % 100 = 0 AND q.vec_id != x.vec_id),
       |p AS (
       |  SELECT c.qid, c.nid,
       |    ${d.dot("a.v", "b.v")} / (a.nrm * b.nrm) AS cs
       |  FROM cand c
       |  JOIN n a ON a.vec_id = c.qid
       |  JOIN n b ON b.vec_id = c.nid),
       |r AS (
       |  SELECT qid, nid, cs,
       |    row_number() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS rn
       |  FROM p)
       |SELECT qid AS query_id, nid AS neighbor_id,
       |  round(cs, 6) AS cosine, CAST(rn AS BIGINT) AS rank
       |FROM r WHERE rn <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Corpus-scaled hyperplane-LSH ANN — `annLshSql`'s fix for the
    * fixed band space's quadratic floor, mirroring
    * `Dedup.embeddingLshScaledSql` exactly: same 4 bands, but each
    * band key is the FIRST `nb` bits of a 16-bit-per-band hyperplane
    * signature, where `nb = clamp(4..16, ceil(log2(n / 32)))` comes
    * from a scalar subquery over the corpus count.  Expected bucket
    * occupancy stays ~32 vectors at any corpus size, so per-query
    * candidate volume is ~4·32 instead of ~4·n/16 — the serve is
    * genuinely sublinear.  The integer threshold ladder (not float
    * log2) keeps the width engine-exact; the SQL text is static, so
    * the identical statement runs in Spark and DuckDB and the result
    * stays hash-checked.  At oracle scales where nb floors at 4 the
    * bucket granularity matches the fixed grid's band WIDTH (the
    * plane sets differ, so results may still differ); the standard
    * LSH recall tradeoff (narrower buckets ⇒ lower per-band collision
    * probability for true neighbors) is measured by the recall
    * family, with the trained-IVF path as the production alternative
    * when recall at depth matters more than raw serve cost. */
  def annLshScaledSql(d: SqlDialect): String = {
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
    val nbLadder = (4 until maxBits)
      .map(b => s"WHEN count(*) <= ${32L * (1L << b)} THEN $b")
      .mkString("\n    ")
    s"""WITH ${baseCtes(d)},
       |w AS (
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
       |  SELECT vec_id, band, substring(bstr, 1, w.nb) AS bkey
       |  FROM bands CROSS JOIN w),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS qid, x.vec_id AS nid
       |  FROM keys q JOIN keys x
       |    ON q.band = x.band AND q.bkey = x.bkey
       |   AND q.vec_id % 100 = 0 AND q.vec_id != x.vec_id),
       |p AS (
       |  SELECT c.qid, c.nid,
       |    ${d.dot("a.v", "b.v")} / (a.nrm * b.nrm) AS cs
       |  FROM cand c
       |  JOIN n a ON a.vec_id = c.qid
       |  JOIN n b ON b.vec_id = c.nid),
       |r AS (
       |  SELECT qid, nid, cs,
       |    row_number() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS rn
       |  FROM p)
       |SELECT qid AS query_id, nid AS neighbor_id,
       |  round(cs, 6) AS cosine, CAST(rn AS BIGINT) AS rank
       |FROM r WHERE rn <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** IVF-style ANN: coarse quantization against 5 fixed centroids
    * (the vectors with vec_id ≡ 50 mod 100 — deterministic, no
    * k-means RNG), each vector assigned to its nearest centroid
    * (inverted lists), queries probe the nprobe=2 nearest lists and
    * rank only candidates there.  At 100 TB the assign step is a
    * broadcast map over the scan and each query touches ~2/5 of the
    * data — with real k-means centroids, a tunable fraction. */
  /** Fixed-pick IVF coarse quantizer ending in `cand(qid, nid)` —
    * shared by `ivfSql` and the PQ-ADC variant (`ivfAdcSql`), which
    * differ only in how candidates are SCORED. */
  private def ivfCandCtes(d: SqlDialect): String =
    s"""c AS (
       |  SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n
       |  WHERE ${fixedPickPred(d)}),
       |asgn0 AS (
       |  SELECT n.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY n.vec_id
       |      ORDER BY ${d.dot("n.v", "c.cv")} / (n.nrm * c.cnrm) DESC, c.cid)
       |      AS crn
       |  FROM n CROSS JOIN c),
       |asgn AS (
       |  SELECT vec_id, cid FROM asgn0 WHERE crn = 1),
       |probe AS (
       |  SELECT vec_id AS qid, cid FROM asgn0
       |  WHERE vec_id % 100 = 0 AND crn <= 2),
       |cand AS (
       |  SELECT p.qid, a.vec_id AS nid
       |  FROM probe p JOIN asgn a ON a.cid = p.cid AND a.vec_id != p.qid)""".stripMargin

  def ivfSql(d: SqlDialect): String = {
    s"""WITH ${baseCtes(d)},
       |${ivfCandCtes(d)},
       |sc AS (
       |  SELECT cand.qid, cand.nid,
       |    ${d.dot("q.v", "x.v")} / (q.nrm * x.nrm) AS cs
       |  FROM cand
       |  JOIN n q ON q.vec_id = cand.qid
       |  JOIN n x ON x.vec_id = cand.nid),
       |r AS (
       |  SELECT qid, nid, cs,
       |    row_number() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS rn
       |  FROM sc)
       |SELECT qid AS query_id, nid AS neighbor_id,
       |  round(cs, 6) AS cosine, CAST(rn AS BIGINT) AS rank
       |FROM r WHERE rn <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Product-quantization geometry: dim 64 = `PqM` × `PqSubDim`
    * subspaces, `PqK` codewords per subspace → a vector's code is
    * `PqM` 4-bit ids = 4 bytes, a 64× compression over the float
    * payload (SQ8's int8 codes are 4×).  This is the FAISS-IVFPQ
    * storage shape — the index format trillion-vector deployments
    * actually ship. */
  val PqM = 8
  /** Derived from the single-sourced embedding width so a dim change
    * fails loudly in `ivfAdcSql`'s require instead of silently
    * slicing a truncated prefix. */
  val PqSubDim: Int = EmbeddingDim / PqM
  val PqK = 16

  /** IVF + product quantization with asymmetric distance computation
    * (ADC) — Jégou et al. 2011 ("Product Quantization for Nearest
    * Neighbor Search"): each database vector is stored as `PqM`
    * per-subspace codeword ids; a query is NOT quantized, and scores
    * candidates by Σₛ ⟨q_s, codeword(s, code_s)⟩ — the inner product
    * against the RECONSTRUCTED vector, normalized by the
    * reconstruction's norm for a cosine-comparable score.
    *
    * Codebooks here are SAMPLED, not trained: per subspace, the
    * codewords are the sub-vectors of `PqK` stride-spread seed
    * vectors (rank-stride over vec_id — deterministic, no RNG, no
    * Lloyd).  Sampled codebooks are the classic cheap baseline; the
    * per-subspace k-means upgrade reuses this operator's exact
    * serving arithmetic (assignment argmin and ADC are
    * codebook-agnostic), the way `sim_ivf_kmeans` upgrades
    * `sim_ann_ivf`'s coarse stage.
    *
    * Determinism: assignment is an L2 argmin over exactly-rounded
    * double arithmetic on identical inputs (ties → smallest codeword
    * id); the two cross-row sums of doubles (reconstruction norm,
    * ADC inner product — `PqM` rows each) are µ-quantized per-term
    * and summed as integers, so partial-aggregation order cannot
    * move them.  Coarse candidates are `ivfSql`'s fixed-pick
    * nprobe=2 chain, so the approximation delta vs `sim_ann_ivf` is
    * exactly the PQ scoring noise.
    *
    * Scale: codes are 4 bytes/vector (the point of PQ); the codebook
    * is `PqM`·`PqK` tiny arrays — broadcast; assignment is one
    * n×(`PqM`·`PqK`) narrow comparison pass; serving touches only
    * probed candidates.  At 100 TB the codes+codebook persist in the
    * `cid=`-partitioned store exactly like the SQ8 payload
    * (`sim_ann_ivf_pq`) — same lifecycle, quarter the bytes again. */
  private def pqL2(d: SqlDialect)(a: String, b: String): String =
    s"(${d.dot(a, a)} - 2 * ${d.dot(a, b)} + ${d.dot(b, b)})"

  /** Shared PQ prologue: sampled seed codebook `cb0(s, j, cw)` and
    * the per-vector subspace relation `sub(vec_id, s, sv)`. */
  private def pqCommonCtes(d: SqlDialect): String =
    s"""cnt AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM n),
       |st AS (
       |  SELECT ${d.intDiv(s"(nv + ${PqK - 1})", PqK.toString)} AS stride
       |  FROM cnt),
       |sd AS (
       |  SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS r FROM n),
       |seeds AS (
       |  SELECT ${d.intDiv("(sd.r - 1)", "st.stride")} AS j, sd.v
       |  FROM sd CROSS JOIN st
       |  WHERE (sd.r - 1) % st.stride = 0),
       |sx AS (
       |  SELECT ${d.explode(d.sequence0(PqM.toString))} AS s),
       |cb0 AS (
       |  SELECT sx.s, seeds.j,
       |    ${d.arrSlice("seeds.v", s"sx.s * $PqSubDim + 1", PqSubDim.toString)}
       |      AS cw
       |  FROM seeds CROSS JOIN sx),
       |sub AS (
       |  SELECT n.vec_id, sx.s,
       |    ${d.arrSlice("n.v", s"sx.s * $PqSubDim + 1", PqSubDim.toString)}
       |      AS sv
       |  FROM n CROSS JOIN sx)""".stripMargin

  /** Per-(vector, subspace) nearest-codeword assignment against
    * `cbRel` — L2 argmin, tie to the smallest codeword id. */
  private def pqAssignCte(d: SqlDialect, name: String,
      cbRel: String): String =
    s"""$name AS (
       |  SELECT vec_id, s, j AS code FROM (
       |    SELECT sub.vec_id, sub.s, cb.j,
       |      row_number() OVER (PARTITION BY sub.vec_id, sub.s
       |        ORDER BY ${pqL2(d)("sub.sv", "cb.cw")}, cb.j) AS rn
       |    FROM sub JOIN $cbRel cb ON cb.s = sub.s) z
       |  WHERE rn = 1)""".stripMargin

  /** One per-subspace Lloyd round: assignments in `codesRel` →
    * µ-quantized per-dimension means → codebook `cb$i(s, j, cw)`.
    * Subspace `s` is just a grouping key, so ALL `PqM` codebooks
    * train in one CTE pair; a codeword that attracts no vectors
    * drops out of the next codebook (the standard empty-cluster
    * behavior of the k-means family here). */
  private def pqLloydCtes(d: SqlDialect, i: Int,
      codesRel: String): String = {
    val q = d.dlit(1e6)
    val sums = (0 until PqSubDim).map(j =>
      s"sum(CAST(round(${d.arrAt("sub.sv", (j + 1).toString)} * $q) AS BIGINT)) AS s$j")
      .mkString(", ")
    val comps = (0 until PqSubDim).map(j =>
      s"CAST(s$j AS DOUBLE) / ($q * cnt)")
    s"""u$i AS (
       |  SELECT a.s, a.code AS j, count(*) AS cnt, $sums
       |  FROM $codesRel a
       |  JOIN sub ON sub.vec_id = a.vec_id AND sub.s = a.s
       |  GROUP BY a.s, a.code),
       |cb$i AS (
       |  SELECT s, j, ${d.arrOf(comps)} AS cw FROM u$i)""".stripMargin
  }

  /** ADC scoring + top-5 over final `codesRel`/`cbRel`. */
  private def pqAdcTail(d: SqlDialect, codesRel: String,
      cbRel: String, candRel: String = "cand"): String = {
    val q = d.dlit(1e6)
    s"""rn0 AS (
       |  SELECT a.vec_id,
       |    CAST(sum(CAST(round(${d.dot("cb.cw", "cb.cw")} * $q) AS BIGINT))
       |      AS BIGINT) AS nrm2_u
       |  FROM $codesRel a JOIN $cbRel cb ON cb.s = a.s AND cb.j = a.code
       |  GROUP BY a.vec_id),
       |vnrm AS (
       |  SELECT vec_id, sqrt(CAST(nrm2_u AS DOUBLE) / $q) AS rnrm
       |  FROM rn0 WHERE nrm2_u > 0),
       |adc AS (
       |  SELECT c.qid, c.nid,
       |    CAST(sum(CAST(round(${d.dot("qs.sv", "cb.cw")} * $q) AS BIGINT))
       |      AS BIGINT) AS ip_u
       |  FROM $candRel c
       |  JOIN $codesRel a ON a.vec_id = c.nid
       |  JOIN $cbRel cb ON cb.s = a.s AND cb.j = a.code
       |  JOIN sub qs ON qs.vec_id = c.qid AND qs.s = a.s
       |  GROUP BY c.qid, c.nid),
       |sc AS (
       |  SELECT adc.qid, adc.nid,
       |    (CAST(ip_u AS DOUBLE) / $q) / (q.nrm * v.rnrm) AS cs
       |  FROM adc
       |  JOIN n q ON q.vec_id = adc.qid
       |  JOIN vnrm v ON v.vec_id = adc.nid),
       |r AS (
       |  SELECT qid, nid, cs,
       |    row_number() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS rn
       |  FROM sc)
       |SELECT qid AS query_id, nid AS neighbor_id,
       |  round(cs, 6) AS approx_cosine, CAST(rn AS BIGINT) AS rank
       |FROM r WHERE rn <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  private def requirePqGeometry(): Unit =
    require(PqM * PqSubDim == EmbeddingDim,
      s"PQ geometry ${PqM}x$PqSubDim must cover the embedding width " +
        s"$EmbeddingDim exactly - a partial cover silently scores a " +
        "truncated prefix")

  def ivfAdcSql(d: SqlDialect): String = {
    requirePqGeometry()
    s"""WITH ${baseCtes(d)},
       |${ivfCandCtes(d)},
       |${pqCommonCtes(d)},
       |${pqAssignCte(d, "codes", "cb0")},
       |${pqAdcTail(d, "codes", "cb0")}""".stripMargin
  }

  /** Lloyd rounds for the TRAINED PQ codebooks. */
  val PqIters = 2

  /** The full IVFPQ: `ivfAdcSql` with per-subspace k-means-TRAINED
    * codebooks — `PqIters` Lloyd rounds refine the sampled seeds
    * before vectors are coded, the exact configuration FAISS ships as
    * IVFPQ.  Because subspace id is just a grouping key, all `PqM`
    * codebooks train simultaneously: each round is ONE assignment CTE
    * plus ONE µ-quantized per-dimension mean aggregate (the
    * `sim_ivf_kmeans` integer-sum discipline at subvector width), so
    * codebook training costs the same order as coding itself.
    * Assignment, ADC arithmetic and candidates are shared verbatim
    * with the sampled variant — the recall delta between the two IS
    * the value of training the codebooks, measurable per query. */
  def ivfAdcTrainedSql(d: SqlDialect): String = {
    requirePqGeometry()
    val rounds = (1 to PqIters).map { i =>
      s"""${pqAssignCte(d, s"a${i - 1}", s"cb${i - 1}")},
         |${pqLloydCtes(d, i, s"a${i - 1}")}""".stripMargin
    }.mkString(",\n")
    s"""WITH ${baseCtes(d)},
       |${ivfCandCtes(d)},
       |${pqCommonCtes(d)},
       |$rounds,
       |${pqAssignCte(d, "codes", s"cb$PqIters")},
       |${pqAdcTail(d, "codes", s"cb$PqIters")}""".stripMargin
  }

  /** Recall harness for the ADC path — `sim_recall`'s discipline for
    * the PQ serving mode: per query, the fraction of the TRUE cosine
    * top-5 (brute-force) that ADC scoring over 4-byte codes recovers.
    * Quantifies BOTH losses at once (coarse nprobe=2 candidate loss +
    * PQ reconstruction noise) so the 64×-compression trade is an
    * oracle-checked number, not a prose claim — for the sampled AND
    * the Lloyd-trained codebooks side by side, so the value of
    * training is itself a measured per-query delta.  A measurement
    * query: it deliberately pays for all three pipelines. */
  def adcRecallSql(d: SqlDialect): String =
    s"""WITH x AS (
       |  SELECT query_id, neighbor_id FROM (${topKSql(d)}) tx
       |  WHERE rank <= 5),
       |y AS (
       |  SELECT query_id, neighbor_id FROM (${ivfAdcSql(d)}) ty),
       |z AS (
       |  SELECT query_id, neighbor_id FROM (${ivfAdcTrainedSql(d)}) tz),
       |c AS (
       |  SELECT x.query_id, CAST(count(*) AS BIGINT) AS n_true,
       |    count(y.neighbor_id) AS n_common,
       |    count(z.neighbor_id) AS n_common_trained
       |  FROM x
       |  LEFT JOIN y
       |    ON y.query_id = x.query_id AND y.neighbor_id = x.neighbor_id
       |  LEFT JOIN z
       |    ON z.query_id = x.query_id AND z.neighbor_id = x.neighbor_id
       |  GROUP BY x.query_id)
       |SELECT query_id, CAST(n_common AS BIGINT) AS n_common,
       |  round(CAST(n_common AS DOUBLE) / n_true, 6) AS recall_frac,
       |  CAST(n_common_trained AS BIGINT) AS n_common_trained,
       |  round(CAST(n_common_trained AS DOUBLE) / n_true, 6)
       |    AS recall_trained
       |FROM c ORDER BY query_id""".stripMargin

  /** Engine form of `sim_adc_recall` (r16): the single-statement SQL
    * recomputes all three pipelines inline (brute truth + both ADC
    * chains, pqCommonCtes' global seed window included) and was the
    * suite's slowest engine row (1.23 s at sf0.1) even with the
    * serves memoized elsewhere.  The DataFrame twin consumes the
    * session truth memo (`recall_truth`, priced in
    * `exact_truth_serves`) and the two literal-codebook ADC serves —
    * same LEFT-JOIN/count arithmetic as the SQL, which stays the
    * oracle and recomputes everything from raw embeddings. */
  def adcRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val x = exactTruth(spark, dir)
    val y = ivfAdc(spark, dir).select($"query_id", $"neighbor_id")
    val z = ivfAdcTrained(spark, dir).select($"query_id", $"neighbor_id")
    x.as("x")
      .join(y.as("y"), $"y.query_id" === $"x.query_id" &&
        $"y.neighbor_id" === $"x.neighbor_id", "left")
      .join(z.as("z"), $"z.query_id" === $"x.query_id" &&
        $"z.neighbor_id" === $"x.neighbor_id", "left")
      .groupBy($"x.query_id".as("query_id"))
      .agg(count(lit(1)).cast("long").as("n_true"),
        count($"y.neighbor_id").cast("long").as("n_common"),
        count($"z.neighbor_id").cast("long").as("n_common_trained"))
      .select($"query_id", $"n_common",
        round($"n_common".cast("double") / $"n_true", 6).as("recall_frac"),
        $"n_common_trained",
        round($"n_common_trained".cast("double") / $"n_true", 6)
          .as("recall_trained"))
      .orderBy($"query_id")
  }

  /** IVF with TRAINED centroids: spherical k-means (cosine Lloyd
    * iterations) instead of ivfSql's fixed picks, then the same
    * nprobe=2 search.  Fully oracle-checked despite float centroids:
    * the per-cluster mean accumulates µ-quantized integer components
    * (`CAST(round(x·10⁶) AS BIGINT)`), whose sum is associative and
    * commutative — so the centroid is bit-identical regardless of
    * Spark's partial-aggregation order, and the DuckDB oracle lands on
    * the same doubles.  Assignment ties break on cid; no RNG anywhere
    * (init = the same deterministic vec_id ≡ 50 picks).
    *
    * Scale: each Lloyd round is one broadcast-size cross join (k rows)
    * + one groupBy(cid) with map-side partial sums of k·D longs — the
    * textbook distributed k-means step; iterations are unrolled (2
    * here), so the plan is static and codegen-friendly. */
  val KmeansDim: Int = EmbeddingDim // single source for the fixture dim
  val KmeansIters = 2
  val KmeansQuant = "1000000.0"

  /** Shared prefix of `ivfKmeansSql` and `ivfKmeansQuantizedSql`:
    * base relations, deterministic init, the unrolled Lloyd rounds,
    * final assignment, nprobe=2 probing, and candidate generation —
    * everything up to (and excluding) the scoring tail.
    * `initPred` selects the seed centroids from `n` — the corpus-
    * capped fixed rule (`fixedPickPred`) by default, or the
    * corpus-scaled √n rule of `scaledInitPred`. */
  private[ops] def kmeansCandCtes(d: SqlDialect): String =
    kmeansCandCtes(d, fixedPickPred(d))

  private[ops] def kmeansCandCtes(d: SqlDialect,
      initPred: String): String = {
    // One Lloyd round: assignments from centroid relation `cPrev` →
    // quantized per-dimension means → centroid relation `cNext`.
    def cosTo(c: String): String =
      s"${d.dot("n.v", s"$c.cv")} / (n.nrm * $c.cnrm)"
    def assignCtes(i: Int, cPrev: String): String =
      s"""x$i AS (
         |  SELECT n.vec_id, c.cid, ${cosTo("c")} AS cs
         |  FROM n CROSS JOIN $cPrev c),
         |a$i AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
         |    FROM x$i) z WHERE rn = 1)""".stripMargin
    def updateCtes(i: Int): String = {
      val sums = (0 until KmeansDim).map(j =>
        s"sum(CAST(round(${d.arrAt("n.v", (j + 1).toString)} * $KmeansQuant) AS BIGINT)) AS s$j")
        .mkString(", ")
      val comps = (0 until KmeansDim).map(j =>
        s"CAST(s$j AS DOUBLE) / ($KmeansQuant * cnt)")
      s"""s${i + 1} AS (
         |  SELECT a.cid, count(*) AS cnt, $sums
         |  FROM a$i a JOIN n ON n.vec_id = a.vec_id
         |  GROUP BY a.cid),
         |m${i + 1} AS (
         |  SELECT cid, ${d.arrOf(comps)} AS cv FROM s${i + 1}),
         |c${i + 1} AS (
         |  SELECT cid, cv, sqrt(${d.dot("cv", "cv")}) AS cnrm FROM m${i + 1})""".stripMargin
    }
    val lloyd = (0 until KmeansIters).map { i =>
      s"${assignCtes(i, s"c$i")},\n${updateCtes(i)}"
    }.mkString(",\n")
    val f = KmeansIters // final centroid relation index
    s"""${baseCtes(d)},
       |c0 AS (
       |  SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n
       |  WHERE $initPred),
       |$lloyd,
       |cfin AS (
       |  SELECT cid, cv, cnrm FROM c$f),
       |xf AS (
       |  SELECT n.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY n.vec_id
       |      ORDER BY ${cosTo("c")} DESC, c.cid) AS crn
       |  FROM n CROSS JOIN c$f c),
       |asgn AS (
       |  SELECT vec_id, cid FROM xf WHERE crn = 1),
       |probe AS (
       |  SELECT vec_id AS qid, cid FROM xf
       |  WHERE vec_id % 100 = 0 AND crn <= 2),
       |cand AS (
       |  SELECT p.qid, a.vec_id AS nid
       |  FROM probe p JOIN asgn a ON a.cid = p.cid AND a.vec_id != p.qid)""".stripMargin
  }

  def ivfKmeansSql(d: SqlDialect): String = {
    s"""WITH ${kmeansCandCtes(d)},
       |sc AS (
       |  SELECT cand.qid, cand.nid,
       |    ${d.dot("q.v", "x.v")} / (q.nrm * x.nrm) AS cs
       |  FROM cand
       |  JOIN n q ON q.vec_id = cand.qid
       |  JOIN n x ON x.vec_id = cand.nid),
       |r AS (
       |  SELECT qid, nid, cs,
       |    row_number() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS rn
       |  FROM sc)
       |SELECT qid AS query_id, nid AS neighbor_id,
       |  round(cs, 6) AS cosine, CAST(rn AS BIGINT) AS rank
       |FROM r WHERE rn <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Corpus-scaled seed rule: stride s = floor(n / floor(√n)), seeds
    * = vec_id ≡ 0 (mod s) → ~√n centroids regardless of corpus size.
    * This is the standard IVF nlist sizing (k + nprobe·n/k per-query
    * cost is minimized at k ≈ √n): with the fixed mod-100 rule, list
    * LENGTH is ~flat but the assignment/probe cross-join against k ∝ n
    * centroids grows quadratically with the corpus (SCALING.md's
    * sim_ann_ivf_persisted 100× exponent 1.22); with k ∝ √n both the
    * coarse comparison count and the probed list length grow only as
    * √n.  Dense non-negative vec_ids (the fixtures' shape) give
    * ceil(n/s) ≈ √n seeds; the rule is pure arithmetic over a count —
    * no global sort, no RNG — so it runs identically in both engines
    * and at any scale. */
  private def scaledInitPred(d: SqlDialect): String =
    "vec_id % (SELECT greatest(1, CAST(floor(CAST(count(*) AS DOUBLE)" +
      " / floor(sqrt(CAST(count(*) AS DOUBLE)))) AS BIGINT)) FROM n) = 0"

  /** Corpus-CAPPED fixed seed rule: vec_id ≡ 50 (mod max(100, √n
    * stride)).  Below n = 10 000 the stride is < 100, so the modulus
    * stays the historical 100 and every small-fixture result is
    * unchanged; past that the √n stride takes over and k grows as √n
    * instead of n/100.  This is what retires the round-12 verdict's
    * "fixed n/100 codebook is quadratic by construction" family: the
    * assignment/probe work is O(n·√n) at any scale — the same class
    * as the trained-scaled variants — while keeping the deterministic
    * no-RNG pick-by-id character of the fixed codebook.  Pure integer
    * arithmetic over one count, identical in both engines
    * (`fixedPickMod` is the engine-side twin). */
  private def fixedPickPred(d: SqlDialect): String =
    "vec_id % (SELECT greatest(100, CAST(floor(CAST(count(*) AS DOUBLE)" +
      " / floor(sqrt(CAST(count(*) AS DOUBLE)))) AS BIGINT)) FROM n) = 50"

  /** `kmeansCandCtes` with the corpus-scaled √n seeding — for
    * consumers outside this object (the scaled hybrid's oracle). */
  private[ops] def kmeansCandCtesScaled(d: SqlDialect): String =
    kmeansCandCtes(d, scaledInitPred(d))

  /** Oracle/engine-spec form of `ivfKmeansScaled`: `ivfKmeansSql`
    * with the corpus-scaled √n seeding — the Lloyd chain, nprobe=2
    * probing and exact scoring are unchanged. */
  def ivfKmeansScaledSql(d: SqlDialect): String = {
    s"""WITH ${kmeansCandCtes(d, scaledInitPred(d))},
       |sc AS (
       |  SELECT cand.qid, cand.nid,
       |    ${d.dot("q.v", "x.v")} / (q.nrm * x.nrm) AS cs
       |  FROM cand
       |  JOIN n q ON q.vec_id = cand.qid
       |  JOIN n x ON x.vec_id = cand.nid),
       |r AS (
       |  SELECT qid, nid, cs,
       |    row_number() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS rn
       |  FROM sc)
       |SELECT qid AS query_id, nid AS neighbor_id,
       |  round(cs, 6) AS cosine, CAST(rn AS BIGINT) AS rank
       |FROM r WHERE rn <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Oracle/spec form of `ivfKmeansQuantizedPersisted`: the trained
    * codebook's candidate generation (`kmeansCandCtes` — exact float
    * geometry through Lloyd, assignment and probing) scored with the
    * int8-code arithmetic of `quantizedTopKSql`, end-to-end from the
    * raw embeddings. */
  def ivfKmeansQuantizedSql(d: SqlDialect): String =
    ivfKmeansQuantizedSql(d, 5)

  def ivfKmeansQuantizedSql(d: SqlDialect, topn: Int): String = {
    val absMax = d.arrMax(d.arrTransform("v", "x", "abs(x)"))
    val code = d.arrTransform("v", "x",
      "CAST(floor(x * scale + 0.5) AS DOUBLE)")
    s"""WITH ${kmeansCandCtes(d)},
       |s AS (
       |  SELECT vec_id, v, nrm,
       |    CASE WHEN $absMax = ${d.dlit(0.0)} THEN NULL
       |         ELSE ${d.dlit(127.0)} / $absMax END AS scale
       |  FROM n),
       |qz AS (
       |  SELECT vec_id, nrm, scale, $code AS code FROM s
       |  WHERE scale IS NOT NULL),
       |sc AS (
       |  SELECT cand.qid, cand.nid,
       |    ${d.dot("q.code", "x.code")} / (q.scale * x.scale)
       |      / (q.nrm * x.nrm) AS cs
       |  FROM cand
       |  JOIN qz q ON q.vec_id = cand.qid
       |  JOIN qz x ON x.vec_id = cand.nid),
       |r AS (
       |  SELECT qid, nid, cs,
       |    row_number() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS rn
       |  FROM sc)
       |SELECT qid AS query_id, nid AS neighbor_id,
       |  round(cs, 6) AS approx_cosine, CAST(rn AS BIGINT) AS rank
       |FROM r WHERE rn <= $topn
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Cluster quality audit over the TRAINED k-means partition: each
    * vector's final Lloyd assignment (`kmeansCandCtes`'s `asgn` — the
    * exact relation the IVF index files by) joined back to the fixture
    * labels, reporting per-cluster size, majority label and purity.
    * This is the standard clustering-evaluation projection a curation
    * pipeline runs before trusting cluster-level decisions (topic
    * sampling, SemDeDup-style per-cluster pruning, IVF list layout):
    * a low-purity cluster means the embedding space does not separate
    * the label structure there.
    *
    * Deterministic end-to-end: the Lloyd chain is the µ-quantized
    * oracle-checked trainer of `sim_ivf_kmeans`, majority ties break
    * on label.  Scale: one groupBy(cid, label) count over the
    * assignment relation + a per-cid window over ≤ k·|labels| rows —
    * nothing grows beyond the (tiny) cluster-label contingency
    * table. */
  def clusterPuritySql(d: SqlDialect): String =
    s"""WITH ${kmeansCandCtes(d)},
       |j AS (
       |  SELECT a.cid, e2.label
       |  FROM asgn a JOIN embeddings e2 ON e2.vec_id = a.vec_id),
       |cl AS (
       |  SELECT cid, label, count(*) AS n FROM j GROUP BY cid, label),
       |tot AS (
       |  SELECT cid, sum(n) AS sz FROM cl GROUP BY cid),
       |mj AS (
       |  SELECT cid, label, n,
       |    row_number() OVER (PARTITION BY cid ORDER BY n DESC, label) AS rn
       |  FROM cl)
       |SELECT t.cid, CAST(t.sz AS BIGINT) AS cluster_size,
       |  CAST(m.label AS INTEGER) AS majority_label,
       |  CAST(m.n AS BIGINT) AS majority_n,
       |  round(CAST(m.n AS DOUBLE) / t.sz, 6) AS purity
       |FROM tot t JOIN mj m ON m.cid = t.cid AND m.rn = 1
       |ORDER BY t.cid""".stripMargin

  /** Engine side reads the PERSISTED k-means store (the `indexHealth`
    * pattern — build-if-absent, then one column-pruned scan of the
    * lists) and joins the labels; the SQL form above recomputes the
    * whole Lloyd chain from raw embeddings as the oracle, so a green
    * check proves the persisted lists carry the exact assignment the
    * audit claims to measure. */
  def clusterPurity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val n = ivfBase(spark, dir)
    val cents = trainCodebookCached(spark, dir, n)
    val store = kmeansStorePath(spark, dir, None, "km", cents)
    val asgn = spark.read
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, cid BIGINT")
      .parquet(store.toString)
      .select($"vec_id", $"cid")
    val lbl = Tables.embeddings(spark, dir).select($"vec_id", $"label")
    val cl = asgn.join(lbl, "vec_id")
      .groupBy($"cid", $"label").agg(count(lit(1)).as("n"))
    val tot = cl.groupBy($"cid").agg(sum($"n").as("sz"))
    val mj = cl.withColumn("rn", row_number().over(
        Window.partitionBy($"cid").orderBy($"n".desc, $"label")))
      .filter($"rn" === 1)
    tot.join(mj, "cid")
      .select($"cid", $"sz".cast("long").as("cluster_size"),
        $"label".cast("int").as("majority_label"),
        $"n".cast("long").as("majority_n"),
        round($"n".cast("double") / $"sz", 6).as("purity"))
      .orderBy($"cid")
  }

  /** Shared tail of `sim_cluster_keywords`: from an `asgn` relation
    * (vec_id, cid) and the `documents` view, the top-3 cluster-level
    * TF-IDF terms per cluster.  TF is the token count within the
    * cluster; IDF treats each CLUSTER as a document
    * (ln((K+1)/df_c), µ-quantized) — a term scores high when it is
    * frequent in this cluster and absent from the others, which is
    * exactly what makes it a topic label.  Scores are integer
    * products tf·idf_q — deterministic under any aggregation order. */
  private def clusterKeywordsTail(d: SqlDialect): String =
    s"""jd AS (
       |  SELECT a.cid, ${d.tokens("dd.text")} AS toks
       |  FROM asgn a JOIN documents dd ON dd.doc_id = a.vec_id),
       |tok AS (
       |  SELECT cid, ${d.explode("toks")} AS token FROM jd),
       |tf AS (
       |  SELECT cid, token, CAST(count(*) AS BIGINT) AS tf
       |  FROM tok GROUP BY cid, token),
       |dfc AS (
       |  SELECT token, CAST(count(*) AS BIGINT) AS df_c
       |  FROM tf GROUP BY token),
       |kk AS (
       |  SELECT CAST(count(DISTINCT cid) AS BIGINT) AS nk FROM tf),
       |scs AS (
       |  SELECT tf.cid, tf.token, tf.tf, dfc.df_c,
       |    tf.tf * CAST(round(ln(CAST(kk.nk + 1 AS DOUBLE) / dfc.df_c)
       |      * ${d.dlit(1000000.0)}) AS BIGINT) AS sq
       |  FROM tf JOIN dfc ON dfc.token = tf.token CROSS JOIN kk),
       |rr AS (
       |  SELECT cid, token, tf, df_c, sq,
       |    row_number() OVER (PARTITION BY cid
       |      ORDER BY sq DESC, token) AS rn
       |  FROM scs)
       |SELECT cid, CAST(rn AS BIGINT) AS rank, token, tf, df_c,
       |  round(CAST(sq AS DOUBLE) / ${d.dlit(1000000.0)}, 6) AS score
       |FROM rr WHERE rn <= 3
       |ORDER BY cid, rank""".stripMargin

  /** Oracle form: recomputes the whole Lloyd chain from raw
    * embeddings (as `clusterPuritySql` does) and feeds its `asgn`
    * into the shared keyword tail. */
  def clusterKeywordsSql(d: SqlDialect): String =
    s"""WITH ${kmeansCandCtes(d)},
       |${clusterKeywordsTail(d)}""".stripMargin

  /** Cluster topic keywords — the inspection tool run after
    * clustering and before cluster-level curation (topic-balanced
    * sampling, SemDeDup pruning): WHAT is in each cluster, as its
    * top discriminative terms.  Engine side reads the persisted
    * k-means store for the assignment (the `clusterPurity` pattern)
    * and joins the text; the oracle recomputes the full training
    * chain — a green check proves store assignment ≡ trained
    * assignment AND the text/vector id join is coherent.
    *
    * Scale: assignment is a 2-column pruned store scan; the tf
    * aggregate is token-linear with map-side combine; dfc/kk are
    * vocabulary-sized dims joined broadcast; the top-3 window
    * partitions by cid (k partitions). */
  def clusterKeywords(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = ivfBase(spark, dir)
    val cents = trainCodebookCached(spark, dir, n)
    val store = kmeansStorePath(spark, dir, None, "km", cents)
    spark.read
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, cid BIGINT")
      .parquet(store.toString)
      .select($"vec_id", $"cid")
      .createOrReplaceTempView("asgn")
    Tables.documents(spark, dir).createOrReplaceTempView("documents")
    spark.sql(s"WITH ${clusterKeywordsTail(SparkDialect)}")
  }

  /** Closing CTEs of the cluster-balanced sample, over whatever
    * `asgn(vec_id, cid)` relation precedes them: per-cluster quota
    * Q = ⌈n / (5·k)⌉ (a 20 % corpus budget split evenly over the k
    * non-empty clusters — all-integer arithmetic), members ranked
    * inside each cluster by a salted content-independent hash of the
    * vector id (ties impossible in expectation, id tie-break pinned
    * anyway), rank ≤ Q kept. */
  private def clusterSampleTail(d: SqlDialect): String = {
    val salted = d.h60(s"${d.castStr("a.vec_id")} || '_cbs'")
    s"""qn AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST(count(DISTINCT cid) AS BIGINT) AS k
       |  FROM asgn),
       |rk AS (
       |  SELECT a.vec_id, a.cid,
       |    row_number() OVER (PARTITION BY a.cid
       |      ORDER BY $salted, a.vec_id) AS prn
       |  FROM asgn a)
       |SELECT r.cid, r.vec_id, CAST(r.prn AS BIGINT) AS pick_rank
       |FROM rk r CROSS JOIN qn
       |WHERE r.prn <= ${d.intDiv("(qn.n + 5 * qn.k - 1)", "(5 * qn.k)")}
       |ORDER BY r.cid, pick_rank""".stripMargin
  }

  /** Cluster-balanced diversity sampling over the trained k-means
    * partition — the data-selection move cluster structure exists
    * for (DeepMind's SemDeDup/D4 lineage: sample evenly across
    * semantic clusters instead of i.i.d., so head topics stop
    * drowning tail topics): each non-empty cluster contributes up to
    * Q = ⌈n/(5k)⌉ members (a 20 % corpus budget, evenly split), and
    * WHICH members is decided by the deterministic salted-hash rank —
    * reproducible run-to-run and engine-to-engine, no RNG.  A cluster
    * smaller than its quota is taken whole: the per-cluster shortfall
    * stays visible to the caller (pick_rank < Q rows missing) rather
    * than silently re-allocated to big clusters, which would re-skew
    * exactly what the balanced sample exists to fix.
    *
    * Scale: the rank window partitions by `cid` — the persisted
    * store's own partition key, so rows are already co-located by the
    * index layout; the quota is a 1-row broadcast.  Nothing grows
    * beyond the assignment relation. */
  def clusterSampleSql(d: SqlDialect): String =
    s"""WITH ${kmeansCandCtes(d)},
       |${clusterSampleTail(d)}""".stripMargin

  /** Engine side of `sim_cluster_sample`: the assignment relation is
    * READ FROM the persisted trained-k-means store (build-if-absent —
    * the `clusterPurity` pattern) instead of re-deriving the Lloyd
    * chain; the oracle recomputes training from raw embeddings, so a
    * green check proves the store-served sample is the from-scratch
    * sample. */
  def clusterSample(spark: SparkSession, dir: String): DataFrame =
    clusterSampleOver(spark, dir, "km",
      trainCodebookCached(spark, dir, ivfBase(spark, dir)))

  /** `sim_cluster_sample` over the CORPUS-SCALED (√n-nlist) trained
    * partition — the production pairing, for the same reason as
    * `ivfKmeansScaled`: the fixed seed rule's k ∝ n codebook training
    * dominates the whole operator at 100× (measured 1 231 s, ~95 % of
    * it the k = 2 000 Lloyd chain), while the √n codebook keeps the
    * training + assignment cost near-flat per decade.  Sampling
    * semantics are IDENTICAL — quota ⌈n/5k⌉ just sees the scaled k —
    * and the oracle recomputes the scaled Lloyd chain end-to-end. */
  def clusterSampleScaled(spark: SparkSession, dir: String): DataFrame =
    clusterSampleOver(spark, dir, "kmsc",
      trainScaledCodebookCached(spark, dir, ivfBase(spark, dir)))

  private def clusterSampleOver(spark: SparkSession, dir: String,
      tag: String, cents: Seq[(Long, Array[Double], Double)]): DataFrame = {
    import spark.implicits._
    val store = kmeansStorePath(spark, dir, None, tag, cents)
    spark.read
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, cid BIGINT")
      .parquet(store.toString)
      .select($"vec_id", $"cid")
      .createOrReplaceTempView("asgn")
    spark.sql(s"WITH ${clusterSampleTail(SparkDialect)}")
  }

  /** Oracle of `sim_cluster_sample_scaled`: the √n-seeded Lloyd chain
    * (`scaledInitPred`) recomputed from raw embeddings, then the same
    * sampling tail. */
  def clusterSampleScaledSql(d: SqlDialect): String =
    s"""WITH ${kmeansCandCtes(d, scaledInitPred(d))},
       |${clusterSampleTail(d)}""".stripMargin

  /** ANN recall measurement: per query vector, the fraction of the
    * TRUE cosine top-5 (`topK` restricted to rank ≤ 5 — the exact
    * brute-force baseline) that each approximate variant recovers —
    * LSH, fixed-centroid IVF, k-means IVF, and the int8 quantized
    * serving path (its ranking deviation near ties is exactly what the
    * recall column quantifies).  Deterministic inputs make
    * approximation quality itself an oracle-checked result instead of
    * a prose claim: the DuckDB oracle recomputes all five pipelines
    * independently and must land on the same per-query fractions.
    *
    * This is a measurement harness, so it deliberately pays the cost
    * of all five pipelines (truth + 4 approximate variants);
    * production runs it on a sampled query set, not the full corpus.
    * The joins are tiny (k rows per query) — cost is dominated by the
    * pipelines themselves. */
  def recall(spark: SparkSession, dir: String): DataFrame =
    recallOver(spark, dir, Seq(
      "recall_lsh" -> (() => annLsh(spark, dir)),
      "recall_ivf" -> (() => ivf(spark, dir)),
      "recall_kmeans" -> (() => ivfKmeans(spark, dir)),
      // quantized serving emits top-10; its recall column measures the
      // top-5 cut so every variant is scored on the same k
      "recall_quantized" -> (() => {
        import spark.implicits._
        quantizedTopK(spark, dir).filter($"rank" <= 5)
      }),
      // the production serving mode: IVF candidates, int8 scores
      "recall_ivf_pq" -> (() => ivfQuantizedPersisted(spark, dir))))

  /** The rerank half of the recall harness, split out so the bench's
    * per-query table shows coarse-stage and rerank-stage regressions
    * separately: both two-stage serving modes (fixed + trained coarse
    * quantizer, exact refine).  recall_ivf_pq_rerank ≥ `recall`'s
    * recall_ivf_pq by construction — same candidates, true ordering. */
  def recallRerank(spark: SparkSession, dir: String): DataFrame =
    recallOver(spark, dir, Seq(
      "recall_ivf_pq_rerank" ->
        (() => ivfQuantizedRerankPersisted(spark, dir)),
      "recall_km_pq_rerank" ->
        (() => ivfKmeansQuantizedRerankPersisted(spark, dir))))

  /** Session-shared exact ground truth (query_id, neighbor_id) — the
    * brute-force cosine top-5, memoized once and consumed by every
    * full-truth recall harness (priced in `exact_truth_serves`). */
  private def exactTruth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    RelationCache.materialized(spark, s"recall_truth:$dir") {
      topK(spark, dir).filter($"rank" <= 5)
        .select($"query_id", $"neighbor_id")
    }
  }

  private def recallOver(spark: SparkSession, dir: String,
      variants: Seq[(String, () => DataFrame)],
      truthDf: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the truth relation feeds every variant join; uncached, Spark
    // would recompute the brute-force top-k subplan inside each one
    val truth = truthDf.getOrElse(exactTruth(spark, dir))
    val tc = truth.groupBy($"query_id").agg(count(lit(1)).as("n_true"))
    def matched(ann: DataFrame, name: String): DataFrame =
      truth.join(ann.select($"query_id", $"neighbor_id"),
          Seq("query_id", "neighbor_id"))
        .groupBy($"query_id").agg(count(lit(1)).as(name))
    val joined = variants.zipWithIndex.foldLeft(tc) {
      case (acc, ((_, ann), i)) =>
        acc.join(matched(ann(), s"m_$i"), Seq("query_id"), "left")
    }
    joined.select($"query_id" +: $"n_true" +:
      variants.zipWithIndex.map { case ((name, _), i) =>
        round(coalesce(col(s"m_$i"), lit(0L)).cast("double") / $"n_true", 6)
          .as(name)
      }: _*)
      .orderBy($"query_id")
  }

  /** Oracle form of `recall`: the four pipelines as nested-WITH
    * subqueries (their CTE names are scoped locally), joined on
    * (query_id, neighbor_id). */
  def recallSql(d: SqlDialect): String =
    recallSqlOver(d, Seq(
      "recall_lsh" -> annLshSql(d),
      "recall_ivf" -> ivfSql(d),
      "recall_kmeans" -> ivfKmeansSql(d),
      "recall_quantized" ->
        s"SELECT query_id, neighbor_id FROM (${quantizedTopKSql(d)}) qt WHERE rank <= 5",
      "recall_ivf_pq" -> ivfQuantizedSql(d)))

  /** Oracle form of `recallRerank`. */
  def recallRerankSql(d: SqlDialect): String =
    recallSqlOver(d, Seq(
      "recall_ivf_pq_rerank" -> ivfQuantizedRerankSql(d),
      "recall_km_pq_rerank" -> ivfKmeansQuantizedRerankSql(d)))

  private def recallSqlOver(d: SqlDialect,
      variants: Seq[(String, String)],
      truthSql: Option[String] = None): String = {
    val ms = variants.zipWithIndex.map { case ((_, sub), i) =>
      s"""m$i AS (
         |  SELECT t.query_id, count(*) AS m FROM truth t
         |  JOIN ($sub) a
         |    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
         |  GROUP BY t.query_id)""".stripMargin
    }.mkString(",\n")
    val cols = variants.zipWithIndex.map { case ((name, _), i) =>
      s"round(CAST(COALESCE(m$i.m, 0) AS DOUBLE) / tc.n_true, 6) AS $name"
    }.mkString(",\n  ")
    val joins = variants.indices
      .map(i => s"LEFT JOIN m$i ON m$i.query_id = tc.query_id")
      .mkString("\n")
    val truthBody = truthSql.getOrElse(
      s"""SELECT query_id, neighbor_id FROM (${topKSql(d)}) t
         |  WHERE rank <= 5""".stripMargin)
    s"""WITH truth AS (
       |  $truthBody),
       |tc AS (
       |  SELECT query_id, count(*) AS n_true FROM truth GROUP BY query_id),
       |$ms
       |SELECT tc.query_id, CAST(tc.n_true AS BIGINT) AS n_true,
       |  $cols
       |FROM tc
       |$joins
       |ORDER BY tc.query_id""".stripMargin
  }

  /** NDCG@5 discount weights on the 10⁻⁶ grid: w(r) = 10⁶/log₂(r+1),
    * rounded to integer micro-units — and the IDCG partial sums.
    * Precomputed ONCE in Scala and embedded as integer literals in
    * both the engine expressions and the oracle SQL, so the two
    * engines can never disagree on a transcendental: all per-query
    * arithmetic below is BIGINT sums of these literals, with one
    * final double division + round(·, 6). */
  private val NdcgW: Seq[Long] =
    (1 to 5).map(r => Math.round(1e6 / (Math.log(r + 1.0) / Math.log(2.0))))
  private val NdcgIdcg: Seq[Long] = NdcgW.scanLeft(0L)(_ + _).tail

  /** Graded ranking quality of the production ANN serving modes:
    * NDCG@5 against the brute-force cosine ground truth — the metric
    * that (unlike set recall) penalizes a serving mode for ranking
    * true neighbors BELOW false ones — a true neighbor pushed to
    * rank 5 behind quantization noise keeps recall flat but costs
    * 1 − 0.387 of its gain here, which is exactly the failure mode
    * int8/PQ score distortion introduces.  Relevance is binary
    * membership in the true top-5, discounted by position in the
    * VARIANT's ranking; `n_true` < 5 queries normalize by the
    * matching IDCG partial sum.
    *
    * Contains the all-pairs truth subquery BY DEFINITION → flagged
    * `baseline` in `SparkEntry.registry`; the `_sampled` twin below is the
    * scale path (√|Q| sampled truth, corpus-scaled variants).
    * Scale shape otherwise: truth is computed once (session cache)
    * and feeds both variant joins; each variant join is an equi-join
    * on (query_id, neighbor_id) + one map-side-combining sum. */
  def retrievalNdcg(spark: SparkSession, dir: String): DataFrame =
    ndcgOver(spark, dir, Seq(
      "ndcg_kmeans" -> (() => ivfKmeans(spark, dir)),
      "ndcg_ivf_pq" -> (() => ivfQuantizedPersisted(spark, dir))))

  /** Scale twin of `retrievalNdcg`: the √|Q|-sampled truth (the
    * `sim_recall_sampled` discipline) scoring the corpus-scaled
    * serving modes — the NDCG measurement that runs at 10×/100×. */
  def retrievalNdcgSampled(spark: SparkSession, dir: String): DataFrame = {
    val truth = sampledTruth(spark, dir)
    ndcgOver(spark, dir, Seq(
      "ndcg_lsh_scaled" -> (() => annLshScaled(spark, dir)),
      "ndcg_kmeans_scaled" -> (() => ivfKmeansScaled(spark, dir))),
      truthDf = Some(truth))
  }

  private def ndcgOver(spark: SparkSession, dir: String,
      variants: Seq[(String, () => DataFrame)],
      truthDf: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val truth = truthDf.getOrElse(exactTruth(spark, dir))
    val tc = truth.groupBy($"query_id").agg(count(lit(1)).as("n_true"))
    val wCase = NdcgW.zipWithIndex.foldLeft(lit(0L)) {
      case (acc, (w, i)) => when($"rank" === (i + 1), w).otherwise(acc)
    }
    def dcg(ann: DataFrame, name: String): DataFrame =
      truth.join(ann.select($"query_id", $"neighbor_id", $"rank"),
          Seq("query_id", "neighbor_id"))
        .groupBy($"query_id").agg(sum(wCase).as(name))
    val joined = variants.zipWithIndex.foldLeft(tc) {
      case (acc, ((_, ann), i)) =>
        acc.join(dcg(ann(), s"d_$i"), Seq("query_id"), "left")
    }
    val idcg = NdcgIdcg.zipWithIndex.foldLeft(lit(NdcgIdcg.last)) {
      case (acc, (c, i)) => when($"n_true" === (i + 1), c).otherwise(acc)
    }
    joined.select($"query_id" +: $"n_true" +:
      variants.zipWithIndex.map { case ((name, _), i) =>
        round(coalesce(col(s"d_$i"), lit(0L)).cast("double")
          / idcg.cast("double"), 6).as(name)
      }: _*)
      .orderBy($"query_id")
  }

  /** Oracle form of `retrievalNdcg` — same weight literals, same
    * BIGINT-sum-then-divide arithmetic. */
  def retrievalNdcgSql(d: SqlDialect): String =
    ndcgSqlOver(d, Seq(
      "ndcg_kmeans" -> ivfKmeansSql(d),
      "ndcg_ivf_pq" -> ivfQuantizedSql(d)))

  /** Oracle form of `retrievalNdcgSampled`. */
  def retrievalNdcgSampledSql(d: SqlDialect): String =
    ndcgSqlOver(d, Seq(
      "ndcg_lsh_scaled" -> annLshScaledSql(d),
      "ndcg_kmeans_scaled" -> ivfKmeansScaledSql(d)),
      truthSql = Some(sampledTruthSql(d)))

  private def ndcgSqlOver(d: SqlDialect,
      variants: Seq[(String, String)],
      truthSql: Option[String] = None): String = {
    val wCase = "CASE a.rank " + NdcgW.zipWithIndex.map {
      case (w, i) => s"WHEN ${i + 1} THEN $w"
    }.mkString(" ") + " ELSE 0 END"
    val idcg = "CASE tc.n_true " + NdcgIdcg.zipWithIndex.init.map {
      case (c, i) => s"WHEN ${i + 1} THEN $c"
    }.mkString(" ") + s" ELSE ${NdcgIdcg.last} END"
    val ms = variants.zipWithIndex.map { case ((_, sub), i) =>
      s"""m$i AS (
         |  SELECT t.query_id, sum($wCase) AS dcg FROM truth t
         |  JOIN ($sub) a
         |    ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
         |  GROUP BY t.query_id)""".stripMargin
    }.mkString(",\n")
    val cols = variants.zipWithIndex.map { case ((name, _), i) =>
      s"""round(CAST(COALESCE(m$i.dcg, 0) AS BIGINT)
         |    / CAST($idcg AS DOUBLE), 6) AS $name""".stripMargin
    }.mkString(",\n  ")
    val joins = variants.indices
      .map(i => s"LEFT JOIN m$i ON m$i.query_id = tc.query_id")
      .mkString("\n")
    val truthBody = truthSql.getOrElse(
      s"""SELECT query_id, neighbor_id FROM (${topKSql(d)}) t
         |  WHERE rank <= 5""".stripMargin)
    s"""WITH truth AS (
       |  $truthBody),
       |tc AS (
       |  SELECT query_id, count(*) AS n_true FROM truth GROUP BY query_id),
       |$ms
       |SELECT tc.query_id, CAST(tc.n_true AS BIGINT) AS n_true,
       |  $cols
       |FROM tc
       |$joins
       |ORDER BY tc.query_id""".stripMargin
  }

  /** Brute-force top-5 ground truth restricted to a DETERMINISTIC
    * √|Q| sample of the standing query set — the piece that lets the
    * recall harness run at 10×/100× where the full-query-set truth
    * (|Q|·n scoring, |Q| = n/100) is the one cost that cannot be
    * blocked.  The sample is a ranked salted-hash pick (the
    * `text_weighted_sample` coin discipline, rank form): order query
    * ids by h60(id·salt), keep the first ⌈√|Q|⌉ — no float threshold
    * to disagree on, and the same ids come out of both engines at any
    * scale.  Truth cost is then ~√|Q|·n per run (√50 000·5M ≈ 10⁹
    * dim-64 dots at the 100× fixture — minutes, not hours), while
    * recall itself stays an oracle-checked RESULT.  Ranking arithmetic
    * mirrors `topKSql` exactly (unrounded cosine, nid tie-break). */
  private def sampledTruthSql(d: SqlDialect): String =
    s"""SELECT query_id, neighbor_id FROM (
       |  WITH ${baseCtes(d)},
       |  ${qsampleCtes(d)},
       |  q AS (
       |    SELECT n.vec_id, n.v, n.nrm
       |    FROM n JOIN qsample s ON s.vec_id = n.vec_id),
       |  p AS (
       |    SELECT q.vec_id AS qid, n.vec_id AS nid,
       |      ${d.dot("q.v", "n.v")} / (q.nrm * n.nrm) AS cs
       |    FROM q JOIN n ON q.vec_id != n.vec_id),
       |  r AS (
       |    SELECT qid, nid,
       |      row_number() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS rn
       |    FROM p)
       |  SELECT qid AS query_id, nid AS neighbor_id FROM r WHERE rn <= 5) st""".stripMargin

  /** Deterministic √|Q| query-sample CTEs — `qn`, `qs`, `qsample` —
    * over the standing query set (vec_id ≡ 0 mod 100).  Expects the
    * `n(vec_id, …)` CTE in scope.  Ranked salted-hash pick: order by
    * h60(id·salt) (vec_id tie-break), keep ⌈√|Q|⌉ — integer-exact in
    * both engines (IEEE sqrt/ceil on an integer count, no float
    * probability threshold).  Shared by the sampled recall harnesses
    * here and in [[Retrieval]]. */
  private[ops] def qsampleCtes(d: SqlDialect): String = {
    val salted = d.h60(s"${d.castStr("vec_id")} || '_qsample'")
    s"""qn AS (
       |    SELECT count(*) AS nq FROM n WHERE vec_id % 100 = 0),
       |  qs AS (
       |    SELECT vec_id,
       |      row_number() OVER (ORDER BY $salted, vec_id) AS srn
       |    FROM n WHERE vec_id % 100 = 0),
       |  qsample AS (
       |    SELECT qs.vec_id FROM qs CROSS JOIN qn
       |    WHERE qs.srn <= CAST(ceil(sqrt(CAST(qn.nq AS DOUBLE))) AS BIGINT))""".stripMargin
  }

  /** Engine-side DataFrame twin of [[qsampleCtes]] — the same
    * deterministic √|Q| ranked salted-hash pick, computed WINDOW-FREE:
    * the sample is the ⌈√|Q|⌉ smallest rows under the total order
    * (h60(id·salt), vec_id), which `orderBy().limit(k)` plans as
    * TakeOrderedAndProject — per-partition top-K heaps merged K·P on
    * the driver — where the SQL's rank<=k global window funnels the
    * whole query set through ONE partition (r16).  The window form
    * stays the DuckDB oracle text; the sampled-harness specs pin
    * engine/oracle hash parity over it.  Output: (vec_id). */
  private[ops] def qsampleDF(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val q = ivfBase(spark, dir).filter(col("vec_id") % 100 === 0)
    val k = math.ceil(math.sqrt(q.count().toDouble)).toInt
    q.select(col("vec_id"),
        expr(SparkDialect.h60(
          s"${SparkDialect.castStr("vec_id")} || '_qsample'")).as("h"))
      .orderBy(col("h"), col("vec_id"))
      .limit(k)
      .select("vec_id")
  }

  /** The session-shared sampled ground truth (query_id, neighbor_id):
    * engine DataFrame form of [[sampledTruthSql]] — sample via
    * [[qsampleDF]] (window-free), brute-force scoring with the same
    * codegen'd `graft_dot` fold, per-query top-5 via a PARTITIONED
    * window (narrow by construction).  Every sampled harness
    * (recall/NDCG/ADC/knn/nprobe) consumes this one memo; the
    * single-statement SQL (global-window sample included) stays the
    * DuckDB oracle. */
  private def sampledTruth(spark: SparkSession, dir: String): DataFrame =
    RelationCache.materialized(spark, s"recall_truth_sampled:$dir") {
      import org.apache.spark.sql.functions._
      val n = ivfBase(spark, dir).select("vec_id", "v", "nrm")
      val q = n.join(qsampleDF(spark, dir), "vec_id")
      q.as("q").join(n.as("n"), col("q.vec_id") =!= col("n.vec_id"))
        .select(col("q.vec_id").as("qid"), col("n.vec_id").as("nid"),
          expr(s"${SparkDialect.dot("q.v", "n.v")} / (q.nrm * n.nrm)")
            .as("cs"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("qid")).orderBy(col("cs").desc, col("nid"))))
        .filter(col("rn") <= 5)
        .select(col("qid").as("query_id"), col("nid").as("neighbor_id"))
    }

  /** Sampled-ground-truth recall harness — `sim_recall`'s measurement
    * over the √|Q| query sample, scoring the two SCALE-SAFE serving
    * paths (corpus-scaled LSH, √n-trained-k-means IVF) so the whole
    * statement is runnable at 10×/100× fixtures where the full
    * harness is excluded as a registered baseline.  The variant
    * pipelines still serve ALL queries (that is the production
    * workload, measured separately); only the ground-truth join
    * restricts to the sample, because truth is the brute-force part.
    * Semantics otherwise identical to `recall`. */
  def recallSampledSql(d: SqlDialect): String =
    recallSqlOver(d, Seq(
      "recall_lsh_scaled" -> annLshScaledSql(d),
      "recall_kmeans_scaled" -> ivfKmeansScaledSql(d)),
      truthSql = Some(sampledTruthSql(d)))

  /** Engine side of `sim_recall_sampled`: sampled truth from the
    * shared SQL (cached — it feeds every variant join), variants from
    * the engine forms (scaled LSH in SQL, scaled k-means served from
    * the persisted kernel store). */
  def recallSampled(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val truth = sampledTruth(spark, dir)
    recallOver(spark, dir, Seq(
      "recall_lsh_scaled" -> (() => annLshScaled(spark, dir)),
      "recall_kmeans_scaled" -> (() => ivfKmeansScaled(spark, dir))),
      truthDf = Some(truth))
  }

  /** Sampled-truth twin of `sim_adc_recall` — the measurement that
    * runs at 10×/100× where the full harness is excluded as a
    * registered baseline (its truth is the |Q|·n brute-force scan;
    * at the sf0.1 oracle it is the suite's single heaviest DuckDB
    * row, ~47 s).  Same √|Q| deterministic query sample and shared
    * cached truth relation as `sim_recall_sampled`; the two ADC
    * serving pipelines (sampled vs Lloyd-trained codebooks) still
    * serve ALL queries — only the ground-truth join restricts to the
    * sample.  Keeps `adcRecall`'s purpose (the 64×-compression
    * recall number, trained-codebook delta included) measurable at
    * every fixture size. */
  def adcRecallSampled(spark: SparkSession, dir: String): DataFrame = {
    val truth = sampledTruth(spark, dir)
    recallOver(spark, dir, Seq(
      "recall_adc" -> (() => ivfAdc(spark, dir)),
      "recall_adc_trained" -> (() => ivfAdcTrained(spark, dir))),
      truthDf = Some(truth))
  }

  /** Oracle form of `adcRecallSampled`: the two full ADC pipelines as
    * nested subqueries against the sampled truth. */
  def adcRecallSampledSql(d: SqlDialect): String =
    recallSqlOver(d, Seq(
      "recall_adc" -> ivfAdcSql(d),
      "recall_adc_trained" -> ivfAdcTrainedSql(d)),
      truthSql = Some(sampledTruthSql(d)))

  /** The cached base relation for the persisted-index paths:
    * (vec_id, embedding, v, nrm) — raw floats for the index write,
    * double work form + norm for training/scoring. */
  private[ops] def ivfBase(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    RelationCache.cached(spark, s"ivf_base:$dir") {
      Tables.embeddings(spark, dir)
        .select($"vec_id", $"embedding",
          expr(SparkDialect.toDoubleArr("embedding")).as("v"))
        .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
    }
  }

  /** Index store path for the dataset at `dir`: the readable sanitized
    * name, the full path's hash (two paths that sanitize alike cannot
    * collide), and a cheap CONTENT fingerprint — row count + max
    * vec_id — so a dataset regenerated in place lands on a different
    * store and can never be served stale inverted lists.  (A
    * same-count same-max rewrite still aliases; callers mutating data
    * under a fixed id space should version the dataset path itself.)
    * `storeBase` overrides the default `java.io.tmpdir` root — the
    * embedding-a-library case where the index must live next to the
    * data (any Hadoop-visible URI works). */
  private[ops] def indexStorePath(spark: SparkSession, dir: String,
      tag: String, storeBase: Option[String],
      n: DataFrame, params: String = ""): org.apache.hadoop.fs.Path = {
    import org.apache.spark.sql.functions._
    // The (count, max vec_id) fingerprint is a whole Spark job per
    // call, and EVERY persisted-store serve re-derives its store path
    // — memoize it per (session, relation instance).  Relations here
    // come out of RelationCache, so the instance is stable for the
    // session and the memo dies with it; a regenerated dataset goes
    // through RelationCache.clear, which drops this entry too.  The
    // instance token (not identityHashCode) keys the memo: tokens are
    // never reused, so a fresh relation can never inherit a dead
    // instance's fingerprint, and maintainStore's drifted-lists
    // relation can never alias ivfBase's on the same dir.
    val fp = RelationCache.cachedScalar(spark,
      s"index_fp:$dir:${RelationCache.instanceToken(n)}") {
      n.agg(count(lit(1)), max(col("vec_id"))).head()
    }
    require(fp.getLong(0) > 0,
      s"cannot key an IVF index for an EMPTY embeddings relation at $dir")
    // `params` folds the family's CAP SETTINGS (codebook size k,
    // seed stride) into the name: two cap settings over the same
    // corpus produce the same (count, max) fingerprint but different
    // list contents, and without the params segment a store built
    // under the old cap would silently serve stale lists (SCALING.md
    // round-13: "wipe /tmp/graft_ivf_* between cap changes" — now
    // structural, not operational)
    val ps = if (params.isEmpty) "" else s"_$params"
    new org.apache.hadoop.fs.Path(
      storeBase.getOrElse(sys.props("java.io.tmpdir")),
      s"graft_ivf_${tag}_" + dir.replaceAll("[^A-Za-z0-9.]", "_") +
        "_" + java.lang.Integer.toHexString(dir.hashCode) +
        s"_${fp.getLong(0)}_${fp.getLong(1)}$ps")
  }

  /** Build-if-absent with an atomic publish: `build` writes into a
    * temp sibling, which is renamed onto the final path in one FS
    * operation — a concurrent builder that loses the race (the final
    * path appeared meanwhile, or the rename failed) discards its temp
    * dir, so readers only ever see a complete index.  Existence goes
    * through Hadoop's FileSystem so the check is correct on non-local
    * storage too (java.io.File is always false for hdfs:// / s3a://).
    *
    * The published marker (`_GRAFT_PUBLISHED`) is OWNED BY THIS
    * PROTOCOL, written after the winning rename — never inferred from
    * Spark's `_SUCCESS`.  Under
    * `spark.sql.sources.partitionOverwriteMode=dynamic` (the session
    * default here, needed by the bar store's MERGE) a partitioned
    * `mode("overwrite")` write commits through the dynamic-overwrite
    * staging path, which produces NO `_SUCCESS` at the output root —
    * so a marker check against `_SUCCESS` never passes and every
    * "build-if-absent" call silently rebuilt the whole index into a
    * tmp sibling and discarded it (measured: every persisted-store
    * serve paid a full store build).  `_SUCCESS` is still accepted as
    * evidence of a complete store for indexes published by older
    * builds of this library. */
  private[ops] def publishIndex(spark: SparkSession,
      store: org.apache.hadoop.fs.Path)(build: String => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val published = new Path(store, "_GRAFT_PUBLISHED")
    if (!fs.exists(published) && !fs.exists(new Path(store, "_SUCCESS"))) {
      // sweep tmp siblings leaked by CRASHED builders; the one-hour age
      // bar keeps a live concurrent build's tmp safe from the sweep
      val stale = fs.globStatus(
        new Path(store.getParent, store.getName + "_tmp_*"))
      if (stale != null) {
        val cutoff = System.currentTimeMillis() - 3600L * 1000L
        stale.filter(_.getModificationTime < cutoff)
          .foreach(s => fs.delete(s.getPath, true))
      }
      val tmp = new Path(store.getParent,
        store.getName + "_tmp_" + java.util.UUID.randomUUID().toString)
      build(tmp.toString)
      // the marker ships INSIDE tmp so marker and data publish in the
      // same atomic rename — written after the build, so a builder
      // that crashes mid-build leaves an unmarked tmp (swept above),
      // and one that crashes between rename and marker cannot exist:
      // with a post-rename marker, that window left a complete but
      // permanently marker-less store that every later call rebuilt
      // into tmp and discarded forever
      fs.create(new Path(tmp, "_GRAFT_PUBLISHED"), true).close()
      if (fs.exists(store) || !fs.rename(tmp, store))
        fs.delete(tmp, true) // lost the race: discard our build
      else {
        // a rename that raced a winner can MOVE tmp INSIDE the existing
        // store under posix semantics and still return true — remove
        // the nested artifact so list scans never see mixed depths
        val nested = new Path(store, tmp.getName)
        if (fs.exists(nested)) fs.delete(nested, true)
      }
    }
  }

  /** Probe-side serving over a persisted inverted-list store: read
    * ONLY the probed cid partitions (the probed set — ≤ nprobe tiny
    * longs per query, a scalar-plan value — lands in the scan's
    * `PartitionFilters`, so unprobed list files are never opened),
    * then rank candidates with the exact cosine arithmetic.  At scale
    * a query touches nprobe/k of the index bytes regardless of corpus
    * size. */
  private def servePersisted(spark: SparkSession,
      store: org.apache.hadoop.fs.Path, probe: DataFrame,
      queries: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val probedCids = probe.select($"cid").distinct().as[Long].collect().sorted
    // pin the partition column type (inference would read cid=150 as
    // INT and the long comparison's cast could fall out of
    // PartitionFilters)
    val lists = spark.read
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, cid BIGINT")
      .parquet(store.toString)
      .filter($"cid".isin(probedCids: _*))
      .select($"vec_id", $"cid",
        expr(SparkDialect.toDoubleArr("embedding")).as("nv"))
      .withColumn("nn", expr("sqrt(graft_dot(nv, nv))"))
    // candidates are distinct on (qid, nid), so ranking needs no dedup:
    // every store writer gives each row of the vec_id-keyed embeddings
    // one rank-1 `cid` (`assignedCid`), and a query's probed cids are
    // distinct (`probeCids`)
    lists.join(broadcast(probe), "cid")
      .filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("nid"), $"nv", $"nn")
      .join(broadcast(queries), "qid")
      .select($"qid", $"nid",
        expr("graft_dot(qv, nv)").divide($"qn" * $"nn").as("cs"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"qid").orderBy($"cs".desc, $"nid")))
      .filter($"rn" <= 5)
      .select($"qid".as("query_id"), $"nid".as("neighbor_id"),
        round($"cs", 6).as("cosine"), $"rn".cast("long").as("rank"))
      .orderBy($"query_id", $"rank")
  }

  /** IVF with a PERSISTED index — the 100 TB deployment shape of
    * `sim_ann_ivf`: the inverted lists are written ONCE as a parquet
    * table partitioned by centroid id (`cid=<id>/` directories), and
    * each probe then reads only the probed list partitions
    * (`servePersisted`).  Same centroids (vec_id ≡ 50 mod 100),
    * assignment tie-break, and scoring arithmetic as `ivfSql`; the
    * float parquet round-trip is exact, so results are identical to
    * `sim_ann_ivf` and the same oracle SQL verifies this path.
    *
    * The store location is a parameter (default: tmpdir), the store
    * name carries a content fingerprint, the build is
    * publish-by-rename (`indexStorePath` / `publishIndex`).
    *
    * Rebuild-on-absent is carried by the `storeBase` overload (which
    * reads the store on every call and rebuilds a deleted one); this
    * NO-ARG form is additionally session-memoized (r15) — within a
    * session, repeat calls serve the checkpointed result and do NOT
    * re-read (or rebuild) the store.  `RelationCache.clear(spark)` is
    * the refresh hook: after clearing, the next call re-runs the
    * build-if-absent path.  The same contract applies to every no-arg
    * memoized persisted serve below (kmeans/quantized/rerank). */
  def ivfPersisted(spark: SparkSession, dir: String): DataFrame =
    RelationCache.materialized(spark, s"serve_ivf_persisted:$dir") {
      ivfPersisted(spark, dir, None)
    }

  def ivfPersisted(spark: SparkSession, dir: String,
                   storeBase: Option[String]): DataFrame = {
    import spark.implicits._
    val n = ivfBase(spark, dir)
    // capped fixed codebook + kernel/unrolled assignment — no n·k
    // crossJoin, no per-vector window; same (cs desc, cid asc)
    // contract as the oracle's asgn0 chain
    val cents = fixedCentsCached(spark, dir, n)
    val store = indexStorePath(spark, dir, "fix", storeBase, n,
      s"k${cents.size}")
    publishIndex(spark, store) { tmp =>
      assignedCid(n, cents)
        .select($"vec_id", $"embedding", $"cid")
        .write.mode("overwrite").partitionBy("cid").parquet(tmp)
    }
    val probe = probeCids(n.filter($"vec_id" % 100 === 0), cents)
    servePersisted(spark, store, probe,
      n.filter($"vec_id" % 100 === 0)
        .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn")))
  }

  /** Persisted IVF over the TRAINED k-means codebook — `ivfKmeans`'s
    * centroids with `ivfPersisted`'s storage shape: the production
    * combination (train once, persist the lists, serve by partition
    * pruning).  Assignment, probing and scoring reuse the exact
    * arithmetic of `ivfKmeans`, so the results are identical to the
    * in-memory operator and the same `ivfKmeansSql` oracle verifies
    * this path.  The store is fingerprint-keyed and publish-by-rename
    * like the fixed variant; the trained codebook is deterministic
    * (quantized sums, no RNG), so a rebuilt index is bit-identical. */
  def ivfKmeansPersisted(spark: SparkSession, dir: String): DataFrame =
    RelationCache.materialized(spark, s"serve_km_persisted:$dir") {
      ivfKmeansPersisted(spark, dir, None)
    }

  def ivfKmeansPersisted(spark: SparkSession, dir: String,
                         storeBase: Option[String]): DataFrame =
    kmeansPersistedServe(spark, dir, storeBase, "km",
      trainCodebookCached(spark, dir, ivfBase(spark, dir)))

  /** Corpus-scaled-nlist IVF — `ivfKmeansPersisted` with a codebook
    * of ~√n trained centroids instead of the fixed seed rule (see
    * `scaledInitPred` for the sizing argument).  This is the variant
    * whose per-query cost stays near-flat as the corpus grows: coarse
    * comparisons AND probed-list length both scale as √n, where the
    * fixed rule's k ∝ n coarse stage dominates at 100× (SCALING.md).
    * Persisted `cid=`-partitioned store, partition-pruned serving,
    * same exact arithmetic — `ivfKmeansScaledSql` recomputes the
    * whole chain from raw embeddings as the oracle. */
  def ivfKmeansScaled(spark: SparkSession, dir: String): DataFrame =
    RelationCache.materialized(spark, s"serve_kmsc:$dir") {
      ivfKmeansScaled(spark, dir, None)
    }

  def ivfKmeansScaled(spark: SparkSession, dir: String,
                      storeBase: Option[String]): DataFrame =
    kmeansPersistedServe(spark, dir, storeBase, "kmsc",
      trainScaledCodebookCached(spark, dir, ivfBase(spark, dir)))

  /** Build-if-absent of a trained-codebook `cid=`-partitioned float
    * store — shared by the persisted serving variants and the
    * index-health report. */
  private def kmeansStorePath(spark: SparkSession, dir: String,
      storeBase: Option[String], tag: String,
      cents: Seq[(Long, Array[Double], Double)]): org.apache.hadoop.fs.Path = {
    import spark.implicits._
    val n = ivfBase(spark, dir)
    val store = indexStorePath(spark, dir, tag, storeBase, n,
      s"k${cents.size}")
    publishIndex(spark, store) { tmp =>
      assignedCid(n, cents)
        .select($"vec_id", $"embedding", $"cid")
        .write.mode("overwrite").partitionBy("cid").parquet(tmp)
    }
    store
  }

  /** Force the build-if-absent SHARED artifacts of the k-means
    * serving family for `dir`: the trained codebooks (fixed-seed and
    * √n-scaled) and their `cid=`-partitioned stores.  Idempotent (a
    * published store is a fingerprint-keyed no-op).  Bench times this
    * as its own labeled `build:` line so the one-time training/store
    * cost never silently attributes to whichever consumer query runs
    * first (alphabetically) in a session — the per-query bench rows
    * then measure pure serve cost. */
  def prebuildKmeansStores(spark: SparkSession, dir: String): Unit = {
    val n = ivfBase(spark, dir)
    val cents = trainCodebookCached(spark, dir, n)
    kmeansStorePath(spark, dir, None, "km", cents)
    val scaled = trainScaledCodebookCached(spark, dir, n)
    kmeansStorePath(spark, dir, None, "kmsc", scaled)
    // the trained-int8 store (pqkm) belongs to this family too — its
    // build needs the codebook trained above, so forcing it here keeps
    // all Lloyd-dependent store cost on this one labeled line
    ivfKmeansQuantizedPersisted(spark, dir).limit(1).count()
    // warm the family's memoized SERVE relations (see the serving-
    // pipeline memo note above `topK`): their one-time cost lands on
    // this labeled line, so RUNS=1 artifacts don't attribute it to the
    // first consumer query
    ivfKmeans(spark, dir).count()
    ivfKmeansPersisted(spark, dir).count()
    ivfKmeansScaled(spark, dir).count()
    ivfKmeansQuantizedRerankPersisted(spark, dir).count()
    ()
  }

  /** Force the FIXED-codebook family's build-if-absent stores (`fix`
    * float, `pq` int8) the same way — without this, RUNS=1 artifacts
    * attribute each store's build to its first consumer
    * (`sim_ann_ivf_persisted` carried the fix-store build at the 100×
    * fixture).  Runs one tiny serve per store (the publish blocks live
    * inside the serve paths); idempotent once published. */
  def prebuildFixedStores(spark: SparkSession, dir: String): Unit = {
    ivfPersisted(spark, dir).count()
    ivfQuantizedPersisted(spark, dir).count()
    // also warm the fixed-family session assignment relation — under
    // RUNS=1 its n×k kernel pass otherwise lands on the first
    // alphabetical consumer (sim_ann_ivf) instead of this labeled line
    fixedAsgn(spark, dir).count()
    // warm the family's memoized serve relations (same discipline as
    // prebuildKmeansStores)
    ivf(spark, dir).count()
    ivfQuantizedRerankPersisted(spark, dir).count()
    ()
  }

  /** Bench-priced warm of the EXACT-truth serving caches: the
    * brute-force top-k relation, the rank≤5 truth derived from it,
    * and the two fixed-grid serving pipelines the full recall
    * harnesses score (`annLsh`, `quantizedTopK`).  All are registered
    * scale BASELINES — the 10×/100× smokes exclude every consumer, so
    * no selected query `needs` this build there and the quadratic
    * truth is never computed at scale. */
  def prebuildExactTruth(spark: SparkSession, dir: String): Unit = {
    exactTruth(spark, dir).count()
    annLsh(spark, dir).count()
    quantizedTopK(spark, dir).count()
    ()
  }

  /** Bench-priced warm of the SAMPLED-truth cache (√|Q|·n scoring —
    * the scale-safe truth) and the corpus-scaled LSH serve shared by
    * the sampled recall/NDCG harnesses and `sim_ann_lsh_scaled`. */
  def prebuildSampledTruth(spark: SparkSession, dir: String): Unit = {
    sampledTruth(spark, dir).count()
    annLshScaled(spark, dir).count()
    ()
  }

  /** Index-health report over the persisted k-means store: per-list
    * vector count, corpus fraction, and balance (count / ideal-even
    * count — 1.0 is a perfectly balanced codebook; a list with
    * balance k is a skew hot-spot whose probes read k× the ideal
    * bytes).  This is the signal a production deployment watches to
    * decide WHEN to retrain/rebuild (`IndexMaintenance`): list skew
    * drifts as appended data shifts the corpus distribution away
    * from the codebook's training snapshot.  Reads ONLY the store
    * (counts per `cid=` partition — column-pruned to the partition
    * key); `indexHealthSql` recomputes assignment from raw
    * embeddings, so the green oracle proves the persisted lists ARE
    * the assignment semantics, end-to-end. */
  def indexHealth(spark: SparkSession, dir: String): DataFrame =
    indexHealth(spark, dir, None)

  def indexHealth(spark: SparkSession, dir: String,
      storeBase: Option[String]): DataFrame = {
    import spark.implicits._
    val n = ivfBase(spark, dir)
    val cents = trainCodebookCached(spark, dir, n)
    val store = kmeansStorePath(spark, dir, storeBase, "km", cents)
    listHealth(spark.read.parquet(store.toString))
      .select($"cid", $"n_vecs", $"frac", $"balance").orderBy($"cid")
  }

  /** Per-partition health relation over any integer-partitioned list
    * store — the ONE definition of the frac/balance expressions,
    * shared by `indexHealth`, `maintainStore`'s fold AND the lexical
    * store's `LexIndex.healthOf` (partCol "tshard") so the engine and
    * the `indexHealthSql`/`indexMaintainSql`/`lexIndexHealthSql`
    * oracles cannot drift.  `extra` adds per-partition aggregates
    * (e.g. the lexical store's distinct-term count) next to the row
    * count. */
  private[ops] def listHealth(lists: DataFrame, partCol: String = "cid",
      countAlias: String = "n_vecs",
      extra: Seq[org.apache.spark.sql.Column] = Nil): DataFrame = {
    val spark = lists.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val h = lists.groupBy(col(partCol).cast("long").as(partCol))
      .agg(count(lit(1)).as(countAlias), extra: _*)
    val t = h.agg(sum(col(countAlias)).as("total"), count(lit(1)).as("k"))
    h.crossJoin(broadcast(t))
      .withColumn("frac",
        round(col(countAlias).cast("double") / $"total", 6))
      .withColumn("balance",
        round(col(countAlias).cast("double") * $"k" / $"total", 6))
  }

  /** The maintenance decision + rebuild `indexHealth`'s Scaladoc
    * promises: measure per-list balance over the persisted k-means
    * store, and when the worst list exceeds `maxBalance` (its probes
    * read that many × the ideal bytes), retrain a RIGHT-SIZED (√n)
    * codebook from the store's CURRENT contents — original corpus
    * plus whatever appends drifted it — and publish a
    * fresh store under the rebuilt contents' own fingerprint
    * (build-if-absent, atomic rename: re-running maintenance on the
    * same drifted store is idempotent, and readers of the old store
    * are never disturbed — callers re-point, as with every
    * caller-managed lifecycle here).  Returns a one-row report:
    * (n_vecs, k, worst_balance, rebuilt, k_after, worst_after).
    * Balance uses `indexHealth`'s exact expression, so the no-op
    * branch is oracle-checkable against the raw-embedding SQL chain. */
  def indexMaintain(spark: SparkSession, dir: String): DataFrame =
    indexMaintain(spark, dir, None, 3.0)

  def indexMaintain(spark: SparkSession, dir: String,
      storeBase: Option[String], maxBalance: Double): DataFrame = {
    import spark.implicits._
    val n = ivfBase(spark, dir)
    val cents = trainCodebookCached(spark, dir, n)
    val store = kmeansStorePath(spark, dir, storeBase, "km", cents)
    maintainStore(spark, dir, store.toString, storeBase, maxBalance)
  }

  /** Maintenance over an explicit store path — the case where the
    * lists have drifted from the corpus the codebook was trained on. */
  def maintainStore(spark: SparkSession, dir: String, storePath: String,
      storeBase: Option[String], maxBalance: Double): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def worstOf(lists: DataFrame): (Long, Long, Double) = {
      val r = listHealth(lists)
        .agg(max($"total").as("total"), max($"k").as("k"),
          max($"balance").as("worst"))
        .head()
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    }
    val lists = spark.read.parquet(storePath)
    val (nVecs, k, worst) = worstOf(lists)
    if (worst <= maxBalance) {
      Seq((nVecs, k, worst, false, k, worst))
        .toDF("n_vecs", "k", "worst_balance", "rebuilt",
          "k_after", "worst_after")
    } else {
      val base = lists.select($"vec_id", $"embedding",
          expr(SparkDialect.toDoubleArr("embedding")).as("v"))
        .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
      val store2 = indexStorePath(spark, dir, "kmr", storeBase, base,
        s"s${scaledStride(base)}")
      // training lives INSIDE the build closure: the idempotent
      // re-run (store already published) must not pay the Lloyd loop
      publishIndex(spark, store2) { tmp =>
        val cents2 = trainCodebook(base, scaledStride(base), 0L)
        assignedCid(base, cents2)
          .select($"vec_id", $"embedding", $"cid")
          .write.mode("overwrite").partitionBy("cid").parquet(tmp)
      }
      val (_, k2, worst2) = worstOf(spark.read.parquet(store2.toString))
      Seq((nVecs, k, worst, true, k2, worst2))
        .toDF("n_vecs", "k", "worst_balance", "rebuilt",
          "k_after", "worst_after")
    }
  }

  /** Oracle for `indexMaintain`'s no-op branch (the only branch raw
    * fixture corpora can reach — their km stores are near-balanced):
    * the same `asgn` chain as `indexHealthSql`, folded to the report
    * row.  The rebuild branch is spec-covered on a deliberately
    * skew-appended store. */
  def indexMaintainSql(d: SqlDialect): String = {
    s"""WITH ${kmeansCandCtes(d)},
       |h AS (
       |  SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs
       |  FROM asgn GROUP BY cid),
       |t AS (
       |  SELECT CAST(sum(n_vecs) AS BIGINT) AS total,
       |    CAST(count(*) AS BIGINT) AS k FROM h),
       |w AS (
       |  SELECT max(round(CAST(h.n_vecs AS DOUBLE) * t.k / t.total, 6))
       |    AS worst
       |  FROM h CROSS JOIN t)
       |SELECT t.total AS n_vecs, t.k AS k, w.worst AS worst_balance,
       |  FALSE AS rebuilt, t.k AS k_after, w.worst AS worst_after
       |FROM t CROSS JOIN w""".stripMargin
  }

  /** Oracle for `indexHealth`: the unrolled k-means chain's `asgn`
    * relation grouped per centroid — no store, pure SQL from raw
    * embeddings. */
  def indexHealthSql(d: SqlDialect): String = {
    s"""WITH ${kmeansCandCtes(d)},
       |h AS (
       |  SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs
       |  FROM asgn GROUP BY cid),
       |t AS (
       |  SELECT CAST(sum(n_vecs) AS BIGINT) AS total,
       |    CAST(count(*) AS BIGINT) AS k FROM h)
       |SELECT h.cid, h.n_vecs,
       |  round(CAST(h.n_vecs AS DOUBLE) / t.total, 6) AS frac,
       |  round(CAST(h.n_vecs AS DOUBLE) * t.k / t.total, 6) AS balance
       |FROM h CROSS JOIN t
       |ORDER BY cid""".stripMargin
  }

  /** Shared build-if-absent + partition-pruned float serving over a
    * trained codebook: persist `cid=` lists, probe nprobe=2, serve
    * with `servePersisted` — the tail of both k-means persisted
    * variants (fixed-seed `km`, √n-scaled `kmsc` store tags). */
  private def kmeansPersistedServe(spark: SparkSession, dir: String,
      storeBase: Option[String], tag: String,
      cents: Seq[(Long, Array[Double], Double)]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val n = ivfBase(spark, dir)
    val store = kmeansStorePath(spark, dir, storeBase, tag, cents)
    val probe = probeCids(n.filter($"vec_id" % 100 === 0), cents)
    servePersisted(spark, store, probe,
      n.filter($"vec_id" % 100 === 0)
        .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn")))
  }

  /** Per-query top-`topn` candidates (qid, nid, vrank) served from
    * the persisted trained-k-means store — the vector modality of
    * `Retrieval.hybridRrfAnn`.  Ranks use the hybrid's discipline
    * (cosine rounded to the 10⁻⁶ grid BEFORE ranking, nid
    * tie-break), identical to `kmeansCandCtes` + ranking in the
    * oracle SQL; serving from the store instead of re-deriving the
    * Lloyd chain per reference is what keeps the hybrid's vector
    * side at store-serve cost. */
  private[ops] def kmeansStoreTopN(spark: SparkSession, dir: String,
      topn: Int): DataFrame =
    kmeansStoreTopNOver(spark, dir, topn, "km",
      trainCodebookCached(spark, dir, ivfBase(spark, dir)))

  /** `kmeansStoreTopN` over the √n-scaled codebook/store — the vector
    * modality of `Retrieval.hybridRrfAnnScaled`. */
  private[ops] def kmeansStoreTopNScaled(spark: SparkSession, dir: String,
      topn: Int): DataFrame =
    kmeansStoreTopNOver(spark, dir, topn, "kmsc",
      trainScaledCodebookCached(spark, dir, ivfBase(spark, dir)))

  private def kmeansStoreTopNOver(spark: SparkSession, dir: String,
      topn: Int, tag: String,
      cents: Seq[(Long, Array[Double], Double)]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val n = ivfBase(spark, dir)
    val store = kmeansStorePath(spark, dir, None, tag, cents)
    val probe = probeCids(n.filter($"vec_id" % 100 === 0), cents)
    val queries = n.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn"))
    val probedCids = probe.select($"cid").distinct().as[Long].collect().sorted
    val lists = spark.read
      .schema("vec_id BIGINT, embedding ARRAY<FLOAT>, cid BIGINT")
      .parquet(store.toString)
      .filter($"cid".isin(probedCids: _*))
      .select($"vec_id", $"cid",
        expr(SparkDialect.toDoubleArr("embedding")).as("nv"))
      .withColumn("nn", expr("sqrt(graft_dot(nv, nv))"))
    // distinct on (qid, nid), so no dedup, as in `servePersisted`
    lists.join(broadcast(probe), "cid")
      .filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("nid"), $"nv", $"nn")
      .join(broadcast(queries), "qid")
      .select($"qid", $"nid",
        round(expr("graft_dot(qv, nv)").divide($"qn" * $"nn"), 6).as("cs"))
      .withColumn("vrank", row_number().over(
        Window.partitionBy($"qid").orderBy($"cs".desc, $"nid")))
      .filter($"vrank" <= topn)
      .select($"qid", $"nid", $"vrank".cast("long").as("vrank"))
  }

  /** `ivfQuantizedPersisted`'s int8 store and serving over the
    * TRAINED k-means codebook — the full production combination:
    * train once (deterministic µ-quantized Lloyd), persist
    * partition-pruned int8 lists, serve top-k from codes.  Geometry
    * (assignment, probing) is `ivfKmeans`'s exactly; only the list
    * payload is quantized, so `ivfKmeansQuantizedSql` recomputing the
    * whole pipeline from raw embeddings verifies both the store and
    * the serving arithmetic. */
  def ivfKmeansQuantizedPersisted(spark: SparkSession, dir: String): DataFrame =
    RelationCache.materialized(spark, s"serve_km_pq:$dir") {
      ivfKmeansQuantizedPersisted(spark, dir, None)
    }

  def ivfKmeansQuantizedPersisted(spark: SparkSession, dir: String,
                                  storeBase: Option[String]): DataFrame =
    kmeansQuantizedServe(spark, dir, storeBase, 5)

  /** Build-if-absent + serve top-`k` from the k-means int8 store —
    * shared by `ivfKmeansQuantizedPersisted` (k = 5) and the rerank
    * path's coarse stage (k = RerankCoarseK). */
  private def kmeansQuantizedServe(spark: SparkSession, dir: String,
      storeBase: Option[String], k: Int): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val n = ivfBase(spark, dir)
    val cents = trainCodebookCached(spark, dir, n)
    val absMax = SparkDialect.arrMax(
      SparkDialect.arrTransform("v", "x", "abs(x)"))
    val quantized = n
      .withColumn("scale", expr(
        s"CASE WHEN $absMax = 0.0D THEN CAST(NULL AS DOUBLE) " +
          s"ELSE 127.0D / $absMax END"))
      .filter($"scale".isNotNull)
      .withColumn("code", expr(SparkDialect.arrTransform(
        "v", "x", "CAST(floor(x * scale + 0.5) AS TINYINT)")))
    val store = indexStorePath(spark, dir, "pqkm", storeBase, n,
      s"k${cents.size}")
    publishIndex(spark, store) { tmp =>
      assignedCid(quantized, cents)
        .select($"vec_id", $"code", $"scale", $"nrm", $"cid")
        .write.mode("overwrite").partitionBy("cid").parquet(tmp)
    }
    val probe = probeCids(n.filter($"vec_id" % 100 === 0), cents)
    val queries = quantized.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"code".as("qcode"),
        $"scale".as("qscale"), $"nrm".as("qn"))
    serveQuantized(spark, store, probe, queries, k)
  }

  /** Two-stage serving over the TRAINED codebook — the faiss-style
    * default combination (trained coarse quantizer + SQ8 lists +
    * exact refine): coarse top-`RerankCoarseK` from the k-means int8
    * store, exact-cosine rerank to top-5.  Oracle recomputes both
    * stages end-to-end (`ivfKmeansQuantizedRerankSql`). */
  def ivfKmeansQuantizedRerankPersisted(spark: SparkSession,
      dir: String): DataFrame =
    RelationCache.materialized(spark, s"serve_km_pq_rr:$dir") {
      ivfKmeansQuantizedRerankPersisted(spark, dir, None)
    }

  def ivfKmeansQuantizedRerankPersisted(spark: SparkSession, dir: String,
      storeBase: Option[String]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val n = ivfBase(spark, dir)
    val coarse = kmeansQuantizedServe(spark, dir, storeBase, RerankCoarseK)
      .select($"query_id", $"neighbor_id")
    coarse
      .join(n.select($"vec_id".as("query_id"), $"v".as("qv"),
        $"nrm".as("qn")), "query_id")
      .join(n.select($"vec_id".as("neighbor_id"), $"v".as("nv"),
        $"nrm".as("nn")), "neighbor_id")
      .select($"query_id", $"neighbor_id",
        expr("graft_dot(qv, nv)").divide($"qn" * $"nn").as("cs"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"query_id").orderBy($"cs".desc, $"neighbor_id")))
      .filter($"rn" <= 5)
      .select($"query_id", $"neighbor_id",
        round($"cs", 6).as("cosine"), $"rn".cast("long").as("rank"))
      .orderBy($"query_id", $"rank")
  }

  /** QUANTIZED persisted IVF serving — the memory/IO shape a 100 TB
    * index actually pages through: the inverted lists hold int8 codes
    * (`ARRAY<TINYINT>`, 1 byte per dimension — 4× less list I/O per
    * probe than float32, 8× less than the double work form) plus two
    * per-vector doubles (quantization scale, true norm), and serving
    * scores candidates with integer-valued code dot products de-scaled
    * exactly like `quantizedTopKSql`.  Candidate generation is the
    * fixed-centroid IVF of `ivfSql` (assignment and nprobe=2 probing
    * run on the exact float vectors against the tiny broadcast
    * codebook — probing cost is per-query × k, never corpus-sized), so
    * only the list payload is quantized, not the coarse geometry.
    *
    * Store layout mirrors `ivfPersisted`: parquet partitioned by
    * `cid=`, fingerprint-keyed path, publish-by-atomic-rename,
    * rebuild-on-absent.  The probed cid set lands in the scan's
    * PartitionFilters, so a query touches nprobe/k of the (already 4×
    * smaller) index bytes regardless of corpus size.
    *
    * Quantization arithmetic is `quantizeSql`'s exactly — scale =
    * 127/max|v|, code = floor(v·scale + 0.5), all-zero vectors have
    * NULL scale and are excluded from the lists and the query set (no
    * cosine direction; NULL scores would hit the engines' opposing
    * NULL-ordering defaults).  Codes round-trip parquet exactly
    * (integers), scales/norms are doubles — so the served ranking is
    * bit-identical to the `ivfQuantizedSql` oracle recomputing the
    * whole pipeline from the raw embeddings. */
  def ivfQuantizedPersisted(spark: SparkSession, dir: String): DataFrame =
    RelationCache.materialized(spark, s"serve_ivf_pq:$dir") {
      ivfQuantizedPersisted(spark, dir, None)
    }

  def ivfQuantizedPersisted(spark: SparkSession, dir: String,
                            storeBase: Option[String]): DataFrame =
    quantizedFixedServe(spark, dir, storeBase, 5)

  /** Build-if-absent + serve top-`k` from the fixed-codebook int8
    * store — the shared engine of `ivfQuantizedPersisted` (k = 5) and
    * the rerank path's coarse stage (k = RerankCoarseK). */
  private def quantizedFixedServe(spark: SparkSession, dir: String,
      storeBase: Option[String], k: Int): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val n = ivfBase(spark, dir)
    val cents = fixedCentsCached(spark, dir, n)
    val absMax = SparkDialect.arrMax(
      SparkDialect.arrTransform("v", "x", "abs(x)"))
    val quantized = n
      .withColumn("scale", expr(
        s"CASE WHEN $absMax = 0.0D THEN CAST(NULL AS DOUBLE) " +
          s"ELSE 127.0D / $absMax END"))
      .filter($"scale".isNotNull)
      .withColumn("code", expr(SparkDialect.arrTransform(
        "v", "x", "CAST(floor(x * scale + 0.5) AS TINYINT)")))
    val store = indexStorePath(spark, dir, "pq", storeBase, n,
      s"k${cents.size}")
    publishIndex(spark, store) { tmp =>
      assignedCid(quantized, cents)
        .select($"vec_id", $"code", $"scale", $"nrm", $"cid")
        .write.mode("overwrite").partitionBy("cid").parquet(tmp)
    }
    val probe = probeCids(n.filter($"vec_id" % 100 === 0), cents)
    val queries = quantized.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"code".as("qcode"),
        $"scale".as("qscale"), $"nrm".as("qn"))
    serveQuantized(spark, store, probe, queries, k)
  }

  /** Serve top-k from a quantized inverted-list store: read ONLY the
    * probed `cid=` partitions (pinned schema so the long IN-list stays
    * in PartitionFilters), score from the int8 codes.  The code dot is
    * integer-valued and |code| ≤ 127, dim ≤ a few thousand — exact in
    * doubles, so fold order can't matter and engine/oracle agree
    * bit-for-bit. */
  private def serveQuantized(spark: SparkSession,
      store: org.apache.hadoop.fs.Path, probe: DataFrame,
      queries: DataFrame, k: Int = 5): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val probedCids = probe.select($"cid").distinct().as[Long].collect().sorted
    val lists = spark.read
      .schema("vec_id BIGINT, code ARRAY<TINYINT>, scale DOUBLE, " +
        "nrm DOUBLE, cid BIGINT")
      .parquet(store.toString)
      .filter($"cid".isin(probedCids: _*))
    // distinct on (qid, nid), so no dedup, as in `servePersisted`
    lists.join(broadcast(probe), "cid")
      .filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("nid"), $"code", $"scale", $"nrm")
      .join(broadcast(queries), "qid")
      .select($"qid", $"nid",
        expr("graft_dot(CAST(qcode AS ARRAY<DOUBLE>), " +
            "CAST(code AS ARRAY<DOUBLE>))")
          .divide($"qscale" * $"scale")
          .divide($"qn" * $"nrm").as("cs"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"qid").orderBy($"cs".desc, $"nid")))
      .filter($"rn" <= k)
      .select($"qid".as("query_id"), $"nid".as("neighbor_id"),
        round($"cs", 6).as("approx_cosine"), $"rn".cast("long").as("rank"))
      .orderBy($"query_id", $"rank")
  }

  /** Oracle/spec form of `ivfQuantizedPersisted`: `ivfSql`'s
    * fixed-centroid assignment and nprobe=2 probing (exact float
    * geometry) with `quantizedTopKSql`'s int8-code scoring over the
    * probed candidates — recomputed end-to-end from the raw
    * embeddings, no store involved, so it independently checks both
    * the index contents and the serving arithmetic. */
  def ivfQuantizedSql(d: SqlDialect): String = ivfQuantizedSql(d, 5)

  def ivfQuantizedSql(d: SqlDialect, topn: Int): String = {
    val absMax = d.arrMax(d.arrTransform("v", "x", "abs(x)"))
    val code = d.arrTransform("v", "x",
      "CAST(floor(x * scale + 0.5) AS DOUBLE)")
    s"""WITH ${baseCtes(d)},
       |c AS (
       |  SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n
       |  WHERE ${fixedPickPred(d)}),
       |s AS (
       |  SELECT vec_id, v, nrm,
       |    CASE WHEN $absMax = ${d.dlit(0.0)} THEN NULL
       |         ELSE ${d.dlit(127.0)} / $absMax END AS scale
       |  FROM n),
       |qz AS (
       |  SELECT vec_id, nrm, scale, $code AS code FROM s
       |  WHERE scale IS NOT NULL),
       |asgn0 AS (
       |  SELECT n.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY n.vec_id
       |      ORDER BY ${d.dot("n.v", "c.cv")} / (n.nrm * c.cnrm) DESC, c.cid)
       |      AS crn
       |  FROM n CROSS JOIN c),
       |asgn AS (
       |  SELECT vec_id, cid FROM asgn0 WHERE crn = 1),
       |probe AS (
       |  SELECT vec_id AS qid, cid FROM asgn0
       |  WHERE vec_id % 100 = 0 AND crn <= 2),
       |cand AS (
       |  SELECT p.qid, a.vec_id AS nid
       |  FROM probe p JOIN asgn a ON a.cid = p.cid AND a.vec_id != p.qid),
       |sc AS (
       |  SELECT cand.qid, cand.nid,
       |    ${d.dot("q.code", "x.code")} / (q.scale * x.scale)
       |      / (q.nrm * x.nrm) AS cs
       |  FROM cand
       |  JOIN qz q ON q.vec_id = cand.qid
       |  JOIN qz x ON x.vec_id = cand.nid),
       |r AS (
       |  SELECT qid, nid, cs,
       |    row_number() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS rn
       |  FROM sc)
       |SELECT qid AS query_id, nid AS neighbor_id,
       |  round(cs, 6) AS approx_cosine, CAST(rn AS BIGINT) AS rank
       |FROM r WHERE rn <= $topn
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Two-stage quantized serving with EXACT rerank — the canonical
    * production pattern for a quantized index (SQ8 + refine): the
    * int8 partition-pruned store supplies a coarse top-`coarseK`
    * candidate set per query (4× cheaper list I/O), then ONLY those
    * `coarseK` rows per query fetch their exact float vectors from
    * the primary table and are re-ranked by true cosine.  The output
    * carries EXACT cosines (`cosine`, like the unquantized
    * operators), with quantization noise surviving only in which
    * candidates reached the rerank — recall, not precision, is what
    * the coarse stage can cost. */
  def ivfQuantizedRerankSql(d: SqlDialect): String = {
    s"""WITH ${baseCtes(d)},
       |coarse AS (
       |  SELECT query_id, neighbor_id
       |  FROM (${ivfQuantizedSql(d, RerankCoarseK)}) cq),
       |sc AS (
       |  SELECT coarse.query_id AS qid, coarse.neighbor_id AS nid,
       |    ${d.dot("q.v", "x.v")} / (q.nrm * x.nrm) AS cs
       |  FROM coarse
       |  JOIN n q ON q.vec_id = coarse.query_id
       |  JOIN n x ON x.vec_id = coarse.neighbor_id),
       |r AS (
       |  SELECT qid, nid, cs,
       |    row_number() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS rn
       |  FROM sc)
       |SELECT qid AS query_id, nid AS neighbor_id,
       |  round(cs, 6) AS cosine, CAST(rn AS BIGINT) AS rank
       |FROM r WHERE rn <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  val RerankCoarseK: Int = 20

  /** Oracle form of `ivfKmeansQuantizedRerankPersisted`. */
  def ivfKmeansQuantizedRerankSql(d: SqlDialect): String = {
    s"""WITH ${baseCtes(d)},
       |coarse AS (
       |  SELECT query_id, neighbor_id
       |  FROM (${ivfKmeansQuantizedSql(d, RerankCoarseK)}) cq),
       |sc AS (
       |  SELECT coarse.query_id AS qid, coarse.neighbor_id AS nid,
       |    ${d.dot("q.v", "x.v")} / (q.nrm * x.nrm) AS cs
       |  FROM coarse
       |  JOIN n q ON q.vec_id = coarse.query_id
       |  JOIN n x ON x.vec_id = coarse.neighbor_id),
       |r AS (
       |  SELECT qid, nid, cs,
       |    row_number() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS rn
       |  FROM sc)
       |SELECT qid AS query_id, nid AS neighbor_id,
       |  round(cs, 6) AS cosine, CAST(rn AS BIGINT) AS rank
       |FROM r WHERE rn <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Engine path of `ivfQuantizedRerankSql`: coarse top-20 from the
    * persisted int8 store (`ivfQuantizedPersisted`'s serving with a
    * deeper cut), exact vectors joined back for ONLY those candidate
    * rows, exact-cosine rerank to top-5.  At 100 TB the refine stage
    * touches coarseK rows per query from the primary store — a
    * point-lookup-sized join — while the scan-heavy stage ran on the
    * 4× smaller codes. */
  def ivfQuantizedRerankPersisted(spark: SparkSession, dir: String): DataFrame =
    RelationCache.materialized(spark, s"serve_ivf_pq_rr:$dir") {
      ivfQuantizedRerankPersisted(spark, dir, None)
    }

  def ivfQuantizedRerankPersisted(spark: SparkSession, dir: String,
                                  storeBase: Option[String]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val n = ivfBase(spark, dir)
    val coarse = quantizedFixedServe(spark, dir, storeBase, RerankCoarseK)
      .select($"query_id", $"neighbor_id")
    coarse
      .join(n.select($"vec_id".as("query_id"), $"v".as("qv"),
        $"nrm".as("qn")), "query_id")
      .join(n.select($"vec_id".as("neighbor_id"), $"v".as("nv"),
        $"nrm".as("nn")), "neighbor_id")
      .select($"query_id", $"neighbor_id",
        expr("graft_dot(qv, nv)").divide($"qn" * $"nn").as("cs"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"query_id").orderBy($"cs".desc, $"neighbor_id")))
      .filter($"rn" <= 5)
      .select($"query_id", $"neighbor_id",
        round($"cs", 6).as("cosine"), $"rn".cast("long").as("rank"))
      .orderBy($"query_id", $"rank")
  }

  /** Per-source embedding coherence — the curation monitor that flags
    * noisy or mislabeled ingest feeds: each source's centroid (exact
    * µ-quantized integer sums, the same associativity trick as the
    * k-means oracle, so Spark's partial-aggregation order and DuckDB
    * land on identical doubles) and the mean/min cosine of the
    * source's members to it.  A low mean says the feed is semantically
    * scattered; a low min pinpoints probable outliers/mislabels worth
    * auditing before training.
    *
    * Scale shape: one doc↔embedding equi-join (bucket both tables on
    * the id to make it co-located at 100 TB), one groupBy(source) with
    * map-side partial sums of k·D quantized longs, then the tiny
    * centroid relation joins back broadcast for the scoring pass. */
  def sourceCoherenceSql(d: SqlDialect): String = {
    val q = d.dlit(1000000.0)
    val sums = (0 until EmbeddingDim).map(j =>
      s"sum(CAST(round(${d.arrAt("v", (j + 1).toString)} * $q) AS BIGINT)) AS s$j")
      .mkString(",\n    ")
    val comps = (0 until EmbeddingDim).map(j =>
      s"CAST(s$j AS DOUBLE) / ($q * cnt)")
    s"""WITH e AS (
       |  SELECT vec_id, ${d.toDoubleArr("embedding")} AS v FROM embeddings),
       |n AS (
       |  SELECT vec_id, v, sqrt(${d.dot("v", "v")}) AS nrm FROM e),
       |m AS (
       |  SELECT doc.source, n.vec_id, n.v, n.nrm
       |  FROM documents doc JOIN n ON n.vec_id = doc.doc_id),
       |s AS (
       |  SELECT source, count(*) AS cnt,
       |    $sums
       |  FROM m GROUP BY source),
       |c AS (
       |  SELECT source, cnt, ${d.arrOf(comps)} AS cv FROM s),
       |cn AS (
       |  SELECT source, cnt, cv, sqrt(${d.dot("cv", "cv")}) AS cnrm FROM c),
       |sc AS (
       |  -- the hint pins the tiny centroid side broadcast in the STATIC
       |  -- plan (post-agg size is unknown until AQE); DuckDB reads the
       |  -- /*+ */ block as an ordinary comment
       |  SELECT /*+ BROADCAST(cn) */ m.source, cn.cnt,
       |    ${d.dot("m.v", "cn.cv")} / (m.nrm * cn.cnrm) AS cs
       |  FROM m JOIN cn ON cn.source = m.source)
       |-- the MEAN accumulates µ-quantized integer cosines (the same
       |-- associativity discipline as the centroid sums) so Spark's
       |-- partial-aggregation order and DuckDB land on identical
       |-- doubles; min is order-insensitive and stays raw
       |SELECT source, CAST(cnt AS BIGINT) AS n_docs,
       |  round(CAST(sum(CAST(round(cs * $q) AS BIGINT)) AS DOUBLE)
       |    / ($q * cnt), 6) AS mean_coherence,
       |  round(min(cs), 6) AS min_coherence
       |FROM sc GROUP BY source, cnt
       |ORDER BY source""".stripMargin
  }

  def sourceCoherence(spark: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(spark, dir).createOrReplaceTempView("embeddings")
    Tables.documents(spark, dir).createOrReplaceTempView("documents")
    spark.sql(sourceCoherenceSql(SparkDialect))
  }

  /** Embedding-space outlier report over the TRAINED √n-cluster
    * partition: within each cluster, the bottom 5 % of members by
    * cosine to their own centroid (at least one per cluster) are
    * flagged as pruning candidates — the SemDeDup-adjacent
    * "far-from-centroid" cleaning pass a curation pipeline runs to
    * drop mis-embedded or off-distribution documents — then rolled
    * up per ingest source (a source whose members sit
    * disproportionately in cluster tails is feeding noise).
    * `sim_source_coherence` measures distance to the SOURCE mean;
    * this measures rank within the trained TOPIC cluster, so a
    * coherent-but-tiny source can't hide behind its own centroid.
    *
    * Deterministic: the Lloyd chain is the µ-quantized oracle-checked
    * scaled trainer of `sim_ivf_kmeans_scaled`; the 5 % boundary is a
    * row_number over (cs, vec_id), and per-source means accumulate
    * µ-quantized integers.  Scale: with k ∝ √n clusters each window
    * partition holds ~√n rows (never a global or per-source sort),
    * and the flagged fraction is rank-based, so no threshold retuning
    * as the corpus grows. */
  def outlierReportSql(d: SqlDialect): String = {
    val q = d.dlit(1000000.0)
    s"""WITH ${kmeansCandCtesScaled(d)},
       |dvec AS (
       |  SELECT a.vec_id, a.cid,
       |    ${d.dot("n.v", "c.cv")} / (n.nrm * c.cnrm) AS cs
       |  FROM asgn a
       |  JOIN n ON n.vec_id = a.vec_id
       |  JOIN cfin c ON c.cid = a.cid),
       |r AS (
       |  SELECT vec_id, cs,
       |    row_number() OVER (PARTITION BY cid ORDER BY cs ASC, vec_id) AS rn,
       |    count(*) OVER (PARTITION BY cid) AS csz
       |  FROM dvec),
       |o AS (
       |  SELECT vec_id, cs,
       |    CASE WHEN rn <= greatest(1, ${d.intDiv("csz", "20")})
       |      THEN 1 ELSE 0 END AS is_outlier
       |  FROM r),
       |j AS (
       |  SELECT doc.source, o.cs, o.is_outlier
       |  FROM o JOIN documents doc ON doc.doc_id = o.vec_id)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_vecs,
       |  CAST(sum(is_outlier) AS BIGINT) AS outliers,
       |  round(CAST(sum(CAST(round(cs * $q) AS BIGINT)) AS DOUBLE)
       |    / ($q * count(*)), 6) AS mean_centroid_sim,
       |  round(min(cs), 6) AS min_centroid_sim
       |FROM j GROUP BY source
       |ORDER BY source""".stripMargin
  }

  /** Engine side reuses the session-cached √n codebook
    * (`trainScaledCodebookCached` — shared with every `_scaled`
    * serving variant, so training amortizes) and computes the same
    * assignment + own-centroid cosine with the codegen'd `graft_dot`.
    * Measured against the alternative of reading the assignment back
    * from the persisted `kmsc` store: the in-memory argmax wins at
    * every fixture scale (10×: 1.7 s vs 5.1 s; 100×: 54 s vs 60 s,
    * where both paths share the dominant base-relation conversion) —
    * with k ∝ √n the argmax is the cheap part, and the store path
    * pays per-partition small-file overhead instead.  The SQL form
    * recomputes the whole scaled Lloyd chain from raw embeddings as
    * the oracle. */
  def outlierReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val n = ivfBase(spark, dir)
    val cents = trainScaledCodebookCached(spark, dir, n)
    val cdf = broadcast(cents.toDF("cid", "cv", "cnrm"))
    val ds = assignedCid(n, cents)
      .join(cdf, "cid")
      .select($"vec_id", $"cid",
        (expr("graft_dot(v, cv)") / ($"nrm" * $"cnrm")).as("cs"))
    val w = Window.partitionBy($"cid")
    val r = ds
      .withColumn("rn", row_number().over(w.orderBy($"cs".asc, $"vec_id")))
      .withColumn("csz", count(lit(1)).over(w))
    val o = r.withColumn("is_outlier",
      when($"rn" <= greatest(lit(1L), expr("csz DIV 20")), 1L).otherwise(0L))
    val doc = Tables.documents(spark, dir).select($"doc_id", $"source")
    o.join(doc, $"vec_id" === $"doc_id")
      .groupBy($"source")
      .agg(
        count(lit(1)).cast("long").as("n_vecs"),
        sum($"is_outlier").cast("long").as("outliers"),
        round(sum(round($"cs" * 1e6).cast("long")).cast("double") /
          (lit(1e6) * count(lit(1))), 6).as("mean_centroid_sim"),
        round(min($"cs"), 6).as("min_centroid_sim"))
      .orderBy($"source")
  }

  /** Power-iteration rounds for the PCA projection (unrolled, like
    * the Lloyd rounds — the plan stays static and codegen-friendly). */
  val PcaIters = 3

  /** Top-principal-component projection — the embedding-space health
    * diagnostic run before trusting vector-based curation: a corpus
    * whose PC1 explains a large share of centered variance is
    * anisotropic (embeddings collapsing toward a dominant direction —
    * the classic symptom of a degenerate encoder or a mode-collapsed
    * corpus), and each document's signed projection locates it along
    * that dominant axis for outlier auditing.
    *
    * Method: covariance-FREE power iteration (the 64×64 covariance
    * matrix is never materialized): v ← Σᵢ dᵢ·(xᵢ − µ) with
    * dᵢ = (xᵢ − µ)·v, normalized each round, `PcaIters` rounds
    * unrolled from the deterministic all-ones start (no RNG; the sign
    * of PC1 is fixed by the init).  Determinism across engines and
    * aggregation orders follows the k-means discipline: the mean µ
    * and every per-dimension accumulation Σᵢ round(dᵢ·(xᵢⱼ−µⱼ)·10⁶)
    * are µ-quantized BIGINT sums (associative + commutative), and the
    * per-row dot products are fixed left-to-right folds — so the
    * DuckDB oracle recomputes the ENTIRE training chain from the raw
    * embeddings and lands on identical doubles.
    *
    * `var_explained_pc1` = Σdᵢ² / Σ‖xᵢ−µ‖² (both µ-quantized) is the
    * anisotropy headline: ~1/D on isotropic noise, → 1 on a collapsed
    * corpus.
    *
    * Scale: each round is ONE pass — a per-row projection against a
    * broadcast 1-row (µ, v) relation, then a D-column map-side
    * combining aggregate of quantized longs (the distributed-PCA
    * power-method step; Halko et al. 2011 §5 use the same
    * matrix-free product for randomized PCA).  State per round is
    * 2·D doubles; iterations unrolled so no driver loop.  Further
    * components deflate and repeat — same cost per component. */
  def pcaSql(d: SqlDialect): String = {
    val q = d.dlit(1000000.0)
    val dim = EmbeddingDim
    // µ: per-dimension quantized mean of the raw vectors
    val muSums = (0 until dim).map(j =>
      s"sum(CAST(round(${d.arrAt("v", (j + 1).toString)} * $q) AS BIGINT)) AS s$j")
      .mkString(",\n    ")
    val muComps = (0 until dim).map(j =>
      s"CAST(s$j AS DOUBLE) / ($q * cnt)")
    // deterministic start: the all-ones direction, unit-normalized
    // (1/√64 = 0.125 — exactly representable)
    val v0 = d.arrOf(Seq.fill(dim)(d.dlit(0.125)))
    // every round carries v through the projection CTE, so the
    // per-dimension accumulation is a plain aggregate over p$i — no
    // join back to the fact table, keeping the one-pass-per-round
    // scale contract literal in the plan
    def round_(i: Int, prev: String): String = {
      val wSums = (0 until dim).map { j =>
        val cj = s"(${d.arrAt(s"p$i.v", (j + 1).toString)}" +
          s" - ${d.arrAt("mu.m", (j + 1).toString)})"
        s"sum(CAST(round(p$i.di * $cj * $q) AS BIGINT)) AS w$j"
      }.mkString(",\n    ")
      val uComps = (0 until dim).map(j => s"CAST(w$j AS DOUBLE)")
      s"""p$i AS (
         |  SELECT e.v,
         |    ${d.dot("e.v", s"$prev.pv")} - ${d.dot("mu.m", s"$prev.pv")} AS di
         |  FROM e CROSS JOIN $prev CROSS JOIN mu),
         |w$i AS (
         |  SELECT $wSums
         |  FROM p$i CROSS JOIN mu),
         |u$i AS (
         |  SELECT ${d.arrOf(uComps)} AS uv FROM w$i),
         |v$i AS (
         |  SELECT ${d.arrTransform("uv", "x",
                s"x / sqrt(${d.dot("uv", "uv")})")} AS pv FROM u$i)""".stripMargin
    }
    val rounds = (1 to PcaIters).map(i => round_(i, s"v${i - 1}")).mkString(",\n")
    s"""WITH e AS (
       |  SELECT vec_id, label, ${d.toDoubleArr("embedding")} AS v
       |  FROM embeddings),
       |ms AS (
       |  SELECT count(*) AS cnt,
       |    $muSums
       |  FROM e),
       |mu AS (
       |  SELECT ${d.arrOf(muComps)} AS m FROM ms),
       |v0 AS (
       |  SELECT $v0 AS pv),
       |$rounds,
       |proj AS (
       |  SELECT e.vec_id, e.label,
       |    ${d.dot("e.v", s"v$PcaIters.pv")}
       |      - ${d.dot("mu.m", s"v$PcaIters.pv")} AS sc
       |  FROM e CROSS JOIN v$PcaIters CROSS JOIN mu),
       |pvar AS (
       |  SELECT sum(CAST(round(sc * sc * $q) AS BIGINT)) AS vn FROM proj),
       |tvar AS (
       |  SELECT sum(CAST(round(
       |      (${d.dot("e.v", "e.v")} - 2 * ${d.dot("e.v", "mu.m")}
       |        + ${d.dot("mu.m", "mu.m")}) * $q) AS BIGINT)) AS tv
       |  FROM e CROSS JOIN mu)
       |SELECT proj.vec_id, proj.label,
       |  round(proj.sc, 6) AS pc1,
       |  round(CAST(pvar.vn AS DOUBLE) / tvar.tv, 6) AS var_explained_pc1
       |FROM proj CROSS JOIN pvar CROSS JOIN tvar
       |ORDER BY proj.vec_id""".stripMargin
  }

  /** Engine form of `sim_pca_projection` (r16): the SQL's unrolled
    * power-iteration CTE chain inlines EVERY previous round per
    * reference (round i's `v{i-1}` re-derives rounds 1..i−1, and the
    * final projection/variance CTEs re-reference the whole chain), so
    * Spark re-scanned the corpus ~10× and re-built each round's
    * 64-column aggregate several times.  This is the k-means
    * discipline instead: collect the TINY per-round model state (µ and
    * the 64-double direction — the same µ-quantized BIGINT sums and
    * IEEE ops as the SQL, literal-for-literal), one aggregation pass
    * per round, then ONE final projection pass with the trained
    * direction inlined as literals.  6 passes total over the cached
    * base, all codegen'd; the single-statement SQL stays the DuckDB
    * oracle and recomputes the entire chain from raw embeddings.
    *
    * NOTE: construction is EAGER (each round collects a 64-long row —
    * the bounded-collect discipline); model state is session-memoized
    * (`pca_model`) and priced as a build line. */
  def pca(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val (mu, pv, vn, tv) = pcaModel(spark, dir)
    val e = pcaBase(spark, dir)
    val scCol = call_function("graft_dot", col("v"), lit64(pv)) -
      lit(dotArr(mu, pv))
    e.select(col("vec_id"), col("label"),
        round(scCol, 6).as("pc1"),
        expr(s"round(CAST(${vn}L AS DOUBLE) / ${tv}L, 6)")
          .as("var_explained_pc1"))
      .orderBy(col("vec_id"))
  }

  /** Cached PCA base (vec_id, label, v) — the SQL `e` CTE. */
  private def pcaBase(spark: SparkSession, dir: String): DataFrame = {
    RelationCache.cached(spark, s"pca_base:$dir") {
      Tables.embeddings(spark, dir)
        .select(org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col("label"),
          org.apache.spark.sql.functions.expr(
            SparkDialect.toDoubleArr("embedding")).as("v"))
    }
  }

  /** Driver-side PCA model: (µ, PC1 direction after `PcaIters`
    * rounds, quantized projected variance, quantized total variance).
    * Arithmetic mirrors `pcaSql` op for op: µ_j = CAST(s_j AS
    * DOUBLE)/(q·cnt); d_i = dot(v, pv) − dot(µ, pv) with the constant
    * second dot folded left-to-right on the driver (`dotArr` ≡ the
    * codegen'd `graft_dot` fold); w_j = Σ CAST(round(d_i·(v_j−µ_j)·q)
    * AS BIGINT); pv′ = w/√(w·w).  All divisions/multiplications are
    * single IEEE ops on identical operands, so every double matches
    * the SQL chain bit for bit (spec-pinned via the oracle hash). */
  private def pcaModel(spark: SparkSession, dir: String)
      : (Array[Double], Array[Double], Long, Long) =
    RelationCache.cachedScalar(spark, s"pca_model:$dir") {
      import org.apache.spark.sql.functions._
      val q = 1000000.0
      val dim = EmbeddingDim
      val e = pcaBase(spark, dir)
      // µ: one pass — count + per-dimension quantized sums
      val muAggs = (0 until dim).map(j =>
        sum(round(element_at(col("v"), j + 1) * lit(q)).cast("long")))
      val ms = e.agg(count(lit(1)), muAggs: _*).collect()(0)
      val cnt = ms.getLong(0)
      val mu = Array.tabulate(dim)(j => ms.getLong(j + 1).toDouble / (q * cnt))
      // power iteration: one aggregation pass per round, state inlined
      var pv = Array.fill(EmbeddingDim)(0.125)
      for (_ <- 1 to PcaIters) {
        val di = call_function("graft_dot", col("v"), lit64(pv)) -
          lit(dotArr(mu, pv))
        val wAggs = (0 until dim).map(j =>
          sum(round(di * (element_at(col("v"), j + 1) - lit(mu(j))) * lit(q))
            .cast("long")))
        val w = e.agg(wAggs.head, wAggs.tail: _*).collect()(0)
        val uv = Array.tabulate(dim)(j => w.getLong(j).toDouble)
        val nrm = math.sqrt(dotArr(uv, uv))
        pv = uv.map(_ / nrm)
      }
      // projected + total variance: one combined pass
      val sc = call_function("graft_dot", col("v"), lit64(pv)) -
        lit(dotArr(mu, pv))
      val tvExpr = (call_function("graft_dot", col("v"), col("v")) -
        lit(2.0) * call_function("graft_dot", col("v"), lit64(mu)) +
        lit(dotArr(mu, mu))) * lit(q)
      val r = e.agg(sum(round(sc * sc * lit(q)).cast("long")),
        sum(round(tvExpr).cast("long"))).collect()(0)
      (mu, pv, r.getLong(0), r.getLong(1))
    }

  /** Left-to-right dot fold — identical accumulation order to the
    * codegen'd `graft_dot`, for folding CONSTANT dot products on the
    * driver (the `dotSelf` discipline, two-array form). */
  private def dotArr(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }; s
  }

  /** Bench-priced warm of the PCA base + model (`pca_model` build
    * line) so `sim_pca_projection`'s row is the serve pass alone. */
  def prebuildPca(spark: SparkSession, dir: String): Unit = {
    pcaModel(spark, dir)
    ()
  }

  /** Per-dimension embedding drift between the two deterministic
    * halves of the corpus (vec_id parity — the stand-in for "old
    * crawl vs new crawl"): the population stability index over 16
    * shared-range bins,
    * PSI_d = Σ_b (p0 − p1)·ln(p0/p1), with Laplace-smoothed bin
    * masses so empty bins never produce ±∞.  PSI is THE standard
    * production drift monitor (< 0.1 stable, > 0.2 action): run it
    * between ingest epochs before trusting frozen downstream
    * artifacts (trained codebooks, quality classifiers, DSIR
    * weights) on the new data.
    *
    * Determinism: bin edges come from exact per-dim min/max, bin ids
    * from one IEEE divide+floor (identical in both engines), bin
    * masses are exact rationals of integer counts, and each PSI term
    * is ln-rounded at 1e-9 then summed as BIGINTs (the BM25-idf
    * discipline), so aggregation order and libm tails cannot move the
    * rounded output.  Scale: the explode is a narrow (grp, dim, val)
    * stream — D·n rows but pipeline-local until the map-side-combining
    * (grp, dim, bin) count, whose output is 2·D·16 cells; everything
    * after is per-dim joins over ≤ D·16 rows. */
  def embeddingDriftSql(d: SqlDialect): String = {
    val q9 = d.dlit(1.0e9)
    val dim = EmbeddingDim
    val bins = 16
    s"""WITH e AS (
       |  SELECT vec_id % 2 AS grp, ${d.toDoubleArr("embedding")} AS v
       |  FROM embeddings),
       |x AS (
       |  SELECT grp, ${d.explode(d.sequence1(dim.toString))} AS dim, v
       |  FROM e),
       |c AS (
       |  -- v rides only through this pipeline-local projection
       |  SELECT grp, dim, ${d.arrAt("v", "dim")} AS val FROM x),
       |r AS (
       |  SELECT dim, min(val) AS lo, max(val) AS hi FROM c GROUP BY dim),
       |b AS (
       |  SELECT c.grp, c.dim,
       |    CASE WHEN r.hi = r.lo THEN CAST(0 AS BIGINT)
       |         ELSE least(CAST(${bins - 1} AS BIGINT),
       |           CAST(floor((c.val - r.lo)
       |             / ((r.hi - r.lo) / ${d.dlit(bins.toDouble)})) AS BIGINT))
       |    END AS bin
       |  FROM c JOIN r ON r.dim = c.dim),
       |h AS (
       |  SELECT grp, dim, bin, count(*) AS n FROM b GROUP BY grp, dim, bin),
       |tot AS (
       |  SELECT grp, dim, sum(n) AS tn FROM h GROUP BY grp, dim),
       |grid AS (
       |  SELECT r.dim, ${d.explode(d.sequence0(bins.toString))} AS bin
       |  FROM r),
       |pq AS (
       |  SELECT g.dim, g.bin,
       |    (CAST(coalesce(h0.n, 0) AS DOUBLE) + ${d.dlit(0.5)})
       |      / (CAST(t0.tn AS DOUBLE) + ${d.dlit(bins / 2.0)}) AS p0,
       |    (CAST(coalesce(h1.n, 0) AS DOUBLE) + ${d.dlit(0.5)})
       |      / (CAST(t1.tn AS DOUBLE) + ${d.dlit(bins / 2.0)}) AS p1
       |  FROM grid g
       |  JOIN tot t0 ON t0.dim = g.dim AND t0.grp = 0
       |  JOIN tot t1 ON t1.dim = g.dim AND t1.grp = 1
       |  LEFT JOIN h h0 ON h0.dim = g.dim AND h0.bin = g.bin AND h0.grp = 0
       |  LEFT JOIN h h1 ON h1.dim = g.dim AND h1.bin = g.bin AND h1.grp = 1),
       |terms AS (
       |  SELECT dim,
       |    CAST(round((p0 - p1) * ln(p0 / p1) * $q9) AS BIGINT) AS t9
       |  FROM pq),
       |psi AS (
       |  SELECT dim, CAST(sum(t9) AS DOUBLE) / $q9 AS psi FROM terms
       |  GROUP BY dim),
       |-- finite-sample debiasing: under NO drift, E[PSI] is the
       |-- chi-square expectation (B-1)*(1/n0 + 1/n1) — ~0.13 already
       |-- at 250-vector halves — so a fixed 0.2 cut would flag pure
       |-- sampling noise on small corpora and the alert would mean a
       |-- different thing at every scale.  The floor vanishes as the
       |-- corpus grows; at scale the verdict converges to plain
       |-- psi > 0.2.
       |nf AS (
       |  SELECT t0.dim,
       |    ${d.dlit(bins - 1.0)} * (${d.dlit(1.0)} / t0.tn
       |      + ${d.dlit(1.0)} / t1.tn) AS noise_floor
       |  FROM tot t0 JOIN tot t1
       |    ON t1.dim = t0.dim AND t0.grp = 0 AND t1.grp = 1)
       |SELECT CAST(psi.dim AS BIGINT) AS dim, round(psi, 6) AS psi,
       |  round(nf.noise_floor, 6) AS noise_floor,
       |  CASE WHEN psi > ${d.dlit(0.2)} + nf.noise_floor
       |    THEN 1 ELSE 0 END AS drifted
       |FROM psi JOIN nf ON nf.dim = psi.dim
       |ORDER BY psi.dim""".stripMargin
  }

  def embeddingDrift(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, embeddingDriftSql(SparkDialect))

  /** Per-dimension embedding health — the cheap companion to the PCA
    * diagnostic: mean and variance of every coordinate (a dead or
    * exploding dimension is an encoder bug visible long before any
    * ANN recall drops), alongside corpus-level norm statistics
    * (zero-vector count — unembeddable inputs that would NaN a cosine
    * — and min/mean/max norm, where a collapsing norm distribution
    * flags representation collapse).
    *
    * Determinism: per-dimension Σx and Σx² accumulate µ-quantized
    * BIGINTs (the k-means/PCA discipline); the per-dim relation is
    * produced by exploding a 1-row array pair, so the corpus is
    * scanned ONCE for all 64 dimensions + norms.  min/max are
    * order-insensitive; mean norm is a quantized sum.
    *
    * Scale: one map-side-combining aggregate of 2·D+3 cells over one
    * corpus pass; everything downstream is 1-row/D-row relations. */
  def embeddingStatsSql(d: SqlDialect): String = {
    val q = d.dlit(1000000.0)
    val dim = EmbeddingDim
    val sums = (0 until dim).map { j =>
      val xj = d.arrAt("v", (j + 1).toString)
      s"sum(CAST(round($xj * $q) AS BIGINT)) AS s$j, " +
        s"sum(CAST(round($xj * $xj * $q) AS BIGINT)) AS q$j"
    }.mkString(",\n    ")
    val means = (0 until dim).map(j =>
      s"CAST(s$j AS DOUBLE) / ($q * cnt)")
    // E[x²]−E[x]² from independently µ-quantized sums can land
    // epsilon-NEGATIVE on a near-constant dimension; clamp at 0 so no
    // consumer ever sees a negative variance
    val vars_ = (0 until dim).map(j =>
      s"greatest(CAST(q$j AS DOUBLE) / ($q * cnt)" +
        s" - (CAST(s$j AS DOUBLE) / ($q * cnt))" +
        s" * (CAST(s$j AS DOUBLE) / ($q * cnt)), ${d.dlit(0.0)})")
    s"""WITH e AS (
       |  SELECT vec_id, ${d.toDoubleArr("embedding")} AS v FROM embeddings),
       |nn AS (
       |  SELECT vec_id, sqrt(${d.dot("v", "v")}) AS nrm FROM e),
       |ns AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       |    CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS zero_vectors,
       |    round(min(nrm), 6) AS min_norm,
       |    round(CAST(sum(CAST(round(nrm * $q) AS BIGINT)) AS DOUBLE)
       |      / ($q * count(*)), 6) AS mean_norm,
       |    round(max(nrm), 6) AS max_norm
       |  FROM nn),
       |ds AS (
       |  SELECT count(*) AS cnt,
       |    $sums
       |  FROM e),
       |da AS (
       |  SELECT ${d.arrOf(means)} AS mv, ${d.arrOf(vars_)} AS vv FROM ds),
       |dd AS (
       |  SELECT ${d.explode(d.sequence1(dim.toString))} AS dim FROM da)
       |SELECT CAST(dd.dim AS BIGINT) AS dim,
       |  round(${d.arrAt("da.mv", "dd.dim")}, 6) AS mean,
       |  round(${d.arrAt("da.vv", "dd.dim")}, 6) AS variance,
       |  ns.n_vectors, ns.zero_vectors, ns.min_norm, ns.mean_norm,
       |  ns.max_norm
       |FROM dd CROSS JOIN da CROSS JOIN ns
       |ORDER BY dim""".stripMargin
  }

  def embeddingStats(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, embeddingStatsSql(SparkDialect))

  private def run(spark: SparkSession, dir: String, sql: String): DataFrame = {
    Tables.embeddings(spark, dir).createOrReplaceTempView("embeddings")
    spark.sql(sql)
  }

  // Serving pipelines below are memoized per (session, corpus) with
  // LINEAGE TRUNCATION (`RelationCache.materialized`): each is
  // deterministic, emits a result-sized relation (≤ |Q|·k rows), and
  // has ≥ 2 consumers in a bench/verify session — its own registered
  // query plus the recall/NDCG harnesses that score it.  Without the
  // memo every harness re-executes the full pipeline; without the
  // truncation every downstream action re-analyzes the pipeline's
  // multi-thousand-node plan on the driver (the dominant warm cost —
  // see RelationCache.materialized).  The one-time build cost is
  // priced as a labeled bench build line (the `ExactTruthServes`
  // `SparkEntry.Build` its consumers declare in `needs`).
  def topK(spark: SparkSession, dir: String): DataFrame =
    RelationCache.materialized(spark, s"serve_topk:$dir") {
      run(spark, dir, topKSql(SparkDialect))
    }
  def quantize(spark: SparkSession, dir: String): DataFrame =
    run(spark, dir, quantizeSql(SparkDialect))
  def quantizedTopK(spark: SparkSession, dir: String): DataFrame =
    RelationCache.materialized(spark, s"serve_quantized_topk:$dir") {
      run(spark, dir, quantizedTopKSql(SparkDialect))
    }
  def annLsh(spark: SparkSession, dir: String): DataFrame =
    RelationCache.materialized(spark, s"serve_ann_lsh:$dir") {
      run(spark, dir, annLshSql(SparkDialect))
    }
  def annLshScaled(spark: SparkSession, dir: String): DataFrame =
    RelationCache.materialized(spark, s"serve_ann_lsh_scaled:$dir") {
      run(spark, dir, annLshScaledSql(SparkDialect))
    }
  def ivf(spark: SparkSession, dir: String): DataFrame =
    RelationCache.materialized(spark, s"serve_ivf:$dir") {
      // engine form assigns through the kernel against the collected
      // capped fixed codebook — the single-statement `ivfSql` (whose n·k
      // CROSS JOIN Spark would execute literally) stays as the oracle
      val n = ivfBase(spark, dir)
      exactIvfServe(spark, n, fixedCentsCached(spark, dir, n),
        fixedAsgn(spark, dir))
    }
  /** Engine ADC forms: the COARSE stage (assignment + probing → cand)
    * runs through the collected capped codebook and the kernel — no
    * n·k CROSS JOIN, no per-vector window — registered as a temp view
    * the PQ scoring SQL then references (the view is CTE-free, so the
    * Catalyst CTE-id collision documented in `surViewSql` cannot
    * bite).  The PQ chain itself is n·PqM·PqK narrow work — linear —
    * and stays in SQL shared verbatim with the oracle, which
    * recomputes the coarse stage from raw embeddings as the check
    * that the kernel candidates ARE the CROSS JOIN's. */
  def ivfAdc(spark: SparkSession, dir: String): DataFrame =
    RelationCache.materialized(spark, s"serve_adc:$dir") {
      adcServeLiteral(spark, dir, pqSeedCb(spark, dir),
        pqCodesSampled(spark, dir))
    }

  def ivfAdcTrained(spark: SparkSession, dir: String): DataFrame =
    RelationCache.materialized(spark, s"serve_adc_trained:$dir") {
      adcServeLiteral(spark, dir, pqTrainedCb(spark, dir),
        pqCodesTrained(spark, dir))
    }

  /** (s, j, cw): PqM·PqK per-subspace codewords. */
  private type PqCb = Seq[(Int, Long, Array[Double])]

  /** (vec_id, s, sv) subspace relation, session-cached — the engine
    * twin of the SQL `sub` CTE (same `arrSlice` expression). */
  private def pqSubDF(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val n = ivfBase(spark, dir)
    RelationCache.cached(spark, s"pq_sub:$dir") {
      val slices = (0 until PqM).map { s =>
        struct(lit(s).as("s"),
          expr(SparkDialect.arrSlice("v", s"$s * $PqSubDim + 1",
            PqSubDim.toString)).as("sv"))
      }
      n.select(col("vec_id"), explode(array(slices: _*)).as("z"))
        .select(col("vec_id"), col("z.s").as("s"), col("z.sv").as("sv"))
    }
  }

  /** Driver-collected sampled seed codebook — `pqCommonCtes`'s cb0
    * (stride-spread picks over the vec_id rank), ≤ PqK·PqM rows. */
  private def pqSeedCb(spark: SparkSession, dir: String): PqCb =
    RelationCache.cachedScalar(spark, s"pq_cb0:$dir") {
      import org.apache.spark.sql.functions._
      val n = ivfBase(spark, dir)
      val cnt = n.count()
      val stride = (cnt + PqK - 1) / PqK
      // stride-spread picks at global ranks 1, stride+1, 2·stride+1 …
      // under vec_id order: range-partitioned sort + zipWithIndex
      // (rank = index+1, contiguous by construction) instead of the
      // single-partition row_number() window the old form paid —
      // identical picks, ≤ PqK rows collected either way (r16)
      val seeds = n.select(col("vec_id"), col("v")).orderBy("vec_id")
        .rdd.zipWithIndex
        .filter { case (_, i) => i % stride == 0L }
        .map { case (r, i) => (i / stride, r.getSeq[Double](1).toArray) }
        .collect()
      for {
        (j, v) <- seeds.toSeq
        s <- 0 until PqM
      } yield (s, j, v.slice(s * PqSubDim, (s + 1) * PqSubDim))
    }

  /** Per-(vector, subspace) nearest-codeword assignment against a
    * LITERAL codebook: ascending (l2, j) struct sort picks the same
    * winner as the SQL `row_number() OVER (ORDER BY pqL2, j)` — but as
    * one codegen'd projection over `sub`, no join, no window.  The l2
    * arithmetic mirrors `pqL2` exactly: (dot(sv,sv) − 2·dot(sv,cw)) +
    * dot(cw,cw), with dot(cw,cw) folded on the driver by the same
    * left-to-right accumulation (`dotSelf`) the codegen'd fold uses. */
  private def pqAssignDF(sub: DataFrame, cb: PqCb): DataFrame = {
    import org.apache.spark.sql.functions._
    val bySub = cb.groupBy(_._1)
    val pick = (0 until PqM).map { s =>
      // Invariant: every subspace retains ≥1 codeword (each vector is
      // assigned every Lloyd round, so a subspace can never lose ALL
      // its codewords).  If it were violated, array() of zero structs
      // below would fail Catalyst analysis with an obscure error —
      // fail loudly at the source instead.
      require(bySub.contains(s),
        s"PQ codebook lost every codeword in subspace $s " +
          s"(subspaces present: ${bySub.keys.toSeq.sorted.mkString(",")})")
      val structs = bySub(s).sortBy(_._2).map {
        case (_, j, cw) =>
          val l2 = call_function("graft_dot", col("sv"), col("sv")) -
            lit(2.0) * call_function("graft_dot", col("sv"), lit64(cw)) +
            lit(dotSelf(cw))
          struct(l2.as("l2"), lit(j).as("j"))
      }
      element_at(array_sort(array(structs: _*)), 1).getField("j")
    }
    val codeCol = (1 until PqM).foldLeft(when(col("s") === 0, pick(0))) {
      (acc, s) => acc.when(col("s") === s, pick(s))
    }
    sub.withColumn("code", codeCol)
  }

  /** Driver-coordinated Lloyd-trained PQ codebooks — the engine twin
    * of the unrolled `pqLloydCtes` chain (kept as the oracle).  The
    * single-statement SQL re-executes every upstream round at each CTE
    * reference (measured ~98 s WARM at the 100× fixture, the suite's
    * heaviest serve); here each round is ONE assignment projection plus
    * ONE µ-quantized aggregate whose ≤ PqM·PqK-row result is collected
    * and inlined into the next round — the `kmeansCodebook`
    * train-once discipline at subvector width.  Arithmetic is
    * bit-identical: round(x·10⁶) BIGINT sums, CAST(s AS DOUBLE) /
    * (10⁶·cnt) means, codewords that attract no vectors drop out. */
  private[ops] def pqTrainedCb(spark: SparkSession, dir: String): PqCb =
    RelationCache.cachedScalar(spark, s"pq_cb_trained:$dir") {
      import org.apache.spark.sql.functions._
      val sub = pqSubDF(spark, dir)
      var cb = pqSeedCb(spark, dir)
      for (_ <- 1 to PqIters) {
        val sums = (0 until PqSubDim).map(jj =>
          sum(expr(s"CAST(round(element_at(sv, ${jj + 1}) * 1000000.0D)" +
            " AS BIGINT)")).as(s"s$jj"))
        val u = pqAssignDF(sub, cb)
          .groupBy(col("s"), col("code"))
          .agg(count(lit(1)).as("cnt"), sums: _*)
          .collect()
        cb = u.toSeq.map { r =>
          val cnt = r.getAs[Long]("cnt")
          val cw = (0 until PqSubDim).map(jj =>
            r.getAs[Long](s"s$jj").toDouble / (1000000.0 * cnt)).toArray
          (r.getAs[Int]("s"), r.getAs[Long]("code"), cw)
        }.sortBy(t => (t._1, t._2))
      }
      cb
    }

  /** ADC serve over a literal codebook `cb` and its session-cached
    * `codes`: the codebook and the kernel coarse candidates are temp
    * views, and the scoring tail is the SAME `pqAdcTail` SQL the oracle
    * runs — so the serve pays one narrow pass over codes plus the
    * candidate joins, never the training chain. */
  private def adcServeLiteral(spark: SparkSession, dir: String,
      cb: PqCb, codes: DataFrame): DataFrame = {
    requirePqGeometry()
    val n = ivfBase(spark, dir)
    val cents = fixedCentsCached(spark, dir, n)
    ivfCand(spark, n, cents, fixedAsgn(spark, dir))
      .createOrReplaceTempView("graft_adc_cand")
    codes.createOrReplaceTempView("graft_pq_codes")
    import spark.implicits._
    cb.map { case (s, j, cw) => (s, j, cw.toSeq) }.toDF("s", "j", "cw")
      .createOrReplaceTempView("graft_pq_cb")
    val d = SparkDialect
    run(spark, dir,
      s"""WITH ${baseCtes(d)},
         |sx AS (
         |  SELECT ${d.explode(d.sequence0(PqM.toString))} AS s),
         |sub AS (
         |  SELECT n.vec_id, sx.s,
         |    ${d.arrSlice("n.v", s"sx.s * $PqSubDim + 1", PqSubDim.toString)}
         |      AS sv
         |  FROM n CROSS JOIN sx),
         |${pqAdcTail(d, "graft_pq_codes", "graft_pq_cb", "graft_adc_cand")}"""
        .stripMargin)
  }

  /** Session-cached PQ code relations (vec_id, s, code) under the
    * sampled-seed and the Lloyd-trained codebook. */
  private def pqCodesSampled(spark: SparkSession, dir: String): DataFrame =
    RelationCache.cached(spark, s"pq_codes_sampled:$dir") {
      pqCodesOf(spark, dir, pqSeedCb(spark, dir))
    }
  private def pqCodesTrained(spark: SparkSession, dir: String): DataFrame =
    RelationCache.cached(spark, s"pq_codes_trained:$dir") {
      pqCodesOf(spark, dir, pqTrainedCb(spark, dir))
    }
  private def pqCodesOf(spark: SparkSession, dir: String,
      cb: PqCb): DataFrame = {
    import org.apache.spark.sql.functions.col
    pqAssignDF(pqSubDF(spark, dir), cb).select(col("vec_id"), col("s"), col("code"))
  }

  /** Bench-priced builds of the PQ codebooks + code relations — SPLIT
    * into the sampled-seed and Lloyd-trained halves (labeled
    * `pq_codes_sampled` / `pq_codes_trained` build lines) so a
    * filtered run serving only `sim_ann_ivf_adc` never pays the full
    * PqIters driver-coordinated training chain it cannot read, and
    * vice versa.  Each also warms its memoized ADC serve (its own query
    * + both recall harnesses consume it — serving-pipeline memo note
    * above `topK`). */
  def prebuildPqCodesSampled(spark: SparkSession, dir: String): Unit = {
    pqCodesSampled(spark, dir).count()
    ivfAdc(spark, dir).count()
    ()
  }

  def prebuildPqCodesTrained(spark: SparkSession, dir: String): Unit = {
    pqCodesTrained(spark, dir).count()
    ivfAdcTrained(spark, dir).count()
    ()
  }

  /** Engine-side k-means IVF: the single-statement SQL form (kept as
    * the oracle) inlines the whole Lloyd chain at every reference, so
    * Spark would recompute each round several times.  Distributed
    * k-means is naturally driver-coordinated instead: centroids are k·D
    * numbers, so each round is ONE aggregation job (map-side partial
    * sums of quantized longs) whose k-row result is collected and
    * inlined into the next round's assignment projection — the
    * DataFrame equivalent of broadcasting the codebook.  All arithmetic
    * (quantized sums, µ/10⁶/n division, left-to-right dot folds, tie on
    * cid) is identical to the oracle SQL, so results stay bit-equal. */
  private def lit64(a: Array[Double]): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.array(
      a.map(org.apache.spark.sql.functions.lit(_)): _*)

  private def dotSelf(a: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * a(i); i += 1 }; s
  }

  /** Per-row centroid ranking against a literal codebook: ascending
    * (-cs, cid) struct sort ≡ the oracle's ORDER BY cs DESC, cid
    * (exact for non-NaN doubles).  The cosine against each literal
    * centroid uses the same codegen'd fold as the oracle. */
  private def centroidOrder(
      cents: Seq[(Long, Array[Double], Double)]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    array_sort(array(cents.map { case (cid, cv, cnrm) =>
      struct((-call_function("graft_dot", col("v"), lit64(cv))
        .divide(col("nrm") * lit(cnrm))).as("ncs"), lit(cid).as("cid"))
    }: _*))
  }

  /** Codebook-size threshold between the two assignment shapes.  At
    * or below it, `centroidOrder`'s unrolled literal expression wins:
    * fully codegen'd, zero extra shuffle.  Above it the expression
    * tree carries k·D literal doubles — Janino overflows its method
    * limits and Spark silently falls back to interpreted per-row
    * evaluation, and Catalyst itself chokes folding the constants
    * (measured: k = 447 at the 100× scaling corpus turned a ~10 s
    * assignment into minutes of single-threaded driver+interpreter
    * time) — so assignment switches to `centroidTopDF`'s
    * broadcast-join form, which is the shape that holds at ANY k
    * (100 TB nlist is ~√n ≫ any Janino limit). */
  private val CentroidExprMaxK = 64

  /** (vec_id, cids) centroid ranking via the native kernel — cids
    * ranked best-first by (cs desc, cid asc). */
  private[ops] def centroidTopDF(rows: DataFrame,
      cents: Seq[(Long, Array[Double], Double)], top: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    rows.select(col("vec_id"), topCidsCol(cents, top).as("cids"))
  }

  /** The codebook rides as THREE foldable literals into the native
    * graft_top_cids kernel (one Literal node each — never k·D
    * expression leaves, the Janino/constant-folding bomb
    * CentroidExprMaxK guards the unrolled form against), so
    * assignment runs inside the row pipeline: no broadcast join, no
    * n·k intermediate rows, no per-group shuffle.  Replaces the
    * broadcast-join + TopKPairs bounded-heap form — same contract
    * bit for bit: cs = graft_dot(v, cv)/(nrm·cnrm) with non-positive
    * norm products pinned to the -2.0 sentinel (cosine ∈ [-1,1], so
    * they rank last), order (cs desc, cid asc).  Measured at the
    * 100× fixture (k = 447, n = 200 k) the join form cost ~47 s of
    * every _scaled serve; the kernel runs the same k·D flops in-row.
    */

  /** The kernel call as a bare Column over (v, nrm) — shared by
    * `centroidTopDF` (projection form) and `assignedCid` (inline
    * withColumn form). */
  private def topCidsCol(cents: Seq[(Long, Array[Double], Double)],
      top: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val sorted = cents.sortBy(_._1)
    call_function("graft_top_cids", col("v"), col("nrm"),
      typedLit(sorted.map(_._1)),
      typedLit(sorted.map(_._2.toSeq)),
      typedLit(sorted.map(_._3)),
      lit(top))
  }

  /** `df` + an assigned `cid` column (rank-1 centroid), dispatching
    * on codebook size — see `CentroidExprMaxK`.  `df` must carry
    * (vec_id, v, nrm).  Both arms are per-row projections: the kernel
    * arm inlines `element_at(graft_top_cids(...), 1)` directly — the
    * earlier join-back through `centroidTopDF` shuffled the whole
    * relation purely to re-attach columns the expression never needed
    * to drop (the cheapest shuffle removal in the codebase, per the
    * round-12 verdict). */
  private[ops] def assignedCid(df: DataFrame,
      cents: Seq[(Long, Array[Double], Double)]): DataFrame = {
    import org.apache.spark.sql.functions._
    if (cents.size <= CentroidExprMaxK)
      df.withColumn("cid", centroidOrder(cents)(0).getField("cid"))
    else
      df.withColumn("cid",
        element_at(topCidsCol(cents, 1), 1))
  }

  /** (qid, cid) probe pairs — the `nprobe` nearest centroids per
    * query row — dispatching on codebook size like `assignedCid`. */
  private def probeCids(queries: DataFrame,
      cents: Seq[(Long, Array[Double], Double)],
      nprobe: Int = 2): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    if (cents.size <= CentroidExprMaxK)
      queries.withColumn("p", explode(slice(centroidOrder(cents), 1, nprobe)))
        .select($"vec_id".as("qid"), $"p.cid".as("cid"))
    else
      centroidTopDF(queries, cents, nprobe)
        .select($"vec_id".as("qid"), explode($"cids").as("cid"))
  }

  /** Session-scoped memo of trained codebooks: the Lloyd loop is
    * deterministic (quantized sums, fixed init), so the three
    * consumers (`ivfKmeans`, `ivfKmeansPersisted`, `recall`'s k-means
    * pipeline) share one training run per (session, relation) instead
    * of re-descending each call.  Lives in `RelationCache`'s scalar
    * store, so `RelationCache.clear` — the documented refresh hook for
    * a regenerated dataset — and the shutdown listener release it
    * together with the base relation it was trained from. */
  private[ops] def trainCodebookCached(spark: SparkSession, dir: String,
      n: DataFrame): Seq[(Long, Array[Double], Double)] =
    RelationCache.cachedScalar(spark, s"kmeans_codebook:$dir") {
      // corpus-capped fixed init (mod 100 below 10k vectors, √n
      // stride past that) — the init collect is bounded at any n
      trainCodebook(n, fixedPickMod(n), 50L)
    }

  /** Stride of the corpus-scaled seed rule (`scaledInitPred`):
    * s = floor(n / floor(√n)), so vec_id ≡ 0 (mod s) picks ~√n seeds
    * over the fixtures' dense id space.  One count job; pure integer
    * arithmetic, bit-identical to the oracle's scalar subquery. */
  private[ops] def scaledStride(n: DataFrame): Long = {
    val cnt = n.count()
    require(cnt > 0,
      "cannot size a scaled IVF codebook for an EMPTY embeddings relation")
    val k = math.max(1L, math.floor(math.sqrt(cnt.toDouble)).toLong)
    math.max(1L, cnt / k)
  }

  /** `trainCodebookCached` for the √n-scaled codebook (its own memo
    * key — the two codebooks coexist in one session). */
  private[ops] def trainScaledCodebookCached(spark: SparkSession, dir: String,
      n: DataFrame): Seq[(Long, Array[Double], Double)] =
    RelationCache.cachedScalar(spark, s"kmeans_codebook_scaled:$dir") {
      trainCodebook(n, scaledStride(n), 0L)
    }

  /** Engine-side twin of `fixedPickPred`'s modulus: max(100, √n
    * stride).  ≡ 100 on every corpus below 10 000 vectors (all the
    * small fixtures — results unchanged), √n-strided past that, so
    * the pick count — and with it every collect, broadcast and
    * assignment loop keyed on the fixed codebook — is bounded by
    * ~max(√n, 100) rows at ANY corpus size. */
  private[ops] def fixedPickMod(n: DataFrame): Long =
    math.max(100L, scaledStride(n))

  /** The collected fixed-pick codebook (vec_id ≡ 50 mod
    * `fixedPickMod` rows of `n`), session-memoized like the trained
    * codebooks.  Collect is bounded (≤ ~√n rows — see
    * `fixedPickMod`); norms recompute with the same left-to-right
    * fold the SQL `n.nrm` column uses, so the codebook is
    * bit-identical to the oracle's `c` CTE. */
  private[ops] def fixedCentsCached(spark: SparkSession, dir: String,
      n: DataFrame): Seq[(Long, Array[Double], Double)] =
    RelationCache.cachedScalar(spark, s"fixed_codebook:$dir") {
      import spark.implicits._
      val mod = fixedPickMod(n)
      n.filter($"vec_id" % mod === 50).select($"vec_id", $"v")
        .orderBy($"vec_id").collect().map { r =>
          val v = r.getSeq[Double](1).toArray
          (r.getLong(0), v, math.sqrt(dotSelf(v)))
        }.toSeq
    }

  /** Driver-coordinated spherical k-means over a relation carrying
    * (vec_id, v, nrm): deterministic init (vec_id ≡ rem mod `mod`
    * picks — callers pass `fixedPickMod`'s capped modulus or the
    * scaled stride, so the init collect is ≤ ~√n rows at any corpus
    * size), then `KmeansIters` Lloyd rounds — each ONE aggregation
    * job whose map-side partial sums are µ-quantized longs, so the
    * collected codebook (k·D numbers) is bit-identical to the
    * oracle's unrolled CTE chain regardless of partial-aggregation
    * order. */
  private def trainCodebook(n0: DataFrame, mod: Long,
      rem: Long): Seq[(Long, Array[Double], Double)] = {
    val spark = n0.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val n = n0.select($"vec_id", $"v", $"nrm")
    val quant = KmeansQuant.toDouble
    // init: deterministic picks, ordered by cid
    var cents: Seq[(Long, Array[Double], Double)] =
      n.filter($"vec_id" % mod === rem).orderBy($"vec_id").collect().map { r =>
        val v = r.getSeq[Double](1).toArray
        (r.getLong(0), v, math.sqrt(dotSelf(v)))
      }.toSeq
    for (_ <- 0 until KmeansIters) {
      val sums = (0 until KmeansDim).map(j =>
        sum(round(element_at($"v", j + 1) * quant).cast("long")).as(s"s$j"))
      val updated = assignedCid(n, cents)
        .groupBy($"cid")
        .agg(count(lit(1)).as("cnt"), sums: _*)
        .collect()
      cents = updated.map { r =>
        val cnt = r.getLong(1)
        val cv = Array.tabulate(KmeansDim)(j =>
          r.getLong(2 + j).toDouble / (quant * cnt))
        (r.getLong(0), cv, math.sqrt(dotSelf(cv)))
      }.sortBy(_._1).toSeq
    }
    cents
  }

  def ivfKmeans(spark: SparkSession, dir: String): DataFrame =
    RelationCache.materialized(spark, s"serve_ivf_kmeans:$dir") {
      // session-scoped cached relation (RelationCache): repeated bench /
      // verify invocations — and the persisted variant — share one
      // cache entry instead of pinning a new one per call
      val n = ivfBase(spark, dir)
      exactIvfServe(spark, n, trainCodebookCached(spark, dir, n),
        kmeansAsgn(spark, dir))
    }

  /** The full-corpus coarse assignment (vec_id, cid) of each codebook
    * family — the n×k kernel pass, the dominant serve cost (≈25 s at the
    * 100× fixture) shared by every query of the family, so it is paid
    * once per session.  `materialized`: the assignment plan carries the
    * k·D literal centroid doubles. */
  private def fixedAsgn(spark: SparkSession, dir: String): DataFrame =
    RelationCache.materialized(spark, s"fixed_asgn:$dir") {
      val n = ivfBase(spark, dir)
      assignedCid(n, fixedCentsCached(spark, dir, n)).select("vec_id", "cid")
    }
  private def kmeansAsgn(spark: SparkSession, dir: String): DataFrame =
    RelationCache.materialized(spark, s"kmeans_asgn:$dir") {
      val n = ivfBase(spark, dir)
      assignedCid(n, trainCodebookCached(spark, dir, n)).select("vec_id", "cid")
    }

  /** IVF candidate pairs (qid, nid) over any collected codebook and
    * its corpus assignment `asgn` (vec_id, cid): nprobe=2 probing — the
    * coarse stage shared by the exact serve and the ADC engine forms
    * (where it replaces the oracle's n·k CROSS JOIN + per-vector
    * window). */
  private def ivfCand(spark: SparkSession, n: DataFrame,
      cents: Seq[(Long, Array[Double], Double)],
      asgn: DataFrame): DataFrame = {
    import spark.implicits._
    val probe = probeCids(n.filter($"vec_id" % 100 === 0), cents)
    probe.join(asgn, "cid")
      .filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("nid"))
  }

  // ---- nprobe recall/cost sweep --------------------------------------

  /** The swept nprobe settings (1 = cheapest, 4 = 2× the serving
    * default) — the knob an IVF deployment tunes first. */
  val SweepNprobes = Seq(1, 2, 4)

  /** IVF tuning sweep: recall@5 AND mean candidate-list size per
    * nprobe setting, over the deterministic √|Q| query sample — the
    * cost/recall curve that decides an index's serving configuration.
    * Ground truth is the sampled brute-force top-5 (shared cached
    * relation with `sim_recall_sampled`); every variant serves from
    * the SAME trained codebook, so the sweep isolates the probe-width
    * effect.  Scale: truth is √|Q|·n (the one unblockable cost,
    * sampled); each sweep point is the standard IVF candidate join
    * restricted to √|Q| queries — strictly cheaper than the
    * full-query-set serving paths measured elsewhere. */
  def nprobeSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val n = ivfBase(spark, dir)
    val cents = trainCodebookCached(spark, dir, n)
    val truth = sampledTruth(spark, dir)
    val sq = RelationCache.materialized(spark, s"nprobe_sweep_queries:$dir") {
      n.join(truth.select($"query_id".as("vec_id")).distinct(), "vec_id")
    }
    val asgn = kmeansAsgn(spark, dir)
    // One candidate generation + ONE scoring pass at the WIDEST probe
    // (every narrower setting's candidates are a crn-prefix subset —
    // a neighbor's cid has exactly one rank per query, so `crn <= np`
    // carves each setting out of the same scored relation); per-np
    // top-5 and counts come from one window over (np, qid).  A
    // per-setting loop re-ran the assignment join and scoring 3×.
    val maxNp = SweepNprobes.max
    val ranked =
      (if (cents.size <= CentroidExprMaxK)
        sq.select($"vec_id".as("qid"),
            posexplode(slice(centroidOrder(cents), 1, maxNp)))
          .select($"qid", ($"pos" + 1).as("crn"), $"col.cid".as("cid"))
      else
        centroidTopDF(sq, cents, maxNp)
          .select($"vec_id".as("qid"), posexplode($"cids"))
          .select($"qid", ($"pos" + 1).as("crn"), $"col".as("cid")))
    val scored = ranked
      .join(asgn, "cid")
      .filter($"vec_id" =!= $"qid")
      .select($"qid", $"crn", $"vec_id".as("nid"))
      .join(n.select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn")), "qid")
      .join(n.select($"vec_id".as("nid"), $"v".as("nv"), $"nrm".as("nn")), "nid")
      .select($"qid", $"crn", $"nid",
        expr("graft_dot(qv, nv)").divide($"qn" * $"nn").as("cs"))
    val swp = SweepNprobes.map(_.toLong).toDF("np")
    val expanded = scored.join(broadcast(swp), $"crn" <= $"np")
    val r5 = expanded
      .withColumn("rn", row_number().over(
        Window.partitionBy($"np", $"qid").orderBy($"cs".desc, $"nid")))
      .filter($"rn" <= 5)
    val hits = r5
      .join(truth, r5("qid") === truth("query_id") &&
        r5("nid") === truth("neighbor_id"))
      .groupBy($"np").agg(count(lit(1)).as("n_hits"))
    val cc = expanded.groupBy($"np").agg(count(lit(1)).as("n_cand"))
    val nq = sq.agg(count(lit(1)).as("n_queries"))
    swp.crossJoin(nq)
      .join(hits, Seq("np"), "left")
      .join(cc, Seq("np"), "left")
      .select($"np".as("nprobe"), $"n_queries",
        round(coalesce($"n_hits", lit(0L)).cast("double")
          / (lit(5.0) * $"n_queries"), 6).as("mean_recall"),
        round(coalesce($"n_cand", lit(0L)).cast("double") / $"n_queries", 6)
          .as("mean_candidates"))
      .orderBy($"nprobe")
  }

  /** Oracle of `nprobeSweep`: the trained chain's full centroid
    * ranking (`xf`) and final assignment (`asgn`) from
    * `kmeansCandCtes`, cross-joined with the swept nprobe values;
    * truth is the shared sampled brute-force top-5. */
  def nprobeSweepSql(d: SqlDialect): String = {
    val sw = SweepNprobes.map(np => s"SELECT $np AS np").mkString(" UNION ALL ")
    s"""WITH ${kmeansCandCtes(d)},
       |${qsampleCtes(d)},
       |swp AS ($sw),
       |truth AS ${d.mat} (
       |  ${sampledTruthSql(d)}),
       |spr AS (
       |  SELECT w.np, f.vec_id AS qid, f.cid
       |  FROM qsample s
       |  JOIN xf f ON f.vec_id = s.vec_id
       |  CROSS JOIN swp w
       |  WHERE f.crn <= w.np),
       |scand AS ${d.mat} (
       |  SELECT spr.np, spr.qid, a.vec_id AS nid
       |  FROM spr JOIN asgn a ON a.cid = spr.cid AND a.vec_id != spr.qid),
       |ssc AS (
       |  SELECT scand.np, scand.qid, scand.nid,
       |    ${d.dot("q.v", "x.v")} / (q.nrm * x.nrm) AS cs
       |  FROM scand
       |  JOIN n q ON q.vec_id = scand.qid
       |  JOIN n x ON x.vec_id = scand.nid),
       |sr5 AS (
       |  SELECT np, qid, nid FROM (
       |    SELECT np, qid, nid,
       |      row_number() OVER (PARTITION BY np, qid
       |        ORDER BY cs DESC, nid) AS rn
       |    FROM ssc) z WHERE rn <= 5),
       |sm AS (
       |  SELECT sr5.np, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM sr5 JOIN truth t
       |    ON t.query_id = sr5.qid AND t.neighbor_id = sr5.nid
       |  GROUP BY sr5.np),
       |scc AS (
       |  SELECT np, CAST(count(*) AS BIGINT) AS n_cand
       |  FROM scand GROUP BY np),
       |snq AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_queries FROM qsample)
       |SELECT CAST(w.np AS BIGINT) AS nprobe, snq.n_queries,
       |  round(CAST(coalesce(sm.n_hits, 0) AS DOUBLE)
       |    / (${d.dlit(5.0)} * snq.n_queries), 6) AS mean_recall,
       |  round(CAST(coalesce(scc.n_cand, 0) AS DOUBLE)
       |    / snq.n_queries, 6) AS mean_candidates
       |FROM swp w
       |CROSS JOIN snq
       |LEFT JOIN sm ON sm.np = w.np
       |LEFT JOIN scc ON scc.np = w.np
       |ORDER BY nprobe""".stripMargin
  }

  // ---- MMR diversified reranking ------------------------------------

  /** MMR candidate-pool size (top-N by relevance per query) and the
    * number of greedy selection rounds. */
  val MmrPool = 20
  val MmrK = 5
  /** Trade-off λ: score = λ·rel − (1−λ)·max-sim-to-selected
    * (Carbonell & Goldstein 1998, "The Use of MMR ..." — public). */
  val MmrLambda = 0.7

  /** Maximal-marginal-relevance reranking over the trained-IVF
    * candidates: the production "diversify the top of the list" step a
    * retrieval pipeline runs after ANN search, so near-duplicate
    * neighbors don't crowd out coverage.  Greedy by definition —
    * round 1 picks pure relevance, each later round picks
    * argmax(λ·rel − (1−λ)·max cosine to the already-selected set).
    *
    * Scale shape: candidate generation is the IVF probe (sublinear per
    * query); the pool is capped at `MmrPool` per query, so the
    * pairwise-sim relation is ≤ pool² rows PER QUERY (a few hundred)
    * and every greedy round is a join over per-query groups running in
    * parallel across queries — the rounds are sequential, the queries
    * are not.  Pool and pair-sim relations are session-cached
    * (multi-round consumers); the oracle marks them MATERIALIZED for
    * the same reason (`SqlDialect.mat`). */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val n = ivfBase(spark, dir)
    val cents = trainCodebookCached(spark, dir, n)
    val byRel = Window.partitionBy($"qid").orderBy($"rel".desc, $"nid")
    val pool = RelationCache.materialized(spark, s"mmr_pool:$dir") {
      ivfCand(spark, n, cents, kmeansAsgn(spark, dir))
        .join(n.select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn")), "qid")
        .join(n.select($"vec_id".as("nid"), $"v".as("nv"), $"nrm".as("nn")), "nid")
        .select($"qid", $"nid",
          expr("graft_dot(qv, nv)").divide($"qn" * $"nn").as("rel"))
        .withColumn("rn", row_number().over(byRel))
        .filter($"rn" <= MmrPool).drop("rn")
    }
    val ps = RelationCache.materialized(spark, s"mmr_psim:$dir") {
      pool.select($"qid", $"nid".as("anid"))
        .join(pool.select($"qid", $"nid".as("bnid")), Seq("qid"))
        .filter($"anid" =!= $"bnid")
        .join(n.select($"vec_id".as("anid"), $"v".as("av"), $"nrm".as("an")), "anid")
        .join(n.select($"vec_id".as("bnid"), $"v".as("bv"), $"nrm".as("bn")), "bnid")
        .select($"qid", $"anid", $"bnid",
          expr("graft_dot(av, bv)").divide($"an" * $"bn").as("sim"))
    }
    // The greedy rounds run INSIDE one cogroup: per query the state is
    // ≤ MmrPool candidates + MmrPool² sims, so the sequential-by-
    // definition selection is a bounded local loop per group, and the
    // whole operator is two cached builds + ONE shuffle on qid.  (A
    // first cut chained k DataFrame rounds instead — each referencing
    // the growing selection twice — and produced a 500-node plan whose
    // ~40 AQE stages cost 37 s at sf0.1 in pure orchestration; group-
    // local greedy is the idiomatic Spark shape for tiny-per-key
    // sequential algorithms.)  Arithmetic mirrors the oracle exactly:
    // λ·rel − (1−λ)·max-sim in the same IEEE order, ties on nid.
    val lam = MmrLambda
    val mu = 1.0 - MmrLambda
    val k = MmrK
    val res = pool.select($"qid", $"nid", $"rel")
      .as[(Long, Long, Double)].groupByKey(_._1)
      .cogroup(ps.select($"qid", $"anid", $"bnid", $"sim")
        .as[(Long, Long, Long, Double)].groupByKey(_._1)) { (q, cs, ss) =>
        val cand = cs.toArray.sortBy(c => (-c._3, c._2))
        if (cand.isEmpty) Iterator.empty
        else {
          val sim = ss.map(s => ((s._2, s._3), s._4)).toMap
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Long, Long, Double, Double)]
          val head = cand.head
          out += ((q, head._2, 1L, head._3, lam * head._3))
          var selected = List(head._2)
          var round = 2
          var exhausted = false
          while (round <= k && !exhausted) {
            val rem = cand.filter(c => !selected.contains(c._2))
            if (rem.isEmpty) exhausted = true
            else {
              val best = rem.map { c =>
                val ms = selected.iterator.map(s => sim((c._2, s))).max
                (c._2, c._3, lam * c._3 - mu * ms)
              }.minBy(x => (-x._3, x._1))
              out += ((q, best._1, round.toLong, best._2, best._3))
              selected ::= best._1
              round += 1
            }
          }
          out.iterator
        }
      }
    res.toDF("query_id", "neighbor_id", "rank", "rel", "mmr")
      .select($"query_id", $"neighbor_id", $"rank",
        round($"rel", 6).as("cosine"), round($"mmr", 6).as("mmr_score"))
      .orderBy($"query_id", $"rank")
  }

  /** Unrolled-greedy oracle of `mmrRerank` over the same trained-IVF
    * candidate chain (`kmeansCandCtes` — the relation the green
    * `sim_ivf_kmeans` check already pins to the engine's codebook). */
  def mmrSql(d: SqlDialect): String = {
    val lam = d.dlit(MmrLambda)
    val mu = d.dlit(1.0 - MmrLambda)
    val rounds = (2 to MmrK).map { k =>
      val sel = (1 until k).map(j => s"  SELECT qid, nid FROM mr$j")
        .mkString("\n  UNION ALL\n")
      s"""msel${k - 1} AS ${d.mat} (
         |$sel),
         |mq$k AS (
         |  SELECT p.qid, p.nid, p.rel, max(ps.sim) AS ms
         |  FROM mpool p
         |  LEFT JOIN msel${k - 1} x ON x.qid = p.qid AND x.nid = p.nid
         |  JOIN mps ps ON ps.qid = p.qid AND ps.anid = p.nid
         |  JOIN msel${k - 1} s ON s.qid = ps.qid AND s.nid = ps.bnid
         |  WHERE x.nid IS NULL
         |  GROUP BY p.qid, p.nid, p.rel),
         |mr$k AS (
         |  SELECT qid, nid, rel, mmr FROM (
         |    SELECT qid, nid, rel, $lam * rel - $mu * ms AS mmr,
         |      row_number() OVER (PARTITION BY qid
         |        ORDER BY $lam * rel - $mu * ms DESC, nid) AS rn
         |    FROM mq$k) z WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val out = (1 to MmrK).map(k =>
      s"""SELECT qid, nid, CAST($k AS BIGINT) AS rank, rel, mmr FROM mr$k""")
      .mkString("\nUNION ALL\n")
    s"""WITH ${kmeansCandCtes(d)},
       |sc AS (
       |  SELECT cand.qid, cand.nid,
       |    ${d.dot("q.v", "x.v")} / (q.nrm * x.nrm) AS rel
       |  FROM cand
       |  JOIN n q ON q.vec_id = cand.qid
       |  JOIN n x ON x.vec_id = cand.nid),
       |mpool AS ${d.mat} (
       |  SELECT qid, nid, rel FROM (
       |    SELECT qid, nid, rel,
       |      row_number() OVER (PARTITION BY qid ORDER BY rel DESC, nid) AS rn
       |    FROM sc) z WHERE rn <= $MmrPool),
       |mps AS ${d.mat} (
       |  SELECT a.qid, a.nid AS anid, b.nid AS bnid,
       |    ${d.dot("va.v", "vb.v")} / (va.nrm * vb.nrm) AS sim
       |  FROM mpool a
       |  JOIN mpool b ON b.qid = a.qid AND b.nid != a.nid
       |  JOIN n va ON va.vec_id = a.nid
       |  JOIN n vb ON vb.vec_id = b.nid),
       |mr1 AS (
       |  SELECT qid, nid, rel, $lam * rel AS mmr FROM (
       |    SELECT qid, nid, rel,
       |      row_number() OVER (PARTITION BY qid ORDER BY rel DESC, nid) AS rn
       |    FROM mpool) z WHERE rn = 1),
       |$rounds
       |SELECT qid AS query_id, nid AS neighbor_id, rank,
       |  round(rel, 6) AS cosine, round(mmr, 6) AS mmr_score
       |FROM (
       |$out
       |) u ORDER BY query_id, rank""".stripMargin
  }

  /** In-memory IVF serve over ANY collected codebook: kernel/unrolled
    * assignment, nprobe=2 probing, exact cosine scoring, top-5 per
    * query — the shared tail of `ivfKmeans` (trained codebook) and
    * `ivf` (capped fixed picks).  The candidate join shuffles only
    * (qid, nid) pairs; scoring re-attaches vectors by key. */
  private def exactIvfServe(spark: SparkSession, n: DataFrame,
      cents: Seq[(Long, Array[Double], Double)],
      asgn: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val cand = ivfCand(spark, n, cents, asgn)
    val sc = cand
      .join(n.select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn")), "qid")
      .join(n.select($"vec_id".as("nid"), $"v".as("nv"), $"nrm".as("nn")), "nid")
      .select($"qid", $"nid",
        expr("graft_dot(qv, nv)").divide($"qn" * $"nn").as("cs"))
    import org.apache.spark.sql.expressions.Window
    sc.withColumn("rn",
        row_number().over(Window.partitionBy($"qid")
          .orderBy($"cs".desc, $"nid")))
      .filter($"rn" <= 5)
      .select($"qid".as("query_id"), $"nid".as("neighbor_id"),
        round($"cs", 6).as("cosine"), $"rn".cast("long").as("rank"))
      .orderBy($"query_id", $"rank")
  }

  // ---- k-NN graph: deterministic NN-descent (round 15) ---------------

  private val KnnK = 5
  private val KnnRounds = 2

  /** Corpus-scaled LSH key CTEs — the SAME construction as
    * `annLshScaledSql` (4 bands; per band, the first
    * nb = clamp(4..16, ⌈log₂(n/32)⌉) hyperplane sign bits, so expected
    * bucket occupancy stays ~32 at any corpus size) — ending in
    * `keys(vec_id, band, bkey)`.  Factored for the k-NN graph's init
    * stage; `annLshScaledSql` keeps its own inline copy so its oracle
    * text cannot drift. */
  private def knnKeyCtes(d: SqlDialect): String = {
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
    val nbLadder = (4 until maxBits)
      .map(b => s"WHEN count(*) <= ${32L * (1L << b)} THEN $b")
      .mkString("\n    ")
    s"""w AS (
       |  SELECT CAST(CASE
       |    $nbLadder
       |    ELSE $maxBits END AS INT) AS nb
       |  FROM n),
       |bits AS ${d.mat} (
       |  SELECT vec_id,
       |    $bitCols
       |  FROM n),
       |bands AS (
       |  $bandStrs),
       |keys AS ${d.mat} (
       |  SELECT vec_id, band, substring(bstr, 1, w.nb) AS bkey
       |  FROM bands CROSS JOIN w)""".stripMargin
  }

  /** Score a candidate edge relation and keep the top-K per source
    * node, as CTE text: `$cand(qid, nid)` → `$out(qid, nid, cs, rn)`.
    * `$out` is `${d.mat}`-hinted: each graph stage feeds the next
    * round's symmetrize (2 refs) + expand + rescore union — inlined
    * per reference (DuckDB's default), the chain's recompute factor is
    * ~3 PER ROUND, measured 331 s for the 2-round sf0.1 oracle vs
    * 62 s materialized (identical rows). */
  private def knnTopkCtes(d: SqlDialect, cand: String, out: String): String =
    s"""${out}p AS (
       |  SELECT c.qid, c.nid,
       |    ${d.dot("a.v", "b.v")} / (a.nrm * b.nrm) AS cs
       |  FROM $cand c
       |  JOIN n a ON a.vec_id = c.qid
       |  JOIN n b ON b.vec_id = c.nid),
       |$out AS ${d.mat} (
       |  SELECT qid, nid, cs, rn FROM (
       |    SELECT qid, nid, cs,
       |      row_number() OVER (PARTITION BY qid ORDER BY cs DESC, nid) AS rn
       |    FROM ${out}p) t
       |  WHERE rn <= $KnnK)""".stripMargin

  /** One NN-descent round as CTE text: symmetrize the previous graph
    * (`UNION` dedups), expand neighbors-of-neighbors, union with the
    * current edges → `cand$i(qid, nid)`. */
  private def knnRoundCtes(d: SqlDialect, prev: String, i: Int): String =
    s"""s$i AS ${d.mat} (
       |  SELECT qid, nid FROM $prev
       |  UNION
       |  SELECT nid AS qid, qid AS nid FROM $prev),
       |cand$i AS (
       |  SELECT qid, nid FROM $prev
       |  UNION
       |  SELECT x.qid, y.nid FROM s$i x JOIN s$i y
       |    ON x.nid = y.qid AND x.qid != y.nid)""".stripMargin

  /** Init candidates per bucket member: its `KnnInitWindow` rank
    * SUCCESSORS within the bucket (vec_id order), both edge
    * directions.  The full bucket clique is quadratic IN THE BUCKET —
    * and hyperplane sign bits collide whole semantic clusters into
    * one bucket (that is what makes LSH work), so on clustered
    * corpora hot buckets hold Θ(cluster) members and the clique join
    * enumerates Θ(cluster²) pairs: at the 100× fixture (~20k-member
    * hot buckets) the init alone generated billions of candidate
    * rows and died spilling >60 GB.  The rank-window init is the
    * deterministic analogue of NN-descent's random init (Dong et al.
    * WWW'11 — init quality only affects convergence speed, and the
    * expand rounds recover true neighbors): candidate volume is
    * ≤ 2·W·bands·n at ANY skew, and at oracle-scale buckets (~32
    * members ≈ 2W) the window covers essentially the whole bucket, so
    * the two inits coincide where the driver hash-checks. */
  private val KnnInitWindow = 16

  private def knnInitCte(d: SqlDialect): String = {
    val series = (1 to KnnInitWindow).map(k => s"($k)").mkString(",")
    s"""rk AS ${d.mat} (
       |  SELECT vec_id, band, bkey,
       |    row_number() OVER (PARTITION BY band, bkey ORDER BY vec_id) AS r
       |  FROM keys),
       |ser AS (SELECT k FROM (VALUES $series) AS t(k)),
       |cand0 AS (
       |  SELECT DISTINCT qid, nid FROM (
       |    SELECT a.vec_id AS qid, b.vec_id AS nid
       |    FROM rk a CROSS JOIN ser s
       |    JOIN rk b ON b.band = a.band AND b.bkey = a.bkey
       |     AND b.r = a.r + s.k
       |    UNION ALL
       |    SELECT b.vec_id AS qid, a.vec_id AS nid
       |    FROM rk a CROSS JOIN ser s
       |    JOIN rk b ON b.band = a.band AND b.bkey = a.bkey
       |     AND b.r = a.r + s.k) u)""".stripMargin
  }

  private def knnChainCtes(d: SqlDialect): String =
    (s"""${knnInitCte(d)},
        |${knnTopkCtes(d, "cand0", "g0")}""".stripMargin +:
      (1 to KnnRounds).map(i =>
        s"""${knnRoundCtes(d, s"g${i - 1}", i)},
           |${knnTopkCtes(d, s"cand$i", s"g$i")}""".stripMargin))
      .mkString(",\n")

  /** Oracle/spec form of [[knnGraph]]: the whole init + `KnnRounds`
    * NN-descent chain as ONE statement.  DuckDB materializes
    * multi-referenced CTEs, so the chain executes each stage once; the
    * ENGINE deliberately does NOT run this text (Spark inlines CTEs
    * per reference — the chain would recompute the init exponentially)
    * and stages cached DataFrames instead. */
  def knnGraphSql(d: SqlDialect): String =
    s"""WITH ${baseCtes(d)},
       |${knnKeyCtes(d)},
       |${knnChainCtes(d)}
       |SELECT qid AS node_id, nid AS neighbor_id,
       |  round(cs, 6) AS cosine, CAST(rn AS BIGINT) AS rank
       |FROM g$KnnRounds ORDER BY node_id, rank""".stripMargin

  /** Session-cached (vec_id, v, nrm) node relation the graph stages
    * score against — [[Dedup.embNorms]]'s relation (bit-identical
    * construction: toDoubleArr + sqrt(graft_dot)), shared instead of
    * duplicated under a second cache key (r15). */
  private def knnBase(spark: SparkSession, dir: String): DataFrame =
    Dedup.embNorms(spark, dir)

  /** Exact-cosine scoring + per-node top-K over a candidate edge
    * relation — the DataFrame twin of [[knnTopkCtes]], bit-identical
    * arithmetic (same codegen'd left-to-right `graft_dot` fold, same
    * (cs DESC, nid) tie).
    *
    * Both vector joins carry a SHUFFLE_HASH hint: past the broadcast
    * threshold (the 100× node relation is ~110 MB of dim-64 doubles)
    * Spark's default is SortMergeJoin, which SORTS the candidate side
    * — and after the first join every candidate row carries a ~0.5 KB
    * vector, so the second SMJ sorts tens of GB per NN-descent round
    * and the 100× build died spilling ~60 GB to disk.  A shuffled
    * hash join builds the (small) per-partition node slice and
    * STREAMS the wide candidate rows — no sort of the wide side ever
    * exists.  Result-identical; strictly a physical-plan constraint.
    * The per-node top-K window then sorts only (qid, nid, cs) rows —
    * narrow by construction. */
  private def knnScore(spark: SparkSession, dir: String,
      cand: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val n = knnBase(spark, dir)
    cand.as("c")
      .join(n.as("a").hint("shuffle_hash"), $"a.vec_id" === $"c.qid")
      .join(n.as("b").hint("shuffle_hash"), $"b.vec_id" === $"c.nid")
      .select($"c.qid".as("qid"), $"c.nid".as("nid"),
        expr(s"${SparkDialect.dot("a.v", "b.v")} / (a.nrm * b.nrm)").as("cs"))
      .withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy($"qid").orderBy($"cs".desc, $"nid")))
      .filter($"rn" <= KnnK)
  }

  /** The engine-side k-NN graph chain: init candidates from the
    * corpus-scaled LSH buckets, then `KnnRounds` rounds of symmetrize
    * → neighbor-of-neighbor expand → rescore top-K.  Each stage is a
    * session-cached DataFrame, so the init is computed exactly once
    * (the single-statement oracle relies on DuckDB's CTE
    * materialization for the same property).
    *
    * Scale (100 TB): no stage is super-linear.  Init pair volume is
    * ≤ 2·W·bands·n at ANY bucket skew (the rank-window init — see
    * [[knnInitCte]]; the naive bucket clique is quadratic in
    * hot-bucket size and died at 100×); each round's candidate volume is ≤ n·(2K)² (symmetrized
    * degree ≤ 2K, so neighbor-of-neighbor fan-out is bounded per
    * node, independent of corpus size); every join/top-K shuffles on
    * node ids.  This is the graph-construction half of graph-ANN
    * (NN-descent, Dong et al. WWW'11) with the randomized sampling
    * replaced by deterministic LSH init + full bounded expansion, so
    * both engines agree exactly. */
  private[ops] def knnGraphFinal(spark: SparkSession,
      dir: String): DataFrame = {
    val d = SparkDialect
    // Every stage is `materialized` (localCheckpoint'ed, eager): the
    // init plan carries the 64 hyperplanes as ~65k literal doubles,
    // and WITHOUT lineage truncation each later stage EMBEDS it, so
    // every action on the final graph re-analyzes a multi-thousand-
    // node logical plan on the driver (~2.5 s per query, measured) —
    // dwarfing the actual ≤60k-row execution.  Checkpointing cuts
    // each stage's lineage to a LogicalRDD; the graph rows are tiny
    // (n·K edges), so the storage cost is nil.
    var g = RelationCache.materialized(spark, s"knn_g0:$dir") {
      // the skew-bounded rank-window init (see knnInitCte) — NOT the
      // bucket clique, which is quadratic in hot-bucket size.  Band
      // keys come from the SHARED session relation Dedup.embBandKeys
      // (same planes, same band count, same nb ladder — its Scaladoc
      // pins the substring equivalence), so the 64-projection bits
      // stage is built once per session under the priced
      // `emb_band_keys` line instead of re-derived here (r15; the
      // single-statement oracle keeps its inline knnKeyCtes copy).
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val keys = Dedup.embBandKeys(spark, dir)
      val rk = keys.withColumn("r", row_number().over(
        Window.partitionBy(col("band"), col("bkey")).orderBy(col("vec_id"))))
      val ser = spark.range(1, KnnInitWindow + 1).select(col("id").as("k"))
      val fwd = rk.as("a").crossJoin(ser)
        .join(rk.as("b"),
          col("b.band") === col("a.band") && col("b.bkey") === col("a.bkey") &&
            col("b.r") === col("a.r") + col("k"))
      val init = fwd.select(col("a.vec_id").as("qid"), col("b.vec_id").as("nid"))
        .unionAll(fwd.select(col("b.vec_id").as("qid"), col("a.vec_id").as("nid")))
        .distinct()
      knnScore(spark, dir, init)
    }
    for (i <- 1 to KnnRounds) {
      val prev = g
      g = RelationCache.materialized(spark, s"knn_g$i:$dir") {
        import org.apache.spark.sql.functions.col
        val edges = prev.select(col("qid"), col("nid"))
        val sym = edges
          .unionByName(prev.select(col("nid").as("qid"), col("qid").as("nid")))
          .distinct()
        val non = sym.as("x")
          .join(sym.as("y"),
            col("x.nid") === col("y.qid") && col("x.qid") =!= col("y.nid"))
          .select(col("x.qid").as("qid"), col("y.nid").as("nid"))
        knnScore(spark, dir, edges.unionByName(non).distinct())
      }
    }
    g
  }

  /** `sim_knn_graph`: the final K-neighbor graph, ordered. */
  def knnGraph(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    knnGraphFinal(spark, dir)
      .select(col("qid").as("node_id"), col("nid").as("neighbor_id"),
        round(col("cs"), 6).as("cosine"), col("rn").cast("long").as("rank"))
      .orderBy("node_id", "rank")
  }

  /** Oracle of `sim_knn_graph_recall`: the graph chain + the
    * √|Q|-sampled brute-force truth (the `sim_recall_sampled`
    * discipline — sample size does NOT grow with n, so the twin runs
    * at 10×/100×), overlap counted per sampled query. */
  def knnGraphRecallSql(d: SqlDialect): String =
    s"""WITH truth AS (
       |${sampledTruthSql(d)}),
       |${baseCtes(d)},
       |${knnKeyCtes(d)},
       |${knnChainCtes(d)},
       |tc AS (
       |  SELECT query_id, count(*) AS n_true FROM truth GROUP BY query_id),
       |m AS (
       |  SELECT t.query_id, count(*) AS m FROM truth t
       |  JOIN g$KnnRounds g
       |    ON g.qid = t.query_id AND g.nid = t.neighbor_id
       |  GROUP BY t.query_id)
       |SELECT tc.query_id, CAST(tc.n_true AS BIGINT) AS n_true,
       |  CAST(COALESCE(m.m, 0) AS BIGINT) AS n_found,
       |  round(CAST(COALESCE(m.m, 0) AS DOUBLE) / tc.n_true, 6) AS recall
       |FROM tc LEFT JOIN m ON m.query_id = tc.query_id
       |ORDER BY tc.query_id""".stripMargin

  /** `sim_knn_graph_recall`: how much of the sampled true top-K the
    * graph's edge set captured, per query — shares the session truth
    * cache with `sim_retrieval_ndcg_sampled` and the graph stages
    * with `sim_knn_graph`. */
  def knnGraphRecall(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val truth = sampledTruth(spark, dir)
    val g = knnGraphFinal(spark, dir)
      .select(col("qid").as("query_id"), col("nid").as("neighbor_id"))
    val tc = truth.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_true"))
    val hits = truth.join(g, Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("m"))
    tc.join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        col("n_true").cast("long").as("n_true"),
        coalesce(col("m"), lit(0L)).cast("long").as("n_found"),
        round(coalesce(col("m"), lit(0L)).cast("double")
          .divide(col("n_true")), 6).as("recall"))
      .orderBy("query_id")
  }

  /** Bench-priced build of the graph-stage caches (labeled
    * `knn_graph`): both `sim_knn_graph*` serves amortize them. */
  def prebuildKnnGraph(spark: SparkSession, dir: String): Unit = {
    knnGraphFinal(spark, dir).count()
    ()
  }
}
