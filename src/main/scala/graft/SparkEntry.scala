package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col}
import graft.ingest.BarPipeline
import graft.ops._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 (plus the LLM-pipeline
  * extensions) is exposed as a named query over the fixture tables, with
  * an equivalent DuckDB SQL oracle where the semantics are
  * SQL-expressible.  Column names/aliases match exactly between the
  * Spark result and the oracle (the driver sorts columns by name before
  * hashing).  Floating-point aggregates are rounded identically on both
  * sides so both engines land on the same grid points.
  *
  * Each query is declared once, as one [[SparkEntry.Query]] record in
  * [[SparkEntry.registry]]; `queries`, `oracleSql`, `builds`,
  * `buildConsumers` and `scaleBaselines` are views of that one list.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One-time SHARED store/codebook build the serving queries amortize
    * (all build-if-absent, fingerprint-keyed, idempotent).  Bench runs
    * each build its selected queries `needs` BEFORE the measured passes
    * and emits the wall time as a labeled `builds` entry in the artifact
    * — without this, a build's cost silently attributes to whichever
    * consumer query happens to run first (alphabetically) in the
    * session, distorting that query's per-query row whenever the suite
    * grows.  A ~0s build line means the store was already published
    * (the idempotent re-run) — itself useful signal. */
  sealed abstract class Build(val name: String,
      val run: (SparkSession, String) => Unit)

  object Build {
    case object KmeansStores extends Build("kmeans_codebooks_and_stores",
      Similarity.prebuildKmeansStores(_, _))
    case object Bm25Store extends Build("bm25_store",
      LexIndex.prebuildStore(_, _))
    // split (r15, advice): the persisted signature store serves any
    // dedup_* run, but the session pair cache (banded candidate join +
    // Jaccard verify, ~46 s at 100×) is only read by the minhash
    // family — a filtered dedup_embedding run must not pay it
    case object MinhashSigStore extends Build("minhash_sig_store",
      (s, d) => { Dedup.prebuildSignatureStore(s, d); () })
    case object MinhashPairCache extends Build("minhash_pair_cache",
      Dedup.prebuildSessionSig(_, _))
    case object SharedGramPairs extends Build("shared_gram_pairs",
      Dedup.prebuildSharedPairs(_, _))
    case object EmbBandKeys extends Build("emb_band_keys",
      Dedup.prebuildEmbBandKeys(_, _))
    case object CurationSur extends Build("curation_sur",
      TextAnalysis.prebuildSurRelation(_, _))
    case object PqCodesSampled extends Build("pq_codes_sampled",
      Similarity.prebuildPqCodesSampled(_, _))
    case object PqCodesTrained extends Build("pq_codes_trained",
      Similarity.prebuildPqCodesTrained(_, _))
    case object HybridLexRank extends Build("hybrid_lex_rank",
      Retrieval.prebuildLexRank(_, _))
    case object FixedIvfStores extends Build("fixed_ivf_stores",
      Similarity.prebuildFixedStores(_, _))
    case object BpeMergeTable extends Build("bpe_merge_table",
      (s, d) => { BpeTrain.trainedMerges(s, d); () })
    case object KnnGraph extends Build("knn_graph",
      Similarity.prebuildKnnGraph(_, _))
    // serving-cache warms (r15): the memoized recall truths and the
    // fixed-grid / corpus-scaled serve relations the recall-family
    // harnesses score — priced here so RUNS=1 artifacts never
    // attribute a one-time serve build to its first consumer.  Every
    // ExactTruthServes consumer is a scale baseline (quadratic truth by
    // definition), so scaling smokes that exclude the baselines skip
    // the quadratic truth build with them
    case object ExactTruthServes extends Build("exact_truth_serves",
      Similarity.prebuildExactTruth(_, _))
    case object SampledTruthServes extends Build("sampled_truth_serves",
      Similarity.prebuildSampledTruth(_, _))
    // r16: the PCA power-iteration model (µ + direction + variance
    // scalars) trains once per session; the query row is the serve
    // (projection) pass alone
    case object PcaModel extends Build("pca_model",
      Similarity.prebuildPca(_, _))
    // r16: the session-shared tokenized corpus (guide §6 read-once)
    // consumed by the heavy token queries instead of per-CTE-reference
    // re-tokenization
    case object DocTokens extends Build("doc_tokens",
      TextOps.prebuildDocTokens(_, _))
    case object DocBigrams extends Build("doc_bigrams",
      TextFilters.prebuildDocBigrams(_, _))
  }
  import Build._

  /** One registered query.
    *
    * @param engine the Spark plan over the fixture directory
    * @param oracle equivalent ANSI SQL runnable by DuckDB on the same
    *   parquet tables
    * @param needs the shared builds whose artifacts the query reads.
    *   Bench runs a build only when a selected query needs it — a
    *   filtered scaling smoke of one text query must not pay the k-means
    *   training (~20 min at the 100× fixture).  Some declarations are
    *   wider than the code needs (every `dedup_*` query needs
    *   `MinhashSigStore`, every `sim_*` query `KmeansStores`): an
    *   unnecessary build only costs time, a missed one fails visibly in
    *   the build-if-absent consumer.
    * @param baseline a DOCUMENTED brute-force / fixed-k ground-truth
    *   baseline — correct and oracle-checked, but quadratic (or
    *   near-quadratic) BY DESIGN, kept as the verify gate or simple
    *   contrast its scale-safe twin is measured against; its Scaladoc
    *   names the scale path.  The ground-truth MEASUREMENT tools
    *   (`sim_topk_bruteforce`, `sim_quantized_topk`, and the recall
    *   harnesses that CONTAIN the all-pairs subquery) are brute-force
    *   by definition: there is no scale path, only their √|Q|-sampled
    *   `_sampled` twins.  Large-scale smokes exclude exactly this set
    *   (`SPARK_GRAFT_BENCH_EXCLUDE=baselines`), so a scaling artifact
    *   can't silently carry an hours-long baseline row — and anything
    *   NOT flagged is asserting it holds at scale. */
  final case class Query(name: String,
      engine: (SparkSession, String) => DataFrame, oracle: String,
      needs: Seq[Build] = Nil, baseline: Boolean = false)

  /** Engine function per query name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.engine).toMap

  /** DuckDB oracle SQL per query name. */
  def oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap

  /** Every shared build some registered query needs, by name. */
  def builds: Map[String, (SparkSession, String) => Unit] =
    registry.flatMap(_.needs).map(b => b.name -> b.run).toMap

  /** Per build name, the set of query names that need it. */
  def buildConsumers: Map[String, String => Boolean] =
    registry.flatMap(q => q.needs.map(_.name -> q.name))
      .groupMap(_._1)(_._2).map { case (b, qs) => b -> qs.toSet }

  /** Names of the documented-quadratic baselines (see [[Query]]). */
  def scaleBaselines: Set[String] =
    registry.filter(_.baseline).map(_.name).toSet

  /** One record per implemented operator from SURVEY.md §2. */
  val registry: Seq[Query] = Seq(
    Query("q1_pricing_summary", Relational.q1PricingSummary,
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        | round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 6) AS sum_charge,
        | round(avg(l_quantity), 6) AS avg_qty,
        | round(avg(l_extendedprice), 6) AS avg_price,
        | round(avg(l_discount), 6) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Query("q6_selective_filter", Relational.q6Revenue,
      """SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin),
    Query("q3_join_agg_topn", Relational.q3ShippingPriority,
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM customer JOIN orders ON o_custkey = c_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1999-06-30'
        |  AND l_shipdate > TIMESTAMP '1997-06-30'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
    Query("q5_star_join", Relational.q5LocalSupplier,
      """SELECT n_name,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),
    Query("q_semi_join", Relational.qSemiJoin,
      """SELECT o_orderstatus, count(*) AS n_orders,
        | round(sum(o_totalprice), 2) AS sum_price
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    Query("q_anti_join", Relational.qAntiJoin,
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2001-01-01')
        |ORDER BY c_custkey""".stripMargin),
    Query("q_cust_order_counts", Relational.qCustOrderCounts,
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),
    Query("q_window_rank", Relational.qWindowRank,
      """WITH m AS (
        |  SELECT l_suppkey, CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS month,
        |         round(sum(l_extendedprice), 2) AS rev
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_suppkey, month, rev, rn, running_rev FROM (
        |  SELECT l_suppkey, month, rev,
        |    row_number() OVER (PARTITION BY l_suppkey ORDER BY month) AS rn,
        |    round(sum(rev) OVER (PARTITION BY l_suppkey ORDER BY month
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_rev
        |  FROM m)
        |WHERE rn <= 3 ORDER BY l_suppkey, month""".stripMargin),
    Query("q_top_orders", Relational.qTopOrders,
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin),
    Query("q_distinct", Relational.qDistinct,
      """SELECT l_returnflag,
        | count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps,
        | count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("q_set_ops", Relational.qSetOps,
      """WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
        | rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000),
        | u AS (
        |  SELECT c_custkey, 'both' AS tag
        |    FROM (SELECT * FROM building INTERSECT SELECT * FROM rich)
        |  UNION ALL
        |  SELECT c_custkey, 'building_only' AS tag
        |    FROM (SELECT * FROM building EXCEPT SELECT * FROM rich)
        |  UNION ALL
        |  SELECT c_custkey, 'rich_only' AS tag
        |    FROM (SELECT * FROM rich EXCEPT SELECT * FROM building))
        |SELECT tag, count(*) AS n FROM u GROUP BY tag ORDER BY tag""".stripMargin),
    Query("q_case_agg", Relational.qCaseAgg,
      """SELECT l_returnflag,
        | CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |          THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        | CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
        |          THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |  AND l_shipdate < TIMESTAMP '1999-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    Query("q_rollup", Relational.qRollup,
      """SELECT r_name, n_name, count(*) AS n_cust,
        | round(sum(c_acctbal), 2) AS sum_bal
        |FROM customer
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin),
    Query("q_cube", Relational.qCube, Relational.qCubeOracleSql),
    Query("q_full_outer", Relational.qFullOuter,
      Relational.qFullOuterOracleSql),
    Query("q_having", Relational.qHaving,
      """SELECT l_partkey, count(*) AS n_lines,
        | round(sum(l_quantity), 2) AS total_qty
        |FROM lineitem GROUP BY l_partkey
        |HAVING count(*) >= 40 ORDER BY l_partkey""".stripMargin),
    Query("q_above_avg", Relational.qAboveAvg,
      """SELECT c_mktsegment, count(*) AS n_above,
        | round(avg(c_acctbal), 6) AS avg_bal
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Query("q_date_agg", Relational.qDateAgg,
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        | CAST(month(o_orderdate) AS INTEGER) AS o_month,
        | count(*) AS n_orders,
        | round(sum(o_totalprice), 2) AS sum_price,
        | round(min(o_totalprice), 2) AS min_price,
        | round(max(o_totalprice), 2) AS max_price
        |FROM orders GROUP BY 1, 2 ORDER BY o_year, o_month""".stripMargin),
    Query("q_pivot", Relational.qPivot,
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
        | count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F_n,
        | round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS F_price,
        | count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O_n,
        | round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS O_price,
        | count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P_n,
        | round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS P_price
        |FROM orders GROUP BY 1 ORDER BY o_year""".stripMargin),
    Query("q17_small_qty", Relational.qSmallQtyRevenue,
      """SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23'
        |  AND l_quantity < (SELECT 0.2 * avg(l_quantity)
        |                    FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)""".stripMargin),
    Query("q18_large_orders", Relational.qLargeOrders,
      """SELECT c_name, o_orderkey, o_orderdate, o_totalprice,
        | round(q.sum_qty, 2) AS sum_qty
        |FROM orders
        | JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |       FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 200) q
        |   ON o_orderkey = q.l_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin),
    Query("q19_disjunctive", Relational.qDisjunctivePredicates,
      """SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 20 AND 50
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin),
    // Round-3 TPC-H fills + analytic extensions (RelationalExt)
    Query("q4_order_priority", RelationalExt.q4OrderPriority,
      RelationalExt.q4OrderPriorityOracleSql),
    Query("q7_nation_volume", RelationalExt.q7NationVolume,
      RelationalExt.q7NationVolumeOracleSql),
    Query("q8_market_share", RelationalExt.q8MarketShare,
      RelationalExt.q8MarketShareOracleSql),
    Query("q10_returned_items", RelationalExt.q10ReturnedItems,
      RelationalExt.q10ReturnedItemsOracleSql),
    Query("q11_important_balance", RelationalExt.q11ImportantBalance,
      RelationalExt.q11ImportantBalanceOracleSql),
    Query("q14_promo_revenue", RelationalExt.q14PromoRevenue,
      RelationalExt.q14PromoRevenueOracleSql),
    Query("q15_top_supplier", RelationalExt.q15TopSupplier,
      RelationalExt.q15TopSupplierOracleSql),
    Query("q_grouping_sets", RelationalExt.qGroupingSets,
      RelationalExt.qGroupingSetsSql),
    Query("q_moving_avg", RelationalExt.qMovingAvg,
      RelationalExt.qMovingAvgSql),
    Query("q_ntile_lag", RelationalExt.qNtileLag, RelationalExt.qNtileLagSql),
    Query("q_percentiles", RelationalExt.qPercentiles,
      RelationalExt.qPercentilesOracleSql),
    Query("q_hist_quantiles", RelationalExt.qHistQuantiles,
      RelationalExt.histQuantilesSql(DuckDialect)),
    Query("q_unpivot", RelationalExt.qUnpivot, RelationalExt.qUnpivotOracleSql),
    Query("q_bloom_semi_join", RelationalExt.qBloomSemiJoin,
      RelationalExt.qBloomSemiJoinOracleSql),
    Query("q_gapfill", RelationalExt.qGapfill, RelationalExt.qGapfillOracleSql),
    Query("q_array_stats", RelationalExt.qArrayStats,
      RelationalExt.arrayStatsSql(DuckDialect)),
    // Correlated-subquery TPC-H shapes (Catalyst decorrelation on trial)
    // engine-portable SQL: the oracle runs the very text Spark executes
    Query("q2_min_cost_supplier", SubqueryShapes.q2MinCostSupplier,
      SubqueryShapes.q2MinCostSupplierSql),
    Query("q13_cust_distribution", SubqueryShapes.q13CustDistribution,
      SubqueryShapes.q13CustDistributionSql),
    Query("q21_waiting_supplier", SubqueryShapes.q21WaitingSupplier,
      SubqueryShapes.q21WaitingSupplierSql),
    Query("q22_inactive_balance", SubqueryShapes.q22InactiveBalance,
      SubqueryShapes.q22InactiveBalanceSql),
    Query("q9_product_profit", SubqueryShapes.q9ProductProfit,
      SubqueryShapes.q9ProductProfitSql),
    Query("q12_priority_class", SubqueryShapes.q12PriorityClass,
      SubqueryShapes.q12PriorityClassSql),
    Query("q16_supplier_diversity", SubqueryShapes.q16SupplierDiversity,
      SubqueryShapes.q16SupplierDiversitySql),
    Query("q20_recent_share", SubqueryShapes.q20RecentShare,
      SubqueryShapes.q20RecentShareSql),
    // Typed Aggregator extension surface (bounded-heap map-side top-k)
    Query("q_topk_per_group", graft.functions.TopKQueries.qTopkPerGroup,
      graft.functions.TopKQueries.qTopkPerGroupOracleSql),
    // Events analytics: profiling, funnel, cohort retention
    Query("q_profile", RelationalExt.qProfile, RelationalExt.qProfileSql),
    Query("q_event_funnel", RelationalExt.qEventFunnel,
      RelationalExt.qEventFunnelSql),
    Query("q_retention", RelationalExt.qRetention, RelationalExt.qRetentionSql),
    // Ingestion pipeline (SURVEY §2 S/P/F/A/T over the events stream)
    Query("ingest_asset_catalog",
      ((s: SparkSession, d: String) =>
        BarPipeline.assetCatalog(s, d).orderBy(col("symbol"))),
      """SELECT 'alpaca_' || symbol AS asset_doc_id, 'alpaca' AS provider_doc_id, symbol
        |FROM (SELECT DISTINCT event_type AS symbol FROM events
        |      WHERE event_type IS NOT NULL)
        |ORDER BY symbol""".stripMargin),
    Query("ingest_bars_daily",
      ((s: SparkSession, d: String) =>
        BarPipeline.canonicalBars(s, d).orderBy(col("symbol"), col("timestamp"))),
      """WITH b AS (
        |  SELECT event_type AS symbol,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS t,
        |    min_by(value, ts) AS o, max(value) AS h, min(value) AS l,
        |    max_by(value, ts) AS c, count(*) AS v
        |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2)
        |SELECT strftime(t, '%Y%m%dT%H%M%SZ') || '_Day' AS bar_key, symbol,
        |  t AS timestamp, 'Day' AS timeframe,
        |  o AS open, h AS high, l AS low, c AS close, v AS volume
        |FROM b ORDER BY symbol, timestamp""".stripMargin),
    Query("ingest_upsert_dedup",
      ((s: SparkSession, d: String) =>
        BarPipeline.overlappingIngest(s, d)
          .orderBy(col("symbol"), col("timestamp"))),
      """WITH mk AS (
        |  SELECT event_type AS symbol,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS t,
        |    min_by(value, ts) AS o, max(value) AS h, min(value) AS l,
        |    max_by(value, ts) AS c, count(*) AS v, seq
        |  FROM (
        |    SELECT *, 1 AS seq FROM events WHERE ts < TIMESTAMP '2024-01-21'
        |    UNION ALL
        |    SELECT *, 2 AS seq FROM events WHERE ts >= TIMESTAMP '2024-01-11')
        |  WHERE event_type IS NOT NULL GROUP BY symbol, t, seq)
        |SELECT symbol, strftime(t, '%Y%m%dT%H%M%SZ') || '_Day' AS bar_key,
        |  t AS timestamp, 'Day' AS timeframe,
        |  o AS open, h AS high, l AS low, c AS close, v AS volume
        |FROM mk
        |QUALIFY row_number() OVER (PARTITION BY symbol, t ORDER BY seq DESC) = 1
        |ORDER BY symbol, timestamp""".stripMargin),
    Query("ingest_summaries",
      ((s: SparkSession, d: String) =>
        BarPipeline.ingestSummaries(BarPipeline.canonicalBars(s, d))
          .orderBy(col("asset_symbol"))),
      """WITH b AS (
        |  SELECT event_type AS symbol,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS t, count(*) AS v
        |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2)
        |SELECT symbol AS asset_symbol, 'Day' AS timeframe,
        |  strftime(min(t), '%Y-%m-%dT%H:%M:%SZ') AS start_timestamp_utc,
        |  strftime(max(t), '%Y-%m-%dT%H:%M:%SZ') AS end_timestamp_utc,
        |  count(*) AS bars_count
        |FROM b GROUP BY 1, 2 ORDER BY asset_symbol""".stripMargin),
    Query("ingest_run_status",
      ((s: SparkSession, d: String) =>
        BarPipeline.runStatus(BarPipeline.canonicalBars(s, d))),
      """WITH b AS (
        |  SELECT event_type AS symbol,
        |    CAST(date_trunc('day', ts) AS TIMESTAMP) AS t, count(*) AS v
        |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2)
        |SELECT count(DISTINCT symbol) AS assets_processed_count,
        |  count(*) AS total_bars_saved_in_last_run,
        |  CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) > 0
        |    AS run_had_errors
        |FROM b""".stripMargin),
    // Bar-domain analytics past the reference's single timeframe
    // one shared SQL text: the engine runs the very string DuckDB checks
    Query("ingest_bars_weekly", graft.ingest.BarAnalytics.weeklyBars,
      graft.ingest.BarAnalytics.weeklySql),
    Query("ingest_bar_analytics", graft.ingest.BarAnalytics.analytics,
      graft.ingest.BarAnalytics.analyticsSql),
    Query("ingest_bar_beta", graft.ingest.BarAnalytics.beta,
      graft.ingest.BarAnalytics.betaSql),
    // Custom DataSource V2 connector (S1 shape: per-symbol remote scan)
    Query("src_bar_scan", graft.sources.BarSourceQueries.srcBarScan,
      graft.sources.BarSourceQueries.srcBarScanOracleSql),
    // Temporal operators + error isolation + semi-structured
    Query("q_asof_join", Temporal.asofEventBars, Temporal.asofOracleSql),
    Query("q_range_join", Temporal.rangeJoinEventBars,
      Temporal.rangeJoinOracleSql),
    Query("q_session_window", Temporal.sessionWindows,
      Temporal.sessionOracleSql),
    Query("q_json_extract", Relational.qJsonExtract,
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS k_bucket,
        | count(*) AS n_events, round(sum(value), 4) AS sum_value,
        | min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        | max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1 ORDER BY k_bucket""".stripMargin),
    Query("ingest_quarantine", graft.ingest.Quarantine.eventQuarantineSummary,
      graft.ingest.Quarantine.eventQuarantineOracleSql),
    // Text analysis (training-data pipeline extensions)
    // Text analysis / dedup / similarity oracles: generated from the
    // same dialect-parameterized SQL bodies as the Spark plans (ops
    // .TextOps), so both sides share logic with portable primitives.
    Query("text_token_counts", TextAnalysis.tokenCounts,
      TextAnalysis.tokenCountsSql(DuckDialect)),
    Query("text_quality", TextAnalysis.quality,
      TextAnalysis.qualitySql(DuckDialect)),
    Query("text_langid", TextAnalysis.langId,
      TextAnalysis.langIdSql(DuckDialect)),
    Query("text_fingerprint", TextAnalysis.fingerprint,
      TextAnalysis.fingerprintSql(DuckDialect)),
    Query("text_sample_split", TextAnalysis.sampleSplit,
      TextAnalysis.sampleSplitSql(DuckDialect)),
    Query("text_curation", TextAnalysis.curation,
      TextAnalysis.curationSql(DuckDialect)),
    Query("text_tfidf", TextAnalysis.tfidf,
      TextAnalysis.tfidfSql(DuckDialect), needs = Seq(DocTokens)),
    Query("text_pack_sequences", TextAnalysis.packSequences,
      TextAnalysis.packSequencesSql(DuckDialect)),
    Query("text_chunking", TextAnalysis.chunking,
      TextAnalysis.chunkingSql(DuckDialect)),
    Query("text_chunk_dedup", TextAnalysis.chunkDedup,
      TextAnalysis.chunkDedupSql(DuckDialect)),
    Query("text_contamination", TextAnalysis.contamination,
      TextAnalysis.contaminationSql(DuckDialect)),
    Query("text_contamination_risk", TextAnalysis.contaminationRisk,
      TextAnalysis.contaminationRiskSql(DuckDialect)),
    Query("text_weighted_sample", TextAnalysis.weightedSample,
      TextAnalysis.weightedSampleSql(DuckDialect)),
    Query("text_repetition", TextAnalysis.repetition,
      TextAnalysis.repetitionSql(DuckDialect)),
    Query("text_mixture_plan", TextAnalysis.mixturePlan,
      TextAnalysis.mixturePlanSql(DuckDialect)),
    Query("text_dup_spans", TextAnalysis.dupSpans,
      TextAnalysis.dupSpansSql(DuckDialect)),
    Query("text_dup_span_cut", TextAnalysis.dupSpanCut,
      TextAnalysis.dupSpanCutSql(DuckDialect)),
    Query("text_pii", TextAnalysis.pii, TextAnalysis.piiSql(DuckDialect)),
    Query("text_curation_log", TextAnalysis.curationLog,
      TextAnalysis.curationLogSql(DuckDialect)),
    Query("text_curation_log_full", TextAnalysis.curationLogFull,
      TextAnalysis.curationLogFullSql(DuckDialect), needs = Seq(CurationSur)),
    Query("text_surprisal_buckets", TextAnalysis.surprisalBuckets,
      TextAnalysis.surprisalBucketsSql(DuckDialect), needs = Seq(CurationSur)),
    Query("text_curation_funnel", TextAnalysis.curationFunnel,
      TextAnalysis.curationFunnelSql(DuckDialect), needs = Seq(CurationSur)),
    Query("text_unigram_logprob", TextAnalysis.unigramLogprob,
      TextAnalysis.unigramLogprobSql(DuckDialect)),
    Query("text_bigram_logprob", TextFilters.bigramLogprob,
      TextFilters.bigramLogprobSql(DuckDialect),
      needs = Seq(DocTokens, DocBigrams)),
    Query("text_pmi_pairs", TextFilters.pmiPairs,
      TextFilters.pmiPairsSql(DuckDialect), needs = Seq(DocTokens, DocBigrams)),
    Query("text_novelty", TextAnalysis.novelty,
      TextAnalysis.noveltySql(DuckDialect)),
    // BPE subword-vocabulary trainer (ops.BpeTrain): histogram-train,
    // merge-table output, corpus encode + compression measurement
    Query("text_bpe_pairs", BpeTrain.bpePairs,
      BpeTrain.bpePairsSql(DuckDialect), needs = Seq(BpeMergeTable)),
    Query("text_bpe_merges", BpeTrain.bpeMerges,
      BpeTrain.bpeMergesSql(DuckDialect), needs = Seq(BpeMergeTable)),
    Query("text_bpe_encode", BpeTrain.bpeEncode,
      BpeTrain.bpeEncodeSql(DuckDialect), needs = Seq(BpeMergeTable)),
    Query("text_bpe_fertility", BpeTrain.bpeFertility,
      BpeTrain.bpeFertilitySql(DuckDialect), needs = Seq(BpeMergeTable)),
    // Rule-based curation filters + frequency sketch (TextFilters)
    Query("text_gopher_rules", TextFilters.gopherRules,
      TextFilters.gopherRulesSql(DuckDialect)),
    Query("text_gopher_by_source", TextFilters.gopherBySource,
      TextFilters.gopherBySourceSql(DuckDialect)),
    Query("text_heavy_hitters", TextFilters.heavyHitters,
      TextFilters.heavyHittersSql(DuckDialect), needs = Seq(DocTokens)),
    Query("text_token_drift", TextFilters.tokenDrift,
      TextFilters.tokenDriftSql(DuckDialect)),
    Query("text_source_cap", TextFilters.sourceCap,
      TextFilters.sourceCapSql(DuckDialect)),
    Query("text_shard_plan", TextFilters.shardPlan,
      TextFilters.shardPlanSql(DuckDialect)),
    Query("text_shard_manifest", TextFilters.shardManifest,
      TextFilters.shardManifestSql(DuckDialect)),
    Query("q_ts_correlation", Temporal.tsCorrelation,
      Temporal.tsCorrelationOracleSql),
    Query("q_anomaly", Temporal.anomaly, Temporal.anomalySql),
    // Deduplication family
    Query("dedup_exact", Dedup.exact,
      Dedup.exactSql(DuckDialect), needs = Seq(MinhashSigStore)),
    Query("dedup_ngram_jaccard", Dedup.ngramJaccard,
      Dedup.ngramJaccardSql(DuckDialect),
      needs = Seq(MinhashSigStore, SharedGramPairs)),
    Query("dedup_containment", Dedup.ngramContainment,
      Dedup.ngramContainmentSql(DuckDialect),
      needs = Seq(MinhashSigStore, SharedGramPairs)),
    Query("dedup_split_leakage", Dedup.splitLeakage,
      Dedup.splitLeakageSql(DuckDialect),
      needs = Seq(MinhashSigStore, SharedGramPairs)),
    Query("dedup_degree_hist", Dedup.degreeHist,
      Dedup.degreeHistSql(DuckDialect),
      needs = Seq(MinhashSigStore, SharedGramPairs)),
    Query("dedup_minhash_lsh", Dedup.minhashLsh,
      Dedup.minhashLshSql(DuckDialect),
      needs = Seq(MinhashSigStore, MinhashPairCache)),
    Query("dedup_lsh_cap_report", Dedup.minhashCapReport,
      Dedup.minhashCapReportSql(DuckDialect), needs = Seq(MinhashSigStore)),
    // SimHash oracle is deliberately a DIFFERENT algorithm (brute-force
    // all-pairs) that must equal the engine's banded result — see
    // Dedup header for the completeness argument.
    Query("dedup_simhash", Dedup.simhash,
      Dedup.simhashBruteSql(DuckDialect), needs = Seq(MinhashSigStore)),
    // Cluster oracle is a recursive-CTE reachability closure vs the
    // engine's iterated label propagation — independent algorithms.
    Query("dedup_clusters", Dedup.simhashClusters,
      Dedup.simhashClustersOracleSql(DuckDialect),
      needs = Seq(MinhashSigStore)),
    Query("dedup_embedding", Dedup.embeddingCosine,
      Dedup.embeddingCosineSql(DuckDialect),
      needs = Seq(MinhashSigStore), baseline = true),
    Query("dedup_embedding_lsh", Dedup.embeddingLsh,
      Dedup.embeddingLshSql(DuckDialect),
      needs = Seq(MinhashSigStore), baseline = true),
    Query("dedup_embedding_lsh_scaled", Dedup.embeddingLshScaled,
      Dedup.embeddingLshScaledSql(DuckDialect),
      needs = Seq(MinhashSigStore, EmbBandKeys)),
    Query("dedup_lsh_recall", Dedup.lshRecall,
      Dedup.lshRecallSql(DuckDialect),
      needs = Seq(MinhashSigStore, EmbBandKeys), baseline = true),
    Query("dedup_lsh_recall_sampled", Dedup.lshRecallSampled,
      Dedup.lshRecallSampledSql(DuckDialect),
      needs = Seq(MinhashSigStore, EmbBandKeys)),
    Query("dedup_embedding_compact", Dedup.embeddingCompact,
      Dedup.embeddingCompactOracleSql(DuckDialect),
      needs = Seq(MinhashSigStore, EmbBandKeys)),
    Query("dedup_semantic", Dedup.semantic,
      Dedup.semanticSql(DuckDialect),
      needs = Seq(MinhashSigStore), baseline = true),
    Query("dedup_semantic_scaled", Dedup.semanticScaled,
      Dedup.semanticScaledSql(DuckDialect), needs = Seq(MinhashSigStore)),
    Query("dedup_report", Dedup.report,
      Dedup.reportSql(DuckDialect), needs = Seq(MinhashSigStore)),
    Query("dedup_report_tokens", Dedup.reportTokens,
      Dedup.reportTokensSql(DuckDialect), needs = Seq(MinhashSigStore)),
    Query("dedup_cross_source", Dedup.crossSource,
      Dedup.crossSourceSql(DuckDialect), needs = Seq(MinhashSigStore)),
    // Keeper election over verified near-dup clusters
    Query("dedup_compact", Dedup.compactKept,
      Dedup.compactKeptOracleSql(DuckDialect),
      needs = Seq(MinhashSigStore, MinhashPairCache)),
    // Daily-increment dedup against the persisted signature store
    Query("dedup_incremental", Dedup.incremental,
      Dedup.incrementalSql(DuckDialect), needs = Seq(MinhashSigStore)),
    // Similarity search over embeddings
    Query("sim_topk_bruteforce", Similarity.topK,
      Similarity.topKSql(DuckDialect),
      needs = Seq(KmeansStores, ExactTruthServes), baseline = true),
    Query("sim_ann_lsh", Similarity.annLsh,
      Similarity.annLshSql(DuckDialect),
      needs = Seq(KmeansStores, ExactTruthServes), baseline = true),
    Query("sim_ann_lsh_scaled", Similarity.annLshScaled,
      Similarity.annLshScaledSql(DuckDialect),
      needs = Seq(KmeansStores, SampledTruthServes)),
    Query("sim_ann_ivf", Similarity.ivf,
      Similarity.ivfSql(DuckDialect),
      needs = Seq(KmeansStores, FixedIvfStores)),
    Query("sim_ivf_kmeans", Similarity.ivfKmeans,
      Similarity.ivfKmeansSql(DuckDialect), needs = Seq(KmeansStores)),
    Query("sim_recall", Similarity.recall,
      Similarity.recallSql(DuckDialect),
      needs = Seq(KmeansStores, ExactTruthServes), baseline = true),
    Query("sim_recall_sampled", Similarity.recallSampled,
      Similarity.recallSampledSql(DuckDialect),
      needs = Seq(KmeansStores, SampledTruthServes)),
    Query("sim_retrieval_ndcg", Similarity.retrievalNdcg,
      Similarity.retrievalNdcgSql(DuckDialect),
      needs = Seq(KmeansStores, ExactTruthServes), baseline = true),
    Query("sim_retrieval_ndcg_sampled", Similarity.retrievalNdcgSampled,
      Similarity.retrievalNdcgSampledSql(DuckDialect),
      needs = Seq(KmeansStores, SampledTruthServes)),
    Query("sim_recall_rerank", Similarity.recallRerank,
      Similarity.recallRerankSql(DuckDialect),
      needs = Seq(KmeansStores, ExactTruthServes), baseline = true),
    Query("sim_mmr_rerank", Similarity.mmrRerank,
      Similarity.mmrSql(DuckDialect), needs = Seq(KmeansStores)),
    Query("sim_nprobe_sweep", Similarity.nprobeSweep,
      Similarity.nprobeSweepSql(DuckDialect),
      needs = Seq(KmeansStores, SampledTruthServes)),
    Query("sim_quantize", Similarity.quantize,
      Similarity.quantizeSql(DuckDialect), needs = Seq(KmeansStores)),
    // identical semantics to sim_ann_ivf / sim_ivf_kmeans by
    // construction — the same oracles verify the persisted-index paths
    Query("sim_ann_ivf_persisted", Similarity.ivfPersisted(_, _),
      Similarity.ivfSql(DuckDialect),
      needs = Seq(KmeansStores, FixedIvfStores)),
    Query("sim_ivf_kmeans_persisted", Similarity.ivfKmeansPersisted(_, _),
      Similarity.ivfKmeansSql(DuckDialect), needs = Seq(KmeansStores)),
    Query("sim_ivf_kmeans_scaled", Similarity.ivfKmeansScaled(_, _),
      Similarity.ivfKmeansScaledSql(DuckDialect), needs = Seq(KmeansStores)),
    Query("sim_quantized_topk", Similarity.quantizedTopK,
      Similarity.quantizedTopKSql(DuckDialect),
      needs = Seq(KmeansStores, ExactTruthServes), baseline = true),
    // recomputes the quantized IVF pipeline from the raw embeddings —
    // independently checks the persisted int8 store AND the serving math
    Query("sim_ann_ivf_pq", Similarity.ivfQuantizedPersisted(_, _),
      Similarity.ivfQuantizedSql(DuckDialect),
      needs = Seq(KmeansStores, FixedIvfStores)),
    Query("sim_ivf_kmeans_pq", Similarity.ivfKmeansQuantizedPersisted(_, _),
      Similarity.ivfKmeansQuantizedSql(DuckDialect), needs = Seq(KmeansStores)),
    Query("sim_ann_ivf_pq_rerank", Similarity.ivfQuantizedRerankPersisted(_, _),
      Similarity.ivfQuantizedRerankSql(DuckDialect),
      needs = Seq(KmeansStores, FixedIvfStores)),
    Query("sim_ivf_kmeans_pq_rerank",
      Similarity.ivfKmeansQuantizedRerankPersisted(_, _),
      Similarity.ivfKmeansQuantizedRerankSql(DuckDialect),
      needs = Seq(KmeansStores)),
    // k-NN graph construction (deterministic NN-descent: LSH init +
    // bounded neighbor-of-neighbor rounds) + sampled-truth recall
    Query("sim_knn_graph", Similarity.knnGraph,
      Similarity.knnGraphSql(DuckDialect),
      needs = Seq(KmeansStores, EmbBandKeys, KnnGraph)),
    Query("sim_knn_graph_recall", Similarity.knnGraphRecall,
      Similarity.knnGraphRecallSql(DuckDialect),
      needs = Seq(KmeansStores, EmbBandKeys, KnnGraph, SampledTruthServes)),
    Query("sim_source_coherence", Similarity.sourceCoherence,
      Similarity.sourceCoherenceSql(DuckDialect), needs = Seq(KmeansStores)),
    Query("sim_outlier_report", Similarity.outlierReport,
      Similarity.outlierReportSql(DuckDialect), needs = Seq(KmeansStores)),
    Query("sim_embedding_drift", Similarity.embeddingDrift,
      Similarity.embeddingDriftSql(DuckDialect), needs = Seq(KmeansStores)),
    Query("sim_pca_projection", Similarity.pca,
      Similarity.pcaSql(DuckDialect), needs = Seq(KmeansStores, PcaModel)),
    Query("sim_embedding_stats", Similarity.embeddingStats,
      Similarity.embeddingStatsSql(DuckDialect), needs = Seq(KmeansStores)),
    // Per-list skew report over the persisted k-means store — the
    // retrain/rebuild trigger signal; oracle proves store ≡ assignment
    Query("sim_index_health", Similarity.indexHealth(_, _),
      Similarity.indexHealthSql(DuckDialect), needs = Seq(KmeansStores)),
    // Maintenance decision over the same store (no-op branch at
    // fixture balance; the rebuild branch is spec-covered on a
    // deliberately skew-appended store)
    Query("sim_index_maintain", Similarity.indexMaintain(_, _),
      Similarity.indexMaintainSql(DuckDialect), needs = Seq(KmeansStores)),
    // HLL sketch — the estimate is engine-internal, so the oracle
    // checks the exact count + the sketch's verified tolerance bound
    Query("q_approx_distinct", Relational.qApproxDistinct,
      Relational.qApproxDistinctOracleSql),
    // KMV sketch — portable-hash estimator, fully oracle-checked
    Query("q_kmv_distinct", Relational.qKmvDistinct,
      Relational.qKmvDistinctOracleSql),
    // Skew-safe salted aggregation ≡ the plain aggregate (the oracle)
    Query("q_salted_agg", ScalePatterns.qSaltedAgg,
      ScalePatterns.qSaltedAggOracleSql),
    Query("q_skew_report", ScalePatterns.qSkewReport,
      ScalePatterns.skewReportSql(DuckDialect)),
    // Retrieval & data-selection wing: lexical BM25, hybrid RRF
    // fusion (lexical + vector), DSIR importance weights, corpus
    // data card, k-means cluster-purity audit
    Query("text_bm25_topk", Retrieval.bm25,
      Retrieval.bm25Sql(DuckDialect), needs = Seq(Bm25Store)),
    // identical semantics to text_bm25_topk by construction — the
    // same oracle verifies the persisted-postings serving path
    Query("text_bm25_persisted", LexIndex.bm25Persisted(_, _),
      Retrieval.bm25Sql(DuckDialect), needs = Seq(Bm25Store)),
    Query("lex_index_health", LexIndex.indexHealth(_, _),
      Retrieval.lexIndexHealthSql(DuckDialect), needs = Seq(Bm25Store)),
    Query("sim_hybrid_recall", Retrieval.hybridRecall,
      Retrieval.hybridRecallSql(DuckDialect),
      needs = Seq(KmeansStores, Bm25Store, HybridLexRank), baseline = true),
    Query("sim_hybrid_recall_sampled", Retrieval.hybridRecallSampled,
      Retrieval.hybridRecallSampledSql(DuckDialect),
      needs = Seq(KmeansStores, Bm25Store, HybridLexRank)),
    Query("sim_hybrid_rrf", Retrieval.hybridRrf,
      Retrieval.hybridRrfSql(DuckDialect),
      needs = Seq(KmeansStores, Bm25Store, HybridLexRank), baseline = true),
    Query("sim_hybrid_rrf_sampled", Retrieval.hybridRrfSampled,
      Retrieval.hybridRrfSampledSql(DuckDialect),
      needs = Seq(KmeansStores, Bm25Store, HybridLexRank)),
    Query("sim_hybrid_rrf_ann", Retrieval.hybridRrfAnn,
      Retrieval.hybridRrfAnnSql(DuckDialect),
      needs = Seq(KmeansStores, Bm25Store, HybridLexRank)),
    Query("sim_hybrid_rrf_ann_scaled", Retrieval.hybridRrfAnnScaled,
      Retrieval.hybridRrfAnnScaledSql(DuckDialect),
      needs = Seq(KmeansStores, Bm25Store, HybridLexRank)),
    Query("text_dsir_weights", Retrieval.dsirWeights,
      Retrieval.dsirWeightsSql(DuckDialect)),
    Query("text_quality_classifier", Retrieval.qualityClassifier,
      Retrieval.qualityClassifierSql(DuckDialect)),
    Query("text_dsir_sample", Retrieval.dsirSample,
      Retrieval.dsirSampleSql(DuckDialect)),
    Query("text_corpus_stats", Retrieval.corpusStats,
      Retrieval.corpusStatsSql(DuckDialect)),
    Query("text_k_anonymity", Retrieval.kAnonymity,
      Retrieval.kAnonymitySql(DuckDialect)),
    Query("sim_cluster_purity", Similarity.clusterPurity,
      Similarity.clusterPuritySql(DuckDialect), needs = Seq(KmeansStores)),
    Query("sim_cluster_keywords", Similarity.clusterKeywords,
      Similarity.clusterKeywordsSql(DuckDialect), needs = Seq(KmeansStores)),
    Query("sim_ann_ivf_adc", Similarity.ivfAdc,
      Similarity.ivfAdcSql(DuckDialect),
      needs = Seq(KmeansStores, PqCodesSampled, FixedIvfStores)),
    Query("sim_adc_recall", Similarity.adcRecall,
      Similarity.adcRecallSql(DuckDialect),
      needs = Seq(KmeansStores, PqCodesSampled, PqCodesTrained,
        ExactTruthServes), baseline = true),
    Query("sim_adc_recall_sampled", Similarity.adcRecallSampled,
      Similarity.adcRecallSampledSql(DuckDialect),
      needs = Seq(KmeansStores, PqCodesSampled, PqCodesTrained, FixedIvfStores,
        SampledTruthServes)),
    Query("sim_ivf_adc_trained", Similarity.ivfAdcTrained,
      Similarity.ivfAdcTrainedSql(DuckDialect),
      needs = Seq(KmeansStores, PqCodesTrained, FixedIvfStores)),
    Query("sim_cluster_sample", Similarity.clusterSample,
      Similarity.clusterSampleSql(DuckDialect), needs = Seq(KmeansStores)),
    Query("sim_cluster_sample_scaled", Similarity.clusterSampleScaled,
      Similarity.clusterSampleScaledSql(DuckDialect),
      needs = Seq(KmeansStores)),
    Query("text_chunk_bm25", Retrieval.chunkBm25,
      Retrieval.chunkBm25Sql(DuckDialect), needs = Seq(Bm25Store)),
    Query("text_mixture_temperature", TextAnalysis.mixtureTemperature,
      TextAnalysis.mixtureTemperatureSql(DuckDialect)),
    // Multimodal binary-column plumbing
    Query("mm_inventory", Multimodal.inventory, Multimodal.inventoryOracleSql),
    Query("mm_video_frames", Multimodal.videoFrames,
      Multimodal.videoFramesOracleSql),
    Query("mm_image_resize", Multimodal.imageResize,
      Multimodal.imageResizeOracleSql),
    Query("mm_decode_features", Multimodal.decodeFeatures,
      Multimodal.decodeFeaturesOracleSql),
    Query("mm_decode_wav", Multimodal.decodeWav, Multimodal.decodeWavOracleSql),
    Query("mm_decode_ppm", Multimodal.decodePpm, Multimodal.decodePpmOracleSql),
    Query("mm_audio_windows", Multimodal.audioWindows,
      Multimodal.audioWindowsOracleSql),
    Query("mm_dedup", Multimodal.payloadDedup,
      Multimodal.payloadDedupOracleSql),
  )
}
