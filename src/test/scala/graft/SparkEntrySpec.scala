package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry without a session: one record per name, and the
  * views Bench, Verify and the benchmark harness read (`queries`,
  * `oracleSql`, `builds`, `buildConsumers`, `scaleBaselines`) agree
  * with it. */
class SparkEntrySpec extends AnyFunSuite {
  import SparkEntry._

  test("191 records with distinct names") {
    val names = registry.map(_.name)
    assert(names.size == 191)
    assert(names.diff(names.distinct).isEmpty, "a name is declared twice")
  }

  test("every query has an oracle and every oracle a query") {
    assert(queries.keySet == registry.map(_.name).toSet)
    assert(queries.keySet == oracleSql.keySet)
  }

  test("each shared build has its declared consumers, 138 pairs in all") {
    val counts = buildConsumers.map { case (b, pred) =>
      b -> queries.keys.count(pred) }
    assert(counts == Map(
      "kmeans_codebooks_and_stores" -> 44, "minhash_sig_store" -> 22,
      "bm25_store" -> 10, "fixed_ivf_stores" -> 7,
      "exact_truth_serves" -> 7, "emb_band_keys" -> 6,
      "hybrid_lex_rank" -> 6, "sampled_truth_serves" -> 6,
      "shared_gram_pairs" -> 4, "bpe_merge_table" -> 4,
      "doc_tokens" -> 4, "curation_sur" -> 3, "pq_codes_sampled" -> 3,
      "pq_codes_trained" -> 3, "minhash_pair_cache" -> 2,
      "knn_graph" -> 2, "doc_bigrams" -> 2, "pca_model" -> 1))
    assert(counts.values.sum == 136)
    assert(registry.count(_.needs.nonEmpty) == 81)
    assert(builds.keySet == buildConsumers.keySet)
    assert(counts.values.forall(_ > 0))
  }

  test("the analytics workload's queries select exactly their two builds") {
    val analytics = Seq("q1_pricing_summary", "q3_join_agg_topn",
      "q5_star_join", "q8_market_share", "src_bar_scan",
      "text_heavy_hitters", "dedup_exact", "mm_inventory")
    val selected = builds.keys.filter(b =>
      analytics.exists(buildConsumers(b))).toSet
    assert(selected == Set("doc_tokens", "minhash_sig_store"))
  }

  test("the scale baselines are the 13 documented-quadratic queries") {
    assert(scaleBaselines == Set(
      "dedup_embedding", "dedup_embedding_lsh", "dedup_lsh_recall",
      "dedup_semantic", "sim_ann_lsh", "sim_hybrid_rrf",
      "sim_topk_bruteforce", "sim_quantized_topk",
      "sim_recall", "sim_recall_rerank", "sim_adc_recall",
      "sim_hybrid_recall", "sim_retrieval_ndcg"))
  }

  test("the oracle JSON escapes quotes, backslashes and control chars") {
    assert(Verify.oracleJson(Seq("a" -> "x\t\"y\"\\\n\u0001")) ==
      "{\"a\": \"x\\t\\\"y\\\"\\\\\\n\\u0001\"}")
  }
}
