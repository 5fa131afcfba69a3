package graft.ops

import graft.SparkSuite

/** Structural + convergence invariants of the deterministic NN-descent
  * k-NN graph (`sim_knn_graph`) that the hash oracle can't express:
  * bounded contiguous ranks, descending cosine within a node, and the
  * round-over-round improvement guarantee (each round's candidate set
  * contains the previous round's edges, so the rank-r cosine can only
  * rise). */
class KnnGraphSpec extends SparkSuite {

  test("each node carries ≤K contiguous ranks with descending cosine") {
    val rows = Similarity.knnGraph(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("node_id")).foreach { case (node, g) =>
      val ranks = g.map(_.getAs[Long]("rank")).sorted.toSeq
      assert(ranks.length <= 5 && ranks == (1L to ranks.length).toSeq,
        s"node $node ranks $ranks")
      val cos = g.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cosine"))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b },
        s"node $node cosines not descending: ${cos.toSeq}")
      assert(!g.exists(_.getAs[Long]("neighbor_id") == node),
        s"node $node lists itself as a neighbor")
    }
  }

  test("NN-descent rounds only improve: per-(node, rank) cosine is monotone") {
    import org.apache.spark.sql.functions._
    // materialize the chain, then read the cached stage relations
    Similarity.knnGraphFinal(spark, sf()).count()
    val g0 = RelationCache.peek(spark, s"knn_g0:${sf()}")
      .getOrElse(fail("init stage not cached"))
    val g2 = RelationCache.peek(spark, s"knn_g2:${sf()}")
      .getOrElse(fail("final stage not cached"))
    val j = g0.select(col("qid"), col("rn"), col("cs").as("cs0"))
      .join(g2.select(col("qid"), col("rn"), col("cs").as("cs2")),
        Seq("qid", "rn"))
    val regressed = j.filter(col("cs2") < col("cs0") - lit(1e-12)).count()
    assert(regressed == 0, s"$regressed (node, rank) slots lost cosine")
    // and the expansion actually found something: some slot improved
    val improved = j.filter(col("cs2") > col("cs0") + lit(1e-9)).count()
    assert(improved > 0, "two NN-descent rounds changed nothing — " +
      "either the init is already exact or the expansion is broken")
  }

  test("graph edge volume is bounded by n·K (the scale invariant)") {
    val n = graft.Tables.embeddings(spark, sf()).count()
    val edges = Similarity.knnGraphFinal(spark, sf()).count()
    assert(edges <= n * 5, s"$edges edges for $n nodes")
  }

  test("clear releases the storage of every graph stage") {
    val sc = spark.sparkContext
    RelationCache.clear(spark)
    val before = sc.getPersistentRDDs.keySet
    Similarity.knnGraphFinal(spark, sf()).count()
    val built = sc.getPersistentRDDs.keySet -- before
    assert(built.nonEmpty, "the graph stages hold storage while memoized")
    RelationCache.clear(spark)
    val left = sc.getPersistentRDDs.keySet intersect built
    assert(left.isEmpty, s"RDDs ${left.toSeq.sorted} outlive RelationCache.clear")
  }
}
