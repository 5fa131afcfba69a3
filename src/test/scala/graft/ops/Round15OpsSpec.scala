package graft.ops

import graft.SparkSuite

/** Round-15 operators: sampled recall twins for the two previously
  * scale-blind harnesses, the embedding-family compact keeper form,
  * and the second-level semantic-dedup subclustering. */
class Round15OpsSpec extends SparkSuite {

  // ---------------------------------------------- dedup_lsh_recall_sampled

  test("lshRecallSampled: engine ≡ its own SQL form, subset invariant") {
    graft.Tables.embeddings(spark, sf())
      .createOrReplaceTempView("embeddings")
    val viaSql = spark.sql(Dedup.lshRecallSampledSql(SparkDialect)).collect()
    val viaEngine = Dedup.lshRecallSampled(spark, sf()).collect()
    assert(viaSql.length == 1 && viaEngine.length == 1)
    val (s, e) = (viaSql.head, viaEngine.head)
    assert(e.getAs[Long]("exact_pairs_s") == s.getAs[Long]("exact_pairs_s"))
    assert(e.getAs[Long]("scaled_pairs_s") == s.getAs[Long]("scaled_pairs_s"))
    assert(e.getAs[Double]("scaled_recall_s")
      == s.getAs[Double]("scaled_recall_s"))
    // banding candidates verify with the SAME cosine gate → subset
    assert(e.getAs[Long]("scaled_pairs_s") <= e.getAs[Long]("exact_pairs_s"))
    val r = e.getAs[Double]("scaled_recall_s")
    assert(r >= 0.0 && r <= 1.0)
  }

  // --------------------------------------------- dedup_embedding_compact

  test("embeddingCompact keepers = min-id union-find over scaled pairs") {
    val pairs = Dedup.embeddingLshScaled(spark, sf()).collect()
      .map(r => (r.getAs[Long]("vec_id_a"), r.getAs[Long]("vec_id_b")))
    // reference union-find in the test (third algorithm)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val all = graft.Tables.embeddings(spark, sf())
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val expected = all.filter(v => find(v) == v)
    val got = Dedup.embeddingCompact(spark, sf())
      .collect().map(_.getLong(0))
    assert(got.toSet == expected)
    assert(got.sorted.sameElements(got), "output must be vec_id-sorted")
    // every dropped vector is in some verified pair
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert((all -- got.toSet).subsetOf(paired))
  }

  // ----------------------------------------------- sim_adc_recall_sampled

  test("adcRecallSampled rows = sampled qids of the full harness") {
    val sampled = Similarity.adcRecallSampled(spark, sf()).collect()
    assert(sampled.nonEmpty)
    val full = Similarity.adcRecall(spark, sf()).collect()
      .map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Double]("recall_frac"), r.getAs[Double]("recall_trained"))))
      .toMap
    // the sampled twin is a row-subset of the full harness's metrics:
    // same pipelines, same truth semantics, truth restricted to S
    sampled.foreach { r =>
      val qid = r.getAs[Long]("query_id")
      val (fAdc, fTr) = full(qid)
      assert(r.getAs[Double]("recall_adc") == fAdc,
        s"qid $qid: sampled recall_adc != full harness recall_frac")
      assert(r.getAs[Double]("recall_adc_trained") == fTr,
        s"qid $qid: sampled recall_adc_trained != full recall_trained")
    }
    assert(sampled.length < full.size,
      "the √|Q| sample must be a strict subset of the query set")
  }

  // ------------------------------------------- semantic subclustering

  test("semanticScaled is unchanged at oracle scale (split floor never trips)") {
    val withSplit = Dedup.semanticScaled(spark, sf()).collect()
    val noSplit = Dedup.semanticScaled(spark, sf(),
      Dedup.SemanticCapMult, Long.MaxValue).collect()
    assert(withSplit.toSeq == noSplit.toSeq,
      "at oracle fixtures every under-cap cluster is under the split " +
        "floor, so the subcluster pass must be a no-op")
    // and with no splits, nothing is forgone except full cap exclusions
    withSplit.foreach { r =>
      if (r.getAs[Long]("is_capped") == 0L)
        assert(r.getAs[Long]("capped_pairs") == 0L)
    }
  }

  test("subclusterBlocks replicates the deterministic Lloyd round exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(421)
    val dim = 4
    // cluster 1: 140 members (> floor) in two separated lobes;
    // cluster 2: 3 members (≤ floor) — must pass through as sub 0
    def jitter(base: Array[Double]): Array[Double] =
      base.map(x => x + (rnd.nextDouble() - 0.5) * 0.2)
    val bigMembers = (0L until 140L).map { i =>
      val base = if (i % 2 == 0) Array(1.0, 0.1, 0.0, 0.0)
                 else Array(0.0, 0.1, 1.0, 0.0)
      (i, 1L, 140L, jitter(base))
    }
    val smallMembers = (200L until 203L).map { i =>
      (i, 2L, 3L, jitter(Array(0.0, 1.0, 0.0, 0.5)))
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val rows = (bigMembers ++ smallMembers).map { case (id, cid, sz, v) =>
      (id, cid, sz, v, math.sqrt(dot(v, v)))
    }
    val und = rows.toDF("vec_id", "cid", "sz", "v", "nrm")
    val floor = 128L
    val got = Dedup.subclusterBlocks(und, floor)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("cid"), r.getAs[Long]("sub")))).toMap
    // pass-through cluster
    assert((200L until 203L).forall(i => got(i) == ((2L, 0L))))
    // every big member assigned exactly once
    assert(bigMembers.forall(m => got.contains(m._1)))
    assert(got.size == rows.length)

    // replicate the algorithm: seeds = ⌈√sz⌉ lowest ids, cosine
    // assign (tie → lowest sub), µ-quantized means, reassign
    val nsub = math.ceil(math.sqrt(140.0)).toInt
    val byId = bigMembers.map(m => m._1 -> m._4).toMap
    val nrmOf = rows.map(r => r._1 -> r._5).toMap
    val seeds = bigMembers.map(_._1).sorted.take(nsub).zipWithIndex
      .map { case (id, s) => s.toLong -> byId(id) }
    def argmax(v: Array[Double], nrm: Double,
        cands: Seq[(Long, Array[Double], Double)]): Long =
      cands.map { case (s, cv, cn) => (dot(v, cv) / (nrm * cn), -s) }
        .zip(cands.map(_._1)).maxBy(_._1)._2
    val seedCands = seeds.map { case (s, sv) =>
      (s, sv, math.sqrt(dot(sv, sv))) }
    val a0 = bigMembers.map { m =>
      m._1 -> argmax(m._4, nrmOf(m._1), seedCands) }.toMap
    def q(x: Double): Long = BigDecimal(x * 1000000.0)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val cents = a0.groupBy(_._2).map { case (s, ms) =>
      val vs = ms.keys.toSeq.map(byId)
      val m = vs.length
      val cv = (0 until dim).map(p =>
        vs.map(v => q(v(p))).sum.toDouble / (m * 1000000.0)).toArray
      (s, cv, math.sqrt(dot(cv, cv)))
    }.toSeq
    val a1 = bigMembers.map { m =>
      m._1 -> argmax(m._4, nrmOf(m._1), cents) }.toMap
    bigMembers.foreach { m =>
      assert(got(m._1) == ((1L, a1(m._1))),
        s"vec ${m._1}: engine sub ${got(m._1)._2}, replica ${a1(m._1)}")
    }
    // the two lobes actually separate (the split does real work)
    val subsUsed = bigMembers.map(m => got(m._1)._2).distinct
    assert(subsUsed.size > 1, "a bimodal 140-member cluster must split")
    // determinism: a second run lands on identical assignments
    val again = Dedup.subclusterBlocks(und, floor)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("cid"), r.getAs[Long]("sub")))).toMap
    assert(again == got)
  }

  test("semanticScaled forgone receipt is exact under a forced split") {
    // force the split at fixture scale with splitFloor=8: every
    // under-cap cluster larger than 8 subclusters, and the receipt
    // must equal C(sz,2) − Σ_sub C(ssz,2) with n_vecs preserved
    val rows = Dedup.semanticScaled(spark, sf(),
      Dedup.SemanticCapMult, 8L).collect()
    val base = Dedup.semanticScaled(spark, sf(),
      Dedup.SemanticCapMult, Long.MaxValue).collect()
      .map(r => r.getAs[Long]("cluster_id") -> r).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val b = base(r.getAs[Long]("cluster_id"))
      assert(r.getAs[Long]("n_vecs") == b.getAs[Long]("n_vecs"))
      assert(r.getAs[Long]("is_capped") == b.getAs[Long]("is_capped"))
      val sz = r.getAs[Long]("n_vecs")
      if (r.getAs[Long]("is_capped") == 0L) {
        // blocking can only FORGO pairs → never drops more members
        assert(r.getAs[Long]("n_dropped") <= b.getAs[Long]("n_dropped"))
        assert(r.getAs[Long]("capped_pairs") >= 0L)
        assert(r.getAs[Long]("capped_pairs") <= sz * (sz - 1) / 2)
      }
    }
    // the split does real work somewhere: at least one under-cap
    // cluster over the floor reports forgone cross-subcluster pairs
    assert(rows.exists(r => r.getAs[Long]("is_capped") == 0L &&
      r.getAs[Long]("n_vecs") > 8L && r.getAs[Long]("capped_pairs") > 0L),
      "forcing the floor to 8 must forgo at least one pair somewhere")
  }
}
