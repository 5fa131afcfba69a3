package graft.ops

import graft.SparkSuite

class SimilaritySpec extends SparkSuite {

  test("brute-force top-k returns exactly k ranked neighbors per query") {
    val rows = Similarity.topK(spark, sf()).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size == 5) // vec_ids 0,100,200,300,400
    byQuery.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to 10L))
      val cs = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cosine"))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y }) // descending
    }
  }

  test("IVF probes rank candidates with the exact scoring arithmetic") {
    val ivf = Similarity.ivf(spark, sf()).collect()
    assert(ivf.nonEmpty)
    val brute = Similarity.topK(spark, sf()).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("cosine")).toMap
    ivf.foreach { r =>
      val k = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      brute.get(k).foreach(c => assert(c == r.getAs[Double]("cosine")))
      assert(r.getAs[Long]("rank") >= 1 && r.getAs[Long]("rank") <= 5)
    }
  }

  test("broadcast-join centroid ranking matches a plain-Scala recomputation") {
    // The large-codebook assignment shape (centroidTopDF: broadcast
    // join + bounded TopKPairs heap) must reproduce the literal
    // expression path's (cs desc, cid asc) ranking bit-for-bit.
    // 84 centroids (> CentroidExprMaxK) from the corpus itself;
    // expected ranking recomputed independently in Scala with the
    // same left-to-right double fold as graft_dot.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = graft.Tables.embeddings(spark, sf())
      .select($"vec_id", expr(SparkDialect.toDoubleArr("embedding")).as("v"))
      .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
    val vecs = rows.collect().map { r =>
      (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    val cents = vecs.filter(_._1 % 6 == 0).sortBy(_._1).toSeq
    assert(cents.size > 64) // forces the join path at this k
    val got = Similarity.centroidTopDF(rows, cents, 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    vecs.foreach { case (vid, v, nrm) =>
      val expect = cents
        .map { case (cid, cv, cnrm) => (dot(v, cv) / (nrm * cnrm), cid) }
        .sortBy { case (cs, cid) => (-cs, cid) }
        .take(3).map(_._2)
      assert(got(vid) == expect, s"vec $vid")
    }
  }

  test("broadcast-join ranking is deterministic on zero-norm vectors") {
    // A zero-norm row scores NULL/NaN against every centroid; both
    // must rank LAST deterministically (mapped to -2 < any cosine),
    // so ties resolve by cid and the result never depends on
    // partition or merge order — and the encoder never sees a null.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dim = graft.ops.TextOps.EmbeddingDim
    def unit(i: Int): Array[Double] =
      Array.tabulate(dim)(j => if (j == i % dim) 1.0 else 0.0)
    val rows = ((0L until 70L).map(i => (i, unit(i.toInt), 1.0)) :+
        ((99L, Array.fill(dim)(0.0), 0.0)))
      .toDF("vec_id", "v", "nrm")
    val cents = (0 until 70).map(i => (i.toLong, unit(i), 1.0))
    val got = Similarity.centroidTopDF(rows, cents, 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    // the zero vector ranks all centroids equal-last: ties by cid
    assert(got(99L) == Seq(0L, 1L, 2L))
    // a well-formed vector still ranks its matching centroid first
    assert(got(5L).head == 5L)
  }

  test("k-means IVF trains centroids deterministically and improves on init") {
    val a = Similarity.ivfKmeans(spark, sf()).collect()
    val b = Similarity.ivfKmeans(spark, sf()).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq) // no RNG, no order dependence
    assert(a.nonEmpty)
    // trained codebook must actually move: assignments differ from the
    // fixed-centroid variant for at least one (query, rank) slot
    val fixed = Similarity.ivf(spark, sf()).collect().map(_.toSeq).toSet
    assert(a.map(_.toSeq).toSet != fixed)
    // scoring arithmetic is still exact — any pair shared with
    // brute-force carries the identical cosine
    val brute = Similarity.topK(spark, sf()).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("cosine")).toMap
    a.foreach { r =>
      val k = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      brute.get(k).foreach(c => assert(c == r.getAs[Double]("cosine")))
    }
  }

  test("recall equals an independent Scala recomputation from the result sets") {
    val rec = Similarity.recall(spark, sf()).collect()
    val rer = Similarity.recallRerank(spark, sf()).collect()
    assert(rec.map(_.getAs[Long]("query_id")).toSeq == Seq(0L, 100L, 200L, 300L, 400L))
    assert(rer.map(_.getAs[Long]("query_id")).toSeq == Seq(0L, 100L, 200L, 300L, 400L))
    def pairs(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
        .groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2).toSet }
    val truth = pairs(Similarity.topK(spark, sf()).filter("rank <= 5"))
    val byMethod = Map(
      "recall_lsh" -> pairs(Similarity.annLsh(spark, sf())),
      "recall_ivf" -> pairs(Similarity.ivf(spark, sf())),
      "recall_kmeans" -> pairs(Similarity.ivfKmeans(spark, sf())),
      "recall_quantized" ->
        pairs(Similarity.quantizedTopK(spark, sf()).filter("rank <= 5")),
      "recall_ivf_pq" ->
        pairs(Similarity.ivfQuantizedPersisted(spark, sf())))
    val byMethodRerank = Map(
      "recall_ivf_pq_rerank" ->
        pairs(Similarity.ivfQuantizedRerankPersisted(spark, sf())),
      "recall_km_pq_rerank" ->
        pairs(Similarity.ivfKmeansQuantizedRerankPersisted(spark, sf())))
    def check(rows: Array[org.apache.spark.sql.Row],
        methods: Map[String, Map[Long, Set[Long]]]): Unit = rows.foreach { r =>
      val q = r.getAs[Long]("query_id")
      assert(r.getAs[Long]("n_true") == truth(q).size)
      methods.foreach { case (col, ann) =>
        val expected = (truth(q) & ann.getOrElse(q, Set.empty)).size.toDouble /
          truth(q).size
        val got = r.getAs[Double](col)
        assert(got == math.rint(expected * 1e6) / 1e6, s"$col for query $q")
        assert(got >= 0.0 && got <= 1.0)
      }
    }
    check(rec, byMethod)
    check(rer, byMethodRerank)
    // the exact-rerank stage can only help: same candidates, true order
    val pqByQ = rec.map(r =>
      r.getAs[Long]("query_id") -> r.getAs[Double]("recall_ivf_pq")).toMap
    rer.foreach { r =>
      assert(r.getAs[Double]("recall_ivf_pq_rerank") >=
        pqByQ(r.getAs[Long]("query_id")))
    }
  }

  test("sampled recall harness scores the scaled paths against sampled truth") {
    val full = Similarity.recall(spark, sf()).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("n_true")).toMap
    val got = Similarity.recallSampled(spark, sf()).collect()
    // sample size ⌈√|Q|⌉, every sampled id a member of the query set,
    // truth cardinality identical to the full harness's per query
    assert(got.length == math.ceil(math.sqrt(full.size.toDouble)).toLong)
    got.foreach { r =>
      val q = r.getAs[Long]("query_id")
      assert(full.contains(q))
      assert(r.getAs[Long]("n_true") == full(q))
      Seq("recall_lsh_scaled", "recall_kmeans_scaled").foreach { c =>
        val v = r.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.0)
      }
    }
  }

  test("corpus-scaled ANN LSH agrees with brute-force cosines and is well-formed") {
    val ann = Similarity.annLshScaled(spark, sf()).collect()
    assert(ann.nonEmpty)
    val byQuery = ann.groupBy(_.getAs[Long]("query_id"))
    byQuery.foreach { case (_, rs) =>
      val ranks = rs.map(_.getAs[Long]("rank")).sorted.toSeq
      assert(ranks == (1L to ranks.length) && ranks.length <= 5)
    }
    val brute = Similarity.topK(spark, sf()).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("cosine")).toMap
    ann.foreach { r =>
      val k = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      brute.get(k).foreach(c => assert(c == r.getAs[Double]("cosine")))
    }
  }

  test("scaled ANN LSH never loses exact duplicates as bands narrow") {
    // Double the sf0.001 corpus (500 → 1000 vectors, copies at
    // vec_id + 10000): n/32 > 16 pushes the scaled band width past
    // the fixed grid's 4 bits.  An identical vector shares EVERY band
    // key at any width and has cosine 1.0, so each query's duplicate
    // must be retrieved at rank 1 — the recall floor of the
    // narrowing tradeoff (DedupSpec pins the same invariant for the
    // near-dup twin).
    import org.apache.spark.sql.functions._
    val base = graft.Tables.embeddings(spark, sf()).select("vec_id", "embedding")
    base.union(base.withColumn("vec_id", col("vec_id") + lit(10000L)))
      .createOrReplaceTempView("embeddings")
    val got = spark.sql(Similarity.annLshScaledSql(SparkDialect)).collect()
    val rank1 = got.filter(_.getAs[Long]("rank") == 1L)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    // queries are vec_id % 100 == 0 in BOTH halves; each has its twin
    val queries = got.map(_.getAs[Long]("query_id")).distinct
    assert(queries.nonEmpty)
    queries.foreach { q =>
      val twin = if (q >= 10000L) q - 10000L else q + 10000L
      assert(rank1.get(q).contains(twin), s"query $q lost duplicate $twin")
      assert(got.exists(r => r.getAs[Long]("query_id") == q &&
        r.getAs[Long]("neighbor_id") == twin &&
        r.getAs[Double]("cosine") == 1.0))
    }
  }

  test("ANN results agree with brute-force cosines on shared pairs") {
    val ann = Similarity.annLsh(spark, sf()).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("cosine")).toMap
    assert(ann.nonEmpty)
    val brute = Similarity.topK(spark, sf()).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("cosine")).toMap
    ann.keys.filter(brute.contains).foreach { k =>
      assert(ann(k) == brute(k)) // identical scoring arithmetic
    }
  }

  test("int8 quantization reports the exact scale and reconstruction RMSE") {
    import spark.implicits._
    // independent Scala re-derivation of the quantizer arithmetic
    def expected(v: Seq[Double]): (Double, Double) = {
      val scale = 127.0 / v.map(math.abs).max
      val err = v.map(x => x - math.floor(x * scale + 0.5) / scale)
      val mse = err.map(e => e * e).sum / v.length
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (r6(scale), r6(math.sqrt(mse)))
    }
    val vecs = Seq(
      1L -> Array(1.0f, -0.5f, 0.25f, 0.125f),
      2L -> Array(-0.031f, 0.017f, 0.009f, -0.026f),
      3L -> Array(2.5f, 2.5f, 2.5f, 2.5f)) // exact codes → rmse 0
    vecs.toDF("vec_id", "embedding").createOrReplaceTempView("embeddings")
    val got = spark.sql(Similarity.quantizeSql(SparkDialect)).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    vecs.foreach { case (id, v) =>
      assert(got(id) == expected(v.map(_.toDouble).toSeq), s"vec $id")
    }
    assert(got(3L)._2 == 0.0) // uniform vector quantizes losslessly
  }

  private def storeDir(tag: String, dir: String,
                       base: Option[String] = None): java.io.File = {
    // mirror the engine's store naming exactly, INCLUDING the cap
    // params segment (codebook size k) folded into the fingerprint
    val n = Similarity.ivfBase(spark, dir)
    val params = tag match {
      case "fix"  => s"k${Similarity.fixedCentsCached(spark, dir, n).size}"
      case "km"   => s"k${Similarity.trainCodebookCached(spark, dir, n).size}"
      case "kmsc" =>
        s"k${Similarity.trainScaledCodebookCached(spark, dir, n).size}"
      case _ => ""
    }
    new java.io.File(Similarity.indexStorePath(spark, dir, tag, base,
      n, params).toUri.getPath)
  }

  test("persisted IVF index reproduces sim_ann_ivf exactly") {
    val mem = Similarity.ivf(spark, sf()).collect().map(_.toSeq).toSeq
    val persisted = Similarity.ivfPersisted(spark, sf()).collect()
      .map(_.toSeq).toSeq
    assert(persisted == mem)
    // the index landed as one directory per inverted list, under a
    // fingerprint-keyed store name
    val store = storeDir("fix", sf())
    val listDirs = store.listFiles().filter(_.getName.startsWith("cid="))
    assert(listDirs.nonEmpty)
  }

  test("persisted k-means IVF reproduces sim_ivf_kmeans exactly") {
    val mem = Similarity.ivfKmeans(spark, sf()).collect().map(_.toSeq).toSeq
    val persisted = Similarity.ivfKmeansPersisted(spark, sf()).collect()
      .map(_.toSeq).toSeq
    assert(persisted == mem)
    assert(storeDir("km", sf()).listFiles()
      .exists(_.getName.startsWith("cid=")))
    // its probe path prunes partitions exactly like the fixed variant
    // (the storeBase overload bypasses the session serve memo, whose
    // lineage truncation would hide the scan from the assertion)
    val p = Similarity.ivfKmeansPersisted(spark, sf(), None)
      .queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[cid#\d+L IN \(""".r.findFirstIn(p).isDefined,
      p.take(2000))
  }

  test("scaled k-means IVF sizes its codebook at ~√n and serves its SQL form") {
    val n = graft.Tables.embeddings(spark, sf()).count()
    val k = math.max(1L, math.floor(math.sqrt(n.toDouble)).toLong)
    val stride = math.max(1L, n / k)
    val seeds = (0L until n).count(_ % stride == 0)
    // engine result ≡ the single-statement SQL form (the oracle shape)
    graft.Tables.embeddings(spark, sf()).createOrReplaceTempView("embeddings")
    val sqlForm = spark.sql(Similarity.ivfKmeansScaledSql(SparkDialect))
      .collect().map(_.toSeq).toSeq
    val got = Similarity.ivfKmeansScaled(spark, sf()).collect()
      .map(_.toSeq).toSeq
    assert(got.nonEmpty && got == sqlForm)
    // the persisted store carries ~√n inverted lists (empty clusters
    // may drop out of Lloyd, never grow) — versus the fixed rule's
    // n/100 seeds — and its probe path stays partition-pruned
    val lists = storeDir("kmsc", sf()).listFiles()
      .count(_.getName.startsWith("cid="))
    assert(lists <= seeds && lists > seeds / 2, s"lists=$lists seeds=$seeds")
    assert(lists > (0L until n).count(_ % 100 == 50),
      "scaled codebook must out-size the fixed rule at fixture scale")
    // storeBase overload: bypasses the serve memo's lineage truncation
    val p = Similarity.ivfKmeansScaled(spark, sf(), None)
      .queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[cid#\d+L IN \(""".r.findFirstIn(p).isDefined,
      p.take(2000))
  }

  test("persisted IVF honors a custom store location and rebuilds after deletion") {
    val base = java.nio.file.Files.createTempDirectory("ivf_custom").toString
    val first = Similarity.ivfPersisted(spark, sf(), Some(base)).collect()
      .map(_.toSeq).toSeq
    val store = storeDir("fix", sf(), Some(base))
    assert(store.getParentFile.getPath == base && store.exists())
    // rebuild-on-absent: a deleted store is rebuilt with identical
    // results on the next call
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete()
    }
    rmrf(store)
    assert(!store.exists())
    val rebuilt = Similarity.ivfPersisted(spark, sf(), Some(base)).collect()
      .map(_.toSeq).toSeq
    assert(store.exists() && rebuilt == first)
  }

  test("a regenerated dataset gets a fresh index via the content fingerprint") {
    import spark.implicits._
    val ds = java.nio.file.Files.createTempDirectory("ivf_fp").toString
    val full = graft.Tables.embeddings(spark, sf())
    full.write.parquet(s"$ds/embeddings.parquet")
    val r1 = Similarity.ivfPersisted(spark, ds).collect().map(_.toSeq).toSeq
    assert(r1.nonEmpty)
    // regenerate the dataset IN PLACE with a strict subset, then clear
    // the session relation cache (a fresh session's view of the files)
    full.filter($"vec_id" < 300).write.mode("overwrite")
      .parquet(s"$ds/embeddings.parquet")
    RelationCache.clear(spark)
    val r2 = Similarity.ivfPersisted(spark, ds).collect()
    assert(r2.nonEmpty && r2.forall(_.getAs[Long]("neighbor_id") < 300),
      "results must come from the regenerated dataset, not a stale index")
    assert(r2.map(_.toSeq).toSeq != r1)
  }

  test("quantized rerank: exact scores, candidates from the coarse int8 stage") {
    graft.Tables.embeddings(spark, sf())
      .createOrReplaceTempView("embeddings")
    val sql = spark.sql(Similarity.ivfQuantizedRerankSql(SparkDialect))
      .collect().map(_.toSeq).toSeq
    val served = Similarity.ivfQuantizedRerankPersisted(spark, sf())
      .collect().map(_.toSeq).toSeq
    assert(served.nonEmpty && served == sql)
    // reranked scores are EXACT cosines: any pair shared with
    // brute-force carries the identical value
    val brute = Similarity.topK(spark, sf()).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("cosine")).toMap
    served.foreach { s =>
      val k = (s(0).asInstanceOf[Long], s(1).asInstanceOf[Long])
      brute.get(k).foreach(c => assert(c == s(2).asInstanceOf[Double], s"$k"))
    }
    // every reranked neighbor came through the coarse int8 stage
    val coarse = spark.sql(
        Similarity.ivfQuantizedSql(SparkDialect, Similarity.RerankCoarseK))
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    served.foreach { s =>
      assert(coarse((s(0).asInstanceOf[Long], s(1).asInstanceOf[Long])))
    }
  }

  test("k-means quantized rerank serves its SQL form with exact scores") {
    graft.Tables.embeddings(spark, sf())
      .createOrReplaceTempView("embeddings")
    val sql = spark.sql(Similarity.ivfKmeansQuantizedRerankSql(SparkDialect))
      .collect().map(_.toSeq).toSeq
    val served = Similarity.ivfKmeansQuantizedRerankPersisted(spark, sf())
      .collect().map(_.toSeq).toSeq
    assert(served.nonEmpty && served == sql)
    val brute = Similarity.topK(spark, sf()).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("cosine")).toMap
    served.foreach { s =>
      val k = (s(0).asInstanceOf[Long], s(1).asInstanceOf[Long])
      brute.get(k).foreach(c => assert(c == s(2).asInstanceOf[Double], s"$k"))
    }
  }

  test("source coherence matches an independent Scala recomputation") {
    val docs = graft.Tables.documents(spark, sf())
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val vecs = graft.Tables.embeddings(spark, sf())
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val bySource = vecs.keys.filter(docs.contains).groupBy(docs)
    val expected = bySource.map { case (src, ids) =>
      val members = ids.toSeq.sorted.map(vecs)
      val dim = members.head.length
      // the same µ-quantized integer centroid as the SQL
      val cv = Array.tabulate(dim)(j =>
        members.map(v => math.rint(v(j) * 1e6).toLong).sum.toDouble /
          (1e6 * members.size))
      def dot(a: Array[Double], b: Array[Double]) =
        a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
      val cnrm = math.sqrt(dot(cv, cv))
      val cs = members.map(v =>
        dot(v, cv) / (math.sqrt(dot(v, v)) * cnrm))
      // mean over µ-quantized cosines, mirroring the SQL's
      // deterministic integer accumulation
      val mean = cs.map(c => math.rint(c * 1e6).toLong).sum.toDouble /
        (1e6 * cs.size)
      (src, members.size.toLong, r6(mean), r6(cs.min))
    }.toSet
    val got = Similarity.sourceCoherence(spark, sf()).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    assert(got == expected)
    assert(got.forall(t => t._3 > t._4 && t._3 <= 1.0))
  }

  test("embedding drift: IID halves are stable, a planted shift trips PSI") {
    import spark.implicits._
    // fixture halves are draws from one distribution: psi sits at the
    // chi-square noise floor (B-1)(1/n0+1/n1) ≈ 0.13 at 250-vec halves
    // and the debiased verdict flags nothing
    val fx = Similarity.embeddingDrift(spark, sf()).collect()
    assert(fx.length == 64)
    assert(fx.forall(_.getAs[Int]("drifted") == 0))
    fx.foreach { r =>
      val (p, nfl) = (r.getAs[Double]("psi"), r.getAs[Double]("noise_floor"))
      assert(p >= 0.0 && nfl > 0.0 && p <= 0.2 + nfl + 0.2,
        s"dim ${r.getAs[Long]("dim")}: psi=$p floor=$nfl")
    }
    // synthetic corpus: dim 1 shifted by +3 in the odd half, the other
    // 63 dims identical across halves
    val rows = (0L until 400L).map { id =>
      val v = Array.tabulate(64) { j =>
        val base = math.sin(id * 0.37 + j).toFloat // deterministic spread
        if (j == 0 && id % 2 == 1) base + 3.0f else base
      }
      (id, v)
    }
    rows.toDF("vec_id", "embedding").createOrReplaceTempView("embeddings")
    val got = spark.sql(Similarity.embeddingDriftSql(SparkDialect)).collect()
      .map(r => r.getAs[Long]("dim") ->
        ((r.getAs[Double]("psi"), r.getAs[Int]("drifted")))).toMap
    assert(got.size == 64)
    assert(got(1L)._2 == 1 && got(1L)._1 > 1.0, s"dim1=${got(1L)}")
    // unshifted dims stay at the noise floor, far under the planted one
    (2L to 64L).foreach { j =>
      assert(got(j)._2 == 0 && got(j)._1 < got(1L)._1 / 3,
        s"dim$j=${got(j)}")
    }
  }

  test("outlier report: engine path serves its SQL form with sane bounds") {
    graft.Tables.embeddings(spark, sf()).createOrReplaceTempView("embeddings")
    graft.Tables.documents(spark, sf()).createOrReplaceTempView("documents")
    val sqlForm = spark.sql(Similarity.outlierReportSql(SparkDialect))
      .collect().map(_.toSeq).toSeq
    val got = Similarity.outlierReport(spark, sf()).collect()
    assert(got.nonEmpty && got.map(_.toSeq).toSeq == sqlForm)
    val totVecs = got.map(_.getAs[Long]("n_vecs")).sum
    assert(totVecs == graft.Tables.embeddings(spark, sf()).count())
    // rank-based flagging: bottom 5% per ~√n cluster, at least one per
    // cluster — strictly between "nothing" and "a tenth of the corpus"
    val totOut = got.map(_.getAs[Long]("outliers")).sum
    assert(totOut >= 1 && totOut <= totVecs / 10, s"outliers=$totOut")
    got.foreach { r =>
      val (nv, o) = (r.getAs[Long]("n_vecs"), r.getAs[Long]("outliers"))
      val m = r.getAs[Double]("mean_centroid_sim")
      val mn = r.getAs[Double]("min_centroid_sim")
      assert(o >= 0 && o <= nv && mn <= m && m <= 1.0 && mn >= -1.0,
        s"${r.getString(0)}: n=$nv o=$o mean=$m min=$mn")
    }
  }

  test("zero vectors quantize to NULL scale and are excluded from quantized serving") {
    import spark.implicits._
    val vecs = Seq(
      0L -> Array(0.0f, 0.0f, 0.0f, 0.0f), // an all-zero QUERY vector
      1L -> Array(1.0f, -0.5f, 0.25f, 0.125f),
      2L -> Array(0.5f, 0.25f, -0.125f, 1.0f),
      100L -> Array(0.25f, 1.0f, 0.5f, -0.25f))
    vecs.toDF("vec_id", "embedding").createOrReplaceTempView("embeddings")
    val q = spark.sql(Similarity.quantizeSql(SparkDialect)).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(q(0L).isNullAt(1) && q(0L).isNullAt(2),
      "zero vector reports NULL scale and rmse")
    assert(!q(1L).isNullAt(1) && q(1L).getDouble(1) > 0)
    val served = spark.sql(Similarity.quantizedTopKSql(SparkDialect)).collect()
    assert(served.nonEmpty)
    assert(!served.exists(_.getAs[Long]("query_id") == 0L),
      "zero vector cannot be a quantized query")
    assert(!served.exists(_.getAs[Long]("neighbor_id") == 0L),
      "zero vector cannot be a quantized neighbor")
  }

  test("persisted IVF probe prunes to the probed list partitions") {
    // storeBase overload: bypasses the serve memo's lineage truncation
    val q = Similarity.ivfPersisted(spark, sf(), None)
    val p = q.queryExecution.executedPlan.toString
    // the probed-cid IN-list must land in PartitionFilters (static
    // pruning), not a post-scan Filter
    assert(p.contains("PartitionFilters: [cid#"), p.take(2000))
    assert("""PartitionFilters: \[cid#\d+L IN \(""".r.findFirstIn(p).isDefined,
      p.take(2000))
  }

  test("quantization matches the Scala reference on 200 seeded random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(1234)
    val vecs = (0 until 200).map { i =>
      i.toLong -> Array.fill(16)((rnd.nextFloat() - 0.5f) * 4f)
    }
    vecs.toDF("vec_id", "embedding").createOrReplaceTempView("embeddings")
    val got = spark.sql(Similarity.quantizeSql(SparkDialect)).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    vecs.foreach { case (id, v) =>
      val d = v.map(_.toDouble)
      val scale = 127.0 / d.map(math.abs).max
      val err = d.map(x => x - math.floor(x * scale + 0.5) / scale)
      assert(got(id) == ((r6(scale), r6(math.sqrt(err.map(e => e * e).sum / d.length)))),
        s"vec $id")
      // codes stay inside int8 (no clipping branch needed)
      assert(d.forall(x => math.abs(math.floor(x * scale + 0.5)) <= 127))
    }
  }

  test("quantized top-k serves near-exact rankings from int8 codes") {
    val exact = Similarity.topK(spark, sf()).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("cosine")).toMap
    val quant = Similarity.quantizedTopK(spark, sf()).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("approx_cosine")).toMap
    assert(quant.nonEmpty && quant.size == exact.size)
    // per query, at least 9 of the exact top-10 survive quantization
    val byQ = exact.keySet.groupBy(_._1)
    byQ.foreach { case (q, keys) =>
      val kept = keys.count(quant.contains)
      assert(kept >= keys.size - 1, s"query $q kept only $kept")
    }
    // shared pairs: the de-scaled integer score sits within the
    // half-code-step error budget of the true cosine
    quant.keys.filter(exact.contains).foreach { k =>
      assert(math.abs(quant(k) - exact(k)) < 5e-3, s"pair $k")
    }
  }

  test("quantization on the fixture: error bounded by half a code step") {
    val rows = Similarity.quantize(spark, sf()).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scale = r.getAs[Double]("scale")
      val rmse = r.getAs[Double]("rmse")
      assert(scale > 0)
      // per-element |err| ≤ 0.5/scale ⇒ rmse ≤ 0.5/scale (+ rounding slop)
      assert(rmse >= 0 && rmse <= 0.5 / scale + 1e-6, s"vec ${r.getLong(0)}")
    }
  }

  test("quantized persisted IVF serves the ivfQuantizedSql ranking exactly") {
    graft.Tables.embeddings(spark, sf())
      .createOrReplaceTempView("embeddings")
    val sql = spark.sql(Similarity.ivfQuantizedSql(SparkDialect)).collect()
      .map(_.toSeq).toSeq
    val served = Similarity.ivfQuantizedPersisted(spark, sf()).collect()
      .map(_.toSeq).toSeq
    assert(served.nonEmpty && served == sql,
      "store round-trip + quantized serving ≡ end-to-end SQL recomputation")
  }

  test("quantized persisted IVF agrees with sim_quantized_topk on shared pairs") {
    val full = Similarity.quantizedTopK(spark, sf()).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("approx_cosine")).toMap
    val pq = Similarity.ivfQuantizedPersisted(spark, sf()).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("approx_cosine")).toMap
    assert(pq.nonEmpty)
    // identical quantizer + identical de-scaling: any pair both paths
    // emit must carry the SAME quantized score (pq only restricts the
    // candidate set to the probed lists, it never changes arithmetic)
    val shared = pq.keySet.intersect(full.keySet)
    assert(shared.nonEmpty)
    shared.foreach(k => assert(pq(k) == full(k), s"pair $k"))
  }

  test("k-means quantized persisted IVF serves its SQL form exactly") {
    graft.Tables.embeddings(spark, sf())
      .createOrReplaceTempView("embeddings")
    val sql = spark.sql(Similarity.ivfKmeansQuantizedSql(SparkDialect))
      .collect().map(_.toSeq).toSeq
    val served = Similarity.ivfKmeansQuantizedPersisted(spark, sf())
      .collect().map(_.toSeq).toSeq
    assert(served.nonEmpty && served == sql)
    // trained-codebook candidates, quantized scores: any pair shared
    // with the full quantized ranking carries the identical score
    val full = Similarity.quantizedTopK(spark, sf()).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("approx_cosine")).toMap
    val pq = served.map(s => (s(0).asInstanceOf[Long], s(1).asInstanceOf[Long])
      -> s(2).asInstanceOf[Double]).toMap
    val shared = pq.keySet.intersect(full.keySet)
    assert(shared.nonEmpty)
    shared.foreach(k => assert(pq(k) == full(k), s"pair $k"))
  }

  test("quantized persisted IVF prunes to probed lists and stores int8 codes") {
    import org.apache.spark.sql.functions.col
    // storeBase overload: bypasses the serve memo's lineage truncation
    val q = Similarity.ivfQuantizedPersisted(spark, sf(), None)
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [cid#"), p.take(2000))
    assert("""PartitionFilters: \[cid#\d+L IN \(""".r.findFirstIn(p).isDefined,
      p.take(2000))
    // the persisted list payload really is int8 (byte) codes: find the
    // store the operator published and read its schema back
    val base = new java.io.File(sys.props("java.io.tmpdir"))
    val store = base.listFiles().filter(f =>
      f.getName.startsWith("graft_ivf_pq_") && !f.getName.contains("_tmp_"))
      .maxBy(_.lastModified)
    val schema = spark.read.parquet(store.toString).schema
    schema("code").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, _) => // int8 confirmed
      case other => fail(s"code column is $other, not ARRAY<TINYINT>")
    }
    // every served neighbor must come from a probed list of its query
    val probed = q.select(col("query_id")).distinct().count()
    assert(probed > 0)
  }

  test("cluster keywords rank top-3 discriminative terms per cluster") {
    val rows = Similarity.clusterKeywords(spark, sf()).collect()
    val byCid = rows.groupBy(_.getAs[Long]("cid"))
    assert(byCid.nonEmpty)
    byCid.foreach { case (cid, g) =>
      val sorted = g.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L),
        s"cid $cid ranks")
      val scores = sorted.map(_.getAs[Double]("score"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"cid $cid scores not non-increasing: ${scores.toSeq}")
      sorted.foreach { r =>
        assert(r.getAs[Long]("tf") > 0)
        assert(r.getAs[Long]("df_c") >= 1)
      }
    }
    // the score is the claimed integer product: tf * quantized idf
    val nk = byCid.size
    rows.foreach { r =>
      val idfQ = math.round(math.log((nk + 1).toDouble /
        r.getAs[Long]("df_c")) * 1e6)
      val expected = BigDecimal(r.getAs[Long]("tf") * idfQ / 1e6)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("score") - expected) < 1e-9)
    }
  }

  test("embedding stats: per-dim moments and norm summary are sane and exact") {
    val rows = Similarity.embeddingStats(spark, sf()).collect()
    assert(rows.map(_.getAs[Long]("dim")).toSeq == (1L to 64L))
    val n = rows.head.getAs[Long]("n_vectors")
    assert(n == 500 && rows.head.getAs[Long]("zero_vectors") == 0)
    assert(rows.head.getAs[Double]("min_norm") > 0)
    assert(rows.head.getAs[Double]("mean_norm") >=
      rows.head.getAs[Double]("min_norm"))
    assert(rows.head.getAs[Double]("max_norm") >=
      rows.head.getAs[Double]("mean_norm"))
    // the relation clamps quantization's epsilon-negative variance at 0
    assert(rows.forall(_.getAs[Double]("variance") >= 0.0))

    // independent recomputation of the quantized moments for dim 1
    val vecs = graft.Tables.embeddings(spark, sf())
      .collect().map(_.getSeq[Float](1).map(_.toDouble))
    val s0 = vecs.map(v => math.round(v(0) * 1e6)).sum
    val q0 = vecs.map(v => math.round(v(0) * v(0) * 1e6)).sum
    val mean = s0.toDouble / (1e6 * n)
    val variance = math.max(q0.toDouble / (1e6 * n) - mean * mean, 0.0)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val d1 = rows.find(_.getAs[Long]("dim") == 1L).get
    assert(math.abs(d1.getAs[Double]("mean") - r6(mean)) < 1e-9)
    assert(math.abs(d1.getAs[Double]("variance") - r6(variance)) < 1e-9)
  }

  test("pca projection matches an independent power-iteration recomputation") {
    val rows = Similarity.pca(spark, sf()).collect()
    assert(rows.length == 500)
    val ev = rows.head.getAs[Double]("var_explained_pc1")
    assert(ev > 0.0 && ev <= 1.0, s"var_explained $ev")
    assert(rows.forall(_.getAs[Double]("var_explained_pc1") == ev))

    // reference: the same quantized power iteration in plain Scala
    val vecs = graft.Tables.embeddings(spark, sf())
      .collect().map { r =>
        r.getAs[Long]("vec_id") ->
          r.getSeq[Float](r.fieldIndex("embedding"))
            .map(_.toDouble).toArray
      }.toMap
    val dim = vecs.head._2.length
    val n = vecs.size
    val q = 1e6
    val mu = Array.tabulate(dim) { j =>
      vecs.values.map(v => math.round(v(j) * q)).sum.toDouble / (q * n)
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    var pv = Array.fill(dim)(0.125)
    for (_ <- 1 to Similarity.PcaIters) {
      val w = Array.fill(dim)(0L)
      vecs.values.foreach { v =>
        val di = dot(v, pv) - dot(mu, pv)
        for (j <- 0 until dim)
          w(j) += math.round(di * (v(j) - mu(j)) * q)
      }
      val u = w.map(_.toDouble)
      val nrm = math.sqrt(dot(u, u))
      pv = u.map(_ / nrm)
    }
    val expected = vecs.map { case (id, v) => id -> (dot(v, pv) - dot(mu, pv)) }
    rows.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      assert(math.abs(r.getAs[Double]("pc1") - expected(id)) < 1e-5,
        s"vec $id: ${r.getAs[Double]("pc1")} vs ${expected(id)}")
    }
    // the quantized accumulations made the chain order-independent;
    // explained variance from the reference agrees too
    val vn = expected.values.map(s => math.round(s * s * q)).sum.toDouble
    val tv = vecs.values.map { v =>
      math.round((dot(v, v) - 2 * dot(v, mu) + dot(mu, mu)) * q) }.sum.toDouble
    assert(math.abs(ev - BigDecimal(vn / tv)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
  }

  test("fixed-pick codebook is corpus-capped: seeds stay ~sqrt(n) on a large id space") {
    // VERDICT r12 item 8: no code path may collect O(n) rows to the
    // driver.  On a 25 600-id corpus the fixed rule's modulus must be
    // the sqrt-n stride (160), not 100 — so the collected codebook is
    // ~sqrt(n) rows — while a sub-10k corpus keeps the historical
    // mod-100 picks (small-fixture results unchanged).
    import org.apache.spark.sql.functions._
    val dim = graft.ops.TextOps.EmbeddingDim
    def synth(n: Long) = spark.range(n)
      .select(col("id").as("vec_id"),
        expr(s"transform(sequence(0, ${dim - 1}), " +
          "j -> CAST(1.0 + CAST((id + j) % 7 AS DOUBLE) AS DOUBLE))").as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
    val big = synth(25600L)
    assert(Similarity.fixedPickMod(big) == 160L) // 25600/floor(sqrt) = 160
    val cents = Similarity.fixedCentsCached(spark, "spec_fixed_big", big)
    assert(cents.size == 160 &&
      cents.size <= 2 * math.sqrt(25600.0).toInt,
      s"collected ${cents.size} seeds — must stay ~sqrt(n)")
    assert(cents.map(_._1) == cents.map(_._1).sorted)
    assert(cents.forall(_._1 % 160L == 50L))
    val small = synth(2000L)
    assert(Similarity.fixedPickMod(small) == 100L)
    assert(Similarity.fixedCentsCached(spark, "spec_fixed_small", small)
      .size == 20)
  }

  test("store path distinguishes cap settings over the same corpus") {
    // SCALING.md round-13 residual: a capped-family store rebuilt
    // under different cap parameters (codebook size, seed stride) has
    // the same (count, max vec_id) fingerprint but different list
    // contents — the params segment must make the two paths distinct
    // so a stale store CANNOT serve old lists after a cap change.
    val n = Similarity.ivfBase(spark, sf())
    val a = Similarity.indexStorePath(spark, sf(), "fix", None, n, "k5")
    val b = Similarity.indexStorePath(spark, sf(), "fix", None, n, "k84")
    assert(a != b)
    assert(a.getName.endsWith("_k5") && b.getName.endsWith("_k84"))
    // same cap → same path (build-if-absent still keys correctly)
    assert(a ==
      Similarity.indexStorePath(spark, sf(), "fix", None, n, "k5"))
  }

  test("publish-if-absent is a real no-op on the second call") {
    // Round-13 find: under partitionOverwriteMode=dynamic (the session
    // default) Spark's committer writes NO _SUCCESS for a partitioned
    // overwrite, so a marker check against it never passed and EVERY
    // persisted-store serve silently rebuilt the whole index into a
    // tmp sibling and discarded it.  publishIndex now owns its marker
    // (_GRAFT_PUBLISHED): after the first build, a repeat call must
    // leave the store byte-identical — same files, same mtimes — and
    // spawn no tmp sibling.
    val base = java.nio.file.Files.createTempDirectory("pub_once")
    try {
      Similarity.ivfPersisted(spark, sf(), Some(base.toString)).count()
      val store = base.toFile.listFiles()
        .filter(_.getName.startsWith("graft_ivf_fix")).head
      assert(new java.io.File(store, "_GRAFT_PUBLISHED").exists(),
        "winning publish must leave the protocol marker")
      def snapshot(): Map[String, Long] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(store).map(f => f.getPath -> f.lastModified()).toMap
      }
      val before = snapshot()
      Similarity.ivfPersisted(spark, sf(), Some(base.toString)).count()
      assert(snapshot() == before,
        "second publish call must not touch the store")
      assert(!base.toFile.listFiles()
        .exists(_.getName.contains("_tmp_")),
        "second publish call must not even stage a tmp build")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
  }

  test("graft_top_cids rejects a mistyped codebook at analysis time") {
    // ADVICE r12: the kernel is a registered SQL function — a caller
    // passing int cids or a BIGINT top must get an analysis-time type
    // error, not a ClassCastException in the lazy codebook extraction
    // on the first task.
    def bad(sql: String): Unit =
      intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(sql).collect())
    // int cids (array<int>, not array<bigint>)
    bad("SELECT graft_top_cids(array(1.0D), 1.0D, array(1, 2), " +
      "array(array(1.0D), array(1.0D)), array(1.0D, 1.0D), 1)")
    // BIGINT top
    bad("SELECT graft_top_cids(array(1.0D), 1.0D, array(1L, 2L), " +
      "array(array(1.0D), array(1.0D)), array(1.0D, 1.0D), CAST(1 AS BIGINT))")
    // float codebook vectors
    bad("SELECT graft_top_cids(array(1.0D), 1.0D, array(1L, 2L), " +
      "array(array(CAST(1.0 AS FLOAT))), array(1.0D, 1.0D), 1)")
    // the correctly-typed call still analyzes and runs
    val ok = spark.sql("SELECT graft_top_cids(array(1.0D), 1.0D, " +
      "array(1L, 2L), array(array(1.0D), array(1.0D)), " +
      "array(1.0D, 1.0D), 1)").collect()
    assert(ok.head.getSeq[Long](0) == Seq(1L))
  }

  test("capped fixed IVF: kernel engine form equals the SQL oracle form past the cap") {
    // At n > 10 000 the fixed family leaves the historical mod-100
    // rule (and the unrolled <= 64-centroid projection): the engine
    // assigns ~sqrt(n) centroids through the graft_top_cids kernel,
    // the oracle's single statement computes the stride as a scalar
    // subquery.  The fixture parity gate only sees mod = 100, so THIS
    // is the check that both sides agree past the cap — stride
    // arithmetic (long division vs floor of a double divide), kernel
    // ranking, and probing included.
    import org.apache.spark.sql.functions._
    val dim = graft.ops.TextOps.EmbeddingDim
    val dir = java.nio.file.Files.createTempDirectory("capped_ivf")
    try {
      spark.range(12800)
        .select(col("id").as("vec_id"),
          expr(s"transform(sequence(0, ${dim - 1}), j -> CAST(" +
            "1.0 + CAST((id % 97) * (j + 1) % 13 AS FLOAT) / 13.0 " +
            "AS FLOAT))").as("embedding"))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val engine = Similarity.ivf(spark, dir.toString).collect().map(_.toSeq)
      graft.Tables.embeddings(spark, dir.toString)
        .createOrReplaceTempView("embeddings")
      val oracle = spark.sql(Similarity.ivfSql(SparkDialect))
        .collect().map(_.toSeq)
      assert(engine.nonEmpty && engine.toSeq == oracle.toSeq)
      // the ADC engine form shares the kernel coarse stage but scores
      // through the PQ SQL chain — cross-check it past the cap too
      val adcEngine = Similarity.ivfAdc(spark, dir.toString)
        .collect().map(_.toSeq)
      val adcOracle = spark.sql(Similarity.ivfAdcSql(SparkDialect))
        .collect().map(_.toSeq)
      assert(adcEngine.nonEmpty && adcEngine.toSeq == adcOracle.toSeq)
      // and the Lloyd-TRAINED variant: driver-coordinated rounds +
      // literal-codebook assignment vs the unrolled single-statement
      // training chain — codebook means, argmin ties, ADC scoring all
      // have to land on identical doubles past the cap
      val trEngine = Similarity.ivfAdcTrained(spark, dir.toString)
        .collect().map(_.toSeq)
      val trOracle = spark.sql(Similarity.ivfAdcTrainedSql(SparkDialect))
        .collect().map(_.toSeq)
      assert(trEngine.nonEmpty && trEngine.toSeq == trOracle.toSeq)
    } finally {
      graft.ops.RelationCache.clear(spark)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }
}
