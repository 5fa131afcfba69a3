package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted inverted (postings) index for lexical BM25 retrieval —
  * the 100 TB deployment shape of `text_bm25_topk`, mirroring the IVF
  * store lifecycle: build-if-absent under a content fingerprint with
  * atomic publish, caller-managed append-only maintenance, and a
  * serving path that opens only the partitions a query touches.
  *
  * Layout (`indexPath/`):
  *  - `postings/tshard=<h60(term) % Shards>/…parquet` — rows
  *    (doc_id, term, tf, ndl): term frequency plus the document
  *    length BM25's saturation needs, denormalized into the posting
  *    the way production search engines store per-doc norms.  Hash
  *    sharding (not `term=` partitioning) bounds directory fan-out on
  *    an unbounded vocabulary while still letting a query prune to
  *    |q| shards.
  *  - `stats/…parquet` — per-append rows (batch_id, n_docs, sum_dl).
  *    BM25's corpus scalars (N, avgdl) are SUMS of these partials —
  *    associative, so appends never rewrite global state; the serve
  *    path folds them with a `batch_id` dedup so an at-least-once
  *    replayed append can never double-count the corpus.
  *
  * Replay contract: appends are atomic per file; a crashed-and-
  * replayed batch re-appends identical rows, and serving dedups
  * postings by (doc_id, term) and stats by batch_id — so at-least-once
  * delivery degrades to exactly-once results.
  *
  * Serving reads ONLY the query terms' shard partitions (the shard
  * set is |q| driver-side longs — lands in PartitionFilters) and
  * pushes the term equality into the parquet scan: a query touches
  * |q|/Shards of the index regardless of corpus size.
  */
object LexIndex {

  /** Term-hash shard count.  64 keeps fixture directories small; at
    * 100 TB the same layout holds with a larger count — the serve
    * cost is |q| shards either way. */
  val Shards = 64

  /** Driver-side twin of `graft_h60` (first 15 hex chars of MD5) for
    * computing the query terms' shard set without a Spark job. */
  private[ops] def h60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  /** Postings + per-batch stats of a (doc_id, text) relation, with
    * the operator's own tokenizer.  One tokenize pass feeds both. */
  private def tokenized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr("graft_tokens(text)").as("toks"))
      .withColumn("ndl", size(col("toks")).cast("long"))

  private def postingsOf(tok: DataFrame): DataFrame =
    tok.select(col("doc_id"), col("ndl"),
        explode(col("toks")).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), max("ndl").as("ndl"))
      .withColumn("tshard", expr(s"graft_h60(term) % $Shards"))

  /** Append `newDocs` (doc_id, text) to a caller-managed index:
    * postings land as NEW files inside existing `tshard=` partitions
    * (append-only, existing files untouched — concurrent serves see a
    * consistent prefix), then the batch's stats row.  Calling on an
    * empty/absent path IS the bootstrap; bootstrap + N appends ≡ one
    * bootstrap over the union (spec-pinned).  `batchId` keys the
    * stats row — replays with the same id fold to one row at serve.
    *
    * Crash between the two writes leaves postings without their
    * stats row (N/avgdl momentarily exclude the batch its postings
    * already include — a bounded skew, not corruption); the replay
    * that at-least-once delivery guarantees re-appends both and the
    * serve-side dedups collapse the doubles. */
  def append(spark: SparkSession, indexPath: String, newDocs: DataFrame,
             batchId: String): Unit = {
    // cache across the two write actions: tokenization dominates the
    // append cost and would otherwise run twice per batch (the stats
    // partials cannot be derived from the postings — a zero-token
    // document has no posting rows but still counts toward N)
    val tok = tokenized(newDocs).persist()
    try {
      postingsOf(tok)
        .write.mode("append").partitionBy("tshard")
        .parquet(s"$indexPath/postings")
      tok.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("ndl")), lit(0L)).as("sum_dl"))
        .select(lit(batchId).as("batch_id"), col("n_docs"), col("sum_dl"))
        .write.mode("append").parquet(s"$indexPath/stats")
    } finally tok.unpersist()
  }

  /** BM25 top-k served from a persisted index — the exact arithmetic
    * of `Retrieval.bm25Sql` (shared `idfExpr`/`contribCols`
    * expressions, µ-quantized integer score sums) over the store's
    * postings, so the in-memory operator's oracle verifies this path
    * end-to-end. */
  def serve(spark: SparkSession, indexPath: String,
            terms: Seq[String] = Retrieval.QueryTerms): DataFrame = {
    val stats = spark.read
      .schema("batch_id STRING, n_docs BIGINT, sum_dl BIGINT")
      .parquet(s"$indexPath/stats")
      .dropDuplicates("batch_id")
      .agg(sum(col("n_docs")).cast("double").as("n_docs"),
        sum(col("sum_dl")).cast("double")
          .divide(sum(col("n_docs"))).as("avgdl"))
    val shards = terms.map(t => h60(t) % Shards).distinct.sorted
    val posts = spark.read
      .schema("doc_id BIGINT, term STRING, tf BIGINT, ndl BIGINT, tshard BIGINT")
      .parquet(s"$indexPath/postings")
      .filter(col("tshard").isin(shards: _*) && col("term").isin(terms: _*))
      // replay shield: a re-appended batch duplicates (doc, term) rows
      .dropDuplicates("doc_id", "term")
    val idf = posts.groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("term"),
        expr(Retrieval.idfExpr(SparkDialect, "n_docs", "df")).as("idf_u"))
    val scored = posts.join(broadcast(idf), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        expr(Retrieval.contribCols(SparkDialect,
          "idf_u", "tf", "ndl", "avgdl")).as("c_u"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit_terms"), sum(col("c_u")).as("s_u"))
      // global top-k as orderBy().limit(k) — TakeOrderedAndProject
      // keeps per-partition heaps map-side and merges K rows on the
      // driver, where the rank<=k-filtered global window form sorts
      // every surviving row in ONE partition.  The rank column is
      // re-derived by a window over the ≤ k survivors only.
      .orderBy(col("s_u").desc, col("doc_id"))
      .limit(Retrieval.TopK)
      .withColumn("rn",
        row_number().over(Window.orderBy(col("s_u").desc, col("doc_id"))))
      .select(col("rn").cast("long").as("rank"), col("doc_id"),
        round(col("s_u").cast("double") / 1e6, 6).as("bm25"),
        col("n_hit_terms").cast("long").as("n_hit_terms"))
      .orderBy("rank")
  }

  /** `text_bm25_topk` over an auto-managed PERSISTED index: built
    * once under a content fingerprint (doc count + max doc_id — the
    * `indexStorePath` discipline), published by atomic rename, then
    * served by shard pruning.  Results are identical to the in-memory
    * operator, so `Retrieval.bm25Sql` is the oracle for this path. */
  def bm25Persisted(spark: SparkSession, dir: String): DataFrame =
    bm25Persisted(spark, dir, None)

  def bm25Persisted(spark: SparkSession, dir: String,
                    storeBase: Option[String]): DataFrame =
    serve(spark, autoStore(spark, dir, storeBase).toString)

  /** Force the build-if-absent persisted BM25 store for `dir` —
    * idempotent; Bench times it as its own labeled `build:` line so
    * the bootstrap indexing cost never attributes to the first
    * persisted-serve query of a session. */
  def prebuildStore(spark: SparkSession, dir: String): Unit = {
    autoStore(spark, dir, None); ()
  }

  /** Build-if-absent of the fingerprint-keyed auto store — shared by
    * the persisted serving path and the shard-health audit. */
  private def autoStore(spark: SparkSession, dir: String,
      storeBase: Option[String]): org.apache.hadoop.fs.Path = {
    val docs = graft.Tables.documents(spark, dir)
    val fp = docs.agg(count(lit(1)), max(col("doc_id"))).head()
    require(fp.getLong(0) > 0,
      s"cannot key a lexical index for an EMPTY documents relation at $dir")
    val store = new org.apache.hadoop.fs.Path(
      storeBase.getOrElse(sys.props("java.io.tmpdir")),
      "graft_lex_" + dir.replaceAll("[^A-Za-z0-9.]", "_") +
        "_" + java.lang.Integer.toHexString(dir.hashCode) +
        s"_${fp.getLong(0)}_${fp.getLong(1)}")
    Similarity.publishIndex(spark, store) { tmp =>
      append(spark, tmp, docs.select("doc_id", "text"), "bootstrap")
      // publishIndex keys build-if-absent on <store>/_SUCCESS; the
      // two sub-tables put their markers one level down, so plant the
      // root marker the contract expects
      val fs = store.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.create(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"), true).close()
    }
    store
  }

  /** Per-shard health over the persisted postings (see
    * `Retrieval.lexIndexHealthSql` — the oracle recomputing the same
    * relation from raw documents).  Reads only (doc_id, term, tshard)
    * — column-pruned — and applies the standing replay dedup so a
    * store with replayed appends audits identically. */
  def indexHealth(spark: SparkSession, dir: String): DataFrame =
    indexHealth(spark, dir, None)

  def indexHealth(spark: SparkSession, dir: String,
                  storeBase: Option[String]): DataFrame =
    healthOf(spark, autoStore(spark, dir, storeBase).toString)

  def healthOf(spark: SparkSession, indexPath: String): DataFrame = {
    val posts = spark.read
      .schema("doc_id BIGINT, term STRING, tf BIGINT, ndl BIGINT, tshard BIGINT")
      .parquet(s"$indexPath/postings")
      .select("doc_id", "term", "tshard")
      .dropDuplicates("doc_id", "term")
    // the shared frac/balance fold — ONE definition across the IVF
    // and lexical stores (see Similarity.listHealth)
    Similarity.listHealth(posts, "tshard", "n_posts",
        Seq(countDistinct(col("term")).as("n_terms")))
      .select(col("tshard"), col("n_posts"), col("n_terms"),
        col("frac"), col("balance"))
      .orderBy("tshard")
  }
}
