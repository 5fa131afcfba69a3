package graft.ops

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped memo for cached derived relations (SimHash pair
  * graph, MinHash gram/signature tables, normalized embeddings), for
  * small driver-side values derived from them (codebooks, split ids)
  * and for the resolved fixture relations `graft.Tables` serves.
  *
  * Why not rely on Spark's CacheManager alone: every call that builds
  * the same plan and `.cache()`s it again creates a fresh DataFrame,
  * triggers an "Asked to cache already cached data" warning, and —
  * for relations built through non-deterministic-looking expressions
  * — can pin duplicate cache entries for the life of the session.
  * Memoizing the DataFrame itself makes the reuse explicit: one
  * `.cache()` per (session, key), every consumer shares the same
  * instance, and `clear` gives tests/benchmarks a deterministic
  * unpersist point.
  *
  * Lifecycle: the map holds strong references to the sessions it has
  * seen, bounded by the O(1) sessions a bench/verify/test JVM creates;
  * a shutdown listener (registered once per session) releases every
  * entry — this memo's and `TextOps`'s hot-gram memo — when the
  * session's SparkContext stops, so an embedding process that starts
  * and stops engines repeatedly does not accumulate dead entries.
  * Weak-keyed maps cannot do this job: the cached DataFrames reference
  * their session, so a value→key strong cycle would keep every entry
  * alive anyway. */
object RelationCache {

  private val memo = new ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private val scalars = new ConcurrentHashMap[(SparkSession, String), AnyRef]()
  private val hooked = ConcurrentHashMap.newKeySet[SparkSession]()

  /** Register (once per session) a context listener that releases the
    * session's memoized relations when the context shuts down. */
  private[ops] def hookShutdown(spark: SparkSession): Unit =
    if (hooked.add(spark))
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          // unpersist during shutdown is best-effort: the block manager
          // may already be gone; the map entries must drop regardless
          try clear(spark) catch { case _: Throwable => forget(spark) }
          try TextOps.clearHotMemo(spark) catch { case _: Throwable => () }
          hooked.remove(spark)
        }
      })

  /** Return the memoized cached relation for `key`, building and
    * `.cache()`-ing it on first use in this session.
    *
    * Deliberately NOT computeIfAbsent: a build function that itself
    * memoizes a child relation (pairs → sig) would re-enter the map
    * mid-update, which ConcurrentHashMap forbids (IllegalStateException
    * "Recursive update" when the keys share a bin).  get-then-putIfAbsent
    * tolerates reentrancy; a lost race leaves a harmless duplicate
    * cache() call (the CacheManager dedupes storage by plan — do not
    * unpersist the loser, that would evict the shared entry). */
  def cached(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    hookShutdown(spark)
    val k = (spark, key)
    val existing = memo.get(k)
    if (existing != null) existing
    else {
      val df = build.cache()
      val prev = memo.putIfAbsent(k, df)
      if (prev != null) prev else df
    }
  }

  /** Non-building lookup: the cached relation for `key` if THIS session
    * already built it, else None.  For derive-from-superset shortcuts —
    * a consumer whose relation is a semantics-preserving restriction of
    * an already-cached one (e.g. the sampled hybrid ground truth vs the
    * full rank relation, per-query independent) can serve from the
    * superset when present and fall back to its own bounded build when
    * not (the scale path, where the superset query is excluded). */
  def peek(spark: SparkSession, key: String): Option[DataFrame] =
    Option(memo.get((spark, key)))

  /** [[cached]] with LINEAGE TRUNCATION (`localCheckpoint`, eager) —
    * for RESULT-SIZED relations (rank/serve/truth tables, ≤ |Q|·k
    * rows) whose build plans are enormous (unrolled SQL chains,
    * thousands of literal hyperplane weights).  A plain `.cache()`
    * makes EXECUTION free on re-use but every downstream action still
    * re-analyzes the full logical plan on the driver — measured
    * 1.7 s warm for `sim_hybrid_rrf`'s fuse over two already-cached
    * rank relations, ~0.1 s once truncated (the knn-graph stages hit
    * the same wall first: PLANS_r15.md).  Truncation trades plan
    * re-derivability for an RDD-backed LogicalRDD, which is exactly
    * right for small deterministic results consumed by several
    * queries; keep big INTERMEDIATES on [[cached]] so storage stays
    * spillable and lazy. */
  def materialized(spark: SparkSession, key: String)
      (build: => DataFrame): DataFrame =
    if (transparent.value) build
    else {
      hookShutdown(spark)
      val k = (spark, key)
      val existing = memo.get(k)
      if (existing != null) existing
      else {
        val df = build.localCheckpoint()
        // remember the checkpoint's backing RDD: Dataset.unpersist on
        // a LogicalRDD only touches the CacheManager, so without this
        // clear() would leave the checkpoint blocks to ContextCleaner
        // GC (ADVICE r15).  Reflection because LogicalRDD is
        // private[sql]; best-effort — a miss only delays the release.
        try {
          val plan = df.queryExecution.logical
          if (plan.getClass.getSimpleName == "LogicalRDD") {
            val rdd = plan.getClass.getMethod("rdd").invoke(plan)
              .asInstanceOf[org.apache.spark.rdd.RDD[_]]
            checkpointRdds.put(k, rdd)
          }
        } catch { case _: Throwable => () }
        val prev = memo.putIfAbsent(k, df)
        if (prev != null) prev else df
      }
    }

  /** Plan-transparency seam for PLAN-SHAPE specs: [[materialized]]'s
    * checkpoint truncates lineage to a `Scan ExistingRDD`, which hides
    * the build plan the shape assertions exist to pin (partition
    * pruning, broadcast anti-joins, filter placement).  Inside
    * `withTransparent`, `materialized` returns the RAW build — no
    * memo read or write, no checkpoint — so a spec sees exactly the
    * plan production builds on first use.  Never used outside tests.
    * Thread-scoped (ADVICE r15): a concurrent `materialized` call on
    * another thread keeps its memo semantics during the window. */
  private val transparent = new scala.util.DynamicVariable[Boolean](false)
  def withTransparent[T](f: => T): T = transparent.withValue(true)(f)

  /** Backing RDDs of localCheckpoint'd memo entries, released in
    * [[clear]] alongside the Dataset-level unpersist. */
  private val checkpointRdds =
    new ConcurrentHashMap[(SparkSession, String), org.apache.spark.rdd.RDD[_]]()

  /** Session-scoped memo for small driver-side values DERIVED from the
    * cached relations (trained k-means codebooks, …) and for the
    * resolved fixture relations of `graft.Tables.load` (an analyzed
    * parquet `LogicalRelation`, no cached data), released by the
    * same `clear` / shutdown paths as the relations themselves — so
    * the documented refresh hook for a regenerated dataset (`clear`)
    * also invalidates derived scalar state instead of leaving a stale
    * codebook behind a fresh relation.  A build that throws memoizes
    * nothing. */
  def cachedScalar[T <: AnyRef](spark: SparkSession, key: String)
      (build: => T): T = {
    hookShutdown(spark)
    val k = (spark, key)
    val existing = scalars.get(k)
    if (existing != null) existing.asInstanceOf[T]
    else {
      val v = build
      val prev = scalars.putIfAbsent(k, v)
      (if (prev != null) prev else v).asInstanceOf[T]
    }
  }

  private val tokens = new java.util.IdentityHashMap[DataFrame, java.lang.Long]()
  private val tokenSeq = new java.util.concurrent.atomic.AtomicLong()

  /** A session-lifetime UNIQUE token for a relation instance — the
    * safe replacement for `System.identityHashCode` in memo keys.
    * Identity hashes are not unique: after a relation is dropped, a
    * new object can land on the dead object's hash and silently
    * inherit whatever the old key memoized (ADVICE r13: a regenerated
    * dataset serving a stale store fingerprint).  Tokens are handed
    * out monotonically and never reused, so two distinct relation
    * instances can never share a key; entries drop with the same
    * `clear`/shutdown paths as everything else here. */
  def instanceToken(df: DataFrame): Long = tokens.synchronized {
    val t = tokens.get(df)
    if (t != null) t
    else { val v = tokenSeq.incrementAndGet(); tokens.put(df, v); v }
  }

  /** Unpersist and forget every relation (and derived scalar)
    * memoized for `spark`. */
  def clear(spark: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    memo.keySet.asScala.filter(_._1 eq spark).toSeq.foreach { k =>
      Option(memo.remove(k)).foreach(_.unpersist())
      // checkpointed entries: also release the backing RDD's blocks
      // (Dataset.unpersist above only clears the CacheManager entry)
      Option(checkpointRdds.remove(k))
        .foreach(r => try r.unpersist(blocking = false)
          catch { case _: Throwable => () })
    }
    scalars.keySet.asScala.filter(_._1 eq spark).toSeq.foreach(scalars.remove)
    tokens.synchronized {
      tokens.keySet.removeIf(df => df.sparkSession eq spark)
    }
  }

  /** Drop the entries without touching storage (shutdown fallback). */
  private def forget(spark: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    memo.keySet.asScala.filter(_._1 eq spark).toSeq.foreach(memo.remove)
    checkpointRdds.keySet.asScala.filter(_._1 eq spark).toSeq
      .foreach(checkpointRdds.remove)
    scalars.keySet.asScala.filter(_._1 eq spark).toSeq.foreach(scalars.remove)
    tokens.synchronized {
      tokens.keySet.removeIf(df => df.sparkSession eq spark)
    }
  }
}
