package graft.ops

import graft.SparkSuite
import org.apache.spark.storage.StorageLevel

/** Session-scoped memo lifecycle: one build per (session, key), one
  * kind per key, deterministic release via clear, and the hot-gram
  * guard count memoized per (posting relation, cap) so repeat cap
  * invocations run zero extra jobs. */
class RelationCacheSpec extends SparkSuite {
  import spark.implicits._

  test("cached memoizes one instance per key and clear releases it") {
    val a = RelationCache.cached(spark, "rc_spec_a") {
      Seq(1, 2, 3).toDF("x")
    }
    val b = RelationCache.cached(spark, "rc_spec_a") {
      fail("build must not run twice for a memoized key")
    }
    assert(a eq b)
    a.count()
    assert(a.storageLevel != StorageLevel.NONE)
    RelationCache.clear(spark)
    assert(a.storageLevel == StorageLevel.NONE, "clear unpersists")
    val rebuilt = RelationCache.cached(spark, "rc_spec_a") {
      Seq(4).toDF("x")
    }
    assert(!(rebuilt eq a), "cleared keys rebuild")
    RelationCache.clear(spark)
  }

  test("cachedScalar memoizes derived values and clear invalidates them") {
    var builds = 0
    def build(): java.lang.Integer = { builds += 1; Integer.valueOf(7) }
    assert(RelationCache.cachedScalar(spark, "rc_scalar")(build()) == 7)
    assert(RelationCache.cachedScalar(spark, "rc_scalar")(build()) == 7)
    assert(builds == 1, "second lookup must not rebuild")
    RelationCache.clear(spark)
    assert(RelationCache.cachedScalar(spark, "rc_scalar")(build()) == 7)
    assert(builds == 2, "clear releases derived scalars too")
    RelationCache.clear(spark)
  }

  test("materialized checkpoints once per key and clear releases the checkpoint") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val a = RelationCache.materialized(spark, "rc_mat")(Seq(1, 2, 3).toDF("x"))
    val b = RelationCache.materialized(spark, "rc_mat") {
      fail("build must not run twice for a memoized key")
    }
    assert(a eq b)
    val backing = sc.getPersistentRDDs.keySet -- before
    assert(backing.nonEmpty, "localCheckpoint persists its backing RDD")
    RelationCache.clear(spark)
    assert((sc.getPersistentRDDs.keySet intersect backing).isEmpty,
      "clear unpersists the checkpoint's backing RDD")
  }

  test("inside withTransparent, materialized neither reads nor writes the memo") {
    RelationCache.clear(spark)
    val raw = RelationCache.withTransparent {
      RelationCache.materialized(spark, "rc_transparent")(Seq(1).toDF("x"))
    }
    assert(RelationCache.peek(spark, "rc_transparent").isEmpty, "no write")
    assert(raw.queryExecution.logical.getClass.getSimpleName != "LogicalRDD",
      "no checkpoint")
    val held = RelationCache.materialized(spark, "rc_transparent") {
      Seq(2).toDF("x")
    }
    val again = RelationCache.withTransparent {
      RelationCache.materialized(spark, "rc_transparent")(Seq(3).toDF("x"))
    }
    assert(!(again eq held), "no read")
    assert(again.as[Int].collect().toSeq == Seq(3))
    RelationCache.clear(spark)
  }

  test("peek of a key never built is None and builds nothing") {
    RelationCache.clear(spark)
    assert(RelationCache.peek(spark, "rc_never").isEmpty)
    assert(RelationCache.peek(spark, "rc_never").isEmpty)
    var built = false
    RelationCache.cached(spark, "rc_never") { built = true; Seq(1).toDF("x") }
    assert(built, "peek left no entry behind")
    RelationCache.clear(spark)
  }

  test("a key held under one kind is refused under another") {
    RelationCache.cached(spark, "rc_kind")(Seq(1).toDF("x"))
    val asMaterialized = intercept[IllegalStateException] {
      RelationCache.materialized(spark, "rc_kind")(Seq(2).toDF("x"))
    }
    assert(asMaterialized.getMessage.contains("held as cached") &&
      asMaterialized.getMessage.contains("asked for as materialized"),
      asMaterialized.getMessage)
    val asScalar = intercept[IllegalStateException] {
      RelationCache.cachedScalar(spark, "rc_kind")("v")
    }
    assert(asScalar.getMessage.contains("asked for as cachedScalar"),
      asScalar.getMessage)
    RelationCache.clear(spark)
  }

  test("capPostings runs the broadcast guard count once per (relation, cap)") {
    val posts = Seq.tabulate(40)(i => (i.toLong, 5L, s"g${i % 4}"))
      .toDF("doc_id", "ng", "gram")
    RelationCache.clear(spark)
    val before = TextOps.hotGuardCounts.get()
    val (cold1, hot1) = TextOps.capPostings(posts, 3)
    assert(TextOps.hotGuardCounts.get() == before + 1)
    cold1.count(); hot1.count()
    // second invocation over the same relation+cap: no new guard job
    val (cold2, hot2) = TextOps.capPostings(posts, 3)
    assert(TextOps.hotGuardCounts.get() == before + 1,
      "the sized hot side is memoized — no second count job")
    cold2.count(); hot2.count()
    // a different cap is a different decision: counts again
    TextOps.capPostings(posts, 5)
    assert(TextOps.hotGuardCounts.get() == before + 2)
    // clearing the memo forces a fresh count (regenerated-relation hook)
    RelationCache.clear(spark)
    TextOps.capPostings(posts, 3)
    assert(TextOps.hotGuardCounts.get() == before + 3)
    RelationCache.clear(spark)
  }

  test("capped results are identical across memoized re-invocations") {
    val posts = Seq.tabulate(60)(i => (i.toLong % 10, 6L, s"w${i % 6}"))
      .toDF("doc_id", "ng", "gram")
    RelationCache.clear(spark)
    val r1 = TextOps.capPostings(posts, 5)._1.collect().map(_.toSeq).toSet
    val r2 = TextOps.capPostings(posts, 5)._1.collect().map(_.toSeq).toSet
    assert(r1 == r2)
    RelationCache.clear(spark)
  }
}
