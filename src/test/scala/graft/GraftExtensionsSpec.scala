package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** `GraftSession.build` is the one way a session gets graft's
  * configuration: with no registration call anywhere, its session —
  * and the cloned session a streaming micro-batch runs in — resolves
  * every graft function, plans the native as-of join and carries the
  * factory's settings. */
class GraftExtensionsSpec extends SparkSuite {
  import spark.implicits._

  private def missingFunctions(s: SparkSession): Seq[String] =
    graft.functions.GraftFunctions.builders.map(_._1).filterNot(name =>
      s.sessionState.functionRegistry.functionExists(FunctionIdentifier(name)))

  test("a withExtensions session gets functions and the asof strategy") {
    assert(missingFunctions(spark).isEmpty)
    val r = spark.sql(
      """SELECT graft_h60('abc') AS h,
        |  graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |  graft_simhash(array('a', 'b')) AS sh,
        |  size(graft_shingles3(array('a', 'b', 'c', 'd'))) AS ns,
        |  size(graft_minhash(array('a b c'))) AS nm
        |""".stripMargin).head()
    assert(r.getAs[Double]("d") == 11.0)
    assert(r.getAs[Int]("ns") == 2)
    assert(r.getAs[Int]("nm") == graft.ops.TextOps.NumPerms)
    assert(spark.sessionState.planner.strategies
      .exists(_.isInstanceOf[graft.plans.AsofJoinStrategy.type]))
    val left = Seq(("A", 5L)).toDF("sym", "ts")
    val right = Seq(("A", 3L, 1.0)).toDF("sym", "rts", "v")
    val plan = graft.ops.Temporal
      .asofJoinNative(left, right, "sym", "ts", "rts")
      .queryExecution.executedPlan.toString
    assert(plan.contains("AsofJoin"), plan.take(800))
  }

  test("every graft function resolves in a foreachBatch batch's session") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    @volatile var seen: Option[(Boolean, Seq[String], Long)] = None
    val q = input.toDF().writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        seen = Some((s ne spark, missingFunctions(s),
          batch.selectExpr("graft_h60(value)").count()))
      }
      .start()
    try {
      input.addData("a", "b")
      q.processAllAvailable()
    } finally q.stop()
    assert(seen == Some((true, Nil, 2L)))
  }

  test("the session excludes InferFiltersFromGenerate and overwrites dynamically") {
    assert(spark.conf.get("spark.sql.optimizer.excludedRules").split(",")
      .contains("org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"))
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode")
      .equalsIgnoreCase("dynamic"))
  }
}
