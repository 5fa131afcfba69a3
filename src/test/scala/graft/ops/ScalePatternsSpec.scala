package graft.ops

import graft.{GraftSession, SparkSuite, Tables}
import org.apache.spark.sql.functions._

class ScalePatternsSpec extends SparkSuite {

  test("bucketed co-located join plans with zero shuffle") {
    GraftSession.withConf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1") {
      try {
        ScalePatterns.writeBucketed(
          Tables.orders(spark, sf()).select("o_orderkey", "o_custkey", "o_totalprice"),
          "b_orders", 8, Seq("o_orderkey"))
        ScalePatterns.writeBucketed(
          Tables.lineitem(spark, sf())
            .select(col("l_orderkey").as("o_orderkey"), col("l_quantity")),
          "b_lineitem", 8, Seq("o_orderkey"))
        val joined = ScalePatterns.coLocatedJoin(spark, "b_orders", "b_lineitem", "o_orderkey")
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
        // and it is correct
        val expect = Tables.orders(spark, sf()).select("o_orderkey")
          .join(Tables.lineitem(spark, sf())
            .select(col("l_orderkey").as("o_orderkey")), "o_orderkey").count()
        assert(joined.count() == expect)
      } finally {
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
      }
    }
  }

  test("salted aggregation equals direct aggregation") {
    val li = Tables.lineitem(spark, sf())
    val salted = ScalePatterns.saltedSumCount(li, "l_returnflag", "l_quantity", 16)
      .orderBy("l_returnflag").collect()
      .map(r => (r.getString(0), r.getLong(1),
        math.round(r.getDouble(2) * 100) / 100.0))
    val direct = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum("l_quantity").as("s"))
      .orderBy("l_returnflag").collect()
      .map(r => (r.getString(0), r.getLong(1),
        math.round(r.getDouble(2) * 100) / 100.0))
    assert(salted.toSeq == direct.toSeq)
  }

  test("skew report invariants: shares bound each other consistently") {
    val rows = ScalePatterns.qSkewReport(spark, sf()).collect()
    assert(rows.length == 10)
    val counts = rows.map(_.getAs[Long]("key_count"))
    assert(counts.sameElements(counts.sortBy(-_)), "top keys ordered")
    val maxPc = rows.head.getAs[Long]("max_part_count")
    // the partition holding the heaviest key weighs at least that key
    assert(maxPc >= counts.head)
    rows.foreach { r =>
      // a 32-way split's heaviest partition carries >= 1/32 of rows
      assert(r.getAs[Double]("max_part_share") >= 1.0 / 32 - 1e-9)
      assert(r.getAs[Double]("part_imbalance") >= 1.0 - 1e-9)
      assert(r.getAs[Double]("key_share") > 0.0)
    }
  }
}
