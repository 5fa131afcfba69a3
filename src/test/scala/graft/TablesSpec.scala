package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import graft.ops.RelationCache

/** Pins `Tables.load`'s resolve-once-per-session memo: later loads run
  * no Spark job, every load gets fresh exprIds, a fixture rewritten at
  * the same path is resolved again, a missing table fails exactly as a
  * plain parquet read does, and `RelationCache.clear` invalidates. */
class TablesSpec extends SparkSuite {

  /** Stage names (`<action> at <File>.scala:<line>`) of the Spark jobs
    * `f` launches.  Listener events arrive
    * asynchronously but in order, so a marker job run after `f` fences
    * the count: once the listener has seen it, it has seen every job
    * `f` started. */
  private def jobsDuring(f: => Unit): Seq[String] = {
    val fence = "graft.tablesSpec.fence"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty(fence)))
          .getOrElse(e.stageInfos.map(_.name).mkString(";")))
    }
    val sc = spark.sparkContext
    def mark(tag: String): Unit = {
      sc.setLocalProperty(fence, tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(fence, null)
    }
    sc.addSparkListener(listener)
    try {
      mark("begin")
      f
      mark("end")
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains("end") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains("end"), "listener never saw the fence job")
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq.dropWhile(_ != "begin").drop(1).takeWhile(_ != "end")
  }

  private def writeNations(path: String, names: Seq[String]): Unit = {
    import spark.implicits._
    names.zipWithIndex.map { case (n, i) => (i.toLong, n) }
      .toDF("n_nationkey", "n_name")
      .write.mode("overwrite").parquet(path)
  }

  test("a second load in a session launches no Spark job") {
    Tables.lineitem(spark, sf()).schema
    val jobs = jobsDuring(Tables.lineitem(spark, sf()).schema)
    assert(jobs.isEmpty, jobs)
  }

  test("every load gets fresh exprIds; a self-join matches plain reads") {
    val a = Tables.nation(spark, sf())
    val b = Tables.nation(spark, sf())
    val idsA = a.queryExecution.analyzed.output.map(_.exprId).toSet
    val idsB = b.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(idsA.intersect(idsB).isEmpty)

    def selfJoin(l: org.apache.spark.sql.DataFrame,
                 r: org.apache.spark.sql.DataFrame) =
      l.as("l").join(r.as("r"), col("l.n_regionkey") === col("r.n_regionkey"))
        .select(col("l.n_name").as("a"), col("r.n_name").as("b"))
        .collect().map(_.toString).sorted.toSeq
    val path = s"${sf()}/nation.parquet"
    val viaTables = selfJoin(a, b)
    assert(viaTables.nonEmpty)
    assert(viaTables === selfJoin(spark.read.parquet(path), spark.read.parquet(path)))
  }

  test("a fixture rewritten at the same path is resolved again without clear") {
    val dir = Files.createTempDirectory("tables_stamp").toString
    writeNations(s"$dir/nation.parquet", Seq("A", "B"))
    assert(Tables.nation(spark, dir).count() === 2)
    writeNations(s"$dir/nation.parquet", Seq("C", "D", "E"))
    val names = Tables.nation(spark, dir).collect().map(_.getString(1)).sorted
    assert(names.toSeq === Seq("C", "D", "E"))
  }

  test("a missing table raises the same error class as a plain parquet read") {
    val dir = Files.createTempDirectory("tables_missing").toString
    val plain = intercept[AnalysisException](spark.read.parquet(s"$dir/nation.parquet"))
    val viaTables = intercept[AnalysisException](Tables.nation(spark, dir))
    assert(viaTables.getCondition === plain.getCondition)
    assert(viaTables.getCondition === "PATH_NOT_FOUND")
    // not memoized: once the file exists, the next load reads it
    writeNations(s"$dir/nation.parquet", Seq("A"))
    assert(Tables.nation(spark, dir).count() === 1)
  }

  test("after RelationCache.clear the next load resolves again") {
    Tables.lineitem(spark, sf()).schema
    RelationCache.clear(spark)
    val jobs = jobsDuring(Tables.lineitem(spark, sf()).schema)
    assert(jobs.size === 1, jobs)
    assert(jobs.head.contains("Tables.scala"), jobs)
  }
}
