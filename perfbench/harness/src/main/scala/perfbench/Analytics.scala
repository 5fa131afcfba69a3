package perfbench

import com.fasterxml.jackson.databind.JsonNode
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import graft.SparkEntry

/** Closed-loop analytics: one client runs one registered query at a
  * time, in a seeded permutation per pass.
  *
  * Phases: `setups` timed session builds; the shared builds the
  * queries consume (`SparkEntry.builds`); one cold pass whose results
  * are written out for the oracle check; then measured passes until
  * `seconds` have elapsed.  A query's latency runs from calling its
  * `SparkEntry.queries` function to holding the collected rows.  In a
  * traced run every second measured pass is traced, so the untraced
  * passes in between price the tracing. */
object Analytics {
  def run(cfg: JsonNode, out: String): Unit = {
    val queries = Json.strings(cfg.get("queries"))
    // the shared builds the chosen queries consume, by the registry's
    // own consumer predicates
    val builds = SparkEntry.builds.keys.toSeq.sorted
      .filter(b => queries.exists(SparkEntry.buildConsumers(b)))
    val fixture = cfg.get("fixture").asText()
    val seconds = cfg.get("seconds").asDouble()
    val seed = cfg.get("seed").asLong()
    val traced = cfg.get("trace").asBoolean()
    val cores = cfg.get("cores").asInt()
    val entries = SparkEntry.queries
    val missing = queries.filterNot(entries.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")

    // set-up: session plus one trivial job, so the scheduler is live
    val (spark, _, setupS) =
      Main.setUp(cores, cfg.get("setups").asInt(), _.range(1).collect())
    val trace = new Trace
    if (traced) trace.install(spark)

    val buildS = builds.map { b =>
      val t0 = System.nanoTime()
      SparkEntry.builds(b)(spark, fixture)
      b -> (System.nanoTime() - t0) / 1e9
    }

    val expected = scala.collection.mutable.Map.empty[String, String]
    val errors = ArrayBuffer.empty[Map[String, Any]]
    val cold = ArrayBuffer.empty[Map[String, Any]]
    new scala.util.Random(seed).shuffle(queries).foreach { q =>
      val t0 = System.nanoTime()
      try {
        val df = entries(q)(spark, fixture)
        val rows = df.collect()
        cold += Map("query" -> q, "s" -> (System.nanoTime() - t0) / 1e9,
          "rows" -> rows.length)
        expected(q) = Main.fingerprint(rows)
        spark.createDataFrame(rows.toList.asJava, df.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/results/$q")
      } catch {
        case e: Exception =>
          errors += Map("query" -> q, "phase" -> "cold", "error" -> e.toString)
      }
    }

    val ops = ArrayBuffer.empty[Map[String, Any]]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    // a traced run brackets a traced pass with untraced ones
    val minPasses = if (traced) 3 else 1
    val t0 = System.nanoTime()
    var pass = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || pass < minPasses) {
      pass += 1
      val tracedPass = traced && pass % 2 == 0
      trace.enabled = tracedPass
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
      val p0 = System.nanoTime()
      order.foreach { q =>
        val q0 = System.nanoTime()
        var q1 = q0
        val result =
          try {
            val rows = trace.span(spark, q, "query") {
              val df = trace.span(spark, "construct", "ops")(entries(q)(spark, fixture))
              q1 = System.nanoTime()
              trace.span(spark, "collect", "exec")(df.collect())
            }
            Right(rows)
          } catch { case e: Exception => Left(e.toString) }
        val q2 = System.nanoTime()
        val ok = result.exists(rows => expected.get(q).contains(Main.fingerprint(rows)))
        result.left.foreach(e =>
          errors += Map("query" -> q, "phase" -> "measured", "error" -> e))
        if (result.isRight && !ok)
          errors += Map("query" -> q, "phase" -> "measured",
            "error" -> "result differs from the cold pass")
        ops += Map("query" -> q, "pass" -> pass, "traced" -> tracedPass,
          "construct_s" -> (q1 - q0) / 1e9, "collect_s" -> (q2 - q1) / 1e9,
          "s" -> (q2 - q0) / 1e9, "ok" -> ok,
          "rows" -> result.map(_.length).getOrElse(0))
      }
      passes += Map("pass" -> pass, "traced" -> tracedPass,
        "s" -> (System.nanoTime() - p0) / 1e9)
    }
    trace.enabled = false
    Main.writeFile(s"$out/result.json", Json.write(Map(
      "provenance" -> Main.provenance(spark, cores),
      "setup_s" -> setupS, "builds" -> buildS.toMap, "cold" -> cold,
      "ops" -> ops, "passes" -> passes,
      "cache_mb" -> Main.storageMb(spark), "errors" -> errors)))
    if (traced) { trace.uninstall(spark); trace.dump(out) }
    spark.stop()
  }
}
