package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Row, SparkSession}
import graft.{GraftSession, SparkEntry}

/** Benchmark harness for graft, started by `perfbench/run.py`.
  *
  * Usage: perfbench.Main <config.json>...
  *
  * A config names a mode — `analytics` (closed-loop registered
  * queries), `ingest` (scheduled `Serve.runOnce` runs under status
  * traffic) or `oracle` (dump `SparkEntry.oracleSql`) — plus the
  * workload's parameters and an output directory.  Several configs run
  * in turn in one JVM: that is the build's warm-up, whose loaded classes
  * `run.py` archives for every later run.  The harness only measures and
  * records; `run.py` computes the metrics and checks the results. */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: perfbench.Main <config.json>...")
    args.foreach(a => run(Json.parse(new String(Files.readAllBytes(Paths.get(a)), "UTF-8"))))
  }

  private def run(cfg: com.fasterxml.jackson.databind.JsonNode): Unit = {
    val out = cfg.get("out").asText()
    Files.createDirectories(Paths.get(out))
    cfg.get("mode").asText() match {
      case "analytics" => Analytics.run(cfg, out)
      case "ingest" => Ingest.run(cfg, out)
      case "oracle" => writeFile(s"$out/oracle.json", Json.write(
        SparkEntry.oracleSql.toSeq.sortBy(_._1).toMap))
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
  }

  def writeFile(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes("UTF-8"))

  /** Build `setups` sessions in a row, timing each session build plus
    * `prepare(session)`; all but the last are torn down and stopped
    * again (untimed).  Returns the last session, its prepared state and
    * the per-setup seconds. */
  def setUp[T](cores: Int, setups: Int, prepare: SparkSession => T,
      teardown: T => Unit = (_: T) => ()): (SparkSession, T, Seq[Double]) = {
    var last: (SparkSession, T) = null
    val times = (1 to setups).map { i =>
      val t0 = System.nanoTime()
      val spark = GraftSession.build("perfbench", cores)
      val state = prepare(spark)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < setups) { teardown(state); spark.stop() }
      else last = (spark, state)
      dt
    }
    (last._1, last._2, times)
  }

  def provenance(spark: SparkSession, cores: Int): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "spark_cores" -> cores,
    "spark_master" -> spark.sparkContext.master,
    "heap_mb" -> Runtime.getRuntime.maxMemory() / (1L << 20),
    "spark_version" -> spark.version,
    "jdk_version" -> System.getProperty("java.version"),
    "jdk_vendor" -> System.getProperty("java.vendor"))

  /** MB held by cached and checkpointed relations right now. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** Order-insensitive fingerprint of a result: doubles at nine
    * significant digits, rows sorted — stable across re-executions
    * that only reorder rows or float additions. */
  def fingerprint(rows: Array[Row]): String = {
    def canon(v: Any): String = v match {
      case null => "null"
      case d: Double =>
        if (d.isNaN) "NaN" else if (d.isInfinite) d.toString
        else BigDecimal(d).round(new java.math.MathContext(9)).bigDecimal
          .stripTrailingZeros.toPlainString
      case f: Float => canon(f.toDouble)
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }
          .sorted.mkString("{", ",", "}")
      case xs: Iterable[_] => xs.map(canon).mkString("[", ",", "]")
      case b: Array[Byte] => b.mkString("b[", ",", "]")
      case other => other.toString
    }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(r => r.toSeq.map(canon).mkString("|")).sorted
      .foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
