package graft.ingest

import graft.SparkSuite

/** The append-only side sinks land under a capture-date partition, in
  * parquet (quarantine) and JSON (event summaries) alike. */
class SinkRetentionSpec extends SparkSuite {
  import spark.implicits._

  test("json side sinks get the same dated layout") {
    val today = java.time.LocalDate.now().toString
    val parquet = java.nio.file.Files.createTempDirectory("ret3").toString
    SinkRetention.appendDated(Seq(1L, 2L).toDF("id"), parquet)
    assert(new java.io.File(parquet, s"sink_date=$today").isDirectory)
    assert(spark.read.parquet(parquet).count() == 2)
    val path = java.nio.file.Files.createTempDirectory("ret4").toString
    SinkRetention.appendDated(
      Seq(("HistoricalDataUpdated", "{}")).toDF("event_type", "message"),
      path, format = "json")
    assert(new java.io.File(path, s"sink_date=$today").isDirectory)
    val read = spark.read.json(path)
    assert(read.count() == 1)
    assert(read.columns.contains("sink_date"))
  }
}
