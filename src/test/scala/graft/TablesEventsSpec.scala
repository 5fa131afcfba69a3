package graft

import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins `Tables.events`' format adaptivity: the driver's fixture
  * generator has shipped `ts` as TIMESTAMP(NANOS) (read as raw Long
  * under the legacy conf) and as TIMESTAMP(MICROS, ntz) across
  * generations, and the loader must surface the SAME TimestampType
  * instants from either file.  The streaming reader shares the
  * contract (StreamingIngest.readEvents probes the file schema), so a
  * regression here silently breaks every events-based query. */
class TablesEventsSpec extends SparkSuite {

  private def writeEvents(dir: String, tsField: StructField,
                          tsValue: Any): Unit = {
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      tsField,
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    val rows = java.util.Arrays.asList(
      Row(1L, tsValue, 10L, "click", 1.5, "{}"))
    spark.createDataFrame(rows, schema)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("nanos-Long and micros-NTZ events files load to identical TimestampType instants") {
    val base = Files.createTempDirectory("events_fmt").toString
    // 2024-01-15T12:00:00.123456Z as nanos since epoch and as NTZ micros
    val micros = java.time.Instant.parse("2024-01-15T12:00:00.123456Z")
    val nanos = micros.getEpochSecond * 1000000000L + micros.getNano

    val nanoDir = s"$base/nano"
    writeEvents(nanoDir, StructField("ts", LongType), nanos)
    val ntzDir = s"$base/ntz"
    writeEvents(ntzDir, StructField("ts", TimestampNTZType),
      java.time.LocalDateTime.ofInstant(micros, java.time.ZoneOffset.UTC))

    val a = Tables.events(spark, nanoDir)
    val b = Tables.events(spark, ntzDir)
    assert(a.schema("ts").dataType === TimestampType)
    assert(b.schema("ts").dataType === TimestampType)
    val ia = a.select(col("ts").cast("long")).head.getLong(0)
    val ib = b.select(col("ts").cast("long")).head.getLong(0)
    assert(ia === ib)
    // full micros precision survives both paths
    val ua = a.select(unix_micros(col("ts"))).head.getLong(0)
    val ub = b.select(unix_micros(col("ts"))).head.getLong(0)
    assert(ua === ub && ua % 1000000L === 123456L)
  }

  /** An events file whose `ts` is a real TIMESTAMP(NANOS) column —
    * Spark cannot write one, so it goes through parquet's own writer. */
  private def writeNanosEvents(dir: String, nanos: Long): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  optional int64 event_id;
        |  optional int64 ts (TIMESTAMP(NANOS,false));
        |  optional int64 user_id;
        |}""".stripMargin)
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", nanos).append("user_id", 10L))
    finally writer.close()
  }

  test("a nanos events load memoized under nanosAsLong=true is not " +
      "served once the session turns the conf off") {
    val dir = Files.createTempDirectory("events_nanos_conf").toString
    val micros = java.time.Instant.parse("2024-01-15T12:00:00.123456Z")
    writeNanosEvents(dir,
      micros.getEpochSecond * 1000000000L + micros.getNano)
    val conf = "spark.sql.legacy.parquet.nanosAsLong"
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType === TimestampType)
    assert(ev.select(unix_micros(col("ts"))).head.getLong(0) % 1000000L ===
      123456L)
    spark.conf.set(conf, "false")
    try {
      val e = intercept[IllegalStateException](Tables.events(spark, dir))
      assert(e.getMessage.contains(
        "must set spark.sql.legacy.parquet.nanosAsLong"), e.getMessage)
    } finally spark.conf.set(conf, "true")
  }

  /** Copy the single part file of a staged write to `dir/events_<n>.parquet`
    * so it matches readEvents' `events*.parquet` leaf-file glob. */
  private def stageFlat(stagedDir: String, dir: String, name: String): Unit = {
    val part = new java.io.File(stagedDir).listFiles()
      .map(_.toString).filter(_.endsWith(".parquet")).head
    java.nio.file.Files.copy(java.nio.file.Paths.get(part),
      java.nio.file.Paths.get(dir, s"$name.parquet"))
  }

  test("readEvents fails fast with an actionable message on a " +
      "misconfigured session") {
    // on a session without the nanos conf the stream would otherwise
    // die at micro-batch time with an opaque Spark nanos error — the
    // guard must fire at stream BUILD time with the fix in the message
    val conf = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(conf, "false")
    try {
      val e = intercept[IllegalArgumentException] {
        streaming.StreamingIngest.readEvents(spark, sf())
      }
      assert(e.getMessage.contains("nanosAsLong"), e.getMessage)
      assert(e.getMessage.contains("GraftSession"), e.getMessage)
    } finally spark.conf.set(conf, "true")
  }

  test("streaming readEvents adapts to the probed file format") {
    val micros = java.time.Instant.parse("2024-02-01T00:30:00.000042Z")
    val nanos = micros.getEpochSecond * 1000000000L + micros.getNano

    val ntzBase = Files.createTempDirectory("events_stream_ntz").toString
    writeEvents(s"$ntzBase/staged", StructField("ts", TimestampNTZType),
      java.time.LocalDateTime.ofInstant(micros, java.time.ZoneOffset.UTC))
    stageFlat(s"$ntzBase/staged/events.parquet", ntzBase, "events_a")
    val stream = streaming.StreamingIngest.readEvents(spark, ntzBase)
    assert(stream.schema("ts").dataType === TimestampType)

    val nanoBase = Files.createTempDirectory("events_stream_nano").toString
    writeEvents(s"$nanoBase/staged", StructField("ts", LongType), nanos)
    stageFlat(s"$nanoBase/staged/events.parquet", nanoBase, "events_b")
    val nanoStream = streaming.StreamingIngest.readEvents(spark, nanoBase)
    assert(nanoStream.schema("ts").dataType === TimestampType)
  }
}
