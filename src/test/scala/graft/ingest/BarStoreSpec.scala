package graft.ingest

import java.nio.file.{Files, Paths}
import graft.SparkSuite
import graft.Tables

/** T3 invariant: the keyed merge is idempotent — running the ingest
  * twice leaves the store byte-equal in content to running it once, and
  * a re-ingest of a trailing window only rewrites touched partitions. */
class BarStoreSpec extends SparkSuite {
  import spark.implicits._

  private def canonical() = Canonicalize.canonicalize(
    BarPipeline.barsFromTicks(Tables.events(spark, sf()), "Day"), "Day").get

  test("upsert twice ≡ upsert once (idempotent keyed sink, S4/T3)") {
    val dir = Files.createTempDirectory("barstore").toString + "/bars"
    val bars = canonical()
    BarStore.merge(bars, dir)
    val once = BarStore.read(spark, dir).collect().toSet
    BarStore.merge(bars, dir)
    val twice = BarStore.read(spark, dir).collect().toSet
    assert(once === twice)
    assert(once.nonEmpty)
  }

  test("re-ingest of a trailing window overwrites only touched dates") {
    val dir = Files.createTempDirectory("barstore").toString + "/bars"
    val bars = canonical()
    BarStore.merge(bars, dir)
    val before = BarStore.read(spark, dir).count()
    // trailing-window refetch: last 10 days only (overlapping, T3/T4)
    val trailing = bars.filter($"timestamp" >= "2024-01-21")
    BarStore.merge(trailing, dir)
    val after = BarStore.read(spark, dir)
    // untouched early partitions survive; touched ones are replaced 1:1
    assert(after.count() === before)
    assert(after.filter($"timestamp" < "2024-01-21").count() > 0)
  }

  test("duplicate keys in one batch collapse (dropDuplicates on key)") {
    val dir = Files.createTempDirectory("barstore").toString + "/bars"
    val bars = canonical()
    BarStore.merge(bars.union(bars), dir)
    assert(BarStore.read(spark, dir).count() === bars.count())
  }

  test("a merge leaves the files of untouched date partitions as they were") {
    import org.apache.spark.sql.functions.{col, min}
    val dir = Files.createTempDirectory("barstore").toString + "/bars"
    val bars = canonical()
    BarStore.merge(bars, dir)
    val early = BarStore.read(spark, dir).agg(min($"bar_date")).head.getDate(0)
    val earlyDir = Paths.get(dir, s"bar_date=$early")
    def files = Files.list(earlyDir).toArray.map(_.toString).sorted.toSeq
      .map(f => f -> Files.getLastModifiedTime(Paths.get(f)))
    val before = files
    // a trailing-window update with new closes: dynamic overwrite must
    // rewrite the touched dates only
    val trailing = bars.filter($"timestamp" >= "2024-01-21")
    BarStore.merge(trailing.withColumn("close", col("close") + 1.0), dir)
    assert(files == before)
    val stored = BarStore.read(spark, dir).drop("bar_date")
    assert(stored.count() === bars.count())
    assert(stored.filter($"timestamp" >= "2024-01-21").collect().toSet ==
      trailing.withColumn("close", col("close") + 1.0).collect().toSet)
  }

  test("a root with no bar_date= directory is an absent store: merge " +
      "bootstraps it and GET /snapshot answers 0 bars") {
    import graft.serve.StatusServer
    import graft.streaming.RunStatusListener
    val bars = canonical()
    val expected = bars.collect().toSet
    // a pre-created empty directory, and one that holds only the hidden
    // staging directory of a first write that crashed before commit
    val empty = Files.createTempDirectory("barstore_empty").toString
    val crashed = Files.createTempDirectory("barstore_crashed").toString
    val staged = Files.createDirectories(
      Paths.get(crashed, ".spark-staging-0", "bar_date=2024-01-05"))
    Files.write(staged.resolve("part-00000.parquet"), "partial".getBytes)
    def get(port: Int, path: String) = {
      val resp = java.net.http.HttpClient.newHttpClient().send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:$port$path")).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    }
    Seq(empty, crashed).foreach { dir =>
      val server = new StatusServer(spark, dir, new RunStatusListener)
      val port = server.start()
      try {
        val (code, snap) = get(port, "/snapshot")
        assert(code == 200 && snap.contains("\"bars_count\":0,"), snap)
        assert(get(port, "/summaries") == (200, "{\"summaries\":[]}"))
      } finally server.stop()
      BarStore.merge(bars, dir)
      assert(BarStore.read(spark, dir).drop("bar_date").collect().toSet ==
        expected, dir)
    }
  }
}
