package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.functions._
import graft.ops.RelationCache

/** Loaders for the driver's parquet fixture tables (TESTDATA.md).
  *
  * Every table is a plain parquet file `{dir}/{name}.parquet`. Loads are
  * declarative parquet scans so Catalyst column pruning and predicate
  * pushdown reach the parquet reader — callers should select/filter
  * directly on the returned DataFrame and let the optimizer prune the
  * scan (verified via `.explain`: `ReadSchema`/`PushedFilters`).
  *
  * Each table is resolved once per session.  Resolving runs
  * `spark.read.parquet`, which lists the files and launches a one-task
  * schema-inference job; the analyzed relation is memoized in
  * `RelationCache.cachedScalar` and every later load is a fresh
  * instance of it: one file-status call for the stamp, no job.
  * The memo key is:
  *
  *  - the qualified path;
  *  - its file stamp: length and mtime for a file, the sorted
  *    (name, length, mtime) of its children for a directory — so a
  *    fixture rewritten at the same path is resolved again, never
  *    served from a stale file listing;
  *  - `spark.sql.legacy.parquet.nanosAsLong`, which changes the
  *    inferred type of a TIMESTAMP(NANOS) column (see [[events]]).
  *
  * `RelationCache.clear` and session shutdown drop the entries.  A
  * missing path is not memoized: the build throws Spark's own
  * PATH_NOT_FOUND error.
  *
  * Every load calls `newInstance()`, which gives the relation's output
  * fresh exprIds.  Without it two loads of one table in one plan (q8's
  * two `nation` roles, any self-join) would share attribute ids and the
  * analyzer could not tell their columns apart. */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(p)
    val nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    val relation = RelationCache.cachedScalar(spark,
        s"table:$qualified|nanosAsLong=$nanos|${stamp(fs, qualified)}") {
      spark.read.parquet(path).queryExecution.analyzed
        .asInstanceOf[MultiInstanceRelation]
    }
    GraftShim.ofRows(spark, relation.newInstance())
  }

  /** Length and mtime of a file, or the sorted (name, length, mtime) of
    * a directory's children; "missing" when the path does not exist. */
  private def stamp(fs: FileSystem, p: Path): String =
    try {
      val st = fs.getFileStatus(p)
      val files = if (st.isDirectory) fs.listStatus(p).toSeq else Seq(st)
      files.map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
        .sorted.mkString(",")
    } catch { case _: java.io.FileNotFoundException => "missing" }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.parquet` has shipped with two `ts` physical types across
    * fixture generations, so the loader adapts to what the file
    * actually stores instead of assuming one:
    *
    *  - TIMESTAMP(NANOS): Spark's parquet reader rejects it outright
    *    unless `spark.sql.legacy.parquet.nanosAsLong=true` surfaces it
    *    as a raw nanos Long (GraftSession/Verify/SparkSuite all set
    *    it).  Truncate to micros with integer division — exactly
    *    DuckDB's nanos→micros truncation; float division would lose
    *    precision above 2^53 ns.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
    *    TIMESTAMP_NTZ; reinterpret the wall-clock as UTC (sessions run
    *    with session.timeZone=UTC) so downstream sees the same
    *    TimestampType instants as the nanos path produced.
    *
    * Either way callers get `ts: TimestampType` at micros precision. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw =
      try load(s, d, "events")
      catch {
        case e: Exception if Option(e.getMessage).exists(_.contains("NANOS")) =>
          throw new IllegalStateException(
            "events.parquet stores TIMESTAMP(NANOS) - the session must set " +
              "spark.sql.legacy.parquet.nanosAsLong=true (GraftSession.build does)", e)
      }
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw // already TimestampType
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
