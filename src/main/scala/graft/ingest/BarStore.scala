package graft.ingest

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.ReentrantReadWriteLock
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** S4: keyed idempotent upsert sink, without Delta (SURVEY.md §7.3).
  *
  * The reference upserts each bar under a deterministic composite doc
  * id with merge=True, making re-runs no-ops (`app/alpaca_service.py:
  * 183-230`).  The Spark-native equivalent: dedup on the logical key,
  * then dynamic-partition-overwrite parquet partitioned by bar date —
  * re-ingesting a trailing window rewrites exactly the touched date
  * partitions and leaves the rest of the table alone.
  *
  * Scale design: the table is partitioned by `bar_date` (and the data
  * within by symbol via the repartition), so a 30-day trailing
  * re-ingest over years of history touches 30 partitions regardless of
  * total table size; readers get partition pruning on date predicates
  * for free.  `repartition(bar_date)` keeps one writer task per date
  * partition — no small-file explosion from N tasks × M partitions.
  *
  * `merge` is the one write.  It holds its path's write lock, and
  * in-process readers (`StatusServer`) read under `reading`, so no
  * reader in this JVM lists a partition that the dynamic overwrite is
  * replacing.  Readers in other processes get no such guarantee. */
object BarStore {
  val key: Seq[String] = Seq("symbol", "bar_key")

  private val locks = new ConcurrentHashMap[String, ReentrantReadWriteLock]()

  private def rootOf(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    (fs, fs.makeQualified(p))
  }

  private def lockOf(spark: SparkSession, path: String): ReentrantReadWriteLock =
    locks.computeIfAbsent(rootOf(spark, path)._2.toString,
      _ => new ReentrantReadWriteLock())

  /** Run `body` under the read lock of the store at `path`: no `merge`
    * in this JVM rewrites that store while `body` runs. */
  def reading[T](spark: SparkSession, path: String)(body: => T): T = {
    val lock = lockOf(spark, path).readLock()
    lock.lock()
    try body finally lock.unlock()
  }

  /** Whether `path` holds a store.  A root with no `bar_date=`
    * directory is absent: a missing path, a pre-created empty
    * directory, and one that holds only the hidden staging directory
    * of a first write that crashed before commit.  One listing of the
    * root, resolved through Hadoop's FileSystem (java.io.File is false
    * for every non-local URI); no recursion and no Spark job. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, root) = rootOf(spark, path)
    Option(fs.globStatus(new Path(root, "bar_date=*")))
      .exists(_.exists(_.isDirectory))
  }

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** S3: idempotent seed/bootstrap writer — create the table only when
    * absent, a no-op otherwise (the reference checks `get().exists`
    * before `set`, `scripts/seed_firestore.py:17-44`; SaveMode.Ignore
    * is the Spark-native equivalent). */
  def seed(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Ignore).parquet(path)

  /** Key-level MERGE: a batch that carries only some keys of a date
    * partition must not clobber the rest of that partition.  Pattern:
    * read back only the touched date partitions (partition pruning —
    * bounded work however large the table), union with the new batch,
    * keep the newest version of each key, rewrite just those
    * partitions via dynamic overwrite.  `localCheckpoint` truncates
    * the read lineage so Spark permits overwriting the path being
    * read.  (A transactional table format would do this natively; this
    * is the no-Delta equivalent, SURVEY.md §7.3.)  Into an absent
    * store (see `exists`) it is the first write.
    *
    * Two jobs besides the read-back: one aggregate collects the touched
    * dates, and the write runs one exchange.  The union is hash-
    * partitioned on `bar_date` and then grouped on (bar_date, symbol,
    * bar_key), which that partitioning satisfies, so the grouping adds
    * no shuffle and each date is written by one task (one file).  The
    * grouping equals grouping on `key`: `bar_date = to_date(timestamp)`
    * and `bar_key` fixes `timestamp` to the second.  `max_by(…, pri)`
    * keeps the batch's row over the stored one; two rows of one key in
    * the batch tie, and one of them wins whole. */
  def merge(bars: DataFrame, path: String): Unit = {
    val spark = bars.sparkSession
    val lock = lockOf(spark, path).writeLock()
    lock.lock()
    try {
      if (!exists(spark, path)) firstWrite(bars, path)
      else {
        val touched = bars.agg(collect_set(to_date(col("timestamp"))))
          .head().getSeq[Any](0).toSeq // small: one value per touched date
        val existing = read(spark, path)
          .filter(col("bar_date").isin(touched: _*))
          .localCheckpoint(true)
        val dated = bars.withColumn("bar_date", to_date(col("timestamp")))
        val groupKey = "bar_date" +: key
        writeDates(dated.withColumn("pri", lit(1))
          .unionByName(existing.withColumn("pri", lit(0))
            .select(dated.columns.map(col).toIndexedSeq :+ col("pri"): _*))
          .repartition(col("bar_date"))
          .groupBy(groupKey.map(col): _*)
          .agg(max_by(struct(dated.columns.filterNot(groupKey.contains)
            .map(col).toIndexedSeq: _*), col("pri")).as("r"))
          .select(dated.columns.toIndexedSeq.map(c =>
            if (groupKey.contains(c)) col(c) else col(s"r.$c").as(c)): _*),
          path)
      }
    } finally lock.unlock()
  }

  /** The first write: keep one row per key.  One exchange:
    * `repartition(bar_date)` hash-partitions on the date, which already
    * satisfies the dedup's grouping on (bar_date, symbol, bar_key), so
    * no second shuffle is planned, and each date lands in one task (one
    * file). */
  private def firstWrite(bars: DataFrame, path: String): Unit =
    writeDates(bars.withColumn("bar_date", to_date(col("timestamp")))
      .repartition(col("bar_date"))
      .dropDuplicates("bar_date" +: key), path)

  /** Overwrite the `bar_date` partitions present in `dated` with its
    * rows, leaving every other partition alone. */
  private def writeDates(dated: DataFrame, path: String): Unit =
    graft.GraftSession.withConf(dated.sparkSession,
        "spark.sql.sources.partitionOverwriteMode", "dynamic") {
      dated.write.partitionBy("bar_date").mode(SaveMode.Overwrite)
        .parquet(path)
    }
}
