package graft.ingest

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
  */
object BarStore {
  val key: Seq[String] = Seq("symbol", "bar_key")

  /** Dynamic overwrite of the date partitions `bars` touches, keeping
    * one row per key.  One exchange: `repartition(bar_date)` hash-
    * partitions on the date, which already satisfies the dedup's
    * grouping on (bar_date, symbol, bar_key), so no second shuffle is
    * planned, and each date lands in one task (one file).  Grouping on
    * (bar_date +: key) is grouping on `key`: `bar_key` fixes the
    * timestamp to the second, so a key has one `bar_date`. */
  def upsert(bars: DataFrame, path: String): Unit =
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

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** S3: idempotent seed/bootstrap writer — create the table only when
    * absent, a no-op otherwise (the reference checks `get().exists`
    * before `set`, `scripts/seed_firestore.py:17-44`; SaveMode.Ignore
    * is the Spark-native equivalent). */
  def seed(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Ignore).parquet(path)

  /** Key-level MERGE for incremental/streaming updates: a batch that
    * carries only some keys of a date partition must not clobber the
    * rest of that partition.  Pattern: read back only the touched date
    * partitions (partition pruning — bounded work however large the
    * table), union with the new batch, keep the newest version of each
    * key, rewrite just those partitions via dynamic overwrite.
    * `localCheckpoint` truncates the read lineage so Spark permits
    * overwriting the path being read.  (A transactional table format
    * would do this natively; this is the no-Delta equivalent,
    * SURVEY.md §7.3.)
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
    // Resolve through Hadoop's FileSystem — java.io.File is always
    // false for non-local URIs (hdfs://, s3a://), which would silently
    // degrade every merge to a key-clobbering upsert on such storage.
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) { upsert(bars, path); return }
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

  // ---------------------------------------------------------------
  // Store lifecycle: retention + small-file compaction.  A years-deep
  // bar_date= table otherwise accumulates partitions and files forever
  // — every trailing-window re-ingest rewrites 30 partitions with one
  // file per date, but bootstrap loads, merges, and streaming appends
  // leave historical partitions fragmented, and nothing ever expires.
  // ---------------------------------------------------------------

  private val DatePartRx = "^bar_date=(\\d{4}-\\d{2}-\\d{2})$".r
  private def fsOf(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Live `bar_date=` partition dirs under the table root, with their
    * date, paired with (fileCount, totalBytes). */
  private def datePartitions(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path)
      : Seq[(java.sql.Date, org.apache.hadoop.fs.Path, Int, Long)] = {
    val dirs = Option(fs.listStatus(root)).getOrElse(Array.empty)
    dirs.toSeq.filter(_.isDirectory).flatMap { d =>
      DatePartRx.findFirstMatchIn(d.getPath.getName).map { m =>
        val files = fs.listStatus(d.getPath)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_")
            && !f.getPath.getName.startsWith("."))
        (java.sql.Date.valueOf(m.group(1)), d.getPath,
          files.length, files.map(_.getLen).sum)
      }
    }
  }

  /** Retention vacuum: drop every `bar_date=` partition strictly older
    * than `olderThan`.  A whole-directory delete per expired date —
    * bounded by the number of expired partitions, never by table size
    * — and idempotent: a re-run after a crash deletes whatever
    * remains.  Readers pruning on `bar_date >= olderThan` (the normal
    * query shape once retention is declared) never touch the deleted
    * dirs; an unpruned reader racing the vacuum has the same
    * semantics as racing any partition overwrite (S4's existing
    * contract).  Returns the dropped partition names. */
  def vacuum(spark: SparkSession, path: String,
             olderThan: java.sql.Date): Seq[String] = {
    val (fs, root) = fsOf(spark, path)
    if (!fs.exists(root)) return Seq.empty
    restoreCrashedSwaps(fs, root)
    datePartitions(fs, root)
      .filter { case (d, _, _, _) => d.before(olderThan) }
      .sortBy(_._1.toString)
      .map { case (_, dir, _, _) => fs.delete(dir, true); dir.getName }
  }

  /** Bin-pack compaction of settled partitions: every `bar_date=` dir
    * strictly older than `olderThan` whose file count exceeds
    * ceil(bytes / targetBytes) is rewritten into exactly that many
    * files.  Content is untouched (read-equivalence is spec-pinned);
    * only the file layout changes, so scans of deep history stop
    * paying per-file open/footer costs — the difference between
    * 30 000 tiny files and 300 right-sized ones at year depth.
    *
    * Consistency discipline (the publishIndex pattern, per-partition):
    * the compacted copy is built in a hidden `_compact_tmp_*` sibling
    * (Spark readers ignore `_`/`.`-prefixed dirs, so a half-built copy
    * is invisible), then swapped in two renames via a hidden
    * `_compact_trash_*` dir, then the trash is deleted.  Each rename is
    * atomic; the only crash window leaves the partition parked in
    * trash, and every lifecycle entry point first calls
    * `restoreCrashedSwaps`, which renames such orphans back — so a
    * crashed compaction heals on the next run (idempotent-store
    * contract, the same self-repair shape as the reference's
    * merge=True re-ingest).  Single writer per table, like all S4
    * writes.
    *
    * Reader-visibility caveat: the swap is two renames, so a reader
    * listing the table in the instant between rename(dir->trash) and
    * rename(tmp->dir) sees NEITHER copy of that partition — a
    * transient-missing window (never mixed or doubled rows, but
    * possibly absent ones).  The window is two filesystem metadata
    * ops wide and only touches partitions older than `olderThan`,
    * i.e. settled history.  A plain parquet directory has no
    * manifest, so this cannot be closed without doubling rows
    * instead (copy-in-then-delete) or changing the read path;
    * readers that must never observe a missing settled partition
    * should read through a snapshot/manifest store — the versioned
    * marker-swap layout used by `Similarity.publishIndex` and its
    * compactor, where every swap is one atomic marker write.
    *
    * Returns (partition, filesBefore, filesAfter) for each rewrite. */
  def compactDates(spark: SparkSession, path: String,
                   olderThan: java.sql.Date,
                   targetBytes: Long = 128L * 1024 * 1024)
      : Seq[(String, Int, Int)] =
    compactDates(spark, path, olderThan, targetBytes, () => ())

  /** Test seam: `onAfterPark` runs INSIDE the transient-missing window
    * — after rename(dir→trash), before rename(tmp→dir) — so the
    * interleave spec can pin exactly what a concurrent reader observes
    * there (the partition absent; never mixed or doubled rows). */
  private[graft] def compactDates(spark: SparkSession, path: String,
      olderThan: java.sql.Date, targetBytes: Long,
      onAfterPark: () => Unit): Seq[(String, Int, Int)] = {
    import org.apache.hadoop.fs.Path
    require(targetBytes > 0, "targetBytes must be positive")
    val (fs, root) = fsOf(spark, path)
    if (!fs.exists(root)) return Seq.empty
    restoreCrashedSwaps(fs, root)
    sweepStaleTmp(fs, root)
    datePartitions(fs, root)
      .filter { case (d, _, nFiles, bytes) =>
        d.before(olderThan) && nFiles > targetFiles(bytes, targetBytes) }
      .sortBy(_._1.toString)
      .map { case (_, dir, nFiles, bytes) =>
        val n = targetFiles(bytes, targetBytes)
        val uuid = java.util.UUID.randomUUID().toString
        val tmp = new Path(root, s"_compact_tmp_${dateName(dir)}_$uuid")
        // partition-dir files don't carry bar_date; read/write them raw
        spark.read.parquet(dir.toString)
          .coalesce(n)
          .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        val trash = new Path(root, s"_compact_trash_${dateName(dir)}_$uuid")
        if (!fs.rename(dir, trash))
          throw new java.io.IOException(s"cannot park $dir for swap")
        onAfterPark()
        if (!fs.rename(tmp, dir)) { // restore rather than lose the data
          fs.rename(trash, dir)
          throw new java.io.IOException(s"cannot publish compacted $dir")
        }
        fs.delete(trash, true)
        (dir.getName, nFiles, n)
      }
  }

  private def targetFiles(bytes: Long, targetBytes: Long): Int =
    math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt

  /** Hidden-sibling name component for a partition dir: the bare date,
    * WITHOUT the `bar_date=` prefix — Spark treats `_`-prefixed dirs
    * whose name contains `=` as partition data, so an `=` here would
    * un-hide the tmp/trash dirs from readers. */
  private def dateName(dir: org.apache.hadoop.fs.Path): String =
    dir.getName.stripPrefix("bar_date=")

  /** Heal the compaction crash window: a `_compact_trash_<part>_*` dir
    * whose live partition is ABSENT means the writer died between the
    * two swap renames — rename the parked copy back.  If the live
    * partition exists (crash after publish, before trash delete), the
    * trash is a superseded copy: delete it. */
  private def restoreCrashedSwaps(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    import org.apache.hadoop.fs.Path
    val trash = Option(fs.globStatus(new Path(root, "_compact_trash_*")))
      .getOrElse(Array.empty)
    trash.foreach { t =>
      "^_compact_trash_(\\d{4}-\\d{2}-\\d{2})_".r
        .findFirstMatchIn(t.getPath.getName).foreach { m =>
          val live = new Path(root, s"bar_date=${m.group(1)}")
          if (!fs.exists(live)) fs.rename(t.getPath, live)
          else fs.delete(t.getPath, true)
        }
    }
  }

  /** Sweep `_compact_tmp_*` dirs leaked by crashed builds (age-gated
    * like publishIndex's sweep so a live concurrent build is safe). */
  private def sweepStaleTmp(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    val stale = Option(fs.globStatus(
        new org.apache.hadoop.fs.Path(root, "_compact_tmp_*")))
      .getOrElse(Array.empty)
    val cutoff = System.currentTimeMillis() - 3600L * 1000L
    stale.filter(_.getModificationTime < cutoff)
      .foreach(s => fs.delete(s.getPath, true))
  }
}
