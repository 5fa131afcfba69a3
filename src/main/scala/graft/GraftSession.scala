package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's tuned defaults.
  *
  * Tuned for the driver's local[N] harness but with settings that
  * transfer to a real cluster: AQE on (runtime re-plan, skew-join
  * handling, partition coalescing), shuffle partitions sized to the
  * parallelism instead of the 200 default, UTC session timezone for
  * oracle parity, and an auto-broadcast threshold generous enough that
  * the TPC-H-ish dimension tables always broadcast.
  */
object GraftSession {
  def build(appName: String = "graft",
            cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      // static conf, must be set before the first session: the default
      // generated-class cache holds 100 entries, but this engine's query
      // suite compiles several hundred distinct codegen units — at 100,
      // warm-up compilations are LRU-evicted before the measured run and
      // the big generated classes (SimHash's 60 bit-sums) pay their
      // multi-second Janino compile a second time
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS), which Spark's reader
      // rejects unless read as raw Long — session-level so no read
      // path has to mutate conf as a side effect (Tables.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` with the session conf `key` set to `value`, then put
    * back the previous value (or unset the key if it had none), also
    * when `body` throws. */
  def withConf[T](spark: SparkSession, key: String, value: String)(
      body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
