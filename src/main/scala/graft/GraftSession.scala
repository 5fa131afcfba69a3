package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every graft program (Verify, Bench,
  * Serve, Explain, the benchmark harness) and every spec gets its
  * session here, so correctness is checked under the configuration
  * that is measured and shipped.
  *
  * Settings, tuned for a local[N] host but meaningful on a cluster:
  *  - `local[cores]`, with shuffle partitions and default parallelism
  *    sized to `cores` instead of the 200 default;
  *  - AQE on, with partition coalescing and skew-join handling;
  *  - a 64 MB auto-broadcast threshold, so the TPC-H-ish dimension
  *    tables always broadcast;
  *  - a 5000-entry generated-class cache (see below);
  *  - UTC session time zone, for oracle parity;
  *  - parquet `TIMESTAMP(NANOS)` read as raw Long (see below);
  *  - snappy parquet, and dynamic partition overwrite (a bar-store
  *    merge rewrites only the dates it touches);
  *  - the optimizer rule `InferFiltersFromGenerate` excluded (see
  *    below);
  *  - graft's native functions and as-of join strategy, injected by
  *    `GraftExtensions`;
  *  - no UI, WARN log level.
  */
object GraftSession {
  def build(appName: String = "graft",
            cores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
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
      // InferFiltersFromGenerate substitutes the whole shingle/token
      // expression into a pre-Generate filter (size(...)>0, isnotnull),
      // re-tokenizing every document several times per row.  graft's
      // generators explode arrays that are essentially never empty, so
      // the inferred filter is pure overhead — measured 5-10x on the
      // LSH queries at sf0.1.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
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
