package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory. Every entry point (Bench, Verify,
  * SmokeMain, ScaleCheck, DetCheck and the test suite) runs on a local
  * session built here, so a result or a timing taken by one of them holds
  * for the others. Local `file:` I/O goes through `graft.fs.NoForkLocalFs`
  * (README, "Local file I/O"), installed by `core-site.xml`, not here. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else the host's processor count. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The running session if there is one (its conf is left as it is),
    * else a new `local[cores]` session at log level WARN. */
  def local(cores: Int = defaultCores): SparkSession =
    SparkSession.getDefaultSession.getOrElse {
      require(cores >= 1, s"cores must be >= 1: $cores")
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        // `events.ts` is TIMESTAMP(NANOS) in older fixtures and
        // timestamp[us] in newer ones; with both of these set either one
        // reads (Tables.normalizeEventTs)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        // The whole-stage-codegen class cache (static conf, default 100
        // entries) is sized for few-query applications; this suite carries
        // 337 distinct plan shapes per pass, so the LRU evicts every class
        // between two executions of the same query and each pass re-pays
        // Janino compilation per codegen unit. Size it to hold the suite.
        // Scale-independent: the cache is per-JVM and keyed on generated
        // source, not data.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        // AQE coalescing stays at Spark defaults: a 16 MB byte-floor
        // (coalescePartitions.minPartitionSize) measured 30-40% slower on
        // the heavy pair-verification queries (OPTIMIZATION_r13.md)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
}
