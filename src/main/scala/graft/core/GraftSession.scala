package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory (SURVEY §7.1 core): UTC, AQE, right-sized shuffle
  * partitions, and the engine's SQL functions registered. One place so
  * Verify/Bench/tests and library users get identical semantics —
  * session timezone differences would silently shift every to_date /
  * window boundary.
  *
  * Partition listing stays on the driver at any directory count. Above
  * Spark's default threshold (32 paths) a read lists its partition
  * directories with a distributed job — 260–330 ms for a 61-directory
  * zone on 4 cores — but under `local[n]` that job's tasks list the
  * same local file system from the same JVM, so it adds a job's
  * latency and saves nothing. */
object GraftSession {
  def local(threads: Int, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // The events table stores nanosecond parquet timestamps; reading
      // them as raw longs is a session-level choice made HERE, visibly,
      // not as a read-time side effect (Tables.events validates it).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        Int.MaxValue.toString)
      .getOrCreate()
    graft.GraftExtensions.register(spark)
    spark
  }
}
