package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built: every main and the test
  * suite share this local-mode config, so the time zone, timestamp
  * decoding and planner settings agree between Bench, Verify, the
  * tools and the specs. */
object GraftSession {

  /** A `local[cpus]` session with `cpus` shuffle partitions, the UTC
    * session zone `Tables.events` and the DuckDB oracle assume, AQE on,
    * nanosecond parquet timestamps read as longs (older `events`
    * files), no UI and WARN logging. `cpus` defaults to
    * `SPARK_GRAFT_CPUS`, else 4. */
  def local(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Stability, not speed: the r19 8-core bench leg died mid-run
      // when about 10 minutes of co-tenant driver starvation caused 60
      // consecutive failed executor heartbeats (default 10 s interval);
      // the in-process executor self-exited and stopped the context.
      // In local mode executor and driver share a JVM, so a missed
      // beat never signals a lost node, only a stalled host window.
      // The tolerance below lets a multi-minute stall inflate a timing
      // instead of killing the process, and the network timeout (the
      // driver-side heartbeat expiry) sits well above that stall.
      .config("spark.executor.heartbeatInterval", "20s")
      .config("spark.executor.heartbeat.maxFailures", "240")
      .config("spark.network.timeout", "1200s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
