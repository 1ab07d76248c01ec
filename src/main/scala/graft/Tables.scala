package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loader for the driver-generated TPC-H-ish test data.
  *
  * At cluster scale the same call reads a multi-file parquet directory;
  * Catalyst handles split planning, predicate pushdown and column
  * pruning identically, so nothing here is local-mode specific.
  */
object Tables {
  /** Relation memo, keyed per (session, path): `spark.read.parquet`
    * re-lists the directory and re-reads footers for the schema on
    * EVERY call — pure driver-side metadata work repeated hundreds of
    * times across the registry (guide §6: file listing is driver
    * work; catalog tables cache it via
    * `filesourcePartitionFileCacheSize`, bare-path reads do not).
    * The logical plan is immutable and the test dirs are immutable
    * for the life of the session, so reuse is safe. Keyed by session
    * identity too: a DataFrame is bound to the session that resolved
    * it, and test suites run several sessions per JVM. Memoizes METADATA only —
    * every execution still scans the parquet data.
    *
    * The weak keying alone cannot collect anything: each memoized
    * DataFrame strongly references its session via queryExecution, so
    * the value pins the key. Entries are therefore EVICTED explicitly
    * on access once their session's context is stopped — a stopped
    * session can never execute its memoized plans, and dropping the
    * map breaks the value→key pin so both become collectable. */
  private val relMemo =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]]()

  /** Resolve `<dir>/<name>.parquet` once per (session, path).
    *
    * CONTRACT: the directory must be immutable for the life of the
    * session — the memo pins the file listing and footer schema at
    * first resolution, so a rewrite of the same path within a session
    * would serve a stale file list at scan time. This holds for the
    * driver-generated test corpora (never rewritten in-place); a
    * caller over mutable directories must call
    * `spark.read.parquet(path)` directly (or
    * `spark.catalog.refreshByPath`) instead. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val perSession = relMemo.synchronized {
      // evict stopped sessions: their plans are unexecutable and the
      // DataFrame values otherwise pin the weak keys forever
      val it = relMemo.entrySet().iterator()
      while (it.hasNext) {
        if (it.next().getKey.sparkContext.isStopped) it.remove()
      }
      var m = relMemo.get(spark)
      if (m == null) {
        m = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        relMemo.put(spark, m)
      }
      m
    }
    perSession.computeIfAbsent(s"$dir/$name.parquet",
      p => spark.read.parquet(p))
  }

  def lineitem(s: SparkSession, dir: String): DataFrame = apply(s, dir, "lineitem")
  def orders(s: SparkSession, dir: String): DataFrame = apply(s, dir, "orders")
  def customer(s: SparkSession, dir: String): DataFrame = apply(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame = apply(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame = apply(s, dir, "part")
  def nation(s: SparkSession, dir: String): DataFrame = apply(s, dir, "nation")
  def region(s: SparkSession, dir: String): DataFrame = apply(s, dir, "region")
  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) (readable only
    * as a long via `spark.sql.legacy.parquet.nanosAsLong`) and, in newer
    * generator output, as TIMESTAMP(MICROS) with isAdjustedToUTC=false,
    * which Spark 4 surfaces as TIMESTAMP_NTZ. Normalize both to plain
    * TIMESTAMP so downstream operators (`unix_micros`, event-time
    * watermarks, epoch casts) are agnostic to the generator's choice.
    * Sessions here run with UTC session timezone, so the NTZ→TZ cast is
    * a wall-clock identity — the same instants DuckDB sees. */
  def events(s: SparkSession, dir: String): DataFrame = {
    val df = apply(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // Integer `div`, not `/`: double division of ~1.7e18 nanos loses
        // up to ~256 ns (53-bit mantissa) and shifts some rows ±1 us.
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, dir: String): DataFrame = apply(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = apply(s, dir, "embeddings")

  /** Row count of `<dir>/<name>.parquet`, memoized per (session,
    * path) like the relation memo above. Callers use table
    * cardinality to pick cache/plan strategies (the dedup family's
    * `Dedup.Scale` gate); the count job is metadata-only but still a
    * per-invocation scan+job, so memoize. Keyed by session too, so a
    * new session re-counts a directory rewritten since an earlier
    * session counted it, instead of gating on the stale count. The
    * values are plain counts, so the weak session keys collect once
    * the session is unreachable. */
  private val countMemo =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]]()
  def rowCount(s: SparkSession, dir: String, name: String): Long =
    countMemo.synchronized {
      countMemo.computeIfAbsent(s, _ => new java.util.concurrent.ConcurrentHashMap())
    }.computeIfAbsent(s"$dir/$name.parquet", _ => apply(s, dir, name).count())
}
