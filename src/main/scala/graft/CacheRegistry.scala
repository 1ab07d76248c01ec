package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import scala.util.control.NonFatal

/** Tracks DataFrames persisted during operator plan construction so
  * the harness mains (Bench/Verify) can release them after each query
  * materializes. Operators persist subtrees that feed multiple
  * branches of one plan; without a release point, repeated
  * invocations stack CacheManager entries ("Asked to cache already
  * cached data" WARN spam) and hold executor memory across queries.
  */
object CacheRegistry {
  private val tracked = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** When true, [[cache]] is a no-op passthrough — the bench's
    * cache-cold mode (SPARK_GRAFT_BENCH_CACHE=cold): every operator
    * runs its pure recompute plan, so per-query timings and shuffle
    * bytes carry NO tracked-cache state and are hermetic w.r.t.
    * execution order and memory pressure. Warm (default) measures the
    * steady state a resident pipeline would see; cold is the
    * arbitration baseline when a drift flag's shuffle bytes moved at
    * identical code (round-15's recurring flag class). */
  @volatile var disabled: Boolean = false

  /** Persist (memory-and-disk) and remember for the next releaseAll. */
  def cache(df: DataFrame): DataFrame = synchronized {
    if (disabled) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      tracked += p
      p
    }
  }

  /** Number of frames currently tracked (bench cache-state probe). */
  def trackedCount: Int = synchronized { tracked.size }

  /** IDENTITY snapshot of the currently tracked frames — a resident
    * loop (e.g. the streaming span-cut ingest) brackets each
    * micro-batch with snapshot()/releaseSince() so frames tracked
    * BEFORE the scope opened are never touched (a positional
    * high-water mark would alias across a concurrent releaseAll or
    * interleaved tracking — reference identity cannot). Frames a
    * co-resident operator tracks WHILE the scope is open are still
    * swept by the release: scoped brackets assume one resident loop
    * at a time, the same single-session contract StagedRewrite
    * documents for the warehouse. */
  def snapshot(): Set[DataFrame] = synchronized { tracked.toSet }

  /** Unpersist and forget every frame tracked since the given
    * snapshot (by reference identity). The registry holds strong
    * references, so a long-running loop that never releases
    * accumulates MEMORY_AND_DISK blocks without bound — this is the
    * per-batch release point. */
  def releaseSince(snap: Set[DataFrame], blocking: Boolean = false): Unit = synchronized {
    val (keep, drop) = tracked.partition(snap.contains)
    drop.foreach(df => try df.unpersist(blocking) catch { case NonFatal(_) => () })
    tracked.clear()
    tracked ++= keep
  }

  /** Unpersist everything cached since the last release. Double
    * unpersist (e.g. frames an iterative loop already dropped) is a
    * harmless no-op. Bench passes blocking=true so an async block drop
    * can never overlap — and get charged to — the next query's timed
    * run. */
  def releaseAll(blocking: Boolean = false): Unit = synchronized {
    tracked.foreach(df => try df.unpersist(blocking) catch { case NonFatal(_) => () })
    tracked.clear()
  }

  /** `df.cacheTracked` — persist + register in one postfix call. */
  implicit class Cacheable(private val df: DataFrame) extends AnyVal {
    def cacheTracked: DataFrame = CacheRegistry.cache(df)
  }
}
