package graft.ops

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Thread-local registry of persisted intermediates, giving long-running
  * drivers a bounded-cache contract: operators persist through
  * [[persistTracked]], and the query driver (the gateway's
  * `Engine.executeQuery`, `Verify`'s per-query loop) calls
  * [[releaseCurrent]] once the result is fully materialized. Without
  * this, correctness persists (GlobalRank's pinned range partitioning)
  * and cost persists (lshTuningCard's materialized pair sides)
  * accumulate blocks on the SHARED
  * block manager for the lifetime of the SparkContext — per-request
  * `newSession()` isolates conf and catalog, not storage.
  *
  * Thread-local because DataFrame construction and its consuming action
  * run on the same driver thread per request/query; a global registry
  * would let one request unpersist a concurrent request's pinned
  * partitioning MID-JOB, which for GlobalRank is a correctness persist
  * (two independent range exchanges may sample different boundaries).
  * For the same reason callers must release only AFTER the final
  * consuming action — a released GlobalRank relation must not be
  * re-collected.
  *
  * Tests that never call [[releaseCurrent]] see exactly the old
  * behavior; `Bench` keeps its coarser `spark.catalog.clearCache()`
  * between runs (which also covers these entries).
  */
object CacheScope {
  private val tracked = new ThreadLocal[java.util.ArrayDeque[DataFrame]] {
    override def initialValue(): java.util.ArrayDeque[DataFrame] =
      new java.util.ArrayDeque[DataFrame]()
  }

  /** Persist `df` and register it for release by the current thread's
    * query driver. Returns `df` for chaining.
    *
    * CONTRACT: registration is per-thread — the thread that constructs
    * the DataFrame (and thus runs this call) is the one whose
    * [[releaseCurrent]] drains it. A driver that constructs on one
    * thread and consumes on another (futures, thread pools) must release
    * on the constructing thread after the action completes; otherwise
    * the constructing thread's deque retains the persisted plan trees
    * indefinitely.
    */
  def persistTracked(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    df.persist(level)
    val q = tracked.get()
    q.synchronized { q.push(df) }
    df
  }

  /** Unpersist (non-blocking) everything the current thread tracked
    * since its last release. Safe to call when nothing is tracked.
    */
  def releaseCurrent(): Unit = {
    val q = tracked.get()
    while (true) {
      val df = q.synchronized {
        if (q.isEmpty) null else q.pop()
      }
      if (df == null) return
      try df.unpersist(false)
      catch { case NonFatal(_) => () }
    }
  }
}
