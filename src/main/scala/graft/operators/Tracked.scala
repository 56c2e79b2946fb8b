package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Block bookkeeping for multi-stage library operators (dedup, clustering):
  * every intermediate a pipeline persists is registered on a Tracked handle
  * list, and `seal` eagerly materializes the pipeline's final result before
  * unpersisting every intermediate. This closes the r3 leak where query
  * bodies persisted intermediates and relied on the harness's clearCache():
  * a long-lived session composing dedup operators no longer accumulates
  * pinned MEMORY_AND_DISK blocks.
  *
  * Ownership contract: the sealed RESULT is itself persisted (so downstream
  * actions never re-run the pipeline) and is registered as `owned`; callers
  * free it with `release()` (or `Dataset.unpersist` / the session's cache
  * manager) once consumed. Intermediates are never the caller's problem.
  *
  * Persisting a frame that sits right after a shuffle pins all
  * `spark.sql.shuffle.partitions` of its partitions: AQE cannot coalesce a
  * cached plan's output (`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`
  * is off by default), so every reader of that cache schedules one task
  * per partition, however small the data. A pipeline that needs no cache
  * is better left a lazy plan — see [[sealIfHeld]].
  */
final class Tracked {
  private var kept: List[DataFrame] = Nil
  private var owned: List[DataFrame] = Nil

  /** Persist an intermediate and remember the handle. Handle-list updates
    * are synchronized so concurrent registration can't lose a handle — but
    * `seal`/`free`/`release` free EVERY tracked intermediate, so stages
    * running concurrently must use separate Tracked instances (seal from
    * one stage would reclaim caches a sibling still reads); share one
    * Tracked only across sequential stages.
    */
  def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    synchronized { kept = p :: kept }
    p
  }

  /** Unpersist every tracked intermediate (not sealed results). */
  def free(): Unit = {
    val toFree = synchronized { val k = kept; kept = Nil; k }
    toFree.foreach(_.unpersist(blocking = false))
  }

  /** Eagerly materialize `result` (persist + count — downstream actions read
    * the cache, so the pipeline runs exactly once), then free every tracked
    * intermediate. Seal the UNSORTED result and sort after, so the eager
    * count does not pay for a global sort (its exchange and range sample)
    * that only the final reader needs.
    */
  def seal(result: DataFrame): DataFrame = sealCounted(result)._1

  /** [[seal]] when some intermediate is tracked (the result's plan reads
    * caches that must be freed); otherwise return `result` untouched — a
    * plan that persisted nothing stays lazy, with no eager job and no
    * pinned block. */
  def sealIfHeld(result: DataFrame): DataFrame =
    if (synchronized(kept.isEmpty)) result else seal(result)

  /** [[seal]], returning the materialization count too — the row count the
    * eager count() already pays for, surfaced so callers dispatching on
    * result size (Triangles' wedge gate) never run a second count job. */
  def sealCounted(result: DataFrame): (DataFrame, Long) = {
    val out = result.persist(StorageLevel.MEMORY_AND_DISK)
    val n = out.count()
    synchronized { owned = out :: owned }
    free()
    (out, n)
  }

  /** Free everything, sealed results included — zero pinned blocks remain. */
  def release(): Unit = {
    free()
    val toFree = synchronized { val o = owned; owned = Nil; o }
    toFree.foreach(_.unpersist(blocking = false))
  }
}
