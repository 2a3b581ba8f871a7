package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/**
 * The one reuse point of the library's iterative and shared derivations
 * ([[Graph.pageRankInt]], [[Annotations.dawidSkene]],
 * [[Preferences.bradleyTerry]], q159's bounded summaries, the
 * generation-eval pair table). The unbounded convergence loops of
 * [[Dedup.components]] and [[Dedup.componentsStar]] truncate lineage with
 * their own tracked `localCheckpoint`s instead.
 *
 * Release path: reuse points are ordinary plan-keyed cache entries, so a
 * long-lived caller frees them with Spark's own API,
 * `spark.catalog.clearCache()` or `Dataset.unpersist`. Lineage is kept, so
 * a released frame recomputes on its next action instead of failing.
 */
private[graft] object Checkpoints {

  /** Persist `df` as a LAZY plan-keyed reuse point (`MEMORY_AND_DISK`):
   * building a plan over it runs ZERO Spark jobs (VERDICT r12 #4; a
   * non-eager `checkpoint` would not deliver this, since under AQE even
   * `eager = false` executes every intermediate query stage). The frame
   * computes once at the first action and every later reader substitutes
   * the cached InMemoryRelation. Lineage is KEPT, so an evicted block
   * recomputes instead of aborting; the price is logical plans that nest
   * previous rounds, fine for the small fixed round counts (≤ ~5) of the
   * callers. If the plan is ALREADY cached in this session (a prior call on
   * the same input), returns `df` untouched: no duplicate entry, no
   * CacheManager warning (PersistLifecycleSpec). */
  def reusePoint(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else df.persist(StorageLevel.MEMORY_AND_DISK)
}
