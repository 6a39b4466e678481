package graft.core

import org.apache.spark.sql.DataFrame

/** The engine's one owner of cached frames. Spark gives a cached frame
  * no owner: `cache()` is a hint that lives in the session's
  * CacheManager until someone calls `unpersist()`. Two pinning rules
  * keep every pinned block owned:
  *
  *  - **Scoped cache, inside one function.** A frame that several
  *    reads of one function share is pinned by [[scoped]]: cached for
  *    the body, released in `finally` — also when the body throws.
  *  - **Checkpoint, for anything that escapes.** A frame returned to
  *    the caller (a CV's OOF, a memo slot's value) is pinned with
  *    `localCheckpoint` instead — eager where several reads follow at
  *    once, lazy where its first reader materializes it. Its blocks
  *    belong to the checkpointed RDD, and Spark's ContextCleaner frees
  *    them with the last reference to the frame; no CacheManager entry
  *    outlives it. Those sites call `localCheckpoint` directly, except
  *    where [[checkpoint]] keeps a one-partition frame's partitioning.
  */
object Materialize {

  /** Caches `df`, materializes it first when `eager`, runs `body` on it
    * and unpersists it on exit. Pass `eager = true` before a concurrent
    * `Par` fan-out over the frame: the fan-out's jobs would otherwise
    * each race to fill the same cache and compute the frame more than
    * once. */
  def scoped[T](df: DataFrame, eager: Boolean = false)(body: DataFrame => T): T = {
    val cached = df.cache()
    try {
      if (eager) cached.count()
      body(cached)
    } finally cached.unpersist()
  }

  /** `df` pinned by an eager `localCheckpoint`, for a frame that escapes
    * its function and is read at once. Under adaptive execution the
    * checkpoint forgets its plan's output partitioning; a one-partition
    * frame (a CV's OOF at bench scale) gets it back through a no-op
    * `coalesce(1)`, so the grouped metrics and sorts that read it plan no
    * exchange, as they do over a cached frame. */
  def checkpoint(df: DataFrame): DataFrame = {
    val pinned = df.localCheckpoint()
    if (pinned.rdd.getNumPartitions == 1) pinned.coalesce(1) else pinned
  }
}
