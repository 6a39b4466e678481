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
  *  - **Deferred cache, for a frame several steps may or may not read.**
  *    [[deferred]] hands its body a [[Pinned]] handle that loads and
  *    caches the frame on first use; the scope releases it on exit only
  *    if some step loaded it, so a run whose steps all skip reads nothing
  *    (a resumed pipeline).
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

  /** A frame loaded and cached by its first [[get]], held for the rest
    * of its [[deferred]] scope. */
  final class Pinned private[Materialize] (load: () => DataFrame) {
    private var frame: Option[DataFrame] = None
    def get: DataFrame = synchronized {
      frame.getOrElse { val f = load().cache(); frame = Some(f); f }
    }
    private[Materialize] def release(): Unit = synchronized { frame.foreach(_.unpersist()) }
  }

  /** Runs `body` with a [[Pinned]] handle on `load`: nothing is read
    * until some step calls `get`, and the frame is unpersisted on exit
    * (also when `body` throws) only if one did. */
  def deferred[T](load: => DataFrame)(body: Pinned => T): T = {
    val pinned = new Pinned(() => load)
    try body(pinned) finally pinned.release()
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
