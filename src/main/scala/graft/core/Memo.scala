package graft.core

import scala.collection.concurrent.TrieMap

/** Session-scoped memo for expensive deterministic intermediates that
  * several registry queries share (q31's fitted CV OOF reused by q72's
  * metric replay; q34's MinHash near-dup pairs reused by q66's cluster
  * pass). Keys embed the Spark applicationId so a cached DataFrame is
  * never served to a different session. `clear()` lets the bench reset
  * between repetitions so every pass pays full cost — the memo is a
  * within-session reuse optimization, not a benchmark shortcut.
  *
  * A slot owns the frames its value holds: they are local checkpoints,
  * never CacheManager entries (`core.Materialize`), so `clear()` drops
  * the last reference and Spark's ContextCleaner frees their blocks at
  * the next GC — no slot needs an explicit release.
  */
object Memo {
  private val store = TrieMap.empty[String, Any]
  private val buildSecs = TrieMap.empty[String, Double]

  def getOrElseUpdate[T](key: String)(value: => T): T =
    store.getOrElseUpdate(key, {
      val t0 = System.nanoTime()
      val v: Any = value
      buildSecs.put(key.takeWhile(_ != ':'), (System.nanoTime() - t0) / 1e9)
      v
    }).asInstanceOf[T]

  /** Wall seconds each memo slot's build paid since the last clear(),
    * keyed by the slot slug (the key text before the first ':' — the
    * applicationId/path suffixes are per-session noise). Most memoized
    * intermediates end in an eager localCheckpoint, so the build cost
    * is real wall time, not lazy-plan assembly. Bench emits this as
    * the memo_build line item: the shared build lands on whichever
    * group query touches the slot first, so per-query and group
    * numbers can be read NET of it instead of wobbling with execution
    * order. */
  def buildSeconds: Map[String, Double] = buildSecs.toMap

  def clear(): Unit = { store.clear(); buildSecs.clear() }
}
