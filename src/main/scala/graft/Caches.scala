package graft

import org.apache.spark.sql.{DataFrame, Dataset}

/** Query-scoped cache registry — the unpersist discipline for
  * operators whose plans read an intermediate more than once.
  *
  * Operators like MinHash signatures, the n-gram inverted index, the
  * unigram dictionary, or the Bloom key set cache an intermediate that
  * the RETURNED (lazy) plan still references — they cannot unpersist
  * before the caller's terminal action without recomputing the branch.
  * Left alone, an 80-query session accumulates never-released storage
  * memory that evicts useful cache at production scale. The contract:
  * operators register such caches here, and the serving layer
  * ([[Verify]], [[Bench]], any request handler) calls [[releaseAll]]
  * after each query's terminal action — the per-request arena the
  * reference gets from its request lifetime.
  */
object Caches {

  // Per-THREAD arena: operators register during plan construction and
  // the serving layer releases after the terminal action, both on the
  // request's thread — so concurrent queries in one JVM (each on its
  // own handler thread) cannot release each other's still-referenced
  // caches. Child threads inherit the spawning request's arena BY
  // REFERENCE (InheritableThreadLocal default), so the container must
  // itself be thread-safe — ConcurrentLinkedQueue, not a plain deque.
  // Residual caveat: a POOLED child thread keeps the arena of the
  // request that created it; registrations made on it during a later
  // request drain only when the originating arena releases (delayed
  // release — never corruption, never a cross-request release).
  private val registered =
    new InheritableThreadLocal[java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]] {
      override def initialValue(): java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]] =
        new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()
    }

  /** Give the calling thread its arena now, so threads it starts next
    * inherit it: an InheritableThreadLocal passes on only a value the
    * parent has already set. */
  private[graft] def ensureArena(): Unit = { registered.get(); () }

  /** Cache `df` and register it for this thread's next [[releaseAll]]. */
  def cache(df: DataFrame): DataFrame = {
    df.cache()
    registered.get().add(df)
    df
  }

  /** Unpersist every cache registered on this thread since the last
    * release. Non-blocking: the executors drop blocks asynchronously. */
  def releaseAll(): Unit = {
    val q = registered.get()
    var df = q.poll()
    while (df != null) {
      df.unpersist(false)
      df = q.poll()
    }
  }
}
