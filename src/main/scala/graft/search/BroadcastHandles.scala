package graft.search

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession

import graft.core.GraftConf

/** Bounded FIFO registry for the per-call query broadcasts the heap-cut
  * batch plans ship (`VectorDistanceMulti`/`BatchTopKAgg` matrices ride
  * generated-class state via `addReferenceObj`, so ContextCleaner's
  * GC-based cleanup only fires once the caller's plan itself is garbage
  * — a serving loop issuing millions of batches accumulates driver and
  * executor broadcast blocks far ahead of any GC).
  *
  * Every heap-cut broadcast registers in its SparkContext's queue;
  * beyond `spark.graft.batch.broadcastHandles` live handles (default
  * 256) the OLDEST is `unpersist()`ed — executor blocks released
  * immediately, driver copy KEPT — and dropped from the queue. An
  * unpersisted broadcast is still readable: a cached batch DataFrame
  * re-executed arbitrarily later just re-fetches the blocks from the
  * driver (unlike the former `destroy()`, which made re-execution past
  * the bound fail at runtime). The driver copy itself is reclaimed by
  * ContextCleaner once the caller's plan is garbage — dropping the
  * queue's strong reference is what re-arms that path. Registries are
  * keyed per SparkContext (weakly, so a stopped context's queue is
  * collectable), so one session's batch traffic never touches another
  * context's handles; sessions of the SAME context share its queue and
  * bound, which is the right scope — the block manager they fill is
  * per-context. `spark.graft.batch.broadcastHandles=0` disables
  * eviction (the pre-r14 behavior).
  */
object BroadcastHandles {
  private val perContext =
    new java.util.WeakHashMap[SparkContext, java.util.ArrayDeque[Broadcast[_]]]()

  private def queue(sc: SparkContext): java.util.ArrayDeque[Broadcast[_]] =
    synchronized {
      var q = perContext.get(sc)
      if (q == null) { q = new java.util.ArrayDeque[Broadcast[_]](); perContext.put(sc, q) }
      q
    }

  /** Live (still strongly-held) handles registered by batch plans of
    * `spark`'s SparkContext. */
  def liveCount(spark: SparkSession): Int =
    synchronized { queue(spark.sparkContext).size }

  /** Total live handles across every registered SparkContext. */
  def liveCount: Int = synchronized {
    var n = 0
    val it = perContext.values().iterator()
    while (it.hasNext) n += it.next().size
    n
  }

  /** Register a freshly-created per-call broadcast; unpersists (executor
    * blocks only — the handle stays re-readable) and releases the oldest
    * registered handles beyond the configured bound. Returns `bc`. */
  def register[T](spark: SparkSession, bc: Broadcast[T]): Broadcast[T] = {
    val bound = GraftConf.int(spark, "spark.graft.batch.broadcastHandles", 256)
    if (bound > 0) synchronized {
      val q = queue(spark.sparkContext)
      q.addLast(bc)
      while (q.size > bound) {
        // non-blocking: executor blocks release async; the driver copy
        // stays until ContextCleaner collects the (now unreferenced)
        // handle — a stopped context makes this a no-op
        try q.pollFirst().unpersist()
        catch { case _: Exception => }
      }
    }
    bc
  }
}
