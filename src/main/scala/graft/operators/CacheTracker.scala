package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Scoped bookkeeping for the operators' internal persists, and the
  * rule for when an operator persists at all.
  *
  *  - Persist ([[persistTracked]]): a frame re-read within one call
  *    that runs under a [[scoped]] bracket (Bench's graded rows, the
  *    streaming batch step). A persist registers a session-lifetime
  *    CacheManager entry whose cached plan keeps its broadcasts and
  *    blocks reachable; outside a bracket nothing ever frees it.
  *  - Eager `localCheckpoint(true)`: a per-call intermediate of a path
  *    that runs outside any bracket (the store cycle: ingest, retract
  *    and their pagerank), and anything a returned store frame depends
  *    on. Its blocks belong to its RDD, so the ContextCleaner frees
  *    them, and the broadcasts behind them, once the caller drops the
  *    frames. An id set joined several times is selected under each
  *    join's name (`ids.select(col("vec_id").as(x))`), so AQE
  *    broadcasts it once per query.
  *
  * Measured on the semantic-best ingest → write → retract → write
  * cycle: persists grew the retained driver heap by ~173 MB and the
  * session cache by 14 entries per cycle; checkpoints hold both flat
  * (perfbench dedup_churn retained heap 433 → 123 MB, StoreCycleSpec).
  *
  * Cluster caveat: checkpoint blocks are unreplicated and lineage-free,
  * so an executor loss while a call runs fails the call instead of
  * recomputing. [[graft.sources.VersionedStore]]'s atomic publish then
  * leaves the prior store live; a deployment that cannot retry should
  * set a checkpoint dir and use reliable `checkpoint()`.
  *
  * Scopes are thread-local (nesting composes; each scope releases only
  * its own persists), so concurrent callers don't release each other's
  * caches. Results read from a bracket's persists must be consumed
  * inside it; afterwards their lineage recomputes from source.
  */
private[graft] object CacheTracker {
  private val scopes = new ThreadLocal[List[ArrayBuffer[DataFrame]]] {
    override def initialValue(): List[ArrayBuffer[DataFrame]] = Nil
  }

  /** Persist `df` (MEMORY_AND_DISK) and, if a [[scoped]] bracket is
    * active on this thread, register it for release at bracket exit.
    * Outside any bracket this is exactly `df.persist(...)` — the
    * session-lifetime default. */
  def persistTracked(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    scopes.get() match {
      case head :: _ => head += p
      case Nil =>
    }
    p
  }

  /** Run `body`, then unpersist every frame the operators persisted
    * inside it (blocking, so a following assertion or job sees the
    * storage released). */
  def scoped[T](body: => T): T = {
    val buf = ArrayBuffer[DataFrame]()
    scopes.set(buf :: scopes.get())
    try body
    finally {
      scopes.set(scopes.get().tail)
      buf.foreach(_.unpersist(blocking = true))
    }
  }
}
