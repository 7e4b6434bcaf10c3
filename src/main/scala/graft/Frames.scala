package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** The one owner of Dataset-level caches: every cache the engine makes
  * goes through [[shared]], and the innermost [[scope]] open on the
  * calling thread releases it when that scope ends.
  *
  * Which materialization a site uses (the round-19 rule, measured site
  * by site; the measured A/B numbers stay at the sites they justify):
  *  - a lazy [[shared]] frame for a subtree that ONE action reads more
  *    than once: CacheManager substitutes every copy of the subtree with
  *    one InMemoryRelation computed inside that action, with no barrier
  *    job; it spills under pressure and recomputes on executor loss;
  *  - an eager `localCheckpoint(true)` only where SEPARATE jobs re-read
  *    a frame, or where lineage must be cut (a plan that reads a store
  *    must not see the store's own appends on a recompute).
  *
  * Lifetimes:
  *  - a shared frame lives until its scope ends; the scope unpersists it
  *    on every exit path, whether the body returned or threw. A frame
  *    that a RETURNED lazy plan reads is therefore shared in the caller's
  *    scope, not in an inner one: released early it is silently
  *    recomputed, still correct but slower;
  *  - a scope releases only frames whose cache entry its own `shared`
  *    calls created, so an inner scope never drops a plan an outer scope
  *    (or a caller outside any scope) cached first;
  *  - outside any scope, `shared` persists and the caller owns the frame;
  *  - scopes are per thread (a plain ThreadLocal, not inherited): a
  *    stream-execution or pool thread starts with no scope, so work that
  *    caches on such a thread opens its own (a store admission does);
  *  - eager checkpoints are not Dataset caches and no scope touches them:
  *    Spark's ContextCleaner frees their blocks once the frame is
  *    unreachable, and some must outlive the call that made them (the
  *    admitted frame a store returns). */
object Frames {

  private val scopes = ThreadLocal.withInitial[List[ArrayBuffer[Dataset[_]]]](() => Nil)

  /** Persist `df` MEMORY_AND_DISK (the level `cache()` uses) and, if this
    * call created the cache entry, register it with the innermost scope
    * open on this thread. */
  def shared[T](df: Dataset[T]): Dataset[T] = {
    val created = df.storageLevel == StorageLevel.NONE
    df.persist(StorageLevel.MEMORY_AND_DISK)
    if (created) scopes.get.headOption.foreach(_ += df)
    df
  }

  /** Run `body`, then unpersist the frames [[shared]] registered in this
    * scope, newest first, whether `body` returned or threw. */
  def scope[T](body: => T): T = {
    val owned = ArrayBuffer.empty[Dataset[_]]
    scopes.set(owned :: scopes.get)
    try body
    finally {
      scopes.set(scopes.get.tail)
      owned.reverseIterator.foreach(_.unpersist())
    }
  }
}
