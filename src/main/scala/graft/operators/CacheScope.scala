package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Deterministic persist lifecycle for operator-internal caches.
  *
  * The dedup/similarity operators persist intermediates that feed both
  * sides of a self-join (Catalyst does not CSE across join branches),
  * but the consuming ACTION happens later, at the caller — so the
  * operator itself can never safely `unpersist`. Spark's `CacheManager`
  * keeps plan-keyed cache entries alive for the whole session (the
  * `ContextCleaner` only reaps RDD-level caches), so a persist without a
  * matching unpersist is an executor-memory leak: at bench scale it
  * shows up as cache-eviction/GC pressure on downstream queries, at
  * 100 TB it is an OOM.
  *
  * Loan pattern: the consumer that runs the action opens a scope, the
  * operators enroll every `persist` in the innermost active scope via
  * [[persist]], and when the scope closes — i.e. strictly AFTER the
  * consuming action completed — every enrolled frame is unpersisted.
  *
  * {{{
  * CacheScope.withScope {
  *   Dedup.minhashLsh(docs, "doc_id", "text").count() // uses the cache
  * }                                                  // cache released here
  * }}}
  *
  * Scopes nest (a stack per driver thread); without an active scope,
  * [[persist]] degrades to a plain session-lifetime `df.persist` and the
  * caller owns the lifecycle (short-lived sessions — tests — release on
  * `spark.stop()`).
  */
object CacheScope {

  private val stack = new ThreadLocal[List[ArrayBuffer[DataFrame]]] {
    override def initialValue(): List[ArrayBuffer[DataFrame]] = Nil
  }

  /** Persist `df` at MEMORY_AND_DISK and enroll it for unpersist when
    * the innermost active scope closes. Returns `df` for chaining. */
  def persist(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    stack.get() match {
      case top :: _ => top += df
      case Nil      => () // no scope: session-lifetime cache, caller-owned
    }
    df
  }

  /** Run `body` (plan construction AND the consuming action) with a
    * fresh cache scope; unpersist every enrolled frame on the way out,
    * even when `body` throws. Non-blocking unpersist: block release is
    * async, but the `CacheManager` entry is gone synchronously, so a
    * following query can never re-hit a stale cached plan. */
  def withScope[T](body: => T): T = {
    val buf = new ArrayBuffer[DataFrame]
    stack.set(buf :: stack.get())
    try body
    finally {
      stack.set(stack.get().tail)
      buf.foreach { df =>
        try df.unpersist(blocking = false)
        catch { case _: Throwable => () } // session may already be stopped
      }
    }
  }
}
