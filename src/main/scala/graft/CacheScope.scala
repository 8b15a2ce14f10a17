package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one way to scope driver-side caches and pins.
  *
  * `CacheScope(spark) { body }` opens a scope on the calling thread. When
  * the body returns or throws, the scope first unpersists (blocking) the
  * frames registered with it through [[CacheScope.cache]] /
  * [[CacheScope.persist]] — the Dataset API, which also drops their
  * plan-cache entries — and then every persistent RDD that appeared
  * since it opened. That second step catches what surfaces no reference
  * to release: `localCheckpoint` pins, operator-internal persists (e.g.
  * [[graft.ops.Corpus.admitByBudget]]'s sorted RDD) and `.cache()` calls
  * inside operators that do not register. A plan-cache entry whose RDD
  * was swept that way recomputes if it is ever read again.
  *
  * Scopes nest. An inner scope releases what appeared while it was
  * open, and only that. This relies on one condition: an enclosing
  * scope's frames are MATERIALIZED before an inner scope opens (as the
  * eager `localCheckpoint(true)` pins are). A frame cached lazily outside
  * and first evaluated inside an inner scope gets its RDD there, and the
  * inner scope sweeps it.
  *
  * The innermost open scope is thread-local. That is safe because
  * queries and ingest days run serially on the driver thread; a scope
  * must close on the thread that opened it, innermost first, and
  * closing it anywhere else throws. */
final class CacheScope private (spark: SparkSession, outer: Option[CacheScope]) {
  private val owner = Thread.currentThread()
  private val rddsAtOpen = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private var frames = List.empty[Dataset[_]]

  private[graft] def close(): Unit = {
    if (Thread.currentThread() ne owner)
      throw new IllegalStateException(s"a CacheScope opened on thread " +
        s"${owner.getName} cannot close on ${Thread.currentThread().getName}")
    if (!CacheScope.innermost.contains(this))
      throw new IllegalStateException("CacheScopes close innermost first")
    outer match {
      case Some(o) => CacheScope.open.set(o)
      case None    => CacheScope.open.remove()
    }
    frames.foreach(_.unpersist(true))
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => rddsAtOpen(id) }
      .values.foreach(_.unpersist(true))
  }
}

object CacheScope {
  private val open = new ThreadLocal[CacheScope]

  private[graft] def innermost: Option[CacheScope] = Option(open.get)

  /** Run `body` in a new scope and release what it cached, on return or
    * throw (see the class scaladoc). */
  def apply[T](spark: SparkSession)(body: => T): T = {
    val scope = new CacheScope(spark, innermost)
    open.set(scope)
    try body
    finally scope.close()
  }

  /** `ds.cache()`, registered with the innermost open scope on this
    * thread; with no scope open, a plain `.cache()`. */
  def cache[T](ds: Dataset[T]): Dataset[T] = register(ds.cache())

  /** `ds.persist(level)`, registered like [[cache]]. */
  def persist[T](ds: Dataset[T], level: StorageLevel): Dataset[T] =
    register(ds.persist(level))

  private def register[T](ds: Dataset[T]): Dataset[T] = {
    innermost.foreach(s => s.frames ::= ds)
    ds
  }
}
