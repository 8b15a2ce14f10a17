package graft

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** A CacheScope releases what was cached or pinned while it was open — on
  * return and on throw — and nothing else. */
class CacheScopeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def cached(ds: org.apache.spark.sql.Dataset[_]): Boolean =
    ds.storageLevel != StorageLevel.NONE
  // tiny frames; a distinct literal per test keeps their plans (and so
  // their plan-cache entries) apart
  private def frame(tag: Long) = spark.range(4).selectExpr(s"id + $tag AS v")

  test("registered frames are released on return") {
    val before = persisted
    val (a, b) = CacheScope(spark) {
      val a = CacheScope.cache(frame(1))
      val b = CacheScope.persist(frame(2), StorageLevel.MEMORY_AND_DISK)
      assert(a.count() == 4 && b.count() == 4)
      assert(cached(a) && cached(b) && persisted.size == before.size + 2)
      (a, b)
    }
    assert(!cached(a) && !cached(b))
    assert(persisted == before)
  }

  test("registered frames are released on throw") {
    val before = persisted
    var a: org.apache.spark.sql.DataFrame = null
    val e = intercept[IllegalStateException] {
      CacheScope(spark) {
        a = CacheScope.cache(frame(3))
        a.count()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(!cached(a))
    assert(persisted == before)
  }

  test("an unregistered rdd.persist() made inside the scope is swept") {
    val before = persisted
    val rdd = CacheScope(spark) {
      val rdd = spark.sparkContext.parallelize(1 to 8, 2).persist()
      assert(rdd.count() == 8 && persisted == before + rdd.id)
      rdd
    }
    assert(rdd.getStorageLevel == StorageLevel.NONE)
    assert(persisted == before)
  }

  test("with no scope open, CacheScope.cache is a plain cache and releases nothing") {
    assert(CacheScope.innermost.isEmpty)
    val a = CacheScope.cache(frame(4))
    try {
      assert(a.count() == 4)
      CacheScope(spark)(()) // an unrelated scope opened and closed later
      assert(cached(a))
    } finally a.unpersist(true)
  }

  test("an inner scope releases only its own frames and RDDs") {
    val before = persisted
    CacheScope(spark) {
      val outer = CacheScope.cache(frame(5))
      val outerRdd = spark.sparkContext.parallelize(1 to 4, 1).persist()
      outer.count(); outerRdd.count() // materialized before the inner scope opens
      val inner = CacheScope(spark) {
        val inner = CacheScope.cache(frame(6))
        inner.count()
        spark.sparkContext.parallelize(1 to 4, 1).persist().count()
        inner
      }
      assert(!cached(inner))
      assert(cached(outer) && outerRdd.getStorageLevel != StorageLevel.NONE)
      assert(persisted.size == before.size + 2)
    }
    assert(persisted == before)
  }

  test("closing a scope on another thread is rejected") {
    val before = persisted
    CacheScope(spark) {
      val scope = CacheScope.innermost.get
      CacheScope.cache(frame(7)).count()
      var err: Throwable = null
      val t = new Thread(() => err = scala.util.Try(scope.close()).failed.getOrElse(null))
      t.start(); t.join()
      assert(err.isInstanceOf[IllegalStateException])
      assert(err.getMessage.contains("cannot close on"))
      assert(CacheScope.innermost.contains(scope))
      assert(persisted.size == before.size + 1)
    }
    assert(CacheScope.innermost.isEmpty)
    assert(persisted == before)
  }
}
