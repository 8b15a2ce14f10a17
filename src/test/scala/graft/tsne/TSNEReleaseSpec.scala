package graft.tsne

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Every t-SNE driver releases the adjacency it caches — on return and
  * when the fit fails midway (here: the callback throws at iteration 2). */
class TSNEReleaseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private lazy val points = {
    val rng = new java.util.Random(3)
    spark.createDataFrame((0 until 60).map(i => (i.toLong, Array.fill(8)(rng.nextGaussian()))))
      .toDF("vec_id", "embedding")
  }
  private val params = TSNEParams(maxIterations = 4, earlyExaggeration = 2, perplexity = 10)

  private val drivers: Seq[(String, (DataFrame, TSNE.Callback) => DataFrame)] = Seq(
    "SimpleTSNE" -> ((p, cb) => SimpleTSNE.tsne(p, "vec_id", "embedding", params, cb)),
    "BHTSNE" -> ((p, cb) => BHTSNE.tsne(p, "vec_id", "embedding", params, cb)),
    "LBFGSTSNE" -> ((p, cb) => LBFGSTSNE.tsne(p, "vec_id", "embedding", params, cb)))

  for ((name, fit) <- drivers) {
    test(s"$name leaves the persistent RDDs as it found them on return") {
      val before = persisted
      assert(fit(points, TSNE.NoopCallback).count() == 60)
      assert(persisted == before)
    }

    test(s"$name leaves the persistent RDDs as it found them when the callback throws") {
      val before = persisted
      val e = intercept[IllegalStateException] {
        fit(points, (it, _, _) => if (it == 2) throw new IllegalStateException("stop at 2"))
      }
      assert(e.getMessage == "stop at 2")
      assert(persisted == before)
    }
  }

  test("prepareAffinities returns the one cached adjacency RDD") {
    val before = persisted
    val (rdd, n, idMap) = TSNE.prepareAffinities(points, "vec_id", "embedding", params)
    try {
      assert(n == 60 && idMap.length == 60)
      assert(rdd.getStorageLevel != StorageLevel.NONE)
      assert(persisted == before + rdd.id)
    } finally rdd.unpersist()
    assert(persisted == before)
  }
}
