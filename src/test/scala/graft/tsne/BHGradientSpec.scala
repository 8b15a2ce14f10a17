package graft.tsne

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** One distributed BH iteration (`BHTSNE.gradient`: one broadcast, one
  * job, row-local partial forces scattered by row index) against a
  * driver-local loop over the same rows, built from the same FlatSPTree
  * and kernels. Rows are shuffled so that partition order ≠ index order,
  * and one point has no adjacency row (its dY must stay 0). */
class BHGradientSpec extends AnyFunSuite {
  private val n = 400
  private val d = 2
  private val theta = 0.5
  private val exag = 12.0
  private val absent = 17

  private val rng = new java.util.Random(7)
  private val y = Array.fill(n * d)(rng.nextGaussian() * 3)
  private val rows: Seq[AffRow] = {
    val rs = (0 until n).filter(_ != absent).map { i =>
      val js = (0 until 8).map(_ => rng.nextInt(n)).filter(_ != i).distinct.sorted.toArray
      AffRow(i, js, js.map(_ => rng.nextDouble() / n))
    }
    new scala.util.Random(11).shuffle(rs)
  }

  /** (dY, sumQ, raw loss) summed on the driver in `rows` order. */
  private def reference(): (Array[Double], Double, Double) = {
    val tree = FlatSPTree.build(y, n, d)
    val posF = new Array[Double](n * d)
    val negF = new Array[Double](n * d)
    var sumQ = 0.0
    var loss = 0.0
    rows.foreach { r =>
      sumQ += tree.nonEdgeForces(TSNEKernels.rowOf(y, d, r.i), theta, negF, r.i * d)
      loss += TSNEKernels.edgeForcesRow(y, d, r, exag, posF, r.i * d, wantLoss = true)
    }
    (Array.tabulate(n * d)(k => posF(k) - negF(k) / sumQ), sumQ, loss)
  }

  private def distributed(parts: Int): (Array[Double], Double, Double) = {
    val rdd = TestSpark.spark.sparkContext.parallelize(rows, parts)
    BHTSNE.gradient(rdd, y, n, d, theta, exag, wantLoss = true)
  }

  test("one partition: dY, sumQ and loss are bit-identical to the driver loop") {
    val (dY, sumQ, loss) = distributed(1)
    val (rY, rQ, rLoss) = reference()
    assert(rY.slice(absent * d, absent * d + d).forall(_ == 0.0))
    (0 until n * d).foreach { k =>
      assert(java.lang.Double.doubleToRawLongBits(dY(k)) ==
        java.lang.Double.doubleToRawLongBits(rY(k)), s"coord $k: ${dY(k)} vs ${rY(k)}")
    }
    assert(java.lang.Double.doubleToRawLongBits(sumQ) == java.lang.Double.doubleToRawLongBits(rQ))
    assert(java.lang.Double.doubleToRawLongBits(loss) == java.lang.Double.doubleToRawLongBits(rLoss))
  }

  test("four partitions: dY, sumQ and loss match the driver loop within 1e-12") {
    val (dY, sumQ, loss) = distributed(4)
    val (rY, rQ, rLoss) = reference()
    def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-12 * math.abs(b)
    (0 until n * d).foreach { k =>
      assert(close(dY(k), rY(k)), s"coord $k: ${dY(k)} vs ${rY(k)}")
    }
    assert(close(sumQ, rQ), s"sumQ $sumQ vs $rQ")
    assert(close(loss, rLoss), s"loss $loss vs $rLoss")
  }
}
