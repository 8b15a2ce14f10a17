package graft.tsne

import org.scalatest.funsuite.AnyFunSuite

/** Analytic gradient vs central finite differences on a tiny instance
  * (SURVEY §5 test plan item 1). */
class GradientSpec extends AnyFunSuite {

  private val n = 6
  private val d = 2
  private val rng = new scala.util.Random(11)

  // symmetric sparse P over all pairs, normalized to sum 1
  private val rawP = Array.tabulate(n, n) { (i, j) =>
    if (i == j) 0.0 else 1.0 + rng.nextDouble()
  }
  private val symP = Array.tabulate(n, n) { (i, j) => (rawP(i)(j) + rawP(j)(i)) / 2 }
  private val total = symP.map(_.sum).sum
  private val p = symP.map(_.map(_ / total))

  private def rows: Seq[AffRow] = (0 until n).map { i =>
    AffRow(i, (0 until n).filter(_ != i).toArray,
      (0 until n).filter(_ != i).map(j => p(i)(j)).toArray)
  }

  private def sumZ(y: Array[Double]): Double =
    (0 until n).map(i => TSNEKernels.rowNumeratorSum(y, n, d, i)).sum

  /** KL(P‖Q) with q_ij = num_ij / Z, clamped like the kernel. */
  private def loss(y: Array[Double]): Double = {
    val z = sumZ(y)
    var l = 0.0
    for (i <- 0 until n; j <- 0 until n if i != j) {
      var dist2 = 0.0
      for (k <- 0 until d) { val df = y(i * d + k) - y(j * d + k); dist2 += df * df }
      val q = math.max((1.0 / (1.0 + dist2)) / z, TSNEKernels.Clamp)
      l += p(i)(j) * math.log(math.max(p(i)(j), TSNEKernels.Clamp) / q)
    }
    l
  }

  test("exact gradient matches central finite differences") {
    val y = Array.fill(n * d)(rng.nextGaussian() * 0.1)
    val z = sumZ(y)
    val dY = new Array[Double](n * d)
    rows.foreach(r => TSNEKernels.exactGradientRow(y, n, d, r, z, 1.0, dY))

    val eps = 1e-6
    for (k <- 0 until n * d) {
      val yp = y.clone(); yp(k) += eps
      val ym = y.clone(); ym(k) -= eps
      val numGrad = (loss(yp) - loss(ym)) / (2 * eps)
      assert(math.abs(dY(k) - numGrad) < 1e-4 * math.max(1.0, math.abs(numGrad)),
        s"coord $k: analytic ${dY(k)} vs numeric $numGrad")
    }
  }

  test("consistent exaggerated objective (repulseScale=exag) matches FD") {
    // the LBFGS contract: with P̃ = exag·P, (loss, grad) must be a true
    // (objective, derivative) pair — unlike the momentum drivers' trick
    val exag = 4.0
    def lossExag(y: Array[Double]): Double = {
      val z = sumZ(y)
      var l = 0.0
      for (i <- 0 until n; j <- 0 until n if i != j) {
        var dist2 = 0.0
        for (k <- 0 until d) { val df = y(i * d + k) - y(j * d + k); dist2 += df * df }
        val q = math.max((1.0 / (1.0 + dist2)) / z, TSNEKernels.Clamp)
        val pt = p(i)(j) * exag
        l += pt * math.log(math.max(pt, TSNEKernels.Clamp) / q)
      }
      l
    }
    val y = Array.fill(n * d)(rng.nextGaussian() * 0.1)
    val z = sumZ(y)
    val dY = new Array[Double](n * d)
    rows.foreach(r =>
      TSNEKernels.exactGradientRow(y, n, d, r, z, exag, dY, repulseScale = exag))
    val eps = 1e-6
    for (k <- 0 until n * d) {
      val yp = y.clone(); yp(k) += eps
      val ym = y.clone(); ym(k) -= eps
      val numGrad = (lossExag(yp) - lossExag(ym)) / (2 * eps)
      assert(math.abs(dY(k) - numGrad) < 1e-4 * math.max(1.0, math.abs(numGrad)),
        s"coord $k: analytic ${dY(k)} vs numeric $numGrad")
    }
  }

  test("BH forces at theta=0 reproduce the exact gradient") {
    val y = Array.fill(n * d)(rng.nextGaussian() * 0.1)
    val z = sumZ(y)
    val dYexact = new Array[Double](n * d)
    rows.foreach(r => TSNEKernels.exactGradientRow(y, n, d, r, z, 1.0, dYexact))

    // the reference pointer tree and the production flat tree
    val trees: Seq[(String, (Array[Double], Double, Array[Double], Int) => Double)] =
      Seq("SPTree" -> SPTree.build(y, n, d).nonEdgeForces,
        "FlatSPTree" -> FlatSPTree.build(y, n, d).nonEdgeForces)
    for ((name, nonEdgeForces) <- trees) {
      val posF = new Array[Double](n * d)
      val negF = new Array[Double](n * d)
      var sumQ = 0.0
      rows.foreach { r =>
        sumQ += nonEdgeForces(TSNEKernels.rowOf(y, d, r.i), 0.0, negF, r.i * d)
        TSNEKernels.edgeForcesRow(y, d, r, 1.0, posF, r.i * d, wantLoss = false)
      }
      for (k <- 0 until n * d) {
        val bh = 4.0 * (posF(k) - negF(k) / sumQ)
        assert(math.abs(bh - dYexact(k)) < 1e-6 * math.max(1.0, math.abs(dYexact(k))),
          s"$name coord $k: BH $bh vs exact ${dYexact(k)}")
      }
    }
  }
}
