package graft.tsne

import org.scalatest.funsuite.AnyFunSuite

class SPTreeSpec extends AnyFunSuite {

  private val rng = new scala.util.Random(7)

  private def randomY(n: Int, d: Int): Array[Double] =
    Array.fill(n * d)(rng.nextDouble() * 10 - 5)

  /** Recursive invariant check (reference SPTreeSpec verifyCorrectness
    * semantics): count conservation, center-of-mass consistency, leaf
    * shape, child geometry. Returns (count, mass-weighted com). */
  private def verify(t: SPTree): (Int, Array[Double]) = {
    if (t.isLeaf) {
      if (t.point == null) assert(t.cumSize == 0)
      else assert(t.cumSize == t.pointMult)
      (t.cumSize, Array.tabulate(t.dim)(k => t.centerOfMass(k) * t.cumSize))
    } else {
      assert(t.children.length == (1 << t.dim))
      var count = 0
      val com = new Array[Double](t.dim)
      for (c <- t.children) {
        for (k <- 0 until t.dim) {
          assert(math.abs(c.width(k) - t.width(k) / 2) < 1e-12)
          assert(c.corner(k) >= t.corner(k) - 1e-12)
        }
        val (cc, ccom) = verify(c)
        count += cc
        for (k <- 0 until t.dim) com(k) += ccom(k)
      }
      assert(count == t.cumSize, "child counts must sum to parent count")
      for (k <- 0 until t.dim)
        assert(math.abs(com(k) / math.max(count, 1) - t.centerOfMass(k)) < 1e-5,
          "center of mass must equal weighted child centers")
      (count, Array.tabulate(t.dim)(k => t.centerOfMass(k) * t.cumSize))
    }
  }

  test("build invariants on 200 random 2-D points") {
    val n = 200
    val y = randomY(n, 2)
    val t = SPTree.build(y, n, 2)
    assert(t.cumSize == n)
    verify(t)
  }

  test("build invariants in 3-D (octree: 8 children)") {
    val n = 100
    val y = randomY(n, 3)
    val t = SPTree.build(y, n, 3)
    assert(t.cumSize == n)
    verify(t)
  }

  test("midpoint goes to the lower cell; outer edge clamps to top cell") {
    val t = new SPTree(2, Array(0.0, 0.0), Array(2.0, 4.0))
    // midpoints of the two dims are (1, 2): exactly-on-split → lower (bit 0)
    assert(t.cellIndex(Array(1.0, 2.0)) == 0)
    assert(t.cellIndex(Array(1.0000001, 2.0)) == 2)   // x past midpoint → upper x
    assert(t.cellIndex(Array(1.0, 2.0000001)) == 1)   // y past midpoint → upper y
    assert(t.cellIndex(Array(0.0, 0.0)) == 0)         // corner → lower
    assert(t.cellIndex(Array(2.0, 4.0)) == 3)         // outer edge → top, clamped
  }

  test("duplicate points accumulate in one leaf instead of splitting") {
    val y = Array(1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 2.0, 2.0)
    val t = SPTree.build(y, 4, 2)
    assert(t.cumSize == 4)
    assert(t.depth < 60, "must not recurse unboundedly on duplicates")
    verify(t)
  }

  /** nonEdgeForces of the reference tree and of the production flat tree. */
  private def forces(y: Array[Double], n: Int, d: Int)
      : Seq[(String, (Array[Double], Double, Array[Double], Int) => Double)] = {
    val tree = SPTree.build(y, n, d)
    val flat = FlatSPTree.build(y, n, d)
    Seq("SPTree" -> tree.nonEdgeForces, "FlatSPTree" -> flat.nonEdgeForces)
  }

  test("nonEdgeForces with theta=0 equals brute-force repulsion") {
    val n = 50
    val d = 2
    val y = randomY(n, d)
    for ((name, nonEdgeForces) <- forces(y, n, d); i <- 0 until n) {
      val yi = TSNEKernels.rowOf(y, d, i)
      val negF = new Array[Double](n * d)
      val sumQ = nonEdgeForces(yi, 0.0, negF, i * d)

      var bfSumQ = 0.0
      val bfNeg = new Array[Double](d)
      for (j <- 0 until n if j != i) {
        var dist2 = 0.0
        for (k <- 0 until d) { val df = yi(k) - y(j * d + k); dist2 += df * df }
        val q = 1.0 / (1.0 + dist2)
        bfSumQ += q
        for (k <- 0 until d) bfNeg(k) += q * q * (yi(k) - y(j * d + k))
      }
      assert(math.abs(sumQ - bfSumQ) < 1e-9, s"$name sumQ row $i")
      for (k <- 0 until d)
        assert(math.abs(negF(i * d + k) - bfNeg(k)) < 1e-9, s"$name negF row $i dim $k")
    }
  }

  test("theta=0.5 approximates brute force within a few percent") {
    val n = 300
    val d = 2
    val y = randomY(n, d)
    var exactQ = 0.0
    for (i <- 0 until n; j <- 0 until n if j != i) {
      var dist2 = 0.0
      for (k <- 0 until d) { val df = y(i * d + k) - y(j * d + k); dist2 += df * df }
      exactQ += 1.0 / (1.0 + dist2)
    }
    for ((name, nonEdgeForces) <- forces(y, n, d)) {
      var approxQ = 0.0
      val negF = new Array[Double](n * d)
      for (i <- 0 until n)
        approxQ += nonEdgeForces(TSNEKernels.rowOf(y, d, i), 0.5, negF, i * d)
      assert(math.abs(approxQ - exactQ) / exactQ < 0.05,
        s"$name BH sumQ $approxQ vs exact $exactQ")
    }
  }
}
