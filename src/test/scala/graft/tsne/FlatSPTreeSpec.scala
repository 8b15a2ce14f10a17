package graft.tsne

import org.scalatest.funsuite.AnyFunSuite

/** The production flat tree must equal the pointer reference [[SPTree]]
  * node for node in count and force for force in value — same traversal
  * order, same floating-point results — at every theta. */
class FlatSPTreeSpec extends AnyFunSuite {

  private val rng = new scala.util.Random(11)

  private def uniform(n: Int, d: Int): Array[Double] =
    Array.fill(n * d)(rng.nextDouble() * 10 - 5)

  private def nodes(t: SPTree): Int =
    if (t.isLeaf) 1 else 1 + t.children.map(nodes).sum

  private def check(y: Array[Double], d: Int, thetas: Double*): Unit = {
    val n = y.length / d
    val tree = SPTree.build(y, n, d)
    val flat = FlatSPTree.build(y, n, d)
    val (flatNodes, treeNodes) = (flat.cumSize.length, nodes(tree))
    assert(flatNodes == treeNodes, s"node count (n=$n, d=$d)")
    for (theta <- thetas; i <- 0 until n) {
      val yi = TSNEKernels.rowOf(y, d, i)
      val negT = new Array[Double](d)
      val negF = new Array[Double](d)
      val qT = tree.nonEdgeForces(yi, theta, negT, 0)
      val qF = flat.nonEdgeForces(yi, theta, negF, 0)
      assert(qT == qF, s"sumQ mismatch row $i (n=$n, theta=$theta)")
      assert(negT.sameElements(negF), s"negF mismatch row $i (n=$n, theta=$theta)")
    }
  }

  test("flat ≡ pointer tree, 2-D, theta 0 / 0.5 / 1") {
    check(uniform(200, 2), 2, 0.0, 0.5, 1.0)
    // the scale BHTSNE starts from (gaussianInit × 1e-4)
    check(Array.fill(2000 * 2)(rng.nextGaussian() * 1e-4), 2, 0.0, 0.5, 1.0)
  }

  test("flat ≡ pointer tree, 3-D octree") {
    check(uniform(120, 3), 3, 0.5)
  }

  test("flat ≡ pointer tree with duplicate points") {
    check(Array(1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 2.0, 2.0, -3.0, 4.0), 2, 0.5)
    // all identical: the root is never split (the 1e-10 width floor)
    check(Array.fill(10 * 2)(0.7), 2, 0.0, 0.5)
    // an integer grid with repeats: points on split midpoints and the
    // outer edges, and leaves of multiplicity > 1 that split
    check(Array.fill(400 * 2)(rng.nextInt(5).toDouble * 2), 2, 0.0, 0.5, 1.0)
    // 100 points three times each, then a close neighbour of each: every
    // neighbour splits a leaf of multiplicity 3 down many levels, where
    // the order of insertion shows in the centers of mass
    val a = uniform(100, 2)
    check(a.grouped(2).flatMap(p => p ++ p ++ p).toArray ++ a.map(_ + rng.nextDouble() * 1e-3),
      2, 0.0, 0.5, 1.0)
  }
}
