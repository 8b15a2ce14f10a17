package graft.tsne

/** Barnes-Hut space-partitioning tree (quad/oct tree for d dims) as a
  * pointer tree of node objects: the test reference for the production
  * [[FlatSPTree]]. SPTreeSpec checks its invariants; FlatSPTreeSpec,
  * GradientSpec and BhCostProbeSpec compare the flat tree against it
  * (same node count, bit-identical forces).
  *
  * Conventions preserved from the reference (SPTree.scala:54-55,
  * SPTreeSpec.scala:27-32): a point exactly on a split midpoint goes to
  * the LOWER cell; a point on the outer edge clamps into the top cell.
  * Exact duplicate points accumulate in one leaf (insert guard,
  * SPTree.scala:35) instead of splitting forever.
  */
final class SPTree(val dim: Int, val corner: Array[Double], val width: Array[Double])
    extends Serializable {

  val centerOfMass: Array[Double] = new Array[Double](dim)
  var cumSize: Int = 0
  var isLeaf: Boolean = true
  /** leaf payload: one distinct point (possibly with multiplicity) */
  var point: Array[Double] = _
  var pointMult: Int = 0
  var children: Array[SPTree] = _

  private def sameAs(p: Array[Double]): Boolean = {
    var k = 0
    while (k < dim) { if (point(k) != p(k)) return false; k += 1 }
    true
  }

  /** Child cell index: per-dim `ceil(rel) − 1` clamped — midpoint → lower
    * cell, outer edge → top cell (reference getCell convention). */
  def cellIndex(p: Array[Double]): Int = {
    var idx = 0
    var k = 0
    while (k < dim) {
      val rel = (p(k) - corner(k)) / (width(k) / 2.0)
      val c = math.min(1, math.max(0, math.ceil(rel).toInt - 1))
      idx = idx * 2 + c
      k += 1
    }
    idx
  }

  private def subdivide(): Unit = {
    children = Array.tabulate(1 << dim) { ci =>
      val c = new Array[Double](dim)
      val w = new Array[Double](dim)
      var k = 0
      var rem = ci
      // decode child index back to per-dim bit (same order as cellIndex)
      val bits = new Array[Int](dim)
      k = dim - 1
      while (k >= 0) { bits(k) = rem % 2; rem /= 2; k -= 1 }
      k = 0
      while (k < dim) {
        w(k) = width(k) / 2.0
        c(k) = corner(k) + bits(k) * w(k)
        k += 1
      }
      new SPTree(dim, c, w)
    }
    isLeaf = false
  }

  def insert(p: Array[Double]): Unit = {
    // center-of-mass and count update on every node along the path
    var k = 0
    while (k < dim) {
      centerOfMass(k) = (centerOfMass(k) * cumSize + p(k)) / (cumSize + 1)
      k += 1
    }
    cumSize += 1

    if (isLeaf) {
      if (point == null) {
        point = p.clone()
        pointMult = 1
      } else if (sameAs(p) || width.max < 1e-10) {
        // duplicate (or cell degenerate): accumulate, never split
        pointMult += 1
      } else {
        subdivide()
        val old = point
        val oldMult = pointMult
        point = null
        pointMult = 0
        var m = 0
        while (m < oldMult) { children(cellIndex(old)).insertDown(old); m += 1 }
        children(cellIndex(p)).insertDown(p)
      }
    } else {
      children(cellIndex(p)).insertDown(p)
    }
  }

  private def insertDown(p: Array[Double]): Unit = insert(p)

  /** Repulsive (non-edge) forces for target point y, reference
    * TSNEGradient.computeNonEdgeForce (:99-137): use a cell whole when it
    * is a leaf or radius²/dist² < θ (criterion at :128, NOT θ²). Adds
    * cumSize·q·q·(y−com) into negF; returns this subtree's Σ cumSize·q. */
  def nonEdgeForces(y: Array[Double], theta: Double, negF: Array[Double], off: Int): Double = {
    if (cumSize == 0) return 0.0
    var dist2 = 0.0
    var k = 0
    while (k < dim) {
      val d = y(k) - centerOfMass(k)
      dist2 += d * d
      k += 1
    }
    if (isLeaf && dist2 == 0.0) return 0.0 // the target point itself

    var radius2 = 0.0
    k = 0
    while (k < dim) { radius2 += width(k) * width(k); k += 1 }

    if (isLeaf || radius2 / dist2 < theta) {
      val q = 1.0 / (1.0 + dist2)
      val mult = cumSize * q * q
      k = 0
      while (k < dim) { negF(off + k) += mult * (y(k) - centerOfMass(k)); k += 1 }
      cumSize * q
    } else {
      var sumQ = 0.0
      var ci = 0
      while (ci < children.length) {
        sumQ += children(ci).nonEdgeForces(y, theta, negF, off)
        ci += 1
      }
      sumQ
    }
  }

  /** Tree invariants for tests: returns total point count under this node. */
  def depth: Int = if (isLeaf) 1 else 1 + children.map(_.depth).max
}

object SPTree {

  /** Build over an n×d row-major flat embedding. Bounding box = exact
    * min/max per dim (reference SPTree.scala:63-79). */
  def build(y: Array[Double], n: Int, d: Int): SPTree = {
    val lo = Array.fill(d)(Double.PositiveInfinity)
    val hi = Array.fill(d)(Double.NegativeInfinity)
    var i = 0
    while (i < n) {
      var k = 0
      while (k < d) {
        val v = y(i * d + k)
        if (v < lo(k)) lo(k) = v
        if (v > hi(k)) hi(k) = v
        k += 1
      }
      i += 1
    }
    val width = Array.tabulate(d)(k => math.max(hi(k) - lo(k), 1e-10))
    val tree = new SPTree(d, lo, width)
    i = 0
    val p = new Array[Double](d)
    while (i < n) {
      var k = 0
      while (k < d) { p(k) = y(i * d + k); k += 1 }
      tree.insert(p)
      i += 1
    }
    tree
  }
}
