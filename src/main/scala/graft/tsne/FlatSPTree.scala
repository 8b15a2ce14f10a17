package graft.tsne

import java.util.Arrays

/** Barnes-Hut space-partitioning tree (quad/oct tree for d dims) as four
  * primitive arrays, which [[BHTSNE]] builds on the driver each iteration
  * and broadcasts with Y: serializing them is a memcpy, where Kryo took
  * ~140 ms at n=16k to walk a pointer tree's ~10⁵ node objects.
  * Build conventions (reference SPTree.scala:28-79):
  *  - the root cell is the per-dim min/max box of Y, widths floored at 1e-10;
  *  - rows are inserted in row order; every node on the path updates its
  *    running center of mass (com·s + p)/(s+1);
  *  - the child cell is, per dim, `ceil(rel) − 1` clamped to {0, 1}, dim 0
  *    the most significant bit: a point exactly on a split midpoint goes to
  *    the LOWER cell, a point on the outer edge clamps into the top cell;
  *  - a leaf adds multiplicity instead of splitting when the new point
  *    equals its point or its cell is narrower than 1e-10 in every dim; on
  *    a split, the leaf's point (all its copies) goes down before the new one.
  * A subdivided node's 2^d children are consecutive slots, allocated when
  * it splits; the traversal goes by child index, so the forces do not depend
  * on slot order. The pointer `SPTree` of the test sources is the reference:
  * FlatSPTreeSpec asserts the same node count and bit-identical forces.
  */
final class FlatSPTree private (
    val dim: Int,
    val com: Array[Double],       // nodeCount × dim centers of mass
    val radius2: Array[Double],   // nodeCount, Σ width(k)²
    val cumSize: Array[Int],      // nodeCount
    val childBase: Array[Int])    // nodeCount, first-child index or -1 (leaf)
    extends Serializable {

  /** Repulsive forces for target point y, reference
    * TSNEGradient.computeNonEdgeForce (:99-137): use a cell whole when it
    * is a leaf or radius²/dist² < θ (criterion at :128, NOT θ²). Adds
    * cumSize·q²·(y−com) into negF at off, so a task can accumulate its
    * rows into a partition-local buffer; returns Σ cumSize·q. */
  def nonEdgeForces(y: Array[Double], theta: Double, negF: Array[Double], off: Int): Double =
    nonEdge(0, y, theta, negF, off)

  private def nonEdge(
      node: Int, y: Array[Double], theta: Double,
      negF: Array[Double], off: Int): Double = {
    val size = cumSize(node)
    if (size == 0) return 0.0
    val base = node * dim
    var dist2 = 0.0
    var k = 0
    while (k < dim) {
      val d = y(k) - com(base + k)
      dist2 += d * d
      k += 1
    }
    val leaf = childBase(node) < 0
    if (leaf && dist2 == 0.0) return 0.0 // the target point itself

    if (leaf || radius2(node) / dist2 < theta) {
      val q = 1.0 / (1.0 + dist2)
      val mult = size * q * q
      k = 0
      while (k < dim) { negF(off + k) += mult * (y(k) - com(base + k)); k += 1 }
      size * q
    } else {
      var sumQ = 0.0
      var ci = 0
      while (ci < (1 << dim)) { sumQ += nonEdge(childBase(node) + ci, y, theta, negF, off); ci += 1 }
      sumQ
    }
  }
}

object FlatSPTree {

  /** Build over an n×d row-major flat embedding, in one pass. */
  def build(y: Array[Double], n: Int, d: Int): FlatSPTree = {
    val lo = Array.fill(d)(Double.PositiveInfinity)
    val hi = Array.fill(d)(Double.NegativeInfinity)
    var i = 0
    while (i < n * d) {
      if (y(i) < lo(i % d)) lo(i % d) = y(i)
      if (y(i) > hi(i % d)) hi(i % d) = y(i)
      i += 1
    }
    val b = new Nodes(y, d, lo, Array.tabulate(d)(k => math.max(hi(k) - lo(k), 1e-10)), n)
    i = 0
    while (i < n) { b.insert(i); i += 1 }
    b.result()
  }

  /** Growable node arrays. A leaf's point is a row of y (-1: empty leaf);
    * its multiplicity is its cumSize. An insert keeps the cell of the node
    * it has reached in `corner` and `width`. */
  private final class Nodes(
      y: Array[Double], d: Int, rootCorner: Array[Double], rootWidth: Array[Double], n: Int) {
    private val nc = 1 << d
    private var nodes = 0
    private var com = new Array[Double]((nc * n + 1) * d)
    private var radius2 = new Array[Double](nc * n + 1)
    private var cumSize = new Array[Int](nc * n + 1)
    private var childBase = new Array[Int](nc * n + 1)
    private var point = new Array[Int](nc * n + 1)
    private val corner = new Array[Double](d)
    private val width = new Array[Double](d)
    alloc(1, sumSq(rootWidth, 1.0))

    /** `count` empty leaves of radius² r2 in consecutive slots; the first. */
    private def alloc(count: Int, r2: Double): Int = {
      val first = nodes
      nodes += count
      if (nodes > cumSize.length) {
        val cap = math.max(nodes, 2 * cumSize.length)
        com = Arrays.copyOf(com, cap * d)
        radius2 = Arrays.copyOf(radius2, cap)
        cumSize = Arrays.copyOf(cumSize, cap)
        childBase = Arrays.copyOf(childBase, cap)
        point = Arrays.copyOf(point, cap)
      }
      Arrays.fill(radius2, first, nodes, r2)
      Arrays.fill(childBase, first, nodes, -1)
      Arrays.fill(point, first, nodes, -1)
      first
    }

    private def sumSq(w: Array[Double], scale: Double): Double =
      w.map(x => (x * scale) * (x * scale)).sum

    def insert(p: Int): Unit = {
      System.arraycopy(rootCorner, 0, corner, 0, d)
      System.arraycopy(rootWidth, 0, width, 0, d)
      var node = 0
      while (node >= 0) {
        addMass(node, p)
        if (childBase(node) < 0 && (point(node) < 0 || sameOrNarrow(point(node), p))) {
          if (point(node) < 0) point(node) = p
          node = -1
        } else {
          if (childBase(node) < 0) split(node)
          val ci = cell(p)
          var k = 0
          while (k < d) {
            width(k) /= 2.0
            corner(k) += ((ci >> (d - 1 - k)) & 1) * width(k)
            k += 1
          }
          node = childBase(node) + ci
        }
      }
    }

    private def addMass(node: Int, p: Int): Unit = {
      val s = cumSize(node)
      var k = 0
      while (k < d) { com(node * d + k) = (com(node * d + k) * s + y(p * d + k)) / (s + 1); k += 1 }
      cumSize(node) = s + 1
    }

    /** The child of the current cell that holds row p. */
    private def cell(p: Int): Int = {
      var idx = 0
      var k = 0
      while (k < d) {
        val rel = (y(p * d + k) - corner(k)) / (width(k) / 2.0)
        idx = idx * 2 + math.min(1, math.max(0, math.ceil(rel).toInt - 1))
        k += 1
      }
      idx
    }

    private def sameOrNarrow(q: Int, p: Int): Boolean =
      (0 until d).forall(k => y(q * d + k) == y(p * d + k)) || width.max < 1e-10

    /** Gives the current leaf its 2^d children and moves its point's copies
      * (all but the new point, which addMass has counted) into the empty
      * child their cell picks. */
    private def split(node: Int): Unit = {
      val base = alloc(nc, sumSq(width, 0.5)) // may grow the arrays
      childBase(node) = base
      val old = point(node)
      point(node) = -1
      val c = base + cell(old)
      var m = 1
      while (m < cumSize(node)) { addMass(c, old); m += 1 }
      point(c) = old
    }

    def result(): FlatSPTree =
      new FlatSPTree(d, Arrays.copyOf(com, nodes * d), Arrays.copyOf(radius2, nodes),
        Arrays.copyOf(cumSize, nodes), Arrays.copyOf(childBase, nodes))
  }
}
