package graft.tsne

/** Struct-of-arrays form of [[SPTree]]: [[BHTSNE]] builds one on the
  * driver each iteration and broadcasts it together with a copy of Y, in
  * the iteration's single broadcast.
  *
  * The pointer tree costs ~21 ms to build at n=16k but ~140 ms to
  * broadcast: Kryo walks ~10⁵ small node objects every iteration
  * (measured in BhCostProbeSpec). This form is four primitive arrays —
  * serialization is a memcpy — and the executor-side traversal is the
  * same Barnes-Hut criterion over indices (children of a subdivided node
  * are 2^d consecutive slots, DFS order for locality; radius² is
  * precomputed per node instead of per visit). `nonEdgeForces` writes at
  * a caller-given offset, so a task accumulates its rows' repulsive
  * forces into a partition-local buffer, not an n×d one.
  *
  * Built FROM the verified pointer tree, so all build conventions
  * (midpoint→lower cell, duplicate accumulation, bbox) are inherited;
  * FlatSPTreeSpec asserts force-for-force equality with [[SPTree]].
  */
final class FlatSPTree(
    val dim: Int,
    val com: Array[Double],       // nodeCount × dim centers of mass
    val radius2: Array[Double],   // nodeCount, Σ width(k)²
    val cumSize: Array[Int],      // nodeCount
    val childBase: Array[Int])    // nodeCount, first-child index or -1 (leaf)
    extends Serializable {

  /** Same contract as SPTree.nonEdgeForces: adds cumSize·q²·(y−com) into
    * negF at off, returns Σ cumSize·q. */
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
      val cb = childBase(node)
      var ci = 0
      val nc = 1 << dim
      while (ci < nc) {
        sumQ += nonEdge(cb + ci, y, theta, negF, off)
        ci += 1
      }
      sumQ
    }
  }
}

object FlatSPTree {

  /** Flatten a built pointer tree (DFS preorder; a subdivided node's 2^d
    * children occupy consecutive slots): one walk counts the nodes, a
    * second fills exact-size primitive arrays. */
  def from(t: SPTree): FlatSPTree = {
    val d = t.dim
    def count(node: SPTree): Int =
      if (node.isLeaf) 1 else { var c = 1; node.children.foreach(ch => c += count(ch)); c }
    val nodes = count(t)
    val com = new Array[Double](nodes * d)
    val radius2 = new Array[Double](nodes)
    val cumSize = new Array[Int](nodes)
    val childBase = Array.fill(nodes)(-1)
    var next = 0

    def alloc(node: SPTree): Int = {
      val idx = next
      next += 1
      var r2 = 0.0
      var k = 0
      while (k < d) {
        com(idx * d + k) = node.centerOfMass(k)
        r2 += node.width(k) * node.width(k)
        k += 1
      }
      radius2(idx) = r2
      cumSize(idx) = node.cumSize
      idx
    }

    def walk(node: SPTree, idx: Int): Unit =
      if (!node.isLeaf) {
        // allocate all children contiguously, then descend
        val base = alloc(node.children(0))
        var ci = 1
        while (ci < node.children.length) { alloc(node.children(ci)); ci += 1 }
        childBase(idx) = base
        ci = 0
        while (ci < node.children.length) { walk(node.children(ci), base + ci); ci += 1 }
      }

    walk(t, alloc(t))
    new FlatSPTree(d, com, radius2, cumSize, childBase)
  }

  /** Build directly from an embedding (the BHTSNE per-iteration path). */
  def build(y: Array[Double], n: Int, d: Int): FlatSPTree =
    from(SPTree.build(y, n, d))
}
