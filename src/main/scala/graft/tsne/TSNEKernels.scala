package graft.tsne

/** Numeric kernels for the gradient aggregations (reference
  * TSNEGradient.scala). Plain flat-array loops: the hot state is n×d with
  * d=2, so tight scalar loops are as fast as BLAS here and keep the
  * executor side dependency-free. All adds into shared buffers are
  * in-place (the reference's combOp allocates per merge —
  * SimpleTSNE.scala:57 — which SURVEY A-5 flags; we avoid that).
  */
object TSNEKernels {

  val Clamp = 1e-12

  def addInPlace(a: Array[Double], b: Array[Double]): Array[Double] = {
    var k = 0
    while (k < a.length) { a(k) += b(k); k += 1 }
    a
  }

  def rowOf(y: Array[Double], d: Int, i: Int): Array[Double] = {
    val out = new Array[Double](d)
    var k = 0
    while (k < d) { out(k) = y(i * d + k); k += 1 }
    out
  }

  /** Σ_{j≠i} (1 + ‖y_i − y_j‖²)⁻¹ — one row's contribution to Z
    * (reference computeNumerator, TSNEGradient.scala:18-29). */
  def rowNumeratorSum(y: Array[Double], n: Int, d: Int, i: Int): Double = {
    var s = 0.0
    val base = i * d
    var j = 0
    while (j < n) {
      if (j != i) {
        var dist2 = 0.0
        var k = 0
        while (k < d) {
          val diff = y(base + k) - y(j * d + k)
          dist2 += diff * diff
          k += 1
        }
        s += 1.0 / (1.0 + dist2)
      }
      j += 1
    }
    s
  }

  /** Exact gradient for one adjacency row, accumulated into dY
    * (reference TSNEGradient.compute, :40-76):
    *   dY_i = 4 Σ_j (p_ij·exag − repulseScale·q_ij) · num_ij · (y_i − y_j),
    * q clamped at 1e-12; returns the row's KL-loss contribution
    * Σ_j p·log(max(p,1e-12)/q) over sparse neighbors.
    *
    * `repulseScale` = 1 is the canonical early-exaggeration trick (the
    * momentum drivers): attraction is boosted, repulsion untouched — a
    * deliberate NON-gradient step direction. `repulseScale` = exag makes
    * (loss, dY) a consistent (objective, gradient) pair for the
    * exaggerated P̃ = exag·P (since Σp̃ = exag, the Z-term of ∇KL carries
    * that coefficient), which line-search optimizers (LBFGS) require. */
  def exactGradientRow(
      y: Array[Double], n: Int, d: Int, row: AffRow,
      sumZ: Double, exag: Double, dY: Array[Double],
      repulseScale: Double = 1.0): Double = {
    val i = row.i
    val base = i * d
    val js = row.js
    val ps = row.ps
    var loss = 0.0

    // repulsive part: all j ≠ i
    var j = 0
    while (j < n) {
      if (j != i) {
        var dist2 = 0.0
        var k = 0
        while (k < d) {
          val diff = y(base + k) - y(j * d + k)
          dist2 += diff * diff
          k += 1
        }
        val num = 1.0 / (1.0 + dist2)
        val q = math.max(num / sumZ, Clamp)
        val mult = 4.0 * repulseScale * q * num
        k = 0
        while (k < d) {
          dY(base + k) -= mult * (y(base + k) - y(j * d + k))
          k += 1
        }
      }
      j += 1
    }

    // attractive part + loss: sparse neighbors only
    var s = 0
    while (s < js.length) {
      val jj = js(s)
      val p = ps(s) * exag
      var dist2 = 0.0
      var k = 0
      while (k < d) {
        val diff = y(base + k) - y(jj * d + k)
        dist2 += diff * diff
        k += 1
      }
      val num = 1.0 / (1.0 + dist2)
      val q = math.max(num / sumZ, Clamp)
      val mult = 4.0 * p * num
      k = 0
      while (k < d) {
        dY(base + k) += mult * (y(base + k) - y(jj * d + k))
        k += 1
      }
      loss += p * math.log(math.max(p, Clamp) / q)
      s += 1
    }
    loss
  }

  /** Attractive (edge) forces for one row, accumulated into posF at
    * `off` (reference computeEdgeForces, TSNEGradient.scala:86-97):
    *   posF_i = Σ_j p_ij · (1+‖y_i−y_j‖²)⁻¹ · (y_i − y_j).
    * `off` = i·d writes into an n×d buffer; the BH driver passes the
    * row's slot in a partition-local buffer instead (the
    * FlatSPTree.nonEdgeForces convention).
    * When wantLoss, returns Σ_j p·(log max(p,1e-12) − log num); the
    * caller completes KL with + Σp·log(sumQ) once global sumQ is known. */
  def edgeForcesRow(
      y: Array[Double], d: Int, row: AffRow,
      exag: Double, posF: Array[Double], off: Int, wantLoss: Boolean): Double = {
    val i = row.i
    val base = i * d
    val js = row.js
    val ps = row.ps
    var loss = 0.0
    var s = 0
    while (s < js.length) {
      val jj = js(s)
      val p = ps(s) * exag
      var dist2 = 0.0
      var k = 0
      while (k < d) {
        val diff = y(base + k) - y(jj * d + k)
        dist2 += diff * diff
        k += 1
      }
      val num = 1.0 / (1.0 + dist2)
      val mult = p * num
      k = 0
      while (k < d) {
        posF(off + k) += mult * (y(base + k) - y(jj * d + k))
        k += 1
      }
      if (wantLoss) loss += p * (math.log(math.max(p, Clamp)) - math.log(num))
      s += 1
    }
    loss
  }
}
