package graft.tsne

import breeze.linalg.DenseVector
import breeze.optimize.{CachedDiffFunction, DiffFunction, LBFGS => BreezeLBFGS}
import org.apache.spark.sql.DataFrame

/** L-BFGS-optimized t-SNE (reference impl/LBFGSTSNE.scala — upstream
  * marks its own version "doesn't work at all (yet or ever)",
  * LBFGSTSNE.scala:15; this is a WORKING reimplementation, not a port).
  *
  * Why the reference version fails (SURVEY §4.3.4): during early
  * exaggeration its CostFun reports a loss whose derivative is NOT the
  * gradient it returns (attraction is exaggerated, repulsion is not — the
  * momentum-descent trick), so Wolfe line search cannot bracket a step;
  * it also lacks the q-clamp of the working drivers and initializes Y at
  * unit scale. Fixes here:
  *
  *  1. Consistent objective per phase: with P̃ = exag·P the true gradient
  *     carries the Z-term coefficient Σp̃ = exag, so the repulsive term is
  *     scaled by the SAME factor (`repulseScale = exag` in the kernel).
  *     (loss, grad) is then a mathematically coherent pair and line
  *     search works. Phase 2 re-optimizes the plain KL (exag = 1).
  *  2. Same clamped kernels as SimpleTSNE (q ≥ 1e-12).
  *  3. Unit-scale Gaussian init: at the momentum drivers' 1e-4 scale the
  *     KL surface is nearly flat (Q ≈ uniform) and line-search
  *     convergence criteria fire before the layout expands.
  *
  * Distribution shape is identical to SimpleTSNE: each evaluation is one
  * [[SimpleTSNE.gradient]] (two jobs) over one cached adjacency RDD,
  * released in `finally` ([[TSNE.run]]); L-BFGS state (history of m
  * gradient pairs) is driver-local, n×d×m doubles.
  */
object LBFGSTSNE {

  private val NumCorrections = 10
  private val ConvergenceTol = 1e-12

  def tsne(
      points: DataFrame,
      idCol: String = "id",
      featuresCol: String = "features",
      params: TSNEParams = TSNEParams(),
      callback: TSNE.Callback = TSNE.NoopCallback): DataFrame =
    TSNE.run(points, idCol, featuresCol, params) { (rdd, n) =>
      val d = params.dims
      var iteration = 0
      def optimize(y0: Array[Double], exag: Double, maxIter: Int): Array[Double] = {
        if (maxIter <= 0) return y0
        val costFun = new DiffFunction[DenseVector[Double]] {
          override def calculate(w: DenseVector[Double]): (Double, DenseVector[Double]) = {
            val (g, l) = SimpleTSNE.gradient(rdd, w.toArray, n, d, exag, repulseScale = exag)
            (l, DenseVector(g))
          }
        }
        val opt = new BreezeLBFGS[DenseVector[Double]](maxIter, NumCorrections, ConvergenceTol)
        val states = opt.iterations(new CachedDiffFunction(costFun), DenseVector(y0.clone()))
        var last = y0
        try {
          while (states.hasNext) {
            val st = states.next()
            last = st.x.toArray
            iteration += 1
            callback(iteration, last.clone(), Some(st.value))
          }
        } catch {
          // breeze throws on irrecoverable line-search failures near the
          // optimum; the last accepted iterate is the answer
          case _: breeze.optimize.FirstOrderException => ()
        }
        last
      }

      val phase1Iters = math.min(params.earlyExaggeration, params.maxIterations)
      // unit-scale init: at the momentum drivers' 1e-4 scale all points are
      // near-coincident, Q is ~uniform and KL ~flat, and a line-search
      // optimizer declares convergence before escaping; momentum GD only
      // escapes because eta amplifies the tiny gradients over many steps
      val y0 = TSNE.gaussianInit(n, d, params.seed, 1.0)
      val yExag = optimize(y0, params.exaggerationFactor, phase1Iters)
      optimize(yExag, 1.0, params.maxIterations - phase1Iters)
    }
}
