package graft.tsne

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Per-row probability output of the calibration. */
case class CalibratedNeighbor(j: Long, p: Double)

/** X2P: distances → perplexity-calibrated conditional probabilities
  * P(j|i), the reference's core operator (X2P.scala:14-74) re-expressed
  * as a DataFrame pipeline:
  *
  *   kNN candidates (i, j, dist2) → bounded top-μ aggregate per row
  *   (sorted — see below) → pure per-row binary-search UDF → explode
  *   back to COO.
  *
  * The β-search (reference X2P.scala:34-70 + X2PHelper.Hbeta:17-26) is a
  * pure, driver-free scalar function: given a row's neighbor distances it
  * bisects the Gaussian precision β until the distribution's entropy H
  * matches log(perplexity) within tol (≤ 50 tries, doubling/halving while
  * a bracket end is open).
  *
  * Determinism: candidate arrival order is partition-dependent, and
  * floating-point sums depend on order — so the top-μ aggregate emits each
  * neighbor list sorted on (dist2, j) before the UDF. Same input ⇒
  * bit-identical P on any cluster layout (SURVEY §7.4.4).
  */
object X2P {

  val DefaultPerplexity = 30.0
  val DefaultTol        = 1e-5
  val MaxTries          = 50

  /** H(β) and normalized P for one row's squared distances. */
  def hBeta(d: Array[Double], beta: Double): (Double, Array[Double]) = {
    val n = d.length
    val p = new Array[Double](n)
    var sumP = 0.0
    var sumDP = 0.0
    var i = 0
    while (i < n) {
      val v = math.exp(-d(i) * beta)
      p(i) = v
      sumP += v
      sumDP += d(i) * v
      i += 1
    }
    if (sumP == 0.0) {
      // all mass underflowed (β too large for these distances): entropy 0
      (0.0, p)
    } else {
      val h = math.log(sumP) + beta * sumDP / sumP
      i = 0
      while (i < n) { p(i) /= sumP; i += 1 }
      (h, p)
    }
  }

  /** Bisect β until |H − log(perplexity)| ≤ tol. Returns (β, P). */
  def betaSearch(d: Array[Double], perplexity: Double, tol: Double): (Double, Array[Double]) = {
    val logU = math.log(perplexity)
    var beta = 1.0
    var betaMin = Double.NegativeInfinity
    var betaMax = Double.PositiveInfinity
    var (h, p) = hBeta(d, beta)
    var tries = 0
    while (math.abs(h - logU) > tol && tries < MaxTries) {
      if (h > logU) { // entropy too high → sharpen: raise β
        betaMin = beta
        beta = if (betaMax.isPosInfinity) beta * 2.0 else (beta + betaMax) / 2.0
      } else {
        betaMax = beta
        beta = if (betaMin.isNegInfinity) beta / 2.0 else (beta + betaMin) / 2.0
      }
      val r = hBeta(d, beta)
      h = r._1
      p = r._2
      tries += 1
    }
    (beta, p)
  }

  /** Calibrate a pre-grouped neighborhood frame (i, nbrs ARRAY<STRUCT<j,
    * dist2>>). The top-k aggregate already outputs per-key sorted arrays —
    * going back to rows just to re-collect them would pay an extra
    * shuffle-less but allocation-heavy explode/regroup pass. */
  private def calibrateGrouped(
      grouped: DataFrame, perplexity: Double, tol: Double): DataFrame = {
    val calib = udf { (nbrs: Seq[Row]) =>
      val n = nbrs.length
      val d = new Array[Double](n)
      val js = new Array[Long](n)
      var ix = 0
      while (ix < n) {
        val r = nbrs(ix)
        js(ix) = r.getLong(0)
        d(ix) = r.getDouble(1)
        ix += 1
      }
      val (_, p) = betaSearch(d, perplexity, tol)
      js.indices.map(i2 => CalibratedNeighbor(js(i2), p(i2)))
    }
    grouped
      .select(col("i"), explode(calib(col("nbrs"))).as("nbr"))
      .select(col("i"), col("nbr.j").as("j"), col("nbr.p").as("p"))
  }

  /** Full X2P: points (id, features) → P(j|i) over the μ=⌊3·perplexity⌋
    * nearest neighbors (reference X2P.scala:18).
    *
    * `approxBucketLength`: None (default) = exact O(n²) candidates, the
    * reference semantics and correctness oracle. Some(w) = opt-in
    * Euclidean-LSH candidates for corpus-scale inputs — an explicit
    * semantic change (approximate neighborhoods), never silent. */
  def x2p(
      points: DataFrame,
      idCol: String = "id",
      featuresCol: String = "features",
      perplexity: Double = DefaultPerplexity,
      tol: Double = DefaultTol,
      approxBucketLength: Option[Double] = None): DataFrame = {
    val mu = math.floor(3 * perplexity).toInt
    // consume the top-k aggregate's grouped output directly: its nbrs
    // arrays are already sorted ascending by (dist2, j)
    // approx candidates use COMPOUND buckets (8 tables × 2 projections): the
    // t-SNE affinity path is a large-n path by construction, where single
    // projections concentrate mass in hot center buckets and one
    // straggler task dominates (ProfileSpec end-to-end BH @16k: 24.8 s
    // with 6×1 single projections → 5.5 s with 8×2, vs 29 s exact)
    val grouped = approxBucketLength match {
      case Some(w) =>
        KNN.topKGrouped(
          KNN.approxCandidates(points, idCol, featuresCol, w,
            numHashTables = 8, hashesPerTable = 2), mu)
      case None =>
        KNN.topKGrouped(KNN.pairwise(KNN.prepare(points, idCol, featuresCol)), mu)
    }
    calibrateGrouped(grouped, perplexity, tol)
  }
}
