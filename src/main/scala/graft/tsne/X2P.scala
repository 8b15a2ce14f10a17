package graft.tsne

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Per-row probability output of the calibration. */
case class CalibratedNeighbor(j: Long, p: Double)

/** X2P: distances → perplexity-calibrated conditional probabilities
  * P(j|i), the reference's core operator (X2P.scala:14-74):
  *
  *   exact (default): one collect and one broadcast of the points, then
  *   one task per index slice that finds each row's μ nearest neighbours
  *   ([[KNN.exactTopK]]), calibrates them and emits (i, j, p) rows — no
  *   join, no shuffle, no explode. Approximate (opt-in): LSH candidates →
  *   top-μ aggregate per row → calibration UDF → explode back to COO.
  *
  * Both routes calibrate through one row function ([[calibrateRow]]). The
  * β-search (reference X2P.scala:34-70 + X2PHelper.Hbeta:17-26) is a
  * pure, driver-free scalar function: given a row's neighbor distances it
  * bisects the Gaussian precision β until the distribution's entropy H
  * matches log(perplexity) within tol (≤ 50 tries, doubling/halving while
  * a bracket end is open).
  *
  * Determinism: floating-point sums depend on order, so each neighbour
  * list reaches the β-search sorted on (dist2, j). Same input ⇒
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

  /** One row's calibration: its first `m` neighbours `js` at squared
    * distances `ds`, sorted on (dist2, j) → P(j|i) in the same order. */
  private def calibrateRow(js: Array[Long], ds: Array[Double], m: Int,
      perplexity: Double, tol: Double): IndexedSeq[CalibratedNeighbor] = {
    val (_, p) =
      betaSearch(if (m == ds.length) ds else java.util.Arrays.copyOf(ds, m), perplexity, tol)
    (0 until m).map(r => CalibratedNeighbor(js(r), p(r)))
  }

  /** Calibrate a pre-grouped neighborhood frame (i, nbrs ARRAY<STRUCT<j,
    * dist2>>), as the top-k aggregate outputs it: sorted per key. */
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
      calibrateRow(js, d, n, perplexity, tol)
    }
    grouped
      .select(col("i"), explode(calib(col("nbrs"))).as("nbr"))
      .select(col("i"), col("nbr.j").as("j"), col("nbr.p").as("p"))
  }

  /** μ = ⌊3·perplexity⌋ neighbours per row (reference X2P.scala:18). */
  private def mu(perplexity: Double): Int = math.floor(3 * perplexity).toInt

  /** Exact P(j|i) rows (i, j, p) over broadcast points, in one pass of
    * [[KNN.exactTopK]]: each task calibrates its rows' neighbour lists
    * where it finds them. The caller owns the broadcast. */
  private[tsne] def exact(spark: SparkSession, points: Broadcast[KNN.Points],
      perplexity: Double, tol: Double): DataFrame = {
    import spark.implicits._
    KNN.exactTopK(spark, points, mu(perplexity)) { (i, buf) =>
      calibrateRow(buf.js, buf.ds, buf.n, perplexity, tol).iterator.map(c => (i, c.j, c.p))
    }.toDF("i", "j", "p")
  }

  /** Full X2P: points (id, features) → P(j|i) over the μ=⌊3·perplexity⌋
    * nearest neighbors (reference X2P.scala:18).
    *
    * `approxBucketLength`: None (default) = exact neighbours ([[exact]]
    * over the points collected and broadcast here; the broadcast lives as
    * long as the returned frame), the reference semantics and correctness
    * oracle. Some(w) = opt-in Euclidean-LSH candidates for corpus-scale
    * inputs — an explicit semantic change (approximate neighborhoods),
    * never silent. */
  def x2p(
      points: DataFrame,
      idCol: String = "id",
      featuresCol: String = "features",
      perplexity: Double = DefaultPerplexity,
      tol: Double = DefaultTol,
      approxBucketLength: Option[Double] = None): DataFrame =
    approxBucketLength match {
      // approx candidates use COMPOUND buckets (8 tables × 2 projections): the
      // t-SNE affinity path is a large-n path by construction, where single
      // projections concentrate mass in hot center buckets and one
      // straggler task dominates (ProfileSpec end-to-end BH @16k: 24.8 s
      // with 6×1 single projections → 5.5 s with 8×2, vs 29 s exact)
      case Some(w) =>
        calibrateGrouped(
          KNN.topKGrouped(
            KNN.approxCandidates(points, idCol, featuresCol, w,
              numHashTables = 8, hashesPerTable = 2), mu(perplexity)),
          perplexity, tol)
      case None =>
        val spark = points.sparkSession
        exact(spark,
          spark.sparkContext.broadcast(KNN.Points.collect(points, idCol, featuresCol)),
          perplexity, tol)
    }
}
