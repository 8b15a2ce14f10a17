package graft.tsne

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One sparse-affinity adjacency row: dense point index + sorted neighbor
  * indices and their symmetrized probabilities. */
case class AffRow(i: Int, js: Array[Int], ps: Array[Double])

object TSNE {
  /** Per-iteration callback: (iteration, embedding n×d row-major, loss). */
  type Callback = (Int, Array[Double], Option[Double]) => Unit
  val NoopCallback: Callback = (_, _, _) => ()

  /** Prepare (id, features) into dense 0..n-1 indices + the one cached
    * adjacency RDD the iterations run over: (adjacency, n, idMap). The
    * caller owns the returned cache and unpersists it (`run` does, in
    * `finally`).
    *
    * Dense indices are required because the embedding Y is a driver-side
    * flat matrix indexed positionally (SURVEY §1.4). The reference gets
    * them implicitly from `zipWithIndex` partition order — the
    * nondeterminism hazard flagged in SURVEY §4.3.2; here the index is the
    * orig_id rank. (orig_id, features) is collected once and sorted by
    * orig_id: that order is both idMap and the point matrix, row i = rank
    * i (Y already bounds n by the driver). The exact path broadcasts that
    * matrix once for [[X2P.exact]] and destroys it in `finally`; the
    * opt-in LSH path builds its dense-id input frame from the same arrays.
    */
  def prepareAffinities(
      points: DataFrame,
      idCol: String,
      featuresCol: String,
      params: TSNEParams): (RDD[AffRow], Int, Array[Long]) = {
    val spark = points.sparkSession
    import spark.implicits._

    val rows = KNN.prepare(points, idCol, featuresCol).collect()
    rows.foreach { r =>
      require(!r.isNullAt(0),
        s"t-SNE id column '$idCol' contains null or non-numeric values " +
          "(cast to LONG produced null) — ids must be non-null and castable")
    }
    val sorted = KNN.Points.of(rows)
    val idMap = sorted.ids
    val n = idMap.length
    var w = 1
    while (w < n) {
      require(idMap(w) != idMap(w - 1),
        s"t-SNE id column '$idCol' contains duplicate value ${idMap(w)} — " +
          "ids must be unique (dense indices are derived from id rank)")
      w += 1
    }
    val dense = KNN.Points(Array.tabulate(n)(_.toLong), sorted.rows)
    // right-size iteration partitions: each per-iteration job pays a task
    // per partition, and adjacency rows are tiny (~k neighbors each) —
    // target ≥256 rows/task instead of inheriting shuffle.partitions
    val iterParts = math.max(1, math.min(
      spark.sparkContext.defaultParallelism, n / 256))
    val bc = if (params.approxKnn) None else Some(spark.sparkContext.broadcast(dense))
    try {
      val pji = bc match {
        case Some(b) => X2P.exact(spark, b, params.perplexity, params.tol)
        case None =>
          val frame = dense.ids.zip(dense.rows).toSeq.toDF("id", "features")
          val bucket = params.approxKnnBucketLength.getOrElse(
            KNN.autoBucketLength(frame, "features"))
          X2P.x2p(frame, "id", "features", params.perplexity, params.tol, Some(bucket))
      }
      val adj = Affinities.adjacency(Affinities.symmetrize(pji, n.toLong))
        .select(
          col("i").cast("int").as("i"),
          col("js").cast("array<int>").as("js"),
          col("ps"))
        .as[AffRow]
        .repartition(iterParts)
        .rdd
        // cache AND drop the SQL lineage, which would otherwise ride in
        // every iteration's task binary (Java-serialized 87 KB vs 3.8 KB)
        .localCheckpoint()
      try adj.count() // materialize before the iteration loop
      catch { case e: Throwable => adj.unpersist(); throw e }
      (adj, n, idMap)
    } finally bc.foreach(_.destroy())
  }

  /** The drivers' one skeleton: prepare the adjacency, `fit(adjacency, n)`
    * to an n×d embedding, release the adjacency in `finally`, and return
    * the embedding as (id, x, y, …). */
  private[tsne] def run(
      points: DataFrame, idCol: String, featuresCol: String, params: TSNEParams)(
      fit: (RDD[AffRow], Int) => Array[Double]): DataFrame = {
    val (rdd, n, idMap) = prepareAffinities(points, idCol, featuresCol, params)
    val y = try fit(rdd, n) finally rdd.unpersist()
    toDF(points.sparkSession, y, idMap, params.dims)
  }

  /** Momentum descent shared by SimpleTSNE and BHTSNE: P exaggerated for
    * the first `earlyExaggeration` iterations, then the driver-side update —
    * adaptive gains, momentum, recentering (reference TSNEHelper.update,
    * TSNEHelper.scala:31-57). `gradient(y, iteration, exag)` returns
    * (dY, loss). All state is n×d doubles — driver-local by design. Updates
    * `y` in place and returns it. */
  private[tsne] def descend(y: Array[Double], params: TSNEParams, callback: Callback)(
      gradient: (Array[Double], Int, Double) => (Array[Double], Option[Double])): Array[Double] = {
    val d = params.dims
    val n = y.length / d
    val iY = new Array[Double](y.length)
    val gains = Array.fill(y.length)(1.0)
    var iter = 1
    while (iter <= params.maxIterations) {
      val exag = if (iter <= params.earlyExaggeration) params.exaggerationFactor else 1.0
      val (dY, loss) = gradient(y, iter, exag)
      val momentum =
        if (iter <= params.tMomentum) params.initialMomentum else params.finalMomentum
      var k = 0
      while (k < y.length) {
        gains(k) =
          if ((dY(k) > 0) != (iY(k) > 0)) gains(k) + 0.2
          else gains(k) * 0.8
        if (gains(k) < params.minGain) gains(k) = params.minGain
        iY(k) = momentum * iY(k) - params.eta * gains(k) * dY(k)
        y(k) += iY(k)
        k += 1
      }
      // recenter each dim to zero mean
      var dd = 0
      while (dd < d) {
        var s = 0.0
        var i = 0
        while (i < n) { s += y(i * d + dd); i += 1 }
        val m = s / n
        i = 0
        while (i < n) { y(i * d + dd) -= m; i += 1 }
        dd += 1
      }
      callback(iter, y.clone(), loss)
      iter += 1
    }
    y
  }

  def gaussianInit(n: Int, d: Int, seed: Long, scale: Double): Array[Double] = {
    val rng = new java.util.Random(seed)
    Array.fill(n * d)(rng.nextGaussian() * scale)
  }

  /** Embedding (n×d flat, dense idx) → DataFrame via idMap: columns
    * (id, x, y[, c2, c3, …]) — one column per dimension (CSV-safe), the
    * first two keeping the conventional x/y names. */
  def toDF(spark: SparkSession, yFlat: Array[Double], idMap: Array[Long], d: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val names = (0 until d).map {
      case 0 => "x"
      case 1 => "y"
      case k => s"c$k"
    }
    val schema = StructType(
      StructField("id", LongType) +: names.map(StructField(_, DoubleType)))
    val rows = idMap.indices.map { i =>
      Row.fromSeq(idMap(i) +: (0 until d).map(k => yFlat(i * d + k)))
    }
    // right-size slices: the default (defaultParallelism) shards a few
    // hundred rows into 32 near-empty partitions, and any downstream
    // cartesian then multiplies partition COUNTS (32×32 = 1024 tiny
    // tasks for a 500-point trustworthiness pass — measured ~2 s of pure
    // scheduling). ≥4096 rows/slice keeps small embeddings in one task.
    val slices = math.max(1, math.min(
      spark.sparkContext.defaultParallelism, rows.size / 4096))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, slices), schema)
  }
}

/** Exact-gradient t-SNE (reference impl/SimpleTSNE.scala): [[TSNE.descend]]
  * over one cached adjacency RDD, released in `finally` ([[TSNE.run]]),
  * two Spark jobs per iteration ([[SimpleTSNE.gradient]]).
  */
object SimpleTSNE {

  /** One exact (dY, KL loss) over the adjacency: one broadcast of Y,
    * destroyed in `finally`, and two jobs — (1) global Student-t
    * numerator Z, (2) gradient + loss accumulated into an n×d buffer via
    * `treeAggregate` with in-place adds (the matrix-buffer aggregation
    * SURVEY A-3/A-4; Catalyst has no matrix-valued aggregate, so the typed
    * RDD aggregate IS the idiomatic escape hatch here). Exaggeration is a
    * multiplier applied inside the kernel — never an in-place mutation of
    * cached data (fixes reference hazard D-5); `repulseScale` as in
    * [[TSNEKernels.exactGradientRow]]. */
  private[tsne] def gradient(
      rdd: RDD[AffRow], y: Array[Double], n: Int, d: Int,
      exag: Double, repulseScale: Double): (Array[Double], Double) = {
    val bcY = rdd.sparkContext.broadcast(y)
    try {
      // job 1: Z = Σ_{i≠j} (1 + ‖y_i − y_j‖²)⁻¹ (over row indices; O(n)/row)
      val sumZ = rdd.treeAggregate(0.0)(
        seqOp = (acc, row) => acc + TSNEKernels.rowNumeratorSum(bcY.value, n, d, row.i),
        combOp = _ + _)
      // job 2: (dY, loss)
      rdd.treeAggregate((new Array[Double](n * d), 0.0))(
        seqOp = (acc, row) => {
          val l = TSNEKernels.exactGradientRow(
            bcY.value, n, d, row, sumZ, exag, acc._1, repulseScale)
          (acc._1, acc._2 + l)
        },
        combOp = (a, b) => {
          TSNEKernels.addInPlace(a._1, b._1)
          (a._1, a._2 + b._2)
        })
    } finally bcY.destroy()
  }

  def tsne(
      points: DataFrame,
      idCol: String = "id",
      featuresCol: String = "features",
      params: TSNEParams = TSNEParams(),
      callback: TSNE.Callback = TSNE.NoopCallback): DataFrame =
    TSNE.run(points, idCol, featuresCol, params) { (rdd, n) =>
      val d = params.dims
      TSNE.descend(TSNE.gaussianInit(n, d, params.seed, 1.0), params, callback) {
        (y, _, exag) =>
          val (dY, loss) = gradient(rdd, y, n, d, exag, repulseScale = 1.0)
          (dY, Some(loss))
      }
    }
}

/** Barnes-Hut t-SNE (reference impl/BHTSNE.scala): [[TSNE.descend]] over
  * one cached adjacency RDD, released in `finally` ([[TSNE.run]]), one
  * Spark job per iteration. The driver builds the [[FlatSPTree]] from Y in
  * one pass (O(n log n) local) and broadcasts it once, with a copy of Y. Each
  * partition returns only its own rows' posF and negF plus its sumQ and
  * raw loss ([[BHTSNE.Partial]]); the driver sums sumQ and the loss in
  * partition-index order and scatters dY = posF − negF/sumQ by row index
  * (reference :66, learning-rate factor absorbed into η). Nothing n-sized
  * is shipped to or returned from a task, and the combine order is fixed,
  * so for a one-partition adjacency the iteration is bit-identical to a
  * driver-local loop over the rows.
  *
  * NOTE: like the reference (and van der Maaten's canonical Barnes-Hut
  * implementation), this driver omits the factor 4 that SimpleTSNE's
  * exact kernels include, so the same η yields a 4× smaller effective
  * step here. Loss curves are comparable across drivers; step sizes are
  * not — scale η by 4 when porting hyperparameters between them.
  */
object BHTSNE {

  /** One partition's share of a BH gradient: the indices of its rows (in
    * partition order), their attractive and repulsive forces (d values
    * per row, same order), and the partition's Σq and raw loss. */
  private[tsne] final case class Partial(
      rows: Array[Int], posF: Array[Double], negF: Array[Double],
      sumQ: Double, rawLoss: Double)

  /** The per-partition kernel: forces for `rows` into row-local buffers. */
  private[tsne] def partial(
      rows: Iterator[AffRow], y: Array[Double], tree: FlatSPTree, d: Int,
      theta: Double, exag: Double, wantLoss: Boolean): Partial = {
    val rs = rows.toArray
    val idx = new Array[Int](rs.length)
    val posF = new Array[Double](rs.length * d)
    val negF = new Array[Double](rs.length * d)
    var sumQ = 0.0
    var rawLoss = 0.0
    var r = 0
    while (r < rs.length) {
      val row = rs(r)
      idx(r) = row.i
      sumQ += tree.nonEdgeForces(TSNEKernels.rowOf(y, d, row.i), theta, negF, r * d)
      rawLoss += TSNEKernels.edgeForcesRow(y, d, row, exag, posF, r * d, wantLoss)
      r += 1
    }
    Partial(idx, posF, negF, sumQ, rawLoss)
  }

  /** One BH gradient over the adjacency: (dY, sumQ, raw loss). One
    * broadcast and one job; every point without an adjacency row gets
    * dY = 0. */
  private[tsne] def gradient(
      rdd: RDD[AffRow], y: Array[Double], n: Int, d: Int,
      theta: Double, exag: Double, wantLoss: Boolean): (Array[Double], Double, Double) = {
    val sc = rdd.sparkContext
    // the struct-of-arrays tree: serializing a pointer tree dominated the
    // iteration (~140 ms vs ~20 ms build at n=16k)
    val bc = sc.broadcast((y.clone(), FlatSPTree.build(y, n, d)))
    val parts =
      try sc.runJob(rdd, (it: Iterator[AffRow]) => {
        val (yb, tree) = bc.value
        partial(it, yb, tree, d, theta, exag, wantLoss)
      })
      finally bc.destroy()

    var sumQ = 0.0
    var rawLoss = 0.0
    parts.foreach { p => sumQ += p.sumQ; rawLoss += p.rawLoss }
    val dY = new Array[Double](n * d)
    parts.foreach { p =>
      var r = 0
      while (r < p.rows.length) {
        val base = p.rows(r) * d
        var k = 0
        while (k < d) {
          dY(base + k) = p.posF(r * d + k) - p.negF(r * d + k) / sumQ
          k += 1
        }
        r += 1
      }
    }
    (dY, sumQ, rawLoss)
  }

  def tsne(
      points: DataFrame,
      idCol: String = "id",
      featuresCol: String = "features",
      params: TSNEParams = TSNEParams(maxIterations = 500),
      callback: TSNE.Callback = TSNE.NoopCallback): DataFrame =
    TSNE.run(points, idCol, featuresCol, params) { (rdd, n) =>
      val d = params.dims
      TSNE.descend(TSNE.gaussianInit(n, d, params.seed, 1e-4), params, callback) {
        (y, iter, exag) =>
          val wantLoss = params.reportLoss > 0 && iter % params.reportLoss == 0
          val (dY, sumQ, rawLoss) = gradient(rdd, y, n, d, params.theta, exag, wantLoss)
          // KL(P‖Q) with q = num/sumQ: Σ p(log p − log num) + log(sumQ)·Σp,
          // and Σp = exag (symmetrized P sums to 1 before exaggeration).
          (dY, if (wantLoss) Some(rawLoss + exag * math.log(sumQ)) else None)
      }
    }
}
