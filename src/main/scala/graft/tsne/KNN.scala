package graft.tsne

import graft.functions.VectorFunctions._
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{TopKBuffer, VectorExprs}

/** Exact k-nearest-neighbors over an (id, features ARRAY<numeric>) frame.
  *
  * Reference semantics (X2P.scala:23-32): all-pairs candidates
  * (`cartesian`) followed by per-key top-k (`topByKey`, a bounded priority
  * queue). Exact kNN is O(n²) work by design; the approximate scale path
  * is [[knnApprox]] (and [[graft.ops.SimilaritySearch]]).
  *
  * Two physical routes to the same result, both ordered by (dist², j), an
  * explicit deterministic tie-break the reference leaves to
  * priority-queue order (SURVEY §7.4.4):
  *
  *  - [[knn]] (default): the points are collected once and broadcast once
  *    ([[Points]]); tasks over index slices of `spark.range` each fill a
  *    bounded `TopKBuffer` per row of their slice against the broadcast
  *    ([[exactTopK]]). No n²-row intermediate, no join, no shuffle — the
  *    small-side broadcast with per-partition top-k of distributed top-k
  *    similarity joins. The points must fit on the driver, as t-SNE's
  *    positional Y and idMap already do.
  *  - [[knnWindow]]: crossJoin → ranking window. Declarative and
  *    shuffles all n² candidate rows; kept as the test oracle.
  */
object KNN {

  /** Normalized input: (id BIGINT, features ARRAY<DOUBLE>). */
  def prepare(df: DataFrame, idCol: String, featuresCol: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("id"),
      asDoubleArray(col(featuresCol)).as("features"))

  /** Points on the driver in ascending id order: `ids(r)` and its
    * features `rows(r)`, null where the features are null. */
  private[tsne] final case class Points(ids: Array[Long], rows: Array[Array[Double]])

  private[tsne] object Points {
    /** Rows of [[prepare]]'s (id, features), non-null ids, → [[Points]]. */
    def of(collected: Array[Row]): Points = {
      val sorted = collected.sortBy(_.getLong(0))
      Points(sorted.map(_.getLong(0)),
        sorted.map(r => if (r.isNullAt(1)) null else r.getSeq[Double](1).toArray))
    }

    /** The non-null-id points of `df`, collected once. */
    def collect(df: DataFrame, idCol: String, featuresCol: String): Points =
      of(prepare(df, idCol, featuresCol).where(col("id").isNotNull).collect())
  }

  /** ‖x − y‖² in `array_sq_dist`'s order — one sequential `s += d·d` —
    * and with its ragged-length error. */
  private def sqDist(x: Array[Double], y: Array[Double]): Double = {
    val m = VectorExprs.requireSameLength(x.length, y.length, "array_sq_dist")
    var s = 0.0
    var c = 0
    while (c < m) {
      val d = x(c) - y(c)
      s += d * d
      c += 1
    }
    s
  }

  /** The exact top-k kernel: every id's k nearest points of other ids,
    * sorted by (dist², j), handed to `emit` as a filled `TopKBuffer`. Tasks
    * run over index slices of `spark.range` against the broadcast points;
    * rows sharing an id form one list, as a `groupBy(i)` would. A row with
    * null features has no candidates and is no one's candidate, and an id
    * without candidates emits nothing. The broadcast is read whenever the
    * result runs, so the caller owns it. */
  private[tsne] def exactTopK[T: Encoder](spark: SparkSession, points: Broadcast[Points], k: Int)(
      emit: (Long, TopKBuffer) => Iterator[T]): Dataset[T] = {
    val n = points.value.ids.length
    spark.range(0, n, 1, spark.sparkContext.defaultParallelism).mapPartitions { slice =>
      val Points(ids, rows) = points.value
      slice.flatMap { r0 =>
        val r = r0.intValue
        // a later row of a shared id: its list belongs to the first row
        if (r > 0 && ids(r) == ids(r - 1)) Iterator.empty
        else {
          val id = ids(r)
          val buf = new TopKBuffer(k)
          var q = r
          while (q < n && ids(q) == id) {
            val x = rows(q)
            if (x != null) {
              var j = 0
              while (j < n) {
                if (ids(j) != id && rows(j) != null) buf.insert(ids(j), sqDist(x, rows(j)))
                j += 1
              }
            }
            q += 1
          }
          if (buf.n == 0) Iterator.empty else emit(id, buf)
        }
      }
    }
  }

  /** All ordered pairs (i, j, dist2), i ≠ j. The streamed (left) side is
    * spread to the session's parallelism first — a single-split input
    * would otherwise serialize the whole cartesian onto one task. */
  def pairwise(points: DataFrame): DataFrame = {
    val a = graft.Partitioning.spread(
      points.select(col("id").as("i"), col("features").as("fa")))
    val b = points.select(col("id").as("j"), col("features").as("fb"))
    a.crossJoin(b)
      .where(col("i") =!= col("j"))
      .select(col("i"), col("j"), arraySqDist(col("fa"), col("fb")).as("dist2"))
  }

  /** Window-based top-k over all pairs: the oracle [[knn]] is tested
    * against (shuffles all n² candidates). */
  def knnWindow(df: DataFrame, idCol: String, featuresCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("i")).orderBy(col("dist2").asc, col("j").asc)
    pairwise(prepare(df, idCol, featuresCol))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Exact kNN: (i, j, dist2, rank) from one collect, one broadcast and
    * [[exactTopK]]. The broadcast lives as long as the returned frame
    * (Spark's ContextCleaner drops it once the frame is unreachable). */
  def knn(df: DataFrame, idCol: String, featuresCol: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val points = spark.sparkContext.broadcast(Points.collect(df, idCol, featuresCol))
    exactTopK(spark, points, k) { (i, buf) =>
      Iterator.tabulate(buf.n)(r => (i, buf.js(r), buf.ds(r), r + 1))
    }.toDF("i", "j", "dist2", "rank")
  }

  /** Approximate kNN — the 100 TB candidate-generation path (SURVEY
    * §7.4.1): Euclidean p-stable LSH (`BucketedRandomProjectionLSH`, the
    * idiomatic MLlib operator) generates candidates by bucket join; exact
    * distances re-score them; the bounded-heap aggregator keeps top-k.
    * APPROXIMATE — opt-in only, never silently substituted for [[knn]];
    * recall is measured in KNNSpec.
    *
    * `bucketLength` is data-dependent and the single most important knob:
    * projections of a vector x onto unit gaussians have σ ≈ ‖x‖/√dim, and
    * w ≈ σ/2 gives discriminative buckets. Too-large w silently degrades
    * to worse-than-exact (measured on 16k unit vectors: w=1.0 → 515M
    * candidates = 2× the exact pair count, 112 s; w=0.05 with 8×2
    * compound tables → 27M candidates, 4.9 s vs 29 s exact at recall
    * 0.75). */
  def knnApprox(df: DataFrame, idCol: String, featuresCol: String, k: Int,
      bucketLength: Double, numHashTables: Int = 6, hashesPerTable: Int = 1,
      seed: Long = 42): DataFrame =
    // duplicate (i,j) from several tables deduped inside the heap
    topKFromCandidates(approxCandidates(df, idCol, featuresCol, bucketLength,
      numHashTables, hashesPerTable, seed), k)

  /** Data-driven bucket width for [[knnApprox]]: projections of x onto
    * unit gaussians have σ ≈ ‖x‖/√dim, and w ≈ σ/2 gives discriminative
    * buckets — estimated from a bounded row sample so the single most
    * important (and most often mis-set) LSH knob has a principled
    * default. On the 16k stress fixture this lands at 0.0625 vs the
    * hand-tuned 0.05 (recall 0.75); the naive w=1.0 there degrades to
    * 2× the exact pair count. */
  def autoBucketLength(df: DataFrame, featuresCol: String, sampleRows: Int = 1000): Double = {
    val r = df
      .select(asDoubleArray(col(featuresCol)).as("f"))
      .limit(sampleRows)
      .select(arrayNorm(col("f")).as("nrm"), size(col("f")).as("d"))
      .agg(avg(col("nrm")), avg(col("d"))).head
    require(!r.isNullAt(0) && !r.isNullAt(1),
      s"autoBucketLength: no rows with non-null '$featuresCol' to sample — " +
        "cannot estimate a bucket width from an empty input")
    r.getDouble(0) / (2.0 * math.sqrt(r.getDouble(1)))
  }

  /** [[knnApprox]] with [[autoBucketLength]]. Pair `hashesPerTable` with
    * corpus density: compound buckets (m ≥ 2) flatten hot-bucket skew at
    * large n but starve candidates at small n (measured: recall 0.75 at
    * 16k rows vs 0.19 at 500 rows for the same 8×2 config — raise
    * numHashTables with m=1 for small/sparse inputs). */
  def knnApproxAuto(df: DataFrame, idCol: String, featuresCol: String, k: Int,
      numHashTables: Int = 6, hashesPerTable: Int = 1, seed: Long = 42): DataFrame =
    knnApprox(df, idCol, featuresCol, k,
      autoBucketLength(df, featuresCol), numHashTables, hashesPerTable, seed)

  /** Euclidean-LSH candidate pairs (i, j, dist2) — bucket equi-joins only.
    *
    * `hashesPerTable > 1` forms COMPOUND buckets (the AND of several
    * projections): per-table collision probability multiplies (p^m), so
    * bucket sizes shrink geometrically. This is the skew lever — single
    * gaussian projections concentrate mass in center buckets, and one hot
    * bucket turns the self-join into a straggler task; compound buckets
    * flatten the distribution (measured 135s → 9s at 16k×16k uniform
    * vectors with m=2). Raise `numHashTables` to recover recall. */
  private[graft] def approxCandidates(df: DataFrame, idCol: String, featuresCol: String,
      bucketLength: Double, numHashTables: Int = 6, hashesPerTable: Int = 1,
      seed: Long = 42): DataFrame = {
    import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}

    val pts = prepare(df, idCol, featuresCol)
      .withColumn("vec", array_to_vector(col("features")))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("vec").setOutputCol("hashes")
      .setBucketLength(bucketLength)
      .setNumHashTables(numHashTables * hashesPerTable)
      .setSeed(seed)
    val model = lsh.fit(pts)
    // compound bucket: concatenate m consecutive hash values per table
    val flat = model.transform(pts)
      .select(col("id"), col("features"),
        transform(col("hashes"), h => vector_to_array(h)(0)).as("hv"))
    val hashed = flat
      .select(col("id"), col("features"),
        explode(expr(
          s"""transform(sequence(0, ${numHashTables - 1}),
             |  t -> struct(t as t,
             |    concat_ws(',', slice(hv, t * $hashesPerTable + 1, $hashesPerTable)) as bucket))
             |""".stripMargin)).as("tb"))
      .select(col("id"), col("features"), col("tb.t").as("t"), col("tb.bucket").as("bucket"))

    hashed.as("a")
      .join(hashed.as("b"), Seq("t", "bucket"))
      .where(col("a.id") =!= col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
        arraySqDist(col("a.features"), col("b.features")).as("dist2"))
  }

  /** Candidates → (i, nbrs ARRAY<STRUCT<j, dist2>>), sorted asc (dist2, j). */
  private[graft] def topKGrouped(cands: DataFrame, k: Int): DataFrame =
    cands
      .groupBy(col("i"))
      .agg(org.apache.spark.sql.graft.TopKNeighbors
        .topk(k, col("j"), col("dist2")).as("nbrs"))

  private[graft] def topKFromCandidates(cands: DataFrame, k: Int): DataFrame =
    topKGrouped(cands, k)
      .select(col("i"), posexplode(col("nbrs")).as(Seq("pos", "nbr")))
      .select(
        col("i"),
        col("nbr.j").as("j"),
        col("nbr.dist2").as("dist2"),
        (col("pos") + 1).cast("int").as("rank"))
}

// The bounded top-k aggregation lives in
// org.apache.spark.sql.graft.TopKNeighbors — a native
// TypedImperativeAggregate over primitive arrays (no per-candidate
// encoder round-trip), planned as ObjectHashAggregate with a partial
// phase: the map-side pruning of the reference's bounded-PQ `topByKey`.
