package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every workload input is a pure function of
  * (seed, size): the same seed gives byte-identical frames, so two runs
  * of one seed must produce identical program outputs. The program
  * receives plain frames, never a handle into the benchmark. */
object Inputs {

  /** The seed a run uses when none is given. (Seed 1000003 is held out of
    * all tuning; see README.md.) */
  val DefaultSeed = 1L

  /** splitmix64: tiny, seedable, and the same on every JVM. */
  final class Rng(seed: Long) {
    private var s = seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
    def nextLong(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def nextInt(bound: Int): Int = ((nextLong() >>> 33) % bound).toInt
    private var spare = Double.NaN
    def nextGaussian(): Double =
      if (!spare.isNaN) { val g = spare; spare = Double.NaN; g }
      else {
        var u, v, r = 0.0
        while ({
          u = 2 * nextDouble() - 1; v = 2 * nextDouble() - 1; r = u * u + v * v
          r >= 1 || r == 0
        }) ()
        val f = math.sqrt(-2 * math.log(r) / r)
        spare = v * f
        u * f
      }
  }

  /** Labelled points of a Gaussian mixture: `clusters` centers drawn
    * N(0, spread²) per dimension, points N(center, 1). With spread near
    * 1 the clusters overlap in every single coordinate. */
  final case class Mixture(ids: Array[Long], x: Array[Array[Double]],
      label: Array[Int])

  def mixture(n: Int, dim: Int, clusters: Int, spread: Double,
      seed: Long): Mixture = {
    val rng = new Rng(seed)
    val centers = Array.fill(clusters, dim)(rng.nextGaussian() * spread)
    val label = Array.fill(n)(rng.nextInt(clusters))
    val x = label.map(c => Array.tabulate(dim)(k => centers(c)(k) + rng.nextGaussian()))
    // ids are sparse and shuffled so a program cannot lean on 0..n-1
    val ids = Array.tabulate(n)(i => 17L * i + 3)
    var i = n - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
      i -= 1
    }
    Mixture(ids, x, label)
  }

  /** Unit vectors around `clusters` random directions with uneven
    * cluster weights (cell occupancy is skewed, so splits have work).
    * `noise` sets the angular spread within a cluster. */
  def unitVectors(n: Int, dim: Int, clusters: Int, noise: Double,
      seed: Long, centersSeed: Long): Array[Array[Double]] = {
    val crng = new Rng(centersSeed)
    val centers = Array.fill(clusters)(normalize(Array.fill(dim)(crng.nextGaussian())))
    val weights = Array.tabulate(clusters)(c => 1.0 + 3.0 * crng.nextDouble())
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum)
    val rng = new Rng(seed)
    Array.fill(n) {
      val u = rng.nextDouble()
      val c = math.min(clusters - 1, cum.indexWhere(_ >= u) max 0)
      normalize(Array.tabulate(dim)(k => centers(c)(k) + noise * rng.nextGaussian()))
    }
  }

  /** Ids of generated query vectors: above every crawl and planted id. */
  val QueryIdBase: Long = 1L << 50

  /** Vectors of the crawl generated from `crawlSeed`: 64-dim, around the
    * same 10 directions for every `seed`. The fixture's vectors have no
    * such structure (mean cosine to their label's centroid is 0.07), so
    * an IVF index over them has no cells to find; these are clustered so
    * that IVF recall means something. */
  def crawlVectors(n: Int, seed: Long, crawlSeed: Long): Array[Array[Double]] =
    unitVectors(n, 64, 10, 0.09, seed, crawlSeed + 2)

  def normalize(v: Array[Double]): Array[Double] = {
    val nrm = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / nrm)
  }

  /** (idCol LONG, vecCol ARRAY<DOUBLE>) frame spread over `parts`. */
  def vectorFrame(spark: SparkSession, ids: Array[Long],
      vs: Array[Array[Double]], idCol: String, vecCol: String,
      parts: Int): DataFrame = {
    val schema = StructType(Seq(StructField(idCol, LongType, nullable = false),
      StructField(vecCol, ArrayType(DoubleType, containsNull = false), nullable = false)))
    val rows = ids.indices.map(i => org.apache.spark.sql.Row(ids(i), vs(i).toSeq))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
  }

  // The crawl's shape follows the repository's sf0.01 documents and
  // embeddings fixture, which is not part of a checkout. Counts measured
  // on it: 500 docs, ids 0..499; 10 to 99 words per text, uniform (mean
  // 54.3, deciles 20, 28, 37, 45, 56, 63, 72, 80, 88); 30 words, each at
  // about 1/30 of all tokens; 26 texts (5%) are another doc's text plus
  // the token "dup", the source anywhere in the table; languages en 218,
  // zh 75, es 73, de 70, fr 64; sources src0..src19, doc i from
  // src(i % 20); n_chars the text's length; 500 unit 64-dim vectors,
  // vector i for doc i. The sf0.1 fixture has the same text shape at 5000
  // docs, with 2000 vectors.
  private val Vocab = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val Langs = Seq("en" -> 218, "zh" -> 75, "es" -> 73, "de" -> 70,
    "fr" -> 64)
  private val LangCum = Langs.map(_._2).scanLeft(0)(_ + _).tail

  /** A crawl-shaped documents table with the schema the daily-ingest
    * generators read (doc_id, text, lang, source, n_chars), shaped like
    * the fixture (see above). */
  def documents(nDocs: Int, seed: Long): Seq[(Long, String, String, String, Long)] = {
    val rng = new Rng(seed)
    val base = Array.fill(nDocs)(
      Array.fill(10 + rng.nextInt(90))(Vocab(rng.nextInt(Vocab.length))).mkString(" "))
    (0 until nDocs).map { i =>
      val text = if (rng.nextInt(20) == 0) base(rng.nextInt(nDocs)) + " dup" else base(i)
      val u = rng.nextInt(LangCum.last)
      (i.toLong, text, Langs(LangCum.indexWhere(u < _))._1, s"src${i % 20}",
        text.length.toLong)
    }
  }

  /** Write the documents + embeddings tables the `OpsQueries.daily*`
    * generators read into `dir`; vector i belongs to document i, and the
    * first `nVecs` documents have one. */
  def writeCrawl(spark: SparkSession, dir: String, nDocs: Int, nVecs: Int,
      seed: Long): Unit = {
    import spark.implicits._
    documents(nDocs, seed).toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val vs = crawlVectors(nVecs, seed + 1, seed)
    vs.indices.map(i => (i.toLong, vs(i).map(_.toFloat).toSeq, i % 10))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}
