package graft.tsne

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The 500-point sf0.01 embeddings fixture, the one the t-SNE goldens use. */
private object Sf001 {
  def embeddings = TestSpark.spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
}

class HbetaSpec extends AnyFunSuite {

  private val rng = new scala.util.Random(42)
  private def randDists(n: Int): Array[Double] =
    Array.fill(n)(0.01 + rng.nextDouble() * 100.0)

  test("hBeta normalizes P to sum 1") {
    for (_ <- 1 to 50) {
      val d = randDists(1 + rng.nextInt(30))
      val beta = 0.01 + rng.nextDouble() * 10.0
      val (_, p) = X2P.hBeta(d, beta)
      if (p.sum > 0) assert(math.abs(p.sum - 1.0) < 1e-9)
    }
  }

  test("entropy decreases as beta increases (distinct distances)") {
    val d = Array(1.0, 2.0, 5.0, 9.0)
    val hs = Seq(0.1, 0.5, 1.0, 2.0, 5.0).map(b => X2P.hBeta(d, b)._1)
    assert(hs == hs.sorted.reverse)
  }

  test("betaSearch hits target entropy within tol or 50 tries") {
    for (_ <- 1 to 50) {
      val d = Array.fill(10)(0.1 + rng.nextDouble() * 50.0)
      val perp = 5.0
      val (beta, p) = X2P.betaSearch(d, perp, 1e-5)
      val (h, _) = X2P.hBeta(d, beta)
      assert(beta > 0.0)
      assert(math.abs(p.sum - 1.0) < 1e-9)
      assert(math.abs(h - math.log(perp)) < 1e-3)
    }
  }

  test("zero-sum guard: huge distances underflow to H=0 without NaN") {
    val (h, p) = X2P.hBeta(Array(1e300, 1e300), 10.0)
    assert(h == 0.0)
    assert(p.forall(!_.isNaN))
  }
}

class X2PSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The reference's golden fixture (X2PSuite.scala:14-20): 4×3 matrix,
    * perplexity 2. The tsne.jl expectation commented out upstream
    * ([0,.5,.5] rows) is mathematically unreachable — the unique
    * entropy-calibrated exponential distribution over row-0's squared
    * distances (27, 108, 243) with H = log 2 is ≈ [0.727, 0.243, 0.030]
    * (which is presumably why the upstream assertion stayed commented).
    * We assert the defining calibration invariants instead, plus the
    * exact converged distribution as our own golden. */
  test("X2P golden 4x3 matrix at perplexity 2") {
    import spark.implicits._
    val df = Seq(
      (0L, Array(1.0, 2.0, 3.0)),
      (1L, Array(4.0, 5.0, 6.0)),
      (2L, Array(7.0, 8.0, 9.0)),
      (3L, Array(10.0, 11.0, 12.0))
    ).toDF("id", "features")

    val p = X2P.x2p(df, perplexity = 2.0, tol = 1e-5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap

    val rows = p.groupBy(_._1._1).view.mapValues(_.map { case ((_, j), v) => j -> v }.toMap)
    // every row: sums to 1, entropy = log(perplexity) within tol-ish
    rows.foreach { case (i, row) =>
      assert(math.abs(row.values.sum - 1.0) < 1e-6, s"row $i not normalized")
      val h = -row.values.filter(_ > 0).map(v => v * math.log(v)).sum
      assert(math.abs(h - math.log(2.0)) < 1e-3, s"row $i entropy $h != log 2")
      // a nearest neighbor (|i-j|=1, the distance-27 ones) carries max mass
      assert(math.abs(row.maxBy(_._2)._1 - i) == 1, s"row $i max-mass neighbor not adjacent")
    }
    // our own golden for row 0 (symmetric for row 3)
    assert(math.abs(p((0L, 1L)) - 0.7271751954) < 1e-6)
    assert(math.abs(p((0L, 2L)) - 0.2364635147) < 1e-5)
    assert(math.abs(p((3L, 2L)) - 0.7271751954) < 1e-6)
  }

  test("symmetrize yields a symmetric matrix summing to ~1") {
    import spark.implicits._
    val df = Seq(
      (0L, Array(1.0, 2.0, 3.0)),
      (1L, Array(4.0, 5.0, 6.0)),
      (2L, Array(7.0, 8.0, 9.0)),
      (3L, Array(10.0, 11.0, 12.0))
    ).toDF("id", "features")
    val sym = Affinities.symmetrize(X2P.x2p(df, perplexity = 2.0), 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    sym.foreach { case ((i, j), v) =>
      assert(math.abs(v - sym((j, i))) < 1e-12, s"asymmetric at ($i,$j)")
    }
    val total = sym.values.sum
    assert(math.abs(total - 1.0) < 1e-3, s"sum(P)=$total")
  }

  test("exact P is bit-equal to betaSearch over the window oracle's top-μ lists") {
    val emb = Sf001.embeddings
    val perplexity = 20.0
    val mu = 60
    val got = X2P.x2p(emb, "vec_id", "embedding", perplexity = perplexity)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lists = KNN.knnWindow(emb, "vec_id", "embedding", mu).collect()
      .groupBy(_.getLong(0))
      .map { case (i, rs) => i -> rs.sortBy(_.getInt(3)) }
    val want = lists.flatMap { case (i, rs) =>
      val (_, p) = X2P.betaSearch(rs.map(_.getDouble(2)), perplexity, X2P.DefaultTol)
      rs.indices.map(r => (i, rs(r).getLong(1)) -> p(r))
    }
    assert(got.size == 500 * mu)
    assert(got.keySet == want.keySet)
    val differ = got.count { case (ij, p) =>
      java.lang.Double.doubleToRawLongBits(p) != java.lang.Double.doubleToRawLongBits(want(ij)) }
    assert(differ == 0, s"$differ of ${got.size} P(j|i) differ from the oracle's")
  }
}

class KNNSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("knn hand example: collinear points") {
    import spark.implicits._
    val df = Seq(
      (0L, Array(0.0)), (1L, Array(1.0)), (2L, Array(3.0)), (3L, Array(7.0))
    ).toDF("id", "features")
    val got = KNN.knn(df, "id", "features", 2)
      .collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(got((0L, 1)) == 1L && got((0L, 2)) == 2L)
    assert(got((1L, 1)) == 0L && got((1L, 2)) == 2L)
    assert(got((2L, 1)) == 1L && got((2L, 2)) == 0L)
    assert(got((3L, 1)) == 2L && got((3L, 2)) == 1L)
  }

  test("approximate kNN (euclidean LSH) reaches recall >= 0.6 vs exact") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // fixture embeddings are unit-normalized; NN distances ≈ 1.0-1.25
    val exact = KNN.knn(emb, "vec_id", "embedding", 10)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = KNN.knnApprox(emb, "vec_id", "embedding", 10, bucketLength = 1.0)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx intersect exact).size.toDouble / exact.size
    assert(recall >= 0.6, s"approx kNN recall $recall")
  }

  test("auto bucket length lands near the hand-tuned value and keeps recall") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // unit-norm 64-dim vectors: sigma ≈ 1/8, so auto w ≈ 0.0625
    val w = KNN.autoBucketLength(emb, "embedding")
    assert(w > 0.04 && w < 0.09, s"auto bucket length $w out of expected band")
    val exact = KNN.knn(emb, "vec_id", "embedding", 10)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = KNN.knnApproxAuto(emb, "vec_id", "embedding", 10,
        numHashTables = 12)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx intersect exact).size.toDouble / exact.size
    assert(recall >= 0.6, s"auto-w approx kNN recall $recall")
  }

  test("aggregator top-k matches window top-k on embeddings fixture") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .where(org.apache.spark.sql.functions.col("vec_id") < 100)
    val viaAgg = KNN.knn(emb, "vec_id", "embedding", 5)
      .select("i", "j", "rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val viaWin = KNN.knnWindow(emb, "vec_id", "embedding", 5)
      .select("i", "j", "rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaAgg == viaWin)
    assert(viaAgg.size == 100 * 5)
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  /** (i, rank) → (j, dist2 bits) of a kNN frame. */
  private def lists(df: org.apache.spark.sql.DataFrame): Map[(Long, Int), (Long, Long)] =
    df.select("i", "j", "dist2", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), bits(r.getDouble(2)))).toMap

  test("knn equals the window oracle on the sf0.01 embeddings, dist2 bit for bit") {
    val emb = Sf001.embeddings
    val got = lists(KNN.knn(emb, "vec_id", "embedding", 10))
    assert(got.size == 500 * 10)
    assert(got == lists(KNN.knnWindow(emb, "vec_id", "embedding", 10)))
  }

  test("knn equals the window oracle on a mixture with exact duplicate points (ties by j)") {
    import spark.implicits._
    val rng = new java.util.Random(11)
    val centres = Array.fill(4, 6)(rng.nextGaussian() * 3.0)
    val base = (0 until 90).map(i => centres(i % 4).map(_ + rng.nextGaussian()))
    // every third point is repeated exactly under a fresh id
    val pts = base ++ base.indices.filter(_ % 3 == 0).map(base)
    val df = pts.zipWithIndex.map { case (x, i) => (i.toLong * 7 % 1000, x) }
      .toDF("vec_id", "embedding")
    val got = lists(KNN.knn(df, "vec_id", "embedding", 7))
    assert(got.size == pts.size * 7)
    assert(got.values.exists(_._2 == bits(0.0)), "the mixture has no tied pair")
    assert(got == lists(KNN.knnWindow(df, "vec_id", "embedding", 7)))
  }

  test("knn: a point with null features has no row and is no one's neighbour") {
    import spark.implicits._
    val df = Seq[(Long, Array[Double])](
      (0L, Array(0.0)), (1L, Array(1.0)), (2L, null), (3L, Array(3.0)))
      .toDF("id", "features")
    val out = KNN.knn(df, "id", "features", 5).collect()
    assert(out.length == 3 * 2)
    assert(!out.exists(r => r.getLong(0) == 2L || r.getLong(1) == 2L))
  }

  test("knn: rows sharing an id form one neighbour list, as the grouped aggregate did") {
    import spark.implicits._
    val df = Seq(
      (0L, Array(0.0, 0.0)), (1L, Array(1.0, 0.0)), (1L, Array(1.5, 0.5)),
      (2L, Array(4.0, 4.0)), (3L, Array(0.0, 2.0))).toDF("id", "features")
    val grouped = KNN.topKFromCandidates(
      KNN.pairwise(KNN.prepare(df, "id", "features")), 3)
    assert(lists(KNN.knn(df, "id", "features", 3)) == lists(grouped))
  }

  test("knn: ragged feature arrays raise array_sq_dist's error") {
    import spark.implicits._
    val df = Seq((0L, Array(1.0, 2.0)), (1L, Array(1.0, 2.0, 3.0))).toDF("id", "features")
    def error(run: => Any): String = {
      val e = intercept[Exception](run)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case a: IllegalArgumentException => a.getMessage }
        .getOrElse(fail(s"no IllegalArgumentException in the causes of $e"))
    }
    val lengths = "array_sq_dist requires equal-length arrays, got (\\d) and (\\d)".r
    def pair(msg: String): Set[String] = msg match {
      case lengths(a, b) => Set(a, b)
      case other => fail(s"unexpected message: $other")
    }
    val got = error(KNN.knn(df, "id", "features", 1).collect())
    val oracle = error(KNN.knnWindow(df, "id", "features", 1).collect())
    assert(pair(got) == Set("2", "3") && pair(oracle) == Set("2", "3"), s"$got / $oracle")
  }
}
