package graft.tsne

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Opt-in probe (GRAFT_PROFILE=1): decompose the BH per-iteration cost
  * into its parts — driver tree build, the one broadcast of (Y, tree),
  * the job floor (same job shape, empty kernel), the job with the real
  * row-local kernel, and the whole `BHTSNE.gradient` — at 2k points,
  * where the job floor dominates, and at 16k, where the kernel does. */
class BhCostProbeSpec extends AnyFunSuite {

  private def probe(n: Int): Unit = {
    assume(sys.env.get("GRAFT_PROFILE").contains("1"), "opt-in probe")
    val sc = TestSpark.spark.sparkContext
    val d = 2
    val k = 90 // 3 × the default perplexity, as in the kNN affinities
    val rng = new java.util.Random(42)
    val y = Array.fill(n * d)(rng.nextGaussian() * 5)
    val rows = (0 until n).map { i =>
      val js = Array.fill(k)(rng.nextInt(n)).filter(_ != i).distinct.sorted
      AffRow(i, js, js.map(_ => 1.0 / (n.toDouble * k)))
    }
    // the partitioning prepareAffinities gives the cached adjacency
    val parts = math.max(1, math.min(sc.defaultParallelism, n / 256))
    val rdd = sc.parallelize(rows, parts).cache()
    rdd.count()

    def time[A](label: String, reps: Int)(f: => A): Double = {
      f // warm
      val ms = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
      }.sorted
      val p50 = ms(reps / 2)
      println(f"[probe] n=$n%-6d $label%-34s $p50%8.2f ms (median of $reps)")
      p50
    }

    time("SPTree.build", 20)(SPTree.build(y, n, d))
    val flat = time("FlatSPTree.build", 20)(FlatSPTree.build(y, n, d))
    val tree = FlatSPTree.build(y, n, d)
    val ser = new org.apache.spark.serializer.KryoSerializer(sc.getConf).newInstance()
    time("kryo serialize pointer tree", 20)(ser.serialize(SPTree.build(y, n, d)))
    time("kryo serialize (Y, flat tree)", 20)(ser.serialize((y, tree)))
    val bcast = time("broadcast (Y, tree) + destroy", 20) {
      val b = sc.broadcast((y.clone(), tree)); b.destroy()
    }
    val bc = sc.broadcast((y.clone(), tree))
    val floor = time(s"runJob, empty kernel ($parts tasks)", 30) {
      sc.runJob(rdd, (it: Iterator[AffRow]) => { bc.value; it.size })
    }
    val job = time(s"runJob, row-local forces", 30) {
      sc.runJob(rdd, (it: Iterator[AffRow]) => {
        val (yb, t) = bc.value
        BHTSNE.partial(it, yb, t, d, 0.5, 1.0, wantLoss = false)
      })
    }
    bc.destroy()
    val whole = time("BHTSNE.gradient (whole iteration)", 30)(
      BHTSNE.gradient(rdd, y, n, d, 0.5, 1.0, wantLoss = false))
    println(f"[probe] n=$n%-6d kernel ~ job - floor ${job - floor}%.2f ms; " +
      f"driver (build + broadcast + combine) ~ ${whole - job}%.2f ms " +
      f"(build $flat%.2f, broadcast $bcast%.2f)")
    rdd.unpersist()
  }

  test("BH per-iteration cost decomposition at 2k")(probe(2000))

  test("BH per-iteration cost decomposition at 16k")(probe(16000))
}
