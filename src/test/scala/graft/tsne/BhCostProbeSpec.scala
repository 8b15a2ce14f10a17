package graft.tsne

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Opt-in probe (GRAFT_PROFILE=1): decompose the BH per-iteration cost
  * into its parts — driver tree build (with the pointer reference
  * [[SPTree]]'s build as a yardstick), the one broadcast of (Y, tree),
  * the job floor (same job shape, empty kernel), the job with the real
  * row-local kernel, and the whole `BHTSNE.gradient` — at 2k points,
  * where the job floor dominates, and at 16k, where the kernel does.
  *
  * Each part is first called until its timings are steady (at least
  * `minWarm` calls, then until the median of the last 20 calls is within
  * 5% of the 20 before), so the JIT has finished compiling it. The parts
  * are then timed in interleaved rounds, one call of each per round, and
  * the differences (kernel = job − floor, driver = whole − job) are the
  * medians of the per-round differences, so a slow stretch of the machine
  * moves both sides of a subtraction alike. */
class BhCostProbeSpec extends AnyFunSuite {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.length / 2)
  }

  private def probe(n: Int, minWarm: Int, rounds: Int): Unit = {
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
    // the partitioning and the localCheckpoint prepareAffinities gives
    // the adjacency: a parallelized RDD's partitions carry their rows, so
    // with a plain cache every task of every job would ship them
    val parts = math.max(1, math.min(sc.defaultParallelism, n / 256))
    val rdd = sc.parallelize(rows, parts).localCheckpoint()
    rdd.count()
    val tree = FlatSPTree.build(y, n, d)
    val ser = new org.apache.spark.serializer.KryoSerializer(sc.getConf).newInstance()
    val bc = sc.broadcast((y.clone(), tree))

    val floor = s"runJob, empty kernel ($parts tasks)"
    val job = "runJob, row-local forces"
    val whole = "BHTSNE.gradient (whole iteration)"
    val probes: Seq[(String, () => Any)] = Seq(
      "SPTree.build" -> (() => SPTree.build(y, n, d)),
      "FlatSPTree.build" -> (() => FlatSPTree.build(y, n, d)),
      "kryo serialize (Y, flat tree)" -> (() => ser.serialize((y, tree))),
      "broadcast (Y, tree) + destroy" -> { () =>
        val b = sc.broadcast((y.clone(), tree)); b.destroy()
      },
      floor -> (() => sc.runJob(rdd, (it: Iterator[AffRow]) => { bc.value; it.size })),
      job -> (() => sc.runJob(rdd, (it: Iterator[AffRow]) => {
        val (yb, t) = bc.value
        BHTSNE.partial(it, yb, t, d, 0.5, 1.0, wantLoss = false)
      })),
      whole -> (() => BHTSNE.gradient(rdd, y, n, d, 0.5, 1.0, wantLoss = false)))

    def once(f: () => Any): Double = {
      val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e6
    }

    for ((label, f) <- probes) {
      val ms = scala.collection.mutable.ArrayBuffer[Double]()
      def steady: Boolean = ms.length >= minWarm && {
        val last = median(ms.takeRight(20).toSeq)
        val prev = median(ms.slice(ms.length - 40, ms.length - 20).toSeq)
        math.abs(last - prev) <= 0.05 * prev
      }
      while (!steady && ms.length < 10 * minWarm) ms += once(f)
      println(f"[probe] n=$n%-6d warmed $label%-34s ${ms.length}%5d calls, " +
        f"last 20 median ${median(ms.takeRight(20).toSeq)}%8.2f ms")
    }

    val times = Array.fill(probes.length, rounds)(0.0)
    for (r <- 0 until rounds; (p, ix) <- probes.zipWithIndex) times(ix)(r) = once(p._2)
    val byLabel = probes.map(_._1).zip(times.toSeq).toMap
    for ((label, _) <- probes)
      println(f"[probe] n=$n%-6d $label%-34s ${median(byLabel(label).toSeq)}%8.2f ms " +
        s"(median of $rounds interleaved rounds)")
    def diff(a: String, b: String): Double =
      median(byLabel(a).indices.map(r => byLabel(a)(r) - byLabel(b)(r)))
    println(f"[probe] n=$n%-6d kernel ~ job - floor ${diff(job, floor)}%.2f ms; " +
      f"driver (build + broadcast + combine) ~ whole - job ${diff(whole, job)}%.2f ms " +
      f"(build ${median(byLabel("FlatSPTree.build").toSeq)}%.2f, " +
      f"broadcast ${median(byLabel("broadcast (Y, tree) + destroy").toSeq)}%.2f)")
    bc.destroy()
    rdd.unpersist()
  }

  test("BH per-iteration cost decomposition at 2k")(probe(2000, minWarm = 200, rounds = 60))

  test("BH per-iteration cost decomposition at 16k")(probe(16000, minWarm = 60, rounds = 30))
}
