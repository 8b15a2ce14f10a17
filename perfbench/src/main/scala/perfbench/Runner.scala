package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Which side of a workload a timed call belongs to. */
sealed trait Phase
object Phase {
  case object Write extends Phase
  case object Read extends Phase
}

/** Peak storage memory of persisted RDDs over a pass, sampled at span
  * boundaries: every call into the program, and every t-SNE iteration. */
final class StorageSampler(spark: SparkSession) {
  private val sc = spark.sparkContext
  private def memBytes(): Long = sc.getRDDStorageInfo.map(_.memSize).sum
  private val base = memBytes()
  private var peak = base
  def sample(): Unit = peak = math.max(peak, memBytes())
  /** Peak storage above the level when sampling started. */
  def peakAboveStart: Long = peak - base
}

/** What one pass records: timed calls, checks and workload metrics. */
final class PassCtx(val spark: SparkSession, val tracer: Option[Tracer],
    val dir: File) {
  val calls = new ArrayBuffer[(String, Long)]
  val phaseNs = mutable.Map[Phase, Long](Phase.Read -> 0L, Phase.Write -> 0L)
  val checks = new ArrayBuffer[(String, Boolean, String)]
  val metrics = mutable.LinkedHashMap[String, Double]()
  var ops = 0
  var opFailures = 0
  val sampler = new StorageSampler(spark)

  def traced: Boolean = tracer.isDefined

  /** Time one call into the program. `phase` = None when the workload
    * splits the call's time between phases itself ([[addPhase]]). */
  def call[A](name: String, phase: Option[Phase])(f: => A): A = {
    sampler.sample()
    val span = tracer.map(_.open(name))
    ops += 1
    val t0 = System.nanoTime()
    try f
    catch { case e: Throwable => opFailures += 1; throw e }
    finally {
      val dt = System.nanoTime() - t0
      span.foreach(id => tracer.get.close(id))
      calls += ((name, dt))
      phase.foreach(p => phaseNs(p) += dt)
      sampler.sample()
    }
  }
  def write[A](name: String)(f: => A): A = call(name, Some(Phase.Write))(f)
  def read[A](name: String)(f: => A): A = call(name, Some(Phase.Read))(f)

  def addPhase(p: Phase, ns: Long): Unit = phaseNs(p) += ns

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((name, ok, if (ok) "" else detail))

  def metric(name: String, v: Double): Unit = metrics(name) = v

  /** Jobs attributed to spans named `name` or to their descendants. */
  def jobsUnder(name: String): Seq[JobRec] = tracer.toSeq.flatMap { tr =>
    val roots = tr.spans.filter(_.name == name).map(_.id).toSet
    def under(id: Int): Boolean =
      id >= 0 && (roots(id) || under(tr.spans(id).parent))
    tr.jobRecords.collect { case (j, s) if under(s) => j }
  }

  def callSeconds(name: String): Double =
    calls.filter(_._1 == name).map(_._2).sum / 1e9
}

/** A benchmark workload: seeded inputs, an untimed warm-up, and a timed
  * pass whose outputs are verified after the clock stops. */
trait Workload {
  type In
  type Out
  def name: String
  /** Build the inputs from the seed; called several times per run, and
    * each call's persisted RDDs are released before the next. */
  def generate(spark: SparkSession, seed: Long, dir: File): In
  /** Run the program once, untimed, so the JIT and Spark's codegen
    * caches are warm before the first timed pass. */
  def warmUp(spark: SparkSession, in: In, dir: File): Unit
  /** The timed part: only calls into the program, through `ctx`. */
  def pass(in: In, ctx: PassCtx): Out
  /** Output checks and quality metrics, after the clock stops. */
  def verify(in: In, out: Out, ctx: PassCtx): Unit
  /** Traced passes only, after the clock stops: per-layer numbers that
    * need extra program calls or the span tree. */
  def layerMetrics(in: In, out: Out, ctx: PassCtx): Unit
}

/** One pass's end-to-end numbers plus, when traced, its per-layer ones. */
final case class PassResult(traced: Boolean, wallS: Double, readS: Double,
    writeS: Double, cachePeakMb: Double, leakedRdds: Int, storeMb: Double,
    ops: Int, opFailures: Int, checks: Seq[(String, Boolean, String)],
    metrics: Map[String, Double], spans: Seq[String])

object Runner {
  val SetupReps = 3

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"perfbench [$up%7.2f s] $msg")
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile, p in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Release everything a pass left cached, so the next one starts from
    * the same storage state. */
  def isolate(spark: SparkSession, keep: Set[Int]): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = true)
    }
  }

  final case class Outcome(setupS: Double, setupGenS: Seq[Double], warmS: Double,
      passes: Seq[PassResult])

  def run(spark: SparkSession, w: Workload, seed: Long, seconds: Double,
      trace: Boolean, work: File): Outcome = {
    val sc = spark.sparkContext
    // ---- set-up: input generation (median of SetupReps) + warm-up ----
    val none = sc.getPersistentRDDs.keySet.toSet
    var in: Option[w.In] = None
    val genS = (1 to SetupReps).map { i =>
      isolate(spark, none)
      val (v, s) = time(w.generate(spark, seed, new File(work, s"inputs$i")))
      in = Some(v)
      s
    }
    val warmDir = new File(work, "warmup")
    val inputs = sc.getPersistentRDDs.keySet.toSet
    val (_, warmS) = time(w.warmUp(spark, in.get, warmDir))
    isolate(spark, inputs)
    deleteTree(warmDir)
    val setupS = median(genS) + warmS
    log(f"set-up done: generate ${genS.mkString(", ")} s, warm-up $warmS%.3f s")

    // ---- timed passes: fill the window, at least one; a traced run
    // traces every pass ----------------------------------------------
    val passes = new ArrayBuffer[PassResult]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (passes.isEmpty || System.nanoTime() < deadline)
      passes += onePass(spark, w)(in.get, trace, new File(work, s"pass${passes.size}"))
    isolate(spark, none)
    Outcome(setupS, genS, warmS, passes.toSeq)
  }

  private def onePass(spark: SparkSession, w: Workload)(in: w.In,
      traced: Boolean, dir: File): PassResult = {
    val sc = spark.sparkContext
    dir.mkdirs()
    val before = sc.getPersistentRDDs.keySet.toSet
    val tracer = if (traced) Some(new Tracer(sc)) else None
    val ctx = new PassCtx(spark, tracer, dir)
    val t0 = System.nanoTime()
    val out =
      try Some(w.pass(in, ctx))
      catch { case e: Throwable =>
        ctx.check("pass completed", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        e.printStackTrace()
        None
      }
    val wallNs = System.nanoTime() - t0
    log(f"pass done${if (traced) " (traced)" else ""}: ${wallNs / 1e9}%.3f s; " +
      ctx.calls.map { case (n, ns) => f"$n ${ns / 1e9}%.2f" }.mkString(", "))
    val window = Interval(t0, t0 + wallNs)
    val peak = ctx.sampler.peakAboveStart
    val leaked = sc.getPersistentRDDs.keySet.toSet -- before
    val storeBytes = dirBytes(dir)
    out.foreach { o =>
      try w.verify(in, o, ctx)
      catch { case e: Throwable =>
        ctx.check("verify completed", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    val spanLines = tracer.map { tr =>
      tr.drain()
      // spark runtime counters over the timed window only: jobs of the
      // checks and of the per-layer extras below are excluded
      val inWindow = tr.jobRecords.map(_._1).filter(j => j.start >= t0 && j.start < window.end)
      SparkCounters.of(window, inWindow, sc.defaultParallelism).toMetrics("spark.")
        .foreach { case (k, v) => ctx.metric(k, v) }
      out.foreach { o =>
        try w.layerMetrics(in, o, ctx)
        catch { case e: Throwable =>
          ctx.check("layer metrics completed", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
      tr.drain()
      tr.stop()
      TraceFile.spanLines(tr, sc.defaultParallelism)
    }.getOrElse(Nil)
    isolate(spark, before)
    deleteTree(dir)
    log("pass verified and released")
    PassResult(traced, wallNs / 1e9, ctx.phaseNs(Phase.Read) / 1e9,
      ctx.phaseNs(Phase.Write) / 1e9, peak / SparkCounters.Mb, leaked.size,
      storeBytes / SparkCounters.Mb, ctx.ops, ctx.opFailures, ctx.checks.toSeq,
      ctx.metrics.toMap, spanLines)
  }
}
