package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one process.
  *
  * {{{
  * perfbench.Main --workload tsne_bh|daily_ingest
  *   --seed N --seconds S --trace 0|1 [--work DIR] [--out DIR]
  * }}}
  *
  * Set-up (input generation, repeated [[Runner.SetupReps]] times, plus
  * one untimed warm-up run) is reported as `setup_s`. Timed passes then
  * fill `--seconds` (at least one) and every metric is a median over
  * them. `--trace 0` reports the end-to-end metrics; `--trace 1` traces
  * every pass, reports the per-layer metrics and writes the spans to a
  * trace file under `--out`, with the tracing overhead against earlier
  * untraced runs of the same seed. The last stdout line is the result
  * object. */
object Main {

  /** `tiny` runs every workload at smoke-test size; only the benchmark's
    * own tests set it. */
  final case class Options(workload: String, seed: Long, seconds: Double,
      trace: Boolean, tiny: Boolean, work: File, out: File)

  def parse(args: Array[String]): Options = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    val unknown = kv.keySet -- Set("workload", "seed", "seconds", "trace", "work", "out")
    require(unknown.isEmpty, s"unknown options: ${unknown.mkString(", ")}")
    val trace = kv.getOrElse("trace", "0")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    val seconds = kv.getOrElse("seconds", "10").toDouble
    require(seconds >= 0, "--seconds must be >= 0")
    Options(kv.getOrElse("workload", sys.error("--workload is required")),
      kv.get("seed").map(_.toLong).getOrElse(Inputs.DefaultSeed), seconds,
      trace == "1", tiny = false,
      new File(kv.getOrElse("work", ".bench_build/perfbench/work")).getAbsoluteFile,
      new File(kv.getOrElse("out", ".bench_build/perfbench")).getAbsoluteFile)
  }

  val Workloads: Seq[String] = Seq("tsne_bh", "daily_ingest")

  def workload(o: Options): Workload = o.workload match {
    case "tsne_bh"       => new TsneBh(o.tiny)
    case "daily_ingest"  => new DailyIngestWorkload(o.tiny, new File(o.out, "digests"))
    case w => throw new IllegalArgumentException(
      s"unknown workload $w (${Workloads.mkString(", ")})")
  }

  /** local[k] with k = the cores this process may use, and as many
    * shuffle partitions. Shuffle scratch space follows SPARK_LOCAL_DIRS,
    * which the launcher points inside the checkout. */
  def session(work: File): SparkSession = {
    val k = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$k]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The result object: end-to-end metrics from an untraced run,
    * per-layer metrics from a traced one. */
  def result(o: Options, r: Runner.Outcome): (String, Map[String, Double]) = {
    def med(f: PassResult => Double) = Runner.median(r.passes.map(f))
    val checks = r.passes.flatMap(_.checks)
    val attempted = r.passes.map(_.ops).sum + checks.size
    val failed = r.passes.map(_.opFailures).sum + checks.count(!_._2)
    val e2e = Map(
      "setup_s" -> r.setupS,
      "wall_s" -> med(_.wallS),
      "read_s" -> med(_.readS),
      "write_s" -> med(_.writeS),
      "cache_peak_mb" -> med(_.cachePeakMb))
    val layer = Catalog.PerLayer.map(_._1).map {
      case "store_mb"    => "store_mb" -> med(_.storeMb)
      case "leaked_rdds" => "leaked_rdds" -> med(_.leakedRdds.toDouble)
      case "error_rate"  => "error_rate" -> failed.toDouble / math.max(1, attempted)
      case m => m -> med(_.metrics.getOrElse(m, 0.0))
    }.toMap
    val (names, values) =
      if (o.trace) (Catalog.PerLayer, layer) else (Catalog.EndToEnd, e2e)
    val metrics = names.map { case (n, unit) =>
      n -> Map("value" -> values(n), "unit" -> unit)
    }
    val line = Json.obj(Seq("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> scala.collection.immutable.ListMap(metrics: _*)))
    (line, e2e ++ layer)
  }

  /** Wall times of untraced runs of one seed, one line per run, kept in
    * the checkout so a traced run can state its overhead against them.
    * The launcher empties `--out`'s walls/ and digests/ whenever it
    * rebuilds, so they only ever hold runs of the current build. */
  def wallLog(o: Options, w: Workload): File =
    new File(o.out, s"walls/${w.name}-seed${o.seed}.txt")

  def readWalls(f: File): Seq[Double] =
    if (!f.exists) Nil
    else scala.io.Source.fromFile(f).getLines().filter(_.nonEmpty).map(_.toDouble).toList

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = workload(o)
    o.work.mkdirs()
    val spark = session(o.work)
    Runner.log("session ready")
    val code =
      try {
        val r = Runner.run(spark, w, o.seed, o.seconds, o.trace, o.work)
        val walls = wallLog(o, w)
        val earlier = readWalls(walls)
        val (line, all) = result(o, r)
        // unknown (null) without an untraced run of this build and seed
        val overhead =
          if (!o.trace || earlier.isEmpty) None
          else Some(all("wall_s") - Runner.median(earlier))
        if (!o.trace) {
          walls.getParentFile.mkdirs()
          java.nio.file.Files.write(walls.toPath, s"${all("wall_s")}\n".getBytes,
            java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
        }
        val failedChecks = r.passes.flatMap(_.checks).filterNot(_._2)
        failedChecks.foreach { case (n, _, d) => println(s"perfbench: FAILED $n: $d") }
        println("perfbench: report " + Json.obj(Seq(
          "workload" -> w.name, "seed" -> o.seed, "trace" -> o.trace,
          "cores" -> spark.sparkContext.defaultParallelism,
          "setup_generate_s" -> r.setupGenS, "setup_warmup_s" -> r.warmS,
          "pass_wall_s" -> r.passes.map(_.wallS),
          "trace_overhead_s" -> overhead.getOrElse(null),
          "metrics" -> scala.collection.immutable.TreeMap(all.toSeq: _*))))
        if (o.trace) {
          val f = new File(o.out, s"trace/${w.name}-seed${o.seed}.json")
          TraceFile.write(f, Seq("workload" -> w.name, "seed" -> o.seed,
            "setup_s" -> r.setupS, "trace_overhead_s" -> overhead.getOrElse(null)),
            r.passes)
          println(s"perfbench: trace written to $f")
          println(overhead.fold("perfbench: tracing overhead unknown: no untraced " +
              s"run of seed ${o.seed} with this build")(v =>
            f"perfbench: tracing overhead $v%.3f s (traced wall_s minus the median " +
              s"of ${earlier.size} untraced runs of seed ${o.seed} with this build)"))
        }
        println(line)
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally spark.stop()
    Runner.log("session stopped")
    sys.exit(code)
  }
}
