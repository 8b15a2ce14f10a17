package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Minimal JSON rendering: the report is flat numbers, strings and
  * nested objects, and the benchmark adds no dependency to get it. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }

  /** Full-precision number; JSON has no NaN or infinity, so those render
    * as null (and the check that guards the value fails). */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def render(v: Any): String = v match {
    case null         => "null"
    case s: String    => str(s)
    case b: Boolean   => b.toString
    case i: Int       => i.toString
    case l: Long      => l.toString
    case d: Double    => num(d)
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_]    => s.map(render).mkString("[", ",", "]")
    case other        => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}:${render(v)}" }.mkString("{", ",", "}")
}

/** Metric names and units. The end-to-end set is reported with tracing
  * off and the per-layer set by a traced run; every workload reports
  * every name, and a layer a workload never calls reads 0. */
object Catalog {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "read_s" -> "s", "write_s" -> "s",
    "cache_peak_mb" -> "MB")

  private val sparkRuntime: Seq[(String, String)] = Seq(
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "task_run_s" -> "s", "task_cpu_s" -> "s", "gc_s" -> "s",
    "driver_gap_s" -> "s", "core_busy_frac" -> "fraction",
    "shuffle_read_mb" -> "MB", "shuffle_write_mb" -> "MB", "spill_mb" -> "MB",
    "input_mb" -> "MB", "output_mb" -> "MB").map { case (k, u) => s"spark.$k" -> u }

  val PerLayer: Seq[(String, String)] = Seq(
    "tsne.x2p_s" -> "s", "tsne.symmetrize_s" -> "s", "tsne.adjacency_s" -> "s",
    "tsne.prepare_s" -> "s", "tsne.iter_ms_p50" -> "ms", "tsne.iter_ms_p95" -> "ms",
    "tsne.iter_jobs" -> "count", "tsne.iter_tasks" -> "count",
    "tsne.iter_gap_ms" -> "ms", "tsne.tree_build_ms" -> "ms",
    "tsne.tree_bytes" -> "bytes", "tsne.knn_shuffle_mb" -> "MB",
    "tsne.kl_final" -> "nats", "tsne.label_agree_at_10" -> "fraction",
    "ivf.append_s" -> "s", "ivf.compact_s" -> "s",
    "ivf.build_pq_s" -> "s", "ivf.rebuild_s" -> "s", "ivf.split_s" -> "s",
    "ivf.jobs_append" -> "count",
    "ivf.jobs_compact" -> "count", "ivf.jobs_build_pq" -> "count",
    "ivf.jobs_rebuild" -> "count", "ivf.jobs_split" -> "count",
    "ivf.search_s" -> "s", "ivf.search_pq_s" -> "s", "ivf.search_rebuilt_s" -> "s",
    "ivf.scan_rows_per_query" -> "count", "ivf.postings_files_max" -> "count",
    "ivf.recall_at_10" -> "fraction", "ivf.pq_recall_at_10" -> "fraction",
    "ivf.recall_rebuilt_at_10" -> "fraction",
    "ingest.bloom_s" -> "s", "ingest.day0_s" -> "s", "ingest.jobs_per_day" -> "count",
    "ingest.gap_per_day_s" -> "s", "ingest.files_written" -> "count",
    "ingest.probe_s" -> "s", "ingest.text_keep_frac" -> "fraction",
    "ingest.media_keep_frac" -> "fraction") ++ sparkRuntime ++ Seq(
    "store_mb" -> "MB", "leaked_rdds" -> "count", "error_rate" -> "fraction")
}

/** Per-pass span tables for the trace file. */
object TraceFile {

  /** One JSON object per span: timing relative to the first span, self
    * time (duration minus what child spans cover), and the span's own
    * jobs; top-level spans also carry the full Spark counters of every
    * job under them. */
  def spanLines(tr: Tracer, cores: Int): Seq[String] = {
    if (tr.spans.isEmpty) return Nil
    val t0 = tr.spans.head.start
    val attributed = tr.jobRecords
    val children = tr.spans.groupBy(_.parent)
    def subtree(id: Int): Set[Int] =
      children.getOrElse(id, Nil).flatMap(c => subtree(c.id)).toSet + id
    tr.spans.toSeq.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(_.interval).toSeq
      val own = attributed.collect { case (j, sid) if sid == s.id => j }
      val base = Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> (s.start - t0) / 1e6, "dur_ms" -> s.durNs / 1e6,
        "self_ms" -> Intervals.uncovered(s.interval, kids) / 1e6,
        "own_jobs" -> own.size)
      val top =
        if (s.parent >= 0) Nil
        else {
          val ids = subtree(s.id)
          val jobs = attributed.collect { case (j, sid) if ids(sid) => j }
          Seq("spark" -> SparkCounters.of(s.interval, jobs, cores).toMetrics("").toMap)
        }
      Json.obj(base ++ top)
    }
  }

  def write(file: File, header: Seq[(String, Any)], passes: Seq[PassResult]): Unit = {
    file.getParentFile.mkdirs()
    // a traced pass's span list goes inside its pass object
    val passesJson = passes.indices.map { i =>
      val p = passes(i)
      val head = Json.obj(Seq("pass" -> i, "traced" -> p.traced, "wall_s" -> p.wallS,
        "metrics" -> p.metrics))
      if (p.spans.isEmpty) head
      else head.dropRight(1) + ",\"spans\":[\n" + p.spans.mkString(",\n") + "]}"
    }
    val text = Json.obj(header).dropRight(1) + ",\"passes\":[\n" +
      passesJson.mkString(",\n") + "]}\n"
    Files.write(file.toPath, text.getBytes(StandardCharsets.UTF_8))
  }
}
