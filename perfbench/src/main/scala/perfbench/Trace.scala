package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Half-open time interval [start, end) in nanoseconds. */
final case class Interval(start: Long, end: Long) {
  def length: Long = math.max(0L, end - start)
  def clip(lo: Long, hi: Long): Interval = Interval(math.max(start, lo), math.min(end, hi))
}

/** Interval arithmetic behind self time and driver gap. */
object Intervals {

  /** Total length covered by the union of `xs` (overlaps counted once). */
  def unionLength(xs: Seq[Interval]): Long = {
    val sorted = xs.filter(i => i.end > i.start).sortBy(_.start)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    sorted.foreach { i =>
      if (i.start > curE) {
        if (curE > curS) total += curE - curS
        curS = i.start
        curE = i.end
      } else if (i.end > curE) curE = i.end
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Time inside `outer` that none of `inner` covers: a span's self time
    * (inner = its children) or its driver gap (inner = its jobs). */
  def uncovered(outer: Interval, inner: Seq[Interval]): Long =
    outer.length - unionLength(inner.map(_.clip(outer.start, outer.end)))
}

/** One recorded call: name, start, end and the span that caused it
  * (`parent` = -1 for a top-level span). */
final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long) {
  def interval: Interval = Interval(start, end)
  def durNs: Long = end - start
}

/** Counters of one Spark job, summed over its tasks. Times are ns on the
  * driver's `System.nanoTime` clock. */
final class JobRec(val jobId: Int, val span: Int, val start: Long) {
  @volatile var end: Long = -1L
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  def interval: Interval = Interval(start, if (end < 0) start else end)
}

/** Span recorder plus the SparkListener that counts jobs, stages and task
  * metrics. Spans and job records stay in memory until the run ends.
  *
  * Jobs are attributed to spans through the submitting thread's local
  * property [[SpanProp]], set around every traced call and inside the
  * t-SNE callback; a job submitted without it (another thread) goes to
  * the innermost span whose window contains its start. */
final class Tracer(sc: SparkContext) {
  import Tracer._

  // listener events carry epoch-millisecond stamps; spans use nanoTime
  private val nanoAtEpochZero = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNs(epochMs: Long): Long = nanoAtEpochZero + epochMs * 1000000L

  val spans = new ArrayBuffer[Span]
  private val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageToJob = new ConcurrentHashMap[Int, JobRec]
  private val drainsSeen = new java.util.concurrent.atomic.AtomicInteger
  private var drainsSent = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      val rec = new JobRec(e.jobId, sid, toNs(e.time))
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(s => stageToJob.put(s, rec))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach { r =>
        r.end = toNs(e.time)
        if (r.span == SentinelSpan) drainsSeen.incrementAndGet()
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageToJob.get(e.stageInfo.stageId)).foreach(r => r.synchronized(r.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageToJob.get(e.stageId)).foreach { r =>
        val m = e.taskMetrics
        r.synchronized {
          r.tasks += 1
          if (m != null) {
            r.runMs += m.executorRunTime
            r.cpuNs += m.executorCpuTime
            r.gcMs += m.jvmGCTime
            r.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            r.spillBytes += m.diskBytesSpilled
            r.inputBytes += m.inputMetrics.bytesRead
            r.outputBytes += m.outputMetrics.bytesWritten
          }
        }
      }
  }
  sc.addSparkListener(listener)

  private var current = -1

  /** Open a span under the current one and attribute this thread's jobs
    * to it until [[close]]. */
  def open(name: String): Int = {
    val s = Span(spans.length, name, current, System.nanoTime(), -1L)
    spans += s
    current = s.id
    sc.setLocalProperty(SpanProp, s.id.toString)
    s.id
  }

  def close(id: Int): Unit = {
    val s = spans(id)
    s.end = System.nanoTime()
    current = s.parent
    sc.setLocalProperty(SpanProp, if (current < 0) null else current.toString)
  }

  /** Wait until the listener has seen every job submitted so far: events
    * reach a listener in order, so once a marker job's end arrives all
    * earlier jobs' events have too. */
  def drain(): Unit = {
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, SentinelSpan.toString)
    sc.setJobDescription("perfbench listener drain")
    sc.parallelize(Seq(1), 1).count()
    sc.setJobDescription(null)
    sc.setLocalProperty(SpanProp, prev)
    drainsSent += 1
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (drainsSeen.get < drainsSent && System.nanoTime() < deadline) Thread.sleep(2)
  }

  /** Every job except the drain markers, attributed to a span. */
  def jobRecords: Seq[(JobRec, Int)] = {
    val recs = jobs.values.asScala.toSeq.filter(_.span != SentinelSpan).sortBy(_.jobId)
    recs.map(r => r -> (if (r.span >= 0) r.span else spanAt(r.start)))
  }

  /** Innermost span whose window contains `t` (-1 if none). */
  def spanAt(t: Long): Int = {
    val hits = spans.filter(s => s.start <= t && (s.end < 0 || t < s.end))
    if (hits.isEmpty) -1 else hits.maxBy(_.start).id
  }

  def stop(): Unit = sc.removeSparkListener(listener)
}

object Tracer {
  val SpanProp = "perfbench.span"
  private val SentinelSpan = -2
}

/** Counters of a set of jobs within a time window. */
final case class SparkCounters(jobs: Int, stages: Int, tasks: Int,
    taskRunS: Double, taskCpuS: Double, gcS: Double, driverGapS: Double,
    coreBusyFrac: Double, shuffleReadMb: Double, shuffleWriteMb: Double,
    spillMb: Double, inputMb: Double, outputMb: Double) {
  def toMetrics(prefix: String): Seq[(String, Double)] = Seq(
    s"${prefix}jobs" -> jobs.toDouble, s"${prefix}stages" -> stages.toDouble,
    s"${prefix}tasks" -> tasks.toDouble, s"${prefix}task_run_s" -> taskRunS,
    s"${prefix}task_cpu_s" -> taskCpuS, s"${prefix}gc_s" -> gcS,
    s"${prefix}driver_gap_s" -> driverGapS, s"${prefix}core_busy_frac" -> coreBusyFrac,
    s"${prefix}shuffle_read_mb" -> shuffleReadMb, s"${prefix}shuffle_write_mb" -> shuffleWriteMb,
    s"${prefix}spill_mb" -> spillMb, s"${prefix}input_mb" -> inputMb,
    s"${prefix}output_mb" -> outputMb)
}

object SparkCounters {
  val Mb = 1024.0 * 1024.0

  def of(window: Interval, jobs: Seq[JobRec], cores: Int): SparkCounters = {
    val wallS = window.length / 1e9
    val runS = jobs.map(_.runMs).sum / 1e3
    SparkCounters(jobs.size, jobs.map(_.stages).sum, jobs.map(_.tasks).sum,
      runS, jobs.map(_.cpuNs).sum / 1e9, jobs.map(_.gcMs).sum / 1e3,
      Intervals.uncovered(window, jobs.map(_.interval)) / 1e9,
      if (wallS > 0) runS / (wallS * cores) else 0.0,
      jobs.map(_.shuffleReadBytes).sum / Mb, jobs.map(_.shuffleWriteBytes).sum / Mb,
      jobs.map(_.spillBytes).sum / Mb, jobs.map(_.inputBytes).sum / Mb,
      jobs.map(_.outputBytes).sum / Mb)
  }
}
