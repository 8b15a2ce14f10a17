package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ArithmeticSpec extends AnyFunSuite {

  private def iv(s: Long, e: Long) = Interval(s, e)

  test("union length counts overlapping and nested intervals once") {
    assert(Intervals.unionLength(Nil) == 0)
    assert(Intervals.unionLength(Seq(iv(0, 10))) == 10)
    assert(Intervals.unionLength(Seq(iv(0, 10), iv(5, 15))) == 15)
    assert(Intervals.unionLength(Seq(iv(0, 10), iv(2, 3), iv(20, 25))) == 15)
    // unsorted input, touching intervals, and empty ones
    assert(Intervals.unionLength(Seq(iv(20, 25), iv(10, 20), iv(0, 10), iv(7, 7))) == 25)
  }

  test("driver gap is wall time outside every job, jobs clipped to the window") {
    val window = iv(100, 200)
    // jobs [90,120) and [110,130) overlap and stick out on the left;
    // [150,160) is inside; [190,260) sticks out on the right
    val jobs = Seq(iv(90, 120), iv(110, 130), iv(150, 160), iv(190, 260))
    // covered: [100,130) + [150,160) + [190,200) = 30 + 10 + 10
    assert(Intervals.uncovered(window, jobs) == 100 - 50)
    assert(Intervals.uncovered(window, Nil) == 100)
    assert(Intervals.uncovered(window, Seq(iv(0, 1000))) == 0)
  }

  test("self time is a span's duration minus what its children cover") {
    val parent = iv(0, 1000)
    val children = Seq(iv(100, 300), iv(250, 400), iv(900, 1200))
    // children cover [100,400) and [900,1000)
    assert(Intervals.uncovered(parent, children) == 1000 - 300 - 100)
  }

  test("median and nearest-rank percentile") {
    assert(Runner.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Runner.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    val xs = (1 to 100).map(_.toDouble)
    assert(Runner.percentile(xs, 95) == 95.0)
    assert(Runner.percentile(xs, 100) == 100.0)
    assert(Runner.percentile(Seq(7.0), 95) == 7.0)
  }

  test("spark counters sum job records and derive gap and busy share") {
    def job(id: Int, s: Long, e: Long, runMs: Long) = {
      val j = new JobRec(id, 0, s)
      j.end = e
      j.runMs = runMs
      j.tasks = 2
      j.stages = 1
      j.shuffleWriteBytes = (SparkCounters.Mb / 2).toLong
      j
    }
    val window = iv(0, 4000000000L) // 4 s
    val c = SparkCounters.of(window,
      Seq(job(1, 0, 1000000000L, 2000), job(2, 500000000L, 2000000000L, 2000)), cores = 2)
    assert(c.jobs == 2 && c.tasks == 4 && c.stages == 2)
    assert(c.taskRunS == 4.0)
    assert(c.driverGapS == 2.0)
    assert(c.coreBusyFrac == 4.0 / (4.0 * 2))
    assert(c.shuffleWriteMb == 1.0)
  }

  test("label agreement is 1 for separated clusters and lower when shuffled") {
    val n = 40
    val ids = (0 until n).map(_.toLong).toArray
    val label = Array.tabulate(n)(i => i % 2)
    val mix = Inputs.Mixture(ids, Array.fill(n)(Array(0.0)), label)
    def rows(x: Int => Double) = ids.map(i =>
      org.apache.spark.sql.Row(i, x(i.toInt), 0.0))
    assert(TsneBh.labelAgreement(mix, rows(i => label(i) * 100.0 + i * 0.01), 5) == 1.0)
    assert(TsneBh.labelAgreement(mix, rows(i => i.toDouble), 5) < 0.7)
  }
}
