package perfbench

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Tiny-size runs of every workload, untraced and traced, through the
  * same runner the benchmark uses. */
class SmokeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val work = Files.createTempDirectory("perfbench-smoke").toFile
  private lazy val spark = Main.session(work)

  override def afterAll(): Unit = {
    spark.stop()
    Runner.deleteTree(work)
  }

  private def failed(o: Runner.Outcome) =
    o.passes.flatMap(_.checks).filterNot(_._2) ++
      o.passes.filter(_.opFailures > 0).map(p => ("operations", false, s"${p.opFailures} failed"))

  test("the tracer attributes jobs to the span that submitted them") {
    val sc = spark.sparkContext
    def oneJob(): Unit = sc.parallelize(1 to 10, 2).count()
    val tr = new Tracer(sc)
    val outer = tr.open("outer")
    oneJob()
    val inner = tr.open("inner")
    oneJob()
    oneJob()
    tr.close(inner)
    tr.close(outer)
    oneJob() // outside every span
    tr.drain()
    val bySpan = tr.jobRecords.groupBy(_._2).map { case (k, v) => k -> v.size }
    tr.stop()
    assert(bySpan.get(outer).contains(1))
    assert(bySpan.get(inner).contains(2))
    assert(bySpan.get(-1).contains(1))
    assert(tr.spans(inner).parent == outer)
    assert(tr.spans.forall(s => s.end >= s.start))
  }

  for (name <- Seq("tsne_bh", "daily_ingest"); trace <- Seq(false, true)) {
    test(s"$name runs at tiny size with every check passing (trace=$trace)") {
      val o = Main.Options(name, Inputs.DefaultSeed, 0.0, trace, tiny = true,
        new File(work, s"$name-$trace"), new File(work, "out"))
      val r = Runner.run(spark, Main.workload(o), o.seed, o.seconds, trace, o.work)
      assert(failed(r).isEmpty, failed(r).mkString("; "))
      assert(r.passes.size == 1 && r.passes.forall(_.traced == trace))
      val (line, all) = Main.result(o, r)
      assert(line.startsWith("{\"correct\":true"))
      assert(all("wall_s") > 0 && all("setup_s") > 0 && all("read_s") > 0 && all("write_s") > 0)
      if (trace) {
        assert(all("spark.jobs") > 0)
        assert(r.passes.head.spans.nonEmpty)
      }
    }
  }
}
