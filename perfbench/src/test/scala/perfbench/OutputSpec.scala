package perfbench

import java.io.File
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class OutputSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  private def options(trace: Boolean) =
    Main.Options("tsne_bh", 1L, 0.0, trace, tiny = true, new File("w"), new File("o"))

  private def pass(wall: Double, checks: Seq[(String, Boolean, String)] = Nil) =
    PassResult(traced = false, wall, 1.0, 2.0, 3.0, 1, 4.0, ops = 2, opFailures = 0,
      checks, Map("tsne.kl_final" -> 1.5), Nil)

  private val outcome = Runner.Outcome(5.0, Seq(5.0, 1.0, 1.0), 4.0,
    Seq(pass(10.0), pass(12.0, Seq(("ok", true, ""))), pass(30.0)))

  private def parse(line: String): JsonNode = mapper.readTree(line)

  test("an untraced result carries exactly the end-to-end metrics, with units") {
    val (line, _) = Main.result(options(trace = false), outcome)
    val j = parse(line)
    assert(j.fieldNames.asScala.toList.sorted == List("attempted", "correct", "failed", "metrics"))
    assert(j.get("correct").asBoolean && j.get("failed").asInt == 0)
    assert(j.get("attempted").asInt == 3 * 2 + 1)
    val m = j.get("metrics")
    assert(m.fieldNames.asScala.toList == Catalog.EndToEnd.map(_._1))
    Catalog.EndToEnd.foreach { case (n, unit) =>
      assert(m.get(n).get("unit").asText == unit)
      assert(m.get(n).get("value").isNumber)
    }
    assert(m.get("wall_s").get("value").asDouble == 12.0)
    assert(m.get("setup_s").get("value").asDouble == 5.0)
  }

  test("a traced result carries exactly the per-layer metrics; absent layers read 0") {
    val (line, all) = Main.result(options(trace = true), outcome)
    val m = parse(line).get("metrics")
    assert(m.fieldNames.asScala.toList == Catalog.PerLayer.map(_._1))
    assert(m.get("tsne.kl_final").get("value").asDouble == 1.5)
    assert(m.get("ingest.day0_s").get("value").asDouble == 0.0)
    assert(m.get("leaked_rdds").get("value").asDouble == 1.0)
    assert(all("wall_s") == 12.0)
  }

  test("a failed check makes the result incorrect and counts in error_rate") {
    val bad = outcome.copy(passes = outcome.passes :+ pass(9.0, Seq(("broken", false, "why"))))
    val (line, all) = Main.result(options(trace = false), bad)
    val j = parse(line)
    assert(!j.get("correct").asBoolean && j.get("failed").asInt == 1)
    assert(all("error_rate") == 1.0 / j.get("attempted").asInt)
  }

  test("numbers render with all their digits, and never as NaN") {
    assert(Json.num(1.2345678901234) == "1.2345678901234")
    assert(Json.num(3.0) == "3")
    assert(Json.num(Double.NaN) == "null")
    assert(Json.str("a\"b\\c\n") == "\"a\\\"b\\\\c\\n\"")
    assert(parse(Json.obj(Seq("x" -> Seq(1.5, 2), "y" -> Map("z" -> "w")))).get("y").get("z").asText == "w")
  }

  test("BENCHMARK.json names the workloads and metrics the benchmark reports") {
    val f = new File("../BENCHMARK.json")
    assume(f.exists, "no BENCHMARK.json beside the benchmark")
    val b = mapper.readTree(f)
    def names(key: String) = b.get(key).elements.asScala.map(_.get("name").asText).toList
    assert(names("workloads") == Main.Workloads)
    assert(names("end_to_end") == Catalog.EndToEnd.map(_._1))
    assert(names("per_layer") == Catalog.PerLayer.map(_._1))
    def units(key: String) = b.get(key).elements.asScala.map(_.get("unit").asText).toList
    assert(units("end_to_end") == Catalog.EndToEnd.map(_._2))
    assert(units("per_layer") == Catalog.PerLayer.map(_._2))
    names("workloads").foreach(w => assert(Main.workload(options(false).copy(workload = w)).name == w))
  }
}
