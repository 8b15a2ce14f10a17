package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    def deleteRecursively(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
      f.delete()
    }
    // SPARK_GRAFT_ONLY=q18_case_agg,q25_pivot restricts the dump for local
    // iteration (unset in driver runs — the driver always dumps everything)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val surface = SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
    surface.foreach { case (name, fn) =>
      val dest = new java.io.File(s"$outDir/$name")
      // remove any previous round's output FIRST: a query that throws must
      // leave no stale parquet behind for the checker to "pass" against
      if (dest.exists()) deleteRecursively(dest)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        if (dest.exists()) deleteRecursively(dest) // partial write
      }
    }
    // Quantified gates for queries without a SQL oracle: evaluate each
    // against its dumped parquet, record every metric in gates.json, and
    // DELETE the dump of a failing query — the driver's rows-only check
    // then errs instead of green-lighting a broken sketch via rows>0.
    val gateResults = SparkEntry.qs.filter(q => only.forall(_.contains(q.name))).flatMap { q =>
      q.gate.map { g =>
        val dest = new java.io.File(s"$outDir/${q.name}")
        val gates: Seq[Gate] =
          if (!dest.exists()) Seq(Gate("query_dumped", 0.0, pass = false))
          else
            try g(spark, sfDir, spark.read.parquet(s"$outDir/${q.name}"))
            catch { case e: Throwable =>
              System.err.println(s"[verify] ${q.name} gate threw: ${e.getMessage}")
              Seq(Gate("gate_evaluated", 0.0, pass = false))
            }
        gates.filterNot(_.pass).foreach { gate =>
          System.err.println(
            s"[verify] ${q.name} gate FAILED: ${gate.metric}=${gate.value}")
        }
        if (gates.exists(!_.pass) && dest.exists()) deleteRecursively(dest)
        q.name -> gates
      }
    }
    val gatesJson = gateResults.map { case (name, gates) =>
      val entries = gates.map { gate =>
        // a NaN/Inf metric value would make the whole file unparseable
        val v = if (java.lang.Double.isFinite(gate.value)) gate.value.toString else "null"
        s"""{"metric":"${gate.metric}","value":$v,"pass":${gate.pass}}"""
      }
      s""""$name": [${entries.mkString(",")}]"""
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/gates.json"), gatesJson)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Round-close audit line: a dumped/registered shortfall is how the r8
    // regression hid for two rounds (94 dumps quietly vs 97 registered).
    // tools/round_health.py consumes the same invariant from artifacts;
    // this prints it at the source so no Verify run can end ambiguous.
    val dumped = surface.keys.count(n => new java.io.File(s"$outDir/$n").exists())
    System.err.println(
      s"[verify] dumped $dumped/${surface.size} queries" +
        (if (dumped == surface.size) " — ALL GREEN"
         else s" — MISSING ${surface.keys.filterNot(n => new java.io.File(s"$outDir/$n").exists()).toSeq.sorted.mkString(", ")}"))
    System.err.println(
      s"[verify] persistent RDDs at end: ${spark.sparkContext.getPersistentRDDs.size}")
    spark.stop()
  }
}
