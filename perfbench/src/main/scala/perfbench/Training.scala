package perfbench

import java.io.File

/** The fixed run whose loaded classes the launcher stores in its
  * class-data archive: one tiny untraced pass of every workload. The
  * archive's contents then depend on the build only, never on which
  * workload happened to run first.
  *
  * {{{
  * perfbench.Training WORK_DIR
  * }}} */
object Training {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: perfbench.Training WORK_DIR")
    val work = new File(args(0)).getAbsoluteFile
    val spark = Main.session(work)
    try Main.Workloads.foreach { name =>
      val o = Main.Options(name, Inputs.DefaultSeed, 0.0, trace = false, tiny = true,
        new File(work, name), new File(work, "out"))
      Runner.run(spark, Main.workload(o), o.seed, o.seconds, o.trace, o.work)
    } finally spark.stop()
  }
}
