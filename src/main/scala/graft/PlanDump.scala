package graft
import java.nio.file.{Files, Paths}

/** Scratch diagnostic (optimization-round tooling, like BenchOne):
  * writes `explain("formatted")` for the named queries to
  * `<outDir>/<name>_<tag>.txt` — the before/after plan evidence the
  * optimization deliverables require. Uses the Bench session so the
  * captured plan is the one the bench actually executes (AQE on;
  * the initial plan is what explain shows pre-execution — noted in the
  * file header).
  *
  * Usage: runMain graft.PlanDump <outDir> <tag> <name1,name2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args(2).split(',').toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Bench.session()
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val header = s"# $name ($tag) — explain(formatted), sf=$sfDir, " +
          s"cpus=${Bench.cpus}, AQE on (initial plan; isFinalPlan=false)\n"
        Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"),
          header + formatted)
        println(s"dumped $name")
      } catch {
        case e: Throwable =>
          println(s"FAILED $name: ${e.getMessage.take(120)}")
      }
    }
    spark.stop()
  }
}
