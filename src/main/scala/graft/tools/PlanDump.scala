package graft.tools

/** Writes `.explain("formatted")` for named gates to files — the
  * optimization rounds' plan-evidence artifact (plans/r17/<gate>_{before,
  * after}.txt). Usage: runMain graft.tools.PlanDump <outDir> <suffix>
  * <gate,gate,...> [sfDir]. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val gates = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 3) args(3)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.td.session(s"local[$cpus]", cpus.toInt)
    new java.io.File(outDir).mkdirs()
    gates.foreach { g =>
      val df = graft.SparkEntry.queries(g)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${g}_$suffix.txt"), txt)
      println(s"[plandump] wrote $outDir/${g}_$suffix.txt")
    }
    spark.stop()
  }
}
