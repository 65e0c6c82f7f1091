package graft.tools

/** Writes `.explain("formatted")` for named gates to files — the
  * optimization rounds' plan-evidence artifact (plans/r17/<gate>_{before,
  * after}.txt). Usage: runMain graft.tools.PlanDump <outDir> <suffix>
  * <gate,gate,...> [sfDir].
  *
  * What a run allocates is stripped ([[normalize]]), so two dumps of one
  * commit compare byte for byte, except in the part of the plan that a
  * gate in [[Unstable]] names on its first line. */
object PlanDump {
  /** Gates whose plan differs between two runs of one commit, and where.
    * AQE picks a join side from runtime statistics: q_graph_triangles'
    * self-join sides are within 1 % of each other, and q_graph_reach's
    * partial-aggregate output size varies. The distinct-aggregate Expand
    * groups of q_kmv_jaccard, q_kmv_setops and q_ab_mantel_haenszel are
    * ordered by a hash over expression ids, which shift with how many
    * expressions the gates dumped before them built (so a gate dumped
    * alone is stable, and in a full-list dump it is not). */
  val Unstable: Map[String, String] = Map(
    "q_graph_triangles" -> "AQE join side",
    "q_graph_reach" -> "AQE join side",
    "q_kmv_jaccard" -> "order of the distinct-aggregate Expand groups",
    "q_kmv_setops" -> "order of the distinct-aggregate Expand groups in full-list dumps",
    "q_ab_mantel_haenszel" -> "order of the distinct-aggregate Expand groups in full-list dumps")

  private val runIds: Seq[(scala.util.matching.Regex, String)] = Seq(
    "#\\d+L?".r -> "#",
    "\\[plan_id=\\d+\\]".r -> "[plan_id=]",
    "RDD\\[\\d+\\]".r -> "RDD[]",
    "(\\.(?:scala|java)):\\d+".r -> "$1:",
    "\\[codegen id : \\d+\\]".r -> "[codegen id : ]",
    "(?m)(^\\(\\d+\\) \\w*QueryStage\\nOutput \\[\\d+\\]: .*\\nArguments: )\\d+".r -> "$1",
    "(/[A-Za-z][\\w.-]*?[A-Za-z-])\\d{6,}(?=[/\\]])".r -> "$1",
    "(part-\\d{5})-[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}".r -> "$1-<uuid>",
    "file:\\S*?/spark-warehouse(?=[/\\]])".r -> "file:<warehouse>",
    "(?<=/)[0-9a-z]{26}(?=[/\\]])".r -> "<id>",
    "(\\[[BCDFIJSZ])@[0-9a-f]+".r -> "$1@",
    "(lambda \\w+?)_\\d+".r -> "$1_",
    "\\$\\$Lambda\\$\\d+/0x[0-9a-f]+@[0-9a-f]+".r -> "\\$\\$Lambda\\$")

  /** `plan` without expression, plan, RDD, codegen-stage and AQE
    * query-stage ids, call-site line numbers, temp-dir suffixes, store
    * version ids in paths, part-file uuids, the warehouse dir's absolute
    * path, array identity hashes, lambda-variable
    * counters (which count every lambda the JVM built before, so they
    * follow the gate order) and JVM lambda class names. */
  def normalize(plan: String): String =
    runIds.foldLeft(plan) { case (s, (re, to)) => re.replaceAllIn(s, to) }

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
      val txt = normalize(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      val mark = Unstable.get(g)
        .fold("")(what => s"# unstable between runs: $what\n")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${g}_$suffix.txt"), mark + txt)
      println(s"[plandump] wrote $outDir/${g}_$suffix.txt")
    }
    spark.stop()
  }
}
