package graft

/** Dev tool (not driver contract): write `.explain("formatted")` output
  * for named queries to <outDir>/<query>_<suffix>.txt — the plan
  * evidence files under plans/rNN/.
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val qs = SparkEntry.named(args(3).split(",").toSeq)
    val spark = Sessions.local(Sessions.cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    qs.foreach { q =>
      val name = q.name
      val df = q.build(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"PLANDUMP wrote $outDir/${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
