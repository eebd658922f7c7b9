package graft

/** Writes `.explain("formatted")` for the named queries (prefix match) to a
  * directory — the plan evidence the optimization round commits under
  * plans/r06/.
  *
  *   sbt -batch "runMain graft.tools.Main plandump plans/r06 before q38 q39"
  * writes plans/r06/q38_neardup_clusters_before.txt etc.
  */
object PlanDump {
  def run(args: Array[String]): Int = {
    require(args.length >= 2, "usage: plandump <outDir> <suffix> [queryPrefix...]")
    val outDir = args(0)
    val suffix = args(1)
    val prefixes = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = tools.Main.localSession()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val wanted = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => prefixes.isEmpty || prefixes.exists(n.startsWith))
    wanted.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"wrote $outDir/${name}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
    0
  }
}
