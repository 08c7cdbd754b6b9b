package graft

/** Dev utility: write `.explain("formatted")` of selected queries to
  * files (one per query) — the plan-evidence artifacts the optimization
  * rounds commit under plans/rNN/. Usage:
  *   runMain graft.PlanDump <sfDir> <outDir> [query...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft_plans")
    val names = if (args.length > 2) args.drop(2).toSeq else SparkEntry.queries.keys.toSeq.sorted
    new java.io.File(outDir).mkdirs()
    val spark = GraftSession.create(GraftSession.defaultCpus, Some(sfDir))
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(s"$outDir/$n.txt")
        try w.println(txt) finally w.close()
        val nEx = "Exchange".r.findAllIn(txt).size
        println(f"[plandump] $n%-28s exchanges=$nEx%2d -> $outDir/$n.txt")
      } catch {
        case e: Throwable => println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
