package graft

/** Dev utility: time selected queries twice (cold then warm) so
  * first-use costs (index builds, metadata parses, codegen) separate
  * from steady-state plan execution, with the planner phase breakdown
  * from the warm run. Usage:
  *   runMain graft.Profile <sfDir> <query>...
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.create(GraftSession.defaultCpus, Some(sfDir))
    def run(name: String): (Double, String) = {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val secs = (System.nanoTime() - t0) / 1e9
      val phases = df.queryExecution.tracker.phases.map {
        case (k, v) => f"$k=${(v.endTimeMs - v.startTimeMs) / 1000.0}%.2f"
      }.mkString(" ")
      (secs, phases)
    }
    names.foreach { n =>
      val (cold, _) = run(n)
      val (warm, phases) = run(n)
      println(f"[profile] $n%-28s cold $cold%7.2f s   warm $warm%7.2f s   ($phases)")
    }
    spark.stop()
  }
}
