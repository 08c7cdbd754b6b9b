package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** Dev utility: write `.explain("formatted")` of selected queries to
  * files (one per query) — the plan-evidence artifacts the optimization
  * rounds commit under plans/rNN/. Usage:
  *   runMain graft.PlanDump <sfDir> <outDir> [query...]
  *
  * Each query's line prints two figures from its physical plan before
  * execution: `shuffles`, the shuffle exchange nodes, and `broadcasts`,
  * the broadcast exchange nodes. Each node counts once; the walk goes
  * through adaptive-plan wrappers and into subquery plans. Reused
  * exchanges are references to a counted node, not nodes of their own,
  * and do not count.
  */
object PlanDump {

  /** (shuffle, broadcast) exchange nodes of a physical plan. */
  def exchanges(plan: SparkPlan): (Int, Int) = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
    }
    val all = nodes(plan)
    (all.count(_.isInstanceOf[ShuffleExchangeLike]),
      all.count(_.isInstanceOf[BroadcastExchangeLike]))
  }

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
        val (shuffles, broadcasts) = exchanges(df.queryExecution.executedPlan)
        println(f"[plandump] $n%-28s shuffles=$shuffles%2d broadcasts=$broadcasts%2d -> $outDir/$n.txt")
      } catch {
        case e: Throwable => println(s"[plandump] $n FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
