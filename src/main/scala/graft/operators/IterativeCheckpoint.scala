package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Tracked eager `localCheckpoint` for iterative DataFrame loops
  * (dupClusters' label propagation, trainIvfCodebook's Lloyd rounds).
  *
  * Why tracking is needed at all: `Dataset.unpersist()` only talks to
  * the SQL cache manager, so on a localCheckpointed frame it is a
  * silent no-op — the checkpoint's storage lives at the RDD level.
  * Without a handle to that RDD, every superseded generation of an
  * iterative loop stays persisted until driver GC + ContextCleaner get
  * around to it: a slow storage leak on a long-running cluster job.
  * The handles are the RDDs under the checkpointed plan's `LogicalRDD`
  * nodes, so release is explicit and immediate and frees only the
  * generation's own blocks — never a persisted input that happened to
  * be materialized for the first time inside the checkpoint's job.
  */
private[graft] object IterativeCheckpoint {

  /** A checkpointed generation: the truncated-lineage frame plus the
    * persisted RDD handles backing it, releasable for real once the
    * next generation has materialized.
    */
  final case class Generation(df: DataFrame, rdds: Seq[RDD[_]]) {
    def release(): Unit = rdds.foreach(_.unpersist(blocking = false))
  }

  /** The checkpointed RDDs a `localCheckpoint` result reads. */
  def checkpointRdds(cp: DataFrame): Seq[RDD[_]] =
    cp.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }

  /** Eagerly localCheckpoint `df`. Eager, not materialized by a later
    * `RDD.count()`: an `observe` on `df` (dupClusters' label sums)
    * delivers its metrics only through the checkpoint's own action.
    */
  def apply(df: DataFrame): Generation = {
    val out = df.localCheckpoint()
    Generation(out, checkpointRdds(out))
  }
}
