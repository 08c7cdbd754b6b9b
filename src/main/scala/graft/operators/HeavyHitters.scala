package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.MisraGries

/** Mergeable heavy-hitters sketch STATE tables (SURVEY.md §2.1, the
  * q71 family) — the fourth classic mergeable summary, completing the
  * quartet the engine maintains as persisted state: q32 HLL (HOW MANY
  * distinct), q50 count-min (how often is THIS item — point query),
  * q70 GK (value quantiles), and this (WHICH items are frequent,
  * without knowing them in advance). The question it answers is the
  * first one a corpus pipeline asks of any categorical column at
  * 100 TB: dominant domains, hot keys before a join (q29's manual
  * skew list automated), template explosions, runaway user_ids —
  * where an exact groupBy count would shuffle every distinct item,
  * this carries AT MOST k counters per (group, ingest-unit), with the
  * Misra–Gries DETERMINISTIC guarantee (any item with true frequency
  * > n/(k+1) is present; stored ≤ true ≤ stored + ⌊n/(k+1)⌋) holding
  * for any order, partitioning, and merge tree.
  *
  * Reference analog: none — beyond-reference training-data surface.
  */
object HeavyHitters {

  /** One MG state per (groupCols) key: ONE mergeable agg; the shuffle
    * carries ≤ k counters per group whatever the item cardinality.
    */
  def heavyHitterStates(df: DataFrame, groupCols: Seq[String],
      itemCol: String, k: Int = 64): DataFrame = {
    require(groupCols.nonEmpty, "heavyHitterStates needs group columns")
    SketchTable.build(df, groupCols, Seq(Cols.q(itemCol).cast("string").as("__item")),
      MisraGries.mgAgg(df.sparkSession, col("__item"), k), count(col("__item")))
  }

  /** Compact appended same-key states to one row per key — the q32/q70
    * maintenance shape; the Agarwal et al. merge keeps the error bound
    * at ⌊n_total/(k+1)⌋ at any re-compaction depth.
    */
  def heavyHitterCompact(states: DataFrame, keyCols: Seq[String]): DataFrame =
    SketchTable.merged(states, keyCols, MisraGries.mgMerge)

  /** Roll states up to `keepCols` and SERVE the top items long-form:
    * (group..., rank, item, count_lo, count_hi, n_rows, n_states) —
    * `count_lo` never above the true count, `count_hi` never below it
    * (the deterministic MG bound). State-in, answer-out.
    */
  def heavyHitterTopK(states: DataFrame, keepCols: Seq[String],
      topK: Int = 10): DataFrame = {
    require(topK >= 1, s"topK must be >= 1: $topK")
    SketchTable.served(
      SketchTable.merged(states, keepCols, MisraGries.mgMerge, countStates = true), keepCols,
      MisraGries.mgTopK(states.sparkSession, col("sketch"), topK), outer = true,
      SketchTable.rank.as("rank"), SketchTable.entry("item"), SketchTable.entry("count_lo"),
      SketchTable.entry("count_hi"), col("n_rows"), col("n_states"))
  }

  /** q71: gate binding — a deterministically PLANTED skewed item
    * column over events (five hot items at ~10% of the stream each,
    * the rest spread over ~1000 cold singletons — the q29-style
    * known-skew shape), built per "daily" unit (event_id mod 5),
    * compacted, top-5 served per event type purely from state. Each
    * hot item's guaranteed floor (10% − n/(k+1)) clears every cold
    * item's ceiling, so the served top-5 SET per type is exactly the
    * five planted hots and the row count is deterministic. rows-only
    * oracle by design: stored counters (and therefore hot-vs-hot rank
    * order) are insertion-order-dependent within the MG bound — the
    * contract guarantees presence and bounds, which HeavyHittersSpec
    * pins against exact counts under multiple partitionings.
    */
  def q71HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("__hh",
        when(pmod(col("event_id"), lit(10)) < 5,
          concat(lit("hot"), pmod(col("event_id"), lit(10))))
          .otherwise(concat(lit("cold"), pmod(col("event_id"), lit(997)))))
    val units = (0 until 5).map(i =>
      heavyHitterStates(ev.filter(pmod(col("event_id"), lit(5)) === i),
        Seq("event_type"), "__hh"))
    val state = heavyHitterCompact(units.reduce(_ unionByName _),
      Seq("event_type"))
    heavyHitterTopK(state, Seq("event_type"), topK = 5)
      .orderBy("event_type", "rank")
  }
}
