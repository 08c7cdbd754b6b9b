package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The state table of a mergeable sketch family (GK quantiles,
  * Misra–Gries, bottom-k, weighted reservoir; HLL shares the merge):
  * one row per key holding the family's binary `sketch` and the
  * `n_rows` it counted. Each family is a composition of three steps —
  * `build` the states of an ingest unit, `merged` to compact same-key
  * states (appended units, or a rollup to coarser keys) and `served`
  * to explode a merged state's entries long-form — so the table's
  * shape is decided here once. Build and merge are each one mergeable
  * aggregate, so the shuffle carries bounded states, never raw rows.
  */
private[operators] object SketchTable {

  private def keys(cols: Seq[String]): Seq[Column] = cols.map(Cols.q)

  /** One state per `groupCols` key: the group columns and the family's
    * aliased `inputs`, folded by `sketch` (the family's build aggregate
    * over those aliases), with `nRows` counting what it folded.
    */
  def build(df: DataFrame, groupCols: Seq[String], inputs: Seq[Column],
      sketch: Column, nRows: Column): DataFrame =
    df.select(keys(groupCols) ++ inputs: _*)
      .groupBy(keys(groupCols): _*)
      .agg(sketch.as("sketch"), nRows.as("n_rows"))

  /** Same-key states merged to one row per `keyCols` key: the family's
    * `merge` aggregate over `sketch`, `sum(n_rows)` and, with
    * `countStates`, the number of states merged as `n_states`.
    */
  def merged(states: DataFrame, keyCols: Seq[String],
      merge: (SparkSession, Column) => Column, countStates: Boolean = false): DataFrame = {
    val aggs = Seq(merge(states.sparkSession, col("sketch")).as("sketch"),
      sum(col("n_rows")).as("n_rows")) ++ Option.when(countStates)(count(lit(1)).as("n_states"))
    states.groupBy(keys(keyCols): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** The 1-based position of a served entry. */
  val rank: Column = col("__i") + 1

  /** Field `name` of a served entry, under its own name. */
  def entry(name: String): Column = col(s"__e.$name").as(name)

  /** Merged states served long-form: one row per element `__e` of
    * `entries` (an array over the merged row), holding the `keepCols`
    * and then `fields` (over `__e`, [[rank]] and the merged row). With
    * `outer` a key whose array is empty or null serves one row of
    * nulls; without it, no row.
    */
  def served(merged: DataFrame, keepCols: Seq[String], entries: Column,
      outer: Boolean, fields: Column*): DataFrame =
    merged.select(col("*"),
        (if (outer) posexplode_outer(entries) else posexplode(entries)).as(Seq("__i", "__e")))
      .select(keys(keepCols) ++ fields: _*)
}
