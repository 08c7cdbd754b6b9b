package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.WeightedReservoir

/** Mergeable weighted-reservoir ROW-sample state tables (SURVEY.md
  * §2.1, the q74 family) — the sixth mergeable summary: q37's
  * Efraimidis–Spirakis weighted sample factored into states/compact/
  * serve on the q72 template, so "k representative rows per segment,
  * weight-proportional" persists as bounded state and maintains
  * incrementally. Where q72 samples the DISTINCT DOMAIN (every key
  * equal), this samples ROWS weight-proportionally (longer docs
  * proportionally likelier — the token-budget-aware view of a corpus);
  * both serve from ≤ k entries per (group, ingest-unit) whatever the
  * corpus size. Top-k by a fixed deterministic key is closed under
  * set-union exactly like bottom-k, so the state is BIT-IDENTICAL for
  * any partitioning, ingest batching, or merge tree — and because the
  * key derives from md5(id), not a PRNG, everything served is fully
  * DuckDB-oracled (the q37 precedent, restated from bounded state).
  *
  * Reference analog: none — beyond-reference training-data surface.
  */
object ReservoirSample {

  /** One reservoir state per (groupCols) key: ONE mergeable agg; the
    * shuffle carries ≤ k (wkey, id, weight) entries per group whatever
    * the row count.
    */
  def reservoirStates(df: DataFrame, groupCols: Seq[String],
      idCol: String, weightCol: String, k: Int = 64): DataFrame = {
    require(groupCols.nonEmpty, "reservoirStates needs group columns")
    SketchTable.build(df, groupCols,
      Seq(Cols.q(idCol).cast("string").as("__id"), Cols.q(weightCol).cast("double").as("__w")),
      WeightedReservoir.wrAgg(df.sparkSession, col("__id"), col("__w"), k),
      count(when(col("__id").isNotNull && col("__w").isNotNull, 1)))
  }

  /** Compact appended same-key states to one row per key — the q72
    * maintenance shape. Idempotent (set union).
    */
  def reservoirCompact(states: DataFrame, keyCols: Seq[String]): DataFrame =
    SketchTable.merged(states, keyCols, WeightedReservoir.wrMerge)

  /** Roll states up to `keepCols` and SERVE long-form: one row per
    * sampled row `(group..., smp_rank, id, weight, wkey, n_rows)` —
    * `smp_rank` the 1-based position in (wkey desc, id) order, `wkey`
    * rounded to 2 dp (the q37 serving contract; rank order uses the
    * full double). State-in, answer-out. Contract: only SAMPLED rows
    * are served — a group whose merged state is empty (every ingested
    * id/weight was null) emits zero rows rather than one all-null row
    * (`served` without `outer`).
    */
  def reservoirServe(states: DataFrame, keepCols: Seq[String],
      sampleSize: Int = 16): DataFrame = {
    require(sampleSize >= 1, s"sampleSize must be >= 1: $sampleSize")
    SketchTable.served(reservoirCompact(states, keepCols), keepCols,
      WeightedReservoir.wrSample(states.sparkSession, col("sketch"), sampleSize), outer = false,
      SketchTable.rank.as("smp_rank"), SketchTable.entry("id"), SketchTable.entry("weight"),
      round(col("__e.wkey"), 2).as("wkey"), col("n_rows"))
  }

  /** q74: gate binding — 16 representative documents per source,
    * weight-proportional by n_chars, served purely from per-(source,
    * ingest-unit) reservoir states (doc_id mod 4 simulating four
    * ingest batches, sketched in ONE corpus scan, folded by set-union).
    * FULLY DuckDB-oracled: ids, weights, rank order AND the rounded
    * keys reproduce value-for-value from the pinned md5-derived u —
    * the q37 ranking restated from bounded mergeable state.
    */
  def q74ReservoirSample(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .withColumn("__unit", pmod(col("doc_id"), lit(4)))
    val units = reservoirStates(docs, Seq("source", "__unit"),
      "doc_id", "n_chars", k = 64)
    val state = reservoirCompact(units, Seq("source"))
    reservoirServe(state, Seq("source"), sampleSize = 16)
      .withColumnRenamed("id", "doc_id")
      .orderBy("source", "smp_rank")
  }
}
