package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.BottomKSketch

/** Mergeable bottom-k (KMV) distinct-sketch STATE tables (SURVEY.md
  * §2.1, the q72 family) — the fifth mergeable summary, adding the one
  * capability the HLL/count-min/GK/MG quartet lacks: a uniform SAMPLE
  * of the distinct domain served from bounded state, plus a
  * distinct-count estimate whose served value is engine-independent
  * (exact integer arithmetic over a pinned public md5-prefix hash).
  * The 100 TB questions it answers from ≤ k pairs per (group,
  * ingest-unit): "show me 20 example user_ids / domains / templates
  * per segment" (HLL counts but cannot exhibit members) and "how many
  * distinct" with a cross-engine-reproducible number — q32's HLL gate
  * is rows-only by design; this one is fully DuckDB-oracled.
  *
  * Reference analog: none — beyond-reference training-data surface.
  */
object BottomKSample {

  /** One bottom-k state per (groupCols) key: ONE mergeable agg; the
    * shuffle carries ≤ k (hash, key) pairs per group whatever the key
    * cardinality. Any partitioning/merge tree yields the bit-identical
    * state (set-union semantics).
    */
  def bottomKStates(df: DataFrame, groupCols: Seq[String],
      keyCol: String, k: Int = 256): DataFrame = {
    require(groupCols.nonEmpty, "bottomKStates needs group columns")
    SketchTable.build(df, groupCols, Seq(Cols.q(keyCol).cast("string").as("__key")),
      BottomKSketch.bkAgg(df.sparkSession, col("__key"), k), count(col("__key")))
  }

  /** Compact appended same-key states to one row per key — the
    * q32/q70/q71 maintenance shape. Idempotent (set union): re-merging
    * already-merged state changes nothing.
    */
  def bottomKCompact(states: DataFrame, keyCols: Seq[String]): DataFrame =
    SketchTable.merged(states, keyCols, BottomKSketch.bkMerge)

  /** Roll states up to `keepCols` and SERVE long-form: one row per
    * sampled key `(group..., rank, key, h, distinct_est, n_rows)` —
    * `rank` the 1-based position in (h, key) order, `distinct_est`
    * exact below k / KMV integer floor at k. State-in, answer-out.
    */
  def bottomKServe(states: DataFrame, keepCols: Seq[String],
      sampleSize: Int = 16): DataFrame = {
    require(sampleSize >= 1, s"sampleSize must be >= 1: $sampleSize")
    val s = states.sparkSession
    // the estimate once per group, below the explode, not once per entry
    val merged = bottomKCompact(states, keepCols)
      .withColumn("distinct_est", BottomKSketch.bkDistinct(s, col("sketch")))
    SketchTable.served(merged, keepCols,
      BottomKSketch.bkSample(s, col("sketch"), sampleSize), outer = true,
      SketchTable.rank.as("rank"), SketchTable.entry("key"), SketchTable.entry("h"),
      col("distinct_est"), col("n_rows"))
  }

  /** Pairwise distinct-domain overlap BETWEEN groups, from states alone
    * (Beyer et al. 2007 set operations on k-min synopses): for every
    * unordered group pair, `k_used` (union synopsis size), `overlap`
    * (union-synopsis members present in BOTH states — membership
    * against the stored bottom-k is exact, see BkOverlap),
    * `jaccard_est = round(overlap/k_used, 6)`, the three KMV
    * cardinalities (`distinct_a`/`distinct_b`/`union_est`), and the
    * containment ratios served explicitly both ways
    * (`containment_a_in_b ≈ |A∩B|/|A|` and its mirror — the one-call
    * "is eval-set B inside train A" answer). The 100 TB shape: the
    * input is the STATE table (one row per group, ≤ k pairs each), so
    * the pairwise comparison is a self-join of a tiny frame — the
    * underlying corpora are never joined, never rescanned.
    */
  def bottomKOverlap(states: DataFrame, groupCol: String): DataFrame = {
    val s = states.sparkSession
    val compact = bottomKCompact(states, Seq(groupCol))
    val a = compact.select(Cols.q(groupCol).as("group_a"), col("sketch").as("__sa"))
    val b = compact.select(Cols.q(groupCol).as("group_b"), col("sketch").as("__sb"))
    a.join(broadcast(b), col("group_a") < col("group_b"))
      .select(col("group_a"), col("group_b"),
        BottomKSketch.bkOverlap(s, col("__sa"), col("__sb")).as("__o"))
      .select(col("group_a"), col("group_b"),
        col("__o.k_used").as("k_used"),
        col("__o.overlap").as("overlap"),
        col("__o.jaccard_est").as("jaccard_est"),
        col("__o.distinct_a").as("distinct_a"),
        col("__o.distinct_b").as("distinct_b"),
        col("__o.union_est").as("union_est"),
        col("__o.containment_a_in_b").as("containment_a_in_b"),
        col("__o.containment_b_in_a").as("containment_b_in_a"))
  }

  /** q73: gate binding — the corpus-overlap question asked of events:
    * how much do any two event types share their user domain, computed
    * purely from the q72-shaped per-type states (the corpora are never
    * joined). FULLY DuckDB-oracled: k_used, overlap, and the rounded
    * Jaccard reproduce value-for-value from the pinned hash (the union
    * synopsis and both membership tests restate as rank windows).
    */
  def q73CorpusOverlap(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val states = bottomKStates(ev, Seq("event_type"), "user_id", k = 128)
    bottomKOverlap(states, "event_type")
      .orderBy("group_a", "group_b")
  }

  /** q72: gate binding — distinct user_ids per event type over events,
    * sketched per "daily" ingest unit (event_id mod 5, the q71 shape),
    * compacted, then the bottom-16 sample + the distinct estimate
    * served purely from state. FULLY DuckDB-oracled — sample keys,
    * hash values, rank order, AND the estimate reproduce value-for-
    * value from `CAST('0x' || substr(md5(key),1,15) AS BIGINT)` +
    * HUGEINT floor division — the engine-independence claim of the
    * pinned hash, checked by an independent engine at every sf.
    */
  def q72BottomkSample(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .withColumn("__unit", pmod(col("event_id"), lit(5)))
    // ONE corpus scan sketches every (type, ingest-unit) cell; compact
    // folds the units by set-union. BottomKSpec pins this one-pass
    // grouped form row-identical to five per-unit filtered scans folded
    // batch-by-batch (and StreamingSpec pins the fold BYTE-equal), so
    // the gate charges the operator's true one-scan cost
    val units = bottomKStates(ev, Seq("event_type", "__unit"), "user_id", k = 128)
    val state = bottomKCompact(units, Seq("event_type"))
    bottomKServe(state, Seq("event_type"), sampleSize = 16)
      .orderBy("event_type", "rank")
  }
}
