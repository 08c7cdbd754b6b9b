package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GkQuantile

/** Mergeable approximate-quantile sketch STATE tables (SURVEY.md §2.1,
  * the q70 family) — the continuous-value completion of the exact
  * histogram state family: [[Relational.histogramStates]]/q65 is exact
  * but bounded by DISTINCT QUANTIZED VALUE cardinality per group, so a
  * genuinely continuous high-cardinality column (scores, latencies,
  * loss values) at 100 TB needs a FIXED-SIZE state instead. This
  * family persists one Greenwald–Khanna ε-summary per
  * (group, ingest-unit), appends new units map-only, compacts same-key
  * states with an error-preserving merge, and serves any coarser
  * rollup's quantiles purely from state — the q32 HLL architecture
  * with a deterministic rank guarantee (`|rank(served) − ⌈φ·n⌉| ≤
  * ε·n`, worst-case, no RNG) in place of HLL's probabilistic one.
  *
  * This is what the drift monitors compose with at scale: q56's PSI
  * edges and q60's ECDF cuts can come from a maintained sketch state
  * instead of the exact histogram once values are continuous
  * (the seam named in SURVEY §2.1's q30/q65 cardinality note).
  *
  * Reference analog: none — the extractor computes no quantiles; this
  * is part of the beyond-reference training-data-pipeline surface.
  */
object QuantileSketch {

  /** One GK state per (groupCols) key: the daily-build aggregate. ONE
    * mergeable agg over the unit's partition — partials fold map-side,
    * the shuffle carries O((1/ε)·log(ε·n)) tuples per group, never
    * raw values.
    *
    * Values sketch at FULL double resolution by default — loss values
    * near 0 and nanosecond latencies both keep their precision. When a
    * cross-engine pin needs reproducible quantization (the q70 gate's
    * money-like column), pass it EXPLICITLY via `quantizeTo` (a SQL
    * cast type, e.g. "decimal(12,2)"); values outside the quantized
    * type's range become null and are skipped by the sketch, so only
    * opt in for columns whose domain fits the type.
    */
  def quantileSketchStates(df: DataFrame, groupCols: Seq[String],
      valueCol: String, relativeError: Double = 0.01,
      quantizeTo: Option[String] = None): DataFrame = {
    require(groupCols.nonEmpty, "quantileSketchStates needs group columns")
    val v = quantizeTo.foldLeft(Cols.q(valueCol))((c, t) => c.cast(t))
      .cast("double").as("__v")
    SketchTable.build(df, groupCols, Seq(v),
      GkQuantile.gkAgg(df.sparkSession, col("__v"), relativeError), count(col("__v")))
  }

  /** Compact a (possibly duplicated-key) state table back to one row
    * per key — the maintenance step of the incremental loop, exactly
    * the q32 `sketchCompact` shape: each arriving batch APPENDS its
    * own states (map-only union), and compaction merges same-key
    * sketches; GK merge preserves the ε guarantee at any re-compaction
    * depth.
    */
  def quantileSketchCompact(states: DataFrame, keyCols: Seq[String]): DataFrame =
    SketchTable.merged(states, keyCols, GkQuantile.gkMerge)

  /** Roll persisted states up to `keepCols` and SERVE quantiles: union
    * the sketches, query the probabilities, sum the exact row counts.
    * State-in, answer-out — the raw data is never touched. Output is
    * long-form (group, quantile, value) like q30/q65 so the three
    * quantile families are drop-in comparable; a group whose state is
    * empty (all-null values) serves null values by contract.
    */
  def quantileSketchRollup(states: DataFrame, keepCols: Seq[String],
      probs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95)): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
      s"probabilities must be in [0,1], got $probs")
    val merged = SketchTable.merged(states, keepCols, GkQuantile.gkMerge, countStates = true)
      .withColumn("__qs", GkQuantile.gkQuantiles(states.sparkSession, col("sketch"), probs))
    SketchTable.served(merged, keepCols, col("__qs"), outer = true,
      element_at(array(probs.map(lit): _*), SketchTable.rank).as("quantile"),
      round(col("__e"), 6).as("value"), col("n_rows"), col("n_states"))
  }

  /** [[Relational.referenceEdges]]'s wide (group, __b0..__b{n-2})
    * shape served from GK sketch STATE — the drift-monitor
    * composition the family exists for: q56's PSI and q59/q60's
    * homogeneity monitors bin against FIXED reference edges, and on a
    * genuinely continuous 100 TB reference window those edges cannot
    * come from the exact value histogram (unbounded distinct values)
    * — they come from here. Downstream is unchanged:
    * [[Relational.binCounts]] / [[Relational.psiFromCounts]] consume
    * this frame exactly as they consume the exact-edge one; each edge
    * is within the GK ε rank bound of the true quantile, so every bin
    * boundary is off by at most ε·n ranks (QuantileSketchSpec
    * measures the induced PSI perturbation).
    */
  def sketchEdges(states: DataFrame, groupCol: String = "group",
      bins: Int = 10): DataFrame = {
    require(bins >= 2, s"need at least 2 bins, got $bins")
    val qs = (1 until bins).map(_.toDouble / bins)
    val edgeCols = qs.zipWithIndex.map { case (p, i) =>
      max(when(col("quantile") === p, col("value"))).as(s"__b$i")
    }
    quantileSketchRollup(states, Seq(groupCol), qs)
      .groupBy(Cols.q(groupCol).as("group"))
      .agg(edgeCols.head, edgeCols.tail: _*)
  }

  /** q70: gate binding — events split into deterministic "daily
    * ingest" units (event_id mod 5 standing in for days, the q65
    * convention), each unit folded to its own per-type GK state, the
    * union compacted, and the standard quartiles + p95 served per
    * event type purely from the maintained state. rows-only oracle by
    * design (the sketch's sampled tuples are engine-local);
    * QuantileSketchSpec pins the DETERMINISTIC rank bound against
    * exact ranks, state-size bounds, compaction losslessness within ε,
    * and StreamingSpec deploys the same states incrementally.
    */
  def q70QuantileSketch(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    // the gate pins cross-engine at cent resolution on a money-like
    // column, so quantization is explicit HERE, not in the generic API
    val units = (0 until 5).map(i =>
      quantileSketchStates(ev.filter(pmod(col("event_id"), lit(5)) === i),
        Seq("event_type"), "value", quantizeTo = Some("decimal(12,2)")))
    val state = quantileSketchCompact(units.reduce(_ unionByName _),
      Seq("event_type"))
    quantileSketchRollup(state, Seq("event_type"))
      .orderBy("event_type", "quantile")
  }
}
