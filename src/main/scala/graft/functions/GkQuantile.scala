package graft.functions

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, QuantileSummaries}
import org.apache.spark.sql.functions.{array, call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Mergeable approximate-quantile sketch STATE, the continuous-value
  * twin of the q32 HLL state family: a Greenwald–Khanna ε-approximate
  * summary (Spark's own `QuantileSummaries`, the engine behind
  * `approx_percentile`/`df.stat.approxQuantile`) exposed as a
  * first-class BINARY aggregate state so it can be PERSISTED per
  * (group, ingest-unit), appended, re-merged, and served later without
  * re-touching the raw data — the piece the exact histogram family
  * (q30/q65) cannot provide once a group's distinct-value cardinality
  * is unbounded (genuinely continuous values at 100 TB).
  *
  * Why GK and not a KLL/t-digest: GK's rank guarantee is DETERMINISTIC
  * (worst-case `|rank(served) − ⌈φ·n⌉| ≤ ε·n`, no failure
  * probability and no RNG anywhere in insert/compress/merge), so every
  * test pin and every serving contract is a hard bound, not a
  * confidence interval; the state is still O((1/ε)·log(ε·n)) tuples —
  * a few KB per group at any corpus size.
  *
  * Three expressions, declared in `functions`:
  *  - `graft_gk_agg(value, relErr)`  — raw doubles → one binary state
  *  - `graft_gk_merge(state)`        — binary states → merged state
  *    (the shared [[SketchMergeAgg]]; GK merge is error-preserving:
  *    merging ε-summaries yields an ε-summary)
  *  - `graft_gk_quantiles(state, probs)` — state → array<double>
  *
  * The serialized form is a versioned little-endian layout owned by
  * this file (version, relErr, compressThreshold, count, m,
  * m×(value, g, delta)) so persisted state outlives Spark's internal
  * (non-stable) aggregate-buffer encoding.
  */
object GkQuantile extends SqlFunctions {

  private val FormatVersion: Byte = 1

  private[graft] def serializeSummary(qs: QuantileSummaries): Array[Byte] = {
    val s = qs.compress()
    val m = s.sampled.length
    val buf = ByteBuffer.allocate(1 + 8 + 4 + 8 + 4 + m * 24)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put(FormatVersion)
    buf.putDouble(s.relativeError)
    buf.putInt(s.compressThreshold)
    buf.putLong(s.count)
    buf.putInt(m)
    s.sampled.foreach { st =>
      buf.putDouble(st.value); buf.putLong(st.g); buf.putLong(st.delta)
    }
    buf.array()
  }

  private[graft] def deserializeSummary(bytes: Array[Byte]): QuantileSummaries = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val version = buf.get()
    require(version == FormatVersion, s"unknown GK state version $version")
    val relErr = buf.getDouble()
    val threshold = buf.getInt()
    val count = buf.getLong()
    val m = buf.getInt()
    val sampled = Array.tabulate(m) { _ =>
      new QuantileSummaries.Stats(buf.getDouble(), buf.getLong(), buf.getLong())
    }
    new QuantileSummaries(threshold, relErr, sampled, count, true)
  }

  /** Merge that tolerates the empty summary on either side —
    * `QuantileSummaries.merge` requires compressed operands, and an
    * all-null partition legitimately contributes a zero-count state.
    *
    * Two NON-empty states must agree on relativeError: merging an
    * ε₁-summary into an ε₂-summary yields a state that reports ε₁
    * while honoring neither bound, so mismatches hard-fail (the same
    * contract as MisraGries.merge's equal-k require). An empty state
    * carries no samples, so its ε is immaterial and it merges freely
    * — that is what lets an all-null partition's buffer vanish.
    */
  private[graft] def mergeSummaries(a: QuantileSummaries,
      b: QuantileSummaries): QuantileSummaries = {
    val ac = a.compress(); val bc = b.compress()
    if (bc.count == 0) ac
    else if (ac.count == 0) bc
    else {
      require(ac.relativeError == bc.relativeError,
        s"cannot merge GK states with different relativeError: " +
          s"${ac.relativeError} vs ${bc.relativeError} — rebuild one side " +
          "at the other's eps (the merged guarantee would be neither)")
      ac.merge(bc)
    }
  }

  /** The GK state's codec: [[mergeSummaries]] over the versioned
    * byte format. The empty state carries the default ε, which a merge
    * with any non-empty state drops.
    */
  private[graft] object Codec extends SketchCodec[QuantileSummaries] {
    val family = "gk"
    def empty: QuantileSummaries = new QuantileSummaries(
      QuantileSummaries.defaultCompressThreshold, QuantileSummaries.defaultRelativeError)
    def merge(a: QuantileSummaries, b: QuantileSummaries): QuantileSummaries =
      mergeSummaries(a, b)
    def serialize(s: QuantileSummaries): Array[Byte] = serializeSummary(s)
    def deserialize(bytes: Array[Byte]): QuantileSummaries = deserializeSummary(bytes)
  }

  /** `graft_gk_agg(value double, relErr)` → binary GK state. Null
    * values are skipped (a group of all nulls yields the empty state,
    * count 0 — its quantiles serve as null).
    */
  case class GkQuantileAgg(
      child: Expression,
      relativeError: Double,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends SketchAgg[QuantileSummaries] with UnaryLike[Expression] {

    require(relativeError > 0 && relativeError < 1,
      s"relativeError must be in (0, 1): $relativeError")

    override protected def codec: SketchCodec[QuantileSummaries] = Codec
    override def inputTypes = Seq(DoubleType)
    override def prettyName: String = "graft_gk_agg"

    override def createAggregationBuffer(): QuantileSummaries =
      new QuantileSummaries(QuantileSummaries.defaultCompressThreshold,
        relativeError)

    override def update(buffer: QuantileSummaries,
        input: InternalRow): QuantileSummaries = {
      val v = child.eval(input)
      if (v == null) buffer
      else buffer.insert(v.asInstanceOf[Double])
    }

    override def withNewMutableAggBufferOffset(n: Int): GkQuantileAgg =
      copy(mutableAggBufferOffset = n)
    override def withNewInputAggBufferOffset(n: Int): GkQuantileAgg =
      copy(inputAggBufferOffset = n)
    override protected def withNewChildInternal(newChild: Expression): GkQuantileAgg =
      copy(child = newChild)
  }

  /** `graft_gk_quantiles(state, array<double> probs)` → array<double>
    * of ε-approximate quantiles. Runs once per GROUP row post-agg
    * (never per input row), so CodegenFallback costs nothing
    * measurable. The empty state (count 0) serves null.
    */
  case class GkQuantilesExpr(left: Expression, right: Expression)
    extends SketchServe[QuantileSummaries] {

    override protected def codec: SketchCodec[QuantileSummaries] = Codec
    override protected def argType: DataType = ArrayType(DoubleType)
    override def dataType: DataType = ArrayType(DoubleType)
    override def prettyName: String = "graft_gk_quantiles"

    // SQL callers bypass gkQuantiles' require — enforce it here too
    override protected def check(probs: Any): Unit = {
      val ps = probs.asInstanceOf[ArrayData].toDoubleArray()
      require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
        s"graft_gk_quantiles probabilities must be in [0,1], got " + ps.mkString("[", ", ", "]"))
    }
    override protected def serve(qs: QuantileSummaries, probs: Any): Any =
      if (qs.count == 0) null
      else qs.query(probs.asInstanceOf[ArrayData].toDoubleArray().toIndexedSeq)
        .map(vals => new GenericArrayData(vals.toArray)).orNull

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): GkQuantilesExpr =
      copy(left = newLeft, right = newRight)
  }

  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_gk_agg", classOf[GkQuantileAgg], "value, relativeError", 2) { c =>
      val relErr = SqlFunction.foldableDouble(c(1), "graft_gk_agg relativeError")
      GkQuantileAgg(c(0), relErr).toAggregateExpression()
    },
    SketchMergeAgg.function(Codec),
    SqlFunction("graft_gk_quantiles", classOf[GkQuantilesExpr], "state, probs", 2) {
      c => GkQuantilesExpr(c(0), c(1))
    })

  /** Aggregate a double column into one serialized ε-approximate GK
    * state. Mergeable: partitions fold locally and the shuffle carries
    * O((1/ε)·log(ε·n)) tuples per group, never values.
    */
  def gkAgg(spark: SparkSession, value: Column, relativeError: Double = 0.01): Column = {
    register(spark)
    call_function("graft_gk_agg", value, lit(relativeError))
  }

  /** Merge serialized GK states (compaction / rollup aggregate). */
  def gkMerge(spark: SparkSession, state: Column): Column = {
    register(spark)
    call_function("graft_gk_merge", state)
  }

  /** Serve ε-approximate quantiles from a state column. */
  def gkQuantiles(spark: SparkSession, state: Column, probs: Seq[Double]): Column = {
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
      s"probabilities must be in [0,1], got $probs")
    register(spark)
    call_function("graft_gk_quantiles", state, array(probs.map(lit): _*))
  }
}
