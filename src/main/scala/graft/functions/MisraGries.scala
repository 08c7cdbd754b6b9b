package graft.functions

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable heavy-hitters sketch STATE (Misra–Gries 1982, merge rule
  * from Agarwal et al. 2013 "Mergeable Summaries") — the fourth and
  * last classic mergeable summary next to q32's HLL (distinct), q50's
  * count-min (point frequency), and q70's GK (quantiles): at most `k`
  * (item, counter) pairs whose DETERMINISTIC guarantee is
  *
  *   `stored(x) ≤ true(x) ≤ stored(x) + ⌊n/(k+1)⌋`  for every item x,
  *   and every item with `true(x) > n/(k+1)` is PRESENT in the summary
  *
  * — for ANY insertion order, ANY partitioning, ANY merge tree (the
  * Agarwal et al. merge — add counts, then subtract the (k+1)-th
  * largest and drop non-positives — preserves the bound additively).
  * Which counters the summary carries for NON-frequent items does
  * depend on order; the guarantee above is what is deterministic, and
  * it is what the specs pin.
  *
  * Where count-min answers "how often does THIS item occur" (point
  * query, needs the item in hand), this answers "WHICH items are
  * frequent" without knowing them in advance — the top-domain /
  * hot-key / dominant-template question a corpus pipeline asks first.
  *
  * Three expressions, declared in `functions` like the GK family:
  *  - `graft_mg_agg(item, k)`      — items → one binary state
  *  - `graft_mg_merge(state)`      — binary states → merged state
  *  - `graft_mg_topk(state, topK)` — state → array<struct<item,
  *    count_lo, count_hi>> sorted (count_lo desc, item asc)
  */
object MisraGries extends SqlFunctions {

  private val FormatVersion: Byte = 1

  /** Mutable aggregation buffer: classic MG with the amortized-O(1)
    * decrement (each decrement step removes total mass ≥ k+1, so
    * decrements happen at most n/(k+1) times).
    */
  final class MgSummary(val k: Int) {
    var n: Long = 0L
    val counts: mutable.HashMap[String, Long] = mutable.HashMap.empty

    def insert(item: String): Unit = {
      n += 1
      counts.get(item) match {
        case Some(c) => counts.update(item, c + 1)
        case None =>
          if (counts.size < k) counts.update(item, 1L)
          else {
            // decrement all, drop zeros (the arriving item's implicit
            // +1 cancels against the global −1)
            val dead = mutable.ArrayBuffer.empty[String]
            counts.mapValuesInPlace((_, c) => c - 1)
            counts.foreach { case (key, c) => if (c <= 0) dead += key }
            dead.foreach(counts.remove)
          }
      }
    }

    /** Agarwal et al. merge: add counts, then if over capacity subtract
      * the (k+1)-th largest counter from all and drop non-positives.
      */
    def merge(other: MgSummary): MgSummary = {
      require(other.k == k,
        s"cannot merge Misra-Gries states of different k: $k vs ${other.k}")
      n += other.n
      other.counts.foreach { case (item, c) =>
        counts.update(item, counts.getOrElse(item, 0L) + c)
      }
      if (counts.size > k) {
        val sorted = counts.values.toArray.sorted(Ordering[Long].reverse)
        val cut = sorted(k) // (k+1)-th largest
        val dead = mutable.ArrayBuffer.empty[String]
        counts.mapValuesInPlace((_, c) => c - cut)
        counts.foreach { case (key, c) => if (c <= 0) dead += key }
        dead.foreach(counts.remove)
      }
      this
    }
  }

  private[graft] def serializeSummary(s: MgSummary): Array[Byte] = {
    val entries = s.counts.toArray.map { case (item, c) =>
      (item.getBytes(StandardCharsets.UTF_8), c)
    }
    val size = 1 + 4 + 8 + 4 + entries.map(e => 4 + e._1.length + 8).sum
    val buf = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    buf.put(FormatVersion)
    buf.putInt(s.k)
    buf.putLong(s.n)
    buf.putInt(entries.length)
    entries.foreach { case (bytes, c) =>
      buf.putInt(bytes.length); buf.put(bytes); buf.putLong(c)
    }
    buf.array()
  }

  private[graft] def deserializeSummary(bytes: Array[Byte]): MgSummary = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val version = buf.get()
    require(version == FormatVersion, s"unknown MG state version $version")
    val s = new MgSummary(buf.getInt())
    s.n = buf.getLong()
    val m = buf.getInt()
    (0 until m).foreach { _ =>
      val len = buf.getInt()
      val b = new Array[Byte](len); buf.get(b)
      s.counts.update(new String(b, StandardCharsets.UTF_8), buf.getLong())
    }
    s
  }

  /** The MG state's codec. The empty state is the capacity-0
    * sentinel: a merge adopts k from the first state it meets.
    */
  private[graft] object Codec extends SketchCodec[MgSummary] {
    val family = "mg"
    def empty: MgSummary = new MgSummary(0)
    private def isEmpty(s: MgSummary) = s.k == 0 && s.n == 0L
    def merge(a: MgSummary, b: MgSummary): MgSummary =
      if (isEmpty(a)) b else if (isEmpty(b)) a else a.merge(b)
    def serialize(s: MgSummary): Array[Byte] = serializeSummary(s)
    def deserialize(bytes: Array[Byte]): MgSummary = deserializeSummary(bytes)
  }

  /** `graft_mg_agg(item string, k)` → binary MG state. Null items are
    * skipped (they are not a frequency class).
    */
  case class MgAgg(
      child: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends SketchAgg[MgSummary] with UnaryLike[Expression] {

    require(k >= 1, s"k must be >= 1: $k")

    override protected def codec: SketchCodec[MgSummary] = Codec
    override def inputTypes = Seq(StringType)
    override def prettyName: String = "graft_mg_agg"

    override def createAggregationBuffer(): MgSummary = new MgSummary(k)

    override def update(buffer: MgSummary, input: InternalRow): MgSummary = {
      val v = child.eval(input)
      if (v != null) buffer.insert(v.asInstanceOf[UTF8String].toString)
      buffer
    }

    override def withNewMutableAggBufferOffset(nOff: Int): MgAgg =
      copy(mutableAggBufferOffset = nOff)
    override def withNewInputAggBufferOffset(nOff: Int): MgAgg =
      copy(inputAggBufferOffset = nOff)
    override protected def withNewChildInternal(newChild: Expression): MgAgg =
      copy(child = newChild)
  }

  private val TopKStruct = StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("count_lo", LongType, nullable = false),
    StructField("count_hi", LongType, nullable = false)))

  /** `graft_mg_topk(state, topK)` → the summary's top entries with
    * their deterministic bounds: `count_lo` the stored counter (never
    * above the truth), `count_hi = count_lo + ⌊n/(k+1)⌋` (never below
    * it). Sorted (count_lo desc, item asc), truncated to topK. Runs
    * once per group row post-agg.
    */
  case class MgTopK(left: Expression, right: Expression) extends SketchServe[MgSummary] {

    override protected def codec: SketchCodec[MgSummary] = Codec
    override protected def argType: DataType = IntegerType
    override def dataType: DataType = ArrayType(TopKStruct)
    override def prettyName: String = "graft_mg_topk"

    override protected def check(topK: Any): Unit = SketchServe.requireSize(this, "topK", topK)
    override protected def serve(s: MgSummary, topK: Any): Any = {
      val err = if (s.k > 0) s.n / (s.k + 1) else 0L
      SketchServe.array(s.counts.toArray.sortBy { case (item, c) => (-c, item) }
        .iterator.take(topK.asInstanceOf[Int])
        .map { case (item, c) => InternalRow(UTF8String.fromString(item), c, c + err) })
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): MgTopK =
      copy(left = newLeft, right = newRight)
  }

  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_mg_agg", classOf[MgAgg], "item, k", 2) {
      c => MgAgg(c(0), SqlFunction.foldableInt(c(1), "graft_mg_agg k")).toAggregateExpression()
    },
    // the Agarwal et al. rule keeps the error bound at ⌊n_total/(k+1)⌋
    // at any re-compaction depth
    SketchMergeAgg.function(Codec),
    SqlFunction("graft_mg_topk", classOf[MgTopK], "state, topK", 2) {
      c => MgTopK(c(0), c(1))
    })

  import org.apache.spark.sql.functions.{call_function, lit}

  /** Aggregate a string item column into one MG state of at most `k`
    * counters. Mergeable: the shuffle carries ≤ k entries per group
    * whatever the item cardinality.
    */
  def mgAgg(spark: SparkSession, item: Column, k: Int): Column = {
    require(k >= 1, s"k must be >= 1: $k")
    register(spark)
    call_function("graft_mg_agg", item, lit(k))
  }

  /** Merge serialized MG states (compaction / rollup aggregate). */
  def mgMerge(spark: SparkSession, state: Column): Column = {
    register(spark)
    call_function("graft_mg_merge", state)
  }

  /** Serve the top entries with deterministic [count_lo, count_hi]
    * bounds from a state column.
    */
  def mgTopK(spark: SparkSession, state: Column, topK: Int): Column = {
    require(topK >= 1, s"topK must be >= 1: $topK")
    register(spark)
    call_function("graft_mg_topk", state, lit(topK))
  }
}
