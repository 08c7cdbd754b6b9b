package graft.functions

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable WEIGHTED reservoir ROW-sample state — the sixth mergeable
  * summary next to HLL (q32), count-min (q50), GK (q70), Misra–Gries
  * (q71) and KMV bottom-k (q72): the k rows with the LARGEST
  * Efraimidis–Spirakis keys `w / −ln(u)` (the q37 `weightedSample`
  * ranking, "Weighted random sampling with a reservoir", IPL 2006 —
  * the −ln(u)/w spelling of their u^(1/w) order), kept as bounded
  * state. Where q72's KMV samples the DISTINCT DOMAIN uniformly, this
  * sketch keeps k representative ROWS per segment, weight-
  * proportionally, maintained incrementally: top-k by a fixed total
  * order is closed under set-union exactly like bottom-k, so any
  * partitioning, ingest batching, or merge tree yields the
  * BIT-IDENTICAL state.
  *
  * Determinism is the q37 contract: `u` derives from the id, not a
  * PRNG — `u = (u48 + 0.5) / 2^48` with u48 the first 12 hex chars of
  * md5(id), so u ∈ (0,1) strictly and the key is finite and positive.
  * The pinned cross-engine spelling (BottomKSpec/q37 precedent):
  *
  *   Spark SQL  `conv(substr(md5(id), 1, 12), 16, 10)`
  *   DuckDB     `('0x' || substr(md5(id), 1, 12))::BIGINT`
  *
  * and the key arithmetic `greatest(w, 1.0) / -ln(u)` runs in double
  * on every engine (java.lang.Math.log here = Spark's `log`; DuckDB's
  * `ln` agreed bit-for-bit across the q37 gate at sf0.01/1/10). The
  * weight clamp to ≥ 1 repeats `weightedSample`'s documented
  * degenerate-input policy: zero/negative weights would corrupt the
  * ranking; sub-1 weights sample uniformly (pre-scale fractional
  * scores, e.g. `score * 1e6`, to keep proportionality).
  *
  * Entry identity is the (id, weight) pair: a re-arrival of the same
  * row dedups free (same id + weight → same entry); the same id with
  * a CHANGED weight is two entries — pass a stable per-row weight
  * (chars, tokens, bytes), not a mutable metric.
  *
  * Expressions, declared in `functions` like the bottom-k family:
  *  - `graft_wr_agg(id, weight, k)` — rows → one binary state
  *  - `graft_wr_merge(state)`       — binary states → merged state
  *  - `graft_wr_sample(state, m)`   — state → array<struct<wkey, id,
  *    weight>>, the m largest keys in (wkey desc, id) order
  *
  * Reference analog: none — beyond-reference training-data surface.
  */
object WeightedReservoir extends SqlFunctions {

  private val FormatVersion: Byte = 1

  /** 2^48 as a double: the u48 hash domain (12 hex chars). */
  val U48Domain: Double = 281474976710656.0

  /** The pinned id → u48 hash: first 12 hex chars (48 bits) of the md5
    * of the id's UTF-8 bytes — exactly Spark SQL's
    * `conv(substr(md5(id),1,12),16,10)` and DuckDB's
    * `('0x' || substr(md5(id),1,12))::BIGINT`.
    */
  def hash48(id: String): Long = {
    val d = MessageDigest.getInstance("MD5")
      .digest(id.getBytes(StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 6) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h
  }

  /** The Efraimidis–Spirakis key: `max(w,1) / −ln((h48+0.5)/2^48)`.
    * u ∈ (0,1) strictly (h48 ∈ [0, 2^48−1]) → the key is finite, > 0.
    * StrictMath.log, not Math.log: Spark's `ln` codegen calls
    * StrictMath (platform-independent), and the q37 oracle agreement
    * with DuckDB is proven against THAT spelling — Math.log differs by
    * 1 ulp on some inputs (WeightedReservoirSpec pins the equality).
    * Caveat (r14 ADVICE): Spark's INTERPRETED eval of `ln` goes through
    * java.lang.Math.log, which a JDK may intrinsify differently from
    * StrictMath's fdlibm — a 1-ulp key difference near a .xx5 rounding
    * boundary or the rank-k cutoff could flip a served row if an
    * expression falls back to interpreted evaluation.
    * WeightedReservoirSpec pins the SQL spelling with whole-stage
    * codegen disabled AND factoryMode=NO_CODEGEN bit-equal to this
    * method on the gate corpus, so both paths are proven on the
    * platform the gates run on.
    */
  def wkey(id: String, weight: Double): Double = {
    val u = (hash48(id).toDouble + 0.5) / U48Domain
    math.max(weight, 1.0) / -StrictMath.log(u)
  }

  /** Total order: wkey DESC, then id by UTF-8 bytes ASC (engine byte
    * order — ties between DIFFERENT ids need a hash collision in a
    * continuous key, so this is the dedup path), then weight ASC to
    * totalize the same-id-different-weight corner.
    */
  private val EntryOrdering: Ordering[(Double, String, Double)] =
    new Ordering[(Double, String, Double)] {
      def compare(a: (Double, String, Double), b: (Double, String, Double)): Int = {
        val c = java.lang.Double.compare(b._1, a._1) // descending key
        if (c != 0) c
        else {
          val c2 = BottomKSketch.Utf8Ordering.compare(a._2, b._2)
          if (c2 != 0) c2 else java.lang.Double.compare(a._3, b._3)
        }
      }
    }

  /** Mutable buffer: the k largest (wkey, id, weight) entries. TreeSet
    * = O(log k) insert/evict + free dedup of identical re-arrivals.
    */
  final class WrSummary(val k: Int) {
    val entries: mutable.TreeSet[(Double, String, Double)] =
      mutable.TreeSet.empty(EntryOrdering)

    def insert(id: String, weight: Double): Unit = {
      // k=0 is the merge aggregate's capacity sentinel, which holds no entries
      // by definition; without this guard the eviction branch would call
      // entries.last on an empty TreeSet (r14 ADVICE — latent, since
      // mergeInto special-cases the sentinel, but no caller should be
      // one refactor away from a NoSuchElementException)
      if (k <= 0) return
      val e = (wkey(id, weight), id, weight)
      if (entries.size < k) entries += e
      else if (EntryOrdering.lt(e, entries.last)) {
        if (entries.add(e)) entries -= entries.last
      }
    }

    /** Union + take the k largest — a pure set operation: associative,
      * commutative, idempotent; the same final state for any merge tree.
      */
    def merge(other: WrSummary): WrSummary = {
      require(other.k == k,
        s"cannot merge weighted-reservoir states of different k: $k vs ${other.k}")
      if (k <= 0) return this // two k=0 sentinels: both empty, nothing to move
      other.entries.foreach { e =>
        if (entries.size < k) entries += e
        else if (EntryOrdering.lt(e, entries.last)) {
          if (entries.add(e)) entries -= entries.last
        }
      }
      this
    }
  }

  private[graft] def serializeSummary(s: WrSummary): Array[Byte] = {
    val items = s.entries.toArray.map { case (wk, id, w) =>
      (wk, id.getBytes(StandardCharsets.UTF_8), w)
    }
    val size = 1 + 4 + 4 + items.map(e => 8 + 8 + 4 + e._2.length).sum
    val buf = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    buf.put(FormatVersion)
    buf.putInt(s.k)
    buf.putInt(items.length)
    items.foreach { case (wk, idBytes, w) =>
      buf.putDouble(wk); buf.putDouble(w)
      buf.putInt(idBytes.length); buf.put(idBytes)
    }
    buf.array()
  }

  private[graft] def deserializeSummary(bytes: Array[Byte]): WrSummary = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val version = buf.get()
    require(version == FormatVersion,
      s"unknown weighted-reservoir state version $version")
    val s = new WrSummary(buf.getInt())
    val m = buf.getInt()
    (0 until m).foreach { _ =>
      val wk = buf.getDouble()
      val w = buf.getDouble()
      val len = buf.getInt()
      val b = new Array[Byte](len); buf.get(b)
      s.entries += ((wk, new String(b, StandardCharsets.UTF_8), w))
    }
    s
  }

  /** The reservoir state's codec. The empty state is the capacity-0
    * sentinel: a merge adopts k from the first state it meets, and a
    * merge over no states serializes an empty state that serves an
    * empty sample. The merge is set union.
    */
  private[graft] object Codec extends SketchCodec[WrSummary] {
    val family = "wr"
    def empty: WrSummary = new WrSummary(0)
    private def isEmpty(s: WrSummary) = s.k == 0 && s.entries.isEmpty
    def merge(a: WrSummary, b: WrSummary): WrSummary =
      if (isEmpty(a)) b else if (isEmpty(b)) a else a.merge(b)
    def serialize(s: WrSummary): Array[Byte] = serializeSummary(s)
    def deserialize(bytes: Array[Byte]): WrSummary = deserializeSummary(bytes)
  }

  /** `graft_wr_agg(id string, weight double, k)` → binary state. Rows
    * with a null id or null weight are skipped (no identity / no mass).
    */
  case class WrAgg(
      left: Expression,
      right: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends SketchAgg[WrSummary] with BinaryLike[Expression] {

    require(k >= 1, s"k must be >= 1: $k")

    override protected def codec: SketchCodec[WrSummary] = Codec
    override def inputTypes = Seq(StringType, DoubleType)
    override def prettyName: String = "graft_wr_agg"

    override def createAggregationBuffer(): WrSummary = new WrSummary(k)

    override def update(buffer: WrSummary, input: InternalRow): WrSummary = {
      val id = left.eval(input)
      val w = right.eval(input)
      if (id != null && w != null) {
        buffer.insert(id.asInstanceOf[UTF8String].toString,
          w.asInstanceOf[Double])
      }
      buffer
    }

    override def withNewMutableAggBufferOffset(nOff: Int): WrAgg =
      copy(mutableAggBufferOffset = nOff)
    override def withNewInputAggBufferOffset(nOff: Int): WrAgg =
      copy(inputAggBufferOffset = nOff)
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): WrAgg =
      copy(left = newLeft, right = newRight)
  }

  private val SampleStruct = StructType(Seq(
    StructField("wkey", DoubleType, nullable = false),
    StructField("id", StringType, nullable = false),
    StructField("weight", DoubleType, nullable = false)))

  /** `graft_wr_sample(state, m)` → array<struct<wkey, id, weight>>:
    * the m largest-key rows, in (wkey desc, id) order — the weighted
    * sample, served from state.
    */
  case class WrSample(left: Expression, right: Expression) extends SketchServe[WrSummary] {

    override protected def codec: SketchCodec[WrSummary] = Codec
    override protected def argType: DataType = IntegerType
    override def dataType: DataType = ArrayType(SampleStruct)
    override def prettyName: String = "graft_wr_sample"

    override protected def check(m: Any): Unit = SketchServe.requireSize(this, "m", m)
    override protected def serve(s: WrSummary, m: Any): Any =
      SketchServe.array(s.entries.iterator.take(m.asInstanceOf[Int]).map { case (wk, id, w) =>
        InternalRow(wk, UTF8String.fromString(id), w)
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): WrSample =
      copy(left = newLeft, right = newRight)
  }

  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_wr_agg", classOf[WrAgg], "id, weight, k", 3) { c =>
      val k = SqlFunction.foldableInt(c(2), "graft_wr_agg k")
      require(k >= 1, s"graft_wr_agg k must be >= 1: $k")
      WrAgg(c(0), c(1), k).toAggregateExpression()
    },
    SketchMergeAgg.function(Codec),
    SqlFunction("graft_wr_sample", classOf[WrSample], "state, m", 2) {
      c => WrSample(c(0), c(1))
    })

  import org.apache.spark.sql.functions.{call_function, lit}

  /** Aggregate (id, weight) rows into one reservoir state. Mergeable:
    * the shuffle carries ≤ k entries per group whatever the row count.
    */
  def wrAgg(spark: SparkSession, id: Column, weight: Column, k: Int): Column = {
    require(k >= 1, s"k must be >= 1: $k")
    register(spark)
    call_function("graft_wr_agg", id, weight, lit(k))
  }

  /** Merge serialized reservoir states (compaction / rollup aggregate). */
  def wrMerge(spark: SparkSession, state: Column): Column = {
    register(spark)
    call_function("graft_wr_merge", state)
  }

  /** Serve the m largest-key rows from a state column. */
  def wrSample(spark: SparkSession, state: Column, m: Int): Column = {
    require(m >= 1, s"m must be >= 1: $m")
    register(spark)
    call_function("graft_wr_sample", state, lit(m))
  }
}
