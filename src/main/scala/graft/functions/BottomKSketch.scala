package graft.functions

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable bottom-k (KMV, "k minimum values") distinct sketch STATE
  * (Beyer et al. 2007 "On Synopses for Distinct-Value Estimation Under
  * Multiset Operations") — the fifth mergeable summary next to q32's
  * HLL (distinct COUNT), q50's count-min (point frequency), q70's GK
  * (quantiles) and q71's Misra–Gries (frequent items): the k smallest
  * `(hash(key), key)` pairs over the DISTINCT keys seen. It answers
  * two questions from one bounded state:
  *
  *  - a uniform SAMPLE of the distinct keys (the bottom-k of a fixed
  *    hash is a uniform-without-replacement sample of the distinct
  *    domain — HLL can count the domain but cannot show you members);
  *  - a distinct-count ESTIMATE: exact (= state size) while fewer than
  *    k distinct keys were inserted, else the KMV unbiased estimator
  *    `(k-1) * 2^60 / h_k` with relative stderr ~ 1/sqrt(k-2).
  *
  * Unlike the HLL/GK/MG states, EVERYTHING this sketch serves is
  * engine-independent given the hash function: the k smallest pairs of
  * a fixed hash are a pure set property — any insertion order, any
  * partitioning, any merge tree yields the BIT-IDENTICAL state. The
  * hash is pinned to a public cross-engine spelling, the first 15 hex
  * chars of md5 (a 60-bit value):
  *
  *   Spark SQL  `conv(substr(md5(key), 1, 15), 16, 10)`
  *   DuckDB     `CAST('0x' || substr(md5(key), 1, 15) AS BIGINT)`
  *
  * so the q72 gate — sample membership, hash values, AND the estimate
  * (exact integer floor((k-1)·2^60 / h_k), no float division) — is
  * fully DuckDB-oracled, the only sketch in the family whose served
  * numbers an independent engine reproduces value-for-value.
  *
  * Expressions, declared in `functions` like the GK/MG families:
  *  - `graft_bk_agg(key, k)`        — keys → one binary state
  *  - `graft_bk_merge(state)`       — binary states → merged state
  *  - `graft_bk_distinct(state)`    — state → bigint distinct estimate
  *  - `graft_bk_sample(state, m)`   — state → array<struct<h, key>>,
  *    the m hash-smallest distinct keys in (h, key) order
  *
  * Reference analog: none — beyond-reference training-data surface.
  */
object BottomKSketch extends SqlFunctions {

  private val FormatVersion: Byte = 1

  /** 2^60: the exclusive upper bound of the 60-bit hash domain. */
  val HashDomain: Long = 1L << 60

  /** The pinned cross-engine hash: first 15 hex chars (60 bits) of the
    * md5 of the key's UTF-8 bytes, read as an unsigned integer —
    * exactly Spark SQL's `conv(substr(md5(key),1,15),16,10)` and
    * DuckDB's `CAST('0x' || substr(md5(key),1,15) AS BIGINT)`
    * (BottomKSpec pins the Spark-SQL equality row-for-row).
    */
  def hash60(key: String): Long =
    hash60(key.getBytes(StandardCharsets.UTF_8))

  /** Raw-byte form of the pinned hash — md5 over the bytes as given,
    * no charset round-trip. `hash60(s) == hash60(s.getBytes(UTF_8))`
    * by construction; for non-UTF-8 binary payloads this is the only
    * form whose value matches an oracle's md5-of-bytes.
    */
  def hash60(bytes: Array[Byte]): Long = {
    val d = MessageDigest.getInstance("MD5").digest(bytes)
    // first 15 hex chars = the top 7.5 bytes: build the 60-bit value
    // directly from the bytes (hex formatting round-trip not needed)
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(7) & 0xf0L) >>> 4)
  }

  /** Key ties (equal 60-bit hashes — a ~2^-60 event between DIFFERENT
    * keys, but every re-arrival of the SAME key) order by UTF-8 bytes,
    * unsigned lexicographic — the raw-byte order DuckDB and Spark's
    * UTF8String both use, so the state order matches the oracle's for
    * ALL inputs, supplementary-plane keys included. Equal strings
    * short-circuit before any byte materialization.
    */
  private[functions] val Utf8Ordering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      if (a == b) 0
      else {
        val x = a.getBytes(StandardCharsets.UTF_8)
        val y = b.getBytes(StandardCharsets.UTF_8)
        var i = 0
        val n = math.min(x.length, y.length)
        while (i < n) {
          val c = (x(i) & 0xff) - (y(i) & 0xff)
          if (c != 0) return c
          i += 1
        }
        x.length - y.length
      }
  }

  private val PairOrdering: Ordering[(Long, String)] =
    Ordering.Tuple2(Ordering.Long, Utf8Ordering)

  /** Mutable aggregation buffer: the k smallest (hash, key) pairs over
    * distinct keys. A TreeSet gives O(log k) insert/evict and dedups
    * re-arrivals of the same key (same key → same pair) for free.
    */
  final class BkSummary(val k: Int) {
    val pairs: mutable.TreeSet[(Long, String)] = mutable.TreeSet.empty(PairOrdering)

    def insert(key: String): Unit = {
      // k=0 is the merge aggregate's capacity sentinel (holds no pairs); guard
      // so the eviction branch can never hit pairs.last on an empty set
      // (r14 ADVICE — same latent trap as WrSummary)
      if (k <= 0) return
      val p = (hash60(key), key)
      if (pairs.size < k) pairs += p
      else if (PairOrdering.lt(p, pairs.last)) {
        if (pairs.add(p)) pairs -= pairs.last
      }
    }

    /** Union + take the k smallest — a pure set operation, so the merge
      * is associative, commutative, AND idempotent (self-merge is a
      * no-op): the same final state for any merge tree.
      */
    def merge(other: BkSummary): BkSummary = {
      require(other.k == k,
        s"cannot merge bottom-k states of different k: $k vs ${other.k}")
      if (k <= 0) return this // two k=0 sentinels: both empty, nothing to move
      other.pairs.foreach { p =>
        if (pairs.size < k) pairs += p
        else if (PairOrdering.lt(p, pairs.last)) {
          if (pairs.add(p)) pairs -= pairs.last
        }
      }
      this
    }

    /** Exact while the state never filled (size < k ⟺ fewer than k
      * distinct keys inserted across ALL merged inputs), else the KMV
      * estimator floor((k-1) * 2^60 / h_k) — exact integer arithmetic,
      * so an independent engine reproduces the number bit-for-bit.
      */
    def distinctEstimate: Long =
      // `isEmpty` also covers the k=0 sentinel a merge over zero states
      // leaves behind (size < k is FALSE there) — an empty state serves 0
      if (pairs.isEmpty || pairs.size < k) pairs.size.toLong
      else {
        val hk = pairs.last._1
        if (hk <= 0L) pairs.size.toLong // 2^-60 corner: all-zero kth hash
        else {
          val e = BigInt(k - 1) * BigInt(HashDomain) / BigInt(hk)
          if (e > Long.MaxValue) Long.MaxValue else e.toLong // hk ≤ (k-1)/8 corner
        }
      }
  }

  private[graft] def serializeSummary(s: BkSummary): Array[Byte] = {
    val entries = s.pairs.toArray.map { case (h, key) =>
      (h, key.getBytes(StandardCharsets.UTF_8))
    }
    val size = 1 + 4 + 4 + entries.map(e => 8 + 4 + e._2.length).sum
    val buf = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    buf.put(FormatVersion)
    buf.putInt(s.k)
    buf.putInt(entries.length)
    entries.foreach { case (h, bytes) =>
      buf.putLong(h); buf.putInt(bytes.length); buf.put(bytes)
    }
    buf.array()
  }

  private[graft] def deserializeSummary(bytes: Array[Byte]): BkSummary = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val version = buf.get()
    require(version == FormatVersion, s"unknown bottom-k state version $version")
    val s = new BkSummary(buf.getInt())
    val m = buf.getInt()
    (0 until m).foreach { _ =>
      val h = buf.getLong()
      val len = buf.getInt()
      val b = new Array[Byte](len); buf.get(b)
      s.pairs += ((h, new String(b, StandardCharsets.UTF_8)))
    }
    s
  }

  /** The bottom-k state's codec. The empty state is the capacity-0
    * sentinel: a merge adopts k from the first state it meets. The
    * merge is set union, so any merge tree yields the identical state.
    */
  private[graft] object Codec extends SketchCodec[BkSummary] {
    val family = "bk"
    def empty: BkSummary = new BkSummary(0)
    private def isEmpty(s: BkSummary) = s.k == 0 && s.pairs.isEmpty
    def merge(a: BkSummary, b: BkSummary): BkSummary =
      if (isEmpty(a)) b else if (isEmpty(b)) a else a.merge(b)
    def serialize(s: BkSummary): Array[Byte] = serializeSummary(s)
    def deserialize(bytes: Array[Byte]): BkSummary = deserializeSummary(bytes)
  }

  /** `graft_bk_agg(key string, k)` → binary bottom-k state. Null keys
    * are skipped (null is not a member of the distinct domain).
    */
  case class BkAgg(
      child: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends SketchAgg[BkSummary] with UnaryLike[Expression] {

    require(k >= 2, s"k must be >= 2 (the KMV estimator needs k-1 >= 1): $k")

    override protected def codec: SketchCodec[BkSummary] = Codec
    override def inputTypes = Seq(StringType)
    override def prettyName: String = "graft_bk_agg"

    override def createAggregationBuffer(): BkSummary = new BkSummary(k)

    override def update(buffer: BkSummary, input: InternalRow): BkSummary = {
      val v = child.eval(input)
      if (v != null) buffer.insert(v.asInstanceOf[UTF8String].toString)
      buffer
    }

    override def withNewMutableAggBufferOffset(nOff: Int): BkAgg =
      copy(mutableAggBufferOffset = nOff)
    override def withNewInputAggBufferOffset(nOff: Int): BkAgg =
      copy(inputAggBufferOffset = nOff)
    override protected def withNewChildInternal(newChild: Expression): BkAgg =
      copy(child = newChild)
  }

  /** `graft_bk_distinct(state)` → bigint distinct-count estimate (exact
    * below k; KMV integer floor above). Runs once per group row
    * post-agg.
    */
  case class BkDistinct(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {

    override def inputTypes = Seq(BinaryType)
    override def dataType: DataType = LongType
    override def nullable: Boolean = true
    override def prettyName: String = "graft_bk_distinct"

    override def nullSafeEval(state: Any): Any =
      deserializeSummary(state.asInstanceOf[Array[Byte]]).distinctEstimate

    override protected def withNewChildInternal(newChild: Expression): BkDistinct =
      copy(child = newChild)
  }

  private val SampleStruct = StructType(Seq(
    StructField("h", LongType, nullable = false),
    StructField("key", StringType, nullable = false)))

  /** `graft_bk_sample(state, m)` → array<struct<h, key>>: the m
    * hash-smallest distinct keys, in (h, key) order — a deterministic
    * uniform sample of the distinct domain.
    */
  case class BkSample(left: Expression, right: Expression) extends SketchServe[BkSummary] {

    override protected def codec: SketchCodec[BkSummary] = Codec
    override protected def argType: DataType = IntegerType
    override def dataType: DataType = ArrayType(SampleStruct)
    override def prettyName: String = "graft_bk_sample"

    override protected def check(m: Any): Unit = SketchServe.requireSize(this, "m", m)
    override protected def serve(s: BkSummary, m: Any): Any =
      SketchServe.array(s.pairs.iterator.take(m.asInstanceOf[Int]).map { case (h, key) =>
        InternalRow(h, UTF8String.fromString(key))
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): BkSample =
      copy(left = newLeft, right = newRight)
  }

  private val OverlapStruct = StructType(Seq(
    StructField("k_used", IntegerType, nullable = false),
    StructField("overlap", IntegerType, nullable = false),
    StructField("jaccard_est", org.apache.spark.sql.types.DoubleType, nullable = true),
    StructField("distinct_a", LongType, nullable = false),
    StructField("distinct_b", LongType, nullable = false),
    StructField("union_est", LongType, nullable = false),
    StructField("containment_a_in_b", org.apache.spark.sql.types.DoubleType, nullable = true),
    StructField("containment_b_in_a", org.apache.spark.sql.types.DoubleType, nullable = true)))

  /** `graft_bk_overlap(stateA, stateB)` → struct<k_used, overlap,
    * jaccard_est, distinct_a, distinct_b, union_est,
    * containment_a_in_b, containment_b_in_a>:
    * the Beyer et al. 2007 set-operation estimator —
    * Jaccard similarity of two distinct DOMAINS from their bottom-k
    * synopses alone, no join of the underlying data. K-min synopses
    * are closed under union: the bottom-k of A∪B is computable from
    * the two states, and any pair in it that belongs to A is
    * necessarily within A's stored bottom-k (the union's k-th smallest
    * hash is ≤ each side's k-th smallest), so membership tests against
    * the stored states are EXACT. `overlap` counts union-synopsis
    * members present in both states, `k_used = |bottom-k(A∪B)|`,
    * `jaccard_est = round(overlap / k_used, 6)`. Alongside them the
    * three KMV cardinalities (`distinct_a`, `distinct_b`, `union_est`
    * — each side's and the union synopsis's distinctEstimate) and the
    * CONTAINMENT ratios served explicitly both ways:
    * `containment_a_in_b = round(overlap/k_used · union_est/distinct_a, 6)`
    * (≈ |A∩B|/|A| — "how much of train A's domain does eval B touch")
    * and its mirror over distinct_b — the one-call answer to the
    * "is eval-set B's domain covered by train A" decontamination
    * question. Every number a deterministic function of the pinned
    * hashes, so an independent engine reproduces all eight. Exact (not
    * estimates) whenever the domains fit below k. NULL jaccard on an
    * empty union; NULL containment when the denominator side is empty.
    */
  case class BkOverlap(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {

    override def inputTypes = Seq(BinaryType, BinaryType)
    override def dataType: DataType = OverlapStruct
    override def nullable: Boolean = true
    override def prettyName: String = "graft_bk_overlap"

    override def nullSafeEval(sa: Any, sb: Any): Any = {
      val a = deserializeSummary(sa.asInstanceOf[Array[Byte]])
      val b = deserializeSummary(sb.asInstanceOf[Array[Byte]])
      require(a.k == b.k,
        s"cannot compare bottom-k states of different k: ${a.k} vs ${b.k}")
      val union = new BkSummary(a.k)
      a.pairs.foreach { p =>
        if (union.pairs.size < union.k) union.pairs += p
        else if (PairOrdering.lt(p, union.pairs.last)) {
          if (union.pairs.add(p)) union.pairs -= union.pairs.last
        }
      }
      union.merge(b)
      val kUsed = union.pairs.size
      val overlap = union.pairs.count(p => a.pairs.contains(p) && b.pairs.contains(p))
      def round6(v: Double): Double =
        BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val jac: Any = if (kUsed == 0) null else round6(overlap.toDouble / kUsed)
      val da = a.distinctEstimate
      val db = b.distinctEstimate
      val ue = union.distinctEstimate
      // |A∩B| ≈ (overlap/k_used)·union_est; the division order is pinned
      // left-to-right so the oracle's double arithmetic is identical
      val cab: Any =
        if (kUsed == 0 || da == 0L) null
        else round6(overlap.toDouble / kUsed * ue / da)
      val cba: Any =
        if (kUsed == 0 || db == 0L) null
        else round6(overlap.toDouble / kUsed * ue / db)
      InternalRow(kUsed, overlap, jac, da, db, ue, cab, cba)
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): BkOverlap =
      copy(left = newLeft, right = newRight)
  }

  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_bk_agg", classOf[BkAgg], "key, k", 2) { c =>
      val k = SqlFunction.foldableInt(c(1), "graft_bk_agg k")
      require(k >= 2, s"graft_bk_agg k must be >= 2: $k")
      BkAgg(c(0), k).toAggregateExpression()
    },
    SketchMergeAgg.function(Codec),
    SqlFunction("graft_bk_distinct", classOf[BkDistinct], "state", 1) {
      c => BkDistinct(c(0))
    },
    SqlFunction("graft_bk_sample", classOf[BkSample], "state, m", 2) {
      c => BkSample(c(0), c(1))
    },
    SqlFunction("graft_bk_overlap", classOf[BkOverlap], "stateA, stateB", 2) {
      c => BkOverlap(c(0), c(1))
    })

  import org.apache.spark.sql.functions.{call_function, lit}

  /** Aggregate a string key column into one bottom-k state. Mergeable:
    * the shuffle carries ≤ k (hash, key) pairs per group whatever the
    * key cardinality.
    */
  def bkAgg(spark: SparkSession, key: Column, k: Int): Column = {
    require(k >= 2, s"k must be >= 2: $k")
    register(spark)
    call_function("graft_bk_agg", key, lit(k))
  }

  /** Merge serialized bottom-k states (compaction / rollup aggregate). */
  def bkMerge(spark: SparkSession, state: Column): Column = {
    register(spark)
    call_function("graft_bk_merge", state)
  }

  /** Serve the distinct-count estimate from a state column. */
  def bkDistinct(spark: SparkSession, state: Column): Column = {
    register(spark)
    call_function("graft_bk_distinct", state)
  }

  /** Serve the m hash-smallest distinct keys from a state column. */
  def bkSample(spark: SparkSession, state: Column, m: Int): Column = {
    require(m >= 1, s"m must be >= 1: $m")
    register(spark)
    call_function("graft_bk_sample", state, lit(m))
  }

  /** Estimate the Jaccard overlap + containment of two distinct domains
    * from their states alone — struct<k_used, overlap, jaccard_est,
    * distinct_a, distinct_b, union_est, containment_a_in_b,
    * containment_b_in_a>.
    */
  def bkOverlap(spark: SparkSession, stateA: Column, stateB: Column): Column = {
    register(spark)
    call_function("graft_bk_overlap", stateA, stateB)
  }
}
