package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Driver-held bigram language model for in-row scoring (the fused
  * path of `Text.lmPerplexity`): the bounded unigram/bigram tables as
  * parallel arrays (serialization-friendly), hashed into O(1) lookup
  * maps lazily ONCE per executor after deserialization. Bigram keys
  * are the space-joined shingle strings `word_shingles` emits, so the
  * scoring loop needs no splitting at all for the bigram probe.
  *
  * `score` replicates the broadcast-join formulation's numeric policy
  * EXACTLY — StrictMath-backed log2 (what Spark's codegen'd `Log2`
  * emits), long-to-double promoting divisions in Spark's `Divide`
  * order, each transition's log-probability rounded to DECIMAL scale
  * 12 HALF_UP before an exact BigDecimal sum, one decimal→double cast,
  * then StrictMath-backed pow (what Spark's `POWER` emits) — so the fused and join plans are
  * pinned bit-identical in TextSpec.
  */
final class LmModel(val uniWords: Array[String], val uniCounts: Array[Long],
    val bgKeys: Array[String], val bgCounts: Array[Long], val total: Long)
    extends Serializable {

  require(uniWords.length == uniCounts.length && bgKeys.length == bgCounts.length,
    "LmModel parallel arrays must align")
  require(uniWords.nonEmpty, "LmModel needs a non-empty vocabulary")

  @transient private lazy val uni: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](uniWords.length * 2)
    var i = 0
    while (i < uniWords.length) { m.put(uniWords(i), uniCounts(i)); i += 1 }
    m
  }

  @transient private lazy val bg: java.util.HashMap[String, java.lang.Long] = {
    val m = new java.util.HashMap[String, java.lang.Long](bgKeys.length * 2)
    var i = 0
    while (i < bgKeys.length) { m.put(bgKeys(i), bgCounts(i)); i += 1 }
    m
  }

  private val log2 = StrictMath.log(2.0)

  /** Content key for the FunctionRegistry name: two models hash equal
    * only with identical tables, so a stale registration can never
    * resolve a query built against a different model.
    */
  lazy val contentKey: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def feed(s: String): Unit = { md.update(s.getBytes("UTF-8")); md.update(0.toByte) }
    uniWords.foreach(feed); bgKeys.foreach(feed)
    uniCounts.foreach(c => feed(c.toString)); bgCounts.foreach(c => feed(c.toString))
    feed(total.toString)
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** In-row Stupid-Backoff scoring over a doc's bigram-shingle array:
    * returns (n_transitions, cross_entropy, perplexity) with nulls for
    * transition-free docs.
    */
  def score(bgs: ArrayData): InternalRow = {
    val n = bgs.numElements()
    if (n == 0) return new GenericInternalRow(Array[Any](0L, null, null))
    var sum = JBigDecimal.ZERO
    var i = 0
    while (i < n) {
      val s = bgs.getUTF8String(i).toString
      val bc = bg.get(s)
      val lp =
        if (bc != null) {
          // a stored bigram always has its w1 in vocab (lmTrain prunes
          // bigrams to in-vocab endpoints), so the denominator exists
          val pc = uni.get(s.substring(0, s.indexOf(' ')))
          StrictMath.log(bc.doubleValue() / pc.doubleValue()) / log2
        } else {
          val wc = uni.get(s.substring(s.lastIndexOf(' ') + 1))
          val wn = if (wc == null) 0.5 else wc.doubleValue()
          StrictMath.log(0.4 * wn / total) / log2
        }
      sum = sum.add(JBigDecimal.valueOf(lp).setScale(12, RoundingMode.HALF_UP))
      i += 1
    }
    val ce = -sum.doubleValue() / n
    new GenericInternalRow(Array[Any](n.toLong, ce, StrictMath.pow(2.0, ce)))
  }
}

/** Native in-row LM scoring: `graft_lm_score_<key>(word_shingles(toks, 2))`
  * computes a document's whole Stupid-Backoff profile inside the scan —
  * no transition explode, no model joins, no per-doc aggregation. The
  * model rides the expression as a referenced object (deserialized once
  * per executor, lazy-hashed once), the same shape Spark uses for any
  * non-literal constant in generated code.
  */
case class LmScore(child: Expression, model: LmModel)
    extends UnaryExpression with ExpectsInputTypes with Serializable {

  override def dataType: DataType = StructType(Seq(
    StructField("n_transitions", LongType, nullable = false),
    StructField("cross_entropy", DoubleType, nullable = true),
    StructField("perplexity", DoubleType, nullable = true)))

  override def prettyName: String = "graft_lm_score"

  override def inputTypes = Seq(ArrayType(StringType))

  override protected def nullSafeEval(input: Any): Any =
    model.score(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, bgs => {
      val m = ctx.addReferenceObj("lmModel", model, classOf[LmModel].getName)
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $m.score($bgs);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LmScore {
  import org.apache.spark.sql.{Column, SparkSession}

  /** Column-API entry point. The registry name is CONTENT-KEYED on the
    * model ([[LmModel.contentKey]]): queries built against different
    * models register different names, so lazy analysis can never
    * resolve a query to a model registered after it was built.
    */
  def score(spark: SparkSession, shingles: Column, model: LmModel): Column = {
    val name = s"graft_lm_score_${model.contentKey}"
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[LmScore].getName, name),
      {
        case Seq(c) => LmScore(c, model)
        case other => throw new IllegalArgumentException(
          s"$name takes 1 argument (bigram shingle array), got ${other.size}")
      })
    org.apache.spark.sql.functions.call_function(name, shingles)
  }
}
