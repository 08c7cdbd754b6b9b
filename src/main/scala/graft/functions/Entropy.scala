package graft.functions

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_entropy(symbols)` → DOUBLE: Shannon entropy (bits) of the
  * multiset in an `Array[String]` — the repetitiveness signal behind
  * Gopher-style quality filtering (low char entropy = keyboard mash or
  * repeated runs; low token entropy = boilerplate/template text). One
  * in-row pass: frequencies in a hash map, then
  * `-Σ p log2(p)` over the distinct symbols.
  *
  * Determinism policy (the [[LmModel.score]] discipline): hash-map
  * iteration order is arbitrary, and a double sum is order-dependent —
  * so each term `p * log2(p)` (StrictMath-backed log, what Spark's
  * codegen'd `Log2` emits) is rounded to DECIMAL scale 12 HALF_UP and
  * summed EXACTLY in BigDecimal, making the result independent of
  * iteration order, partitioning, and platform. Empty arrays yield
  * NULL (no distribution), single-symbol arrays exactly 0.0.
  */
case class ShannonEntropy(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with Serializable {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_entropy"

  override def inputTypes = Seq(ArrayType(StringType))

  /** Null symbols are skipped (split() never produces them; defensive
    * for other callers). Returns null (no entropy) when nothing counts.
    */
  def compute(syms: ArrayData): java.lang.Double = {
    import ShannonEntropy.log2
    val n = syms.numElements()
    val counts = new java.util.HashMap[UTF8String, Array[Long]]()
    var total = 0L
    var i = 0
    while (i < n) {
      if (!syms.isNullAt(i)) {
        val s = syms.getUTF8String(i)
        val slot = counts.get(s)
        if (slot == null) counts.put(s.clone(), Array(1L)) else slot(0) += 1L
        total += 1L
      }
      i += 1
    }
    if (total == 0L) return null
    var sum = JBigDecimal.ZERO
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()(0)
      val p = c.toDouble / total
      val term = p * (StrictMath.log(p) / log2)
      sum = sum.add(JBigDecimal.valueOf(term).setScale(12, RoundingMode.HALF_UP))
    }
    java.lang.Double.valueOf(-sum.doubleValue())
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, syms => {
      val ref = ctx.addReferenceObj("entropyExpr", this, classOf[ShannonEntropy].getName)
      val v = ctx.freshName("res")
      s"""
         |Object $v = $ref.compute($syms);
         |if ($v == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((Double) $v).doubleValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShannonEntropy extends SqlFunctions {

  private[functions] val log2 = StrictMath.log(2.0)

  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_entropy", classOf[ShannonEntropy], "symbol array", 1) {
      c => ShannonEntropy(c(0))
    })

  def entropy(spark: SparkSession, syms: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_entropy", syms)
  }
}
