package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native winnowing fingerprint selection for d09:
  * `graft_winnow(text, w, window)` → the DISTINCT selected fingerprints
  * of a document in one fused pass — tokenize on single spaces (empty
  * tokens skipped, matching `filter(split(text, ' '), x -> x != '')`),
  * hash every `w`-token gram to its first 8 md5 hex digits as an
  * integer (the q19/t04 house hash, identical to
  * `conv(substr(md5(gram), 1, 8), 16, 10)` — see [[Fingerprint]]), and
  * keep each `window`-run's minimum. Documents with fewer than
  * `w + window - 1` usable tokens return an EMPTY array (explode drops
  * them — no separate length filter needed).
  *
  * Replaces three higher-order lambdas (token filter, md5-gram
  * transform, window-min transform) that dropped the d09 scan to
  * interpreted mode — the same trap [[WordShingles]] documents for d02.
  * Gram bytes feed the digest directly (token slices + a 0x20 joiner),
  * no gram strings or hex round-trips are materialized.
  */
case class WinnowPrints(child: Expression, w: Int, window: Int)
    extends UnaryExpression with ExpectsInputTypes with Serializable {

  require(w >= 1 && window >= 1, s"unsupported winnow config w=$w window=$window")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_winnow"

  override def inputTypes = Seq(StringType)

  /** Selected distinct fingerprints for one document (codegen calls
    * this).
    */
  def computeRow(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val n = bytes.length
    // non-empty token slices (a 0x20 byte cannot occur inside a
    // multi-byte UTF-8 sequence, so byte scanning is exact)
    val starts = new java.util.ArrayList[Int]()
    val lens = new java.util.ArrayList[Int]()
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == 0x20) {
        if (i > start) { starts.add(start); lens.add(i - start) }
        start = i + 1
      }
      i += 1
    }
    val nTok = starts.size()
    val nGrams = nTok - w + 1
    if (nGrams < window) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val md = WinnowPrints.digest.get()
    val gh = new Array[Long](nGrams)
    var g = 0
    while (g < nGrams) {
      md.reset()
      var k = 0
      while (k < w) {
        if (k > 0) md.update(0x20.toByte)
        md.update(bytes, starts.get(g + k), lens.get(g + k))
        k += 1
      }
      val d = md.digest()
      gh(g) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      g += 1
    }
    // window-min selection, then sort + dedup (consumers explode the
    // set; element order is irrelevant, distinctness is the contract)
    val nSel = nGrams - window + 1
    val sel = new Array[Long](nSel)
    var j = 0
    while (j < nSel) {
      var m = gh(j)
      var p = 1
      while (p < window) {
        if (gh(j + p) < m) m = gh(j + p)
        p += 1
      }
      sel(j) = m
      j += 1
    }
    java.util.Arrays.sort(sel)
    var uniq = 0
    var q = 0
    while (q < nSel) {
      if (q == 0 || sel(q) != sel(q - 1)) { sel(uniq) = sel(q); uniq += 1 }
      q += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(sel, uniq))
  }

  override protected def nullSafeEval(input: Any): Any =
    computeRow(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("winnow", this, classOf[WinnowPrints].getName)
    defineCodeGen(ctx, ev, s => s"$ref.computeRow($s)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowPrints extends SqlFunctions {

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_winnow", classOf[WinnowPrints], "text, w, window", 3) {
      c => WinnowPrints(c(0), SqlFunction.foldableInt(c(1), "graft_winnow w"),
        SqlFunction.foldableInt(c(2), "graft_winnow window"))
    })

  def winnow(spark: org.apache.spark.sql.SparkSession,
      text: org.apache.spark.sql.Column, w: Int, window: Int): org.apache.spark.sql.Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_winnow", text,
      org.apache.spark.sql.functions.lit(w), org.apache.spark.sql.functions.lit(window))
  }
}
