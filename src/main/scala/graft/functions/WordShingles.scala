package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word-k-gram shingle expression: `word_shingles(tokens, k)`
  * returns the array of space-joined k-grams of a token array.
  *
  * The composed formulation —
  * `transform(sequence(1, n-2), i -> concat_ws(' ', element_at(...)x3))`
  * — is a higher-order function, which Catalyst cannot codegen: the
  * whole stage drops to interpreted mode and the per-element lambda
  * frames dominate the dedup pipeline's scan (measured 5.1s of d02's
  * 8.4s at sf0.1). This expression is one generated loop over the
  * backing UTF8String array, keeping the stage inside whole-stage
  * codegen.
  *
  * Skips any k-window containing a null token (split() never produces
  * nulls; defensive for other callers). k is a construction-time
  * parameter — the shingle width is schema, not data.
  */
case class WordShingles(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes with Serializable {

  require(k >= 1, s"shingle width must be positive, got $k")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "word_shingles"

  override def inputTypes = Seq(ArrayType(StringType))

  override protected def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements() - (k - 1)
    if (n <= 0) new GenericArrayData(Array.empty[Any])
    else {
      val sep = UTF8String.fromString(" ")
      val out = new Array[Any](n)
      var i = 0
      while (i < n) {
        val parts = new Array[UTF8String](k)
        var j = 0
        var ok = true
        while (j < k) {
          val t = if (toks.isNullAt(i + j)) null else toks.getUTF8String(i + j)
          if (t == null) ok = false
          parts(j) = t
          j += 1
        }
        out(i) = if (ok) UTF8String.concatWs(sep, parts: _*) else UTF8String.EMPTY_UTF8
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, toks => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val ok = ctx.freshName("ok")
      val parts = ctx.freshName("parts")
      val out = ctx.freshName("out")
      val sep = ctx.addReferenceObj("sep", UTF8String.fromString(" "), "UTF8String")
      s"""
         |int $n = $toks.numElements() - ${k - 1};
         |if ($n <= 0) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new Object[0]);
         |} else {
         |  Object[] $out = new Object[$n];
         |  for (int $i = 0; $i < $n; $i++) {
         |    UTF8String[] $parts = new UTF8String[$k];
         |    boolean $ok = true;
         |    for (int $j = 0; $j < $k; $j++) {
         |      UTF8String t = $toks.isNullAt($i + $j) ? null : $toks.getUTF8String($i + $j);
         |      if (t == null) $ok = false;
         |      $parts[$j] = t;
         |    }
         |    $out[$i] = $ok ? UTF8String.concatWs($sep, $parts) : UTF8String.EMPTY_UTF8;
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShingles {
  import org.apache.spark.sql.{Column, SparkSession}

  /** Column-API entry point through the FunctionRegistry (registers
    * the requested width, whatever it is — the Seq(2,3,4) default on
    * [[register]] only covers the SQL-facing standard trio).
    */
  def shingles(spark: SparkSession, tokens: Column, k: Int): Column = {
    register(spark, Seq(k))
    org.apache.spark.sql.functions.call_function(s"graft_shingles_$k", tokens)
  }

  /** The width-specific name `graft_shingles_<k>`; the width is part
    * of the operator's schema, not a data-dependent argument.
    */
  def function(k: Int): SqlFunction =
    SqlFunction(s"graft_shingles_$k", classOf[WordShingles], "tokens", 1)(c => WordShingles(c(0), k))

  private val DefaultWidths = Seq(2, 3, 4)

  /** The widths every session gets; [[shingles]] registers any other
    * width on demand.
    */
  val functions: Seq[SqlFunction] = DefaultWidths.map(function)

  def register(spark: SparkSession, widths: Seq[Int] = DefaultWidths): Unit =
    SqlFunction.register(spark, widths.map(function))
}
