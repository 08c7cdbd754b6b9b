package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.{Column, SparkSession}

/** Native Catalyst expression for cosine similarity over two
  * `Array[Float]` embedding columns (SURVEY.md §4: hot vector ops as
  * codegen'd expressions, not lambdas or UDFs).
  *
  * Computes dot, |a|^2, |b|^2 in ONE fused loop and returns
  * dot / (sqrt(na) * sqrt(nb)) in double precision — the same IEEE
  * operation order as the composed `aggregate(zip_with(...))` /
  * DuckDB `list_reduce` formulation, so oracle results are
  * bit-identical. Three interpreted higher-order-function evaluations
  * (each allocating a lambda frame per element) collapse into a tight
  * codegen'd loop over the packed float arrays; whole-stage codegen
  * keeps the surrounding filter/project in the same generated function.
  *
  * Null semantics: null if either input is null (BinaryExpression
  * default) or if either vector has zero norm (0/0 would be NaN, and
  * NaN sorts ABOVE 1.0 in `ORDER BY cosine DESC`, so a degenerate
  * embedding would top every ranking; DuckDB's 0/0 is NULL, so null
  * also keeps the oracle comparison aligned). Arrays of differing
  * lengths score only the common prefix (callers pass fixed-dimension
  * embeddings).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with Serializable {

  override def dataType: DataType = DoubleType

  // nullable even over non-null inputs: zero-norm vectors yield null
  override def nullable: Boolean = true

  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def prettyName: String = "graft_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), ys.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = xs.getFloat(i).toDouble
      val y = ys.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = (double) $a.getFloat($i);
         |  double $y = (double) $b.getFloat($i);
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |if ($na == 0.0 || $nb == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity extends SqlFunctions {

  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_cosine", classOf[CosineSimilarity], "vector, vector", 2) {
      c => CosineSimilarity(c(0), c(1))
    })

  /** Column-API entry point (resolves through the FunctionRegistry). */
  def cosine(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_cosine", a, b)
  }
}
