package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, FloatType}
import org.apache.spark.sql.{Column, SparkSession}

/** Native Catalyst expressions backing scalar-quantized (int8) ANN
  * (`Similarity.annSq8` / the s10 gate): symmetric SQ8 over
  * UNIT-NORMALIZED vectors, so every component already lives in
  * [-1, 1] and the scale is the FIXED constant 127 — no per-dimension
  * min/max training pass, no quantile clipping, nothing to drift
  * between index build and query time. One byte per dimension: a 4x
  * smaller corpus scan than float32 (the whole point at 100 TB — the
  * hot ANN pass becomes memory-bandwidth-bound on codes), with the
  * asymmetric trick keeping the QUERY side in full float precision.
  * Both expressions follow the [[CosineSimilarity]] / [[PqCodes]]
  * shape: one fused loop per row with `doGenCode`, inside whole-stage
  * codegen.
  */

/** `graft_sq8_encode(unit_vec)` → BINARY: byte i = round(v_i * 127)
  * clamped to [-127, 127]. Input must be unit-normalized (the
  * operator guarantees it); out-of-range components saturate rather
  * than wrap, so a caller mistake degrades, never corrupts.
  */
case class Sq8Encode(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with Serializable {

  override def dataType: DataType = BinaryType

  override def prettyName: String = "graft_sq8_encode"

  override def inputTypes = Seq(ArrayType(FloatType))

  override protected def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val q = Math.round(xs.getFloat(i) * 127.0f)
      out(i) = Math.max(-127, Math.min(127, q)).toByte
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, vec => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val q = ctx.freshName("q")
      val out = ctx.freshName("out")
      s"""
         |int $n = $vec.numElements();
         |byte[] $out = new byte[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  int $q = Math.round($vec.getFloat($i) * 127.0f);
         |  $out[$i] = (byte) Math.max(-127, Math.min(127, $q));
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Sq8Encode extends SqlFunctions {

  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_sq8_encode", classOf[Sq8Encode], "unit float vector", 1) {
      c => Sq8Encode(c(0))
    })

  def encode(spark: SparkSession, vec: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_sq8_encode", vec)
  }
}

/** `graft_sq8_dot(codes, unit_query)` → DOUBLE: the asymmetric
  * approximate cosine `Σ (code_i / 127) * q_i` — codes stay int8, the
  * query stays float (half the quantization error of symmetric
  * code-code scoring for free). The integer accumulation runs as
  * `Σ code_i * q_i` with ONE division by 127 at the end — fewer float
  * ops in the hot loop and bit-identical across partitionings (the
  * loop order is the array order, fixed per row). Mismatched lengths
  * yield NULL (the [[L2Squared]] dimension-mismatch discipline).
  */
case class Sq8Dot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with Serializable {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_sq8_dot"

  override def inputTypes = Seq(BinaryType, ArrayType(FloatType))

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[Array[Byte]]
    val q = b.asInstanceOf[ArrayData]
    if (codes.length != q.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < codes.length) {
      acc += codes(i).toDouble * q.getFloat(i)
      i += 1
    }
    acc / 127.0
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (codes, q) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $codes.length;
         |if ($n != $q.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += (double) $codes[$i] * (double) $q.getFloat($i);
         |  }
         |  ${ev.value} = $acc / 127.0;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object Sq8Dot extends SqlFunctions {

  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_sq8_dot", classOf[Sq8Dot], "codes, unit float vector", 2) {
      c => Sq8Dot(c(0), c(1))
    })

  def dot(spark: SparkSession, codes: Column, query: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_sq8_dot", codes, query)
  }
}
