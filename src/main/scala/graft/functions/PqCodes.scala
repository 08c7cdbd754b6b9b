package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression,
  UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType}
import org.apache.spark.sql.{Column, SparkSession}

/** Native Catalyst expressions backing product-quantization ANN
  * (operators/ProductQuantization.scala): squared-L2 distance for
  * codebook training, subspace code assignment for corpus encoding, and
  * the asymmetric-distance (ADC) scan for querying. All three follow
  * the [[CosineSimilarity]] pattern — one fused loop per row with
  * `doGenCode`, so the encode and ADC passes stay inside whole-stage
  * codegen at any scale (SURVEY.md §4).
  */

/** `graft_l2sq(a, b)` → squared Euclidean distance between two
  * `Array[Float]` vectors in double precision. Arrays of differing
  * lengths yield NULL — a dimension mismatch must surface as missing,
  * never as a plausible-looking common-prefix distance (the function is
  * public SQL surface via `graft_l2sq`). Internal callers (PQ Lloyd
  * assignment, per-query lookup tables) always compare equal-length
  * fixed-dimension subvectors, so they never see the null path.
  */
case class L2Squared(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with Serializable {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_l2sq"

  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = xs.numElements()
    if (n != ys.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = xs.getFloat(i).toDouble - ys.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $d = (double) $a.getFloat($i) - (double) $b.getFloat($i);
         |    $acc += $d * $d;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object L2Squared extends SqlFunctions {

  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_l2sq", classOf[L2Squared], "vector, vector", 2)(c => L2Squared(c(0), c(1))))

  def l2sq(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_l2sq", a, b)
  }
}

/** `graft_unit(vec)` → the unit-length (L2-normalized) copy of an
  * `Array[Float]` vector; zero vectors pass through unchanged rather
  * than dividing by zero. One fused loop (norm + scale) per row in
  * double precision, cast back to float per element — replaces a
  * higher-order `transform` formulation whose lambda re-evaluated the
  * norm subtree per ELEMENT (O(dim^2) per row, interpreted) on the
  * index-build paths.
  */
case class UnitVector(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with ExpectsInputTypes
    with Serializable {

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def prettyName: String = "graft_unit"

  override def inputTypes = Seq(ArrayType(FloatType))

  /** Normalize one vector (codegen calls this). */
  def computeRow(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    var n2 = 0.0
    var i = 0
    while (i < n) {
      val x = arr.getFloat(i).toDouble
      n2 += x * x
      i += 1
    }
    val out = new Array[Float](n)
    if (n2 == 0.0) {
      i = 0
      while (i < n) { out(i) = arr.getFloat(i); i += 1 }
    } else {
      val norm = math.sqrt(n2)
      i = 0
      while (i < n) { out(i) = (arr.getFloat(i).toDouble / norm).toFloat; i += 1 }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    computeRow(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("unitVec", this, classOf[UnitVector].getName)
    defineCodeGen(ctx, ev, s => s"$ref.computeRow($s)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object UnitVector extends SqlFunctions {

  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_unit", classOf[UnitVector], "vector", 1)(c => UnitVector(c(0))))

  def unit(spark: SparkSession, vec: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_unit", vec)
  }
}

/** `graft_pq_encode(emb, codebook, m)` → `Array[Int]` of `m` subspace
  * codes for an `Array[Float]` embedding: the vector is split into `m`
  * contiguous subvectors and each is assigned its nearest (squared-L2,
  * ties to the lowest cell id) centroid from the flattened codebook.
  *
  * `codebook` is the training output flattened in (sub, cell)-major
  * order — `kCodes` centroids per subspace, so entry `(s, c)` occupies
  * `codebook[(s*kCodes + c)*subDim ..< +subDim]`. `kCodes` is derived
  * per row as `codebook.length / emb.length`, so one expression serves
  * any codebook size. The codebook arrives as a one-row broadcast
  * column (never a driver-collected literal), and the whole encode is
  * map-only inside the scan. Null if the geometry is inconsistent
  * (embedding not divisible into `m` subvectors, codebook not a whole
  * number of centroid blocks).
  */
case class PqEncode(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with org.apache.spark.sql.catalyst.expressions.ImplicitCastInputTypes
    with Serializable {

  // the analyzer coerces a BIGINT-literal m (or double arrays) here
  // instead of leaving the call opaquely unresolved (return type
  // inferred: AbstractDataType itself is private[sql] in Spark 4)
  override def inputTypes =
    Seq(ArrayType(FloatType), ArrayType(FloatType), IntegerType)

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "graft_pq_encode"

  /** Codes for one embedding (codegen calls this). */
  def computeRow(emb: ArrayData, cb: ArrayData, m: Int): ArrayData = {
    val dim = emb.numElements()
    if (m < 1 || dim == 0 || dim % m != 0) return null
    val subDim = dim / m
    val cbLen = cb.numElements()
    if (cbLen == 0 || cbLen % dim != 0) return null
    val kCodes = cbLen / dim
    val codes = new Array[Int](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < kCodes) {
        val off = (s * kCodes + c) * subDim
        var d = 0.0
        var j = 0
        while (j < subDim) {
          val diff = emb.getFloat(s * subDim + j).toDouble - cb.getFloat(off + j).toDouble
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(s) = best
      s += 1
    }
    UnsafeArrayData.fromPrimitiveArray(codes)
  }

  override protected def nullSafeEval(a: Any, b: Any, c: Any): Any =
    computeRow(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      c.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncode", this, classOf[PqEncode].getName)
    nullSafeCodeGen(ctx, ev, (a, b, c) => {
      s"""
         |${ev.value} = $ref.computeRow($a, $b, $c);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object PqEncode extends SqlFunctions {

  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_pq_encode", classOf[PqEncode], "embedding, codebook, m", 3) {
      c => PqEncode(c(0), c(1), c(2))
    })

  /** `m` is a COLUMN so callers can derive it from the codebook row
    * itself (operators/ProductQuantization.flatCodebook does) — the
    * encode geometry then cannot desynchronize from the codebook it
    * scans against.
    */
  def encode(spark: SparkSession, emb: Column, codebook: Column, m: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_pq_encode", emb, codebook, m)
  }
}

/** `graft_pq_adc(codes, lut)` → asymmetric-distance score: with
  * `codes` an `Array[Int]` of `m` subspace codes and `lut` an
  * `Array[Float]` of per-(sub, cell) partial distances in (sub,
  * cell)-major order, returns `sum_s lut[s*kCodes + codes[s]]` —
  * the exact squared L2 distance between the query and the row's
  * RECONSTRUCTION, in `m` array lookups instead of `dim` multiplies
  * over data 32x smaller than the float vectors. `kCodes` is derived
  * as `lut.length / codes.length`. Null on inconsistent geometry, an
  * out-of-range code, or a null LUT slot (a mis-dimensioned query's
  * `graft_l2sq` NULLs propagate here instead of reading as 0).
  */
case class PqAdc(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with Serializable {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def prettyName: String = "graft_pq_adc"

  override def inputTypes = Seq(ArrayType(IntegerType), ArrayType(FloatType))

  /** ADC sum for one row (codegen calls this; boxed Double for null). */
  def computeRow(codes: ArrayData, lut: ArrayData): java.lang.Double = {
    val m = codes.numElements()
    val lutLen = lut.numElements()
    if (m == 0 || lutLen == 0 || lutLen % m != 0) return null
    val kCodes = lutLen / m
    var acc = 0.0
    var s = 0
    while (s < m) {
      val c = codes.getInt(s)
      if (c < 0 || c >= kCodes) return null
      // a null LUT slot (e.g. graft_l2sq's NULL on a query whose
      // dimension disagrees with the codebook geometry) must poison the
      // distance, not read as 0.0f — mirroring the out-of-range-code
      // handling, so a mis-dimensioned query yields no distances instead
      // of plausible-looking ones
      if (lut.isNullAt(s * kCodes + c)) return null
      acc += lut.getFloat(s * kCodes + c).toDouble
      s += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    computeRow(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAdc", this, classOf[PqAdc].getName)
    val boxed = ctx.freshName("boxed")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |java.lang.Double $boxed = $ref.computeRow($a, $b);
         |if ($boxed == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $boxed.doubleValue();
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object PqAdc extends SqlFunctions {

  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_pq_adc", classOf[PqAdc], "codes, lut", 2)(c => PqAdc(c(0), c(1))))

  def adc(spark: SparkSession, codes: Column, lut: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_pq_adc", codes, lut)
  }
}
