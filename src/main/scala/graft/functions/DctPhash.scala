package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** Native 64-bit perceptual hash (pHash) of a raster payload:
  * `graft_dct_phash(payload)`.
  *
  * The classic DCT perceptual hash (public-knowledge algorithm — the
  * pHash.org / imagehash formulation): grayscale the image, box-resample
  * to 32x32, take the 2-D type-II DCT, keep the top-left 8x8
  * low-frequency block, and set bit (u*8+v) iff coefficient (u,v)
  * exceeds the median of the 64 kept coefficients. Low frequencies
  * survive re-encoding, mild noise, and small local edits, so
  * NEAR-IDENTICAL CONTENT lands at small Hamming distance while
  * distinct content lands near 32 bits apart — the locality property
  * the m05 near-dup machinery banding is built for.
  *
  * The decode step is the container's stub stand-in, embedded here as
  * an IDENTITY RASTER CODEC: the payload bytes ARE the grayscale
  * pixels, row-major in a ceil(sqrt(n))-sided square (what decoding an
  * uncompressed PGM/BMP body does; no media libs exist in this
  * container). Everything downstream of the raster — resample, DCT,
  * median split — is the real algorithm, so a few-BYTE payload delta
  * is a few-PIXEL delta and genuinely lands within a few bits: the
  * locality is measured, not asserted. A real deployment swaps only
  * the bytes→pixels step for a JPEG/PNG decode.
  *
  * Why an expression and not a decode stage: the hash computes INSIDE
  * the scan (whole-stage codegen, one static call), so the payload —
  * the overwhelming mass of a media table — never leaves the scan; only
  * the 8-byte code travels to the banding join. Deterministic across
  * partitionings, reruns, and platforms: the cosine table uses
  * StrictMath, the resample and DCT fold in fixed row-major order, and
  * the median is an exact order statistic of the 64 coefficients.
  */
case class DctPhash(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with Serializable {

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_dct_phash"

  override def inputTypes = Seq(BinaryType)

  override protected def nullSafeEval(input: Any): Any =
    DctPhash.compute(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.DctPhash.compute($s)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DctPhash extends SqlFunctions {

  /** Resample target: the standard 32x32 pHash working raster. */
  private final val N = 32

  /** Low-frequency block kept: top-left 8x8 of the DCT = 64 bits. */
  private final val K = 8

  /** DCT-II basis, StrictMath for cross-platform bit-determinism:
    * Cos(u)(x) = cos(pi * (2x+1) * u / (2N)).
    */
  private val Cos: Array[Array[Double]] =
    Array.tabulate(N, N)((u, x) =>
      StrictMath.cos(StrictMath.PI * (2 * x + 1) * u / (2.0 * N)))

  /** Full pHash of a payload (static: codegen calls this). */
  def compute(payload: Array[Byte]): Long = {
    val n = payload.length
    if (n == 0) return 0L
    // identity raster decode: bytes row-major in a square of this side
    val side = math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)

    // box-resample to N x N: each target cell averages its source box
    // (exact mean in fixed order; covers both up- and down-sampling)
    val px = new Array[Double](N * N)
    var i = 0
    while (i < N) {
      val r0 = i * side / N
      val r1 = math.max(r0 + 1, (i + 1) * side / N)
      var j = 0
      while (j < N) {
        val c0 = j * side / N
        val c1 = math.max(c0 + 1, (j + 1) * side / N)
        var sum = 0.0
        var r = r0
        while (r < r1) {
          val base = r * side
          var c = c0
          while (c < c1) {
            val idx = base + c
            if (idx < n) sum += (payload(idx) & 0xFF).toDouble
            c += 1
          }
          r += 1
        }
        px(i * N + j) = sum / ((r1 - r0).toDouble * (c1 - c0).toDouble)
        j += 1
      }
      i += 1
    }

    // separable 2-D DCT-II, computed only for the K x K block we keep:
    // tmp(u)(y) = sum_x px(x)(y) * Cos(u)(x), then
    // F(u)(v)  = sum_y tmp(u)(y) * Cos(v)(y)
    val coeffs = new Array[Double](K * K)
    val tmp = new Array[Double](N)
    var u = 0
    while (u < K) {
      val cu = Cos(u)
      var y = 0
      while (y < N) {
        var s = 0.0
        var x = 0
        while (x < N) { s += px(x * N + y) * cu(x); x += 1 }
        tmp(y) = s
        y += 1
      }
      var v = 0
      while (v < K) {
        val cv = Cos(v)
        var s = 0.0
        var y2 = 0
        while (y2 < N) { s += tmp(y2) * cv(y2); y2 += 1 }
        coeffs(u * K + v) = s
        v += 1
      }
      u += 1
    }

    // median split: bit k set iff coeff(k) > median of all 64 (DC
    // included, the imagehash convention) -- at most 32 bits set, so
    // codes are balanced and independent content lands near d=32
    val sorted = coeffs.clone()
    java.util.Arrays.sort(sorted)
    val median = (sorted(K * K / 2 - 1) + sorted(K * K / 2)) / 2.0
    var sig = 0L
    var k = 0
    while (k < K * K) {
      if (coeffs(k) > median) sig |= (1L << k)
      k += 1
    }
    sig
  }

  import org.apache.spark.sql.{Column, SparkSession}

  /** Column-API entry point through the FunctionRegistry. */
  def phash(spark: SparkSession, payload: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_dct_phash", payload)
  }

  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_dct_phash", classOf[DctPhash], "payload", 1)(c => DctPhash(c(0))))
}
