package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native 64-component MinHash signature over a shingle array:
  * `graft_minhash64(shingles)` → `array<bigint>` of length 64.
  *
  * Semantics match the SQL formulation the dedup family uses —
  * `x = pmod(xxhash64(shingle), 2^31-1)` per shingle, then 64
  * `min(pmod(a_j * x + b_j, 2^31-1))` aggregate columns — but computed
  * per ROW in one pass over the array. Duplicate shingles are harmless
  * (min is idempotent), so callers need no `array_distinct`.
  *
  * Why an expression and not the agg pipeline: the signature is a
  * scalar function of one document's shingle set, yet the agg
  * formulation EXPLODES the shingle store (|corpus| x shingles-per-doc
  * rows) and SHUFFLES it to regroup by doc. With the signature computed
  * inside the scan (whole-stage codegen, one static call), the index
  * build of the incremental-dedup family ([[graft.operators.Dedup
  * .minhashIndex]]) and every per-batch probe become map-only — at
  * 100 TB the removed exchange is most of each ingest batch's cost.
  *
  * Returns null for a null or empty array and ignores null elements
  * (an all-null array is also null): no shingles means no signature,
  * matching the groupBy formulation where such a doc has no rows.
  *
  * The (a_j, b_j) coefficients live here as the single source of truth;
  * `Dedup.minhashCoeffs` references them, so the SQL-composed paths
  * (d03's bucket-store build) stay bit-identical to this expression —
  * DedupSpec pins that equality on the real corpus.
  */
case class MinHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with Serializable {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def prettyName: String = "graft_minhash64"

  override def inputTypes = Seq(ArrayType(StringType))

  override protected def nullSafeEval(input: Any): Any =
    MinHash64.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.MinHash64.compute($c);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHash64 extends SqlFunctions {

  private val Seed = 42L // Spark's xxhash64 default seed
  val P31 = 2147483647L // 2^31 - 1: a*x+b stays well inside a long

  /** 64 (a, b) pairs from a splitmix64 stream — the one coefficient
    * source every MinHash path in the engine shares.
    */
  val coeffs: IndexedSeq[(Long, Long)] = {
    var z = 0x9E3779B97F4A7C15L
    def next(): Long = {
      z += 0x9E3779B97F4A7C15L
      var x = z
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x = x ^ (x >>> 31)
      x
    }
    IndexedSeq.fill(64)((Math.floorMod(next(), P31 - 1) + 1, Math.floorMod(next(), P31)))
  }

  private val coeffA: Array[Long] = coeffs.map(_._1).toArray
  private val coeffB: Array[Long] = coeffs.map(_._2).toArray

  /** One-pass signature of a shingle array (static: codegen calls
    * this). Null on empty/all-null input.
    */
  def compute(shingles: ArrayData): ArrayData = {
    val n = shingles.numElements()
    val mins = new Array[Long](64)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        any = true
        val s = shingles.getUTF8String(i)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, Seed)
        val x = Math.floorMod(h, P31)
        var j = 0
        while (j < 64) {
          val v = (coeffA(j) * x + coeffB(j)) % P31 // operands >= 0: % == pmod
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (any) new GenericArrayData(mins) else null
  }

  import org.apache.spark.sql.{Column, SparkSession}

  /** Column-API entry point through the FunctionRegistry. */
  def sig(spark: SparkSession, shingles: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_minhash64", shingles)
  }

  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_minhash64", classOf[MinHash64], "shingles", 1)(c => MinHash64(c(0))))
}
