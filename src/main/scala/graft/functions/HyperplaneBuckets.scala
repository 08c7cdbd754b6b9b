package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Native Catalyst expression computing ALL random-hyperplane LSH bucket
  * ids for an `Array[Float]` embedding in one pass:
  * `graft_hyperplane_buckets(embedding[, numTables, planesPerTable])` →
  * `Array[Int]` of length `numTables`, element t = the sign-bit bucket
  * of hash table t. The default 8x4 config serves neighbor search (s02:
  * coarse buckets, wide angles still collide); near-dup blocking (d08)
  * runs finer tables (8x8: 256 buckets each) because candidates there
  * sit at tiny angles that survive long plane conjunctions — bucket
  * granularity is the knob that scales blocking to corpus size.
  *
  * Replaces the 32 `aggregate(zip_with(...))` higher-order expressions
  * s02 originally used for the plane dot products. HOF lambdas run
  * interpreted (one lambda frame per element per plane — 32x64 frames
  * per vector) and drop the stage out of whole-stage codegen; this
  * expression is a single call inside the generated code, one fused
  * loop over the 64 floats accumulating all dots. Accumulation order
  * per plane is identical to the `aggregate(zip_with(...))` fold
  * (index 0..dim-1, (double)x * plane(i) summed left to right), so
  * default-config bucket ids are bit-identical to the HOF formulation.
  *
  * The plane constants are deterministic splitmix64 draws (seeded — the
  * same stream every engine/session for a given config; see
  * [[HyperplaneBuckets.planesFor]]), held by the expression object and
  * shipped once per task via the codegen reference array, NOT
  * serialized per row. At 100 TB the bucketing pass is map-only inside
  * the parquet scan.
  */
case class HyperplaneBuckets(child: Expression, numTables: Int, planesPerTable: Int)
    extends UnaryExpression with ExpectsInputTypes with Serializable {

  require(numTables >= 1 && planesPerTable >= 1 && planesPerTable <= 30,
    s"unsupported LSH config ${numTables}x$planesPerTable")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def prettyName: String = "graft_hyperplane_buckets"

  override def inputTypes = Seq(ArrayType(FloatType))

  // regenerated deterministically wherever the expression deserializes
  @transient private lazy val planesFlat: Array[Double] =
    HyperplaneBuckets.planesFlatFor(numTables, planesPerTable)

  /** All-table bucket ids for one embedding (codegen calls this).
    * Vectors shorter than [[HyperplaneBuckets.Dim]] dot only their
    * defined prefix — same as `zip_with` would with a null-padded tail
    * under `acc + null` skipping (callers pass fixed 64-dim embeddings).
    */
  def computeRow(arr: ArrayData): ArrayData = {
    val dim = HyperplaneBuckets.Dim
    val n = math.min(arr.numElements(), dim)
    val out = new Array[Int](numTables)
    val pf = planesFlat
    var t = 0
    while (t < numTables) {
      var bucket = 0
      var p = 0
      while (p < planesPerTable) {
        val off = (t * planesPerTable + p) * dim
        var dot = 0.0
        var i = 0
        while (i < n) {
          dot += arr.getFloat(i).toDouble * pf(off + i)
          i += 1
        }
        if (dot >= 0) bucket |= (1 << p)
        p += 1
      }
      out(t) = bucket
      t += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    computeRow(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hyperplanes", this, classOf[HyperplaneBuckets].getName)
    defineCodeGen(ctx, ev, s => s"$ref.computeRow($s)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneBuckets extends SqlFunctions {

  val Dim = 64
  val NumTables = 8
  val PlanesPerTable = 4

  def apply(child: Expression): HyperplaneBuckets =
    HyperplaneBuckets(child, NumTables, PlanesPerTable)

  /** Deterministic pseudo-random hyperplanes for a config:
    * planesFor(T, P)(t)(p) is a 64-dim array of ±1-ish doubles from a
    * seeded splitmix64 stream, drawn in (table, plane, dim) order — what
    * a seeded RNG would give, but reproducible across engines and
    * sessions, and for the default 8x4 config exactly the stream the
    * pre-parameterized expression used (bit-identity pinned in
    * SimilaritySpec). For the default 8x4 and the ~65-75 degree angles
    * separating top-k neighbors in this embedding space, P(bucket match
    * per table) = (1 - theta/pi)^4 ≈ 0.13-0.16, so 8 tables give
    * ~0.67-0.75 candidate recall.
    */
  def planesFor(numTables: Int, planesPerTable: Int): Array[Array[Array[Double]]] = {
    var z = 0x243F6A8885A308D3L
    def next(): Long = {
      z += 0x9E3779B97F4A7C15L
      var x = z
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }
    Array.fill(numTables, planesPerTable, Dim)(next().toDouble / Long.MaxValue.toDouble)
  }

  private val flatCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()

  private[functions] def planesFlatFor(numTables: Int, planesPerTable: Int): Array[Double] =
    flatCache.computeIfAbsent((numTables, planesPerTable),
      _ => planesFor(numTables, planesPerTable).flatten.flatten)

  /** The default-config planes (kept for the bit-identity specs). */
  val planes: Array[Array[Array[Double]]] = planesFor(NumTables, PlanesPerTable)

  import org.apache.spark.sql.{Column, SparkSession}
  import org.apache.spark.sql.functions.{call_function, lit}

  /** Column-API entry point through the FunctionRegistry (default 8x4). */
  def buckets(spark: SparkSession, embedding: Column): Column = {
    register(spark)
    call_function("graft_hyperplane_buckets", embedding)
  }

  /** Column-API entry point with an explicit (numTables, planesPerTable)
    * LSH config.
    */
  def buckets(spark: SparkSession, embedding: Column,
      numTables: Int, planesPerTable: Int): Column = {
    register(spark)
    call_function("graft_hyperplane_buckets", embedding,
      lit(numTables), lit(planesPerTable))
  }

  /** `graft_hyperplane_buckets(emb)` for the default 8x4 config, or
    * `(emb, numTables, planesPerTable)` with integer-literal config.
    */
  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_hyperplane_buckets", classOf[HyperplaneBuckets],
        "embedding[, numTables, planesPerTable]", 1, 3) {
      case Seq(e) => HyperplaneBuckets(e)
      case Seq(e, t, p) => HyperplaneBuckets(e,
        SqlFunction.foldableInt(t, "graft_hyperplane_buckets numTables"),
        SqlFunction.foldableInt(p, "graft_hyperplane_buckets planesPerTable"))
    })
}
