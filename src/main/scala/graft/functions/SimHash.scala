package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 64-bit SimHash over a whitespace-tokenized text column:
  * `graft_simhash(text)`.
  *
  * Semantics match the composed formulation d04 originally used —
  * `explode(split(text, ' '))` + `xxhash64(token)` + 64 conditional-sum
  * aggregate columns + sign assembly — but computed per ROW in one pass:
  * bit j of the result is set iff
  * `sum over token instances of (bit j of xxhash64(token) ? +1 : -1) > 0`.
  *
  * Why an expression and not the agg pipeline: SimHash is a scalar
  * function of one document, yet the agg formulation EXPLODES the token
  * store (|corpus| x tokens-per-doc rows) and SHUFFLES it to regroup by
  * doc — at 100 TB that shuffle is the whole job. Here the signature is
  * computed inside the scan (whole-stage codegen, one static call), so
  * the only shuffle left in d04 is the candidate self-join on 16-bit
  * chunk keys.
  *
  * Tokenization matches `split(text, ' ')` (Java split with -1 limit):
  * every 0x20 byte is a separator, empty tokens included. A space byte
  * cannot occur inside a multi-byte UTF-8 sequence, so byte scanning is
  * exact. Token hashes are Spark's `xxhash64` (XXH64, seed 42) over the
  * token's UTF-8 bytes — zero-copy slices of the input string.
  */
case class SimHash(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with Serializable {

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_simhash"

  override def inputTypes = Seq(StringType)

  override protected def nullSafeEval(input: Any): Any =
    SimHash.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.SimHash.compute($s)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash extends SqlFunctions {

  private val Seed = 42L // Spark's xxhash64 default seed

  /** One-pass SimHash of a UTF8String (static: codegen calls this). */
  def compute(text: UTF8String): Long = {
    val base = text.getBaseObject
    val offset = text.getBaseOffset
    val n = text.numBytes()
    val counts = new Array[Int](64)
    var start = 0
    var i = 0
    while (i <= n) {
      // token boundary at each space byte and at end-of-string; this
      // yields the same token list as String.split(" ", -1)
      if (i == n || org.apache.spark.unsafe.Platform.getByte(base, offset + i) == 0x20) {
        val h = XXH64.hashUnsafeBytes(base, offset + start, i - start, Seed)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
        start = i + 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  import org.apache.spark.sql.{Column, SparkSession}

  /** Column-API entry point through the FunctionRegistry. */
  def simhash(spark: SparkSession, text: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_simhash", text)
  }

  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_simhash", classOf[SimHash], "text", 1)(c => SimHash(c(0))))
}
