package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native rolling document fingerprint over a whitespace-tokenized text
  * column: `graft_fingerprint(text)`.
  *
  * Semantics are exactly t04's portable formulation — tokenize like
  * `split(text, ' ')`, hash each token to its first 8 md5 hex digits as
  * an integer, fold `acc = (acc * 31 + h) mod 2^56` — but computed per
  * ROW in one static call. The composed
  * `aggregate(transform(split(...), md5/conv...), ...)` version is a
  * higher-order function, which Catalyst cannot codegen: the whole
  * stage drops to interpreted mode and each token pays a lambda frame
  * plus hex-string round-trips (md5 bytes -> hex string -> conv ->
  * decimal string -> long). Here the md5 bytes feed the fold directly
  * and the scan stays inside whole-stage codegen.
  *
  * Tokenization matches `split(text, ' ')` (every 0x20 byte separates;
  * empty tokens included; a space byte cannot occur inside a multi-byte
  * UTF-8 sequence, so byte scanning is exact). The DuckDB oracle twin
  * (SparkEntry) computes the identical fold via list_reduce.
  */
case class Fingerprint(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with Serializable {

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_fingerprint"

  override def inputTypes = Seq(StringType)

  override protected def nullSafeEval(input: Any): Any =
    Fingerprint.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.Fingerprint.compute($s)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Fingerprint extends SqlFunctions {

  private val Mod = 72057594037927936L // 2^56

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** One-pass fingerprint of a UTF8String (static: codegen calls this).
    * h(token) = first 4 md5 bytes big-endian unsigned ==
    * conv(substring(md5_hex, 1, 8), 16, 10); every intermediate stays
    * < 2^62, so the long arithmetic cannot overflow.
    */
  def compute(text: UTF8String): Long = {
    val bytes = text.getBytes
    val md = digest.get()
    val n = bytes.length
    var acc = 0L
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || bytes(i) == 0x20) {
        md.reset()
        md.update(bytes, start, i - start)
        val d = md.digest()
        val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        acc = (acc * 31L + h) % Mod
        start = i + 1
      }
      i += 1
    }
    acc
  }

  import org.apache.spark.sql.{Column, SparkSession}

  /** Column-API entry point through the FunctionRegistry. */
  def fingerprint(spark: SparkSession, text: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_fingerprint", text)
  }

  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_fingerprint", classOf[Fingerprint], "text", 1)(c => Fingerprint(c(0))))
}
