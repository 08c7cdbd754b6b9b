package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Unicode NFC normalization: `graft_nfc(text)` canonically
  * composes the string (é as one code point, not e + combining acute).
  * Spark has no built-in normalizer, and the step is load-bearing for
  * exact dedup: visually identical documents differing only in
  * composition form hash differently until normalized.
  *
  * A single static call inside whole-stage codegen. The fast path
  * checks `Normalizer.isNormalized` first — real corpora are
  * overwhelmingly already-NFC (all of ASCII is), and the check is a
  * linear scan with no allocation, so the common case costs no copy.
  * Composition tables are the JDK's (Unicode canonical composition —
  * engine-portable for any valid input by the Unicode stability
  * policy).
  */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with Serializable {

  override def dataType: DataType = StringType

  override def prettyName: String = "graft_nfc"

  override def inputTypes = Seq(StringType)

  override protected def nullSafeEval(input: Any): Any =
    NfcNormalize.norm(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.NfcNormalize.norm($s)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NfcNormalize extends SqlFunctions {

  import java.text.Normalizer

  /** NFC-normalize one value (static: codegen calls this). */
  def norm(s: UTF8String): UTF8String = {
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }

  import org.apache.spark.sql.{Column, SparkSession}

  /** Column-API entry point through the FunctionRegistry. */
  def nfc(spark: SparkSession, text: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_nfc", text)
  }

  val functions: Seq[SqlFunction] = Seq(
    SqlFunction("graft_nfc", classOf[NfcNormalize], "text", 1)(c => NfcNormalize(c(0))))
}
