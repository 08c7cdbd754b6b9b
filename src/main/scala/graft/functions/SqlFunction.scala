package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** One graft SQL function, declared once: its name, the class DESCRIBE
  * FUNCTION reports, the argument counts it accepts (with a short
  * description of the arguments for the error text) and its builder.
  * Both registration paths read these entries: `GraftExtensions`
  * injects every entry, and each object's `register(spark)` registers
  * its own.
  *
  * `builder` checks the argument count before it calls `build`, so a
  * wrong-arity call fails with `<name> takes N argument(s) (...), got M`
  * and `build` may take its arguments by position. The entry does not
  * check argument types: each expression declares them once, as the
  * `inputTypes` of Spark's `ExpectsInputTypes` (exact types; Spark
  * gives a bare `NULL` the declared type) or `ImplicitCastInputTypes`
  * (the sketch families, which take a cast), so analysis fails a
  * wrong-typed call with Spark's `DATATYPE_MISMATCH` naming the
  * function. Arguments that `build` reads as foldable literals are
  * checked there.
  */
final class SqlFunction(val name: String, cls: Class[_], val arities: Seq[Int],
    usage: String, build: Seq[Expression] => Expression) {

  def info: ExpressionInfo = new ExpressionInfo(cls.getName, name)

  val builder: Seq[Expression] => Expression = { children =>
    if (!arities.contains(children.size)) throw new IllegalArgumentException(
      s"$name takes ${arities.mkString(" or ")} argument(s) ($usage), got ${children.size}")
    build(children)
  }
}

object SqlFunction {

  def apply(name: String, cls: Class[_], usage: String, arities: Int*)(
      build: Seq[Expression] => Expression): SqlFunction =
    new SqlFunction(name, cls, arities, usage, build)

  def register(spark: SparkSession, fns: Seq[SqlFunction]): Unit =
    fns.foreach(f => spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(f.name), f.info, f.builder))

  /** A foldable integer argument (SQL `INT`/`BIGINT` literal or the
    * Column API's `lit(n)`); `what` names it in the error.
    */
  def foldableInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a foldable integer literal")
    e.eval() match {
      case n @ (_: Int | _: Long | _: Short | _: Byte) => n.asInstanceOf[Number].intValue()
      case other => throw new IllegalArgumentException(
        s"$what must be a foldable integer literal, got $other")
    }
  }

  /** A foldable numeric argument as a double. SQL numeric literals
    * arrive as DECIMAL (0.01 -> Decimal(3,2)), the Column API passes a
    * Double; any numeric type is accepted.
    */
  def foldableDouble(e: Expression, what: String): Double = {
    require(e.foldable, s"$what must be a foldable numeric literal")
    e.eval() match {
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case n: Number => n.doubleValue()
      case other => throw new IllegalArgumentException(
        s"$what must be a foldable numeric literal, got $other")
    }
  }
}

/** An object that declares graft SQL functions: `functions` is its
  * table, and `register` puts every entry of it in a session.
  * Idempotent; the Column-API entry points call it before they resolve
  * a name.
  */
trait SqlFunctions {
  def functions: Seq[SqlFunction]

  def register(spark: SparkSession): Unit = SqlFunction.register(spark, functions)
}
