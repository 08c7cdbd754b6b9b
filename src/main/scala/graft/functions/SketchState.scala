package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{BinaryType, DataType}

/** The persisted-state side of one mergeable sketch family (GK
  * quantiles, Misra–Gries, bottom-k, weighted reservoir): the empty
  * state a merge starts from, the merge rule (with the empty state as
  * its identity) and the family's versioned byte format. `family`
  * names the merge aggregate, `graft_<family>_merge`.
  */
trait SketchCodec[S] extends Serializable {
  def family: String
  def empty: S
  def merge(a: S, b: S): S
  def serialize(s: S): Array[Byte]
  def deserialize(bytes: Array[Byte]): S
}

/** A sketch-state aggregate: BINARY out, never null, buffers merged,
  * evaluated and shipped through the family's codec. Build aggregates
  * add their inputs, buffer creation and `update`.
  */
abstract class SketchAgg[S] extends TypedImperativeAggregate[S] with ImplicitCastInputTypes {
  protected def codec: SketchCodec[S]

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def merge(buffer: S, input: S): S = codec.merge(buffer, input)
  override def eval(buffer: S): Any = codec.serialize(buffer)
  override def serialize(buffer: S): Array[Byte] = codec.serialize(buffer)
  override def deserialize(bytes: Array[Byte]): S = codec.deserialize(bytes)
}

/** A sketch-state serve expression, `(state BINARY, arg) → value`: it
  * reads the state through the family's codec, checks the argument
  * and hands both to the family's `serve`. The check runs at
  * evaluation, so a literal and a column argument fail the same way;
  * a null state or argument serves null. It runs once per group row
  * after the merge, so the interpreted path costs nothing measurable.
  */
abstract class SketchServe[S] extends BinaryExpression with ImplicitCastInputTypes
    with CodegenFallback {
  protected def codec: SketchCodec[S]
  protected def argType: DataType
  /** Fails loudly on an argument the family cannot serve. */
  protected def check(arg: Any): Unit
  protected def serve(state: S, arg: Any): Any

  override def inputTypes = Seq(BinaryType, argType)
  override def nullable: Boolean = true
  override def nullSafeEval(state: Any, arg: Any): Any = {
    check(arg)
    serve(codec.deserialize(state.asInstanceOf[Array[Byte]]), arg)
  }
}

object SketchServe {
  /** The check of a serve size `m`: `<function> <name> must be >= 1`. */
  def requireSize(f: SketchServe[_], name: String, m: Any): Unit =
    require(m.asInstanceOf[Int] >= 1, s"${f.prettyName} $name must be >= 1: $m")

  /** Served entries, in serve order, as a SQL array. */
  def array(entries: Iterator[InternalRow]): GenericArrayData =
    new GenericArrayData(entries.toArray[Any])
}

/** `graft_<family>_merge(state binary)` → merged binary state — the
  * compaction aggregate of every sketch family: same-key states from
  * any number of appends re-merge to one state. Null states are
  * skipped; a group of only nulls yields the codec's empty state.
  */
case class SketchMergeAgg[S](
    child: Expression,
    codec: SketchCodec[S],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends SketchAgg[S] with UnaryLike[Expression] {

  override def inputTypes = Seq(BinaryType)
  override def prettyName: String = s"graft_${codec.family}_merge"
  // the codec is fixed by the name; plans print (state, offsets) only
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, mutableAggBufferOffset, inputAggBufferOffset)

  override def createAggregationBuffer(): S = codec.empty

  override def update(buffer: S, input: InternalRow): S = {
    val v = child.eval(input)
    if (v == null) buffer
    else codec.merge(buffer, codec.deserialize(v.asInstanceOf[Array[Byte]]))
  }

  override def withNewMutableAggBufferOffset(n: Int): SketchMergeAgg[S] =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): SketchMergeAgg[S] =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(newChild: Expression): SketchMergeAgg[S] =
    copy(child = newChild)
}

object SketchMergeAgg {
  /** The family's `graft_<family>_merge` table entry. */
  def function[S](codec: SketchCodec[S]): SqlFunction =
    SqlFunction(s"graft_${codec.family}_merge", classOf[SketchMergeAgg[_]], "state", 1) {
      c => SketchMergeAgg(c.head, codec).toAggregateExpression()
    }
}
