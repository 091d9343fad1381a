package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType}

/** One mergeable-sketch family as [[SketchAggregate]] drives it: the
  * sketch's algebra plus its portable wire codec.  Implementations are
  * case classes holding only the family's parameters, so two
  * aggregates over the same column and parameters are equal
  * expressions (plan canonicalization, exchange reuse).
  *
  * Values cross this surface in Catalyst's internal form: [[add]]
  * receives the raw value as Catalyst stores it (`UTF8String`,
  * `Double`), [[result]] returns `InternalRow` / `GenericArrayData`. */
abstract class SketchCodec[B] extends Product with Serializable {
  /** Stem of the aggregate's name in plans (`hll` → `hll_sketch`). */
  def name: String
  /** Catalyst type of the raw values [[add]] ingests. */
  def rawType: DataType
  /** Catalyst type of [[result]]. */
  def resultType: DataType
  def zero(): B
  /** Fold one non-null raw value in; may mutate and return `b`. */
  def add(b: B, v: Any): B
  /** Fold `o` into `b`; may mutate and return `b`. */
  def merge(b: B, o: B): B
  def result(b: B): Any
  def serialize(b: B): Array[Byte]
  def deserialize(bytes: Array[Byte]): B
}

/** Catalyst aggregate over one sketch family — the engine's grouped
  * sketch surface (`countDistinctSketch`, `hllSketch`/`hllMerge`,
  * `gkSketch`/`gkMerge`/`groupQuantile`, `ssSketch`/`ssMerge`/
  * `groupTopK`).  Planned as ObjectHashAggregate with map-side partial
  * merge, so the exchange moves one sketch per (group, mapper).  The
  * partial buffer crosses the shuffle, the sort-based fallback and the
  * streaming state store as the family's own wire bytes
  * ([[SketchCodec.serialize]]), the same bytes the persisted sketch
  * columns hold — no object encoder round trip.
  *
  * `stored`: the child holds serialized sketches to merge (null rows
  * skipped) instead of raw values (null rows skipped, like SQL
  * aggregates).  `emitBytes`: the result is the merged sketch's bytes
  * instead of the family's [[SketchCodec.result]]. */
case class SketchAggregate[B](
    child: Expression,
    codec: SketchCodec[B],
    stored: Boolean,
    emitBytes: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[B] with UnaryLike[Expression] with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(if (stored) BinaryType else codec.rawType)
  override def dataType: DataType = if (emitBytes) BinaryType else codec.resultType
  override def nullable: Boolean = true
  override def prettyName: String =
    codec.name + (if (stored) "_merge" else if (emitBytes) "_sketch" else "_agg")
  override protected def stringArgs: Iterator[Any] = Iterator(child, codec)

  override def createAggregationBuffer(): B = codec.zero()

  override def update(buffer: B, input: InternalRow): B = {
    val v = child.eval(input)
    if (v == null) buffer
    else if (stored) codec.merge(buffer, codec.deserialize(v.asInstanceOf[Array[Byte]]))
    else codec.add(buffer, v)
  }

  override def merge(buffer: B, input: B): B = codec.merge(buffer, input)

  override def eval(buffer: B): Any =
    if (emitBytes) codec.serialize(buffer) else codec.result(buffer)

  override def serialize(buffer: B): Array[Byte] = codec.serialize(buffer)
  override def deserialize(bytes: Array[Byte]): B = codec.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): SketchAggregate[B] =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SketchAggregate[B] =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): SketchAggregate[B] =
    copy(child = newChild)
}

object SketchAggregate {
  /** Column surface: the aggregate over `child`, usable in any
    * `groupBy(...).agg(...)`, batch or streaming. */
  def column[B](child: Column, codec: SketchCodec[B],
                stored: Boolean = false, emitBytes: Boolean = false): Column =
    GraftBridge.column(SketchAggregate(GraftBridge.expression(child), codec, stored, emitBytes)
      .toAggregateExpression())
}
