package graft.operators

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{DataType, StructType}
import graft.sources.sstable.SSTableReader.Reconciler
import graft.sources.sstable.spark.SSTableSchema

/** [[SSTableOps.compactRows]]' per-key merge as one Catalyst aggregate
  * over scan-schema rows (`child` is a `key, columns, rowTombstone`
  * struct, read by [[SSTableSchema.RowDecoder]]). The buffer is the key's
  * running [[Reconciler]]: `update` adds one row version in O(row
  * width), `merge` adds the other buffer's reconciled row, and the
  * result is that row. A buffer crosses the shuffle as the reconciled
  * row's `UnsafeRow`, so a map-side partial ships one pre-combined row
  * per key. */
private[graft] case class ReconcileRows(child: Expression, mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Reconciler] with UnaryLike[Expression] {

  override def dataType: DataType = SSTableSchema.schema
  override def nullable: Boolean = false

  @transient private lazy val decodeInput =
    new SSTableSchema.RowDecoder(child.dataType.asInstanceOf[StructType])
  @transient private lazy val decode = new SSTableSchema.RowDecoder(SSTableSchema.schema)
  @transient private lazy val toUnsafe = UnsafeProjection.create(SSTableSchema.schema)

  override def createAggregationBuffer(): Reconciler = new Reconciler
  override def update(buffer: Reconciler, input: InternalRow): Reconciler =
    buffer.add(decodeInput(child.eval(input).asInstanceOf[InternalRow]))
  override def merge(buffer: Reconciler, other: Reconciler): Reconciler =
    buffer.add(other.result())
  override def eval(buffer: Reconciler): Any =
    SSTableSchema.rowToInternal(buffer.result(), SSTableSchema.schema)

  override def serialize(buffer: Reconciler): Array[Byte] =
    toUnsafe(eval(buffer).asInstanceOf[InternalRow]).getBytes
  override def deserialize(bytes: Array[Byte]): Reconciler = {
    val row = new UnsafeRow(SSTableSchema.schema.length)
    row.pointTo(bytes, bytes.length)
    new Reconciler().add(decode(row))
  }

  override def withNewMutableAggBufferOffset(offset: Int): ReconcileRows =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ReconcileRows =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildInternal(newChild: Expression): ReconcileRows =
    copy(child = newChild)
}
