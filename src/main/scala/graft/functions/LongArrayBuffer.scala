package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate

/** The `Array[Long]` aggregation buffer of the long-array aggregates
  * ([[VecSumAgg]], [[VecOuterSumAgg]], [[FreqAgg]], [[TopKAgg]]): a
  * fresh buffer is the empty array, and a partial buffer crosses the
  * shuffle as its longs, 8 big-endian bytes each, in order. Each
  * aggregate documents what its longs mean beside its `update`.
  */
trait LongArrayBuffer extends TypedImperativeAggregate[Array[Long]] {

  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * buffer.length)
    var i = 0
    while (i < buffer.length) { bb.putLong(buffer(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    val out = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < out.length) { out(i) = bb.getLong(); i += 1 }
    out
  }
}
