package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native element-wise SUM aggregate over `array<long>` columns — the
  * aggregate-function sibling of the scalar vec_* expressions (the
  * library's first `TypedImperativeAggregate`; everything else in this
  * package is a scalar `Expression`).
  *
  * Why it exists: the centroid/element-wise-mean shape was previously
  * expressed as `posexplode → groupBy(key, pos) → sum` (sim7, Lloyd's
  * update), which multiplies the shuffled ROW COUNT by the vector
  * dimension D — at 100 TB with D = 64-4096 the explode is the whole
  * shuffle bill. This aggregate keeps vectors whole: each map task
  * folds its rows into ONE D-long buffer per group (update), partial
  * buffers merge associatively (merge), and the shuffle carries one
  * array per (group × partition) instead of D rows per vector — the
  * map-side-combine argument, applied to the vector dimension.
  *
  * Exactness: element-wise LONG addition — associative, commutative,
  * overflow-free for quantized inputs (|v| ≤ 10⁶-scale quantization ×
  * corpus rows ≪ 2⁶³), so the result is independent of partitioning
  * and bit-identical to any reference formulation, including a DuckDB
  * `unnest → sum` mirror. Float vectors must be quantized to longs
  * FIRST (the Lloyd/sim13 discipline) — summing floats in partial
  * buffers would be order-dependent and could never hash-compare.
  *
  * Length contract: all non-null input arrays in a group must share
  * one length; a mismatch throws (a silent truncate-or-pad would
  * corrupt the centroid). Null rows are skipped; a group with no
  * non-null input returns null (`sum` semantics). Zero-length
  * vectors and null elements throw (round-16 hardening, same
  * rationale as [[VecOuterSumAgg]]: an empty array would alias the
  * "no input seen" sentinel, and getLong on a null slot reads
  * garbage — both are corruption in quantized-vector inputs).
  */
case class VecSumAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends LongArrayBuffer {

  override def children: Seq[Expression] = Seq(child)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VecSumAgg =
    copy(child = newChildren.head)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vec_sum_ll expects array<bigint>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  // Buffer: empty = "no input seen yet" (arrays carry their length, so
  // the first non-null row sizes the buffer).
  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) buffer
    else {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      require(n > 0, "vec_sum_ll: zero-length input vector")
      if (buffer.isEmpty) {
        val fresh = new Array[Long](n)
        var i = 0
        while (i < n) {
          require(!arr.isNullAt(i), "vec_sum_ll: null element in input vector")
          fresh(i) = arr.getLong(i); i += 1
        }
        fresh
      } else {
        require(buffer.length == n,
          s"vec_sum_ll: vector length $n != group's ${buffer.length}")
        var i = 0
        while (i < n) {
          require(!arr.isNullAt(i), "vec_sum_ll: null element in input vector")
          buffer(i) += arr.getLong(i); i += 1
        }
        buffer
      }
    }
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] =
    if (b1.isEmpty) b2
    else if (b2.isEmpty) b1
    else {
      require(b1.length == b2.length,
        s"vec_sum_ll: partial lengths ${b1.length} != ${b2.length}")
      var i = 0
      while (i < b1.length) { b1(i) += b2(i); i += 1 }
      b1
    }

  override def eval(buffer: Array[Long]): Any =
    if (buffer.isEmpty) null else new GenericArrayData(buffer)

  override def withNewMutableAggBufferOffset(newOffset: Int): VecSumAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): VecSumAgg =
    copy(inputAggBufferOffset = newOffset)

  override def prettyName: String = "vec_sum_ll"
}
