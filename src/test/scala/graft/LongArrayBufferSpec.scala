package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{FreqAgg, KeyedCountAgg, LongArrayBuffer, TopKAgg, VecOuterSumAgg,
  VecSumAgg}

/** [[graft.functions.LongArrayBuffer]], the one buffer codec of the
  * long-array aggregates: buffers survive the byte round trip at the
  * edges of the long range, for each aggregate a merge of partial
  * buffers that crossed the (simulated) shuffle equals the merge of
  * the same buffers in memory, and no other source file carries a
  * codec of its own.
  */
class LongArrayBufferSpec extends AnyFunSuite {

  private val vec = BoundReference(0, ArrayType(LongType, containsNull = false), nullable = true)
  private def long(i: Int) = BoundReference(i, LongType, nullable = true)
  private def vecRow(xs: Long*) = InternalRow(ArrayData.toArrayData(xs.toArray))
  private def str(i: Int) = BoundReference(i, StringType, nullable = true)
  private def strRow(a: String, b: String, m: Integer) =
    InternalRow(UTF8String.fromString(a), UTF8String.fromString(b), m)

  /** Each aggregate with the input rows of two partitions. */
  private val cases: Seq[(String, LongArrayBuffer, Seq[InternalRow], Seq[InternalRow])] = Seq(
    ("vec_sum_ll", VecSumAgg(vec),
      Seq(vecRow(1L, -2L, 3L), vecRow(-7L, 0L, 5L)), Seq(vecRow(4L, 4L, -9L))),
    ("vec_outer_sum_ll", VecOuterSumAgg(vec),
      Seq(vecRow(1L, -2L), vecRow(3L, 5L)), Seq(vecRow(-4L, 6L))),
    ("freq_ll", FreqAgg(long(0), Literal(2)),
      Seq(5L, 5L, -1L, 9L, 5L).map(InternalRow(_)), Seq(9L, 9L, -1L, 7L).map(InternalRow(_))),
    ("topk_ll", TopKAgg(long(0), long(1), Literal(2)),
      Seq((3L, 1L), (-8L, 2L), (3L, 0L)).map { case (v, id) => InternalRow(v, id) },
      Seq((10L, 4L), (3L, 5L)).map { case (v, id) => InternalRow(v, id) }),
    ("keyed_counts", KeyedCountAgg(Seq(str(0), str(1)), Seq(BoundReference(2, IntegerType, nullable = true)),
      Seq(Seq(0), Seq(0, 1)), ceiling = 1024),
      Seq(strRow("a", "bb", 3), strRow("a", null, 5), strRow(null, "bb", null)),
      Seq(strRow("a", "bb", -4), strRow("a longer key than 8 bytes", "", 7))))

  test("buffers round-trip through bytes: empty, one element, negatives, the long range") {
    val buffers = Seq(Array.emptyLongArray, Array(42L), Array(-1L, -123456789L),
      Array(Long.MinValue), Array(Long.MaxValue), Array(Long.MinValue, 0L, -1L, Long.MaxValue))
    for ((name, agg, _, _) <- cases) {
      assert(agg.createAggregationBuffer().isEmpty, name)
      for (b <- buffers) {
        val bytes = agg.serialize(b)
        assert(bytes.length == 8 * b.length, name)
        assert(agg.deserialize(bytes).sameElements(b), s"$name: ${b.mkString(",")}")
      }
      // 8 big-endian bytes per long
      assert(agg.serialize(Array(1L, -2L)).toSeq ==
        Seq[Byte](0, 0, 0, 0, 0, 0, 0, 1, -1, -1, -1, -1, -1, -1, -1, -2), name)
    }
  }

  test("merge after a serialize/deserialize round trip equals merge without one") {
    for ((name, agg, left, right) <- cases) {
      def fold(rows: Seq[InternalRow]) =
        rows.foldLeft(agg.createAggregationBuffer())((b, r) => agg.update(b, r))
      def roundTrip(b: Array[Long]) = agg.deserialize(agg.serialize(b))
      val (b1, b2) = (fold(left), fold(right))
      assert(b1.nonEmpty && b2.nonEmpty, name)
      // merge may update its first argument in place: hand each side copies
      val direct = agg.merge(b1.clone(), b2.clone())
      assert(agg.merge(roundTrip(b1), roundTrip(b2)).sameElements(direct), name)
      val empty = agg.createAggregationBuffer()
      assert(agg.merge(roundTrip(empty), roundTrip(b2)).sameElements(
        agg.merge(empty, b2.clone())), s"$name with an empty partial")
      assert(agg.eval(agg.merge(roundTrip(b1), roundTrip(b2))) == agg.eval(direct), name)
    }
  }

  test("source scan: only LongArrayBuffer serializes an aggregation buffer") {
    val shape = """def (de)?serialize\(|ByteBuffer""".r
    val hits = SourceScan.copiesOutside("functions/LongArrayBuffer.scala", shape)
    assert(hits.isEmpty, s"aggregation buffer codec outside LongArrayBuffer: $hits")
  }
}
