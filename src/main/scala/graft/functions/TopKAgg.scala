package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}

/** Native per-group TOP-K aggregate over (value, id) long pairs — the
  * library's second `TypedImperativeAggregate` (after
  * [[VecSumAgg]]), and the aggregate-function form of the TakeOrdered
  * discipline.
  *
  * Why it exists: "top-k per group" is conventionally written as
  * `row_number().over(Window.partitionBy(g).orderBy(...)) <= k`,
  * which SORTS EVERY GROUP IN FULL — at 100 TB a hot group's millions
  * of rows all flow to one task and get ordered just to keep three.
  * This aggregate keeps a k-bounded buffer per group: each map task
  * folds its rows into a sorted pair list capped at k (update),
  * partial lists merge associatively (merge — two sorted arrays, cut
  * at k), and the shuffle carries ≤ k pairs per (group × partition)
  * instead of whole groups. The window form's full group sort never
  * happens anywhere.
  *
  * Ordering contract: (value DESC, id ASC) — ties on value break to
  * the SMALLER id, pinned so the result is a pure function of the
  * group's row SET (partitioning-independent, hash-comparable, and
  * replayable by any engine's `ORDER BY v DESC, id LIMIT k`).
  * Output: `array<struct<v bigint, id bigint>>` in that order; null
  * inputs (either column) are skipped; an all-null group yields an
  * empty array.
  *
  * k must be a foldable positive int literal — it sizes the buffer
  * and rides the plan, never the data.
  */
case class TopKAgg(
    value: Expression,
    id: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends LongArrayBuffer {

  override def children: Seq[Expression] = Seq(value, id, kExpr)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKAgg =
    copy(value = newChildren(0), id = newChildren(1), kExpr = newChildren(2))

  override def checkInputDataTypes(): TypeCheckResult =
    (value.dataType, id.dataType, kExpr.dataType) match {
      case (LongType, LongType, IntegerType) if kExpr.foldable =>
        val k = kExpr.eval().asInstanceOf[Int]
        if (k >= 1) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(s"topk_ll: k must be >= 1, got $k")
      case other => TypeCheckResult.TypeCheckFailure(
        s"topk_ll expects (bigint, bigint, foldable int), got $other")
    }

  private lazy val k: Int = kExpr.eval().asInstanceOf[Int]

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("v", LongType, nullable = false),
      StructField("id", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false

  /** true iff (v1, i1) orders strictly before (v2, i2). */
  private def before(v1: Long, i1: Long, v2: Long, i2: Long): Boolean =
    v1 > v2 || (v1 == v2 && i1 < i2)

  private def insert(buffer: Array[Long], v: Long, i: Long): Array[Long] = {
    val n = buffer.length / 2
    if (n == k && !before(v, i, buffer(2 * k - 2), buffer(2 * k - 1))) buffer
    else {
      // find insertion slot (k is small — linear scan beats the
      // allocation cost of cleverer structures here)
      var pos = 0
      while (pos < n && before(buffer(2 * pos), buffer(2 * pos + 1), v, i))
        pos += 1
      val outN = math.min(n + 1, k)
      val out = new Array[Long](2 * outN)
      System.arraycopy(buffer, 0, out, 0, 2 * pos)
      out(2 * pos) = v; out(2 * pos + 1) = i
      val tail = math.min(n - pos, outN - pos - 1)
      if (tail > 0) System.arraycopy(buffer, 2 * pos, out, 2 * (pos + 1), 2 * tail)
      out
    }
  }

  // Buffer: packed sorted pairs [v0, id0, v1, id1, …], (v desc, id
  // asc), length ≤ 2k.
  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = value.eval(input)
    val i = id.eval(input)
    if (v == null || i == null) buffer
    else insert(buffer, v.asInstanceOf[Long], i.asInstanceOf[Long])
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    if (b1.isEmpty) return b2
    if (b2.isEmpty) return b1
    val n1 = b1.length / 2; val n2 = b2.length / 2
    val outN = math.min(n1 + n2, k)
    val out = new Array[Long](2 * outN)
    var i1 = 0; var i2 = 0; var o = 0
    while (o < outN) {
      val takeFirst = i1 < n1 && (i2 >= n2 ||
        before(b1(2 * i1), b1(2 * i1 + 1), b2(2 * i2), b2(2 * i2 + 1)))
      if (takeFirst) {
        out(2 * o) = b1(2 * i1); out(2 * o + 1) = b1(2 * i1 + 1); i1 += 1
      } else {
        out(2 * o) = b2(2 * i2); out(2 * o + 1) = b2(2 * i2 + 1); i2 += 1
      }
      o += 1
    }
    out
  }

  override def eval(buffer: Array[Long]): Any =
    new GenericArrayData(
      Array.tabulate(buffer.length / 2)(i =>
        InternalRow(buffer(2 * i), buffer(2 * i + 1))))

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): TopKAgg =
    copy(inputAggBufferOffset = newOffset)

  override def prettyName: String = "topk_ll"
}
