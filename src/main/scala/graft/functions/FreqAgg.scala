package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StructField, StructType}

/** Native Misra-Gries heavy-hitters summary `freq_ll(item, k)` — the
  * library's THIRD `TypedImperativeAggregate` (after [[VecSumAgg]]
  * and [[TopKAgg]]), and the frequent-items member of the sketch
  * family (a41 HLL counts distincts, sketch_cms point-estimates a
  * known key — this one DISCOVERS the keys worth asking about).
  *
  * Why native: the exact formulation is a full `groupBy(item)` over
  * the stream — a shuffle keyed by every distinct item at data
  * scale. Misra-Gries keeps k counters per partition (update),
  * partials merge associatively (pointwise sum, then subtract the
  * (k+1)-th largest count and keep positives — the mergeable-
  * summaries construction), so the shuffle carries ≤ k pairs per
  * partition whatever the domain size.
  *
  * Determinism contract — the part that matters for oracle gating:
  * the SURVIVING COUNTER SET depends on partition order and is NOT
  * reproducible, but the guarantee "every item with true count
  * > n/(k+1) survives" holds under any update/merge order. Callers
  * must therefore use the summary as a CANDIDATE GENERATOR and gate
  * on exact recounts (the a46 pattern: candidates → join-back →
  * exact filter), never publish `est` directly. `est` is still
  * returned (each est ∈ [true − n/(k+1), true]) for diagnostics;
  * eval orders entries (est desc, item asc) so the summary itself
  * prints stably for a fixed buffer state.
  *
  * Null items are skipped; an all-null group yields an empty array;
  * k must be a foldable positive int literal.
  */
case class FreqAgg(
    item: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends LongArrayBuffer {

  override def children: Seq[Expression] = Seq(item, kExpr)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FreqAgg =
    copy(item = newChildren(0), kExpr = newChildren(1))

  override def checkInputDataTypes(): TypeCheckResult =
    (item.dataType, kExpr.dataType) match {
      case (LongType, IntegerType) if kExpr.foldable =>
        val k = kExpr.eval().asInstanceOf[Int]
        if (k >= 1) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(s"freq_ll: k must be >= 1, got $k")
      case other => TypeCheckResult.TypeCheckFailure(
        s"freq_ll expects (bigint, foldable int), got $other")
    }

  private lazy val k: Int = kExpr.eval().asInstanceOf[Int]

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("item", LongType, nullable = false),
      StructField("est", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false

  // Buffer: packed counter pairs [item0, c0, item1, c1, …], unsorted,
  // ≤ 2k longs, every c > 0.
  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = item.eval(input)
    if (v == null) return buffer
    val x = v.asInstanceOf[Long]
    val n = buffer.length / 2
    var i = 0
    while (i < n) {
      if (buffer(2 * i) == x) { buffer(2 * i + 1) += 1; return buffer }
      i += 1
    }
    if (n < k) {
      val out = new Array[Long](2 * n + 2)
      System.arraycopy(buffer, 0, out, 0, 2 * n)
      out(2 * n) = x; out(2 * n + 1) = 1L
      out
    } else {
      // full and absent: the classic decrement-all step (the new
      // item's implicit 1 decrements to 0 and is not inserted)
      var kept = 0
      i = 0
      while (i < n) {
        if (buffer(2 * i + 1) > 1L) kept += 1
        i += 1
      }
      val out = new Array[Long](2 * kept)
      var o = 0
      i = 0
      while (i < n) {
        if (buffer(2 * i + 1) > 1L) {
          out(2 * o) = buffer(2 * i); out(2 * o + 1) = buffer(2 * i + 1) - 1L
          o += 1
        }
        i += 1
      }
      out
    }
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    if (b1.isEmpty) return b2
    if (b2.isEmpty) return b1
    val m = scala.collection.mutable.LongMap.empty[Long]
    var i = 0
    while (i < b1.length) { m(b1(i)) = m.getOrElse(b1(i), 0L) + b1(i + 1); i += 2 }
    i = 0
    while (i < b2.length) { m(b2(i)) = m.getOrElse(b2(i), 0L) + b2(i + 1); i += 2 }
    if (m.size <= k) {
      val out = new Array[Long](2 * m.size)
      var o = 0
      m.foreach { case (it, c) => out(2 * o) = it; out(2 * o + 1) = c; o += 1 }
      out
    } else {
      // mergeable-summaries reduction: subtract the (k+1)-th largest
      // count from every counter, keep the positive ones (≤ k remain)
      val counts = m.values.toArray
      java.util.Arrays.sort(counts)
      val cut = counts(counts.length - 1 - k) // (k+1)-th largest
      var kept = 0
      m.foreach { case (_, c) => if (c > cut) kept += 1 }
      val out = new Array[Long](2 * kept)
      var o = 0
      m.foreach { case (it, c) =>
        if (c > cut) { out(2 * o) = it; out(2 * o + 1) = c - cut; o += 1 }
      }
      out
    }
  }

  override def eval(buffer: Array[Long]): Any = {
    val n = buffer.length / 2
    val idx = Array.range(0, n).sortWith { (a, b) =>
      val ca = buffer(2 * a + 1); val cb = buffer(2 * b + 1)
      ca > cb || (ca == cb && buffer(2 * a) < buffer(2 * b))
    }
    new GenericArrayData(
      idx.map(i => InternalRow(buffer(2 * i), buffer(2 * i + 1))))
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): FreqAgg =
    copy(inputAggBufferOffset = newOffset)

  override def prettyName: String = "freq_ll"
}
