package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native OUTER-PRODUCT SUM aggregate over `array<long>` columns:
  * for D-long inputs v, returns the row-major D² array
  * `Σ_rows v(i)·v(j)` — the scaled-Gram accumulator of sim21's
  * integer PCA ([[VecSumAgg]]'s second-moment sibling).
  *
  * Why it exists (round-15, guide §4/§1.2): the first formulation
  * built each row's D² outer product as a column —
  * `transform(sequence(0, D²−1), k -> qv[k/D+1] * qv[k%D+1])` — and
  * fed [[VecSumAgg]]. Array HOFs are CodegenFallback, so that is D²
  * INTERPRETED lambda invocations (plus two boxed element_at calls
  * each) per row — at sf0.1 (20 k × 4096) ≈ 82 M lambda evals, and
  * the per-row 32 KB array allocation on top; it measured as the
  * bulk of sim21's 2.5 s headline sample. Here the same arithmetic
  * is one tight JVM loop over the UNBOXED input array, accumulating
  * straight into the group buffer (no per-row allocation), and only
  * the upper triangle is multiplied — v(i)·v(j) = v(j)·v(i) exactly,
  * so eval mirrors the triangle into the full row-major array.
  *
  * Exactness: LONG multiply-adds — associative, commutative, and
  * order-independent, so the result is bit-identical to the HOF
  * formulation (VecOuterSumAggSpec pins that identity) and to the
  * DuckDB mirror's `sum(a.x * b.x)`. Overflow headroom: |v| ≤ 10⁴
  * quantization ⇒ |v·v| ≤ 10⁸ ⇒ ~9·10¹⁰ rows to overflow a long.
  *
  * Shuffle shape: one D² buffer per (group × partition) rides the
  * exchange (map-side combine over the row dimension), same as
  * VecSumAgg; for sim21's global agg that is ONE 32 KB buffer per
  * partition. Length contract and null semantics follow VecSumAgg:
  * mixed lengths throw, null rows are skipped, an all-null group
  * returns null. Two degenerate inputs throw loudly rather than
  * alias the internal sentinel (round-16 hardening): a ZERO-LENGTH
  * vector (its n² = 0 buffer would be indistinguishable from the
  * "no input seen" empty buffer, silently bypassing the length
  * check) and a NULL ELEMENT inside the array (getLong on a null
  * slot reads garbage; quantized embeddings never carry one, so
  * seeing one is corruption, not data).
  */
case class VecOuterSumAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends LongArrayBuffer {

  override def children: Seq[Expression] = Seq(child)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VecOuterSumAgg =
    copy(child = newChildren.head)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"vec_outer_sum_ll expects array<bigint>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  // Buffer: empty = "no input seen yet"; the first non-null row sizes
  // the D² buffer. Only entries with i ≤ j are touched before eval.
  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v == null) buffer
    else {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      require(n > 0, "vec_outer_sum_ll: zero-length input vector")
      val buf =
        if (buffer.isEmpty) new Array[Long](n * n)
        else {
          require(buffer.length == n * n,
            s"vec_outer_sum_ll: vector length $n != group's buffer ${buffer.length}")
          buffer
        }
      // unbox once, then a triangle of long multiply-adds
      val row = new Array[Long](n)
      var i = 0
      while (i < n) {
        require(!arr.isNullAt(i), "vec_outer_sum_ll: null element in input vector")
        row(i) = arr.getLong(i); i += 1
      }
      i = 0
      while (i < n) {
        val vi = row(i)
        val base = i * n
        var j = i
        while (j < n) { buf(base + j) += vi * row(j); j += 1 }
        i += 1
      }
      buf
    }
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] =
    if (b1.isEmpty) b2
    else if (b2.isEmpty) b1
    else {
      require(b1.length == b2.length,
        s"vec_outer_sum_ll: partial lengths ${b1.length} != ${b2.length}")
      // lower-triangle entries are all zero until eval, so a full add
      // merges exactly the populated triangle
      var i = 0
      while (i < b1.length) { b1(i) += b2(i); i += 1 }
      b1
    }

  override def eval(buffer: Array[Long]): Any =
    if (buffer.isEmpty) null
    else {
      val n = math.sqrt(buffer.length.toDouble).toInt
      // mirror the upper triangle into the full row-major array —
      // exact, because long products commute
      val out = new Array[Long](buffer.length)
      var i = 0
      while (i < n) {
        var j = i
        while (j < n) {
          val x = buffer(i * n + j)
          out(i * n + j) = x
          out(j * n + i) = x
          j += 1
        }
        i += 1
      }
      new GenericArrayData(out)
    }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecOuterSumAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): VecOuterSumAgg =
    copy(inputAggBufferOffset = newOffset)

  override def prettyName: String = "vec_outer_sum_ll"
}
