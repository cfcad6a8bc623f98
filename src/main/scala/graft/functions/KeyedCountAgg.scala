package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{TypeCheckResult, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftglue.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType,
  StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native keyed counts `keyed_counts`: several small group-bys of one
  * frame in one pass, without a shuffle. Each key set is a list of
  * string key columns; for every (key set, key tuple) the aggregate
  * keeps the row count and, per int measure, the non-null count and
  * the sum. That is what `count(1)` and `avg(measure)` of
  * `groupBy(keys)` need, for every key set at once.
  *
  * Why native: grouping sets expand each row once per set and shuffle
  * the expanded rows, which costs a second stage. Here each partition
  * folds its rows into one bounded buffer, and partial buffers merge by
  * key, so the aggregate can ride `Dataset.observe` (whose accumulator
  * merges partials on the driver) or a global aggregate.
  *
  * Semantics, as a group-by's:
  *  - a null key is a key of its own;
  *  - a null measure counts toward the row count only, as `avg` skips
  *    it. The sum is an exact long, so `sum.toDouble / n` is `avg`'s
  *    double division bit for bit while |sum| < 2^53 (where `avg`'s
  *    own double sum is exact in any order).
  *
  * Bound: a buffer takes new keys only while it holds at most
  * `ceiling` groups, so it never holds more than `ceiling + 1`. A
  * caller that sees more than `ceiling` groups knows the frame went
  * past the bound (the counts are then incomplete) and fails by name.
  *
  * Output: `array<struct<set, keys, count, n, sum>>` ordered by set,
  * then keys (null first, then bytewise). `set` indexes `keySets`;
  * `n` and `sum` run over the measures in order.
  */
case class KeyedCountAgg(
    keys: Seq[Expression],
    measures: Seq[Expression],
    keySets: Seq[Seq[Int]],
    ceiling: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends LongArrayBuffer {

  override def children: Seq[Expression] = keys ++ measures

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KeyedCountAgg = {
    val (k, m) = newChildren.splitAt(keys.length)
    copy(keys = k, measures = m)
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (keys.exists(_.dataType != StringType) || measures.exists(_.dataType != IntegerType))
      TypeCheckResult.TypeCheckFailure("keyed_counts expects string keys and int measures, got " +
        s"${keys.map(_.dataType.simpleString)} and ${measures.map(_.dataType.simpleString)}")
    else if (keySets.isEmpty || keySets.exists(s => s.isEmpty || s.exists(!keys.indices.contains(_))))
      TypeCheckResult.TypeCheckFailure(s"keyed_counts: every key set must name keys, got $keySets")
    else if (ceiling < 1)
      TypeCheckResult.TypeCheckFailure(s"keyed_counts: ceiling must be >= 1, got $ceiling")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = KeyedCountAgg.ResultType

  override def nullable: Boolean = false

  @transient private lazy val sets: Array[Array[Int]] = keySets.map(_.toArray).toArray
  @transient private lazy val inputs: Array[Expression] = children.toArray

  /** Counters per group: the row count, then (n, sum) per measure. */
  private def width: Int = 1 + 2 * measures.length

  // Buffer: [groups, record, record, …]; a record is [length, hash,
  // set, counters…, key…], and a key is its byte length (-1 for null)
  // followed by its bytes, 8 to a long, lowest byte first. Records
  // hold no padding, so equal key tuples are equal long ranges.
  private final val Head = 3

  private def words(len: Int): Int = if (len <= 0) 0 else (len + 7) >>> 3

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val vals = new Array[Any](keys.length + measures.length)
    var i = 0
    while (i < vals.length) { vals(i) = inputs(i).eval(input); i += 1 }
    var buf = buffer
    var s = 0
    while (s < sets.length) {
      val h = hashOf(s, vals)
      var at = find(buf, s, h, vals)
      if (at < 0 && groups(buf) <= ceiling) {
        val len = Head + width + sets(s).map(k => 1 + words(keyLength(vals(k)))).sum
        buf = append(buf, s, h, vals, len)
        at = buf.length - len
      }
      if (at >= 0) {
        val c = at + Head
        buf(c) += 1
        var m = 0
        while (m < measures.length) {
          val v = vals(keys.length + m)
          if (v != null) { buf(c + 1 + 2 * m) += 1; buf(c + 2 + 2 * m) += v.asInstanceOf[Int] }
          m += 1
        }
      }
      s += 1
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    if (b1.isEmpty) return b2
    var out = b1
    var at = 1
    while (at < b2.length) {
      val len = b2(at).toInt
      val found = findRecord(out, b2, at)
      if (found >= 0) {
        var c = 0
        while (c < width) { out(found + Head + c) += b2(at + Head + c); c += 1 }
      } else if (groups(out) <= ceiling) {
        val grown = java.util.Arrays.copyOf(out, out.length + len)
        System.arraycopy(b2, at, grown, out.length, len)
        grown(0) += 1
        out = grown
      }
      at += len
    }
    out
  }

  override def eval(buffer: Array[Long]): Any = {
    val rows = offsets(buffer).map { at =>
      val set = buffer(at + 2).toInt
      var p = at + Head + width
      val ks = sets(set).map { _ =>
        val len = buffer(p).toInt
        val k = if (len < 0) null else unpack(buffer, p + 1, len)
        p += 1 + words(len)
        k
      }
      (set, ks, at)
    }.sortWith { case ((s1, k1, _), (s2, k2, _)) => s1 < s2 || (s1 == s2 && keysBefore(k1, k2)) }
    new GenericArrayData(rows.map { case (set, ks, at) =>
      val c = at + Head
      InternalRow(set, new GenericArrayData(ks.asInstanceOf[Array[Any]]), buffer(c),
        new GenericArrayData(Array.tabulate(measures.length)(m => buffer(c + 1 + 2 * m))),
        new GenericArrayData(Array.tabulate(measures.length)(m => buffer(c + 2 + 2 * m))))
    })
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KeyedCountAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): KeyedCountAgg =
    copy(inputAggBufferOffset = newOffset)

  override def prettyName: String = "keyed_counts"

  private def groups(buf: Array[Long]): Long = if (buf.isEmpty) 0L else buf(0)

  private def offsets(buf: Array[Long]): Seq[Int] =
    Iterator.iterate(1)(at => at + buf(at).toInt).takeWhile(_ < buf.length).toSeq

  private def hashOf(s: Int, vals: Array[Any]): Long = {
    var h = s.toLong
    val set = sets(s)
    var j = 0
    while (j < set.length) {
      val v = vals(set(j))
      h = (h + (if (v == null) 0x5bd1e995L else v.hashCode.toLong)) * 0x9e3779b97f4a7c15L
      h ^= h >>> 29
      j += 1
    }
    h
  }

  /** The offset of the record of key set `s` whose keys are `vals`', or -1. */
  private def find(buf: Array[Long], s: Int, h: Long, vals: Array[Any]): Int = {
    var at = 1
    while (at < buf.length) {
      if (buf(at + 1) == h && buf(at + 2) == s && keysMatch(buf, at + Head + width, s, vals))
        return at
      at += buf(at).toInt
    }
    -1
  }

  private def keysMatch(buf: Array[Long], from: Int, s: Int, vals: Array[Any]): Boolean = {
    var p = from
    val set = sets(s)
    var j = 0
    while (j < set.length) {
      val v = vals(set(j)).asInstanceOf[UTF8String]
      val len = buf(p).toInt
      if (v == null) { if (len != -1) return false }
      else if (len != v.numBytes || !sameBytes(buf, p + 1, v)) return false
      p += 1 + words(len)
      j += 1
    }
    true
  }

  /** The offset in `out` of the record equal in keys to `b`'s at `at`, or -1. */
  private def findRecord(out: Array[Long], b: Array[Long], at: Int): Int = {
    val len = b(at).toInt
    var o = 1
    while (o < out.length) {
      if (out(o) == len && out(o + 1) == b(at + 1) && out(o + 2) == b(at + 2) &&
          java.util.Arrays.equals(out, o + Head + width, o + len, b, at + Head + width, at + len))
        return o
      o += out(o).toInt
    }
    -1
  }

  private def keyLength(v: Any): Int =
    if (v == null) -1 else v.asInstanceOf[UTF8String].numBytes

  /** `buf` with a new `len`-long record of key set `s` for `vals`, its counters at 0. */
  private def append(buf: Array[Long], s: Int, h: Long, vals: Array[Any], len: Int): Array[Long] = {
    val out = java.util.Arrays.copyOf(buf, math.max(buf.length, 1) + len)
    val at = out.length - len
    out(0) = groups(buf) + 1
    out(at) = len; out(at + 1) = h; out(at + 2) = s
    var p = at + Head + width
    sets(s).foreach { k =>
      val v = vals(k).asInstanceOf[UTF8String]
      out(p) = keyLength(v)
      if (v != null) pack(out, p + 1, v)
      p += 1 + words(keyLength(v))
    }
    out
  }

  private def pack(out: Array[Long], from: Int, v: UTF8String): Unit = {
    val (base, off) = (v.getBaseObject, v.getBaseOffset)
    var i = 0
    while (i < v.numBytes) {
      out(from + (i >>> 3)) |= (Platform.getByte(base, off + i) & 0xffL) << ((i & 7) * 8)
      i += 1
    }
  }

  private def sameBytes(buf: Array[Long], from: Int, v: UTF8String): Boolean = {
    val (base, off) = (v.getBaseObject, v.getBaseOffset)
    var i = 0
    while (i < v.numBytes) {
      if (((buf(from + (i >>> 3)) >>> ((i & 7) * 8)) & 0xffL) != (Platform.getByte(base, off + i) & 0xffL))
        return false
      i += 1
    }
    true
  }

  private def unpack(buf: Array[Long], from: Int, len: Int): UTF8String =
    UTF8String.fromBytes(Array.tabulate(len)(i => (buf(from + (i >>> 3)) >>> ((i & 7) * 8)).toByte))

  private def keysBefore(a: Array[UTF8String], b: Array[UTF8String]): Boolean = {
    val j = a.indices.indexWhere(i => a(i) != b(i))
    j >= 0 && (a(j) == null || (b(j) != null && a(j).compareTo(b(j)) < 0))
  }
}

object KeyedCountAgg {

  private val ResultType: ArrayType = ArrayType(StructType(Seq(
    StructField("set", IntegerType, nullable = false),
    StructField("keys", ArrayType(StringType, containsNull = true), nullable = false),
    StructField("count", LongType, nullable = false),
    StructField("n", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("sum", ArrayType(LongType, containsNull = false), nullable = false))),
    containsNull = false)

  /** The aggregate over named columns: `keySets` of string key
    * columns and int `measures`, at most `ceiling` groups.
    */
  def column(keySets: Seq[Seq[String]], measures: Seq[String], ceiling: Int): Column = {
    val keys = keySets.flatten.distinct
    Bridge.column(KeyedCountAgg(keys.map(UnresolvedAttribute.quoted),
      measures.map(UnresolvedAttribute.quoted), keySets.map(_.map(keys.indexOf)), ceiling)
      .toAggregateExpression())
  }
}
