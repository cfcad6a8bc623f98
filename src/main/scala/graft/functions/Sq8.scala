package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}

/** SQ8 scalar-quantization primitives: pack per-dimension signed int8
  * codes into a BINARY column and take integer dot products over the
  * packed form.
  *
  * Why binary, not `array<long>`: the entire point of scalar
  * quantization is the memory ratio — 64 codes pack to 64 bytes where
  * the float vector is 256 B and a long array ≥ 512 B + array
  * headers. At 100 TB of embeddings that 4-8× is the difference
  * between an in-memory candidate scan and a spilled one, and the
  * shuffle carries the same ratio. The dot then runs over raw bytes
  * in whole-stage codegen (a tight signed-byte multiply loop the JIT
  * can vectorize) instead of one interpreted lambda call per element —
  * the same escalation rung as [[VecDot]] (E15).
  */

/** `sq8_pack(array<long>) → binary`: each element is clamped to
  * [-128, 127] and written as one SIGNED byte, preserving order —
  * symmetric int8 quantization (codes = round(u·127/A) over
  * L2-normalized values, so zero maps to zero and the code dot is
  * monotone in the quantized cosine). Null array → null.
  */
case class Sq8Pack(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sq8_pack expects array<bigint>, got ${other.simpleString}")
  }

  override def dataType: DataType = BinaryType

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val n = xs.numElements()
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val v = xs.getLong(i)
      val c = if (v < -128L) -128L else if (v > 127L) 127L else v
      out(i) = c.toByte
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val v = ctx.freshName("v")
      val out = ctx.freshName("out")
      s"""
         |final int $n = $x.numElements();
         |final byte[] $out = new byte[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $v = $x.getLong($i);
         |  if ($v < -128L) $v = -128L; else if ($v > 127L) $v = 127L;
         |  $out[$i] = (byte) $v;
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Sq8Pack =
    copy(child = newChild)

  override def prettyName: String = "sq8_pack"
}

/** `vec_dot_sq8(binary, binary) → bigint`: Σ a_i·b_i over the packed
  * SIGNED int8 codes — exact long arithmetic (|dot| ≤ dim·128²,
  * overflow-free to dim ~10¹⁴). Length mismatch → null.
  */
case class Sq8Dot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"vec_dot_sq8 expects (binary, binary), " +
          s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = LongType

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Array[Byte]]
    val y = b.asInstanceOf[Array[Byte]]
    if (x.length != y.length) null
    else {
      var sum = 0L
      var i = 0
      while (i < x.length) {
        sum += x(i).toLong * y(i).toLong
        i += 1
      }
      sum
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      s"""
         |if ($x.length != $y.length) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $sum = 0L;
         |  for (int $i = 0; $i < $x.length; $i++) {
         |    $sum += (long) $x[$i] * (long) $y[$i];
         |  }
         |  ${ev.value} = $sum;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Sq8Dot =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "vec_dot_sq8"
}
