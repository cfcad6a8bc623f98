package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftglue.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** A double that changes from one micro-batch to the next (its time
  * stamp, its mean) inside a distributed plan. It evaluates to `value`
  * on every row, as `lit(value)` does, but its generated Java reads the
  * value from the plan's reference objects instead of inlining it, and
  * it is not foldable, so the optimizer does not turn it back into a
  * literal.
  *
  * Why: Spark's codegen cache is keyed by the generated source, and a
  * literal is part of that source. A batch body that stamps `lit(ts)`
  * or cuts at `lit(mean)` compiles new classes on every batch; with
  * this expression the source is the same on every batch and the
  * classes compile once.
  */
case class BatchConstant(value: Double) extends LeafExpression {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("batchConstant", this, classOf[BatchConstant].getName)
    ev.copy(code = code"final double ${ev.value} = $self.value();", isNull = FalseLiteral)
  }

  override def prettyName: String = "batch_constant"
}

object BatchConstant {

  /** `value` as a column that plans as a [[BatchConstant]]. */
  def column(value: Double): Column = Bridge.column(BatchConstant(value))
}
