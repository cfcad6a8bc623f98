package org.apache.spark.sql.graftglue

import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The `private[sql]` doorways the graft library needs: building a
  * DataFrame from a custom LogicalPlan ([[graft.plans.AsofJoinNode]])
  * and a Column from a catalyst expression that takes more than
  * literal arguments ([[graft.functions.KeyedCountAgg]],
  * [[graft.functions.BatchConstant]]). `Dataset.ofRows` and
  * `ExpressionUtils` are private[sql], so this object lives under
  * `org.apache.spark.sql` — the standard extension-library pattern;
  * nothing else from the internal surface is re-exported.
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def column(expr: Expression): Column = classic.ExpressionUtils.column(expr)

  /** Re-wrap a localCheckpoint'd frame's `LogicalRDD` leaf with the
    * hash-partitioning + per-partition ordering its rows PROVABLY
    * have (`Dataset.localCheckpoint` in 4.x drops both to
    * UnknownPartitioning/Nil), so downstream joins/aggregations on
    * `key` reuse the stored layout instead of re-exchanging it.
    *
    * The caller must guarantee the layout: rows hash-partitioned by
    * `repartition(n, col(key))` (REPARTITION_BY_NUM — exempt from AQE
    * coalescing, so plain `hashpartitioning(key, n)` holds exactly)
    * and sorted by `sortWithinPartitions(key)` immediately before the
    * checkpoint; the checkpoint copies partitions 1:1. That contract
    * lives in ONE place — [[graft.ops.Lineage.checkpointedKeyed]] — and
    * this helper is not used anywhere else.
    */
  def keyedCheckpointLeaf(df: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.LogicalRDD
    val cdf = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    val leaf = cdf.queryExecution.analyzed.collectFirst {
      case l: LogicalRDD => l
    }.getOrElse(sys.error("keyedCheckpointLeaf: no LogicalRDD leaf"))
    val attr = leaf.output.find(_.name == key).getOrElse(
      sys.error(s"keyedCheckpointLeaf: no output column named $key"))
    val spark = cdf.sparkSession
    classic.Dataset.ofRows(spark, LogicalRDD(
      leaf.output, leaf.rdd,
      HashPartitioning(Seq(attr), leaf.rdd.getNumPartitions),
      Seq(SortOrder(attr, Ascending)),
      leaf.isStreaming, leaf.stream)(spark, None, None))
  }
}
