package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The lineage cut every iterative operator and stream fold shares:
  * graph rounds (connected components, k-core, PageRank, …), BPE merge
  * training, and the standing frames of [[graft.stream.StandingFold]].
  */
object Lineage {

  /** Eager localCheckpoint + the persisted RDD's own handle (the
    * LogicalRDD leaf the checkpointed frame reads from) — the round
    * primitive shared by every iterative operator here (connected
    * components, BPE merge training): cut lineage once per round,
    * release the superseded round by ITS OWN handle (never global
    * persistent-RDD state, so concurrent iterative jobs on one
    * SparkContext are safe).
    */
  private[graft] def checkpointed(df: DataFrame): (DataFrame, org.apache.spark.rdd.RDD[_]) = {
    val cp = df.localCheckpoint()
    val rdd = cp.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.getOrElse(sys.error("localCheckpoint did not yield a LogicalRDD leaf"))
    (cp, rdd)
  }

  /** [[checkpointed]] with the rows hash-partitioned + sorted on `key`
    * FIRST, so the checkpoint leaf advertises
    * `hashpartitioning(key, N) / key ASC` and every downstream
    * equi-join or aggregation on `key` reuses the stored layout
    * instead of re-exchanging and re-sorting the frame (the
    * partition-once discipline for iterative operators whose rounds
    * re-probe one big side each round — guide §2.4). The partition
    * count is pinned to `spark.sql.shuffle.partitions` EXPLICITLY:
    * a count-less `repartition(col)` is an AQE coalescing target,
    * and a coalesced read no longer satisfies plain
    * hashpartitioning, so the checkpoint would (correctly) demote
    * the leaf to UnknownPartitioning and rounds would pay the
    * exchange again. Scale note: N tracks the session conf, never a
    * local-mode constant.
    */
  private[graft] def checkpointedKeyed(df: DataFrame, key: String)
      : (DataFrame, org.apache.spark.rdd.RDD[_]) = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val (cp, rdd) =
      checkpointed(df.repartition(n, col(key)).sortWithinPartitions(key))
    // localCheckpoint demotes the leaf to UnknownPartitioning; rewrap
    // it with the layout the two lines above just guaranteed
    (org.apache.spark.sql.graftglue.Bridge.keyedCheckpointLeaf(cp, key), rdd)
  }
}
