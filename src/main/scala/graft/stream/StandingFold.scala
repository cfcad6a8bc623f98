package graft.stream

import org.apache.spark.sql.DataFrame

import graft.ops.Lineage

/** How a standing DataFrame advances by one micro-batch — the shell
  * every in-session stream maintainer ([[Scd2Stream]],
  * [[DedupClusterStream]], [[CurationStream]], [[NearDupCurationStream]])
  * is built on. `step(standing, batch)` is the fold itself (standing is
  * None before the first non-empty batch); this class owns the rest:
  *
  *  - the lock: [[advance]] and [[release]] are atomic with respect to
  *    each other, and [[locked]] lets a body that drives two folds hold
  *    one lock across both;
  *  - the lineage cut: each result is localCheckpointed, so plan depth
  *    stays CONSTANT at any stream length;
  *  - the fresh-leaf re-root: the cut frame is re-created over the
  *    checkpointed rows. localCheckpoint keeps the source plan's
  *    COMPUTED statistics, and a fold whose plan multiplies size
  *    estimates (one connected-components batch runs ~20 join rounds)
  *    grows them ~20× in bit-length per batch — by batch ~6 Catalyst
  *    was multiplying million-digit BigIntegers on the driver (an
  *    edge-at-a-time stream spent 18 CPU-minutes in
  *    BigInteger.multiplyToomCook3). A fresh leaf restarts every batch
  *    from the constant default estimate, so planning cost stays flat;
  *  - the release of the superseded checkpoint by its OWN handle
  *    (checkpoint blocks live outside the CacheManager);
  *  - the epoch guard: foreachBatch is at-least-once, and a failed batch
  *    is replayed under the same id. An epoch at or below the last one
  *    applied is a no-op, and the guard advances only after the new
  *    standing frame is installed, so a failure inside [[advance]]
  *    leaves the epoch unapplied and its replay folds it exactly once.
  *
  * FRAME LIFETIME: a frame returned by [[current]] (or derived from
  * it) is backed by the checkpoint that the NEXT [[advance]] or
  * [[release]] unpersists, and a localCheckpointed plan cannot
  * recompute lost blocks. Execute (collect/write) it within the current
  * micro-batch, or snapshot it first.
  *
  * The state lives in this session only; in production the standing
  * set is a keyed table and the fold a MERGE INTO.
  */
final class StandingFold(step: (Option[DataFrame], DataFrame) => DataFrame)
    extends Serializable {

  @volatile private var standing: Option[DataFrame] = None
  @volatile private var handle: Option[org.apache.spark.rdd.RDD[_]] = None
  @volatile private var lastEpoch = -1L

  /** The standing frame; None before the first non-empty batch. */
  def current: Option[DataFrame] = standing

  /** Whether `epoch` has already been folded in (a replay). */
  def applied(epoch: Long): Boolean = epoch <= lastEpoch

  /** Runs `body` under this fold's lock. */
  def locked[A](body: => A): A = synchronized(body)

  /** Folds `batch` in as `epoch`. An empty batch leaves the standing
    * frame as it is but still counts as applied.
    */
  def advance(epoch: Long, batch: DataFrame): Unit = synchronized {
    if (!applied(epoch)) {
      if (!batch.isEmpty) {
        val next = step(standing, batch)
        val (cut, rdd) = Lineage.checkpointed(next)
        val fresh = next.sparkSession.createDataFrame(cut.rdd, cut.schema)
        handle.foreach(_.unpersist(blocking = false))
        standing = Some(fresh)
        handle = Some(rdd)
      }
      lastEpoch = epoch
    }
  }

  /** Drops the standing frame and its blocks; the fold starts over. */
  def release(): Unit = synchronized {
    handle.foreach(_.unpersist(blocking = false))
    handle = None
    standing = None
    lastEpoch = -1L
  }
}
