package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Scd2

/** Streaming SCD2 maintenance — the foreachBatch form of the batch
  * merge whose merge ≡ rebuild contract Scd2PropertySpec proves.
  *
  * The standing state is the CHANGE-POINT set, and change-point
  * collapse is per-key and idempotent on an already-collapsed
  * sequence, so one micro-batch of an append-only change log folds in
  * as
  *
  *   standing' = untouched(standing)
  *             ∪ changePoints(touched(standing) ∪ batch)
  *
  * where touched = keys present in the batch. Untouched keys carry
  * their rows forward byte-identical; touched keys re-collapse from
  * their own change points plus the new rows only.
  *
  * Contract (same as [[Scd2.merge]]): append-only per key — a batch
  * row must be dated at or after its key's standing history. A LATE
  * mid-history row needs the full-rebuild path, because collapse
  * already discarded the log rows that would re-expand around it.
  *
  * 100 TB shape: per batch ONE uniform dimension-key shuffle over
  * (touched standing rows + batch rows), never O(|dimension|); the
  * standing set is bounded by the value-transition count.
  */
object Scd2Stream {

  /** One micro-batch fold into a standing change-point set.
    * `standing` and the result carry (key, value, ts, seq) — exactly
    * [[Scd2.changePoints]]' shape.
    */
  def mergeBatch(standing: DataFrame, batch: DataFrame, key: String,
      value: String, ts: String, seq: String): DataFrame = {
    val b = batch.select(col(key), col(value), col(ts), col(seq))
    val keys = b.select(key).distinct()
    val untouched = standing.join(keys, Seq(key), "left_anti")
    val touched = standing.join(keys, Seq(key), "left_semi")
    untouched.unionAll(
      Scd2.changePoints(touched.unionAll(b), key, value, ts, seq))
  }

  /** In-session standing store for the foreachBatch sink: folds each
    * micro-batch with [[mergeBatch]] on a [[StandingFold]] (whose frame
    * lifetime its getters follow).
    */
  final class Maintainer(key: String, value: String,
      ts: String, seq: String) extends Serializable {

    private val fold = new StandingFold({
      case (Some(st), batch) => mergeBatch(st, batch, key, value, ts, seq)
      case (None, batch)     => Scd2.changePoints(batch, key, value, ts, seq)
    })

    /** The foreachBatch body; a replayed `batchId` is a no-op. */
    def merge(batch: DataFrame, batchId: Long): Unit = fold.advance(batchId, batch)

    /** Current standing change points (empty before the first batch). */
    def changePoints: Option[DataFrame] = fold.current

    /** The effective-dated history (versions, [valid_from, valid_to),
      * is_current): identical to [[Scd2.build]] over the full change
      * log consumed so far, since build re-derives all of it from the
      * change points.
      */
    def history(): Option[DataFrame] =
      fold.current.map(st => Scd2.build(st, key, value, ts, seq))

    def release(): Unit = fold.release()
  }
}
