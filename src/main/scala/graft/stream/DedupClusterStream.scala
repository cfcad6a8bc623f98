package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** Streaming maintenance of the near-dup CLUSTER state — the
  * foreachBatch form of the batch `dedup_components` op.
  *
  * The standing state is the (node → component) assignment with the
  * component id the MINIMUM member node (exactly
  * [[Dedup.connectedComponents]]' min-label fixpoint), and star
  * contraction preserves connectivity — a component {n₁ < n₂ < …} is
  * connectivity-equivalent to its star edges {(nᵢ, n₁)}. So one
  * micro-batch of new similarity edges folds in as
  *
  *   standing' = untouched(standing)
  *             ∪ CC(star(touched(standing)) ∪ batchEdges)
  *
  * where touched = components holding ANY endpoint of the batch.
  * Untouched components carry their rows forward byte-identical;
  * touched components re-merge from their own star edges plus the new
  * edges only — including a batch edge that BRIDGES two standing
  * components (the new representative is the global min, exactly as
  * a full rebuild would assign).
  *
  * Contract: edges are insert-only; nodes appear in the state only
  * once they occur on an edge (matching dedup_components).
  *
  * 100 TB shape: per batch the fold shuffles |touched assignments| +
  * |batch edges| on uniform node keys, never |all clusters|.
  */
object DedupClusterStream {

  /** One micro-batch fold: `standing` is (node, comp) with comp = min
    * member; `batch` carries new undirected similarity edges
    * (srcCol, dstCol). Returns the next (node, comp) standing set.
    *
    * The comp = min-member invariant the star contraction builds on
    * is GUARANTEED by [[Dedup.connectedComponents]]: it throws rather
    * than return partial labels, which would corrupt the standing
    * state permanently.
    */
  def mergeBatch(standing: DataFrame, batch: DataFrame,
      srcCol: String, dstCol: String): DataFrame = {
    val b = batch.select(col(srcCol).cast("long").as("a"),
      col(dstCol).cast("long").as("b"))
    val bNodes = b.select(col("a").as("node"))
      .unionAll(b.select(col("b").as("node"))).distinct()
    val touchedComps = standing.join(bNodes, Seq("node"), "left_semi")
      .select("comp").distinct()
    val untouched = standing.join(touchedComps, Seq("comp"), "left_anti")
    val touched = standing.join(touchedComps, Seq("comp"), "left_semi")
    // star contraction: every non-representative member contributes
    // one (member, representative) edge; the representative is itself
    // a member node, so connectivity (and the min) is preserved
    val star = touched.filter(col("node") =!= col("comp"))
      .select(col("node").as("a"), col("comp").as("b"))
    val merged = Dedup.connectedComponents(star.unionAll(b), "a", "b")
    untouched.select("node", "comp")
      .unionAll(merged.select("node", "comp"))
  }

  /** In-session standing store for the foreachBatch sink: folds each
    * micro-batch of edges with [[mergeBatch]] on a [[StandingFold]];
    * [[assignments]] follows its frame lifetime.
    */
  final class Maintainer(srcCol: String, dstCol: String)
      extends Serializable {

    private val fold = new StandingFold({
      case (Some(st), batch) => mergeBatch(st, batch, srcCol, dstCol)
      case (None, batch) =>
        Dedup.connectedComponents(
          batch.select(col(srcCol).cast("long").as("a"),
            col(dstCol).cast("long").as("b")), "a", "b")
          .select("node", "comp")
    })

    /** The foreachBatch body; a replayed `batchId` is a no-op. */
    def merge(batch: DataFrame, batchId: Long): Unit = fold.advance(batchId, batch)

    /** Current (node, comp) assignment — empty before the first batch. */
    def assignments: Option[DataFrame] = fold.current

    def release(): Unit = fold.release()
  }
}
