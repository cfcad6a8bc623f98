package graft.stream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Lineage

/** Fused streaming curation: ONE foreachBatch maintains BOTH the IVF
  * postings (the [[IvfServer]] serving index) and the dup-cluster
  * state ([[DedupClusterStream]]) from ONE scan of each arrival batch
  * — a crawl lands once, and the pass that files each vector into its
  * posting cell also produces the duplicate evidence.
  *
  * The INDEX IS THE BLOCKING STRUCTURE: duplicate candidates join
  * arrivals to standing postings on the IVF `cell` the arrivals were
  * just assigned to. For exact duplicates this blocking is COMPLETE
  * (cell assignment is a deterministic function of the embedding, so
  * identical vectors always co-cell), which makes the stream ≡ batch
  * twin exact. Near-dup ([[NearDupCurationStream]]) blocks on banding
  * keys instead; the fold shape is the same.
  *
  * Per batch, from the single assigned-arrivals frame: equal-embedding
  * pairs within the batch (a < b) and against the standing postings,
  * so every duplicate pair is emitted exactly once, when the later one
  * arrives; the dup-cluster fold absorbs those edges; the postings
  * append the arrivals. Cost is O(|batch| + |candidate pairs| +
  * Δ-connected state). CurationStreamSpec shows, for ANY batching,
  * postings ≡ one batch `assignCorpus` and clusters ≡ one batch
  * `connectedComponents` over all equal-embedding pairs.
  */
object CurationStream {

  /** Candidate pairs for the arrivals `newly`, joined on equal `keys`
    * within the batch once per unordered pair (x.id < y.id) and against
    * the standing store (x.id ≠ y.id), so every pair of rows is
    * examined by exactly one side; `edges` maps each joined side
    * (x, y) to (src, dst) edges.
    */
  private[stream] def blockedPairs(newly: DataFrame, standing: Option[DataFrame],
      id: String, keys: Seq[String])(edges: DataFrame => DataFrame): DataFrame = {
    def side(other: DataFrame, order: (Column, Column) => Column) = edges(
      newly.as("x").join(other.as("y"),
        keys.map(k => col(s"x.$k") === col(s"y.$k")).reduce(_ && _) &&
          order(col(s"x.$id"), col(s"y.$id"))))
    (side(newly, _ < _) +: standing.map(side(_, _ =!= _)).toSeq).reduce(_ unionAll _)
  }

  /** Equal-embedding duplicate edges, blocked on the shared IVF cell. */
  private[stream] def dupEdges(newly: DataFrame, standing: Option[DataFrame]): DataFrame =
    blockedPairs(newly, standing, "vec_id", Seq("cell", "embedding"))(
      _.select(col("x.vec_id").as("src"), col("y.vec_id").as("dst")))

  /** The fused-curation body both curation maintainers share: ONE
    * scan of each arrival batch feeds the duplicate-edge derivation AND
    * the store append. `scan` maps a raw batch to the rows the store
    * keeps; `edges(arrivals, store)` returns (src, dst) duplicate edges
    * within the cut arrivals and between them and the standing store
    * (None before the first batch).
    *
    * Two folds, one lock: the cluster fold runs first (its edges read
    * the store as it stood before this batch), then the store append.
    * Each fold guards its own epoch, so a failure between the two
    * replays as the store append alone.
    */
  class Fused(val scan: DataFrame => DataFrame,
      val edges: (DataFrame, Option[DataFrame]) => DataFrame)
      extends Serializable {

    private val dedup = new DedupClusterStream.Maintainer("src", "dst")
    private val appended = new StandingFold({
      case (Some(st), arrivals) => st.unionAll(arrivals)
      case (None, arrivals)     => arrivals
    })

    /** The foreachBatch body; a replayed `batchId` is a no-op. */
    def ingest(batch: DataFrame, batchId: Long): Unit = appended.locked {
      if (!appended.applied(batchId)) {
        // the ONE scan, cut so the edge joins and the append both read
        // the same blocks
        val (arrivals, arrivalsRdd) = Lineage.checkpointed(scan(batch))
        try {
          dedup.merge(edges(arrivals, appended.current), batchId)
          appended.advance(batchId, arrivals)
        } finally arrivalsRdd.unpersist(blocking = false)
      }
    }

    /** Current standing store; [[StandingFold]] frame lifetime. */
    def store: Option[DataFrame] = appended.current

    /** Current (node → component) duplicate-cluster assignment. */
    def clusters: Option[DataFrame] = dedup.assignments

    def release(): Unit = appended.locked {
      appended.release()
      dedup.release()
    }
  }

  /** In-session fused standing store. `centroids` is the serving
    * geometry ([[graft.ext.IvfModel]] in production; specs pass a
    * hand geometry).
    */
  final class Maintainer(centroids: Seq[Array[Double]]) extends Fused(
      batch => StreamingAnn.assignCorpus(
        batch.select(col("vec_id").cast("long").as("vec_id"),
          col("embedding")), centroids),
      dupEdges) {

    /** Current servable postings (vec_id, embedding, cell) — feed to
      * [[StreamingAnn.scoreIvf]] exactly like an [[IvfServer]] index.
      */
    def postings: Option[DataFrame] = store
  }
}
