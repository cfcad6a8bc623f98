package graft.stream

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{NearDup, TextAnalysis}

/** NEAR-dup generalization of [[CurationStream]]: ONE foreachBatch
  * maintains the standing banded-MinHash signature store AND the
  * dup-cluster assignment from ONE signature scan of each document
  * arrival batch. Boilerplate and re-crawls are near-duplicates, and
  * the banding index both blocks candidate generation and answers
  * "what does this look like" lookups.
  *
  * Blocking = the repo's one banding scheme (dedup_minhash_pairs:
  * k-permutation MinHash over 3-token shingle hash sets, bands of
  * r = 2 rows keyed (band, h1, h2), empty sets band to null = no
  * candidates), so the streaming store is byte-compatible with the
  * batch pipeline's. Candidates sharing ≥ 1 band are re-ranked by
  * EXACT Jaccard on the bound hash sets.
  *
  * The stream ≡ batch twin is EXACT even though banding is
  * approximate: both arms use the identical band criterion and
  * re-rank, and every unordered pair is examined by exactly one side —
  * intra-batch when the two docs arrive together, arrival × standing
  * when they don't (NearDupCurationStreamSpec). Per batch the fold
  * shuffles |batch signatures| + |band-key matches| + |Δ-connected
  * state|; the standing store is touched by key lookup only.
  */
object NearDupCurationStream {

  val BandR = 2

  /** One signature scan of a (doc_id, text) batch: tokens → shingle
    * hash set → MinHash signature → one row per band,
    * (doc_id, band, h1, h2, hs). `hs` rides along bound to every
    * band row so the Jaccard re-rank never rejoins the corpus.
    */
  def signatures(docs: DataFrame, minhashK: Int, shingleK: Int): DataFrame = {
    val numBands = minhashK / BandR
    val sig = docs.select(col("doc_id").cast("long").as("doc_id"),
      NearDup.shingleHashSet(TextAnalysis.tokens(col("text")), shingleK).as("hs"))
      .select(col("doc_id"), col("hs"),
        NearDup.minhashSigs(col("hs"), minhashK).as("ms"))
    val bandArr = array((0 until numBands).map { j =>
      struct(lit(j).as("band"),
        get(col("ms"), lit(j * BandR)).as("h1"),
        get(col("ms"), lit(j * BandR + 1)).as("h2"))
    }: _*)
    sig.select(col("doc_id"), col("hs"), explode(bandArr).as("tb"))
      .select(col("doc_id"), col("tb.band").as("band"),
        col("tb.h1").as("h1"), col("tb.h2").as("h2"), col("hs"))
  }

  /** Near-dup edges: band-key candidates, distinct pairs,
    * exact-Jaccard ≥ threshold. Returns (src, dst).
    */
  private[stream] def dupEdges(newly: DataFrame, standing: Option[DataFrame],
      jacThreshold: Double): DataFrame =
    CurationStream.blockedPairs(newly, standing, "doc_id", Seq("band", "h1", "h2"))(
      _.select(col("x.doc_id").as("src"), col("y.doc_id").as("dst"),
          col("x.hs").as("hsa"), col("y.hs").as("hsb"))
        .distinct() // a pair may collide in several bands — score once
        .filter(round(NearDup.jaccard(col("hsa"), col("hsb")), 6) >= jacThreshold)
        .select("src", "dst"))

  /** In-session fused standing store on [[CurationStream.Fused]]. */
  final class Maintainer(jacThreshold: Double, minhashK: Int = 16,
      shingleK: Int = 3) extends CurationStream.Fused(
      signatures(_, minhashK, shingleK),
      dupEdges(_, _, jacThreshold)) {

    /** Current standing signature store (doc_id, band, h1, h2, hs) —
      * the banding index a lookup path probes by band key.
      */
    def bandIndex: Option[DataFrame] = store
  }
}
