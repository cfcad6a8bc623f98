package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ext.{Pq, Similarity}
import graft.ops.Lineage

/** Built-ins-only reference forms of native or fused operators. The
  * query path never calls them; the specs check the fast forms
  * against them row for row (TrianglesSpec, PqCodesSpec,
  * FloatVecDotSpec).
  */
object ReferenceForms {

  /** The round-7..15 wedge-probe pipeline — kept as the SEMANTIC
    * REFERENCE the fused intersection form is spec-checked against
    * (TrianglesSpec), never on the query path.
    */
  def perNodeWedge(edges: DataFrame): DataFrame = {
    // materialize the (often expensive — a co-purchase self-join in
    // g2's case) edge input ONCE: `edges` is referenced by the degree
    // agg, both orientation lookups, and the closing join — without a
    // lineage cut Spark recomputes the whole upstream per reference
    // (measured: g2 23.0 → 4.4 s at sf0.1). Same for `oriented`,
    // referenced three times (two wedge legs + closing edge). Blocks
    // are reclaimed by the ContextCleaner when the plan is dropped.
    val (e, _) = Lineage.checkpointed(edges.select("u", "v"))
    val deg = e.select(col("u").as("n"))
      .unionAll(e.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    // partitioned + sorted on the wedge key before the lineage cut
    // ([[Lineage.checkpointedKeyed]]): the keyed leaf advertises the
    // layout, so the wedge self-join's two legs (both keyed on src)
    // skip their Exchange AND Sort entirely — the SMJ degenerates to
    // a merge over the stored order (guide §2.4; the 82M-row wedge
    // OUTPUT was never shuffled anyway, it streams into the broadcast
    // closing probe)
    val (oriented, _) = Lineage.checkpointedKeyed(e
      .join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
      .select(
        when(fwd, col("u")).otherwise(col("v")).as("src"),
        when(fwd, col("v")).otherwise(col("u")).as("dst")), "src")
    val o1 = oriented.select(col("src").as("x"), col("dst").as("y"))
    val o2 = oriented.select(col("src").as("x"), col("dst").as("z"))
    val wedges = o1.join(o2, Seq("x")).filter(col("y") =!= col("z"))
    // Closing join sides are wildly asymmetric: |E| edge rows vs
    // Σ outdeg² wedge rows (1.2M vs 82M on the sf0.1 co-purchase
    // graph — ~19 MB of longs, just over Spark's 10 MB
    // auto-broadcast default, so Catalyst picks a sort-merge that
    // exchanges and sorts the WEDGE side). Broadcasting the edge
    // list converts that into a map-side hash probe — the wedge
    // stream never shuffles (measured: g2 cold samples 35 → 10.7 s
    // median at sf0.1, on par with DuckDB's 11.2 s for the same
    // pipeline — the residual IS the 82M-wedge stream, the
    // algorithm's real Σ outdeg² cost). Guarded by edge count:
    // past ~10M edges the
    // broadcast stops paying and a web-scale graph reverts to SMJ —
    // e is already checkpointed, so the count is a cheap block scan.
    val closing = oriented.select(col("src").as("y"), col("dst").as("z"))
    val closingSide =
      if (e.count() <= 10000000L) broadcast(closing) else closing
    val tri = wedges.join(closingSide, Seq("y", "z"))
    // one pass over the wedge join's output: the explode replaces a
    // triple unionAll that recomputed the join per corner role
    val perN = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("tri"))
    deg.join(perN, Seq("n"), "left")
      .select(col("n"), col("deg"), coalesce(col("tri"), lit(0L)).as("tri"))
  }

  /** The round-15 relational encode — kept as the SEMANTIC REFERENCE
    * the native path is spec-checked against (PqCodesSpec), never on
    * the query path.
    */
  def encodeRelational(corpus: DataFrame,
      codebooks: Seq[Seq[Seq[Long]]], subDim: Int): DataFrame = {
    val cb = Pq.codebookDf(corpus.sparkSession, codebooks)
    Pq.subvectors(corpus, codebooks.length, subDim)
      .join(broadcast(cb), Seq("m"))
      .withColumn("ds", Pq.l2(col("sub"), col("cent")))
      .groupBy("vec_id", "m")
      .agg(min(struct(col("ds"), col("j"))).getField("j").as("code"))
  }

  /** Built-ins-only dot product (`zip_with` + `aggregate`) — the
    * portable formulation; kept as the semantic reference that
    * FloatVecDotSpec checks the native expression against.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, v) => acc + v)

  /** Built-ins-only formulation of [[graft.ext.Similarity.l2Normalize]]
    * — the semantic reference VecL2Norm is spec-checked against. The
    * divisor rides in via zip_with + array_repeat so norm(a) is
    * evaluated ONCE per row — a plain transform lambda re-evaluates its
    * captured expression per ELEMENT (O(d²) per row for a dot under a
    * transform).
    */
  def l2NormalizeHof(a: Column): Column = {
    val repeated = array_repeat(Similarity.norm(a), size(a))
    zip_with(a, repeated, (x, nn) => x.cast("double") / nn)
  }
}
