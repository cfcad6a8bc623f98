package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Lineage

/** Triangle census over an undirected simple graph — the local
  * clustering signal (a node's triangle count is the numerator of
  * its clustering coefficient; graph-shaped corpus curation uses it
  * the same way PageRank is used as a centrality prior: boilerplate
  * hubs have huge degree but near-zero closure, genuine communities
  * close their wedges).
  *
  * Algorithm: degree-ordered edge orientation (Ortmann/Brandes'
  * compact-forward family). Every edge is directed from the
  * (degree, id)-smaller endpoint to the larger; the orientation is
  * acyclic under that total order, so each triangle {x,y,z} with
  * x < y < z (order positions) appears EXACTLY once as out-edges
  * x→y, x→z plus closing edge y→z — wedge enumeration over ordered
  * out-neighbor pairs joined against the oriented edge list counts
  * each triangle once with no post-dedup. The orientation is also
  * the scale lever: max out-degree is O(√E) on any graph (a node
  * keeps only edges toward HIGHER-degree peers), so the wedge
  * blow-up Σ outdeg² is bounded where the naive Σ deg² explodes on
  * hubs — the difference between feasible and not on a power-law
  * web graph at 100 TB.
  *
  * Shuffle shape: degree agg (one uniform shuffle), two degree
  * lookups (|nodes| ≪ |edges| ⇒ AQE broadcasts), wedge self-join on
  * the out-source key, closing join on the (y,z) edge key. All
  * integer counts ⇒ hash-exact cross-engine.
  */
object Triangles {

  /** Per-node degree and triangle count over `edges` (u, v) — an
    * undirected simple edge list with u < v, one row per edge.
    * Output (n, deg, tri) covers every node, zero-triangle nodes
    * included.
    *
    * Round-16 form: fused adjacency-INTERSECTION census
    * ([[graft.functions.TriCredits]]) instead of materializing the
    * wedge join. For each oriented edge x→y the triangles closed
    * through it are exactly S = A_x ∩ A_y, found at exactly one edge
    * per triangle under the acyclic orientation (the apex-to-middle
    * edge — at (x,z) the closing y would need z→y, at (y,z) it would
    * need y→x, both excluded); the expression emits (x,\|S\|),
    * (y,\|S\|), (z,1)∀z∈S and a per-node sum replaces the per-corner
    * explode. Same Σ outdeg² arithmetic, but as long-compares inside
    * one eval per EDGE instead of 82 M wedge rows (sf0.1 co-purchase)
    * streamed through SMJ-merge → broadcast-probe → 3-corner explode
    * → hash agg. Measured (interleaved A/B, sf0.1, 32 threads,
    * outputs asserted identical): 7.0 → 2.3 s. The closing-side broadcast
    * and its 10 M-edge guard are GONE — the one distributed step is
    * an exchange of the edge list with adjacency payloads, each array
    * O(√E) by the orientation bound, so the shape survives scale the
    * broadcast could not. The wedge pipeline is kept in the test
    * tree as the spec-checked semantic reference (TrianglesSpec pins
    * fused ≡ wedge on random graphs).
    */
  def perNode(edges: DataFrame): DataFrame = {
    val (e, _) = Lineage.checkpointed(edges.select("u", "v"))
    val deg = e.select(col("u").as("n"))
      .unionAll(e.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    // keyed on src: the adjacency group-by and the A_x attach both
    // run partition-local on the stored layout (guide §2.4)
    val (oriented, _) = Lineage.checkpointedKeyed(e
      .join(deg.select(col("n").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("deg").as("dv")), Seq("v"))
      .select(
        when(fwd, col("u")).otherwise(col("v")).as("src"),
        when(fwd, col("v")).otherwise(col("u")).as("dst")), "src")
    val adj = oriented.groupBy("src")
      .agg(sort_array(collect_list(col("dst"))).as("adj"))
    val withBoth = oriented.join(adj, Seq("src"))
      .join(adj.select(col("src").as("dst"), col("adj").as("adjy")), Seq("dst"))
    val credits = withBoth.select(explode(call_function("tri_credits",
        col("src"), col("dst"), col("adj"), col("adjy"))).as("e"))
      .select(col("e.n").as("n"), col("e.c").as("c"))
    val perN = credits.groupBy("n").agg(sum("c").as("tri"))
    deg.join(perN, Seq("n"), "left")
      .select(col("n"), col("deg"), coalesce(col("tri"), lit(0L)).as("tri"))
  }
}
