package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Lineage

/** k-truss peel with pinned rounds — EDGE-level cohesion, one rung
  * above [[KCore]]'s node-level degeneracy: repeatedly delete every
  * edge whose triangle support (common-neighbor count) is below
  * k−2, and what survives is the k-truss — the subgraph where every
  * remaining relationship is EMBEDDED in triangles, not merely
  * incident to well-connected endpoints. The curation distinction
  * that matters: a spam hub passes a degree test (k-core keeps it)
  * but its edges close no triangles (k-truss drops them) — truss
  * membership is the strongest of the density gates in the family
  * ([[PageRank]] centrality < core degree < truss embedding).
  *
  * Cross-engine exact by the [[KCore]] recipe verbatim: rounds are
  * PINNED, every quantity an exact long count, DuckDB replays the
  * identical peel as an unrolled CTE ([[Sql.rounds]]). Iteration
  * discipline is [[Lineage.checkpointed]] per round (each round
  * references the previous edge set four times — symmetric closure
  * twice, the support join's probe, the keep-filter join; inlined
  * that is the same exponential-plan trap KCore measured), with
  * per-round stats as bounded driver scalars and a literal result
  * frame.
  *
  * Spark shape per round: the support count is one wedge join over
  * the symmetric closure (edge ⋈ neighbors-of-u ⋈ neighbors-of-v on
  * the shared third node), a uniform (u,v)-key aggregation, and a
  * left join back so zero-triangle edges are peeled too. The wedge
  * join is the round's cost — O(Σ_edge |N(u)|) probe rows — and is
  * the same degree-bounded physics as [[Triangles.perNode]]; at
  * production scale the peel frontier-izes like CC (only edges
  * sharing a triangle with a deleted edge can lose support), but
  * the pinned-round full recompute IS the oracle-replayable form.
  *
  * Output: one row per round — (round, n_removed, n_nodes, n_edges),
  * counts AFTER the round's deletions. Bounded by R at any scale.
  */
object Truss {

  /** R pinned peel rounds at truss threshold k (edges must sit in
    * ≥ k−2 triangles) over an undirected simple edge list (u, v),
    * u < v, one row per edge. Executes eagerly; returns a literal
    * R-row frame.
    */
  def peelStats(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    var (e, eRdd) = Lineage.checkpointed(edges.select("u", "v"))
    val rows = (1 to rounds).map { r =>
      val nEdgesPrev = e.count()
      val sym = e.select(col("u").as("s"), col("v").as("t"))
        .unionAll(e.select(col("v").as("s"), col("u").as("t")))
      val sup = e
        .join(sym.select(col("s").as("u"), col("t").as("w")), Seq("u"))
        .join(sym.select(col("s").as("v"), col("t").as("w")), Seq("v", "w"))
        .groupBy("u", "v").agg(count(lit(1)).as("sup"))
      val (next, nextRdd) = Lineage.checkpointed(
        e.join(sup, Seq("u", "v"), "left")
          .filter(coalesce(col("sup"), lit(0L)) >= (k - 2).toLong)
          .select("u", "v"))
      val nEdges = next.count()
      val nNodes = graft.ops.Grids.boundedHead(
        next.select(col("u").as("n"))
          .unionAll(next.select(col("v").as("n")))
          .agg(countDistinct(col("n")).as("n_nodes")),
        "truss_round_gauge").getLong(0)
      eRdd.unpersist(blocking = false)
      e = next; eRdd = nextRdd
      (r.toLong, nEdgesPrev - nEdges, nNodes, nEdges)
    }
    eRdd.unpersist(blocking = false)
    val spark = edges.sparkSession
    import spark.implicits._
    rows.toDF("round", "n_removed", "n_nodes", "n_edges")
  }

  /** DuckDB mirror: unrolled rounds over a CTE `e0` (u, v) — emits
    * `sym1/sup1/e1/s1 … s{rounds}` with the identical peel; select
    * [[KCore.Sql.select]]-style after it. Every CTE MATERIALIZED for
    * the same planner-blow-up reason KCore documents.
    */
  object Sql {

    def rounds(k: Int, n: Int): String =
      (1 to n).map { r =>
        val p = r - 1
        s"""sym$r AS MATERIALIZED (SELECT u AS s, v AS t FROM e$p
           |  UNION ALL SELECT v, u FROM e$p),
           |sup$r AS MATERIALIZED (SELECT e.u, e.v, count(*) AS sup
           |  FROM e$p e JOIN sym$r a ON a.s = e.u
           |  JOIN sym$r b ON b.s = e.v AND b.t = a.t
           |  GROUP BY 1, 2),
           |e$r AS MATERIALIZED (SELECT e.u, e.v FROM e$p e
           |  LEFT JOIN sup$r s ON s.u = e.u AND s.v = e.v
           |  WHERE coalesce(s.sup, 0) >= ${k - 2}),
           |s$r AS MATERIALIZED (SELECT CAST($r AS BIGINT) AS round,
           |  ((SELECT count(*) FROM e$p) - (SELECT count(*) FROM e$r))::BIGINT
           |    AS n_removed,
           |  (SELECT count(DISTINCT n) FROM (
           |    SELECT u AS n FROM e$r UNION ALL SELECT v FROM e$r))::BIGINT
           |    AS n_nodes,
           |  (SELECT count(*) FROM e$r)::BIGINT AS n_edges)""".stripMargin
      }.mkString(",\n")

    def select(n: Int): String =
      (1 to n).map(r => s"SELECT * FROM s$r")
        .mkString("", " UNION ALL ", " ORDER BY round")
  }
}
