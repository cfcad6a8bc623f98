package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Lineage

/** Multi-seed level-synchronized BFS with EXACT shortest-path counts
  * (σ) — the integer core of Brandes-style centrality, pivot-sampled
  * the Brandes–Pich way (a pinned handful of seeds instead of all
  * sources). Classic betweenness accumulates σ-RATIO dependencies
  * (rationals — not hash-comparable cross-engine); STRESS centrality
  * needs only σ products, so path counts stay exact longs end to end
  * and the whole operator is oracle-gateable.
  *
  * Round r discovers exactly the nodes at BFS distance r from each
  * seed, with σ(seed, v) = Σ over (u → v) edges, u at level r−1, of
  * σ(seed, u) — nodes reached at an earlier level are anti-joined
  * away, so only SHORTEST paths are counted. A pinned round count is
  * therefore not an approximation with a tolerance but a precisely
  * defined radius-r horizon (the [[Sssp]] framing).
  *
  * Spark shape per round: one frontier-join shuffle on the edge key +
  * one (seed, node) agg; the path table stays fully distributed,
  * bounded by |seeds|·|V| rows. Lineage: [[Lineage.checkpointed]] on
  * the (join-derived) edge input and the per-round re-cut discipline
  * of [[KCore]] on the path table — each round references it twice
  * (frontier + anti-join), so an uncut plan doubles per round.
  */
object Stress {

  /** `rounds` BFS levels from `seeds` (one `seed` column) over a
    * directed edge list `(src, dst)` — symmetrize first for
    * undirected graphs. Returns `(seed, node, d, sigma)` for every
    * node within `rounds` edges of its seed; exact longs.
    */
  def sigmaTable(edges: DataFrame, seeds: DataFrame, rounds: Int,
      track: org.apache.spark.rdd.RDD[_] => Unit = _ => ()): DataFrame = {
    // partition + sort the edge table by the probe key ONCE, before
    // the lineage cut ([[Lineage.checkpointedKeyed]]): the keyed leaf
    // advertises hashpartitioning(src)+ordering, so each round's
    // frontier SortMergeJoin reuses the layout instead of re-exchanging
    // and re-sorting |E| every round (guide §2.4 — establish the
    // partitioning once; rounds × (exchange+sort of E) → once)
    val (e, eRdd) = Lineage.checkpointedKeyed(edges.select("src", "dst"), "src")
    var p = seeds.select(col("seed"), col("seed").as("node"),
      lit(0L).as("d"), lit(1L).as("sigma"))
    var pRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    for (r <- 1 to rounds) {
      val f = p.filter(col("d") === (r - 1).toLong)
        .join(e, col("node") === col("src"))
        .groupBy(col("seed"), col("dst"))
        .agg(sum("sigma").as("sigma"))
        .select(col("seed"), col("dst").as("node"),
          lit(r.toLong).as("d"), col("sigma"))
      val fresh = f.join(p.select("seed", "node"),
        Seq("seed", "node"), "left_anti")
      val (next, nextRdd) = Lineage.checkpointed(p.unionAll(fresh))
      pRdd.foreach(_.unpersist(blocking = false))
      p = next
      pRdd = Some(nextRdd)
    }
    pRdd.foreach(track)
    eRdd.unpersist(blocking = false)
    p
  }

  /** DuckDB mirror fragments — the caller defines `e(src, dst)` and
    * `p0(seed, node, d, sigma)` CTEs; this unrolls the identical BFS
    * rounds as `f1/p1 .. fN/pN` (MATERIALIZED per round — the
    * [[KCore]] planner-blow-up reason, and because each pK is
    * referenced by both fK+1 and pK+1).
    */
  object Sql {
    def rounds(n: Int): String =
      (1 to n).map { k =>
        s"""f$k AS MATERIALIZED (
           |  SELECT p.seed, e.dst AS node, CAST($k AS BIGINT) AS d,
           |    CAST(sum(p.sigma) AS BIGINT) AS sigma
           |  FROM p${k - 1} p JOIN e ON e.src = p.node
           |  WHERE p.d = ${k - 1} GROUP BY 1, 2),
           |p$k AS MATERIALIZED (SELECT * FROM p${k - 1} UNION ALL
           |  SELECT f.seed, f.node, f.d, f.sigma FROM f$k f
           |  WHERE NOT EXISTS (SELECT 1 FROM p${k - 1} v
           |                    WHERE v.seed = f.seed AND v.node = f.node))""".stripMargin
      }.mkString(",\n")
  }
}
