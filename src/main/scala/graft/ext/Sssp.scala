package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Lineage

/** Truncated Bellman-Ford single-source shortest path — the min-plus
  * companion to [[PageRank]]'s sum-times semiring: the same
  * one-shuffle-per-round relational iteration, with (+, ×) swapped
  * for (min, +). Round r holds the EXACT minimum cost over paths of
  * ≤ r edges, so a pinned round count is not an approximation with a
  * tolerance but a precisely defined radius-r distance — which is
  * what makes the operator hash-comparable cross-engine (DuckDB
  * replays the identical unrolled iteration via [[Sql.rounds]]).
  *
  * Spark shape per round: frontier-join on the src key (one uniform
  * shuffle), candidate distances union the previous vector, min-agg
  * per node (map-side partial combines candidates before the
  * exchange). The distance vector stays fully distributed — no
  * driver state — and all arithmetic is exact longs: integer weights
  * in, integer path costs out, no float accumulation anywhere.
  * Lineage: one [[Lineage.checkpointed]] cut on the (usually
  * join-derived) edge input, which every round re-references, plus
  * the per-round re-cut discipline of [[KCore]] on the distance
  * vector itself — each round references the previous vector twice
  * (relax + union), so an uncut plan doubles per round (2^rounds
  * leaf refs by optimization time); superseded rounds release by
  * their own RDD handle, the final one via the caller's `track`.
  */
object Sssp {

  /** `rounds` min-plus relaxations over a weighted directed edge
    * list `(u, v, w)` — symmetrize first for undirected graphs —
    * from a seed frame `(node, dist)` (usually one row at dist 0;
    * multi-source works unchanged and yields the distance to the
    * NEAREST seed). Returns `(node, dist)` for every node within
    * `rounds` edges of a seed; exact longs end to end.
    */
  def distances(edges: DataFrame, seed: DataFrame, rounds: Int,
      track: org.apache.spark.rdd.RDD[_] => Unit = _ => ()): DataFrame = {
    // partition + sort by the relax key once, before the lineage cut
    // ([[Lineage.checkpointedKeyed]]): the keyed leaf advertises the
    // layout, so every round's relax SortMergeJoin skips the
    // edge-side Exchange and Sort (rounds × (exchange+sort of E) →
    // once; the Stress/Triangles discipline, guide §2.4)
    val (e, eRdd) = Lineage.checkpointedKeyed(edges.select("u", "v", "w"), "u")
    var d = seed.select(col("node"), col("dist"))
    // per-round lineage cut (the KCore discipline): without it the
    // distance frame references itself twice per round (relax +
    // union), so the LOGICAL plan doubles per round — 2^rounds leaf
    // refs by Catalyst optimization time (round-8 advice). Each
    // superseded round's block set is released by its own handle; the
    // final round's handle goes to `track` for end-of-sweep release.
    var dRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    for (r <- 1 to rounds) {
      val relax = e
        .join(d.withColumnRenamed("node", "u"), Seq("u"))
        .select(col("v").as("node"), (col("dist") + col("w")).as("dist"))
      val (next, nextRdd) = Lineage.checkpointed(
        d.unionAll(relax).groupBy("node").agg(min("dist").as("dist")))
      dRdd.foreach(_.unpersist(blocking = false))
      d = next
      dRdd = Some(nextRdd)
    }
    dRdd.foreach(track)
    eRdd.unpersist(blocking = false)
    d
  }

  /** DuckDB mirror fragments — the caller defines `e(u, v, w)` and
    * `d0(node, dist)` CTEs; this unrolls the identical min-plus
    * rounds as `d1..dN` (MATERIALIZED per round for the same
    * planner-blow-up reason [[KCore]] documents).
    */
  object Sql {
    def rounds(n: Int): String =
      (1 to n).map { i =>
        s"""d$i AS MATERIALIZED (
           |  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
           |    SELECT node, dist FROM d${i - 1}
           |    UNION ALL
           |    SELECT e.v AS node, d${i - 1}.dist + e.w AS dist
           |    FROM d${i - 1} JOIN e ON d${i - 1}.node = e.u)
           |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
  }
}
