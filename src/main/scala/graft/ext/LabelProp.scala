package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Lineage

/** Synchronous label propagation (Raghavan-style LPA) with pinned
  * rounds and a pinned tie rule — community detection as a curation
  * signal (near-duplicate *clusters* come from [[Dedup.connectedComponents]];
  * LPA finds the softer "densely-interlinked neighborhood" structure a
  * component sweep cannot see, because CC merges everything reachable
  * while LPA lets dense cores outvote bridge edges).
  *
  * Cross-engine exact by construction — no floats anywhere: every
  * round each node adopts the most frequent label among its neighbors
  * plus itself (the self-vote is the standard damping fix for the
  * 2-cycle oscillation synchronous LPA exhibits on bipartite graphs),
  * with ties broken to the SMALLEST label. Argmax-with-tie is
  * deliberately computed as max-count-then-min-label (two bounded
  * aggregations) rather than an `arg_max`/`max_by` call: both engines'
  * arg-max tie behavior is unspecified, and the explicit form is the
  * only portable pin. Rounds are pinned, so each round is a pure
  * integer function of the edge set and DuckDB replays the identical
  * iteration as an unrolled CTE ([[Sql.rounds]]).
  *
  * Spark shape per round: edges⋈labels on the src key (ONE uniform
  * shuffle — votes then arrive dst-partitioned for the count), two
  * map-side-partial aggregations bounded by |candidate labels per
  * node| ≤ degree, and the label vector stays fully distributed (no
  * driver state — web-scale |nodes| safe). Each round's labels are
  * localCheckpoint'd ([[Lineage.checkpointed]]) so lineage stays flat at
  * diameter-scale round counts, same discipline as the CC/k-core
  * loops.
  */
object LabelProp {

  /** `rounds` synchronous LPA rounds over an already-SYMMETRIZED edge
    * list (src, dst). Self-votes are added internally. Returns
    * (node, label).
    */
  def labels(edges: DataFrame, rounds: Int): DataFrame = {
    val nodes = edges.select(col("src").as("node")).distinct()
    // partitioned + sorted on the vote key before the cut
    // ([[Lineage.checkpointedKeyed]]): every round's vote SortMergeJoin
    // reuses the keyed leaf's layout instead of re-exchanging and
    // re-sorting |E|+|V| rows (guide §2.4)
    val (ev, evRdd) = Lineage.checkpointedKeyed(
      edges.select("src", "dst").unionAll(
        nodes.select(col("node").as("src"), col("node").as("dst"))), "src")
    var (l, lRdd) = Lineage.checkpointed(nodes.withColumn("label", col("node")))
    for (_ <- 1 to rounds) {
      val counts = ev
        .join(l.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val mx = counts.groupBy("node").agg(max("cnt").as("mc"))
      // the self-loop guarantees every node casts ≥1 vote, so the
      // winner set covers all nodes — no outer join needed
      val winner = counts.join(mx, Seq("node"))
        .filter(col("cnt") === col("mc"))
        .groupBy("node").agg(min("label").as("label"))
      val (next, nextRdd) = Lineage.checkpointed(winner)
      lRdd.unpersist(blocking = false)
      l = next; lRdd = nextRdd
    }
    evRdd.unpersist(blocking = false)
    l
  }

  /** DuckDB mirror: unrolled rounds over CTEs `edges` (symmetrized
    * src, dst), `nodes`, `ev` (edges + self-loops), `l0` … `l{rounds}`
    * — identical vote/tie update. The final labels are `l{rounds}`.
    */
  object Sql {

    def rounds(n: Int): String = {
      val base =
        s"""nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
           |ev AS MATERIALIZED (SELECT src, dst FROM edges
           |       UNION ALL SELECT node, node FROM nodes),
           |l0 AS MATERIALIZED (SELECT node, node AS label FROM nodes)""".stripMargin
      val steps = (1 to n).map { k =>
        val p = k - 1
        s"""c$k AS MATERIALIZED (SELECT e.dst AS node, l.label, count(*) AS cnt
           |  FROM ev e JOIN l$p l ON e.src = l.node GROUP BY 1, 2),
           |m$k AS MATERIALIZED (SELECT node, max(cnt) AS mc FROM c$k GROUP BY 1),
           |l$k AS MATERIALIZED (SELECT c.node, min(c.label) AS label
           |  FROM c$k c JOIN m$k m ON c.node = m.node AND c.cnt = m.mc
           |  GROUP BY 1)""".stripMargin
      }
      (base +: steps).mkString(",\n")
    }
  }
}
