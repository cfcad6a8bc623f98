package graft.ext

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

import graft.ops.Lineage

/** Integer-exact PageRank with pinned rounds — link-graph centrality
  * as a curation prior (the RefinedWeb/CCNet-shaped signal: a page's
  * position in the link graph gates whether its text enters the
  * corpus; here the same operator over the customer↔supplier
  * purchase graph).
  *
  * Cross-engine exact by the [[Lloyd]] recipe applied to graph
  * iteration: ranks are scaled longs (×10⁶), every per-edge
  * contribution is the truncating integer division
  * `rank(src) div deg(src)` (all values non-negative, so truncation
  * IS floor and Spark's `div` and DuckDB's `//` agree), the damping
  * update is `base + (85·Σcontrib) div 100`, and rounds are pinned —
  * each round a pure integer function of the graph, so DuckDB
  * replays the identical iteration as an unrolled CTE
  * ([[Sql.rounds]]) and must land on identical ranks. (Float
  * PageRank sums in engine-and-partition-dependent order; it can
  * never be hash-compared. Integer quantization at ×10⁶ keeps five
  * to six significant digits of the [0,1] rank — more than link-spam
  * gating uses.)
  *
  * Spark shape per round: edges join ranks on the src key (one
  * uniform shuffle), per-dst sum (map-side partial), left join back
  * to the node set so sinks keep the base rank. No driver-side
  * state at all — unlike Lloyd's K×D model the rank vector stays
  * distributed, which is the right call when |nodes| is web-scale.
  * Rounds are pinned small (centrality gating uses the coarse
  * ordering, which stabilizes in a few rounds); at diameter-scale
  * round counts the lineage-cut discipline of
  * [[Lineage.checkpointed]] applies unchanged.
  */
object PageRank {

  /** Rank scale (×10⁶) and the standard 0.85 damping as integers. */
  val Scale = 1000000L
  val DampNum = 85L
  val Base: Long = (100L - DampNum) * Scale / 100L

  /** `rounds` iterations over a directed edge list (src, dst) —
    * symmetrize the edges first for undirected graphs. Returns
    * (node, rank) with rank a scaled long.
    */
  def ranks(edges: DataFrame, rounds: Int): DataFrame = {
    // one lineage cut on the (often join-derived) edge input: every
    // round references it for the contribution join, and deg/nodes
    // reference it again — without the cut the caller's edge
    // construction (g1: orders⋈lineitem DISTINCT) re-executes per
    // reference inside the single final action
    // partitioned + sorted on the contribution key before the cut
    // ([[Lineage.checkpointedKeyed]]): the checkpoint leaf advertises
    // the layout, so every round's contribution SortMergeJoin and the
    // deg/nodes aggregations (all keyed on src) skip the edge-side
    // Exchange and Sort (rounds × (exchange+sort of E) → once)
    val (e, _) = Lineage.checkpointedKeyed(edges.select("src", "dst"), "src")
    val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
    val nodes = e.select(col("src").as("node")).distinct()
    var r = nodes.withColumn("rank", lit(Scale))
    for (_ <- 1 to rounds) {
      val contrib = e
        .join(r.withColumnRenamed("node", "src"), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst").as("node"),
          call_function("div", col("rank"), col("d")).as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      r = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(Base) + call_function("div",
            lit(DampNum) * coalesce(col("s"), lit(0L)), lit(100L))).as("rank"))
    }
    r
  }

  /** Personalized (seed-teleport) variant — the trusted-seed trust
    * propagation of TrustRank/SmartSelect-style curation: teleport
    * mass returns ONLY to seed nodes (rank_0 = Scale·seed; per round
    * rank = seed·Base + div(85·Σ contrib, 100)), so rank measures
    * proximity to the trusted set instead of global centrality —
    * non-seed nodes hold rank only insofar as seed mass flows to
    * them. Same exact-integer discipline as [[ranks]]; `seedPred` is
    * a predicate over `col("node")` evaluated once into an 0/1 seed
    * column (both engines), keeping every round a pure integer
    * function of (edges, seeds).
    */
  def personalizedRanks(edges: DataFrame, seedPred: Column,
      rounds: Int): DataFrame = {
    // same lineage cut + partition-once layout as [[ranks]]
    val (e, _) = Lineage.checkpointedKeyed(edges.select("src", "dst"), "src")
    val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
    val nodes = e.select(col("src").as("node")).distinct()
      .withColumn("seed", when(seedPred, lit(1L)).otherwise(lit(0L)))
    var r = nodes.select(col("node"), (col("seed") * Scale).as("rank"))
    for (_ <- 1 to rounds) {
      val contrib = e
        .join(r.withColumnRenamed("node", "src"), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst").as("node"),
          call_function("div", col("rank"), col("d")).as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      r = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"),
          (col("seed") * Base + call_function("div",
            lit(DampNum) * coalesce(col("s"), lit(0L)), lit(100L))).as("rank"))
    }
    r
  }

  /** DuckDB mirror: unrolled rounds over CTEs `edges` (src, dst),
    * `deg`, `nodes`, `r0` … `r{rounds}` — identical integer update.
    */
  object Sql {

    def rounds(n: Int): String = {
      val base =
        s"""deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
           |nodes AS (SELECT DISTINCT src AS node FROM edges),
           |r0 AS (SELECT node, CAST($Scale AS BIGINT) AS rank FROM nodes)""".stripMargin
      val steps = (1 to n).map { k =>
        val p = k - 1
        s"""c$k AS (SELECT e.dst AS node, CAST(sum(r.rank // d.d) AS BIGINT) AS s
           |  FROM edges e JOIN r$p r ON e.src = r.node
           |  JOIN deg d ON e.src = d.src GROUP BY 1),
           |r$k AS (SELECT n.node,
           |    CAST($Base + ($DampNum * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank
           |  FROM nodes n LEFT JOIN c$k c ON n.node = c.node)""".stripMargin
      }
      (base +: steps).mkString(",\n")
    }

    /** Personalized mirror of [[personalizedRanks]]: `seedSql` is a
      * predicate over bare `node`, folded once into a 0/1 `seed`
      * column so the round CTEs never re-evaluate it ambiguously.
      */
    def personalizedRounds(n: Int, seedSql: String): String = {
      val base =
        s"""deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
           |nodes AS (SELECT node,
           |    CASE WHEN $seedSql THEN 1 ELSE 0 END AS seed
           |  FROM (SELECT DISTINCT src AS node FROM edges)),
           |r0 AS (SELECT node, CAST(seed * $Scale AS BIGINT) AS rank FROM nodes)""".stripMargin
      val steps = (1 to n).map { k =>
        val p = k - 1
        s"""c$k AS (SELECT e.dst AS node, CAST(sum(r.rank // d.d) AS BIGINT) AS s
           |  FROM edges e JOIN r$p r ON e.src = r.node
           |  JOIN deg d ON e.src = d.src GROUP BY 1),
           |r$k AS (SELECT n.node,
           |    CAST(n.seed * $Base + ($DampNum * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank
           |  FROM nodes n LEFT JOIN c$k c ON n.node = c.node)""".stripMargin
      }
      (base +: steps).mkString(",\n")
    }
  }
}
