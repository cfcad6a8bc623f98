package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Lineage

/** k-core peel with pinned rounds — the degeneracy-ordering primitive
  * of graph curation (Seidman's k-core; Matula/Beck peel): repeatedly
  * delete nodes whose CURRENT degree is below k, and what survives is
  * the k-core — the subgraph where boilerplate-driven tendrils and
  * one-off co-occurrences have been peeled away, leaving the densely
  * connected community structure. Same curation family as
  * [[PageRank]] (global centrality) and [[Triangles]] (local
  * closure): the core number gates which documents/entities sit in a
  * robust neighborhood vs hang off the graph's periphery.
  *
  * Cross-engine exact by the [[PageRank]] recipe: rounds are PINNED
  * (the output is the R-round peel, a pure integer function of the
  * edge list — converged iff a round removes zero nodes, visible in
  * the emitted per-round stats), every quantity an exact long count,
  * so DuckDB replays the identical peel as an unrolled CTE
  * ([[Sql.rounds]]) and must land on identical rows.
  *
  * Iteration discipline = [[Lineage.checkpointed]], NOT plain caching:
  * each round's surviving edge set references the previous round
  * three times (degree agg + two anti joins), so an uncheckpointed
  * formulation grows the logical plan ~3× per round and Catalyst
  * analysis/optimization goes exponential — the round-7 first cut
  * (TrackedCache only) spent 256 s OPTIMIZING 3.4k edges at sf0.01;
  * lineage-cut per round it is sub-second. Each superseded round's
  * blocks are released by their own RDD handle (the CC discipline).
  *
  * Per-round stats are collected eagerly as driver scalars — one
  * (n_removed, n_nodes, n_edges) long-triple per round, the same
  * bounded-driver-state contract as [[Lloyd]]/[[Bpe]] model state —
  * and the result frame is a literal of those R rows, so the returned
  * plan is leaf-only and every intermediate block is already
  * released. Construction therefore EXECUTES the peel (R Spark jobs),
  * like every iterative operator here.
  *
  * Spark shape per round: one degree aggregation over the remaining
  * edges (uniform-key shuffle), a sub-k filter, two anti joins to
  * drop incident edges (the removed set is ≤ \|nodes\| and shrinks
  * fast — AQE broadcasts it), then three scalar counts over the
  * in-memory checkpointed round. At production scale the peel is
  * frontier-able exactly like [[Dedup.connectedComponents]] — only
  * neighbors of removed nodes can change degree — but the
  * pinned-round full recompute IS the oracle-replayable form, and R
  * is small (core gating uses shallow peels).
  *
  * Output: one row per round — (round, n_removed, n_nodes, n_edges),
  * node/edge counts AFTER the round's deletions. Bounded by R at any
  * data scale.
  */
object KCore {

  /** R pinned peel rounds at threshold k over an undirected simple
    * edge list (u, v), u < v, one row per edge. Executes the peel
    * eagerly (R rounds, a few small jobs each); returns a literal
    * R-row frame.
    */
  def peelStats(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    var (e, eRdd) = Lineage.checkpointed(edges.select("u", "v"))
    // The degree table is CHECKPOINTED once per round and every
    // consumer reads the materialized blocks (round-15, guide §2.4):
    // the first cut derived `bad` lazily, so the round's checkpoint
    // job aggregated degrees once and `bad.count()` re-ran the same
    // degree shuffle a second time, and n_nodes paid a THIRD shuffle
    // (countDistinct over next). Materializing deg makes bad a block
    // scan, and n_nodes is the next round's deg row count (a node has
    // an edge in `next` ⇔ it has a deg row) — per round the three
    // stats shuffles collapse into the one unavoidable degree agg.
    // This is still the PINNED full-recompute peel (degrees of every
    // edge re-aggregated each round — the frontier variant is
    // [[peelStatsFrontier]]); only the duplicate evaluations went.
    def degOf(f: DataFrame) = f.select(col("u").as("n"))
      .unionAll(f.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("dg"))
    var (deg, degRdd) = Lineage.checkpointed(degOf(e))
    val rows = (1 to rounds).map { r =>
      val bad = deg.filter(col("dg") < k).select("n")
      val nRemoved = bad.count()
      val (next, nextRdd) = Lineage.checkpointed(
        e.join(bad.withColumnRenamed("n", "u"), Seq("u"), "left_anti")
          .join(bad.withColumnRenamed("n", "v"), Seq("v"), "left_anti")
          .select("u", "v"))
      val nEdges = nextRdd.count()
      val (nextDeg, nextDegRdd) = Lineage.checkpointed(degOf(next))
      val nNodes = nextDegRdd.count()
      eRdd.unpersist(blocking = false)
      degRdd.unpersist(blocking = false)
      e = next; eRdd = nextRdd; deg = nextDeg; degRdd = nextDegRdd
      (r.toLong, nRemoved, nNodes, nEdges)
    }
    eRdd.unpersist(blocking = false)
    degRdd.unpersist(blocking = false)
    val spark = edges.sparkSession
    import spark.implicits._
    rows.toDF("round", "n_removed", "n_nodes", "n_edges")
  }

  /** The surviving edge set after R pinned peel rounds at threshold
    * k — the MEMBERSHIP companion of [[peelStats]] (stats say how
    * many survive; decomposition consumers need WHO). Same per-round
    * [[Lineage.checkpointed]] discipline, no stats actions (each round
    * is exactly one checkpoint job); the final round's block handle
    * goes to `track` for end-of-sweep release.
    */
  def peelEdges(edges: DataFrame, k: Int, rounds: Int,
      track: org.apache.spark.rdd.RDD[_] => Unit): DataFrame = {
    var (e, eRdd) = Lineage.checkpointed(edges.select("u", "v"))
    for (_ <- 1 to rounds) {
      val deg = e.select(col("u").as("n"))
        .unionAll(e.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("dg"))
      val bad = deg.filter(col("dg") < k).select("n")
      val (next, nextRdd) = Lineage.checkpointed(
        e.join(bad.withColumnRenamed("n", "u"), Seq("u"), "left_anti")
          .join(bad.withColumnRenamed("n", "v"), Seq("v"), "left_anti")
          .select("u", "v"))
      eRdd.unpersist(blocking = false)
      e = next; eRdd = nextRdd
    }
    track(eRdd)
    e
  }

  /** Frontier peel — identical output to [[peelStats]] (equality
    * proven by KCoreSpec on generated graphs and by `g3b` sharing
    * g3's oracle), with the per-round DEGREE work reduced from
    * "re-aggregate every edge" to "decrement only the neighbors of
    * what was just removed" (the CC frontier argument applied to
    * peeling, the deferred half of the round-7 scaladoc):
    *
    *  - a maintained degree table replaces the per-round full degree
    *    aggregation — the only per-round shuffle on the node key
    *    carries `lost` decrements, one row per (survivor, removed)
    *    incident edge, which is O(edges touched by the frontier),
    *    not O(all edges);
    *  - candidates for removal are read straight off the table
    *    (only nodes that lost an edge can newly drop below k, and
    *    their rows were just rewritten);
    *  - nodes whose updated degree hits 0 leave the table SILENTLY
    *    (matching pinned-round semantics, where an isolated node
    *    simply stops appearing in the edge-derived degree agg and is
    *    never counted as removed);
    *  - edge deletion stays the two anti joins (a scan, but against
    *    the AQE-broadcast shrinking removed set — no shuffle of e).
    *
    * Same per-round [[Lineage.checkpointed]] lineage discipline on BOTH
    * rolling frames (edges and degrees), superseded blocks released
    * by their RDD handles.
    */
  def peelStatsFrontier(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    var (e, eRdd) = Lineage.checkpointed(edges.select("u", "v"))
    var (deg, degRdd) = Lineage.checkpointed(
      e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("dg")))
    val rows = (1 to rounds).map { r =>
      val bad = deg.filter(col("dg") < k).select("n")
      val nRemoved = bad.count()
      val badU = bad.withColumnRenamed("n", "u")
      val badV = bad.withColumnRenamed("n", "v")
      // degree decrements: each edge losing its OTHER endpoint takes
      // one off the surviving endpoint; both-bad edges decrement no one
      val lostU = e.join(badV, Seq("v"), "left_semi")
        .join(badU, Seq("u"), "left_anti")
        .groupBy(col("u").as("n")).agg(count(lit(1)).as("lc"))
      val lostV = e.join(badU, Seq("u"), "left_semi")
        .join(badV, Seq("v"), "left_anti")
        .groupBy(col("v").as("n")).agg(count(lit(1)).as("lc"))
      val lost = lostU.unionAll(lostV).groupBy("n").agg(sum("lc").as("lost"))
      val (nextE, nextERdd) = Lineage.checkpointed(
        e.join(badU, Seq("u"), "left_anti")
          .join(badV, Seq("v"), "left_anti").select("u", "v"))
      val (nextDeg, nextDegRdd) = Lineage.checkpointed(
        deg.join(bad, Seq("n"), "left_anti")
          .join(lost, Seq("n"), "left")
          .select(col("n"),
            (col("dg") - coalesce(col("lost"), lit(0L))).as("dg"))
          .filter(col("dg") > 0L))
      val nEdges = nextE.count()
      val nNodes = nextDeg.count()
      eRdd.unpersist(blocking = false)
      degRdd.unpersist(blocking = false)
      e = nextE; eRdd = nextERdd; deg = nextDeg; degRdd = nextDegRdd
      (r.toLong, nRemoved, nNodes, nEdges)
    }
    eRdd.unpersist(blocking = false)
    degRdd.unpersist(blocking = false)
    val spark = edges.sparkSession
    import spark.implicits._
    rows.toDF("round", "n_removed", "n_nodes", "n_edges")
  }

  /** DuckDB mirror: unrolled rounds over a CTE `e0` (u, v) — emits
    * `d1/bad1/e1/s1 … s{rounds}` with the identical peel; select
    * `SELECT * FROM s1 UNION ALL … ORDER BY round` after it.
    *
    * Every CTE is `AS MATERIALIZED` — the SQL twin of the Spark-side
    * lineage cut. Each round references the previous round's edge set
    * three times and its own `bad` set three times; left to inline
    * those, DuckDB's planner gets the same ~3^R expression blow-up
    * Catalyst did, and on this 4-round mirror it heap-corrupts and
    * segfaults (round-7 finding; `e0 AS MATERIALIZED` is required at
    * the call site for the same reason).
    */
  /** Peel-to-FIXPOINT membership variant (round-10: g17's ladder):
    * same per-round shape and [[Lineage.checkpointed]] discipline as
    * [[peelEdges]], but rounds run until a round finds no node below
    * k — the converged Seidman k-core, not an R-round truncation.
    * Convergence is what makes the decomposition ladder CHAINABLE:
    * k-core(G) = k-core((k−1)-core(G)) holds for converged cores,
    * while the round-10 measurement (SCALING.md) shows it FAILS for
    * pinned-round truncations (sf0.01: chaining 4-round peels moved
    * 65 nodes down a core). One `bad.count()` action per round is the
    * data-adaptive termination (measured depth ≤ 10 on the test
    * corpus tri-SF); `maxRounds` must match the mirrored SQL unroll
    * cap — exceeding it fails LOUDLY here rather than silently
    * diverging from an oracle that stopped unrolling.
    */
  def peelEdgesConverged(edges: DataFrame, k: Int, maxRounds: Int,
      track: org.apache.spark.rdd.RDD[_] => Unit,
      onRounds: Int => Unit = _ => ()): DataFrame = {
    var (e, eRdd) = Lineage.checkpointed(edges.select("u", "v"))
    // convergence = edge-count stability: every bad node is incident
    // to ≥1 surviving edge (it appears in e), so a round with a
    // non-empty bad set strictly shrinks the edge count — |next| ==
    // |e| ⇔ the round removed nothing ⇔ fixpoint. Counting the
    // ALREADY-MATERIALIZED checkpoint blocks costs ~nothing (a first
    // cut that materialized the bad set separately to test it ran 2
    // jobs/round and measured 3× the pinned peel's wall-clock; a
    // per-round bad.count() without materialization was 4×).
    //
    // One checkpoint per round, measured against several rounds per
    // checkpoint: each un-checkpointed round references its
    // predecessor 3× (two degree selects + the join input), so
    // batching re-executes earlier rounds' degree shuffles ~3^(b−1)
    // times. g17's full ladder, warmed medians: 1 round/checkpoint
    // 9.26 s vs 2 rounds 13.47 s at sf0.01 (4.45 vs 5.48 s at sf0.1;
    // 3 rounds 14.7 s). The floor is the Seidman cascade depth itself
    // (22 rounds at sf0.01), each round one degree-shuffle stage.
    var nEdges = eRdd.count()
    var r = 0
    var converged = nEdges == 0L // an empty frame is its own fixpoint
    while (!converged) {
      r += 1
      val deg = e.select(col("u").as("n"))
        .unionAll(e.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("dg"))
      val bad = deg.filter(col("dg") < k).select("n")
      val (next, nextRdd) = Lineage.checkpointed(
        e.join(bad.withColumnRenamed("n", "u"), Seq("u"), "left_anti")
          .join(bad.withColumnRenamed("n", "v"), Seq("v"), "left_anti")
          .select("u", "v"))
      val nNext = nextRdd.count()
      converged = nNext == nEdges
      // loud-failure cap: a round that still removed edges must be
      // ≤ maxRounds, the mirror's unroll; only the fixpoint-proof
      // round (which removes nothing) may land past it
      require(converged || r <= maxRounds,
        s"k=$k peel still active past $maxRounds rounds — raise the cap AND its SQL mirror unroll together")
      eRdd.unpersist(blocking = false)
      e = next; eRdd = nextRdd; nEdges = nNext
    }
    // converged depth INCLUDING the fixpoint-proof round — a mirror
    // unrolled to exactly this many rounds replays the identical
    // fixpoint (round r itself removed nothing), so callers can size
    // their SQL unroll to the measured depth instead of the cap
    onRounds(r)
    track(eRdd)
    e
  }

  object Sql {

    /** Edge-only unroll (no per-round stats CTEs) for membership
      * chains like g17's: rounds past the fixpoint are exact no-ops
      * (empty bad set ⇒ e_r = e_{r−1}), so unrolling to a cap mirrors
      * [[peelEdgesConverged]] whenever convergence lands within it.
      */
    def roundsEdges(k: Int, n: Int): String =
      (1 to n).map { r =>
        val p = r - 1
        s"""d$r AS MATERIALIZED (SELECT n, count(*) AS dg FROM (
           |  SELECT u AS n FROM e$p UNION ALL SELECT v FROM e$p) GROUP BY 1),
           |bad$r AS MATERIALIZED (SELECT n FROM d$r WHERE dg < $k),
           |e$r AS MATERIALIZED (SELECT e.u, e.v FROM e$p e
           |  LEFT JOIN bad$r bu ON e.u = bu.n
           |  LEFT JOIN bad$r bv ON e.v = bv.n
           |  WHERE bu.n IS NULL AND bv.n IS NULL)""".stripMargin
      }.mkString(",\n")

    def rounds(k: Int, n: Int): String =
      (1 to n).map { r =>
        val p = r - 1
        s"""d$r AS MATERIALIZED (SELECT n, count(*) AS dg FROM (
           |  SELECT u AS n FROM e$p UNION ALL SELECT v FROM e$p) GROUP BY 1),
           |bad$r AS MATERIALIZED (SELECT n FROM d$r WHERE dg < $k),
           |e$r AS MATERIALIZED (SELECT e.u, e.v FROM e$p e
           |  LEFT JOIN bad$r bu ON e.u = bu.n
           |  LEFT JOIN bad$r bv ON e.v = bv.n
           |  WHERE bu.n IS NULL AND bv.n IS NULL),
           |s$r AS MATERIALIZED (SELECT CAST($r AS BIGINT) AS round,
           |  (SELECT count(*) FROM bad$r)::BIGINT AS n_removed,
           |  (SELECT count(DISTINCT n) FROM (
           |    SELECT u AS n FROM e$r UNION ALL SELECT v FROM e$r))::BIGINT AS n_nodes,
           |  (SELECT count(*) FROM e$r)::BIGINT AS n_edges)""".stripMargin
      }.mkString(",\n")

    def select(n: Int): String =
      (1 to n).map(r => s"SELECT * FROM s$r")
        .mkString("", " UNION ALL ", " ORDER BY round")
  }
}
