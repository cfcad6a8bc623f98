package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Lineage

/** Integer-exact HITS (hubs-and-authorities) over a bipartite edge
  * list — the mutual-reinforcement centrality PageRank cannot
  * express: a hub is good because it reaches good authorities, an
  * authority is good because good hubs reach it. On the purchase
  * graph (customer → supplier) that reads as "broad well-connected
  * buyers" vs "suppliers the broad buyers concentrate on" — the
  * two-sided importance signal behind marketplace curation; on a
  * link corpus the same operator scores directory pages vs content
  * pages as a corpus-admission prior.
  *
  * Cross-engine exact by the [[PageRank]] recipe with the HITS-
  * specific twist that the classic normalization (divide by the L2
  * norm) is replaced by MAX-normalization with a truncating integer
  * division: after each half-round every score is
  * `(raw · Scale) div max(raw)` — all values non-negative, so
  * truncation IS floor and Spark's `div` agrees with DuckDB's `//`.
  * Max-normalization preserves the score ORDERING exactly (it is a
  * positive scalar rescale before truncation), which is what HITS
  * rankings use; each round is then a pure integer function of the
  * edge set, so DuckDB replays the identical iteration as an
  * unrolled CTE ([[Hits.Sql.rounds]]) and must land on identical
  * scores. (Float HITS sums in partition-dependent order and
  * L2-normalizes through a sqrt — it can never be hash-compared.)
  *
  * Spark shape per round: edges join hub scores on the hub key (one
  * uniform shuffle), per-authority sum with map-side partials, a
  * 1-row max broadcast, then the mirror half for hubs. Score
  * vectors stay fully distributed; driver state is nil. Overflow
  * headroom: raw ≤ degree·Scale and the rescale multiplies by
  * Scale once before dividing, so the peak intermediate is
  * degree·Scale² = degree·10¹² — safe through degrees of ~10⁶
  * (beyond that, drop Scale to 10⁴ or split the rescale).
  *
  * Reference shape: dashboard-style top-k read-outs
  * (/root/reference/dashboard.py's top-k groups) generalized to
  * two-sided graph importance.
  */
object Hits {

  /** Score scale: top hub/authority of each round pins to ×10⁶. */
  val Scale = 1000000L

  /** `rounds` full HITS iterations (authority half then hub half)
    * over a bipartite edge list (hub, auth). Returns
    * (hubs(hub, score), auths(auth, score)) — both scaled longs,
    * max element exactly Scale. The two returned frames are
    * lineage-cut (localCheckpoint) block sets living outside the
    * CacheManager; their RDD handles are reported through `track`
    * (pass the registry's `TrackedCache.track` so the end-of-sweep
    * release frees them — round-8 advice: discarding the handles
    * pinned the hub/auth blocks for the session's lifetime).
    */
  def hubsAuthorities(edges: DataFrame, rounds: Int,
      track: org.apache.spark.rdd.RDD[_] => Unit = _ => ()): (DataFrame, DataFrame) = {
    require(rounds >= 1, s"hubsAuthorities needs at least one round, got $rounds")
    // one lineage cut: every half-round references the (often
    // join-derived) edge input twice more — without the cut the
    // caller's edge construction re-executes per reference
    val (e, eRdd) = Lineage.checkpointed(edges.select("hub", "auth"))
    var hubs = e.select(col("hub")).distinct().withColumn("score", lit(Scale))
    var auths: DataFrame = null
    // per-HALF-ROUND lineage cut on the raw score vector (the
    // KCore/Sssp discipline the edge cut alone does not buy): each
    // normalization references its raw frame TWICE (the 1-row max agg
    // + the rescale join), so an uncut chain re-executes the
    // edge-join cascade 2^(2·rounds) times by the final action —
    // measured 5.85 → 2.25 s cold median at sf0.1 for rounds = 2.
    // The cut
    // frames are |V|-row score vectors; superseded cuts release once
    // the loop ends and the finals are materialized.
    val interim = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.rdd.RDD[_]]
    for (_ <- 1 to rounds) {
      val (araw, arawRdd) = Lineage.checkpointed(e.join(hubs, Seq("hub"))
        .groupBy("auth").agg(sum("score").as("raw")))
      interim += arawRdd
      val amax = araw.agg(max("raw").as("mx"))
      auths = araw.crossJoin(broadcast(amax))
        .select(col("auth"),
          call_function("div", col("raw") * Scale, col("mx")).as("score"))
      val (hraw, hrawRdd) = Lineage.checkpointed(e.join(auths, Seq("auth"))
        .groupBy("hub").agg(sum("score").as("raw")))
      interim += hrawRdd
      val hmax = hraw.agg(max("raw").as("mx"))
      hubs = hraw.crossJoin(broadcast(hmax))
        .select(col("hub"),
          call_function("div", col("raw") * Scale, col("mx")).as("score"))
    }
    // materialize the final frames (one cut each), then release the
    // edge blocks and the superseded per-round vectors — without this
    // the session pins them indefinitely (Truss/KCore unpersist per
    // round; HITS has one shared input)
    val (hOut, hRdd) = Lineage.checkpointed(hubs)
    val (aOut, aRdd) = Lineage.checkpointed(auths)
    track(hRdd)
    track(aRdd)
    interim.foreach(_.unpersist(blocking = false))
    eRdd.unpersist(blocking = false)
    (hOut, aOut)
  }

  /** DuckDB mirror: unrolled rounds over a CTE `e` (hub, auth) —
    * identical integer update. Exposes `h{rounds}` (hub, score) and
    * `a{rounds}` (auth, score).
    */
  object Sql {

    def rounds(n: Int): String = {
      val base =
        s"""h0 AS (SELECT DISTINCT hub, CAST($Scale AS BIGINT) AS score FROM e)"""
      val steps = (1 to n).map { k =>
        val p = k - 1
        s"""ar$k AS (SELECT e.auth, CAST(sum(h.score) AS BIGINT) AS raw
           |  FROM e JOIN h$p h ON e.hub = h.hub GROUP BY 1),
           |a$k AS (SELECT auth,
           |    CAST((raw * $Scale) // (SELECT max(raw) FROM ar$k) AS BIGINT)
           |      AS score
           |  FROM ar$k),
           |hr$k AS (SELECT e.hub, CAST(sum(a.score) AS BIGINT) AS raw
           |  FROM e JOIN a$k a ON e.auth = a.auth GROUP BY 1),
           |h$k AS (SELECT hub,
           |    CAST((raw * $Scale) // (SELECT max(raw) FROM hr$k) AS BIGINT)
           |      AS score
           |  FROM hr$k)""".stripMargin
      }
      (base +: steps).mkString(",\n")
    }
  }
}
