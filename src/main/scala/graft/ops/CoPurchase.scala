package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The part co-purchase graph over `lineitem`: two parts are adjacent
  * when some order contains both. Every registry query over this graph
  * builds it here, and every DuckDB mirror of one takes its CTEs from
  * [[Sql.edges]], so the build and its shuffle layout live in one place.
  *
  * Layout: the distinct (ok, pk) baskets are hash-partitioned on `ok`
  * ONCE. That one exchange serves both the (ok, pk) dedup and the ok
  * self-join: hash(ok) colocates equal (ok, pk) rows, so the distinct
  * runs partition-local and the join needs no re-exchange (guide §2.4;
  * measured 2× off the 8× stress edge build — 6.8 → 2.8 s). The join
  * is oriented on `a.pk < b.pk`, so each unordered pair appears once.
  */
object CoPurchase {

  /** Distinct (ok, pk) order baskets, hash-partitioned once on `ok`. */
  def baskets(lineitem: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .repartition(col("ok"))
      .distinct()

  /** (u, v, c): part pairs u < v and the number c of baskets holding
    * both, kept when c ≥ `minSupport` — the cut runs inside the pair
    * aggregate, so pruned candidates never leave the shuffle.
    */
  def pairCounts(baskets: DataFrame, minSupport: Int): DataFrame =
    selfJoin(baskets)
      .groupBy(col("a.pk").cast("long").as("u"),
        col("b.pk").cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= minSupport)

  /** (u, v) edges, u < v, between parts that share at least
    * `minSupport` orders. Support 1 dedups the pairs with a plain
    * `distinct` instead of counting them.
    */
  def edges(lineitem: DataFrame, minSupport: Int): DataFrame =
    if (minSupport == 1)
      selfJoin(baskets(lineitem))
        .select(col("a.pk").cast("long").as("u"),
          col("b.pk").cast("long").as("v"))
        .distinct()
    else pairCounts(baskets(lineitem), minSupport).select("u", "v")

  private def selfJoin(baskets: DataFrame): DataFrame =
    baskets.as("a").join(baskets.as("b"),
      col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))

  object Sql {

    /** DuckDB mirror of [[baskets]] + [[pairCounts]]: the CTEs
      * `op` (ok, pk) and `edgeCte` (u, v, c), ready to follow `WITH`.
      * Both are MATERIALIZED — each is read more than once, and the
      * peel mirrors over the edge CTE need it (see KCore.Sql).
      */
    def edges(edgeCte: String, minSupport: Int): String =
      s"""op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         |$edgeCte AS MATERIALIZED (SELECT CAST(a.pk AS BIGINT) AS u,
         |    CAST(b.pk AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS c
         |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY 1, 2 HAVING count(*) >= $minSupport)""".stripMargin
  }
}
