package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The customer–supplier purchase graph over orders ⋈ lineitem: a
  * customer is joined to the supplier of every line it ordered. Both
  * kinds share one long id space — customer c is node 2c, supplier s
  * is node 2s + 1 — so a node's parity is its kind. Every registry
  * query over this graph builds it here, and every DuckDB mirror of
  * one takes its CTEs from [[Sql]]; the two engines then number the
  * nodes identically by construction.
  */
object CustomerSupplier {

  /** The ordering customer's node id (even). */
  def customer: Column = col("o_custkey").cast("long") * 2

  /** The line supplier's node id (odd). */
  def supplier: Column = col("l_suppkey").cast("long") * 2 + 1

  /** orders ⋈ lineitem on the order key: one row per order line. */
  def lines(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders.join(lineitem, col("o_orderkey") === col("l_orderkey"))

  /** Distinct (src, dst) customer → supplier arcs. A caller that wants
    * the graph of some lines only filters `lineitem` first.
    */
  def arcs(orders: DataFrame, lineitem: DataFrame): DataFrame =
    lines(orders, lineitem)
      .select(customer.as("src"), supplier.as("dst"))
      .distinct()

  /** [[arcs]] plus their reverses: the undirected graph as (src, dst)
    * rows in both directions.
    */
  def edges(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val a = arcs(orders, lineitem)
    a.unionAll(a.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** `kind` ("customer" or "supplier") and `key` (the table key) of a
    * node id.
    */
  def kindKey(node: Column): Seq[Column] = Seq(
    when(node % 2 === 0, lit("customer")).otherwise(lit("supplier")).as("kind"),
    call_function("div", node, lit(2L)).as("key"))

  object Sql {

    /** DuckDB forms of [[customer]] and [[supplier]]. */
    val customer = "CAST(o_custkey AS BIGINT) * 2"
    val supplier = "CAST(l_suppkey AS BIGINT) * 2 + 1"

    /** Mirror of [[arcs]]: the CTE `arcCte` (src, dst), over the lines
      * that pass `lineFilter` when one is given.
      */
    def arcs(arcCte: String, lineFilter: Option[String] = None): String =
      s"""$arcCte AS MATERIALIZED (SELECT DISTINCT $customer AS src,
         |    $supplier AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey${
           lineFilter.fold("")(f => s"\n  WHERE $f")})""".stripMargin

    /** Mirror of [[edges]]: the CTEs `e0` (the arcs) and `edgeCte`
      * (src, dst in both directions), ready to follow `WITH`.
      */
    def edges(edgeCte: String, lineFilter: Option[String] = None): String =
      s"""${arcs("e0", lineFilter)},
         |$edgeCte AS MATERIALIZED (SELECT src, dst FROM e0
         |  UNION ALL SELECT dst, src FROM e0)""".stripMargin

    /** Mirror of [[kindKey]]. */
    def kindKey(node: String): String =
      s"CASE WHEN $node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,\n  $node // 2 AS key"
  }
}
