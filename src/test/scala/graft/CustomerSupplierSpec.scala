package graft

import org.apache.spark.sql.functions._

import graft.ops.CustomerSupplier

/** [[graft.ops.CustomerSupplier]], the one builder of the customer–
  * supplier purchase graph: its arcs and edges match a plain-Scala
  * tally, node ids decode back to (kind, key), and no other source file
  * builds the graph or decodes its node ids itself.
  */
class CustomerSupplierSpec extends SparkSpec {
  import spark.implicits._

  // (o_orderkey, o_custkey)
  private val orderRows = Seq(1L -> 7L, 2L -> 7L, 3L -> 8L, 4L -> 9L)
  // (l_orderkey, l_suppkey, l_quantity). Customer 7 buys from supplier
  // 3 in two orders and on two lines of order 1; order 5 has no order row.
  private val lineRows = Seq(
    (1L, 3L, 50.0), (1L, 3L, 10.0), (1L, 4L, 48.0),
    (2L, 3L, 10.0), (3L, 3L, 49.0), (3L, 5L, 1.0),
    (4L, 4L, 2.0), (5L, 6L, 60.0))

  private def orders = orderRows.toDF("o_orderkey", "o_custkey")
  private def lineitem = lineRows.toDF("l_orderkey", "l_suppkey", "l_quantity")

  private def tally(keep: Double => Boolean): Set[(Long, Long)] = {
    val custOf = orderRows.toMap
    lineRows.collect { case (ok, sk, q) if keep(q) && custOf.contains(ok) =>
      (custOf(ok) * 2, sk * 2 + 1)
    }.toSet
  }

  test("arcs and edges match a plain-Scala tally, with and without a line filter") {
    for ((keep, li) <- Seq[(Double => Boolean, org.apache.spark.sql.DataFrame)](
        ((_: Double) => true, lineitem),
        ((q: Double) => q > 47, lineitem.filter(col("l_quantity") > 47)))) {
      val want = tally(keep)
      val arcs = CustomerSupplier.arcs(orders, li).as[(Long, Long)].collect()
      assert(arcs.length == want.size && arcs.toSet == want)
      val edges = CustomerSupplier.edges(orders, li).as[(Long, Long)].collect()
      assert(edges.length == 2 * want.size
        && edges.toSet == want ++ want.map(_.swap))
    }
  }

  test("kindKey decodes a node id to its kind and table key") {
    val got = Seq(14L, 7L, 0L, 1L).toDF("node")
      .select(CustomerSupplier.kindKey(col("node")): _*)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq("customer" -> 7L, "supplier" -> 3L,
      "customer" -> 0L, "supplier" -> 0L))
  }

  test("source scan: only CustomerSupplier numbers or decodes the graph's nodes") {
    val shape = ("""o_custkey\W[^\n]*?\*\s*2\b|l_suppkey\W[^\n]*?\*\s*2\s*\+\s*1""" +
      """|lit\("customer"\)|THEN 'customer'""").r
    val hits = SourceScan.copiesOutside("ops/CustomerSupplier.scala", shape)
    assert(hits.isEmpty, s"customer–supplier graph built outside CustomerSupplier: $hits")
  }
}
