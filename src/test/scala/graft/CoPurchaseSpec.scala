package graft

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

import graft.ops.CoPurchase

/** [[graft.ops.CoPurchase]], the one builder of the part co-purchase
  * graph: its pair counts and edges match a plain-Scala tally, the
  * baskets reach the self-join through exactly one shuffle (on the
  * order key), and no other source file builds the graph itself.
  */
class CoPurchaseSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  // (l_orderkey, l_partkey). Duplicate (ok, pk) lines in orders 1 and
  // 2; parts 10 and 20 share orders 1, 2 and 3; parts 30 and 40 share
  // orders 4 and 5; every other pair shares one order.
  private val lines = Seq(
    1L -> 10L, 1L -> 20L, 1L -> 30L, 1L -> 10L,
    2L -> 10L, 2L -> 20L, 2L -> 20L,
    3L -> 10L, 3L -> 20L, 3L -> 40L,
    4L -> 30L, 4L -> 40L,
    5L -> 30L, 5L -> 40L, 5L -> 50L,
    6L -> 50L)

  private def lineitem = lines.toDF("l_orderkey", "l_partkey")

  private val tally: Map[(Long, Long), Long] =
    lines.distinct.groupBy(_._1).values.toSeq
      .flatMap(b => b.map(_._2).sorted.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).map { case (p, hits) => p -> hits.size.toLong }

  test("pair counts and edges match a plain-Scala tally at support 1, 2 and 3") {
    assert(tally((10L, 20L)) == 3L && tally((30L, 40L)) == 2L, tally)
    for (k <- 1 to 3) {
      val want = tally.filter(_._2 >= k)
      val counts = CoPurchase.pairCounts(CoPurchase.baskets(lineitem), k)
        .as[(Long, Long, Long)].collect().map { case (u, v, c) => (u, v) -> c }
      assert(counts.toMap == want && counts.length == want.size, s"support $k")
      val edges = CoPurchase.edges(lineitem, k).as[(Long, Long)].collect()
      assert(edges.toSet == want.keySet && edges.length == want.size, s"support $k")
    }
  }

  test("the baskets reach the self-join through one shuffle, hashed on ok") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // a broadcast join would hide the join-side layout under test
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = CoPurchase.pairCounts(CoPurchase.baskets(lineitem), 2)
      df.collect() // finalize the adaptive plan
      val plan = df.queryExecution.executedPlan
      val joins = collect(plan) { case j: SortMergeJoinExec => j }
      assert(joins.size == 1, plan)
      // both join sides read the same exchange; count it once
      val shuffles = collect(joins.head) { case s: ShuffleExchangeExec => s }
        .groupBy(_.canonicalized).values.map(_.head).toSeq
      assert(shuffles.size == 1, s"want one shuffle below the join:\n$plan")
      shuffles.head.outputPartitioning match {
        case HashPartitioning(Seq(key: Attribute), _) =>
          assert(key.name == "ok", plan)
        case other => fail(s"shuffle below the join is $other, not hash(ok):\n$plan")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("source scan: only CoPurchase builds the oriented part self-join") {
    val oriented = """a\.pk("\))?\s*<\s*(col\(")?b\.pk""".r
    val hits = SourceScan.copiesOutside("ops/CoPurchase.scala", oriented)
    assert(hits.isEmpty, s"co-purchase self-join built outside CoPurchase: $hits")
  }
}
