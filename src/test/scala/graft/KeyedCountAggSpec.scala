package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.KeyedCountAgg
import graft.ops.Derive
import graft.sink.InMemorySnapshotSink
import graft.stream.{Pipeline, PipelineConfig, Simulator}

/** keyed_counts (native `TypedImperativeAggregate`, several group-bys in
  * one pass): each key set's groups, counts and averages equal a
  * group-by's, null keys and null measures included, whatever the
  * partitioning; the buffer stops at its ceiling, and the census batch
  * fails by name past it.
  */
class KeyedCountAggSpec extends SparkSpec {
  import spark.implicits._

  private val keySets = Seq(Seq("a"), Seq("a", "b"), Seq("b"))

  /** 600 rows over small domains with nulls in every column. */
  private val data: DataFrame = {
    val rng = new scala.util.Random(13)
    def maybe[T](p: Double, v: => T): Option[T] = if (rng.nextDouble() < p) None else Some(v)
    (0 until 600).map { _ =>
      (maybe(0.1, s"a${rng.nextInt(7)}"), maybe(0.2, Seq("x", "yy", "", "zzzzzzzzzz")(rng.nextInt(4))),
        maybe(0.15, rng.nextInt(90) + 1), maybe(0.3, rng.nextInt(2000000) - 1000000))
    }.toDF("a", "b", "m1", "m2")
  }

  private def groups(df: DataFrame, ceiling: Int = 1024): Seq[Row] =
    df.agg(KeyedCountAgg.column(keySets, Seq("m1", "m2"), ceiling).as("kc"))
      .head().getSeq[Row](0)

  test("each key set's groups and counts are its group-by's, null keys included") {
    val got = groups(data)
    keySets.zipWithIndex.foreach { case (keys, set) =>
      val expected = data.groupBy(keys.map(col): _*).agg(count(lit(1))).collect()
        .map(r => (0 until keys.size).map(r.getString).toSeq -> r.getLong(keys.size)).toMap
      val mine = got.filter(_.getInt(0) == set).map(r => r.getSeq[String](1) -> r.getLong(2)).toMap
      assert(mine == expected, keys)
      assert(mine.keys.exists(_.contains(null)), s"$keys: no null key in the data")
    }
  }

  test("averages from the sums equal avg bit for bit with null measures present") {
    val got = groups(data)
    keySets.zipWithIndex.foreach { case (keys, set) =>
      val expected: Map[Seq[String], Seq[Option[Double]]] =
        data.groupBy(keys.map(col): _*).agg(avg("m1"), avg("m2")).collect()
        .map(r => (0 until keys.size).map(r.getString).toSeq ->
          Seq(keys.size, keys.size + 1).map(i => if (r.isNullAt(i)) None else Some(r.getDouble(i))))
        .toMap
      val mine = got.filter(_.getInt(0) == set).map { r =>
        val (n, sum) = (r.getSeq[Long](3), r.getSeq[Long](4))
        r.getSeq[String](1) -> n.indices.map(m =>
          if (n(m) == 0) None else Some(sum(m).toDouble / n(m).toDouble))
      }.toMap
      assert(mine.keySet == expected.keySet)
      mine.foreach { case (k, avgs) =>
        assert(avgs.map(_.map(java.lang.Double.doubleToLongBits)) ==
          expected(k).map(_.map(java.lang.Double.doubleToLongBits)), s"$keys $k: $avgs vs ${expected(k)}")
      }
    }
  }

  test("1 and 4 partitions give the same result") {
    val one = groups(data.coalesce(1))
    assert(one.nonEmpty)
    assert(groups(data.repartition(4)) == one)
    assert(groups(data.repartition(4, col("m1"))) == one)
  }

  test("a buffer stops taking new keys past its ceiling") {
    val distinct = data.select("a").distinct().count()
    assert(distinct > 4)
    val got = data.agg(KeyedCountAgg.column(Seq(Seq("a")), Nil, 4).as("kc")).head().getSeq[Row](0)
    assert(got.size == 5)
  }

  test("a census batch past the group ceiling fails by name and writes nothing") {
    val rows = Simulator.generateSeed(1100).zipWithIndex.map { case (r, i) =>
      r.copy(occupation = Some(s"occupation-$i")) }
    val sink = new InMemorySnapshotSink
    val e = intercept[Pipeline.GroupCeilingExceeded](
      new Pipeline(sink, PipelineConfig(clock = () => 1.0)).runBatch(Derive.enrich(rows.toDF()), 0L))
    assert(e.getMessage.contains("1024"))
    assert(sink.tableNames.isEmpty)
  }
}
