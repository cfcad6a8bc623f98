package graft

import org.apache.spark.sql.functions._

import graft.ext.Triangles

/** [[graft.ext.Triangles.perNode]] on graphs with known censuses —
  * the degree-ordered orientation must count each triangle exactly
  * once per corner, and the broadcast fast path introduced for the
  * closing join must not change results (it is a physical hint only).
  */
class TrianglesSpec extends SparkSpec {
  import spark.implicits._

  private def edges(pairs: (Long, Long)*) = pairs.toSeq.toDF("u", "v")

  test("K4: every node closes three triangles") {
    val e = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val r = Triangles.perNode(e)
      .select("n", "deg", "tri").as[(Long, Long, Long)]
      .collect().sortBy(_._1)
    assert(r.toSeq === Seq((1L, 3L, 3L), (2L, 3L, 3L),
      (3L, 3L, 3L), (4L, 3L, 3L)))
  }

  test("triangle with a pendant: the pendant closes nothing") {
    val e = edges((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val r = Triangles.perNode(e)
      .select("n", "tri").as[(Long, Long)].collect().toMap
    assert(r === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
  }

  test("square (C4): wedges exist but nothing closes") {
    val e = edges((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L))
    val r = Triangles.perNode(e).agg(sum("tri")).collect()(0).getLong(0)
    assert(r === 0L)
  }

  test("fused intersection census == wedge-probe reference on random graphs") {
    val rnd = new scala.util.Random(163)
    for (trial <- 1 to 3) {
      val nNodes = 40 + trial * 20
      val pairs = (for {
        u <- 1L to nNodes.toLong
        v <- (u + 1) to nNodes.toLong
        if rnd.nextDouble() < 0.15
      } yield (u, v)).toSeq
      val e = edges(pairs: _*)
      val got = Triangles.perNode(e).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val ref = ReferenceForms.perNodeWedge(e).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == ref, s"trial $trial diverged")
    }
  }
}
