package graft

import org.apache.spark.sql.functions._

/** pq_codes_ll contract (round-16, sim10's native encoder): the
  * map-side encode must be row-identical to the round-15 relational
  * reference (subvector explode → broadcast codebook join → N·M·K
  * distances → argmin aggregate, kept as ReferenceForms.encodeRelational) —
  * including argmin TIES, which both sides must break to the smaller
  * code — and must throw on the two corruption shapes (wrong vector
  * length, null element).
  */
class PqCodesSpec extends SparkSpec {
  import spark.implicits._

  private val M = 4
  private val K = 5
  private val SubDim = 3

  // deterministic codebook with a planted duplicate centroid in every
  // subspace (j = 1 and j = 3 identical) so argmin ties occur whenever
  // a vector is nearest that centroid — the tie-break rule is exercised
  // on every such row, not left to chance
  private val codebooks: Seq[Seq[Seq[Long]]] = {
    val rnd = new scala.util.Random(16)
    (0 until M).map { _ =>
      val cents = IndexedSeq.fill(K)(IndexedSeq.fill(SubDim)(rnd.nextInt(200).toLong - 100L))
      cents.updated(3, cents(1))
    }
  }

  test("native encode == relational reference, ties to the smaller code") {
    val rnd = new scala.util.Random(61)
    val rows = (1 to 400).map { i =>
      (i.toLong, Array.fill(M * SubDim)(rnd.nextInt(200).toLong - 100L))
    }
    // plant exact-centroid vectors: nearest centroid is j=1 == j=3 at
    // distance 0 — the tie the spec exists to pin
    val planted = (1001 to 1020).map { i =>
      (i.toLong, (0 until M).flatMap(m => codebooks(m)(1)).toArray)
    }
    val df = (rows ++ planted).toDF("vec_id", "qv").repartition(5)
    val got = graft.ext.Pq.encode(df, codebooks, SubDim)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    val ref = ReferenceForms.encodeRelational(df, codebooks, SubDim)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(got == ref)
    // the planted rows must all tie-break to code 1, never 3
    planted.foreach { case (id, _) =>
      (0 until M).foreach(m => assert(got((id, m)) == 1)) }
  }

  private def chainMsg(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")

  test("wrong vector length throws") {
    val df = Seq((1L, Array.fill(M * SubDim + 1)(0L))).toDF("vec_id", "qv")
    val e = intercept[Exception] {
      graft.ext.Pq.encode(df, codebooks, SubDim).collect()
    }
    assert(chainMsg(e).contains("vector length"))
  }

  test("null element throws; null vector row is dropped") {
    val bad = Seq((1L, Seq[Option[Long]](Some(1L)) ++
      Seq.fill(M * SubDim - 2)(Option(0L)) :+ (None: Option[Long])))
      .toDF("vec_id", "qv")
    val e = intercept[Exception] {
      graft.ext.Pq.encode(bad, codebooks, SubDim).collect()
    }
    assert(chainMsg(e).contains("null element"))
    val withNullRow = Seq(
      (1L, Option(Array.fill(M * SubDim)(1L))), (2L, None))
      .toDF("vec_id", "qv")
    val out = graft.ext.Pq.encode(withNullRow, codebooks, SubDim).collect()
    assert(out.map(_.getLong(0)).distinct.toSeq == Seq(1L))
    assert(out.length == M)
  }
}
