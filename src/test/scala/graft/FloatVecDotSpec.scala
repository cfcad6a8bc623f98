package graft

import org.apache.spark.sql.functions._

import graft.ext.Similarity

/** The native codegen'd vec_dot_f expression must be bit-identical to
  * the built-ins-only zip_with+aggregate formulation — that equality is
  * what lets the similarity queries swap in the fast path without
  * touching the DuckDB oracle.
  */
class FloatVecDotSpec extends SparkSpec {
  import spark.implicits._

  test("native dot == HOF dot bit-for-bit on random vectors") {
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(200)((
      Array.fill(64)(rnd.nextGaussian().toFloat),
      Array.fill(64)(rnd.nextGaussian().toFloat)))
    val df = rows.toDF("a", "b")
    val diff = df.select(
        Similarity.dot(col("a"), col("b")).as("fast"),
        ReferenceForms.dotHof(col("a"), col("b")).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(diff.isEmpty, diff.collect().take(3).mkString(","))
  }

  test("resolves via SQL too (registered through GraftExtensions)") {
    val got = Seq((Array(1f, 2f), Array(3f, 4f))).toDF("a", "b")
      .selectExpr("vec_dot_f(a, b)").head().getDouble(0)
    assert(got == 11.0)
  }

  test("vec_dot_fd (float×double-literal) == HOF dot bit-for-bit") {
    val rnd = new scala.util.Random(12)
    val planes = Array.fill(64)(rnd.nextGaussian())
    val planeCol = array(planes.map(lit(_)): _*)
    val df = Seq.fill(200)(Array.fill(64)(rnd.nextGaussian().toFloat)).toDF("a")
    val diff = df.select(
        Similarity.dotLit(col("a"), planes).as("fast"),
        ReferenceForms.dotHof(col("a"), planeCol).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(diff.isEmpty, diff.collect().take(3).mkString(","))
  }

  test("vec_dot_fd participates in whole-stage codegen") {
    val planes = Array(1.5, -2.5)
    val df = spark.range(8)
      .select(array((col("id") + 1).cast("float"), (col("id") + 2).cast("float")).as("a"))
      .select(Similarity.dotLit(col("a"), planes).as("d"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*") && l.contains("vec_dot_fd")), plan)
    assert(df.collect().length == 8)
  }

  test("vec_dot_d (double×double) == HOF dot bit-for-bit") {
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(200)((
      Array.fill(64)(rnd.nextGaussian()),
      Array.fill(64)(rnd.nextGaussian())))
    val df = rows.toDF("a", "b")
    // dotHof casts both sides to double — a no-op on double input, so
    // it is the same sequential-sum reference
    val diff = df.select(
        Similarity.dotD(col("a"), col("b")).as("fast"),
        ReferenceForms.dotHof(col("a"), col("b")).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(diff.isEmpty, diff.collect().take(3).mkString(","))
  }

  test("vec_dot_d null on length mismatch + codegen") {
    val df = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0))).toDF("a", "b")
    assert(df.select(Similarity.dotD(col("a"), col("b"))).head().isNullAt(0))
    val dfc = spark.range(8)
      .select(
        array((col("id") + 1).cast("double"), (col("id") + 2).cast("double")).as("a"),
        array((col("id") * 2).cast("double"), (col("id") * 3).cast("double")).as("b"))
      .select(Similarity.dotD(col("a"), col("b")).as("d"))
    val plan = dfc.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*") && l.contains("vec_dot_d")), plan)
    assert(dfc.collect().length == 8)
  }

  test("vec_l2norm == HOF normalize bit-for-bit (incl. empty vector)") {
    val rnd = new scala.util.Random(14)
    val rows = Seq.fill(200)(Array.fill(64)(rnd.nextGaussian().toFloat)) ++
      Seq(Array.empty[Float])
    val df = rows.toDF("a")
    val diff = df.select(
        Similarity.l2Normalize(col("a")).as("fast"),
        ReferenceForms.l2NormalizeHof(col("a")).as("ref"))
      .filter(col("fast").cast("string") =!= col("ref").cast("string"))
    assert(diff.isEmpty, diff.collect().take(3).mkString(","))
  }

  test("vec_l2norm maps a zero vector to NaNs instead of throwing") {
    // the ANSI HOF form kills the job with DIVIDE_BY_ZERO on a single
    // degenerate row; the native op propagates NaN (documented contract)
    val got = Seq(Array.fill(4)(0f)).toDF("a")
      .select(Similarity.l2Normalize(col("a"))).head().getSeq[Double](0)
    assert(got.length == 4 && got.forall(_.isNaN), got.mkString(","))
  }

  test("vec_l2norm participates in whole-stage codegen and renorms to 1") {
    val df = spark.range(8)
      .select(array((col("id") + 1).cast("float"), (col("id") + 2).cast("float")).as("a"))
      .select(Similarity.l2Normalize(col("a")).as("nv"))
      .select(round(sqrt(Similarity.dotD(col("nv"), col("nv"))), 9).as("renorm"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l => l.contains("*") && l.contains("vec_l2norm")), plan)
    assert(df.collect().forall(_.getDouble(0) == 1.0), df.collect().mkString(","))
  }

  test("null on length mismatch, null-intolerant on null input") {
    val df = Seq((Array(1f, 2f), Array(1f, 2f, 3f))).toDF("a", "b")
    assert(df.select(Similarity.dot(col("a"), col("b"))).head().isNullAt(0))
    val withNull = df.select(lit(null).cast("array<float>").as("a"), col("b"))
    assert(withNull.select(Similarity.dot(col("a"), col("b"))).head().isNullAt(0))
  }

  test("participates in whole-stage codegen") {
    // non-foldable input (range-derived) so the projection survives
    // constant folding and lands inside a codegen stage
    val df = spark.range(8)
      .select(
        array((col("id") + 1).cast("float"), (col("id") + 2).cast("float")).as("a"),
        array((col("id") * 2).cast("float"), (col("id") * 3).cast("float")).as("b"))
      .select(Similarity.dot(col("a"), col("b")).as("d"))
    val plan = df.queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    assert(plan.linesIterator.exists(l => l.contains("*") && l.contains("vec_dot_f")), plan)
    assert(df.collect().length == 8)
  }
}
