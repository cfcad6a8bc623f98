package graft

import org.apache.spark.sql.functions._

import graft.ext.{QualityClassifier, QualityClassifierModel, TextAnalysis}

/** Pinned quality-classifier artifact: refit determinism (the
  * DevFitQualityClassifier regeneration round-trips to the committed
  * weights), serving/driver bit-equality, canonical weight strings,
  * and a non-degenerate gate on the fit corpus.
  */
class QualityClassifierSpec extends SparkSpec {

  private val FitDir = "/root/testdata/sf0.01"

  test("refit on the fit corpus reproduces the committed artifact exactly") {
    val docs = graft.sources.Tables.table(spark, FitDir, "documents")
    val refit = QualityClassifier.fit(docs)
    assert(refit.map(_.toString) == QualityClassifierModel.weightStrings,
      "DevFitQualityClassifier regeneration would change the committed model")
  }

  test("pinned weight strings are round-trip-canonical") {
    QualityClassifierModel.weightStrings.foreach { s =>
      val d = s.toDouble
      assert(!d.isNaN && !d.isInfinite, s)
      assert(d.toString == s, s"not round-trip-canonical: $s")
    }
    assert(QualityClassifierModel.weightStrings.length ==
      QualityClassifier.nFeatures + 1)
  }

  test("served score is bit-identical to the driver-side recompute") {
    val docs = graft.sources.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val got = docs
      .withColumn("__toks", TextAnalysis.tokens(col("text")))
      .select(col("doc_id"),
        size(col("__toks")).as("__ntok"),
        size(array_distinct(col("__toks"))).as("__ndis"),
        TextAnalysis.wordFreqs(col("__toks"), QualityClassifier.featureWords).as("__freqs"))
      .select(col("doc_id"), col("__ntok"), col("__ndis"), col("__freqs"),
        QualityClassifier.scoreParts(col("__ntok"), col("__ndis"), col("__freqs"))
          .as("score"))
      .collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val xs = QualityClassifier.featuresOf(
        r.getInt(1).toLong, r.getInt(2).toLong, r.getSeq[Long](3))
      val expected = QualityClassifier.scoreOf(xs, QualityClassifierModel.weights)
      // bit equality, not tolerance: the whole artifact design rests on
      // both engines folding the same doubles in the same order
      assert(java.lang.Double.doubleToRawLongBits(expected) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(4)),
        s"doc ${r.getLong(0)}: $expected != ${r.getDouble(4)}")
    }
  }

  test("the evaluation base matches the driver-side score, q and median") {
    val docs = graft.sources.Tables.table(spark, FitDir, "documents")
    val got = QualityClassifier.withQualityMedian(QualityClassifier.scoreAndQuality(docs))
      .select("score", "q", "__med").collect()
    val want = docs
      .withColumn("__toks", TextAnalysis.tokens(col("text")))
      .select(size(col("__toks")), size(array_distinct(col("__toks"))),
        TextAnalysis.wordFreqs(col("__toks"), QualityClassifier.featureWords),
        TextAnalysis.qualityScoreTokens(col("__toks")))
      .collect().map { r =>
        val xs = QualityClassifier.featuresOf(
          r.getInt(0).toLong, r.getInt(1).toLong, r.getSeq[Long](2))
        (QualityClassifier.scoreOf(xs, QualityClassifierModel.weights), r.getDouble(3))
      }
    def bits(pairs: Seq[(Double, Double)]) = pairs.map { case (a, b) =>
      (java.lang.Double.doubleToRawLongBits(a), java.lang.Double.doubleToRawLongBits(b))
    }.sorted
    assert(got.nonEmpty &&
      bits(got.map(r => (r.getDouble(0), r.getDouble(1)))) == bits(want))
    // Spark's percentile: linear interpolation at rank (n - 1) / 2
    val qs = want.map(_._2).sorted
    val pos = (qs.length - 1) * 0.5
    val (lo, hi) = (pos.floor.toInt, pos.ceil.toInt)
    val median =
      if (qs(lo) == qs(hi)) qs(lo) else (hi - pos) * qs(lo) + (pos - lo) * qs(hi)
    assert(got.forall(_.getDouble(2) == median))
  }

  test("source scan: only QualityClassifier builds the score-vs-median base") {
    // tx20 serves the score alone, over parts bound in their own projection
    val shape = """percentile\(q\b|quantile_cont\(q\b|scoreParts\(\s*size\(""".r
    val hits = SourceScan.copiesOutside("ext/QualityClassifier.scala", shape)
    assert(hits.isEmpty, s"score-vs-median base built outside QualityClassifier: $hits")
  }

  test("gate discriminates on the fit corpus (labels were its quality median)") {
    val out = SparkEntry.queries("tx20_classifier_gate")(spark, FitDir).collect()
    val (nDocs, nPass) = (out.map(_.getLong(1)).sum, out.map(_.getLong(2)).sum)
    assert(nPass > 0 && nPass < nDocs, s"degenerate gate: $nPass of $nDocs pass")
  }
}
