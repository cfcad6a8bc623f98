package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Learned quality classifier over token-frequency features — the
  * linear (fastText/logreg-style) document gate a production curation
  * stack runs instead of hand-tuned heuristics. The engine SERVES a
  * pinned model ([[QualityClassifierModel]], fit offline by
  * `graft.DevFitQualityClassifier` and committed as an artifact — the
  * same offline-fit/online-serve split as the IVF index), and the gate
  * is the model's LINEAR score (the logit): `score > 0` ⇔ p > 0.5
  * under the logistic link, so serving needs no `exp` — which is also
  * what keeps the query hash-verifiable (`exp` is libm-dependent;
  * multiply-add is IEEE-exact in both engines).
  *
  * Features (index order is the cross-engine contract):
  *   - 0..15: per-document rate of each [[TextAnalysis.allMarkerWords]]
  *     word (count / token count) — one native `token_freqs` pass;
  *   - 16: length saturation `least(ntok/50, 1)`;
  *   - 17: lexical diversity `ndis/ntok`.
  * All in [0,1], so unscaled gradient descent is well-conditioned.
  *
  * Scoring is `bias + Σ wᵢ·xᵢ` folded LEFT-ASSOCIATIVELY in feature
  * order, with every weight parsed from the artifact's round-trip
  * decimal strings — the DuckDB mirror ([[Sql.scoreSql]]) interpolates
  * the SAME strings into the same left-associative expression, so both
  * engines compute bit-identical doubles (the IvfModel trick applied
  * to model weights).
  */
object QualityClassifier {

  /** Feature word list — the 16 language-marker words (the shared
    * `token_freqs` vocabulary the enrichment path already counts).
    */
  val featureWords: Seq[String] = TextAnalysis.allMarkerWords

  /** Feature count: word rates + length saturation + diversity. */
  val nFeatures: Int = featureWords.length + 2

  /** Driver-side feature vector — IDENTICAL arithmetic (and operand
    * order) to [[scoreParts]]'s Column expressions; the spec holds the
    * two bit-equal.
    */
  def featuresOf(ntok: Long, ndis: Long, freqs: Seq[Long]): Array[Double] = {
    val n = ntok.toDouble
    val xs = new Array[Double](nFeatures)
    var i = 0
    while (i < featureWords.length) { xs(i) = freqs(i).toDouble / n; i += 1 }
    xs(featureWords.length) = math.min(n / 50.0, 1.0)
    xs(featureWords.length + 1) = ndis.toDouble / n
    xs
  }

  /** Driver-side linear score over [[featuresOf]] output — same
    * left-associative fold as the Column/SQL forms.
    */
  def scoreOf(xs: Array[Double], model: IndexedSeq[Double]): Double = {
    var acc = model(0)
    var i = 0
    while (i < xs.length) { acc = acc + model(i + 1) * xs(i); i += 1 }
    acc
  }

  /** Linear score from pre-materialized parts (`ntok`, `ndis`, and a
    * `token_freqs` counts column over [[featureWords]]) — parts must
    * be bound columns from their own projection (see
    * [[TextAnalysis.langIdParts]] for why: Catalyst inlines non-cheap
    * aliases referenced more than once within a projection, and this
    * expression references `freqs` 16 times).
    */
  def scoreParts(ntok: Column, ndis: Column, freqs: Column): Column = {
    val n = ntok.cast("double")
    val xs: Seq[Column] =
      featureWords.indices.map(i => get(freqs, lit(i)).cast("double") / n) ++
        Seq(least(n / 50.0, lit(1.0)), ndis.cast("double") / n)
    val w = QualityClassifierModel.weights
    xs.zipWithIndex.foldLeft(lit(w(0))) { case (acc, (x, i)) =>
      acc + lit(w(i + 1)) * x
    }
  }

  /** The base every gate-evaluation query starts from: one row per
    * document with the gate's `score` and the heuristic quality `q`,
    * both from one token pass. The reference label is `q` above its
    * corpus median ([[withQualityMedian]]), the heuristic that
    * [[fit]]'s seed labels distill.
    */
  def scoreAndQuality(docs: DataFrame): DataFrame =
    docs.withColumn("__toks", TextAnalysis.tokens(col("text")))
      .select(
        size(col("__toks")).as("__ntok"),
        size(array_distinct(col("__toks"))).as("__ndis"),
        TextAnalysis.wordFreqs(col("__toks"), featureWords).as("__freqs"),
        TextAnalysis.qualityScoreTokens(col("__toks")).as("q"))
      .select(scoreParts(col("__ntok"), col("__ndis"), col("__freqs")).as("score"), col("q"))

  /** `frame` (which has a `q` column) with `__med`, the corpus median
    * of `q`, joined on as a 1-row broadcast.
    */
  def withQualityMedian(frame: DataFrame): DataFrame =
    frame.crossJoin(broadcast(frame.agg(expr("percentile(q, 0.5)").as("__med"))))

  /** Deterministic logistic-regression fit (full-batch gradient
    * descent, rows processed in doc_id order, fixed epochs/rate — the
    * refit-equals-artifact property the spec locks). Labels distill
    * the heuristic gate: y = 1 ⇔ [[TextAnalysis.qualityScore]] above
    * its corpus median — the seed-label bootstrap a real pipeline uses
    * before human labels exist. Collects one (id, 2 longs, 16 counts,
    * 1 double) row per doc — a FIT-TIME driver step over the sample
    * corpus, never part of serving.
    *
    * Returns bias +: weights (length [[nFeatures]] + 1).
    */
  def fit(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      epochs: Int = 400, lr: Double = 0.5): IndexedSeq[Double] = {
    val feats = docs
      .withColumn("__toks", TextAnalysis.tokens(col(textCol)))
      .select(col(idCol),
        size(col("__toks")).as("ntok"),
        size(array_distinct(col("__toks"))).as("ndis"),
        TextAnalysis.wordFreqs(col("__toks"), featureWords).as("freqs"),
        TextAnalysis.qualityScoreTokens(col("__toks")).as("q"))
    val rows = graft.ops.Grids.fitRows(feats, "quality_classifier_fit")
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getInt(2).toLong,
        r.getSeq[Long](3), r.getDouble(4)))
      .sortBy(_._1)
    if (rows.isEmpty) return IndexedSeq.fill(nFeatures + 1)(0.0)
    val qs = rows.map(_._5).sorted
    val median = qs(qs.length / 2)
    val xy = rows.map { case (_, ntok, ndis, freqs, q) =>
      (featuresOf(ntok, ndis, freqs), if (q > median) 1.0 else 0.0)
    }
    val m = xy.length.toDouble
    val w = Array.fill(nFeatures + 1)(0.0)
    var epoch = 0
    while (epoch < epochs) {
      val grad = Array.fill(nFeatures + 1)(0.0)
      xy.foreach { case (xs, y) =>
        var z = w(0)
        var i = 0
        while (i < xs.length) { z += w(i + 1) * xs(i); i += 1 }
        val err = 1.0 / (1.0 + math.exp(-z)) - y
        grad(0) += err
        i = 0
        while (i < xs.length) { grad(i + 1) += err * xs(i); i += 1 }
      }
      var i = 0
      while (i <= nFeatures) { w(i) -= lr / m * grad(i); i += 1 }
      epoch += 1
    }
    w.toIndexedSeq
  }

  /** DuckDB mirror over the `text` column. */
  object Sql {
    import TextAnalysis.{Sql => TS}

    def scoreSql: String = {
      val n = s"CAST(${TS.tokenCount} AS DOUBLE)"
      val xs: Seq[String] =
        featureWords.map(w => s"(CAST(${TS.wordCount(w)} AS DOUBLE) / $n)") ++
          Seq(s"least($n / 50.0, 1.0)", s"(CAST(${TS.distinctTokenCount} AS DOUBLE) / $n)")
      val w = QualityClassifierModel.weightStrings
      xs.zipWithIndex.foldLeft(s"(${w(0)})") { case (acc, (x, i)) =>
        s"($acc + (${w(i + 1)}) * $x)"
      }
    }

    /** Mirror of [[scoreAndQuality]] + [[withQualityMedian]]: the CTEs
      * `cte` (score, q) and `med` (m), ready to follow `WITH`.
      */
    def scoreAndQuality(cte: String): String =
      s"""$cte AS (SELECT $scoreSql AS score,
         |    ${TS.qualityScore} AS q
         |  FROM documents),
         |${qualityMedian(cte)}""".stripMargin

    /** Mirror of [[withQualityMedian]]: the CTE `med` (m), the median
      * of `q` over `cte`.
      */
    def qualityMedian(cte: String): String =
      s"med AS (SELECT quantile_cont(q, 0.5) AS m FROM $cte)"
  }
}
