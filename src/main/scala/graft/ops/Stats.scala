package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.BatchConstant

/** Statistics operators: A1 global multi-aggregate and the W1/P6/F1-F3
  * z-score anomaly detector (reference spark_streaming.py:78-120).
  *
  * The detector is a constant cut: two batch scalars (mean, stddev) are
  * bound into the plan as constants, never computed by an empty-frame window
  * (`Window.partitionBy()`), which at 100 TB would funnel every row
  * through ONE partition (SURVEY §4, §7.4 risk 7). Where the scalars
  * come from is the caller's choice: [[zScoreOutliers]] spends a first
  * pass on them, while the census pipeline reads them off the summary
  * row it computes anyway and so scans once. [[zScoreCut]] is the one
  * implementation of the cut for both.
  */
object Stats {

  /** A1 — global no-group multi-aggregate (spark_streaming.py:78-87):
    * mean/stddev/min/max over the given columns in a single `agg`.
    * Spark `stddev` == sample stddev (`stddev_samp`), matching the
    * PySpark reference and pinned as `stddev_samp` in oracle SQL.
    */
  def globalStats(df: DataFrame, cols: (String, String)*): DataFrame = {
    val aggs: Seq[Column] = cols.flatMap { case (c, alias) =>
      Seq(
        avg(col(c)).as(s"avg_$alias"),
        stddev(col(c)).as(s"stddev_$alias"),
        min(col(c)).cast("double").as(s"min_$alias"),
        max(col(c)).cast("double").as(s"max_$alias"),
      )
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Scalar (avg, stddev_samp) of one column, collected driver-side —
    * first pass of W1 (spark_streaming.py:87). ≤1 row crosses to the
    * driver, safe at any scale.
    */
  def meanStddev(df: DataFrame, c: String): (Double, Double) = {
    val row = Grids.boundedHead(
      df.agg(avg(col(c)), stddev(col(c))), "stats_mean_stddev")
    val m = if (row.isNullAt(0)) Double.NaN else row.getDouble(0)
    val s = if (row.isNullAt(1)) Double.NaN else row.getDouble(1)
    (m, s)
  }

  /** W1+P6+F1-F3 — z-score outlier detection over column `c`
    * (spark_streaming.py:106-115): a first pass collects the two batch
    * scalars, then [[zScoreCut]] applies them.
    */
  def zScoreOutliers(df: DataFrame, c: String, threshold: Double = 3.0): DataFrame = {
    val (m, s) = meanStddev(df, c)
    zScoreCut(df, c, m, s, threshold)
  }

  /** The cut: binds `mean` and `stddev` as [[graft.functions.BatchConstant]]s
    * (so a cut that is redone on every micro-batch generates the same
    * code each time), derives `abs((c - mean) / stddev)` and keeps
    * `z > threshold`. Returns the input rows plus a `<c>_z_score`
    * column; empty when the F2 guard (`stddev > 0`,
    * spark_streaming.py:106) fails.
    */
  def zScoreCut(df: DataFrame, c: String, mean: Double, stddev: Double,
      threshold: Double): DataFrame = {
    val zCol = s"${c}_z_score"
    if (!spreadOk(stddev)) df.withColumn(zCol, lit(null).cast("double")).limit(0)
    else df.withColumn(zCol,
      abs((col(c) - BatchConstant.column(mean)) / BatchConstant.column(stddev)))
      .filter(col(zCol) > threshold)
  }

  /** Whether [[zScoreCut]] keeps any row of a column whose non-null
    * values span `[lo, hi]` (NaN when there are none). |z| is largest
    * at an extreme, and this is the cut's own double arithmetic, so
    * the answer matches the filter exactly — including |z| == threshold,
    * which is not past the cut.
    */
  def anyPastCut(lo: Double, hi: Double, mean: Double, stddev: Double,
      threshold: Double): Boolean =
    spreadOk(stddev) && Seq(lo, hi).exists(v => math.abs((v - mean) / stddev) > threshold)

  private def spreadOk(stddev: Double): Boolean = !(stddev.isNaN || stddev <= 0.0)
}
