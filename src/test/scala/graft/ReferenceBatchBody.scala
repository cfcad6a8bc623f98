package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Stats
import graft.sink.SnapshotSink

/** The reference form of the census batch body: the sequential
  * two-pass shape `Pipeline.runBatch` replaced. An `isEmpty` gate, the
  * summary aggregation, `Stats.zScoreOutliers` (a second scan for the
  * mean and stddev), an `isEmpty` on the outliers, one group-by per
  * count table, and every write in turn. Specs hold the one-pass body
  * to it.
  */
object ReferenceBatchBody {

  def run(sink: SnapshotSink, batch: DataFrame, ts: Double, zThreshold: Double = 3.0): Unit = {
    val cached = batch.persist()
    try {
      if (!cached.isEmpty) {
        computeBatchStats(sink, cached, ts, zThreshold)
        writeAggregations(sink, cached, ts)
      }
    } finally { cached.unpersist(); () }
  }

  /** compute_batch_stats (spark_streaming.py:76-120). */
  def computeBatchStats(sink: SnapshotSink, batch: DataFrame, ts: Double,
      zThreshold: Double): Unit = {
    val summary = batch.agg(
        avg("age").as("avg_age"),
        stddev("age").as("stddev_age"),
        min("age").as("min_age"),
        max("age").as("max_age"),
        avg("hours_per_week").as("avg_hours"),
        stddev("hours_per_week").as("stddev_hours"),
        avg("capital_income").as("avg_capital_income"),
        stddev("capital_income").as("stddev_capital_income"),
        sum(when(col("income_category") === "High Income (>50K)", 1).otherwise(0))
          .as("count_high_income"),
        sum(when(col("income_category") === "Low Income (<=50K)", 1).otherwise(0))
          .as("count_low_income"))
      .withColumn("timestamp", lit(ts))
    sink.write("summary_statistics", summary)

    val outliers = Stats.zScoreOutliers(batch, "hours_per_week", zThreshold)
    if (!outliers.isEmpty) {
      sink.write("anomalies", outliers
        .withColumnRenamed("hours_per_week_z_score", "hours_z_score")
        .withColumn("anomaly_type", lit("hours_outlier"))
        .withColumn("z_score", col("hours_z_score"))
        .withColumn("detected_at", lit(ts))
        .drop("timestamp")
        .withColumn("timestamp", lit(ts)))
    }
  }

  /** write_aggregations_to_mongo (spark_streaming.py:123-197). */
  def writeAggregations(sink: SnapshotSink, batch: DataFrame, ts: Double): Unit = {
    def stamped(df: DataFrame): DataFrame = df.withColumn("timestamp", lit(ts))

    sink.write("age_group_distribution",
      stamped(batch.groupBy("age_group").agg(count(lit(1)).as("count"))))
    sink.write("education_income",
      stamped(batch.groupBy("education", "income_category").agg(count(lit(1)).as("count"))))
    sink.write("gender_income",
      stamped(batch.groupBy("gender", "income_category").agg(count(lit(1)).as("count"))))
    sink.write("work_hours",
      stamped(batch.groupBy("work_hours_category").agg(count(lit(1)).as("count"))))
    sink.write("occupation_stats",
      stamped(batch.groupBy("occupation").agg(
        avg("age").as("avg_age"),
        avg("hours_per_week").as("avg_hours"),
        count(lit(1)).as("count"))))
    sink.write("raw_data", stamped(batch.drop("timestamp")))
  }
}
