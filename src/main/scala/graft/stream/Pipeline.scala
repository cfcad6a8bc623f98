package graft.stream

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{Derive, Grids, Stats}
import graft.schema.CensusSchema
import graft.sink.SnapshotSink

/** Streaming pipeline configuration.
  *
  * @param zThreshold     z-score anomaly cut (reference `> 3`, spark_streaming.py:110)
  * @param trigger        micro-batch trigger (reference 10 s, spark_streaming.py:203,209)
  * @param fused          false = two concurrent queries like the reference (T4,
  *                       source read twice), each running the batch body
  *                       for its own tables; true = one query running the
  *                       body once for all 8 tables (the scale mode)
  * @param clock          epoch-seconds clock, injectable for deterministic tests
  *                       (reference `time.time()`, spark_streaming.py:90,128)
  * @param maxFilesPerTrigger  file-source read limit per micro-batch —
  *                       lets Trigger.AvailableNow drain a backlog in
  *                       several bounded batches (the throughput-bench
  *                       and backfill shape) instead of one giant one
  */
final case class PipelineConfig(
    zThreshold: Double = 3.0,
    trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
    fused: Boolean = false,
    clock: () => Double = () => System.currentTimeMillis() / 1000.0,
    maxFilesPerTrigger: Option[Int] = None,
)

/** The engine core — the reference's `spark_streaming.py` re-expressed
  * Spark-first (SURVEY §2.8, §3.1).
  *
  * Semantics preserved exactly: all aggregation is per-micro-batch and
  * stateless across batches; each batch appends timestamped snapshot
  * rows to 8 sink tables, and the read side (graft.read.Dashboard)
  * re-aggregates snapshots over time. No watermarks, no event-time
  * windows — adding them would change late-file behavior (T8).
  *
  * Physics improved deliberately (SURVEY §4): a batch is persisted and
  * aggregated in ONE grouping-sets pass — the global summary row plus
  * the five count tables — and only the global row reaches the driver.
  * That row gates emptiness (no row, no writes), supplies the z-score
  * scalars and, through its min/max hours, decides whether any anomaly
  * exists without a job. The 7-8 table writes then run concurrently,
  * since each one is mostly commit-path fixed cost; every table but
  * raw_data is coalesced to one file per batch, so the overlap does not
  * multiply the files the dashboard lists. Raw rows and anomalies are
  * written by executors instead of collected row-at-a-time.
  */
final class Pipeline(sink: SnapshotSink, config: PipelineConfig = PipelineConfig()) {
  import Pipeline._

  /** The enrichment projection (processed_df, spark_streaming.py:49-69). */
  def processed(input: DataFrame): DataFrame = Derive.enrich(input)

  /** One fused batch: every table from a single persisted scan. */
  def runBatch(batch: DataFrame, epochId: Long): Unit = writeBatch(batch, Tables)

  /** The batch body for `tables`: compute_batch_stats
    * (spark_streaming.py:76-120) and write_aggregations_to_mongo
    * (spark_streaming.py:123-197) as one aggregation plus overlapped
    * writes. Two-query mode runs it once per query, for that query's
    * tables.
    */
  private def writeBatch(batch: DataFrame, tables: Seq[String]): Unit = {
    val ts = config.clock()
    val cached = batch.persist()
    try {
      val countSpecs = CountTables.filter(t => tables.contains(t.table))
      // A1 + the five group-bys in one pass; the income counts ride
      // along as pivoted conditional sums (P8's dynamic Mongo keys, as
      // a fixed closed-set wide schema)
      val aggregated = cached
        .groupingSets((Nil +: countSpecs.map(_.keys)).map(_.map(col)), KeyCols.map(col): _*)
        .agg(Aggs.head, Aggs.tail: _*)
      // the small result persists as an RDD: a persisted Dataset would
      // cost one more job, AQE materializing its cache as a query stage
      val groupedRows = aggregated.rdd.persist()
      val grouped = cached.sparkSession.createDataFrame(groupedRows, aggregated.schema)
      try {
        def rowsOf(keys: Seq[String]): DataFrame = grouped.filter(col("gid") === groupingId(keys))
        def stamped(df: DataFrame): DataFrame = df.withColumn("timestamp", lit(ts))
        val global = Grids.boundedRows(
          rowsOf(Nil).select("avg_hours", "stddev_hours", "min_hours", "max_hours"),
          1, "census_batch_global")
        global.headOption.foreach { g =>
          def num(i: Int): Double =
            if (g.isNullAt(i)) Double.NaN else g.get(i).asInstanceOf[Number].doubleValue
          val (mean, sd) = (num(0), num(1))
          // W1/P6/F1-F3: the cut from the summary's own scalars; written
          // only when some row is past it
          def anomalies = Stats.zScoreCut(cached, "hours_per_week", mean, sd, config.zThreshold)
            .withColumnRenamed("hours_per_week_z_score", "hours_z_score")
            .withColumn("anomaly_type", lit("hours_outlier"))
            .withColumn("z_score", col("hours_z_score"))
            .withColumn("detected_at", lit(ts))
            .drop("timestamp")
            .withColumn("timestamp", lit(ts))
            .coalesce(1)
          val frames =
            Seq("summary_statistics" ->
              stamped(rowsOf(Nil).select(Summary.map(s => col(s._1)): _*)).coalesce(1)) ++
            (if (Stats.anyPastCut(num(2), num(3), mean, sd, config.zThreshold))
              Seq("anomalies" -> anomalies) else Nil) ++
            countSpecs.map(t => t.table ->
              stamped(rowsOf(t.keys).select((t.keys ++ t.values).map(col): _*)).coalesce(1)) :+
            // X3: reference collects the full batch and insert_one's each
            // row (spark_streaming.py:195-197); we append distributed.
            ("raw_data" -> stamped(cached.drop("timestamp")))
          writeConcurrently(sink, frames.filter { case (table, _) => tables.contains(table) })
        }
      } finally { groupedRows.unpersist(blocking = false); () }
    } finally { cached.unpersist(); () }
  }

  /** Start the pipeline over a file-stream source (S1) — the reference's
    * deployment shape. `fused=false` mirrors T4: two independent queries,
    * each with its own offset log, reading the source twice.
    */
  def start(spark: org.apache.spark.sql.SparkSession, inputDir: String,
      checkpointRoot: String): Seq[StreamingQuery] = {
    val reader = spark.readStream.schema(CensusSchema.schema)
      .option("header", "false")
    config.maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    val stream = processed(reader.csv(inputDir))

    if (config.fused) {
      Seq(stream.writeStream
        .outputMode("update")
        .trigger(config.trigger)
        .option("checkpointLocation", s"$checkpointRoot/fused")
        .foreachBatch { (df: DataFrame, epochId: Long) => runBatch(df, epochId) }
        .start())
    } else {
      Seq("stats" -> StatsTables, "agg" -> AggTables).map { case (name, tables) =>
        stream.writeStream
          .outputMode("update")
          .trigger(config.trigger)
          .option("checkpointLocation", s"$checkpointRoot/$name")
          .foreachBatch { (df: DataFrame, _: Long) => writeBatch(df, tables) }
          .start()
      }
    }
  }
}

object Pipeline {

  /** The stats query's tables (compute_batch_stats, spark_streaming.py:76-120). */
  val StatsTables: Seq[String] = Seq("summary_statistics", "anomalies")

  /** The agg query's tables (write_aggregations_to_mongo, spark_streaming.py:123-197). */
  val AggTables: Seq[String] = Seq("age_group_distribution", "education_income",
    "gender_income", "work_hours", "occupation_stats", "raw_data")

  val Tables: Seq[String] = StatsTables ++ AggTables

  /** A grouped snapshot table: its grouping keys and aggregate columns. */
  private final case class CountTable(table: String, keys: Seq[String], values: Seq[String])

  private val CountTables = Seq(
    CountTable("age_group_distribution", Seq("age_group"), Seq("count")),
    CountTable("education_income", Seq("education", "income_category"), Seq("count")),
    CountTable("gender_income", Seq("gender", "income_category"), Seq("count")),
    CountTable("work_hours", Seq("work_hours_category"), Seq("count")),
    CountTable("occupation_stats", Seq("occupation"), Seq("avg_age", "avg_hours", "count")))

  private val KeyCols: Seq[String] = CountTables.flatMap(_.keys).distinct

  /** `grouping_id()` of the set grouped by `keys`: one bit per key
    * column, most significant first, set when that column is
    * aggregated away.
    */
  private def groupingId(keys: Seq[String]): Long =
    KeyCols.foldLeft(0L)((id, k) => id * 2 + (if (keys.contains(k)) 0 else 1))

  /** The summary_statistics columns, in table order. */
  private val Summary: Seq[(String, Column)] = Seq(
    "avg_age" -> avg("age"),
    "stddev_age" -> stddev("age"),
    "min_age" -> min("age"),
    "max_age" -> max("age"),
    "avg_hours" -> avg("hours_per_week"),
    "stddev_hours" -> stddev("hours_per_week"),
    "avg_capital_income" -> avg("capital_income"),
    "stddev_capital_income" -> stddev("capital_income"),
    "count_high_income" ->
      sum(when(col("income_category") === "High Income (>50K)", 1).otherwise(0)),
    "count_low_income" ->
      sum(when(col("income_category") === "Low Income (<=50K)", 1).otherwise(0)))

  private val Aggs: Seq[Column] = Summary.map { case (n, c) => c.as(n) } ++ Seq(
    min("hours_per_week").as("min_hours"),
    max("hours_per_week").as("max_hours"),
    count(lit(1)).as("count"),
    grouping_id().as("gid"))

  /** Runs each table's write on a thread created for this call, so it
    * inherits the caller's Spark local properties — the streaming
    * query id, batch id and job group: `query.stop()` still cancels
    * these jobs and listeners still attribute them to the batch.
    * Returns once every write has returned, then rethrows the first
    * failure (or an interrupt of the caller) with any others attached
    * as suppressed.
    */
  private def writeConcurrently(sink: SnapshotSink,
      frames: Seq[(String, DataFrame)]): Unit = {
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val threads = frames.map { case (table, df) =>
      val t = new Thread(() =>
        try sink.write(table, df)
        catch { case e: Throwable =>
          failures.add(new RuntimeException(s"write to snapshot table '$table' failed", e)); ()
        }, s"snapshot-write-$table")
      t.setDaemon(true)
      t.start()
      t
    }
    var interrupt: Option[InterruptedException] = None
    threads.foreach { t =>
      while (t.isAlive) try t.join() catch { case e: InterruptedException => interrupt = Some(e) }
    }
    val errors = failures.asScala.toSeq
    (interrupt ++ errors).headOption.foreach { first =>
      errors.filterNot(_ eq first).foreach(first.addSuppressed)
      throw first
    }
  }
}
