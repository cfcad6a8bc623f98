package graft.stream

import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.functions.{BatchConstant, KeyedCountAgg}
import graft.ops.{Derive, Stats}
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
  * Physics improved deliberately (SURVEY §4): a fused batch runs 3
  * Spark jobs of one stage each, 2 when no row passes the anomaly cut.
  *  - One pass over the persisted batch fills the cache and gathers
  *    every aggregate the batch needs as one `Observation`: the summary
  *    row, min/max hours, the row count and the five count tables as
  *    one [[graft.functions.KeyedCountAgg]]. The pass is a write with
  *    no output (`noop`), so it is one stage with no shuffle. The count
  *    gates emptiness (0 rows, no writes), the summary supplies the
  *    z-score scalars, and min/max hours decide whether any anomaly
  *    exists without a job.
  *  - summary_statistics and the five count tables are built from the
  *    observed row as driver-local frames, which `ParquetSnapshotSink`
  *    writes from the driver without a job.
  *  - raw_data and anomalies stay distributed: one write job each,
  *    written by executors instead of collected row-at-a-time.
  * The writes run concurrently once the pass has returned, since each
  * one is mostly fixed cost. The observation does not ride the
  * raw_data write: anomalies would then have to wait for it.
  *
  * Steady-state batches compile no code. The per-batch values (the
  * batch time, the cut's mean and stddev) enter the distributed plans
  * as [[graft.functions.BatchConstant]]s rather than literals, and
  * `start` drops the enrichment's `current_timestamp()` column (the
  * body stamps its own), so every batch generates the same Java source
  * and hits Spark's codegen cache.
  *
  * `start` sets the body's session (the query's own clone) for this
  * shape: AQE off, since the body has no join and no shuffle, and one
  * open file writer per write task, since every row of a batch carries
  * the batch's one time stamp and so lands in one `batch_date`
  * partition.
  *
  * In two-query mode each query's pass carries only its tables'
  * aggregates, and each query runs the pass and its one distributed
  * write (anomalies or raw_data): 2 jobs per batch.
  */
final class Pipeline(sink: SnapshotSink, config: PipelineConfig = PipelineConfig()) {
  import Pipeline._

  /** The enrichment projection (processed_df, spark_streaming.py:49-69). */
  def processed(input: DataFrame): DataFrame = Derive.enrich(input)

  /** One fused batch: every table from a single persisted scan. */
  def runBatch(batch: DataFrame, epochId: Long): Unit = writeBatch(batch, Tables)

  /** The batch body for `tables`: compute_batch_stats
    * (spark_streaming.py:76-120) and write_aggregations_to_mongo
    * (spark_streaming.py:123-197) as one observed pass plus overlapped
    * writes. Two-query mode runs it once per query, for that query's
    * tables.
    */
  private def writeBatch(batch: DataFrame, tables: Seq[String]): Unit = {
    val ts = config.clock()
    // the body stamps `ts` itself: the enrichment's timestamp is dropped
    val cached = batch.drop("timestamp").persist()
    try {
      val countSpecs = CountTables.filter(t => tables.contains(t.table))
      val stats = tables.exists(StatsTables.contains)
      // A1 + the five group-bys in one pass, gathered without a shuffle
      val metrics = count(lit(1)).as("count") +:
        ((if (stats) StatsAggs else Nil) ++
          (if (countSpecs.isEmpty) Nil else Seq(KeyedCountAgg.column(
            countSpecs.map(_.keys), Averaged.map(_._2), GroupedRowCeiling).as("keyed_counts"))))
      val observation = Observation()
      cached.observe(observation, metrics.head, metrics.tail: _*)
        .write.format("noop").mode("append").save()
      val g = Await.result(observation.future, Duration.Inf)
      val groups = if (countSpecs.isEmpty) Nil else g.getSeq[Row](g.fieldIndex("keyed_counts"))
      if (groups.size > GroupedRowCeiling)
        throw new GroupCeilingExceeded(s"the census batch's count tables " +
          s"(${countSpecs.map(_.table).mkString(", ")}) hold more than $GroupedRowCeiling " +
          "groups, a bound set from the census domains (about 60 groups)")
      if (g.getAs[Long]("count") > 0) {
        // a small table as a driver-local frame: `rows` under `fields`, stamped
        def local(rows: Seq[Seq[Any]], fields: Seq[StructField]): DataFrame =
          cached.sparkSession.createDataFrame(rows.map(r => Row.fromSeq(r :+ ts)).asJava,
            StructType(fields :+ StructField("timestamp", DoubleType, nullable = false)))
        def num(c: String): Double =
          if (g.isNullAt(g.fieldIndex(c))) Double.NaN else g.getAs[Number](c).doubleValue
        val summary = if (!stats) Nil else {
          val fields = Summary.map(c => g.schema(c._1))
          Seq("summary_statistics" -> local(Seq(fields.map(f => g.getAs[Any](f.name))), fields))
        }
        val anomalies = if (!stats) Nil else {
          val (mean, sd) = (num("avg_hours"), num("stddev_hours"))
          // W1/P6/F1-F3: the cut from the summary's own scalars; written
          // only when some row is past it
          if (!Stats.anyPastCut(num("min_hours"), num("max_hours"), mean, sd, config.zThreshold)) Nil
          else Seq("anomalies" -> Stats.zScoreCut(cached, "hours_per_week", mean, sd, config.zThreshold)
            .withColumnRenamed("hours_per_week_z_score", "hours_z_score")
            .withColumn("anomaly_type", lit("hours_outlier"))
            .withColumn("z_score", col("hours_z_score"))
            .withColumn("detected_at", BatchConstant.column(ts))
            .withColumn("timestamp", BatchConstant.column(ts))
            .coalesce(1))
        }
        val counted = countSpecs.zipWithIndex.map { case (t, set) =>
          val rows = groups.filter(_.getInt(0) == set).map { r =>
            val (n, sum) = (r.getSeq[Long](3), r.getSeq[Long](4))
            val avgs = if (!t.averaged) Nil else Averaged.indices.map(m =>
              if (n(m) == 0) null else sum(m).toDouble / n(m).toDouble)
            r.getSeq[String](1) ++ avgs :+ r.getLong(2)
          }
          t.table -> local(rows, t.fields)
        }
        // X3: reference collects the full batch and insert_one's each
        // row (spark_streaming.py:195-197); we append distributed.
        val raw = Seq("raw_data" -> cached.withColumn("timestamp", BatchConstant.column(ts)))
        writeConcurrently(sink, (summary ++ anomalies ++ counted ++ raw)
          .filter { case (table, _) => tables.contains(table) })
      }
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
    // the batch body stamps its own time, so the enrichment's
    // current_timestamp() (a new literal in every batch's plan) goes
    val stream = processed(reader.csv(inputDir)).drop("timestamp")

    if (config.fused) {
      Seq(stream.writeStream
        .outputMode("update")
        .trigger(config.trigger)
        .option("checkpointLocation", s"$checkpointRoot/fused")
        .foreachBatch { (df: DataFrame, epochId: Long) => runBatch(forBatchBody(df), epochId) }
        .start())
    } else {
      Seq("stats" -> StatsTables, "agg" -> AggTables).map { case (name, tables) =>
        stream.writeStream
          .outputMode("update")
          .trigger(config.trigger)
          .option("checkpointLocation", s"$checkpointRoot/$name")
          .foreachBatch { (df: DataFrame, _: Long) => writeBatch(forBatchBody(df), tables) }
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

  /** Most groups the batch's five count tables may hold together. The
    * census domains give about 60 (5 age groups, 16 educations and 2
    * genders by 2 income categories, 3 work-hours buckets, 15
    * occupations), so 1024 is wide headroom; a batch past it fails with
    * [[GroupCeilingExceeded]] instead of growing the driver's share of
    * the batch.
    */
  private val GroupedRowCeiling = 1024

  /** A batch whose count tables went past their group ceiling. */
  final class GroupCeilingExceeded(message: String) extends IllegalStateException(message)

  /** `df` with the batch body's settings on its session. Under `start`
    * that session is the streaming query's own clone, so the caller's
    * session keeps its settings.
    *  - AQE off: the body has no join and no shuffle, so AQE would only
    *    re-plan each write.
    *  - One concurrent output writer per write task: Spark then writes
    *    a partitioned append through an open writer per partition value
    *    instead of sorting the rows by `batch_date` first. A batch's rows
    *    share one time stamp, so one writer takes them all. The time
    *    stamp is a `BatchConstant`, which the planner cannot fold, so
    *    without this it would plan that sort on every distributed write.
    */
  private def forBatchBody(df: DataFrame): DataFrame = {
    df.sparkSession.conf.set("spark.sql.adaptive.enabled", "false")
    df.sparkSession.conf.set("spark.sql.maxConcurrentOutputFileWriters", "1")
    df
  }

  /** occupation_stats' averaged columns and what each one averages. */
  private val Averaged = Seq("avg_age" -> "age", "avg_hours" -> "hours_per_week")

  /** A grouped snapshot table: its grouping keys, then the averages
    * when `averaged`, then `count`.
    */
  private final case class CountTable(table: String, keys: Seq[String], averaged: Boolean = false) {
    def fields: Seq[StructField] = keys.map(StructField(_, StringType)) ++
      (if (averaged) Averaged.map(a => StructField(a._1, DoubleType)) else Nil) :+
      StructField("count", LongType, nullable = false)
  }

  private val CountTables = Seq(
    CountTable("age_group_distribution", Seq("age_group")),
    CountTable("education_income", Seq("education", "income_category")),
    CountTable("gender_income", Seq("gender", "income_category")),
    CountTable("work_hours", Seq("work_hours_category")),
    CountTable("occupation_stats", Seq("occupation"), averaged = true))

  /** The summary_statistics columns, in table order. The income counts
    * are conditional sums (P8's dynamic Mongo keys, as a fixed
    * closed-set wide schema).
    */
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

  /** What the stats tables need: the summary and the hours' range. */
  private val StatsAggs: Seq[Column] = Summary.map { case (n, c) => c.as(n) } ++ Seq(
    min("hours_per_week").as("min_hours"),
    max("hours_per_week").as("max_hours"))

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
