package graft

import java.nio.file.Files
import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import graft.ops.Derive
import graft.schema.{CensusRecord, CensusSchema}
import graft.sink.{InMemorySnapshotSink, ParquetSnapshotSink, SnapshotSink}
import graft.stream.{Pipeline, PipelineConfig, Simulator}

/** The one-pass census batch body (`Pipeline.runBatch`): equal output
  * to the two-pass [[ReferenceBatchBody]], the anomaly-existence
  * decision at its edges, overlapped writes and their failures, the
  * batch's job and stage counts and their attribution, its steady
  * state compiling no code, and the written schemas.
  */
class PipelineBatchSpec extends SparkSpec {
  import spark.implicits._

  private val seedRows = Simulator.generateSeed(200)

  private def frame(rows: Seq[CensusRecord]): DataFrame =
    Derive.enrich(rows.toDF(), Some(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))

  private def withHours(hours: Seq[Option[Int]]): Seq[CensusRecord] =
    seedRows.zip(hours).map { case (r, h) => r.copy(hours_per_week = h) }

  private def onePass(sink: SnapshotSink, df: DataFrame, ts: Double, z: Double = 3.0): Unit =
    new Pipeline(sink, PipelineConfig(zThreshold = z, clock = () => ts)).runBatch(df, 0L)

  /** Simulator seed rows with `hours_per_week` redrawn census-like (48%
    * exactly 40, the rest N(40, 12) clipped to 1..99), so that batches
    * with the simulator's 5% injected hours reach the anomaly path; the
    * seed generator's uniform 1..99 hours keep every |z| under 3.
    */
  private def censusPool(seed: Long): Vector[CensusRecord] = {
    val rng = new Random(seed * 31 + 7)
    Simulator.generateSeed(2000, seed).zipWithIndex.map { case (r, i) =>
      if (i < 4) r // the work-hours bucket edges
      else r.copy(hours_per_week = Some(
        if (rng.nextDouble() < 0.48) 40
        else math.max(1, math.min(99, math.round(40 + 12 * rng.nextGaussian()).toInt))))
    }
  }

  private def bag(rows: Seq[Row]): Map[Row, Int] = rows.groupBy(identity).view.mapValues(_.size).toMap

  private def byTimestamp(sink: InMemorySnapshotSink, table: String): Map[Double, Row] =
    sink.read(spark, table).collect().map(r => r.getAs[Double]("timestamp") -> r).toMap

  test("one pass writes what the two-pass reference writes over a simulator backlog") {
    val pool = censusPool(5)
    val rng = new Random(5)
    val (ref, one) = (new InMemorySnapshotSink, new InMemorySnapshotSink)
    Seq(3000, 800, 120, 10, 3).zipWithIndex.foreach { case (n, i) =>
      val df = frame(Simulator.sampleBatch(pool, rng, Simulator.Config(batchMin = n, batchMax = n)))
      val ts = 1700000000.0 + i
      ReferenceBatchBody.run(ref, df, ts)
      onePass(one, df, ts)
    }
    assert(one.tableNames == ref.tableNames)
    assert(ref.tableNames.contains("anomalies"), "no batch reached the anomaly path")
    def rows(s: InMemorySnapshotSink, t: String, drop: String*) =
      s.read(spark, t).drop(drop: _*).collect().toSeq
    Pipeline.Tables.foreach { t =>
      assert(one.read(spark, t).schema.map(f => f.name -> f.dataType) ==
        ref.read(spark, t).schema.map(f => f.name -> f.dataType), t)
    }
    Pipeline.AggTables.foreach(t => assert(bag(rows(one, t)) == bag(rows(ref, t)), t))
    assert(bag(rows(one, "anomalies", "hours_z_score", "z_score")) ==
      bag(rows(ref, "anomalies", "hours_z_score", "z_score")))

    // partial aggregates may merge in another order: doubles to 1e-12
    val (sOne, sRef) = (byTimestamp(one, "summary_statistics"), byTimestamp(ref, "summary_statistics"))
    assert(sOne.keySet == sRef.keySet && sOne.size == 5)
    for ((ts, r) <- sOne; f <- r.schema.fieldNames)
      (r.getAs[Any](f), sRef(ts).getAs[Any](f)) match {
        case (a: Double, b: Double) =>
          assert(math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b)), s"$f @ $ts: $a vs $b")
        case (a, b) => assert(a == b, s"$f @ $ts")
      }

    // every anomaly's z is its own batch summary's z, exactly
    rows(one, "anomalies").foreach { a =>
      val s = sOne(a.getAs[Double]("timestamp"))
      val z = math.abs((a.getAs[Int]("hours_per_week") - s.getAs[Double]("avg_hours")) /
        s.getAs[Double]("stddev_hours"))
      assert(z > 3.0 && a.getAs[Double]("z_score") == z && a.getAs[Double]("hours_z_score") == z)
    }
  }

  /** Whether the reference and the one-pass body each wrote `anomalies`. */
  private def anomaliesWritten(hours: Seq[Option[Int]], z: Double = 3.0)
      : (Boolean, Boolean, InMemorySnapshotSink) = {
    val df = frame(withHours(hours))
    val (ref, one) = (new InMemorySnapshotSink, new InMemorySnapshotSink)
    ReferenceBatchBody.run(ref, df, 1.0, z)
    onePass(one, df, 1.0, z)
    (ref.tableNames("anomalies"), one.tableNames("anomalies"), one)
  }

  private val forty = Seq.fill(29)(Some(40))

  Seq[(String, Seq[Option[Int]], Boolean)](
    ("stddev 0", Seq.fill(10)(Some(40)), false),
    ("every hours_per_week null", Seq.fill(10)(None), false),
    ("one null hours_per_week", forty.drop(1) :+ None :+ Some(100), true),
    ("an outlier only below the mean", forty :+ Some(1), true),
    ("an outlier only above the mean", forty :+ Some(100), true),
  ).foreach { case (name, hours, expected) =>
    test(s"anomaly existence: $name") {
      val (ref, one, sink) = anomaliesWritten(hours)
      assert(ref == expected && one == expected)
      if (expected) {
        val flagged = sink.read(spark, "anomalies").collect().map(_.getAs[Int]("hours_per_week"))
        assert(flagged.toSeq == hours.flatten.filterNot(_ == 40))
      }
    }
  }

  test("anomaly existence: |z| exactly at the threshold is not an anomaly") {
    // 43 and 37 around seventeen 40s: mean 40 and sample stddev 1 come
    // out exact in any merge order, so both extremes sit at |z| == 3
    val hours = Seq(Some(43), Some(37)) ++ Seq.fill(17)(Some(40))
    val (ref, one, sink) = anomaliesWritten(hours)
    val s = sink.read(spark, "summary_statistics").head()
    assert(s.getAs[Double]("avg_hours") == 40.0 && s.getAs[Double]("stddev_hours") == 1.0)
    assert(!ref && !one)
    val (refBelow, oneBelow, _) = anomaliesWritten(hours, z = math.nextDown(3.0))
    assert(refBelow && oneBelow)
  }

  /** Fails the writes to `failOn` at once and holds the others for
    * `holdMs`, counting writes in flight.
    */
  private final class FailingSink(failOn: Set[String], holdMs: Long) extends SnapshotSink {
    val inner = new InMemorySnapshotSink
    val inFlight = new AtomicInteger
    val peak = new AtomicInteger
    val returned = ConcurrentHashMap.newKeySet[String]()

    override def write(table: String, df: DataFrame): Unit = {
      peak.accumulateAndGet(inFlight.incrementAndGet(), math.max)
      try {
        if (failOn(table)) throw new IllegalStateException("injected sink failure")
        Thread.sleep(holdMs)
        inner.write(table, df)
        returned.add(table); ()
      } finally { inFlight.decrementAndGet(); () }
    }

    override def read(spark: SparkSession, table: String): DataFrame = inner.read(spark, table)
  }

  private val withAnomaly = withHours(forty :+ Some(100))

  test("a failed write is rethrown by table name after every other write returned") {
    val sink = new FailingSink(Set("education_income"), holdMs = 500)
    val e = intercept[RuntimeException](onePass(sink, frame(withAnomaly), 1.0))
    assert(e.getMessage.contains("'education_income'"))
    assert(sink.inFlight.get == 0)
    assert(sink.returned.asScala == Pipeline.Tables.toSet - "education_income")
    assert(sink.peak.get > 1, "the writes did not overlap")
  }

  test("every failed write is reported: the first thrown, the rest suppressed") {
    val sink = new FailingSink(Set("work_hours", "raw_data"), holdMs = 100)
    val e = intercept[RuntimeException](onePass(sink, frame(withAnomaly), 1.0))
    val named = (e +: e.getSuppressed.toSeq).map(_.getMessage)
    assert(named.size == 2)
    assert(Seq("'work_hours'", "'raw_data'").forall(t => named.exists(_.contains(t))))
    assert(sink.inFlight.get == 0)
  }

  private val noAnomaly = withHours(Seq.fill(30)(Some(40)))

  /** Runs `start` over one file of `rows` to completion and returns the
    * queries and the properties of every job and every stage they ran.
    * Asserts that the caller session's settings for AQE and concurrent
    * output writers are left as they were.
    */
  private def startedJobs(rows: Seq[CensusRecord], fused: Boolean, sink: SnapshotSink)
      : (Seq[StreamingQuery], Seq[Properties], Seq[Properties]) = {
    val inDir = Files.createTempDirectory("graft_jobs_in").toString
    val ckpt = Files.createTempDirectory("graft_jobs_ckpt").toString
    Simulator.writeBatchCsv(rows, inDir, 1700000200L)
    val sentinel = "graft.spec.sentinel"
    val bodySettings = Seq("spark.sql.adaptive.enabled", "spark.sql.maxConcurrentOutputFileWriters")
    val before = bodySettings.map(spark.conf.get)
    val jobs = new ConcurrentLinkedQueue[Properties]()
    val stages = new ConcurrentLinkedQueue[Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.add(e.properties); () }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        stages.add(e.properties); ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val qs = new Pipeline(sink, PipelineConfig(fused = fused, trigger = Trigger.AvailableNow(),
        clock = () => 1700000200.0)).start(spark, inDir, ckpt)
      qs.foreach(_.awaitTermination())
      assert(bodySettings.map(spark.conf.get) == before)
      // the listener bus delivers in order: once this job is seen, so
      // is every job the queries ran
      sc.setLocalProperty(sentinel, "1")
      try spark.range(1).count() finally sc.setLocalProperty(sentinel, null)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!jobs.asScala.exists(_.getProperty(sentinel) != null) && System.nanoTime() < deadline)
        Thread.sleep(20)
      def ofQueries(ps: ConcurrentLinkedQueue[Properties]) =
        ps.asScala.toSeq.filter(_.getProperty(sentinel) == null)
      (qs, ofQueries(jobs), ofQueries(stages))
    } finally sc.removeSparkListener(listener)
  }

  private def parquetSink(): ParquetSnapshotSink =
    new ParquetSnapshotSink(Files.createTempDirectory("graft_jobs_sink").toString)

  test("a fused batch runs at most 12 jobs, each attributed to its query and batch") {
    val sink = new InMemorySnapshotSink
    val (qs, batchJobs, _) = startedJobs(withAnomaly, fused = true, sink)
    assert(sink.tableNames == Pipeline.Tables.toSet)
    assert(batchJobs.nonEmpty)
    batchJobs.foreach { p =>
      assert(p.getProperty("sql.streaming.queryId") == qs.head.id.toString)
      assert(p.getProperty("streaming.sql.batchId") == "0")
    }
    assert(batchJobs.size <= 12, s"${batchJobs.size} jobs in one fused batch")
  }

  for {
    (sinkName, newSink) <- Seq[(String, () => SnapshotSink)](
      "in-memory" -> (() => new InMemorySnapshotSink), "parquet" -> (() => parquetSink()))
    (rowsName, rows, expected, tables) <- Seq(
      (" with an anomaly row", withAnomaly, 3, Pipeline.Tables),
      (" without one", noAnomaly, 2, Pipeline.Tables.filterNot(_ == "anomalies")))
  } test(s"a fused batch$rowsName runs $expected jobs into the $sinkName sink, " +
      "each attributed to its query and batch") {
    val sink = newSink()
    val (qs, batchJobs, _) = startedJobs(rows, fused = true, sink)
    tables.foreach(t => assert(sink.read(spark, t).count() > 0, t))
    batchJobs.foreach { p =>
      assert(p.getProperty("sql.streaming.queryId") == qs.head.id.toString)
      assert(p.getProperty("streaming.sql.batchId") == "0")
    }
    assert(batchJobs.size == expected, s"${batchJobs.size} jobs in one fused batch")
  }

  test("in two-query mode each query's batch runs 2 jobs") {
    val (qs, batchJobs, _) = startedJobs(withAnomaly, fused = false, parquetSink())
    assert(qs.size == 2)
    val perQuery = batchJobs.groupBy(_.getProperty("sql.streaming.queryId")).view.mapValues(_.size).toMap
    assert(perQuery == qs.map(_.id.toString -> 2).toMap)
    assert(batchJobs.forall(_.getProperty("streaming.sql.batchId") == "0"))
  }

  test("with AQE off a fused batch runs 3 stages with an anomaly row, 2 without one, " +
      "and its distributed writes sort nothing") {
    for ((rows, expected) <- Seq(withAnomaly -> 3, noAnomaly -> 2)) {
      val plans = new ConcurrentLinkedQueue[String]()
      val listener = new SparkListener {
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription); ()
          case _ => ()
        }
      }
      val sc = spark.sparkContext
      sc.addSparkListener(listener)
      val (_, _, stages) = try startedJobs(rows, fused = true, parquetSink())
        finally sc.removeSparkListener(listener)
      assert(stages.size == expected, s"${stages.size} stages in one fused batch")
      // one time stamp per batch: the writes need no sort by batch_date
      val writes = plans.asScala.filter(_.contains("InsertIntoHadoopFsRelationCommand")).toSeq
      assert(writes.size == expected - 1)
      assert(writes.forall(!_.contains("Sort [")), writes.mkString("\n"))
    }
  }

  test("a steady-state census batch compiles no code") {
    // Spark's codegen cache is keyed by the generated source and the
    // class loader, so each class compiles once for the driver and once
    // more in the first executor task that needs it: the first batches
    // warm both. A value inlined as a literal (the batch time, the
    // cut's mean and stddev, the enrichment's current_timestamp())
    // would change the source on every batch and compile it again.
    val inDir = Files.createTempDirectory("graft_codegen_in").toString
    val ckpt = Files.createTempDirectory("graft_codegen_ckpt").toString
    // every batch has its own mean, stddev and time, and an anomaly row
    (0 until 4).foreach { i =>
      Simulator.writeBatchCsv(withHours(Seq.fill(29)(Some(40 + i % 3)) :+ Some(100 - i)),
        inDir, 1700000300L + i)
    }
    // compilations so far, read as each batch body starts
    val atStart = new ConcurrentLinkedQueue[Long]()
    val qs = new Pipeline(parquetSink(), PipelineConfig(fused = true, trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger = Some(1), clock = () => {
        atStart.add(CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
        1700000300.0 + atStart.size
      })).start(spark, inDir, ckpt)
    qs.foreach(_.awaitTermination())
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val starts = atStart.asScala.toSeq
    assert(starts.size == 4)
    assert(compiled == starts(2),
      s"${compiled - starts(2)} classes compiled in batches 3 and 4 (batches 1-2: ${starts(2) - starts.head})")
  }

  test("the written schemas, nullability included, are the pinned ones") {
    // name[:type][!]: string by default, `!` for not nullable
    def fields(spec: String): Seq[StructField] = spec.split(" ").toSeq.map { f =>
      val (name, rest) = f.stripSuffix("!").span(_ != ':')
      StructField(name, DataType.fromDDL(if (rest.isEmpty) "string" else rest.tail),
        nullable = !f.endsWith("!"))
    }
    val enriched = CensusSchema.schema.fields.toSeq ++
      fields("age_group! income_category! work_hours_category! capital_income_category!")
    val pinned = Map(
      "summary_statistics" -> fields("avg_age:double stddev_age:double min_age:int max_age:int " +
        "avg_hours:double stddev_hours:double avg_capital_income:double " +
        "stddev_capital_income:double count_high_income:bigint count_low_income:bigint " +
        "timestamp:double!"),
      "anomalies" -> (enriched ++ fields("hours_z_score:double anomaly_type! z_score:double " +
        "detected_at:double! timestamp:double!")),
      "age_group_distribution" -> fields("age_group count:bigint! timestamp:double!"),
      "education_income" -> fields("education income_category count:bigint! timestamp:double!"),
      "gender_income" -> fields("gender income_category count:bigint! timestamp:double!"),
      "work_hours" -> fields("work_hours_category count:bigint! timestamp:double!"),
      "occupation_stats" ->
        fields("occupation avg_age:double avg_hours:double count:bigint! timestamp:double!"),
      "raw_data" -> (enriched ++ fields("timestamp:double!")))
    val sink = new InMemorySnapshotSink
    onePass(sink, frame(withAnomaly), 1.0)
    assert(sink.tableNames == pinned.keySet)
    pinned.foreach { case (t, expected) => assert(sink.read(spark, t).schema == StructType(expected), t) }
  }
}
