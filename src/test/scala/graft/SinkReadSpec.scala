package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.sink.ParquetSnapshotSink

/** `ParquetSnapshotSink` reads with a schema it already has (the one
  * it wrote, else one footer read on the driver), so a read runs only
  * the query's own jobs: no schema-inference job ahead of them.
  */
class SinkReadSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("occupation", StringType),
    StructField("count", LongType, nullable = false),
    StructField("timestamp", DoubleType, nullable = false)))

  private val rows = Seq(
    Row("Sales", 3L, 1704103200.0), // 2024-01-01
    Row(null, 1L, 1704276000.0)) // 2024-01-03

  /** The jobs `body` started on this thread, counted with AQE off: with
    * AQE on a shuffle stage can be a job of its own.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = "graft.spec.sink_read"
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))).foreach(jobs.add)
    }
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      try body finally sc.setLocalProperty(tag, null)
      // the listener bus delivers in order: once this job is seen, so
      // is every job `body` ran
      sc.setLocalProperty(tag, "flush")
      try spark.range(1).count() finally sc.setLocalProperty(tag, null)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!jobs.contains("flush") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.contains("flush"))
      jobs.asScala.count(_ == "body")
    } finally {
      sc.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  test("a sink read runs the jobs of a read with the schema given, not a schema job more") {
    val root = Files.createTempDirectory("graft_sink_read").toString
    val dir = s"$root/occupation_stats"
    val sink = new ParquetSnapshotSink(root)
    sink.write("occupation_stats", spark.createDataFrame(rows.asJava, schema))
    sink.write("occupation_stats",
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema))
    // a sink over the same root that wrote nothing reads one footer instead
    val reader = new ParquetSnapshotSink(root)

    val withSchema = jobsOf(spark.read.schema(schema).parquet(dir).drop("batch_date").count())
    assert(withSchema == 1)
    assert(jobsOf(sink.read(spark, "occupation_stats").count()) == withSchema)
    assert(jobsOf(reader.read(spark, "occupation_stats").count()) == withSchema)
    // plain parquet inference reads the footers in a job of its own
    assert(jobsOf(spark.read.parquet(dir).count()) == withSchema + 1)

    // and the reads give what inference gives, batch_date discovered
    val inferred = spark.read.parquet(dir)
    assert(inferred.schema("batch_date").dataType == DateType)
    Seq(sink, reader).foreach { s =>
      val read = s.read(spark, "occupation_stats")
      assert(read.schema == inferred.drop("batch_date").schema)
      assert(read.collect().toSet == inferred.drop("batch_date").collect().toSet)
      assert(read.count() == 4)
      assert(s.readSince(spark, "occupation_stats", 1704276000.0).count() == 2)
    }
  }

  test("a table with no data file fails as a plain parquet read does") {
    val root = Files.createTempDirectory("graft_sink_read").toString
    val sink = new ParquetSnapshotSink(root)
    val plain = intercept[Exception](spark.read.parquet(s"$root/anomalies"))
    val read = intercept[Exception](sink.read(spark, "anomalies"))
    assert(read.getClass == plain.getClass && read.getMessage == plain.getMessage)
  }
}
