package graft

import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.sink.ParquetSnapshotSink

/** `ParquetSnapshotSink` writes a driver-resident frame from the driver
  * and a distributed one through Spark's writer; a reader must not be
  * able to tell which path wrote a table.
  */
class SinkParitySpec extends SparkSpec {

  private val midnight = 1704153600.0 // 2024-01-02 00:00:00 UTC

  private val schema = StructType(Seq(
    StructField("occupation", StringType),
    StructField("count", LongType, nullable = false),
    StructField("avg_hours", DoubleType),
    StructField("timestamp", DoubleType, nullable = false)))

  // two UTC dates, one timestamp within a second of midnight on each side
  private val rows = Seq(
    Row("Sales", 3L, 41.5, midnight - 36000.0),
    Row(null, 1L, null, midnight - 0.25),
    Row("Tech-support", 2L, 38.0, midnight),
    Row("Sales", 5L, 40.0, midnight + 0.5))

  private def root(): String = Files.createTempDirectory("graft_parity").toString

  private def bag(df: DataFrame): Map[Row, Int] =
    df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap

  private def listed(dir: JPath): Seq[JPath] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq.sortBy(_.getFileName.toString) finally s.close()
  }

  private def dataFiles(table: JPath): Seq[JPath] =
    listed(table).filter(_.getFileName.toString.startsWith("batch_date="))
      .flatMap(listed).filter(_.getFileName.toString.endsWith(".parquet"))

  test("a local and a distributed frame read back alike from their own roots") {
    val local = spark.createDataFrame(rows.asJava, schema)
    val distributed = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    assert(local.isLocal && !distributed.isLocal)
    val (localRoot, distRoot) = (root(), root())
    val (localSink, distSink) = (new ParquetSnapshotSink(localRoot), new ParquetSnapshotSink(distRoot))
    // two appends each, so the table holds files of two writes per date
    Seq(localSink -> local, distSink -> distributed).foreach { case (sink, df) =>
      sink.write("occupation_stats", df)
      sink.write("occupation_stats", df)
    }
    val (localTable, distTable) =
      (JPath.of(localRoot, "occupation_stats"), JPath.of(distRoot, "occupation_stats"))

    def dates(t: JPath) = listed(t).map(_.getFileName.toString).filter(_.startsWith("batch_date="))
    assert(dates(localTable) == Seq("batch_date=2024-01-01", "batch_date=2024-01-02"))
    assert(dates(localTable) == dates(distTable))
    assert(dataFiles(localTable).size == 4)

    // a write that died before its rename leaves a hidden file behind
    val day1 = localTable.resolve("batch_date=2024-01-01")
    Files.write(day1.resolve(".part-00000-dead.c000.snappy.parquet.inprogress"),
      "not parquet".getBytes)

    val reads = Seq[(String, ParquetSnapshotSink => DataFrame)](
      "read" -> (_.read(spark, "occupation_stats")),
      "readSince" -> (_.readSince(spark, "occupation_stats", midnight - 0.5)))
    reads.foreach { case (name, readOf) =>
      val (l, d) = (readOf(localSink), readOf(distSink))
      assert(l.schema == d.schema, name)
      assert(bag(l) == bag(d), name)
    }
    // each row sits under the same batch_date on both roots
    assert(bag(spark.read.parquet(localTable.toString)) == bag(spark.read.parquet(distTable.toString)))
    assert(localSink.read(spark, "occupation_stats").count() == 8)
    assert(localSink.readSince(spark, "occupation_stats", midnight - 0.5).count() == 6)

    // the footers carry the same parquet schema and Spark row metadata
    val conf = spark.sparkContext.hadoopConfiguration
    def footer(f: JPath) = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.toUri), conf))
      try r.getFooter.getFileMetaData finally r.close()
    }
    val (lf, df) = (footer(dataFiles(localTable).head), footer(dataFiles(distTable).head))
    assert(lf.getSchema == df.getSchema)
    assert(lf.getKeyValueMetaData.asScala.toMap == df.getKeyValueMetaData.asScala.toMap)
  }
}
