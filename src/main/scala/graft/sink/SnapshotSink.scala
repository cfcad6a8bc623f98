package graft.sink

import java.time.LocalDate
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Sink abstraction replacing the reference's 8 MongoDB collections
  * (reset_database.py:18-27). The reference inserts row-at-a-time from
  * the driver (spark_streaming.py:102,...,197); here every write is a
  * DataFrame append — same semantics, no driver bottleneck (SURVEY
  * §1.4, §4): data-sized tables are appended by executors, and only
  * the few rows of a driver-resident frame are written by the driver.
  */
trait SnapshotSink {
  /** Append one batch's rows to the named snapshot table. Rows are
    * expected to carry a `timestamp` column (epoch seconds, double) —
    * the reference's snapshot key (spark_streaming.py:89-91).
    *
    * Writes to DIFFERENT tables may run concurrently (the pipeline
    * overlaps a batch's writes); one table is never written by two
    * callers at once.
    */
  def write(table: String, df: DataFrame): Unit

  /** Read a snapshot table back (the dashboard's read side, §3.3). */
  def read(spark: SparkSession, table: String): DataFrame
}

/** Parquet-append sink, partitioned by snapshot date so the dashboard's
  * trailing-time-range queries (F4) prune partitions instead of
  * scanning history. At 100 TB of accumulated snapshots this is the
  * difference between reading a day and reading a year.
  *
  * The write path follows where the rows are. A distributed frame is
  * appended by Spark's writer (a job, its task and job commit). A
  * driver-resident frame (`Dataset.isLocal`: the pipeline's small
  * snapshot tables, built from one collected aggregate) is written by
  * the driver itself through the same parquet writer, one file per
  * `batch_date`, which saves the job a handful of rows would otherwise
  * pay. Readers cannot tell the two kinds of file apart.
  */
final class ParquetSnapshotSink(root: String) extends SnapshotSink {
  import ParquetSnapshotSink._

  /** Each table's data schema, for reads: the schema of the last frame
    * this sink wrote to it, else the one read from a file's footer.
    * Reading with it skips the one-task job in which
    * `spark.read.parquet` infers a schema from the footers; `batch_date`
    * is still discovered from the directory names.
    */
  private val schemas = new ConcurrentHashMap[String, StructType]()

  override def write(table: String, df: DataFrame): Unit = {
    if (df.isLocal) appendLocal(df, new Path(root, table))
    else df.withColumn("batch_date", BatchDate)
      .write.mode("append").partitionBy("batch_date")
      .parquet(s"$root/$table")
    schemas.put(table, df.schema)
    ()
  }

  override def read(spark: SparkSession, table: String): DataFrame =
    scan(spark, table).drop("batch_date")

  /** Time-bounded read that actually prunes: the dashboard's F4
    * predicate is on the `timestamp` double, which alone would scan
    * every partition — the equivalent `batch_date` bound is what the
    * scan can prune on (PartitionFilters; SinkPruningSpec asserts it).
    * `minEpochSeconds`'s own filter stays too, for sub-day precision.
    */
  def readSince(spark: SparkSession, table: String, minEpochSeconds: Double): DataFrame =
    scan(spark, table)
      .filter(col("batch_date") >=
        to_date(timestamp_seconds(lit(math.floor(minEpochSeconds).toLong))))
      .filter(col("timestamp") >= minEpochSeconds)
      .drop("batch_date")

  /** The table with its `batch_date` column. A table with no data file
    * yet has no schema to give: it is read as before, so it fails as
    * before.
    */
  private def scan(spark: SparkSession, table: String): DataFrame = {
    val dir = s"$root/$table"
    Option(schemas.get(table)).orElse(footerSchema(spark, new Path(dir))) match {
      case Some(schema) =>
        schemas.putIfAbsent(table, schema)
        spark.read.schema(schema).parquet(dir)
      case None => spark.read.parquet(dir)
    }
  }
}

object ParquetSnapshotSink {

  /** The partition column, derived from `timestamp` (epoch seconds) in
    * the session time zone. Both write paths evaluate this one
    * expression.
    */
  private val BatchDate = to_date(timestamp_seconds(col("timestamp").cast("long")))

  /** The data schema in the footer of one visible data file under
    * `dir`, read on the driver as Spark's own inference reads it (which
    * also takes one file's footer, in a job), or None with no such file.
    */
  private def footerSchema(spark: SparkSession, dir: Path): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return None
    val base = fs.makeQualified(dir).toUri.getPath
    // no path segment below `dir` hidden, as file listing skips them
    def visible(p: Path) = p.toUri.getPath.stripPrefix(base).split('/')
      .forall(n => !n.startsWith(".") && !n.startsWith("_"))
    val files = fs.listFiles(dir, true)
    Iterator.continually(files).takeWhile(_.hasNext).map(_.next().getPath)
      .find(p => p.getName.endsWith(".parquet") && visible(p))
      .map { p =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
        val footer = try reader.getFooter finally reader.close()
        ParquetFileFormat.readSchemaFromFooter(new Footer(p, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
  }

  /** Appends a driver-resident frame to the table at `dir` without a
    * Spark job: one parquet file per `batch_date`, written by Spark's
    * own parquet `OutputWriter` under the session's Hadoop conf and
    * parquet settings, named as Spark's writer names its files. Each
    * file is written under a hidden name (`.`-prefixed, which file
    * listing skips) and renamed into place once closed, so a reader
    * never sees a partial file and a failed write leaves nothing
    * readable behind.
    */
  private def appendLocal(df: DataFrame, dir: Path): Unit = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val dataSchema = df.schema
    // the frame's rows are already on the driver; the batch_date
    // projection over them plans to a local scan, so this runs no job
    val rows = df.withColumn("batch_date", BatchDate)
      .queryExecution.executedPlan.executeCollect()
    val date = dataSchema.length
    val dataRow = UnsafeProjection.create(dataSchema)
    def dayOf(r: InternalRow): String =
      if (r.isNullAt(date)) null else LocalDate.ofEpochDay(r.getInt(date).toLong).toString
    rows.groupBy(dayOf).foreach { case (day, part) =>
      val job = Job.getInstance(spark.sessionState.newHadoopConf())
      val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, dataSchema)
      val ctx = new TaskAttemptContextImpl(job.getConfiguration,
        new TaskAttemptID("graft", 0, TaskType.MAP, 0, 0))
      val partDir = new Path(dir, ExternalCatalogUtils.getPartitionPathString("batch_date", day))
      val name = s"part-00000-${UUID.randomUUID()}.c000${factory.getFileExtension(ctx)}"
      val inProgress = new Path(partDir, s".$name.inprogress")
      val fs = partDir.getFileSystem(job.getConfiguration)
      try {
        val writer = factory.newInstance(inProgress.toString, dataSchema, ctx)
        try part.foreach(r => writer.write(dataRow(r))) finally writer.close()
        require(fs.rename(inProgress, new Path(partDir, name)),
          s"rename $inProgress into $partDir failed")
      } catch { case e: Throwable =>
        fs.delete(inProgress, false)
        throw e
      }
    }
  }
}

/** In-memory sink for deterministic tests — buffers rows per table on
  * the driver. Test-scale only (uses collect).
  */
final class InMemorySnapshotSink extends SnapshotSink {
  private val tables = mutable.Map.empty[String, (StructType, mutable.ArrayBuffer[Row])]

  // the collect runs outside the lock so concurrent writes overlap
  override def write(table: String, df: DataFrame): Unit = {
    val rows = df.collect()
    synchronized {
      val (_, buf) = tables.getOrElseUpdate(table, (df.schema, mutable.ArrayBuffer.empty[Row]))
      buf ++= rows
    }
  }

  override def read(spark: SparkSession, table: String): DataFrame = synchronized {
    val (schema, buf) = tables(table)
    spark.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(buf.toSeq).asJava), schema)
  }

  def tableNames: Set[String] = synchronized(tables.keySet.toSet)
  def rowCount(table: String): Int = synchronized(tables.get(table).map(_._2.size).getOrElse(0))
}
