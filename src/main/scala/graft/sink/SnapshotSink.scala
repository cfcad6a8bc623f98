package graft.sink

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Sink abstraction replacing the reference's 8 MongoDB collections
  * (reset_database.py:18-27). The reference inserts row-at-a-time from
  * the driver (spark_streaming.py:102,...,197); here every write is a
  * distributed DataFrame append — same semantics, no driver bottleneck
  * (SURVEY §1.4, §4).
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
  */
final class ParquetSnapshotSink(root: String) extends SnapshotSink {
  override def write(table: String, df: DataFrame): Unit =
    df.withColumn("batch_date",
        to_date(timestamp_seconds(col("timestamp").cast("long"))))
      .write.mode("append").partitionBy("batch_date")
      .parquet(s"$root/$table")

  override def read(spark: SparkSession, table: String): DataFrame =
    spark.read.parquet(s"$root/$table").drop("batch_date")

  /** Time-bounded read that actually prunes: the dashboard's F4
    * predicate is on the `timestamp` double, which alone would scan
    * every partition — the equivalent `batch_date` bound is what the
    * scan can prune on (PartitionFilters; SinkPruningSpec asserts it).
    * `minEpochSeconds`'s own filter stays too, for sub-day precision.
    */
  def readSince(spark: SparkSession, table: String, minEpochSeconds: Double): DataFrame =
    spark.read.parquet(s"$root/$table")
      .filter(col("batch_date") >=
        to_date(timestamp_seconds(lit(math.floor(minEpochSeconds).toLong))))
      .filter(col("timestamp") >= minEpochSeconds)
      .drop("batch_date")
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
