package graft.sources

import org.apache.spark.sql.DataFrame

/** Bucketed-table helpers — the co-located-join scale tool.
  *
  * Writing both sides of a recurring fact-fact join bucketed (and
  * sorted) by the join key makes every subsequent join shuffle-free:
  * Spark matches bucket layouts and plans a sort-merge join with NO
  * Exchange on either side. On a 100 TB fact table joined every run,
  * paying the shuffle once at write time instead of per query is the
  * single biggest join optimization available — BucketingSpec asserts
  * the exchange-free plan.
  *
  * (The test corpus itself is plain parquet, which cannot carry bucket
  * metadata — bucketing requires `saveAsTable` into the session
  * catalog, so these helpers are exercised via catalog tables.)
  */
object Bucketing {

  /** Write `df` as a bucketed, sorted catalog table (overwrites).
    *
    * The session catalog is in-memory, but a managed table's DIRECTORY
    * can outlive its catalog entry: a JVM killed before its shutdown
    * hook leaves its warehouse behind, and a later JVM with the same
    * pid gets the same warehouse path (`Sessions.warehouseDir`). A
    * session that re-creates the table name there would hit
    * LOCATION_ALREADY_EXISTS, so any stale location is removed first.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    // the stale-location cleanup below derives warehousePath/<table>,
    // which is only correct for an unqualified name in the default
    // database — a qualified db.tbl would delete the wrong path and
    // still hit LOCATION_ALREADY_EXISTS
    require(!table.contains("."),
      s"writeBucketed requires an unqualified default-database table name, got '$table'")
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val stale = new org.apache.hadoop.fs.Path(
      spark.sessionState.conf.warehousePath, table.toLowerCase)
    val fs = stale.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(stale)) fs.delete(stale, true)
    df.write
      .mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)
  }
}
