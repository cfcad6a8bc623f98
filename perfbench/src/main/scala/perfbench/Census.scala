package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.read.Dashboard
import graft.schema.CensusRecord
import graft.sink.SnapshotSink
import graft.stream.Simulator

/** Census input generator and the plain-Scala expectations the sink
  * tables are checked against.
  *
  * Rows come from `Simulator.generateSeed` with `hours_per_week`
  * redrawn from a census-like distribution (about half the mass exactly
  * at 40, the rest N(40, 12) clipped to 1..99). The uniform 1..99 draw
  * of the seed generator caps |z| near 1.7, so no batch ever reached
  * the anomaly path. Batches keep the reference's 5% injection of
  * {90, 95, 100, 5, 3, 1} through `Simulator.sampleBatch`, and files are
  * written through `Simulator.writeBatchCsv`.
  */
object Census {

  def pool(seed: Long, n: Int = 2000): Vector[CensusRecord] = {
    val rng = new Random(seed * 31 + 7)
    Simulator.generateSeed(n, seed).zipWithIndex.map { case (r, i) =>
      // the first four seed rows carry the work-hours bucket edges
      if (i < 4) r else r.copy(hours_per_week = Some(hours(rng)))
    }
  }

  private def hours(rng: Random): Int =
    if (rng.nextDouble() < 0.48) 40
    else math.max(1, math.min(99, math.round(40 + 12 * rng.nextGaussian()).toInt))

  /** One batch of exactly `n` rows (`n` = 0 draws the reference's 3-10). */
  def batch(pool: Vector[CensusRecord], rng: Random, n: Int = 0): Vector[CensusRecord] = {
    val cfg = if (n > 0) Simulator.Config(batchMin = n, batchMax = n) else Simulator.Config()
    Simulator.sampleBatch(pool, rng, cfg)
  }

  /** Expected per-key totals, computed row by row from the reference's
    * bucketing rules (spark_streaming.py:49-69).
    */
  final class Tally {
    var rows = 0L
    var high = 0L
    val ageGroup = mutable.Map.empty[Seq[String], Long].withDefaultValue(0L)
    val eduIncome = mutable.Map.empty[Seq[String], Long].withDefaultValue(0L)
    val genderIncome = mutable.Map.empty[Seq[String], Long].withDefaultValue(0L)
    val workHours = mutable.Map.empty[Seq[String], Long].withDefaultValue(0L)
    val occupation = mutable.Map.empty[Seq[String], Long].withDefaultValue(0L)
    val country = mutable.Map.empty[String, Long].withDefaultValue(0L)

    def add(rs: Seq[CensusRecord]): Tally = {
      rs.foreach { r =>
        val age = r.age.get
        val h = r.hours_per_week.get
        val income = if (r.income.contains(1)) "High Income (>50K)" else "Low Income (<=50K)"
        val ag =
          if (age < 18) "Under 18" else if (age < 30) "18-29" else if (age < 45) "30-44"
          else if (age < 65) "45-64" else "65+"
        val wh = if (h < 20) "Part-time (<20)" else if (h <= 40) "Full-time (20-40)" else "Overtime (>40)"
        rows += 1
        if (r.income.contains(1)) high += 1
        ageGroup(Seq(ag)) += 1
        eduIncome(Seq(r.education.get, income)) += 1
        genderIncome(Seq(r.gender.get, income)) += 1
        workHours(Seq(wh)) += 1
        occupation(Seq(r.occupation.get)) += 1
        country(r.native_country.get) += 1
      }
      this
    }
  }

  /** The five count tables, with their keys and expected totals. */
  def countTables(t: Tally): Seq[(String, Seq[String], collection.Map[Seq[String], Long])] = Seq(
    ("age_group_distribution", Seq("age_group"), t.ageGroup),
    ("education_income", Seq("education", "income_category"), t.eduIncome),
    ("gender_income", Seq("gender", "income_category"), t.genderIncome),
    ("work_hours", Seq("work_hours_category"), t.workHours),
    ("occupation_stats", Seq("occupation"), t.occupation))

  /** Checks a census sink against the rows that went into it: raw rows,
    * the re-aggregated count tables, the income split of the summary
    * snapshots, and every anomaly's z recomputed from its batch summary.
    */
  def checkSink(ctx: Ctx, sink: SnapshotSink, t: Tally, label: String): Unit = {
    val spark = ctx.spark
    ctx.check(s"$label raw_data rows") {
      val n = sink.read(spark, "raw_data").count()
      n == t.rows || { ctx.note(s"raw_data has $n rows, expected ${t.rows}"); false }
    }
    countTables(t).foreach { case (table, keys, expected) =>
      ctx.check(s"$label $table totals") {
        val got = Dashboard.reaggregate(sink.read(spark, table), keys).collect()
          .map(r => keys.indices.map(r.getString).toSeq -> r.getLong(keys.length)).toMap
        got == expected.toMap || { ctx.note(s"$table totals differ: $got vs $expected"); false }
      }
    }
    ctx.check(s"$label summary income split") {
      val r = sink.read(spark, "summary_statistics")
        .agg(sum(col("count_high_income") + col("count_low_income")), sum("count_high_income"))
        .head()
      (r.getLong(0) == t.rows && r.getLong(1) == t.high) ||
        { ctx.note(s"summary split ${r.getLong(0)}/${r.getLong(1)} vs ${t.rows}/${t.high}"); false }
    }
    ctx.check(s"$label anomalies z") {
      val summary = sink.read(spark, "summary_statistics")
        .select(col("timestamp"), col("avg_hours"), col("stddev_hours"))
      val z = abs(col("hours_per_week") - col("avg_hours")) / col("stddev_hours")
      val anomalies = sink.read(spark, "anomalies").join(summary, Seq("timestamp"), "left")
      val bad = anomalies.filter(col("avg_hours").isNull || z <= 3 ||
        abs(z - col("z_score")) > lit(1e-9) * greatest(lit(1.0), z)).count()
      // completeness: every raw row beyond |z| > 3 of its batch is an anomaly row
      val expected = sink.read(spark, "raw_data").join(summary, Seq("timestamp"))
        .filter(col("stddev_hours") > 0 && z > 3).count()
      val n = anomalies.count()
      (bad == 0 && n == expected && n > 0) ||
        { ctx.note(s"anomalies: $n rows, $expected expected, $bad with a wrong z"); false }
    }
  }
}
