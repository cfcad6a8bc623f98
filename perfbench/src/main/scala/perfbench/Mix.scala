package perfbench

import scala.math.BigDecimal.RoundingMode

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.read.Dashboard

/** The dashboard read mix: one `graft.read.Dashboard` function per op,
  * covering all 8 snapshot tables. Each op returns its result as
  * canonical text lines, so it can be compared with an independent
  * plain-Scala computation over the collected table rows ([[Snap]]).
  * While writes are still landing, a result can only be held to
  * invariants (`sane`); exact comparison needs a quiet sink.
  */
final case class MixOp(fn: String, table: String,
    run: (BenchSink, Double) => Seq[String],
    expect: (Snap, Double) => Seq[String],
    sane: Seq[String] => Boolean)

/** Collected rows of the small snapshot tables plus the generator's
  * tally (raw_data is checked against the tally, never collected).
  */
final class Snap(spark: SparkSession, sink: BenchSink, val tally: Census.Tally) {
  private def rows(t: String): Seq[Row] = sink.inner.read(spark, t).collect().toSeq
  val tables: Map[String, Seq[Row]] = Seq("age_group_distribution", "education_income",
    "gender_income", "work_hours", "occupation_stats", "summary_statistics", "anomalies")
    .map(t => t -> rows(t)).toMap
  val maxTs: Double = tables("summary_statistics").map(_.getAs[Double]("timestamp")).max
}

object Mix {
  /** Trailing window of the time-range op, in minutes: 30 h, so it never
    * falls exactly on a batch spaced a whole number of hours apart.
    */
  val WindowMinutes = 1800

  private def s(r: Row, c: String): String = String.valueOf(r.getAs[Any](c))
  private def l(r: Row, c: String): Long = r.getAs[Number](c).longValue
  private def d(r: Row, c: String): Double = r.getAs[Number](c).doubleValue
  private def f6(x: Double): String = f"$x%.6f"
  private def totals(lines: Seq[String]): Seq[Long] = lines.map(_.split('|').last.toLong)

  private def topKLines(sums: Map[String, Long], k: Int): Seq[String] =
    sums.toSeq.sortBy { case (key, t) => (-t, key) }.take(k).map { case (key, t) => s"$key|$t" }

  private def sumBy(rows: Seq[Row], key: Row => String, c: String = "count"): Map[String, Long] =
    rows.groupMapReduce(key)(l(_, c))(_ + _)

  private def nonIncreasing(xs: Seq[Long]): Boolean = xs.zip(xs.drop(1)).forall { case (a, b) => a >= b }

  val ops: Seq[MixOp] = Seq(
    MixOp("reaggregate", "age_group_distribution",
      (sink, _) => Dashboard.reaggregate(sink.read(sink.spark, "age_group_distribution"),
        Seq("age_group")).collect().map(r => s"${r.getString(0)}|${r.getLong(1)}").sorted.toSeq,
      (snap, _) => sumBy(snap.tables("age_group_distribution"), s(_, "age_group"))
        .map { case (k, t) => s"$k|$t" }.toSeq.sorted,
      lines => lines.nonEmpty && totals(lines).forall(_ > 0)),

    MixOp("topK", "education_income",
      (sink, _) => Dashboard.topK(sink.read(sink.spark, "education_income"), Seq("education"),
        sum(col("count")), 8).collect().map(r => s"${r.getString(0)}|${r.getLong(1)}").toSeq,
      (snap, _) => topKLines(sumBy(snap.tables("education_income"), s(_, "education")), 8),
      lines => lines.size == 8 && nonIncreasing(totals(lines))),

    MixOp("topK", "raw_data",
      (sink, _) => Dashboard.topK(sink.read(sink.spark, "raw_data"), Seq("native_country"),
        count(lit(1)), 3).collect().map(r => s"${r.getString(0)}|${r.getLong(1)}").toSeq,
      (snap, _) => topKLines(snap.tally.country.toMap, 3),
      lines => lines.nonEmpty && nonIncreasing(totals(lines))),

    MixOp("filterToTopK", "occupation_stats",
      (sink, _) => Dashboard.filterToTopK(sink.read(sink.spark, "occupation_stats"),
        "occupation", sum(col("count")), 10).collect()
        .map(r => s"${s(r, "occupation")}|${l(r, "count")}|${d(r, "timestamp")}").sorted.toSeq,
      (snap, _) => {
        val rows = snap.tables("occupation_stats")
        val top = topKLines(sumBy(rows, s(_, "occupation")), 10).map(_.split('|').head).toSet
        rows.filter(r => top(s(r, "occupation")))
          .map(r => s"${s(r, "occupation")}|${l(r, "count")}|${d(r, "timestamp")}").sorted
      },
      lines => lines.nonEmpty && lines.map(_.split('|').head).distinct.size <= 10),

    MixOp("latestPerGroup", "anomalies",
      (sink, _) => Dashboard.latestPerGroup(sink.read(sink.spark, "anomalies"),
        Seq("occupation"), "timestamp", "age").collect()
        .map(r => s"${s(r, "occupation")}|${d(r, "timestamp")}|${l(r, "age")}").sorted.toSeq,
      (snap, _) => snap.tables("anomalies").groupBy(s(_, "occupation")).toSeq.map { case (o, rs) =>
        val best = rs.maxBy(r => (d(r, "timestamp"), l(r, "age")))
        s"$o|${d(best, "timestamp")}|${l(best, "age")}"
      }.sorted,
      lines => lines.nonEmpty && lines.map(_.split('|').head).distinct.size == lines.size),

    MixOp("argmaxJoinBack", "gender_income",
      (sink, _) => Dashboard.argmaxJoinBack(sink.read(sink.spark, "gender_income"),
        "gender", "timestamp").collect()
        .map(r => s"${s(r, "gender")}|${s(r, "income_category")}|${l(r, "count")}|${d(r, "timestamp")}")
        .sorted.toSeq,
      (snap, _) => {
        val rows = snap.tables("gender_income")
        val latest = rows.groupMapReduce(s(_, "gender"))(d(_, "timestamp"))(math.max)
        rows.filter(r => d(r, "timestamp") == latest(s(r, "gender")))
          .map(r => s"${s(r, "gender")}|${s(r, "income_category")}|${l(r, "count")}|${d(r, "timestamp")}")
          .sorted
      },
      lines => lines.map(_.split('|').head).distinct.size == 2),

    MixOp("percentOfGroup", "education_income",
      (sink, _) => {
        val df = sink.read(sink.spark, "education_income")
        df.select(col("education"), col("income_category"), col("count"), col("timestamp"),
            Dashboard.percentOfGroup(df, "education").as("pct")).collect()
          .map(r => s"${r.getString(0)}|${r.getString(1)}|${r.getLong(2)}|${r.getDouble(3)}|" +
            f"${r.getDouble(4)}%.9f").sorted.toSeq
      },
      (snap, _) => {
        val rows = snap.tables("education_income")
        val byEdu = sumBy(rows, s(_, "education"))
        rows.map { r =>
          val pct = l(r, "count").toDouble / byEdu(s(r, "education")).toDouble * 100
          s"${s(r, "education")}|${s(r, "income_category")}|${l(r, "count")}|${d(r, "timestamp")}|" +
            f"$pct%.9f"
        }.sorted
      },
      lines => lines.groupMapReduce(_.split('|').head)(_.split('|').last.toDouble)(_ + _)
        .values.forall(p => math.abs(p - 100) < 1e-6)),

    MixOp("latest", "summary_statistics",
      (sink, _) => Dashboard.latest(sink.read(sink.spark, "summary_statistics"), "timestamp",
        "count_high_income").collect()
        .map(r => s"${d(r, "timestamp")}|${l(r, "count_high_income")}|${l(r, "count_low_income")}").toSeq,
      (snap, _) => {
        val r = snap.tables("summary_statistics")
          .maxBy(r => (d(r, "timestamp"), l(r, "count_high_income")))
        Seq(s"${d(r, "timestamp")}|${l(r, "count_high_income")}|${l(r, "count_low_income")}")
      },
      lines => lines.size == 1),

    MixOp("timeRange", "work_hours",
      (sink, asOf) => {
        val since = sink.readSince(sink.spark, "work_hours", asOf - WindowMinutes * 60.0)
          .withColumn("ts", timestamp_seconds(col("timestamp")))
        Dashboard.reaggregate(
          Dashboard.timeRange(since, "ts", timestamp_seconds(lit(asOf)), Some(WindowMinutes)),
          Seq("work_hours_category")).collect()
          .map(r => s"${r.getString(0)}|${r.getLong(1)}").sorted.toSeq
      },
      (snap, asOf) => sumBy(snap.tables("work_hours")
          .filter(r => d(r, "timestamp") >= asOf - WindowMinutes * 60.0), s(_, "work_hours_category"))
        .map { case (k, t) => s"$k|$t" }.toSeq.sorted,
      lines => totals(lines).forall(_ > 0)),

    MixOp("withIncomePct", "summary_statistics",
      (sink, _) => Dashboard.withIncomePct(sink.read(sink.spark, "summary_statistics"))
        .select(col("timestamp"), col("pct_high_income")).collect()
        .map(r => s"${r.getDouble(0)}|${f6(r.getDouble(1))}").sorted.toSeq,
      (snap, _) => snap.tables("summary_statistics").map { r =>
        val h = l(r, "count_high_income")
        val pct = BigDecimal(h.toDouble / (h + l(r, "count_low_income")).toDouble * 100)
          .setScale(6, RoundingMode.HALF_UP).toDouble
        s"${d(r, "timestamp")}|${f6(pct)}"
      }.sorted,
      lines => lines.nonEmpty && lines.forall { x =>
        val p = x.split('|').last.toDouble; p >= 0 && p <= 100
      }),
  )

  /** The per-function latency key of an op, as in `read.<fn>_ms`. */
  val fns: Seq[String] = ops.map(_.fn).distinct
}
