package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gaps-and-islands sessionization of the `events` corpus: a user's
  * events, in time order, split into sessions wherever the gap since
  * the previous event exceeds 6 hours. Every registry query that
  * sessionizes builds its islands here, and every DuckDB mirror takes
  * its CTEs from [[Sql]].
  *
  * The variants that differ in meaning are explicit arguments: the
  * time column and its unit, the row order (a tie-break on
  * `event_id` or not), and whether a gap of exactly the threshold
  * opens a session (`inclusive`) or not.
  */
object SessionIslands {

  /** The session gap, in seconds. */
  val GapSeconds = 21600L

  /** `ev` plus `new_s` (1 where a row opens an island) and `sid` (the
    * running count of islands within the user, so (user_id, sid) names
    * one island). Rows of a `user_id` are ordered by `order`; a row
    * opens an island when it has no predecessor or when its `ts` is
    * more than `gap` past the predecessor's (at least `gap` when
    * `inclusive`).
    */
  def withSid(ev: DataFrame, ts: String, order: Seq[Column], gap: Long,
      inclusive: Boolean): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(order: _*)
    // `prev` is bound once, so the window computes one lag, not one per use
    val prev = col("__prev")
    val step = col(ts) - prev
    ev.withColumn("__prev", lag(ts, 1).over(w))
      .withColumn("new_s",
        when(if (inclusive) step >= gap else step > gap, 1L)
          .otherwise(when(prev.isNull, 1L).otherwise(0L)))
      .drop("__prev")
      .withColumn("sid", sum("new_s").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** One row per session of `events`: (user_id, sid, s0, s1), its first
    * and last event time in whole seconds.
    */
  def spans(events: DataFrame): DataFrame =
    withSid(events.select(col("user_id"), unix_timestamp(col("ts")).as("ts")),
        "ts", Seq(col("ts")), GapSeconds, inclusive = false)
      .groupBy("user_id", "sid")
      .agg(min("ts").as("s0"), max("ts").as("s1"))

  /** The censored-duration base of the survival queries, as one row
    * `xs`: the sorted (dur, d, n_risk) structs of every duration with
    * a death. A session's duration is counted in 10-minute buckets; it
    * is censored (not a death) when its last event lies within one gap
    * of the corpus edge, since it may still be running. n_risk is the
    * number of sessions lasting at least `dur`.
    */
  def survivalRisk(events: DataFrame): DataFrame = {
    val edge = events.agg(max(unix_timestamp(col("ts"))).as("__edge"))
    val durs = spans(events).crossJoin(broadcast(edge))
      .select(
        call_function("div", col("s1") - col("s0"), lit(600L)).as("dur"),
        when(col("s1") > col("__edge") - GapSeconds, 0L).otherwise(1L)
          .as("died"))
    val hist = durs.groupBy("dur")
      .agg(count(lit(1)).as("n_all"), sum("died").as("d"))
    val risk = hist
      .withColumn("n_risk", sum("n_all").over(Window.orderBy("dur")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .filter(col("d") > 0L)
    risk
      .agg(sort_array(collect_list(struct(col("dur"), col("d"),
        col("n_risk")))).as("xs"))
      .filter(size(col("xs")) >= 1)
  }

  /** Spark's own `session_window(ts, "6 hours")` per user: (user_id,
    * session_start, session_end, cnt). Spark extends a session by an
    * event that lands exactly at its end (last event + gap), so these
    * are the exclusive islands; [[Sql.sessionWindows]] is the mirror.
    */
  def sessionWindows(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"), session_window(col("ts"), "6 hours"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("cnt"))

  object Sql {

    /** Event time in whole seconds: the mirror of Spark's
      * `unix_timestamp(ts)`, which truncates the microseconds.
      */
    val seconds = "epoch_us(ts) // 1000000"

    /** Mirror of [[withSid]]: the CTEs `fl` (`src` plus `new_s`) and
      * `si` (plus `sid`), ready to follow `WITH`. `gap` is SQL in the
      * unit of `ts` (a number, or an INTERVAL over a timestamp).
      */
    def islands(src: String, ts: String, order: Seq[String], gap: String,
        inclusive: Boolean): String = {
      val by = order.mkString(", ")
      s"""fl AS (SELECT *, CASE WHEN lag($ts) OVER w IS NULL THEN 1
         |    WHEN $ts - lag($ts) OVER w ${if (inclusive) ">=" else ">"} $gap
         |    THEN 1 ELSE 0 END AS new_s
         |  FROM $src WINDOW w AS (PARTITION BY user_id ORDER BY $by)),
         |si AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id
         |    ORDER BY $by ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM fl)""".stripMargin
    }

    /** Mirror of [[spans]]: the CTEs `ev` (user_id, ts in seconds),
      * `fl`, `si` and `sess` (user_id, sid, s0, s1).
      */
    val spans: String =
      s"""ev AS (SELECT user_id, $seconds AS ts FROM events),
         |${islands("ev", "ts", Seq("ts"), GapSeconds.toString, inclusive = false)},
         |sess AS (SELECT user_id, sid,
         |    CAST(min(ts) AS BIGINT) AS s0, CAST(max(ts) AS BIGINT) AS s1
         |  FROM si GROUP BY 1, 2)""".stripMargin

    /** Mirror of [[survivalRisk]]: the [[spans]] CTEs, then `edge`,
      * `durs`, `hist`, `risk` and `packed` (one row `xs`).
      */
    val survivalRisk: String =
      s"""$spans,
         |edge AS (SELECT CAST(max(ts) AS BIGINT) AS e FROM ev),
         |durs AS (SELECT (s1 - s0) // 600 AS dur,
         |    CASE WHEN s1 > (SELECT e FROM edge) - $GapSeconds
         |      THEN 0 ELSE 1 END AS died
         |  FROM sess),
         |hist AS (SELECT dur, CAST(count(*) AS BIGINT) AS n_all,
         |    CAST(sum(died) AS BIGINT) AS d
         |  FROM durs GROUP BY 1),
         |risk AS (SELECT dur, d,
         |    CAST(sum(n_all) OVER (ORDER BY dur DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS n_risk
         |  FROM hist),
         |packed AS (SELECT list_sort(list(struct_pack(dur := dur, d := d,
         |      n_risk := n_risk))) AS xs
         |  FROM risk WHERE d > 0)""".stripMargin

    /** Mirror of [[SessionIslands.sessionWindows]]: the islands CTEs
      * over timestamps, then `cte` (user_id, session_start, session_end,
      * cnt).
      */
    def sessionWindows(cte: String): String =
      s"""${islands("events", "ts", Seq("ts"), "INTERVAL 6 HOUR", inclusive = false)},
         |$cte AS (SELECT user_id, min(ts) AS session_start,
         |    max(ts) + INTERVAL 6 HOUR AS session_end, count(*) AS cnt
         |  FROM si GROUP BY user_id, sid)""".stripMargin
  }
}
