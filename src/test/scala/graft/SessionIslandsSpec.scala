package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.ops.SessionIslands

/** [[graft.ops.SessionIslands]], the one builder of the 6-hour-gap
  * sessions: island ids, session spans, the survival base and Spark's
  * `session_window` sessions match a plain-Scala sessionization (a gap
  * of exactly 6 hours splits only when `inclusive`), and no other
  * source file sessionizes itself.
  */
class SessionIslandsSpec extends SparkSpec {
  import spark.implicits._

  private val Gap = SessionIslands.GapSeconds

  // (user_id, event_id, seconds): per user a walk whose steps include
  // gaps of exactly 6 h and one second either side of it
  private val rows: Seq[(Long, Long, Long)] = {
    val rnd = new scala.util.Random(7)
    val steps = Seq(0L, 60L, 600L, 3000L, Gap - 1, Gap, Gap + 1, 40000L)
    (1L to 4L).flatMap { u =>
      val secs = (1 to 30).scanLeft(1700000000L + u * 1000)((t, _) =>
        t + steps(rnd.nextInt(steps.length)))
      secs.zipWithIndex.map { case (t, i) => (u, u * 100 + i, t) }
    }
  }

  private def events = rows.toDF("user_id", "event_id", "sec")
    .select(col("user_id"), col("event_id"), timestamp_seconds(col("sec")).as("ts"))

  /** (user_id, event_id) → island number, counted from 1 per user. */
  private def islands(inclusive: Boolean): Map[(Long, Long), Long] =
    rows.groupBy(_._1).values.flatMap { evs =>
      val sorted = evs.sortBy(e => (e._3, e._2))
      sorted.indices.scanLeft(0L) { (sid, i) =>
        val opens = i == 0 || {
          val step = sorted(i)._3 - sorted(i - 1)._3
          if (inclusive) step >= Gap else step > Gap
        }
        if (opens) sid + 1 else sid
      }.tail.zip(sorted).map { case (sid, e) => (e._1, e._2) -> sid }
    }.toMap

  /** (user_id, first second, last second) of every session. */
  private def spans: Seq[(Long, Long, Long)] = {
    val sid = islands(inclusive = false)
    rows.groupBy(e => (e._1, sid((e._1, e._2)))).values
      .map(evs => (evs.head._1, evs.map(_._3).min, evs.map(_._3).max)).toSeq
  }

  test("withSid matches a plain-Scala sessionization, exclusive and inclusive") {
    assert(rows.sliding(2).exists { case Seq(a, b) => a._1 == b._1 && b._3 - a._3 == Gap })
    for (inclusive <- Seq(false, true)) {
      val ev = events.select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("ts"))
      val got = SessionIslands.withSid(ev, "ts", Seq(col("ts"), col("event_id")), Gap,
          inclusive)
        .select("user_id", "event_id", "sid").as[(Long, Long, Long)].collect()
        .map { case (u, e, sid) => (u, e) -> sid }.toMap
      assert(got == islands(inclusive), s"inclusive = $inclusive")
    }
    assert(islands(inclusive = true).values.sum > islands(inclusive = false).values.sum)
  }

  test("spans and the survival base match a plain-Scala tally") {
    val got = SessionIslands.spans(events).select("user_id", "s0", "s1")
      .as[(Long, Long, Long)].collect()
    assert(got.sorted.toSeq == spans.sorted)

    val edge = rows.map(_._3).max
    val durs = spans.map { case (_, s0, s1) =>
      ((s1 - s0) / 600, if (s1 > edge - Gap) 0L else 1L)
    }
    val want = durs.groupBy(_._1).toSeq.sortBy(_._1).collect {
      case (dur, ds) if ds.map(_._2).sum > 0 =>
        (dur, ds.map(_._2).sum, durs.count(_._1 >= dur).toLong)
    }
    assert(want.nonEmpty && durs.exists(_._2 == 0L), "fixture has deaths and censoring")
    val xs = SessionIslands.survivalRisk(events).collect()
      .flatMap(_.getSeq[Row](0)).map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(xs.toSeq == want)
  }

  test("Spark's session_window sessions are the exclusive islands") {
    // a gap of exactly 6 h extends the session: the mirror's `>` rule
    val sid = islands(inclusive = false)
    val want = rows.groupBy(e => (e._1, sid((e._1, e._2)))).values
      .map(evs => (evs.head._1, evs.map(_._3).min, evs.map(_._3).max + Gap, evs.size.toLong))
      .toSeq.sorted
    val got = SessionIslands.sessionWindows(events)
      .select(col("user_id"), unix_timestamp(col("session_start")),
        unix_timestamp(col("session_end")), col("cnt"))
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(got == want)
  }

  test("source scan: only SessionIslands sessionizes on the 6-hour gap") {
    val hits = SourceScan.copiesOutside("ops/SessionIslands.scala", """21600|\bnew_s\b""".r)
    assert(hits.isEmpty, s"gap sessionization outside SessionIslands: $hits")
  }
}
