package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.SessionIslands

/** Semi-structured + event-time query surface over `events` (round-1
  * verdict items 5 and 9): JSON props extraction and event-time
  * windowing (tumbling + session). These are extension queries — they
  * deliberately stay OFF the census parity path, which must remain
  * processing-time-only (SURVEY T8).
  */
object EventQueries {

  private def events(s: SparkSession, d: String): DataFrame =
    graft.sources.Tables.table(s, d, "events")

  /** Events per hour: (hr, cnt), hr the epoch hour number. */
  private def hourlyCounts(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy((unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
        .cast("long").as("hr"))
      .agg(count(lit(1)).as("cnt"))

  /** Releasable plan-deduped cache (shared TrackedCache discipline) —
    * here it backs ops/Rank's two-action range-partitioned frames.
    */
  private val tracked = new TrackedCache

  /** Unpersist every cache entry created by this registry (idempotent). */
  def releaseCaches(): Unit = tracked.release()

  val all: Seq[QueryDef] = Seq(

    // ----- JSON extraction from the props column (from_json with an
    // explicit schema → typed struct, no schema inference at scale)
    QueryDef(
      "p_json_props",
      (s, d) => events(s, d)
        .withColumn("k",
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k LONG")).getField("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
             round(avg("k"), 6).as("avg_k"),
             min("k").as("min_k"),
             max("k").as("max_k"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS cnt,
             |round(avg(k),6) AS avg_k, min(k) AS min_k, max(k) AS max_k FROM
             |(SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
             |GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // ----- W5 (extension): lag/lead offset window functions — per-user
    // inter-event gap and next-value delta, the sessionization /
    // time-series-diff primitive the W1-W4 surface didn't yet cover.
    // One hash shuffle on user_id + per-partition sort, same scale
    // shape as the as-of join.
    QueryDef(
      "w5_lag_lead_delta",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        events(s, d)
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("next_val", lead(col("value"), 1).over(w))
          .select(col("event_id"), col("user_id"),
            (unix_micros(col("ts")) - unix_micros(col("prev_ts"))).as("gap_us"),
            round(col("next_val") - col("value"), 6).as("val_delta"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |  (epoch_us(ts) - epoch_us(lag(ts, 1) OVER w)) AS gap_us,
             |  round(lead(value, 1) OVER w - value, 6) AS val_delta
             |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |ORDER BY event_id""".stripMargin)),

    // ----- W6 (extension): bounded sliding ROW frame — per-user
    // trailing-4-events stats (rows between 3 preceding and current),
    // the moving-window smoothing primitive W1-W5 didn't cover. Same
    // single-shuffle physics as w5 (hash on user_id + partition sort).
    // Aggregates chosen order-independent (count/min/max + the frame's
    // first value, a deterministic position): a windowed SUM of
    // doubles is NOT portable — DuckDB evaluates sliding frames via
    // segment trees, whose pairwise summation order differs from
    // sequential accumulation in the last ulp.
    QueryDef(
      "w6_moving_frame",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(-3, Window.currentRow)
        events(s, d)
          .withColumn("mov_cnt", count(lit(1)).over(w))
          .withColumn("mov_min", round(min("value").over(w), 6))
          .withColumn("mov_max", round(max("value").over(w), 6))
          .withColumn("frame_first", round(first("value").over(w), 6))
          .select("event_id", "user_id", "mov_cnt", "mov_min", "mov_max", "frame_first")
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id,
             |  count(*) OVER w AS mov_cnt,
             |  round(min(value) OVER w, 6) AS mov_min,
             |  round(max(value) OVER w, 6) AS mov_max,
             |  round(first_value(value) OVER w, 6) AS frame_first
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
             |ORDER BY event_id""".stripMargin)),

    // ----- tumbling event-time window (1 h): the batch shape of the
    // streaming window aggregation (stream.EventTimeWindows)
    QueryDef(
      "t_tumbling_window",
      (s, d) => events(s, d)
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("cnt"), round(avg("value"), 6).as("avg_value"))
        .select(col("window.start").as("ws"), col("cnt"), col("avg_value"))
        .orderBy("ws"),
      Some("""SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, count(*) AS cnt,
             |round(avg(value),6) AS avg_value
             |FROM events GROUP BY 1 ORDER BY ws""".stripMargin),
      bench = true),

    // ----- per-window distinct cardinality: unique users per tumbling
    // hour — the dashboard DAU/HAU shape. Exact countDistinct expands
    // to a two-stage agg (partial distinct per partition before the
    // shuffle); the window key keeps groups bounded no matter the
    // event volume. At extreme cardinality the drop-in constant-memory
    // swap is approx_count_distinct (gated separately by
    // dedup_approx_distinct's bound pattern).
    QueryDef(
      "t_distinct_users",
      (s, d) => events(s, d)
        .groupBy(window(col("ts"), "1 hour"))
        .agg(countDistinct(col("user_id")).as("uniq_users"),
             count(lit(1)).as("cnt"))
        .select(col("window.start").as("ws"), col("uniq_users"), col("cnt"))
        .orderBy("ws"),
      Some("""SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws,
             |count(DISTINCT user_id) AS uniq_users, count(*) AS cnt
             |FROM events GROUP BY 1 ORDER BY ws""".stripMargin)),

    // ----- sliding event-time window (2 h window, 1 h slide): each
    // event lands in two windows; oracle = union of the two aligned
    // time_buckets
    QueryDef(
      "t_sliding_window",
      (s, d) => events(s, d)
        .groupBy(window(col("ts"), "2 hours", "1 hour"))
        // count/min/max: order-independent aggregates — a sliding
        // window duplicates every row, and summation-order float drift
        // on avg crossed the rounding boundary between engines
        .agg(count(lit(1)).as("cnt"),
             round(min("value"), 6).as("min_value"),
             round(max("value"), 6).as("max_value"))
        .select(col("window.start").as("ws"), col("cnt"),
          col("min_value"), col("max_value"))
        .orderBy("ws"),
      Some("""SELECT ws, count(*) AS cnt, round(min(value),6) AS min_value,
             |round(max(value),6) AS max_value FROM (
             |  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, value FROM events
             |  UNION ALL
             |  SELECT time_bucket(INTERVAL 1 HOUR, ts) - INTERVAL 1 HOUR AS ws, value FROM events)
             |GROUP BY 1 ORDER BY ws""".stripMargin)),

    // ----- as-of join: every event joined to the latest preceding
    // (inclusive) click of the same user — DuckDB's native ASOF JOIN
    // is the oracle; Spark side is graft.ops.AsofJoin's single-shuffle
    // union+window composition
    QueryDef(
      "j2_asof_last_click",
      (s, d) => {
        val ev = events(s, d).select("event_id", "user_id", "ts", "value")
        val clicks = events(s, d).filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("value"))
        // inner-asof via the matched FLAG, not payload null-ness — the
        // oracle's inner ASOF keeps matched rows with NULL payloads
        graft.ops.AsofJoin.asofBackward(ev, clicks, Seq("user_id"), "ts", "ts", Seq("value"))
          .filter(col("asof_matched"))
          .select(col("event_id"), col("user_id"), col("ts"),
            col("asof_value").as("click_value"))
          .orderBy("event_id")
      },
      Some("""SELECT l.event_id, l.user_id, l.ts, r.value AS click_value
             |FROM events l ASOF JOIN
             |  (SELECT user_id, ts, value FROM events WHERE event_type = 'click') r
             |  ON l.user_id = r.user_id AND l.ts >= r.ts
             |ORDER BY l.event_id""".stripMargin),
      bench = true),

    // ----- as-of join through the NATIVE physical operator (rung (c)
    // of the custom-operator ladder: LogicalPlan + SparkStrategy +
    // BinaryExecNode, plans/AsofJoinPlan.scala): IDENTICAL semantics
    // and oracle to j2, different physics — each side shuffles at
    // its own row width (the composition union-pads every right row
    // with every left column before its shuffle) and the merge holds
    // one candidate row per key instead of window state.
    // NativeAsofSpec pins agreement with the composition, a brute
    // force, and the plan shape; benched next to j2 so the two
    // formulations stay comparable round-over-round.
    QueryDef(
      "j2c_asof_native",
      (s, d) => {
        val ev = events(s, d).select("event_id", "user_id", "ts", "value")
        val clicks = events(s, d).filter(col("event_type") === "click")
          .select(col("user_id").as("r_user"), col("ts").as("r_ts"),
            col("value").as("click_value"))
        graft.plans.NativeAsof.asofBackward(
            ev, clicks, "user_id", "r_user", "ts", "r_ts")
          // inner-asof via the right KEY column (non-null exactly when
          // matched — never payload null-ness)
          .filter(col("r_user").isNotNull)
          .select(col("event_id"), col("user_id"), col("ts"),
            col("click_value"))
          .orderBy("event_id")
      },
      Some("""SELECT l.event_id, l.user_id, l.ts, r.value AS click_value
             |FROM events l ASOF JOIN
             |  (SELECT user_id, ts, value FROM events WHERE event_type = 'click') r
             |  ON l.user_id = r.user_id AND l.ts >= r.ts
             |ORDER BY l.event_id""".stripMargin),
      bench = true),

    // ----- as-of join, hot-key-safe bucketed variant: IDENTICAL
    // semantics to j2 (same DuckDB ASOF oracle), different physics —
    // the window partitions on (user_id, hour-bucket) with seed
    // carries between buckets, so one user owning half the events
    // can't funnel one task (ops/AsofJoin.asofBackwardBucketed;
    // round-3 verdict item 6 shipped as an oracle-gated query)
    QueryDef(
      "j2b_asof_bucketed",
      (s, d) => {
        val ev = events(s, d).select("event_id", "user_id", "ts", "value")
        val clicks = events(s, d).filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("value"))
        graft.ops.AsofJoin.asofBackwardBucketed(
            ev, clicks, Seq("user_id"), "ts", "ts", Seq("value"),
            bucketSeconds = 3600L)
          .filter(col("asof_matched"))
          .select(col("event_id"), col("user_id"), col("ts"),
            col("asof_value").as("click_value"))
          .orderBy("event_id")
      },
      Some("""SELECT l.event_id, l.user_id, l.ts, r.value AS click_value
             |FROM events l ASOF JOIN
             |  (SELECT user_id, ts, value FROM events WHERE event_type = 'click') r
             |  ON l.user_id = r.user_id AND l.ts >= r.ts
             |ORDER BY l.event_id""".stripMargin)),

    // ----- range join: every event mapped to its containing session
    // interval via the bucketed point-in-interval join (sessions come
    // from the same session_window op, so the per-session recount
    // must equal the window's own count — and the oracle checks it
    // independently with a plain range-predicate join)
    QueryDef(
      "j3_range_join_sessions",
      (s, d) => {
        val ev = events(s, d).select("user_id", "ts")
        val sessions = SessionIslands.sessionWindows(events(s, d))
          .withColumnRenamed("cnt", "window_cnt")
        graft.ops.RangeJoin.pointInInterval(
            ev, sessions, Seq("user_id"), "ts", "session_start", "session_end",
            bucketSeconds = 6 * 3600L)
          .groupBy("user_id", "session_start", "window_cnt")
          .agg(count(lit(1)).as("cnt"))
          .select(col("user_id"), col("session_start"),
            col("cnt"), (col("cnt") === col("window_cnt")).as("counts_agree"))
          .orderBy("user_id", "session_start")
      },
      Some(s"""WITH ${SessionIslands.Sql.sessionWindows("s")}
             |SELECT s.user_id, s.session_start, count(*) AS cnt,
             |  count(*) = s.cnt AS counts_agree
             |FROM events l JOIN s
             |ON l.user_id = s.user_id AND l.ts >= s.session_start AND l.ts < s.session_end
             |GROUP BY s.user_id, s.session_start, s.cnt
             |ORDER BY s.user_id, s.session_start""".stripMargin)),

    // ----- session window per user (6 h gap; session ends gap after
    // the last event). Oracle = classic gaps-and-islands SQL: a new
    // island starts when the inter-event gap exceeds the session gap —
    // Spark extends a session by an event landing exactly at its end
    // (SessionIslandsSpec pins this).
    QueryDef(
      "t_session_window",
      (s, d) => SessionIslands.sessionWindows(events(s, d))
        .orderBy("user_id", "session_start"),
      Some(s"""WITH ${SessionIslands.Sql.sessionWindows("s")}
             |SELECT user_id, session_start, session_end, cnt FROM s
             |ORDER BY user_id, session_start""".stripMargin)),

    // ----- event-RATE anomaly detection: z-score the hourly event
    // COUNTS (not the values — w1's shape applied one aggregation
    // level up): ingest-pipeline monitoring's first alarm is "this
    // hour saw 3σ more/fewer events than normal", which catches feed
    // outages and crawler loops that per-event value outliers never
    // see. Two-pass broadcast physics on a series whose length is
    // hours-of-history (bounded regardless of event volume — the
    // first agg collapses 10¹² events to |hours| rows, so the z-score
    // pass is driver-trivial at any scale). Counts are exact longs;
    // mean/std of a bounded series round-pinned at 6 dp.
    QueryDef(
      "t_rate_anomaly",
      (s, d) => {
        val hourly = events(s, d)
          .groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("cnt"))
          .select(col("window.start").as("ws"), col("cnt"))
        val stats = hourly.agg(
          avg(col("cnt").cast("double")).as("__mu"),
          stddev_samp(col("cnt").cast("double")).as("__sd"))
        // sd > 0 pinned explicitly on BOTH sides: with all-equal
        // counts sd = 0 and 0/0 is engine-defined (Spark NaN vs
        // DuckDB ieee_floating_point_ops setting) — the guard makes
        // the degenerate fixture produce zero rows by construction
        // rather than by float semantics.
        hourly.crossJoin(broadcast(stats))
          .filter(col("__sd") > 0.0)
          .withColumn("z", round((col("cnt") - col("__mu")) / col("__sd"), 6))
          .filter(abs(col("z")) > 2.0)
          .select("ws", "cnt", "z")
          .orderBy("ws")
      },
      Some("""WITH hourly AS (
             |  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS ws, count(*) AS cnt
             |  FROM events GROUP BY 1),
             |st AS (SELECT avg(CAST(cnt AS DOUBLE)) AS mu,
             |              stddev_samp(CAST(cnt AS DOUBLE)) AS sd FROM hourly)
             |SELECT ws, cnt, round((cnt - mu) / sd, 6) AS z
             |FROM hourly, st
             |WHERE sd > 0 AND abs(round((cnt - mu) / sd, 6)) > 2.0
             |ORDER BY ws""".stripMargin)),

    // ----- first-order Markov transition matrix over per-user event
    // sequences — the behavioral-sequence model behind next-event
    // prediction, bot detection (improbable transition chains), and
    // session-flow dashboards. Same physics as w5's lag: ONE uniform
    // user-key shuffle + partition sort, then the transition count
    // collapses any event volume to ≤ |event_types|² rows, so the
    // row-normalization pass (per-prev totals) is driver-trivial at
    // any scale. Counts are exact longs; each probability is a ratio
    // of two exact integers (double-divided then 6-dp-rounded —
    // identical IEEE semantics both engines).
    QueryDef(
      "t_markov_transitions",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val counts = events(s, d)
          .withColumn("prev", lag("event_type", 1).over(w))
          .filter(col("prev").isNotNull)
          .groupBy(col("prev"), col("event_type").as("curr"))
          .agg(count(lit(1)).as("n"))
        val wp = Window.partitionBy("prev")
        counts
          .withColumn("p",
            round(col("n").cast("double") /
              sum("n").over(wp).cast("double"), 6))
          .orderBy("prev", "curr")
      },
      Some("""WITH tr AS (SELECT
             |    lag(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS prev,
             |    event_type AS curr
             |  FROM events),
             |c AS (SELECT prev, curr, count(*)::BIGINT AS n FROM tr
             |  WHERE prev IS NOT NULL GROUP BY 1, 2)
             |SELECT prev, curr, n,
             |  round(CAST(n AS DOUBLE) /
             |    CAST(sum(n) OVER (PARTITION BY prev) AS DOUBLE), 6) AS p
             |FROM c ORDER BY prev, curr""".stripMargin)),

    // ----- corpus-mix drift between two time slices (the monitoring
    // check a continuously-fed pipeline runs before admitting a new
    // batch: "did the event/type/source mix shift?"): event_type
    // distribution before vs after a cut, compared per type by total-
    // variation contribution \|p−q\|/2 and Jensen-Shannon term
    // ½(p·ln(p/m)+q·ln(q/m)) with m=(p+q)/2 (JSD in nats; the
    // symmetric, always-finite divergence — KL alone is infinite on a
    // vanishing class, exactly the case drift detection must handle).
    // SCALE: one uniform-key agg collapses any event volume to
    // \|event_types\| rows; both totals are a 1-row broadcast; the
    // divergence arithmetic runs on the bounded type grid. EXACTNESS:
    // counts exact longs, p/q each ONE double division, ln in
    // identical textual order both engines, round 6; a type absent
    // from one half contributes via explicit CASE (p=0 ⇒ term 0),
    // never ln(0).
    QueryDef(
      "t_drift_mix",
      (s, d) => {
        val cut = lit("2024-01-16 00:00:00").cast("timestamp")
        val cnts = events(s, d).groupBy("event_type").agg(
          sum(when(col("ts") < cut, 1L).otherwise(0L)).as("n_before"),
          sum(when(col("ts") >= cut, 1L).otherwise(0L)).as("n_after"))
        val tots = cnts.agg(sum("n_before").as("__tb"), sum("n_after").as("__ta"))
        cnts.crossJoin(broadcast(tots))
          .withColumn("__p", col("n_before").cast("double") / col("__tb"))
          .withColumn("__q", col("n_after").cast("double") / col("__ta"))
          .withColumn("__m", (col("__p") + col("__q")) / lit(2.0))
          .select(col("event_type"), col("n_before"), col("n_after"),
            round(col("__p"), 6).as("p_before"),
            round(col("__q"), 6).as("p_after"),
            round(abs(col("__p") - col("__q")) / lit(2.0), 6).as("tv_term"),
            round((when(col("__p") > 0, col("__p") * log(col("__p") / col("__m")))
                .otherwise(lit(0.0)) +
              when(col("__q") > 0, col("__q") * log(col("__q") / col("__m")))
                .otherwise(lit(0.0))) / lit(2.0), 6).as("jsd_term"))
          .orderBy("event_type")
      },
      Some("""WITH c AS (SELECT event_type,
             |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_before,
             |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
             |      THEN 1 ELSE 0 END) AS BIGINT) AS n_after
             |  FROM events GROUP BY 1),
             |t AS (SELECT CAST(sum(n_before) AS BIGINT) AS tb,
             |             CAST(sum(n_after) AS BIGINT) AS ta FROM c),
             |x AS (SELECT event_type, n_before, n_after,
             |    CAST(n_before AS DOUBLE) / tb AS p,
             |    CAST(n_after AS DOUBLE) / ta AS q
             |  FROM c, t)
             |SELECT event_type, n_before, n_after,
             |  round(p, 6) AS p_before, round(q, 6) AS p_after,
             |  round(abs(p - q) / 2.0, 6) AS tv_term,
             |  round(((CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2.0))
             |          ELSE 0.0 END) +
             |         (CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2.0))
             |          ELSE 0.0 END)) / 2.0, 6) AS jsd_term
             |FROM x ORDER BY event_type""".stripMargin)),

    // ----- calendar gap-fill + linear interpolation: the sparse-to-
    // dense time-series repair every monitoring/trending consumer
    // needs before it can difference or seasonal-adjust (a missing
    // hour read as zero poisons a rate chart; read as interpolated it
    // degrades gracefully). Physics: the first agg collapses any
    // event volume to |observed hours| rows; the calendar spine is
    // `sequence` over the OBSERVED [min,max] hour (so both edges are
    // anchored and prev/next always exist); the fill pass is a window
    // over the bounded spine — driver-trivial at any scale, like
    // t_rate_anomaly. Interpolation is exact integer arithmetic:
    // filled = pv + ((nv-pv)*(hr-ph)) div (nh-ph) on epoch-hour longs
    // (Spark `div` and DuckDB `//` both truncate toward zero on
    // BIGINT — verified, so a falling segment's negative numerator
    // rounds identically cross-engine).
    QueryDef(
      "t_gap_fill",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val hourly = events(s, d)
          .filter(col("event_type") === "error" && col("value") > 150.0 &&
            col("ts") < lit("2024-01-15 00:00:00").cast("timestamp"))
          .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("hsec"))
          .agg(count(lit(1)).as("cnt"))
          .select((col("hsec") / 3600).cast("long").as("hr"), col("cnt"))
        val spine = hourly
          .agg(min("hr").as("__lo"), max("hr").as("__hi"))
          .select(explode(sequence(col("__lo"), col("__hi"))).as("hr"))
        val wPrev = Window.orderBy("hr").rowsBetween(Window.unboundedPreceding, 0)
        val wNext = Window.orderBy("hr").rowsBetween(0, Window.unboundedFollowing)
        spine.join(hourly, Seq("hr"), "left")
          .withColumn("pv", last(col("cnt"), ignoreNulls = true).over(wPrev))
          .withColumn("ph", last(when(col("cnt").isNotNull, col("hr")),
            ignoreNulls = true).over(wPrev))
          .withColumn("nv", first(col("cnt"), ignoreNulls = true).over(wNext))
          .withColumn("nh", first(when(col("cnt").isNotNull, col("hr")),
            ignoreNulls = true).over(wNext))
          .select(
            timestamp_seconds(col("hr") * 3600).as("hour"),
            when(col("cnt").isNotNull, col("cnt"))
              .otherwise(expr("pv + ((nv - pv) * (hr - ph)) div (nh - ph)"))
              .as("cnt_filled"),
            col("cnt").isNotNull.as("observed"))
          .orderBy("hour")
      },
      Some("""WITH hourly AS (
             |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hr,
             |         count(*) AS cnt
             |  FROM events
             |  WHERE event_type = 'error' AND value > 150
             |    AND ts < TIMESTAMP '2024-01-15 00:00:00'
             |  GROUP BY 1),
             |spine AS (SELECT unnest(generate_series(min(hr), max(hr))) AS hr
             |          FROM hourly),
             |f AS (SELECT s.hr, h.cnt,
             |  last_value(h.cnt IGNORE NULLS) OVER
             |    (ORDER BY s.hr ROWS UNBOUNDED PRECEDING) AS pv,
             |  last_value(CASE WHEN h.cnt IS NOT NULL THEN s.hr END IGNORE NULLS)
             |    OVER (ORDER BY s.hr ROWS UNBOUNDED PRECEDING) AS ph,
             |  first_value(h.cnt IGNORE NULLS) OVER
             |    (ORDER BY s.hr ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             |  first_value(CASE WHEN h.cnt IS NOT NULL THEN s.hr END IGNORE NULLS)
             |    OVER (ORDER BY s.hr ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
             |  FROM spine s LEFT JOIN hourly h USING (hr))
             |SELECT make_timestamp(hr * 3600 * 1000000) AS hour,
             |  CASE WHEN cnt IS NOT NULL THEN cnt
             |       ELSE pv + ((nv - pv) * (hr - ph)) // (nh - ph) END AS cnt_filled,
             |  cnt IS NOT NULL AS observed
             |FROM f ORDER BY hour""".stripMargin)),

    // ----- linear-INTERPOLATION join: evaluate each event type's raw
    // value series at a fixed half-hour probe spine (sensor/metric
    // alignment — the step before any cross-series correlation or
    // model join can happen; j2's as-of takes the LAST value, this
    // takes the time-weighted line between the BRACKETING samples,
    // and t_gap_fill interpolates an already-aggregated hourly count
    // while this brackets raw events). Scale shape: raw events never
    // meet a data-sized window — one grouped agg collapses them to
    // per-(type, half-hour-bucket) boundary samples (max/min ts, a
    // uniform key shuffle), the bracketing fill then runs over the
    // CALENDAR grid (≤1440 half-hours/month × |types|, domain-
    // bounded), and probes sit exactly ON half-bucket boundaries so
    // "strictly before the probe" = "bucket index < probe's odd
    // index" with no within-bucket tie cases: prev fills over ROWS
    // …,-1 (buckets before the boundary), next over 0,… (the probe's
    // own bucket starts AT the probe, so an event at exactly probe ts
    // is the next bracket and the pinned expression degrades to that
    // sample's value). Interpolation is ONE pinned IEEE expression
    // over exact micros and the two bracket values.
    QueryDef(
      "j15_interp_join",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val T0 = 1704067200000000L // 2024-01-01 00:00:00 UTC, micros
        val HB = 1800000000L // half-hour in micros
        val base = events(s, d)
          .select(col("event_type").as("et"), unix_micros(col("ts")).as("tsm"),
            col("value"))
          .groupBy("et", "tsm").agg(max("value").as("v")) // unique series key
        val b = tracked(base
          .withColumn("hb", expr(s"(tsm - ${T0}L) div ${HB}L"))
          .groupBy("et", "hb")
          .agg(max("tsm").as("bl_ts"), min("tsm").as("bf_ts")))
        val bl = b.join(base.select(col("et"), col("tsm").as("bl_ts"),
          col("v").as("bl_v")), Seq("et", "bl_ts"))
        val bf = bl.join(base.select(col("et"), col("tsm").as("bf_ts"),
          col("v").as("bf_v")), Seq("et", "bf_ts"))
        val span = b.groupBy("et").agg(min("hb").as("__lo"), max("hb").as("__hi"))
        val grid = span.select(col("et"),
          explode(sequence(col("__lo"), col("__hi"))).as("hb"))
        val wPrev = Window.partitionBy("et").orderBy("hb")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wNext = Window.partitionBy("et").orderBy("hb")
          .rowsBetween(0, Window.unboundedFollowing)
        grid.join(bf, Seq("et", "hb"), "left")
          .withColumn("pl_ts", last(col("bl_ts"), ignoreNulls = true).over(wPrev))
          .withColumn("pl_v", last(col("bl_v"), ignoreNulls = true).over(wPrev))
          .withColumn("nf_ts", first(col("bf_ts"), ignoreNulls = true).over(wNext))
          .withColumn("nf_v", first(col("bf_v"), ignoreNulls = true).over(wNext))
          .filter(col("hb") % 2 === 1 && col("pl_ts").isNotNull
            && col("nf_ts").isNotNull)
          .withColumn("p_us", expr(s"${T0}L + hb * ${HB}L"))
          .select(col("et").as("event_type"),
            timestamp_micros(col("p_us")).as("probe_ts"),
            round(col("pl_v") + (col("nf_v") - col("pl_v"))
              * (col("p_us") - col("pl_ts")).cast("double")
              / (col("nf_ts") - col("pl_ts")).cast("double"), 6)
              .as("v_interp"),
            (col("p_us") - col("pl_ts")).as("lag_us"),
            (col("nf_ts") - col("p_us")).as("lead_us"))
          .orderBy("event_type", "probe_ts")
      },
      Some("""WITH base AS (SELECT event_type AS et,
             |    CAST(epoch_us(ts) AS BIGINT) AS tsm, max(value) AS v
             |  FROM events GROUP BY 1, 2),
             |b AS (SELECT et, (tsm - 1704067200000000) // 1800000000 AS hb,
             |    max(tsm) AS bl_ts, min(tsm) AS bf_ts
             |  FROM base GROUP BY 1, 2),
             |bl AS (SELECT b.*, x.v AS bl_v FROM b
             |  JOIN base x ON b.et = x.et AND b.bl_ts = x.tsm),
             |bf AS (SELECT bl.*, x.v AS bf_v FROM bl
             |  JOIN base x ON bl.et = x.et AND bl.bf_ts = x.tsm),
             |span AS (SELECT et, min(hb) AS lo, max(hb) AS hi FROM b
             |  GROUP BY 1),
             |grid AS (SELECT et, unnest(generate_series(lo, hi)) AS hb
             |  FROM span),
             |f AS (SELECT g.et, g.hb, bf.bf_ts, bf.bf_v,
             |    last_value(bf.bl_ts IGNORE NULLS) OVER w_prev AS pl_ts,
             |    last_value(bf.bl_v IGNORE NULLS) OVER w_prev AS pl_v,
             |    first_value(bf.bf_ts IGNORE NULLS) OVER w_next AS nf_ts,
             |    first_value(bf.bf_v IGNORE NULLS) OVER w_next AS nf_v
             |  FROM grid g LEFT JOIN bf ON g.et = bf.et AND g.hb = bf.hb
             |  WINDOW w_prev AS (PARTITION BY g.et ORDER BY g.hb
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |  w_next AS (PARTITION BY g.et ORDER BY g.hb
             |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
             |SELECT et AS event_type,
             |  make_timestamp(1704067200000000 + hb * 1800000000)
             |    AS probe_ts,
             |  round(pl_v + (nf_v - pl_v)
             |    * CAST(1704067200000000 + hb * 1800000000 - pl_ts AS DOUBLE)
             |    / CAST(nf_ts - pl_ts AS DOUBLE), 6) AS v_interp,
             |  1704067200000000 + hb * 1800000000 - pl_ts AS lag_us,
             |  nf_ts - (1704067200000000 + hb * 1800000000) AS lead_us
             |FROM f
             |WHERE hb % 2 = 1 AND pl_ts IS NOT NULL AND nf_ts IS NOT NULL
             |ORDER BY event_type, probe_ts""".stripMargin)),

    // ----- SEASONAL STRENGTH of the hourly event series (the
    // decomposition-quality scalar on top of t_seasonal_residual's
    // per-hour anomaly rows: Fs = 1 − SSE(residual)/SST = the
    // variance share the hour-of-day profile explains — the number
    // that says whether seasonal adjustment is worth running at all,
    // Hyndman's seasonal-strength read): volume collapses to the
    // hourly-count grid, the seasonal model is the hod mean bs/bn
    // (exact rational), and each hod's residual SSE rides the
    // DENOMINATOR-CLEARED exact identity SSE_h·bn² = bn²·Σc² −
    // 2·bn·bs·Σc + n_h·bs² — pure longs per hod — with the 24
    // per-hod doubles (÷bn² each) folded in hod order (the a62
    // discipline). SST from the same grid's global sufficient
    // statistics. Output: one row (n_hours, sst, sse_resid,
    // strength).
    QueryDef(
      "t_stl_strength",
      (s, d) => {
        val hourly = tracked(events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("h"),
            hour(col("ts")).cast("long").as("hod"))
          .agg(count(lit(1)).as("cnt")))
        val perHod = hourly.groupBy("hod")
          .agg(sum("cnt").as("bs"), count(lit(1)).as("bn"),
            sum(col("cnt") * col("cnt")).as("q"))
        val sse = perHod
          .select(col("hod"),
            ((col("bn") * col("bn") * col("q")
              - lit(2L) * col("bn") * col("bs") * col("bs")
              + col("bn") * col("bs") * col("bs")).cast("double")
              / (col("bn") * col("bn")).cast("double")).as("sse_h"))
        val tot = hourly.agg(count(lit(1)).as("nh"), sum("cnt").as("sc"),
          sum(col("cnt") * col("cnt")).as("sq"))
        val folded = sse.agg(aggregate(
          sort_array(collect_list(struct(col("hod"), col("sse_h")))),
          lit(0.0d), (acc, e) => acc + e.getField("sse_h")).as("sse"))
        folded.crossJoin(broadcast(tot))
          .select(col("nh").as("n_hours"),
            round(col("sq").cast("double")
              - col("sc").cast("double") * col("sc").cast("double")
                / col("nh").cast("double"), 6).as("sst"),
            round(col("sse"), 6).as("sse_resid"),
            round(lit(1.0d) - col("sse")
              / (col("sq").cast("double")
                - col("sc").cast("double") * col("sc").cast("double")
                  / col("nh").cast("double")), 6).as("strength"))
      },
      Some("""WITH hourly AS (SELECT date_trunc('hour', ts) AS h,
             |    CAST(hour(ts) AS BIGINT) AS hod,
             |    CAST(count(*) AS BIGINT) AS cnt
             |  FROM events GROUP BY 1, 2),
             |ph AS (SELECT hod, CAST(sum(cnt) AS BIGINT) AS bs,
             |    CAST(count(*) AS BIGINT) AS bn,
             |    CAST(sum(cnt*cnt) AS BIGINT) AS q
             |  FROM hourly GROUP BY 1),
             |sse AS (SELECT hod,
             |    CAST(bn*bn*q - 2*bn*bs*bs + bn*bs*bs AS DOUBLE)
             |      / CAST(bn*bn AS DOUBLE) AS sse_h
             |  FROM ph),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS nh,
             |    CAST(sum(cnt) AS BIGINT) AS sc,
             |    CAST(sum(cnt*cnt) AS BIGINT) AS sq FROM hourly),
             |f AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
             |    list(sse_h ORDER BY hod)), (a, b) -> a + b) AS sse
             |  FROM sse)
             |SELECT nh AS n_hours,
             |  round(CAST(sq AS DOUBLE)
             |    - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
             |      / CAST(nh AS DOUBLE), 6) AS sst,
             |  round(sse, 6) AS sse_resid,
             |  round(1.0 - sse / (CAST(sq AS DOUBLE)
             |    - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
             |      / CAST(nh AS DOUBLE)), 6) AS strength
             |FROM f, tot""".stripMargin)),

    // ----- two-proportion A/B z-test: the experiment read-out every
    // product analytics stack ships (arm = deterministic user split,
    // conversion = purchase events). One aggregation collapses any
    // event volume to a single row of four exact longs; the z
    // statistic uses only +,-,*,/ and sqrt — ALL correctly-rounded
    // IEEE-754 operations, so the double is bit-identical cross-
    // engine before the 6-dp pin. The pooled-variance guard (0 < p
    // < 1) pins the degenerate all-converted/none-converted fixture
    // to an explicit NULL rather than an engine-defined 0/0.
    QueryDef(
      "a22_ab_test",
      (s, d) => {
        val agg = events(s, d)
          .withColumn("arm", pmod(col("user_id"), lit(2L)))
          .agg(
            sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
            sum(when(col("arm") === 0 && col("event_type") === "purchase", 1L)
              .otherwise(0L)).as("x_a"),
            sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
            sum(when(col("arm") === 1 && col("event_type") === "purchase", 1L)
              .otherwise(0L)).as("x_b"))
        agg
          .withColumn("pa", col("x_a").cast("double") / col("n_a"))
          .withColumn("pb", col("x_b").cast("double") / col("n_b"))
          .withColumn("pp",
            (col("x_a") + col("x_b")).cast("double") / (col("n_a") + col("n_b")))
          .withColumn("z",
            when(col("pp") > 0.0 && col("pp") < 1.0,
              round((col("pa") - col("pb")) /
                sqrt(col("pp") * (lit(1.0) - col("pp")) *
                  (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6)))
          .select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
            round(col("pa"), 6).as("p_a"), round(col("pb"), 6).as("p_b"),
            col("z"), (abs(col("z")) > 1.959964).as("significant"))
      },
      Some("""WITH agg AS (SELECT
             |  CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |  CAST(sum(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
             |    THEN 1 ELSE 0 END) AS BIGINT) AS x_a,
             |  CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             |  CAST(sum(CASE WHEN user_id % 2 = 1 AND event_type = 'purchase'
             |    THEN 1 ELSE 0 END) AS BIGINT) AS x_b
             |  FROM events),
             |x AS (SELECT *,
             |  CAST(x_a AS DOUBLE) / n_a AS pa, CAST(x_b AS DOUBLE) / n_b AS pb,
             |  CAST(x_a + x_b AS DOUBLE) / (n_a + n_b) AS pp FROM agg),
             |zz AS (SELECT *,
             |  CASE WHEN pp > 0 AND pp < 1 THEN
             |    round((pa - pb) / sqrt(pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b)), 6)
             |  END AS z FROM x)
             |SELECT n_a, x_a, n_b, x_b, round(pa, 6) AS p_a, round(pb, 6) AS p_b,
             |  z, abs(z) > 1.959964 AS significant
             |FROM zz""".stripMargin)),

    // ----- EWMA burst detection over the hourly event rate (the
    // drift-ADAPTIVE alarm t_rate_anomaly's global z-score is not: a
    // corpus that doubles its baseline over a month keeps tripping a
    // fixed-mean z, while EWMA tracks the level and flags only
    // departures from the RECENT rate). α = 1/2 — a dyadic rational,
    // so every fold step `0.5·(x + acc)` is two correctly-rounded
    // IEEE ops; both engines fold the SAME values in the SAME
    // chronological order (Spark `aggregate` HOF ≡ DuckDB
    // `list_reduce`, both left folds) ⇒ bit-identical doubles before
    // the 6-dp pin. Physics: the first agg collapses any event volume
    // to |hours| rows; the per-hour prev-EWMA is a nested fold over
    // the bounded sorted series (O(|hours|²) arithmetic INSIDE one
    // row — |hours| is history length, never data volume). Flag =
    // count outside [0.8, 1.25]× the PRIOR hour's EWMA — the band is
    // the exact rational 4/5 expressed as integer-scaled compares
    // (4·cnt > 5·pe) on bit-identical doubles, chosen so the alarm
    // fires at every fixture SF (high volume smooths the hourly rate:
    // at sf0.1 the max departure is 1.41×, so a 2× band never fires
    // and the oracle would gate a permanently-empty result).
    QueryDef(
      "t_ewma_burst",
      (s, d) => {
        val hourly = hourlyCounts(s, d)
        hourly
          .agg(sort_array(collect_list(struct(col("hr"), col("cnt")))).as("xs"))
          .select(explode(expr(
            """transform(sequence(2, size(xs)), t -> named_struct(
              |  'hr', xs[t-1].hr, 'cnt', xs[t-1].cnt,
              |  'pe', aggregate(slice(xs, 2, t - 2),
              |    CAST(xs[0].cnt AS DOUBLE),
              |    (acc, x) -> 0.5D * (CAST(x.cnt AS DOUBLE) + acc))))
              |""".stripMargin)).as("r"))
          .select(timestamp_seconds(col("r.hr") * 3600).as("hour"),
            col("r.cnt"), col("r.pe"))
          .filter(col("cnt").cast("double") * 4.0 > lit(5.0) * col("pe") ||
            col("cnt").cast("double") * 5.0 < lit(4.0) * col("pe"))
          .select(col("hour"), col("cnt"), round(col("pe"), 6).as("ewma_prev"))
          .orderBy("hour")
      },
      Some("""WITH hourly AS (
             |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hr,
             |         count(*) AS cnt
             |  FROM events GROUP BY 1),
             |packed AS (SELECT list_sort(list(struct_pack(hr := hr, cnt := cnt)))
             |    AS xs FROM hourly),
             |f AS (SELECT unnest(list_transform(range(2, len(xs) + 1),
             |    t -> struct_pack(
             |      hr := xs[t].hr, cnt := xs[t].cnt,
             |      pe := list_reduce(
             |        list_prepend(CAST(xs[1].cnt AS DOUBLE),
             |          list_transform(xs[2 : t - 1],
             |            x -> CAST(x.cnt AS DOUBLE))),
             |        (acc, x) -> 0.5 * (x + acc)))), recursive := true)
             |  FROM packed)
             |SELECT make_timestamp(hr * 3600 * 1000000) AS hour, cnt,
             |  round(pe, 6) AS ewma_prev
             |FROM f
             |WHERE CAST(cnt AS DOUBLE) * 4.0 > 5.0 * pe
             |   OR CAST(cnt AS DOUBLE) * 5.0 < 4.0 * pe
             |ORDER BY hour""".stripMargin)),

    // ----- OLS trend slope per event type (the "is this feed growing
    // or decaying" read-out behind every monitoring dashboard's trend
    // arrow): closed-form least squares over (hour index, hourly
    // count). All five sufficient statistics (n, Σx, Σy, Σxy, Σx²)
    // are EXACT longs — x is the hour offset from the global minimum
    // hour (rebased so Σx² stays ≪ 2⁶³), y an exact count — so slope
    // and intercept are single divisions of exact integers, 6-dp-
    // pinned. Physics: the hourly agg collapses any volume to
    // |types|·|hours| rows; the stats agg collapses that to |types|
    // rows; the global min-hour is a 1-row broadcast. Denominator
    // n·Σx²−(Σx)² = 0 only when a type has a single distinct hour —
    // guarded explicitly to NULL on both sides.
    QueryDef(
      "t_trend_slope",
      (s, d) => {
        val hourly = events(s, d)
          .groupBy(col("event_type"),
            (unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
              .cast("long").as("hr"))
          .agg(count(lit(1)).as("cnt"))
        val lo = hourly.agg(min("hr").as("__lo"))
        val stats = hourly.crossJoin(broadcast(lo))
          .withColumn("x", col("hr") - col("__lo"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_hours"),
            sum("x").as("sx"), sum("cnt").as("sy"),
            sum(col("x") * col("cnt")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
        stats
          .withColumn("den", col("n_hours") * col("sxx") - col("sx") * col("sx"))
          .select(col("event_type"), col("n_hours"),
            when(col("den") =!= 0L,
              round((col("n_hours") * col("sxy") - col("sx") * col("sy"))
                .cast("double") / col("den"), 6)).as("slope"),
            when(col("den") =!= 0L,
              round((col("sy") * col("sxx") - col("sx") * col("sxy"))
                .cast("double") / col("den"), 6)).as("intercept"))
          .orderBy("event_type")
      },
      Some("""WITH hourly AS (
             |  SELECT event_type,
             |    CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hr,
             |    count(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |lo AS (SELECT min(hr) AS lo FROM hourly),
             |st AS (SELECT event_type, count(*) AS n_hours,
             |    CAST(sum(hr - lo) AS BIGINT) AS sx,
             |    CAST(sum(cnt) AS BIGINT) AS sy,
             |    CAST(sum((hr - lo) * cnt) AS BIGINT) AS sxy,
             |    CAST(sum((hr - lo) * (hr - lo)) AS BIGINT) AS sxx
             |  FROM hourly, lo GROUP BY 1),
             |dd AS (SELECT *, n_hours * sxx - sx * sx AS den FROM st)
             |SELECT event_type, n_hours,
             |  CASE WHEN den <> 0 THEN
             |    round(CAST(n_hours * sxy - sx * sy AS DOUBLE) / den, 6) END AS slope,
             |  CASE WHEN den <> 0 THEN
             |    round(CAST(sy * sxx - sx * sxy AS DOUBLE) / den, 6) END AS intercept
             |FROM dd ORDER BY event_type""".stripMargin)),

    // ----- multi-touch attribution (first / last / linear credit —
    // the marketing-analytics read j2's as-of join gives only the
    // last-touch slice of): every view/click inside the 7-day window
    // before a user's purchase is a touch; first-touch credits the
    // opener, last-touch the closer, linear splits 1/n. Physics: the
    // touch↔conversion pairing is an EQUI-join on user_id with the
    // time window as residual predicates (never a product — user
    // timelines are bounded, the fan-out is touches×conversions per
    // user); ranking windows partition by conversion id. Credits are
    // exact longs for first/last; linear is Σ(1/n) 6-dp-pinned
    // (absolute float-order error ~10⁻¹⁶·rows, far under the pin).
    // Ties inside a conversion pin on (ts, event_id) both sides.
    QueryDef(
      "a23_attribution_models",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val conv = events(s, d).filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("cts"), col("event_id").as("cid"))
        val touch = events(s, d)
          .filter(col("event_type").isin("view", "click"))
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type").as("channel"))
        val tc = touch.join(conv, Seq("user_id"))
          .filter(col("ts") < col("cts") &&
            col("ts") >= col("cts") - expr("INTERVAL 7 DAYS"))
        val byConv = Window.partitionBy("cid")
        val first = Window.partitionBy("cid").orderBy(col("ts"), col("event_id"))
        val last = Window.partitionBy("cid")
          .orderBy(col("ts").desc, col("event_id").desc)
        tc
          .withColumn("rn_f", row_number().over(first))
          .withColumn("rn_l", row_number().over(last))
          .withColumn("n", count(lit(1)).over(byConv))
          .groupBy("channel")
          .agg(sum(when(col("rn_f") === 1, 1L).otherwise(0L)).as("credit_first"),
            sum(when(col("rn_l") === 1, 1L).otherwise(0L)).as("credit_last"),
            round(sum(lit(1.0) / col("n")), 6).as("credit_linear"),
            count(lit(1)).as("n_touches"))
          .orderBy("channel")
      },
      Some("""WITH conv AS (SELECT user_id, ts AS cts, event_id AS cid
             |  FROM events WHERE event_type = 'purchase'),
             |touch AS (SELECT user_id, ts, event_id, event_type AS channel
             |  FROM events WHERE event_type IN ('view', 'click')),
             |tc AS (SELECT t.channel, t.ts, t.event_id, c.cid
             |  FROM touch t JOIN conv c ON t.user_id = c.user_id
             |  WHERE t.ts < c.cts AND t.ts >= c.cts - INTERVAL 7 DAY),
             |r AS (SELECT channel,
             |    row_number() OVER (PARTITION BY cid ORDER BY ts, event_id) AS rn_f,
             |    row_number() OVER (PARTITION BY cid
             |      ORDER BY ts DESC, event_id DESC) AS rn_l,
             |    count(*) OVER (PARTITION BY cid) AS n
             |  FROM tc)
             |SELECT channel,
             |  CAST(sum(CASE WHEN rn_f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS credit_first,
             |  CAST(sum(CASE WHEN rn_l = 1 THEN 1 ELSE 0 END) AS BIGINT) AS credit_last,
             |  round(sum(1.0 / n), 6) AS credit_linear,
             |  count(*) AS n_touches
             |FROM r GROUP BY 1 ORDER BY channel""".stripMargin)),

    // ----- time-weighted average per user (trapezoidal TWAP — the
    // right mean for IRREGULARLY-sampled series, where the plain avg
    // over-weights chatty periods; the standard read for sensor/
    // position/price telemetry). Interval weights are exact micros
    // (longs); per-user trapezoid terms (v_i+v_{i+1})/2·dt sum in ONE
    // user partition each (lead window + agg share the user_id
    // shuffle). The rank pins ties on the 6-dp ROUNDED value then
    // user_id, so the top-10 cut is cross-engine stable. Single-event
    // users (Σdt = 0) are excluded by construction.
    QueryDef(
      "w9_time_weighted_avg",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val seg = events(s, d)
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
          .withColumn("nts", lead(col("ts"), 1).over(w))
          .withColumn("nv", lead(col("value"), 1).over(w))
          .filter(col("nts").isNotNull)
          .withColumn("dt", unix_micros(col("nts")) - unix_micros(col("ts")))
        seg.groupBy("user_id")
          .agg((count(lit(1)) + 1).as("n_events"),
            round(sum((col("value") + col("nv")) / 2.0 * col("dt")) /
              sum(col("dt")), 6).as("twap"))
          .orderBy(col("twap").desc, col("user_id"))
          .limit(10)
      },
      Some("""WITH seg AS (SELECT user_id, value,
             |    lead(ts) OVER w AS nts, lead(value) OVER w AS nv,
             |    CAST(epoch_us(lead(ts) OVER w) - epoch_us(ts) AS BIGINT) AS dt
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |t AS (SELECT user_id, count(*) + 1 AS n_events,
             |    round(sum((value + nv) / 2.0 * dt) / sum(dt), 6) AS twap
             |  FROM seg WHERE nts IS NOT NULL GROUP BY 1)
             |SELECT user_id, n_events, twap FROM t
             |ORDER BY twap DESC, user_id LIMIT 10""".stripMargin)),

    // ----- chi-square independence test (the categorical companion to
    // a22's two-proportion z: is event-type mix independent of the
    // experiment arm?): contingency cells are exact longs, expected
    // counts exact-integer ratios (row·col/N as doubles of ≤2⁵³
    // ints), χ² = Σ(o−e)²/e over ≤ |types|·2 cells — the cell agg
    // collapses any event volume first, so the statistic is driver-
    // trivial at any scale; 6-dp pin absorbs the ≤10-element float
    // sum order. dof from the observed margins. The cell grid is the
    // full row-margin × column-margin CROSS (observed cells left-
    // joined in, absent cells o = 0): an EMPTY cell still contributes
    // (0−e)²/e = e to χ² — groupBy alone would silently drop it and
    // understate the statistic exactly when association is strongest
    // (round-12 golden: the InferenceGolden2Spec ceiling fixtures; at
    // the corpus SFs every type×arm cell is occupied, so this is a
    // sparse-domain guard, not a value change).
    QueryDef(
      "a24_chi_square",
      (s, d) => {
        // cached (round-12 advice): `obs` is referenced three times in
        // `cells` and `cells` four more times downstream — without the
        // TrackedCache the events scan+groupBy re-executes per
        // reference (a67's twin fix)
        val obs = tracked(events(s, d)
          .groupBy(col("event_type"), pmod(col("user_id"), lit(2L)).as("arm"))
          .agg(count(lit(1)).as("o")))
        val cells = obs.select("event_type").distinct()
          .crossJoin(broadcast(obs.select("arm").distinct()))
          .join(obs, Seq("event_type", "arm"), "left")
          .select(col("event_type"), col("arm"),
            coalesce(col("o"), lit(0L)).as("o"))
        val rows = cells.groupBy("event_type").agg(sum("o").as("rt"))
        val cols = cells.groupBy("arm").agg(sum("o").as("ct"))
        val tot = cells.agg(sum("o").as("n"),
          countDistinct("event_type").as("r"), countDistinct("arm").as("c"))
        cells.join(rows, "event_type").join(cols, "arm")
          .crossJoin(broadcast(tot))
          .withColumn("e",
            (col("rt") * col("ct")).cast("double") / col("n"))
          .withColumn("term",
            (col("o") - col("e")) * (col("o") - col("e")) / col("e"))
          .groupBy("n", "r", "c")
          .agg(round(sum("term"), 6).as("chi2"))
          .select(col("n"), round(col("chi2"), 6).as("chi2"),
            ((col("r") - 1) * (col("c") - 1)).as("dof"))
      },
      Some("""WITH obs AS (SELECT event_type, user_id % 2 AS arm,
             |    count(*) AS o FROM events GROUP BY 1, 2),
             |cells AS (SELECT g.event_type, g.arm, coalesce(o, 0) AS o
             |  FROM (SELECT event_type, arm
             |        FROM (SELECT DISTINCT event_type FROM obs)
             |        CROSS JOIN (SELECT DISTINCT arm FROM obs)) g
             |  LEFT JOIN obs USING (event_type, arm)),
             |rw AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt
             |  FROM cells GROUP BY 1),
             |cl AS (SELECT arm, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
             |tt AS (SELECT CAST(sum(o) AS BIGINT) AS n,
             |    CAST(count(DISTINCT event_type) AS BIGINT) AS r,
             |    CAST(count(DISTINCT arm) AS BIGINT) AS c FROM cells)
             |SELECT n, round(sum((o - e) * (o - e) / e), 6) AS chi2,
             |  (r - 1) * (c - 1) AS dof
             |FROM (SELECT cells.o, n, r, c,
             |        CAST(rt * ct AS DOUBLE) / n AS e
             |      FROM cells JOIN rw USING (event_type) JOIN cl USING (arm), tt)
             |GROUP BY n, r, c""".stripMargin)),

    // ----- per-user sequence likelihood under the corpus Markov model
    // (bot/anomaly detection BUILT ON t_markov_transitions: a user
    // whose event chain is improbable under the population's
    // transition matrix is automated, broken, or adversarial — the
    // improbable-chain signal). Score = mean ln(n_trans/row_total)
    // over the user's transitions; each log argument is a ratio of
    // exact longs (the matrix is ≤ |types|² cells, broadcast), so
    // both engines take ln of IDENTICAL doubles (tx30's precedent),
    // 6-dp-pinned after the mean. Bottom-10 cut ranks on the ROUNDED
    // score then user_id. One user-key shuffle + a broadcast join.
    QueryDef(
      "t_sequence_likelihood",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val trans = events(s, d)
          .withColumn("prev", lag("event_type", 1).over(w))
          .filter(col("prev").isNotNull)
          .select(col("user_id"), col("prev"), col("event_type").as("curr"))
        val matrix = trans.groupBy("prev", "curr").agg(count(lit(1)).as("mn"))
          .withColumn("mt",
            sum("mn").over(Window.partitionBy("prev")))
        trans.join(broadcast(matrix), Seq("prev", "curr"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_trans"),
            round(sum(log(col("mn").cast("double") / col("mt"))) /
              count(lit(1)), 6).as("avg_ll"))
          .orderBy(col("avg_ll"), col("user_id"))
          .limit(10)
      },
      Some("""WITH tr AS (SELECT user_id,
             |    lag(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS prev,
             |    event_type AS curr
             |  FROM events),
             |t2 AS (SELECT user_id, prev, curr FROM tr WHERE prev IS NOT NULL),
             |m AS (SELECT prev, curr, count(*)::BIGINT AS mn,
             |    CAST(sum(count(*)) OVER (PARTITION BY prev) AS BIGINT) AS mt
             |  FROM t2 GROUP BY prev, curr)
             |SELECT user_id, count(*) AS n_trans,
             |  round(sum(ln(CAST(mn AS DOUBLE) / mt)) / count(*), 6) AS avg_ll
             |FROM t2 JOIN m USING (prev, curr)
             |GROUP BY 1 ORDER BY avg_ll, user_id LIMIT 10""".stripMargin)),

    // ----- time-to-convert distribution (funnel latency: how long
    // from first signup to first purchase): per-user anchor pair via
    // two min-aggregates (first signup, then first purchase AFTER
    // it — the order constraint is what makes it a funnel, not a
    // join of independent minima); latency in exact whole hours
    // (micros div — both engines truncate on BIGINT); exact
    // percentiles over the ≤|users| converter set, a12's idiom.
    QueryDef(
      "a26_time_to_convert",
      (s, d) => {
        val su = events(s, d).filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("s_us"))
        val pu = events(s, d).filter(col("event_type") === "purchase")
          .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
        su.join(pu, Seq("user_id"))
          .filter(col("p_us") >= col("s_us"))
          .groupBy("user_id").agg(min("p_us").as("p_us"), min("s_us").as("s_us"))
          .withColumn("hours", expr("(p_us - s_us) div 3600000000"))
          .agg(count(lit(1)).as("n_converters"),
            round(expr("percentile(hours, 0.5)"), 6).as("p50_hours"),
            round(expr("percentile(hours, 0.9)"), 6).as("p90_hours"),
            round(avg(col("hours").cast("double")), 6).as("avg_hours"))
      },
      Some("""WITH su AS (SELECT user_id,
             |    min(epoch_us(ts)) AS s_us
             |  FROM events WHERE event_type = 'signup' GROUP BY 1),
             |pp AS (SELECT e.user_id,
             |    min(epoch_us(e.ts)) AS p_us, min(su.s_us) AS s_us
             |  FROM events e JOIN su ON e.user_id = su.user_id
             |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= su.s_us
             |  GROUP BY 1),
             |h AS (SELECT user_id, (p_us - s_us) // 3600000000 AS hours FROM pp)
             |SELECT count(*) AS n_converters,
             |  round(quantile_cont(hours, 0.5), 6) AS p50_hours,
             |  round(quantile_cont(hours, 0.9), 6) AS p90_hours,
             |  round(avg(CAST(hours AS DOUBLE)), 6) AS avg_hours
             |FROM h""".stripMargin)),

    // ----- population stability index over value quintiles (PSI —
    // the model-monitoring drift standard next to t_drift_mix's JSD:
    // credit-scoring/ML ops threshold on PSI < 0.1/0.25): band edges
    // are EXACT quintiles of the BEFORE slice (1-row broadcast), both
    // slices then bucket against those fixed edges — the asymmetry is
    // the point, drift is measured against the baseline's geometry.
    // Counts exact longs; each term (p−q)·ln(p/q) takes ln of a ratio
    // of exact-integer ratios (identical doubles both engines), 6-dp
    // pin. Zero-count cells pinned to a 0 term explicitly (the
    // standard ±0.5-count smoothing is a modeling choice; the fixture
    // has none, and an explicit pin beats engine-defined ln(0)).
    QueryDef(
      "t_psi_drift",
      (s, d) => {
        val cut = lit("2024-01-16 00:00:00").cast("timestamp")
        val before = events(s, d).filter(col("ts") < cut)
        val edges = before.agg(
          expr("percentile(value, array(0.2, 0.4, 0.6, 0.8))").as("e"))
        val banded = events(s, d).crossJoin(broadcast(edges))
          .withColumn("band",
            when(col("value") <= element_at(col("e"), 1), 1L)
              .when(col("value") <= element_at(col("e"), 2), 2L)
              .when(col("value") <= element_at(col("e"), 3), 3L)
              .when(col("value") <= element_at(col("e"), 4), 4L)
              .otherwise(5L))
          .groupBy("band")
          .agg(sum(when(col("ts") < cut, 1L).otherwise(0L)).as("nb"),
            sum(when(col("ts") >= cut, 1L).otherwise(0L)).as("na"))
        val tots = banded.agg(sum("nb").as("tb"), sum("na").as("ta"))
        banded.crossJoin(broadcast(tots))
          .withColumn("p", col("nb").cast("double") / col("tb"))
          .withColumn("q", col("na").cast("double") / col("ta"))
          .withColumn("term",
            when(col("nb") > 0L && col("na") > 0L,
              (col("p") - col("q")) * log(col("p") / col("q")))
              .otherwise(lit(0.0)))
          .agg(sum("nb").as("n_before"), sum("na").as("n_after"),
            round(sum("term"), 6).as("psi"))
      },
      Some("""WITH e AS (SELECT quantile_cont(value, [0.2, 0.4, 0.6, 0.8]) AS e
             |  FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'),
             |b AS (SELECT CASE WHEN value <= e[1] THEN 1 WHEN value <= e[2] THEN 2
             |        WHEN value <= e[3] THEN 3 WHEN value <= e[4] THEN 4
             |        ELSE 5 END AS band,
             |      CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
             |        THEN 1 ELSE 0 END) AS BIGINT) AS nb,
             |      CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
             |        THEN 1 ELSE 0 END) AS BIGINT) AS na
             |  FROM events, e GROUP BY 1),
             |t AS (SELECT CAST(sum(nb) AS BIGINT) AS tb,
             |             CAST(sum(na) AS BIGINT) AS ta FROM b)
             |SELECT CAST(sum(nb) AS BIGINT) AS n_before,
             |  CAST(sum(na) AS BIGINT) AS n_after,
             |  round(sum(CASE WHEN nb > 0 AND na > 0 THEN
             |    (CAST(nb AS DOUBLE) / tb - CAST(na AS DOUBLE) / ta)
             |    * ln((CAST(nb AS DOUBLE) / tb) / (CAST(na AS DOUBLE) / ta))
             |    ELSE 0.0 END), 6) AS psi
             |FROM b, t""".stripMargin)),

    // ----- trimmed mean per event type (the robust center W7's MAD
    // outlier flagging does not itself provide — drop the top and
    // bottom 10% BY RANK, exact cut): ranks pin ties on (value,
    // event_id) so the trim boundary is identical cross-engine even
    // with duplicated values; cut counts are exact integer floors of
    // n/10. One event_type-partitioned window + the same-key agg —
    // a single uniform shuffle, no global sort.
    QueryDef(
      "w10_trimmed_mean",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("event_type")
          .orderBy(col("value"), col("event_id"))
        events(s, d)
          .withColumn("rk", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1))
            .over(Window.partitionBy("event_type")).cast("long"))
          .filter(col("rk") > expr("n div 10") &&
            col("rk") <= col("n") - expr("n div 10"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_kept"),
            round(avg("value"), 6).as("trimmed_mean"))
          .orderBy("event_type")
      },
      Some("""WITH r AS (SELECT event_type, value,
             |    CAST(row_number() OVER (PARTITION BY event_type
             |      ORDER BY value, event_id) AS BIGINT) AS rk,
             |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
             |  FROM events)
             |SELECT event_type, count(*) AS n_kept,
             |  round(avg(value), 6) AS trimmed_mean
             |FROM r WHERE rk > n // 10 AND rk <= n - n // 10
             |GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // ----- transition dwell time (the TIMING layer over
    // t_markov_transitions' structure: how long users sit between
    // consecutive steps — the slow-step finder of product-flow
    // analysis). Same one user-key shuffle + lag window; per-pair
    // stats collapse to ≤|types|² rows. Dwell is exact whole seconds
    // (micros div, both engines truncate); avg is a ratio of exact
    // integer sums 6-dp-pinned; p50 exact percentile (a12 idiom) on
    // longs.
    QueryDef(
      "t_transition_dwell",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        events(s, d)
          .withColumn("prev", lag("event_type", 1).over(w))
          .withColumn("pus", lag(unix_micros(col("ts")), 1).over(w))
          .filter(col("prev").isNotNull)
          .withColumn("dwell_s",
            expr("(unix_micros(ts) - pus) div 1000000"))
          .groupBy(col("prev"), col("event_type").as("curr"))
          .agg(count(lit(1)).as("n"),
            round(avg(col("dwell_s").cast("double")), 6).as("avg_dwell_s"),
            round(expr("percentile(dwell_s, 0.5)"), 6).as("p50_dwell_s"))
          .orderBy("prev", "curr")
      },
      Some("""WITH tr AS (SELECT
             |    lag(event_type) OVER w AS prev,
             |    lag(epoch_us(ts)) OVER w AS pus,
             |    event_type AS curr, epoch_us(ts) AS us
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |d AS (SELECT prev, curr,
             |    CAST(us - pus AS BIGINT) // 1000000 AS dwell_s
             |  FROM tr WHERE prev IS NOT NULL)
             |SELECT prev, curr, count(*) AS n,
             |  round(avg(CAST(dwell_s AS DOUBLE)), 6) AS avg_dwell_s,
             |  round(quantile_cont(dwell_s, 0.5), 6) AS p50_dwell_s
             |FROM d GROUP BY 1, 2 ORDER BY prev, curr""".stripMargin)),

    // ----- Incremental materialized-view maintenance (the Delta/
    // Iceberg MV-refresh algebra — the thing that lets a 100 TB
    // dashboard update from one day's delta instead of a full
    // recompute): a per-type stats MV is maintained as
    // merge(agg(base), agg(delta)) over a pinned cutover instant,
    // and the QUERY ITSELF is the incremental path while the ORACLE
    // is the full recompute — the hash compare proves the merge
    // algebra (count/sum add, min/max combine, avg re-derived from
    // merged sums — never averaged averages) is exactly lossless.
    // Only ALGEBRAIC aggregates appear; a count-distinct would need
    // a mergeable sketch (the a12b/HLL row), which is the designed
    // boundary of this operator. Scale: two filtered scans (the
    // base scan is the stored MV in production — here recomputed so
    // the fixture stays the only input), each collapsing map-side
    // to ≤|types| rows; the full-outer merge join moves scalars
    // only. Values pinned to exact cents (round·100→cast) so sums
    // are exact longs on both engines.
    QueryDef(
      "a28_mv_incremental",
      (s, d) => {
        val cut = lit("2024-01-24 00:00:00").cast("timestamp")
        def agg(df: DataFrame) = df
          .select(col("event_type"),
            round(col("value") * 100).cast("long").as("cents"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"), sum("cents").as("sum_cents"),
            min("cents").as("min_cents"), max("cents").as("max_cents"))
        val base = agg(events(s, d).filter(col("ts") < cut))
        val delta = agg(events(s, d).filter(col("ts") >= cut))
          .withColumnsRenamed(Map("cnt" -> "d_cnt",
            "sum_cents" -> "d_sum", "min_cents" -> "d_min",
            "max_cents" -> "d_max"))
        base.join(delta, Seq("event_type"), "full_outer")
          .select(col("event_type"),
            (coalesce(col("cnt"), lit(0L)) +
              coalesce(col("d_cnt"), lit(0L))).as("cnt"),
            (coalesce(col("sum_cents"), lit(0L)) +
              coalesce(col("d_sum"), lit(0L))).as("sum_cents"),
            least(coalesce(col("min_cents"), col("d_min")),
              coalesce(col("d_min"), col("min_cents"))).as("min_cents"),
            greatest(coalesce(col("max_cents"), col("d_max")),
              coalesce(col("d_max"), col("max_cents"))).as("max_cents"))
          .withColumn("avg_cents",
            round(col("sum_cents").cast("double") / col("cnt"), 6))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS cnt,
             |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             |    AS sum_cents,
             |  min(CAST(round(value * 100) AS BIGINT)) AS min_cents,
             |  max(CAST(round(value * 100) AS BIGINT)) AS max_cents,
             |  round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
             |    / count(*), 6) AS avg_cents
             |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // ----- Seasonal-baseline residual anomaly (the hour-of-day
    // seasonality read t_rate_anomaly's global z-score and
    // t_ewma_burst's trend-following EWMA both miss: 3 AM traffic
    // that is normal FOR 3 AM but would z-flag against the 24 h
    // mean, and a daily rush hour the EWMA keeps re-learning): the
    // first three weeks build a per-hour-of-day baseline, the last
    // week's hours flag against THEIR OWN hour's baseline. The
    // flag compares are ALL-INTEGER cross-multiplications
    // (4·cnt·bn > 5·bs ⇔ cnt > 1.25·mean, 4·cnt·bn < 3·bs ⇔
    // cnt < 0.75·mean) — no division anywhere, so the degenerate
    // flat-series case needs no float pin at all. Scale: the first
    // aggregation collapses any event volume to |hours| rows; the
    // baseline is ≤24 rows, broadcast; output only flagged hours.
    QueryDef(
      "t_seasonal_residual",
      (s, d) => {
        val cut = lit("2024-01-22 00:00:00").cast("timestamp")
        val hourly = events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("h"),
            hour(col("ts")).as("hod"))
          .agg(count(lit(1)).as("cnt"))
        val base = hourly.filter(col("h") < cut)
          .groupBy("hod")
          .agg(sum("cnt").as("bs"), count(lit(1)).as("bn"))
        hourly.filter(col("h") >= cut)
          .join(broadcast(base), Seq("hod"))
          .withColumn("class",
            when(lit(4) * col("cnt") * col("bn") > lit(5) * col("bs"), "high")
              .when(lit(4) * col("cnt") * col("bn") < lit(3) * col("bs"), "low"))
          .filter(col("class").isNotNull)
          .select(col("h"), col("hod").cast("long").as("hod"), col("cnt"),
            round(col("bs").cast("double") / col("bn"), 6).as("base_avg"),
            col("class"))
          .orderBy("h")
      },
      Some("""WITH hourly AS (SELECT date_trunc('hour', ts) AS h,
             |    CAST(hour(ts) AS BIGINT) AS hod, count(*) AS cnt
             |  FROM events GROUP BY 1, 2),
             |base AS (SELECT hod, CAST(sum(cnt) AS BIGINT) AS bs,
             |    CAST(count(*) AS BIGINT) AS bn
             |  FROM hourly WHERE h < TIMESTAMP '2024-01-22 00:00:00'
             |  GROUP BY 1)
             |SELECT h.h, h.hod, h.cnt,
             |  round(CAST(b.bs AS DOUBLE) / b.bn, 6) AS base_avg,
             |  CASE WHEN 4 * h.cnt * b.bn > 5 * b.bs THEN 'high'
             |       WHEN 4 * h.cnt * b.bn < 3 * b.bs THEN 'low' END AS class
             |FROM hourly h JOIN base b USING (hod)
             |WHERE h.h >= TIMESTAMP '2024-01-22 00:00:00'
             |  AND (4 * h.cnt * b.bn > 5 * b.bs OR 4 * h.cnt * b.bn < 3 * b.bs)
             |ORDER BY h""".stripMargin)),

    // ----- Two-sample Kolmogorov-Smirnov statistic (the nonparametric
    // completer of the drift family: PSI/JSD need binning choices,
    // chi-square needs categories — KS reads the WHOLE distribution
    // shape with no tuning): D = max |F₁−F₂| over the merged value
    // domain, computed as the EXACT integer cross-multiplication
    // |c₁·n₂ − c₂·n₁| (common denominator n₁·n₂ deferred to one
    // final 6-dp division) — no per-step float CDF, so the max and
    // its argmax value are exact on both engines, ties pinned to the
    // smallest value. Scale: one uniform value-key shuffle collapses
    // any volume to |distinct cents| rows (bounded by the VALUE
    // DOMAIN, ~10⁵ here, never by event count); the CDF window runs
    // over that bounded set. Long-path bound: c·n ≤ n₁·n₂ needs
    // n₁·n₂ < 2⁶³ (n ≲ 3·10⁹ per side) — beyond that the two
    // products move to DECIMAL(38,0), same shape (a29's note).
    QueryDef(
      "a30_ks_test",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val f = events(s, d)
          .filter(col("event_type").isin("purchase", "click"))
          .select(col("event_type"),
            round(col("value") * 100).cast("long").as("cents"))
        val per = f.groupBy("cents")
          .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("d1"),
            sum(when(col("event_type") === "click", 1L).otherwise(0L))
              .as("d2"))
        val w = Window.orderBy("cents")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cdf = per
          .withColumn("c1", sum("d1").over(w))
          .withColumn("c2", sum("d2").over(w))
        val tot = f.groupBy()
          .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n1"),
            sum(when(col("event_type") === "click", 1L).otherwise(0L))
              .as("n2"))
        // argmax in one pass: lexicographic max of (num, −cents) is
        // max-num-then-MIN-cents — the pinned tie rule
        cdf.crossJoin(broadcast(tot))
          .withColumn("num", abs(col("c1") * col("n2") - col("c2") * col("n1")))
          .groupBy("n1", "n2")
          .agg(max(struct(col("num"), (-col("cents")).as("neg"))).as("m"))
          .select(col("n1"), col("n2"), col("m.num").as("d_num"),
            (-col("m.neg")).as("at_cents"),
            round(col("m.num").cast("double") /
              (col("n1").cast("double") * col("n2")), 6).as("ks_d"))
      },
      Some("""WITH f AS (SELECT event_type,
             |    CAST(round(value * 100) AS BIGINT) AS cents
             |  FROM events WHERE event_type IN ('purchase', 'click')),
             |per AS (SELECT cents,
             |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS d1,
             |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS d2
             |  FROM f GROUP BY 1),
             |cdf AS (SELECT cents,
             |    sum(d1) OVER (ORDER BY cents
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
             |    sum(d2) OVER (ORDER BY cents
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2
             |  FROM per),
             |tot AS (SELECT
             |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n2
             |  FROM f),
             |nums AS (SELECT cents, abs(c1 * n2 - c2 * n1) AS num
             |  FROM cdf, tot),
             |mx AS (SELECT CAST(max(num) AS BIGINT) AS d_num FROM nums)
             |SELECT t.n1, t.n2, m.d_num,
             |  (SELECT min(cents) FROM nums WHERE num = m.d_num) AS at_cents,
             |  round(CAST(m.d_num AS DOUBLE) /
             |    (CAST(t.n1 AS DOUBLE) * t.n2), 6) AS ks_d
             |FROM tot t, mx m""".stripMargin)),

    // ----- Multi-grain rollup chain (the MV hierarchy every lakehouse
    // runs: raw → hourly → daily → weekly, each level derived from
    // the PREVIOUS level, never from raw): the QUERY re-aggregates
    // hourly partials upward twice — counts add, cents add, min/max
    // combine, distinct-user counts deliberately EXCLUDED (not
    // re-aggregable from partials; the a12b sketch row is that
    // boundary) — while the ORACLE computes weekly directly from raw
    // rows, so the hash compare proves two levels of re-aggregation
    // lossless (a8's snapshot re-agg proves one). ISO weeks pinned
    // via date_trunc('week') on both engines (Monday start). Scale:
    // the raw→hourly agg collapses volume once; every later level
    // re-aggs ≤|hours| rows — the whole point of the hierarchy.
    QueryDef(
      "t_multigrain_rollup",
      (s, d) => {
        val hourly = events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("cnt"),
            sum(round(col("value") * 100).cast("long")).as("cents"),
            min(round(col("value") * 100).cast("long")).as("min_c"),
            max(round(col("value") * 100).cast("long")).as("max_c"))
        val daily = hourly
          .groupBy(date_trunc("day", col("h")).as("day"))
          .agg(sum("cnt").as("cnt"), sum("cents").as("cents"),
            min("min_c").as("min_c"), max("max_c").as("max_c"))
        daily
          .groupBy(date_trunc("week", col("day")).as("week"))
          .agg(sum("cnt").as("cnt"), sum("cents").as("cents"),
            min("min_c").as("min_c"), max("max_c").as("max_c"))
          .orderBy("week")
      },
      Some("""SELECT date_trunc('week', ts) AS week, count(*) AS cnt,
             |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             |    AS cents,
             |  min(CAST(round(value * 100) AS BIGINT)) AS min_c,
             |  max(CAST(round(value * 100) AS BIGINT)) AS max_c
             |FROM events GROUP BY 1 ORDER BY week""".stripMargin)),

    // ----- Top session paths (the user-journey read product flow
    // analysis starts from — "what are the most common first three
    // steps of a session?"): gaps-and-islands sessionization (6 h
    // inactivity gap, micros-exact on both engines), then the path
    // string is built with CONDITIONAL MAXES over the rank window
    // (max(case rk=1), rk=2, rk=3 → concat_ws, which skips NULLs for
    // short sessions identically cross-engine) — never collect_list,
    // whose order is partition-dependent. All shuffles share the
    // user_id key until the final bounded path histogram
    // (≤|event types|³ rows); top-15 ties pinned by path string.
    QueryDef(
      "t_top_paths",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val sid = SessionIslands.withSid(
          events(s, d).withColumn("us", unix_micros(col("ts"))), "us",
          Seq(col("ts"), col("event_id")), SessionIslands.GapSeconds * 1000000L,
          inclusive = true)
        val rk = sid.withColumn("rk", row_number()
          .over(Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")))
        rk.filter(col("rk") <= 3)
          .groupBy("user_id", "sid")
          .agg(concat_ws(">",
            max(when(col("rk") === 1, col("event_type"))),
            max(when(col("rk") === 2, col("event_type"))),
            max(when(col("rk") === 3, col("event_type")))).as("path"))
          .groupBy("path").agg(count(lit(1)).as("n_sessions"))
          .orderBy(col("n_sessions").desc, col("path"))
          .limit(15)
      },
      Some(s"""WITH e AS (SELECT user_id, event_id, ts, event_type,
             |    epoch_us(ts) AS us FROM events),
             |${SessionIslands.Sql.islands("e", "us", Seq("ts", "event_id"),
                 (SessionIslands.GapSeconds * 1000000L).toString, inclusive = true)},
             |r AS (SELECT *, row_number() OVER
             |    (PARTITION BY user_id, sid ORDER BY ts, event_id) AS rk
             |  FROM si),
             |p AS (SELECT user_id, sid, concat_ws('>',
             |    max(CASE WHEN rk = 1 THEN event_type END),
             |    max(CASE WHEN rk = 2 THEN event_type END),
             |    max(CASE WHEN rk = 3 THEN event_type END)) AS path
             |  FROM r WHERE rk <= 3 GROUP BY 1, 2)
             |SELECT path, count(*) AS n_sessions FROM p GROUP BY 1
             |ORDER BY n_sessions DESC, path LIMIT 15""".stripMargin)),

    // ----- Two-feature OLS via normal equations (hourly volume ~
    // trend + hour-of-day — the multivariate extension of
    // t_trend_slope's closed-form single feature: fitting trend
    // WHILE controlling for daily seasonality, which a univariate
    // slope conflates): nine sufficient statistics as EXACT longs
    // from one volume-collapsing aggregation (bounds: |hours| ≤ 10³,
    // so every Σ ≪ 2⁶³), then the 3×3 Cramer solve in DOUBLE with
    // the IDENTICAL parenthesization on both engines — products of
    // exact-long-valued doubles are correctly-rounded IEEE ops, so
    // same inputs + same op order = bit-identical coefficients
    // before the 6-dp pin (the a22 determinism argument, applied to
    // a matrix solve). Degenerate design matrix pinned to NULL via
    // det = 0 (exact long compare). One row out at any scale.
    QueryDef(
      "a31_ols_hourly",
      (s, d) => {
        val hourly = events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("h"),
            hour(col("ts")).cast("long").as("x2"))
          .agg(count(lit(1)).as("y"))
          .withColumn("us", unix_micros(col("h")))
        val rebased = hourly
          .crossJoin(broadcast(hourly.agg(min("us").as("us0"))))
          .select(expr("(us - us0) div 3600000000").as("x1"),
            col("x2"), col("y"))
        val st = rebased.agg(count(lit(1)).as("n"),
          sum("x1").as("s1"), sum("x2").as("s2"), sum("y").as("sy"),
          sum(col("x1") * col("x1")).as("s11"),
          sum(col("x1") * col("x2")).as("s12"),
          sum(col("x2") * col("x2")).as("s22"),
          sum(col("x1") * col("y")).as("s1y"),
          sum(col("x2") * col("y")).as("s2y"))
        // det stays in exact longs (|terms| < 2⁶³ at the hours bound);
        // coefficient numerators go to double (identical op order both
        // engines) because Σy-scaled terms can pass 2⁶³
        st.select(col("n"),
            (col("n") * (col("s11") * col("s22") - col("s12") * col("s12"))
              - col("s1") * (col("s1") * col("s22") - col("s12") * col("s2"))
              + col("s2") * (col("s1") * col("s12") - col("s11") * col("s2")))
              .as("det"),
            col("s1"), col("s2"), col("sy"), col("s11"), col("s12"),
            col("s22"), col("s1y"), col("s2y"))
          .select(col("n"),
            when(col("det") =!= 0, round(
              (col("sy").cast("double") * (col("s11").cast("double") * col("s22").cast("double") - col("s12").cast("double") * col("s12").cast("double"))
                - col("s1").cast("double") * (col("s1y").cast("double") * col("s22").cast("double") - col("s12").cast("double") * col("s2y").cast("double"))
                + col("s2").cast("double") * (col("s1y").cast("double") * col("s12").cast("double") - col("s11").cast("double") * col("s2y").cast("double")))
                / col("det").cast("double"), 6)).as("b0"),
            when(col("det") =!= 0, round(
              (col("n").cast("double") * (col("s1y").cast("double") * col("s22").cast("double") - col("s12").cast("double") * col("s2y").cast("double"))
                - col("sy").cast("double") * (col("s1").cast("double") * col("s22").cast("double") - col("s12").cast("double") * col("s2").cast("double"))
                + col("s2").cast("double") * (col("s1").cast("double") * col("s2y").cast("double") - col("s1y").cast("double") * col("s2").cast("double")))
                / col("det").cast("double"), 6)).as("b_trend"),
            when(col("det") =!= 0, round(
              (col("n").cast("double") * (col("s11").cast("double") * col("s2y").cast("double") - col("s1y").cast("double") * col("s12").cast("double"))
                - col("s1").cast("double") * (col("s1").cast("double") * col("s2y").cast("double") - col("s1y").cast("double") * col("s2").cast("double"))
                + col("sy").cast("double") * (col("s1").cast("double") * col("s12").cast("double") - col("s11").cast("double") * col("s2").cast("double")))
                / col("det").cast("double"), 6)).as("b_hod"))
      },
      Some("""WITH hourly AS (SELECT date_trunc('hour', ts) AS h,
             |    CAST(hour(ts) AS BIGINT) AS x2, count(*) AS y
             |  FROM events GROUP BY 1, 2),
             |rb AS (SELECT (epoch_us(h) - (SELECT min(epoch_us(h)) FROM hourly))
             |      // 3600000000 AS x1, x2, y
             |  FROM hourly),
             |st AS (SELECT count(*) AS n,
             |    CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
             |    CAST(sum(y) AS BIGINT) AS sy,
             |    CAST(sum(x1*x1) AS BIGINT) AS s11,
             |    CAST(sum(x1*x2) AS BIGINT) AS s12,
             |    CAST(sum(x2*x2) AS BIGINT) AS s22,
             |    CAST(sum(x1*y) AS BIGINT) AS s1y,
             |    CAST(sum(x2*y) AS BIGINT) AS s2y
             |  FROM rb),
             |dt AS (SELECT *,
             |    n * (s11 * s22 - s12 * s12)
             |      - s1 * (s1 * s22 - s12 * s2)
             |      + s2 * (s1 * s12 - s11 * s2) AS det
             |  FROM st)
             |SELECT n,
             |  CASE WHEN det <> 0 THEN round(
             |    (CAST(sy AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
             |      - CAST(s1 AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2y AS DOUBLE))
             |      + CAST(s2 AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2y AS DOUBLE)))
             |      / CAST(det AS DOUBLE), 6) END AS b0,
             |  CASE WHEN det <> 0 THEN round(
             |    (CAST(n AS DOUBLE) * (CAST(s1y AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2y AS DOUBLE))
             |      - CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE) - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE))
             |      + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s2 AS DOUBLE)))
             |      / CAST(det AS DOUBLE), 6) END AS b_trend,
             |  CASE WHEN det <> 0 THEN round(
             |    (CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s12 AS DOUBLE))
             |      - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s2y AS DOUBLE) - CAST(s1y AS DOUBLE) * CAST(s2 AS DOUBLE))
             |      + CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE) - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE)))
             |      / CAST(det AS DOUBLE), 6) END AS b_hod
             |FROM dt""".stripMargin)),

    // ----- DAU/WAU stickiness (the product-engagement ratio: how
    // much of the weekly audience shows up daily): exact distinct
    // users per day and per ISO week — two distinct-aggs sharing the
    // user-key shuffle physics of t_distinct_users — then stickiness
    // = Σdaily-DAU / (7·WAU) as a 6-dp ratio of exact longs per
    // week. Deliberately NOT a rolling-7-day window per day: a
    // per-day trailing distinct is a 7× self-union at any scale, and
    // the calendar-week ratio is the metric dashboards actually pin.
    // Output ≤|weeks| rows.
    QueryDef(
      "t_stickiness",
      (s, d) => {
        val daily = events(s, d)
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(countDistinct(col("user_id")).as("dau"))
          .withColumn("week", date_trunc("week", col("day")))
          .groupBy("week").agg(sum("dau").as("sum_dau"))
        val weekly = events(s, d)
          .groupBy(date_trunc("week", col("ts")).as("week"))
          .agg(countDistinct(col("user_id")).as("wau"))
        daily.join(weekly, Seq("week"))
          .select(col("week"), col("sum_dau"), col("wau"),
            round(col("sum_dau").cast("double") / (col("wau") * 7), 6)
              .as("stickiness"))
          .orderBy("week")
      },
      Some("""WITH daily AS (SELECT date_trunc('day', ts) AS day,
             |    count(DISTINCT user_id) AS dau FROM events GROUP BY 1),
             |dw AS (SELECT date_trunc('week', day) AS week,
             |    CAST(sum(dau) AS BIGINT) AS sum_dau FROM daily GROUP BY 1),
             |weekly AS (SELECT date_trunc('week', ts) AS week,
             |    count(DISTINCT user_id) AS wau FROM events GROUP BY 1)
             |SELECT d.week, d.sum_dau, w.wau,
             |  round(CAST(d.sum_dau AS DOUBLE) / (w.wau * 7), 6) AS stickiness
             |FROM dw d JOIN weekly w ON d.week = w.week
             |ORDER BY d.week""".stripMargin)),

    // ----- rolling 7-day revenue via a BOUNDED RANGE frame (the
    // value-based window the w5/w6 ROW frames and tx29's
    // unbounded-range can't express: "the last 7 CALENDAR days",
    // which under gaps in the series is NOT the last 7 rows — a
    // ROW frame silently widens its time span across missing days).
    // Frame bounds are integer epoch-days, revenue is exact cents;
    // the first agg collapses any volume to |days| rows, so the
    // range window runs over a bounded calendar series. Window and
    // agg emit exact longs; the rolling avg divides by the ACTUAL
    // day count in frame (gap-aware), 6-dp pinned.
    QueryDef(
      "w11_rolling_range",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = events(s, d)
          .groupBy(expr("unix_micros(date_trunc('day', ts)) div 86400000000")
            .as("epoch_day"))
          .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
        val w = Window.orderBy("epoch_day").rangeBetween(-6, 0)
        daily
          .withColumn("roll_cents", sum("cents").over(w))
          .withColumn("days_in_frame", count(lit(1)).over(w))
          .select(col("epoch_day"), col("cents"), col("roll_cents"),
            col("days_in_frame"),
            round(col("roll_cents").cast("double") / col("days_in_frame"), 6)
              .as("roll_avg_cents"))
          .orderBy("epoch_day")
      },
      Some("""WITH daily AS (SELECT
             |    epoch_us(date_trunc('day', ts)) // 86400000000 AS epoch_day,
             |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
             |  FROM events GROUP BY 1)
             |SELECT epoch_day, cents,
             |  CAST(sum(cents) OVER w AS BIGINT) AS roll_cents,
             |  CAST(count(*) OVER w AS BIGINT) AS days_in_frame,
             |  round(CAST(sum(cents) OVER w AS DOUBLE)
             |    / count(*) OVER w, 6) AS roll_avg_cents
             |FROM daily
             |WINDOW w AS (ORDER BY epoch_day
             |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
             |ORDER BY epoch_day""".stripMargin)),

    // ----- incident episodes (the ALERTING layer above anomaly
    // detection: five anomalous hours in a row are ONE incident, not
    // five pages — the debounce every on-call rotation demands):
    // hours flagged by the all-integer 1.25×-mean cross-multiply
    // (t_seasonal_residual's no-division discipline), then
    // consecutive flagged hours collapse via gaps-and-islands
    // (island key = epoch_hour − row_number, exact integers — a
    // run of consecutive hours shares one key). Output one row per
    // EPISODE with span/peak/volume. Volume collapses to |hours|
    // at the first agg; the island window runs over the bounded
    // flagged series only.
    QueryDef(
      "t_incident_episodes",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val hourly = events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("cnt"))
        val tot = hourly.agg(sum("cnt").as("s"), count(lit(1)).as("n"))
        val flagged = hourly.crossJoin(broadcast(tot))
          .filter(lit(4) * col("cnt") * col("n") > lit(5) * col("s"))
        flagged
          .withColumn("eh", expr("unix_micros(h) div 3600000000"))
          .withColumn("g", col("eh") -
            row_number().over(Window.orderBy("h")))
          .groupBy("g")
          .agg(min("h").as("start_hour"), max("h").as("end_hour"),
            count(lit(1)).as("n_hours"), max("cnt").as("peak_cnt"),
            sum("cnt").as("total_cnt"))
          .drop("g")
          .orderBy("start_hour")
      },
      Some("""WITH hourly AS (SELECT date_trunc('hour', ts) AS h,
             |    count(*) AS cnt FROM events GROUP BY 1),
             |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS s,
             |    CAST(count(*) AS BIGINT) AS n FROM hourly),
             |fl AS (SELECT h, cnt FROM hourly, tot
             |  WHERE 4 * cnt * n > 5 * s),
             |isl AS (SELECT h, cnt,
             |    epoch_us(h) // 3600000000 - row_number() OVER (ORDER BY h)
             |      AS g
             |  FROM fl)
             |SELECT min(h) AS start_hour, max(h) AS end_hour,
             |  count(*) AS n_hours, CAST(max(cnt) AS BIGINT) AS peak_cnt,
             |  CAST(sum(cnt) AS BIGINT) AS total_cnt
             |FROM isl GROUP BY g ORDER BY start_hour""".stripMargin)),

    // ----- CUSUM change-point detection (the shift detector the
    // point-wise z-test and the trend-following EWMA both miss: a
    // SUSTAINED small level shift — each hour individually inside
    // the noise band, but the drift accumulating hour over hour).
    // The textbook recurrence S_t = max(0, S_{t-1} + (x_t - mean))
    // looks sequential, but has an exact closed form as window
    // algebra: with P_t = Σ_{j≤t}(x_j - mean), S_t = P_t -
    // min(0, min_{j≤t} P_j) — a prefix sum plus a running min, both
    // single-pass window functions. All arithmetic stays in exact
    // longs by scaling through n (x·n - total instead of x - mean),
    // and the flag S > 2·mean becomes the integer cross-multiply
    // S_scaled > 2·total. Scale: any event volume collapses to
    // |hours| rows at the first agg; the unpartitioned window runs
    // over that bounded series only; the global (total, n) pair is
    // a 1-row broadcast.
    QueryDef(
      "t_cusum_shift",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val hourly = events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("cnt"))
        val tot = hourly.agg(sum("cnt").as("s"), count(lit(1)).as("n"))
        val w = Window.orderBy("h")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        hourly.crossJoin(broadcast(tot))
          .withColumn("p", sum(col("cnt") * col("n") - col("s")).over(w))
          .withColumn("cusum", col("p") - least(lit(0L), min("p").over(w)))
          .select(col("h").as("hour"), col("cnt"), col("cusum"),
            when(col("cusum") > lit(2L) * col("s"), lit(1L))
              .otherwise(lit(0L)).as("shifted"))
          .orderBy("hour")
      },
      Some("""WITH hourly AS (SELECT date_trunc('hour', ts) AS h,
             |    count(*) AS cnt FROM events GROUP BY 1),
             |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS s,
             |    CAST(count(*) AS BIGINT) AS n FROM hourly),
             |pre AS (SELECT h, cnt, s,
             |    sum(cnt * n - s) OVER (ORDER BY h
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
             |  FROM hourly, tot),
             |cu AS (SELECT h, cnt, s,
             |    p - least(0, min(p) OVER (ORDER BY h
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             |      AS cusum
             |  FROM pre)
             |SELECT h AS hour, CAST(cnt AS BIGINT) AS cnt,
             |  CAST(cusum AS BIGINT) AS cusum,
             |  CAST(CASE WHEN cusum > 2 * s THEN 1 ELSE 0 END AS BIGINT)
             |    AS shifted
             |FROM cu ORDER BY hour""".stripMargin)),

    // ----- Cumulative distinct users over time (the audience-growth
    // curve — "how many unique users have we EVER seen as of day d").
    // The naive formulation — COUNT(DISTINCT user) per prefix — is
    // O(|days|·volume) and distinct counts never re-aggregate from
    // partials (the a12b sketch boundary). The exact scalable
    // reformulation: a user contributes to the curve exactly once,
    // at their FIRST event — so min(hour) per user (one uniform
    // user-key shuffle with map-side partials, any volume collapses
    // to |users| rows), then new-users-per-hour (≤|hours| rows,
    // only hours that debut a user appear), then a running sum over
    // the bounded series. Exact integers end to end.
    QueryDef(
      "t_cumulative_users",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val firstSeen = events(s, d)
          .groupBy(col("user_id"))
          .agg(min(date_trunc("hour", col("ts"))).as("hour"))
        firstSeen.groupBy("hour").agg(count(lit(1)).as("new_users"))
          .withColumn("cum_users",
            sum("new_users").over(Window.orderBy("hour")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .orderBy("hour")
      },
      Some("""WITH fs AS (SELECT user_id, min(date_trunc('hour', ts)) AS hour
             |  FROM events GROUP BY 1),
             |hourly AS (SELECT hour, count(*) AS new_users FROM fs GROUP BY 1)
             |SELECT hour, CAST(new_users AS BIGINT) AS new_users,
             |  CAST(sum(new_users) OVER (ORDER BY hour
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |    AS cum_users
             |FROM hourly ORDER BY hour""".stripMargin)),

    // ----- Holt linear-trend smoothing (double exponential — the
    // level-PLUS-trend forecaster; t_ewma_burst's single EWMA
    // chronically lags any ramp because it has no trend term, so a
    // steady climb reads as a permanent "burst"). l_t = ½x_t +
    // ½(l_{t-1}+b_{t-1}), b_t = ½(l_t-l_{t-1}) + ½b_{t-1}, init
    // l₁=x₁, b₁=x₂-x₁; one-step-ahead forecast f_t = l_{t-1} +
    // b_{t-1} and residual x_t - f_t per hour. Cross-engine exact
    // by the EWMA recipe extended to a STRUCT accumulator: ½-weights
    // make every multiply exact and both engines run the identical
    // left-fold op sequence (element mapped to the accumulator
    // struct so DuckDB's same-type list_reduce applies), so even
    // where 53-bit rounding kicks in it rounds identically —
    // bit-equal, then 6-dp-pinned. Scale: volume collapses to
    // |hours| at the first agg; the per-t prefix folds are
    // O(|hours|²) on a BOUNDED series (720² trivial; a year of
    // hours is 77M fold steps, still one core's work) — and the
    // whole series lives in ONE row, never the driver.
    //
    // MIRROR TRAP (measured): DuckDB's `list_reduce` with a STRUCT
    // accumulator aliases the accumulator in place — the lambda's
    // second struct field sees the FIRST field's freshly-written
    // value (b computed from l_new, not l_old; off by exactly the
    // in-place substitution, verified by hand). Any two-field
    // recurrence where each new field needs multiple OLD fields is
    // unwritable as a lambda fold there, so the mirror replays the
    // identical op sequence as a row-per-step RECURSIVE CTE instead
    // (prefix t of the fold ≡ steps 1..t-2 of the full sequence, so
    // one incremental pass mirrors all the per-t folds bit-for-bit).
    QueryDef(
      "t_holt_forecast",
      (s, d) => {
        val hourly = hourlyCounts(s, d)
        hourly
          .agg(sort_array(collect_list(struct(col("hr"), col("cnt")))).as("xs"))
          .filter(size(col("xs")) >= 3)
          .select(explode(expr(
            """transform(sequence(3, size(xs)), t -> named_struct(
              |  'hr', xs[t-1].hr, 'cnt', xs[t-1].cnt,
              |  'fc', aggregate(slice(xs, 2, t - 2),
              |    named_struct(
              |      'l', CAST(xs[0].cnt AS DOUBLE),
              |      'b', CAST(xs[1].cnt AS DOUBLE) - CAST(xs[0].cnt AS DOUBLE)),
              |    (acc, x) -> named_struct(
              |      'l', 0.5D * CAST(x.cnt AS DOUBLE) + 0.5D * (acc.l + acc.b),
              |      'b', 0.5D * ((0.5D * CAST(x.cnt AS DOUBLE)
              |             + 0.5D * (acc.l + acc.b)) - acc.l) + 0.5D * acc.b),
              |    acc -> acc.l + acc.b)))
              |""".stripMargin)).as("r"))
          .select(timestamp_seconds(col("r.hr") * 3600).as("hour"),
            col("r.cnt"),
            round(col("r.fc"), 6).as("forecast"),
            round(col("r.cnt").cast("double") - col("r.fc"), 6).as("resid"))
          .orderBy("hour")
      },
      Some("""WITH RECURSIVE hourly AS MATERIALIZED (
             |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hr,
             |         count(*) AS cnt
             |  FROM events GROUP BY 1),
             |ord AS MATERIALIZED (SELECT hr, cnt, row_number() OVER (ORDER BY hr) AS i
             |  FROM hourly),
             |holt AS (
             |  SELECT 1 AS i,
             |    CAST((SELECT cnt FROM ord WHERE i = 1) AS DOUBLE) AS l,
             |    CAST((SELECT cnt FROM ord WHERE i = 2) AS DOUBLE)
             |      - CAST((SELECT cnt FROM ord WHERE i = 1) AS DOUBLE) AS b
             |  UNION ALL
             |  SELECT h.i + 1,
             |    0.5 * CAST(o.cnt AS DOUBLE) + 0.5 * (h.l + h.b),
             |    0.5 * ((0.5 * CAST(o.cnt AS DOUBLE) + 0.5 * (h.l + h.b)) - h.l)
             |      + 0.5 * h.b
             |  FROM holt h JOIN ord o ON o.i = h.i + 1
             |  WHERE h.i + 1 <= (SELECT max(i) FROM ord) - 1)
             |SELECT make_timestamp(o.hr * 3600 * 1000000) AS hour, o.cnt AS cnt,
             |  round(h.l + h.b, 6) AS forecast,
             |  round(CAST(o.cnt AS DOUBLE) - (h.l + h.b), 6) AS resid
             |FROM holt h JOIN ord o ON o.i = h.i + 1
             |WHERE h.i >= 2
             |ORDER BY hour""".stripMargin)),

    // ----- Join-size estimation via Count-Min inner product (the
    // PLANNING primitive: |A ⋈ B on k| = Σ_k f_A(k)·f_B(k), and the
    // CMS estimate min_r Σ_bucket cmsA[r]·cmsB[r] upper-bounds it —
    // "will this self-/attribution-join explode" answered from two
    // 768-cell sketches instead of running the join). Unlike
    // sketch_cms_token_freq (engine-internal sketch, bound-gated),
    // the sketch here is built IN relational algebra with the pinned
    // cross-engine poly_hash as the row-hash family, so the estimate
    // itself is a pure integer function of the data — DuckDB replays
    // the identical sketch and the whole (exact, estimate, overest)
    // triple is hash-gated, overestimate-only by construction.
    // Scale: each side collapses to |keys| at the per-key count agg,
    // then to d·w = 3·256 cells (map-side partials); the estimate
    // join touches 768 rows however large the would-be join output.
    QueryDef(
      "est_join_size",
      (s, d) => {
        import graft.ext.NearDup
        val W = 256
        val ev = events(s, d)
        def keyed(tpe: String, f: String): DataFrame = ev
          .filter(col("event_type") === tpe)
          .groupBy("user_id").agg(count(lit(1)).as(f))
        def cms(df: DataFrame, f: String): DataFrame = df
          .select(col("user_id"), col(f),
            explode(array(lit(0), lit(1), lit(2))).as("r"))
          .withColumn("bucket",
            NearDup.charHash(concat_ws(":", col("r"), col("user_id"))) % W)
          .groupBy("r", "bucket").agg(sum(f).as(f))
        val a = keyed("click", "fa")
        val b = keyed("view", "fb")
        val exact = a.join(b, Seq("user_id"))
          .agg(coalesce(sum(col("fa") * col("fb")), lit(0L)).as("exact_size"))
        val est = cms(a, "fa").join(cms(b, "fb"), Seq("r", "bucket"))
          .groupBy("r").agg(sum(col("fa") * col("fb")).as("ip"))
          .agg(coalesce(min("ip"), lit(0L)).as("est_size"))
        exact.crossJoin(broadcast(est))
          .select(col("exact_size"), col("est_size"),
            (col("est_size") - col("exact_size")).as("overest"))
      },
      Some(s"""WITH a AS (SELECT user_id, CAST(count(*) AS BIGINT) AS fa
              |  FROM events WHERE event_type = 'click' GROUP BY 1),
              |b AS (SELECT user_id, CAST(count(*) AS BIGINT) AS fb
              |  FROM events WHERE event_type = 'view' GROUP BY 1),
              |ex AS (SELECT CAST(coalesce(sum(fa * fb), 0) AS BIGINT)
              |    AS exact_size
              |  FROM a JOIN b USING (user_id)),
              |ca AS (SELECT r, ${graft.ext.NearDup.Sql.charHashSql(
                  "(CAST(r AS VARCHAR) || ':' || CAST(user_id AS VARCHAR))")} % 256 AS bucket,
              |    CAST(sum(fa) AS BIGINT) AS fa
              |  FROM a, (SELECT unnest([0, 1, 2]) AS r) GROUP BY 1, 2),
              |cb AS (SELECT r, ${graft.ext.NearDup.Sql.charHashSql(
                  "(CAST(r AS VARCHAR) || ':' || CAST(user_id AS VARCHAR))")} % 256 AS bucket,
              |    CAST(sum(fb) AS BIGINT) AS fb
              |  FROM b, (SELECT unnest([0, 1, 2]) AS r) GROUP BY 1, 2),
              |ip AS (SELECT ca.r, CAST(sum(ca.fa * cb.fb) AS BIGINT) AS ip
              |  FROM ca JOIN cb ON ca.r = cb.r AND ca.bucket = cb.bucket
              |  GROUP BY 1),
              |es AS (SELECT CAST(coalesce(min(ip), 0) AS BIGINT) AS est_size
              |  FROM ip)
              |SELECT exact_size, est_size,
              |  CAST(est_size - exact_size AS BIGINT) AS overest
              |FROM ex, es""".stripMargin)),

    // ----- EXACT sliding-window distinct users (3 h window, 1 h
    // step — the sliding DAU/HAU shape; t_distinct_users is the
    // tumbling special case). Distinct counts don't re-aggregate
    // from partials, so the naive per-window COUNT(DISTINCT) over
    // raw events pays the full volume ×3 (every event lands in 3
    // windows). The scalable order of operations: DEDUPE FIRST at
    // the (user, hour) grain — one shuffle collapses any event
    // volume to ≤|users|·|hours| rows — and only then fan out ×3 to
    // window assignments; the second distinct collapses a user seen
    // in 2-3 hours of one window. Fan-out runs on the reduced set,
    // never the raw stream. Exact integers; edge windows (partial
    // coverage at series start/end) appear like any other — the
    // count is over hours that EXIST, a consumer masks edges by
    // window_start if needed.
    QueryDef(
      "t_sliding_distinct",
      (s, d) => {
        val uh = events(s, d)
          .select(col("user_id"),
            (unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
              .cast("long").as("hr"))
          .distinct()
        uh.select(col("user_id"),
            explode(array(lit(0L), lit(1L), lit(2L))).as("o"), col("hr"))
          .select(col("user_id"), (col("hr") - col("o")).as("w"))
          .distinct()
          .groupBy("w").agg(count(lit(1)).as("distinct_users"))
          .select(timestamp_seconds(col("w") * 3600).as("window_start"),
            col("distinct_users"))
          .orderBy("window_start")
      },
      Some("""WITH uh AS (SELECT DISTINCT user_id,
             |    CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hr
             |  FROM events),
             |uw AS (SELECT DISTINCT user_id, hr - o AS w
             |  FROM uh, (SELECT unnest([0, 1, 2]) AS o))
             |SELECT make_timestamp(w * 3600 * 1000000) AS window_start,
             |  CAST(count(*) AS BIGINT) AS distinct_users
             |FROM uw GROUP BY w ORDER BY window_start""".stripMargin)),

    // ----- Theil-Sen robust trend slope AND intercept of the hourly
    // COUNT series (the estimator a31's OLS is
    // not: one corrupted hour drags a least-squares fit, but the
    // MEDIAN of all pairwise slopes has a 29% breakdown point — the
    // robust-trend read-out for dirty feeds, completing the robust
    // family with w7's MAD and w10's trimmed mean). Distinct from
    // the cent-sum `t_theil_sen` twin later in this registry: this
    // one reads the VOLUME trend and ships the Sen intercept (median
    // of y − slope·x over the original points — the full robust
    // line, not just its direction). Round-12 note: the two
    // definitions shared one name for several rounds, and since
    // SparkEntry keys queries by name the LATER def shadowed this
    // one — dead weight no sweep or bench ever saw. The golden spec
    // that targeted this def's (slope, intercept) schema surfaced
    // the shadowing; a duplicate-name guard now lives in
    // RegistrySpec (walking the raw def list, not a Map's key set)
    // so a name collision fails the build instead of
    // silently dropping a query. All pairwise
    // slopes (y_j−y_i)/(x_j−x_i) over the hourly series: numerator
    // and denominator are exact longs, ONE double division each —
    // identical IEEE op both engines, no accumulation — then two
    // exact-percentile passes (the a12/w7 contract): median slope,
    // and median intercept y_i − slope·x_i over the original
    // points. Scale: volume collapses to |hours| first; the pair
    // self-join is O(|hours|²) on the BOUNDED series (720² pairs
    // trivial, a year is 38M — one shuffle-free broadcast self-join),
    // never on raw events.
    QueryDef(
      "t_theil_sen_counts",
      (s, d) => {
        val hourly = hourlyCounts(s, d)
        val lo = hourly.agg(min("hr").as("__lo"))
        val pts = hourly.crossJoin(broadcast(lo))
          .select((col("hr") - col("__lo")).as("x"), col("cnt").as("y"))
        val a = pts.select(col("x").as("xi"), col("y").as("yi"))
        val b = pts.select(col("x").as("xj"), col("y").as("yj"))
        val slopes = a.join(broadcast(b), col("xi") < col("xj"))
          .select(((col("yj") - col("yi")).cast("double") /
            (col("xj") - col("xi")).cast("double")).as("sl"))
        val med = slopes.agg(expr("percentile(sl, 0.5)").as("__sl"),
          count(lit(1)).as("n_pairs"))
        val ic = pts.crossJoin(broadcast(med))
          .agg(expr("percentile(y - __sl * x, 0.5)").as("__ic"))
        med.crossJoin(broadcast(ic))
          .select(col("n_pairs"), round(col("__sl"), 6).as("slope"),
            round(col("__ic"), 6).as("intercept"))
      },
      Some("""WITH hourly AS (
             |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hr,
             |         count(*) AS cnt
             |  FROM events GROUP BY 1),
             |pts AS (SELECT hr - (SELECT min(hr) FROM hourly) AS x,
             |    CAST(cnt AS BIGINT) AS y
             |  FROM hourly),
             |sl AS (SELECT (CAST(b.y - a.y AS DOUBLE) /
             |      CAST(b.x - a.x AS DOUBLE)) AS sl
             |  FROM pts a JOIN pts b ON a.x < b.x),
             |med AS (SELECT quantile_cont(sl, 0.5) AS m,
             |    CAST(count(*) AS BIGINT) AS n_pairs FROM sl),
             |ic AS (SELECT quantile_cont(y - (SELECT m FROM med) * x, 0.5)
             |    AS ic FROM pts)
             |SELECT n_pairs, round(m, 6) AS slope,
             |  round((SELECT ic FROM ic), 6) AS intercept
             |FROM med""".stripMargin)),

    // ----- Rolling 24 h correlation between two event-type series
    // (the co-movement monitor: a29 answers "do clicks and views
    // correlate overall", this answers "WHEN did they decouple" —
    // the feed-integrity signal where one stream silently breaks
    // while the other keeps flowing and a global coefficient
    // averages the incident away). All six sufficient statistics
    // (n, Σc, Σv, Σc², Σv², Σcv) are exact-long WINDOW sums over a
    // 24-row frame, so Pearson r per hour is one double division of
    // exact integers (the a31 determinism recipe made rolling) —
    // degenerate frames (either series constant) pinned out
    // explicitly on both sides. Scale: volume collapses to |hours|
    // at the conditional agg; the window runs on the bounded series.
    QueryDef(
      "t_rolling_corr",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val hourly = events(s, d)
          .groupBy((unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
            .cast("long").as("hr"))
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c"),
            sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("v"))
        val w = Window.orderBy("hr").rowsBetween(-23, 0)
        hourly
          .withColumn("n", count(lit(1)).over(w))
          .withColumn("sc", sum("c").over(w))
          .withColumn("sv", sum("v").over(w))
          .withColumn("scc", sum(col("c") * col("c")).over(w))
          .withColumn("svv", sum(col("v") * col("v")).over(w))
          .withColumn("scv", sum(col("c") * col("v")).over(w))
          .withColumn("d1", col("n") * col("scc") - col("sc") * col("sc"))
          .withColumn("d2", col("n") * col("svv") - col("sv") * col("sv"))
          .filter(col("d1") > 0L && col("d2") > 0L)
          .select(timestamp_seconds(col("hr") * 3600).as("hour"), col("n"),
            round((col("n") * col("scv") - col("sc") * col("sv")).cast("double") /
              sqrt(col("d1").cast("double") * col("d2").cast("double")), 6)
              .as("corr"))
          .orderBy("hour")
      },
      Some("""WITH hourly AS (
             |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hr,
             |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS c,
             |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             |      AS BIGINT) AS v
             |  FROM events GROUP BY 1),
             |win AS (SELECT hr,
             |    CAST(count(*) OVER w AS BIGINT) AS n,
             |    CAST(sum(c) OVER w AS BIGINT) AS sc,
             |    CAST(sum(v) OVER w AS BIGINT) AS sv,
             |    CAST(sum(c * c) OVER w AS BIGINT) AS scc,
             |    CAST(sum(v * v) OVER w AS BIGINT) AS svv,
             |    CAST(sum(c * v) OVER w AS BIGINT) AS scv
             |  FROM hourly
             |  WINDOW w AS (ORDER BY hr ROWS BETWEEN 23 PRECEDING
             |    AND CURRENT ROW)),
             |dd AS (SELECT hr, n,
             |    n * scv - sc * sv AS num,
             |    n * scc - sc * sc AS d1, n * svv - sv * sv AS d2
             |  FROM win)
             |SELECT make_timestamp(hr * 3600 * 1000000) AS hour, n,
             |  round(CAST(num AS DOUBLE) /
             |    sqrt(CAST(d1 AS DOUBLE) * CAST(d2 AS DOUBLE)), 6) AS corr
             |FROM dd WHERE d1 > 0 AND d2 > 0 ORDER BY hour""".stripMargin)),

    // ----- Autocorrelation function at pinned lags (the NUMERICAL
    // seasonality detector — t_seasonal_residual assumes a 24 h cycle
    // and flags residuals against it; the ACF says whether that cycle
    // exists at all, and at which period: a spike at lag 24 is daily
    // seasonality, at lag 1 short-term momentum). Per lag L ∈ {1, 2,
    // 3, 6, 12, 24}: Pearson r between the hourly series and its
    // L-shifted self over the n−L aligned pairs — all six sufficient
    // statistics exact-long sums (the t_rolling_corr recipe applied
    // at lag offsets), one double division per lag, constant-series
    // guard pinned both sides. The shift is over the OBSERVED series
    // (row-lag, identical both engines): on a gappy series rows
    // compress across gaps — t_gap_fill is the upstream repair when
    // calendar-true lags are required. Scale: volume collapses to |hours|
    // once; each lag is one window-lag pass over the bounded series;
    // output is |lags| rows at any data scale.
    QueryDef(
      "t_autocorrelation",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val hourly = hourlyCounts(s, d)
        val ow = Window.orderBy("hr")
        val lags = Seq(1, 2, 3, 6, 12, 24)
        val withLags = hourly.select(
          (col("cnt") +: lags.map(l =>
            lag("cnt", l).over(ow).as(s"l$l"))): _*)
        val perLag = lags.map { l =>
          withLags.filter(col(s"l$l").isNotNull)
            .agg(lit(l.toLong).as("lag"), count(lit(1)).as("n"),
              sum("cnt").as("sy"), sum(s"l$l").as("sx"),
              sum(col("cnt") * col("cnt")).as("syy"),
              sum(col(s"l$l") * col(s"l$l")).as("sxx"),
              sum(col("cnt") * col(s"l$l")).as("sxy"))
        }.reduce(_ unionAll _)
        perLag
          .withColumn("d1", col("n") * col("sxx") - col("sx") * col("sx"))
          .withColumn("d2", col("n") * col("syy") - col("sy") * col("sy"))
          .filter(col("d1") > 0L && col("d2") > 0L)
          .select(col("lag"), col("n"),
            round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              sqrt(col("d1").cast("double") * col("d2").cast("double")), 6)
              .as("acf"))
          .orderBy("lag")
      },
      Some("""WITH hourly AS (
             |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hr,
             |         count(*) AS cnt
             |  FROM events GROUP BY 1),
             |lags AS (SELECT unnest([1, 2, 3, 6, 12, 24]) AS lag),
             |pairs AS (SELECT l.lag,
             |    CAST(h.cnt AS BIGINT) AS y,
             |    CAST(lag(h.cnt, l.lag) OVER (PARTITION BY l.lag ORDER BY h.hr)
             |      AS BIGINT) AS x
             |  FROM hourly h, lags l),
             |st AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x) AS BIGINT) AS sx,
             |    CAST(sum(y * y) AS BIGINT) AS syy,
             |    CAST(sum(x * x) AS BIGINT) AS sxx,
             |    CAST(sum(y * x) AS BIGINT) AS sxy
             |  FROM pairs WHERE x IS NOT NULL GROUP BY 1),
             |dd AS (SELECT lag, n, n * sxy - sx * sy AS num,
             |    n * sxx - sx * sx AS d1, n * syy - sy * sy AS d2
             |  FROM st)
             |SELECT CAST(lag AS BIGINT) AS lag, n,
             |  round(CAST(num AS DOUBLE) /
             |    sqrt(CAST(d1 AS DOUBLE) * CAST(d2 AS DOUBLE)), 6) AS acf
             |FROM dd WHERE d1 > 0 AND d2 > 0 ORDER BY lag""".stripMargin)),

    // ----- Two-state Viterbi burst segmentation with FULL PATH
    // RECOVERY (the Kleinberg-burst shape made cross-engine exact:
    // threshold detectors flag hours point-wise and chatter at the
    // boundary; the min-cost PATH through (baseline, burst) states
    // with a switch penalty segments the series globally — an hour
    // slightly over threshold inside a quiet stretch stays baseline,
    // a slightly-under hour inside a burst stays burst). All-integer
    // dynamic program: emission cost = |value_cents − level| (levels
    // base = mean-floor and 1.5·base), switch penalty base/2, ties
    // pinned to "stay". The forward DP carries (c0, c1) PLUS the
    // from-bits; backtracking replays the bits from the final argmin
    // — both passes are left folds over the bounded hourly series,
    // expressed as FLAT-LIST folds ([c0, c1, bits...] interleaved)
    // because the DuckDB struct-accumulator aliasing trap (E220)
    // rules out struct state there; Spark mirrors the same layout so
    // the op sequence is identical. Exact longs end to end ⇒ the
    // globally-optimal path itself is hash-verified. Scale: volume
    // collapses to |hours| at the first agg; the folds are O(n²)
    // list copying on the bounded series (720² trivial); one row in
    // flight, never the driver.
    QueryDef(
      "t_burst_viterbi",
      (s, d) => {
        val hourly = events(s, d)
          .groupBy((unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
            .cast("long").as("hr"))
          .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cs"))
        val packed = hourly.agg(
            sort_array(collect_list(struct(col("hr"), col("cs")))).as("xs"),
            call_function("div", sum("cs"), count(lit(1))).as("base"),
            count(lit(1)).as("n"))
          .filter(col("n") >= 2)
          .withColumn("burst",
            col("base") + call_function("div", col("base"), lit(2L)))
          .withColumn("sw", call_function("div", col("base"), lit(2L)))
        packed
          .withColumn("r", expr(
            """aggregate(slice(xs, 2, size(xs) - 1),
              |  array(abs(xs[0].cs - base), abs(xs[0].cs - burst)),
              |  (acc, x) -> concat(
              |    array(abs(x.cs - base) + least(acc[0], acc[1] + sw),
              |          abs(x.cs - burst) + least(acc[1], acc[0] + sw)),
              |    slice(acc, 3, size(acc) - 2),
              |    array(CAST(IF(acc[1] + sw < acc[0], 1, 0) AS BIGINT),
              |          CAST(IF(acc[0] + sw < acc[1], 0, 1) AS BIGINT))))
              |""".stripMargin))
          .withColumn("st", expr(
            """reverse(aggregate(sequence(size(xs) - 1, 1, -1),
              |  array(CAST(IF(r[0] <= r[1], 0, 1) AS BIGINT)),
              |  (acc, j) -> concat(acc, array(
              |    IF(element_at(acc, size(acc)) = 0,
              |       element_at(r, CAST(2 * j + 1 AS INT)),
              |       element_at(r, CAST(2 * j + 2 AS INT)))))))
              |""".stripMargin))
          .select(explode(expr(
            """transform(sequence(1, size(xs)), t -> named_struct(
              |  'hr', xs[t-1].hr, 'cs', xs[t-1].cs,
              |  'st', element_at(st, t)))""".stripMargin)).as("o"))
          .select(timestamp_seconds(col("o.hr") * 3600).as("hour"),
            col("o.cs").as("value_cents"), col("o.st").as("state"))
          .orderBy("hour")
      },
      Some("""WITH hourly AS (
             |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hr,
             |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cs
             |  FROM events GROUP BY 1),
             |packed AS (SELECT list_sort(list(struct_pack(hr := hr, cs := cs)))
             |      AS xs,
             |    CAST(sum(cs) AS BIGINT) // count(*) AS base,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM hourly),
             |prm AS (SELECT xs, n, base, base + base // 2 AS burst,
             |    base // 2 AS sw
             |  FROM packed WHERE n >= 2),
             |fw AS (SELECT xs, n,
             |    list_reduce(
             |      list_prepend([abs(xs[1].cs - base), abs(xs[1].cs - burst)],
             |        list_transform(xs[2:], v -> [v.cs])),
             |      (acc, x) -> list_concat(list_concat(
             |        [abs(x[1] - base) + least(acc[1], acc[2] + sw),
             |         abs(x[1] - burst) + least(acc[2], acc[1] + sw)],
             |        acc[3:]),
             |        [CAST(CASE WHEN acc[2] + sw < acc[1] THEN 1 ELSE 0 END
             |           AS BIGINT),
             |         CAST(CASE WHEN acc[1] + sw < acc[2] THEN 0 ELSE 1 END
             |           AS BIGINT)]))
             |      AS r
             |  FROM prm),
             |bt AS (SELECT xs, n, r,
             |    list_reverse(list_reduce(
             |      list_prepend([CAST(CASE WHEN r[1] <= r[2] THEN 0 ELSE 1 END
             |          AS BIGINT)],
             |        list_transform(range(1, CAST(n AS INT)), k -> [n - k])),
             |      (acc, x) -> list_append(acc,
             |        CASE WHEN acc[len(acc)] = 0
             |          THEN r[CAST(2 * x[1] + 1 AS INT)]
             |          ELSE r[CAST(2 * x[1] + 2 AS INT)] END)))
             |      AS st
             |  FROM fw),
             |outp AS (
             |  SELECT unnest(list_transform(range(1, CAST(n AS INT) + 1),
             |    t -> struct_pack(hr := xs[t].hr, cs := xs[t].cs,
             |                     st := st[t])),
             |    recursive := true)
             |  FROM bt)
             |SELECT make_timestamp(hr * 3600 * 1000000) AS hour,
             |  cs AS value_cents, CAST(st AS BIGINT) AS state
             |FROM outp ORDER BY hour""".stripMargin)),

    // ----- Deterministic Poisson bootstrap of the mean (the
    // nonparametric-inference gap next to a22's z-test / a24's χ² /
    // a30's KS: those assume a sampling distribution, the bootstrap
    // ESTIMATES it — and the Poisson(1) approximation to multinomial
    // resampling is THE distributed-bootstrap move, because each row
    // draws its weight independently: no global coordination, pure
    // map-side). Randomness is HASH-SEEDED: u = poly_hash(event_id:r)
    // mod 10⁶ and the Poisson(1) inverse-CDF ladder is pinned as
    // integer literals (367879, 735759, ... — the ladder IS the
    // contract), so every replicate weight is a pure function of
    // (row, replicate) and the whole bootstrap distribution
    // hash-verifies cross-engine — no RNG state, reproducible at any
    // parallelism, appendable (new data leaves old weights
    // unchanged). Per replicate the mean is exact-integer S/W with
    // ONE division. Scale: the ×R replicate fan-out is the standard
    // cost (R=50 pinned); everything after is one uniform-key agg
    // with map-side partials to R rows.
    QueryDef(
      "a33_bootstrap_ci",
      (s, d) => {
        import graft.ext.NearDup
        val ladder = Seq(367879L, 735759L, 919699L, 981012L, 996340L,
          999406L, 999917L, 999990L)
        val e = events(s, d)
          .select(col("event_id"),
            expr("CAST(round(value * 100) AS BIGINT)").as("xc"),
            explode(sequence(lit(0), lit(49))).as("r"))
          .withColumn("u",
            NearDup.charHash(concat_ws(":", col("event_id"), col("r")))
              % 1000000L)
        val w = ladder.zipWithIndex
          .foldRight(lit(ladder.length.toLong)) { case ((thr, i), acc) =>
            when(col("u") < thr, i.toLong).otherwise(acc)
          }
        e.withColumn("w", w)
          .groupBy("r")
          .agg(sum("w").as("n_eff"), sum(col("w") * col("xc")).as("s"))
          .filter(col("n_eff") > 0L)
          .select(col("r").cast("long").as("replicate"), col("n_eff"),
            round(col("s").cast("double") / col("n_eff").cast("double"), 6)
              .as("mean_cents"))
          .orderBy("replicate")
      },
      Some(s"""WITH x AS (SELECT event_id,
              |    CAST(round(value * 100) AS BIGINT) AS xc FROM events),
              |e AS (SELECT event_id, xc, unnest(range(0, 50)) AS r FROM x),
              |h AS (SELECT r, xc, ${graft.ext.NearDup.Sql.charHashSql(
                  "(CAST(event_id AS VARCHAR) || ':' || CAST(r AS VARCHAR))")}
              |    % 1000000 AS u
              |  FROM e),
              |w AS (SELECT r, xc, CASE
              |    WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
              |    WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
              |    WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
              |    WHEN u < 999917 THEN 6 WHEN u < 999990 THEN 7
              |    ELSE 8 END AS w
              |  FROM h),
              |m AS (SELECT r, CAST(sum(w) AS BIGINT) AS n_eff,
              |    CAST(sum(w * xc) AS BIGINT) AS s
              |  FROM w GROUP BY 1)
              |SELECT CAST(r AS BIGINT) AS replicate, n_eff,
              |  round(CAST(s AS DOUBLE) / CAST(n_eff AS DOUBLE), 6)
              |    AS mean_cents
              |FROM m WHERE n_eff > 0 ORDER BY replicate""".stripMargin)),

    // ----- Overdispersion index per event type (the alert-tuning
    // diagnostic under t_rate_anomaly: a z-threshold on counts is
    // calibrated for Poisson arrivals, where variance = mean; real
    // feeds are usually OVERdispersed — variance/mean ratio D > 1
    // means wider thresholds or a negative-binomial model, and this
    // query says so per stream). D = (n·Σc² − (Σc)²)/(n·Σc) is a
    // ratio of exact longs — ONE division, 6-dp-pinned; the flag
    // D > 1.5 is the integer cross-multiply 2·num > 3·den (no float
    // in the decision). Scale: volume collapses to |types|·|hours|
    // at the first agg; second agg collapses to |types| rows.
    QueryDef(
      "a34_dispersion",
      (s, d) => {
        val hourly = events(s, d)
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("c"))
        hourly.groupBy("event_type")
          .agg(count(lit(1)).as("n_hours"), sum("c").as("sc"),
            sum(col("c") * col("c")).as("scc"))
          .filter(col("sc") > 0L)
          .withColumn("num",
            col("n_hours") * col("scc") - col("sc") * col("sc"))
          .withColumn("den", col("n_hours") * col("sc"))
          .select(col("event_type"), col("n_hours"),
            round(col("sc").cast("double") / col("n_hours").cast("double"), 6)
              .as("mean_per_hour"),
            round(col("num").cast("double") / col("den").cast("double"), 6)
              .as("dispersion"),
            when(lit(2L) * col("num") > lit(3L) * col("den"), lit(1L))
              .otherwise(lit(0L)).as("overdispersed"))
          .orderBy("event_type")
      },
      Some("""WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h,
             |    count(*) AS c
             |  FROM events GROUP BY 1, 2),
             |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
             |    CAST(sum(c) AS BIGINT) AS sc,
             |    CAST(sum(c * c) AS BIGINT) AS scc
             |  FROM hourly GROUP BY 1),
             |dd AS (SELECT event_type, n_hours, sc,
             |    n_hours * scc - sc * sc AS num, n_hours * sc AS den
             |  FROM st WHERE sc > 0)
             |SELECT event_type, n_hours,
             |  round(CAST(sc AS DOUBLE) / CAST(n_hours AS DOUBLE), 6)
             |    AS mean_per_hour,
             |  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
             |    AS dispersion,
             |  CAST(CASE WHEN 2 * num > 3 * den THEN 1 ELSE 0 END AS BIGINT)
             |    AS overdispersed
             |FROM dd ORDER BY event_type""".stripMargin)),

    // ----- Windowed MODE (dominant event type per day — the shape
    // avg/sum windows cannot express: "what KIND of day was it").
    // Two-level: count per (day, type) collapses any volume to the
    // bounded grid, then a rank window picks the argmax with the
    // (cnt desc, type) tie pin. Share of the dominant type rides
    // along as an exact integer ratio.
    QueryDef(
      "w12_daily_mode",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = events(s, d)
          .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
        val tot = daily.groupBy("day").agg(sum("cnt").as("day_total"))
        daily
          .withColumn("rk", row_number().over(
            Window.partitionBy("day").orderBy(col("cnt").desc, col("event_type"))))
          .filter(col("rk") === 1)
          .join(tot, Seq("day"))
          .select(col("day"), col("event_type").as("mode_type"), col("cnt"),
            round(col("cnt").cast("double") / col("day_total").cast("double"), 6)
              .as("share"))
          .orderBy("day")
      },
      Some("""WITH daily AS (SELECT date_trunc('day', ts) AS day, event_type,
             |    CAST(count(*) AS BIGINT) AS cnt
             |  FROM events GROUP BY 1, 2),
             |tot AS (SELECT day, CAST(sum(cnt) AS BIGINT) AS day_total
             |  FROM daily GROUP BY 1),
             |rk AS (SELECT day, event_type, cnt,
             |    row_number() OVER (PARTITION BY day
             |      ORDER BY cnt DESC, event_type) AS r
             |  FROM daily)
             |SELECT rk.day, event_type AS mode_type, cnt,
             |  round(CAST(cnt AS DOUBLE) / CAST(day_total AS DOUBLE), 6)
             |    AS share
             |FROM rk JOIN tot ON rk.day = tot.day
             |WHERE r = 1 ORDER BY rk.day""".stripMargin)),

    // ----- Kaplan-Meier survival curve of SESSION duration (the
    // survival-analysis family's entry point, absent from every
    // retention read-out above: a18's cohort matrix measures RETURN
    // RATES per period; KM estimates the DURATION distribution
    // itself, and — the part a naive average gets wrong — handles
    // CENSORING: a session still open at the observation edge tells
    // us its duration EXCEEDS what we saw, not equals it; dropping
    // or truncating those rows biases the curve down). Subjects are
    // gaps-and-islands sessions (6 h gap, the t_session_window
    // convention); duration in 10-minute buckets; censored when the
    // session's last event falls within the 6 h gap of the corpus
    // edge (it may still be running — the convention pinned strict
    // >). Estimator: S(t) = Π_{death times s ≤ t} (1 − d_s/n_s),
    // risk set n_s = #{duration ≥ s} — (d, n) pairs exact longs via
    // one duration histogram + a descending cumulative window; the
    // product fold runs left-to-right over the bounded death-time
    // list in ONE packed row (the EWMA discipline — identical op
    // sequence both engines), 6-dp-pinned. Scale: event volume
    // collapses to |sessions| at the islands agg, then to the
    // duration histogram.
    QueryDef(
      "a36_survival_km",
      (s, d) => {
        SessionIslands.survivalRisk(events(s, d))
          .select(explode(expr(
            """transform(sequence(1, size(xs)), t -> named_struct(
              |  'dur', xs[t-1].dur, 'd', xs[t-1].d, 'n_risk', xs[t-1].n_risk,
              |  'surv', aggregate(slice(xs, 1, t), CAST(1.0 AS DOUBLE),
              |    (acc, x) -> acc * (1.0D - CAST(x.d AS DOUBLE)
              |       / CAST(x.n_risk AS DOUBLE)))))
              |""".stripMargin)).as("r"))
          .select(col("r.dur").as("dur_10min"), col("r.n_risk"),
            col("r.d").as("deaths"), round(col("r.surv"), 6).as("survival"))
          .orderBy("dur_10min")
      },
      Some(s"""WITH ${SessionIslands.Sql.survivalRisk},
             |f AS (SELECT unnest(list_transform(range(1, len(xs) + 1),
             |    t -> struct_pack(
             |      dur := xs[t].dur, d := xs[t].d, n_risk := xs[t].n_risk,
             |      surv := list_reduce(
             |        list_prepend(CAST(1.0 AS DOUBLE),
             |          list_transform(xs[1 : t],
             |            x -> CAST(1.0 AS DOUBLE)
             |              - CAST(x.d AS DOUBLE) / CAST(x.n_risk AS DOUBLE))),
             |        (acc, v) -> acc * v))), recursive := true)
             |  FROM packed WHERE len(xs) >= 1)
             |SELECT dur AS dur_10min, n_risk, d AS deaths,
             |  round(surv, 6) AS survival
             |FROM f ORDER BY dur_10min""".stripMargin)),

    // ----- Nelson-Aalen cumulative hazard — the ADDITIVE estimator
    // next to a36's multiplicative Kaplan-Meier over the identical
    // censored sessions: H(t) = Σ_{s≤t} d_s/n_s estimates the
    // integrated hazard directly, with the Poisson variance
    // Σ d_s/n_s² giving a standard error KM's curve doesn't carry —
    // the pair (H, se) is what competing-risk and rate-comparison
    // reads consume. Same scale collapse as a36 (events → sessions →
    // duration histogram → death-time grid); the cumulative sums run
    // as left-to-right folds over the packed bounded list (the EWMA
    // discipline — identical op sequence both engines, so the float
    // sums are bit-identical before the 6-dp pin; no exp(−H)
    // column on purpose: exp is not cross-engine correctly-rounded).
    QueryDef(
      "a52_nelson_aalen",
      (s, d) => {
        SessionIslands.survivalRisk(events(s, d))
          .select(explode(expr(
            """transform(sequence(1, size(xs)), t -> named_struct(
              |  'dur', xs[t-1].dur, 'd', xs[t-1].d, 'n_risk', xs[t-1].n_risk,
              |  'haz', aggregate(slice(xs, 1, t), CAST(0.0 AS DOUBLE),
              |    (acc, x) -> acc + CAST(x.d AS DOUBLE)
              |      / CAST(x.n_risk AS DOUBLE)),
              |  'hvar', aggregate(slice(xs, 1, t), CAST(0.0 AS DOUBLE),
              |    (acc, x) -> acc + CAST(x.d AS DOUBLE)
              |      / (CAST(x.n_risk AS DOUBLE) * CAST(x.n_risk AS DOUBLE)))))
              |""".stripMargin)).as("r"))
          .select(col("r.dur").as("dur_10min"), col("r.n_risk"),
            col("r.d").as("deaths"),
            round(col("r.haz"), 6).as("cum_hazard"),
            round(sqrt(col("r.hvar")), 6).as("se"))
          .orderBy("dur_10min")
      },
      Some(s"""WITH ${SessionIslands.Sql.survivalRisk},
             |f AS (SELECT unnest(list_transform(range(1, len(xs) + 1),
             |    t -> struct_pack(
             |      dur := xs[t].dur, d := xs[t].d, n_risk := xs[t].n_risk,
             |      haz := list_reduce(
             |        list_prepend(CAST(0.0 AS DOUBLE),
             |          list_transform(xs[1 : t],
             |            x -> CAST(x.d AS DOUBLE) / CAST(x.n_risk AS DOUBLE))),
             |        (acc, v) -> acc + v),
             |      hvar := list_reduce(
             |        list_prepend(CAST(0.0 AS DOUBLE),
             |          list_transform(xs[1 : t],
             |            x -> CAST(x.d AS DOUBLE)
             |              / (CAST(x.n_risk AS DOUBLE)
             |                 * CAST(x.n_risk AS DOUBLE)))),
             |        (acc, v) -> acc + v))), recursive := true)
             |  FROM packed WHERE len(xs) >= 1)
             |SELECT dur AS dur_10min, n_risk, d AS deaths,
             |  round(haz, 6) AS cum_hazard, round(sqrt(hvar), 6) AS se
             |FROM f ORDER BY dur_10min""".stripMargin)),

    // ----- Interval-OVERLAP join with overlap-length weighting (the
    // exposure-attribution shape j3's range join does not cover:
    // j3 assigns POINTS to intervals; here BOTH sides are intervals
    // and the measure is how LONG they coincide — ad exposure,
    // maintenance-window impact, on-call load all weight by overlap
    // seconds, not by overlap existence). Left: gaps-and-islands
    // user sessions (the a36 convention); right: four deterministic
    // weekly promo windows derived from the corpus start (a 1-row
    // broadcast ⇒ the interval predicate evaluates map-side — the
    // small-side-broadcast form; two BIG interval sets use the j3
    // bucketed-range machinery instead). overlap_sec =
    // least(ends) − greatest(starts), exact longs; per-window
    // session count + total/max exposure.
    QueryDef(
      "j10_overlap_join",
      (s, d) => {
        val sess = SessionIslands.spans(events(s, d))
          .filter(col("s1") > col("s0"))
        val start = events(s, d)
          .agg((call_function("div", min(unix_timestamp(col("ts"))),
            lit(86400L)) * 86400L).as("__day0"))
        val promos = start.select(col("__day0"),
            explode(sequence(lit(0L), lit(3L))).as("wk"))
          .select(col("wk"),
            (col("__day0") + col("wk") * 604800L + 172800L).as("p0"),
            (col("__day0") + col("wk") * 604800L + 345600L).as("p1"))
        sess.join(broadcast(promos),
            col("s0") < col("p1") && col("p0") < col("s1"))
          .withColumn("overlap_sec",
            least(col("s1"), col("p1")) - greatest(col("s0"), col("p0")))
          .groupBy("wk")
          .agg(count(lit(1)).as("n_sessions"),
            sum("overlap_sec").as("total_overlap_sec"),
            max("overlap_sec").as("max_overlap_sec"))
          .orderBy("wk")
      },
      Some(s"""WITH ${SessionIslands.Sql.spans},
             |day0 AS (SELECT (min(ts) // 86400) * 86400 AS d0 FROM ev),
             |promos AS (SELECT wk,
             |    (SELECT d0 FROM day0) + wk * 604800 + 172800 AS p0,
             |    (SELECT d0 FROM day0) + wk * 604800 + 345600 AS p1
             |  FROM (SELECT unnest(range(0, 4)) AS wk)),
             |ov AS (SELECT p.wk,
             |    least(s.s1, p.p1) - greatest(s.s0, p.p0) AS overlap_sec
             |  FROM sess s JOIN promos p ON s.s0 < p.p1 AND p.p0 < s.s1
             |  WHERE s.s1 > s.s0)
             |SELECT CAST(wk AS BIGINT) AS wk, count(*) AS n_sessions,
             |  CAST(sum(overlap_sec) AS BIGINT) AS total_overlap_sec,
             |  CAST(max(overlap_sec) AS BIGINT) AS max_overlap_sec
             |FROM ov GROUP BY 1 ORDER BY wk""".stripMargin)),

    // ----- Log-rank test between survival groups (a36's companion —
    // the whole POINT of estimating survival curves is usually to
    // COMPARE two: did session durations change between the first
    // and second half of the window? Comparing KM curves by eye, or
    // mean durations with censoring, both mislead; the log-rank
    // statistic is the standard answer). Over the pooled death
    // times: O₁ = Σ d₁ (exact long), E₁ = Σ d·n₁/n, V = Σ
    // d·(n₁/n)(1−n₁/n)(n−d)/(n−1), χ² = (O₁−E₁)²/V. The E/V sums
    // are rationals accumulated in a LEFT FOLD over the sorted
    // bounded death-time list in one packed row (flat DOUBLE[4]
    // accumulator, identical op order both engines — the Viterbi
    // flat-list discipline for float state), so even where rounding
    // enters it rounds identically; n ≥ 2 guard pinned (the V term
    // divides by n−1). Scale: volume collapses to |sessions|, then
    // to the duration histogram; the fold runs on ≤|death times|.
    QueryDef(
      "a37_logrank",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val sess = SessionIslands.spans(events(s, d))
        val day0 = events(s, d).agg(
          (call_function("div", min(unix_timestamp(col("ts"))), lit(86400L))
            * 86400L).as("__d0"),
          max(unix_timestamp(col("ts"))).as("__edge"))
        val durs = sess.crossJoin(broadcast(day0))
          .select(
            call_function("div", col("s1") - col("s0"), lit(600L)).as("dur"),
            when(col("s0") < col("__d0") + 1296000L, 1L).otherwise(0L).as("g1"),
            when(col("s1") > col("__edge") - SessionIslands.GapSeconds, 0L).otherwise(1L)
              .as("died"))
        val hist = durs.groupBy("dur")
          .agg(count(lit(1)).as("na"), sum("g1").as("na1"),
            sum("died").as("d"), sum(col("died") * col("g1")).as("d1"))
        val fw = Window.orderBy("dur")
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val risk = hist
          .withColumn("n", sum("na").over(fw))
          .withColumn("n1", sum("na1").over(fw))
          .filter(col("d") > 0L && col("n") >= 2L)
        val tot = durs.agg(sum("g1").as("n1s"),
          (count(lit(1)) - sum("g1")).as("n2s"))
        val folded = risk
          .agg(sort_array(collect_list(struct(col("dur"), col("d"),
            col("d1"), col("n"), col("n1")))).as("xs"))
          .filter(size(col("xs")) >= 1)
          .withColumn("r", expr(
            """aggregate(xs,
              |  array(CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
              |        CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)),
              |  (acc, x) -> array(
              |    acc[0] + CAST(x.d1 AS DOUBLE),
              |    acc[1] + CAST(x.d AS DOUBLE) * CAST(x.n1 AS DOUBLE)
              |      / CAST(x.n AS DOUBLE),
              |    acc[2] + CAST(x.d AS DOUBLE)
              |      * (CAST(x.n1 AS DOUBLE) / CAST(x.n AS DOUBLE))
              |      * (1.0D - CAST(x.n1 AS DOUBLE) / CAST(x.n AS DOUBLE))
              |      * (CAST(x.n AS DOUBLE) - CAST(x.d AS DOUBLE))
              |      / (CAST(x.n AS DOUBLE) - 1.0D),
              |    CAST(0 AS DOUBLE)))""".stripMargin))
        folded.crossJoin(broadcast(tot))
          .select(col("n1s").as("n1_sessions"), col("n2s").as("n2_sessions"),
            expr("CAST(r[0] AS BIGINT)").as("o1"),
            round(expr("r[1]"), 6).as("e1"),
            round(expr("r[2]"), 6).as("var"),
            round(expr("IF(r[2] > 0D, (r[0] - r[1]) * (r[0] - r[1]) / r[2], NULL)"), 6)
              .as("chi2"))
      },
      Some(s"""WITH ${SessionIslands.Sql.spans},
             |day0 AS (SELECT (min(ts) // 86400) * 86400 AS d0 FROM ev),
             |edge AS (SELECT CAST(max(ts) AS BIGINT) AS e FROM ev),
             |durs AS (SELECT (s1 - s0) // 600 AS dur,
             |    CASE WHEN s0 < (SELECT d0 FROM day0) + 1296000
             |      THEN 1 ELSE 0 END AS g1,
             |    CASE WHEN s1 > (SELECT e FROM edge) - ${SessionIslands.GapSeconds}
             |      THEN 0 ELSE 1 END AS died
             |  FROM sess),
             |hist AS (SELECT dur,
             |    CAST(count(*) AS BIGINT) AS na,
             |    CAST(sum(g1) AS BIGINT) AS na1,
             |    CAST(sum(died) AS BIGINT) AS d,
             |    CAST(sum(died * g1) AS BIGINT) AS d1
             |  FROM durs GROUP BY 1),
             |risk AS (SELECT dur, d, d1,
             |    CAST(sum(na) OVER (ORDER BY dur DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS n,
             |    CAST(sum(na1) OVER (ORDER BY dur DESC
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS n1
             |  FROM hist),
             |tot AS (SELECT CAST(sum(g1) AS BIGINT) AS n1s,
             |    CAST(count(*) - sum(g1) AS BIGINT) AS n2s FROM durs),
             |packed AS (SELECT list_sort(list(struct_pack(dur := dur, d := d,
             |      d1 := d1, n := n, n1 := n1))) AS xs
             |  FROM risk WHERE d > 0 AND n >= 2),
             |fold AS (SELECT list_reduce(
             |    list_prepend([CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
             |        CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)],
             |      list_transform(xs, x -> [CAST(x.d AS DOUBLE),
             |        CAST(x.d1 AS DOUBLE), CAST(x.n AS DOUBLE),
             |        CAST(x.n1 AS DOUBLE)])),
             |    (acc, x) -> [acc[1] + x[2],
             |      acc[2] + x[1] * x[4] / x[3],
             |      acc[3] + x[1] * (x[4] / x[3]) * (1.0 - x[4] / x[3])
             |        * (x[3] - x[1]) / (x[3] - 1.0),
             |      CAST(0 AS DOUBLE)]) AS r
             |  FROM packed WHERE len(xs) >= 1)
             |SELECT (SELECT n1s FROM tot) AS n1_sessions,
             |  (SELECT n2s FROM tot) AS n2_sessions,
             |  CAST(r[1] AS BIGINT) AS o1, round(r[2], 6) AS e1,
             |  round(r[3], 6) AS var,
             |  round(CASE WHEN r[3] > 0
             |    THEN (r[1] - r[2]) * (r[1] - r[2]) / r[3] END, 6) AS chi2
             |FROM fold""".stripMargin)),

    // ----- Mann-Whitney U test (the RANK-based two-sample shape
    // completing the inference family: a22's z-test compares
    // proportions, a30's KS the whole CDF — MWU asks the stochastic-
    // dominance question "do clicks carry systematically larger
    // values than views", robust to outliers a mean test would chase).
    // EXACT TIE HANDLING: tied values get the average rank, kept
    // exact by working at 2× scale — a tie group spanning positions
    // lo..hi contributes rank2 = lo + hi per member (an integer), so
    // the rank-sum, U statistic, and the tie-correction term Σ(t³−t)
    // are all exact longs; the normal-approximation z is ONE pinned
    // expression of those integers at the end. NO per-row rank (the
    // round-7 scale-killer): collapse to the distinct-cents grid
    // FIRST (groupBy x → t, clicks), cum = running count via
    // ops/Rank (range-partitioned prefix sums, no single-partition
    // Window); rank2 = lo + hi = 2·cum − t + 1 per grid row, so the
    // rank-sum is Σ c1·(2·cum−t+1) over the grid and the raw events
    // collapse to |distinct cents| rows before any ordering.
    QueryDef(
      "a38_mann_whitney",
      (s, d) => {
        val v = events(s, d)
          .filter(col("event_type").isin("click", "view"))
          .select(
            when(col("event_type") === "click", 1L).otherwise(0L).as("g1"),
            expr("CAST(round(value * 100) AS BIGINT)").as("x"))
        val grid = v.groupBy("x")
          .agg(count(lit(1)).as("t"), sum("g1").as("c1"))
        val cum = graft.ops.Rank.runningTotals(
          grid, Seq(col("x")), Seq("t" -> "cum"), tracked(_))
        val st = cum.agg(sum("c1").as("n1"),
          (sum("t") - sum("c1")).as("n2"), sum("t").as("n"),
          sum(col("c1") * (lit(2L) * col("cum") - col("t") + lit(1L)))
            .as("r1x2"),
          sum(col("t") * col("t") * col("t") - col("t")).as("tc"))
        st
          .select(col("n1"), col("n2"),
            (col("r1x2") - col("n1") * (col("n1") + 1L)).as("u1_x2"),
            round(((col("r1x2") - col("n1") * (col("n1") + 1L)).cast("double")
              - (col("n1") * col("n2")).cast("double")) /
              (lit(2.0) * sqrt(col("n1").cast("double") * col("n2").cast("double") *
                (((col("n") + 1L) * col("n") * (col("n") - 1L)).cast("double")
                  - col("tc").cast("double")) /
                (lit(12.0) * col("n").cast("double") * (col("n") - 1L).cast("double")))),
              6).as("z"))
      },
      Some("""WITH v AS (SELECT
             |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1,
             |    CAST(round(value * 100) AS BIGINT) AS x
             |  FROM events WHERE event_type IN ('click', 'view')),
             |rk AS (SELECT g1, x,
             |    CAST(row_number() OVER (ORDER BY x) AS BIGINT) AS pos
             |  FROM v),
             |tg AS (SELECT x, CAST(min(pos) AS BIGINT) AS lo,
             |    CAST(max(pos) AS BIGINT) AS hi, CAST(count(*) AS BIGINT) AS t
             |  FROM rk GROUP BY 1),
             |r2 AS (SELECT rk.g1, tg.lo + tg.hi AS rank2
             |  FROM rk JOIN tg ON rk.x = tg.x),
             |st AS (SELECT
             |    CAST(sum(g1) AS BIGINT) AS n1,
             |    CAST(count(*) - sum(g1) AS BIGINT) AS n2,
             |    CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CASE WHEN g1 = 1 THEN rank2 ELSE 0 END) AS BIGINT)
             |      AS r1x2
             |  FROM r2),
             |ties AS (SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tc FROM tg)
             |SELECT n1, n2,
             |  CAST(r1x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
             |  round((CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE)
             |      - CAST(n1 * n2 AS DOUBLE)) /
             |    (2.0 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) *
             |      (CAST((n + 1) * n * (n - 1) AS DOUBLE)
             |        - CAST((SELECT tc FROM ties) AS DOUBLE)) /
             |      (12.0 * CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))), 6)
             |    AS z
             |FROM st""".stripMargin)),

    // ----- Hour-of-day uniformity χ² (the load-shape test under
    // capacity planning and bot detection: organic traffic has a
    // diurnal profile, scripted traffic is FLAT — and the goodness-
    // of-fit χ² against the uniform 24-cell profile quantifies
    // which this feed is; a24's independence χ² asks a different
    // question). ALL-INTEGER trick: with e = T/24, χ² = Σ(o−e)²/e
    // rescales to Σ(24·o_h − T)² / (24·T) — the numerator an exact
    // long (zero-count cells included via a generated 24-cell
    // spine), ONE division at the end; the α=0.05 / df=23 decision
    // compares the integer numerator against 35.172·24·T cross-
    // multiplied in DOUBLES of exact integers (same two values both
    // engines). Volume collapses to 24 cells map-side.
    QueryDef(
      "t_hour_uniformity",
      (s, d) => {
        val byHour = events(s, d)
          .groupBy(hour(col("ts")).cast("long").as("hod"))
          .agg(count(lit(1)).as("o"))
        val spine = events(s, d).sparkSession.range(0, 24)
          .select(col("id").as("hod"))
        val cells = spine.join(byHour, Seq("hod"), "left")
          .select(col("hod"), coalesce(col("o"), lit(0L)).as("o"))
        cells
          .agg(sum("o").as("t"),
            sum((lit(24L) * col("o")) * (lit(24L) * col("o"))).as("s24sq"),
            sum(lit(24L) * col("o")).as("s24"))
          .select(col("t"),
            // Σ(24o − T)² = Σ(24o)² − 2TΣ(24o) + 24T² = s24sq − 24T²
            // (since Σ24o = 24T) — kept exact in longs
            (col("s24sq") - lit(24L) * col("t") * col("t")).as("num"),
            round((col("s24sq") - lit(24L) * col("t") * col("t"))
              .cast("double") / (lit(24.0) * col("t").cast("double")), 6)
              .as("chi2"),
            when((col("s24sq") - lit(24L) * col("t") * col("t")).cast("double")
              > lit(35.172) * (lit(24.0) * col("t").cast("double")), 1L)
              .otherwise(0L).as("nonuniform"))
      },
      Some("""WITH byh AS (SELECT CAST(hour(ts) AS BIGINT) AS hod,
             |    CAST(count(*) AS BIGINT) AS o
             |  FROM events GROUP BY 1),
             |cells AS (SELECT s.hod, coalesce(byh.o, 0) AS o
             |  FROM (SELECT unnest(range(0, 24)) AS hod) s
             |  LEFT JOIN byh ON s.hod = byh.hod),
             |ag AS (SELECT CAST(sum(o) AS BIGINT) AS t,
             |    CAST(sum((24 * o) * (24 * o)) AS BIGINT) AS s24sq
             |  FROM cells)
             |SELECT t,
             |  CAST(s24sq - 24 * t * t AS BIGINT) AS num,
             |  round(CAST(s24sq - 24 * t * t AS DOUBLE) /
             |    (24.0 * CAST(t AS DOUBLE)), 6) AS chi2,
             |  CAST(CASE WHEN CAST(s24sq - 24 * t * t AS DOUBLE)
             |    > 35.172 * (24.0 * CAST(t AS DOUBLE)) THEN 1 ELSE 0 END
             |    AS BIGINT) AS nonuniform
             |FROM ag""".stripMargin)),

    // ----- Goertzel spectral power at pinned periods, ALL-INTEGER
    // (the TARGETED periodicity probe: t_autocorrelation scans lags,
    // a Goertzel recurrence evaluates ONE DFT bin in O(n) — "how
    // much daily-cycle energy does this feed carry"). The textbook
    // w = 2cos(2π/P) coefficient is irrational, and the float fold
    // MEASURABLY diverged cross-engine at sf0.1 — DuckDB's compiled
    // arithmetic contracts the multiply-add where the JVM cannot,
    // and 720 resonant steps amplify the ulp into the rounded
    // output. The fix is a better formulation: RESAMPLE so the
    // target frequency lands on the w = 0 bin (period 4 in block
    // units — block length B hours probes the 4B-hour cycle), where
    // the recurrence degenerates to s_t = x̃_t − s_{t−2} and the
    // whole probe — mean-centering x̃ = N·x − T included — stays in
    // EXACT LONGS; power = s_N² + s_{N−1}², an exact integer.
    // Probes: B = 6 (daily), B = 3 (half-day), B = 2 (8 h control).
    // Overflow headroom: |s| ≤ Σ|x̃| ≈ N²·max(x) — rescale x̃ by a
    // div when block counts approach 2³¹.
    QueryDef(
      "t_goertzel_power",
      (s, d) => {
        val hourly = hourlyCounts(s, d)
        Seq(6L, 3L, 2L).map { b =>
          val blocks = hourly
            .groupBy(call_function("div", col("hr"), lit(b)).as("blk"))
            .agg(sum("cnt").as("xb"))
          val tot = blocks.agg(sum("xb").as("t"), count(lit(1)).as("n"))
          blocks.crossJoin(broadcast(tot))
            .select(col("blk"), (col("n") * col("xb") - col("t")).as("xt"))
            .agg(sort_array(collect_list(struct(col("blk"), col("xt"))))
              .as("xs"))
            .filter(size(col("xs")) >= 2)
            .select(lit(4L * b).as("period_hours"),
              expr(
                """aggregate(xs, array(CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
                  |  (acc, x) -> array(x.xt - acc[1], acc[0]),
                  |  acc -> acc[0] * acc[0] + acc[1] * acc[1])""".stripMargin)
                .as("power"))
        }.reduce(_ unionAll _).orderBy("period_hours")
      },
      Some {
        val probes = Seq(6, 3, 2).map { b =>
          s"""SELECT CAST(${4 * b} AS BIGINT) AS period_hours,
             |  CAST(r[1] * r[1] + r[2] * r[2] AS BIGINT) AS power
             |FROM (SELECT list_reduce(
             |    list_prepend([CAST(0 AS BIGINT), CAST(0 AS BIGINT)],
             |      list_transform(
             |        list_sort(list(struct_pack(blk := blk, xt := xt))),
             |        v -> [v.xt, CAST(0 AS BIGINT)])),
             |    (acc, x) -> [x[1] - acc[2], acc[1]]) AS r
             |  FROM (SELECT blk, n * xb - t AS xt FROM
             |    (SELECT hr // $b AS blk, CAST(sum(cnt) AS BIGINT) AS xb
             |     FROM hourly GROUP BY 1) bl,
             |    (SELECT CAST(sum(cnt) AS BIGINT) AS t,
             |       CAST(count(*) AS BIGINT) AS n FROM
             |       (SELECT hr // $b AS blk, sum(cnt) AS cnt
             |        FROM hourly GROUP BY 1)) tt)
             |  HAVING count(*) >= 2)""".stripMargin
        }.mkString("\n", "\nUNION ALL\n", "\n")
        s"""WITH hourly AS (
           |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600
           |      AS hr,
           |    CAST(count(*) AS BIGINT) AS cnt
           |  FROM events GROUP BY 1)
           |SELECT period_hours, power FROM ($probes) ORDER BY period_hours""".stripMargin
      }),

    // ----- Wilson score interval per event-type share (the
    // proportion CI that behaves at the boundaries where the naive
    // Wald interval fails — p̂ ± z√(p̂q̂/n) collapses to width zero at
    // p̂ ∈ {0, 1} and escapes [0, 1] near them; Wilson inverts the
    // score test instead and is THE recommended small-n/extreme-p
    // interval). Everything from the exact integers (k, n): center
    // (k + z²/2)/(n + z²), half-width z√(k(n−k)/n + z²/4)/(n + z²),
    // z = 1.96 a pinned literal — each bound ONE pinned expression,
    // no accumulation. Output per type: share with [lo, hi], 6-dp.
    QueryDef(
      "a39_wilson_ci",
      (s, d) => {
        val byType = events(s, d)
          .groupBy("event_type").agg(count(lit(1)).as("k"))
        val tot = byType.agg(sum("k").as("n"))
        byType.crossJoin(broadcast(tot))
          .select(col("event_type"), col("k"), col("n"),
            round(col("k").cast("double") / col("n").cast("double"), 6)
              .as("share"),
            round((col("k").cast("double") + lit(1.9208)) /
              (col("n").cast("double") + lit(3.8416)) -
              lit(1.96) * sqrt(col("k").cast("double") *
                (col("n") - col("k")).cast("double") / col("n").cast("double")
                + lit(0.9604)) / (col("n").cast("double") + lit(3.8416)), 6)
              .as("lo"),
            round((col("k").cast("double") + lit(1.9208)) /
              (col("n").cast("double") + lit(3.8416)) +
              lit(1.96) * sqrt(col("k").cast("double") *
                (col("n") - col("k")).cast("double") / col("n").cast("double")
                + lit(0.9604)) / (col("n").cast("double") + lit(3.8416)), 6)
              .as("hi"))
          .orderBy("event_type")
      },
      Some("""WITH bt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS k
             |  FROM events GROUP BY 1),
             |tot AS (SELECT CAST(sum(k) AS BIGINT) AS n FROM bt)
             |SELECT event_type, k, (SELECT n FROM tot) AS n,
             |  round(CAST(k AS DOUBLE) / CAST((SELECT n FROM tot) AS DOUBLE), 6)
             |    AS share,
             |  round((CAST(k AS DOUBLE) + 1.9208) /
             |    (CAST((SELECT n FROM tot) AS DOUBLE) + 3.8416) -
             |    1.96 * sqrt(CAST(k AS DOUBLE) *
             |      CAST((SELECT n FROM tot) - k AS DOUBLE) /
             |      CAST((SELECT n FROM tot) AS DOUBLE) + 0.9604) /
             |    (CAST((SELECT n FROM tot) AS DOUBLE) + 3.8416), 6) AS lo,
             |  round((CAST(k AS DOUBLE) + 1.9208) /
             |    (CAST((SELECT n FROM tot) AS DOUBLE) + 3.8416) +
             |    1.96 * sqrt(CAST(k AS DOUBLE) *
             |      CAST((SELECT n FROM tot) - k AS DOUBLE) /
             |      CAST((SELECT n FROM tot) AS DOUBLE) + 0.9604) /
             |    (CAST((SELECT n FROM tot) AS DOUBLE) + 3.8416), 6) AS hi
             |FROM bt ORDER BY event_type""".stripMargin)),

    // ----- Record-breaking hours (the distribution-free drift
    // sentinel: for an i.i.d. series the expected number of
    // running-max records is the harmonic number H_n ≈ ln n + γ —
    // about 7 for a month of hours — independent of the
    // distribution; a count far above that is TREND, detected
    // without modeling anything). A record = an hour strictly above
    // every earlier hour (first hour counts; strictness pinned);
    // running max via one window pass, all exact integers. Output:
    // n_hours, n_records, the last record hour, and the i.i.d.
    // expectation comparison left to the reader (ln is deliberately
    // NOT computed — no transcendental in the contract).
    QueryDef(
      "t_record_breaks",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val hourly = events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, -1)
        hourly
          .withColumn("prevmax", max("cnt").over(w))
          .withColumn("rec",
            when(col("prevmax").isNull || col("cnt") > col("prevmax"), 1L)
              .otherwise(0L))
          .agg(count(lit(1)).as("n_hours"), sum("rec").as("n_records"),
            max(when(col("rec") === 1L, col("h"))).as("last_record_hour"))
      },
      Some("""WITH hourly AS (SELECT date_trunc('hour', ts) AS h,
             |    CAST(count(*) AS BIGINT) AS cnt
             |  FROM events GROUP BY 1),
             |rc AS (SELECT h, cnt,
             |    max(cnt) OVER (ORDER BY h
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |      AS prevmax
             |  FROM hourly)
             |SELECT count(*) AS n_hours,
             |  CAST(sum(CASE WHEN prevmax IS NULL OR cnt > prevmax
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_records,
             |  max(CASE WHEN prevmax IS NULL OR cnt > prevmax THEN h END)
             |    AS last_record_hour
             |FROM rc""".stripMargin)),

    // ----- Wald-Wolfowitz runs test (the SEQUENCE-randomness check
    // t_record_breaks's count can't make: too FEW runs of
    // above/below-median hours means positive autocorrelation —
    // sluggish drifts; too MANY means oscillation — and either
    // invalidates every i.i.d.-assuming threshold upstream). Binary
    // sequence b_t = [cnt_t > median] (exact percentile of integer
    // counts; ties below-or-equal pinned), R = 1 + Σ[b_t ≠ b_{t−1}]
    // via one lag pass — exact longs; E[R] = 2n₁n₂/n + 1 and
    // Var[R] = 2n₁n₂(2n₁n₂−n)/(n²(n−1)) are rationals of exact
    // integers, z ONE pinned expression. Volume collapses to
    // |hours| first.
    QueryDef(
      "t_runs_test",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val hourly = events(s, d)
          .groupBy(date_trunc("hour", col("ts")).as("h"))
          .agg(count(lit(1)).as("cnt"))
        val med = hourly.agg(expr("percentile(cnt, 0.5)").as("__med"))
        val b = hourly.crossJoin(broadcast(med))
          .select(col("h"),
            when(col("cnt").cast("double") > col("__med"), 1L).otherwise(0L)
              .as("b"))
        val w = Window.orderBy("h")
        val st = b
          .withColumn("chg",
            when(lag("b", 1).over(w).isNull, 1L)
              .otherwise(when(col("b") =!= lag("b", 1).over(w), 1L)
                .otherwise(0L)))
          .agg(count(lit(1)).as("n"), sum("b").as("n1"),
            (count(lit(1)) - sum("b")).as("n2"), sum("chg").as("r"))
        st.filter(col("n1") > 0L && col("n2") > 0L && col("n") >= 2L)
          .select(col("n"), col("n1"), col("n2"), col("r").as("runs"),
            round((col("r").cast("double") -
              (lit(2.0) * col("n1").cast("double") * col("n2").cast("double") /
                col("n").cast("double") + lit(1.0))) /
              sqrt(lit(2.0) * col("n1").cast("double") * col("n2").cast("double") *
                (lit(2.0) * col("n1").cast("double") * col("n2").cast("double")
                  - col("n").cast("double")) /
                (col("n").cast("double") * col("n").cast("double") *
                  (col("n").cast("double") - lit(1.0)))), 6).as("z"))
      },
      Some("""WITH hourly AS (SELECT date_trunc('hour', ts) AS h,
             |    CAST(count(*) AS BIGINT) AS cnt
             |  FROM events GROUP BY 1),
             |med AS (SELECT quantile_cont(cnt, 0.5) AS m FROM hourly),
             |b AS (SELECT h,
             |    CASE WHEN CAST(cnt AS DOUBLE) > (SELECT m FROM med)
             |      THEN 1 ELSE 0 END AS b
             |  FROM hourly),
             |ch AS (SELECT b,
             |    CASE WHEN lag(b) OVER (ORDER BY h) IS NULL THEN 1
             |      WHEN b <> lag(b) OVER (ORDER BY h) THEN 1 ELSE 0 END
             |      AS chg
             |  FROM b),
             |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(b) AS BIGINT) AS n1,
             |    CAST(count(*) - sum(b) AS BIGINT) AS n2,
             |    CAST(sum(chg) AS BIGINT) AS r
             |  FROM ch)
             |SELECT n, n1, n2, r AS runs,
             |  round((CAST(r AS DOUBLE) -
             |    (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) /
             |      CAST(n AS DOUBLE) + 1.0)) /
             |    sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) *
             |      (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
             |        - CAST(n AS DOUBLE)) /
             |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) *
             |        (CAST(n AS DOUBLE) - 1.0))), 6) AS z
             |FROM st WHERE n1 > 0 AND n2 > 0 AND n >= 2""".stripMargin)),

    // ----- Inter-arrival burstiness coefficient per event type (the
    // arrival-PROCESS view a34's count dispersion aggregates away:
    // B = (σ−μ)/(σ+μ) over inter-arrival gaps — B ≈ 0 is Poisson,
    // B → 1 is bursty clustering, B < 0 is pacemaker regularity;
    // the Goh-Barabási burstiness every queueing/capacity model
    // keys on). Gaps in MICROseconds (exact longs via one lag pass
    // per type), all three sufficient statistics exact; σ uses the
    // population form √((nΣg² − (Σg)²)/n²) so numerator stays an
    // exact integer, then B is ONE pinned expression. Scale: gaps
    // are a per-type window pass; stats collapse map-side.
    QueryDef(
      "t_burstiness",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("event_type").orderBy("tsu", "event_id")
        // values in floor-SECONDS (g² sums stay well inside longs —
        // microsecond squares would overflow), ordering by exact
        // MICROS so the sequence is unambiguous on both engines
        val gaps = events(s, d)
          .select(col("event_type"), col("event_id"),
            unix_micros(col("ts")).as("tsu"),
            unix_timestamp(col("ts")).as("tss"))
          .withColumn("g", col("tss") - lag("tss", 1).over(w))
          .filter(col("g").isNotNull)
        gaps.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("g").as("sg"),
            sum(col("g") * col("g")).as("sgg"))
          .filter(col("n") >= 2L && col("sg") > 0L)
          .select(col("event_type"), col("n"),
            round(col("sg").cast("double") / col("n").cast("double"), 2)
              .as("mean_gap_s"),
            round((sqrt((col("n") * col("sgg") - col("sg") * col("sg"))
                .cast("double")) - col("sg").cast("double")) /
              (sqrt((col("n") * col("sgg") - col("sg") * col("sg"))
                .cast("double")) + col("sg").cast("double")), 6)
              .as("burstiness"))
          .orderBy("event_type")
      },
      // B = (σ−μ)/(σ+μ) with σ = √(nΣg²−(Σg)²)/n and μ = Σg/n: the
      // common factor 1/n cancels, so both engines compare
      // √(nΣg²−(Σg)²) against Σg directly — integer-exact under the
      // sqrt, one division
      Some("""WITH g AS (SELECT event_type,
             |    epoch_us(ts) // 1000000 - lag(epoch_us(ts) // 1000000) OVER (
             |      PARTITION BY event_type ORDER BY epoch_us(ts), event_id)
             |      AS g
             |  FROM events),
             |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(g) AS BIGINT) AS sg,
             |    CAST(sum(g * g) AS BIGINT) AS sgg
             |  FROM g WHERE g IS NOT NULL GROUP BY 1)
             |SELECT event_type, n,
             |  round(CAST(sg AS DOUBLE) / CAST(n AS DOUBLE), 2)
             |    AS mean_gap_s,
             |  round((sqrt(CAST(n * sgg - sg * sg AS DOUBLE))
             |      - CAST(sg AS DOUBLE)) /
             |    (sqrt(CAST(n * sgg - sg * sg AS DOUBLE))
             |      + CAST(sg AS DOUBLE)), 6) AS burstiness
             |FROM st WHERE n >= 2 AND sg > 0 ORDER BY event_type""".stripMargin)),

    // ----- Minimum cross-type gap per user via the ADJACENT-IN-
    // MERGED-ORDER lemma (the "how tightly coupled are clicks and
    // views for this user" read — reaction-time profiling; j2's
    // as-of finds the latest click BEFORE each view, this finds the
    // globally tightest click↔view pair either direction). The
    // naive formulation is a per-user cross join (|clicks|·|views|
    // pairs); the lemma that kills it: in the per-user time-sorted
    // MERGE of both streams, the minimum absolute cross-type gap is
    // always achieved by an ADJACENT pair (any non-adjacent
    // cross-type pair has an intermediate event, and whichever type
    // it is forms a strictly tighter cross-type pair with one end) —
    // so ONE lag pass over the merged stream suffices: O(n log n)
    // sort instead of O(n²) pairs. Gaps in floor-seconds, ordering
    // by exact micros (the a36/burstiness discipline); output the
    // per-user min-gap distribution summary, exact integers + two
    // exact percentiles.
    QueryDef(
      "j11_min_gap",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val uw = Window.partitionBy("user_id").orderBy("tsu", "event_id")
        val merged = events(s, d)
          .filter(col("event_type").isin("click", "view"))
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("tsu"),
            unix_timestamp(col("ts")).as("tss"))
        val adj = merged
          .withColumn("pt", lag("event_type", 1).over(uw))
          .withColumn("pg", col("tss") - lag("tss", 1).over(uw))
          .filter(col("pt").isNotNull && col("pt") =!= col("event_type"))
        val perUser = adj.groupBy("user_id")
          .agg(min("pg").as("min_gap_s"), count(lit(1)).as("n_cross_adj"))
        perUser.agg(count(lit(1)).as("n_users"),
            min("min_gap_s").as("tightest_s"),
            expr("percentile(min_gap_s, 0.5)").as("__p50"),
            expr("percentile(min_gap_s, 0.9)").as("__p90"))
          .select(col("n_users"), col("tightest_s"),
            round(col("__p50"), 2).as("p50_s"),
            round(col("__p90"), 2).as("p90_s"))
      },
      Some("""WITH m AS (SELECT user_id, event_id, event_type,
             |    epoch_us(ts) AS tsu, epoch_us(ts) // 1000000 AS tss
             |  FROM events WHERE event_type IN ('click', 'view')),
             |adj AS (SELECT user_id,
             |    tss - lag(tss) OVER (PARTITION BY user_id
             |      ORDER BY tsu, event_id) AS pg,
             |    lag(event_type) OVER (PARTITION BY user_id
             |      ORDER BY tsu, event_id) AS pt,
             |    event_type
             |  FROM m),
             |pu AS (SELECT user_id, CAST(min(pg) AS BIGINT) AS min_gap_s,
             |    CAST(count(*) AS BIGINT) AS n_cross_adj
             |  FROM adj WHERE pt IS NOT NULL AND pt <> event_type
             |  GROUP BY 1)
             |SELECT CAST(count(*) AS BIGINT) AS n_users,
             |  CAST(min(min_gap_s) AS BIGINT) AS tightest_s,
             |  round(quantile_cont(min_gap_s, 0.5), 2) AS p50_s,
             |  round(quantile_cont(min_gap_s, 0.9), 2) AS p90_s
             |FROM pu""".stripMargin)),

    // ----- Poisson bootstrap of the MEDIAN (the statistic the
    // bootstrap exists for: the mean's sampling variance has a
    // formula, the median's depends on the unknown density at the
    // median — resampling is the practical answer, and a33's
    // hash-seeded machinery makes it deterministic). Stronger than
    // a33's contract: the WEIGHTED median of integer weights is
    // ITSELF exact — per replicate, collapse to distinct values
    // with summed weights (killing tie-order ambiguity at the
    // root), one cumulative pass, lower-median rule pinned as the
    // smallest x with cumw ≥ (W+1) div 2 — so all 50 bootstrap
    // medians are exact LONGS, no float anywhere in the query.
    // Scale: ×50 fan-out map-side (the a33 cost), then per-(r, x)
    // collapse and a per-replicate bounded window.
    QueryDef(
      "a40_bootstrap_median",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        import graft.ext.NearDup
        val ladder = Seq(367879L, 735759L, 919699L, 981012L, 996340L,
          999406L, 999917L, 999990L)
        val e = events(s, d)
          .select(col("event_id"),
            expr("CAST(round(value * 100) AS BIGINT)").as("x"),
            explode(sequence(lit(0), lit(49))).as("r"))
          .withColumn("u",
            NearDup.charHash(concat_ws(":", col("event_id"), col("r")))
              % 1000000L)
        val w = ladder.zipWithIndex
          .foldRight(lit(ladder.length.toLong)) { case ((thr, i), acc) =>
            when(col("u") < thr, i.toLong).otherwise(acc)
          }
        val vals = e.withColumn("w", w).filter(col("w") > 0L)
          .groupBy("r", "x").agg(sum("w").as("wv"))
        val cum = vals
          .withColumn("cw", sum("wv").over(Window.partitionBy("r")
            .orderBy("x")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val tot = vals.groupBy(col("r").as("r2")).agg(sum("wv").as("bw"))
        cum.join(tot, col("r") === col("r2"))
          .filter(col("cw") >= call_function("div", col("bw") + 1L, lit(2L)))
          .groupBy("r")
          .agg(min("x").as("median_cents"), max("bw").as("n_eff"))
          .select(col("r").cast("long").as("replicate"), col("n_eff"),
            col("median_cents"))
          .orderBy("replicate")
      },
      Some(s"""WITH x AS (SELECT event_id,
              |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
              |e AS (SELECT event_id, x, unnest(range(0, 50)) AS r FROM x),
              |h AS (SELECT r, x, ${graft.ext.NearDup.Sql.charHashSql(
                  "(CAST(event_id AS VARCHAR) || ':' || CAST(r AS VARCHAR))")}
              |    % 1000000 AS u
              |  FROM e),
              |wts AS (SELECT r, x, CASE
              |    WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
              |    WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
              |    WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
              |    WHEN u < 999917 THEN 6 WHEN u < 999990 THEN 7
              |    ELSE 8 END AS w
              |  FROM h),
              |vals AS (SELECT r, x, CAST(sum(w) AS BIGINT) AS wv
              |  FROM wts WHERE w > 0 GROUP BY 1, 2),
              |cum AS (SELECT r, x, wv,
              |    CAST(sum(wv) OVER (PARTITION BY r ORDER BY x
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              |      AS BIGINT) AS cw
              |  FROM vals),
              |tot AS (SELECT r, CAST(sum(wv) AS BIGINT) AS bw
              |  FROM vals GROUP BY 1)
              |SELECT CAST(c.r AS BIGINT) AS replicate,
              |  CAST(max(t.bw) AS BIGINT) AS n_eff,
              |  CAST(min(c.x) AS BIGINT) AS median_cents
              |FROM cum c JOIN tot t ON c.r = t.r
              |WHERE c.cw >= (t.bw + 1) // 2
              |GROUP BY 1 ORDER BY replicate""".stripMargin)),
    // ----- First-touch vs last-touch attribution (the marketing
    // credit question behind every conversion dashboard: which event
    // type OPENED the journey vs which one closed it immediately
    // before purchase — the two standard single-touch models, shown
    // side by side so their disagreement IS the read-out): journeys
    // = events strictly before the user's FIRST purchase; first/last
    // touch via struct-ordered min/max with the (ts, event_id) tie
    // pin (the argmin idiom — no window, no sort); full-outer on the
    // type grid so a type credited by only one model still shows.
    // Output ≤ \|types\| rows.
    QueryDef(
      "t_attribution_touch",
      (s, d) => {
        val fp = events(s, d).filter(col("event_type") === "purchase")
          .groupBy("user_id").agg(min("ts").as("pts"))
        val pre = tracked(events(s, d).join(fp, Seq("user_id"))
          .filter(col("ts") < col("pts"))
          .select(col("user_id"),
            struct(col("ts"), col("event_id"), col("event_type")).as("s")))
        val ft = pre.groupBy("user_id").agg(min("s").as("s"))
          .groupBy(col("s.event_type").as("et"))
          .agg(count(lit(1)).as("first_touch"))
        val lt = pre.groupBy("user_id").agg(max("s").as("s"))
          .groupBy(col("s.event_type").as("et2"))
          .agg(count(lit(1)).as("last_touch"))
        ft.join(lt, col("et") === col("et2"), "full_outer")
          .select(coalesce(col("et"), col("et2")).as("event_type"),
            coalesce(col("first_touch"), lit(0L)).as("first_touch"),
            coalesce(col("last_touch"), lit(0L)).as("last_touch"))
          .orderBy("event_type")
      },
      Some("""WITH fp AS (SELECT user_id, min(ts) AS pts FROM events
             |  WHERE event_type = 'purchase' GROUP BY 1),
             |pre AS (SELECT e.user_id, e.ts, e.event_id, e.event_type
             |  FROM events e JOIN fp ON e.user_id = fp.user_id
             |  WHERE e.ts < fp.pts),
             |ft AS (SELECT s.t AS et, CAST(count(*) AS BIGINT) AS n
             |  FROM (SELECT user_id, min(struct_pack(ts := ts,
             |      event_id := event_id, t := event_type)) AS s
             |    FROM pre GROUP BY 1) GROUP BY 1),
             |lt AS (SELECT s.t AS et, CAST(count(*) AS BIGINT) AS n
             |  FROM (SELECT user_id, max(struct_pack(ts := ts,
             |      event_id := event_id, t := event_type)) AS s
             |    FROM pre GROUP BY 1) GROUP BY 1)
             |SELECT coalesce(ft.et, lt.et) AS event_type,
             |  CAST(coalesce(ft.n, 0) AS BIGINT) AS first_touch,
             |  CAST(coalesce(lt.n, 0) AS BIGINT) AS last_touch
             |FROM ft FULL JOIN lt ON ft.et = lt.et
             |ORDER BY event_type""".stripMargin)),

    // ----- Time-to-convert distribution (the product-funnel latency
    // a16's stage counts don't carry: HOW LONG between a user's
    // first view and their first subsequent purchase — the metric
    // behind nudge timing and attribution windows): two first-seen
    // collapses (min ts per user per type — one user-key shuffle
    // each), the strictly-after pairing as a join predicate, delays
    // as exact integer MINUTES via the epoch_us floor-div idiom, and
    // exact percentiles over the per-user delay values (the a12
    // contract — converted users bound the frame). One audit row.
    QueryDef(
      "t_time_to_convert",
      (s, d) => {
        val fv = events(s, d).filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("vts"))
        val fp = events(s, d).filter(col("event_type") === "purchase")
          .join(fv, Seq("user_id"))
          .filter(col("ts") > col("vts"))
          .groupBy("user_id").agg(min("ts").as("pts"), min("vts").as("vts"))
        fp.select(call_function("div",
            unix_micros(col("pts")) - unix_micros(col("vts")),
            lit(60000000L)).as("mins"))
          .agg(count(lit(1)).as("n_converted"),
            round(expr("percentile(mins, 0.5D)"), 1).as("p50_min"),
            round(expr("percentile(mins, 0.9D)"), 1).as("p90_min"),
            max("mins").as("max_min"))
      },
      Some("""WITH fv AS (SELECT user_id, min(ts) AS vts FROM events
             |  WHERE event_type = 'view' GROUP BY 1),
             |fp AS (SELECT e.user_id, min(e.ts) AS pts, min(fv.vts) AS vts
             |  FROM events e JOIN fv ON e.user_id = fv.user_id
             |  WHERE e.event_type = 'purchase' AND e.ts > fv.vts
             |  GROUP BY 1),
             |d AS (SELECT (epoch_us(pts) - epoch_us(vts)) // 60000000
             |    AS mins FROM fp)
             |SELECT CAST(count(*) AS BIGINT) AS n_converted,
             |  round(quantile_cont(mins, 0.5), 1) AS p50_min,
             |  round(quantile_cont(mins, 0.9), 1) AS p90_min,
             |  CAST(max(mins) AS BIGINT) AS max_min
             |FROM d""".stripMargin)),

    // ----- Per-user top-3 values through the native topk_ll
    // aggregate (the library's SECOND TypedImperativeAggregate — the
    // aggregate-function form of the TakeOrdered discipline, built
    // for exactly the shape w3/a11 express with a per-group window:
    // `row_number over (partition by g order by ...)` SORTS EVERY
    // GROUP IN FULL, while topk_ll keeps a k-bounded sorted buffer
    // per group with map-side partials — the shuffle carries ≤ k
    // pairs per (group × partition), and a hot group's millions of
    // rows never get ordered anywhere). Ordering pinned (v desc, id
    // asc), so the flattened output is hash-identical to the window
    // form the DuckDB mirror runs; TopKAggSpec proves the equality
    // on ties/nulls/small groups/forced merges.
    QueryDef(
      "w16_topk_agg",
      (s, d) => {
        val tk = events(s, d)
          .select(col("user_id"),
            expr("CAST(round(value * 100) AS BIGINT)").as("v"),
            col("event_id"))
          .groupBy("user_id")
          .agg(call_function("topk_ll", col("v"), col("event_id"), lit(3))
            .as("tk"))
        tk.select(col("user_id"), posexplode(col("tk")).as(Seq("i", "p")))
          .select(col("user_id"), (col("i") + 1).cast("long").as("rk"),
            col("p.v").as("value_cents"), col("p.id").as("event_id"))
          .orderBy("user_id", "rk")
      },
      Some("""SELECT user_id, CAST(rk AS BIGINT) AS rk, v AS value_cents,
             |  event_id
             |FROM (SELECT user_id, event_id,
             |    CAST(round(value * 100) AS BIGINT) AS v,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY CAST(round(value * 100) AS BIGINT) DESC,
             |        event_id) AS rk
             |  FROM events)
             |WHERE rk <= 3 ORDER BY user_id, rk""".stripMargin),
      bench = true),

    // ----- Sessionization gap-threshold sensitivity sweep (the
    // calibration pass BEFORE anyone pins a session gap constant: the
    // session count as a function of the inactivity threshold is the
    // elbow curve that justifies the choice, and computing it per
    // candidate threshold in separate passes is how pipelines waste
    // scans): per-user inter-event gaps ONCE (one user_id shuffle +
    // partition sort — w5's physics), then every threshold is a
    // conditional COUNT over the same gap column: sessions(T) =
    // n_users + \|gaps > T\|. Exact integer microseconds end to end;
    // one audit row with the four candidate thresholds.
    QueryDef(
      "t_session_gap_sweep",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val gaps = events(s, d)
          .withColumn("gap_us",
            unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
        def sessions(minutes: Int) =
          (countDistinct(col("user_id")) +
            sum(when(col("gap_us") > minutes * 60000000L, 1L)
              .otherwise(0L))).as(s"sessions_${minutes}m")
        gaps.agg(countDistinct(col("user_id")).as("n_users"),
          sessions(5), sessions(15), sessions(30), sessions(60))
      },
      Some("""WITH g AS (SELECT user_id,
             |    epoch_us(ts) - epoch_us(lag(ts, 1) OVER
             |      (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
             |  FROM events)
             |SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             |  CAST(count(DISTINCT user_id)
             |    + sum(CASE WHEN gap_us > 300000000 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS sessions_5m,
             |  CAST(count(DISTINCT user_id)
             |    + sum(CASE WHEN gap_us > 900000000 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS sessions_15m,
             |  CAST(count(DISTINCT user_id)
             |    + sum(CASE WHEN gap_us > 1800000000 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS sessions_30m,
             |  CAST(count(DISTINCT user_id)
             |    + sum(CASE WHEN gap_us > 3600000000 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS sessions_60m
             |FROM g""".stripMargin)),

    // ----- Markov stationary distribution of the event-type chain
    // (the long-run "where does a random walker over user behavior
    // settle" read-out — the session-paths query lists frequent
    // SEQUENCES, this summarizes the whole transition structure in
    // \|types\| numbers; the churn/engagement modeling primitive):
    // per-user consecutive event-type transitions collapse to the
    // \|types\|² count grid (one user shuffle + one grid shuffle —
    // volume never survives past the grid), then the PageRank
    // integer recipe runs 3 power-iteration rounds ON THE GRID:
    // pi' = Σ pi(u)·c(u→v) div out(u), all scaled-integer truncating
    // division (non-negative ⇒ Spark div == DuckDB //), so DuckDB
    // replays the identical iteration unrolled and the distribution
    // hash-matches. Output \|types\| rows of scaled-1e6 mass.
    QueryDef(
      "a44_markov_stationary",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val S = 1000000L
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val trans = events(s, d)
          .withColumn("next", lead(col("event_type"), 1).over(w))
          .filter(col("next").isNotNull)
          .groupBy(col("event_type").as("src"), col("next").as("dst"))
          .agg(count(lit(1)).as("c"))
        val out = trans.groupBy("src").agg(sum("c").as("tot"))
        val tm = tracked(trans.join(out, Seq("src")))
        val types = tm.select(col("src").as("t")).distinct()
        val n = types.count()
        var pi = types.withColumn("mass",
          call_function("div", lit(S), lit(n)))
        for (_ <- 1 to 3) {
          pi = tm.join(pi, col("src") === col("t"))
            .select(col("dst"),
              call_function("div", col("mass") * col("c"), col("tot"))
                .as("part"))
            .groupBy(col("dst")).agg(sum("part").as("mass"))
            .select(col("dst").as("t"), col("mass"))
        }
        pi.orderBy("t")
      },
      Some(s"""WITH tr AS (SELECT user_id, event_type AS src,
             |    lead(event_type, 1) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS dst
             |  FROM events),
             |tm AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS c
             |  FROM tr WHERE dst IS NOT NULL GROUP BY 1, 2),
             |o AS (SELECT src, CAST(sum(c) AS BIGINT) AS tot
             |  FROM tm GROUP BY 1),
             |t0 AS (SELECT DISTINCT src AS t FROM tm),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t0),
             |p0 AS (SELECT t, CAST(1000000 // (SELECT n FROM n) AS BIGINT)
             |    AS mass FROM t0),
             |p1 AS (SELECT tm.dst AS t,
             |    CAST(sum((p.mass * tm.c) // o.tot) AS BIGINT) AS mass
             |  FROM tm JOIN p0 p ON tm.src = p.t JOIN o ON tm.src = o.src
             |  GROUP BY 1),
             |p2 AS (SELECT tm.dst AS t,
             |    CAST(sum((p.mass * tm.c) // o.tot) AS BIGINT) AS mass
             |  FROM tm JOIN p1 p ON tm.src = p.t JOIN o ON tm.src = o.src
             |  GROUP BY 1),
             |p3 AS (SELECT tm.dst AS t,
             |    CAST(sum((p.mass * tm.c) // o.tot) AS BIGINT) AS mass
             |  FROM tm JOIN p2 p ON tm.src = p.t JOIN o ON tm.src = o.src
             |  GROUP BY 1)
             |SELECT t, mass FROM p3 ORDER BY t""".stripMargin)),

    // ----- HyperLogLog distinct-count sketch, built in relational
    // algebra so the SKETCH ITSELF oracle-gates (the count-min lesson
    // applied to cardinality): at 100 TB "how many distinct users/
    // urls/ngrams" is answered by a mergeable m-register sketch, not
    // a countDistinct shuffle — here m = 64 registers via a mod-P
    // post-mix of the shared poly hash (products stay < 2^60, the
    // portable alternative to 64-bit wrap mixing DuckDB would
    // overflow on), rho = trailing-zeros+1 of the remaining ~24 bits
    // through an integer CASE ladder (no transcendental), and the
    // register harmonic sum kept EXACT: 2^(25-M_j) is an exact long,
    // so Sigma 2^(-M_j) = S/2^25 in ONE division — the 64-double
    // partition-order float-sum trap designed out. The raw estimate
    // lands 2.5% off truth at sf0.1; sf0.01's +56% sits in HLL's
    // documented bias region (E between 2.5m and ~5m — the zone
    // HLL++ empirically corrects; the small-range linear-counting
    // arm below 2.5m is implemented, ln textually pinned). True
    // count rides alongside so the error is visible per run.
    QueryDef(
      "a41_hll_distinct",
      (s, d) => {
        val P = graft.ext.NearDup.P
        val h0 = graft.ext.NearDup.charHash(col("user_id").cast("string"))
        val h = (lit(1103515245L) * h0 + lit(12345L)) % P
        val regs = events(s, d)
          .select((h % 64L).as("idx"),
            call_function("div", h, lit(64L)).as("w"))
          .select(col("idx"), col("w").bitwiseAND(-col("w")).as("lsb"),
            col("w"))
          .select(col("idx"),
            when(col("w") === 0L, 25L)
          .when(col("lsb") === 1L, 1L)
          .when(col("lsb") === 2L, 2L)
          .when(col("lsb") === 4L, 3L)
          .when(col("lsb") === 8L, 4L)
          .when(col("lsb") === 16L, 5L)
          .when(col("lsb") === 32L, 6L)
          .when(col("lsb") === 64L, 7L)
          .when(col("lsb") === 128L, 8L)
          .when(col("lsb") === 256L, 9L)
          .when(col("lsb") === 512L, 10L)
          .when(col("lsb") === 1024L, 11L)
          .when(col("lsb") === 2048L, 12L)
          .when(col("lsb") === 4096L, 13L)
          .when(col("lsb") === 8192L, 14L)
          .when(col("lsb") === 16384L, 15L)
          .when(col("lsb") === 32768L, 16L)
          .when(col("lsb") === 65536L, 17L)
          .when(col("lsb") === 131072L, 18L)
          .when(col("lsb") === 262144L, 19L)
          .when(col("lsb") === 524288L, 20L)
          .when(col("lsb") === 1048576L, 21L)
          .when(col("lsb") === 2097152L, 22L)
          .when(col("lsb") === 4194304L, 23L)
          .when(col("lsb") === 8388608L, 24L)
              .as("rho"))
          .groupBy("idx").agg(max("rho").as("mx"))
        val sk = regs.agg(
          sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(25 - mx AS INT))"))
            .as("s2"),
          count(lit(1)).as("nz"))
        val truth = events(s, d)
          .agg(countDistinct(col("user_id")).as("n_true"))
        val num = lit(0.709365815) * lit(4096.0) * lit(33554432.0)
        val den = (col("s2") + (lit(64L) - col("nz")) * lit(33554432L))
          .cast("double")
        sk.crossJoin(broadcast(truth))
          .select(col("n_true"), (lit(64L) - col("nz")).as("v_zero"),
            round(num / den, 4).as("hll_raw"),
            round(when((lit(64L) - col("nz")) > 0L && num / den <= 160.0,
                lit(64.0) * log(lit(64.0) /
                  (lit(64L) - col("nz")).cast("double")))
              .otherwise(num / den), 4).as("hll_est"))
      },
      Some(s"""WITH h0 AS (SELECT ${graft.ext.NearDup.Sql.charHashSql("CAST(user_id AS VARCHAR)")} AS h
             |  FROM events),
             |h AS (SELECT ((1103515245::BIGINT * h + 12345) % ${graft.ext.NearDup.P}) AS h FROM h0),
             |r AS (SELECT h % 64 AS idx, h // 64 AS w FROM h),
             |rk AS (SELECT idx, CASE WHEN w = 0 THEN 25
             |    ELSE CASE w & (-w) WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 4 THEN 3 WHEN 8 THEN 4 WHEN 16 THEN 5 WHEN 32 THEN 6 WHEN 64 THEN 7 WHEN 128 THEN 8 WHEN 256 THEN 9 WHEN 512 THEN 10 WHEN 1024 THEN 11 WHEN 2048 THEN 12 WHEN 4096 THEN 13 WHEN 8192 THEN 14 WHEN 16384 THEN 15 WHEN 32768 THEN 16 WHEN 65536 THEN 17 WHEN 131072 THEN 18 WHEN 262144 THEN 19 WHEN 524288 THEN 20 WHEN 1048576 THEN 21 WHEN 2097152 THEN 22 WHEN 4194304 THEN 23 WHEN 8388608 THEN 24 END END AS rho
             |  FROM r),
             |regs AS (SELECT idx, CAST(max(rho) AS BIGINT) AS mx
             |  FROM rk GROUP BY 1),
             |s AS (SELECT CAST(sum(1::BIGINT << (25 - mx)) AS BIGINT) AS s2,
             |      CAST(count(*) AS BIGINT) AS nz FROM regs),
             |t AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_true
             |  FROM events)
             |SELECT n_true, 64 - nz AS v_zero,
             |  round(CAST(0.709365815 AS DOUBLE) * 4096.0 * 33554432.0
             |    / CAST(s2 + (64 - nz) * 33554432 AS DOUBLE), 4) AS hll_raw,
             |  round(CASE WHEN (64 - nz) > 0
             |      AND CAST(0.709365815 AS DOUBLE) * 4096.0 * 33554432.0
             |        / CAST(s2 + (64 - nz) * 33554432 AS DOUBLE) <= 160.0
             |    THEN 64.0 * ln(64.0 / CAST(64 - nz AS DOUBLE))
             |    ELSE CAST(0.709365815 AS DOUBLE) * 4096.0 * 33554432.0
             |      / CAST(s2 + (64 - nz) * 33554432 AS DOUBLE) END, 4)
             |    AS hll_est
             |FROM s, t""".stripMargin)),
    // ----- KMV (k-minimum-values) distinct sketch — HLL's companion
    // estimator, here because the two fail differently: HLL's
    // register max is bias-prone in the 2.5m-5m zone (a41's measured
    // +56%), KMV's k-th order statistic is unbiased with sigma =
    // 1/sqrt(k-2) everywhere above k, at the cost of keeping k
    // values instead of m registers. Same mod-P mixed hash as a41;
    // the k smallest DISTINCT hashes are a TakeOrdered (per-partition
    // heaps + driver merge of k*P rows — never a global sort, the g6
    // discipline), the estimate (k-1)*P/h_(k) ONE pinned division of
    // exact longs. Exact-count arm below k. Measured vs truth:
    // 15 exact / +6% / +13% at the three SFs (k = 64).
    QueryDef(
      "a42_kmv_distinct",
      (s, d) => {
        val P = graft.ext.NearDup.P
        val k = 64
        val h0 = graft.ext.NearDup.charHash(col("user_id").cast("string"))
        val h = (lit(1103515245L) * h0 + lit(12345L)) % P
        val kmin = events(s, d).select(h.as("h")).distinct()
          .orderBy("h").limit(k)
        val st = kmin.agg(count(lit(1)).as("nk"), max("h").as("hk"))
        val truth = events(s, d)
          .agg(countDistinct(col("user_id")).as("n_true"))
        st.crossJoin(broadcast(truth))
          .select(col("n_true"), col("nk"),
            round(when(col("nk") < k, col("nk").cast("double"))
              .otherwise(lit((k - 1).toDouble) * lit(1000000007.0) /
                col("hk").cast("double")), 4).as("kmv_est"))
      },
      Some(s"""WITH h0 AS (SELECT ${graft.ext.NearDup.Sql.charHashSql("CAST(user_id AS VARCHAR)")} AS h
             |  FROM events),
             |h AS (SELECT DISTINCT ((1103515245::BIGINT * h + 12345)
             |    % ${graft.ext.NearDup.P}) AS h FROM h0),
             |k AS (SELECT h FROM h ORDER BY h LIMIT 64),
             |st AS (SELECT CAST(count(*) AS BIGINT) AS nk,
             |    CAST(max(h) AS BIGINT) AS hk FROM k),
             |t AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_true
             |  FROM events)
             |SELECT n_true, nk,
             |  round(CASE WHEN nk < 64 THEN CAST(nk AS DOUBLE)
             |    ELSE CAST(63 AS DOUBLE) * 1000000007.0
             |      / CAST(hk AS DOUBLE) END, 4) AS kmv_est
             |FROM st, t""".stripMargin)),

    // ----- KMV set-INTERSECTION estimate — audience overlap, the
    // theta-sketch use case (a41/a42 answer "how many distinct"; the
    // harder warehouse question is "how much do two audiences
    // OVERLAP" — computable exactly only by a distinct-join at full
    // volume, but two mergeable k-min sketches answer it from
    // 2·k values): audiences = purchase-days vs error-days at the
    // (user, day) grain (user-level audiences in this corpus overlap
    // 100% — every user hits every type; the day grain separates
    // them, true J ≈ 0.22), same mod-P affine mix as a41/a42. Union
    // sketch = k smallest of the two k-sets' union, theta = its max;
    // rho = union-sketch hashes present in BOTH sketches;
    // jaccard_est = rho/k, union_est = (k−1)·P/theta,
    // inter_est = their product — the standard KMV/theta estimator
    // chain, every step a pure function of the hash so the oracle
    // replays it bit-for-bit. TRUE n_a/n_b/inter ride alongside
    // (the a41 visible-error discipline): measured J-est 0.156/
    // 0.25/0.219 vs true 0.205/0.223/0.219 at the three SFs, k=64.
    // At 100 TB each sketch is a TakeOrdered over a distinct-
    // collapsed audience (per-partition heaps, k rows to the
    // driver-side merge), never a cross-audience distinct join.
    QueryDef(
      "a45_kmv_overlap",
      (s, d) => {
        val P = graft.ext.NearDup.P
        val k = 64
        val ev = events(s, d).select(
          (col("user_id") * 100L + dayofmonth(col("ts")).cast("long"))
            .as("e"),
          col("event_type"))
        def aud(tpe: String): DataFrame =
          ev.filter(col("event_type") === tpe)
            .select(((lit(1103515245L) * (col("e") % P) + lit(12345L)) % P)
              .as("h"))
            .distinct()
        val ha = tracked(aud("purchase"))
        val hb = tracked(aud("error"))
        val ka = ha.orderBy("h").limit(k)
        val kb = hb.orderBy("h").limit(k)
        val ku = ka.unionAll(kb).distinct().orderBy("h").limit(k)
        val st = ku
          .join(ka.withColumnRenamed("h", "a"), col("h") === col("a"),
            "left_outer")
          .join(kb.withColumnRenamed("h", "b"), col("h") === col("b"),
            "left_outer")
          .agg(count(lit(1)).as("nu"), max("h").as("theta"),
            sum(when(col("a").isNotNull && col("b").isNotNull, 1L)
              .otherwise(0L)).as("rho"))
        val truth = ha.agg(count(lit(1)).as("n_a"))
          .crossJoin(hb.agg(count(lit(1)).as("n_b")))
          .crossJoin(ha.join(hb, Seq("h"), "left_semi")
            .agg(count(lit(1)).as("inter_true")))
        val uEst = when(col("nu") < k, col("nu").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(P.toDouble) /
            col("theta").cast("double"))
        st.crossJoin(broadcast(truth))
          .select(col("n_a"), col("n_b"), col("inter_true"), col("rho"),
            col("nu"),
            round(uEst, 4).as("union_est"),
            round(col("rho").cast("double") / col("nu").cast("double"), 4)
              .as("jaccard_est"),
            round(col("rho").cast("double") / col("nu").cast("double")
              * uEst, 4).as("inter_est"))
      },
      Some(s"""WITH ev AS (SELECT user_id * 100 + CAST(day(ts) AS BIGINT)
             |    AS e, event_type FROM events),
             |ha AS (SELECT DISTINCT ((1103515245::BIGINT
             |    * (e % ${graft.ext.NearDup.P}) + 12345)
             |    % ${graft.ext.NearDup.P}) AS h
             |  FROM ev WHERE event_type = 'purchase'),
             |hb AS (SELECT DISTINCT ((1103515245::BIGINT
             |    * (e % ${graft.ext.NearDup.P}) + 12345)
             |    % ${graft.ext.NearDup.P}) AS h
             |  FROM ev WHERE event_type = 'error'),
             |ka AS (SELECT h FROM ha ORDER BY h LIMIT 64),
             |kb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
             |ku AS (SELECT DISTINCT h FROM
             |    (SELECT h FROM ka UNION ALL SELECT h FROM kb)
             |  ORDER BY h LIMIT 64),
             |st AS (SELECT CAST(count(*) AS BIGINT) AS nu,
             |    CAST(max(h) AS BIGINT) AS theta,
             |    CAST(sum(CASE WHEN h IN (SELECT h FROM ka)
             |        AND h IN (SELECT h FROM kb) THEN 1 ELSE 0 END)
             |      AS BIGINT) AS rho
             |  FROM ku),
             |tr AS (SELECT
             |    (SELECT CAST(count(*) AS BIGINT) FROM ha) AS n_a,
             |    (SELECT CAST(count(*) AS BIGINT) FROM hb) AS n_b,
             |    (SELECT CAST(count(*) AS BIGINT) FROM ha
             |      WHERE h IN (SELECT h FROM hb)) AS inter_true)
             |SELECT n_a, n_b, inter_true, rho, nu,
             |  round(CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE)
             |    ELSE 63.0 * ${graft.ext.NearDup.P}
             |      / CAST(theta AS DOUBLE) END, 4) AS union_est,
             |  round(CAST(rho AS DOUBLE) / CAST(nu AS DOUBLE), 4)
             |    AS jaccard_est,
             |  round((CAST(rho AS DOUBLE) / CAST(nu AS DOUBLE)) *
             |    (CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE)
             |     ELSE 63.0 * ${graft.ext.NearDup.P}
             |       / CAST(theta AS DOUBLE) END), 4) AS inter_est
             |FROM st, tr""".stripMargin)),

    // ----- Heavy hitters through the native Misra-Gries aggregate
    // `freq_ll` (the library's THIRD TypedImperativeAggregate — the
    // frequent-items sketch next to a41's cardinality and
    // sketch_cms's point lookup: it DISCOVERS the hot keys instead
    // of counting a known one): the exact formulation shuffles on
    // every distinct item; freq_ll keeps 64 counters per partition
    // and merges by the mergeable-summaries rule, ≤ 64 pairs per
    // partition on the wire whatever the domain. MG's surviving
    // counter SET is partition-order-dependent — so the query uses
    // the sketch ONLY as a candidate generator and gates on exact
    // recounts (items with 65·n > total over the rounded-value
    // domain, 410 items / 11 hitters at sf0.1): the semi-join
    // against the candidates makes the n/(k+1) SUPERSET GUARANTEE
    // the thing being oracle-verified — if Misra-Gries ever dropped
    // a true heavy hitter under Spark's real partitioning, a row
    // would vanish and the hash would mismatch (the LSH-recall
    // gating idea applied to a frequency sketch).
    QueryDef(
      "a46_heavy_hitters",
      (s, d) => {
        val items = tracked(events(s, d)
          .select(round(col("value")).cast("long").as("item")))
        val cand = items
          .agg(call_function("freq_ll", col("item"), lit(64)).as("hh"))
          .select(explode(col("hh")).as("e"))
          .select(col("e.item").as("item"))
        val exact = items.groupBy("item").agg(count(lit(1)).as("n"))
        val total = items.agg(count(lit(1)).as("total"))
        exact.crossJoin(broadcast(total))
          .filter(col("n") * 65L > col("total"))
          .join(cand, Seq("item"), "left_semi")
          .select(col("item"), col("n"), col("total"))
          .orderBy(col("n").desc, col("item"))
      },
      Some("""WITH c AS (SELECT CAST(round(value) AS BIGINT) AS item,
             |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
             |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
             |SELECT item, n, total FROM c, tot
             |WHERE n * 65 > total ORDER BY n DESC, item""".stripMargin)),

    // ----- Bitmap-EXACT distinct counting (Spark 3.5+ bitmap_*
    // functions) — the third rung of the distinct-count ladder next
    // to a41's HLL (approximate, 1 KB) and a42's KMV (approximate,
    // k values): EXACT like count(DISTINCT) but ADDITIVE like a
    // sketch. The key move is materializing a daily per-type bitmap
    // table — (event_type, day, bucket) → a ≤4 KB bitmap of the
    // 32768-wide user-id slice — after which every coarser grain is
    // a rollup of bitmaps, never a rescan of raw events: the global
    // per-type distinct here is bitmap_or_agg over the DAILY table
    // (the Druid/ClickHouse groupBitmap pattern). At 100 TB that's
    // the difference between re-reading the fact table per reporting
    // window and OR-ing a metadata-sized cube; partials are
    // fixed-size and map-side combine by OR, so the shuffle carries
    // ≤ |groups|·|buckets| 4 KB blobs whatever the row count. The
    // query also surfaces sum-of-daily-distincts next to the true
    // distinct — the non-additivity gap (1601 vs 150 at sf0.01) that
    // makes naive distinct cubes wrong and this operator necessary.
    // Oracle: plain COUNT(DISTINCT) per grain — the bitmap path must
    // reproduce it exactly, not approximately.
    QueryDef(
      "a48_bitmap_distinct",
      (s, d) => {
        val daily = tracked(events(s, d)
          .select(col("event_type"), to_date(col("ts")).as("day"),
            expr("bitmap_bucket_number(user_id)").as("bkt"),
            expr("bitmap_bit_position(user_id)").as("pos"))
          .groupBy("event_type", "day", "bkt")
          .agg(expr("bitmap_construct_agg(pos)").as("bm")))
        val dd = daily
          .groupBy("event_type", "day")
          .agg(sum(expr("bitmap_count(bm)")).as("du"))
          .groupBy("event_type")
          .agg(sum("du").as("daily_sum"), count(lit(1)).as("days_active"))
        val ex = daily
          .groupBy("event_type", "bkt")
          .agg(expr("bitmap_or_agg(bm)").as("obm"))
          .groupBy("event_type")
          .agg(sum(expr("bitmap_count(obm)")).as("exact_distinct"))
        ex.join(dd, Seq("event_type"))
          .select(col("event_type"), col("exact_distinct"),
            col("daily_sum"), col("days_active"))
          .orderBy("event_type")
      },
      Some("""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
             |    CAST(count(DISTINCT user_id) AS BIGINT) AS du
             |  FROM events GROUP BY 1, 2),
             |ex AS (SELECT event_type,
             |    CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
             |  FROM events GROUP BY 1),
             |dd AS (SELECT event_type, CAST(sum(du) AS BIGINT) AS daily_sum,
             |    CAST(count(*) AS BIGINT) AS days_active FROM daily GROUP BY 1)
             |SELECT ex.event_type, exact_distinct, daily_sum, days_active
             |FROM ex JOIN dd USING (event_type) ORDER BY event_type""".stripMargin)),

    // ----- Markov removal-effect attribution — the DATA-DRIVEN
    // credit model next to a23's positional heuristics (first/last/
    // linear are conventions; removal effect asks the causal-shaped
    // question "how much would conversion drop if channel c
    // vanished", the standard Markov attribution of Anderl et al.).
    // Journeys: per-user event prefix before the first purchase
    // (START → touches → CONV, non-converters → NULL); transition
    // counts collapse the corpus to a ≤ |channels|² integer matrix,
    // after which EVERYTHING runs on that grid (grid-collapse-first
    // — the fact scan is two user-partitioned windows + one grouped
    // count, and the iteration below touches ~200 rows whatever the
    // data scale). Absorption probabilities via 8 pinned rounds of
    // the integer value iteration v'(s) = Σ_dst n·v(dst) div n_s
    // (CONV pinned at Scale=10¹², NULL at 0) — the PageRank/HITS
    // scaled-integer discipline, so DuckDB replays identical longs;
    // all 1+|channels| scenarios (base + each channel clamped to 0)
    // iterate TOGETHER as one (scenario, state) frame. Removal
    // effect = 1 − v_c(START)/v_base(START); shares renormalize the
    // exact long diffs with one pinned division each.
    QueryDef(
      "a51_markov_removal",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val Scale = 1000000000000L
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val seq = events(s, d).select(col("user_id"), col("event_type"),
          row_number().over(w).cast("long").as("rn"))
        val fp = seq.filter(col("event_type") === "purchase")
          .groupBy("user_id").agg(min("rn").as("frn"))
        val tch = tracked(seq.join(fp, Seq("user_id"), "left")
          .filter(col("frn").isNull || col("rn") < col("frn")))
        val wr = Window.partitionBy("user_id").orderBy("rn")
        val eg = tch.select(
          coalesce(lag(col("event_type"), 1).over(wr), lit("__START__"))
            .as("src"),
          col("event_type").as("dst"))
        val lastT = tch.groupBy("user_id").agg(max("rn").as("mrn"))
        val term = tch.join(lastT, Seq("user_id"))
          .filter(col("rn") === col("mrn"))
          .select(col("event_type").as("src"),
            when(col("frn").isNotNull, "__CONV__").otherwise("__NULL__")
              .as("dst"))
        val direct = fp
          .join(tch.select("user_id").distinct(), Seq("user_id"), "left_anti")
          .select(lit("__START__").as("src"), lit("__CONV__").as("dst"))
        val trc = eg.unionAll(term).unionAll(direct)
          .groupBy("src", "dst").agg(count(lit(1)).as("n"))
        val tr = trc.join(
          trc.groupBy("src").agg(sum("n").as("tot")), Seq("src"))
        // the transition matrix is ≤ |states|² rows (≤ ~42 here) —
        // the bounded-grid boundary where driver math is the RIGHT
        // call (the Rank per-partition-offsets / Lloyd-centroids
        // precedent): iterating relationally cost 8 re-planned
        // broadcast-join rounds ≈ 14 s of pure overhead at sf0.1
        // (measured, bench r9) for arithmetic on a few hundred longs.
        // The integer update below is IDENTICAL to the relational
        // form (same truncating div, same long sums — addition of
        // longs is exactly associative, so map order cannot matter)
        // and the DuckDB mirror still replays the full unrolled
        // iteration relationally, so the hash gate also certifies
        // this driver loop.
        val trRows = graft.ops.Grids.boundedRows(
            tr.select("src", "dst", "n", "tot"), 64, "a51_transition_matrix")
          .map(r => (r.getString(0), r.getString(1), r.getLong(2),
            r.getLong(3)))
        val channels = trRows.map(_._1).filter(_ != "__START__").distinct.sorted
        val states = trRows.map(_._1).distinct
        val scens = "__base__" +: channels
        var v: Map[(String, String), Long] =
          (for (sc <- scens; st <- states) yield (sc, st) -> 0L).toMap
        for (_ <- 1 to 8) {
          val next = for (sc <- scens; st <- states) yield {
            val nv =
              if (sc == st) 0L
              else {
                val acc = trRows.filter(_._1 == st).map {
                  case (_, dst, n, _) =>
                    val value =
                      if (dst == "__CONV__") Scale
                      else if (dst == "__NULL__") 0L
                      else v.getOrElse((sc, dst), 0L)
                    n * value
                }.sum
                val tot = trRows.find(_._1 == st).get._4
                acc / tot // both operands non-negative: trunc == floor
              }
            (sc, st) -> nv
          }
          v = next.toMap
        }
        val vb = v.getOrElse(("__base__", "__START__"), 0L)
        import s.implicits._
        val diffs = tracked(channels
          .map(c => (c, vb, v.getOrElse((c, "__START__"), 0L)))
          .toSeq.toDF("channel", "vb", "vr")
          .withColumn("diff", col("vb") - col("vr")))
        val tdiff = diffs.agg(sum("diff").as("td"))
        diffs.crossJoin(broadcast(tdiff))
          .filter(col("vb") > 0 && col("td") > 0)
          .select(col("channel"),
            round(col("vb").cast("double") / lit(Scale), 6).as("p_conv_base"),
            round(col("diff").cast("double") / col("vb").cast("double"), 6)
              .as("removal_effect"),
            round(col("diff").cast("double") / col("td").cast("double"), 6)
              .as("share"))
          .orderBy("channel")
      },
      Some(markovRemovalSql(8)),
      bench = true),

    // ----- Friedman test across the five event types blocked by
    // hour-of-day — the repeated-measures companion of a62's
    // Kruskal-Wallis (KW asks "do the groups differ" pooling
    // everything; Friedman asks it WITHIN each block, which is the
    // right form when hours have their own level — exactly the
    // diurnal confound t_cusum/t_autocorrelation document). Grid
    // collapse FIRST (24×5 cells, exact cent-sums); ranks within
    // each complete block via a PARTITIONED window with the pinned
    // (cents, event_type) tie-break — ranks become permutations so
    // the no-ties statistic is exact (the a68 move): Q = 12ΣRⱼ²/
    // (nk(k+1)) − 3n(k+1), its numerator emitted as the exact
    // integer 12ΣRⱼ² − 3n²k(k+1)², Q one pinned rounded division.
    // Only complete blocks (all 5 types present) enter, mirroring
    // the textbook requirement and keeping n deterministic.
    QueryDef(
      "a69_friedman",
      (s, d) => {
        val g = events(s, d)
          .select(hour(col("ts")).cast("long").as("hod"),
            col("event_type"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cv"))
          .groupBy("hod", "event_type")
          .agg(sum("cv").as("cents"))
        val gc = tracked(g)
        val cb = gc.groupBy("hod").agg(count(lit(1)).as("nt"))
          .filter(col("nt") === 5).select("hod")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("hod").orderBy("cents", "event_type")
        val rk = gc.join(cb, Seq("hod"), "left_semi")
          .withColumn("r", row_number().over(w).cast("long"))
        val rs = rk.groupBy("event_type")
          .agg(sum("r").as("rj"), count(lit(1)).as("nb"))
        rs.agg(max("nb").as("n"), count(lit(1)).as("k"),
            sum(col("rj") * col("rj")).as("srj2"))
          .select(col("n"), col("k"), col("srj2"),
            (lit(12L) * col("srj2")
              - lit(3L) * col("n") * col("n") * col("k")
                * (col("k") + 1L) * (col("k") + 1L)).as("qnum_x"),
            round(lit(12.0) * col("srj2").cast("double")
              / (col("n") * col("k") * (col("k") + 1L)).cast("double")
              - lit(3.0) * (col("n") * (col("k") + 1L)).cast("double"),
              6).as("q"))
      },
      Some("""WITH g AS (SELECT CAST(extract(hour FROM ts) AS BIGINT) AS hod,
             |    event_type,
             |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
             |  FROM events GROUP BY 1, 2),
             |cb AS (SELECT hod FROM g GROUP BY 1 HAVING count(*) = 5),
             |rk AS (SELECT hod, event_type,
             |    CAST(row_number() OVER (PARTITION BY hod
             |      ORDER BY cents, event_type) AS BIGINT) AS r
             |  FROM g WHERE hod IN (SELECT hod FROM cb)),
             |rs AS (SELECT event_type, sum(r)::BIGINT AS rj,
             |    count(*)::BIGINT AS nb FROM rk GROUP BY 1),
             |s AS (SELECT max(nb)::BIGINT AS n, count(*)::BIGINT AS k,
             |    sum(rj * rj)::BIGINT AS srj2 FROM rs)
             |SELECT n, k, srj2,
             |  12 * srj2 - 3 * n * n * k * (k + 1) * (k + 1) AS qnum_x,
             |  round(12.0 * CAST(srj2 AS DOUBLE)
             |    / CAST(n * k * (k + 1) AS DOUBLE)
             |    - 3.0 * CAST(n * (k + 1) AS DOUBLE), 6) AS q
             |FROM s""".stripMargin)),

    // ----- Interval UNION per user (total covered time + island
    // count) — the coverage primitive behind session-time billing,
    // SLA uptime, and dataset-freshness windows that the interval
    // JOIN family (j6/j15, stream interval join) reads but never
    // aggregates: overlapping [ts, ts+value·1s) activity intervals
    // merge via gaps-and-islands — a running max(end) over the
    // PER-USER ordered stream (partitioned window, lock-clean; the
    // (s, event_id) tie-break is used in BOTH the running max and
    // the island running sum so ties cannot split an island
    // differently across engines), island = cumulative count of
    // rows starting past every previous end, covered = Σ per-island
    // max(end)−min(start). Everything integer epoch-millis
    // (unix_millis ↔ epoch_ms; durations as exact rounded ms).
    // Output rows = |users| (entity-bounded); shuffles: one window
    // partition + one (user, island) agg.
    QueryDef(
      "j16_interval_union",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("st", "event_id")
        val iv = events(s, d).filter(col("value") > 0)
          .select(col("user_id"), col("event_id"),
            unix_millis(col("ts")).as("st"),
            (unix_millis(col("ts"))
              + expr("CAST(round(value * 1000) AS BIGINT)")).as("en"))
        val isl = iv
          .withColumn("pmax", max("en").over(
            w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
          .withColumn("island",
            sum(when(col("pmax").isNull || col("st") > col("pmax"), 1L)
              .otherwise(0L))
              .over(w.rowsBetween(
                org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        isl.groupBy("user_id", "island")
          .agg((max("en") - min("st")).as("cov"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_islands"), sum("cov").as("covered_ms"))
          .orderBy("user_id")
      },
      Some("""WITH iv AS (SELECT user_id, event_id, epoch_ms(ts)::BIGINT AS st,
             |    epoch_ms(ts)::BIGINT + CAST(round(value * 1000) AS BIGINT) AS en
             |  FROM events WHERE value > 0),
             |w AS (SELECT user_id, event_id, st, en,
             |    max(en) OVER (PARTITION BY user_id ORDER BY st, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
             |  FROM iv),
             |isl AS (SELECT user_id, st, en,
             |    CAST(sum(CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END)
             |      OVER (PARTITION BY user_id ORDER BY st, event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |      AS island
             |  FROM w),
             |per AS (SELECT user_id, island, max(en) - min(st) AS cov
             |  FROM isl GROUP BY 1, 2)
             |SELECT user_id, count(*)::BIGINT AS n_islands,
             |  sum(cov)::BIGINT AS covered_ms
             |FROM per GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // ----- Interval INTERSECTION join — the pairwise-overlap leg of
    // the interval family (j16 unions ONE set; attribution needs how
    // much two sets co-occur): per user, every (click-interval,
    // purchase-interval) pair with positive time overlap, with the
    // overlap duration as the measure — the duration-weighted
    // attribution read (was the purchase WINDOW inside the browsing
    // WINDOW, not just a timestamp-after-timestamp). Intervals are
    // [ts, ts + value minutes). The scale move is HOUR-BUCKETING:
    // each interval explodes to the hour buckets it touches
    // (bounded: len/1h + 1 buckets), pairs form ONLY inside a
    // (user, bucket) equi-join — never a per-user cartesian, and at
    // 100 TB the shuffle key (user, hour) is both time-prunable and
    // skew-bounded. A pair spanning several shared buckets dedups by
    // (user, click-id, purchase-id) DISTINCT before measuring; all
    // arithmetic exact epoch-millis longs.
    QueryDef(
      "j18_interval_intersect",
      (s, d) => {
        val iv = events(s, d)
          .filter(col("value") > 0
            && col("event_type").isin("click", "purchase"))
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_millis(col("ts")).as("st"),
            (unix_millis(col("ts"))
              + expr("CAST(round(value * 60000) AS BIGINT)")).as("en"))
          // en > st guards the bucket range: a sub-half-ms value rounds
          // to a ZERO-length interval, where Spark's sequence(a, a-1)
          // would emit a DESCENDING phantom range while DuckDB's
          // generate_series returns empty — the filter (identical both
          // engines: en is the same exact long) excludes the case
          .filter(col("en") > col("st"))
        val b = tracked(iv.select(col("user_id"), col("event_id"),
          col("event_type"), col("st"), col("en"),
          explode(sequence(expr("st div 3600000"),
            expr("(en - 1) div 3600000"))).as("bk")))
        val pr = b.filter(col("event_type") === "click").as("c")
          .join(b.filter(col("event_type") === "purchase").as("p"),
            col("c.user_id") === col("p.user_id")
              && col("c.bk") === col("p.bk"))
          .select(col("c.user_id").as("user_id"),
            col("c.event_id").as("ce"), col("p.event_id").as("pe"),
            greatest(col("c.st"), col("p.st")).as("os"),
            least(col("c.en"), col("p.en")).as("oe"))
          .distinct()
        pr.filter(col("oe") > col("os"))
          .select(col("user_id"), col("ce"), col("pe"),
            (col("oe") - col("os")).as("ms"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_pairs"), sum("ms").as("overlap_ms"),
            max("ms").as("max_ms"))
          .orderBy("user_id")
      },
      Some("""WITH iv AS (SELECT * FROM (SELECT user_id, event_id, event_type,
             |    epoch_ms(ts)::BIGINT AS st,
             |    epoch_ms(ts)::BIGINT + CAST(round(value * 60000) AS BIGINT) AS en
             |  FROM events
             |  WHERE value > 0 AND event_type IN ('click', 'purchase'))
             |  WHERE en > st),
             |b AS (SELECT user_id, event_id, event_type, st, en,
             |    unnest(generate_series(st // 3600000, (en - 1) // 3600000)) AS bk
             |  FROM iv),
             |pr AS (SELECT DISTINCT c.user_id, c.event_id AS ce,
             |    p.event_id AS pe,
             |    greatest(c.st, p.st) AS os, least(c.en, p.en) AS oe
             |  FROM b c JOIN b p ON c.user_id = p.user_id AND c.bk = p.bk
             |   AND c.event_type = 'click' AND p.event_type = 'purchase'),
             |ov AS (SELECT user_id, ce, pe, oe - os AS ms FROM pr WHERE oe > os)
             |SELECT user_id, count(*)::BIGINT AS n_pairs,
             |  sum(ms)::BIGINT AS overlap_ms, max(ms)::BIGINT AS max_ms
             |FROM ov GROUP BY 1 ORDER BY user_id""".stripMargin)),

    // ----- Page's trend test (ordered alternatives) — a69's rank
    // structure pointed at a DIRECTION: where Friedman asks "do the
    // treatments differ at all", Page's L asks "do they increase
    // along a hypothesized order" (pinned here as alphabetical
    // event_type — the j-weights must be fixed a priori, never
    // data-derived, or the test is circular). Same complete-block
    // 24×5 grid, same permutation ranks; L = Σ j·Rⱼ exact integer,
    // centered as the exact 4L − nk(k+1)² (E[L] cleared of its /4).
    QueryDef(
      "a71_page_trend",
      (s, d) => {
        val g = events(s, d)
          .select(hour(col("ts")).cast("long").as("hod"),
            col("event_type"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cv"))
          .groupBy("hod", "event_type")
          .agg(sum("cv").as("cents"))
        val gc = tracked(g)
        val cb = gc.groupBy("hod").agg(count(lit(1)).as("nt"))
          .filter(col("nt") === 5).select("hod")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("hod").orderBy("cents", "event_type")
        val rk = gc.join(cb, Seq("hod"), "left_semi")
          .withColumn("r", row_number().over(w).cast("long"))
        // treatment index j: alphabetical rank over the ≤5-row type
        // grid via self-join counting (no unpartitioned window)
        val types = rk.select("event_type").distinct()
        val tj = types.as("a").join(types.as("b"),
            col("b.event_type") <= col("a.event_type"))
          .groupBy(col("a.event_type").as("event_type"))
          .agg(count(lit(1)).as("j"))
        val rs = rk.join(tj, Seq("event_type"))
          .groupBy("event_type", "j")
          .agg(sum("r").as("rj"), count(lit(1)).as("nb"))
        rs.agg(max("nb").as("n"), count(lit(1)).as("k"),
            sum(col("j") * col("rj")).as("l"))
          .select(col("n"), col("k"), col("l"),
            (lit(4L) * col("l")
              - col("n") * col("k") * (col("k") + 1L) * (col("k") + 1L))
              .as("lnum_x"))
      },
      Some("""WITH g AS (SELECT CAST(extract(hour FROM ts) AS BIGINT) AS hod,
             |    event_type,
             |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS cents
             |  FROM events GROUP BY 1, 2),
             |cb AS (SELECT hod FROM g GROUP BY 1 HAVING count(*) = 5),
             |rk AS (SELECT hod, event_type,
             |    CAST(row_number() OVER (PARTITION BY hod
             |      ORDER BY cents, event_type) AS BIGINT) AS r
             |  FROM g WHERE hod IN (SELECT hod FROM cb)),
             |ty AS (SELECT DISTINCT event_type FROM rk),
             |tj AS (SELECT a.event_type, CAST(count(*) AS BIGINT) AS j
             |  FROM ty a JOIN ty b ON b.event_type <= a.event_type
             |  GROUP BY 1),
             |rs AS (SELECT rk.event_type, tj.j, sum(rk.r)::BIGINT AS rj,
             |    count(*)::BIGINT AS nb
             |  FROM rk JOIN tj USING (event_type) GROUP BY 1, 2),
             |s AS (SELECT max(nb)::BIGINT AS n, count(*)::BIGINT AS k,
             |    sum(j * rj)::BIGINT AS l FROM rs)
             |SELECT n, k, l, 4 * l - n * k * (k + 1) * (k + 1) AS lnum_x
             |FROM s""".stripMargin)),

    // ----- Theil–Sen slope of the hourly cent-sum series — the
    // ROBUST trend companion of a50's Mann-Kendall (MK gives trend
    // SIGNIFICANCE from sign counts; Theil-Sen gives the MAGNITUDE,
    // immune to the outlier hours that wreck an OLS slope): median
    // over all pairwise slopes of the hourly grid. Grid-collapse
    // FIRST (the series is the calendar-bounded hourly grid, ~9k
    // rows/year, so the pair set is calendar²-bounded — wall-clock-
    // bounded, not data-bounded; for multi-year spans drop to the
    // monthly grid or pair-sample). Slopes are IEEE doubles rounded
    // to 9 dp (identical division both engines), the median picks
    // the two middle ranks exactly (upper+lower, averaged), and the
    // hourly index + slope rank ride unpartitioned windows over
    // DOMAIN-bounded frames — both whitelisted in RegistryLocksSpec
    // with their ceilings.
    QueryDef(
      "t_theil_sen",
      (s, d) => {
        val wh = org.apache.spark.sql.expressions.Window.orderBy("h")
        val g = events(s, d)
          .select(date_trunc("hour", col("ts")).as("h"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cv"))
          .groupBy("h").agg(sum("cv").as("y"))
        val ix = tracked(g.select(
          (row_number().over(wh) - 1).cast("long").as("x"), col("y")))
        val pr = ix.as("a").join(ix.as("b"), col("b.x") > col("a.x"))
          .select(round((col("b.y") - col("a.y")).cast("double")
            / (col("b.x") - col("a.x")).cast("double"), 9).as("sl"))
        val np = pr.agg(count(lit(1)).as("np"))
        val ws = org.apache.spark.sql.expressions.Window.orderBy("sl")
        pr.withColumn("rn", row_number().over(ws).cast("long"))
          .crossJoin(broadcast(np))
          .filter(col("rn") === expr("(np + 1) div 2")
            || col("rn") === expr("(np + 2) div 2"))
          .groupBy("np")
          .agg(round(avg("sl"), 6).as("theil_sen"))
          .select(col("np").as("n_pairs"), col("theil_sen"))
      },
      Some("""WITH g AS (SELECT date_trunc('hour', ts) AS h,
             |    sum(CAST(round(value * 100) AS BIGINT))::BIGINT AS y
             |  FROM events GROUP BY 1),
             |ix AS (SELECT row_number() OVER (ORDER BY h) - 1 AS x, y FROM g),
             |pr AS (SELECT round(CAST(b.y - a.y AS DOUBLE)
             |      / CAST(b.x - a.x AS DOUBLE), 9) AS sl
             |  FROM ix a JOIN ix b ON b.x > a.x),
             |n AS (SELECT count(*)::BIGINT AS np FROM pr),
             |srt AS (SELECT sl, row_number() OVER (ORDER BY sl) AS rn FROM pr)
             |SELECT (SELECT np FROM n) AS n_pairs,
             |  round(avg(sl), 6) AS theil_sen
             |FROM srt, n
             |WHERE rn IN ((np + 1) // 2, (np + 2) // 2)
             |GROUP BY 1""".stripMargin)),
    // ----- Wilcoxon signed-rank over the 24 paired hour-of-day cells
    // (click vs purchase cent sums) — the PAIRED companion of a38's
    // Mann-Whitney rank-sum: the two series share the diurnal level,
    // so differencing per hour removes it before ranking (unpaired
    // rank-sum would re-absorb the confound the pairing exists to
    // kill). Zero differences drop (Wilcoxon convention); tied |d|
    // take MIDRANKS kept exact by doubling — rank2 = 2·#{|d'|<|d|} +
    // #{|d'|=|d|} + 1 via self-join counting on the ≤24-row grid (no
    // unpartitioned window). W⁺ doubled is an exact integer; z from
    // the normal approximation is one sqrt (IEEE-correctly-rounded,
    // identical both engines). Scale: grid collapse first — the pair
    // set is 24², constant at any data scale.
    QueryDef(
      "a72_wilcoxon_signed",
      (s, d) => {
        val g = events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .select(hour(col("ts")).cast("long").as("hod"),
            col("event_type"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cv"))
          .groupBy("hod", "event_type").agg(sum("cv").as("cents"))
        val p = g.groupBy("hod")
          .agg(sum(when(col("event_type") === "click", col("cents"))
              .otherwise(0L)).as("c1"),
            sum(when(col("event_type") === "purchase", col("cents"))
              .otherwise(0L)).as("c2"),
            count(lit(1)).as("nt"))
          .filter(col("nt") === 2L)
          .select(col("hod"), (col("c1") - col("c2")).as("d"))
        val nz = tracked(p.filter(col("d") =!= 0L)
          .withColumn("ad", abs(col("d"))))
        val rk = nz.as("a").crossJoin(broadcast(nz.as("b")))
          .groupBy(col("a.hod").as("hod"), col("a.d").as("d"),
            col("a.ad").as("ad"))
          .agg((sum(when(col("b.ad") < col("a.ad"), 2L).otherwise(0L))
            + sum(when(col("b.ad") === col("a.ad"), 1L).otherwise(0L))
            + lit(1L))
            .as("r2"))
        rk.agg(count(lit(1)).as("n"),
            sum(when(col("d") > 0L, col("r2")).otherwise(0L)).as("wp2"))
          .select(col("n"), col("wp2"),
            round(((lit(2L) * col("wp2")
                - col("n") * (col("n") + 1L)).cast("double") / 2.0)
              / sqrt((col("n") * (col("n") + 1L)
                * (lit(2L) * col("n") + 1L)).cast("double") / 6.0), 6)
              .as("z"))
      },
      Some("""WITH g AS (
             |  SELECT CAST(extract(hour FROM ts) AS BIGINT) AS hod, event_type,
             |         sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents
             |  FROM events WHERE event_type IN ('click','purchase')
             |  GROUP BY 1,2),
             |p AS (
             |  SELECT hod,
             |    sum(CASE WHEN event_type='click' THEN cents ELSE 0 END)::BIGINT -
             |    sum(CASE WHEN event_type='purchase' THEN cents ELSE 0 END)::BIGINT AS d
             |  FROM g GROUP BY 1 HAVING count(*) = 2),
             |nz AS (SELECT hod, d, abs(d) AS ad FROM p WHERE d <> 0),
             |rk AS (
             |  SELECT a.hod, a.d,
             |    (sum(CASE WHEN b.ad < a.ad THEN 2 ELSE 0 END)
             |     + sum(CASE WHEN b.ad = a.ad THEN 1 ELSE 0 END)
             |     + 1)::BIGINT AS r2
             |  FROM nz a JOIN nz b ON TRUE GROUP BY 1, 2),
             |s AS (SELECT count(*)::BIGINT AS n,
             |        sum(CASE WHEN d > 0 THEN r2 ELSE 0 END)::BIGINT AS wp2
             |      FROM rk)
             |SELECT n, wp2,
             |  round((CAST(2*wp2 - n*(n+1) AS DOUBLE) / 2.0)
             |    / sqrt(CAST(n*(n+1)*(2*n+1) AS DOUBLE)/6.0), 6) AS z
             |FROM s""".stripMargin)),

    // ----- Brown–Forsythe homogeneity-of-variance test across the 5
    // event types — the GATE in front of every mean-comparison in the
    // battery (Welch a54 assumes unequal variances; BF says whether
    // plain ANOVA would even be admissible, and robustly: deviations
    // from the MEDIAN, not the mean, so one heavy-tailed type cannot
    // fake heteroscedasticity). Exactness ladder: per-type DOUBLED
    // median (two middle order stats summed — exact integer even for
    // even n), z2 = |2·cents − meddbl| exact integer per row, group
    // sufficient stats (nj, Σz2, Σz2²) exact longs; the only doubles
    // are one sj²/nj division per group ROUNDED to a scaled integer
    // (×100) before the cross-group sum — so the sum order cannot
    // matter — and the final F division. Ceiling: Σz2²·100 ≤ 9·10¹⁸
    // holds through ~6·10⁶ rows at these cent magnitudes; scale the
    // deviation units (cents → dollars) past that.
    QueryDef(
      "a73_brown_forsythe",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy("c")
        val x = tracked(events(s, d).filter(col("value").isNotNull)
          .select(col("event_type").as("g"),
            expr("CAST(round(value * 100) AS BIGINT)").as("c")))
        val o = x.withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("g")))
        val med = o.groupBy("g")
          .agg((sum(when(col("rn") === expr("(n + 1) div 2"), col("c"))
              .otherwise(0L))
            + sum(when(col("rn") === expr("(n + 2) div 2"), col("c"))
              .otherwise(0L))).as("meddbl"))
        val z = x.join(med, Seq("g"))
          .select(col("g"),
            abs(lit(2L) * col("c") - col("meddbl")).as("z2"))
        val st = z.groupBy("g")
          .agg(count(lit(1)).as("nj"), sum("z2").as("sj"),
            sum(col("z2") * col("z2")).as("qj"))
        st.agg(sum("nj").as("n"), count(lit(1)).as("k"),
            sum("sj").as("sg"), sum("qj").as("q"),
            sum(expr("CAST(round(CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE)" +
              " / CAST(nj AS DOUBLE) * 100.0) AS BIGINT)")).as("a"))
          .select(col("k"), col("n"),
            round((expr("CAST(a - CAST(round(CAST(sg AS DOUBLE)" +
                " * CAST(sg AS DOUBLE) / CAST(n AS DOUBLE) * 100.0)" +
                " AS BIGINT) AS DOUBLE)") / (col("k") - 1L).cast("double"))
              / (expr("CAST(100 * q - a AS DOUBLE)")
                / (col("n") - col("k")).cast("double")), 6).as("f"))
      },
      Some("""WITH x AS (SELECT event_type AS g,
             |    CAST(round(value*100) AS BIGINT) AS c
             |  FROM events WHERE value IS NOT NULL),
             |o AS (SELECT g, c,
             |    CAST(row_number() OVER (PARTITION BY g ORDER BY c) AS BIGINT) AS rn,
             |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n FROM x),
             |med AS (SELECT g,
             |    (sum(CASE WHEN rn = (n+1)//2 THEN c ELSE 0 END)
             |     + sum(CASE WHEN rn = (n+2)//2 THEN c ELSE 0 END))::BIGINT AS meddbl
             |  FROM o GROUP BY 1),
             |z AS (SELECT x.g, abs(2*x.c - med.meddbl) AS z2
             |  FROM x JOIN med USING (g)),
             |st AS (SELECT g, count(*)::BIGINT AS nj, sum(z2)::BIGINT AS sj,
             |    sum(z2*z2)::BIGINT AS qj FROM z GROUP BY 1),
             |agg AS (SELECT sum(nj)::BIGINT AS n, count(*)::BIGINT AS k,
             |    sum(sj)::BIGINT AS sg, sum(qj)::BIGINT AS q,
             |    sum(CAST(round(CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE)
             |      / CAST(nj AS DOUBLE) * 100.0) AS BIGINT))::BIGINT AS a
             |  FROM st)
             |SELECT k, n,
             |  round((CAST(a - CAST(round(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
             |      / CAST(n AS DOUBLE) * 100.0) AS BIGINT) AS DOUBLE)
             |      / CAST(k - 1 AS DOUBLE))
             |    / (CAST(100 * q - a AS DOUBLE) / CAST(n - k AS DOUBLE)), 6) AS f
             |FROM agg""".stripMargin)),

    // ----- SPRT (sequential probability ratio test) on the purchase
    // rate over the hourly grid — the EXPERIMENTER'S stopping read:
    // "at which hour could this test have stopped, and which way".
    // H₀: p = 0.15 vs H₁: p = 0.25, α = β = 0.05. Log-LR as a
    // PINNED-INTEGER-CONSTANT ladder (the a66 move — no runtime
    // transcendentals): per success +round(ln(p₁/p₀)·10⁹), per
    // failure +round(ln(q₁/q₀)·10⁹), boundaries ±round(ln(19)·10⁹);
    // cumulative counts are exact longs so the walk is exact in the
    // lattice. Grid collapse FIRST: the cumulative window rides the
    // hourly calendar grid (whitelisted), never rows. One row out:
    // first crossing hour + decision (NULLs when the walk never
    // leaves the continue band), anchored on the final-hour state so
    // the no-crossing case still emits. Ceiling: cn·|L| ≤ 9·10¹⁸
    // holds to ~10¹⁰ events.
    QueryDef(
      "a74_sprt",
      (s, d) => {
        val L1 = 510825624L   // round(ln(0.25/0.15)·1e9)
        val L0 = -125163143L  // round(ln(0.75/0.85)·1e9)
        val A9 = 2944438979L  // round(ln(0.95/0.05)·1e9)
        val wh = org.apache.spark.sql.expressions.Window.orderBy("hr")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val g = events(s, d)
          .groupBy(unix_millis(date_trunc("hour", col("ts"))).as("hr"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("sv"))
        val l = tracked(g
          .withColumn("cs", sum("sv").over(wh))
          .withColumn("cn", sum("n").over(wh))
          .select(col("hr"), col("cn"),
            (col("cs") * L1 + (col("cn") - col("cs")) * L0).as("llr9")))
        val first = l
          .filter(col("llr9") >= A9 || col("llr9") <= -A9)
          .orderBy("hr").limit(1)
          .select(col("hr").as("cross_hr"),
            when(col("llr9") >= A9, "accept_h1").otherwise("accept_h0")
              .as("decision"),
            col("cn").as("n_at_cross"), col("llr9").as("llr9_at_cross"))
        val last = l.orderBy(col("hr").desc).limit(1)
          .select(col("llr9").as("llr9_final"))
        last.join(first, lit(true), "left")
          .select(col("cross_hr"), col("decision"), col("n_at_cross"),
            col("llr9_at_cross"), col("llr9_final"))
      },
      Some("""WITH g AS (
             |  SELECT epoch_ms(date_trunc('hour', ts))::BIGINT AS hr,
             |    count(*)::BIGINT AS n,
             |    sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END)::BIGINT AS sv
             |  FROM events GROUP BY 1),
             |c AS (SELECT hr,
             |    CAST(sum(sv) OVER (ORDER BY hr ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs,
             |    CAST(sum(n) OVER (ORDER BY hr ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cn
             |  FROM g),
             |l AS (SELECT hr, cn,
             |    cs*510825624 + (cn-cs)*(-125163143) AS llr9 FROM c),
             |first AS (SELECT hr AS cross_hr,
             |    CASE WHEN llr9 >= 2944438979 THEN 'accept_h1'
             |         ELSE 'accept_h0' END AS decision,
             |    cn AS n_at_cross, llr9 AS llr9_at_cross
             |  FROM l WHERE llr9 >= 2944438979 OR llr9 <= -2944438979
             |  ORDER BY hr LIMIT 1),
             |last AS (SELECT llr9 AS llr9_final FROM l ORDER BY hr DESC LIMIT 1)
             |SELECT f.cross_hr, f.decision, f.n_at_cross, f.llr9_at_cross,
             |       l.llr9_final
             |FROM last l LEFT JOIN first f ON TRUE""".stripMargin)),

    // ----- Mantel–Haenszel pooled odds ratio across the 24 hour-of-
    // day strata (exposure = user-id parity, the a22 assignment;
    // outcome = purchase) — the STRATIFIED effect estimate that
    // Simpson's paradox demands: a crude 2×2 OR mixes the diurnal
    // composition into the effect; MH pools the per-stratum ORs with
    // the canonical a·d/n weights. Per-stratum cells are exact longs
    // collapsed first; each a·d·10⁶/n term is one integer division
    // (both engines truncate toward zero on non-negatives — the
    // measured r8 agreement), so the cross-stratum sums are exact
    // integer sums and only the final ratio is a rounded double.
    // Ceiling: a·d·10⁶ ≤ 9·10¹⁸ holds to ~3·10⁶ events/stratum.
    QueryDef(
      "a75_mantel_haenszel",
      (s, d) => {
        val cell = events(s, d)
          .select(hour(col("ts")).cast("long").as("hod"),
            (col("user_id") % 2).cast("long").as("e"),
            when(col("event_type") === "purchase", 1L).otherwise(0L)
              .as("y"))
          .groupBy("hod")
          .agg(sum(when(col("e") === 1L && col("y") === 1L, 1L)
              .otherwise(0L)).as("a"),
            sum(when(col("e") === 1L && col("y") === 0L, 1L)
              .otherwise(0L)).as("b"),
            sum(when(col("e") === 0L && col("y") === 1L, 1L)
              .otherwise(0L)).as("c"),
            sum(when(col("e") === 0L && col("y") === 0L, 1L)
              .otherwise(0L)).as("d"))
        cell.filter(col("a") + col("b") + col("c") + col("d") > 0L)
          .select(
            expr("(a * d * 1000000) div (a + b + c + d)").as("num6"),
            expr("(b * c * 1000000) div (a + b + c + d)").as("den6"))
          .agg(count(lit(1)).as("n_strata"), sum("num6").as("num6"),
            sum("den6").as("den6"))
          .select(col("n_strata"), col("num6"), col("den6"),
            round(col("num6").cast("double") / col("den6").cast("double"),
              6).as("or_mh"))
      },
      Some("""WITH t AS (SELECT CAST(extract(hour FROM ts) AS BIGINT) AS hod,
             |    CAST(user_id % 2 AS BIGINT) AS e,
             |    CASE WHEN event_type='purchase' THEN 1 ELSE 0 END AS y
             |  FROM events),
             |cell AS (SELECT hod,
             |    sum(CASE WHEN e=1 AND y=1 THEN 1 ELSE 0 END)::BIGINT AS a,
             |    sum(CASE WHEN e=1 AND y=0 THEN 1 ELSE 0 END)::BIGINT AS b,
             |    sum(CASE WHEN e=0 AND y=1 THEN 1 ELSE 0 END)::BIGINT AS c,
             |    sum(CASE WHEN e=0 AND y=0 THEN 1 ELSE 0 END)::BIGINT AS d
             |  FROM t GROUP BY 1),
             |terms AS (SELECT
             |    (a*d*1000000)//(a+b+c+d) AS num6,
             |    (b*c*1000000)//(a+b+c+d) AS den6
             |  FROM cell WHERE a+b+c+d > 0)
             |SELECT count(*)::BIGINT AS n_strata, sum(num6)::BIGINT AS num6,
             |  sum(den6)::BIGINT AS den6,
             |  round(CAST(sum(num6) AS DOUBLE)/CAST(sum(den6) AS DOUBLE), 6)
             |    AS or_mh
             |FROM terms""".stripMargin)),

    // ----- Ljung–Box portmanteau over the hourly count series — the
    // WHITE-NOISE GATE t_autocorrelation's per-lag reads roll up to:
    // one statistic saying whether ANY autocorrelation survives at
    // lags 1..12 (the residual check after t_seasonal_residual /
    // t_holt_forecast claim to have explained the structure). Per
    // lag: the same six exact-long sufficient statistics as the ACF
    // (Pearson over aligned pairs — row-lag on the observed grid),
    // ρ_k one double division; each ρ_k²/(n−k) term is ROUNDED to a
    // ×10¹⁵ integer before the cross-lag sum so the 12-term addition
    // order cannot matter (the a73 move), and Q = n(n+2)·Σterm/10¹⁵
    // is the single final rounding. Scale: collapse to the calendar-
    // bounded hourly grid first; 12 window-lag passes over ≤9k rows.
    QueryDef(
      "t_ljung_box",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val hourly = hourlyCounts(s, d)
        val ow = Window.orderBy("hr")
        val lags = (1 to 12).toSeq
        val withLags = tracked(hourly.select(
          (col("cnt") +: lags.map(l =>
            lag("cnt", l).over(ow).as(s"l$l"))): _*))
        val nfull = hourly.agg(count(lit(1)).as("nf"))
        val perLag = lags.map { l =>
          withLags.filter(col(s"l$l").isNotNull)
            .agg(lit(l.toLong).as("lag"), count(lit(1)).as("n"),
              sum("cnt").as("sy"), sum(s"l$l").as("sx"),
              sum(col("cnt") * col("cnt")).as("syy"),
              sum(col(s"l$l") * col(s"l$l")).as("sxx"),
              sum(col("cnt") * col(s"l$l")).as("sxy"))
        }.reduce(_ unionAll _)
        perLag.crossJoin(broadcast(nfull))
          .withColumn("num",
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double"))
          .withColumn("dd",
            sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("double")
              * (col("n") * col("syy") - col("sy") * col("sy"))
                .cast("double")))
          .withColumn("term15", expr(
            "CAST(round(num / dd * (num / dd) / CAST(nf - lag AS DOUBLE)" +
              " * 1000000000000000.0) AS BIGINT)"))
          .agg(max("nf").as("n"), count(lit(1)).as("n_lags"),
            sum("term15").as("sterm"))
          .select(col("n"), col("n_lags"),
            round((col("n") * (col("n") + 2L)).cast("double")
              * col("sterm").cast("double") / 1.0e15, 6).as("q_lb"))
      },
      Some("""WITH hourly AS (
             |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hr,
             |         count(*) AS cnt
             |  FROM events GROUP BY 1),
             |lags AS (SELECT unnest([1,2,3,4,5,6,7,8,9,10,11,12]) AS lag),
             |pairs AS (SELECT l.lag, CAST(h.cnt AS BIGINT) AS y,
             |    CAST(lag(h.cnt, l.lag)
             |      OVER (PARTITION BY l.lag ORDER BY h.hr) AS BIGINT) AS x
             |  FROM hourly h, lags l),
             |nf AS (SELECT count(*)::BIGINT AS nf FROM hourly),
             |st AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x) AS BIGINT) AS sx,
             |    CAST(sum(y*y) AS BIGINT) AS syy, CAST(sum(x*x) AS BIGINT) AS sxx,
             |    CAST(sum(y*x) AS BIGINT) AS sxy
             |  FROM pairs WHERE x IS NOT NULL GROUP BY 1),
             |terms AS (SELECT st.lag,
             |    CAST(round(
             |      (CAST(st.n*st.sxy - st.sx*st.sy AS DOUBLE)
             |        / sqrt(CAST(st.n*st.sxx - st.sx*st.sx AS DOUBLE)
             |             * CAST(st.n*st.syy - st.sy*st.sy AS DOUBLE)))
             |      * (CAST(st.n*st.sxy - st.sx*st.sy AS DOUBLE)
             |        / sqrt(CAST(st.n*st.sxx - st.sx*st.sx AS DOUBLE)
             |             * CAST(st.n*st.syy - st.sy*st.sy AS DOUBLE)))
             |      / CAST(nf.nf - st.lag AS DOUBLE)
             |      * 1000000000000000.0) AS BIGINT) AS term15
             |  FROM st, nf)
             |SELECT (SELECT nf FROM nf) AS n, count(*)::BIGINT AS n_lags,
             |  round(CAST((SELECT nf FROM nf) * ((SELECT nf FROM nf) + 2)
             |      AS DOUBLE)
             |    * CAST(sum(term15) AS DOUBLE) / 1e15, 6) AS q_lb
             |FROM terms""".stripMargin)),
    // ----- Hodges–Lehmann pseudomedian of the paired hour-of-day
    // differences — the LOCATION estimate a72's signed-rank test is
    // implicitly testing (the median of Walsh averages (dᵢ+dⱼ)/2,
    // i ≤ j): robust like the plain median but ~1.5× more efficient
    // at the normal, the canonical "how big is the paired effect"
    // companion to "is there one". Exactness: Walsh averages kept
    // DOUBLED (dᵢ+dⱼ exact longs), the median picks the two middle
    // ranks exactly (t_theil_sen's move), one final /4 rounding.
    // Scale: grid collapse first — the Walsh set is 24·25/2 = 300
    // pairs, constant at any data scale (whitelisted rank window).
    QueryDef(
      "a76_hodges_lehmann",
      (s, d) => {
        val g = events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .select(hour(col("ts")).cast("long").as("hod"),
            col("event_type"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cv"))
          .groupBy("hod", "event_type").agg(sum("cv").as("cents"))
        val p = tracked(g.groupBy("hod")
          .agg(sum(when(col("event_type") === "click", col("cents"))
              .otherwise(0L)).as("c1"),
            sum(when(col("event_type") === "purchase", col("cents"))
              .otherwise(0L)).as("c2"),
            count(lit(1)).as("nt"))
          .filter(col("nt") === 2L)
          .select(col("hod"), (col("c1") - col("c2")).as("d")))
        val walsh = p.as("a").join(p.as("b"),
            col("a.hod") <= col("b.hod"))
          .select((col("a.d") + col("b.d")).as("w2"))
        val np = walsh.agg(count(lit(1)).as("np"))
        val wr = org.apache.spark.sql.expressions.Window.orderBy("w2")
        walsh.withColumn("rn", row_number().over(wr).cast("long"))
          .crossJoin(broadcast(np))
          .filter(col("rn") === expr("(np + 1) div 2")
            || col("rn") === expr("(np + 2) div 2"))
          .groupBy("np")
          .agg(round(avg("w2") / 2.0, 6).as("hl"))
          .select(col("np").as("n_pairs"), col("hl"))
      },
      Some("""WITH g AS (
             |  SELECT CAST(extract(hour FROM ts) AS BIGINT) AS hod, event_type,
             |         sum(CAST(round(value*100) AS BIGINT))::BIGINT AS cents
             |  FROM events WHERE event_type IN ('click','purchase')
             |  GROUP BY 1,2),
             |p AS (
             |  SELECT hod,
             |    sum(CASE WHEN event_type='click' THEN cents ELSE 0 END)::BIGINT -
             |    sum(CASE WHEN event_type='purchase' THEN cents ELSE 0 END)::BIGINT AS d
             |  FROM g GROUP BY 1 HAVING count(*) = 2),
             |walsh AS (SELECT a.d + b.d AS w2 FROM p a JOIN p b ON a.hod <= b.hod),
             |n AS (SELECT count(*)::BIGINT AS np FROM walsh),
             |srt AS (SELECT w2, row_number() OVER (ORDER BY w2) AS rn FROM walsh)
             |SELECT (SELECT np FROM n) AS n_pairs, round(avg(w2) / 2.0, 6) AS hl
             |FROM srt, n WHERE rn IN ((np + 1) // 2, (np + 2) // 2)
             |GROUP BY 1""".stripMargin)),

    // ----- Backfill RANGES per event type — the pipeline-ops read on
    // top of the calendar spine: t_gap_fill interpolates values over
    // gaps; this emits the WORK ORDER — for every event type, the
    // contiguous runs of hours with NO data (the partitions a
    // backfill job must re-materialize), as [gap_start, gap_end]
    // ranges with lengths. Missing = |types|×|calendar| grid
    // anti-joined against observed (hr, type) pairs — both
    // calendar-bounded; ranges via the hr − row_number island key
    // over a PER-TYPE window (lock-clean). At 100 TB the observed
    // set collapses to distinct (hour, type) at the first agg; the
    // spine join is metadata-sized.
    QueryDef(
      "ops_backfill_ranges",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("hr")
        val obs = tracked(events(s, d)
          .select((unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
            .cast("long").as("hr"), col("event_type"))
          .distinct())
        val spine = obs.agg(min("hr").as("__lo"), max("hr").as("__hi"))
          .select(explode(sequence(col("__lo"), col("__hi"))).as("hr"))
        val types = obs.select("event_type").distinct()
        types.crossJoin(spine)
          .join(obs, Seq("event_type", "hr"), "left_anti")
          .withColumn("isl", col("hr") - row_number().over(w))
          .groupBy("event_type", "isl")
          .agg(min("hr").as("gap_start_hr"), max("hr").as("gap_end_hr"),
            count(lit(1)).as("n_hours"))
          .select(col("event_type"), col("gap_start_hr"),
            col("gap_end_hr"), col("n_hours"))
          .orderBy("event_type", "gap_start_hr")
      },
      Some("""WITH obs AS (
             |  SELECT DISTINCT
             |    CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hr,
             |    event_type
             |  FROM events),
             |spine AS (SELECT unnest(generate_series(min(hr), max(hr))) AS hr
             |          FROM obs),
             |types AS (SELECT DISTINCT event_type FROM obs),
             |missing AS (
             |  SELECT t.event_type, s.hr
             |  FROM types t CROSS JOIN spine s
             |  LEFT JOIN obs o ON o.event_type = t.event_type AND o.hr = s.hr
             |  WHERE o.hr IS NULL),
             |isl AS (SELECT event_type, hr,
             |    hr - row_number() OVER (PARTITION BY event_type ORDER BY hr)
             |      AS isl
             |  FROM missing)
             |SELECT event_type, min(hr)::BIGINT AS gap_start_hr,
             |  max(hr)::BIGINT AS gap_end_hr, count(*)::BIGINT AS n_hours
             |FROM isl GROUP BY event_type, isl
             |ORDER BY event_type, gap_start_hr""".stripMargin)),
    // ----- PACF at lags 1..8 via Durbin–Levinson — the time-series
    // triad closer (t_autocorrelation: which lags correlate;
    // t_ljung_box: does ANY; PACF: which lags correlate DIRECTLY,
    // with the shorter lags partialed out — the AR-order chooser: an
    // AR(p) series cuts off after lag p in PACF while its ACF decays
    // forever). Exactness ladder: the 6 exact-long sufficient
    // statistics per lag (the ACF recipe), ρ_k rounded to 9 dp —
    // identical doubles both engines — then the DL recursion
    // (φ_kk = (ρ_k − Σⱼ φ_{k−1,j}·ρ_{k−j}) / v; φ update; v shrink)
    // replayed with IDENTICAL op order: ascending-j left fold,
    // (1 − pk·pk) parenthesization — Scala foldLeft here, a
    // list_reduce(list_prepend(0.0, …)) fold in the mirror — every
    // op IEEE-exact-rounded on identical inputs, so the outputs are
    // bit-equal without any integer lattice. The recursion runs on
    // the driver over the 8-value grid (bounded-constant — the a51
    // boundary); everything data-sized is the distributed stats
    // pass. Mirror: the same 8 DL steps as a linear CTE chain over
    // list columns, rho MATERIALIZED so the chain cannot re-scan
    // events per step.
    QueryDef(
      "t_pacf",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val kMax = 8
        val hourly = hourlyCounts(s, d)
        val ow = Window.orderBy("hr")
        val lags = (1 to kMax).toSeq
        val withLags = tracked(hourly.select(
          (col("cnt") +: lags.map(l =>
            lag("cnt", l).over(ow).as(s"l$l"))): _*))
        val perLag = lags.map { l =>
          withLags.filter(col(s"l$l").isNotNull)
            .agg(lit(l.toLong).as("lag"), count(lit(1)).as("n"),
              sum("cnt").as("sy"), sum(s"l$l").as("sx"),
              sum(col("cnt") * col("cnt")).as("syy"),
              sum(col(s"l$l") * col(s"l$l")).as("sxx"),
              sum(col("cnt") * col(s"l$l")).as("sxy"))
        }.reduce(_ unionAll _)
        val rhoFrame = perLag
          .select(col("lag"),
            round((col("n") * col("sxy") - col("sx") * col("sy"))
              .cast("double")
              / sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double")
                * (col("n") * col("syy") - col("sy") * col("sy"))
                  .cast("double")), 9).as("r"))
        val rho = graft.ops.Grids.boundedRows(rhoFrame, kMax, "t_pacf_rho")
          .map(r => (r.getLong(0).toInt, r.getDouble(1))).toMap
        var phis = Map(1 -> rho(1))
        var v = 1.0 - rho(1) * rho(1)
        val out = scala.collection.mutable.ArrayBuffer((1L, rho(1)))
        for (k <- 2 to kMax) {
          val acc = (1 until k).foldLeft(0.0)((a, j) =>
            a + phis(j) * rho(k - j))
          val pk = (rho(k) - acc) / v
          phis = (1 until k).map(j =>
            j -> (phis(j) - pk * phis(k - j))).toMap + (k -> pk)
          v = v * (1.0 - pk * pk)
          out += ((k.toLong, pk))
        }
        import s.implicits._
        out.toSeq.toDF("lag", "p")
          .select(col("lag"), round(col("p"), 6).as("pacf"))
          .orderBy("lag")
      },
      Some(pacfSql)),
    // ----- Five-number summary per event type with EXACT type-7
    // quartiles (the boxplot contract: R/pandas default quantile
    // semantics, not an approximation): h = (n−1)p + 1 lands on
    // quarter fractions for p ∈ {¼,½,¾}, so 4·q = (4−r)·c⌊h⌋ +
    // r·c⌈h⌉ is an EXACT integer — reported ×4 rather than divided
    // (the doubled-median move, taken to quarters). a12's
    // percentile_approx family gives the ε-approximate at-scale
    // read; this is the exact one for bounded group counts: one
    // partitioned rank window (lock-clean), a 3-quarter × |groups|
    // position spine, and a rank-equijoin picks the two bracketing
    // order statistics per quartile.
    QueryDef(
      "w18_five_number",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy("c")
        val x = events(s, d).filter(col("value").isNotNull)
          .select(col("event_type").as("g"),
            expr("CAST(round(value * 100) AS BIGINT)").as("c"))
        val o = tracked(x
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("g"))))
        val gs = o.groupBy("g")
          .agg(max("n").as("n"), min("c").as("mn"), max("c").as("mx"))
        val qp = gs.crossJoin(broadcast(
            s.range(1, 4).select(col("id").as("p"))))
          .select(col("g"), col("p"),
            expr("((n - 1) * p + 4) div 4").as("lo"),
            expr("CASE WHEN ((n - 1) * p + 4) % 4 = 0" +
              " THEN ((n - 1) * p + 4) div 4" +
              " ELSE ((n - 1) * p + 4) div 4 + 1 END").as("hi"),
            expr("((n - 1) * p + 4) % 4").as("r"))
        val qv = qp.join(o,
            qp("g") === o("g")
              && (o("rn") === qp("lo") || o("rn") === qp("hi")))
          .select(qp("g").as("g"), col("p"), col("lo"), col("hi"),
            col("r"), col("rn"), col("c"))
          .groupBy("g", "p")
          .agg((sum(when(col("rn") === col("lo"),
              (lit(4L) - col("r")) * col("c")).otherwise(0L))
            + sum(when(col("rn") === col("hi") && col("r") > 0L,
              col("r") * col("c")).otherwise(0L))).as("q4"))
        gs.join(qv, Seq("g"))
          .groupBy(col("g").as("event_type"), col("n"),
            col("mn").as("min_cents"), col("mx").as("max_cents"))
          .agg(sum(when(col("p") === 1L, col("q4")).otherwise(0L))
              .as("q1_x4"),
            sum(when(col("p") === 2L, col("q4")).otherwise(0L))
              .as("med_x4"),
            sum(when(col("p") === 3L, col("q4")).otherwise(0L))
              .as("q3_x4"))
          .orderBy("event_type")
      },
      Some("""WITH x AS (SELECT event_type AS g,
             |    CAST(round(value*100) AS BIGINT) AS c
             |  FROM events WHERE value IS NOT NULL),
             |o AS (SELECT g, c,
             |    CAST(row_number() OVER (PARTITION BY g ORDER BY c) AS BIGINT) AS rn,
             |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n FROM x),
             |gs AS (SELECT g, max(n) AS n, min(c) AS mn, max(c) AS mx
             |  FROM o GROUP BY 1),
             |qp AS (SELECT g, n, p, ((n-1)*p + 4) // 4 AS lo,
             |    CASE WHEN ((n-1)*p + 4) % 4 = 0 THEN ((n-1)*p + 4) // 4
             |         ELSE ((n-1)*p + 4) // 4 + 1 END AS hi,
             |    ((n-1)*p + 4) % 4 AS r
             |  FROM gs, (SELECT unnest([1,2,3]) AS p)),
             |qv AS (SELECT q.g, q.p,
             |    sum(CASE WHEN o.rn = q.lo THEN (4 - q.r) * o.c ELSE 0 END)
             |    + sum(CASE WHEN o.rn = q.hi AND q.r > 0 THEN q.r * o.c
             |          ELSE 0 END) AS q4
             |  FROM qp q JOIN o ON o.g = q.g AND (o.rn = q.lo OR o.rn = q.hi)
             |  GROUP BY 1, 2)
             |SELECT gs.g AS event_type, gs.n, gs.mn AS min_cents,
             |  gs.mx AS max_cents,
             |  CAST(sum(CASE WHEN p = 1 THEN q4 ELSE 0 END) AS BIGINT) AS q1_x4,
             |  CAST(sum(CASE WHEN p = 2 THEN q4 ELSE 0 END) AS BIGINT) AS med_x4,
             |  CAST(sum(CASE WHEN p = 3 THEN q4 ELSE 0 END) AS BIGINT) AS q3_x4
             |FROM gs JOIN qv ON qv.g = gs.g
             |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin)),

    // ----- Map-side COMBINE benefit per candidate aggregation key —
    // the shuffle-planner gauge: partial (map-side) aggregation
    // reduces a shuffle from n rows to Σ_partition ndv(key) rows, so
    // the benefit is 1 − Σ_b ndv_b / n — near 1 for low-cardinality
    // keys (event_type: combine collapses almost everything before
    // the exchange), near 0 when the key is unique-per-row (combine
    // is pure overhead; Spark's partialAggSkipping exists for this
    // case). Measured over a pinned 32-bucket proxy partitioning
    // (user_id % 32 — deterministic, engine-agnostic) for three
    // candidate keys; ratio as one ×10⁶ integer division. At 100 TB
    // this table IS the decision input for agg-heavy DAGs: it says
    // which groupBys to leave to the partial-agg default and which
    // to pre-bucket.
    QueryDef(
      "ops_combine_benefit",
      (s, d) => {
        val e = tracked(events(s, d)
          .select(col("event_type"), col("user_id"),
            (col("user_id") % 32).as("b")))
        def arm(name: String,
            groupsOf: DataFrame => org.apache.spark.sql.Column,
            perBucket: DataFrame => DataFrame): DataFrame = {
          val pg = perBucket(e).agg(sum("cnt").as("partial_groups"))
          e.agg(count(lit(1)).as("n"), groupsOf(e).as("groups"))
            .crossJoin(broadcast(pg))
            .select(lit(name).as("key_name"), col("n"), col("groups"),
              col("partial_groups"),
              expr("((n - partial_groups) * 1000000) div n")
                .as("combine_ratio6"))
        }
        val a1 = arm("event_type", _ => countDistinct(col("event_type")),
          df => df.groupBy("b").agg(countDistinct(col("event_type")).as("cnt")))
        val a2 = arm("user_id", _ => countDistinct(col("user_id")),
          df => df.groupBy("b").agg(countDistinct(col("user_id")).as("cnt")))
        val a3 = arm("user_id,event_type",
          _ => countDistinct(col("user_id"), col("event_type")),
          df => df.groupBy("b")
            .agg(countDistinct(col("user_id"), col("event_type")).as("cnt")))
        a1.unionAll(a2).unionAll(a3).orderBy("key_name")
      },
      Some("""WITH e AS (SELECT event_type, user_id, user_id % 32 AS b
             |  FROM events),
             |k AS (
             |  SELECT 'event_type' AS key_name, count(*)::BIGINT AS n,
             |    count(DISTINCT event_type)::BIGINT AS groups,
             |    (SELECT sum(cnt)::BIGINT FROM (
             |      SELECT count(DISTINCT event_type) AS cnt FROM e GROUP BY b))
             |      AS partial_groups
             |  FROM e
             |  UNION ALL
             |  SELECT 'user_id', count(*)::BIGINT, count(DISTINCT user_id)::BIGINT,
             |    (SELECT sum(cnt)::BIGINT FROM (
             |      SELECT count(DISTINCT user_id) AS cnt FROM e GROUP BY b))
             |  FROM e
             |  UNION ALL
             |  SELECT 'user_id,event_type', count(*)::BIGINT,
             |    count(DISTINCT (user_id, event_type))::BIGINT,
             |    (SELECT sum(cnt)::BIGINT FROM (
             |      SELECT count(DISTINCT (user_id, event_type)) AS cnt
             |      FROM e GROUP BY b))
             |  FROM e)
             |SELECT key_name, n, groups, partial_groups,
             |  ((n - partial_groups) * 1000000) // n AS combine_ratio6
             |FROM k ORDER BY key_name""".stripMargin)),
    // ----- NEAREST-in-time as-of join (pandas merge_asof
    // direction='nearest') — the third member of the as-of family:
    // j2 takes the last PRIOR click, j15 interpolates BETWEEN
    // brackets; nearest takes whichever side is temporally closer
    // (sensor alignment, "which campaign touch does this purchase
    // belong to"). Formulated as the classic MERGE, not two asof
    // passes: union purchases and clicks per user, one ordered
    // window pass — prior = last click over (unbounded, −1), next =
    // first click over (1, unbounded), both ignoreNulls — with the
    // (ts, tag, eid) sort putting equal-timestamp clicks BEFORE the
    // purchase so a 0-gap click is the prior (tie → prior, pinned).
    // Integer epoch-millis gaps; per-user partitioned windows
    // (lock-clean); one shuffle for the union sort. At 100 TB this
    // beats two asof joins: one exchange instead of two, and the
    // click stream is never joined, only interleaved.
    QueryDef(
      "j17_asof_nearest",
      (s, d) => {
        val W = org.apache.spark.sql.expressions.Window
        val w = W.partitionBy("user_id").orderBy("tsm", "tag", "eid")
        val ev = events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("eid"), col("user_id"),
            unix_millis(col("ts")).as("tsm"), lit(1L).as("tag"),
            lit(null).cast("long").as("cval"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("eid"), col("user_id"),
            unix_millis(col("ts")).as("tsm"), lit(0L).as("tag"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cval"))
        val merged = purchases.unionAll(clicks)
          .withColumn("p_ts", last(when(col("tag") === 0L, col("tsm")),
            ignoreNulls = true).over(w.rowsBetween(W.unboundedPreceding, -1)))
          .withColumn("p_val", last(col("cval"), ignoreNulls = true)
            .over(w.rowsBetween(W.unboundedPreceding, -1)))
          .withColumn("n_ts", first(when(col("tag") === 0L, col("tsm")),
            ignoreNulls = true).over(w.rowsBetween(1, W.unboundedFollowing)))
          .withColumn("n_val", first(col("cval"), ignoreNulls = true)
            .over(w.rowsBetween(1, W.unboundedFollowing)))
        merged.filter(col("tag") === 1L)
          .select(col("eid").as("event_id"), col("user_id"), col("tsm"),
            when(col("p_ts").isNull && col("n_ts").isNull, lit(null))
              .when(col("n_ts").isNull
                || (col("p_ts").isNotNull
                  && col("tsm") - col("p_ts") <= col("n_ts") - col("tsm")),
                lit("prior")).otherwise(lit("next")).as("dir"),
            when(col("p_ts").isNull && col("n_ts").isNull, lit(null))
              .when(col("n_ts").isNull
                || (col("p_ts").isNotNull
                  && col("tsm") - col("p_ts") <= col("n_ts") - col("tsm")),
                col("tsm") - col("p_ts"))
              .otherwise(col("n_ts") - col("tsm")).as("gap_ms"),
            when(col("p_ts").isNull && col("n_ts").isNull, lit(null))
              .when(col("n_ts").isNull
                || (col("p_ts").isNotNull
                  && col("tsm") - col("p_ts") <= col("n_ts") - col("tsm")),
                col("p_val")).otherwise(col("n_val")).as("click_cents"))
          .orderBy("event_id")
      },
      Some("""WITH m AS (
             |  SELECT event_id AS eid, user_id, epoch_ms(ts)::BIGINT AS tsm,
             |    CAST(1 AS BIGINT) AS tag, CAST(NULL AS BIGINT) AS cval
             |  FROM events WHERE event_type = 'purchase'
             |  UNION ALL
             |  SELECT event_id, user_id, epoch_ms(ts)::BIGINT,
             |    CAST(0 AS BIGINT), CAST(round(value * 100) AS BIGINT)
             |  FROM events WHERE event_type = 'click'),
             |w AS (SELECT eid, user_id, tsm, tag,
             |    last_value(CASE WHEN tag = 0 THEN tsm END IGNORE NULLS) OVER
             |      (PARTITION BY user_id ORDER BY tsm, tag, eid
             |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS p_ts,
             |    last_value(cval IGNORE NULLS) OVER
             |      (PARTITION BY user_id ORDER BY tsm, tag, eid
             |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS p_val,
             |    first_value(CASE WHEN tag = 0 THEN tsm END IGNORE NULLS) OVER
             |      (PARTITION BY user_id ORDER BY tsm, tag, eid
             |       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS n_ts,
             |    first_value(cval IGNORE NULLS) OVER
             |      (PARTITION BY user_id ORDER BY tsm, tag, eid
             |       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS n_val
             |  FROM m)
             |SELECT eid AS event_id, user_id, tsm,
             |  CASE WHEN p_ts IS NULL AND n_ts IS NULL THEN NULL
             |    WHEN n_ts IS NULL OR (p_ts IS NOT NULL
             |      AND tsm - p_ts <= n_ts - tsm) THEN 'prior'
             |    ELSE 'next' END AS dir,
             |  CASE WHEN p_ts IS NULL AND n_ts IS NULL THEN NULL
             |    WHEN n_ts IS NULL OR (p_ts IS NOT NULL
             |      AND tsm - p_ts <= n_ts - tsm) THEN tsm - p_ts
             |    ELSE n_ts - tsm END AS gap_ms,
             |  CASE WHEN p_ts IS NULL AND n_ts IS NULL THEN NULL
             |    WHEN n_ts IS NULL OR (p_ts IS NOT NULL
             |      AND tsm - p_ts <= n_ts - tsm) THEN p_val
             |    ELSE n_val END AS click_cents
             |FROM w WHERE tag = 1 ORDER BY event_id""".stripMargin)),
    // ----- Two-sample Cramér–von Mises over the rounded-cents grid —
    // the INTEGRATED-square companion of a30's KS (KS reads the max
    // CDF gap and is blind to many small ones; CvM integrates the
    // squared gap over the combined empirical measure, the shape-
    // difference read a distribution-shift monitor wants when the
    // shift is diffuse). Same grid discipline as a30: tie-collapse to
    // distinct cents FIRST (domain-bounded, whitelisted cumulative),
    // cumulative counts exact longs; each grid value's
    // w·((cf·m − cg·n)/(nm))² term is two identical double divisions
    // ROUNDED to a ×10⁹ integer before the cross-value sum (the a73
    // move — cf·m squared would overflow longs at sf0.1), and
    // T = nm/N²·Σ is the single final rounding.
    QueryDef(
      "a77_cramer_von_mises",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window.orderBy("c")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val grid = events(s, d)
          .filter(col("event_type").isin("click", "purchase")
            && col("value").isNotNull)
          .select(col("event_type").as("g"),
            expr("CAST(round(value * 100) AS BIGINT)").as("c"))
          .groupBy("c")
          .agg(sum(when(col("g") === "click", 1L).otherwise(0L)).as("w1"),
            sum(when(col("g") === "purchase", 1L).otherwise(0L)).as("w2"))
        val gc = tracked(grid)
        val tot = gc.agg(sum("w1").as("n"), sum("w2").as("m"))
        gc.withColumn("cf", sum("w1").over(w))
          .withColumn("cg", sum("w2").over(w))
          .crossJoin(broadcast(tot))
          .select(expr("CAST(round(CAST(w1 + w2 AS DOUBLE)" +
            " * (CAST(cf * m - cg * n AS DOUBLE) / CAST(n * m AS DOUBLE))" +
            " * (CAST(cf * m - cg * n AS DOUBLE) / CAST(n * m AS DOUBLE))" +
            " * 1000000000.0) AS BIGINT)").as("t9"),
            col("n"), col("m"))
          .groupBy("n", "m")
          .agg(sum("t9").as("sum_t9"))
          .select(col("n"), col("m"), col("sum_t9"),
            round(col("n").cast("double") * col("m").cast("double")
              / (col("n") + col("m")).cast("double")
              / (col("n") + col("m")).cast("double")
              * col("sum_t9").cast("double") / 1.0e9, 6).as("t_cvm"))
      },
      Some("""WITH x AS (SELECT event_type AS g,
             |    CAST(round(value*100) AS BIGINT) AS c
             |  FROM events
             |  WHERE event_type IN ('click','purchase') AND value IS NOT NULL),
             |grid AS (SELECT c,
             |    sum(CASE WHEN g='click' THEN 1 ELSE 0 END)::BIGINT AS w1,
             |    sum(CASE WHEN g='purchase' THEN 1 ELSE 0 END)::BIGINT AS w2
             |  FROM x GROUP BY 1),
             |tot AS (SELECT sum(w1)::BIGINT AS n, sum(w2)::BIGINT AS m
             |  FROM grid),
             |cum AS (SELECT c, w1 + w2 AS w,
             |    sum(w1) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)::BIGINT AS cf,
             |    sum(w2) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)::BIGINT AS cg
             |  FROM grid),
             |terms AS (SELECT CAST(round(CAST(w AS DOUBLE)
             |    * (CAST(cf*(SELECT m FROM tot) - cg*(SELECT n FROM tot) AS DOUBLE)
             |       / CAST((SELECT n FROM tot)*(SELECT m FROM tot) AS DOUBLE))
             |    * (CAST(cf*(SELECT m FROM tot) - cg*(SELECT n FROM tot) AS DOUBLE)
             |       / CAST((SELECT n FROM tot)*(SELECT m FROM tot) AS DOUBLE))
             |    * 1000000000.0) AS BIGINT) AS t9
             |  FROM cum)
             |SELECT (SELECT n FROM tot) AS n, (SELECT m FROM tot) AS m,
             |  CAST(sum(t9) AS BIGINT) AS sum_t9,
             |  round(CAST((SELECT n FROM tot) AS DOUBLE) * (SELECT m FROM tot)
             |    / ((SELECT n FROM tot) + (SELECT m FROM tot))
             |    / ((SELECT n FROM tot) + (SELECT m FROM tot))
             |    * CAST(sum(t9) AS DOUBLE) / 1e9, 6) AS t_cvm
             |FROM terms""".stripMargin)),
    // ----- Seasonal Mann–Kendall (Hirsch–Slack) — a50's trend
    // significance made diurnal-proof: the plain MK over an hourly
    // series reads the day cycle itself as "trend"; the seasonal
    // variant computes S within each hour-of-day season (same-season
    // day pairs only) and sums across seasons, so only day-over-day
    // movement at the SAME clock hour counts. S exact integer (sign
    // counts over the calendar²-bounded per-season day-pair join,
    // ≤365²·24/2 ≈ 1.6M pairs/year — a join, not a window); variance
    // by the no-ties formula Σnⱼ(nⱼ−1)(2nⱼ+5)/18 (tie correction
    // omitted — cent-sum ties are measure-zero and S itself is exact
    // regardless), z one continuity-corrected sqrt.
    QueryDef(
      "a78_seasonal_mk",
      (s, d) => {
        val g = tracked(events(s, d)
          .select(hour(col("ts")).cast("long").as("hod"),
            date_trunc("day", col("ts")).as("day"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cv"))
          .groupBy("hod", "day").agg(sum("cv").as("c")))
        val pairs = g.as("a").join(g.as("b"),
            col("a.hod") === col("b.hod") && col("b.day") > col("a.day"))
          .select(col("a.hod").as("hod"),
            when(col("b.c") > col("a.c"), 1L)
              .when(col("b.c") < col("a.c"), -1L).otherwise(0L).as("sg"))
        val ss = pairs.groupBy("hod").agg(sum("sg").as("sv"))
        val nn = g.groupBy("hod").agg(count(lit(1)).as("n"))
        ss.join(nn, Seq("hod"))
          .agg(count(lit(1)).as("k"), sum("sv").as("s_total"),
            sum(expr("n * (n - 1) * (2 * n + 5)")).as("v18_total"))
          .select(col("k"), col("s_total"), col("v18_total"),
            round((col("s_total").cast("double")
              - when(col("s_total") > 0L, 1.0)
                .when(col("s_total") < 0L, -1.0).otherwise(0.0))
              / sqrt(col("v18_total").cast("double") / 18.0), 6).as("z"))
      },
      Some("""WITH g AS (SELECT CAST(extract(hour FROM ts) AS BIGINT) AS hod,
             |    date_trunc('day', ts) AS day,
             |    sum(CAST(round(value*100) AS BIGINT))::BIGINT AS c
             |  FROM events GROUP BY 1, 2),
             |p AS (SELECT a.hod,
             |    CASE WHEN b.c > a.c THEN 1 WHEN b.c < a.c THEN -1
             |         ELSE 0 END AS sg
             |  FROM g a JOIN g b ON a.hod = b.hod AND b.day > a.day),
             |ss AS (SELECT hod, sum(sg)::BIGINT AS sv FROM p GROUP BY 1),
             |nn AS (SELECT hod, count(*)::BIGINT AS n FROM g GROUP BY 1),
             |v AS (SELECT ss.hod, ss.sv, nn.n,
             |    nn.n*(nn.n-1)*(2*nn.n+5) AS v18 FROM ss JOIN nn USING (hod))
             |SELECT count(*)::BIGINT AS k, sum(sv)::BIGINT AS s_total,
             |  sum(v18)::BIGINT AS v18_total,
             |  round((CAST(sum(sv) AS DOUBLE) - CASE WHEN sum(sv) > 0 THEN 1.0
             |      WHEN sum(sv) < 0 THEN -1.0 ELSE 0.0 END)
             |    / sqrt(CAST(sum(v18) AS DOUBLE) / 18.0), 6) AS z
             |FROM v""".stripMargin)),

    // ----- Pettitt change-point test — the rank-based single
    // change-point locator next to t_cusum (level-shift flags) and
    // a47 (binary segmentation on means): Pettitt is
    // distribution-free and integer-EXACT — U_t = Σ_{i≤t,j>t}
    // sgn(x_i − x_j) reduces to 2·Σ_{i≤t} r_i − t(n+1) with r the
    // midranks, so with DOUBLED midranks (the a72 move) both U and
    // its max are exact longs and the argmax HOUR is hash-verified,
    // not just the statistic. Midranks via self-join counting on the
    // calendar-bounded hourly grid (≤9k²/yr² pairs); the running
    // rank sum is one whitelisted grid window; argmax tie pinned to
    // the earliest t.
    QueryDef(
      "t_pettitt",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window.orderBy("t")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val wr = org.apache.spark.sql.expressions.Window.orderBy("hr")
        val idx = tracked(events(s, d)
          .groupBy((unix_timestamp(date_trunc("hour", col("ts"))) / 3600)
            .cast("long").as("hr"))
          .agg(count(lit(1)).as("c"))
          .withColumn("t", row_number().over(wr).cast("long")))
        val nf = idx.agg(count(lit(1)).as("n"))
        val rk = idx.as("a").crossJoin(broadcast(
            idx.select(col("c").as("bc"))))
          .groupBy(col("a.t").as("t"))
          .agg((sum(when(col("bc") < col("a.c"), 2L).otherwise(0L))
            + sum(when(col("bc") === col("a.c"), 1L).otherwise(0L))
            + lit(1L))
            .as("r2"))
        val u = tracked(rk.crossJoin(broadcast(nf))
          .withColumn("cum", sum("r2").over(w))
          .select(col("t"), col("n"),
            (lit(2L) * col("cum") - lit(2L) * col("t") * (col("n") + 1L))
              .as("u2")))
        val mx = u.agg(max(abs(col("u2"))).as("k2"))
        u.crossJoin(broadcast(mx))
          .filter(abs(col("u2")) === col("k2"))
          .groupBy("n", "k2").agg(min("t").as("t_star"))
          .select(col("n"), col("k2"), col("t_star"))
      },
      Some("""WITH h AS (SELECT
             |    CAST(epoch(date_trunc('hour', ts)) AS BIGINT)//3600 AS hr,
             |    count(*)::BIGINT AS c FROM events GROUP BY 1),
             |idx AS (SELECT hr, c,
             |    row_number() OVER (ORDER BY hr)::BIGINT AS t FROM h),
             |n AS (SELECT count(*)::BIGINT AS n FROM idx),
             |rk AS (SELECT a.t,
             |    (sum(CASE WHEN b.c < a.c THEN 2 ELSE 0 END)
             |     + sum(CASE WHEN b.c = a.c THEN 1 ELSE 0 END)
             |     + 1)::BIGINT AS r2
             |  FROM idx a JOIN idx b ON TRUE GROUP BY 1),
             |u AS (SELECT t,
             |    2*CAST(sum(r2) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
             |      AS BIGINT) - 2*t*((SELECT n FROM n) + 1) AS u2
             |  FROM rk)
             |SELECT (SELECT n FROM n) AS n, max(abs(u2))::BIGINT AS k2,
             |  (SELECT min(t) FROM u
             |   WHERE abs(u2) = (SELECT max(abs(u2)) FROM u)) AS t_star
             |FROM u""".stripMargin)),
    // ----- Forecast-skill gauge (Theil's U2 shape) — the "is there
    // exploitable structure" read in front of t_holt_forecast: MAE
    // of the seasonal-naive forecaster (ŷ_t = y_{t−24}) against MAE
    // of plain persistence (ŷ_t = y_{t−1}) over the SAME aligned
    // hours (both lags non-null, so the comparison is paired, not
    // coverage-confounded). skill < 1 ⇒ the 24 h cycle carries real
    // signal a seasonal model should exploit; ≥ 1 ⇒ persistence is
    // unbeaten and a seasonal model is decoration. All exact longs
    // (Σ|Δ| sums on the calendar-bounded hourly grid, two row-lags
    // over the whitelisted t_autocorrelation window), one rounded
    // division.
    QueryDef(
      "t_forecast_skill",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ow = Window.orderBy("hr")
        val hourly = hourlyCounts(s, d)
        hourly
          .withColumn("l1", lag("cnt", 1).over(ow))
          .withColumn("l24", lag("cnt", 24).over(ow))
          .filter(col("l1").isNotNull && col("l24").isNotNull)
          .agg(count(lit(1)).as("n"),
            sum(abs(col("cnt") - col("l1"))).as("mae1_sum"),
            sum(abs(col("cnt") - col("l24"))).as("mae24_sum"))
          .select(col("n"), col("mae1_sum"), col("mae24_sum"),
            round(col("mae24_sum").cast("double")
              / col("mae1_sum").cast("double"), 6).as("skill_u2"))
      },
      Some("""WITH hourly AS (
             |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hr,
             |         count(*)::BIGINT AS cnt
             |  FROM events GROUP BY 1),
             |l AS (SELECT cnt,
             |    lag(cnt, 1) OVER (ORDER BY hr) AS l1,
             |    lag(cnt, 24) OVER (ORDER BY hr) AS l24
             |  FROM hourly)
             |SELECT count(*)::BIGINT AS n,
             |  sum(abs(cnt - l1))::BIGINT AS mae1_sum,
             |  sum(abs(cnt - l24))::BIGINT AS mae24_sum,
             |  round(CAST(sum(abs(cnt - l24)) AS DOUBLE)
             |    / CAST(sum(abs(cnt - l1)) AS DOUBLE), 6) AS skill_u2
             |FROM l WHERE l1 IS NOT NULL AND l24 IS NOT NULL""".stripMargin)),
  ) :+ shapleyQuery :+ conformalQuery :+ medianOfMeansQuery

  /** DuckDB mirror for t_pacf: the identical 9-dp ρ ladder, then the
    * 8 Durbin–Levinson steps unrolled as a linear CTE chain over
    * LIST columns — the inner Σⱼ as an ascending
    * list_reduce(list_prepend(0.0, …)) fold matching the Scala
    * foldLeft's op order exactly (every double op IEEE-exact-rounded
    * on identical inputs ⇒ bit-equal φ_kk without integer lattices).
    * `rl` is MATERIALIZED so the per-step chain cannot re-derive the
    * stats scan.
    */
  private def pacfSql: String = {
    val steps = (2 to 8).map { k =>
      s"""t$k AS (SELECT rho, phis, v,
         |    (rho[$k] - list_reduce(list_prepend(0.0,
         |        list_transform(range(1, $k), j -> phis[j] * rho[$k-j])),
         |      (a, b) -> a + b)) / v AS pk
         |  FROM s${k - 1}),
         |s$k AS (SELECT rho,
         |    list_append(list_transform(range(1, $k),
         |      j -> phis[j] - pk * phis[$k-j]), pk) AS phis,
         |    v * (1.0 - pk * pk) AS v
         |  FROM t$k)""".stripMargin
    }.mkString(",\n")
    val union = (2 to 8)
      .map(k => s"  UNION ALL SELECT $k, round((SELECT pk FROM t$k), 6)")
      .mkString("\n")
    s"""WITH hourly AS (
       |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hr,
       |         count(*) AS cnt
       |  FROM events GROUP BY 1),
       |lags AS (SELECT unnest([1,2,3,4,5,6,7,8]) AS lag),
       |pairs AS (SELECT l.lag, CAST(h.cnt AS BIGINT) AS y,
       |    CAST(lag(h.cnt, l.lag) OVER (PARTITION BY l.lag ORDER BY h.hr)
       |      AS BIGINT) AS x
       |  FROM hourly h, lags l),
       |st AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x) AS BIGINT) AS sx,
       |    CAST(sum(y*y) AS BIGINT) AS syy, CAST(sum(x*x) AS BIGINT) AS sxx,
       |    CAST(sum(y*x) AS BIGINT) AS sxy
       |  FROM pairs WHERE x IS NOT NULL GROUP BY 1),
       |rho0 AS (SELECT lag, round(CAST(n*sxy - sx*sy AS DOUBLE)
       |    / sqrt(CAST(n*sxx - sx*sx AS DOUBLE)
       |         * CAST(n*syy - sy*sy AS DOUBLE)), 9) AS r
       |  FROM st),
       |rl AS MATERIALIZED (SELECT list(r ORDER BY lag) AS rho FROM rho0),
       |s1 AS (SELECT rho, [rho[1]] AS phis, 1.0 - rho[1]*rho[1] AS v FROM rl),
       |$steps
       |SELECT CAST(lag AS BIGINT) AS lag, pacf FROM (
       |  SELECT 1 AS lag, round((SELECT rho[1] FROM rl), 6) AS pacf
       |$union
       |) ORDER BY lag""".stripMargin
  }

  /** DuckDB mirror for a51: identical journey extraction, then the
    * 8 integer value-iteration rounds UNROLLED as CTEs (the
    * Hits.Sql/Sssp.Sql pattern — recursive CTEs disallow grouped
    * self-reference, so pinned-round iterations unroll).
    */
  private def markovRemovalSql(k: Int): String = {
    // every CTE AS MATERIALIZED (round-15 oracle decomposition): the
    // diffs/base tail references v_k multiple times and each v_i
    // references tr, so left inlined DuckDB re-evaluated the full
    // events window scan ~20× — 92 s of the 434 s oracle total;
    // materialized the replay is ~2 s with identical longs.
    val Scale = "1000000000000"
    val rounds = (1 to k).map { i =>
      s"""v$i AS MATERIALIZED (SELECT sc.scen, tr.src AS st,
         |    CASE WHEN sc.scen = tr.src THEN CAST(0 AS BIGINT) ELSE
         |      CAST(sum(tr.n * (CASE WHEN tr.dst = '__CONV__' THEN $Scale
         |        WHEN tr.dst = '__NULL__' THEN 0
         |        ELSE COALESCE(vp.v, 0) END)) // tr.tot AS BIGINT) END AS v
         |  FROM scen sc CROSS JOIN tr
         |  LEFT JOIN v${i - 1} vp ON vp.scen = sc.scen AND vp.st = tr.dst
         |  GROUP BY sc.scen, tr.src, tr.tot)""".stripMargin
    }.mkString(",\n")
    s"""WITH seq AS MATERIALIZED (SELECT user_id, event_type,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS rn
       |  FROM events),
       |fp AS MATERIALIZED (SELECT user_id, min(rn) AS frn FROM seq
       |  WHERE event_type = 'purchase' GROUP BY 1),
       |tch AS MATERIALIZED (SELECT s.user_id, s.event_type, s.rn, fp.frn
       |  FROM seq s LEFT JOIN fp USING (user_id)
       |  WHERE fp.frn IS NULL OR s.rn < fp.frn),
       |eg AS MATERIALIZED (SELECT COALESCE(lag(event_type) OVER
       |      (PARTITION BY user_id ORDER BY rn), '__START__') AS src,
       |    event_type AS dst FROM tch),
       |term AS MATERIALIZED (SELECT t.event_type AS src,
       |    CASE WHEN t.frn IS NOT NULL THEN '__CONV__'
       |         ELSE '__NULL__' END AS dst
       |  FROM tch t
       |  JOIN (SELECT user_id, max(rn) AS mrn FROM tch GROUP BY 1) lastt
       |    ON t.user_id = lastt.user_id AND t.rn = lastt.mrn),
       |direct AS MATERIALIZED (SELECT '__START__' AS src, '__CONV__' AS dst
       |  FROM fp LEFT JOIN (SELECT DISTINCT user_id FROM tch) tu
       |    USING (user_id)
       |  WHERE tu.user_id IS NULL),
       |alle AS MATERIALIZED (SELECT src, dst FROM eg UNION ALL SELECT src, dst FROM term
       |  UNION ALL SELECT src, dst FROM direct),
       |trc AS MATERIALIZED (SELECT src, dst, CAST(count(*) AS BIGINT) AS n
       |  FROM alle GROUP BY 1, 2),
       |tr AS MATERIALIZED (SELECT src, dst, n,
       |    CAST(sum(n) OVER (PARTITION BY src) AS BIGINT) AS tot FROM trc),
       |scen AS MATERIALIZED (SELECT '__base__' AS scen
       |  UNION ALL SELECT DISTINCT src FROM tr WHERE src <> '__START__'),
       |v0 AS MATERIALIZED (SELECT sc.scen, tr2.src AS st, CAST(0 AS BIGINT) AS v
       |  FROM scen sc CROSS JOIN (SELECT DISTINCT src FROM tr) tr2),
       |$rounds,
       |base AS MATERIALIZED (SELECT v AS vb FROM v$k
       |  WHERE scen = '__base__' AND st = '__START__'),
       |diffs AS MATERIALIZED (SELECT scen AS channel, vb, vb - v AS diff FROM v$k, base
       |  WHERE scen <> '__base__' AND st = '__START__')
       |SELECT channel, round(CAST(vb AS DOUBLE)/$Scale, 6) AS p_conv_base,
       |  round(CAST(diff AS DOUBLE)/CAST(vb AS DOUBLE), 6)
       |    AS removal_effect,
       |  round(CAST(diff AS DOUBLE)
       |    /CAST((SELECT sum(diff) FROM diffs) AS DOUBLE), 6) AS share
       |FROM diffs
       |WHERE vb > 0 AND (SELECT sum(diff) FROM diffs) > 0
       |ORDER BY channel""".stripMargin
  }

  /** EXACT Shapley-value attribution — the third and game-theoretic
    * member of the attribution family (a23 positional conventions,
    * a51 Markov removal effects, and now the axiomatically-fair
    * split: Shapley is the UNIQUE credit assignment satisfying
    * efficiency/symmetry/dummy/additivity). Exact computation is
    * exponential in channels — feasible HERE because the
    * characteristic function collapses to a 2⁴-subset grid first:
    * journeys are 6 h gap sessions (the a36 convention) reduced to a
    * (channel-bitmask, conversions, sessions) table, so the fact
    * scan is two user-partitioned windows + one grouped count and
    * the 4!·marginal enumeration runs on ≤ 15 rows whatever the data
    * scale (at >~10 channels this pivots to permutation sampling —
    * documented, not silently assumed away). v(S) = conversion rate
    * of sessions whose touch set is exactly S, v(∅) = 0 and absent
    * sets → 0 by convention (purchase-first sessions carry no
    * attribution question and are excluded). Weights |S|!(n−1−|S|)!
    * ride ×4! as exact integers {6,2,2,6}; φ_c folds its 8 marginal
    * terms in pinned mask order over a packed list (bit-identical
    * float op sequence both engines) with ONE final /24.
    */
  private[queries] def shapleyQuery: QueryDef =
    QueryDef(
      "a53_shapley_attribution",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = events(s, d).select(col("user_id"), col("event_type"),
          col("event_id"), unix_timestamp(col("ts")).as("tsec"))
        val si = SessionIslands.withSid(ev, "tsec", Seq(col("tsec"), col("event_id")),
          SessionIslands.GapSeconds, inclusive = false)
        val seq = tracked(si.withColumn("rn", row_number().over(
          Window.partitionBy("user_id", "sid")
            .orderBy(col("tsec"), col("event_id"))).cast("long")))
        val fp = seq.filter(col("event_type") === "purchase")
          .groupBy("user_id", "sid").agg(min("rn").as("frn"))
        val tch = seq.join(fp, Seq("user_id", "sid"), "left")
          .filter((col("frn").isNull || col("rn") < col("frn")) &&
            col("event_type") =!= "purchase")
        val grid = tch.groupBy("user_id", "sid")
          .agg(bit_or(when(col("event_type") === "view", 1L)
            .when(col("event_type") === "click", 2L)
            .when(col("event_type") === "signup", 4L)
            .when(col("event_type") === "error", 8L)).as("mask"),
            max(when(col("frn").isNotNull, 1L).otherwise(0L)).as("conv"))
          .groupBy("mask")
          .agg(count(lit(1)).as("users"), sum("conv").as("convs"))
        val g1 = grid.select(col("mask"),
          (col("convs").cast("double") / col("users").cast("double")).as("v"))
        val ch = s.range(0, 4).select(
          expr("CAST(shiftleft(1L, CAST(id AS INT)) AS BIGINT)").as("c"),
          element_at(array(lit("view"), lit("click"), lit("signup"),
            lit("error")), col("id").cast("int") + 1).as("channel"))
        val sub = s.range(0, 16).select(col("id").as("sm"))
        val terms = ch.crossJoin(sub)
          .filter((col("sm").bitwiseAND(col("c"))) === 0)
          .join(broadcast(g1.select(col("mask").as("sm"), col("v").as("v0"))),
            Seq("sm"), "left")
          .join(broadcast(g1.select(col("mask").as("smc"), col("v").as("v1"))),
            col("smc") === col("sm") + col("c"), "left")
          .select(col("channel"), col("sm"),
            (when(bit_count(col("sm")) === 0, 6.0)
              .when(bit_count(col("sm")) === 1, 2.0)
              .when(bit_count(col("sm")) === 2, 2.0)
              .otherwise(6.0) *
              (coalesce(col("v1"), lit(0.0)) - coalesce(col("v0"), lit(0.0))))
              .as("term"))
        terms.groupBy("channel")
          .agg(sort_array(collect_list(struct(col("sm"), col("term"))))
            .as("xs"))
          .select(col("channel"),
            round(expr("aggregate(xs, CAST(0.0 AS DOUBLE)," +
              " (acc, x) -> acc + x.term)") / 24.0, 6).as("phi"))
          .orderBy("channel")
      },
      Some(s"""WITH ev AS (SELECT user_id, event_type, event_id,
             |    ${SessionIslands.Sql.seconds} AS tsec FROM events),
             |${SessionIslands.Sql.islands("ev", "tsec", Seq("tsec", "event_id"),
                 SessionIslands.GapSeconds.toString, inclusive = false)},
             |seq AS (SELECT user_id, sid, event_type,
             |    CAST(row_number() OVER (PARTITION BY user_id, sid
             |      ORDER BY tsec, event_id) AS BIGINT) AS rn FROM si),
             |fp AS (SELECT user_id, sid, min(rn) AS frn FROM seq
             |  WHERE event_type = 'purchase' GROUP BY 1, 2),
             |tch AS (SELECT s.user_id, s.sid, s.event_type, fp.frn
             |  FROM seq s LEFT JOIN fp USING (user_id, sid)
             |  WHERE (fp.frn IS NULL OR s.rn < fp.frn)
             |    AND s.event_type <> 'purchase'),
             |um AS (SELECT user_id, sid,
             |    CAST(bit_or(CASE event_type WHEN 'view' THEN 1
             |      WHEN 'click' THEN 2 WHEN 'signup' THEN 4
             |      WHEN 'error' THEN 8 END) AS BIGINT) AS mask,
             |    CAST(max(CASE WHEN frn IS NOT NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS conv
             |  FROM tch GROUP BY 1, 2),
             |grid AS (SELECT mask, CAST(count(*) AS BIGINT) AS users,
             |    CAST(sum(conv) AS BIGINT) AS convs FROM um GROUP BY 1),
             |g1 AS (SELECT mask, CAST(convs AS DOUBLE)/CAST(users AS DOUBLE)
             |    AS v FROM grid),
             |ch AS (SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'view'),
             |  (2, 'click'), (4, 'signup'), (8, 'error')) t(c, channel)),
             |sub AS (SELECT CAST(range AS BIGINT) AS sm FROM range(0, 16)),
             |terms AS (SELECT ch.channel, sub.sm,
             |    (CASE bit_count(sub.sm) WHEN 0 THEN 6.0 WHEN 1 THEN 2.0
             |      WHEN 2 THEN 2.0 ELSE 6.0 END)
             |    * (COALESCE(v1.v, 0.0) - COALESCE(v0.v, 0.0)) AS term
             |  FROM ch JOIN sub ON (sub.sm & ch.c) = 0
             |  LEFT JOIN g1 v0 ON v0.mask = sub.sm
             |  LEFT JOIN g1 v1 ON v1.mask = sub.sm + ch.c),
             |packed AS (SELECT channel,
             |    list_sort(list(struct_pack(sm := sm, term := term))) AS xs
             |  FROM terms GROUP BY 1)
             |SELECT channel,
             |  round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |    list_transform(xs, x -> x.term)), (a, v) -> a + v) / 24.0, 6)
             |    AS phi
             |FROM packed ORDER BY channel""".stripMargin))

  /** Split-CONFORMAL prediction interval with measured coverage — the
    * distribution-free uncertainty wrapper modern ML serving puts
    * around ANY point forecaster (here the hour-of-day seasonal mean
    * of E194): no Gaussian assumption, no model internals, just the
    * exchangeability-backed guarantee that the interval built from
    * the ⌈(n+1)(1−α)⌉-th calibration residual covers ≥ 1−α of
    * future points. Time-split discipline (train days < 14,
    * calibrate 14-21, test ≥ 22 — calendar-forward, never random,
    * the tx44 leakage rule applied to time series); the measured
    * test coverage rides the output as the self-certifying check
    * (0.9167 ≥ 0.9 at sf0.01). Exactness: predictions pinned to
    * div(Σ·1000, n) scaled integers, residuals exact longs, the
    * conformal quantile an exact ORDER STATISTIC over the packed
    * bounded calibration list (≤ 192 entries — grid-collapse-first:
    * the fact scan ends at the hourly grid), coverage ONE pinned
    * division.
    */
  private[queries] def conformalQuery: QueryDef =
    QueryDef(
      "a55_conformal_interval",
      (s, d) => {
        val g = events(s, d).groupBy(
          call_function("div", unix_micros(col("ts")), lit(86400000000L))
            .as("day"),
          hour(col("ts")).cast("long").as("hr"))
          .agg(count(lit(1)).as("cnt"))
        val d0 = g.agg(min("day").as("dmin"))
        val gg = tracked(g.crossJoin(broadcast(d0))
          .select((col("day") - col("dmin")).as("di"), col("hr"),
            col("cnt")))
        val pred = gg.filter(col("di") < 14).groupBy("hr")
          .agg(sum("cnt").as("s"), count(lit(1)).as("n"))
          .select(col("hr"),
            call_function("div", col("s") * 1000L, col("n")).as("p"))
        val cal = gg.filter(col("di") >= 14 && col("di") < 22)
          .join(broadcast(pred), Seq("hr"))
          .select(abs(col("cnt") * 1000L - col("p")).as("r"))
        val qh = cal
          .agg(sort_array(collect_list(col("r"))).as("rs"),
            count(lit(1)).as("n"))
          .select(element_at(col("rs"),
            least(call_function("div", lit(9L) * (col("n") + 1L) + 9L,
              lit(10L)), col("n")).cast("int")).as("qhat"),
            col("n"))
        gg.filter(col("di") >= 22).join(broadcast(pred), Seq("hr"))
          .crossJoin(broadcast(qh))
          .groupBy("n", "qhat")
          .agg(count(lit(1)).as("nt"),
            sum(when(abs(col("cnt") * 1000L - col("p")) <= col("qhat"), 1L)
              .otherwise(0L)).as("cov"))
          .select(col("n").as("n_cal"), col("nt").as("n_test"),
            col("qhat"),
            round(col("cov").cast("double") / col("nt").cast("double"), 6)
              .as("coverage"))
      },
      Some("""WITH g AS (SELECT epoch_us(ts) // 86400000000 AS day,
             |    CAST(hour(ts) AS BIGINT) AS hr,
             |    CAST(count(*) AS BIGINT) AS cnt
             |  FROM events GROUP BY 1, 2),
             |d0 AS (SELECT CAST(min(day) AS BIGINT) AS dmin FROM g),
             |gg AS (SELECT day - dmin AS di, hr, cnt FROM g, d0),
             |tr AS (SELECT hr, CAST(sum(cnt) AS BIGINT) AS s,
             |    CAST(count(*) AS BIGINT) AS n FROM gg WHERE di < 14
             |  GROUP BY 1),
             |pred AS (SELECT hr, s * 1000 // n AS p FROM tr),
             |cal AS (SELECT abs(gg.cnt * 1000 - p.p) AS r FROM gg
             |  JOIN pred p USING (hr) WHERE di >= 14 AND di < 22),
             |pk AS (SELECT list_sort(list(r)) AS rs,
             |    CAST(count(*) AS BIGINT) AS n FROM cal),
             |qh AS (SELECT rs[CAST(least((9*(n+1)+9)//10, n) AS INT)]
             |    AS qhat, n FROM pk),
             |tst AS (SELECT qh.n, qh.qhat, CAST(count(*) AS BIGINT) AS nt,
             |    CAST(sum(CASE WHEN abs(gg.cnt * 1000 - p.p) <= qh.qhat
             |      THEN 1 ELSE 0 END) AS BIGINT) AS cov
             |  FROM gg JOIN pred p USING (hr) CROSS JOIN qh WHERE di >= 22
             |  GROUP BY 1, 2)
             |SELECT n AS n_cal, nt AS n_test, qhat,
             |  round(CAST(cov AS DOUBLE)/CAST(nt AS DOUBLE), 6) AS coverage
             |FROM tst""".stripMargin))

  /** MEDIAN-OF-MEANS robust mean — the sub-Gaussian estimator that
    * completes the robust-location family (w7 MAD flags outliers,
    * a43-adjacent trimmed/trimean CUT them; MoM instead shards the
    * data into k deterministic blocks and takes the MEDIAN of block
    * means, so any minority of corrupted blocks is outvoted — the
    * estimator of choice in the heavy-tail literature because its
    * deviation bound needs only finite variance). Distribution
    * shape: block = id mod 15 (deterministic, so blocks are
    * reproducible across engines AND balanced); per-block integer
    * micro-sums are ONE scalars-only shuffle, the 15 block means one
    * pinned division each, the median an exact order statistic over
    * the packed 15-list. The plain mean rides alongside: the
    * fixture's 5% injected anomalies pull it 0.15 above MoM — the
    * gap IS the demonstration.
    */
  private[queries] def medianOfMeansQuery: QueryDef =
    QueryDef(
      "a56_median_of_means",
      (s, d) => {
        val x = events(s, d).select((col("event_id") % 15).as("blk"),
          expr("CAST(round(value*1000000) AS BIGINT)").as("v"))
        val b = x.groupBy("blk").agg(sum("v").as("s"), count(lit(1)).as("n"))
        val bm = b.select(
          (col("s").cast("double") / col("n").cast("double")).as("m"))
        val pk = bm.agg(sort_array(collect_list(col("m"))).as("ms"))
        val tot = b.agg(sum("s").as("ts"), sum("n").as("tn"))
        pk.crossJoin(broadcast(tot))
          .select(col("tn").as("n"),
            round(col("ts").cast("double") / col("tn").cast("double")
              / 1000000.0, 6).as("plain_mean"),
            round(element_at(col("ms"), 8) / 1000000.0, 6).as("mom_mean"))
      },
      Some("""WITH x AS (SELECT event_id % 15 AS blk,
             |    CAST(round(value*1000000) AS BIGINT) AS v FROM events),
             |b AS (SELECT blk, CAST(sum(v) AS BIGINT) AS s,
             |    CAST(count(*) AS BIGINT) AS n FROM x GROUP BY 1),
             |bm AS (SELECT CAST(s AS DOUBLE)/CAST(n AS DOUBLE) AS m FROM b),
             |pk AS (SELECT list_sort(list(m)) AS ms FROM bm),
             |tot AS (SELECT CAST(sum(s) AS BIGINT) AS ts,
             |    CAST(sum(n) AS BIGINT) AS tn FROM b)
             |SELECT tn AS n,
             |  round(CAST(ts AS DOUBLE)/CAST(tn AS DOUBLE)/1000000.0, 6)
             |    AS plain_mean,
             |  round(ms[8]/1000000.0, 6) AS mom_mean
             |FROM pk, tot""".stripMargin))
}


