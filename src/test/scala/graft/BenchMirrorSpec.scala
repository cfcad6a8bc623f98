package graft

import org.scalatest.funsuite.AnyFunSuite

/** The BENCH_TIMES.json mirror rules (round-10 verdict ask 2): an
  * alarmed entry must KEEP its pre-alarm baseline until attributed —
  * otherwise a silent recovery never alarms (ratio 0.16 < 2) and a
  * real regression is ratioed against the inflated prev. Encoded
  * against the literal r9 incident numbers.
  *
  * Round-11 additions: the in-run load sentinel (verdict ask 2 — the
  * jitter class fired in r8, r9, AND r10, each time costing a full
  * interleaved attribution cycle). A pinned control query is
  * interleaved through every tier; classifyAlarms marks an alarm whose tier's
  * control median drifted ≥1.8× the cross-run baseline as
  * `run_level_load` AT ALARM TIME — encoded against the literal r10
  * incident (four alarms at a common ~4.4× in a run whose wall was
  * itself 1.6× inflated).
  */
class BenchMirrorSpec extends AnyFunSuite {

  private val esc: String => String = identity

  test("alarmed entry keeps pre-alarm baseline and is flagged unattributed") {
    // the r9 incident: t_dtw 0.585 -> 3.655 (x6.25), curation 0.536 ->
    // 3.047 (x5.69); a clean query moves normally
    val prev = Map("headline/t_dtw" -> 0.585, "headline/cur" -> 0.536,
      "headline/ok" -> 1.0)
    val now = Seq("headline/t_dtw" -> 3.655, "headline/cur" -> 3.047,
      "headline/ok" -> 1.2)
    val spreads = Map("headline/t_dtw" -> (3.6, 3.7),
      "headline/cur" -> (3.0, 3.1), "headline/ok" -> (1.1, 1.3))
    val (t, s, u, _) = BenchMirror.merge(prev, Map.empty, Set.empty, now,
      spreads, Set.empty)
    val tm = t.toMap
    assert(tm("headline/t_dtw") == 0.585) // held, not poisoned
    assert(tm("headline/cur") == 0.536)
    assert(tm("headline/ok") == 1.2) // clean move accepted
    assert(u == Seq("headline/cur", "headline/t_dtw"))
    // an alarmed run's spread must not become the band either (the
    // next run would be spread-guarded against the ALARMED band)
    assert(!s.contains("headline/t_dtw"))
    assert(s("headline/ok") == (1.1, 1.3))
  }

  test("recovery auto-clears the unattributed flag and updates baseline") {
    // next round: the query measures 0.6 s against the HELD 0.585
    // baseline -> no alarm -> flag cleared, baseline becomes 0.6
    val prev = Map("headline/t_dtw" -> 0.585)
    val (t, _, u, _) = BenchMirror.merge(prev, Map.empty,
      Set("headline/t_dtw"), Seq("headline/t_dtw" -> 0.61),
      Map("headline/t_dtw" -> (0.59, 0.64)), Set.empty)
    assert(t.toMap.apply("headline/t_dtw") == 0.61)
    assert(u.isEmpty)
  }

  test("re-alarm against the held baseline stays unattributed") {
    val prev = Map("headline/t_dtw" -> 0.585)
    val (t, _, u, _) = BenchMirror.merge(prev, Map.empty,
      Set("headline/t_dtw"), Seq("headline/t_dtw" -> 3.5),
      Map.empty, Set.empty)
    assert(t.toMap.apply("headline/t_dtw") == 0.585)
    assert(u == Seq("headline/t_dtw"))
  }

  test("acceptance via SPARK_GRAFT_ACCEPT_MOVERS adopts the new baseline") {
    val prev = Map("headline/t_dtw" -> 0.585, "headline/cur" -> 0.536)
    val now = Seq("headline/t_dtw" -> 3.655, "headline/cur" -> 3.047)
    val (t, _, u, _) = BenchMirror.merge(prev, Map.empty, Set.empty, now,
      Map.empty, Set("headline/t_dtw"))
    assert(t.toMap.apply("headline/t_dtw") == 3.655) // attributed: real cost
    assert(t.toMap.apply("headline/cur") == 0.536)   // still held
    assert(u == Seq("headline/cur"))
    val (t2, _, u2, _) = BenchMirror.merge(prev, Map.empty, Set.empty, now,
      Map.empty, Set("*"))
    assert(t2.toMap.apply("headline/cur") == 3.047)
    assert(u2.isEmpty)
  }

  test("spread guard: new median inside the previous band never alarms") {
    // stress-tier roaming outliers (g3b 16-44 s in r8): ratio >= 2 but
    // inside the recorded band -> not an alarm, baseline moves
    val prev = Map("stress8x/g3b" -> 10.0)
    val (t, _, u, _) = BenchMirror.merge(prev,
      Map("stress8x/g3b" -> (8.0, 44.0)), Set.empty,
      Seq("stress8x/g3b" -> 33.0), Map.empty, Set.empty)
    assert(t.toMap.apply("stress8x/g3b") == 33.0)
    assert(u.isEmpty)
  }

  test("flagged entry not measured this run carries flag and baseline forward") {
    val prev = Map("heavy/x" -> 1.0, "headline/ok" -> 0.5)
    val (t, _, u, _) = BenchMirror.merge(prev, Map("heavy/x" -> (0.9, 1.1)),
      Set("heavy/x"), Seq("headline/ok" -> 0.55), Map.empty, Set.empty)
    assert(t.toMap.apply("heavy/x") == 1.0)
    assert(u == Seq("heavy/x"))
  }

  test("render/parse roundtrip is locale-proof and preserves flag arrays + wall") {
    val default = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY) // comma decimals
      val body = BenchMirror.render(
        Seq("a" -> 1.23456, "b" -> 0.0001), // 1e-4 must not go scientific
        Map("a" -> (1.2, 1.3)), Seq("b"), esc, Seq("a"), Some(1143.7))
      assert(body.contains("\"a\":1.235"))
      assert(!body.contains("1,2")) // no locale commas inside numbers
      assert(BenchMirror.parseTimes(body)("a") == 1.235)
      assert(BenchMirror.parseSpreads(body)("a") == (1.2, 1.3))
      assert(BenchMirror.parseUnattributed(body) == Set("b"))
      assert(BenchMirror.parseRunLevelLoad(body) == Set("a"))
      assert(BenchMirror.parseWall(body).contains(1143.7))
    } finally java.util.Locale.setDefault(default)
  }

  test("isAlarm thresholds: ratio >= 2 AND new >= 1 s AND above band max") {
    assert(BenchMirror.isAlarm(3.655, 0.585, None))
    assert(!BenchMirror.isAlarm(0.9, 0.4, None))  // ratio hit, under 1 s
    assert(!BenchMirror.isAlarm(1.9, 1.0, None))  // under ratio
    assert(!BenchMirror.isAlarm(3.0, 1.0, Some((0.9, 3.5)))) // inside band
    assert(BenchMirror.isAlarm(4.0, 1.0, Some((0.9, 3.5))))
  }

  // ----- the round-11 load sentinel --------------------------------

  test("inflated control marks its tier's alarms run-level-load") {
    // the r10 incident shape: four alarms at ~4.4x across two tiers
    // while the run's wall was 1.6x inflated — with an in-run control
    // drifting the same way, every alarm self-attributes
    val alarms = Seq("headline/dedup_minhash_pairs",
      "headline/sim13_native_centroids", "stress8x/q13_cust_order_dist",
      "stress8x/tx12_bigram_lm_score")
    val control = Map(
      "headline" -> Seq(2.7, 2.9, 2.5), // baseline 0.63 -> ~4.3x drift
      "stress8x" -> Seq(2.6, 3.1))
    val (load, unattr) = BenchMirror.classifyAlarms(alarms, control, Some(0.63))
    assert(load == alarms.toSet)
    assert(unattr.isEmpty)
  }

  test("clean control leaves alarms unattributed") {
    val alarms = Seq("headline/x", "stress8x/y")
    val control = Map("headline" -> Seq(0.61, 0.65, 0.60),
      "stress8x" -> Seq(0.66, 0.63))
    val (load, unattr) = BenchMirror.classifyAlarms(alarms, control, Some(0.63))
    assert(load.isEmpty)
    assert(unattr == alarms.toSet)
  }

  test("per-tier classification: only the loaded tier's alarms self-attribute") {
    val alarms = Seq("headline/x", "stress8x/y")
    val control = Map(
      "headline" -> Seq(0.62, 0.64),       // clean
      "stress8x" -> Seq(1.9, 2.2, 2.0))    // ~3.2x drift
    val (load, unattr) = BenchMirror.classifyAlarms(alarms, control, Some(0.63))
    assert(load == Set("stress8x/y"))
    assert(unattr == Set("headline/x"))
  }

  test("tier without control samples falls back to the run-global median") {
    val alarms = Seq("cold/z")
    val control = Map("headline" -> Seq(2.5, 2.7), "stress8x" -> Seq(2.6))
    val (load, _) = BenchMirror.classifyAlarms(alarms, control, Some(0.63))
    assert(load == Set("cold/z"))
  }

  test("no baseline or no samples: everything stays unattributed (conservative)") {
    val alarms = Seq("headline/x")
    assert(BenchMirror.classifyAlarms(alarms, Map("headline" -> Seq(9.9)), None)
      == (Set.empty, Set("headline/x")))
    assert(BenchMirror.classifyAlarms(alarms, Map.empty, Some(0.63))
      == (Set.empty, Set("headline/x")))
  }

  // ----- round-12 ask 2: nearest-sample control locality -----------

  /** The BENCH_r12 headline tier, reconstructed from the artifact:
    * 26 queries in bench order, control sampled at positions 0, 6,
    * 12, 18, 24 with the recorded values — the first two elevated
    * ×2.00/×3.71 over the 0.556 cross-run baseline, flanking exactly
    * the queries that alarmed, while the tier MEDIAN (0.831, drift
    * 1.49) sat under the 1.8 threshold and shipped all five alarms
    * `unattributed`.
    */
  private val r12HeadlineNames = Seq("a1_global_stats",
    "w1_zscore_outliers", "w3_latest_per_group", "join_3way_region_rollup",
    "q1_pricing_summary", "q3_top_order_revenue", "q5_local_supplier_volume",
    "q21_waiting_suppliers", "t_dtw_monthly", "pipeline_curation",
    "sim1_topk_bruteforce", "dedup_embedding_lsh", "sim7_label_centroids",
    "sim4_lsh_topk", "sim10_pq_adc_topk", "sim13_native_centroids",
    "sim21_pca_power", "dedup_minhash_pairs", "dedup_containment_pairs",
    "dedup_simhash_pairs", "dedup_incremental", "t_tumbling_window",
    "j2_asof_last_click", "j2c_asof_native", "w16_topk_agg",
    "a51_markov_removal")

  private def r12Events(ctl: Seq[Double]): Seq[BenchMirror.RunEvent] =
    r12HeadlineNames.zipWithIndex.flatMap { case (n, i) =>
      (if (i % 6 == 0) Seq(Left(ctl(i / 6)): BenchMirror.RunEvent)
       else Seq.empty) :+ (Right(s"headline/$n"): BenchMirror.RunEvent)
    }

  private val r12Alarms = Seq("headline/q1_pricing_summary",
    "headline/join_3way_region_rollup", "headline/a51_markov_removal",
    "headline/q5_local_supplier_volume", "headline/q3_top_order_revenue")

  test("r12 positive control: per-sample locality attributes all five " +
      "alarms the tier median aggregated away") {
    val ctl = Seq(1.112, 2.060, 0.633, 0.831, 0.769)
    val base = Some(0.556)
    // the old tier-median rule could not see the burst (median 0.831,
    // drift 1.49 < 1.8) — exactly why r12 shipped five unattributed
    val (oldLoad, _) =
      BenchMirror.classifyAlarms(r12Alarms, Map("headline" -> ctl), base)
    assert(oldLoad.isEmpty)
    val (load, unattr) = BenchMirror.classifyAlarmsNearest(
      r12Alarms, Map("headline" -> r12Events(ctl)), base)
    assert(load == r12Alarms.toSet)
    assert(unattr.isEmpty)
    // a51 specifically: its flanks (0.769, none after) are clean —
    // it attributes via the ≥2-elevated-samples tier-burst rule
    val (a51Only, _) = BenchMirror.classifyAlarmsNearest(
      Seq("headline/a51_markov_removal"),
      Map("headline" -> r12Events(ctl)), base)
    assert(a51Only == Set("headline/a51_markov_removal"))
  }

  test("r12 negative control: a clean run attributes nothing") {
    val ctl = Seq(0.54, 0.57, 0.55, 0.58, 0.56) // all at baseline
    val (load, unattr) = BenchMirror.classifyAlarmsNearest(
      r12Alarms, Map("headline" -> r12Events(ctl)), Some(0.556))
    assert(load.isEmpty)
    assert(unattr == r12Alarms.toSet)
  }

  test("flank locality: one elevated sample attributes only its neighbors") {
    // ctl#1 (position 6) elevated; exactly one elevated sample, so no
    // tier burst — only alarms whose nearest flank IS that sample
    // attribute; a distant alarm in the same tier stays unattributed
    val ctl = Seq(0.55, 2.1, 0.56, 0.57, 0.54)
    val alarms = Seq("headline/q5_local_supplier_volume", // flank = ctl#1
      "headline/dedup_simhash_pairs") // flanks = ctl#3/ctl#4, clean
    val (load, unattr) = BenchMirror.classifyAlarmsNearest(
      alarms, Map("headline" -> r12Events(ctl)), Some(0.556))
    assert(load == Set("headline/q5_local_supplier_volume"))
    assert(unattr == Set("headline/dedup_simhash_pairs"))
  }

  test("nearest-sample keeps the tier-median rule as the floor") {
    // an alarm with NO run-order entry (e.g. a tier logged without
    // query events) still attributes when the tier median drifts —
    // the upgrade only ever adds attribution power
    val events: Seq[BenchMirror.RunEvent] = Seq(Left(2.5), Left(2.7))
    val (load, _) = BenchMirror.classifyAlarmsNearest(
      Seq("headline/x"), Map("headline" -> events), Some(0.63))
    assert(load == Set("headline/x"))
    // and with no baseline, everything stays unattributed
    assert(BenchMirror.classifyAlarmsNearest(
      Seq("headline/x"), Map("headline" -> events), None)
      == (Set.empty, Set("headline/x")))
  }

  test("load-attributed alarms hold baseline and land in run_level_load") {
    val prev = Map("headline/a" -> 0.6, "stress8x/b" -> 6.5)
    val now = Seq("headline/a" -> 2.6, "stress8x/b" -> 28.3)
    val (t, _, u, l) = BenchMirror.merge(prev, Map.empty, Set.empty, now,
      Map.empty, Set.empty,
      loadAttributed = Set("headline/a", "stress8x/b"))
    assert(t.toMap.apply("headline/a") == 0.6)   // held, same as unattributed
    assert(t.toMap.apply("stress8x/b") == 6.5)
    assert(u.isEmpty)
    assert(l == Seq("headline/a", "stress8x/b"))
  }

  test("run_level_load flag auto-clears on clean re-measure, carries when unmeasured") {
    val prev = Map("headline/a" -> 0.6, "stress8x/b" -> 6.5)
    // a measured clean -> cleared + baseline moves; b not measured ->
    // flag and baseline carried forward in its own class
    val (t, _, u, l) = BenchMirror.merge(prev, Map.empty, Set.empty,
      Seq("headline/a" -> 0.63), Map.empty, Set.empty,
      prevRunLoad = Set("headline/a", "stress8x/b"))
    assert(t.toMap.apply("headline/a") == 0.63)
    assert(t.toMap.apply("stress8x/b") == 6.5)
    assert(u.isEmpty)
    assert(l == Seq("stress8x/b"))
  }

  // ----- the round-12 ratchet gate + alarmed-spread semantics ------

  test("r11 t_dtw shape: two sub-threshold 1.96x rises compound past 2x " +
    "— the history ratchet holds the first and the second fires the alarm") {
    // the live defect (round-11 verdict What's wrong #2): t_dtw_monthly,
    // with jitter flags in r9 AND r10, rewrote its baseline 0.442 ->
    // 0.865 (x1.957, a hair under the 2.0 alarm); a second 1.96x rise
    // would land at 1.69 s — x3.8 total, and under the OLD rules no
    // alarm ever fires because each rewrite resets the reference.
    val key = "headline/t_dtw_monthly"
    val hist = Set(key) // flagged r9 + r10, auto-cleared but remembered
    // Run A: the r11 rise. Old behavior (no history): baseline rewrites.
    val old = BenchMirror.mergeWithHistory(Map(key -> 0.442), Map.empty,
      Set.empty, Seq(key -> 0.865), Map(key -> (0.8, 0.9)), Set.empty)
    assert(old.times.toMap.apply(key) == 0.865) // the silent ratchet
    assert(old.ratchetHeld.isEmpty)
    // With the history gate: HELD at 0.442, warned, history retained.
    val a = BenchMirror.mergeWithHistory(Map(key -> 0.442), Map.empty,
      Set.empty, Seq(key -> 0.865), Map(key -> (0.8, 0.9)), Set.empty,
      prevHistory = hist, prevBest = Map(key -> 0.442))
    assert(a.times.toMap.apply(key) == 0.442)
    assert(a.ratchetHeld == Seq(key))
    assert(a.history == Seq(key))
    assert(a.best(key) == 0.442) // a held inflation never lowers best
    // Run B: the second 1.96x rise is judged against the ORIGINAL
    // baseline -> x3.8 >= 2.0 AND >= 1 s -> the REAL alarm fires.
    val b = BenchMirror.mergeWithHistory(
      a.times.toMap, a.spreads, Set.empty, Seq(key -> 1.69),
      Map.empty, Set.empty, prevHistory = a.history.toSet,
      prevBest = a.best)
    assert(b.times.toMap.apply(key) == 0.442)
    assert(b.unattributed == Seq(key)) // alarm class, not just ratchet
    // and recovery still needs no accept: a clean 0.45 rewrites
    val c = BenchMirror.mergeWithHistory(
      b.times.toMap, b.spreads, b.unattributed.toSet, Seq(key -> 0.45),
      Map.empty, Set.empty, prevHistory = b.history.toSet, prevBest = b.best)
    assert(c.times.toMap.apply(key) == 0.45)
    assert(c.unattributed.isEmpty && c.ratchetHeld.isEmpty)
    assert(c.history == Seq(key)) // permanent
    assert(c.best(key) == 0.442)  // best remembers the true floor
  }

  test("ratchet gate applies only to history-flagged keys; accept bypasses it") {
    val prev = Map("headline/flagged" -> 1.0, "headline/fresh" -> 1.0)
    val now = Seq("headline/flagged" -> 1.6, "headline/fresh" -> 1.6)
    val r = BenchMirror.mergeWithHistory(prev, Map.empty, Set.empty, now,
      Map.empty, Set.empty, prevHistory = Set("headline/flagged"))
    assert(r.times.toMap.apply("headline/flagged") == 1.0) // held
    assert(r.times.toMap.apply("headline/fresh") == 1.6)   // no history: free
    assert(r.ratchetHeld == Seq("headline/flagged"))
    val acc = BenchMirror.mergeWithHistory(prev, Map.empty, Set.empty, now,
      Map.empty, Set("headline/flagged"),
      prevHistory = Set("headline/flagged"))
    assert(acc.times.toMap.apply("headline/flagged") == 1.6) // attributed
    assert(acc.ratchetHeld.isEmpty)
    assert(acc.history == Seq("headline/flagged")) // accept keeps the record
  }

  test("r11 j13 shape: an alarmed entry's spread holds with its baseline, " +
    "so the NEXT run is judged against the pre-alarm band") {
    // BENCH_r11's alarm: heavy/j13_item_cf 3.509 -> 7.687 with the
    // alarmed run's spread [3.60, 20.63]. If that spread were adopted,
    // a next-run 8.0 s would hide INSIDE the inflated band (8.0 <
    // 20.63 suppresses via the spread guard) — the alarm would never
    // re-fire and the anomaly never be revisited.
    val key = "heavy/j13_item_cf"
    val prev = Map(key -> 3.509)
    val preBand = Map(key -> (3.1, 4.0))
    val a = BenchMirror.mergeWithHistory(prev, preBand, Set.empty,
      Seq(key -> 7.687), Map(key -> (3.60, 20.63)), Set.empty)
    assert(a.times.toMap.apply(key) == 3.509)
    assert(a.spreads(key) == (3.1, 4.0)) // pre-alarm band held
    assert(a.unattributed == Seq(key))
    // next run at 8.0: against the held band -> above 4.0 max -> alarms;
    // against the alarmed band it would have been suppressed
    assert(BenchMirror.isAlarm(8.0, 3.509, a.spreads.get(key)))
    assert(!BenchMirror.isAlarm(8.0, 3.509, Some((3.60, 20.63))))
  }

  test("best-ever column: falls on improvement, never rises, survives render/parse") {
    val r1 = BenchMirror.mergeWithHistory(Map("h/q" -> 1.0), Map.empty,
      Set.empty, Seq("h/q" -> 0.8), Map.empty, Set.empty,
      prevBest = Map("h/q" -> 0.9))
    assert(r1.best("h/q") == 0.8) // improvement lowers it
    val r2 = BenchMirror.mergeWithHistory(Map("h/q" -> 0.8), Map.empty,
      Set.empty, Seq("h/q" -> 1.4), Map.empty, Set.empty,
      prevBest = r1.best)
    assert(r2.times.toMap.apply("h/q") == 1.4) // sub-alarm move accepted
    assert(r2.best("h/q") == 0.8)              // but best remembers
    val body = BenchMirror.render(r2.times, r2.spreads, Seq.empty, esc,
      Seq.empty, Some(100.0), r2.ratchetHeld, r2.history, r2.best)
    assert(BenchMirror.parseBest(body)("h/q") == 0.8)
    // section-scoped parse: best entries must NOT leak into times
    assert(BenchMirror.parseTimes(body)("h/q") == 1.4)
    assert(BenchMirror.parseHistory(body).isEmpty)
  }

  test("history array render/parse roundtrip") {
    val body = BenchMirror.render(Seq("a" -> 1.0), Map.empty, Seq.empty,
      esc, Seq.empty, Some(10.0), Seq("a"), Seq("a", "b"),
      Map("a" -> 0.9))
    assert(BenchMirror.parseHistory(body) == Set("a", "b"))
    assert(BenchMirror.parseBest(body) == Map("a" -> 0.9))
    assert(BenchMirror.parseTimes(body) == Map("a" -> 1.0))
    assert(BenchMirror.parseWall(body).contains(10.0))
  }

  test("promoted_heavy roundtrip preserves PROMOTION ORDER (round-13 advice)") {
    // order matters: the pin replays the recorded list verbatim, and
    // the policy's order is by verify cost, not alphabetical
    val body = BenchMirror.render(Seq("a" -> 1.0), Map.empty, Seq.empty,
      esc, Seq.empty, None, Seq.empty, Seq.empty, Map.empty,
      Seq("zeta", "alpha", "mid"))
    assert(BenchMirror.parsePromotedHeavy(body) == Seq("zeta", "alpha", "mid"))
    // absent key (pre-r14 mirror): empty, not a crash
    val old = BenchMirror.render(Seq("a" -> 1.0), Map.empty, Seq.empty, esc)
    assert(BenchMirror.parsePromotedHeavy(old).isEmpty
      || BenchMirror.parsePromotedHeavy(old) == Seq.empty)
  }
}
