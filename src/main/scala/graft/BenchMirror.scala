package graft

/** Pure logic for the BENCH_TIMES.json regression mirror — split out of
  * Bench so the alarm/merge rules are unit-testable without a bench run
  * (round-10 verdict ask 2).
  *
  * The round-9 incident this encodes: the movers alarm fired on
  * t_dtw_monthly (0.585 → 3.655 s) and pipeline_curation
  * (0.536 → 3.047 s), and the mirror was then overwritten with the
  * ALARMED values. That self-poisons both directions of the next
  * comparison — a silent recovery to 0.6 s reads as ratio 0.16 (never
  * alarms, so the anomaly is never revisited) and a REAL regression is
  * ratioed against the inflated prev (3.6 s baseline hides anything up
  * to 7 s). The VERIFY mirror's subset-run guard is the precedent: a
  * baseline only moves on evidence of a real steady state.
  *
  * Rule: an entry whose new median fired the alarm KEEPS its pre-alarm
  * baseline (time + spread) in the mirror and is listed in the mirror's
  * `unattributed` array until either (a) a later full run measures it
  * back inside the alarm threshold vs that held baseline — recovery,
  * the jitter hypothesis confirmed by the data itself — or (b) the
  * operator attributes it as a real cost and accepts the new baseline
  * via SPARK_GRAFT_ACCEPT_MOVERS (comma list of tier-qualified keys, or
  * `*`), after running the DevQueryAB interleaved protocol.
  *
  * Formatting is pinned to Locale.ROOT (ADVICE round 9): on a JVM with
  * a comma-decimal default locale, `"%.3f".format` writes `3,655` and
  * the mirror stops parsing — silently, because the writer used to
  * swallow failures. Spread bounds are formatted the same way so a
  * sub-milli bound can never serialize as scientific notation the
  * parser regex does not match.
  */
object BenchMirror {

  /** Locale-pinned fixed-point seconds — NEVER `"%.3f".format` (locale
    * comma) or raw interpolation (scientific notation).
    */
  def num(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  private val timesRex =
    "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*([0-9.]+)".r
  private val spreadRex =
    "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\\[([0-9.]+)\\s*,\\s*([0-9.]+)\\]".r

  /** The `"field":{...}` object body, when present. The mirror's
    * objects are flat (no nested braces), so the non-greedy scan is
    * exact. Round 12: the `best` map holds the same key→number shape
    * as `times`, so the shape-agnostic whole-body regexes would read
    * best-ever values as baselines (and vice versa) — every map parse
    * is now scoped to its named section, with the whole-body scan
    * kept only as the fallback for pre-section bodies.
    */
  private def section(body: String, field: String): Option[String] =
    ("\"" + field + "\"\\s*:\\s*\\{([^}]*)\\}").r
      .findFirstMatchIn(body).map(_.group(1))

  def parseTimes(body: String): Map[String, Double] =
    timesRex.findAllMatchIn(section(body, "times").getOrElse(body))
      .map(m => m.group(1) -> m.group(2).toDouble)
      // on the whole-body fallback the shape-agnostic regex also
      // matches the top-level "wall_sec":N member render appends — a
      // reserved key, not a query; without this filter every prev map
      // carries a phantom 1143-second "query" any future mirror
      // consumer would inherit
      .filter(_._1 != "wall_sec")
      .toMap

  def parseSpreads(body: String): Map[String, (Double, Double)] =
    spreadRex.findAllMatchIn(section(body, "spreads").getOrElse(body))
      .map(m => m.group(1) -> (m.group(2).toDouble, m.group(3).toDouble))
      .toMap

  /** Best-ever medians per key (`"best":{...}`) — the cumulative-creep
    * gauge (round-12 verdict ask 3): the hold rules protect a baseline
    * from single-run poisoning, but a baseline can still RATCHET
    * upward through consecutive sub-threshold drifts, and once it has,
    * the mirror has no memory of where the query started. `best` never
    * rises, so baseline/best IS the total creep since the query's best
    * known steady state, whatever path it took.
    */
  def parseBest(body: String): Map[String, Double] =
    section(body, "best").map { s =>
      timesRex.findAllMatchIn(s)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }.getOrElse(Map.empty)

  /** Names inside `"jitter_history":[...]` — every key that has EVER
    * been held (alarm or ratchet). Permanent: auto-clear removes the
    * active flag, not the history — a query with a documented drift
    * history is exactly the one whose baseline must not quietly move
    * again (t_dtw_monthly alarmed as jitter in r9 AND r10, then
    * silently rewrote its baseline 0.442 → 0.865 in r11 at ratio
    * 1.957, a hair under the 2.0 alarm).
    */
  def parseHistory(body: String): Set[String] =
    parseNameArray(body, "jitter_history")

  /** Names inside the mirror's `"unattributed":[...]` array. */
  def parseUnattributed(body: String): Set[String] =
    parseNameArray(body, "unattributed")

  /** Names inside the mirror's `"run_level_load":[...]` array —
    * alarms the in-run control sentinel attributed to machine-level
    * load at alarm time (round-11 verdict ask 2). Same baseline-hold
    * and auto-clear semantics as `unattributed`; the separate array
    * exists so the attribution is recorded WITH the alarm instead of
    * costing a next-round interleaved attribution cycle.
    */
  def parseRunLevelLoad(body: String): Set[String] =
    parseNameArray(body, "run_level_load")

  /** The promoted heavy-tier list, IN PROMOTION ORDER (round-13
    * advice: the load-inflated-sweep membership pin used to
    * RECONSTRUCT "the previous promoted set" from the value-sorted
    * heavy-prefixed mirror entries — but the mirror also carries
    * flagged heavy entries from earlier rotations, and held bench
    * baselines are not the promotion metric (verify sweep cost), so
    * the inferred set could differ from what actually ran. The list
    * is now recorded explicitly by every full default run; the pin
    * reads it back verbatim.)
    */
  def parsePromotedHeavy(body: String): Seq[String] =
    parseNameArrayOrdered(body, "promoted_heavy")

  private def parseNameArrayOrdered(body: String, field: String): Seq[String] = {
    val arr = ("\"" + field + "\"\\s*:\\s*\\[([^\\]]*)\\]").r
    arr.findFirstMatchIn(body) match {
      case None => Seq.empty
      case Some(m) =>
        "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(m.group(1))
          .map(_.group(1)).toSeq
    }
  }

  private def parseNameArray(body: String, field: String): Set[String] = {
    val arr = ("\"" + field + "\"\\s*:\\s*\\[([^\\]]*)\\]").r
    arr.findFirstMatchIn(body) match {
      case None => Set.empty
      case Some(m) =>
        "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(m.group(1))
          .map(_.group(1)).toSet
    }
  }

  /** The previous full run's total wall seconds (`"wall_sec":N`). */
  def parseWall(body: String): Option[Double] =
    "\"wall_sec\"\\s*:\\s*([0-9.]+)".r.findFirstMatchIn(body)
      .map(_.group(1).toDouble)

  /** Classify this run's fired alarms with the interleaved control
    * sentinel (round-11 verdict ask 2 — the class that burned an
    * interleaved attribution cycle in r8/r9/r10): a pinned control
    * query is sampled INSIDE each tier as it runs; an alarm whose tier's
    * control median drifted ≥ `driftThreshold`× its cross-run
    * baseline is machine-level load by construction (the control's
    * plan never changes), so it self-attributes as `run_level_load`
    * at alarm time. A tier with no control samples falls back to the
    * run-global control median; with no baseline or no samples at
    * all, nothing can be attributed and every alarm stays
    * `unattributed` (the conservative reading).
    *
    * @return (runLevelLoad, unattributed) partition of `alarms`
    */
  def classifyAlarms(
      alarms: Seq[String],
      controlByTier: Map[String, Seq[Double]],
      controlBaseline: Option[Double],
      driftThreshold: Double = 1.8): (Set[String], Set[String]) = {
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
    val global = controlByTier.values.flatten.toSeq
    val loaded = controlBaseline match {
      case Some(b) if b > 0.0 && global.nonEmpty =>
        alarms.filter { k =>
          val tier = k.takeWhile(_ != '/')
          val samples = controlByTier.getOrElse(tier, Seq.empty)
          val m = if (samples.nonEmpty) med(samples) else med(global)
          m / b >= driftThreshold
        }.toSet
      case _ => Set.empty[String]
    }
    (loaded, alarms.toSet -- loaded)
  }

  /** One run-order event inside a tier: `Left(sec)` is a control
    * sample, `Right(tierQualifiedKey)` is a query's measured block.
    */
  type RunEvent = Either[Double, String]

  /** Nearest-sample control locality (round-12 verdict ask 2 — the
    * envelope case BENCH_r12 demonstrated live): the headline tier's
    * control samples were [1.112, 2.060, 0.633, 0.831, 0.769] against
    * a 0.556 baseline — the first two elevated ×2.0/×3.7, flanking
    * exactly the queries that alarmed — but [[classifyAlarms]]
    * compares the TIER MEDIAN (0.831, drift 1.49 < 1.8), so all five
    * alarms shipped `unattributed` and cost a round-13 interleaved
    * attribution cycle. The per-SAMPLE evidence was in the artifact all along;
    * this classifier consumes it.
    *
    * An alarm self-attributes as `run_level_load` when ANY of:
    *  (a) FLANK — its nearest control sample before or after it in
    *      the tier's run order drifted ≥ `driftThreshold`× the
    *      cross-run baseline (the load burst overlapped the alarm's
    *      own measurement window);
    *  (b) TIER BURST — ≥2 of its tier's control samples drifted ≥
    *      the threshold (the tier demonstrably experienced load even
    *      if the alarm sat between clean samples: r12's a51 ran at
    *      tier position 25 with a ×1.38 flank, in a tier whose first
    *      two samples read ×2.0/×3.7 — one elevated sample could be
    *      the control's own noise, two is a burst);
    *  (c) TIER MEDIAN — the old [[classifyAlarms]] rule, kept as the
    *      floor so the upgrade only ever ADDS attribution power.
    * All three read single samples against the same 1.8× threshold
    * the median rule uses: the r10 attribution table measured the
    * control's cold-vs-warm margin at ~1.2×, so a single warm-kept
    * sample clearing 1.8× is load, not protocol noise.
    *
    * Misattribution risk is bounded by the hold semantics: both
    * classes hold the pre-alarm baseline until a clean re-measure, so
    * a real regression mislabeled `run_level_load` still cannot move
    * the mirror — it re-fires on every subsequent run until the cost
    * is accepted, exactly like an `unattributed` one.
    *
    * @param eventsByTier per-tier run-order logs (controls + queries)
    * @return (runLevelLoad, unattributed) partition of `alarms`
    */
  def classifyAlarmsNearest(
      alarms: Seq[String],
      eventsByTier: Map[String, Seq[RunEvent]],
      controlBaseline: Option[Double],
      driftThreshold: Double = 1.8): (Set[String], Set[String]) = {
    val ctlByTier = eventsByTier.map { case (t, evs) =>
      t -> evs.collect { case Left(s) => s }
    }
    val (medianLoaded, _) =
      classifyAlarms(alarms, ctlByTier, controlBaseline, driftThreshold)
    val loaded = controlBaseline match {
      case Some(b) if b > 0.0 =>
        alarms.filter { k =>
          medianLoaded(k) || {
            val tier = k.takeWhile(_ != '/')
            val evs = eventsByTier.getOrElse(tier, Seq.empty)
            val burst =
              ctlByTier.getOrElse(tier, Seq.empty).count(_ / b >= driftThreshold) >= 2
            val idx = evs.indexOf(Right(k): RunEvent)
            val flank = idx >= 0 && {
              val before =
                evs.take(idx).reverse.collectFirst { case Left(s) => s }
              val after = evs.drop(idx + 1).collectFirst { case Left(s) => s }
              (before.toSeq ++ after.toSeq).exists(_ / b >= driftThreshold)
            }
            burst || flank
          }
        }.toSet
      case _ => Set.empty[String]
    }
    (loaded, alarms.toSet -- loaded)
  }

  /** The alarm predicate, shared by the report and the merge: ratio ≥ 2
    * vs the (possibly held) baseline, new median ≥ 1 s, and — where the
    * baseline recorded a spread — the new median clears its max (the
    * stress tier's roaming-outlier band guard).
    */
  def isAlarm(newV: Double, prevV: Double,
      prevSpread: Option[(Double, Double)]): Boolean =
    prevV > 0.0 && newV / prevV >= 2.0 && newV >= 1.0 &&
      prevSpread.forall { case (_, prevMax) => newV > prevMax }

  /** Merge one full run's tier medians into the mirror.
    *
    * @param prevTimes    baseline medians from the existing mirror
    * @param prevSpreads  baseline [min,max] bands from the mirror
    * @param prevUnattr   names still flagged unattributed in the mirror
    * @param newTimes     this run's tier-qualified medians, in order
    * @param newSpreads   this run's bands
    * @param accepted     SPARK_GRAFT_ACCEPT_MOVERS names ("*" = all)
    * @param prevRunLoad  names still flagged run_level_load in the mirror
    * @param loadAttributed this run's alarms the control sentinel
    *                     attributed to machine-level load
    *                     ([[classifyAlarms]] first component)
    * @return (mirror times in order, mirror spreads, unattributed names
    *         sorted, run_level_load names sorted) — alarmed-and-
    *         unaccepted entries keep the baseline values regardless of
    *         class (a load-attributed median is still not a steady
    *         state); entries measured clean this run drop any stale
    *         flag of either class (recovery auto-clears); flagged
    *         entries NOT measured this run carry flag and baseline
    *         forward in their own class.
    */
  def merge(
      prevTimes: Map[String, Double],
      prevSpreads: Map[String, (Double, Double)],
      prevUnattr: Set[String],
      newTimes: Seq[(String, Double)],
      newSpreads: Map[String, (Double, Double)],
      accepted: Set[String],
      prevRunLoad: Set[String] = Set.empty,
      loadAttributed: Set[String] = Set.empty)
      : (Seq[(String, Double)], Map[String, (Double, Double)],
         Seq[String], Seq[String]) = {
    val r = mergeWithHistory(prevTimes, prevSpreads, prevUnattr, newTimes,
      newSpreads, accepted, prevRunLoad, loadAttributed)
    (r.times, r.spreads, r.unattributed, r.runLevelLoad)
  }

  /** Everything [[mergeWithHistory]] decides about one run. */
  final case class MergeResult(
      times: Seq[(String, Double)],
      spreads: Map[String, (Double, Double)],
      unattributed: Seq[String],
      runLevelLoad: Seq[String],
      ratchetHeld: Seq[String],
      history: Seq[String],
      best: Map[String, Double])

  /** [[merge]] plus the drift-history ratchet gate and the best-ever
    * column (round-12 verdict ask 3 — the sub-threshold creep class):
    * the ≥2.0 alarm protects a baseline from a single big jump, but
    * two consecutive 1.9× drifts compound to 3.8× with no alarm ever
    * firing, because each rewrite resets the reference. The r11 run
    * demonstrated it live: t_dtw_monthly — two PRIOR jitter flags —
    * rewrote 0.442 → 0.865 (1.957×) in the very run that proved
    * itself load-clean.
    *
    * Ratchet rule: an entry in `prevHistory` (ever held, either
    * class) may rewrite its baseline only at ratio < `ratchetThresh`;
    * at or past it the baseline HOLDS and the key is listed in
    * `ratchetHeld` (warn-only, recomputed each run — the persistent
    * memory is the history itself). A later run measuring back under
    * the threshold rewrites normally (including DOWNWARD — recovery
    * needs no accept); a real cost change is accepted exactly like an
    * alarm, via SPARK_GRAFT_ACCEPT_MOVERS after a DevQueryAB
    * attribution. With the gate, t_dtw's second 1.9× rise is judged
    * against the ORIGINAL baseline and fires the real ≥2× alarm.
    *
    * History: permanent union of every held key (alarm or ratchet) —
    * accept bypasses a hold for that run but does not erase the
    * record. Best: per-key minimum over every run's POST-hold mirror
    * value, so held inflations never lower it and baseline/best reads
    * as total creep since the best known steady state.
    */
  def mergeWithHistory(
      prevTimes: Map[String, Double],
      prevSpreads: Map[String, (Double, Double)],
      prevUnattr: Set[String],
      newTimes: Seq[(String, Double)],
      newSpreads: Map[String, (Double, Double)],
      accepted: Set[String],
      prevRunLoad: Set[String] = Set.empty,
      loadAttributed: Set[String] = Set.empty,
      prevHistory: Set[String] = Set.empty,
      prevBest: Map[String, Double] = Map.empty,
      ratchetThresh: Double = 1.5): MergeResult = {
    val acceptAll = accepted.contains("*")
    def isAccepted(k: String): Boolean = acceptAll || accepted.contains(k)
    val hold = newTimes.collect {
      case (k, v)
          if !isAccepted(k) && prevTimes.get(k).exists(p =>
            isAlarm(v, p, prevSpreads.get(k))) => k
    }.toSet
    val ratchetHold = newTimes.collect {
      case (k, v)
          if !isAccepted(k) && !hold(k) && prevHistory(k) &&
            prevTimes.get(k).exists(p => p > 0.0 && v / p >= ratchetThresh)
        => k
    }.toSet
    val anyHold = hold ++ ratchetHold
    val times = newTimes.map { case (k, v) =>
      k -> (if (anyHold(k)) prevTimes(k) else v)
    }
    val spreads = newTimes.flatMap { case (k, _) =>
      (if (anyHold(k)) prevSpreads.get(k) else newSpreads.get(k)).map(k -> _)
    }.toMap
    val newKeys = newTimes.map(_._1).toSet
    def carriedOf(prevFlags: Set[String]): Set[String] =
      (prevFlags -- accepted)
        .filter(k => !acceptAll && !newKeys(k) && prevTimes.contains(k))
    val carriedU = carriedOf(prevUnattr)
    val carriedL = carriedOf(prevRunLoad)
    val carried = carriedU ++ carriedL
    val carriedTimes = carried.toSeq.sorted.map(k => k -> prevTimes(k))
    val carriedSpreads = carried.toSeq.flatMap(k => prevSpreads.get(k).map(k -> _))
    val outTimes = times ++ carriedTimes
    val best = outTimes.map { case (k, v) =>
      k -> math.min(v, prevBest.getOrElse(k, v))
    }.toMap
    MergeResult(outTimes,
      spreads ++ carriedSpreads,
      ((hold -- loadAttributed) ++ carriedU).toSeq.sorted,
      ((hold & loadAttributed) ++ carriedL).toSeq.sorted,
      ratchetHold.toSeq.sorted,
      (prevHistory ++ anyHold).toSeq.sorted,
      best)
  }

  /** Serialize the mirror body (fixed shape the parsers above read). */
  def render(times: Seq[(String, Double)],
      spreads: Map[String, (Double, Double)],
      unattributed: Seq[String],
      esc: String => String,
      runLevelLoad: Seq[String] = Seq.empty,
      wall: Option[Double] = None,
      ratchetHeld: Seq[String] = Seq.empty,
      history: Seq[String] = Seq.empty,
      best: Map[String, Double] = Map.empty,
      promotedHeavy: Seq[String] = Seq.empty): String = {
    val t = times.map { case (k, v) => s""""${esc(k)}":${num(v)}""" }
      .mkString("{", ",", "}")
    val s = spreads.toSeq.sortBy(_._1)
      .map { case (k, (lo, hi)) => s""""${esc(k)}":[${num(lo)},${num(hi)}]""" }
      .mkString("{", ",", "}")
    def arr(xs: Seq[String]) = xs.map(k => s""""${esc(k)}"""").mkString("[", ",", "]")
    val b = best.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":${num(v)}""" }
      .mkString("{", ",", "}")
    val w = wall.map(v => s""","wall_sec":${num(v)}""").getOrElse("")
    s"""{"times":$t,"spreads":$s,"unattributed":${arr(unattributed)}""" +
      s""","run_level_load":${arr(runLevelLoad)}""" +
      s""","ratchet_held":${arr(ratchetHeld)}""" +
      s""","promoted_heavy":${arr(promotedHeavy)}""" +
      s""","jitter_history":${arr(history)},"best":$b$w}"""
  }
}
