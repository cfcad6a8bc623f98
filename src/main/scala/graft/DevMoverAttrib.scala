package graft

/** Dev-only attribution harness for fired BENCH movers alarms
  * (round-10 verdict ask 1): BENCH_r09 alarmed on t_dtw_monthly
  * (0.585 → 3.655 s, ×6.25) and pipeline_curation (0.536 → 3.047 s,
  * ×5.69) with NO code change touching either query — jitter in the
  * driver's co-located environment is the hypothesis, and the repo's
  * own protocol (SCALING.md, applied to r6-simhash and r8-g3b) says
  * that must be PROVEN by interleaved reproduction, not assumed.
  *
  * Protocol (the r8 g3b attribution shape applied to movers): the alarmed
  * queries are INTERLEAVED round-robin with a stable CONTROL query
  * from the same headline tier (q3_top_order_revenue, which moved
  * 0.675 → 0.556 in the same run) — sequential per-query blocks would
  * confound machine-state drift with the query — under the bench
  * tier's per-sample discipline (clearCache + registry release before
  * every sample, one untimed warm-up each, noop sink). Run at BOTH
  * widths via SPARK_GRAFT_CPUS (32 and 4): a real plan-cost change
  * reproduces at both; load jitter reproduces at neither.
  *
  * Reading the result: if the alarmed queries' medians sit at their
  * PRE-alarm baselines while the control sits at its usual level, the
  * alarm was environment jitter — record the attribution in SCALING
  * and leave the mirror's held baseline in place (the recovery
  * auto-clears the `unattributed` flag on the next full bench).
  */
object DevMoverAttrib {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val n = sys.env.getOrElse("SPARK_GRAFT_AB_N", "6").toInt
    val names = if (args.nonEmpty) args.toSeq
      else Seq("t_dtw_monthly", "pipeline_curation", "q3_top_order_revenue")
    val spark = Sessions.local(cpus, "graft-mover-attrib")

    def releaseAll(): Unit = {
      graft.queries.DedupQueries.releaseSignatureCache()
      graft.queries.SimilarityQueries.releaseCaches()
      graft.queries.ParityQueries.releaseCaches()
      graft.queries.EventQueries.releaseCaches()
      graft.queries.TextQueries.releaseCaches()
    }
    def run(name: String): Double = {
      releaseAll(); spark.catalog.clearCache()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    names.foreach(run) // one untimed warm-up each
    // interleaved: sample i of every query before sample i+1 of any
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    for (_ <- 1 to n; name <- names) samples(name) :+= run(name)
    names.foreach { name =>
      val xs = samples(name)
      val sorted = xs.sorted
      println(f"[mover-attrib] cpus=$cpus $name%-24s n=${xs.length} " +
        f"min=${sorted.head}%.3f med=${sorted(xs.length / 2)}%.3f " +
        f"max=${sorted.last}%.3f " +
        f"samples=${xs.map(x => f"$x%.3f").mkString(",")}")
    }
    releaseAll()
    spark.stop()
  }
}
