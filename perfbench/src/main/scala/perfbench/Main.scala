package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run: the session, the tracer, the
  * operation counters and the metrics reported at the end.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val small: Boolean, val fault: String, val work: File, traced: Boolean) {
  val trace = new Trace(spark, traced)
  val cores: Int = Runtime.getRuntime.availableProcessors
  private val attempted = new AtomicLong
  private val failed = new AtomicLong
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var setupS: Double = Double.NaN

  def note(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Logs how far into the run (JVM uptime) a phase ended. */
  def phase(name: String): Unit =
    note(f"$name done at ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s")

  /** Counts one operation; a false result or a throw counts it failed. */
  def check(name: String)(ok: => Boolean): Boolean = {
    attempted.incrementAndGet()
    val r = try ok catch { case NonFatal(e) => note(s"$name threw $e"); false }
    if (!r) { failed.incrementAndGet(); note(s"failed: $name") }
    r
  }

  def counts: (Long, Long) = (attempted.get, failed.get)

  def sink(name: String): BenchSink =
    new BenchSink(new File(work, name).getPath, trace, spark, dropRow = fault == "drop-row")

  /** Ends set-up: the JVM's uptime so far is the run's set-up time. */
  def setupDone(): Unit =
    setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
}

object Stats {
  /** Linear-interpolated percentile, q in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** Benchmark entry point, launched by perfbench/run.py:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <result file>
  * [small] [fault]`. Writes `{"attempted", "failed", "metrics"}` to the
  * result file; with trace on, the metrics are the per-layer ones and
  * the trace itself goes to `<work dir>/trace.jsonl`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, traceFlag, workDir, out) = args.take(6)
    val small = args.lift(6).contains("small")
    val fault = args.lift(7).getOrElse("none")
    val work = new File(workDir)
    val spark = graft.Sessions.local(Runtime.getRuntime.availableProcessors.toString, "perfbench")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val ctx = new Ctx(spark, seed.toLong, seconds.toDouble, small, fault, work, traceFlag == "1")
    ctx.phase("session")
    val run = workload match {
      case "census_backlog" => Workloads.backlog(ctx)
      case "census_live" => Workloads.live(ctx)
      case "dashboard_history" => Workloads.history(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    ctx.put("peak_rss_mb", peakRssMb, "MB")
    ctx.put("setup_s", ctx.setupS, "s")
    val reported =
      if (!ctx.trace.on) ctx.metrics.toSeq
      else {
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        ctx.trace.dump(new File(work, "trace.jsonl"))
        // the traced run's own end-to-end figures, for the tracing overhead
        Layers.compute(ctx, run).map { case (k, v, u) => k -> (v, u) } ++
          Seq("throughput_per_s", "latency_p50_ms").map(k => s"traced.$k" -> ctx.metrics(k))
      }
    val (attempted, failed) = ctx.counts
    val metrics = reported.map { case (k, (v, u)) =>
      s""""$k":{"value":${if (v.isNaN || v.isInfinite) 0.0 else v},"unit":"$u"}"""
    }.mkString(",")
    Files.write(new File(out).toPath,
      s"""{"attempted":$attempted,"failed":$failed,"metrics":{$metrics}}"""
        .getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** The process's peak resident set (VmHWM), in MB. */
  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
