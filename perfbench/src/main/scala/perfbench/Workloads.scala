package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.schema.CensusSchema
import graft.stream.{Pipeline, PipelineConfig, Simulator}

/** What a workload hands to [[Layers]] for the traced report. */
final case class RunData(
    batches: Seq[StreamingQueryProgress],
    windowMs: (Double, Double),
    sinks: Seq[BenchSink],
    sinkBatches: Int,
    pendingFilesMax: Int,
    genFiles: Int,
    genRows: Long,
    lateMsMax: Double)

object Workloads {

  private def epochSeconds(): Double = System.currentTimeMillis() / 1000.0

  /** The pipeline's clock, which `Pipeline.runBatch` reads once per batch;
    * it also tells the tracer a batch body has begun.
    */
  private def clock(ctx: Ctx, time: () => Double): () => Double =
    () => { ctx.trace.batchStart(); time() }

  private def progressOf(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.numInputRows > 0).sortBy(_.batchId)

  private def ms(p: StreamingQueryProgress, phase: String): Double =
    Option(p.durationMs.get(phase)).map(_.doubleValue).getOrElse(0.0)

  private def dir(parent: File, name: String): File = {
    val d = new File(parent, name); d.mkdirs(); d
  }

  /** Maps files to batches in landing order by cumulative row count
    * (`numInputRows` from progress). Returns each file's latency, from
    * the time it was due until its batch's last sink write returned, and
    * how many files earlier batches took, per batch.
    */
  private def fileLatencies(ctx: Ctx, label: String, batches: Seq[StreamingQueryProgress],
      sink: BenchSink, files: Seq[(Int, Long)]): (Seq[Double], Seq[Int]) = {
    val latencies = mutable.ArrayBuffer.empty[Double]
    val takenBefore = mutable.ArrayBuffer.empty[Int]
    var next = 0
    ctx.check(s"$label files map onto batches") {
      batches.forall { b =>
        val readable: Long = sink.readableAtNs.get(Trace.batchKey(b.id.toString, b.batchId.toString))
        takenBefore += next
        var rows = 0L
        while (rows < b.numInputRows && next < files.size) {
          rows += files(next)._1
          latencies += (readable - files(next)._2) / 1e6
          next += 1
        }
        rows == b.numInputRows
      } && next == files.size
    }
    (latencies.toSeq, takenBefore.toSeq)
  }

  /** Runs one dashboard op and holds its result to `ok`; returns its
    * wall time in ms when it passed.
    */
  private def call(ctx: Ctx, op: MixOp, asOf: Double, sink: BenchSink)
      (ok: Seq[String] => Boolean): Option[Double] = {
    var took = 0.0
    val passed = ctx.check(s"dashboard ${op.fn} on ${op.table}") {
      val t0 = System.nanoTime()
      val lines = ctx.trace.span(s"read.${op.fn}")(op.run(sink, asOf))
      took = (System.nanoTime() - t0) / 1e6
      ok(lines)
    }
    if (passed) Some(took) else None
  }

  /** Closed drain of a data-scale CSV backlog: `Trigger.AvailableNow`
    * with `maxFilesPerTrigger`, a fresh checkpoint and sink per drain,
    * one untimed warm drain first.
    */
  def backlog(ctx: Ctx): RunData = {
    val (rowsPerFile, filesPerBatch, batchesPerDrain) =
      if (ctx.small) (1000, 1, 2) else (50000, 2, 3)
    val input = dir(ctx.work, "input")
    val rng = new Random(ctx.seed)
    val pool = Census.pool(ctx.seed)
    val tally = new Census.Tally
    val files = filesPerBatch * batchesPerDrain
    (0 until files).foreach { i =>
      val rows = Census.batch(pool, rng, rowsPerFile)
      tally.add(rows)
      Simulator.writeBatchCsv(rows, input.getPath, i.toLong)
    }
    // the untimed warm drain: three batches of the same size, so the
    // timed one starts past most of the JIT warm-up
    val warm = dir(ctx.work, "warm")
    (0 until 3 * filesPerBatch).foreach(i =>
      Simulator.writeBatchCsv(Census.batch(pool, rng, rowsPerFile), warm.getPath, i))
    final case class Drain(seconds: Double, batches: Seq[StreamingQueryProgress], sink: BenchSink,
        latencies: Seq[Double])
    // every file of a backlog is due when the drain starts
    def drain(i: Int, from: File = input): Drain = {
      val sink = ctx.sink(s"sink$i")
      val pipeline = new Pipeline(sink, PipelineConfig(trigger = Trigger.AvailableNow(),
        fused = true, maxFilesPerTrigger = Some(filesPerBatch), clock = clock(ctx, epochSeconds)))
      val t0 = System.nanoTime()
      val q = pipeline.start(ctx.spark, from.getPath, new File(ctx.work, s"ckpt$i").getPath).head
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val batches = progressOf(q)
      val (latencies, _) = fileLatencies(ctx, s"drain $i", batches, sink,
        Seq.fill(from.listFiles.count(_.getName.endsWith(".csv")))((rowsPerFile, t0)))
      Drain(wall, batches, sink, latencies)
    }
    ctx.phase("input")
    drain(0, warm)
    ctx.phase("warm drain")
    ctx.setupDone()
    val start = Trace.nowMs
    val all = mutable.ArrayBuffer.empty[Drain]
    while (all.map(_.seconds).sum < ctx.seconds) all += drain(all.size + 1)
    val end = Trace.nowMs
    // every drain reads the same backlog; the last one's sink is checked
    Census.checkSink(ctx, all.last.sink, tally, s"drain ${all.size}")
    val batches = all.flatMap(_.batches).toSeq
    val triggers = batches.map(ms(_, "triggerExecution"))
    val latencies = all.flatMap(_.latencies).toSeq
    val rowsPerS = tally.rows * all.size / all.map(_.seconds).sum
    ctx.put("throughput_per_s", rowsPerS, "1/s")
    ctx.put("latency_p50_ms", Stats.pct(latencies, 0.5), "ms")
    ctx.put("latency_p90_ms", Stats.pct(latencies, 0.9), "ms")
    ctx.note(f"census_rows_per_s=$rowsPerS%.1f census_batch_ms_p50=${Stats.median(triggers)}%.1f " +
      f"drains=${all.size} batches=${batches.size} files=${latencies.size} " +
      s"batch_ms=${triggers.mkString(",")}")
    RunData(batches, (start, end), all.map(_.sink).toSeq, batches.size, files, files * all.size,
      tally.rows * all.size, 0.0)
  }

  /** Open loop: reference-sized files land by atomic rename on a fixed
    * schedule while a dashboard client reads the live sink.
    */
  def live(ctx: Ctx): RunData = {
    val intervalMs = if (ctx.small) 20 else 80
    val nFiles = math.max(if (ctx.small) 20 else 100, (ctx.seconds * 1000 / intervalMs).toInt)
    val input = dir(ctx.work, "input")
    val staging = dir(ctx.work, "staging")
    val rng = new Random(ctx.seed)
    val pool = Census.pool(ctx.seed)
    val tally = new Census.Tally
    // a data-scale first file, so every table (anomalies too) exists
    // before the client's first read
    val first = Census.batch(pool, rng, if (ctx.small) 2000 else 5000)
    tally.add(first)
    Simulator.writeBatchCsv(first, input.getPath, 0L)
    val landing = (1 to nFiles).map { i =>
      val rows = Census.batch(pool, rng)
      tally.add(rows)
      (Simulator.writeBatchCsv(rows, staging.getPath, i.toLong), rows.size)
    }
    val sink = ctx.sink("sink")
    val pipeline = new Pipeline(sink, PipelineConfig(trigger = Trigger.ProcessingTime(100L),
      fused = true, clock = clock(ctx, epochSeconds)))
    val q = pipeline.start(ctx.spark, input.getPath, new File(ctx.work, "ckpt").getPath).head
    def processed(): Long = q.recentProgress.map(_.numInputRows).sum
    def await(rows: Long): Boolean = {
      val deadline = System.nanoTime() + 120e9.toLong
      while (processed() < rows && System.nanoTime() < deadline && q.isActive) Thread.sleep(10)
      processed() >= rows
    }
    ctx.phase("input")
    ctx.check("first batch committed")(await(first.size.toLong))
    ctx.phase("first batch")
    val setupBatch = q.recentProgress.map(_.batchId).maxOption.getOrElse(-1L)
    ctx.setupDone()

    // the client's rate counts whole passes over the mix only, so every
    // run weighs the ops alike
    val stop = new AtomicBoolean(false)
    val calls = new ConcurrentLinkedQueue[Double]()
    val passes = new ConcurrentLinkedQueue[(Int, Double)]()
    def done = stop.get && !passes.isEmpty
    val client = new Thread(() => {
      while (!done) {
        val t0 = Trace.nowMs
        val ok = Mix.ops.flatMap(op => if (done) None else call(ctx, op, epochSeconds(), sink)(op.sane))
        ok.foreach(calls.add)
        if (!done) passes.add((ok.size, Trace.nowMs - t0))
      }
    }, "dashboard-client")
    val start = Trace.nowMs
    val t0 = System.nanoTime() + 20000000L
    val scheduled = landing.indices.map(i => t0 + i * intervalMs * 1000000L)
    client.start()
    var late = 0.0
    landing.zip(scheduled).foreach { case ((file, _), at) =>
      val wait = at - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      Files.move(file.toPath, new File(input, file.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
      late = math.max(late, (System.nanoTime() - at) / 1e6)
    }
    ctx.check("all landed files processed")(await(tally.rows))
    val end = Trace.nowMs
    val lastReadableNs = sink.readableAtNs.values.asScala.map(_.longValue).max
    stop.set(true)
    client.join()
    q.stop()

    val batches = progressOf(q).filter(_.batchId > setupBatch)
    val (freshness, takenBefore) = fileLatencies(ctx, "live", batches, sink,
      landing.map(_._2).zip(scheduled))
    // files landed but not yet taken, at each batch start
    val epochToNano = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val pending = batches.zip(takenBefore).map { case (b, taken) =>
      val startNs = java.time.Instant.parse(b.timestamp).toEpochMilli * 1000000L - epochToNano
      scheduled.count(_ <= startNs) - taken
    }.maxOption.getOrElse(0)
    Census.checkSink(ctx, sink, tally, "live sink")
    val snap = new Snap(ctx.spark, sink, tally)
    val asOf = epochSeconds()
    Mix.ops.foreach(op => call(ctx, op, asOf, sink)(_ == op.expect(snap, asOf)))

    val c = calls.asScala.toSeq.map(_.doubleValue)
    val p = passes.asScala.toSeq
    val qps = p.map(_._1).sum / (p.map(_._2).sum / 1000)
    // rows ingested per second, from the first file's due time until the
    // last file was readable
    val rowsPerS = (tally.rows - first.size) / ((lastReadableNs - scheduled.head) / 1e9)
    ctx.put("throughput_per_s", rowsPerS, "1/s")
    ctx.put("latency_p50_ms", Stats.pct(freshness, 0.5), "ms")
    ctx.put("latency_p90_ms", Stats.pct(freshness, 0.9), "ms")
    ctx.note(f"ingest_rows_per_s=$rowsPerS%.1f freshness_p50_ms=${Stats.pct(freshness, 0.5)}%.1f " +
      f"freshness_p90_ms=${Stats.pct(freshness, 0.9)}%.1f " +
      f"dashboard_ms_p50=${Stats.median(c)}%.1f " +
      f"dashboard_ms_p90=${Stats.pct(c, 0.9)}%.1f dashboard_qps=$qps%.2f passes=${p.size} " +
      f"census_batch_ms_p50=${Stats.median(batches.map(ms(_, "triggerExecution")))}%.1f " +
      f"files=${landing.size} batches=${batches.size} late_ms_max=$late%.1f")
    RunData(batches, (start, end), Seq(sink), batches.size + 1, pending,
      landing.size, tally.rows - first.size, late)
  }

  /** Reads only: a history of committed batches spread over several
    * `batch_date` partitions, then a closed loop of the read mix.
    */
  def history(ctx: Ctx): RunData = {
    val (nBatches, rowsPerBatch) = if (ctx.small) (3, 1000) else (4, 2000)
    val input = dir(ctx.work, "input")
    val rng = new Random(ctx.seed)
    val pool = Census.pool(ctx.seed)
    val tally = new Census.Tally
    (0 until nBatches).foreach { i =>
      val rows = Census.batch(pool, rng, rowsPerBatch)
      tally.add(rows)
      Simulator.writeBatchCsv(rows, input.getPath, i.toLong)
    }
    // one batch body per file, 12 h apart from a fixed instant, so the
    // snapshots fall in three batch_date partitions
    var k = -1
    val sink = ctx.sink("sink")
    val pipeline = new Pipeline(sink, PipelineConfig(fused = true,
      clock = clock(ctx, () => { k += 1; 1700000000.0 + k * 12 * 3600 })))
    ctx.phase("input")
    input.listFiles.sortBy(_.getName).zipWithIndex.foreach { case (f, i) =>
      pipeline.runBatch(pipeline.processed(
        ctx.spark.read.schema(CensusSchema.schema).option("header", "false").csv(f.getPath)), i)
    }
    ctx.phase("history batches")
    Census.checkSink(ctx, sink, tally, "history sink")
    ctx.phase("sink check")
    val snap = new Snap(ctx.spark, sink, tally)
    val expected = Mix.ops.map(op => op.expect(snap, snap.maxTs))
    ctx.setupDone()

    // whole passes over the mix, so every run weighs the ops alike
    val start = Trace.nowMs
    val lat = mutable.ArrayBuffer.empty[Double]
    while (Trace.nowMs - start < ctx.seconds * 1000)
      Mix.ops.zip(expected).foreach { case (op, want) =>
        lat ++= call(ctx, op, snap.maxTs, sink)(_ == want)
      }
    val end = Trace.nowMs
    val qps = lat.size / ((end - start) / 1000)
    ctx.put("throughput_per_s", qps, "1/s")
    ctx.put("latency_p50_ms", Stats.pct(lat.toSeq, 0.5), "ms")
    ctx.put("latency_p90_ms", Stats.pct(lat.toSeq, 0.9), "ms")
    ctx.note(f"dashboard_ms_p50=${Stats.pct(lat.toSeq, 0.5)}%.1f " +
      f"dashboard_ms_p90=${Stats.pct(lat.toSeq, 0.9)}%.1f dashboard_qps=$qps%.2f calls=${lat.size}")
    RunData(Seq.empty, (start, end), Seq(sink), nBatches, 0, nBatches, tally.rows, 0.0)
  }
}
