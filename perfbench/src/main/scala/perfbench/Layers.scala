package perfbench

import java.io.File
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics of a traced run, from the tracer's spans, jobs and
  * stages and the stream's progress records. A "unit" is a micro-batch
  * on the census workloads and a dashboard call on dashboard_history;
  * per-unit figures are medians over the units of the timed window.
  * Layers a workload does not reach report 0.
  */
object Layers {
  val SinkTables: Seq[String] = Seq("summary_statistics", "anomalies", "age_group_distribution",
    "education_income", "gender_income", "work_hours", "occupation_stats", "raw_data")

  /** One unit of work: its wall-clock window and the jobs it ran. */
  private final case class Work(startMs: Double, wallMs: Double, jobs: Seq[JobRec])

  private def phase(p: StreamingQueryProgress, name: String): Double =
    Option(p.durationMs.get(name)).map(_.doubleValue).getOrElse(0.0)

  private def med(xs: Iterable[Double]): Double = Stats.median(xs.toSeq)

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double =
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foldLeft((0.0, lo)) { case ((sum, reach), (a, b)) =>
        if (b <= reach) (sum, reach) else (sum + b - math.max(a, reach), b)
      }._1

  def compute(ctx: Ctx, run: RunData): Seq[(String, Double, String)] = {
    val trace = ctx.trace
    val spans = trace.spans.asScala.toSeq
    val byId = spans.map(s => s.id -> s).toMap
    val stages = trace.jobs.stageList.map(s => s.id -> s).toMap
    val jobs = trace.jobs.jobList
    val (lo, hi) = run.windowMs
    val timed = run.batches.map(b => Trace.batchKey(b.id.toString, b.batchId.toString) -> b).toMap
    val progress = trace.progress.asScala.toSeq
      .filter(p => timed.contains(Trace.batchKey(p.id.toString, p.batchId.toString)))
      .sortBy(p => (p.timestamp, p.batchId))

    // the dashboard call a span belongs to: its nearest read.* ancestor
    def call(id: Long): Option[Span] = byId.get(id).flatMap { s =>
      if (s.name.startsWith("read.")) Some(s) else call(s.parent)
    }
    val readCalls = spans.filter(s => s.name.startsWith("read.") && s.startMs >= lo && s.endMs <= hi)
    val units: Seq[Work] =
      if (progress.nonEmpty) progress.map { p =>
        val key = Trace.batchKey(p.id.toString, p.batchId.toString)
        Work(Instant.parse(p.timestamp).toEpochMilli.toDouble, phase(p, "triggerExecution"),
          jobs.filter(_.batch == key))
      }
      else {
        val jobsByCall = jobs.groupBy(j => call(j.span).map(_.id).getOrElse(0L))
        readCalls.map(s => Work(s.startMs, s.ms, jobsByCall.getOrElse(s.id, Nil)))
      }
    def unitStages(u: Work): Seq[StageRec] = u.jobs.flatMap(_.stageIds).distinct.flatMap(stages.get)
    def perUnit(f: Seq[StageRec] => Double): Double = med(units.map(u => f(unitStages(u))))

    val out = Seq.newBuilder[(String, Double, String)]
    def put(name: String, v: Double, unit: String): Unit = { out += ((name, v, unit)); () }

    // stream: progress phases per batch
    Seq("trigger" -> "triggerExecution", "add_batch" -> "addBatch", "planning" -> "queryPlanning",
      "latest_offset" -> "latestOffset", "wal_commit" -> "walCommit",
      "commit_offsets" -> "commitOffsets").foreach { case (k, ph) =>
      put(s"stream.${k}_ms", med(progress.map(phase(_, ph))), "ms")
    }
    put("stream.batches", progress.size.toDouble, "count")
    put("stream.rows_per_batch", med(progress.map(_.numInputRows.toDouble)), "count")
    put("stream.pending_files_max", run.pendingFilesMax.toDouble, "count")

    // sink writes per batch, and the pipeline's own time around them
    val writes = spans.filter(s => s.name.startsWith("sink.write.") && timed.contains(s.batch))
    val writeMs = writes.groupMapReduce(_.batch)(_.ms)(_ + _)
    put("pipeline.self_ms", med(progress.map { p =>
      phase(p, "addBatch") - writeMs.getOrElse(Trace.batchKey(p.id.toString, p.batchId.toString), 0.0)
    }), "ms")
    SinkTables.foreach { t =>
      val perBatch = writes.filter(_.name == s"sink.write.$t").groupMapReduce(_.batch)(_.ms)(_ + _)
      put(s"sink.write_ms.$t", med(perBatch.values), "ms")
    }

    // spark: jobs, stages and tasks per unit, and where the time went
    put("spark.jobs_per_batch", med(units.map(_.jobs.size.toDouble)), "count")
    put("spark.stages_per_batch", perUnit(_.size.toDouble), "count")
    put("spark.tasks_per_batch", perUnit(_.map(_.tasks).sum.toDouble), "count")
    put("spark.driver_gap_ms", med(units.map { u =>
      u.wallMs - covered(unitStages(u).map(s => (s.submittedMs.toDouble, s.completedMs.toDouble)),
        u.startMs, u.startMs + u.wallMs)
    }), "ms")
    put("spark.task_run_ms", perUnit(_.map(_.runMs).sum.toDouble), "ms")
    put("spark.task_cpu_ms", perUnit(_.map(_.cpuMs).sum), "ms")
    put("spark.gc_ms", perUnit(_.map(_.gcMs).sum.toDouble), "ms")
    put("spark.shuffle_write_bytes", perUnit(_.map(_.shuffleWriteBytes).sum.toDouble), "bytes")
    put("spark.input_bytes", perUnit(_.map(_.inputBytes).sum.toDouble), "bytes")
    val busy = units.flatMap(unitStages).map(_.runMs).sum.toDouble
    val wall = units.map(_.wallMs).sum
    put("spark.core_busy_ratio", if (wall > 0) busy / (wall * ctx.cores) else 0.0, "ratio")

    // sink layout and reads
    val files = run.sinks.flatMap(s => parquetFiles(new File(s.root)))
    val batches = math.max(1, run.sinkBatches)
    put("sink.files_written_per_batch", files.size.toDouble / batches, "count")
    put("sink.bytes_written_per_batch", files.map(_.length).sum.toDouble / batches, "bytes")
    put("sink.read_ms", med(spans.filter(s => s.name == "sink.read" && s.startMs >= lo && s.endMs <= hi)
      .map(_.ms)), "ms")
    put("sink.files_total", run.sinks.lastOption.map(s => parquetFiles(new File(s.root)).size)
      .getOrElse(0).toDouble, "count")

    // read: self time of each Dashboard function (its sink.read excluded)
    val childMs = spans.groupMapReduce(_.parent)(_.ms)(_ + _)
    Mix.fns.foreach { fn =>
      put(s"read.${fn}_ms", med(readCalls.filter(_.name == s"read.$fn")
        .map(s => s.ms - childMs.getOrElse(s.id, 0.0))), "ms")
    }

    put("gen.late_ms_max", run.lateMsMax, "ms")
    put("gen.files", run.genFiles.toDouble, "count")
    put("gen.rows", run.genRows.toDouble, "count")
    out.result()
  }

  private def parquetFiles(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) parquetFiles(f) else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    }
}
