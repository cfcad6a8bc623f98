package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.sink.{ParquetSnapshotSink, SnapshotSink}

/** One closed span with epoch-ms bounds. `batch` is the micro-batch the
  * span ran in (see [[Trace.batchKey]]), or "" outside a stream.
  */
final case class Span(id: Long, parent: Long, name: String, batch: String,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

final case class JobRec(id: Int, span: Long, batch: String, stageIds: Seq[Int], startMs: Long)

final case class StageRec(id: Int, submittedMs: Long, completedMs: Long, tasks: Int,
    runMs: Long, cpuMs: Double, gcMs: Long, shuffleWriteBytes: Long, inputBytes: Long)

/** The benchmark's tracer. When off, `span` only runs its body, so an
  * untraced run pays nothing for it. When on, spans stay in memory and
  * are written out once, at the end. Each span sets the Spark local
  * property [[Trace.SpanKey]] on its thread, so the jobs it submits are
  * attributed to it by the [[Trace.Jobs]] listener.
  */
final class Trace(spark: SparkSession, val on: Boolean) {
  private val ids = new AtomicLong(1)
  /** Ids of the spans open on this thread, innermost first. */
  private val open = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = new Trace.Jobs
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  if (on) {
    spark.sparkContext.addSparkListener(jobs)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        progress.add(e.progress); ()
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
  }

  private def tag(id: Long): Unit =
    spark.sparkContext.setLocalProperty(Trace.SpanKey, if (id == 0) null else id.toString)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val stack = open.get
      val id = ids.getAndIncrement()
      val parent = stack.headOption.getOrElse(0L)
      open.set(id :: stack)
      tag(id)
      val t0 = Trace.nowMs
      try body
      finally {
        spans.add(Span(id, parent, name, Trace.batchOfThread(spark), t0, Trace.nowMs))
        open.set(stack)
        tag(parent)
      }
    }

  /** Marks the start of a micro-batch body (called from the pipeline's
    * clock, which `Pipeline.runBatch` reads once per batch). Jobs from
    * here until the next sink write are the pipeline's own.
    */
  def batchStart(): Unit =
    if (on) {
      val id = ids.getAndIncrement()
      val now = Trace.nowMs
      spans.add(Span(id, 0, "pipeline", Trace.batchOfThread(spark), now, now))
      open.set(List(id))
      tag(id)
    }

  /** Writes every span, job and stage as one JSON object per line. */
  def dump(file: File): Unit = if (on) {
    file.getParentFile.mkdirs()
    val w = new PrintWriter(file, "UTF-8")
    try {
      spans.asScala.toSeq.sortBy(_.startMs).foreach { s =>
        w.println(f"""{"kind":"span","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
          f""""batch":"${s.batch}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
      }
      jobs.jobList.sortBy(_.id).foreach { j =>
        w.println(s"""{"kind":"job","id":${j.id},"span":${j.span},"batch":"${j.batch}",""" +
          s""""start_ms":${j.startMs},"stages":[${j.stageIds.mkString(",")}]}""")
      }
      jobs.stageList.sortBy(_.id).foreach { s =>
        w.println(s"""{"kind":"stage","id":${s.id},"submitted_ms":${s.submittedMs},""" +
          s""""completed_ms":${s.completedMs},"tasks":${s.tasks},"run_ms":${s.runMs},""" +
          s""""gc_ms":${s.gcMs},"shuffle_write_bytes":${s.shuffleWriteBytes},""" +
          s""""input_bytes":${s.inputBytes}}""")
      }
    } finally w.close()
  }
}

object Trace {
  val SpanKey = "perfbench.span"
  /** Set by Spark's micro-batch execution on the thread that runs a batch. */
  val BatchKey = "streaming.sql.batchId"
  val QueryKey = "sql.streaming.queryId"

  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  /** Epoch milliseconds from the monotonic clock. */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  /** `<query id>:<batch id>`; batch ids restart with every fresh checkpoint. */
  def batchKey(query: String, batch: String): String =
    if (query == null || batch == null) "" else s"$query:$batch"

  def batchOfThread(spark: SparkSession): String = {
    val sc = spark.sparkContext
    batchKey(sc.getLocalProperty(QueryKey), sc.getLocalProperty(BatchKey))
  }

  /** Records every job with its enclosing span and micro-batch, and every
    * completed stage with its task metrics.
    */
  final class Jobs extends SparkListener {
    private val jobMap = new ConcurrentHashMap[Int, JobRec]()
    private val stageMap = new ConcurrentHashMap[Int, StageRec]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.map(_.getProperty(k)).orNull
      jobMap.put(e.jobId, JobRec(e.jobId, Option(prop(SpanKey)).map(_.toLong).getOrElse(0L),
        batchKey(prop(QueryKey), prop(BatchKey)), e.stageIds, e.time))
      ()
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      val done = s.completionTime.getOrElse(System.currentTimeMillis())
      stageMap.put(s.stageId, StageRec(s.stageId, s.submissionTime.getOrElse(done), done,
        s.numTasks, m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead))
      ()
    }

    def jobList: Seq[JobRec] = jobMap.values.asScala.toSeq
    def stageList: Seq[StageRec] = stageMap.values.asScala.toSeq
  }
}

/** The `SnapshotSink` the pipeline receives: a timing decorator around
  * `ParquetSnapshotSink`. It always records when each batch's last
  * write returned (the moment that batch becomes readable); when traced
  * it also opens a span per write and per read. `dropRow` is the
  * negative control: it drops one raw row per batch, which the output
  * checks must catch.
  */
final class BenchSink(val root: String, trace: Trace, val spark: SparkSession,
    dropRow: Boolean = false) extends SnapshotSink {
  val inner = new ParquetSnapshotSink(root)
  val readableAtNs = new ConcurrentHashMap[String, java.lang.Long]()

  override def write(table: String, df: DataFrame): Unit = {
    val rows = if (dropRow && table == "raw_data") df.exceptAll(df.limit(1)) else df
    trace.span(s"sink.write.$table")(inner.write(table, rows))
    readableAtNs.put(Trace.batchOfThread(spark), System.nanoTime())
    ()
  }

  override def read(s: SparkSession, table: String): DataFrame =
    trace.span("sink.read")(inner.read(s, table))

  def readSince(s: SparkSession, table: String, minEpochSeconds: Double): DataFrame =
    trace.span("sink.read")(inner.readSince(s, table, minEpochSeconds))
}
