package graft

import java.nio.file.Files
import java.util.UUID

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.util.Shell
import org.apache.spark.sql.streaming.Trigger

import graft.sink.ParquetSnapshotSink
import graft.stream.{Pipeline, PipelineConfig, Simulator}

/** A census batch does its local file I/O in-process: the snapshot
  * sink's files, Spark's file committer and the stream's checkpoint
  * logs start no process through Hadoop's `Shell` (the stock local
  * file system forks `chmod` and `readlink` about 60 times a batch).
  */
class LocalFsProcessSpec extends SparkSpec {

  /** The process starts the JVM recorded while `body` ran. */
  private def processStarts(body: => Unit): Seq[RecordedEvent] = {
    val recording = new Recording()
    recording.enable("jdk.ProcessStart").withStackTrace()
    val dump = Files.createTempFile("graft_process_starts", ".jfr")
    try {
      recording.start()
      try body finally recording.stop()
      recording.dump(dump)
      RecordingFile.readAllEvents(dump).asScala.toSeq
    } finally {
      recording.close()
      Files.deleteIfExists(dump)
    }
  }

  private def viaShell(e: RecordedEvent): Boolean =
    Option(e.getStackTrace).exists(_.getFrames.asScala
      .exists(_.getMethod.getType.getName.startsWith("org.apache.hadoop.util.Shell")))

  test("a fused census batch into a parquet sink starts no process through Hadoop's Shell") {
    // Shell's class initializer probes for `setsid` with a process, once per JVM
    assert(!Shell.WINDOWS)
    val inDir = Files.createTempDirectory("graft_fork_in").toString
    val ckpt = Files.createTempDirectory("graft_fork_ckpt").toString
    val sink = new ParquetSnapshotSink(Files.createTempDirectory("graft_fork_sink").toString)
    val rows = Simulator.generateSeed(30).zipWithIndex.map { case (r, i) =>
      r.copy(hours_per_week = Some(if (i == 29) 100 else 40))
    }
    Simulator.writeBatchCsv(rows, inDir, 1700000200L)
    // a process started through Shell on purpose: the recording sees one
    val marker = s"graft-control-${UUID.randomUUID()}"
    val starts = processStarts {
      new Pipeline(sink, PipelineConfig(fused = true, trigger = Trigger.AvailableNow(),
        clock = () => 1700000200.0)).start(spark, inDir, ckpt).foreach(_.awaitTermination())
      Shell.execCommand("echo", marker)
    }
    Pipeline.Tables.foreach(t => assert(sink.read(spark, t).count() > 0, t))
    val (control, forked) = starts.filter(viaShell).map(_.getString("command"))
      .partition(_.contains(marker))
    assert(control.size == 1, starts.map(_.getString("command")))
    assert(forked.isEmpty, s"${forked.size} processes through Shell")
  }
}
