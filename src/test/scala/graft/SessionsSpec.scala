package graft

import java.net.URI
import java.nio.file.Paths

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem}
import org.apache.spark.sql.SparkSession

import graft.fs.{NioLocalFileSystem, NioLocalFs}

/** [[Sessions.local]] gives each JVM its own catalog warehouse: two
  * processes writing the same bucketed catalog table no longer share
  * one directory. It binds `file:` to `graft.fs` for both Hadoop APIs,
  * or fails by name.
  */
class SessionsSpec extends SparkSpec {

  test("the session's warehouse is this JVM's own, not the shared tmp dir") {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val shared = tmp.resolve("graft_warehouse").toUri.getPath.stripSuffix("/")
    val got = new java.net.URI(spark.sessionState.conf.warehousePath).getPath.stripSuffix("/")
    assert(got != shared, got)
    assert(got == tmp.resolve(s"graft_warehouse_${ProcessHandle.current.pid}").toUri.getPath
      .stripSuffix("/"), got)
  }

  /** The classes `file:///` resolves to through `s`'s Hadoop conf. */
  private def localFs(s: SparkSession): (Class[_], Class[_]) = {
    val conf = s.sessionState.newHadoopConf()
    val root = URI.create("file:///")
    (FileSystem.get(root, conf).getClass,
      FileContext.getFileContext(root, conf).getDefaultFileSystem.getClass)
  }

  test("file: resolves to graft.fs through the session's Hadoop conf, " +
      "also after a second Sessions.local") {
    val bound = (classOf[NioLocalFileSystem], classOf[NioLocalFs])
    assert(localFs(spark) == bound)
    assert(localFs(Sessions.local("4", "graft-test")) == bound)
    assert(localFs(spark) == bound)
  }

  test("a Hadoop conf without the binding fails by name") {
    val e = intercept[Sessions.LocalFsNotBound](Sessions.requireLocalFsBound(new Configuration()))
    assert(e.getMessage.contains("org.apache.hadoop.fs.local.LocalFs"), e.getMessage)
  }
}
