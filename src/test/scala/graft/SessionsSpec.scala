package graft

import java.nio.file.Paths

/** [[Sessions.local]] gives each JVM its own catalog warehouse: two
  * processes writing the same bucketed catalog table no longer share
  * one directory.
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
}
