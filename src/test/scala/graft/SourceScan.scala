package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Source scans over `src/main/scala/graft`: the spec-side guard that a
  * shared builder's shape is written in its own file only, so a copy
  * cannot be pasted back into a query.
  */
object SourceScan {

  private val base = Paths.get("src/main/scala/graft")

  /** The Scala sources (paths relative to `graft/`), other than
    * `owner`, whose text matches `shape`.
    */
  def copiesOutside(owner: String, shape: Regex): List[String] = {
    val files = Files.walk(base)
    try files.iterator().asScala
      .filter(p => p.toString.endsWith(".scala")
        && base.relativize(p).toString != owner)
      .filter(p => shape.findFirstIn(
        new String(Files.readAllBytes(p), "UTF-8")).isDefined)
      .map(base.relativize(_).toString).toList.sorted
    finally files.close()
  }
}
