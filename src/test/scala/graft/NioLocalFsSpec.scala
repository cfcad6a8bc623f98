package graft

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.fs.{NioLocalFileSystem, NioLocalFs}

/** `graft.fs` against Hadoop's stock local file system, both APIs, on
  * one temp tree: the same modes on disk after create and mkdir under
  * a non-default umask, the same `setPermission` results, and the same
  * statuses (or the same failure) for files, directories, symlinks and
  * missing paths.
  */
class NioLocalFsSpec extends AnyFunSuite {

  private val root = URI.create("file:///")

  private def conf(): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", "027")
    c
  }

  /** (stock, graft) FileSystems, each a fresh uncached instance. */
  private def fileSystems(): (FileSystem, FileSystem) = {
    val (stock, graft) = (new LocalFileSystem, new NioLocalFileSystem)
    Seq(stock, graft).foreach(_.initialize(root, conf()))
    (stock, graft)
  }

  /** (stock, graft) FileContexts: the stock one from core-default's
    * `fs.AbstractFileSystem.file.impl`.
    */
  private def fileContexts(): (FileContext, FileContext) = {
    val stock = FileContext.getFileContext(root, conf())
    assert(stock.getDefaultFileSystem.getClass.getName == "org.apache.hadoop.fs.local.LocalFs")
    (stock, FileContext.getFileContext(new NioLocalFs(root, conf()), conf()))
  }

  /** The full mode bits (sticky included) of `p` as on disk. */
  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Relative path → mode of everything under `dir`, `.crc` files too. */
  private def modes(dir: JPath): Map[String, Int] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_ != dir).map(p => dir.relativize(p).toString -> mode(p)).toMap
    finally s.close()
  }

  private def tree(): JPath = Files.createTempDirectory("graft_niofs")

  test("create and mkdirs leave the stock modes under umask 027, through both APIs") {
    val t = tree()
    val ((stockFs, graftFs), (stockFc, graftFc)) = (fileSystems(), fileContexts())
    def viaFs(fs: FileSystem, side: String): Unit = {
      val base = new Path(t.resolve(side).resolve("fs").toString)
      fs.create(new Path(base, "a/b/file")).close()
      fs.mkdirs(new Path(base, "c/d"))
      fs.create(new Path(base, "c/open"), new FsPermission("777"), true, 4096, 1.toShort, 1L << 20, null)
        .close()
    }
    def viaFc(fc: FileContext, side: String): Unit = {
      val base = new Path(t.resolve(side).resolve("fc").toString)
      fc.mkdir(new Path(base, "x/y"), FsPermission.getDirDefault, true)
      fc.create(new Path(base, "x/y/file"), EnumSet.of(CreateFlag.CREATE)).close()
      fc.create(new Path(base, "z/file"), EnumSet.of(CreateFlag.CREATE),
        org.apache.hadoop.fs.Options.CreateOpts.createParent()).close()
    }
    viaFs(stockFs, "stock"); viaFs(graftFs, "graft")
    viaFc(stockFc, "stock"); viaFc(graftFc, "graft")
    val (stock, graft) = (modes(t.resolve("stock")), modes(t.resolve("graft")))
    assert(stock.keySet.exists(_.endsWith(".crc")), stock.keySet)
    assert(graft == stock)
    // the umask took effect: no bit for others, none written for group
    assert(stock.values.forall(m => (m & 0x7) == 0 && (m & 0x10) == 0), stock)
  }

  test("setPermission round-trips like the stock one, sticky bit included") {
    val t = tree()
    val (stockFs, graftFs) = fileSystems()
    val (stockFc, graftFc) = fileContexts()
    val setters = Seq[(String, (Path, FsPermission) => Unit)](
      "stock fs" -> stockFs.setPermission, "graft fs" -> graftFs.setPermission,
      "stock fc" -> stockFc.setPermission, "graft fc" -> graftFc.setPermission)
    for ((name, set) <- setters; m <- Seq("700", "644", "751", "000", "777", "1777")) {
      val dir = t.resolve(s"${name.replace(' ', '_')}_$m")
      Files.createDirectory(dir)
      set(new Path(dir.toString), new FsPermission(m))
      assert(mode(dir) == Integer.parseInt(m, 8), s"$name $m")
      assert(stockFs.getFileStatus(new Path(dir.toString)).getPermission == new FsPermission(m),
        s"$name $m")
    }
    for ((name, set) <- setters)
      intercept[IOException](set(new Path(t.resolve("missing").toString), new FsPermission("644")))
  }

  /** What a status call gives: the status's fields, or the failure's class. */
  private def outcome(call: => FileStatus): Either[String, Seq[Any]] =
    try {
      val s = call
      Right(Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink else null, s.getLen, s.getModificationTime,
        s.getPermission, s.getOwner, s.getGroup))
    } catch { case e: IOException => Left(e.getClass.getName) }

  test("file, directory, symlink, dangling symlink and missing path statuses match, " +
      "on qualified and bare paths") {
    val t = tree()
    val file = Files.write(t.resolve("file"), "abc".getBytes)
    val dir = Files.createDirectory(t.resolve("dir"))
    val link = Files.createSymbolicLink(t.resolve("link"), file)
    val dangling = Files.createSymbolicLink(t.resolve("dangling"), t.resolve("gone"))
    val missing = t.resolve("missing")
    val (stockFs, graftFs) = fileSystems()
    val (stockFc, graftFc) = fileContexts()
    for {
      p <- Seq(file, dir, link, dangling, missing)
      path <- Seq(new Path(p.toString), new Path(p.toUri))
    } {
      val cases = Seq[(String, FileSystem => FileStatus, FileContext => FileStatus)](
        ("getFileStatus", _.getFileStatus(path), _.getFileStatus(path)),
        ("getFileLinkStatus", _.getFileLinkStatus(path), _.getFileLinkStatus(path)))
      cases.foreach { case (call, onFs, onFc) =>
        val at = s"$call($path)"
        assert(outcome(onFs(graftFs)) == outcome(onFs(stockFs)), s"FileSystem.$at")
        assert(outcome(onFc(graftFc)) == outcome(onFc(stockFc)), s"FileContext.$at")
      }
    }
    // the cases cover a link seen as a link, and a missing path failing
    assert(outcome(graftFs.getFileLinkStatus(new Path(link.toString)))
      .exists(_(3) == true))
    Seq(missing, dangling).foreach { p =>
      assert(outcome(graftFs.getFileStatus(new Path(p.toString))) ==
        Left(classOf[FileNotFoundException].getName))
      assert(outcome(graftFc.getFileStatus(new Path(p.toString))) ==
        Left(classOf[FileNotFoundException].getName))
    }
  }
}
