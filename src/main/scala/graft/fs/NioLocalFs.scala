package graft.fs

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` file system without forked processes.
  *
  * Without Hadoop's native library (a plain Spark install has none),
  * `RawLocalFileSystem` forks `chmod` to set the mode of every file it
  * creates and every directory it makes, and `readlink` for every
  * `getFileLinkStatus`, which FileContext calls several times per
  * rename. Each fork costs about 5 ms on the calling thread; a census
  * batch paid about 60 of them, half on the stream execution thread
  * (the checkpoint logs' create and rename). This class does both
  * in-process and leaves everything else to Hadoop's code, so the
  * files and modes on disk are the ones Hadoop makes.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The mode set through `java.nio`; a mode with the sticky bit, which
    * NIO cannot set, takes Hadoop's own path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.rwx(permission))

  /** A path that is not a symlink gets `getFileStatus`, as Hadoop does
    * once `readlink` prints nothing. The link test is made on the file
    * Hadoop hands `readlink` (the path's string form, so a
    * `file:`-qualified path names no link there either); a symlink
    * takes Hadoop's own path.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {

  /** The nine rwx bits of `permission` (`toShort`, which for a create's
    * `FsCreateModes` is the masked mode). `PosixFilePermission` lists
    * them owner read first, the order of the mode bits 0400 to 0001.
    */
  private def rwx(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort.toInt
    val set = EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(p)
    }
    set
  }
}

/** `fs.file.impl`: Hadoop's `LocalFileSystem`, `.crc` checksum
  * sidecars included, over [[NioRawLocalFileSystem]].
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `RawLocalFs` (the FileContext API's raw `file:`) over
  * [[NioRawLocalFileSystem]]. `RawLocalFs` fixes its delegate, so its
  * constructor and overrides are repeated here.
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: Hadoop's `LocalFs` (checksummed)
  * over [[NioRawLocalFs]]. Spark's streaming checkpoint file manager
  * writes the offset, commit and source logs through this API.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
