package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without the forked helper processes.
  *
  * Without libhadoop, `RawLocalFileSystem` runs `chmod` for every file and
  * directory it creates (each `.crc` sidecar included) and `readlink` on
  * every `getFileLinkStatus`, which `FileContext.rename` calls on both ends
  * of every checkpoint commit. Each fork costs a few milliseconds, so a
  * streaming trigger's offset, commit and state-store files pay tens of
  * milliseconds in `fork`/`exec` alone. This subclass does both in-process
  * and keeps Hadoop's own path wherever the in-process one could differ.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** The same mode bits `chmod` would set, via the JDK's POSIX view. A
    * sticky bit, or a filesystem without a POSIX view, keeps Hadoop's path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val rwx = Seq(permission.getUserAction, permission.getGroupAction,
        permission.getOtherAction).map(_.SYMBOL).mkString
      try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  /** For anything but a symlink, Hadoop returns `getFileStatus(f)` once
    * `readlink` prints nothing; a real symlink keeps Hadoop's path.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed `FileSystem` over the fork-free raw one. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** The `AbstractFileSystem` delegate, with the four overrides of Hadoop's
  * `org.apache.hadoop.fs.local.RawLocalFs`.
  */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`, which `FileContext` (and so Spark's
  * checkpoint file manager) uses: `.crc` sidecars over [[GraftRawLocalFs]].
  */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(uri, conf))

object LocalFs {

  /** Hadoop conf keys that select the graft classes for the `file:` scheme. */
  val hadoopConf: Seq[(String, String)] = Seq(
    "fs.file.impl" -> classOf[GraftLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[GraftLocalFs].getName)
}
