package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its shell forks.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem` runs a process for
  * two metadata calls that every checkpoint file write makes: `chmod` for
  * `setPermission` (called after each file and directory it creates) and
  * `readlink` for `getFileLinkStatus` (called by FileContext's rename to
  * check source and destination). A streaming commit writes dozens of
  * files, so the forks, not the bytes, set its cost. These two calls are
  * done through `java.nio` instead; every other path, including the `.crc`
  * checksum sidecars, is Hadoop's own.
  *
  * [[Graft.session]] registers [[ForkFreeLocalFileSystem]] as
  * `fs.file.impl` (the `FileSystem` entry point) and [[ForkFreeLocalFs]] as
  * `fs.AbstractFileSystem.file.impl` (the `FileContext` entry point that
  * Spark's checkpoint file manager uses). */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine rwx bits through NIO; a mode with the sticky bit, which NIO
    * cannot express, goes to Hadoop's own `chmod`. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, ForkFreeRawLocalFileSystem.posix(mode))
  }

  /** For a path that is not a symlink Hadoop returns `getFileStatus(f)`,
    * after forking `readlink` to find that out; symlinks keep Hadoop's
    * path. A missing path throws `FileNotFoundException` from
    * `getFileStatus`, as it does in Hadoop. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  // the enum runs from owner read (mode bit 8) to others execute (bit 0)
  private def posix(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values().zipWithIndex
      .collect { case (p, i) if (mode >> (8 - i) & 1) == 1 => p }.toSet.asJava
}

/** `LocalFileSystem` (checksummed) over the fork-free raw filesystem. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** Hadoop's `RawLocalFs` over the fork-free raw filesystem; the three
  * overrides are `RawLocalFs`'s own. */
class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  @deprecated("as in Hadoop", "")
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's `LocalFs` (checksummed `FileContext` filesystem) over
  * [[ForkFreeRawLocalFs]]. Hadoop instantiates it reflectively through
  * this `(URI, Configuration)` constructor. */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForkFreeRawLocalFs(conf))
