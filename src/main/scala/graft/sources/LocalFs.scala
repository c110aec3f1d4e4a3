package graft.sources

import java.net.URI
import java.nio.file.{Files, attribute}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without a forked process per call. With no
  * native Hadoop library loaded, `RawLocalFileSystem` runs `chmod` through
  * `Shell.execCommand` for every file and directory it creates, and
  * `readlink` for every `getFileLinkStatus` (twice per `FileContext`
  * rename: the source and the destination). Each fork costs about 2 ms from
  * a multi-GB JVM; the same call through `java.nio` costs about 0.02 ms.
  * Every parquet sink and checkpoint, state-store and offset-log write pays
  * them. Modes, statuses and checksums are unchanged: only the mechanism is. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  /** `chmod` through `java.nio`. The sticky bit has no `PosixFilePermission`,
    * and a non-POSIX store has no view, so both keep Hadoop's path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[attribute.PosixFilePermission])
      // PosixFilePermission lists owner rwx, group rwx, others rwx: bits 8..0
      attribute.PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
        if ((mode & (1 << (8 - i))) != 0) perms.add(perm)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  /** A path that is not a symbolic link has the status `getFileStatus`
    * reports: what Hadoop returns when `readlink` prints nothing. Links keep
    * Hadoop's path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `FileSystem` entry (`fs.file.impl`): a checksummed
  * [[NioRawLocalFileSystem]]. It stays a `LocalFileSystem` because
  * `FileSystem.getLocal` casts to that type. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` entry (`fs.AbstractFileSystem.file.impl`), which
  * Structured Streaming's checkpoint manager and state store write through:
  * Hadoop's `LocalFs` over [[NioRawLocalFileSystem]]. Hadoop constructs it
  * by reflection with `(URI, Configuration)`; like `LocalFs` it serves
  * `file:///` whatever the URI. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.Raw(conf)) {
  override def getUriDefaultPort: Int = -1
}

object NioLocalFs {
  /** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]], with its four
    * overrides. */
  private class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
