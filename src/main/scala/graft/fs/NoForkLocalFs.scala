package graft.fs

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}

/** Hadoop's `file:` file systems, minus their process starts. Without the
  * native Hadoop library, `RawLocalFileSystem` runs `chmod` for every
  * `setPermission` (each create and mkdir of an offset-log, commit-log or
  * state-store file) and `readlink` for every `getFileLinkStatus` (each
  * FileContext rename). These classes make the same calls in-process and
  * change nothing else: the `.crc` side files, Spark's checkpoint file
  * manager and its no-overwrite rename stay as they are. One read differs
  * from Hadoop's `LocalFs`: [[NoForkLocalFs]] checks the `.crc` of a
  * checkpoint file Spark reads back, which stock `LocalFs` skips.
  * `src/main/resources/core-site.xml` installs them as `fs.file.impl` and
  * `fs.AbstractFileSystem.file.impl`. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` without the fork; the sticky bit, or a store with no POSIX
    * view, takes Hadoop's own path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  /** The nine rwx bits of `p`; `PosixFilePermission` lists them from
    * OWNER_READ (0400) down to OTHERS_EXECUTE (0001). */
  private def posix(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (bit, i) =>
      if ((p.toShort & (0x100 >> i)) != 0) s.add(bit)
    }
    s
  }

  /** Hadoop forks `readlink` to learn whether `f` is a link, and answers
    * with `getFileStatus(f)` when it is not; only a link needs Hadoop. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: checksummed, like Hadoop's; `FileSystem.getLocal` casts
  * to `LocalFileSystem`. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** Hadoop's `RawLocalFs` over the fork-free file system (its constructors
  * are package-private, so this copies its three overrides). */
class NoForkRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: checksummed, like Hadoop's `LocalFs`,
  * and on every read. */
class NoForkLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NoForkRawLocalFs(uri, conf)) {
  /** `FilterFs.open(Path)` hands the raw file system the read and skips the
    * `.crc`; this is how Spark reads offset-log, commit-log and state-store
    * files. Read through the checked `open(Path, Int)` instead. */
  override def open(f: Path): FSDataInputStream = open(f, getServerDefaults(f).getFileBufferSize)
}
