package graft.sources

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without process starts.
  *
  * Without libhadoop's NativeIO, `RawLocalFileSystem` runs `chmod` for
  * every file and directory it creates with a permission, and `readlink`
  * for every link-status lookup (each `rename` through `FileContext` or
  * `FileSystem.rename(…, Rename…)` makes two). A streaming drain's commit
  * path — offset and commit logs, state-store delta and checksum files,
  * sink metadata — and every parquet write then wait on a fork/exec per
  * file. The two overrides below make the same changes with syscalls:
  *   - `setPermission` sets the mode bits `chmod %04o` would: the
  *     permission's rwx and sticky bits, and on a directory the
  *     set-user/group-ID bits it already had (a four-digit octal mode
  *     does not clear them there);
  *   - `getFileLinkStatus` of a path that is not a symlink is its
  *     `getFileStatus`, which is what the stock path returns when
  *     `readlink` prints nothing; real symlinks keep the stock path.
  * Everything else is the stock class.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val setIds = // octal 06000
      if (Files.isDirectory(file)) Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xc00
      else 0
    val stickyRwx = permission.toShort & 0x3ff // octal 01777
    Files.setAttribute(file, "unix:mode", Integer.valueOf(stickyRwx | setIds))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local filesystem (Hadoop's
  * `LocalFileSystem`, `.crc` sidecars included) over
  * [[ForkFreeRawLocalFileSystem]].
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` face of [[ForkFreeRawLocalFileSystem]], as Hadoop's
  * `RawLocalFs` is of `RawLocalFileSystem`: rooted at `file:///` whatever
  * URI it is asked for, with the local server defaults (which fix the
  * checksum chunk size).
  */
class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext`
  * filesystem (Hadoop's `LocalFs`) over [[ForkFreeRawLocalFs]]. Spark's
  * streaming checkpoint and state-store files go through this one.
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))
