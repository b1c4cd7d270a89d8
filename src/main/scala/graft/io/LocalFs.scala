package graft.io

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` with its permission and link-status calls
  * done through java.nio instead of child processes.
  *
  * Without `libhadoop`, stock Hadoop forks `chmod` for every file or
  * directory it creates with a permission and `readlink` for every
  * `FileContext` rename (it checks both ends for links). A fork costs
  * milliseconds; a streaming micro-batch writes two checkpoint files, a
  * CSV or parquet sink a handful of committer dirs and files. Everything
  * else, reads and writes included, is the stock class.
  *
  * Link detection works on `file:`-qualified paths too, which stock
  * `readlink` (handed the qualified string) silently misses.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` via `Files.setPosixFilePermissions`; nio cannot set the
    * sticky bit, so that case keeps the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
        permission.getOtherAction.SYMBOL))

  /** The stock (non-native) status: a plain file or directory reports its
    * `getFileStatus`; a link reports its target's length, times, mode and
    * owner, and a dangling link a zeroed status. The link target is
    * qualified as stock does. */
  override def getFileLinkStatus(f: Path): FileStatus = linkTarget(f) match {
    case None => getFileStatus(f)
    case Some(target) =>
      val st = try {
        val t = getFileStatus(f)
        val a = Files.readAttributes(pathToFile(f).toPath, classOf[PosixFileAttributes])
        val mode = FsPermission.valueOf("-" + PosixFilePermissions.toString(a.permissions()))
        new FileStatus(t.getLen, false, t.getReplication, t.getBlockSize, t.getModificationTime,
          t.getAccessTime, mode, a.owner().getName, a.group().getName, target, f)
      } catch {
        case _: FileNotFoundException =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
      st
  }

  /** The raw (unqualified) target; `DelegateToFileSystem` reads it after
    * `getFileLinkStatus` reports a link, so both must agree on what a
    * link is. */
  override def getLinkTarget(f: Path): Path =
    linkTarget(f).getOrElse(throw new IOException(s"Path $f is not a symbolic link"))

  private def linkTarget(f: Path): Option[Path] = {
    val p = pathToFile(f).toPath
    if (Files.isSymbolicLink(p)) Some(new Path(Files.readSymbolicLink(p).toString)) else None
  }
}

/** `file:` `FileSystem` (`fs.file.impl`): the stock checksummed wrapper
  * over [[NioRawLocalFileSystem]], so `.crc` handling is unchanged. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `FileContext` view of [[NioRawLocalFileSystem]], the counterpart of
  * Hadoop's `RawLocalFs` (whose constructor is package-private). */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `file:` `AbstractFileSystem` (`fs.AbstractFileSystem.file.impl`), used
  * by `FileContext` and so by Spark's streaming checkpoint manager: the
  * stock checksummed wrapper over [[NioRawLocalFs]]. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
