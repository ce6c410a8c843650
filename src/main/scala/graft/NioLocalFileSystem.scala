package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystemException, Files, LinkOption}
import java.nio.file.attribute.{FileTime, PosixFilePermission}
import java.security.Principal
import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` with its shell-outs done in the JVM.
  *
  * Without the native `libhadoop`, the stock class forks a process for
  * three calls that every checkpoint, state-store delta and listing makes:
  *   - `setPermission` runs `chmod` on each created file, its `.crc`
  *     sidecar and each created directory;
  *   - `getFileLinkStatus` runs `readlink` (around every `FileContext`
  *     rename);
  *   - the permission, owner and group of a `getFileStatus` or
  *     `listStatus` result run `ls -ld` when first read (on every
  *     `LocatedFileStatus` a listing builds).
  * Here the same answers come from `java.nio`; anything that the POSIX
  * permission set cannot express still goes to the stock code. Everything
  * else (streams, rename, mkdirs, umask) is the stock code, and the
  * wrappers below keep Hadoop's `.crc` checksumming on top.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  /** `chmod` in the JVM. The sticky bit and a directory's set-id bits
    * (kept by `chmod 0755`, cleared by a plain mode set) go to `super`. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val path = pathToFile(p).toPath
    if (permission.getStickyBit ||
        isSetIdDirectory(Files.getAttribute(path, "unix:mode").asInstanceOf[Int]))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(path, posix(permission.toShort))
  }

  /** One `lstat`, with permission, owner and group filled in. A symbolic
    * link goes to `super`, whose `ls -ld` reports the link's own mode. */
  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val a = try Files.readAttributes(file.toPath, StatAttributes, LinkOption.NOFOLLOW_LINKS)
    catch { case _: FileSystemException => throw new FileNotFoundException(s"File $f does not exist") }
    if (a.get("isSymbolicLink").asInstanceOf[Boolean]) super.getFileStatus(f)
    else new FileStatus(
      a.get("size").asInstanceOf[Long], a.get("isDirectory").asInstanceOf[Boolean], 1,
      getDefaultBlockSize(f),
      a.get("lastModifiedTime").asInstanceOf[FileTime].toMillis,
      a.get("lastAccessTime").asInstanceOf[FileTime].toMillis,
      new FsPermission((a.get("mode").asInstanceOf[Int] & ModeBits).toShort),
      a.get("owner").asInstanceOf[Principal].getName,
      a.get("group").asInstanceOf[Principal].getName,
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  /** A file lists as its [[getFileStatus]]. The stock call builds a
    * status whose permission, when a listing reads it for its
    * `LocatedFileStatus`, forks `ls -ld`; a file stream source lists each
    * new file this way. */
  override def listStatus(f: Path): Array[FileStatus] = {
    val status = getFileStatus(f)
    if (status.isDirectory) super.listStatus(f) else Array(status)
  }

  /** The stock call `readlink`s `f.toString`, a `file:` URI for a
    * qualified path, so it always answers `getFileStatus(f)` there; only
    * a real link needs its resolution. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  /** The JDK's "unix" attribute view (Linux and macOS) reads these,
    * the full mode included, in one `stat`. */
  private val StatAttributes =
    "unix:mode,size,isDirectory,isSymbolicLink,lastModifiedTime,lastAccessTime,owner,group"
  /** rwx for owner, group and other plus the sticky bit: what `ls -ld`
    * shows and `FsPermission` holds (octal 1777). */
  private val ModeBits = 0x3ff

  /** A directory (`S_IFDIR`, octal 40000) with set-user-id or set-group-id
    * (octal 6000). */
  private def isSetIdDirectory(mode: Int): Boolean =
    (mode & 0xf000) == 0x4000 && (mode & 0xc00) != 0

  /** In `PosixFilePermission` order: owner rwx, group rwx, others rwx. */
  private val Permissions = PosixFilePermission.values

  private def posix(mode: Short): util.Set[PosixFilePermission] = {
    val s = util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- 0 until 9 if (mode & (0x100 >> i)) != 0) s.add(Permissions(i))
    s
  }
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `FileContext` side that Spark's
  * checkpoint file manager uses for offsets, commits and state deltas:
  * Hadoop's `LocalFs` (a `ChecksumFs`) over [[NioRawLocalFileSystem]]. As
  * in `LocalFs`, the URI is always `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** Hadoop's `RawLocalFs` with [[NioRawLocalFileSystem]] underneath. */
private class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
