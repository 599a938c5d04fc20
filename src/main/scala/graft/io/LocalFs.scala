package graft.io

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FSDataInputStream, FsServerDefaults, FSLinkResolver, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without its per-file child processes.
  * With no libhadoop loaded, the stock class forks `chmod` for every
  * file or directory it creates with a permission and `readlink` on
  * every `getFileLinkStatus` (FileContext's rename calls it twice) —
  * about 3 ms each, several per streaming state-store commit. The
  * overrides below do the same through `java.nio` in-process and
  * return what the stock class returns. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** The stock `chmod %04o` on the canonical path: the same 9 mode bits
    * through `java.nio` (which follows links, as the canonical path
    * does). A sticky bit, or a filestore without POSIX attributes,
    * takes the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val rwx = Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
        .map(_.SYMBOL).mkString
      try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  /** Unqualified target, as the stock method returns it; the FileContext
    * binding calls this for every symlink it stats. */
  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** Hadoop's `deprecatedGetFileLinkStatusInternal`, with `readlink`
    * on `new File(f.toString)` replaced by `java.nio` on the same file
    * (so a `file:`-qualified path is, as there, never a link). */
  private def linkStatus(f: Path): FileStatus = {
    val target = readLink(new File(f.toString))
    try {
      val fs = getFileStatus(f)
      if (target.isEmpty) fs
      else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
        fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
        fs.getGroup, new Path(target), f)
    } catch {
      // a dangling link: File.exists is false, the link itself is not
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
          new Path(target), f)
    }
  }

  /** `FileUtil.readLink`: the link's target, or "" when `f` is not a
    * link or cannot be read. */
  private def readLink(f: File): String =
    try {
      val p = f.toPath
      if (Files.isSymbolicLink(p)) Files.readSymbolicLink(p).toString else ""
    } catch { case _: java.io.IOException | _: InvalidPathException => "" }
}

/** The checksummed `file:` FileSystem (`fs.file.impl`) over
  * [[ForkFreeRawLocalFileSystem]]; writes the same `.crc` files. */
class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The checksummed `file:` AbstractFileSystem
  * (`fs.AbstractFileSystem.file.impl`) — the FileContext binding that
  * streaming checkpoints and the HDFS-backed state store write through.
  * Hadoop's `local.LocalFs` over its `local.RawLocalFs`, with the raw
  * filesystem swapped; Hadoop instantiates it by this constructor. */
class LocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    // each local filesystem has its own naming rules; let the OS judge
    override def isValidName(src: String): Boolean = true
  }) {

  /** `FileContext.open(p)` — how Spark's checkpoint manager reads
    * offsets, commits and state-store deltas — reaches Hadoop's
    * `FilterFs.open(p)`, which goes straight to the raw filesystem and
    * never checks the `.crc`. Route it to the verifying sized open. */
  override def open(f: Path): FSDataInputStream =
    open(f, getServerDefaults(f).getFileBufferSize)
}
