package graft.core

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FileUtil, FsConstants, FsServerDefaults, FSLinkResolver, LocalFileSystem,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without a forked process per call.
  *
  * Without the native `libhadoop`, Hadoop's `RawLocalFileSystem` runs
  * `chmod` through `Shell` on every file it creates and every directory it
  * makes, and `FileUtil.readLink` runs `readlink` on every `FileContext`
  * rename (through `getFileLinkStatus`). Spark's checkpoint file manager
  * and the sinks' pointer flips rename through `FileContext`, so one
  * perfbench `stream_replay` run forked 1,197 processes (a JFR
  * `jdk.ProcessStart` count). This subclass does the two operations
  * through `java.nio.file` and falls back to Hadoop's own code where NIO
  * cannot say the same thing: a sticky, setuid or setgid bit, a store
  * without POSIX attributes, a file system without symbolic links.
  * `SessionFactory` installs it as `fs.file.impl` ([[NioLocalFileSystem]])
  * and as `fs.AbstractFileSystem.file.impl` ([[NioLocalFs]]).
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val mode = permission.toShort & 0xfff
    val special = (mode & ~0x1ff) != 0 || (try
      (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & ~0x1ff & 0xfff) != 0
    catch { case _: UnsupportedOperationException | _: IllegalArgumentException => true })
    if (special) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, NioRawLocalFileSystem.posix(mode))
  }

  /** Hadoop's status of `f` itself, a symbolic link not followed: the
    * link's target is read from the same `File` as Hadoop reads it (the
    * path's string form, so a `file:`-qualified path is never seen as a
    * link, as in Hadoop). */
  private def linkStatus(f: Path): FileStatus = {
    val target = NioRawLocalFileSystem.readLink(new File(f.toString))
    try {
      val st = getFileStatus(f)
      if (target.isEmpty) st
      else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
        st.getGroup, new Path(target), f)
    } catch {
      case _: FileNotFoundException if target.nonEmpty =>
        // a dangling link
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
          new Path(target), f)
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink)
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink
}

object NioRawLocalFileSystem {
  private val bits = PosixFilePermission.values.toSeq.zipWithIndex

  /** The `rwxrwxrwx` bits of `mode` as NIO permissions. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.foreach { case (p, i) => if ((mode & (1 << (8 - i))) != 0) set.add(p) }
    set
  }

  /** `readlink` of `f`, or "" when `f` is no symbolic link or is missing,
    * as `FileUtil.readLink` answers. */
  private def readLink(f: File): String =
    try Files.readSymbolicLink(f.toPath).toString
    catch {
      case _: UnsupportedOperationException => FileUtil.readLink(f)
      case _: java.io.IOException | _: InvalidPathException => ""
    }
}

/** The checksummed local `FileSystem` (Hadoop's `LocalFileSystem`) over
  * [[NioRawLocalFileSystem]]: `fs.file.impl`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The raw `FileContext` local file system over [[NioRawLocalFileSystem]],
  * as Hadoop's `RawLocalFs` is over `RawLocalFileSystem`. */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `FileContext` local file system (Hadoop's `LocalFs`)
  * over [[NioRawLocalFs]]: `fs.AbstractFileSystem.file.impl`. Hadoop
  * makes it with this (URI, Configuration) constructor and, like
  * `LocalFs`, it serves the local URI whatever URI it is given. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
