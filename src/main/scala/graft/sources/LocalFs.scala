package graft.sources

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, FSLinkResolver, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system for `file://`, minus the process forks.
  *
  * Without the native Hadoop library (`libhadoop`), Hadoop 3.4's
  * `RawLocalFileSystem` runs a shell command for two routine calls:
  *  - `setPermission` forks `chmod` for every file, `.crc` side file and
  *    directory a write creates (Hadoop has already applied the umask
  *    when it calls it);
  *  - `getFileLinkStatus` forks `readlink`, which FileContext renames
  *    (streaming checkpoints) call for both ends of every rename.
  *
  * [[NoForkRawLocalFileSystem]] does both through `java.nio.file` with
  * the same result, and the other three classes wrap it exactly as
  * Hadoop wraps `RawLocalFileSystem`: a checksum `FileSystem`, and a
  * checksum `AbstractFileSystem` for the FileContext API.
  * `graft.Sessions.builder` registers the two checksum classes for
  * `file://`.
  */
object LocalFs {

  private val SetIdBits = 6 << 9 // S_ISUID | S_ISGID

  /** What GNU `chmod %04o` (the stock command) leaves on `file`: the
    * requested mode, plus, on a directory, the setuid/setgid bits it
    * already has (a numeric mode sets those bits but never clears them
    * on a directory).
    */
  private[sources] def chmodMode(file: java.nio.file.Path,
      permission: FsPermission): Int = {
    val keep =
      if (Files.isDirectory(file))
        Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & SetIdBits
      else 0
    permission.toShort | keep
  }

  /** `readlink <path>` without the fork: the raw target, or "" when the
    * path is not a symlink or cannot be read.
    */
  private[sources] def readLink(path: String): String =
    try Files.readSymbolicLink(new File(path).toPath).toString.trim
    catch { case _: IOException => "" }
}

/** `RawLocalFileSystem` whose `setPermission` and link lookups run in
  * the JVM instead of forking `chmod` / `readlink`.
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    // `unix:mode` is chmod(2) with the full mode, sticky bit included
    Files.setAttribute(file, "unix:mode",
      Integer.valueOf(LocalFs.chmodMode(file, permission)))
  }

  /** Stock `getFileLinkStatus` over `deprecatedGetFileLinkStatusInternal`
    * (the branch Hadoop takes unless `useStatIfAvailable()` was called)
    * with [[LocalFs.readLink]] in place of `FileUtil.readLink`. It reads
    * `f.toString`, as stock does, so a `file:`-qualified path is never
    * seen as a link.
    */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val target = LocalFs.readLink(f.toString)
    val fi =
      try {
        val fs = getFileStatus(f)
        if (target.isEmpty) fs
        else new FileStatus(fs.getLen, false, fs.getReplication,
          fs.getBlockSize, fs.getModificationTime, fs.getAccessTime,
          fs.getPermission, fs.getOwner, fs.getGroup, new Path(target), f)
      } catch {
        // a dangling link: File.exists is false for it
        case _: FileNotFoundException if target.nonEmpty =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "",
            "", new Path(target), f)
      }
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath,
        fi.getSymlink))
    fi
  }
}

/** `LocalFileSystem` (the `.crc` checksum layer) over
  * [[NoForkRawLocalFileSystem]]; the `fs.file.impl` class.
  */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** Hadoop's `local.RawLocalFs` over [[NoForkRawLocalFileSystem]]. Its
  * constructors are package-private, so its four overrides are copied.
  */
class NoForkRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's `local.LocalFs` (checksums) over [[NoForkRawLocalFs]]; the
  * `fs.AbstractFileSystem.file.impl` class.
  */
class NoForkLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NoForkRawLocalFs(uri, conf))
