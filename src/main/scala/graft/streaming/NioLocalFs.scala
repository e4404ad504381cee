package graft.streaming

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local `AbstractFileSystem` (`LocalFs`: `.crc` side files over
  * the raw local filesystem) with two calls made in-process, for the
  * `FileContext` that Spark's streaming logs write through
  * (`FileContextBasedCheckpointFileManager`).
  *
  * Without the native `libhadoop`, the stock `RawLocalFileSystem` starts a
  * child process for both calls: `chmod` for every permission change (each
  * created log file and its `.crc`) and `readlink` for every link check
  * (each rename of a log file and its `.crc`), about 20 per streaming
  * micro-batch. Here:
  *   - `setPermission` of a mode with only the rwx bits is
  *     `Files.setPosixFilePermissions`; any other mode, and any failure,
  *     takes the stock path (so its error is the stock error);
  *   - `getFileLinkStatus` of a path the stock method would not read as a
  *     link is `getFileStatus`, which is what the stock method returns for
  *     it; a link takes the stock path. The stock method reads the link at
  *     `new File(path.toString)`, and a qualified path prints as `file:/...`,
  *     a relative name that is never a link, so the stock result is
  *     `getFileStatus` for links too.
  *
  * Everything else (create, rename, checksums, modes) is the stock code.
  * [[Streams.start]] registers it as `fs.AbstractFileSystem.file.impl`. */
final class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.Raw(uri, conf))

object NioLocalFs {

  /** `RawLocalFs` (whose constructors are package-private) over
    * [[RawFileSystem]]; the three overrides are `RawLocalFs`'s. */
  final class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new RawFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  private val rwx = 0x1ff

  /** `PosixFilePermission`'s declaration order is the nine mode bits from
    * the highest (owner read) down. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((mode & (1 << (8 - p.ordinal))) != 0) set.add(p)
    }
    set
  }

  final class RawFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      val done = (mode & ~rwx) == 0 &&
        (try { Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode)); true }
         catch { case _: IOException | _: UnsupportedOperationException => false })
      if (!done) super.setPermission(p, permission)
    }

    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }
}
