package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system over [[PosixRawLocalFileSystem]]:
  * the `file:` implementation [[graft.GraftSession.tune]] installs. */
class PosixLocalFileSystem extends LocalFileSystem(new PosixRawLocalFileSystem)

/** `RawLocalFileSystem` that sets permissions in-process.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks
  * `chmod <mode> <path>`, and a write calls it for every directory it
  * makes and every file it creates (checksum files included): 9 process
  * starts for one single-file CSV write. Here the same nine mode bits go
  * through `Files.setPosixFilePermissions`, which, like `chmod`, follows
  * symlinks. A mode with setuid, setgid or sticky bits, which NIO cannot
  * express, and a file store without POSIX attributes fall back to
  * Hadoop's own path.
  */
class PosixRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xfff
    if (mode > 0x1ff) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** The permission set of a 9-bit mode: `PosixFilePermission` lists
    * owner/group/others × read/write/execute from the mode's high bit down. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(perm)
    }
    set
  }
}
