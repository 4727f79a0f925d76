package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with permissions set in-process.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks a
  * `chmod` for every file and directory a write creates (parquet part
  * files, their `.crc` siblings, task attempt dirs): about ten forks
  * per DeltaChain commit, 409 in one lakehouse benchmark run (4-core
  * Linux host), each a fork/exec from a multi-GB JVM.
  * `java.nio.file.Files.setPosixFilePermissions` sets the same mode
  * with one system call.
  * [[GraftSession.builder]] binds `file:` to [[NioLocalFileSystem]].
  * The modes set are the ones Hadoop's path would set; a sticky bit
  * (which nio cannot express) or a store without POSIX attributes
  * falls back to Hadoop's own implementation.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val perms = PosixFilePermissions.fromString(
        permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
          permission.getOtherAction.SYMBOL)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
      }
    }
}

/** The checksummed `file:` file system over [[NioRawLocalFileSystem]]
  * (Hadoop's `LocalFileSystem` is the same wrapper over the stock raw
  * file system). */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)
