package graft.engine

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem ([[Sessions.local]] names it as
  * `fs.file.impl`): a stock [[LocalFileSystem]], so `.crc` sidecars
  * are written and verified exactly as before, over a raw filesystem
  * that sets modes through `java.nio`.
  *
  * Without libhadoop, Hadoop's `RawLocalFileSystem.setPermission`
  * starts a `chmod` process, and it runs for every file and directory
  * a write creates: parquet files and their sidecars, commit-protocol
  * directories, `_SUCCESS` markers and every warehouse metadata file.
  * Here the same mode bits are set in-process.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeLocalFileSystem.NioPermissions)

object ForkFreeLocalFileSystem {

  /** `RawLocalFileSystem` whose `setPermission` is a `java.nio` call
    * rather than a forked `chmod`. Same mode bits: Hadoop applies the
    * umask before it calls here. A mode `java.nio` cannot express (a
    * sticky bit) or a non-POSIX store takes Hadoop's own path.
    */
  final class NioPermissions extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
      catch {
        case _: UnsupportedOperationException | _: IllegalArgumentException =>
          super.setPermission(p, permission)
      }
  }
}
