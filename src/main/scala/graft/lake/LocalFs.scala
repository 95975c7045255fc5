package graft.lake

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file://` filesystem: Hadoop's checksummed
  * `LocalFileSystem` (same `.crc` side files, same bytes on disk) over a
  * raw layer that sets permissions through the JDK. Without libhadoop,
  * `RawLocalFileSystem.setPermission` forks a `chmod` process, and it runs
  * for every file and directory the local filesystem creates — about a
  * hundred processes per 32-bucket merge write. Registered as
  * `fs.file.impl` by [[graft.Sessions.local]].
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  final class Raw extends RawLocalFileSystem {
    // Without the sticky bit, FsPermission prints the 9-character rwx form
    // PosixFilePermissions parses; the sticky bit has no NIO equivalent.
    override def setPermission(p: Path, perm: FsPermission): Unit =
      if (perm.getStickyBit) super.setPermission(p, perm)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(perm.toString))
  }
}
