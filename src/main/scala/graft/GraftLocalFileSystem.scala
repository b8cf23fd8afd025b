package graft

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem of every graft session ([[GraftSession]]
  * registers it as `fs.file.impl`): Hadoop's checksummed
  * `LocalFileSystem` over a raw layer that sets permissions in
  * process. Without libhadoop, `RawLocalFileSystem.setPermission`
  * forks a `chmod` for every file, `.crc` and directory a write
  * creates — on the driver thread too, for the committer's
  * directories and `_SUCCESS`. The mode bits applied are the ones
  * Hadoop computed; only the mechanism changes.
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftLocalFileSystem.Raw)

object GraftLocalFileSystem {
  class Raw extends RawLocalFileSystem {
    /** `chmod(2)` through the JDK's `unix` attribute view; where the
      * platform has no such view, Hadoop's own path. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      try java.nio.file.Files.setAttribute(pathToFile(p).toPath, "unix:mode",
        Integer.valueOf(permission.toShort.toInt))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}
