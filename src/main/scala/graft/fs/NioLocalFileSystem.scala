package graft.fs

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Stock `RawLocalFileSystem.setPermission` forks `/bin/chmod` when
  * libhadoop is not loaded — once for every file, `.crc` sidecar and
  * directory a write creates. This one sets the same mode bits with a
  * single `chmod(2)` through NIO.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    // bits above 0777 (FsPermission carries only the sticky bit there)
    // have no PosixFilePermission
    if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
  }
}

/** The checksummed `file:` filesystem over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

object NioLocalFileSystem {
  /** DataFrameWriter options that bind `file:` to this class for one
    * write: Spark copies writer options into that write's Hadoop conf,
    * so the committer, the format writers and the partition renames
    * all see it; other schemes ignore it. The cache is disabled
    * because `FileSystem.CACHE` keys on scheme, authority and user, not
    * on conf — a cached `file:` instance would win.
    */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")
}
