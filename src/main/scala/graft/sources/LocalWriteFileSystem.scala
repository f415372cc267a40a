package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `LocalFileSystem` (the `.crc` files stay) over
  * [[InProcessChmodFileSystem]]. Bound to the `file` scheme only by
  * the writers that select it through their own options
  * (`Geo.writeTiled`); everything else keeps Hadoop's default.
  */
class LocalWriteFileSystem extends LocalFileSystem(new InProcessChmodFileSystem)

/** `RawLocalFileSystem` whose `setPermission` sets the mode bits
  * in-process. Without libhadoop the parent forks a `chmod` process
  * for every file, `.crc` file and directory it creates; this sets the
  * same bits with `Files.setPosixFilePermissions`. Modes with bits
  * outside 0777 (sticky) and stores without POSIX attributes fall
  * back to the parent.
  */
class InProcessChmodFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode: Int = permission.toShort
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission is declared OWNER_READ … OTHERS_EXECUTE,
      // i.e. from mode bit 8 down to bit 0
      PosixFilePermission.values().foreach { perm =>
        if ((mode & (0x100 >> perm.ordinal)) != 0) perms.add(perm)
      }
      try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }
}
