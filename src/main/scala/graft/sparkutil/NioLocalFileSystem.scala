package graft.sparkutil

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** The `file:` FileSystem of every session built by
  * [[graft.Sessions.build]] (`fs.file.impl`): Hadoop's checksummed
  * `LocalFileSystem`, so `.crc` files are still written and verified, over
  * a raw filesystem that sets permissions through `java.nio` instead of a
  * forked `chmod`.
  *
  * Without the native Hadoop library, `RawLocalFileSystem.setPermission`
  * runs a shell command, and `create` and `mkdirs` call it for every file
  * and directory they make (the `.crc` sibling included). The override
  * maps the user/group/other actions onto `Files.setPosixFilePermissions`
  * — the same bits the `chmod` would set — and hands a sticky bit (which
  * `java.nio` cannot express) or a non-POSIX file store back to Hadoop.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
      }
  }

  /** The `rwxrwxrwx` bits of `permission` as a `java.nio` set. */
  private def posix(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    def add(a: FsAction, r: PosixFilePermission, w: PosixFilePermission,
        x: PosixFilePermission): Unit = {
      if (a.implies(FsAction.READ)) s.add(r)
      if (a.implies(FsAction.WRITE)) s.add(w)
      if (a.implies(FsAction.EXECUTE)) s.add(x)
    }
    add(permission.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE)
    add(permission.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE)
    add(permission.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
    s
  }
}
