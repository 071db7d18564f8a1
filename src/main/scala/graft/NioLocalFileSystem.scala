package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The checksummed local filesystem, with permissions set in-process.
  * Without libhadoop, the stock `RawLocalFileSystem.setPermission`
  * forks a `chmod` for every file, `.crc` file and directory that a
  * write, commit or mkdirs creates. This one sets the same nine mode
  * bits through java.nio; the sticky bit, which nio cannot express,
  * still takes the stock path. It stays a `LocalFileSystem`, so `.crc`
  * checksums are written and verified as before and
  * `FileSystem.getLocal` casts keep working. Registered as
  * `fs.file.impl` by [[Sessions.local]].
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw) {
  /** A rename never replaces an existing file: the HDFS rename
    * contract, and the rule of Hive's `ProxyLocalFileSystem`, which
    * `file:` resolves to without this class. The writer lease's
    * reclaim puts a claimed lease back by rename, and that must fail
    * rather than clobber a newer holder's lease.
    */
  override def rename(src: Path, dst: Path): Boolean =
    !Files.isRegularFile(pathToFile(dst).toPath) && super.rename(src, dst)
}

object NioLocalFileSystem {
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(Seq(permission.getUserAction,
          permission.getGroupAction, permission.getOtherAction).map(_.SYMBOL).mkString))
  }
}
