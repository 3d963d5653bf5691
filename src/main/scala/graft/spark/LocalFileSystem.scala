package graft.spark

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file:` FileSystem (`.crc` sidecars written and
  * verified as before) over a raw local FS that sets permissions through
  * NIO. Without Hadoop's native library the stock `setPermission` forks a
  * `chmod` process, and every non-append create calls it twice (the file
  * and its `.crc`). NIO cannot express the sticky bit, so that one case
  * keeps the stock path. Installed as `fs.file.impl` by
  * [[graft.SparkUtil.configure]]. */
class LocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem(new RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))
})
