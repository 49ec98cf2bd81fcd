package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw `file:` filesystem without its two child processes.
  * Without `libhadoop` (NativeIO), stock `setPermission` runs `chmod` and
  * stock `getFileLinkStatus` runs `readlink` in a forked process, and
  * every checkpoint-log write (a create, a mkdir, a `FileContext` rename)
  * calls one or both. Here a chmod is one NIO call, and a path that is
  * not a symlink skips the `readlink`. A sticky bit and a real symlink
  * still go to Hadoop's own code. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      // values() runs owner rwx, group rwx, others rwx: bits 8 down to 0
      val mode = permission.toShort
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermission.values.zipWithIndex
          .collect { case (bit, i) if (mode >> (8 - i) & 1) == 1 => bit }
          .toSet.asJava)
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the `FileSystem` API's checksummed local filesystem
  * (`.crc` files, umask) over the fork-free raw one. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: `FileContext`'s local filesystem
  * (Spark's checkpoint logs) over the fork-free raw one, built as
  * Hadoop's own `LocalFs` builds its raw side. */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
    new DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
      override def getServerDefaults(f: Path) = LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    })
