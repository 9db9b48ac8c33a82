package graft

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system over [[NioRawLocalFileSystem]].
  * Registered for the `file:` scheme by [[Tables.requiredConfs]].
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFileSystem` that sets a plain `rwx` mode through `java.nio`.
  *
  * Without Hadoop's native library the stock `setPermission` forks a
  * `chmod` process, and it runs once for every file (a part file and its
  * `.crc` each) and directory the local file system creates.
  * `Files.setPosixFilePermissions` is the same chmod(2) with no process
  * start, and like `chmod` it follows symlinks. A mode with a bit above
  * 0777 (sticky, setuid, setgid), or a default file system without a
  * POSIX attribute view, takes the stock path, so no bit is dropped.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~Rwx) != 0 || !posix) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, bits(mode))
  }
}

object NioRawLocalFileSystem {
  private val Rwx = 0x1ff // 0777
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The permissions set in a nine-bit `rwxrwxrwx` mode; the enum runs
    * from OWNER_READ (0400) down to OTHERS_EXECUTE (0001).
    */
  private def bits(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.toSeq.filter(b => (mode & (0x100 >> b.ordinal)) != 0).toSet.asJava
}
