package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The raw local file system with `setPermission` done in the JVM. Without
  * Hadoop's native library, [[RawLocalFileSystem]] forks `/bin/chmod` for
  * it, and it runs once per file or directory created with a permission:
  * every parquet part, commit marker and manifest. A mode with the sticky
  * bit still goes through `chmod`: Java's POSIX permission set has no
  * sticky bit. */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      // PosixFilePermission lists owner, group, others, each read,
      // write, execute: the nine mode bits from the highest down.
      val mode = permission.toShort
      val bits = PosixFilePermission.values.zipWithIndex.collect {
        case (b, i) if (mode & (1 << (8 - i))) != 0 => b }
      Files.setPosixFilePermissions(pathToFile(p).toPath, bits.toSet.asJava)
    }
}

/** The checksummed `file:` file system over [[NoForkRawLocalFileSystem]]:
  * [[GraftSession.local]] sets it as `fs.file.impl`. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)
