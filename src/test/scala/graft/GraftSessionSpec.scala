package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.sys.process._

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` file system of a [[GraftSession]]. */
class GraftSessionSpec extends SparkSpec {

  test("the session's file: file system is the fork-free one and keeps Hadoop's modes") {
    val fs = FileSystem.get(java.net.URI.create("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass == classOf[NoForkLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[NoForkRawLocalFileSystem])
    val dir = Paths.get("target", "tmp", s"fs-${java.util.UUID.randomUUID().toString.take(8)}")
      .toAbsolutePath
    Files.createDirectories(dir)
    try {
      def mode(rel: String) = Process(Seq("stat", "-c", "%a", dir.resolve(rel).toString)).!!.trim
      val f = new Path(dir.resolve("f").toUri)
      fs.create(f).close()
      // Hadoop's default file mode, 0666 under the default umask 022.
      assert(Files.getPosixFilePermissions(dir.resolve("f")) ==
        PosixFilePermissions.fromString("rw-r--r--"))
      fs.setPermission(f, new FsPermission("640"))
      assert(mode("f") == "640")
      // The sticky bit goes through chmod.
      val d = new Path(dir.resolve("d").toUri)
      fs.mkdirs(d)
      fs.setPermission(d, new FsPermission("1777"))
      assert(mode("d") == "1777")
      intercept[java.io.IOException](
        fs.setPermission(new Path(dir.resolve("absent").toUri), new FsPermission("644")))
    } finally Process(Seq("rm", "-rf", dir.toString)).!
  }
}
