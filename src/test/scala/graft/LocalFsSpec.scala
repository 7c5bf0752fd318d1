package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.security.PrivilegedExceptionAction
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.security.UserGroupInformation
import org.scalatest.funsuite.AnyFunSuite
import graft.io.NioLocalFileSystem

/** `NioLocalFileSystem` writes what Hadoop's stock `LocalFileSystem`
  * writes: the same files (data plus `.crc`) with the same modes. The
  * instances come from `FileSystem.newInstance`: `FileSystem.get` caches
  * one `file:` instance per JVM, whatever the conf names.
  */
class LocalFsSpec extends AnyFunSuite {

  private val Local = new URI("file:///")

  private def conf(umask: String, impl: Option[String]): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    impl.foreach(c.set("fs.file.impl", _))
    c
  }

  private val Nio = Some(classOf[NioLocalFileSystem].getName)

  private def nio(): FileSystem = FileSystem.newInstance(Local, conf("022", Nio))

  /** Every entry under `root` by relative name ("d755/" for a directory)
    * with its mode ("rwxr-xr-x").
    */
  private def modes(root: JPath): Map[String, String] =
    Files.walk(root).iterator.asScala.filter(_ != root).map { p =>
      val name = root.relativize(p).toString + (if (Files.isDirectory(p)) "/" else "")
      name -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap

  /** The calls the checkpoint, state-store and sink writers make: create
    * and mkdirs, with and without a permission, and a create under a
    * directory that does not exist yet.
    */
  private def writeAll(fs: FileSystem, root: String): Unit = {
    Seq("600", "644", "755", "777").foreach { name =>
      val perm = new FsPermission(name) // octal
      val out = fs.create(new Path(root, s"f$name"), perm, false, 4096, 1.toShort, 1L << 27, null)
      out.write(Array[Byte](1, 2, 3)); out.close()
      assert(fs.mkdirs(new Path(root, s"d$name"), perm))
      fs.create(new Path(root, s"new$name/sub/f"), perm, false, 4096, 1.toShort, 1L << 27, null)
        .close()
    }
    fs.create(new Path(root, "plain")).close()
    assert(fs.mkdirs(new Path(root, "plaindir/a/b")))
  }

  Seq("022", "077").foreach { umask =>
    test(s"create and mkdirs leave the stock file system's files and modes (umask $umask)") {
      def written(impl: Option[String]): Map[String, String] = {
        val root = Files.createTempDirectory("graft_localfs_")
        val fs = FileSystem.newInstance(Local, conf(umask, impl))
        try writeAll(fs, root.toString) finally fs.close()
        modes(root)
      }
      val stock = written(None)
      val ours = written(Nio)
      assert(stock.contains(".f644.crc") && stock.contains("d755/"), stock.keys)
      assert(ours == stock)
    }
  }

  test("NioLocalFileSystem is a LocalFileSystem, and FileSystem.get keeps the cached instance") {
    val fs = nio()
    try assert(fs.isInstanceOf[LocalFileSystem] && fs.getScheme == "file")
    finally fs.close()
    // FileSystem.get caches one instance per (scheme, authority, user):
    // a later conf naming another class gets the cached one. A user of
    // its own keeps this check out of the JVM's shared cache.
    val user = UserGroupInformation.createRemoteUser("localfs-spec")
    try user.doAs(new PrivilegedExceptionAction[Unit] {
      def run(): Unit = {
        val cached = FileSystem.get(Local, conf("022", None))
        assert(!cached.isInstanceOf[NioLocalFileSystem])
        assert(FileSystem.get(Local, conf("022", Nio)) eq cached)
      }
    }) finally FileSystem.closeAllForUGI(user)
  }

  test("setPermission sets the exact mode, and a sticky bit still lands") {
    val root = Files.createTempDirectory("graft_localfs_sticky_")
    val fs = nio()
    def mode(p: JPath): String = (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff).toOctalString
    try {
      val file = root.resolve("f")
      fs.create(new Path(file.toString)).close()
      fs.setPermission(new Path(file.toString), new FsPermission("640"))
      assert(mode(file) == "640")
      val dir = root.resolve("d")
      assert(fs.mkdirs(new Path(dir.toString)))
      fs.setPermission(new Path(dir.toString), new FsPermission("1777"))
      assert(mode(dir) == "1777")
    } finally fs.close()
  }
}
