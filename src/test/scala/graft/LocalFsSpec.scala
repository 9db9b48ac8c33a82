package graft

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[NioLocalFileSystem]] leaves on disk exactly the permissions Hadoop's
  * stock local file system leaves, and forks no `chmod` for a plain
  * `rwx` mode. Each case runs the same operations through both file
  * systems in sibling temp dirs and compares the full mode of every
  * entry (`unix:mode`, so a sticky bit counts) and its POSIX permissions.
  */
class LocalFsSpec extends AnyFunSuite {
  private def perm(s: String): FsPermission = new FsPermission(Integer.parseInt(s, 8).toShort)

  private def opened(fs: FileSystem, umask: Option[String]): FileSystem = {
    val conf = new Configuration()
    umask.foreach(conf.set("fs.permissions.umask-mode", _))
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** `body` run against the stock and the java.nio file system, each in
    * its own fresh root; the mode of every entry under each root.
    */
  private def both(umask: Option[String])(body: (FileSystem, Path) => Unit)
      : (Map[String, (Int, String)], Map[String, (Int, String)]) = {
    def run(fs: FileSystem): Map[String, (Int, String)] = {
      val root = Files.createTempDirectory("graft-localfs")
      try {
        try body(opened(fs, umask), new Path(root.toUri)) finally fs.close()
        val walk = Files.walk(root)
        try walk.iterator.asScala.filter(_ != root).map(p => root.relativize(p).toString -> mode(p)).toMap
        finally walk.close()
      } finally FileUtils.deleteDirectory(root.toFile)
    }
    (run(new LocalFileSystem), run(new NioLocalFileSystem))
  }

  private def mode(p: JPath): (Int, String) =
    (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff,
      PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))

  private def oct(m: Int): String = Integer.toOctalString(m)

  test("create and mkdirs leave the stock permissions, under the default umask and 077") {
    Seq(None -> "644", Some("077") -> "600").foreach { case (umask, fileMode) =>
      val (stock, nio) = both(umask) { (fs, root) =>
        assert(fs.mkdirs(new Path(root, "a/b/c")))
        fs.create(new Path(root, "a/b/c/part-0")).close()
        fs.create(new Path(root, "x/y/part-1")).close() // parents made by create
      }
      assert(nio == stock, s"umask $umask")
      assert(stock.keySet == Set("a", "a/b", "a/b/c", "a/b/c/part-0", "a/b/c/.part-0.crc",
        "x", "x/y", "x/y/part-1", "x/y/.part-1.crc"))
      assert(oct(stock("a/b/c/part-0")._1) == fileMode, s"umask $umask")
      assert(oct(stock("x/y/.part-1.crc")._1) == fileMode, s"umask $umask")
    }
  }

  test("an explicit setPermission of 0750 and 0640 leaves the stock bits") {
    Seq("750", "640").foreach { m =>
      val (stock, nio) = both(None) { (fs, root) =>
        assert(fs.mkdirs(new Path(root, "d")))
        fs.create(new Path(root, "f")).close()
        fs.setPermission(new Path(root, "d"), perm(m))
        fs.setPermission(new Path(root, "f"), perm(m))
      }
      assert(nio == stock, s"mode $m")
      assert(oct(stock("d")._1) == m && oct(stock("f")._1) == m, s"mode $m: $stock")
    }
  }

  test("a sticky mode takes the stock chmod; a plain mode forks nothing") {
    val forks = new Probe.Forks
    try {
      val (stock, nio) = both(None) { (fs, root) =>
        assert(fs.mkdirs(new Path(root, "sticky")))
        assert(fs.mkdirs(new Path(root, "plain")))
        val (_, sticky) = forks.during(fs.setPermission(new Path(root, "sticky"), perm("1777")))
        val (_, plain) = forks.during(fs.setPermission(new Path(root, "plain"), perm("750")))
        assert(sticky == Map("chmod" -> 1), fs.getClass.getName)
        if (fs.isInstanceOf[NioLocalFileSystem]) assert(plain.isEmpty, plain)
        else assert(plain == Map("chmod" -> 1), plain)
      }
      assert(nio == stock)
      assert(oct(stock("sticky")._1) == "1777" && oct(stock("plain")._1) == "750", stock)
    } finally forks.close()
  }

  test("setPermission on a missing path throws an IOException, as stock does") {
    both(None) { (fs, root) =>
      intercept[IOException](fs.setPermission(new Path(root, "missing"), perm("640")))
    }
  }
}
