package graft.sources

import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

class NioLocalFileSystemSpec extends AnyFunSuite {

  private def init[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }
  private def octal(m: String): Int = Integer.parseInt(m, 8)
  private def perm(m: String) = new FsPermission(octal(m).toShort)
  // permission, sticky, setuid and setgid bits as the OS reports them
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")

  private def withRoot(body: JPath => Unit): Unit = {
    val root = Files.createTempDirectory("graft_niofs")
    try body(root)
    finally graft.FileTree.delete(root)
  }

  test("applies the same mode bits as RawLocalFileSystem to files and dirs") {
    val nio = init(new NioChmodRawLocalFs)
    val raw = init(new RawLocalFileSystem)
    withRoot { root =>
      for (m <- Seq("600", "644", "700", "755", "777"); dir <- Seq(false, true)) {
        def make(tag: String): JPath = {
          val p = root.resolve(s"$tag-$m-${if (dir) "dir" else "file"}")
          if (dir) Files.createDirectory(p) else Files.createFile(p)
        }
        val (a, b) = (make("nio"), make("raw"))
        nio.setPermission(new Path(a.toString), perm(m))
        raw.setPermission(new Path(b.toString), perm(m))
        assert(mode(a) === mode(b), s"$m dir=$dir")
        assert(mode(a) === octal(m), s"$m dir=$dir")
      }
    }
  }

  test("a sticky-bit permission takes the Hadoop fallback") {
    // NIO cannot express the sticky bit, so it is set only if the call
    // went down Hadoop's own path
    val nio = init(new NioChmodRawLocalFs)
    withRoot { root =>
      val d = Files.createDirectory(root.resolve("sticky"))
      nio.setPermission(new Path(d.toString), perm("1777"))
      assert(mode(d) === octal("1777"))
    }
  }
}
