package graft

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FileUtil, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.NioLocalFileSystem

/** [[NioLocalFileSystem]] writes the same permission bits as Hadoop's
  * `LocalFileSystem`, which runs `chmod` for them on a host without native
  * libhadoop. */
class NioLocalFileSystemSpec extends AnyFunSuite {

  private def conf(umask: Option[String]): Configuration = {
    val c = new Configuration()
    umask.foreach(c.set("fs.permissions.umask-mode", _))
    c
  }

  private def octal(mode: String): Int = Integer.parseInt(mode, 8)

  private def open(fs: FileSystem, c: Configuration): FileSystem = {
    fs.initialize(URI.create("file:///"), c)
    fs
  }

  /** mkdirs, create and FileUtil.copy under a fresh root; returns every
    * path below the root (checksum files included) with its permissions. */
  private def tree(fs: FileSystem, c: Configuration): Map[String, String] = {
    val root = Files.createTempDirectory("graft_nio_fs")
    val base = new Path(root.toUri)
    assert(fs.mkdirs(new Path(base, "a/b")))
    val out = fs.create(new Path(base, "a/b/part-0"))
    try out.write("launch".getBytes("UTF-8")) finally out.close()
    assert(FileUtil.copy(fs, new Path(base, "a"), fs, new Path(base, "copy/a"), false, c))
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap
  }

  for ((umask, dir, file) <- Seq(
      (None, "rwxr-xr-x", "rw-r--r--"), (Some("077"), "rwx------", "rw-------"))) {
    test(s"mkdirs, create and copy set Hadoop's permissions " +
      s"(umask ${umask.getOrElse("default")})") {
      val c = conf(umask)
      val nio = tree(open(new NioLocalFileSystem, c), c)
      val hadoop = tree(open(new LocalFileSystem, c), c)
      assert(nio == hadoop)
      val dirs = Set("a", "a/b", "copy", "copy/a", "copy/a/b")
      assert(nio.keySet == dirs ++ Seq("a/b", "copy/a/b").flatMap(d =>
        Seq(s"$d/part-0", s"$d/.part-0.crc")))
      nio.foreach { case (p, perms) =>
        assert(perms == (if (dirs(p)) dir else file), p)
      }
    }
  }

  test("a sticky bit is still set; a missing path raises an IOException, as chmod does") {
    val c = conf(None)
    val nio = open(new NioLocalFileSystem, c)
    val root = Files.createTempDirectory("graft_nio_sticky")
    val dir = new Path(root.toUri.toString, "shared")
    assert(nio.mkdirs(dir))
    nio.setPermission(dir, new FsPermission(octal("1777").toShort))
    val mode = Files.getAttribute(Paths.get(dir.toUri), "unix:mode").asInstanceOf[Int]
    assert((mode & octal("7777")) == octal("1777"))
    val missing = new Path(root.toUri.toString, "missing")
    for (fs <- Seq(nio, open(new LocalFileSystem, c)))
      intercept[IOException](fs.setPermission(missing, new FsPermission(octal("644").toShort)))
  }
}
