package graft

import graft.streaming.NioLocalFs

import java.io.FileNotFoundException
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[NioLocalFs]] gives the stock local filesystem's results, without a
  * child process where it takes its in-process path. */
class NioLocalFsSpec extends AnyFunSuite {
  import ProcessStarts._

  private val key = "fs.AbstractFileSystem.file.impl"

  private def abstractFs(impl: Option[String]): AbstractFileSystem = {
    val conf = new Configuration()
    impl.foreach(conf.set(key, _))
    AbstractFileSystem.get(java.net.URI.create("file:///"), conf)
  }
  private lazy val stockFs = abstractFs(None)
  private lazy val nioFs = abstractFs(Some(classOf[NioLocalFs].getName))

  private def rawFs(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(java.net.URI.create("file:///"), new Configuration()); fs
  }
  private lazy val stockRaw = rawFs(new RawLocalFileSystem)
  private lazy val nioRaw = rawFs(new NioLocalFs.RawFileSystem)

  private def mode(p: java.nio.file.Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("setPermission: 0644, 0755 and 0600 read back as the stock Shell path sets them, no process") {
    val dir = Files.createTempDirectory("graft-niofs-perm")
    for (m <- Seq("644", "755", "600")) {
      val (a, b) = (dir.resolve(s"stock-$m"), dir.resolve(s"nio-$m"))
      Files.createFile(a); Files.createFile(b)
      val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
      stockFs.setPermission(new Path(a.toUri), perm)
      val starts = during(nioFs.setPermission(new Path(b.toUri), perm))
      assert(starts.size == 0, s"mode $m: ${describe(starts)}")
      assert(Files.getPosixFilePermissions(b) == Files.getPosixFilePermissions(a), s"mode $m")
      assert(mode(b) == Integer.parseInt(m, 8))
    }
  }

  test("setPermission: a mode with the sticky bit goes through the stock method") {
    val dir = Files.createTempDirectory("graft-niofs-sticky")
    val (a, b) = (dir.resolve("stock"), dir.resolve("nio"))
    Files.createDirectory(a); Files.createDirectory(b)
    val perm = new FsPermission(Integer.parseInt("1755", 8).toShort)
    stockFs.setPermission(new Path(a.toUri), perm)
    val starts = during(nioFs.setPermission(new Path(b.toUri), perm))
    assert(starts.map(command).exists(_.startsWith("chmod 1755")), describe(starts))
    assert(mode(b) == Integer.parseInt("1755", 8) && mode(b) == mode(a))
  }

  /** Everything a caller reads off a status, or the exception's class and
    * message. */
  private def outcome(status: => FileStatus): String =
    try {
      val s = status
      s"$s len=${s.getLen} dir=${s.isDirectory} link=${s.isSymlink} " +
        s"target=${if (s.isSymlink) s.getSymlink else "-"} mtime=${s.getModificationTime}"
    } catch { case e: FileNotFoundException => s"${e.getClass.getName}: ${e.getMessage}" }

  test("getFileLinkStatus: what stock LocalFs returns, for a file, a directory, a missing path and a link") {
    val dir = Files.createTempDirectory("graft-niofs-link")
    val file = Files.writeString(dir.resolve("file"), "abc")
    val sub = Files.createDirectory(dir.resolve("sub"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    val missing = dir.resolve("missing")
    assert(stockFs.getClass.getName == "org.apache.hadoop.fs.local.LocalFs")
    assert(nioFs.getClass == classOf[NioLocalFs])
    for (p <- Seq(file, sub, missing, link, dangling)) {
      val path = new Path(p.toUri)
      assert(outcome(nioFs.getFileLinkStatus(path)) == outcome(stockFs.getFileLinkStatus(path)), p)
    }
    // a qualified path prints as `file:/...`, which the stock method never
    // reads as a link: it returns the status of the link's target, and the
    // in-process check starts no process
    val starts = during(nioFs.getFileLinkStatus(new Path(link.toUri)))
    assert(starts.size == 0, describe(starts))
    assert(!nioFs.getFileLinkStatus(new Path(link.toUri)).isSymlink)
  }

  test("getFileLinkStatus on the raw filesystem: a scheme-less link path resolves as the stock one does") {
    val dir = Files.createTempDirectory("graft-niofs-raw")
    val file = Files.writeString(dir.resolve("file"), "abc")
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    for (p <- Seq(file, dir, link, dir.resolve("missing")); qualified <- Seq(true, false)) {
      val path = if (qualified) new Path(p.toUri) else new Path(p.toString)
      assert(outcome(nioRaw.getFileLinkStatus(path)) == outcome(stockRaw.getFileLinkStatus(path)),
        s"$path")
    }
    assert(nioRaw.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(Paths.get(nioRaw.getFileLinkStatus(new Path(link.toString)).getSymlink.toUri) == file)
  }
}
