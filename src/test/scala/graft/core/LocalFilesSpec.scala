package graft.core

import java.io.File
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileUtil, Options, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.SparkSpec

/** graft's local file systems against Hadoop's own on the same inputs:
  * the same permission bits after create and mkdir, the same link status
  * and the same `FileContext` rename, and the session's Hadoop
  * configuration serves graft's. */
class LocalFilesSpec extends SparkSpec {

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration)
    fs
  }
  private def systems = Seq("hadoop" -> raw(new RawLocalFileSystem),
    "graft" -> raw(new NioRawLocalFileSystem))

  private def withDir[T](f: File => T): T = {
    val dir = Files.createTempDirectory("graft-localfiles-").toFile
    try f(dir) finally FileUtil.fullyDelete(dir)
  }

  private def mode(f: File): Int =
    Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & 0xfff

  test("create and mkdir leave the permission bits Hadoop's file system leaves") {
    withDir { dir =>
      val modes = systems.map { case (name, fs) =>
        val root = new File(dir, name)
        fs.create(new Path(s"$root/a/file")).close()
        fs.create(new Path(s"$root/file640"), new FsPermission("640"), false,
          4096, 1.toShort, 1L << 20, null).close()
        fs.mkdirs(new Path(s"$root/dir"))
        fs.mkdirs(new Path(s"$root/dir700"), new FsPermission("700"))
        // a sticky bit: NIO cannot set it, so graft's falls back to Hadoop's
        fs.mkdirs(new Path(s"$root/sticky"))
        fs.setPermission(new Path(s"$root/sticky"), new FsPermission(Integer.parseInt("1777", 8).toShort))
        Seq("a", "a/file", "file640", "dir", "dir700", "sticky")
          .map(p => p -> mode(new File(root, p)))
      }
      assert(modes.head == modes.last)
      assert(modes.head.toMap.apply("file640") == Integer.parseInt("640", 8))
      assert(modes.head.toMap.apply("sticky") == Integer.parseInt("1777", 8))
    }
  }

  test("getFileLinkStatus and getLinkTarget answer as Hadoop's do") {
    withDir { dir =>
      val file = new File(dir, "file")
      Files.write(file.toPath, "12345".getBytes)
      Files.createSymbolicLink(new File(dir, "link").toPath, file.toPath)
      Files.createSymbolicLink(new File(dir, "dangling").toPath,
        new File(dir, "missing").toPath)
      def facts(s: FileStatus) = (s.getPath, s.isSymlink,
        if (s.isSymlink) s.getSymlink else null, s.getLen, s.isDirectory,
        s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
      val paths = Seq(s"$dir/file", s"$dir/link", s"$dir/dangling",
        s"file:$dir/link", s"$dir").map(new Path(_))
      val answers = systems.map { case (_, fs) =>
        paths.map(p => (facts(fs.getFileLinkStatus(p)),
          // a path that is no link has no target: the same error
          scala.util.Try(fs.getLinkTarget(p)).fold(_.toString, _.toString)))
      }
      assert(answers.head == answers.last)
      val byPath = paths.zip(answers.last).toMap
      assert(byPath(new Path(s"$dir/link"))._1._2, "the link was not seen as one")
      assert(byPath(new Path(s"$dir/dangling"))._1._2)
      assert(!byPath(new Path(s"$dir/file"))._1._2)
      // as in Hadoop, the file:-qualified string is no path of the link
      assert(!byPath(new Path(s"file:$dir/link"))._1._2)
    }
  }

  test("FileContext.rename with OVERWRITE moves data and checksum as Hadoop's does") {
    withDir { dir =>
      val listings = Seq("hadoop" -> classOf[org.apache.hadoop.fs.local.LocalFs],
        "graft" -> classOf[NioLocalFs]).map { case (name, impl) =>
        val conf = new Configuration
        conf.set("fs.AbstractFileSystem.file.impl", impl.getName)
        val fc = FileContext.getFileContext(URI.create("file:///"), conf)
        assert(fc.getDefaultFileSystem.getClass == impl)
        val root = new Path(s"$dir/$name")
        def write(p: Path, text: String): Unit = {
          val out = fc.create(p, java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE),
            Options.CreateOpts.createParent())
          try out.write(text.getBytes) finally out.close()
        }
        write(new Path(root, "new"), "new contents")
        write(new Path(root, "current"), "old")
        fc.rename(new Path(root, "new"), new Path(root, "current"), Options.Rename.OVERWRITE)
        val files = new File(dir, name).list.sorted.toSeq
        val text = new String(Files.readAllBytes(new File(dir, s"$name/current").toPath))
        (files, text)
      }
      assert(listings.head == listings.last)
      assert(listings.last == (Seq(".current.crc", "current"), "new contents"))
    }
  }

  test("the session's Hadoop configuration serves graft's local file systems") {
    val conf = spark.sparkContext.hadoopConfiguration
    assert(new Path("file:///tmp").getFileSystem(conf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(URI.create("file:///"), conf)
      .getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(FileContext.getFileContext(URI.create("file:///"),
      spark.sessionState.newHadoopConf()).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }
}
