package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileContext, FileStatus,
  FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{NoForkLocalFileSystem, NoForkLocalFs,
  NoForkRawLocalFileSystem}

/** The no-fork local file system against stock Hadoop as the reference:
  * the same modes, the same partitioned-write layout and the same link
  * lookups. Stock instances come from `FileSystem.newInstance` /
  * `AbstractFileSystem.get` over a plain `Configuration`, so the FS
  * cache cannot hand back the session's class.
  */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val local = URI.create("file:///")

  private def stockFs(): LocalFileSystem =
    FileSystem.newInstance(local, new Configuration()).asInstanceOf[LocalFileSystem]
  private def noForkFs(): NoForkLocalFileSystem = {
    val fs = new NoForkLocalFileSystem
    fs.initialize(local, new Configuration())
    fs
  }

  private def tmp(name: String): java.nio.file.Path =
    java.nio.file.Paths.get(Scratch.register(
      Files.createTempDirectory(s"graft_localfs_$name").toString))

  /** Every mode bit, sticky and setuid/setgid included. */
  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & octal("7777")

  private def octal(s: String): Int = Integer.parseInt(s, 8)

  private val modes = Seq("600", "640", "644", "700", "750", "755", "777",
    "1777").map(octal)

  test("setPermission gives stock RawLocalFileSystem's mode on files " +
      "and directories") {
    val (stock, noFork) = (stockFs().getRaw, noForkFs().getRaw)
    assert(stock.getClass === classOf[RawLocalFileSystem])
    assert(noFork.getClass === classOf[NoForkRawLocalFileSystem])
    val dir = tmp("modes")
    // a setgid parent: directories made in it inherit setgid, which
    // GNU chmod keeps on a directory and clears on a file
    val setgid = Files.createDirectory(dir.resolve("setgid"))
    Files.setAttribute(setgid, "unix:mode", Integer.valueOf(octal("2755")))
    // and targets that already carry setuid + setgid
    for (m <- modes; parent <- Seq(dir, setgid);
         isDir <- Seq(false, true); setIds <- Seq(false, true)) {
      val got = Seq(stock, noFork).map { fs =>
        val name = s"${fs.getClass.getSimpleName}_${m.toOctalString}_${isDir}_$setIds"
        val p = parent.resolve(name)
        if (isDir) Files.createDirectory(p) else Files.createFile(p)
        if (setIds) Files.setAttribute(p, "unix:mode", Integer.valueOf(octal("6755")))
        fs.setPermission(new Path(p.toString), new FsPermission(m.toShort))
        (mode(p), Files.getPosixFilePermissions(p))
      }
      assert(got(1) === got(0),
        s"mode ${m.toOctalString} dir=$isDir setIds=$setIds in $parent")
    }
  }

  test("a Sessions.builder session resolves file:// to the no-fork " +
      "FileSystem and FileContext classes") {
    val conf = spark.sessionState.newHadoopConf()
    assert(FileSystem.get(local, conf).getClass === classOf[NoForkLocalFileSystem])
    assert(FileContext.getFileContext(local, conf).getDefaultFileSystem.getClass
      === classOf[NoForkLocalFs])
  }

  /** (directory, kind, mode) of every entry under `root`, the part-file
    * names (which carry the job's UUID) reduced to their kind.
    */
  private def layout(root: java.nio.file.Path): Seq[(String, String, Int)] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      val rel = root.relativize(p)
      val name = p.getFileName.toString
      val kind =
        if (Files.isDirectory(p)) name
        else if (name.startsWith(".part-") && name.endsWith(".crc")) "part.crc"
        else if (name.startsWith("part-")) "part"
        else name
      (Option(rel.getParent).fold("")(_.toString), kind, mode(p))
    }.toSeq.sorted

  test("a songs-layout partitioned write matches stock LocalFileSystem: " +
      "partition directories, file count and modes") {
    import spark.implicits._
    val songs = (0 until 40).map(i => (s"S$i", s"title $i", s"AR${i % 7}",
      1990 + i % 5, 100.0 + i)).toDF("song_id", "title", "artist_id", "year",
      "duration")
    val dir = tmp("songs")
    def write(out: java.nio.file.Path, opts: Map[String, String]): Unit =
      songs.repartition(2).write.options(opts).mode("overwrite")
        .partitionBy("year", "artist_id").parquet(out.toString)
    val stockWrites = () => FileSystem.getStatistics("file",
      classOf[RawLocalFileSystem]).getBytesWritten
    val before = stockWrites()
    // this write's job conf names stock LocalFileSystem and bypasses the
    // FS cache, so every create and chmod goes through stock Hadoop
    write(dir.resolve("stock"), Map(
      "fs.file.impl" -> classOf[LocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true"))
    assert(stockWrites() > before, "the reference write did not use stock Hadoop")
    write(dir.resolve("noFork"), Map.empty)
    val (stock, noFork) = (layout(dir.resolve("stock")), layout(dir.resolve("noFork")))
    assert(noFork.count(_._2.startsWith("artist_id=")) === 35)
    assert(noFork === stock)
  }

  test("FileContext mkdir and create match stock LocalFs") {
    val dir = tmp("fc")
    val conf = new Configuration()
    val stock = FileContext.getFileContext(AbstractFileSystem.get(local, conf), conf)
    conf.set("fs.AbstractFileSystem.file.impl", classOf[NoForkLocalFs].getName)
    val noFork = FileContext.getFileContext(AbstractFileSystem.get(local, conf), conf)
    assert(noFork.getDefaultFileSystem.getClass === classOf[NoForkLocalFs])
    for ((name, fc) <- Seq("stock" -> stock, "noFork" -> noFork)) {
      val root = new Path(dir.resolve(name).toString)
      fc.mkdir(new Path(root, "a/b"), new FsPermission(octal("750").toShort), true)
      val out = fc.create(new Path(root, "a/b/f"),
        java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE),
        org.apache.hadoop.fs.Options.CreateOpts.perms(
          new FsPermission(octal("640").toShort)))
      out.write(Array[Byte](1, 2, 3)); out.close()
      fc.rename(new Path(root, "a/b/f"), new Path(root, "a/g"))
    }
    assert(layout(dir.resolve("noFork")) === layout(dir.resolve("stock")))
  }

  /** The fields a link lookup decides, or the exception it throws. */
  private def summary(st: => FileStatus): Any =
    try {
      val s = st
      (s.getPath.toString, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink.toString else "", s.getLen,
        s.getPermission, s.getOwner, s.getGroup, s.getModificationTime)
    } catch { case e: FileNotFoundException => e.getClass }

  test("getFileLinkStatus matches stock for a file, a directory, a " +
      "symlink, a dangling symlink and a missing path") {
    val dir = tmp("links")
    val file = Files.write(dir.resolve("file"), Array[Byte](1, 2, 3))
    val sub = Files.createDirectory(dir.resolve("dir"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"),
      dir.resolve("gone"))
    val missing = dir.resolve("missing")
    val (stock, noFork) = (stockFs(), noForkFs())
    val conf = new Configuration()
    val stockFc = AbstractFileSystem.get(local, conf)
    conf.set("fs.AbstractFileSystem.file.impl", classOf[NoForkLocalFs].getName)
    val noForkFc = AbstractFileSystem.get(local, conf)
    assert(stockFc.getClass === classOf[org.apache.hadoop.fs.local.LocalFs])
    assert(noForkFc.getClass === classOf[NoForkLocalFs])
    for (p <- Seq(file, sub, link, dangling, missing);
         path <- Seq(new Path(p.toString), new Path(p.toUri))) {
      assert(summary(noFork.getFileLinkStatus(path)) ===
        summary(stock.getFileLinkStatus(path)), s"FileSystem $path")
      assert(summary(noForkFc.getFileLinkStatus(path)) ===
        summary(stockFc.getFileLinkStatus(path)), s"FileContext $path")
    }
    // unqualified, both links are seen as links (a `file:` path never is)
    for (p <- Seq(link, dangling))
      assert(noFork.getFileLinkStatus(new Path(p.toString)).isSymlink)
  }
}
