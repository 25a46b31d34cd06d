package graft.hadoop

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The engine's `file:` filesystem starts no process, so it must keep
  * every decision stock Hadoop makes by shelling out: the permission bits
  * a create leaves under the umask, and which paths are links. Each test
  * runs the same operations on the stock classes and on the engine's, in
  * two directories, and compares what lands on disk or is reported. */
class LocalFileSystemSpec extends AnyFunSuite {

  private def conf(umask: String, stock: Boolean): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    if (stock) {
      c.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
      c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    }
    c
  }

  private val local = URI.create("file:///")

  /** A new FileSystem and a FileContext over `c`, as the engine gets them. */
  private def apis(c: Configuration): (FileSystem, FileContext) =
    (FileSystem.newInstance(local, c), FileContext.getFileContext(local, c))

  private def posix(p: String): String =
    java.nio.file.attribute.PosixFilePermissions.toString(
      Files.getPosixFilePermissions(Paths.get(p)))

  test("the engine's classes back both APIs, and stock ones are still reachable") {
    val (fs, fc) = apis(conf("022", stock = false))
    val (sfs, sfc) = apis(conf("022", stock = true))
    assert(fs.isInstanceOf[NoChecksumLocalFileSystem])
    assert(fc.getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
    assert(sfs.getClass == classOf[org.apache.hadoop.fs.LocalFileSystem])
    assert(sfc.getDefaultFileSystem.getClass.getName ==
      "org.apache.hadoop.fs.local.LocalFs")
    Seq(fs, sfs).foreach(_.close())
  }

  test("files and directories created through both APIs get stock permission bits") {
    val perms = Seq(None, Some("755"), Some("640"), Some("600"), Some("777"),
      Some("1777"))
    /** Create every case under `dir`; the created paths, by name. */
    def createAll(dir: String, c: Configuration): Seq[String] = {
      val (fs, fc) = apis(c)
      val made = perms.zipWithIndex.flatMap { case (perm, i) =>
        val p = perm.map(new FsPermission(_))
        val f = new Path(s"$dir/fs-file-$i")
        val d = new Path(s"$dir/fs-dir-$i/nested")
        val cf = new Path(s"$dir/fc-file-$i")
        val cd = new Path(s"$dir/fc-dir-$i/nested")
        p.fold(fs.create(f))(fs.create(f, _, true, 4096, 1.toShort, 1L << 26,
          null)).close()
        p.fold(fs.mkdirs(d))(fs.mkdirs(d, _))
        fc.create(cf, java.util.EnumSet.of(CreateFlag.CREATE),
          p.map(Options.CreateOpts.perms).toSeq: _*).close()
        fc.mkdir(cd, p.getOrElse(FsPermission.getDirDefault), true)
        Seq(f, d, d.getParent, cf, cd, cd.getParent).map(_.toString)
      }
      fs.close()
      made
    }
    for (umask <- Seq("022", "077", "002")) {
      val stockDir = Files.createTempDirectory("stock-perms").toString
      val oursDir = Files.createTempDirectory("engine-perms").toString
      val stock = createAll(stockDir, conf(umask, stock = true))
      val ours = createAll(oursDir, conf(umask, stock = false))
      val got = ours.map(p => p.stripPrefix(oursDir) -> posix(p))
      val want = stock.map(p => p.stripPrefix(stockDir) -> posix(p))
      assert(got == want, s"umask $umask")
      Seq(stockDir, oursDir).foreach(d => graft.TempRoots.delete(Paths.get(d)))
    }
  }

  test("getFileLinkStatus reports what stock reports for files, directories and links") {
    val dir = Files.createTempDirectory("link-status")
    val file = Files.writeString(dir.resolve("file"), "abc")
    val sub = Files.createDirectory(dir.resolve("dir"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"),
      dir.resolve("missing"))
    /** Everything a status says, or the exception's class. */
    def seen(st: => FileStatus): Either[String, Seq[Any]] =
      Try(st).toEither.left.map(_.getClass.getName).map(s => Seq(s.getPath,
        s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s.getSymlink else None, s.getLen,
        s.getModificationTime, s.getPermission, s.getOwner, s.getGroup))
    def statuses(c: Configuration): Seq[Either[String, Seq[Any]]] = {
      val (fs, fc) = apis(c)
      val out = for {
        p <- Seq(file, sub, link, dangling)
        path <- Seq(new Path(p.toString), new Path(p.toUri.toString))
        st <- Seq(seen(fs.getFileLinkStatus(path)),
          seen(fc.getFileLinkStatus(path)))
      } yield st
      fs.close()
      out
    }
    val ours = statuses(conf("022", stock = false))
    val stock = statuses(conf("022", stock = true))
    try {
      assert(ours == stock)
      // the link is one through the FileSystem API as a bare path, and
      // not as a `file:` URI (entries: per path, bare fs/fc then URI fs/fc)
      val link = (s: Either[String, Seq[Any]]) => s.exists(_(3) == true)
      assert(link(ours(8)) && !link(ours(10)), ours)
    } finally graft.TempRoots.delete(dir)
  }
}
