package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FSDataInputStream, FileContext,
  FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** GraftLocalFs against Hadoop's stock local file system: the same POSIX
  * bits under the same umask through both faces (FileSystem and
  * FileContext), checksums still written and verified, and symlinks left
  * to Hadoop's code.
  */
class LocalFsSpec extends AnyFunSuite {

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def init[F <: FileSystem](fs: F, c: Configuration): F = {
    fs.initialize(URI.create("file:///"), c); fs
  }

  private def graftContext(c: Configuration): FileContext = {
    val g = new Configuration(c)
    g.set("fs.AbstractFileSystem.file.impl", classOf[GraftLocalFs].getName)
    FileContext.getFileContext(URI.create("file:///"), g)
  }

  /** "rwxr-x---" of every file under `root`, keyed by its relative path. */
  private def bits(root: JPath): Map[String, String] =
    scala.util.Using.resource(Files.walk(root)) { s =>
      s.iterator.asScala.filter(_ != root).map { p =>
        root.relativize(p).toString -> PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
      }.toMap
    }

  /** The same creates, mkdirs, chmods and renames through one FileSystem
    * and one FileContext, under `root`.
    */
  private def exercise(fs: FileSystem, fc: FileContext, root: JPath): Unit = {
    def p(rel: String) = new Path(root.resolve(rel).toString)
    fs.create(p("fs/plain")).close()
    fs.create(p("fs/masked"), new FsPermission("640"), true, 4096, 1.toShort, 1L << 20, null).close()
    fs.mkdirs(p("fs/a/b/c"))
    fs.mkdirs(p("fs/dir750"), new FsPermission("750"))
    fs.create(p("fs/chmod")).close()
    fs.setPermission(p("fs/chmod"), new FsPermission("711"))
    fs.setPermission(p("fs/dir750"), new FsPermission("705"))
    fs.create(p("fs/from")).close()
    fs.rename(p("fs/from"), p("fs/to"))
    fc.mkdir(p("fc/x/y"), FsPermission.getDirDefault, true)
    fc.create(p("fc/x/file"), java.util.EnumSet.of(CreateFlag.CREATE)).close()
    fc.create(p("fc/x/from"), java.util.EnumSet.of(CreateFlag.CREATE)).close()
    fc.rename(p("fc/x/from"), p("fc/x/to"))
    fc.setPermission(p("fc/x/file"), new FsPermission("604"))
  }

  test("files and directories get the same POSIX bits as through Hadoop's stock local file system") {
    for (umask <- Seq("022", "077", "002", "027")) {
      val c = conf(umask)
      val stockRoot = Files.createTempDirectory("graft_fs_stock")
      val graftRoot = Files.createTempDirectory("graft_fs_graft")
      exercise(init(new LocalFileSystem(), c), FileContext.getFileContext(URI.create("file:///"), c),
        stockRoot)
      val fc = graftContext(c)
      assert(fc.getDefaultFileSystem.isInstanceOf[GraftLocalFs])
      exercise(init(new GraftLocalFileSystem(), c), fc, graftRoot)
      val (stock, graft) = (bits(stockRoot), bits(graftRoot))
      assert(stock.keySet.exists(_.endsWith(".crc")), stock.keySet) // the checksum files too
      assert(graft === stock, s"umask $umask")
      Seq(stockRoot, graftRoot).foreach(ops.Layout.deleteRecursively)
    }
  }

  /** Hadoop's bad-file quarantine (LocalFileSystem.reportChecksumFailure)
    * moves a failing file to a `bad_files` directory at the top of its
    * mount; the checksum check itself runs before it, so it is kept off.
    */
  private class NoQuarantine extends GraftLocalFileSystem {
    override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
        sums: FSDataInputStream, sumsPos: Long): Boolean = false
  }

  test("a flipped byte in a .crc fails the read as it does under Hadoop's stock faces") {
    val root = Files.createTempDirectory("graft_fs_crc")
    val c = conf("022")
    val (fs, fc) = (init(new NoQuarantine, c), graftContext(c))
    val stockFc = FileContext.getFileContext(URI.create("file:///"), c)
    val payload = Array.tabulate[Byte](3000)(i => (i * 31).toByte)
    def readAll(in: java.io.InputStream): Array[Byte] =
      try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    def flipFirstSum(file: String): Unit = {
      val crc = root.resolve(s".$file.crc")
      val sums = Files.readAllBytes(crc) // "crc\0", bytes per sum, then the sums
      sums(8) = (sums(8) ^ 0x5a).toByte
      Files.write(crc, sums)
    }
    // FileSystem, what Spark's readers open: the read fails
    val a = new Path(root.resolve("a.bin").toString)
    val out = fs.create(a)
    try out.write(payload) finally out.close()
    assert(readAll(fs.open(a)).sameElements(payload))
    flipFirstSum("a.bin")
    intercept[ChecksumException](readAll(fs.open(a)))
    // FileContext: the .crc is written as by Hadoop's LocalFs, and a read
    // of the flipped file ends as the stock LocalFs read ends
    val b = new Path(root.resolve("b.bin").toString)
    val fcOut = fc.create(b, java.util.EnumSet.of(CreateFlag.CREATE))
    try fcOut.write(payload) finally fcOut.close()
    assert(Files.exists(root.resolve(".b.bin.crc")))
    flipFirstSum("b.bin")
    def outcome(ctx: FileContext) =
      scala.util.Try(readAll(ctx.open(b)).toSeq).toEither.left.map(_.getClass)
    assert(outcome(fc) === outcome(stockFc))
    ops.Layout.deleteRecursively(root)
  }

  test("a symlinked path resolves through Hadoop's own code") {
    val root = Files.createTempDirectory("graft_fs_link")
    val target = Files.write(root.resolve("target"), "abc".getBytes("UTF-8"))
    val link = Files.createSymbolicLink(root.resolve("link"), target)
    val c = conf("022")
    val (stock, graft) = (init(new LocalFileSystem(), c), init(new GraftLocalFileSystem(), c))
    val (lp, tp) = (new Path(link.toString), new Path(target.toString))
    val (s, g) = (stock.getFileLinkStatus(lp), graft.getFileLinkStatus(lp))
    assert(g.isSymlink && s.isSymlink)
    assert(g.getSymlink === s.getSymlink)
    assert(g.getSymlink.toUri.getPath === target.toString)
    assert(graftContext(c).getFileLinkStatus(lp).isSymlink)
    // a plain file: the status Hadoop gives once readlink printed nothing
    def facts(st: org.apache.hadoop.fs.FileStatus) =
      (st.getPath, st.isSymlink, st.isDirectory, st.getLen, st.getModificationTime, st.getPermission)
    assert(facts(graft.getFileLinkStatus(tp)) === facts(stock.getFileLinkStatus(tp)))
    assert(!graft.getFileLinkStatus(tp).isSymlink)
    intercept[java.io.FileNotFoundException](graft.getFileLinkStatus(new Path(root.resolve("none").toString)))
    // chmod through the link lands on its target, as Hadoop's chmod does
    graft.setPermission(lp, new FsPermission("600"))
    assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(target)) === "rw-------")
    ops.Layout.deleteRecursively(root)
  }
}
