package graft.fs

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileStatus,
  FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** The NIO-backed `file:` classes against stock Hadoop: every check runs
  * the same operations through both and compares what lands on disk or
  * comes back, so the only difference left is the process start. */
class LocalFsSpec extends AnyFunSuite {
  private val fileUri = URI.create("file:///")

  /** A umask other than the 022 default, so it visibly shapes modes. */
  private def conf(): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", "027")
    c
  }

  private def init[F <: FileSystem](fs: F): F = { fs.initialize(fileUri, conf()); fs }

  private def withTempDir[T](body: File => T): T = {
    val d = Files.createTempDirectory("graft_localfs").toFile
    def rm(f: File): Unit = {
      if (!Files.isSymbolicLink(f.toPath)) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    try body(d) finally rm(d)
  }

  /** Relative path → `rwx` string of every entry under `root`. */
  private def modes(root: File): Map[String, String] = {
    val base = root.toPath
    Files.walk(base).iterator().asScala.filter(_ != base).map { p =>
      base.relativize(p).toString ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap
  }

  /** create (parents implied), nested mkdirs and two explicit modes. */
  private def exercise(fs: FileSystem, root: File): Unit = {
    val r = new Path(root.getPath)
    fs.create(new Path(r, "a/b/data.bin")).close()
    assert(fs.mkdirs(new Path(r, "x/y/z")))
    fs.create(new Path(r, "x/private.txt")).close()
    fs.setPermission(new Path(r, "x/private.txt"), new FsPermission("600"))
    fs.setPermission(new Path(r, "x/y"), new FsPermission("755"))
  }

  /** Modes after [[exercise]] through each filesystem in sibling dirs. */
  private def bothModes(stock: FileSystem, nio: FileSystem)
      : (Map[String, String], Map[String, String]) = withTempDir { d =>
    val (s, n) = (new File(d, "stock"), new File(d, "nio"))
    exercise(stock, s)
    exercise(nio, n)
    (modes(s), modes(n))
  }

  test("raw: create, nested mkdirs and setPermission leave the stock modes") {
    val (stock, nio) =
      bothModes(init(new RawLocalFileSystem), init(new NioRawLocalFileSystem))
    assert(stock("x/private.txt") == "rw-------")
    assert(stock("x/y") == "rwxr-xr-x")
    assert(stock("x/y/z") == "rwxr-x---", "the umask must shape mkdirs")
    assert(stock("a/b/data.bin") == "rw-r-----", "the umask must shape create")
    assert(nio == stock)
  }

  test("checksummed: the same modes and .crc side files as LocalFileSystem") {
    val (stock, nio) =
      bothModes(init(new LocalFileSystem), init(new NioLocalFileSystem))
    assert(stock.contains("a/b/.data.bin.crc"))
    assert(nio == stock)
  }

  test("setPermission on a missing path throws IOException in both") {
    withTempDir { d =>
      val missing = new Path(new File(d, "absent").getPath)
      Seq(init(new RawLocalFileSystem), init(new NioRawLocalFileSystem)).foreach { fs =>
        intercept[IOException](fs.setPermission(missing, new FsPermission("600")))
      }
    }
  }

  private def fields(st: FileStatus): Seq[Any] =
    Seq(st.getPath, st.getLen, st.isDirectory, st.isSymlink, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getAccessTime, st.getPermission,
      st.getOwner, st.getGroup, if (st.isSymlink) st.getSymlink else None)

  test("getFileLinkStatus matches stock for files, dirs and links") {
    withTempDir { d =>
      val file = new File(d, "f.txt")
      Files.write(file.toPath, "x".getBytes)
      val dir = new File(d, "sub")
      assert(dir.mkdir())
      val link = new File(d, "link")
      Files.createSymbolicLink(link.toPath, Paths.get("f.txt"))
      val dangling = new File(d, "dangling")
      Files.createSymbolicLink(dangling.toPath, Paths.get("nowhere"))
      val (stock, nio) = (init(new RawLocalFileSystem), init(new NioRawLocalFileSystem))
      val paths = Seq(file, dir, link, dangling).map(f => new Path(f.getPath)) :+
        new Path("file:" + link.getPath) // qualified: never reported as a link
      val linkFlags = paths.map { p =>
        assert(fields(nio.getFileLinkStatus(p)) == fields(stock.getFileLinkStatus(p)), p)
        nio.getFileLinkStatus(p).isSymlink
      }
      assert(linkFlags == Seq(false, false, true, true, false))
      val missing = new Path(new File(d, "absent").getPath)
      intercept[java.io.FileNotFoundException](stock.getFileLinkStatus(missing))
      intercept[java.io.FileNotFoundException](nio.getFileLinkStatus(missing))
    }
  }

  test("FileContext: NioLocalFs mirrors LocalFs defaults, checksums and renames") {
    withTempDir { d =>
      val stockConf = conf()
      val nioConf = conf()
      nioConf.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
      val stock = AbstractFileSystem.get(fileUri, stockConf)
      val nio = AbstractFileSystem.get(fileUri, nioConf)
      assert(nio.isInstanceOf[NioLocalFs])
      assert(nio.getUriDefaultPort == stock.getUriDefaultPort)
      assert(nio.isValidName("a:b") == stock.isValidName("a:b"))
      def defaults(fs: AbstractFileSystem) = {
        val s = fs.getServerDefaults(new Path(d.getPath))
        (s.getBlockSize, s.getBytesPerChecksum, s.getWritePacketSize,
          s.getReplication, s.getFileBufferSize, s.getChecksumType)
      }
      assert(defaults(nio) == defaults(stock))
      Seq("stock" -> stockConf, "nio" -> nioConf).foreach { case (name, c) =>
        val fc = FileContext.getFileContext(fileUri, c)
        val root = new Path(new File(d, name).getPath)
        val tmp = new Path(root, ".1.tmp")
        val out = fc.create(tmp, java.util.EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.createParent())
        out.write(1)
        out.close()
        fc.rename(tmp, new Path(root, "1"), Options.Rename.OVERWRITE)
      }
      assert(modes(new File(d, "nio")) == modes(new File(d, "stock")))
      assert(modes(new File(d, "nio")).keySet == Set("1", ".1.crc"))
    }
  }

  test("the session binds file: to the graft classes for FileSystem and FileContext") {
    val spark = SparkTestSession.spark
    Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf())
      .foreach { hc =>
        assert(FileSystem.getFileSystemClass("file", hc) == classOf[NioLocalFileSystem])
        assert(FileSystem.get(fileUri, hc).isInstanceOf[NioLocalFileSystem])
        assert(FileSystem.getLocal(hc).getRaw.isInstanceOf[NioRawLocalFileSystem])
        assert(AbstractFileSystem.get(fileUri, hc).isInstanceOf[NioLocalFs])
      }
  }
}
