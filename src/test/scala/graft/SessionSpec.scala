package graft

import java.io.{File, RandomAccessFile}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Pins the shuffle sizing every run session uses. Builds no session:
  * `getOrCreate` would hand back (and reconfigure) the shared test
  * session. */
class SessionSpec extends AnyFunSuite {
  private val mb = 1L << 20

  /** A sparse file: `length` reports `bytes` without writing them. */
  private def sized(f: File, bytes: Long): Unit = {
    f.getParentFile.mkdirs()
    val raf = new RandomAccessFile(f, "rw")
    try raf.setLength(bytes) finally raf.close()
  }

  private def withTempDir(body: File => Unit): Unit = {
    val d = Files.createTempDirectory("graft_session").toFile
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    try body(d) finally rm(d)
  }

  test("inputPartitions floors at 8 for small and empty inputs") { withTempDir { d =>
    assert(Session.inputPartitions(d.getPath, cores = 4) == 8)
    sized(new File(d, "t.parquet"), 5 * mb)
    assert(Session.inputPartitions(d.getPath, cores = 4) == 8)
  }}

  test("inputPartitions caps at 4x cores") { withTempDir { d =>
    sized(new File(d, "t.parquet"), 200 * mb) // 50 partitions uncapped
    assert(Session.inputPartitions(d.getPath, cores = 4) == 16)
    assert(Session.inputPartitions(d.getPath, cores = 16) == 50)
  }}

  test("inputPartitions sums nested directories at 4 MB per partition") { withTempDir { d =>
    sized(new File(d, "a/b/part-0.parquet"), 40 * mb)
    sized(new File(d, "c/part-1.parquet"), 40 * mb)
    assert(Session.inputBytes(d) == 80 * mb)
    assert(Session.inputPartitions(d.getPath, cores = 8) == 20)
  }}

  test("inputPartitions of a missing dir is the floor") { withTempDir { d =>
    val missing = new File(d, "absent")
    assert(Session.inputBytes(missing) == 0L)
    assert(Session.inputPartitions(missing.getPath, cores = 4) == 8)
  }}

  test("SparkSession.builder appears in src/main only inside Session.scala") {
    val root = new File("src/main")
    assert(root.isDirectory, s"run from the repo root (cwd ${new File(".").getAbsolutePath})")
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)
    val builder = "SparkSession\\s*\\.\\s*builder".r
    val sites = files(root).filter(_.getName.endsWith(".scala"))
      .filter(f => builder.findFirstIn(new String(Files.readAllBytes(f.toPath), "UTF-8")).isDefined)
      .map(_.getPath.replace(File.separatorChar, '/'))
    assert(sites == Seq("src/main/scala/graft/Session.scala"))
  }
}
