package graft.fs

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver,
  FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` scheme's Hadoop filesystem with the two shell-outs done
  * in-process.
  *
  * Without the native libhadoop, stock [[RawLocalFileSystem]] forks
  * `chmod` for every permission set (every `create` and `mkdirs` sets
  * one) and `readlink` for every `getFileLinkStatus` (every
  * `FileContext` rename stats source and destination through it). Each
  * fork costs 3-5 ms; streaming offset/commit logs, state-store delta
  * and checksum files, parquet committers and catalog publishes all
  * pay it per file. Here both are NIO calls with the stock decision
  * logic, so results are the same and only the process start is gone.
  * Registered for `file:` by `graft.Session`; other schemes (HDFS, S3)
  * are untouched.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` via `Files.setPosixFilePermissions` (follows links, throws
    * `NoSuchFileException` on a missing path, as `chmod` fails).
    * setuid/setgid/sticky (`0xE00`, octal 7000) have no NIO form and
    * keep the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & 0xE00) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.posix(mode))
  }

  /** Stock `getFileLinkStatus` (the `deprecatedGetFileLinkStatusInternal`
    * path) with `FileUtil.readLink` — `readlink <f.toString>`, "" on any
    * failure — done by NIO on the same `new File(f.toString)`. A
    * qualified `file:/x` path is then a relative name that does not
    * exist, so, as in stock, it never reports a link. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val target =
      try Files.readSymbolicLink(new File(f.toString).toPath).toString.trim
      catch { case _: IOException => "" }
    val fi =
      try {
        val fs = getFileStatus(f)
        if (target.isEmpty) fs
        else new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
          fs.getModificationTime, fs.getAccessTime, fs.getPermission, fs.getOwner,
          fs.getGroup, new Path(target), f)
      } catch {
        case _: java.io.FileNotFoundException if target.nonEmpty =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "",
            new Path(target), f)
      }
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }
}

object NioRawLocalFileSystem {
  private val bits = Array(
    PosixFilePermission.OTHERS_EXECUTE, PosixFilePermission.OTHERS_WRITE,
    PosixFilePermission.OTHERS_READ, PosixFilePermission.GROUP_EXECUTE,
    PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_READ,
    PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.OWNER_WRITE,
    PosixFilePermission.OWNER_READ)

  /** The `rwxrwxrwx` bits of `mode` as a NIO permission set. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    bits.indices.foreach(i => if ((mode & (1 << i)) != 0) s.add(bits(i)))
    s
  }
}

/** `fs.file.impl`: the checksummed local filesystem (`.crc` side files
  * kept) over [[NioRawLocalFileSystem]]. Setting the key also overrides
  * the ServiceLoader binding, which with Spark's Hive jars on the
  * classpath is Hive's `ProxyLocalFileSystem`: stock `LocalFileSystem`
  * plus a `rename` that refuses an existing destination file, which no
  * graft rename (all directory swaps) relies on. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (the `FileContext` binding Spark's
  * checkpoint manager uses): stock `LocalFs` — `ChecksumFs` over a
  * delegate mirroring `RawLocalFs` — with [[NioRawLocalFileSystem]]
  * underneath. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(NioLocalFs.raw(uri, conf))

object NioLocalFs {
  private def raw(uri: URI, conf: Configuration): DelegateToFileSystem =
    new DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
      override def getUriDefaultPort: Int = -1
      @deprecated("mirrors RawLocalFs", "")
      override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def getServerDefaults(f: Path): FsServerDefaults =
        LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    }
}
