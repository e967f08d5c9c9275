package graft

import java.net.URI

import org.apache.hadoop.fs.Path

import graft.fs.NioRawLocalFileSystem

/** Test-only Hadoop filesystem for fault-injecting the atomic-swap
  * paths in `Catalog.merge` / `Catalog.compact`: behaves exactly like
  * the production local filesystem ([[NioRawLocalFileSystem]], the raw
  * layer `graft.Session` binds to `file:`), so Spark parquet read/write
  * and the committer run for real, except that `rename` FAILS (returns
  * false, the Hadoop contract for a failed rename) whenever the
  * injected predicate matches. Registered under the `faulty://`
  * scheme via `fs.faulty.impl`; the predicate lives in the companion
  * so one setting reaches the FileSystem.get-cached instance and, in
  * local mode, every executor thread.
  */
class FaultInjectingFileSystem extends NioRawLocalFileSystem {
  override def getScheme: String = "faulty"
  override def getUri: URI = URI.create("faulty:///")

  override def rename(src: Path, dst: Path): Boolean = {
    if (FaultInjectingFileSystem.failRenameWhen(src, dst)) false
    else super.rename(src, dst)
  }

  override def getFileStatus(p: Path): org.apache.hadoop.fs.FileStatus = {
    if (FaultInjectingFileSystem.failStatWhen(p))
      throw new java.io.IOException(s"injected stat failure: $p")
    super.getFileStatus(p)
  }
}

object FaultInjectingFileSystem {
  /** Injection predicate — default never fires. The parquet
    * committer also renames through this FS, so predicates must match
    * on the SPECIFIC swap-step paths (e.g. destination ends with the
    * table dir, source contains `_merge_`), never blanket-fail. */
  @volatile var failRenameWhen: (Path, Path) => Boolean = (_, _) => false

  /** stat-failure predicate — open()/listing also stat through this
    * FS, so tests should match the specific file AND self-disarm
    * (one-shot) rather than blanket-fail. */
  @volatile var failStatWhen: Path => Boolean = _ => false

  def reset(): Unit = {
    failRenameWhen = (_, _) => false
    failStatWhen = _ => false
  }

  /** Register the scheme on a session and return a dir path under it. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set(
      "fs.faulty.impl", classOf[FaultInjectingFileSystem].getName)
}
