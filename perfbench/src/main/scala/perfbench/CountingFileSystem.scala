package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system, counting metadata and data operations: Hadoop's
  * own statistics count bytes for `file:` but leave its read and write
  * operation counts at zero. A traced run installs it as `fs.file.impl`. */
final class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet()
    if (isDataFile(f)) dataFilesOpened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = { reads.incrementAndGet(); super.listStatus(f) }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    reads.incrementAndGet(); super.listLocatedStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = { reads.incrementAndGet(); super.getFileStatus(f) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    if (isDataFile(f)) dataFilesCreated.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { writes.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { writes.incrementAndGet(); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { writes.incrementAndGet(); super.mkdirs(f, permission) }
}

object CountingFileSystem {
  val reads = new AtomicLong
  val writes = new AtomicLong
  /** Parquet data files created, wherever they are staged. */
  val dataFilesCreated = new AtomicLong
  /** Distinct parquet data files opened since the caller last cleared it. */
  val dataFilesOpened: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()

  /** A table's parquet data file: `part-*.parquet`, and not in one of
    * the lake's metadata sidecars (`_file_stats`, `_deletes`, ...),
    * which are parquet too. Staging and spool directories (`_staging_*`,
    * `_temporary`, `_rlo_*`) hold data files on their way in. */
  def isDataFile(f: Path): Boolean = {
    val n = f.getName
    n.startsWith("part-") && n.endsWith(".parquet") && {
      var p = f.getParent
      var meta = false
      while (p != null && !meta) {
        val d = p.getName
        meta = d.startsWith("_") && !d.startsWith("_staging") && !d.startsWith("_temporary") &&
          !d.startsWith("_rlo_")
        p = p.getParent
      }
      !meta
    }
  }
}
