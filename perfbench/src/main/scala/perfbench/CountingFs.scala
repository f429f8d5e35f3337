package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local `file` scheme with a count of every metadata and data call
  * made through Hadoop's FileSystem API (graft.io.LayoutFs, Spark's
  * readers, writers and committers). Installed only in the traced run,
  * through `spark.hadoop.fs.file.impl`.
  */
class CountingFs extends LocalFileSystem {
  import CountingFs._
  override def getFileStatus(p: Path): FileStatus = { reads.incrementAndGet(); super.getFileStatus(p) }
  override def listStatus(p: Path): Array[FileStatus] = { reads.incrementAndGet(); super.listStatus(p) }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(p, bufferSize)
  }
  override def create(p: Path, perm: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(p, perm, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(p: Path, perm: FsPermission): Boolean = { writes.incrementAndGet(); super.mkdirs(p, perm) }
  override def rename(src: Path, dst: Path): Boolean = { writes.incrementAndGet(); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet(); super.delete(p, recursive)
  }
}

object CountingFs {
  val reads = new AtomicLong()
  val writes = new AtomicLong()
}
