package perfbench

import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Hadoop's local file system with its operations counted. Hadoop's own
  * statistics for the `file` scheme count bytes but no operations, so
  * the benchmark installs this as `fs.file.impl` in every run. Reads are
  * opens and metadata lookups; writes are creates, renames, deletes and
  * directory creations. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem.{reads, writes}

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.increment(); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    reads.increment(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    reads.increment(); super.getFileStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.increment()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writes.increment(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.increment(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.increment(); super.mkdirs(f, permission)
  }
}

object CountingLocalFileSystem {
  val reads = new LongAdder
  val writes = new LongAdder
}
