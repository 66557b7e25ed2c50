package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with a count of metadata and open/create
  * calls. The local file system keeps no operation counts of its own;
  * traced runs install this as `fs.file.impl` to get them. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem.ops

  override def listStatus(f: Path): Array[FileStatus] = { ops.incrementAndGet(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { ops.incrementAndGet(); super.getFileStatus(f) }
  override def rename(src: Path, dst: Path): Boolean = { ops.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { ops.incrementAndGet(); super.delete(f, recursive) }
  override def mkdirs(f: Path, p: FsPermission): Boolean = { ops.incrementAndGet(); super.mkdirs(f, p) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { ops.incrementAndGet(); super.open(f, bufferSize) }
  override def create(f: Path, p: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    ops.incrementAndGet()
    super.create(f, p, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CountingLocalFileSystem {
  val ops = new AtomicLong()
}
