package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Hadoop's local file system keeps byte counts in its statistics but
  * leaves the read/write op counters at 0. The traced run installs this
  * subclass as `fs.file.impl` to count the calls a store makes: reads are
  * open, list and status calls; writes are create, mkdirs, rename and
  * delete. */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    readOps.incrementAndGet(); super.open(f, bufferSize)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    readOps.incrementAndGet(); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    readOps.incrementAndGet(); super.getFileStatus(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writeOps.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writeOps.incrementAndGet(); super.mkdirs(f, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    writeOps.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    writeOps.incrementAndGet(); super.delete(f, recursive)
  }
}

object CountingLocalFileSystem {
  val readOps = new AtomicLong
  val writeOps = new AtomicLong
}
