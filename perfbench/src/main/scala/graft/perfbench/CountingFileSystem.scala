package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local Hadoop filesystem with operation counters. Hadoop's own
  * statistics count bytes but no operations for `file:` paths, so traced
  * runs install this class as `fs.file.impl`; the program still sees a
  * plain local filesystem.
  */
class CountingFileSystem extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFileSystem.reads.incrementAndGet()
    super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CountingFileSystem.writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CountingFileSystem.writes.incrementAndGet()
    super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    CountingFileSystem.writes.incrementAndGet()
    super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    CountingFileSystem.writes.incrementAndGet()
    super.mkdirs(f, permission)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFileSystem.lists.incrementAndGet()
    super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    CountingFileSystem.stats.incrementAndGet()
    super.getFileStatus(f)
  }
}

object CountingFileSystem {
  val reads = new AtomicLong
  val writes = new AtomicLong
  val lists = new AtomicLong
  val stats = new AtomicLong

  def snapshot(): Map[String, Double] = Map(
    "fs_opens" -> reads.get.toDouble, "fs_writes" -> writes.get.toDouble,
    "fs_lists" -> lists.get.toDouble, "fs_stats" -> stats.get.toDouble)
}
