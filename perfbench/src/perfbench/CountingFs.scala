package perfbench

import java.util.concurrent.atomic.AtomicLongArray

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The `file:` filesystem with call counters, installed for traced
  * runs through `spark.hadoop.fs.file.impl`. Hadoop's own statistics
  * cannot serve here: RawLocalFileSystem never increments its read or
  * write op counts, so list, status and rename calls are invisible to
  * them. Only paths under [[CountingFs.prefix]] are counted, and only
  * while [[CountingFs.counting]] is on (the tracer turns it on for
  * traced passes); otherwise a call costs one volatile read.
  */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  private def hit(p: Path, op: Int): Unit = {
    if (counting) {
      val pre = prefix
      if (pre != null && p != null && p.toUri.getPath.startsWith(pre)) counts.incrementAndGet(op)
    }
  }

  override def listStatus(f: Path): Array[FileStatus] = { hit(f, List); super.listStatus(f) }

  override def getFileStatus(f: Path): FileStatus = { hit(f, Status); super.getFileStatus(f) }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    hit(f, Open); super.open(f, bufferSize)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    hit(f, Create)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = { hit(src, Rename); super.rename(src, dst) }

  override def delete(f: Path, recursive: Boolean): Boolean = { hit(f, Delete); super.delete(f, recursive) }
}

object CountingFs {
  val List = 0
  val Status = 1
  val Open = 2
  val Create = 3
  val Rename = 4
  val Delete = 5
  val names: Seq[String] = Seq("fs_list", "fs_status", "fs_open", "fs_create", "fs_rename", "fs_delete")

  val counts = new AtomicLongArray(names.size)
  /** Absolute local path whose subtree is counted; null counts nothing. */
  @volatile var prefix: String = _
  @volatile var counting = false

  def snapshot(): Array[Long] = Array.tabulate(names.size)(counts.get)
}
