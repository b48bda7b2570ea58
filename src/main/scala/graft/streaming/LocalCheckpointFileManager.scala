package graft.streaming

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}

import graft.engine.ForkFreeLocalFileSystem

/** Checkpoint file manager that keeps streaming checkpoints on local
  * paths off Hadoop's shell-out paths. Installed per drain through
  * `spark.sql.streaming.checkpointFileManagerClass` (see
  * [[Streaming]]); every Structured Streaming log and state store of
  * the query opens its files through it.
  *
  * Without libhadoop, Spark's default manager on `file:` (FileContext
  * over `LocalFs`) starts a process for every checkpoint file: a
  * `chmod` for each create and mkdir (`RawLocalFileSystem
  * .setPermission`) and a `readlink` for each rename (FileContext's
  * rename reads the destination's link status). A micro-batch commits
  * an offset file, a commit file and one state delta per partition
  * and join store, so a drain forks a process per file it writes, and
  * a state-store commit holds the provider lock while it waits.
  *
  * On a local path this is Spark's [[FileSystemBasedCheckpointFileManager]]
  * over the engine's [[ForkFreeLocalFileSystem]] (so `.crc` sidecars
  * are written and verified exactly as before, and modes are set
  * through `java.nio` instead of `chmod`); renames go through
  * `File.renameTo`, which reads no link. Files, names and modes are
  * the ones the default manager writes. Any other path gets exactly
  * what Spark would pick without this class.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[graft] val underlying: CheckpointFileManager =
    if (LocalCheckpointFileManager.isLocal(path, hadoopConf))
      new LocalCheckpointFileManager.ForkFree(path, hadoopConf)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(LocalCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    underlying.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = underlying.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = underlying.list(p, filter)
  override def list(p: Path): Array[FileStatus] = underlying.list(p)
  override def mkdirs(p: Path): Unit = underlying.mkdirs(p)
  override def exists(p: Path): Boolean = underlying.exists(p)
  override def delete(p: Path): Unit = underlying.delete(p)
  override def isLocal: Boolean = underlying.isLocal
  override def createCheckpointDirectory(): Path = underlying.createCheckpointDirectory()
  override def close(): Unit = underlying.close()
}

object LocalCheckpointFileManager {

  /** The session setting Spark reads to pick a checkpoint file manager. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** A `file:` path, by explicit scheme or under a `file:` default FS. */
  private def isLocal(path: Path, conf: Configuration): Boolean =
    Option(path.toUri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** Spark's FileSystem-based manager over a private
    * [[ForkFreeLocalFileSystem]], built the way `FileSystem.get` builds one. */
  private[graft] final class ForkFree(path: Path, conf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, conf) {
    override protected val fs: FileSystem = {
      val local = new ForkFreeLocalFileSystem
      local.setConf(conf)
      local.initialize(URI.create("file:///"), conf)
      local
    }
  }
}
