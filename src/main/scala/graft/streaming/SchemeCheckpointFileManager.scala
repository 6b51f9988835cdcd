package graft.streaming

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FileSystem, Path,
  PathFilter, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{
  CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.CancellableFSDataOutputStream

/** The streaming checkpoint manager of every graft session (the
  * offsets WAL, the commit and source logs, the state-store deltas):
  * it picks Spark's manager by the checkpoint path's scheme.
  *
  *  - `file:` gets [[FileSystemBasedCheckpointFileManager]] on Hadoop's
  *    raw local filesystem. Its rename is rename(2), which replaces the
  *    target atomically, and it forks no `chmod`/`stat` child processes
  *    beyond one per created file when libhadoop is absent. It is the
  *    raw filesystem and not the session's `file:` one, because Hive's
  *    `ProxyLocalFileSystem` (registered for `file:` by the Hive jars)
  *    never renames onto an existing file, and the checksummed
  *    `LocalFileSystem` writes a `.crc` beside every file.
  *  - Every other scheme gets Spark's default, as if no manager class
  *    were set: the FileContext-based manager, because on HDFS the
  *    FileSystem rename does not overwrite.
  */
class SchemeCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  /** The Spark manager every call goes to. */
  val delegate: CheckpointFileManager =
    if (path.getFileSystem(hadoopConf).getScheme == "file")
      new SchemeCheckpointFileManager.RawLocal(path, hadoopConf)
    else {
      val conf = new Configuration(hadoopConf)
      conf.unset(SchemeCheckpointFileManager.ConfKey)
      CheckpointFileManager.create(path, conf)
    }

  override def createAtomic(p: Path,
      overwriteIfPossible: Boolean): CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] =
    delegate.list(p, filter)
  override def list(p: Path): Array[FileStatus] = delegate.list(p)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path =
    delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object SchemeCheckpointFileManager {
  /** Spark's own setting for the checkpoint manager class. */
  val ConfKey = "spark.sql.streaming.checkpointFileManagerClass"

  private class RawLocal(path: Path, hadoopConf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
    override val fs: FileSystem = {
      val raw = new RawLocalFileSystem
      raw.initialize(URI.create("file:///"), hadoopConf)
      raw
    }
  }
}
