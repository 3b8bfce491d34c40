package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, LocalFileSystem, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** The checkpoint file manager `sql-submit` names in
  * `spark.sql.streaming.checkpointFileManagerClass`; Spark builds every
  * streaming metadata log through it (offsets, commits, sources, state
  * deltas and snapshots, a file sink's `_spark_metadata`).
  *
  * A local (`file:`) path goes through Hadoop's `FileSystem`: without
  * Hadoop's native library, each `FileContext` rename on a local path
  * forks a `readlink`, several per state-store commit. `LocalFileSystem`
  * keeps its `.crc` sidecars, and an overwriting rename replaces the
  * target as `FileContext`'s does ([[LocalCheckpointFileManager.Overwriting]]).
  * Any other path keeps Spark's default, `FileContext`, which HDFS
  * needs for an atomic overwrite-rename.
  */
class LocalCheckpointFileManager(path: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {

  private[streaming] val delegate: CheckpointFileManager =
    path.getFileSystem(hadoopConf) match {
      case _: LocalFileSystem => new LocalCheckpointFileManager.Overwriting(path, hadoopConf)
      case _ => new FileContextBasedCheckpointFileManager(path, hadoopConf)
    }

  override def createAtomic(p: Path, overwriteIfPossible: Boolean)
      : CheckpointFileManager.CancellableFSDataOutputStream =
    delegate.createAtomic(p, overwriteIfPossible)
  override def open(p: Path): FSDataInputStream = delegate.open(p)
  override def list(p: Path, filter: PathFilter): Array[FileStatus] = delegate.list(p, filter)
  override def mkdirs(p: Path): Unit = delegate.mkdirs(p)
  override def exists(p: Path): Boolean = delegate.exists(p)
  override def delete(p: Path): Unit = delegate.delete(p)
  override def isLocal: Boolean = delegate.isLocal
  override def createCheckpointDirectory(): Path = delegate.createCheckpointDirectory()
  override def close(): Unit = delegate.close()
}

object LocalCheckpointFileManager {

  /** An overwriting rename deletes an existing target first, as
    * `FileContext` does on a local path. Hive's `ProxyLocalFileSystem`,
    * which serves `file:` when Hive's jars are on the classpath, refuses
    * to rename onto an existing file, and Spark's manager would then
    * keep the old file and leave the temp file behind.
    */
  private[streaming] class Overwriting(path: Path, hadoopConf: Configuration)
      extends FileSystemBasedCheckpointFileManager(path, hadoopConf) {
    override def renameTempFile(src: Path, dst: Path, overwriteIfPossible: Boolean): Unit = {
      if (overwriteIfPossible && fs.isFile(dst)) fs.delete(dst, false)
      super.renameTempFile(src, dst, overwriteIfPossible)
    }
  }
}
