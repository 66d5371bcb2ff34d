package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path, PathFilter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileSystemBasedCheckpointFileManager}

/** The stream checkpoint's file manager: the source, offset and commit
  * logs and the state-store files.
  *
  * A `file:` checkpoint is served by Spark's FileSystem-based manager over
  * `LocalFs`, so writing a log entry forks no process: Spark's default,
  * the FileContext-based manager, forks `readlink` on every rename and
  * `chmod` on every file and directory it creates when Hadoop's native
  * library is absent. Log entries are still written to a temp file and
  * renamed into place (an existing entry is never overwritten unless the
  * caller allows it), with `.crc` sidecars. Any other scheme gets exactly
  * the manager Spark picks by default.
  */
class LocalCheckpointFileManager(path: Path, conf: Configuration)
    extends CheckpointFileManager {

  private[graft] val delegate: CheckpointFileManager =
    if (LocalFs.isFile(path.toUri, conf) && LocalFs.servesFile(conf)) {
      val local = new Configuration(conf)
      LocalFs.mapFileScheme(local)
      new FileSystemBasedCheckpointFileManager(path, local)
    } else { // Spark's own choice: with the class key set, it would build this class again
      val c = new Configuration(conf)
      c.unset(LocalCheckpointFileManager.ClassKey)
      CheckpointFileManager.create(path, c)
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
  /** Spark's conf key naming the checkpoint file manager class. */
  val ClassKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Make this the checkpoint file manager of the streams `spark` starts
    * from now on, unless a manager class is configured already (in the
    * session or the Hadoop conf). */
  def install(spark: SparkSession): Unit =
    if (spark.conf.get(ClassKey, null) == null &&
        spark.sparkContext.hadoopConfiguration.get(ClassKey) == null)
      spark.conf.set(ClassKey, classOf[LocalCheckpointFileManager].getName)
}
