package perfbench

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream,
  FutureDataInputStreamBuilder, LocalFileSystem, LocatedFileStatus, Path,
  RawLocalFileSystem, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system under its own scheme, `cntfs:///<abs path>`,
  * counting every logical operation the callers make. A traced run points
  * the sink's output dir at this scheme; the sink resolves its FileSystem
  * from the dir's URI, so its own probes and renames and Spark's
  * writer and reader tasks all land here. Behaviour is the stock
  * `file:` LocalFileSystem's (checksummed), so only the counting differs
  * from an untraced run.
  */
class CountingFs extends LocalFileSystem(new CountingFs.Raw) {
  import CountingFs._

  override def getScheme: String = Scheme

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    opened(f); super.open(f, bufferSize)
  }
  override def openFile(f: Path): FutureDataInputStreamBuilder = {
    opened(f); super.openFile(f)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    count("create")
    if (f.getName.endsWith(".orc")) count("orc_create")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    count("rename"); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    count("delete"); super.delete(f, recursive)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    count("list"); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    count("list"); super.listLocatedStatus(f)
  }
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] = {
    count("list"); super.listStatusIterator(f)
  }
  /** `exists`, `isFile` and `isDirectory` all funnel through here. */
  override def getFileStatus(f: Path): FileStatus = {
    count("probe"); super.getFileStatus(f)
  }
}

object CountingFs {
  val Scheme = "cntfs"
  val Ops: Seq[String] = Seq("list", "probe", "rename", "delete", "create", "open")

  /** The six operation kinds plus `orc_create`, the ORC data files among
    * the creates. */
  private val counters: Map[String, AtomicLong] =
    (Ops :+ "orc_create").map(_ -> new AtomicLong).toMap
  private val orcOpened = ConcurrentHashMap.newKeySet[String]()

  /** The raw layer answers to `cntfs:///`, so paths of that scheme pass its
    * scheme check; everything else is RawLocalFileSystem's. */
  final class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
    override def getScheme: String = Scheme
  }

  private def count(op: String): Unit = counters(op).incrementAndGet()

  private def opened(f: Path): Unit = {
    count("open")
    if (f.getName.endsWith(".orc")) orcOpened.add(f.toUri.getPath)
  }

  /** Current value of every counter. */
  def snapshot(): Map[String, Long] = counters.map { case (k, v) => k -> v.get }

  /** The ORC data files opened since the last call, as absolute paths. */
  def drainOrcOpened(): Set[String] = {
    val out = orcOpened.toArray(Array.empty[String]).toSet
    out.foreach(orcOpened.remove)
    out
  }

  /** `cntfs:///abs/path` for a local absolute path. */
  def uriOf(localPath: String): String = s"$Scheme://$localPath"
}
