package graft

import java.io.IOException
import java.net.URI
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system under its own scheme, `faultfs:///<abs path>`,
  * that fails the k-th mutating call (create, rename, delete, mkdirs) once
  * armed, by throwing an IOException before the call takes effect. Local
  * mode runs tasks in the driver's JVM, so driver and task calls share one
  * count. Register it with `fs.faultfs.impl` on the Hadoop conf.
  */
class FaultFs extends LocalFileSystem(new FaultFs.Raw) {
  import FaultFs.step

  override def getScheme: String = FaultFs.Scheme

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    step(s"create $f")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    step(s"rename $src -> $dst"); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    step(s"delete $f"); super.delete(f, recursive)
  }
  override def mkdirs(f: Path): Boolean = { step(s"mkdirs $f"); super.mkdirs(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    step(s"mkdirs $f"); super.mkdirs(f, permission)
  }
}

object FaultFs {
  val Scheme = "faultfs"

  private val calls = new AtomicInteger
  /** The call to fail: -1 disarmed, 0 counting only, k > 0 the k-th. */
  @volatile private var failAt = -1

  /** Count mutating calls from zero and fail the k-th (k = 0: none). */
  def arm(k: Int): Unit = { calls.set(0); failAt = k }

  /** Stop counting; the number of mutating calls since `arm`. */
  def disarm(): Int = { failAt = -1; calls.get }

  private def step(op: String): Unit = if (failAt >= 0) {
    val n = calls.incrementAndGet()
    if (n == failAt) throw new IOException(s"injected fault at mutating call $n: $op")
  }

  /** The raw layer answers to `faultfs:///`, so paths of that scheme pass
    * its scheme check. */
  final class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
    override def getScheme: String = Scheme
  }

  /** `faultfs:///abs/path` for a local absolute path. */
  def uriOf(localPath: String): String = s"$Scheme://$localPath"
}
