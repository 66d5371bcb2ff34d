package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystems, Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.ReflectionUtils

/** Hadoop's checksummed local file system (`file:`), with every permission
  * change made in-process.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * forks a `chmod` process, and its `create` and `mkdirs` call it for
  * every file and directory they make (a checksummed create makes two
  * files: the data and its `.crc` sidecar). `LocalFs.Raw` sets the same
  * mode bits through `java.nio` instead, on every POSIX host, with or
  * without the native library. Everything else is the stock
  * file system: the umask, the `.crc` sidecars, `rename(2)` renames.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  private val FileImpl = "fs.file.impl"

  /** Whether permissions can be set through `java.nio`: a POSIX default
    * file system. */
  private val inProcess =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The raw layer: `setPermission` sets the 9 rwx bits through
    * `Files.setPosixFilePermissions` (following links, as `chmod` does).
    * A mode with more bits (sticky) or a non-POSIX store take the stock
    * path.
    */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      if (!inProcess || (permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
      else try { // 9 bits: the symbolic form is exactly "rwxr-x---"
        Files.setPosixFilePermissions(pathToFile(p).toPath,
          PosixFilePermissions.fromString(permission.toString))
      } catch { case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage) }
    }
  }

  /** Whether `conf` leaves the `file` scheme to Hadoop's default (or
    * already maps it here): an explicitly configured `fs.file.impl` is
    * kept. */
  def servesFile(conf: Configuration): Boolean =
    Option(conf.get(FileImpl)).forall(_ == classOf[LocalFs].getName)

  /** Whether `uri` names the local file system under `conf`: scheme
    * `file`, or no scheme with a `file:` default file system. */
  def isFile(uri: URI, conf: Configuration): Boolean =
    Option(uri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme) == "file"

  /** The file system of `uri`: a fresh `LocalFs` for a local path (unless
    * `conf` maps `file` elsewhere), else `FileSystem.get`'s. */
  def fileSystem(uri: URI, conf: Configuration): FileSystem =
    if (isFile(uri, conf) && servesFile(conf)) {
      // as FileSystem.get builds one: setConf, then initialize
      val fs = ReflectionUtils.newInstance(classOf[LocalFs], conf)
      fs.initialize(URI.create("file:///"), conf)
      fs
    } else FileSystem.get(uri, conf)

  /** Map the `file` scheme of `conf` to `LocalFs`, outside Hadoop's
    * FileSystem cache (whose key ignores the conf), unless `conf` maps it
    * elsewhere already. For confs that travel into tasks, where the file
    * system is resolved from the path. */
  def mapFileScheme(conf: Configuration): Unit = if (servesFile(conf)) {
    conf.set(FileImpl, classOf[LocalFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
  }
}
