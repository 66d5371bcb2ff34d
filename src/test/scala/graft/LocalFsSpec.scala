package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, DelegateToFileSystem,
  FileAlreadyExistsException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import graft.io.{LocalCheckpointFileManager, LocalFs}

/** `faultfs:` under Hadoop's FileContext API, so a FileContext-based
  * checkpoint manager can be built for a scheme other than `file:`. */
class FaultAfs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new FaultFs, conf, FaultFs.Scheme, false)

/** Parity of the in-process local file system (`graft.io.LocalFs`) and the
  * checkpoint file manager built on it with what stock Hadoop and Spark
  * produce: modes, checksums, atomic log entries, and the manager choice
  * for every other scheme.
  */
class LocalFsSpec extends SparkSpec {

  private def conf(umask: String = "022"): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c.set(s"fs.${FaultFs.Scheme}.impl", classOf[FaultFs].getName)
    c
  }

  private def stock(c: Configuration): FileSystem = {
    val fs = new LocalFileSystem()
    fs.initialize(URI.create("file:///"), c)
    fs
  }

  /** Every entry under `root`, hidden `.crc` sidecars included, with its
    * full mode (sticky bit too). */
  private def tree(root: JPath): Map[String, Int] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.drop(1).map { p =>
      root.relativize(p).toString ->
        (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
    }.toMap finally walk.close()
  }

  test("LocalFs gives files, dirs and .crc sidecars the modes stock Hadoop gives them") {
    for (umask <- Seq("022", "077", "027")) {
      val c = conf(umask)
      def build(fs: FileSystem): Map[String, Int] = {
        val root = Files.createTempDirectory("graft-localfs-modes-")
        val b = new Path(root.toUri)
        fs.mkdirs(new Path(b, "d1/d2"))
        fs.mkdirs(new Path(b, "d3"), new FsPermission("750"))
        val out = fs.create(new Path(b, "d1/d2/f1"))
        out.write("payload".getBytes(UTF_8)); out.close()
        fs.create(new Path(b, "f2"), new FsPermission("640"), true, 4096,
          1.toShort, 1L << 20, null).close()
        fs.setPermission(new Path(b, "f2"), new FsPermission("604"))
        fs.setPermission(new Path(b, "d3"), new FsPermission(Integer.parseInt("1750", 8).toShort))
        tree(root)
      }
      val fs = LocalFs.fileSystem(URI.create("file:///"), c)
      assert(fs.isInstanceOf[LocalFs])
      val (got, want) = (build(fs), build(stock(c)))
      assert(got == want, s"umask $umask")
      val mask = Integer.parseInt(umask, 8)
      assert(got("d1/d2/f1") == (0x1b6 & ~mask) && got("d1/d2") == (0x1ff & ~mask), s"umask $umask")
      assert(got.contains("d1/d2/.f1.crc") && got.contains(".f2.crc"), got.keys.toSeq.sorted)
    }
  }

  test("LocalFs keeps checksums: a flipped byte raises ChecksumException on read") {
    val root = Files.createTempDirectory("graft-localfs-crc-")
    val fs = LocalFs.fileSystem(root.toUri, conf())
    val p = new Path(root.toUri.toString, "data")
    val out = fs.create(p)
    out.write(Array.tabulate[Byte](4000)(i => (i % 251).toByte)); out.close()
    assert(Files.exists(root.resolve(".data.crc")))
    val raf = new java.io.RandomAccessFile(root.resolve("data").toFile, "rw")
    try { raf.seek(1234); val b = raf.readByte(); raf.seek(1234); raf.write(b ^ 0xff) }
    finally raf.close()
    intercept[ChecksumException] {
      val in = fs.open(p)
      try in.readAllBytes() finally in.close()
    }
  }

  test("the file: checkpoint manager writes log entries like Spark's default one") {
    val c = conf()
    def run(mgr: CheckpointFileManager, root: JPath): Map[String, Int] = {
      val log = new Path(root.toUri.toString, "log")
      def put(name: String, overwrite: Boolean, body: String) = {
        val o = mgr.createAtomic(new Path(log, name), overwrite)
        o.write(body.getBytes(UTF_8))
        o
      }
      def read(name: String) = {
        val in = mgr.open(new Path(log, name))
        try new String(in.readAllBytes(), UTF_8) finally in.close()
      }
      mgr.mkdirs(log)
      put("0", overwrite = false, "v1").close()
      val again = put("0", overwrite = false, "v2")
      intercept[FileAlreadyExistsException](again.close())
      assert(read("0") == "v1")
      put("1", overwrite = true, "gone").cancel()
      put("0", overwrite = true, "v3").close()
      assert(read("0") == "v3")
      assert(mgr.exists(new Path(log, "0")) && !mgr.exists(new Path(log, "1")))
      tree(root).map { case (k, v) => k.replaceAll("[0-9a-f-]{36}", "<id>") -> v }
    }
    val ours = new LocalCheckpointFileManager(
      new Path(Files.createTempDirectory("graft-ckfm-").toUri), c)
    ours.delegate match {
      case m: FileSystemBasedCheckpointFileManager => // `fs` is protected in Scala only
        assert(m.getClass.getMethod("fs").invoke(m).isInstanceOf[LocalFs])
      case other => fail(s"file: checkpoint served by ${other.getClass}")
    }
    assert(ours.isLocal)
    val (r1, r2) = (Files.createTempDirectory("graft-ckfm-ours-"),
      Files.createTempDirectory("graft-ckfm-spark-"))
    val got = run(ours, r1)
    val want = run(CheckpointFileManager.create(new Path(r2.toUri), c), r2)
    // the cancelled and the replaced entry leave no temp file; the refused
    // one leaves its own, as Spark's close does on every manager
    assert(got == want, s"$got != $want")
    assert(got.keySet == Set("log", "log/0", "log/.0.crc", "log/.0.<id>.tmp",
      "log/..0.<id>.tmp.crc"), got)
  }

  test("other schemes get Spark's default manager; a configured manager class is kept") {
    val dir = Files.createTempDirectory("graft-ckfm-faultfs-").toString
    val path = new Path(FaultFs.uriOf(dir))
    for (afs <- Seq(false, true)) {
      val c = conf()
      if (afs) c.set(s"fs.AbstractFileSystem.${FaultFs.Scheme}.impl", classOf[FaultAfs].getName)
      val spark = CheckpointFileManager.create(path, c).getClass
      assert(spark == (if (afs) classOf[FileContextBasedCheckpointFileManager]
        else classOf[FileSystemBasedCheckpointFileManager]))
      assert(new LocalCheckpointFileManager(path, c).delegate.getClass == spark)
    }
    val key = LocalCheckpointFileManager.ClassKey
    val fresh = spark.newSession()
    LocalCheckpointFileManager.install(fresh)
    assert(fresh.conf.get(key) == classOf[LocalCheckpointFileManager].getName)
    val custom = spark.newSession()
    custom.conf.set(key, classOf[FileContextBasedCheckpointFileManager].getName)
    graft.sources.KafkaShaped.streamFromDir(custom, Files.createTempDirectory("graft-ckfm-src-").toString)
    assert(custom.conf.get(key) == classOf[FileContextBasedCheckpointFileManager].getName)
  }
}
