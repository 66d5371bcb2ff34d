package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.KafkaShaped
import graft.streaming.OffsetNamedOrcSink

/** Pins the reference's pipeline contract (SURVEY.md §2.1 O8–O13) on the
  * offset-named ORC sink, with *distinct* per-row values — the reference's
  * own tests used identical records, which masked its vector[0] read bugs
  * (`OrcUtils.java:63-80`); ours would catch that class of bug.
  */
class OffsetNamedOrcSinkSpec extends SparkSpec {

  private def freshOut() = Files.createTempDirectory("graft-sink-test-").toString

  private lazy val shaped = KafkaShaped.fromEvents(spark, sf) // 1000 events

  /** Reference layout (`FileUtils.fileKeyToCommit`): offset-named files sit
    * DIRECTLY under `partition=<p>/` — no other directory level.
    */
  private def orcFiles(topicDir: String) =
    new java.io.File(topicDir).listFiles.filter(_.isDirectory)
      .filter(_.getName.startsWith("partition="))
      .flatMap(_.listFiles).filter(_.isFile)
      .filter(_.getName.endsWith(".orc"))

  test("O10: files are offset-named <topic>+<partition>+<%010d>.orc in partition dirs") {
    val out = freshOut()
    val topicDir = OffsetNamedOrcSink.write(shaped, out, flushSize = 250)
    val files = orcFiles(topicDir).map(_.getName)
    assert(files.nonEmpty)
    // every file matches events+<p>+<zero-padded offset>.orc
    val pat = raw"events\+\d+\+\d{10}\.orc".r
    assert(files.forall(f => pat.matches(f)), files.mkString(", "))
    // chunk starts are multiples of flushSize
    val offsets = files.map(_.split("\\+")(2)).map(_.stripSuffix(".orc").toLong)
    assert(offsets.forall(_ % 250 == 0))
  }

  test("O9: rotation — sum of file chunks equals input; ranges respect flush.size") {
    val out = freshOut()
    val topicDir = OffsetNamedOrcSink.write(shaped, out, flushSize = 250)
    val back = OffsetNamedOrcSink.read(spark, topicDir)
    assert(back.count() == 1000)
    // within each (partition, chunk), offsets lie in [chunk, chunk+250)
    val bad = back.filter(col("offset") < col(OffsetNamedOrcSink.ChunkCol) ||
      col("offset") >= col(OffsetNamedOrcSink.ChunkCol) + 250).count()
    assert(bad == 0)
  }

  test("O13: roundtrip preserves every distinct row value") {
    val out = freshOut()
    val topicDir = OffsetNamedOrcSink.write(shaped, out, flushSize = 250)
    val back = OffsetNamedOrcSink.read(spark, topicDir)
      .select(col("offset"), col("flag"), col("uid"), col("id"),
        col("fval"), col("dval"), col("etype"))
    val expected = shaped.select(col("offset"), col("value.flag"),
      col("value.uid"), col("value.id"), col("value.fval"), col("value.dval"),
      col("value.etype"))
    assert(back.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(back).count() == 0)
  }

  test("O11: rewriting the same offset range is idempotent (recovery contract)") {
    val out = freshOut()
    val first = OffsetNamedOrcSink.write(shaped, out, flushSize = 250)
    val c1 = OffsetNamedOrcSink.read(spark, first).count()
    // reprocess everything (at-least-once input) — same file set, same rows
    val second = OffsetNamedOrcSink.write(shaped, out, flushSize = 250)
    val c2 = OffsetNamedOrcSink.read(spark, second).count()
    assert(c1 == c2 && c1 == 1000)
    val files = orcFiles(first)
    // no -1 suffixed duplicates appeared on rewrite
    assert(files.forall(f => !f.getName.contains("-1.orc")), files.map(_.getName).mkString(","))
    // and no leftover _chunk= staging dirs below the partition dirs
    val stray = new java.io.File(first).listFiles.filter(_.isDirectory)
      .flatMap(_.listFiles).filter(_.isDirectory)
    assert(stray.isEmpty, stray.map(_.getName).mkString(","))
  }

  test("O8/O12: multi-partition routing is complete and disjoint") {
    val out = freshOut()
    val topicDir = OffsetNamedOrcSink.write(shaped, out, flushSize = 250)
    val back = OffsetNamedOrcSink.read(spark, topicDir)
    // partition dirs carry the key: partition == pmod(uid, 4) for every row
    val wrong = back.filter(pmod(col("uid"), lit(4)) =!= col("partition")).count()
    assert(wrong == 0)
    // all four routes present (uid distribution covers them at sf0.001)
    assert(back.select("partition").distinct().count() == 4)
  }

  test("chunk-spanning writes merge, not clobber (batch-boundary safety)") {
    val out = freshOut()
    // first write covers offsets [0, 437) — chunk 250 is partially filled
    val first = OffsetNamedOrcSink.write(
      shaped.filter(col("offset") < 437), out, flushSize = 250)
    assert(OffsetNamedOrcSink.read(spark, first).count() == 437)
    // second write covers [437, 1000) — touches chunk 250 again
    val second = OffsetNamedOrcSink.write(
      shaped.filter(col("offset") >= 437), out, flushSize = 250)
    val back = OffsetNamedOrcSink.read(spark, second)
    assert(back.count() == 1000)
    // the spanning chunk holds BOTH halves
    val chunk250 = back.filter(col(OffsetNamedOrcSink.ChunkCol) === 250)
    assert(chunk250.agg(min("offset"), max("offset")).head ===
      org.apache.spark.sql.Row(250L, 499L))
  }

  /** A crash inside the commit protocol always leaves the in-flight marker
    * behind (it is created before the overwrite job and deleted only after
    * the hoist pass completes) — crash simulations must reproduce it, since
    * the marker is what gates the recovery walk. A real marker carries
    * parseable `dt|partition|chunk` lines (scoped recovery); garbage content
    * exercises the full-walk fallback.
    */
  private def leaveInflightMarker(out: String, content: String = "crash"): Unit = {
    val m = new java.io.File(s"$out/topics/events/_graft_inflight")
    java.nio.file.Files.write(m.toPath, content.getBytes)
    ()
  }

  test("crash between stale-delete and rename is recovered (no row loss)") {
    val out = freshOut()
    // batch 1 lands offsets [0, 437); chunk 250 of partition 0 is committed
    OffsetNamedOrcSink.write(shaped.filter(col("offset") < 437), out, 250)
    // simulate the crash window of a follow-up write: the overwrite job
    // committed its _chunk staging dir and the rename pass already deleted
    // the superseded committed file, but died before the rename. The
    // staged part file holds (at least) the rows of the deleted file —
    // reconstruct exactly that state from the committed file itself.
    val pDir = new java.io.File(s"$out/topics/events/partition=0")
    val committed = pDir.listFiles.filter(_.getName.startsWith("events+0+0000000250"))
    assert(committed.length == 1)
    val staging = new java.io.File(pDir, "_chunk=250")
    assert(staging.mkdir())
    assert(committed.head.renameTo(new java.io.File(staging, "part-00000-crash.orc")))
    leaveInflightMarker(out, "0|250") // real payload → scoped recovery path
    // next batch touches chunk 250 again — must merge the crashed rows back
    val topicDir = OffsetNamedOrcSink.write(
      shaped.filter(col("offset") >= 437), out, 250)
    val back = OffsetNamedOrcSink.read(spark, topicDir)
    assert(back.count() == 1000, s"rows: ${back.count()}")
    assert(back.select("offset").distinct().count() == 1000)
    assert(!staging.exists()) // staging dir cleaned up by the recovery pass
  }

  test("part-less _chunk dir (crash after renames) must not destroy committed files") {
    val out = freshOut()
    OffsetNamedOrcSink.write(shaped.filter(col("offset") < 437), out, 250)
    val pDir = new java.io.File(s"$out/topics/events/partition=0")
    // crash landed between a chunk's renames and its dir delete: the dir
    // remains but holds no part files — the committed files ARE the data
    assert(new java.io.File(pDir, "_chunk=250").mkdir())
    leaveInflightMarker(out)
    val topicDir = OffsetNamedOrcSink.write(
      shaped.filter(col("offset") >= 437), out, 250)
    val back = OffsetNamedOrcSink.read(spark, topicDir)
    assert(back.count() == 1000, s"rows: ${back.count()}")
  }

  test("read() on a crashed layout recovers first instead of failing") {
    val out = freshOut()
    OffsetNamedOrcSink.write(shaped.filter(col("offset") < 437), out, 250)
    val pDir = new java.io.File(s"$out/topics/events/partition=0")
    val committed = pDir.listFiles.filter(_.getName.startsWith("events+0+0000000250"))
    val staging = new java.io.File(pDir, "_chunk=250")
    assert(staging.mkdir())
    assert(committed.head.renameTo(new java.io.File(staging, "part-00000-crash.orc")))
    leaveInflightMarker(out, "0|250")
    // without recovery this read throws Spark's 'conflicting directory
    // structures' (mixed partition depths); read() must self-heal (ADVICE r2)
    val back = OffsetNamedOrcSink.read(spark, s"$out/topics/events")
    assert(back.count() == 437, s"rows: ${back.count()}")
    assert(!staging.exists())
    // but read() must NOT consume the marker — only write() owns the commit
    // protocol (a reader racing a live writer may never erase crash evidence)
    assert(new java.io.File(s"$out/topics/events/_graft_inflight").exists())
  }

  test("O4/O5: six-type schema survives ORC with nulls intact") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("b", BooleanType), StructField("i", IntegerType),
      StructField("l", LongType), StructField("f", FloatType),
      StructField("d", DoubleType), StructField("s", StringType)))
    val rows = Seq(
      Row(true, 1, 10L, 1.5f, 2.5, "x"),
      Row(false, 2, 20L, -0.5f, 1e300, ""),
      Row(null, null, null, null, null, null)) // the reference NPEs here; we must not
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val dir = freshOut()
    df.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      schema.map(f => (f.name, f.dataType)))
    assert(back.count() == 3)
    assert(back.filter(col("b").isNull && col("s").isNull).count() == 1)
  }

  // ---- round-3 surfaces -------------------------------------------------

  import graft.streaming.OffsetNamedOrcSink.{DriftMode, FsAudit, Layout, S3AConf}

  /** Minimal Kafka-shaped frame with chosen (offset, user_id) pairs — for
    * tests that need offsets the events table doesn't have.
    */
  private def shapedRows(rows: (Long, Long)*) = {
    import spark.implicits._
    KafkaShaped.shape(rows.toSeq.toDF("event_id", "user_id")
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
      .withColumn("event_type", lit("x"))
      .withColumn("value", lit(1.0))
      .withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props"))
  }

  test("steady-state batch never lists an untouched partition's files") {
    val out = freshOut()
    OffsetNamedOrcSink.write(shaped, out, flushSize = 250) // 1000 rows, 4 partitions
    FsAudit.reset(); FsAudit.enabled = true
    try {
      // replay touches ONLY partition 0 / chunk 0
      OffsetNamedOrcSink.write(
        shaped.filter(col("partition") === 0 && col("offset") < 250), out, 250)
    } finally FsAudit.enabled = false
    // the only directory the driver may enumerate is the touched chunk's own
    // staging dir; file probes stay inside the touched partition dir
    val badDirs = FsAudit.dirsListed.toArray.map(_.toString)
      .filterNot(_.contains("partition=0"))
    assert(badDirs.isEmpty, s"steady-state listed: ${badDirs.mkString(", ")}")
    val badProbes = FsAudit.probes.toArray.map(_.toString)
      .filterNot(_.contains("partition=0"))
    assert(badProbes.isEmpty, s"steady-state probed: ${badProbes.mkString(", ")}")
    val dirListings = FsAudit.dirsListed.toArray.map(_.toString)
    assert(dirListings.forall(_.contains("_chunk=")),
      s"listed a non-staging dir: ${dirListings.mkString(", ")}")
  }

  test("readRange prunes to the window's chunk files by name — no file listings") {
    val out = freshOut()
    val topicDir = OffsetNamedOrcSink.write(shaped, out, flushSize = 250)
    val full = OffsetNamedOrcSink.read(spark, topicDir)
      .filter(col("offset") >= 100 && col("offset") < 600)
      .select("offset", "partition", "id").collect().map(_.toSeq).toSet
    FsAudit.reset(); FsAudit.enabled = true
    val pruned = try {
      OffsetNamedOrcSink.readRange(spark, topicDir, 100, 600)
        .select("offset", "partition", "id").collect().map(_.toSeq).toSet
    } finally FsAudit.enabled = false
    assert(pruned == full && full.nonEmpty)
    // window [100, 600) on the 250 grid → chunks 0, 250, 500 only
    val probedChunks = FsAudit.probes.toArray.map(_.toString)
      .map(_.replaceAll(".*\\+(\\d+)$", "$1").toLong).toSet
    assert(probedChunks == Set(0L, 250L, 500L), s"probed $probedChunks")
    // only the topic ROOT may be listed (to find partition dirs) — listing a
    // partition dir would enumerate every committed file the topic has
    val badDirs = FsAudit.dirsListed.toArray.map(_.toString)
      .filter(_.contains("partition="))
    assert(badDirs.isEmpty, s"listed partition dirs: ${badDirs.mkString(", ")}")
    // a window with no committed files falls back to the full-scan filter
    assert(OffsetNamedOrcSink.readRange(spark, topicDir, 50000, 50100).count() == 0)
  }

  test("readRange spans dt dirs under the TimeDaily layout") {
    val out = freshOut()
    val twoDays = shapedRows((0L until 40L).map(i => (i, i % 4)): _*)
      .withColumn("timestamp",
        when(col("offset") < 20, lit(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
          .otherwise(lit(java.sql.Timestamp.valueOf("2024-01-02 10:00:00"))))
    val topicDir = OffsetNamedOrcSink.write(twoDays, out, flushSize = 25,
      layout = Layout.TimeDaily())
    // [10, 30) straddles both the chunk boundary (25) and the day boundary (20)
    val got = OffsetNamedOrcSink.readRange(spark, topicDir, 10, 30)
    assert(got.count() == 20)
    assert(got.select(countDistinct(col("dt"))).head.getLong(0) == 2)
    assert(got.agg(min("offset"), max("offset")).head.toSeq == Seq(10L, 29L))
  }

  test("compactTo coarsens the chunk grid losslessly (small-file maintenance)") {
    val out = freshOut()
    val topicDir = OffsetNamedOrcSink.write(shaped, out, flushSize = 125)
    val before = orcFiles(topicDir)
    val compacted = OffsetNamedOrcSink.compactTo(spark, topicDir,
      freshOut(), targetFlushSize = 500)
    val after = new java.io.File(compacted).listFiles.filter(_.isDirectory)
      .filter(_.getName.startsWith("partition="))
      .flatMap(_.listFiles).filter(f => f.isFile && f.getName.endsWith(".orc"))
    assert(after.length < before.length,
      s"${before.length} files -> ${after.length}")
    // every file name sits on the 500 grid
    val chunks = after.map(_.getName.replaceAll(".*\\+(\\d+)\\.orc$", "$1").toLong)
    assert(chunks.forall(_ % 500 == 0), chunks.mkString(","))
    // row-for-row lossless
    val a = OffsetNamedOrcSink.read(spark, topicDir).drop("_chunk")
    val b = OffsetNamedOrcSink.read(spark, compacted).drop("_chunk")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    // the compacted dir is a full sink dir: config marker carries the new
    // grid, so readRange prunes on it and appends keep their drift checks
    val window = OffsetNamedOrcSink.readRange(spark, compacted, 100, 600)
    assert(window.count() ==
      a.filter(col("offset") >= 100 && col("offset") < 600).count())
    // nesting guard: a non-multiple target must be refused
    intercept[IllegalArgumentException] {
      OffsetNamedOrcSink.compactTo(spark, topicDir, freshOut(), 300)
    }
  }

  test("compactTo preserves dt dirs under TimeDaily (no timestamp re-derivation)") {
    val out = freshOut()
    val twoDays = shapedRows((0L until 40L).map(i => (i, i % 4)): _*)
      .withColumn("timestamp",
        when(col("offset") < 20, lit(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")))
          .otherwise(lit(java.sql.Timestamp.valueOf("2024-01-02 10:00:00"))))
    val topicDir = OffsetNamedOrcSink.write(twoDays, out, flushSize = 5,
      layout = Layout.TimeDaily())
    val compacted = OffsetNamedOrcSink.compactTo(spark, topicDir, freshOut(), 25)
    val back = OffsetNamedOrcSink.read(spark, compacted)
    assert(back.count() == 40)
    assert(back.select(countDistinct(col("dt"))).head.getLong(0) == 2)
    // day boundary (offset 20) ≠ chunk boundary (25): chunk 0 holds rows of
    // both days, so it commits one file under EACH dt dir
    assert(back.filter(col("_chunk") === 0)
      .select(countDistinct(col("dt"))).head.getLong(0) == 2)
  }

  test("expire drops whole chunks below the offset watermark, never more") {
    val out = freshOut()
    val topicDir = OffsetNamedOrcSink.write(shaped, out, flushSize = 250)
    val total = OffsetNamedOrcSink.read(spark, topicDir).count()
    // watermark inside chunk 500: chunks 0 and 250 go, 500 stays whole
    val deleted = OffsetNamedOrcSink.expire(spark, topicDir, beforeOffset = 600)
    assert(deleted > 0)
    val back = OffsetNamedOrcSink.read(spark, topicDir)
    assert(back.agg(min("offset")).head.getLong(0) == 500L)
    assert(back.count() ==
      shaped.filter(col("offset") >= 500).count() && back.count() < total)
    // idempotent: a second pass deletes nothing
    assert(OffsetNamedOrcSink.expire(spark, topicDir, 600) == 0)
    // and the markers/config survive: appends still work after retention
    OffsetNamedOrcSink.write(shapedRows((2000L, 1L)), out, 250)
    assert(OffsetNamedOrcSink.read(spark, topicDir).count() == back.count() + 1)
  }

  test("deleteRows erases by predicate, rewrites only touched chunks, drops emptied ones") {
    val out = freshOut()
    val topicDir = OffsetNamedOrcSink.write(shaped, out, flushSize = 250)
    val filesBefore = orcFiles(topicDir).map(f => f.getPath -> f.lastModified).toMap

    // selective erase: only offsets < 100 → touches exactly chunk 0 of each
    // partition; every other committed file must remain byte-untouched
    val n0 = shaped.filter(col("offset") < 100).count()
    val deleted = OffsetNamedOrcSink.deleteRows(spark, topicDir, col("offset") < 100)
    assert(deleted == n0, s"deleted $deleted, expected $n0")
    val back = OffsetNamedOrcSink.read(spark, topicDir)
    assert(back.count() == 1000 - n0)
    assert(back.filter(col("offset") < 100).count() == 0)
    val untouched = orcFiles(topicDir)
      .filter(!_.getName.contains("+0000000000.orc"))
    assert(untouched.nonEmpty)
    untouched.foreach(f => assert(filesBefore(f.getPath) == f.lastModified,
      s"${f.getName} was rewritten but holds no matching rows"))
    // re-run converges to 0; no crash evidence left behind
    assert(OffsetNamedOrcSink.deleteRows(spark, topicDir, col("offset") < 100) == 0)
    assert(!new java.io.File(topicDir, "_graft_inflight").exists)

    // NULL predicate keeps (SQL DELETE contract): TRUE only for uid%7==0,
    // NULL elsewhere — non-matching rows must all survive
    val pred = when(col("uid") % 7 === 0, lit(true))
    val n7 = back.filter(col("uid") % 7 === 0).count()
    assert(OffsetNamedOrcSink.deleteRows(spark, topicDir, pred) == n7)
    assert(OffsetNamedOrcSink.read(spark, topicDir).count() == 1000 - n0 - n7)

    // erase an entire chunk: its committed files must be REMOVED (an
    // overwrite can't express an empty partition), the rest intact
    val rest = OffsetNamedOrcSink.read(spark, topicDir)
      .filter(col("offset") >= 500).count()
    OffsetNamedOrcSink.deleteRows(spark, topicDir, col("offset") < 500)
    assert(!orcFiles(topicDir).exists(f =>
      f.getName.contains("+0000000000.orc") || f.getName.contains("+0000000250.orc")))
    assert(OffsetNamedOrcSink.read(spark, topicDir).count() == rest)
    // the dir still accepts appends after maintenance
    OffsetNamedOrcSink.write(shapedRows((3000L, 1L)), out, 250)
    assert(OffsetNamedOrcSink.read(spark, topicDir).count() == rest + 1)
  }

  test("deleteRows spans dt dirs under TimeDaily and erases whole days cleanly") {
    val out = freshOut()
    val topicDir = OffsetNamedOrcSink.write(shaped, out, flushSize = 250,
      layout = OffsetNamedOrcSink.Layout.TimeDaily())
    val full = OffsetNamedOrcSink.read(spark, topicDir)
    val days = full.select(col("dt").cast("string")).distinct()
      .collect().map(_.getString(0)).sorted
    assert(days.length > 1, s"need multiple dt dirs, got ${days.mkString(",")}")
    val firstDay = days.head
    val nDay = full.filter(col("dt") === firstDay).count()
    val deleted = OffsetNamedOrcSink.deleteRows(spark, topicDir,
      col("dt") === firstDay)
    assert(deleted == nDay)
    val back = OffsetNamedOrcSink.read(spark, topicDir)
    assert(back.count() == 1000 - nDay)
    assert(back.filter(col("dt") === firstDay).count() == 0)
    // mixed-day predicate: erase one uid across remaining days
    val nUid = back.filter(col("uid") === 7).count()
    assert(OffsetNamedOrcSink.deleteRows(spark, topicDir, col("uid") === 7) == nUid)
    assert(OffsetNamedOrcSink.read(spark, topicDir)
      .filter(col("uid") === 7).count() == 0)
  }

  test("markerless legacy dirs: write refuses, migrate recovers staged rows and adopts") {
    val out = freshOut()
    val topicDir = OffsetNamedOrcSink.write(
      shaped.filter(col("offset") < 500), out, flushSize = 250)
    val before = OffsetNamedOrcSink.read(spark, topicDir).count()
    // strip the protocol markers — the dir now looks like one written by the
    // pre-marker sink — and simulate a crash it suffered mid-commit: chunk
    // 250's committed file is staged in _chunk=250 (stale-delete done,
    // rename not reached), with no inflight marker to gate recovery on
    val root = new java.io.File(topicDir)
    assert(new java.io.File(root, "_graft_sink.conf").delete())
    val pDir = new java.io.File(root, "partition=0")
    val committed = pDir.listFiles.filter(_.getName.startsWith("events+0+0000000250")).head
    val staging = new java.io.File(pDir, "_chunk=250")
    assert(staging.mkdir())
    assert(committed.renameTo(new java.io.File(staging, "part-00000.orc")))
    // silently adopting a grid would commit overlapping ranges / destroy the
    // staged rows on the next overwrite — write must demand migrate()
    val e = intercept[IllegalStateException] {
      OffsetNamedOrcSink.write(
        shaped.filter(col("offset") >= 500 && col("offset") < 750), out, 250)
    }
    assert(e.getMessage.contains("migrate"), e.getMessage)
    // migrate: full-walk recovery hoists the staged rows, then stamps the grid
    OffsetNamedOrcSink.migrate(spark, topicDir, flushSize = 250)
    assert(!staging.exists)
    assert(OffsetNamedOrcSink.read(spark, topicDir).count() == before)
    // adopted dir now behaves like any marker'd dir: appends merge correctly
    OffsetNamedOrcSink.write(
      shaped.filter(col("offset") >= 500 && col("offset") < 750), out, 250)
    assert(OffsetNamedOrcSink.read(spark, topicDir).count() == before + 250)
    // and migrating with a DIFFERENT grid is refused
    intercept[IllegalArgumentException] {
      OffsetNamedOrcSink.migrate(spark, topicDir, flushSize = 500)
    }
  }

  test("mismatched flush.size on an existing topic dir fails fast") {
    val out = freshOut()
    OffsetNamedOrcSink.write(shaped.filter(col("offset") < 437), out, 250)
    val e = intercept[IllegalArgumentException] {
      OffsetNamedOrcSink.write(shaped.filter(col("offset") >= 437), out, 500)
    }
    assert(e.getMessage.contains("flushSize=250"), e.getMessage)
    // and a mismatched layout too
    intercept[IllegalArgumentException] {
      OffsetNamedOrcSink.write(shaped, out, 250, layout = Layout.TimeDaily())
    }
  }

  test("offsets past the 10-digit pad never cross-match another chunk (exact names)") {
    val out = freshOut()
    val fl = 1250000000L
    // chunk 1250000000's committed name is a string PREFIX of chunk
    // 12500000000's — the historical startsWith bug corrupted exactly this
    val big = shapedRows((1250000000L, 0L), (1250000001L, 0L), (12500000000L, 0L))
    OffsetNamedOrcSink.write(big, out, fl)
    val pDir = new java.io.File(s"$out/topics/events/partition=0")
    val names0 = pDir.listFiles.filter(_.isFile).map(_.getName)
      .filter(_.endsWith(".orc")).toSet
    assert(names0 == Set("events+0+1250000000.orc", "events+0+12500000000.orc"), names0)
    // rewrite ONLY the short chunk; the long chunk's file must be untouched
    OffsetNamedOrcSink.write(shapedRows((1250000000L, 0L)), out, fl)
    val back = OffsetNamedOrcSink.read(spark, s"$out/topics/events")
    assert(back.count() == 3, s"rows: ${back.count()}")
    assert(back.select("offset").distinct().count() == 3)
  }

  test("schema drift: Reject fails, Project conforms to the latched schema") {
    val out = freshOut()
    OffsetNamedOrcSink.write(shaped.filter(col("offset") < 437), out, 250)
    // a batch whose value struct GAINED a field and LOST etype
    val drifted = shaped.filter(col("offset") >= 437)
      .withColumn("value", struct(
        col("value.flag"), col("value.uid"), col("value.id"),
        col("value.fval"), col("value.dval"), lit(7).as("extra")))
    intercept[IllegalStateException] {
      OffsetNamedOrcSink.write(drifted, out, 250) // default DriftMode.Reject
    }
    // Project: extra dropped, missing etype becomes null, write succeeds
    val topicDir = OffsetNamedOrcSink.write(drifted, out, 250,
      drift = DriftMode.Project)
    val back = OffsetNamedOrcSink.read(spark, topicDir)
    assert(back.count() == 1000)
    assert(!back.columns.contains("extra"))
    assert(back.filter(col("offset") >= 437 && col("etype").isNull).count() == 563)
    assert(back.filter(col("offset") < 437 && col("etype").isNotNull).count() == 437)
  }

  test("time-based layout: dt=<day>/partition=<p>/ with offset-named files") {
    import spark.implicits._
    val out = freshOut()
    // offsets 0..9 in one chunk, timestamps straddling midnight → the chunk
    // commits one file per (dt, partition) — both deterministically named
    val events = (0L until 10L).map(i => (i, i % 2)).toDF("event_id", "user_id")
      .withColumn("ts", expr(
        "timestampadd(HOUR, cast(event_id as int) * 6, timestamp'2024-03-01 20:00:00')"))
      .withColumn("event_type", lit("x"))
      .withColumn("value", lit(1.0))
      .withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val topicDir = OffsetNamedOrcSink.write(KafkaShaped.shape(events), out,
      flushSize = 250, layout = Layout.TimeDaily())
    val dtDirs = new java.io.File(topicDir).listFiles.filter(_.isDirectory)
      .filter(_.getName.startsWith("dt=")).map(_.getName).sorted
    assert(dtDirs.nonEmpty && dtDirs.head == "dt=2024-03-01", dtDirs.mkString(","))
    val files = new java.io.File(topicDir).listFiles.filter(_.isDirectory)
      .filter(_.getName.startsWith("dt="))
      .flatMap(_.listFiles).filter(_.isDirectory)
      .flatMap(_.listFiles).filter(f => f.isFile && f.getName.endsWith(".orc"))
    val pat = raw"events\+\d+\+\d{10}\.orc".r
    assert(files.forall(f => pat.matches(f.getName)), files.map(_.getName).mkString(","))
    val back = OffsetNamedOrcSink.read(spark, topicDir)
    assert(back.count() == 10)
    // dt routes by record timestamp: 20:00 + 6h*i ⇒ 1 | 4 | 4 | 1 per day
    val byDt = back.groupBy(col("dt").cast("string").as("d")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDt == Map("2024-03-01" -> 1L, "2024-03-02" -> 4L,
      "2024-03-03" -> 4L, "2024-03-04" -> 1L), byDt.toString)
    // replay is idempotent in this layout too
    OffsetNamedOrcSink.write(KafkaShaped.shape(events), out,
      flushSize = 250, layout = Layout.TimeDaily())
    assert(OffsetNamedOrcSink.read(spark, topicDir).count() == 10)
  }

  test("TimeDaily routes null timestamps to dt=unknown, never strands staging") {
    import spark.implicits._
    val out = freshOut()
    val events = Seq((0L, 0L, Some("2024-03-01 10:00:00")), (1L, 0L, None))
      .toDF("event_id", "user_id", "ts_str")
      .withColumn("ts", col("ts_str").cast("timestamp"))
      .withColumn("event_type", lit("x"))
      .withColumn("value", lit(1.0))
      .withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val topicDir = OffsetNamedOrcSink.write(KafkaShaped.shape(events), out,
      flushSize = 250, layout = Layout.TimeDaily())
    // a null dt would land in Spark's __HIVE_DEFAULT_PARTITION__ while the
    // hoist pass probes "dt=null" — the row must go to an explicit literal
    // dir the hoist pass can find
    assert(new java.io.File(topicDir, "dt=unknown").isDirectory)
    val back = OffsetNamedOrcSink.read(spark, topicDir)
    assert(back.count() == 2, s"rows: ${back.count()}")
    // and nothing was stranded in a staging dir
    val stray = new java.io.File(topicDir).listFiles.filter(_.isDirectory)
      .flatMap(_.listFiles).filter(_.isDirectory)
      .flatMap(_.listFiles).filter(_.isDirectory)
    assert(stray.isEmpty, stray.map(_.getPath).mkString(","))
  }

  test("multi-topic batch: one topic dir each, both layouts correct") {
    val out = freshOut()
    val mixed = shaped.filter(col("offset") < 300)
      .withColumn("topic",
        when(col("offset") % 2 === 0, lit("alpha")).otherwise(lit("beta")))
    val dirs = OffsetNamedOrcSink.writeMulti(mixed, out, flushSize = 250)
    assert(dirs == Seq(s"$out/topics/alpha", s"$out/topics/beta"))
    val alpha = OffsetNamedOrcSink.read(spark, s"$out/topics/alpha")
    val beta = OffsetNamedOrcSink.read(spark, s"$out/topics/beta")
    assert(alpha.count() == 150 && beta.count() == 150)
    // file names carry their own topic
    val alphaFiles = orcFiles(s"$out/topics/alpha").map(_.getName)
    assert(alphaFiles.forall(_.startsWith("alpha+")), alphaFiles.mkString(","))
    val betaFiles = orcFiles(s"$out/topics/beta").map(_.getName)
    assert(betaFiles.forall(_.startsWith("beta+")), betaFiles.mkString(","))
    // offsets dedupe per (topic, partition): replaying one topic's slice
    // doesn't disturb the other
    OffsetNamedOrcSink.writeMulti(
      mixed.filter(col("topic") === "alpha" && col("offset") < 100), out, 250)
    assert(OffsetNamedOrcSink.read(spark, s"$out/topics/alpha").count() == 150)
    assert(OffsetNamedOrcSink.read(spark, s"$out/topics/beta").count() == 150)
  }

  test("sink read-back prunes partition dirs at the source (PartitionFilters)") {
    val out = freshOut()
    val topicDir = OffsetNamedOrcSink.write(shaped, out, flushSize = 250)
    val df = spark.read.orc(topicDir).filter(col("partition") === 2)
    val p = df.queryExecution.executedPlan.toString
    // the partition predicate must land in PartitionFilters (directory-level
    // pruning — at scale: N dirs skipped without listing their files), not
    // as a post-scan filter
    assert(p.contains("PartitionFilters: ["), p.take(2000))
    assert(p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("partition")), p.take(2000))
    assert(df.count() == shaped.filter(col("partition") === 2).count())
  }

  test("readRange's offset window reaches the ORC scan as PushedFilters") {
    val out = freshOut()
    val topicDir = OffsetNamedOrcSink.write(shaped, out, flushSize = 250)
    val df = OffsetNamedOrcSink.readRange(spark, topicDir, 100, 600)
      .select("offset", "id") // prune too: ReadSchema must shrink
    val p = df.queryExecution.executedPlan.toString
    // file-level pruning picked the chunk files; within each file the offset
    // bounds must still reach ORC so stripe/row-group stats skip the
    // non-overlapping tail of the boundary chunks
    assert(p.linesIterator.exists(l => l.contains("PushedFilters") &&
      l.contains("GreaterThanOrEqual(offset,100)") &&
      l.contains("LessThan(offset,600)")), p.take(2000))
    assert(df.count() == 500)
  }

  test("topic names sanitize '#' to '_' in committed file keys (reference sanitizer)") {
    val out = freshOut()
    val topicDir = OffsetNamedOrcSink.write(
      shaped.filter(col("offset") < 300), out, 250, topic = "a#1")
    // dir keeps the raw topic; file keys carry the sanitized form
    assert(topicDir.endsWith("/topics/a#1"))
    val files = orcFiles(topicDir).map(_.getName)
    assert(files.nonEmpty && files.forall(_.startsWith("a_1+")), files.mkString(","))
    // replay is still idempotent under sanitized names
    OffsetNamedOrcSink.write(shaped.filter(col("offset") < 300), out, 250, topic = "a#1")
    assert(OffsetNamedOrcSink.read(spark, topicDir).count() == 300)
  }

  test("S3A conf bundle lands the reference's storage settings on a hadoop conf") {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    S3AConf(endpoint = Some("http://localhost:9000"),
      region = Some("us-east-1"), pathStyleAccess = true,
      sslEnabled = false, credsFromEnv = false).applyTo(conf)
    assert(conf.get("fs.s3a.endpoint") == "http://localhost:9000")
    assert(conf.get("fs.s3a.endpoint.region") == "us-east-1")
    assert(conf.get("fs.s3a.path.style.access") == "true")
    assert(conf.get("fs.s3a.connection.ssl.enabled") == "false")
    assert(conf.get("fs.s3a.access.key") == null) // credsFromEnv off
  }

  // ---- round-4 surfaces: field / multi-level-time layouts, escaping ------

  /** No `_chunk=` staging dir anywhere below the topic dir — i.e. every
    * staged leaf was found and hoisted (the ADVICE r3 escaped-dir bug left
    * them stranded forever).
    */
  private def noStagingDirs(topicDir: String): Boolean = {
    def walk(f: java.io.File): Boolean = {
      val kids = Option(f.listFiles).getOrElse(Array.empty)
      kids.filter(_.isDirectory).forall(d =>
        !d.getName.startsWith(s"${OffsetNamedOrcSink.ChunkCol}=") && walk(d))
    }
    walk(new java.io.File(topicDir))
  }

  /** Shaped events whose etype carries path-special characters (':' and
    * '/'), which partitionBy Hive-escapes in directory names.
    */
  private lazy val shapedSpecial = shaped.withColumn("value", struct(
    col("value.flag").as("flag"), col("value.uid").as("uid"),
    col("value.id").as("id"), col("value.fval").as("fval"),
    col("value.dval").as("dval"),
    concat(col("value.etype"), lit(":a/b")).as("etype")))

  test("Field layout routes by a value column through escaped dirs; replay idempotent") {
    val out = freshOut()
    val topicDir = OffsetNamedOrcSink.write(shapedSpecial, out, flushSize = 250,
      layout = Layout.Field("etype"))
    // dirs are etype=<Hive-escaped value>/partition=<p>/ with offset-named files
    val fieldDirs = new java.io.File(topicDir).listFiles.filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("etype="))
    assert(fieldDirs.nonEmpty)
    assert(fieldDirs.forall(n => n.contains("%3A") && n.contains("%2F")),
      fieldDirs.mkString(","))
    val back = OffsetNamedOrcSink.read(spark, topicDir)
    assert(back.count() == 1000)
    // the field comes back unescaped from the dir — exactly the raw values
    val backKeys = back.select(col("etype").cast("string"))
      .distinct().collect().map(_.getString(0)).toSet
    val srcKeys = shapedSpecial.select("value.etype")
      .distinct().collect().map(_.getString(0)).toSet
    assert(backKeys == srcKeys, s"$backKeys vs $srcKeys")
    // per-row equality (field not duplicated inside the files)
    val expected = shapedSpecial.select(col("offset"),
      col("value.uid").as("uid"), col("value.etype").as("etype"))
    assert(back.select(col("offset"), col("uid"), col("etype").cast("string"))
      .exceptAll(expected).count() == 0)
    // replay converges: same rows, and the escaped-dir hoist left no staging
    OffsetNamedOrcSink.write(shapedSpecial, out, flushSize = 250,
      layout = Layout.Field("etype"))
    assert(OffsetNamedOrcSink.read(spark, topicDir).count() == 1000)
    assert(noStagingDirs(topicDir))
  }

  test("TimeDaily pathFormat with '/' commits via escaped dirs (ADVICE r3)") {
    val out = freshOut()
    val topicDir = OffsetNamedOrcSink.write(shaped, out, flushSize = 250,
      layout = Layout.TimeDaily("yyyy/MM/dd"))
    // before the escaping fix the hoist probed the RAW dt path, found
    // nothing, stranded every staged chunk and dropped the batch's rows
    assert(noStagingDirs(topicDir))
    val back = OffsetNamedOrcSink.read(spark, topicDir)
    assert(back.count() == 1000)
    val dts = back.select(col("dt").cast("string")).distinct()
      .collect().map(_.getString(0))
    assert(dts.length > 1 && dts.forall(_.matches(raw"\d{4}/\d{2}/\d{2}")),
      dts.mkString(","))
    // replay stays idempotent across the escaped layout
    OffsetNamedOrcSink.write(shaped, out, flushSize = 250,
      layout = Layout.TimeDaily("yyyy/MM/dd"))
    assert(OffsetNamedOrcSink.read(spark, topicDir).count() == 1000)
    assert(noStagingDirs(topicDir))
  }

  test("crash recovery hoists staged chunks under escaped field dirs") {
    val out = freshOut()
    val topicDir = OffsetNamedOrcSink.write(shapedSpecial, out, flushSize = 250,
      layout = Layout.Field("etype"))
    // reconstruct a crash mid-commit under ONE escaped field dir: staged
    // part exists, committed file already deleted, marker in place
    val fieldDir = new java.io.File(topicDir).listFiles.filter(_.isDirectory)
      .filter(_.getName.startsWith("etype=")).head
    val pDir = new java.io.File(fieldDir, "partition=0")
    val committed = pDir.listFiles.filter(_.getName.endsWith(".orc")).head
    val chunk = committed.getName.replaceAll(".*\\+(\\d+)\\.orc$", "$1").toLong
    val staging = new java.io.File(pDir, s"${OffsetNamedOrcSink.ChunkCol}=$chunk")
    assert(staging.mkdir())
    assert(committed.renameTo(new java.io.File(staging, "part-00000-crash.orc")))
    // marker line = url-encoded raw field value | partition | chunk
    val rawValue = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(fieldDir.getName.stripPrefix("etype="))
    leaveInflightMarker(out,
      s"${java.net.URLEncoder.encode(rawValue, "UTF-8")}|0|$chunk")
    // read() must run the scoped recovery across the ESCAPED dir and heal
    val back = OffsetNamedOrcSink.read(spark, topicDir)
    assert(back.count() == 1000, s"rows: ${back.count()}")
    assert(!staging.exists())
    assert(new java.io.File(pDir, committed.getName).exists())
  }

  test("TimeMulti renders multi-level tz wall-clock dirs; straddling chunks split per hour") {
    val tz = "America/Los_Angeles"
    val out = freshOut()
    val topicDir = OffsetNamedOrcSink.write(shaped, out, flushSize = 250,
      layout = Layout.TimeMulti(timezone = tz))
    val back = OffsetNamedOrcSink.read(spark, topicDir)
    assert(back.count() == 1000)
    assert(noStagingDirs(topicDir))
    // dir-derived (year, month, day, hour) equals the tz-rendered timestamp
    // (cast through int: zero-padded dir values type-infer as integers)
    val expected = shaped.select(col("offset"),
      date_format(from_utc_timestamp(col("timestamp"), tz), "yyyy")
        .cast("int").as("e_year"),
      date_format(from_utc_timestamp(col("timestamp"), tz), "MM")
        .cast("int").as("e_month"),
      date_format(from_utc_timestamp(col("timestamp"), tz), "dd")
        .cast("int").as("e_day"),
      date_format(from_utc_timestamp(col("timestamp"), tz), "HH")
        .cast("int").as("e_hour"))
    val bad = back.select(col("offset"), col("year").cast("int"),
        col("month").cast("int"), col("day").cast("int"), col("hour").cast("int"))
      .join(expected, "offset")
      .filter(col("year") =!= col("e_year") || col("month") =!= col("e_month") ||
        col("day") =!= col("e_day") || col("hour") =!= col("e_hour"))
    assert(bad.count() == 0)
    // a chunk whose rows straddle an hour boundary commits one file per
    // (hour-dir, chunk) — deterministic names in each
    val straddling = back.groupBy("partition", OffsetNamedOrcSink.ChunkCol)
      .agg(countDistinct(col("hour")).as("n_hours"))
      .filter(col("n_hours") > 1).count()
    assert(straddling > 0)
    // replay idempotent
    OffsetNamedOrcSink.write(shaped, out, flushSize = 250,
      layout = Layout.TimeMulti(timezone = tz))
    assert(OffsetNamedOrcSink.read(spark, topicDir).count() == 1000)
  }

  test("schema drift: Backward widens the latch on added fields; old files read as nulls") {
    val out = freshOut()
    // first write latches the six-field schema; ends MID-CHUNK so the
    // widened write must also merge a pre-widening file (chunk 250)
    OffsetNamedOrcSink.write(shaped.filter(col("offset") < 437), out, 250,
      drift = DriftMode.Backward)
    val widened = shaped.filter(col("offset") >= 437).withColumn("value", struct(
      col("value.flag").as("flag"), col("value.uid").as("uid"),
      col("value.id").as("id"), col("value.fval").as("fval"),
      col("value.dval").as("dval"), col("value.etype").as("etype"),
      (col("offset") * 2).as("extra")))
    val topicDir = OffsetNamedOrcSink.write(widened, out, 250,
      drift = DriftMode.Backward)
    // the persisted latch is now the widened schema
    val latchedJson = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(topicDir, "_graft_schema.json").toPath))
    assert(latchedJson.contains("\"extra\""))
    val back = OffsetNamedOrcSink.read(spark, topicDir)
    assert(back.count() == 1000)
    // pre-widening rows surface the added column as null; post-widening
    // rows carry their values — across mixed-physical-schema files
    assert(back.filter(col("offset") < 437 && col("extra").isNotNull).count() == 0)
    assert(back.filter(col("offset") >= 437).count() == 563)
    assert(back.filter(col("offset") >= 437 &&
      col("extra") =!= col("offset") * 2).count() == 0)
    // a straggler with the ORIGINAL narrow schema is projected UP onto the
    // widened latch (Connect's SchemaProjector behavior): extra → null
    OffsetNamedOrcSink.write(shaped.filter(col("offset") < 10), out, 250,
      drift = DriftMode.Backward)
    val after = OffsetNamedOrcSink.read(spark, topicDir)
    assert(after.count() == 1000)
    assert(after.filter(col("offset") < 10 && col("extra").isNotNull).count() == 0)
    // a retyped shared field is never backward-compatible
    intercept[IllegalStateException] {
      OffsetNamedOrcSink.write(
        shaped.withColumn("value", struct(col("value.uid").cast("string").as("uid"))),
        out, 250, drift = DriftMode.Backward)
    }
  }

  test("partitioner locale: non-English month names render, commit, and read back") {
    val out = freshOut()
    val topicDir = OffsetNamedOrcSink.write(shaped, out, flushSize = 250,
      layout = Layout.TimeMulti(
        levels = Seq("year" -> "yyyy", "month" -> "MMMM"),
        timezone = "UTC", locale = "fr"))
    val frMonths = (1 to 12).map(m => java.time.Month.of(m)
      .getDisplayName(java.time.format.TextStyle.FULL, java.util.Locale.FRENCH))
    val enMonths = (1 to 12).map(m => java.time.Month.of(m)
      .getDisplayName(java.time.format.TextStyle.FULL, java.util.Locale.ENGLISH))
    val back = OffsetNamedOrcSink.read(spark, topicDir)
    assert(back.count() == 1000)
    // every row's month dir value is ITS OWN timestamp's French month name
    // (timestamps live only in the source frame — join back by offset)
    val expected = shaped.select(col("offset"),
      element_at(array(frMonths.map(lit): _*), month(col("timestamp")))
        .as("exp_month"),
      date_format(col("timestamp"), "yyyy").as("exp_year"))
    val bad = back.select(col("offset"), col("month"), col("year"))
      .join(expected, "offset")
      .filter(col("month") =!= col("exp_month") || col("year") =!= col("exp_year"))
    assert(bad.count() == 0)
    // the rendered names are genuinely localized (no English leakage), and
    // accents survive the dir write + Hive escape + read round trip
    val monthVals = back.select("month").distinct().collect()
      .map(_.getString(0)).toSet
    assert(monthVals.nonEmpty && monthVals.subsetOf(frMonths.toSet), monthVals)
    assert(monthVals.intersect(enMonths.toSet).isEmpty, monthVals)
    // replay is idempotent under the locale layout too
    OffsetNamedOrcSink.write(shaped, out, flushSize = 250,
      layout = Layout.TimeMulti(
        levels = Seq("year" -> "yyyy", "month" -> "MMMM"),
        timezone = "UTC", locale = "fr"))
    assert(OffsetNamedOrcSink.read(spark, topicDir).count() == 1000)
    // quoted literals never tokenize: the M inside 'month' is literal text
    assert(OffsetNamedOrcSink.splitLocaleTokens("'month'=MMMM") ==
      Seq(Left("'month'="), Right("MMMM")))
    assert(OffsetNamedOrcSink.splitLocaleTokens("yyyy-MM-dd") ==
      Seq(Left("yyyy-MM-dd")))
  }

  test("schema drift: Forward projects wider records DOWN onto the frozen latch") {
    val out = freshOut()
    // latch the six-field schema
    OffsetNamedOrcSink.write(shaped.filter(col("offset") < 500), out, 250,
      drift = DriftMode.Forward)
    // a WIDER batch: the added field must be dropped (old readers stay
    // valid), the latch must not move
    val widened = shaped.filter(col("offset") >= 500).withColumn("value", struct(
      col("value.flag").as("flag"), col("value.uid").as("uid"),
      col("value.id").as("id"), col("value.fval").as("fval"),
      col("value.dval").as("dval"), col("value.etype").as("etype"),
      (col("offset") * 2).as("extra")))
    val topicDir = OffsetNamedOrcSink.write(widened, out, 250,
      drift = DriftMode.Forward)
    val latchedJson = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(topicDir, "_graft_schema.json").toPath))
    assert(!latchedJson.contains("\"extra\""), "Forward must not widen the latch")
    val back = OffsetNamedOrcSink.read(spark, topicDir)
    assert(back.count() == 1000)
    assert(!back.columns.contains("extra"))
    // a NARROWER batch projects up with nulls (replay offsets 0-9 without uid)
    OffsetNamedOrcSink.write(
      shaped.filter(col("offset") < 10).withColumn("value", struct(
        col("value.flag").as("flag"), col("value.id").as("id"),
        col("value.fval").as("fval"), col("value.dval").as("dval"),
        col("value.etype").as("etype"))),
      out, 250, drift = DriftMode.Forward)
    val after = OffsetNamedOrcSink.read(spark, topicDir)
    assert(after.count() == 1000)
    assert(after.filter(col("offset") < 10 && col("uid").isNotNull).count() == 0)
    // a retyped shared field refuses (unlike Project, which casts)
    val ex = intercept[IllegalStateException] {
      OffsetNamedOrcSink.write(
        shaped.withColumn("value", struct(col("value.uid").cast("string").as("uid"))),
        out, 250, drift = DriftMode.Forward)
    }
    assert(ex.getMessage.contains("FORWARD"))
  }

  test("schema drift: Full runs Backward's widening and names the FULL check on retype") {
    val out = freshOut()
    OffsetNamedOrcSink.write(shaped.filter(col("offset") < 500), out, 250,
      drift = DriftMode.Full)
    val widened = shaped.filter(col("offset") >= 500).withColumn("value", struct(
      col("value.flag").as("flag"), col("value.uid").as("uid"),
      col("value.id").as("id"), col("value.fval").as("fval"),
      col("value.dval").as("dval"), col("value.etype").as("etype"),
      (col("offset") * 3).as("extra")))
    val topicDir = OffsetNamedOrcSink.write(widened, out, 250,
      drift = DriftMode.Full)
    // FULL admits the add by widening (the reference's FULL is BACKWARD's
    // implementation); old rows read as null, new rows carry values
    val latchedJson = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(topicDir, "_graft_schema.json").toPath))
    assert(latchedJson.contains("\"extra\""))
    val back = OffsetNamedOrcSink.read(spark, topicDir)
    assert(back.count() == 1000)
    assert(back.filter(col("offset") < 500 && col("extra").isNotNull).count() == 0)
    assert(back.filter(col("offset") >= 500 &&
      col("extra") =!= col("offset") * 3).count() == 0)
    val ex = intercept[IllegalStateException] {
      OffsetNamedOrcSink.write(
        shaped.withColumn("value", struct(col("value.uid").cast("string").as("uid"))),
        out, 250, drift = DriftMode.Full)
    }
    assert(ex.getMessage.contains("FULL"))
  }

  test("Backward drift: merge read spanning mixed-physical-schema chunks keeps widened values") {
    val out = freshOut()
    val widen = (df: org.apache.spark.sql.DataFrame) => df.withColumn("value",
      struct(col("value.flag").as("flag"), col("value.uid").as("uid"),
        col("value.id").as("id"), col("value.fval").as("fval"),
        col("value.dval").as("dval"), col("value.etype").as("etype"),
        (col("offset") * 2).as("extra")))
    // 1) narrow latch: chunks 0 and 250 committed with the six-field schema
    OffsetNamedOrcSink.write(shaped.filter(col("offset") < 500), out, 250,
      drift = DriftMode.Backward)
    // 2) widening batch touches ONLY chunk 500 — the earlier chunks stay
    //    narrow on disk while chunk 500's file carries the added column
    val topicDir = OffsetNamedOrcSink.write(
      widen(shaped.filter(col("offset") >= 500 && col("offset") < 600)),
      out, 250, drift = DriftMode.Backward)
    // 3) one batch whose touched set mixes a narrow chunk (replay of
    //    400-436) and the wide chunk (new offsets 600-639). The merge read
    //    now sees BOTH physical schemas at once; a sampled (narrow) schema
    //    would read `extra` as absent everywhere and the rewrite would
    //    erase it from the non-replayed rows 500-599 (ADVICE r4).
    OffsetNamedOrcSink.write(
      widen(shaped.filter(
        col("offset") >= 400 && col("offset") < 437 ||
          (col("offset") >= 600 && col("offset") < 640))),
      out, 250, drift = DriftMode.Backward)
    val back = OffsetNamedOrcSink.read(spark, topicDir)
    assert(back.count() == 640)
    // rows 500-599 were NOT replayed in batch 3 — their widened values must
    // survive the chunk rewrite
    assert(back.filter(col("offset") >= 500 && col("offset") < 600 &&
      (col("extra").isNull || col("extra") =!= col("offset") * 2)).count() == 0)
    // replayed rows take the new wide values (new batch wins the dedup)
    assert(back.filter(col("offset") >= 400 && col("offset") < 437 &&
      col("extra") =!= col("offset") * 2).count() == 0)
    // untouched pre-widening rows still surface the added column as null
    assert(back.filter(col("offset") < 400 && col("extra").isNotNull)
      .count() == 0)
  }

  test("wall-clock rotation: event-time cells are batch-invariant and replay-deterministic") {
    val rot = Some(3600000L) // 1 hour of EVENT time
    val outA = freshOut()
    val dirA = OffsetNamedOrcSink.write(shaped, outA, flushSize = 250, rotateMs = rot)
    val fileNames = (d: String) => orcFiles(d)
      .map(f => s"${f.getParentFile.getName}/${f.getName}").sorted.toSeq
    val filesA = fileNames(dirA)
    // committed names carry the +t<bucket> suffix after the padded chunk
    assert(filesA.nonEmpty && filesA.forall(
      _.matches(raw"partition=\d+/events\+\d+\+\d{10}\+t-?\d+\.orc")),
      filesA.take(5).mkString(","))
    // one file per (partition, offset chunk, event-hour bucket) cell
    val expectedCells = shaped.select(col("partition"),
      (col("offset") - pmod(col("offset"), lit(250L))).as("c"),
      floor(unix_millis(col("timestamp")) / lit(3600000.0)).cast("long").as("b"))
      .distinct().count()
    assert(filesA.size.toLong == expectedCells,
      s"${filesA.size} files vs $expectedCells cells")
    // the same stream split at a batch boundary commits the SAME file set —
    // the grid is a pure function of the records, like the offset grid
    val outB = freshOut()
    OffsetNamedOrcSink.write(shaped.filter(col("offset") < 437), outB, 250,
      rotateMs = rot)
    val dirB = OffsetNamedOrcSink.write(shaped.filter(col("offset") >= 437),
      outB, 250, rotateMs = rot)
    assert(fileNames(dirB) == filesA)
    val a = OffsetNamedOrcSink.read(spark, dirA)
    val b = OffsetNamedOrcSink.read(spark, dirB)
    assert(a.count() == 1000 && b.count() == 1000)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    // full replay converges to the identical layout
    OffsetNamedOrcSink.write(shaped, outA, 250, rotateMs = rot)
    assert(fileNames(dirA) == filesA)
    assert(OffsetNamedOrcSink.read(spark, dirA).count() == 1000)
    assert(noStagingDirs(dirA))
    // readRange degrades to the full-scan path on a rotated grid (buckets
    // are not enumerable) but stays correct
    val w = OffsetNamedOrcSink.readRange(spark, dirA, 100, 600)
    assert(w.count() == 500)
    // the rotation grid is part of the sink config contract
    intercept[IllegalArgumentException] {
      OffsetNamedOrcSink.write(shaped, outA, 250, rotateMs = Some(60000L))
    }
    // expire stays chunk-granular across t-suffixed names
    assert(OffsetNamedOrcSink.expire(spark, dirA, beforeOffset = 250) > 0)
    assert(OffsetNamedOrcSink.read(spark, dirA).count() == 750)
  }

  test("layout params that would corrupt the dir or config contract fail fast") {
    val out = freshOut()
    intercept[IllegalArgumentException] {
      OffsetNamedOrcSink.write(shaped, out, 250, layout = Layout.Field("no=good"))
    }
    intercept[IllegalArgumentException] {
      OffsetNamedOrcSink.write(shaped, out, 250, layout = Layout.Field("offset"))
    }
    intercept[IllegalArgumentException] {
      OffsetNamedOrcSink.write(shaped, out, 250,
        layout = Layout.TimeMulti(levels = Seq("dt" -> "yyyy", "dt" -> "MM")))
    }
    intercept[IllegalArgumentException] {
      OffsetNamedOrcSink.write(shaped, out, 250, topic = "../escape")
    }
  }

  test("O6+: orc.bloom.filter.columns reaches the writer and prunes point lookups") {
    // The sink writes ORC-library defaults (reference parity); at 100 TB the
    // point-lookup story needs bloom streams on the lookup columns, because
    // min/max row-group stats never prune a high-cardinality column in
    // arrival order (every row group spans the whole domain). Pin both
    // halves: the option reaches the writer through the commit path, and a
    // point lookup on the committed files reads a fraction of the rows a
    // bloom-less file must read.
    val n = 40000L
    // uid = md5-scrambled id: high-cardinality, no arrival-order locality
    val base = spark.range(n).select(
      col("id").cast("string").cast("binary").as("key"),
      struct(
        lit(true).as("flag"),
        conv(substring(md5(col("id").cast("string")), 1, 4), 16, 10)
          .cast("int").as("uid"),
        col("id").as("id"),
        lit(1.0f).as("fval"),
        lit(1.0).as("dval"),
        lit("x").as("etype")).as("value"),
      lit("events").as("topic"),
      lit(0).as("partition"),
      col("id").as("offset"),
      timestamp_millis(col("id")).as("timestamp"))
    val stride = Map("orc.row.index.stride" -> "1000") // 40 row groups/file
    val bloomDir = OffsetNamedOrcSink.write(base, freshOut(), flushSize = n,
      orcOptions = stride ++ Map(
        "orc.bloom.filter.columns" -> "uid",
        "orc.bloom.filter.fpp" -> "0.01"))
    val plainDir = OffsetNamedOrcSink.write(base, freshOut(), flushSize = n,
      orcOptions = stride)
    val target = spark.range(1)
      .select(conv(substring(md5(lit("0")), 1, 4), 16, 10).cast("int"))
      .head.getInt(0)
    // rows the scan's tasks read from the files (their input records)
    def rowsRead(topicDir: String): (Long, Long) = {
      val df = OffsetNamedOrcSink.read(spark, topicDir)
        .filter(col("uid") === target)
      val hits = df.count()
      val (_, work) = workDuring(df.collect())
      compileFreeFilters(df, Seq(target))
      (work.recordsRead.sum, hits)
    }
    val (bloomRows, bloomHits) = rowsRead(bloomDir)
    val (plainRows, plainHits) = rowsRead(plainDir)
    assert(bloomHits == plainHits) // identical data either way
    // bloom-less: stats can't prune scrambled uids — the scan reads ~all 40
    // row groups; bloom: only groups whose filter admits the value survive
    assert(plainRows >= n / 2, s"expected an unpruned scan, read $plainRows")
    assert(bloomRows * 3 <= plainRows,
      s"bloom pruned nothing: $bloomRows vs $plainRows rows read")
  }

  test("readAsOf prunes to stats-qualifying files and equals the filtered read") {
    // commit-time per-cell min/max stats (the _graft_stats marker) are the
    // sink's Delta-log-style skipping metadata: an event-time window read
    // must touch only files whose recorded range intersects the window, and
    // return exactly what read().filter would.
    val ev = Tables(spark, sf, "events") // 1000 rows, ts-ordered by event_id
    val shaped = ev.select(
      col("user_id").cast("string").cast("binary").as("key"),
      struct(col("event_id").as("id"), unix_micros(col("ts")).as("tsu"),
        col("event_type").as("etype")).as("value"),
      lit("asof").as("topic"),
      pmod(col("user_id"), lit(4)).cast("int").as("partition"),
      col("event_id").as("offset"),
      col("ts").as("timestamp"))
    val out = freshOut()
    val topicDir = OffsetNamedOrcSink.write(shaped, out, flushSize = 100,
      topic = "asof", statsColumns = Seq("tsu"))
    // stats marker exists, one line per committed cell
    assert(new java.io.File(topicDir, "_graft_stats").exists)
    val Array(lo, hi) = ev
      .agg(unix_micros(min("ts")), unix_micros(max("ts"))).collect()(0) match {
        case r => Array(r.getLong(0), r.getLong(1))
      }
    val mid1 = lo + (hi - lo) / 3
    val mid2 = lo + 2 * (hi - lo) / 3
    val asOf = OffsetNamedOrcSink.readAsOf(spark, topicDir, "tsu", mid1, mid2)
    val full = OffsetNamedOrcSink.read(spark, topicDir)
      .filter(col("tsu") >= mid1 && col("tsu") < mid2)
    assert(asOf.count() == full.count() && full.count() > 0)
    assert(asOf.exceptAll(full).count() == 0 && full.exceptAll(asOf).count() == 0)
    // the pruning claim: the as-of plan reads a strict subset of the files
    val allFiles = OffsetNamedOrcSink.read(spark, topicDir).inputFiles.length
    val asOfFiles = asOf.inputFiles.length
    assert(asOfFiles > 0 && asOfFiles * 2 <= allFiles,
      s"expected <=half the files, read $asOfFiles of $allFiles")
    // a provably-empty window returns no rows
    assert(OffsetNamedOrcSink.readAsOf(spark, topicDir, "tsu",
      hi + 1000000L, hi + 2000000L).count() == 0)
    // rewriting a touched chunk updates its stats line (replay idempotence)
    OffsetNamedOrcSink.write(shaped.filter(col("offset") < 150), out,
      flushSize = 100, topic = "asof", statsColumns = Seq("tsu"))
    val asOf2 = OffsetNamedOrcSink.readAsOf(spark, topicDir, "tsu", mid1, mid2)
    assert(asOf2.count() == full.count())
    // stats coverage is all-or-nothing per topic: a stats-less write to the
    // same topic dir must fail fast (config mismatch), not silently leave
    // cells missing from the marker
    intercept[IllegalArgumentException] {
      OffsetNamedOrcSink.write(shaped, out, flushSize = 100, topic = "asof")
    }
  }

  test("manifest exposes the committed-cell catalog; erasure drops emptied cells' rows") {
    val ev = Tables(spark, sf, "events")
    val shaped = ev.select(
      col("user_id").cast("string").cast("binary").as("key"),
      struct(col("event_id").as("id"), unix_micros(col("ts")).as("tsu"),
        col("event_type").as("etype")).as("value"),
      lit("man").as("topic"),
      pmod(col("user_id"), lit(4)).cast("int").as("partition"),
      col("event_id").as("offset"),
      col("ts").as("timestamp"))
    val topicDir = OffsetNamedOrcSink.write(shaped, freshOut(), flushSize = 100,
      topic = "man", statsColumns = Seq("tsu"))
    val man = OffsetNamedOrcSink.manifest(spark, topicDir)
    // one row per committed (partition, chunk) cell; ranges match the data
    val truth = OffsetNamedOrcSink.read(spark, topicDir)
      .groupBy(col("partition"), col("_chunk").as("chunk"))
      .agg(min("tsu").as("stats_lo"), max("tsu").as("stats_hi"))
    assert(man.count() == truth.count() && man.count() > 0)
    assert(man.select("partition", "chunk", "stats_lo", "stats_hi")
      .exceptAll(truth.select("partition", "chunk", "stats_lo", "stats_hi"))
      .count() == 0)
    // erasing a whole chunk's rows removes its manifest row, keeps the rest
    val before = man.count()
    OffsetNamedOrcSink.deleteRows(spark, topicDir, col("offset") < 100)
    val after = OffsetNamedOrcSink.manifest(spark, topicDir)
    assert(after.filter(col("chunk") === 0L).count() == 0,
      "emptied cell still listed in the manifest")
    assert(after.count() < before && after.count() > 0)
  }

  test("deleteRows refreshes stats — erasure leaves no stale skipping ranges") {
    val ev = Tables(spark, sf, "events")
    val shaped = ev.select(
      col("user_id").cast("string").cast("binary").as("key"),
      struct(col("event_id").as("id"), unix_micros(col("ts")).as("tsu"),
        col("event_type").as("etype")).as("value"),
      lit("asof").as("topic"),
      pmod(col("user_id"), lit(4)).cast("int").as("partition"),
      col("event_id").as("offset"),
      col("ts").as("timestamp"))
    val out = freshOut()
    val topicDir = OffsetNamedOrcSink.write(shaped, out, flushSize = 100,
      topic = "asof", statsColumns = Seq("tsu"))
    val Array(lo, hi) = ev
      .agg(unix_micros(min("ts")), unix_micros(max("ts"))).collect()(0) match {
        case r => Array(r.getLong(0), r.getLong(1))
      }
    val cutoff = lo + (hi - lo) / 10
    assert(OffsetNamedOrcSink.readAsOf(spark, topicDir, "tsu", lo, cutoff)
      .count() > 0)
    val deleted = OffsetNamedOrcSink.deleteRows(spark, topicDir,
      col("tsu") < cutoff)
    assert(deleted > 0)
    val after = OffsetNamedOrcSink.readAsOf(spark, topicDir, "tsu", lo, cutoff)
    assert(after.count() == 0)
    // the refreshed marker no longer admits any cell for the erased window
    val stats = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(topicDir, "_graft_stats")), "UTF-8")
    val mins = stats.linesIterator.filter(_.nonEmpty)
      .map(_.split("\\|")(3).toLong).toSeq // partition|chunk|n_rows|MN|mx
    assert(mins.forall(_ >= cutoff), s"stale stats min below cutoff: $stats")
    // untouched windows unchanged
    assert(OffsetNamedOrcSink.readAsOf(spark, topicDir, "tsu", cutoff, hi + 1)
      .count() == OffsetNamedOrcSink.read(spark, topicDir).count())
  }

  test("multi-column stats: readAsOf prunes on the second column too") {
    // the Delta/Iceberg property: per-cell min/max for SEVERAL columns in
    // one marker line, so window reads prune whichever predicate column the
    // caller brings — here event-time (tsu) AND the value-carried id.
    val ev = Tables(spark, sf, "events")
    val shaped = ev.select(
      col("user_id").cast("string").cast("binary").as("key"),
      struct(col("event_id").as("id"), unix_micros(col("ts")).as("tsu"),
        col("event_type").as("etype")).as("value"),
      lit("asof").as("topic"),
      pmod(col("user_id"), lit(4)).cast("int").as("partition"),
      col("event_id").as("offset"),
      col("ts").as("timestamp"))
    val out = freshOut()
    val topicDir = OffsetNamedOrcSink.write(shaped, out, flushSize = 100,
      topic = "asof", statsColumns = Seq("tsu", "id"))
    val allFiles = OffsetNamedOrcSink.read(spark, topicDir).inputFiles.length

    // column 2 (id): a mid-range window must prune files AND equal the
    // filtered full read
    val byId = OffsetNamedOrcSink.readAsOf(spark, topicDir, "id", 300L, 500L)
    val idFull = OffsetNamedOrcSink.read(spark, topicDir)
      .filter(col("id") >= 300L && col("id") < 500L)
    assert(byId.count() == idFull.count() && idFull.count() > 0)
    assert(byId.exceptAll(idFull).count() == 0)
    assert(byId.inputFiles.length > 0 && byId.inputFiles.length * 2 <= allFiles,
      s"id-window read ${byId.inputFiles.length} of $allFiles files")

    // column 1 (tsu) still prunes — composing columns costs nothing
    val Array(lo, hi) = ev
      .agg(unix_micros(min("ts")), unix_micros(max("ts"))).collect()(0) match {
        case r => Array(r.getLong(0), r.getLong(1))
      }
    val mid1 = lo + (hi - lo) / 3
    val mid2 = lo + 2 * (hi - lo) / 3
    val byTs = OffsetNamedOrcSink.readAsOf(spark, topicDir, "tsu", mid1, mid2)
    val tsFull = OffsetNamedOrcSink.read(spark, topicDir)
      .filter(col("tsu") >= mid1 && col("tsu") < mid2)
    assert(byTs.count() == tsFull.count() && tsFull.count() > 0)
    assert(byTs.inputFiles.length * 2 <= allFiles)

    // an untracked column falls back to the full filtered scan (correctness
    // first — never a guess from someone else's ranges)
    val byEtype = OffsetNamedOrcSink.readAsOf(spark, topicDir, "offset",
      300L, 500L)
    assert(byEtype.count() ==
      OffsetNamedOrcSink.read(spark, topicDir)
        .filter(col("offset") >= 300L && col("offset") < 500L).count())

    // the manifest surfaces one row per (cell, column), tagged by name
    val man = OffsetNamedOrcSink.manifest(spark, topicDir)
    val cells = man.select("partition", "chunk").distinct().count()
    assert(man.count() == cells * 2, "expected one manifest row per column")
    assert(man.filter(col("stats_col") === "id").count() == cells)
    // and the id rows carry id ranges, not tsu ranges
    val idRow = man.filter(col("stats_col") === "id"
      && col("partition") === 0 && col("chunk") === 0L).collect()(0)
    assert(idRow.getAs[Long]("stats_lo") >= 0L
      && idRow.getAs[Long]("stats_hi") < 1000L)

    // replay a touched chunk: both columns' ranges refresh in place
    OffsetNamedOrcSink.write(shaped.filter(col("offset") < 150), out,
      flushSize = 100, topic = "asof", statsColumns = Seq("tsu", "id"))
    assert(OffsetNamedOrcSink.readAsOf(spark, topicDir, "id", 300L, 500L)
      .count() == idFull.count())
    // a DIFFERENT column list is a config mismatch, like flush.size
    intercept[IllegalArgumentException] {
      OffsetNamedOrcSink.write(shaped, out, flushSize = 100,
        topic = "asof", statsColumns = Seq("tsu"))
    }
  }

  test("string stats: readAsOfStr prunes on a string column, mixed with a long one") {
    // the categorical counterpart of the numeric stats: a string-typed
    // tracked column records URL-encoded min/max per cell (config-decorated
    // `etype:str`), and readAsOfStr prunes with a UTF-8-byte compare. The
    // artifact orders offsets by (etype, id) per partition so chunk cells
    // are etype-contiguous — string ranges that actually prune.
    val ev = Tables(spark, sf, "events")
    val part = pmod(col("user_id"), lit(2)).cast("int")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(part)
      .orderBy(col("event_type"), col("event_id"))
    val shaped = ev.select(
      col("user_id").cast("string").cast("binary").as("key"),
      struct(col("event_id").as("id"), col("event_type").as("etype"))
        .as("value"),
      lit("asofstr").as("topic"),
      part.as("partition"),
      (row_number().over(w) - lit(1)).cast("long").as("offset"),
      col("ts").as("timestamp"))
    val out = freshOut()
    val topicDir = OffsetNamedOrcSink.write(shaped, out, flushSize = 100,
      topic = "asofstr", statsColumns = Seq("etype", "id"))
    // config marker records the type decoration
    val conf = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(topicDir, "_graft_sink.conf")), "UTF-8")
    assert(conf.contains("stats=etype:str,id"), conf)
    val allFiles = OffsetNamedOrcSink.read(spark, topicDir).inputFiles.length

    // a string window prunes files AND equals the filtered full read
    val byStr = OffsetNamedOrcSink.readAsOfStr(spark, topicDir, "etype",
      "click", "error")
    val full = OffsetNamedOrcSink.read(spark, topicDir)
      .filter(col("etype") >= "click" && col("etype") < "error")
    assert(byStr.count() == full.count() && full.count() > 0)
    assert(byStr.exceptAll(full).count() == 0)
    assert(byStr.inputFiles.length > 0 && byStr.inputFiles.length * 2 <= allFiles,
      s"string-window read ${byStr.inputFiles.length} of $allFiles files")

    // the long column in the SAME line still prunes through readAsOf
    val byId = OffsetNamedOrcSink.readAsOf(spark, topicDir, "id", 300L, 500L)
    assert(byId.count() == OffsetNamedOrcSink.read(spark, topicDir)
      .filter(col("id") >= 300L && col("id") < 500L).count())

    // type-mismatched probes are refused, not silently unpruned
    intercept[IllegalArgumentException] {
      OffsetNamedOrcSink.readAsOf(spark, topicDir, "etype", 0L, 1L)
    }
    intercept[IllegalArgumentException] {
      OffsetNamedOrcSink.readAsOfStr(spark, topicDir, "id", "a", "b")
    }

    // manifest: string rows carry string bounds, long rows long bounds,
    // and every cell records its commit-time row count (numRecords)
    val man = OffsetNamedOrcSink.manifest(spark, topicDir)
    val etRow = man.filter(col("stats_col") === "etype"
      && col("partition") === 0 && col("chunk") === 0L).collect()(0)
    assert(etRow.isNullAt(etRow.fieldIndex("stats_lo")))
    assert(etRow.getAs[String]("stats_lo_str") == "click")
    assert(etRow.getAs[Long]("n_rows") == 100L) // dense offsets, full chunk
    val idRow = man.filter(col("stats_col") === "id"
      && col("partition") === 0 && col("chunk") === 0L).collect()(0)
    assert(!idRow.isNullAt(idRow.fieldIndex("stats_lo")))
    assert(idRow.isNullAt(idRow.fieldIndex("stats_lo_str")))
    // catalog-only count(*): per-column sum over cells == committed rows
    val catalogRows = man.filter(col("stats_col") === "id")
      .agg(sum("n_rows")).collect()(0).getLong(0)
    assert(catalogRows == OffsetNamedOrcSink.read(spark, topicDir).count())

    // replay idempotence: rewriting a touched chunk refreshes the string line
    OffsetNamedOrcSink.write(shaped.filter(col("offset") < 150), out,
      flushSize = 100, topic = "asofstr", statsColumns = Seq("etype", "id"))
    assert(OffsetNamedOrcSink.readAsOfStr(spark, topicDir, "etype",
      "click", "error").count() == full.count())

    // back-compat: a pre-rowcount marker (one field shorter per line, the
    // r8 format) must still prune and manifest with null n_rows — the
    // format is self-describing by field count
    val statsPath = java.nio.file.Paths.get(topicDir, "_graft_stats")
    val stripped = new String(java.nio.file.Files.readAllBytes(statsPath),
      "UTF-8").linesIterator.filter(_.nonEmpty).map { l =>
        val f = l.split("\\|", -1).toBuffer
        f.remove(2) // prefixless kafka layout: partition|chunk|NR|pairs…
        f.mkString("|")
      }.mkString("\n")
    java.nio.file.Files.write(statsPath, stripped.getBytes("UTF-8"))
    // the raw rewrite invalidates the local-FS checksum sidecar
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(topicDir, "._graft_stats.crc"))
    assert(OffsetNamedOrcSink.readAsOfStr(spark, topicDir, "etype",
      "click", "error").count() == full.count())
    val manOld = OffsetNamedOrcSink.manifest(spark, topicDir)
    assert(manOld.count() == man.count())
    assert(manOld.filter(col("n_rows").isNotNull).count() == 0)
  }

  test("compactTo carries the stats contract onto the coarser grid") {
    val ev = Tables(spark, sf, "events")
    val shaped = ev.select(
      col("user_id").cast("string").cast("binary").as("key"),
      struct(col("event_id").as("id"), unix_micros(col("ts")).as("tsu"),
        col("event_type").as("etype")).as("value"),
      lit("asof").as("topic"),
      pmod(col("user_id"), lit(4)).cast("int").as("partition"),
      col("event_id").as("offset"),
      col("ts").as("timestamp"))
    val topicDir = OffsetNamedOrcSink.write(shaped, freshOut(), flushSize = 100,
      topic = "asof", statsColumns = Seq("tsu"))
    val compacted = OffsetNamedOrcSink.compactTo(spark, topicDir,
      freshOut(), 500)
    assert(new java.io.File(compacted, "_graft_stats").exists)
    val Array(lo, hi) = ev
      .agg(unix_micros(min("ts")), unix_micros(max("ts"))).collect()(0) match {
        case r => Array(r.getLong(0), r.getLong(1))
      }
    // first-quarter window: with 2 coarse chunks per partition only the
    // early chunk qualifies — half the files prune
    val q1 = lo + (hi - lo) / 4
    val asOf = OffsetNamedOrcSink.readAsOf(spark, compacted, "tsu", lo, q1)
    val full = OffsetNamedOrcSink.read(spark, compacted)
      .filter(col("tsu") >= lo && col("tsu") < q1)
    assert(asOf.count() == full.count() && full.count() > 0)
    assert(asOf.inputFiles.length * 2 <=
      OffsetNamedOrcSink.read(spark, compacted).inputFiles.length)
  }

  test("vacuumOrphans removes writer debris, never data or crash evidence") {
    val out = freshOut()
    val topicDir = OffsetNamedOrcSink.write(shaped, out, flushSize = 250)
    val before = OffsetNamedOrcSink.read(spark, topicDir).count()
    val root = new java.io.File(topicDir)
    def mk(rel: String): java.io.File = {
      val f = new java.io.File(root, rel)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, "junk".getBytes)
      f
    }
    // debris a crashed writer / stray tooling leaves behind
    val staging = mk(".spark-staging-8f2c/part-00000.orc").getParentFile
    val tmpDir = mk("partition=0/_temporary/0/task.orc")
      .getParentFile.getParentFile
    val strayLeaf = mk("partition=0/part-00003-uuid.orc")
    val foreign = mk("partition=0/other+0+0000000000.orc")
    val wrongPart = mk("partition=0/events+3+0000000000.orc")
    val strayRoot = mk("stray.orc")
    // crash evidence + protocol metadata — vacuum must keep ALL of these
    val chunkDir = new java.io.File(root, s"partition=0/_chunk=9999")
    chunkDir.mkdirs()
    leaveInflightMarker(out) // out/topics/events == topicDir
    val success = mk("_SUCCESS_like") // underscore-prefixed: kept
    val removed = OffsetNamedOrcSink.vacuumOrphans(spark, topicDir)
    val removedNames = removed.map(p => new java.io.File(p).getName).toSet
    assert(removedNames == Set(".spark-staging-8f2c", "_temporary",
      strayLeaf.getName, foreign.getName, wrongPart.getName,
      strayRoot.getName), removedNames.toString)
    assert(!staging.exists && !tmpDir.exists && !strayLeaf.exists
      && !foreign.exists && !wrongPart.exists && !strayRoot.exists)
    assert(chunkDir.exists, "recovery staging dir must survive vacuum")
    assert(new java.io.File(root, "_graft_inflight").exists,
      "crash evidence must survive vacuum")
    assert(success.exists)
    assert(new java.io.File(root, "_graft_sink.conf").exists)
    // committed data intact: same rows read back (read() also performs the
    // marker-gated recovery for the fake marker — harmless no-op walk)
    assert(OffsetNamedOrcSink.read(spark, topicDir).count() == before)
    // idempotent: a second vacuum finds nothing
    assert(OffsetNamedOrcSink.vacuumOrphans(spark, topicDir).isEmpty)
  }

  // ---------------------------------------------------------------- file skipping

  /** `shaped` with a string column clustered by offset (`e00042`), so both
    * the long (`id`) and the string (`etype`) stats ranges of a cell are
    * narrow enough to skip on.
    */
  private lazy val clustered = shaped.withColumn("value", struct(
    col("value.flag").as("flag"), col("value.uid").as("uid"),
    col("value.id").as("id"), col("value.fval").as("fval"),
    col("value.dval").as("dval"),
    concat(lit("e"), lpad(col("offset").cast("string"), 5, "0")).as("etype")))

  /** The executed plan of `df`, final when adaptive. */
  private def executedPlanOf(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
  }

  /** The Filters above the one file scan of the sink read `df`, after
    * asserting the plan that keeps a new window from compiling code: in a
    * Filter condition, no value that generated code writes into its source
    * is left (a `ParamLiteral` or `ParamInSet` stands in for it; string and
    * decimal literals the code already reads from its references), and
    * every value the Filters hold, and each of `window`, is also in the
    * scan's pushed filters as a plain literal.
    */
  private def compileFreeFilters(df: org.apache.spark.sql.DataFrame,
      window: Seq[Any] = Nil): Seq[org.apache.spark.sql.execution.FilterExec] = {
    import org.apache.spark.sql.catalyst.expressions.{Expression, InSet, Literal}
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
    import org.apache.spark.sql.types._
    import OffsetNamedOrcSink.{ParamInSet, ParamLiteral}
    val plan = executedPlanOf(df)
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1, s"not one file scan: $plan")
    val filters = plan.collect { case f: FilterExec => f }
    def values(e: Expression): Seq[String] = e.collect {
      case Literal(v, _) => Seq(v)
      case ParamLiteral(v, _) => Seq(v)
      case InSet(_, set) => set.toSeq
      case ParamInSet(_, set) => set.toSeq
    }.flatten.filter(_ != null).map(_.toString)
    val compiled = filters.flatMap(_.condition.collect {
      case l @ Literal(v, t) if v != null && t != StringType && !t.isInstanceOf[DecimalType] => l
      case i @ InSet(c, _) if Seq(ByteType, ShortType, IntegerType, DateType).contains(c.dataType) => i
    })
    assert(compiled.isEmpty, s"$compiled compile into a Filter: $plan")
    val pushed = (scans.head.partitionFilters ++ scans.head.dataFilters).flatMap(values).toSet
    val held = filters.flatMap(f => values(f.condition)) ++ window.map(_.toString)
    assert(held.forall(pushed), s"${held.filterNot(pushed)} not in the scan's pushed filters: $plan")
    filters
  }

  /** Walks a plan into its adaptive query stages. */
  private object Stages extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** (ORC files the scan of `df` opened, and the sorted rows of `cols`),
    * from one execution of `df`.
    */
  private def scanOf(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String]): (Long, Seq[String]) = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val q = df.select(cols.map(col): _*)
    val rows = q.collect().map(_.toString).sorted.toSeq
    val plan = q.queryExecution.executedPlan
    val scans = Stages.collect(plan) { case f: FileSourceScanExec => f.metrics("numFiles").value }
    assert(scans.size == 1, plan.toString.take(2000))
    (scans.head, rows)
  }

  /** `read(dir).filter(p)` against the same filter over a plain
    * `spark.read.orc(dir)`: (files read() opened, files the plain scan
    * opened), after asserting both return the same rows.
    */
  private def skipped(topicDir: String,
      p: org.apache.spark.sql.Column): (Long, Long) = {
    val plain = spark.read.orc(topicDir).filter(p)
    val cols = plain.columns.toSeq.sorted
    val (nSink, got) = scanOf(OffsetNamedOrcSink.read(spark, topicDir).filter(p), cols)
    val (nPlain, want) = scanOf(plain, cols)
    assert(got == want, s"read().filter($p) differs from the plain scan")
    (nSink, nPlain)
  }

  test("read().filter skips files by chunk name and _graft_stats on every layout") {
    val layouts: Seq[(String, Layout, Option[Long])] = Seq(
      ("KafkaPartition", Layout.KafkaPartition, None),
      ("TimeDaily", Layout.TimeDaily(), None),
      ("Field", Layout.Field("flag"), None),
      ("TimeMulti", Layout.TimeMulti(
        Seq("year" -> "yyyy", "month" -> "MM", "day" -> "dd")), None),
      ("rotateMs", Layout.KafkaPartition, Some(86400000L)))
    val preds = Seq(
      "offset" -> (col("offset") >= 300L && col("offset") < 420L),
      "long stats" -> (col("id") >= 300L && col("id") < 420L),
      "long stats, literal on the left" -> (lit(612L) === col("id")),
      "string stats" -> (col("etype") >= "e00300" && col("etype") < "e00420"))
    for ((name, layout, rotate) <- layouts) {
      val topicDir = OffsetNamedOrcSink.write(clustered, freshOut(),
        flushSize = 100, layout = layout, rotateMs = rotate,
        statsColumns = Seq("id", "etype"))
      for ((what, p) <- preds) {
        val (nSink, nPlain) = skipped(topicDir, p)
        assert(nSink > 0 && nSink < nPlain,
          s"$name / $what: read().filter opened $nSink of $nPlain files")
      }
      // the chunk grid alone bounds an offset window: at most the window's
      // two chunks' files in each dir (4 partitions × their time/field dirs)
      val (nOffset, _) = skipped(topicDir, col("offset") >= 300L && col("offset") < 420L)
      val (nAll, _) = skipped(topicDir, col("offset") >= 0L)
      assert(nOffset * 3 <= nAll, s"$name: offset window opened $nOffset of $nAll")
    }
  }

  test("read().filter skips nothing it cannot prove: OR, casts, column bounds, null cells, bad stats") {
    // ids and etypes null below offset 300: those cells record the all-null
    // sentinels, which always qualify
    val withNulls = clustered.withColumn("value", struct(
      col("value.flag").as("flag"), col("value.uid").as("uid"),
      when(col("offset") >= 300, col("value.id")).as("id"),
      col("value.fval").as("fval"), col("value.dval").as("dval"),
      when(col("offset") >= 300, col("value.etype")).as("etype")))
    val out = freshOut()
    val topicDir = OffsetNamedOrcSink.write(withNulls, out, flushSize = 100,
      statsColumns = Seq("id", "etype"))
    val (nAll, _) = skipped(topicDir, lit(true))
    val nullCellFiles = orcFiles(topicDir).count(f =>
      f.getName.matches(raw"events\+\d\+0000000[012]00\.orc"))
    assert(nullCellFiles > 0)
    for ((what, p) <- Seq(
        "OR" -> (col("id") < 350L || col("id") >= 950L),
        "OR on offset" -> (col("offset") < 350L || col("offset") >= 950L),
        "cast column" -> (col("id").cast("string") === "512"),
        "column bound" -> (col("id") >= col("uid")))) {
      val (n, _) = skipped(topicDir, p)
      assert(n == nAll, s"$what skipped files: opened $n of $nAll")
    }
    // all-null cells are read; only the non-null cells outside the window skip
    val window = col("id") >= 500L && col("id") < 600L
    val strWindow = col("etype") >= "e00500" && col("etype") < "e00600"
    for (p <- Seq(window, strWindow)) {
      val (n, _) = skipped(topicDir, p)
      assert(n >= nullCellFiles && n < nAll, s"$p opened $n of $nAll")
    }
    // pre-rowcount lines (one field shorter) still skip; a corrupt stats
    // marker, then an absent one, skip nothing by stats and stay exact (the
    // chunk names still bound offsets). Raw rewrites drop the checksum file.
    val stats = new java.io.File(topicDir, "_graft_stats")
    def rewriteStats(f: String => String): Unit = {
      val text = new String(Files.readAllBytes(stats.toPath), "UTF-8")
      Files.write(stats.toPath, f(text).getBytes("UTF-8"))
      Files.deleteIfExists(new java.io.File(topicDir, "._graft_stats.crc").toPath)
    }
    val fresh = skipped(topicDir, window)._1
    rewriteStats(_.linesIterator.filter(_.nonEmpty)
      .map(_.split("\\|", -1).patch(2, Nil, 1).mkString("|")).mkString("\n"))
    assert(skipped(topicDir, window)._1 == fresh)
    rewriteStats(_ + "\n0|0|not-a-number")
    assert(skipped(topicDir, window)._1 == nAll)
    assert(skipped(topicDir, strWindow)._1 == nAll)
    assert(skipped(topicDir, col("offset") >= 500L && col("offset") < 600L)._1 < nAll)
    assert(stats.delete())
    assert(skipped(topicDir, window)._1 == nAll)
    assert(skipped(topicDir, strWindow)._1 == nAll)
  }

  test("sink reads keep window values out of generated code: new windows compile no code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import OffsetNamedOrcSink.{ParamInSet, ParamLiteral}
    val topicDir = OffsetNamedOrcSink.write(clustered, freshOut(), flushSize = 50,
      statsColumns = Seq("uid", "etype"))
    val ref = OffsetNamedOrcSink.read(spark, topicDir)
      .select("offset", "id", "uid", "etype").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong, r.getString(3)))
    // every uid window holds the smallest uid
    val minUid = ref.map(_._3).min
    // In windows: 8 offsets (stays In), and 12 uids, which Spark plans as
    // an InSet whose own code compiles its int values into `switch` cases
    def offsets(lo: Long) = (0 until 8).map(k => lo + 11 * k)
    def uidSet(lo: Long) = minUid.toInt +: (1 to 11).map(k => (lo * 100 + k).toInt)
    // (window kind, its read of the window at lo, the rows it must return,
    // the window's values)
    val kinds: Seq[(String, Long => org.apache.spark.sql.DataFrame, Long => Seq[Long],
        Long => Seq[Any])] = Seq(
      ("read().filter(offset)", lo => OffsetNamedOrcSink.read(spark, topicDir)
        .filter(col("offset") >= lo && col("offset") < lo + 100),
        lo => ref.collect { case (o, _, _, _) if o >= lo && o < lo + 100 => o }.toSeq,
        lo => Seq(lo, lo + 100)),
      ("read().filter(id)", lo => OffsetNamedOrcSink.read(spark, topicDir)
        .filter(col("id") >= lo && col("id") < lo + 100),
        lo => ref.collect { case (o, id, _, _) if id >= lo && id < lo + 100 => o }.toSeq,
        lo => Seq(lo, lo + 100)),
      ("read().filter(offset IN 8 values)", lo => OffsetNamedOrcSink.read(spark, topicDir)
        .filter(col("offset").isin(offsets(lo): _*)),
        lo => ref.collect { case (o, _, _, _) if offsets(lo).contains(o) => o }.toSeq,
        offsets),
      ("read().filter(uid IN 12 values)", lo => OffsetNamedOrcSink.read(spark, topicDir)
        .filter(col("uid").isin(uidSet(lo): _*)),
        lo => ref.collect { case (o, _, u, _) if uidSet(lo).contains(u.toInt) => o }.toSeq,
        uidSet),
      ("readRange", lo => OffsetNamedOrcSink.readRange(spark, topicDir, lo, lo + 100),
        lo => ref.collect { case (o, _, _, _) if o >= lo && o < lo + 100 => o }.toSeq,
        lo => Seq(lo, lo + 100)),
      ("readAsOf", lo => OffsetNamedOrcSink.readAsOf(spark, topicDir, "uid", lo, lo + 100),
        lo => ref.collect { case (o, _, u, _) if u >= lo && u < lo + 100 => o }.toSeq,
        lo => Seq(lo, lo + 100)),
      ("readAsOfStr", lo => OffsetNamedOrcSink.readAsOfStr(spark, topicDir, "etype",
        f"e$lo%05d", f"e${lo + 100}%05d"),
        lo => ref.collect { case (o, _, _, e) if e >= f"e$lo%05d" && e < f"e${lo + 100}%05d" => o }.toSeq,
        lo => Seq(f"e$lo%05d", f"e${lo + 100}%05d")))
    def window(kind: String, i: Int): Long =
      if (kind == "readAsOf") minUid - i else 37L * i + 5
    def run(kind: String, read: Long => org.apache.spark.sql.DataFrame,
        want: Long => Seq[Long], values: Long => Seq[Any], i: Int): Unit = {
      val lo = window(kind, i)
      val df = read(lo)
      val got = df.agg(count(lit(1)), coalesce(sum(col("offset")), lit(0L))).head()
      val w = want(lo)
      assert(w.nonEmpty && (got.getLong(0), got.getLong(1)) == ((w.size.toLong, w.sum)),
        s"$kind ${values(lo)}: got $got, want (${w.size}, ${w.sum})")
      val filters = compileFreeFilters(df, values(lo))
      // string windows are literals their code already references
      assert(kind == "readAsOfStr" || filters.exists(_.condition.exists {
        case _: ParamLiteral | _: ParamInSet => true
        case _ => false
      }), s"$kind: no window value read from references: ${executedPlanOf(df)}")
    }
    for ((kind, read, want, values) <- kinds) run(kind, read, want, values, 0)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    for (i <- 1 to 20; (kind, read, want, values) <- kinds) run(kind, read, want, values, i)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiles == 0, s"$compiles compiles over ${20 * kinds.size} reads with new windows")
  }

  test("the sink's scan judges comparisons, In and null tests exactly on every column kind") {
    val withNulls = clustered.withColumn("value", struct(
      col("value.flag").as("flag"), col("value.uid").as("uid"),
      when(col("offset") % 5 =!= 0, col("value.id")).as("id"),
      col("value.fval").as("fval"), col("value.dval").as("dval"),
      when(col("offset") % 3 =!= 0, col("value.etype")).as("etype")))
    val topicDir = OffsetNamedOrcSink.write(withNulls, freshOut(), flushSize = 100,
      statsColumns = Seq("id", "etype"))
    val one = spark.read.orc(topicDir).filter(col("offset") === 512L).head()
    val (fv, dv, uid) = (one.getAs[Float]("fval"), one.getAs[Double]("dval"), one.getAs[Int]("uid"))
    for ((what, p) <- Seq(
        "In on a long column" -> col("id").isin(3L, 42L, 512L, 999L),
        "In on strings, with a null" -> col("etype").isin("e00041", "e00512", null),
        "InSet on strings, with a null" -> col("etype").isin(
          (Seq("e00041", "e00512") ++ (901 to 910).map(i => f"e00$i") :+ null): _*),
        "In on an int column" -> col("uid").isin(uid, uid + 1),
        "IsNull" -> col("id").isNull,
        "IsNotNull and a bound" -> (col("etype").isNotNull && col("id") > 500L),
        "float equality" -> (col("fval") === fv),
        "double range" -> (col("dval") >= dv && col("dval") < dv + 50.0),
        "boolean column" -> (col("flag") === true),
        "partition column" -> (col("partition") === 1 && col("offset") < 500L),
        "In on the partition column" -> col("partition").isin(0, 2),
        "string bound" -> (col("etype") <= "e00100"))) {
      val sink = OffsetNamedOrcSink.read(spark, topicDir).filter(p)
      val plain = spark.read.orc(topicDir).filter(p)
      val cols = plain.columns.toSeq.sorted
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      val got = rows(sink)
      assert(got.nonEmpty && got == rows(plain), s"$what: sink read differs from spark.read.orc")
      compileFreeFilters(sink)
      // ORC's search argument throws on a null IN value: none may reach it
      import org.apache.spark.sql.catalyst.expressions.{In, InSet, Literal}
      val scan = executedPlanOf(sink).collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.head
      val nullIn = scan.dataFilters.flatMap(_.collect {
        case i @ In(_, list) if list.exists { case Literal(v, _) => v == null; case _ => false } => i
        case i @ InSet(_, set) if set.contains(null) => i
      })
      assert(nullIn.isEmpty, s"$what: null In values in the scan's data filters: $nullIn")
    }
  }

  test("the sink's scan leaves what it cannot judge to a Filter: UDF, cast, OR, column bound") {
    val topicDir = OffsetNamedOrcSink.write(clustered, freshOut(), flushSize = 100,
      statsColumns = Seq("id", "etype"))
    val odd = udf((x: Long) => x % 2 == 1)
    for ((what, p) <- Seq(
        "UDF" -> (odd(col("id")) && col("offset") < 500L),
        "cast" -> (col("id").cast("string") === "512"),
        "OR across columns" -> (col("id") < 150L || col("etype") >= "e00900"),
        "column bound" -> (col("id") >= col("uid")))) {
      val sink = OffsetNamedOrcSink.read(spark, topicDir).filter(p)
      val plain = spark.read.orc(topicDir).filter(p)
      val cols = plain.columns.toSeq.sorted
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
      val got = rows(sink)
      assert(got.nonEmpty && got == rows(plain), s"$what: sink read differs from spark.read.orc")
      val filters = compileFreeFilters(sink)
      assert(filters.size == 1, s"$what: ${executedPlanOf(sink)}")
      // the predicate the scan cannot judge is the Filter's, whole
      val cond = filters.head.condition.sql
      val kept = what match {
        case "UDF" => cond.contains("UDF")
        case "cast" => cond.contains("CAST(id AS STRING)")
        case "OR across columns" => cond.contains(" OR ")
        case _ => cond.contains("(id >= CAST(uid AS BIGINT))")
      }
      assert(kept, s"$what: Filter condition $cond")
    }
  }

  test("the sink's scan drops partition dirs by a partition predicate Spark cannot push") {
    // pmod(partition, 2) = 0 translates to no data source filter; the scan
    // still prunes the odd partitions' dirs by it, as a partition filter
    val topicDir = OffsetNamedOrcSink.write(clustered, freshOut(), flushSize = 100)
    val (nEven, nPlain) = skipped(topicDir, pmod(col("partition"), lit(2)) === 0)
    val (nAll, _) = skipped(topicDir, col("offset") >= 0L)
    assert(nEven > 0 && nEven < nAll && nEven == nPlain,
      s"opened $nEven of $nAll files; the plain scan opened $nPlain")
  }

  test("a join on partition prunes a sink read's dirs dynamically") {
    import org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression
    import org.apache.spark.sql.execution.FileSourceScanExec
    val topicDir = OffsetNamedOrcSink.write(clustered, freshOut(), flushSize = 100)
    // a small filtered table: the join's broadcast side, holding partition 1
    val keys = spark.range(4).select(col("id").cast("int").as("p"), (col("id") * 7).as("w"))
      .filter(col("w") === 7L)
    val dpp = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
    def joined(pruning: Boolean) = {
      spark.conf.set(dpp, pruning)
      try {
        val df = OffsetNamedOrcSink.read(spark, topicDir)
          .join(keys, col("partition") === col("p"))
        val (files, rows) = scanOf(df, Seq("offset", "partition", "w"))
        val dynamic = Stages.collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec =>
          s.partitionFilters.exists(_.isInstanceOf[DynamicPruningExpression])
        }
        (files, rows, dynamic)
      } finally spark.conf.unset(dpp)
    }
    val (nPruned, pruned, dynamic) = joined(pruning = true)
    val (nAll, all, _) = joined(pruning = false)
    assert(dynamic == Seq(true), s"scan partition filters carry no dynamic pruning: $dynamic")
    assert(pruned.nonEmpty && pruned == all, "the pruned join returns other rows")
    assert(nPruned > 0 && nPruned < nAll, s"pruned scan opened $nPruned of $nAll files")
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val (out, work) = workDuring(body)
    (out, work.jobs)
  }

  /** The Spark work started while `body` runs. Listener events arrive in
    * order, so once a sentinel job that starts after `body` is seen, every
    * job `body` started, and every task of those jobs, has been counted.
    */
  private def workDuring[T](body: => T): (T, OffsetNamedOrcSinkSpec.Work) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerTaskEnd}
    val sentinel = s"graft-sentinel-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Either[String, (Long, Long)]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Left(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => seen.add(Right(
          (m.inputMetrics.recordsRead, m.outputMetrics.recordsWritten))))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(Left(sentinel)) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(Left(sentinel)), "sentinel job never reached the listener")
      val events = seen.toArray.toSeq.asInstanceOf[Seq[Either[String, (Long, Long)]]]
        .takeWhile(_ != Left(sentinel))
      val tasks = events.collect { case Right(t) => t }
      (out, OffsetNamedOrcSinkSpec.Work(events.count(_.isLeft), tasks.map(_._1),
        tasks.map(_._2)))
    } finally sc.removeSparkListener(listener)
  }

  test("readRange/readAsOf/readAsOfStr over 33+ files plan with no Spark job; inputFiles = probed files") {
    // flush.size 25 → 160 committed files, well past the 32-path threshold
    // at which a path-list read starts a parallel-listing job
    val topicDir = OffsetNamedOrcSink.write(clustered, freshOut(), flushSize = 25,
      statsColumns = Seq("uid", "etype"))
    val onDisk = orcFiles(topicDir).map(_.getAbsolutePath).toSet
    val reads: Seq[(String, () => org.apache.spark.sql.DataFrame, Long)] = Seq(
      ("readRange", () => OffsetNamedOrcSink.readRange(spark, topicDir, 0L, 1000L), 1000L),
      ("readAsOf", () => OffsetNamedOrcSink.readAsOf(spark, topicDir, "uid",
        Int.MinValue.toLong, Int.MaxValue.toLong), 1000L),
      ("readAsOfStr", () => OffsetNamedOrcSink.readAsOfStr(spark, topicDir, "etype",
        "e00000", "e00800"), 800L))
    for ((name, read, rows) <- reads) {
      FsAudit.reset(); FsAudit.enabled = true
      val (df, jobs) = try jobsDuring(read()) finally FsAudit.enabled = false
      assert(jobs == 0, s"$name started $jobs Spark job(s) before the action")
      val input = df.inputFiles.map(f => new java.net.URI(f).getPath).toSet
      // exactly the committed files whose exact-name probes ran
      val prefixes = FsAudit.probes.toArray.map(_.toString.stripPrefix("file:")).toSet
      val probed = onDisk.filter(f =>
        prefixes(f.replaceAll("(-\\d+)?\\.orc$", "")))
      assert(input.size >= 33 && input == probed,
        s"$name: ${input.size} input files, ${probed.size} probed")
      assert(df.count() == rows, name)
    }
  }

  test("two read()s of one topic plan the same result: read(d).cache() serves read(d)") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val topicDir = OffsetNamedOrcSink.write(shaped, freshOut(), flushSize = 250)
    val first = OffsetNamedOrcSink.read(spark, topicDir)
    assert(first.queryExecution.analyzed.sameResult(
      OffsetNamedOrcSink.read(spark, topicDir).queryExecution.analyzed))
    first.cache()
    try {
      assert(first.count() == 1000)
      val again = OffsetNamedOrcSink.read(spark, topicDir).filter(col("offset") < 100L)
      assert(again.queryExecution.withCachedData.exists(_.isInstanceOf[InMemoryRelation]),
        again.queryExecution.withCachedData.treeString.take(2000))
      assert(again.count() == 100)
    } finally { first.unpersist(); () }
  }

  // ---------------------------------------------------------------- leaf writer

  /** Each offset of `topicDir` read back exactly once, and no `_chunk=`
    * staging dir left behind.
    */
  private def assertCleanOnce(topicDir: String, rows: Long): Unit = {
    val back = OffsetNamedOrcSink.read(spark, topicDir)
    assert(back.count() == rows, s"rows: ${back.count()}")
    assert(back.select("partition", "offset").distinct().count() == rows)
    val staging = new java.io.File(topicDir).listFiles.filter(_.isDirectory)
      .flatMap(_.listFiles).filter(_.getName.startsWith("_chunk="))
    assert(staging.isEmpty, staging.mkString(", "))
  }

  test("maxRecordsPerFile below a chunk's rows still commits one file per chunk") {
    // Spark's file writers split a task's output at maxRecordsPerFile; the
    // sink's leaf writer writes each chunk as exactly one file whatever the
    // session sets, so the hoist never meets a multi-part staging dir
    val key = "spark.sql.files.maxRecordsPerFile"
    val prev = spark.conf.getOption(key)
    val out = freshOut()
    val topicDir = try {
      spark.conf.set(key, "10")
      OffsetNamedOrcSink.write(shaped.filter(col("offset") < 2000), out, flushSize = 250)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(!new java.io.File(topicDir, "_graft_inflight").exists)
    assertCleanOnce(topicDir, 1000)
    val files = orcFiles(topicDir).map(_.getName)
    assert(files.forall(raw"events\+\d+\+\d{10}\.orc".r.matches(_)), files.mkString(", "))
    val cells = OffsetNamedOrcSink.read(spark, topicDir)
      .select("partition", OffsetNamedOrcSink.ChunkCol).distinct().count()
    assert(files.length == cells)
  }

  test("a steady-state commit hoists what it staged: no _chunk= dir is listed") {
    // the commit knows the one part file it staged per leaf and the
    // committed files it probed for the read-back, so its hoist lists no
    // staging dir; deleteRows hands its probed files to the hoist the same way
    val out = freshOut()
    val topicDir = OffsetNamedOrcSink.write(shaped.filter(col("offset") < 600), out, 250)
    FsAudit.reset(); FsAudit.enabled = true
    val erased = try {
      // chunk 500 of each partition is half committed: read back and merged
      OffsetNamedOrcSink.write(shaped.filter(col("offset") >= 400), out, 250)
      OffsetNamedOrcSink.deleteRows(spark, topicDir, col("offset") % 7 === 0)
    } finally FsAudit.enabled = false
    val listed = FsAudit.dirsListed.toArray.map(_.toString).filter(_.contains("_chunk="))
    assert(listed.isEmpty, s"steady-state commits listed: ${listed.mkString(", ")}")
    assert(erased > 0 && erased == shaped.filter(col("offset") % 7 === 0).count())
    assertCleanOnce(topicDir, 1000 - erased)
  }

  test("a replay half-covering a committed chunk keeps _graft_stats row counts exact") {
    val ev = Tables(spark, sf, "events")
    val shaped = ev.select(
      col("user_id").cast("string").cast("binary").as("key"),
      struct(col("event_id").as("id"), unix_micros(col("ts")).as("tsu"),
        col("event_type").as("etype")).as("value"),
      lit("nrows").as("topic"),
      pmod(col("user_id"), lit(4)).cast("int").as("partition"),
      col("event_id").as("offset"),
      col("ts").as("timestamp"))
    val out = freshOut()
    def write(df: org.apache.spark.sql.DataFrame) = OffsetNamedOrcSink.write(df, out,
      flushSize = 100, topic = "nrows", statsColumns = Seq("tsu"))
    val topicDir = write(shaped)
    def manifest = OffsetNamedOrcSink.manifest(spark, topicDir)
      .select("partition", "chunk", "stats_lo", "stats_hi", "n_rows")
    val before = manifest.collect().toSet
    // offsets [100, 150) replay half of chunk 100: merged holds those rows
    // twice, the committed chunk once
    write(shaped.filter(col("offset") >= 100 && col("offset") < 150))
    val truth = OffsetNamedOrcSink.read(spark, topicDir)
      .groupBy(col("partition"), col("_chunk").as("chunk"))
      .agg(count(lit(1)).as("n_rows"))
    val after = manifest
    assert(after.select("partition", "chunk", "n_rows")
      .exceptAll(truth).count() == 0 &&
      truth.exceptAll(after.select("partition", "chunk", "n_rows")).count() == 0,
      after.collect().mkString(", "))
    assert(after.collect().toSet == before, "min/max or row counts moved")
    assertCleanOnce(topicDir, 1000)
  }

  test("recovery hoists only the part file of a staging dir, never an attempt's temp file") {
    val out = freshOut()
    val topicDir = OffsetNamedOrcSink.write(shaped.filter(col("offset") < 437), out, 250)
    val pDir = new java.io.File(topicDir, "partition=0")
    def committed(chunk: String) =
      pDir.listFiles.filter(_.getName == s"events+0+$chunk.orc").head
    // a crash after the write job: chunk 250's staged part file, plus the
    // temp file of a failed attempt holding other rows (chunk 0's)
    val staging = new java.io.File(pDir, "_chunk=250")
    assert(staging.mkdir())
    Files.copy(committed("0000000000").toPath,
      new java.io.File(staging, ".attempt-7.orc").toPath)
    assert(committed("0000000250").renameTo(new java.io.File(staging, "part-00000.orc")))
    leaveInflightMarker(out, "0|250")
    assertCleanOnce(topicDir, 437)
    assert(!staging.exists())
    // a retried attempt replaces the part file an earlier attempt of the
    // same commit staged: a stale part-00000.orc (chunk 0's rows again) in
    // chunk 250's staging dir is overwritten by the leaf's file, not hoisted
    // next to it
    assert(new java.io.File(topicDir, "_graft_inflight").delete())
    assert(staging.mkdir())
    Files.copy(committed("0000000000").toPath,
      new java.io.File(staging, "part-00000.orc").toPath)
    OffsetNamedOrcSink.write(shaped.filter(col("offset") >= 437), out, 250)
    assertCleanOnce(topicDir, 1000)
    assert(!new java.io.File(topicDir, "_graft_inflight").exists)
  }


  // ------------------------------------------------------------ two-stage commit

  test("a steady-state commit runs two jobs, reads its batch once and writes <= ceil(leaves/tasks) files per task") {
    // 9 leaves of 100 rows each: partitions 0..2 × chunks 0, 100, 200
    val src = s"${freshOut()}/batch"
    spark.range(900).select(
      col("id").cast("string").cast("binary").as("key"),
      struct(col("id").as("id")).as("value"), lit("events").as("topic"),
      pmod(col("id"), lit(3)).cast("int").as("partition"),
      expr("id div 3").as("offset"), timestamp_seconds(col("id")).as("timestamp"))
      .write.parquet(src)
    val batch = spark.read.parquet(src)
    val out = freshOut()
    val topicDir = OffsetNamedOrcSink.write(batch, out, flushSize = 100)
    // the replay merges every leaf's committed file back in
    val (_, work) = workDuring(OffsetNamedOrcSink.write(batch, out, flushSize = 100))
    assert(work.jobs == 2, s"${work.jobs} jobs")
    assert(work.recordsRead.sum == 900, s"${work.recordsRead.sum} batch records read")
    // a leaf holds 100 rows, so a task writing <= 300 records wrote <= 3 files
    assert(spark.sparkContext.defaultParallelism == 4)
    val perTask = work.recordsWritten.filter(_ > 0)
    assert(perTask.size == 4 && perTask.sum == 900 && perTask.forall(_ <= 300),
      perTask.mkString(", "))
    assert(orcFiles(topicDir).length == 9)
    assertCleanOnce(topicDir, 900)
  }

  /** Kafka-shaped rows of offsets [from, until) in each of two partitions,
    * with a long stats column `y`. */
  private def twoPartitions(from: Long, until: Long) =
    spark.range(2 * from, 2 * until).select(
      col("id").cast("string").cast("binary").as("key"),
      struct(col("id").as("id"), pmod(col("id") * 7, lit(13)).as("y")).as("value"),
      lit("events").as("topic"),
      pmod(col("id"), lit(2)).cast("int").as("partition"),
      expr("id div 2").as("offset"),
      timestamp_seconds(col("id")).as("timestamp"))

  test("crash sweep: a write failed at any mutating FS call replays to each offset exactly once") {
    val sc = spark.sparkContext
    sc.hadoopConfiguration.set(s"fs.${FaultFs.Scheme}.impl", classOf[FaultFs].getName)
    // batch A lands offsets [0, 70) of two partitions; batch B, [60, 120),
    // merges into chunk 50 and opens chunk 100: 4 leaves, 2 of them merged
    def write(out: String, from: Long, until: Long) = OffsetNamedOrcSink.write(
      twoPartitions(from, until), FaultFs.uriOf(out), flushSize = 50, statsColumns = Seq("y"))
    val landedA = freshOut()
    write(landedA, 0, 70)
    def landed(): String = {
      val out = freshOut()
      val from = java.nio.file.Paths.get(landedA)
      Files.walk(from).forEach { p =>
        val to = java.nio.file.Paths.get(out).resolve(from.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
      }
      out
    }
    // a failed job's other tasks may still be running: let them finish
    def quiesce(): Unit = {
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (sc.statusTracker.getExecutorInfos.exists(_.numRunningTasks > 0) &&
          System.nanoTime() < deadline) Thread.sleep(20)
    }
    FaultFs.arm(0)
    write(landed(), 60, 120)
    val calls = FaultFs.disarm()
    assert(calls >= 15, s"$calls mutating calls in one commit")
    for (k <- 1 to calls) {
      val out = landed()
      val topicDir = s"${FaultFs.uriOf(out)}/topics/events"
      FaultFs.arm(k)
      val failed = try { write(out, 60, 120); false }
        catch { case scala.util.control.NonFatal(_) => true }
        finally { FaultFs.disarm(); () }
      quiesce()
      assert(failed, s"call $k of $calls did not fail the write")
      val marker = new java.io.File(out, "topics/events/_graft_inflight")
      val marked = marker.exists
      OffsetNamedOrcSink.read(spark, topicDir).count()
      assert(marker.exists == marked, s"call $k: read() deleted the in-flight marker")
      write(out, 60, 120)
      val back = OffsetNamedOrcSink.read(spark, topicDir)
      assert(back.count() == 240 &&
        back.select("partition", "offset").distinct().count() == 240, s"call $k")
      assert(OffsetNamedOrcSink.manifest(spark, topicDir).agg(sum("n_rows")).head().getLong(0) == 240,
        s"call $k: manifest row counts")
      assert(!marker.exists, s"call $k")
    }
  }

  /** The events as a topic whose value carries a long (`tsu`) and a string
    * (`etype`) field, both usable as stats columns.
    */
  private def eventsShaped(topic: String) = Tables(spark, sf, "events").select(
    col("user_id").cast("string").cast("binary").as("key"),
    struct(col("event_id").as("id"), unix_micros(col("ts")).as("tsu"),
      col("event_type").as("etype")).as("value"),
    lit(topic).as("topic"),
    pmod(col("user_id"), lit(4)).cast("int").as("partition"),
    col("event_id").as("offset"),
    col("ts").as("timestamp"))

  test("manifest of a wall-clock-rotated stats topic lists every cell and counts every row") {
    val topicDir = OffsetNamedOrcSink.write(eventsShaped("rot"), freshOut(),
      flushSize = 100, topic = "rot", rotateMs = Some(86400000L), statsColumns = Seq("tsu"))
    val files = orcFiles(topicDir).map(_.getName)
    assert(files.nonEmpty && files.forall(_.contains("+t")), files.take(3).mkString(", "))
    val man = OffsetNamedOrcSink.manifest(spark, topicDir)
    // one row per committed cell, and a cell commits one file
    assert(man.count() == files.length)
    val back = OffsetNamedOrcSink.read(spark, topicDir)
    assert(man.agg(sum("n_rows")).head.getLong(0) == back.count())
    // `chunk` is the cell's offset chunk: the cells of one (partition,
    // chunk) add up to the rows read back under that chunk
    val perChunk = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(perChunk(man.groupBy("partition", "chunk").agg(sum("n_rows"))) ==
      perChunk(back.groupBy(col("partition"), col("_chunk")).count()))
    // a stats file that does not parse yields no catalog, never a short one
    // (a raw rewrite drops the checksum file)
    val stats = java.nio.file.Paths.get(topicDir, "_graft_stats")
    Files.write(stats, (new String(Files.readAllBytes(stats), "UTF-8") + "\n0|0|x")
      .getBytes("UTF-8"))
    Files.delete(java.nio.file.Paths.get(topicDir, "._graft_stats.crc"))
    intercept[IllegalStateException](OffsetNamedOrcSink.manifest(spark, topicDir))
  }

  test("_graft_sink.conf payloads stay byte-identical for every layout and option") {
    import OffsetNamedOrcSink.Layout
    val src = eventsShaped("events").filter(col("offset") < 50)
    def conf(topicDir: String) = new String(Files.readAllBytes(
      java.nio.file.Paths.get(topicDir, "_graft_sink.conf")), "UTF-8")
    def written(layout: Layout = Layout.KafkaPartition, rotateMs: Option[Long] = None,
        stats: Seq[String] = Nil) = OffsetNamedOrcSink.write(src, freshOut(), 250,
      layout = layout, rotateMs = rotateMs, statsColumns = stats)
    assert(conf(written()) == "flushSize=250\nlayout=kafka-partition")
    assert(conf(written(Layout.TimeDaily())) == "flushSize=250\nlayout=time:yyyy-MM-dd")
    assert(conf(written(Layout.TimeDaily("yyyy-MM", "fr"))) ==
      "flushSize=250\nlayout=timeloc:fr|yyyy-MM")
    assert(conf(written(Layout.Field("etype"))) == "flushSize=250\nlayout=field:etype")
    assert(conf(written(Layout.TimeMulti())) ==
      "flushSize=250\nlayout=timev2:UTC|year=yyyy,month=MM,day=dd,hour=HH")
    assert(conf(written(Layout.TimeMulti(Seq("d" -> "yyyy-MM-dd", "h" -> "HH"),
      "America/Los_Angeles", "de"))) ==
      "flushSize=250\nlayout=timev3:de|America/Los_Angeles|d=yyyy-MM-dd,h=HH")
    assert(conf(written(rotateMs = Some(3600000L))) ==
      "flushSize=250\nlayout=kafka-partition\nrotate=3600000")
    assert(conf(written(stats = Seq("tsu"))) == "flushSize=250\nlayout=kafka-partition\nstats=tsu")
    val rotatedStats = written(Layout.Field("etype"), Some(3600000L), Seq("tsu", "id"))
    assert(conf(rotatedStats) ==
      "flushSize=250\nlayout=field:etype\nrotate=3600000\nstats=tsu,id")
    val strStats = written(stats = Seq("etype", "tsu"))
    assert(conf(strStats) == "flushSize=250\nlayout=kafka-partition\nstats=etype:str,tsu")
    // compaction keeps the layout and the stats declaration, and drops the
    // rotation grid
    assert(conf(OffsetNamedOrcSink.compactTo(spark, strStats, freshOut(), 500)) ==
      "flushSize=500\nlayout=kafka-partition\nstats=etype:str,tsu")
    assert(conf(OffsetNamedOrcSink.compactTo(spark, rotatedStats, freshOut(), 1000)) ==
      "flushSize=1000\nlayout=field:etype\nstats=tsu,id")
    // migrate stamps flush.size and layout only
    val legacy = written(Layout.TimeDaily())
    assert(new java.io.File(legacy, "_graft_sink.conf").delete())
    OffsetNamedOrcSink.migrate(spark, legacy, 250, Layout.TimeDaily())
    assert(conf(legacy) == "flushSize=250\nlayout=time:yyyy-MM-dd")
  }
}

object OffsetNamedOrcSinkSpec {
  /** Spark work a body started: its jobs, and per finished task the records
    * it read from input and wrote as output.
    */
  final case class Work(jobs: Int, recordsRead: Seq[Long], recordsWritten: Seq[Long])
}
