package perfbench

import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.KafkaShaped
import graft.streaming.OffsetNamedOrcSink

/** The three workloads. Each one times calls into the engine's public
  * functions in a closed loop (one client: the next call is issued when the
  * previous one returns) for `seconds`, then checks the outputs outside the
  * timed region. Before it, the same loop runs untimed: for `seconds` on
  * analytics (tiered JIT), for half of that on ingest and lookup (C1 only,
  * flat after a few calls; see run.py). */
object Workloads {

  final case class Ctx(spark: SparkSession, tr: Trace, seed: Long, seconds: Int,
      work: String, data: String, stage: Option[String], queries: Option[Seq[String]]) {
    def traced: Boolean = tr.enabled
    /** Output dir of the sink: the counting scheme when traced. */
    def sinkDir(local: String): String = if (traced) CountingFs.uriOf(local) else local
  }

  /** ingest: rotation size; staged batches are never a multiple of it. */
  val IngestFlush = 1000L
  /** lookup: the landed topic's rotation size (20 chunks x 4 partitions). */
  val LookupFlush = 5000L
  /** lookup: offset window of a readRange / read().filter call. */
  val OffsetWindow = 1000L
  /** lookup: uid window of a readAsOf call. */
  val UidWindow = 4L
  /** ingest: longest a micro-batch commit may take before it counts as
    * failed and the stream stops. */
  val OpTimeoutS = 120L
  /** Fewest timed operations per run (commits / lookups / query passes):
    * on a slow or contended box the timed region runs past `seconds` until
    * there are enough samples for a median and a tail. */
  val MinCommits = 20
  val MinLookups = 35
  val MinPasses = 2

  private val Cols = Seq("partition", "offset", "flag", "uid", "id", "fval", "dval", "etype")

  // ------------------------------------------------------------------ ingest

  final case class Commit(batchId: Long, span: Option[Span], error: Option[Throwable],
      fs: Map[String, Long], orcOpened: Int)

  final case class StreamRun(topicDir: String, fedRows: Long, committedRows: Long,
      commits: Seq[Commit], startNs: Long, endNs: Long, streamSpan: Span)

  /** Stream staged files through `KafkaShaped.streamFromDir`, a
    * `foreachBatch` micro-batch loop and `OffsetNamedOrcSink.write` —
    * `StreamOps.runPipeline`'s query, with a continuous trigger instead of
    * AvailableNow so each fed file is one micro-batch. Files are fed one at
    * a time: the next is moved into the source dir when the previous
    * commit returns. Stops once `limitS` seconds have passed and at least
    * `minBatches` were fed, or when the files run out. */
  private def stream(c: Ctx, tag: String, files: Seq[(JPath, Long)],
      limitS: Int, minBatches: Int, move: Boolean): StreamRun = {
    val base = Paths.get(c.work, s"ingest-$tag")
    val src = Files.createDirectories(base.resolve("src"))
    val outDir = c.sinkDir(base.resolve("out").toString)
    val done = new LinkedBlockingQueue[Commit]()
    val commits = mutable.ArrayBuffer.empty[Commit]
    var fedRows, committedRows = 0L
    var t0, t1 = 0L
    val (_, streamSpan) = c.tr.span("StreamOps.stream", 0) {
      val (shaped, _) = c.tr.span("KafkaShaped.streamFromDir", 0) {
        KafkaShaped.streamFromDir(c.spark, src.toString)
      }
      val parent = c.tr.currentSpan
      val q = shaped.writeStream
        .queryName(s"perfbench-ingest-$tag")
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val fs0 = if (c.traced) CountingFs.snapshot() else Map.empty[String, Long]
          if (c.traced) CountingFs.drainOrcOpened()
          val out = try {
            val (_, s) = c.tr.span("OffsetNamedOrcSink.write", id, parent) {
              OffsetNamedOrcSink.write(batch, outDir, IngestFlush)
            }
            Right(s)
          } catch { case t: Throwable => Left(t) }
          val fs1 = if (c.traced) CountingFs.snapshot() else fs0
          val opened = if (c.traced) CountingFs.drainOrcOpened().size else 0
          done.put(Commit(id, out.toOption, out.left.toOption,
            fs1.map { case (k, v) => k -> (v - fs0(k)) }, opened))
          ()
        }
        .start()
      try {
        t0 = Trace.nowNs()
        val it = files.iterator
        var go = true
        while (go && it.hasNext) {
          val (f, rows) = it.next()
          val dst = src.resolve(f.getFileName)
          if (move) Files.move(f, dst, StandardCopyOption.ATOMIC_MOVE)
          else {
            val tmp = base.resolve(f.getFileName.toString + ".tmp")
            Files.copy(f, tmp)
            Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
          }
          fedRows += rows
          val cm = done.poll(OpTimeoutS, TimeUnit.SECONDS)
          if (cm == null) {
            commits += Commit(-1, None, Some(new RuntimeException("commit timed out")),
              Map.empty, 0)
            go = false
          } else {
            commits += cm
            if (cm.error.isEmpty) committedRows += rows
          }
          t1 = Trace.nowNs()
          if (commits.size >= minBatches && t1 - t0 >= limitS * 1000000000L) go = false
        }
        q.processAllAvailable()
      } finally q.stop()
    }
    StreamRun(s"$outDir/topics/${KafkaShaped.topic}", fedRows, committedRows,
      commits.toSeq, t0, t1, streamSpan)
  }

  /** Staged micro-batch files with their row counts, in offset order. */
  private def stagedFiles(dir: String): Seq[(JPath, Long)] =
    Files.readAllLines(Paths.get(dir, "manifest.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val Array(name, rows) = l.split('\t')
        Paths.get(dir, name) -> rows.toLong
      }

  def ingest(c: Ctx): Result = {
    val staged = stagedFiles(c.stage.get)
    val (warm, warmS) = timed(stream(c, "warm", staged, warmSeconds(c), 1, move = false))
    val box = Box.start()
    val run = stream(c, "timed", staged, c.seconds, MinCommits, move = true)
    val boxInfo = box.end()
    val rss = peakRssMb()
    val ok = run.commits.flatMap(_.span)
    val lat = ok.map(_.durS)
    val wallS = (run.endNs - run.startNs) / 1e9
    val failed = run.commits.count(_.span.isEmpty) + warm.commits.count(_.span.isEmpty)
    val checks = checkIngest(c, run) ++
      warm.commits.flatMap(_.error).map(e => s"warm commit failed: $e")
    val (tail, tailLabel) = tailOf(lat)
    val e2e = Map(
      "p50_s" -> median(lat), "tail_s" -> tail,
      "throughput_per_s" -> run.committedRows / wallS, "peak_rss_mb" -> rss)
    val storedBytes = committedOrcBytes(run.topicDir)
    val layers = if (!c.traced) Map.empty[String, Double] else {
      c.tr.drain()
      val n = ok.size.max(1).toDouble
      val triggers = c.tr.progress.asScala.toSeq
        .filter(t => t.query == "perfbench-ingest-timed" && t.rows > 0)
      triggers.foreach(t => c.tr.record(Span(0, "StreamOps.trigger", t.batchId,
        run.streamSpan.id, t.startMs * 1000000L, t.startMs * 1000000L + (t.triggerS * 1e9).toLong)))
      val works = ok.map(s => c.tr.workUnder(s))
      def sumW(f: SpanWork => Double) = works.map(_.map(f).sum).sum
      val jobS = works.map(ws => ws.map(_.jobS).sum).sum
      val scanned = triggers.map(_.rows).sum.toDouble
      val cm = run.commits.filter(_.span.isDefined)
      def perCommit(op: String) = cm.map(_.fs.getOrElse(op, 0L)).sum / n
      Map(
        "KafkaShaped.records_in" -> scanned,
        "StreamOps.batches" -> ok.size.toDouble,
        "StreamOps.wall_s" -> wallS / n,
        "StreamOps.trigger_s" -> triggers.map(_.triggerS).sum / n,
        "StreamOps.overhead_s" -> triggers.map(t => t.triggerS - t.addBatchS).sum / n,
        "OffsetNamedOrcSink.write.busy_s" -> lat.sum / n,
        "OffsetNamedOrcSink.write.jobs" -> sumW(_.jobIntervals.size.toDouble) / n,
        "OffsetNamedOrcSink.write.job_s" -> jobS / n,
        "OffsetNamedOrcSink.write.driver_s" -> (lat.sum - jobS) / n,
        "OffsetNamedOrcSink.write.files" -> perCommit("orc_create"),
        "OffsetNamedOrcSink.write.merged_leaves" -> cm.map(_.orcOpened).sum / n,
        "OffsetNamedOrcSink.write.rewrite_ratio" -> sumW(_.recordsWritten.toDouble) / run.committedRows,
        "OffsetNamedOrcSink.write.bytes_written" -> sumW(_.bytesWritten.toDouble) / n,
        "OffsetNamedOrcSink.write.stored_bytes_per_record" -> storedBytes / run.committedRows.toDouble
      ) ++ CountingFs.Ops.map(op => s"OffsetNamedOrcSink.write.fs_ops.$op" -> perCommit(op))
    }
    Result(checks.isEmpty, run.commits.size + warm.commits.size, failed, run.startNs,
      e2e, layers, checks, boxInfo ++ Map(
        "tail" -> tailLabel, "commits" -> ok.size.toString,
        "records_committed" -> run.committedRows.toString, "setup.warm_s" -> warmS.toString,
        "stream_wall_s" -> wallS.toString,
        "stored_bytes_per_record" -> (storedBytes / run.committedRows.toDouble).toString))
  }

  /** The ingest output contract: exactly one row per fed (partition,
    * offset) carrying the values `KafkaShaped.fromEvents` gives it; every
    * committed file offset-named and holding only its own chunk; no
    * in-flight marker or staging dir left behind. */
  private def checkIngest(c: Ctx, run: StreamRun): Seq[String] = {
    val spark = c.spark
    val got = OffsetNamedOrcSink.read(spark, run.topicDir)
    val want = KafkaShaped.fromEvents(spark, c.data)
      .filter(col("offset") < run.fedRows).select(col("partition"), col("offset"), col("value.*"))
    val g = got.select(Cols.map(col): _*).cache()
    val w = want.select(Cols.map(col): _*)
    val out = mutable.ArrayBuffer.empty[String]
    val (ng, nw) = (g.count(), w.count())
    if (ng != nw) out += s"ingest: read back $ng rows, fed $nw"
    val dups = g.groupBy("partition", "offset").count().filter(col("count") > 1).count()
    if (dups > 0) out += s"ingest: $dups (partition, offset) keys occur more than once"
    val missing = w.exceptAll(g).count()
    val extra = g.exceptAll(w).count()
    if (missing + extra > 0) out += s"ingest: $missing fed rows missing or changed, $extra unexpected"
    g.unpersist()
    val chunkOfFile = regexp_extract(input_file_name(), raw"\+(\d{10})(?:-\d+)?\.orc$$", 1).cast("long")
    val misplaced = got.filter(chunkOfFile.isNull ||
      chunkOfFile =!= col("offset") - pmod(col("offset"), lit(IngestFlush))).count()
    if (misplaced > 0) out += s"ingest: $misplaced rows sit in a file not named for their chunk"
    out ++= layoutViolations(run.topicDir, IngestFlush)
    out.toSeq
  }

  /** Every entry under a KafkaPartition topic dir that breaks the
    * offset-name contract `partition=<p>/<topic>+<p>+<%010d chunk>[-N].orc`. */
  private def layoutViolations(topicDir: String, flush: Long): Seq[String] = {
    val root = localPath(topicDir)
    val fileRe = raw"partition=(\d+)/events\+(\d+)\+(\d{10})(-\d+)?\.orc".r
    val dirRe = raw"partition=\d+".r
    val markers = Set("_graft_sink.conf", "_graft_schema.json", "_graft_stats", "_SUCCESS")
    val walk = Files.walk(root)
    try walk.iterator.asScala.drop(1).flatMap { p =>
      val rel = root.relativize(p).toString
      val name = p.getFileName.toString
      if (Files.isDirectory(p)) {
        if (dirRe.matches(rel)) None else Some(s"layout: unexpected dir $rel")
      } else if (name.startsWith(".") && name.endsWith(".crc")) None
      else if (markers(rel)) None
      else rel match {
        case fileRe(p1, p2, chunk, _) if p1 == p2 && chunk.toLong % flush == 0 => None
        case _ => Some(s"layout: unexpected file $rel")
      }
    }.toSeq finally walk.close()
  }

  /** The local path behind a plain or `cntfs://` dir. */
  private def localPath(dir: String): JPath = Paths.get(new java.net.URI(dir).getPath)

  private def committedOrcBytes(topicDir: String): Double = {
    val walk = Files.walk(localPath(topicDir))
    try walk.iterator.asScala.filter(p => Files.isRegularFile(p) &&
      p.getFileName.toString.endsWith(".orc") && !p.getFileName.toString.startsWith("."))
      .map(Files.size).sum.toDouble
    finally walk.close()
  }

  // ------------------------------------------------------------------ lookup

  sealed trait Lookup { def lo: Long; def hi: Long }
  final case class RangeLookup(lo: Long, hi: Long) extends Lookup
  final case class UidLookup(lo: Long, hi: Long) extends Lookup
  final case class FilterLookup(lo: Long, hi: Long) extends Lookup

  /** Row checksum: summed over a result it pins the exact row multiset
    * (shifted so 100k-row sums stay inside a long). */
  private val rowHash: Column = shiftright(xxhash64(Cols.map(col): _*), 20)

  def lookup(c: Ctx): Result = {
    val spark = c.spark
    val outDir = c.sinkDir(Paths.get(c.work, "lookup").toString)
    val (_, land) = c.tr.span("OffsetNamedOrcSink.write", 0) {
      OffsetNamedOrcSink.write(KafkaShaped.fromEvents(spark, c.data), outDir,
        LookupFlush, statsColumns = Seq("uid", "id"))
    }
    val topicDir = s"$outDir/topics/${KafkaShaped.topic}"
    // reference copy of the topic, read once through read()
    val ref = OffsetNamedOrcSink.read(spark, topicDir)
      .select(col("offset"), col("uid"), rowHash.as("h"), input_file_name().as("f"))
      .collect()
    val refOff = ref.map(_.getLong(0)); val refUid = ref.map(_.getInt(1).toLong)
    val refH = ref.map(_.getLong(2)); val refFile = ref.map(r => new java.net.URI(r.getString(3)).getPath)
    val nOff = refOff.max + 1
    val nUid = refUid.max + 1
    val rnd = new Random(c.seed)
    // the kinds cost ~1 : 1.5 : 4; cycling them as range, filter x5, uid
    // keeps the median and the tail inside the read().filter group (README)
    def next(i: Int): Lookup = i % 7 match {
      case 0 => val lo = (rnd.nextDouble() * (nOff - OffsetWindow)).toLong; RangeLookup(lo, lo + OffsetWindow)
      case 6 => val lo = (rnd.nextDouble() * (nUid - UidWindow)).toLong; UidLookup(lo, lo + UidWindow)
      case _ => val lo = (rnd.nextDouble() * (nOff - OffsetWindow)).toLong; FilterLookup(lo, lo + OffsetWindow)
    }
    def call(l: Lookup): DataFrame = l match {
      case RangeLookup(lo, hi) => OffsetNamedOrcSink.readRange(spark, topicDir, lo, hi)
      case UidLookup(lo, hi) => OffsetNamedOrcSink.readAsOf(spark, topicDir, "uid", lo, hi)
      case FilterLookup(lo, hi) => OffsetNamedOrcSink.read(spark, topicDir)
        .filter(col("id") >= lo && col("id") < hi)
    }
    final case class Done(l: Lookup, got: Option[(Long, Long, Long)], span: Span,
        plan: Option[Span], exec: Option[Span], fs: Map[String, Long], opened: Set[String],
        error: Option[Throwable])
    def issue(i: Int, l: Lookup): Done = {
      val fs0 = if (c.traced) CountingFs.snapshot() else Map.empty[String, Long]
      if (c.traced) CountingFs.drainOrcOpened()
      var plan, exec: Option[Span] = None
      val (got, s) = c.tr.span("OffsetNamedOrcSink.read", i) {
        try {
          val (df, ps) = c.tr.span("OffsetNamedOrcSink.read.plan", i)(call(l))
          plan = Some(ps)
          val (r, es) = c.tr.span("OffsetNamedOrcSink.read.exec", i) {
            df.agg(count(lit(1)), coalesce(sum(col("offset")), lit(0L)),
              coalesce(sum(rowHash), lit(0L))).head()
          }
          exec = Some(es)
          Right((r.getLong(0), r.getLong(1), r.getLong(2)))
        } catch { case t: Throwable => Left(t) }
      }
      val fs1 = if (c.traced) CountingFs.snapshot() else fs0
      val opened = if (c.traced) CountingFs.drainOrcOpened() else Set.empty[String]
      Done(l, got.toOption, s, plan, exec, fs1.map { case (k, v) => k -> (v - fs0(k)) },
        opened, got.left.toOption)
    }
    def expected(l: Lookup): (Long, Long, Long, Set[String]) = {
      val key = l match { case _: UidLookup => refUid; case _ => refOff }
      var n, so, sh = 0L
      val files = mutable.Set.empty[String]
      var i = 0
      while (i < key.length) {
        if (key(i) >= l.lo && key(i) < l.hi) {
          n += 1; so += refOff(i); sh += refH(i); files += refFile(i)
        }
        i += 1
      }
      (n, so, sh, files.toSet)
    }
    val (warm, warmS) = timed(loopFor(warmSeconds(c), 7)(i => issue(-1 - i, next(i))))
    val box = Box.start()
    val t0 = Trace.nowNs()
    val (done, wallS) = timed(loopFor(c.seconds, MinLookups)(i => issue(i, next(i))))
    val boxInfo = box.end()
    val rss = peakRssMb()
    val ok = done.filter(_.got.isDefined)
    val lat = ok.map(_.span.durS)
    val exp = (warm ++ done).filter(_.got.isDefined).map(d => d -> expected(d.l))
    val expTimed = exp.filter(_._1.span.op >= 0)
    val checks = exp.collect { case (d, (n, so, sh, _)) if d.got.get != ((n, so, sh)) =>
      s"lookup ${d.l}: got (rows, offset sum, row hash) ${d.got.get}, read() gives ${(n, so, sh)}"
    } ++ (warm ++ done).flatMap(_.error).take(3).map(e => s"lookup failed: $e")
    val (tail, tailLabel) = tailOf(lat)
    val e2e = Map("p50_s" -> median(lat), "tail_s" -> tail,
      "throughput_per_s" -> ok.size / wallS, "peak_rss_mb" -> rss)
    val layers = if (!c.traced) Map.empty[String, Double] else {
      c.tr.drain()
      val n = ok.size.max(1).toDouble
      val works = ok.map(d => c.tr.workUnder(d.span))
      val rows = expTimed.map(_._2._1).sum.max(1L)
      val useful = expTimed.map { case (d, (_, _, _, files)) => d.opened.count(files).toDouble }
      Map(
        "OffsetNamedOrcSink.read.plan_s" -> ok.map(_.plan.get.durS).sum / n,
        "OffsetNamedOrcSink.read.exec_s" -> ok.map(_.exec.get.durS).sum / n,
        "OffsetNamedOrcSink.read.jobs" -> works.map(_.map(_.jobIntervals.size).sum).sum / n,
        "OffsetNamedOrcSink.read.files_scanned" -> ok.map(_.opened.size).sum / n,
        "OffsetNamedOrcSink.read.rows_scanned_per_row" ->
          works.map(_.map(_.recordsRead).sum).sum.toDouble / rows,
        "OffsetNamedOrcSink.read.useful_file_ratio" ->
          useful.sum / ok.map(_.opened.size).sum.max(1)
      ) ++ CountingFs.Ops.map(op =>
        s"OffsetNamedOrcSink.read.fs_ops.$op" -> ok.map(_.fs.getOrElse(op, 0L)).sum / n)
    }
    val kinds = ok.groupBy(_.l.getClass.getSimpleName).map { case (k, v) =>
      s"${k}_p50_s" -> median(v.map(_.span.durS)).toString }
    Result(checks.isEmpty, done.size + warm.size, (done ++ warm).count(_.got.isEmpty), t0,
      e2e, layers, checks, boxInfo ++ kinds ++ Map("tail" -> tailLabel,
        "lookups" -> ok.size.toString, "setup.land_s" -> land.durS.toString,
        "setup.warm_s" -> warmS.toString))
  }

  // --------------------------------------------------------------- analytics

  private val modules: Seq[graft.QueryModule] = Seq(
    graft.operators.Relational, graft.operators.RelationalExt,
    graft.operators.AnalyticsOps, graft.operators.GraphOps,
    graft.operators.PipelineOps, graft.operators.DedupOps,
    graft.operators.TypedOps, graft.operators.ScoringOps,
    graft.operators.GovernanceOps, graft.functions.TextOps,
    graft.functions.SimilarityOps, graft.functions.MultimodalOps)

  private def moduleName(m: graft.QueryModule): String =
    m.getClass.getSimpleName.stripSuffix("$")

  final case class QueryRun(name: String, span: Span,
      construct: Option[Span], execute: Option[Span], error: Option[Throwable])

  def analytics(c: Ctx): Result = {
    val spark = c.spark
    val names = c.queries.get
    val moduleOf = modules.flatMap(m => m.queries.keys.map(_ -> moduleName(m))).toMap
    val fns = graft.SparkEntry.queries
    var op = 0L
    def runOne(name: String): QueryRun = {
      op += 1
      var cs, es: Option[Span] = None
      val (err, s) = c.tr.span(s"queries.$name", op) {
        try {
          val (df, s1) = c.tr.span("queries.construct", op)(fns(name)(spark, c.data))
          cs = Some(s1)
          es = Some(c.tr.span("queries.execute", op)(
            df.write.format("noop").mode("overwrite").save())._2)
          None
        } catch { case t: Throwable => Some(t) }
      }
      QueryRun(name, s, cs, es, err)
    }
    def passes(atLeast: Int) = loopFor(c.seconds, atLeast)(_ => names.map(runOne))
    val (warm, warmS) = timed(passes(1).flatten)
    val box = Box.start()
    val t0 = Trace.nowNs()
    val timedPasses = passes(MinPasses)
    val runs = timedPasses.flatten
    val pass = timedPasses.size
    val boxInfo = box.end()
    val rss = peakRssMb()
    val ok = runs.filter(_.error.isEmpty)
    val lat = ok.map(_.span.durS)
    val totalS = lat.sum
    val (tail, tailLabel) = tailOf(lat)
    val e2e = Map("p50_s" -> median(lat), "tail_s" -> tail,
      "throughput_per_s" -> ok.size / totalS, "peak_rss_mb" -> rss)
    val layers = if (!c.traced) Map.empty[String, Double] else {
      c.tr.drain()
      val p = pass.toDouble
      def spanWork(f: QueryRun => Option[Span]) = ok.flatMap(f).flatMap(c.tr.workUnder)
      val all = spanWork(r => Some(r.span))
      val plan = c.tr.planPhases.asScala.filter(_._1 * 1000000L >= t0).map(_._2).sum
      val perModule = modules.map(moduleName).flatMap { m =>
        val mine = ok.filter(r => moduleOf(r.name) == m)
        Seq(s"queries.$m.construct_s" -> mine.map(_.construct.get.durS).sum / p,
          s"queries.$m.execute_s" -> mine.map(_.execute.get.durS).sum / p)
      }
      Map(
        "queries.total_s" -> totalS / p,
        "queries.construct_s" -> ok.map(_.construct.get.durS).sum / p,
        "queries.execute_s" -> ok.map(_.execute.get.durS).sum / p,
        "queries.construct_jobs" -> spanWork(_.construct).map(_.jobIntervals.size).sum / p,
        "queries.execute_jobs" -> spanWork(_.execute).map(_.jobIntervals.size).sum / p,
        "queries.plan_s" -> plan / p,
        "queries.task_s" -> all.map(_.taskS).sum / p,
        "queries.shuffle_bytes" -> all.map(_.shuffleBytes).sum / p,
        "queries.spill_bytes" -> all.map(_.spillBytes).sum / p,
        "queries.gc_s" -> all.map(_.gcS).sum / p,
        "queries.peak_exec_mem_mb" -> all.map(_.peakExecMem).foldLeft(0L)(math.max) / 1048576.0
      ) ++ perModule
    }
    val failures = (warm ++ runs).filter(_.error.isDefined)
    val checks = failures.take(3).map(r => s"query ${r.name} failed: ${r.error.get}")
    // correctness: the same sample dumped through the engine's own Verify
    // main (parquet + oracle SQL); run.py hash-checks it against DuckDB
    graft.Verify.main((Seq(c.data, s"${c.work}/verify") ++ names).toArray)
    Result(checks.isEmpty, runs.size + warm.size, failures.size, t0, e2e, layers, checks,
      boxInfo ++ names.flatMap { n =>
        Seq(s"query.$n.warm_s" -> warm.find(_.name == n).get.span.durS.toString,
          s"query.$n.p50_s" -> median(ok.filter(_.name == n).map(_.span.durS)).toString)
      } ++ Map("tail" -> tailLabel, "passes" -> pass.toString,
        "setup.warm_s" -> warmS.toString,
        "query_total_s" -> (totalS / pass).toString,
        "verify_dir" -> s"${c.work}/verify"))
  }

  // ----------------------------------------------------------------- shared

  private def warmSeconds(c: Ctx): Int = (c.seconds + 1) / 2

  /** Call `f(0), f(1), ...` until `seconds` have passed and at least
    * `atLeast` calls were made. */
  def loopFor[T](seconds: Int, atLeast: Int)(f: Int => T): Seq[T] = {
    val t0 = System.nanoTime()
    val out = mutable.ArrayBuffer.empty[T]
    while (out.size < atLeast || System.nanoTime() - t0 < seconds * 1000000000L)
      out += f(out.size)
    out.toSeq
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val out = f; (out, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest-percentile sample with at least 10 samples above it, and
    * which percentile that is of how many. */
  def tailOf(xs: Seq[Double]): (Double, String) = {
    val s = xs.sorted; val n = s.size
    if (n == 0) (Double.NaN, "no samples")
    else if (n <= 10) (s.last, s"max of n=$n (fewer than 11 samples)")
    else (s(n - 11), f"p${100.0 * (n - 10) / n}%.0f of n=$n")
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }.getOrElse(Double.NaN)

  /** CPU steal share and load average over a timed region, read the way
    * tools/boxprobe.py reads them (/proc/stat field 8, /proc/loadavg). */
  final class Box private (steal0: Long, total0: Long) {
    def end(): Map[String, String] = {
      val (s1, t1) = Box.jiffies()
      val steal = if (t1 > total0) 100.0 * (s1 - steal0) / (t1 - total0) else 0.0
      val load = new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0)
      Map("box.steal_pct" -> f"$steal%.2f", "box.load_1m" -> load)
    }
  }
  object Box {
    def jiffies(): (Long, Long) = {
      val v = Files.readAllLines(Paths.get("/proc/stat")).get(0).split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.sum)
    }
    def start(): Box = { val (s, t) = jiffies(); new Box(s, t) }
  }
}
