package graft.streaming

import java.io.{FileNotFoundException, IOException}
import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.orc.OrcFile
import org.apache.orc.mapred.OrcStruct
import org.apache.orc.mapreduce.OrcMapreduceRecordReader
import org.apache.spark.{GraftStages, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Encoders, GraftOutputMetrics,
  SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  BoundReference, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual,
  InSet, JoinedRow, LeafExpression, LessThan, LessThanOrEqual, Literal,
  Predicate, SpecificInternalRow, UnaryExpression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  CodeGenerator, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.planning.ScanOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{CoalescedPartitionSpec, FilterExec,
  SQLExecution, ShufflePartitionSpec, ShuffledRowRDD, SparkPlan, SparkStrategy,
  UnsafeExternalRowSorter, UnsafeRowSerializer}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  FileSourceStrategy, FileStatusCache, HadoopFsRelation, InMemoryFileIndex,
  LogicalRelation, OutputWriter, OutputWriterFactory, PartitionDirectory,
  RecordReaderIterator}
import org.apache.spark.sql.execution.datasources.orc.{OrcDeserializer,
  OrcFileFormat, OrcUtils}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.metric.{SQLShuffleReadMetricsReporter,
  SQLShuffleWriteMetricsReporter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.{CollectionAccumulator, SerializableConfiguration}
import org.apache.spark.util.collection.unsafe.sort.PrefixComparators
import graft.io.LocalFs

/** Offset-named, rotation-chunked, idempotent ORC sink — the one piece of the
  * reference that Spark's file sink does not provide (SURVEY.md §4
  * "Conclusion"): Spark invents opaque part-file names, while the reference
  * commits deterministic keys
  * `topics/<topic>/partition=<p>/<topic>+<p>+<%010d startOffset>.orc`
  * (`FileUtils.java:10-26`, pad format `DataWriterOrcTest.java:38`, delims
  * `TestWithMockedS3.java:40-41`; `#`→`_` sanitizer `OrcRecordWriter.java:50`
  * — we use `+` directly, the production delimiter). Final layout matches the
  * reference exactly: offset-named files directly under `partition=<p>/`.
  *
  * Design for scale:
  *  - rotation (flush.size, reference O9) = offset-range chunking, computed
  *    as a column, so the whole write stays distributed;
  *  - a commit is two Spark stages, the reference's one `RecordWriter` per
  *    output file (`OrcRecordWriterProvider.java:11-31`): the map stage of
  *    a shuffle hash-partitions the batch on the leaf key — its one scan —
  *    and reports the touched leaves; one reduce job then writes each leaf
  *    as exactly one ORC file, sorted by offset, in its `_chunk=` staging
  *    dir, with the leaves dealt in even runs over min(#leaves,
  *    defaultParallelism) tasks so the files are written in parallel. The
  *    batch is planned once; nothing is re-planned between the stages;
  *  - re-processing an offset range is idempotent (reference O11's
  *    `overwrite(true)` recovery contract, `DataWriterOrcTest.java:102-124`):
  *    the hoist replaces a leaf's committed file with the staged one, and
  *    the task writing a leaf reads the rows it already holds back from
  *    the leaf's probed files and deduplicates them by offset;
  *  - the rename to reference-style names is a driver-side, metadata-only
  *    pass that in steady state touches ONLY this batch's `(partition,
  *    chunk)` dirs — O(files-in-this-batch) FS ops per commit, independent
  *    of how many files the topic has accumulated. The full directory walk
  *    exists only on the recovery path, gated by an in-flight marker: it
  *    runs at most once after a crash, never per batch;
  *  - every read (`read`, `readRange`, `readAsOf`, `readAsOfStr`) is
  *    Spark's ORC file scan over one committed-file index (`sinkRelation`).
  *    It skips files at planning time: a pushed `column <op> literal`
  *    conjunct on `offset` is judged against the chunk range in each
  *    file's name, and one on a tracked stats column against the cell's
  *    `_graft_stats` line. The `Filter` above the scan reads its window
  *    values from the generated code's references (`ParamLiterals`), so a
  *    lookup with a new window reuses the compiled code of the last one.
  *    The window reads build the index from the statuses their exact-name
  *    probes return, so planning them lists nothing and runs no job.
  *
  * Durability protocol (one commit per rotation file, `FileUtils.java:10-26`):
  *  1. `_graft_inflight` marker is created (listing the touched leaves);
  *  2. the reduce job stages one file per touched leaf in a transient
  *     `_chunk=` dir;
  *  3. the touched staging dirs are hoisted to committed offset names;
  *  4. the marker is deleted.
  * A crash anywhere in 1–4 leaves the marker behind; the next `write` (or
  * `read`) sees it and runs the full-walk recovery, which re-hoists whatever
  * staging dirs survive — hoisted data is by construction a dedup-safe
  * superset of what it replaces. No marker ⇒ layout is clean by protocol.
  *
  * The per-topic-dir configuration (flush.size, layout) is persisted in a
  * `_graft_sink.conf` marker on first write and enforced on every subsequent
  * write: a mismatched flush.size would probe existing files on the wrong
  * chunk grid and silently commit overlapping data, so it fails fast instead.
  */
object OffsetNamedOrcSink {

  val ChunkCol = "_chunk"
  val DtCol = "dt"

  private val InflightMarker = "_graft_inflight"
  private val StatsMarker = "_graft_stats"
  /** All-null sentinel for a STRING stats bound — always qualifies. A bare
    * '!' can never come out of URLEncoder ('!' encodes to %21), so the
    * token is collision-free against real values.
    */
  private val StrStatsNull = "!null"
  private val ConfigMarker = "_graft_sink.conf"
  private val SchemaMarker = "_graft_schema.json"

  /** Output directory layout under `topics/<topic>/` (the reference's
    * partitioner surface, `S3SinkConnectorTestBase.java:62-64`:
    * `partition.field.name` / `path.format` / timezone).
    */
  sealed trait Layout
  object Layout {
    /** `partition=<p>/` — the reference's default kafka-partition router. */
    case object KafkaPartition extends Layout
    /** `dt=<formatted record timestamp>/partition=<p>/` — the reference's
      * time-based partitioner (`path.format`). Chunking stays on the offset
      * grid per kafka partition (batch-invariant ⇒ idempotent replay); a
      * chunk whose rows straddle a time boundary commits one file per
      * (dt, chunk) — both deterministically named. Formats whose output
      * contains path-special characters (e.g. `yyyy/MM/dd`) are legal: the
      * hoist pass probes the Hive-escaped dir names partitionBy writes.
      */
    final case class TimeDaily(pathFormat: String = "yyyy-MM-dd",
        locale: String = "en") extends Layout
    /** Multi-level time layout + partitioner timezone — the reference's
      * full `path.format` surface (`S3SinkConnectorTestBase.java:62-64`:
      * `'year'=YYYY_'month'=MM_'day'=dd_'hour'=HH` with
      * `timezone=America/Los_Angeles`): one directory level per (name,
      * pattern) pair, e.g. `year=2024/month=08/day=12/hour=14/partition=0/`.
      * Wall-clock rendering is in `timezone` (the session timezone is UTC
      * by project invariant, so `from_utc_timestamp` gives exact tz walls).
      * Level names must match `[A-Za-z0-9_]+` and not collide with the
      * record columns.
      */
    final case class TimeMulti(
        levels: Seq[(String, String)] = Seq(
          "year" -> "yyyy", "month" -> "MM", "day" -> "dd", "hour" -> "HH"),
        timezone: String = "UTC",
        locale: String = "en") extends Layout
    /** `<fieldName>=<value>/partition=<p>/` — the reference's field-based
      * partitioner (`partition.field.name`,
      * `S3SinkConnectorTestBase.java:61`): routes by a VALUE column. The
      * field is stringified into the directory (null → literal "null",
      * matching Connect's String.valueOf) and is not duplicated inside the
      * files — read-back re-derives it from the dir, like any partition
      * column. Values containing path-special characters are Hive-escaped
      * in the dir name and unescaped on read.
      */
    final case class Field(fieldName: String) extends Layout
  }

  /** The persisted identity of a layout (the `_graft_sink.conf` form).
    * Locale (the reference's `"locale"` partitioner config,
    * `S3SinkConnectorTestBase.java:63`) is part of the identity — two
    * locales render different dir names for the same record — but the
    * default "en" keeps the pre-locale id forms, so existing sink dirs
    * stay readable and replayable.
    */
  private def layoutIdOf(layout: Layout): String = layout match {
    case Layout.KafkaPartition => "kafka-partition"
    case Layout.TimeDaily(fmt, "en") => s"time:$fmt"
    case Layout.TimeDaily(fmt, loc) => s"timeloc:$loc|$fmt"
    case Layout.TimeMulti(levels, tz, loc) =>
      val lv = levels.map { case (n, f) => s"$n=$f" }.mkString(",")
      if (loc == "en") s"timev2:$tz|$lv" else s"timev3:$loc|$tz|$lv"
    case Layout.Field(n) => s"field:$n"
  }

  /** The value-derived directory levels above `partition=` for a persisted
    * layout id — how every consumer (readRange, compactTo, streamFromSink,
    * marker recovery) learns the dir shape without guessing from listings.
    */
  private[graft] def prefixColsOf(layoutId: String): Seq[String] =
    if (layoutId == "kafka-partition") Nil
    else if (layoutId.startsWith("time:") || layoutId.startsWith("timeloc:"))
      Seq(DtCol)
    else if (layoutId.startsWith("timev2:"))
      layoutId.stripPrefix("timev2:").split("\\|", 2)(1)
        .split(",").toSeq.map(_.split("=", 2)(0))
    else if (layoutId.startsWith("timev3:"))
      layoutId.stripPrefix("timev3:").split("\\|", 3)(2)
        .split(",").toSeq.map(_.split("=", 2)(0))
    else if (layoutId.startsWith("field:")) Seq(layoutId.stripPrefix("field:"))
    else throw new IllegalStateException(s"unknown sink layout id: $layoutId")

  /** A topic's `_graft_sink.conf` marker: the offset chunk grid, the layout
    * id, the wall-clock rotation, and the type-decorated stats columns (see
    * `statsDecl`), whose ORDER fixes which |mn|mx pair of a stats line
    * belongs to which column. A write compares the stored payload with its
    * own `render` by string equality, so a value renders the same bytes
    * for as long as topics written with it exist.
    */
  private final case class SinkConfig(flushSize: Long, layoutId: String,
      rotateMs: Option[Long] = None, stats: Seq[String] = Nil) {
    def render: String = s"flushSize=$flushSize\nlayout=$layoutId" +
      rotateMs.fold("")(ms => s"\nrotate=$ms") +
      (if (stats.isEmpty) "" else s"\nstats=${stats.mkString(",")}")
    def prefixCols: Seq[String] = prefixColsOf(layoutId)
    /** The stats columns as (name, isString): a bare token is the
      * long-typed form, `name:str` a string-bounded pair.
      */
    def statsSpec: Seq[(String, Boolean)] = stats.map { tok =>
      if (tok.endsWith(":str")) (tok.dropRight(4), true) else (tok, false)
    }
    def statsCols: Seq[String] = statsSpec.map(_._1)
  }

  private object SinkConfig {
    def parse(desc: String): SinkConfig = {
      val kv = desc.linesIterator.flatMap { l =>
        l.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None }
      }.toMap
      SinkConfig(kv.get("flushSize").map(_.toLong).getOrElse(
          throw new IllegalStateException(s"no flushSize in sink config: $desc")),
        kv.getOrElse("layout", "kafka-partition"),
        kv.get("rotate").map(_.toLong),
        kv.get("stats").fold(Seq.empty[String])(_.split(",", -1).toSeq))
    }
  }

  private val LevelName = "[A-Za-z0-9_]+".r
  private val ReservedCols =
    Set("key", "value", "topic", "partition", "offset", "timestamp", ChunkCol)

  /** Fail fast on layout params that would corrupt the persisted config
    * marker, the directory contract, or collide with the record columns.
    */
  private val LocaleTag = "[A-Za-z0-9-]+".r

  private def validateLayout(layout: Layout): Unit = layout match {
    case Layout.TimeDaily(fmt, loc) =>
      require(fmt.nonEmpty && !fmt.exists(c => c == '\n' || c == '|' || c == ','),
        s"TimeDaily pathFormat '$fmt' must be nonempty without newline/|/,")
      require(LocaleTag.pattern.matcher(loc).matches(),
        s"locale '$loc' must be a BCP-47 tag matching [A-Za-z0-9-]+")
    case Layout.TimeMulti(levels, tz, loc) =>
      require(levels.nonEmpty, "TimeMulti needs at least one level")
      require(levels.map(_._1).distinct.size == levels.size,
        s"TimeMulti level names must be unique: ${levels.map(_._1)}")
      levels.foreach { case (n, f) =>
        require(LevelName.pattern.matcher(n).matches() && !ReservedCols(n),
          s"TimeMulti level name '$n' must match [A-Za-z0-9_]+ and not be reserved")
        require(f.nonEmpty && !f.exists(c => c == '\n' || c == '|' || c == ','),
          s"TimeMulti pattern '$f' must be nonempty without newline/|/,")
      }
      require(tz.nonEmpty && !tz.exists(c => c == '\n' || c == '|'),
        s"TimeMulti timezone '$tz' must be nonempty without newline/|")
      require(LocaleTag.pattern.matcher(loc).matches(),
        s"locale '$loc' must be a BCP-47 tag matching [A-Za-z0-9-]+")
    case Layout.Field(n) =>
      require(LevelName.pattern.matcher(n).matches() && !ReservedCols(n),
        s"Field name '$n' must match [A-Za-z0-9_]+ and not be a reserved column")
    case Layout.KafkaPartition => ()
  }

  /** Render `fmt` over `ts` in `locale` (the reference partitioner's
    * `"locale"` config) with PURE BUILT-INS: the quote-aware split below
    * isolates the locale-sensitive name tokens (MMM/MMMM month names,
    * EEE/EEEE day names — the only tokens whose output differs by locale
    * among the partitioner patterns), renders each as an `element_at` over
    * a 12/7-entry literal array of java.time display names, and leaves
    * every other run to `date_format` (numerics and quoted literals are
    * locale-free). For the default "en" this IS `date_format` — Spark
    * formats in Locale.US — so the pre-locale rendering is unchanged.
    */
  private def localizedFormat(ts: Column, fmt: String, locale: String): Column = {
    if (locale == "en") date_format(ts, fmt)
    else {
      val loc = java.util.Locale.forLanguageTag(locale)
      val cols = splitLocaleTokens(fmt).map {
        case Left(seg) => date_format(ts, seg)
        case Right(tok) =>
          val style =
            if (tok.length >= 4) java.time.format.TextStyle.FULL
            else java.time.format.TextStyle.SHORT
          if (tok.head == 'M') {
            val names = (1 to 12).map(m =>
              java.time.Month.of(m).getDisplayName(style, loc))
            element_at(array(names.map(lit): _*), month(ts))
          } else {
            // Spark dayofweek(): 1=Sunday..7=Saturday
            val names = Seq(7, 1, 2, 3, 4, 5, 6).map(d =>
              java.time.DayOfWeek.of(d).getDisplayName(style, loc))
            element_at(array(names.map(lit): _*), dayofweek(ts))
          }
      }
      if (cols.size == 1) cols.head else concat(cols: _*)
    }
  }

  /** Split a datetime pattern into locale-free runs (Left) and
    * locale-sensitive name tokens (Right: MMM/MMMM/EEE/EEEE), respecting
    * single-quoted literals — `'month'=MM` must NOT treat the quoted M as a
    * token. Runs of 5+ (narrow style) are clamped to FULL.
    */
  private[graft] def splitLocaleTokens(fmt: String)
      : Seq[Either[String, String]] = {
    val out = scala.collection.mutable.Buffer[Either[String, String]]()
    val cur = new StringBuilder
    var i = 0
    var inQuote = false
    while (i < fmt.length) {
      val c = fmt.charAt(i)
      if (c == '\'') { inQuote = !inQuote; cur += c; i += 1 }
      else if (!inQuote && (c == 'M' || c == 'E')) {
        var j = i
        while (j < fmt.length && fmt.charAt(j) == c) j += 1
        val run = fmt.substring(i, j)
        if (run.length >= 3) {
          if (cur.nonEmpty) { out += Left(cur.toString); cur.clear() }
          out += Right(run.take(4))
        } else cur ++= run
        i = j
      } else { cur += c; i += 1 }
    }
    if (cur.nonEmpty) out += Left(cur.toString)
    out.toSeq
  }

  /** Schema-drift policy against the latched first-write schema (reference
    * O4 latch `OrcRecordWriter.java:59-69`; compat config surface
    * `S3SinkConnectorTestBase.java:76`).
    */
  sealed trait DriftMode
  object DriftMode {
    /** `schema.compatibility=NONE`: any drift fails the write. */
    case object Reject extends DriftMode
    /** Project onto the latched schema: missing fields become null, extra
      * fields are dropped, matching names are cast to the latched type.
      */
    case object Project extends DriftMode
    /** `schema.compatibility=BACKWARD` (the Connect sink's evolution mode):
      * added fields WIDEN the latch — the persisted `_graft_schema.json`
      * becomes latched ++ new fields and later writes conform to it — while
      * records carrying an OLDER (narrower) schema are projected up onto the
      * current latch with nulls for the missing fields (Connect's
      * SchemaProjector behavior). Only a retyped shared field fails. Files
      * committed before a widening keep their narrower physical schema;
      * `read` declares the latched schema and ORC's name-based column
      * matching surfaces the missing columns as nulls per file.
      */
    case object Backward extends DriftMode
    /** `schema.compatibility=FORWARD`: the latch is the READER contract and
      * never moves — records carrying a NEWER (wider) schema are projected
      * DOWN onto it (added fields dropped: nothing beyond the latch is ever
      * written, so readers of the original schema stay valid), records
      * missing latched fields project up with nulls. Unlike Project, a
      * retyped shared field REFUSES (Project is the lossy-tolerant mode
      * that casts; the compat modes never re-interpret values).
      */
    case object Forward extends DriftMode
    /** `schema.compatibility=FULL`: both directions validated. The
      * reference's own FULL is literally BACKWARD's implementation
      * (kafka-connect-storage-common `StorageSchemaCompatibility.FULL`
      * extends BACKWARD with no overrides), because with nullable fields —
      * all ORC columns here — an ADD is the only evolution that passes both
      * checks, and it is exactly what BACKWARD admits: the latch widens,
      * narrower records project up, and every widened latch remains
      * down-projectable onto each earlier one. Retype fails either check.
      */
    case object Full extends DriftMode
  }

  /** S3A configuration bundle mirroring the reference's storage conf
    * (`OrcRecordWriter.java:133-152` / the connector's `store.url`,
    * path-style and env-credential behavior). Offline-testable: it only
    * sets `fs.s3a.*` keys on a Hadoop `Configuration`; the write path is
    * already scheme-parameterized via the topic dir's URI (`topicFs`).
    */
  final case class S3AConf(
      endpoint: Option[String] = None,
      region: Option[String] = None,
      pathStyleAccess: Boolean = true,
      sslEnabled: Boolean = true,
      credsFromEnv: Boolean = true) {
    def applyTo(conf: Configuration): Unit = {
      endpoint.foreach(conf.set("fs.s3a.endpoint", _))
      region.foreach(conf.set("fs.s3a.endpoint.region", _))
      conf.setBoolean("fs.s3a.path.style.access", pathStyleAccess)
      conf.setBoolean("fs.s3a.connection.ssl.enabled", sslEnabled)
      if (credsFromEnv) {
        for (a <- sys.env.get("AWS_ACCESS_KEY_ID"))
          conf.set("fs.s3a.access.key", a)
        for (s <- sys.env.get("AWS_SECRET_ACCESS_KEY"))
          conf.set("fs.s3a.secret.key", s)
        for (t <- sys.env.get("AWS_SESSION_TOKEN"))
          conf.set("fs.s3a.session.token", t)
      }
    }
  }

  /** Test-only audit of driver-side FS enumeration: every directory listing
    * and file-probe the sink performs is recorded here when enabled, so the
    * spec can assert that a steady-state batch never lists an untouched
    * partition's files (the 100-TB invariant).
    */
  private[graft] object FsAudit {
    @volatile var enabled = false
    val dirsListed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val probes = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def reset(): Unit = { dirsListed.clear(); probes.clear() }
  }

  /** The file system of a topic dir, resolved from its URI under the
    * session's Hadoop conf. A local (`file:`) dir gets `LocalFs`, so the
    * sink's own creates and mkdirs fork no `chmod`.
    */
  private def topicFs(spark: SparkSession, topicDir: String): FileSystem =
    LocalFs.fileSystem(new java.net.URI(topicDir), spark.sparkContext.hadoopConfiguration)

  private def listDir(fs: FileSystem, dir: Path): Seq[FileStatus] = {
    if (FsAudit.enabled) FsAudit.dirsListed.add(dir.toString)
    fs.listStatus(dir).toSeq
  }

  /** File-name form of the topic: `#` → `_`, the reference's sanitizer for
    * committed keys (`OrcRecordWriter.java:50`). Directory names keep the
    * raw topic (matching the reference's `topics/<topic>/` layout).
    */
  private def fileTopic(topic: String): String = topic.replace('#', '_')

  /** A rotation cell id as staged in `_chunk=<cell>` dirs: the offset-chunk
    * start, optionally suffixed `t<timeBucket>` when wall-clock (event-time)
    * rotation is on — e.g. "250" or "250t473621". Both components are pure
    * functions of the record, so the cell grid is batch-invariant (the
    * idempotent-replay requirement the offset grid already satisfies).
    */
  private def cellParts(cell: String): (Long, Option[String]) =
    cell.split("t", 2) match {
      case Array(c) => (c.toLong, None)
      case Array(c, b) => (c.toLong, Some(b))
    }

  /** A committed file name's fields as written: the partition, the
    * zero-padded offset chunk, and `prefix`, the name up to the end of its
    * cell (the `CommittedName.prefix` of that cell).
    */
  private[graft] final case class CommittedName(partition: String, chunk: String,
      prefix: String)

  /** Every committed file name:
    * `<topic>+<partition>+<%010d chunk>[+t<time bucket>][-N].orc` — the
    * reference's `FileUtils.fileKeyToCommit` naming, extended with
    * `+t<bucket>` under wall-clock rotation, and a `-N` suffix for extra
    * files of one cell. Formatted by `prefix` and parsed by `parse` and
    * `Tail` only.
    */
  private[graft] object CommittedName {
    /** The name after `<topic>`, anchored at its end, so it also matches a
      * whole path (Spark's `regexp_extract` over `input_file_name()`):
      * group 1 is the partition, group 2 the offset chunk, group 3 the time
      * bucket (empty when rotation is off).
      */
    val Tail = raw"\+(\d+)\+(\d+)(?:\+t(-?\d+))?(?:-\d+)?\.orc$$"
    private val TailRe = Tail.r

    /** The committed name of a cell, up to its `[-N].orc` ending. */
    def prefix(topic: String, partition: String, cell: String): String = {
      val (chunk, bucket) = cellParts(cell)
      f"${fileTopic(topic)}+$partition+$chunk%010d" + bucket.fold("")(b => s"+t$b")
    }

    /** A cell's `n`-th committed file: `<prefix>.orc`, then `<prefix>-<n>.orc`. */
    def file(prefix: String, n: Int): String =
      if (n == 0) s"$prefix.orc" else s"$prefix-$n.orc"

    /** The fields of `name` if it is a committed name of `topic`. */
    def parse(topic: String, name: String): Option[CommittedName] = {
      val t = fileTopic(topic)
      if (!name.startsWith(t)) None
      else TailRe.findPrefixMatchOf(name.substring(t.length)).map { m =>
        CommittedName(m.group(1), m.group(2),
          name.substring(0, t.length + (if (m.group(3) != null) m.end(3) else m.end(2))))
      }
    }
  }

  /** One output leaf touched by the current batch. `prefix` carries the
    * value-derived dir levels as (dirName, RAW value) pairs, in layout
    * order; `partitionDir` applies the same Hive escaping `partitionBy`
    * uses when it writes the dirs (ADVICE r3: probing the raw value would
    * miss any dir whose value contains path-special chars — e.g.
    * TimeDaily("yyyy/MM/dd") — stranding staged chunks forever).
    */
  private final case class Touched(prefix: Seq[(String, String)],
      partition: Int, cell: String) {
    def partitionDir(root: Path): Path = {
      val base = prefix.foldLeft(root) { case (p, (n, v)) =>
        new Path(p, s"$n=${org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.escapePathName(v)}")
      }
      new Path(base, s"partition=$partition")
    }
    def filePrefix(topic: String): String =
      CommittedName.prefix(topic, partition.toString, cell)
    /** The leaf's line in the in-flight marker, and the key of its
      * `_graft_stats` line: url-encoded prefix values, partition and cell,
      * '|'-joined. URL-encoding makes the split unambiguous for arbitrary
      * Field values ('|', newline, '%' all encode away); TimeDaily's
      * default-format values contain no '%', so legacy raw-dt markers decode
      * unchanged.
      */
    def markerLine: String =
      (prefix.map(p => URLEncoder.encode(p._2, "UTF-8")) ++
        Seq(partition.toString, cell)).mkString("|")
  }

  private object Touched {
    private val Cell = raw"\d+(?:t-?\d+)?".r

    /** The leaf whose `markerLine` leads `fields`, the '|'-split fields of
      * an in-flight marker line or a `_graft_stats` line, on a layout with
      * the dir levels `prefixNames`. None when those fields are no key.
      */
    def parse(fields: Array[String], prefixNames: Seq[String]): Option[Touched] = {
      val n = prefixNames.size
      if (fields.size < n + 2 || !Cell.matches(fields(n + 1))) None
      else try {
        cellParts(fields(n + 1)) // the chunk must fit a long
        Some(Touched(prefixNames.zip(fields.take(n).map(URLDecoder.decode(_, "UTF-8"))),
          fields(n).toInt, fields(n + 1)))
      } catch { case _: IllegalArgumentException => None } // incl. NumberFormatException
    }
  }

  /** Write a Kafka-shaped DataFrame (key, value:struct, topic, partition,
    * offset, timestamp) as offset-named ORC files. Returns the topic dir.
    *
    * One `commit`: the batch is planned and scanned once, by the map stage
    * that also finds its touched leaves; a second job writes them (a third
    * first folds their `_graft_stats` lines on a `statsColumns` topic).
    *
    * Chunk-spanning batches: a rotation chunk only partially covered by this
    * batch may already hold rows from an earlier batch (micro-batch
    * boundaries are not flush-size-aligned). The chunk's staged file
    * replaces its committed one, so between the two stages the touched
    * chunks' existing files are located exactly, by their deterministic
    * names, and the task writing a chunk reads them back and deduplicates
    * its rows by offset. The committed files it reads are deleted only by
    * the hoist, after the job has ended. Replay-safe AND
    * batch-boundary-safe. Cost is O(touched chunks × flushSize), never
    * O(output).
    */
  def write(df: DataFrame, outDir: String, flushSize: Long,
      topic: String = "events",
      layout: Layout = Layout.KafkaPartition,
      drift: DriftMode = DriftMode.Reject,
      s3a: Option[S3AConf] = None,
      rotateMs: Option[Long] = None,
      orcOptions: Map[String, String] = Map.empty,
      statsColumns: Seq[String] = Nil): String = {
    require(flushSize > 0, "flush.size must be positive")
    require(statsColumns.distinct == statsColumns,
      s"duplicate stats columns: ${statsColumns.mkString(", ")}")
    require(rotateMs.forall(_ > 0), "rotate interval must be positive")
    // Topic values become filesystem path components. Kafka-legal names
    // ([a-zA-Z0-9._-]) can never escape the topics dir, but writeMulti feeds
    // DATA-carried topic strings here and nothing upstream enforces Kafka's
    // charset on an arbitrary DataFrame — a '/' or '..' would write outside
    // the intended dir. '#' is additionally admitted (the reference's test
    // delimiter, sanitized to '_' in file names). '.'/'..' exactly are path
    // navigation, not names.
    require(topic.nonEmpty && topic != "." && topic != ".." &&
        topic.forall(c => c.isLetterOrDigit && c < 128 || "._-#".contains(c)),
      s"illegal topic name '$topic': must match [a-zA-Z0-9._#-]+")
    val spark = df.sparkSession
    s3a.foreach(_.applyTo(spark.sparkContext.hadoopConfiguration))

    val topicDir = s"$outDir/topics/$topic"
    val root = new Path(topicDir)
    val fs = topicFs(spark, topicDir)

    validateLayout(layout)
    ensureConfig(fs, root, flushSize, layout, rotateMs,
      statsDecl(df, statsColumns))
    val conformed = conformValueSchema(fs, root, df, drift)

    val prefixCols: Seq[String] = prefixColsOf(layoutIdOf(layout))
    val partCols: Seq[String] = prefixCols ++ Seq("partition", ChunkCol)
    // start offset of the file this record rotates into (O9/O10). With
    // wall-clock rotation (the reference connector surface's
    // rotate.interval.ms), the cell additionally carries the EVENT-time
    // bucket floor(ts_millis / rotateMs) — event time, not processing time,
    // because only a pure function of the record keeps file names
    // batch-invariant under replay (the same determinism contract as the
    // offset grid). Null timestamps land in bucket 0 (the epoch bucket),
    // deterministically.
    val offChunk = col("offset") - pmod(col("offset"), lit(flushSize))
    val chunk = rotateMs match {
      case None => offChunk
      case Some(ms) =>
        val bucket = floor(unix_millis(coalesce(col("timestamp"),
          timestamp_millis(lit(0L)))) / lit(ms.toDouble)).cast("long")
        concat(offChunk.cast("string"), lit("t"), bucket.cast("string"))
    }
    // null prefix values must not fall through to Spark's
    // __HIVE_DEFAULT_PARTITION__ null dir: the hoist pass probes the dir
    // VALUE, so a null would strand the staged file (and poison every
    // later read with mixed partition depths). Route them to explicit
    // literal dirs instead ("unknown" for time, "null" for field values —
    // the latter matching Connect's String.valueOf rendering).
    val withPrefix = layout match {
      case Layout.TimeDaily(fmt, loc) =>
        conformed.withColumn(DtCol,
          coalesce(localizedFormat(col("timestamp"), fmt, loc), lit("unknown")))
      case Layout.TimeMulti(levels, tz, loc) =>
        // session tz is UTC by project invariant, so from_utc_timestamp
        // renders exact wall-clock values in the partitioner timezone
        levels.foldLeft(conformed) { case (acc, (n, f)) =>
          acc.withColumn(n, coalesce(
            localizedFormat(from_utc_timestamp(col("timestamp"), tz), f, loc),
            lit("unknown")))
        }
      case Layout.Field(name) =>
        conformed.withColumn(name,
          coalesce(col("value").getField(name).cast("string"), lit("null")))
      case Layout.KafkaPartition => conformed
    }
    // Field layout: the routed field lives in the dir, not in the file —
    // emitting it from value.* too would collide with the partition column
    val valueFields = conformed.schema("value").dataType
      .asInstanceOf[StructType].fieldNames.toSeq
    val emittedValue = layout match {
      case Layout.Field(name) => valueFields.filterNot(_ == name)
      case _ => valueFields
    }
    val flat = withPrefix
      .withColumn(ChunkCol, chunk)
      .select(partCols.map(col) ++ (col("offset") +:
        emittedValue.map(n => col("value").getField(n).as(n))): _*)

    // per-cell column stats (file-skipping metadata, the Delta-log idea) are
    // recorded BEFORE anything is staged, so a crash mid-commit leaves stats
    // that describe the post-recovery content: each touched cell's new
    // content is its batch rows plus its read-back, exactly what the
    // commit's stats job folds
    commit(spark, fs, root, topic, flat, partCols, orcOptions, statsColumns) { touched =>
      // a crash inside a previous commit left merged rows inside `_chunk=`
      // staging dirs: hoisting them makes the name-based probes below
      // complete again
      recoverIfCrashed(fs, root, clear = true)
      // the touched leaves' existing files have deterministic names, so the
      // read-back probes exactly those names (never a directory scan)
      touched.map(t => committedChunkFiles(fs, t.partitionDir(root), t.filePrefix(topic)))
    }
    topicDir
  }

  /** The distinct output leaves of a flattened DataFrame — `deleteRows`'
    * predicate read, which commits nothing itself. One driver-side collect,
    * bounded by the leaves that hold a matching row (prefix cols cast to
    * string: the batch API builds them as strings, but a sink read may
    * infer other types from the dirs). Each input partition is
    * deduplicated in its task and the driver merges the rest: one job and
    * no shuffle.
    */
  private def touchedLeaves(flat: DataFrame, partCols: Seq[String]): Seq[Touched] = {
    val prefixNames = partCols.dropRight(2)
    val leaves = flat.select(prefixNames.map(n => col(n).cast("string")) ++
      Seq(col("partition").cast("int"), col(ChunkCol).cast("string")): _*)
    leaves.mapPartitions(_.distinct)(Encoders.row(leaves.schema))
      .collect().distinct.toSeq.map { r =>
      Touched(prefixNames.zipWithIndex.map { case (n, i) => n -> r.getString(i) },
        r.getInt(prefixNames.size), r.getString(prefixNames.size + 1))
    }
  }

  /** Shuffle buckets per core in a commit's map stage. A reduce task reads
    * the bucket range its leaves hash to and drops the rows of the leaves a
    * neighbour task owns in a shared edge bucket; more buckets mean fewer
    * such rows. Balance does not depend on it (see `commit`).
    */
  private val BucketsPerCore = 4

  /** The shared commit step (write, compactTo, deleteRows): two Spark
    * stages, each started from the driver, around the on-disk protocol.
    *
    *  1. The map stage of a shuffle that hash-partitions `rows` on the leaf
    *     key into a fixed number of buckets. It is the only scan of `rows`,
    *     and each map task reports the distinct leaves it saw, so the
    *     touched leaves arrive with it.
    *  1. `between` runs on the driver with the touched leaves (also when
    *     there are none): the caller's recovery check and probes. It
    *     returns the committed files each leaf's new file replaces; with
    *     `readBack` their rows are merged into it.
    *  1. On `statsCols` topics, one reduce job folds each leaf's row count,
    *     min and max into its `_graft_stats` line, written before anything
    *     is staged — or, with `statsAfterHoist`, after the hoist.
    *  1. The in-flight marker lists every touched leaf; one reduce job
    *     stages each leaf's file in its `_chunk=` dir (`LeafTasks` feeding
    *     `LeafWriter`); each staged file is hoisted to its committed name
    *     in place of the files it replaces; the marker is deleted.
    *
    * `rows` is planned once, and nothing is re-planned between the stages.
    * The writers' Hadoop conf is built and broadcast while stage 1 runs.
    * Never a directory walk. Returns the touched leaves.
    *
    * Balance: the leaves, ordered by bucket, are dealt in contiguous runs
    * to min(#leaves, defaultParallelism) reduce tasks, so no task writes
    * more than ⌈leaves / tasks⌉ files whatever the hash collisions. A task
    * reads its run's bucket range; an edge bucket shared with a neighbour
    * is read by both, each keeping only its own leaves' rows.
    */
  private def commit(spark: SparkSession, fs: FileSystem, root: Path,
      topic: String, rows: DataFrame, partCols: Seq[String],
      orcOptions: Map[String, String], statsCols: Seq[String] = Nil,
      statsAfterHoist: Boolean = false, readBack: Boolean = true)(
      between: Seq[Touched] => Seq[Seq[FileStatus]]): Seq[Touched] = {
    val sc = spark.sparkContext
    val dataCols = rows.columns.toSeq.filterNot(partCols.contains)
    statsCols.foreach(c => require(dataCols.contains(c),
      s"stats column '$c' is not an emitted column (${rows.columns.mkString(", ")})"))
    val qe = rows.queryExecution
    val attrs = qe.executedPlan.output
    val keyOrdinals = partCols.map(rows.columns.indexOf(_))
    val keyAttrs = keyOrdinals.map(attrs)
    val buckets = HashPartitioning(keyAttrs, BucketsPerCore * sc.defaultParallelism)
    val seen = new CollectionAccumulator[UnsafeRow]
    sc.register(seen)
    val leafKey = keyOrdinals.map(i => BoundReference(i, attrs(i).dataType, nullable = true))
    val dataSchema = nullable(StructType(dataCols.map(rows.schema(_)))).asInstanceOf[StructType]
    // under the plan's SQL execution, so streaming progress and the SQL UI
    // see the scan
    val shuffle = SQLExecution.withNewExecutionId(qe, Some(s"commit $root")) {
      val input = qe.toRdd
      if (input.getNumPartitions == 0) None
      else {
        val dep = ShuffleExchangeExec.prepareShuffleDependency(
          input.mapPartitions(trackLeaves(_, leafKey, seen)), attrs, buckets,
          new UnsafeRowSerializer(attrs.size, null),
          SQLShuffleWriteMetricsReporter.createShuffleWriteMetrics(sc))
        val stage = GraftStages.submit(sc, dep)
        // the writers' conf is built while the map stage runs; if either
        // fails, the stage stops and what was built goes with its shuffle
        val built = scala.util.Try(writerConf(spark, orcOptions, dataSchema))
        try {
          val (factory, conf) = built.get
          stage.get()
          Some((dep, factory, conf))
        } catch { case e: Throwable =>
          if (!stage.isCompleted) stage.cancel()
          built.foreach(_._2.destroy())
          GraftStages.release(sc, dep)
          throw e
        }
      }
    }
    try {
      val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
      val nPrefix = partCols.size - 2
      val render = UnsafeProjection.create(keyAttrs.indices.map(i =>
        Cast(BoundReference(i, keyAttrs(i).dataType, nullable = true),
          if (i == nPrefix) IntegerType else StringType, tz)))
      val bucketOf = UnsafeProjection.create(Seq(buckets.partitionIdExpression), keyAttrs)
      val leaves = seen.value.asScala.toSeq.distinct.map { k =>
        val r = render(k)
        (bucketOf(k).getInt(0), Touched(
          partCols.take(nPrefix).zipWithIndex.map { case (n, i) => n -> r.getUTF8String(i).toString },
          r.getInt(nPrefix), r.getUTF8String(nPrefix + 1).toString), k)
      }.sortBy { case (b, t, _) => (b, t.markerLine) }
      val touched = leaves.map(_._2)
      val replaced = between(touched)
      for ((dep, factory, conf) <- shuffle if touched.nonEmpty) {
        val n = math.min(touched.size, sc.defaultParallelism)
        val runs = Array.tabulate(n + 1)(t => t * touched.size / n) // task t: leaves [runs(t), runs(t + 1))
        val reduce = new ShuffledRowRDD(dep,
          SQLShuffleReadMetricsReporter.createShuffleReadMetrics(sc),
          Array.tabulate[ShufflePartitionSpec](n)(t =>
            CoalescedPartitionSpec(leaves(runs(t))._1, leaves(runs(t + 1) - 1)._1 + 1)))
        val tasks = new LeafTasks(attrs.map(_.dataType).toArray, keyOrdinals.toArray,
          dataCols.map(rows.columns.indexOf(_)).toArray, dataSchema,
          leaves.map(_._3).toArray, runs,
          (if (readBack) replaced else touched.map(_ => Nil))
            .map(_.map(f => (f.getPath.toString, f.getLen)).toArray).toArray,
          spark.sessionState.conf.caseSensitiveAnalysis, conf)
        val stats = if (statsCols.isEmpty) Map.empty[Touched, String] else {
          val isStr = statsCols.map(dataSchema(_).dataType == StringType)
          val values = statsCols.zip(isStr).map { case (c, str) =>
            val v = BoundReference(1 + dataSchema.fieldIndex(c), dataSchema(c).dataType, nullable = true)
            if (str) v else Cast(v, LongType, tz)
          }
          sc.runJob(reduce, (ctx: TaskContext, it: Iterator[InternalRow]) =>
              statsTails(tasks.rows(ctx, it), values, isStr.toArray))
            .flatten.map { case (l, tail) =>
              touched(l) -> s"${touched(l).markerLine}|$tail"
            }.toMap
        }
        val prefixNames = partCols.take(nPrefix)
        if (!statsAfterHoist) rewriteStats(fs, root, prefixNames, stats)
        val inflight = new Path(root, InflightMarker)
        writeMarker(fs, inflight, touched.map(_.markerLine).mkString("\n"))
        val writer = new LeafWriter(touched.map(stagingDir(root, _).toString).toArray,
          factory, dataSchema, conf)
        sc.runJob(reduce, (ctx: TaskContext, it: Iterator[InternalRow]) =>
          writer.write(ctx, tasks.rows(ctx, it)))
        touched.zip(replaced).foreach { case (t, old) => hoistStaged(fs, root, topic, t, old) }
        fs.delete(inflight, false)
        if (statsAfterHoist) rewriteStats(fs, root, prefixNames, stats)
      }
      touched
    } finally shuffle.foreach { case (dep, _, conf) =>
      GraftStages.release(sc, dep)
      conf.destroy()
    }
  }

  /** The ORC writer factory of a commit's leaf files, and the Hadoop conf
    * its tasks use, broadcast: the session's conf with `orcOptions`. One
    * broadcast serves the read-back and the writers; their local files go
    * through LocalFs, like the driver's (`topicFs`).
    */
  private def writerConf(spark: SparkSession, orcOptions: Map[String, String],
      dataSchema: StructType): (OutputWriterFactory, Broadcast[SerializableConfiguration]) = {
    val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(orcOptions))
    val factory = new OrcFileFormat().prepareWrite(spark, job, orcOptions, dataSchema)
    LocalFs.mapFileScheme(job.getConfiguration)
    (factory, spark.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration)))
  }

  /** Stage 1's pass over one input partition: the rows go on to the
    * shuffle unchanged, and once they are exhausted the distinct leaf keys
    * among them are added to `seen`.
    */
  private def trackLeaves(rows: Iterator[InternalRow], key: Seq[Expression],
      seen: CollectionAccumulator[UnsafeRow]): Iterator[InternalRow] = {
    val keyOf = UnsafeProjection.create(key)
    val leaves = new java.util.HashSet[UnsafeRow]()
    new Iterator[InternalRow] {
      override def hasNext: Boolean = rows.hasNext || {
        leaves.forEach(k => seen.add(k))
        leaves.clear()
        false
      }
      override def next(): InternalRow = {
        val r = rows.next()
        val k = keyOf(r)
        if (!leaves.contains(k)) leaves.add(k.copy())
        r
      }
    }
  }

  /** Each leaf's `_graft_stats` line after its key — `n_rows|mn1|mx1|…` —
    * folded over its rows as `LeafTasks.rows` yields them (sorted, and
    * deduplicated when the commit deduplicates). `values` are the stats
    * columns over those rows, strings as they are and the rest cast to
    * long. Strings compare as UTF-8 bytes; a column with no non-null value
    * in the leaf records its all-null sentinel pair.
    */
  private def statsTails(rows: Iterator[InternalRow], values: Seq[Expression],
      isStr: Array[Boolean]): Array[(Int, String)] = {
    val value = UnsafeProjection.create(values)
    val k = isStr.length
    val any = new Array[Boolean](k)
    val (loL, hiL) = (new Array[Long](k), new Array[Long](k))
    val (loS, hiS) = (new Array[UTF8String](k), new Array[UTF8String](k))
    val out = Array.newBuilder[(Int, String)]
    var leaf = -1
    var n = 0L
    def emit(): Unit = if (leaf >= 0)
      out += leaf -> (n.toString +: (0 until k).flatMap { i =>
        if (!any(i)) if (isStr(i)) Seq(StrStatsNull, StrStatsNull)
          else Seq(Long.MinValue.toString, Long.MaxValue.toString)
        else if (isStr(i)) Seq(loS(i), hiS(i)).map(s => URLEncoder.encode(s.toString, "UTF-8"))
        else Seq(loL(i).toString, hiL(i).toString)
      }).mkString("|")
    rows.foreach { r =>
      if (r.getInt(0) != leaf) {
        emit()
        leaf = r.getInt(0)
        n = 0L
        java.util.Arrays.fill(any, false)
      }
      n += 1
      val v = value(r)
      var i = 0
      while (i < k) {
        if (!v.isNullAt(i)) {
          if (isStr(i)) {
            val s = v.getUTF8String(i)
            if (!any(i) || s.compareTo(loS(i)) < 0) loS(i) = s.clone()
            if (!any(i) || s.compareTo(hiS(i)) > 0) hiS(i) = s.clone()
          } else {
            val x = v.getLong(i)
            if (!any(i) || x < loL(i)) loL(i) = x
            if (!any(i) || x > hiL(i)) hiL(i) = x
          }
          any(i) = true
        }
        i += 1
      }
    }
    emit()
    out.result()
  }

  /** Replace the `_graft_stats` lines of the `fresh` cells (cell → line)
    * and drop those of the `gone` cells, on a layout with the dir levels
    * `prefixNames`. Other cells' lines, and lines that name no cell, are
    * kept, and the file is rewritten in full, sorted.
    *
    * One line per committed cell,
    * `<enc prefix values>|partition|cell|n_rows|mn1|mx1|mn2|mx2|…`: the
    * cell ROW COUNT (a Delta log's numRecords: catalog-only `count(*)`, no
    * data scan), then one |mn|mx pair per stats column in the CONFIG-MARKER
    * ORDER (the multi-column generalization a Delta/Iceberg log keeps, so
    * readAsOf pruning composes across predicates on different columns). A
    * string column's bounds are URL-encoded (the encoding '|'/newline-
    * escapes, so the split stays unambiguous) and its all-null sentinel is
    * the literal token `!null` — URLEncoder never emits a bare '!', so the
    * sentinel cannot collide with a real value. The format is
    * self-describing by FIELD COUNT: pre-rowcount lines are one field
    * shorter and every reader dispatches per line, so mixed-era markers (old
    * cells untouched, replayed cells fresh) parse exactly.
    */
  private def rewriteStats(fs: FileSystem, root: Path, prefixNames: Seq[String],
      fresh: Map[Touched, String], gone: Set[Touched] = Set.empty): Unit = {
    if (fresh.isEmpty && gone.isEmpty) return
    val statsPath = new Path(root, StatsMarker)
    val old = readMarker(fs, statsPath)
    if (fresh.isEmpty && old.isEmpty) return
    val kept = old.fold(Seq.empty[String])(_.linesIterator.filter(_.nonEmpty).toSeq)
      .filterNot(l => Touched.parse(l.split("\\|", -1), prefixNames)
        .exists(t => fresh.contains(t) || gone(t)))
    writeMarker(fs, statsPath, (kept ++ fresh.values).sorted.mkString("\n"))
  }

  /** The name a staged leaf file ends up with in its `_chunk=` dir. */
  private val PartFile = "part-00000.orc"

  /** Column carrying each reduce row's index into the touched leaves. */
  private val LeafCol = "_leaf"

  /** The reduce side of a commit, shared by its stats and write jobs. Task
    * t's rows are (leaf index, data columns…) for the leaves
    * [runs(t), runs(t + 1)), sorted by leaf then offset: the rows of its
    * bucket range that carry one of its leaf keys, plus its leaves'
    * read-back. A read-back row takes its leaf from the file it came from,
    * and is read with `dataSchema` — the latched schema — so a file written
    * before a Backward widening null-fills the added columns by name.
    *
    * A replayed offset meets its committed copy only through the
    * read-back, so only a commit with a read-back deduplicates: a leaf
    * keeps the first row of each offset — per leaf, i.e. per partition:
    * offsets are unique only per partition (Kafka contract).
    */
  private final class LeafTasks(inputTypes: Array[DataType], keyOrdinals: Array[Int],
      dataOrdinals: Array[Int], dataSchema: StructType, keys: Array[UnsafeRow],
      runs: Array[Int], readBack: Array[Array[(String, Long)]],
      caseSensitive: Boolean, conf: Broadcast[SerializableConfiguration])
      extends Serializable {
    private val dedup = readBack.exists(_.nonEmpty)
    private val offsetAt = 1 + dataSchema.fieldIndex("offset")

    def rows(ctx: TaskContext, shuffled: Iterator[InternalRow]): Iterator[InternalRow] = {
      val mine = runs(ctx.partitionId()) until runs(ctx.partitionId() + 1)
      val leafOf = new java.util.HashMap[UnsafeRow, Integer]()
      mine.foreach(l => leafOf.put(keys(l), l))
      val keyOf = UnsafeProjection.create(keyOrdinals.toSeq.map(i =>
        BoundReference(i, inputTypes(i), nullable = true)))
      def tagged(cols: Seq[(Int, DataType)]) = UnsafeProjection.create(
        BoundReference(0, IntegerType, nullable = false) +:
          cols.map { case (i, t) => BoundReference(1 + i, t, nullable = true) })
      val fromBatch = tagged(dataOrdinals.toSeq.map(i => i -> inputTypes(i)))
      val fromFile = tagged(dataSchema.fields.toSeq.map(_.dataType).zipWithIndex.map(_.swap))
      val leaf = new SpecificInternalRow(Seq(IntegerType))
      val joined = new JoinedRow
      val sorter = UnsafeExternalRowSorter.create(
        StructType(StructField(LeafCol, IntegerType, nullable = false) +: dataSchema.fields),
        new LeafOffsetOrdering(offsetAt), PrefixComparators.LONG, new LeafPrefix,
        GraftStages.pageSizeBytes, false)
      shuffled.foreach { r =>
        val l = leafOf.get(keyOf(r))
        if (l != null) {
          leaf.setInt(0, l)
          sorter.insertRow(fromBatch(joined(leaf, r)))
        }
      }
      if (dedup) {
        val taskConf = new Configuration(conf.value.value)
        mine.foreach { l =>
          leaf.setInt(0, l)
          readBack(l).foreach { case (path, len) =>
            readOrc(ctx, taskConf, path, len).foreach(r => sorter.insertRow(fromFile(joined(leaf, r))))
          }
        }
      }
      val sorted = sorter.sort()
      if (!dedup) sorted
      else {
        var lastLeaf = -1
        var lastOffset = 0L
        sorted.filter { r =>
          val keep = r.getInt(0) != lastLeaf || r.getLong(offsetAt) != lastOffset
          lastLeaf = r.getInt(0)
          lastOffset = r.getLong(offsetAt)
          keep
        }
      }
    }

    /** One committed ORC file's rows in `dataSchema`, matched by name. */
    private def readOrc(ctx: TaskContext, taskConf: Configuration, path: String,
        len: Long): Iterator[InternalRow] = {
      val p = new Path(path)
      val reader = OrcFile.createReader(p,
        OrcFile.readerOptions(taskConf).filesystem(p.getFileSystem(taskConf)))
      OrcUtils.requestedColumnIds(caseSensitive, dataSchema, dataSchema,
          reader.getSchema, taskConf) match {
        case None => reader.close(); Iterator.empty // a file with no columns has no rows
        case Some((ids, canPrune)) =>
          OrcUtils.orcResultSchemaString(canPrune, dataSchema, dataSchema, new StructType(), taskConf)
          val it = new RecordReaderIterator(new OrcMapreduceRecordReader[OrcStruct](reader,
            org.apache.orc.mapred.OrcInputFormat.buildOptions(taskConf, reader, 0, len)))
          ctx.addTaskCompletionListener[Unit](_ => it.close())
          val deserializer = new OrcDeserializer(dataSchema, ids)
          it.map(deserializer.deserialize)
      }
    }
  }

  /** The order of a commit's reduce rows: leaf, then offset. */
  private final class LeafOffsetOrdering(offsetAt: Int) extends Ordering[InternalRow] {
    override def compare(a: InternalRow, b: InternalRow): Int = {
      val c = Integer.compare(a.getInt(0), b.getInt(0))
      if (c != 0) c else java.lang.Long.compare(a.getLong(offsetAt), b.getLong(offsetAt))
    }
  }

  /** The sort prefix of a reduce row: its leaf. */
  private final class LeafPrefix extends UnsafeExternalRowSorter.PrefixComputer {
    private val prefix = new UnsafeExternalRowSorter.PrefixComputer.Prefix
    override def computePrefix(row: InternalRow): UnsafeExternalRowSorter.PrefixComputer.Prefix = {
      prefix.value = row.getInt(0)
      prefix
    }
  }

  /** The task side of the write job. Rows arrive as (leaf index, data
    * columns…), grouped by leaf. A leaf's rows stream into a hidden,
    * attempt-unique `.attempt-<task attempt id>.orc` in its staging dir,
    * which on close replaces the dir's one `part-00000.orc`: a retried
    * attempt overwrites the part file rather than adding a second, and a
    * failed attempt's temp file is deleted with the dir by the hoist.
    * Records and bytes written go to the task's OutputMetrics.
    */
  private final class LeafWriter(dirs: Array[String],
      factory: OutputWriterFactory, dataSchema: StructType,
      conf: Broadcast[SerializableConfiguration]) extends Serializable {
    def write(ctx: TaskContext, rows: Iterator[InternalRow]): Unit = {
      val hadoopConf = conf.value.value
      val attempt = new TaskAttemptContextImpl(hadoopConf, new TaskAttemptID(
        "graft", ctx.stageId(), TaskType.MAP, ctx.partitionId(), ctx.attemptNumber()))
      val data = UnsafeProjection.create(dataSchema.fields.toSeq.zipWithIndex.map {
        case (f, i) => BoundReference(i + 1, f.dataType, f.nullable)
      })
      var leaf = -1
      var records = 0L
      var tmp: Path = null
      var out: OutputWriter = null
      def finish(): Unit = if (out != null) {
        out.close()
        out = null
        val fs = tmp.getFileSystem(hadoopConf)
        val bytes = fs.getFileStatus(tmp).getLen
        val part = new Path(tmp.getParent, PartFile)
        // a rename onto an existing file fails on some file systems
        if (!fs.rename(tmp, part) && !(fs.delete(part, false) && fs.rename(tmp, part)))
          throw new IOException(s"rename $tmp -> $part failed")
        GraftOutputMetrics.add(records, bytes)
        records = 0L
      }
      try {
        rows.foreach { r =>
          val l = r.getInt(0)
          if (l != leaf) {
            finish()
            leaf = l
            tmp = new Path(dirs(l), s".attempt-${ctx.taskAttemptId()}.orc")
            out = factory.newInstance(tmp.toString, dataSchema, attempt)
          }
          out.write(data(r))
          records += 1
        }
        finish()
      } catch {
        case e: Throwable =>
          if (out != null) try out.close() catch { case NonFatal(_) => () }
          throw e
      }
    }
  }

  /** Mixed-topic batch: one topic dir per topic, offsets deduped per
    * (topic, partition) — the reference routes one writer per TopicPartition
    * across all subscribed topics (`DataWriterOrcTest.java:144-172`; the
    * connector's `topics` list is config-enumerated and small, so a
    * driver-side loop over distinct topics is one commit per topic, not a
    * scale risk). Returns the topic dirs in topic order.
    */
  def writeMulti(df: DataFrame, outDir: String, flushSize: Long,
      layout: Layout = Layout.KafkaPartition,
      drift: DriftMode = DriftMode.Reject,
      s3a: Option[S3AConf] = None,
      rotateMs: Option[Long] = None,
      orcOptions: Map[String, String] = Map.empty,
      statsColumns: Seq[String] = Nil): Seq[String] = {
    val topics = df.select("topic").distinct().collect()
      .map(_.getString(0)).sorted.toSeq
    if (topics.lengthCompare(1) <= 0)
      topics.map(t =>
        write(df, outDir, flushSize, t, layout, drift, s3a, rotateMs,
          orcOptions, statsColumns))
    else {
      val cached = df.persist()
      try topics.map(t =>
        write(cached.filter(col("topic") === t), outDir, flushSize, t,
          layout, drift, s3a, rotateMs, orcOptions, statsColumns))
      finally { cached.unpersist(); () }
    }
  }

  /** Type-decorated stats declaration for the config marker: a string-typed
    * stats column is recorded as `name:str` (its per-cell |mn|mx pair holds
    * URL-encoded string bounds, pruned by `readAsOfStr`); every other
    * tracked column keeps the bare `name` of the long-typed format, so
    * topics written before string stats existed parse — and re-stamp —
    * byte-identically. The type is resolved from the INPUT batch (a value
    * field or a top-level column): drift widening never crosses the
    * string/numeric boundary, so the declaration is stable across writes.
    */
  private def statsDecl(df: DataFrame, statsColumns: Seq[String]): Seq[String] = {
    val valueFields: Map[String, org.apache.spark.sql.types.DataType] =
      df.schema.fields.find(_.name == "value").map(_.dataType) match {
        case Some(st: StructType) => st.fields.map(f => f.name -> f.dataType).toMap
        case _ => Map.empty
      }
    statsColumns.map { c =>
      val t = valueFields.get(c)
        .orElse(df.schema.fields.find(_.name == c).map(_.dataType))
      if (t.contains(org.apache.spark.sql.types.StringType)) s"$c:str" else c
    }
  }

  /** Persist flush.size + layout on first write; fail fast on mismatch
    * (a different flush.size would probe existing files on the wrong chunk
    * grid and silently commit overlapping offset ranges). `statsColumns`
    * entries arrive type-decorated (see statsDecl).
    */
  private def ensureConfig(fs: FileSystem, root: Path, flushSize: Long,
      layout: Layout, rotateMs: Option[Long] = None,
      statsColumns: Seq[String] = Nil): Unit = {
    // stats coverage is all-or-nothing per topic: a cell missing from the
    // stats marker would be silently excluded by readAsOf, so mixing stats
    // and no-stats writes must fail fast like a flush.size mismatch
    stampConfig(fs, root, SinkConfig(flushSize, layoutIdOf(layout), rotateMs, statsColumns)) {
      // a markerless dir that already holds committed layout dirs was
      // written before the config-marker protocol (or by something else):
      // silently adopting the caller's flush.size would probe existing
      // files on the wrong chunk grid and commit overlapping offset
      // ranges, and a crash under the pre-marker sink may have left
      // staged rows that only the full-walk recovery can save — both are
      // exactly what migrate() handles, so demand it instead of guessing.
      // One root listing, and only on a markerless dir — never steady state.
      if (fs.exists(root) && listDir(fs, root).exists { st =>
          val n = st.getPath.getName
          st.isDirectory && (n.startsWith("partition=") || n.startsWith(s"$DtCol="))
        })
        throw new IllegalStateException(
          s"$root holds a committed layout but no $ConfigMarker — a dir " +
            "from before the config-marker protocol must be adopted " +
            "explicitly: call migrate(topicDir, flushSize, layout) with " +
            "the grid it was originally written with")
      fs.mkdirs(root)
    }
  }

  /** Write `cfg` as the topic's config marker, running `first` before, or
    * require the marker the topic already has to be `cfg`, byte for byte:
    * a topic keeps one chunk grid, layout, rotation and stats declaration.
    */
  private def stampConfig(fs: FileSystem, root: Path, cfg: SinkConfig)(first: => Unit): Unit = {
    val desc = cfg.render
    val p = new Path(root, ConfigMarker)
    readMarker(fs, p) match {
      case Some(existing) => require(existing == desc,
        s"sink config mismatch at $root: committed {${existing.replace("\n", ", ")}} " +
          s"vs requested {${desc.replace("\n", ", ")}} — all writes against one " +
          "topic dir must use the same flush.size and layout")
      case None => first; writeMarker(fs, p, desc)
    }
  }

  /** Adopt a topic dir written before the config-marker protocol: run the
    * full-walk recovery FIRST (a markerless dir may hold staged `_chunk=`
    * rows from a crash under the pre-marker sink — hoisting is idempotent
    * and metadata-only), then stamp the config marker with the grid the dir
    * was ORIGINALLY written with (the caller must know it; stamping a
    * different grid would commit overlapping offset ranges on the next
    * write). A maintenance path, like compactTo/expire.
    */
  def migrate(spark: SparkSession, topicDir: String, flushSize: Long,
      layout: Layout = Layout.KafkaPartition): Unit = {
    require(flushSize > 0, "flush.size must be positive")
    val fs = topicFs(spark, topicDir)
    val root = new Path(topicDir)
    require(fs.exists(root), s"$topicDir does not exist")
    val inflight = new Path(root, InflightMarker)
    recover(fs, root, root.getName)
    fs.delete(inflight, false) // full walk covers whatever a marker recorded
    validateLayout(layout)
    stampConfig(fs, root, SinkConfig(flushSize, layoutIdOf(layout)))(())
  }

  /** Latch the first write's value-struct schema (O4) and apply the drift
    * policy on subsequent writes. Comparison is on (name, type) pairs;
    * nullability is not part of the contract (ORC files are nullable).
    */
  private def conformValueSchema(fs: FileSystem, root: Path, df: DataFrame,
      drift: DriftMode): DataFrame = {
    val incoming = df.schema("value").dataType.asInstanceOf[StructType]
    val p = new Path(root, SchemaMarker)
    readMarker(fs, p) match {
      case None =>
        fs.mkdirs(root); writeMarker(fs, p, incoming.json); df
      case Some(json) =>
        val latched = DataType.fromJson(json).asInstanceOf[StructType]
        val key = (s: StructType) => s.fields.toSeq.map(f => (f.name, f.dataType))
        // `value` projected onto `target`: shared fields cast to the target
        // type, missing ones null, extra ones dropped
        def project(target: StructType): DataFrame = {
          val incNames = incoming.fieldNames.toSet
          df.withColumn("value", struct(target.fields.toSeq.map { f =>
            if (incNames.contains(f.name))
              col("value").getField(f.name).cast(f.dataType).as(f.name)
            else lit(null).cast(f.dataType).as(f.name)
          }: _*))
        }
        if (key(latched) == key(incoming)) df
        else drift match {
          case DriftMode.Reject => throw new IllegalStateException(
            s"schema drift rejected (DriftMode.Reject): latched " +
              s"${latched.simpleString} vs incoming ${incoming.simpleString}")
          case DriftMode.Project => project(latched)
          case DriftMode.Backward | DriftMode.Full =>
            // FULL runs BACKWARD's widening (the reference's FULL *is*
            // BACKWARD's implementation — see the DriftMode scaladoc); the
            // additional forward-direction validation is the same symmetric
            // retype check, made explicit in the error label.
            rejectRetyped(latched, incoming, drift)
            val latchedNames = latched.fieldNames.toSet
            val added = incoming.fields.filterNot(f => latchedNames.contains(f.name))
            val widened = StructType(latched.fields ++ added)
            if (added.nonEmpty) writeMarker(fs, p, widened.json) // re-latch
            project(widened) // project up
          case DriftMode.Forward =>
            // the latch never moves: project DOWN onto it (added incoming
            // fields dropped, missing ones null), refuse retypes
            rejectRetyped(latched, incoming, drift)
            project(latched)
        }
    }
  }

  /** A shared field whose TYPE changed is incompatible in every compat
    * direction (values would need re-interpretation — that is Project's
    * lossy-tolerant job, never the compat modes').
    */
  private def rejectRetyped(latched: StructType, incoming: StructType,
      drift: DriftMode): Unit = {
    val incTypes = incoming.fields.map(f => f.name -> f.dataType).toMap
    val retyped = latched.fields.toSeq.filter(f =>
      incTypes.get(f.name).exists(_ != f.dataType))
    if (retyped.nonEmpty) {
      val label = drift match {
        case DriftMode.Backward => "BACKWARD"
        case DriftMode.Forward => "FORWARD"
        case _ => "FULL"
      }
      throw new IllegalStateException(
        s"schema drift not $label-compatible: latched fields " +
          s"${retyped.map(f => s"${f.name}:${f.dataType.simpleString}")
            .mkString(", ")} retyped in " +
          s"incoming ${incoming.simpleString}")
    }
  }

  /** The committed files of one chunk, matched EXACTLY: `<prefix>.orc` or
    * `<prefix>-<N>.orc`. Never a bare `startsWith` — once offsets exceed
    * the 10-digit pad, chunk 1250000000's prefix is a string prefix of
    * chunk 12500000000's file name (ADVICE r2), so prefix matching would
    * delete/merge an unrelated chunk's data. And never a glob — Hadoop
    * implements a final-component wildcard as a listStatus of the parent
    * dir, which would make every steady-state probe O(all files the
    * partition has accumulated). `-N` suffixes are assigned contiguously
    * from 1 by the hoist pass, so exact-name probes until the first miss
    * cover them in O(1 + #suffixed). Each probe is one `getFileStatus`
    * (what `exists` costs), and the statuses it returns are what the read
    * paths plan over — no second resolution of the same paths.
    */
  private def committedChunkFiles(fs: FileSystem, pDir: Path,
      prefix: String): Seq[FileStatus] = {
    if (FsAudit.enabled) FsAudit.probes.add(s"$pDir/$prefix")
    def probe(name: String): Option[FileStatus] =
      try Some(fs.getFileStatus(new Path(pDir, name)))
      catch { case _: FileNotFoundException => None }
    probe(CommittedName.file(prefix, 0)).toSeq ++
      Iterator.from(1).map(i => probe(CommittedName.file(prefix, i)))
        .takeWhile(_.isDefined).flatten
  }

  /** The `_chunk=` staging dir of a touched leaf. */
  private def stagingDir(root: Path, t: Touched): Path =
    new Path(t.partitionDir(root), s"$ChunkCol=${t.cell}")

  /** Hoist the file a commit just staged for leaf `t` to its committed
    * offset name — the reference's exact key layout
    * (`FileUtils.fileKeyToCommit`). The commit knows what is there: its
    * write job staged the one `part-00000.orc`, and `replaced` are the
    * committed files it probed before, which the new file replaces. So the
    * hoist deletes those, renames the part and drops the staging dir, with
    * no probe and no listing. A crash in between leaves the in-flight
    * marker, and the recovery's discovering hoist (`hoistChunkDir`)
    * finishes the leaf.
    */
  private def hoistStaged(fs: FileSystem, root: Path, topic: String, t: Touched,
      replaced: Seq[FileStatus]): Unit = {
    replaced.foreach(f => fs.delete(f.getPath, false))
    val cDir = stagingDir(root, t)
    renameCommitted(fs, new Path(cDir, PartFile), t.partitionDir(root), t.filePrefix(topic))
    fs.delete(cDir, true)
  }

  /** Rename a staged part to the first committed name of its cell. Hadoop
    * signals most rename failures (e.g. a failed S3A copy) by returning
    * false, not throwing. An unchecked false here followed by the
    * staging-dir delete would destroy the chunk's only copy — fail instead,
    * leaving the staging dir AND the in-flight marker in place, so the
    * next write/read recovers.
    */
  private def renameCommitted(fs: FileSystem, part: Path, pDir: Path, prefix: String): Unit = {
    val t = new Path(pDir, CommittedName.file(prefix, 0))
    if (!fs.rename(part, t))
      throw new IOException(s"rename $part -> $t failed; staging dir kept for recovery")
  }

  /** Hoist ONE chunk's staging dir, as a crash left it, to its committed
    * offset name: the recovery paths' hoist, which finds what is there.
    * Metadata only: one rename per committed file. Stale committed files
    * for the chunk (matched exactly, incl. `-N` suffixes) are deleted
    * first, so replays converge to one file per chunk.
    */
  private def hoistChunkDir(fs: FileSystem, pDir: Path, p: String,
      cell: String, topic: String): Unit = {
    val cDir = new Path(pDir, s"$ChunkCol=$cell")
    if (!fs.exists(cDir)) return
    val prefix = CommittedName.prefix(topic, p, cell)
    val parts = listDir(fs, cDir)
      .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
    // a part-less _chunk dir means a crash landed between this chunk's
    // renames and its dir delete — the committed files ARE the data;
    // touching them here would destroy the only copy
    if (parts.nonEmpty) {
      // exactly one part per chunk is an invariant (the leaf writer stages
      // one fixed-name file per leaf). A multi-part hoist would be unsafe
      // under crash-recovery: re-running it after a crash mid-rename would
      // first DELETE the parts already renamed to committed names and then
      // re-hoist only the survivors — losing data. Fail loudly instead; the
      // staging dir and in-flight marker stay for manual inspection.
      if (parts.size > 1)
        throw new IllegalStateException(
          s"$cDir holds ${parts.size} part files — the one-file-per-chunk " +
            "invariant is broken; refusing to hoist (a multi-part " +
            "rename pass is not crash-idempotent). Staging dir kept.")
      committedChunkFiles(fs, pDir, prefix).foreach(f => fs.delete(f.getPath, false))
      renameCommitted(fs, parts.head.getPath, pDir, prefix)
    }
    fs.delete(cDir, true) // now holds only commit markers, if that
  }

  /** Recover a crashed commit before touching the topic: the in-flight
    * marker, when it exists, records the crashed batch's touched leaves,
    * and only one marker can ever exist (each write recovers its
    * predecessor before writing its own), so hoisting exactly those leaves
    * is complete — O(touched leaves), even on a topic with millions of
    * committed files. The expected field count comes from the persisted
    * layout; any line that doesn't parse against it (incl. a legacy
    * pre-generalization marker, whose KafkaPartition form carried an empty
    * leading dt field) falls back to the full directory walk — correct,
    * just slower, and only ever after a crash.
    *
    * With `clear` the marker is then deleted. Only the paths that commit
    * own the protocol: a reader keeps the marker, so it can never erase
    * the crash evidence a racing writer's recovery depends on.
    */
  private def recoverIfCrashed(fs: FileSystem, root: Path, clear: Boolean): Unit = {
    val inflight = new Path(root, InflightMarker)
    if (!fs.exists(inflight)) return
    val topic = root.getName
    val prefixNames = readConfig(fs, root).map(_.prefixCols)
    val lines = readMarker(fs, inflight)
      .map(_.linesIterator.filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val parsed = prefixNames.map { names =>
      lines.flatMap { line =>
        Some(line.split("\\|", -1)).filter(_.length == names.size + 2)
          .flatMap(Touched.parse(_, names))
      }
    }.getOrElse(Nil)
    if (parsed.nonEmpty && parsed.size == lines.size)
      parsed.foreach(t =>
        hoistChunkDir(fs, t.partitionDir(root), t.partition.toString, t.cell, topic))
    else recover(fs, root, topic)
    if (clear) fs.delete(inflight, false)
  }

  /** Full-walk recovery: hoist every surviving `_chunk=` staging dir under
    * the topic dir (both layouts). O(#dirs) — the fallback when a marker
    * payload is unparsable; never runs per steady-state batch.
    */
  private def recover(fs: FileSystem, root: Path, topic: String): Unit = {
    if (!fs.exists(root)) return
    def walk(dir: Path): Unit =
      listDir(fs, dir).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && !n.startsWith(".") && !n.startsWith("_")) {
          if (n.startsWith("partition=")) {
            val p = n.stripPrefix("partition=")
            listDir(fs, st.getPath)
              .filter(c => c.isDirectory && c.getPath.getName.startsWith(s"$ChunkCol="))
              .foreach { c =>
                val cell = c.getPath.getName.stripPrefix(s"$ChunkCol=")
                hoistChunkDir(fs, st.getPath, p, cell, topic)
              }
          } else walk(st.getPath) // value-derived prefix level (dt=, year=, <field>=…)
        }
      }
    walk(root)
  }

  private def readConfig(fs: FileSystem, root: Path): Option[SinkConfig] =
    readMarker(fs, new Path(root, ConfigMarker)).map(SinkConfig.parse)

  /** The config of a topic dir that must have one (the maintenance paths). */
  private def sinkConfig(fs: FileSystem, root: Path): SinkConfig =
    readConfig(fs, root).getOrElse(throw new IllegalStateException(
      s"$root has no sink config marker — not a sink topic dir"))

  private def readMarker(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        Some(new String(out.toByteArray, UTF_8))
      } finally in.close()
    }

  private def writeMarker(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }

  /** Read the sink's output back (reference O13 / EP3 verification path).
    * `partition` comes from the directory; `_chunk` is recovered from the
    * offset embedded in each file's name. If a crashed commit left an
    * in-flight marker, the (idempotent, metadata-only) recovery pass runs
    * first so leftover `_chunk=` staging dirs can't poison partition
    * inference (ADVICE r2). The marker is deliberately NOT deleted here:
    * only `write` owns the commit protocol, so a reader that races a live
    * writer can never erase the crash evidence a future recovery depends
    * on. (Reading a topic dir while a write is actively committing to it
    * is otherwise unsupported — same as the reference, whose verification
    * reads run between commits.)
    *
    * The topic is listed once, and a filter on the result skips files at
    * planning time: `offset <op> literal` by the chunk range each committed
    * file's name encodes, and `<stats column> <op> literal` by the cell's
    * `_graft_stats` min/max (see `sinkRelation`). `read().filter` therefore
    * opens only the files whose range can hold a matching row, and returns
    * exactly what the unpruned scan would.
    */
  def read(spark: SparkSession, topicDir: String): DataFrame = {
    val fs = topicFs(spark, topicDir)
    val root = new Path(topicDir)
    recoverIfCrashed(fs, root, clear = false)
    sinkRelation(spark, fs, root, None, readConfig(fs, root),
      readMarker(fs, new Path(root, StatsMarker)))
  }

  /** The one relation constructor under every sink read: an ORC
    * `HadoopFsRelation` over a `CommittedFileIndex`, planned by Spark's
    * file scan.
    *
    * The listing is either the whole topic (`probed = None`: Spark's
    * `InMemoryFileIndex` over the topic dir, what `spark.read.orc` builds)
    * or the statuses the exact-name probes returned (`readRange`,
    * `readAsOf*`, `deleteRows`): those seed the index's status cache, so
    * planning re-resolves no path and starts no parallel-listing job,
    * whatever the file count. Partition columns are inferred from the dirs
    * under the topic root as `spark.read` infers them.
    *
    * Schema: the LATCHED one, not a sampled file's. After a Backward
    * widening the files carry mixed physical schemas, and sampling an old
    * one would silently drop the added columns; with the declared schema,
    * ORC's name-based column matching null-fills exactly the files that
    * predate each widening. Layout dir columns (partition, dt, year, a
    * routed field…) come from the dirs — a declared column that is also a
    * partition column is filled from its dir value. Only a dir without a
    * schema marker (pre-protocol) samples the files.
    *
    * `_chunk`: the persisted chunk grid (offset - offset % flushSize), a
    * PURE function of the row — identical to the committed file names by
    * the O9 rotation invariant. The input_file_name() fallback (legacy dirs
    * without a config marker) is NONDETERMINISTIC to Catalyst, and a
    * nondeterministic projection blocks every filter above it from pushing
    * into the ORC scan — with the row-pure grid, point lookups reach the
    * scan's row-group stats and bloom filters, and the file index's
    * skipping.
    *
    * Every read installs `ParamLiterals` in its session's planner, so a
    * `Filter` over it compiles no window literal into generated code.
    */
  private def sinkRelation(spark: SparkSession, fs: FileSystem, root: Path,
      probed: Option[Seq[FileStatus]], config: Option[SinkConfig],
      statsText: => Option[String]): DataFrame = {
    val qRoot = fs.makeQualified(root)
    val declared = readMarker(fs, new Path(root, SchemaMarker)).map { json =>
      StructType(StructField("offset", LongType) +:
        DataType.fromJson(json).asInstanceOf[StructType].fields.toSeq)
    }
    val listing = probed match {
      case None => new InMemoryFileIndex(spark, Seq(qRoot), Map.empty, declared,
        FileStatusCache.getOrCreate(spark))
      case Some(files) => new InMemoryFileIndex(spark, files.map(_.getPath),
        Map("basePath" -> qRoot.toString), declared, new ProbedStatuses(files))
    }
    // a declared column that is also a dir level keeps its declared type
    // and moves to the partition side (DataSource's schema resolution)
    val same = spark.sessionState.conf.resolver
    val partitionSchema = StructType(listing.partitionSchema.map(p =>
      declared.flatMap(_.find(f => same(f.name, p.name))).getOrElse(p)))
    val dataSchema = declared
      .map(d => StructType(d.filterNot(f => partitionSchema.exists(p => same(p.name, f.name)))))
      .orElse(new OrcFileFormat().inferSchema(spark, Map.empty, listing.allFiles()))
      .getOrElse(throw new IllegalStateException(
        s"$root holds no committed ORC file and no $SchemaMarker — no schema to read"))
    val index = new CommittedFileIndex(listing,
      new FileSkipping(qRoot, config, () => statsText))
    val chunk = config match {
      case Some(c) => col("offset") - pmod(col("offset"), lit(c.flushSize))
      case None => regexp_extract(input_file_name(), CommittedName.Tail, 2).cast("long")
    }
    ParamLiterals.install(spark)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partitionSchema,
        nullable(dataSchema).asInstanceOf[StructType], None, new OrcFileFormat,
        Map.empty)(spark))
      .withColumn(ChunkCol, chunk)
  }

  /** `dt` with every level nullable: ORC columns are, and a declared
    * non-null field would let Catalyst drop null checks on the null-filled
    * columns of files that predate a widening.
    */
  private def nullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  /** Status cache answering each probed file path with its own status, so
    * `InMemoryFileIndex` lists nothing. Invalidation (a `refresh`) empties
    * it, and the next listing asks the file system.
    */
  private final class ProbedStatuses(files: Seq[FileStatus]) extends FileStatusCache {
    @volatile private var byPath: Map[Path, Array[FileStatus]] =
      files.map(f => f.getPath -> Array(f)).toMap
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] = byPath.get(path)
    override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = byPath = Map.empty
  }

  /** The sink's file index: a listing of committed files plus file
    * skipping. `listFiles` drops every file that a pushed data conjunct
    * rules out (see `FileSkipping`); the row filter stays on top, so
    * skipping only has to be conservative. Everything else — root paths,
    * partition schema, `inputFiles`, size — is the listing's.
    *
    * Two reads of the same topic compare equal (index equality by root
    * paths and listed files), so `sameResult` and cache reuse hold.
    */
  private final class CommittedFileIndex(listing: InMemoryFileIndex,
      skipping: FileSkipping) extends FileIndex {
    override def rootPaths: Seq[Path] = listing.rootPaths
    override def partitionSchema: StructType = listing.partitionSchema
    override def inputFiles: Array[String] = listing.inputFiles
    override def sizeInBytes: Long = listing.sizeInBytes
    override def refresh(): Unit = listing.refresh()
    override def metadataOpsTimeNs: Option[Long] = listing.metadataOpsTimeNs

    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
      val listed = listing.listFiles(partitionFilters, dataFilters)
      val bounds = dataFilters.flatMap(conjuncts).flatMap(boundOf)
      if (bounds.isEmpty) listed
      else listed.map(d => d.copy(files = d.files.filter(f =>
        skipping.keeps(f.fileStatus, bounds)))).filter(_.files.nonEmpty)
    }

    private def files: Set[Path] = listing.allFiles().map(_.getPath).toSet
    override def equals(other: Any): Boolean = other match {
      case o: CommittedFileIndex =>
        rootPaths.toSet == o.rootPaths.toSet && files == o.files
      case _ => false
    }
    override def hashCode: Int = rootPaths.toSet.hashCode
  }

  /** The planner strategy of sink reads: it plans a scan of a sink relation
    * as `FileSourceStrategy` does, then takes every window value out of
    * the source of the `Filter`'s generated code. `Literal` writes a
    * boolean, integral, float, double, date or timestamp value into the
    * Java source, and `InSet` the values of a byte, short, int or date set,
    * which would make each new window a new class for Janino to compile
    * (~30 ms each). In the `FilterExec` condition such a literal
    * becomes a `ParamLiteral` and such a set a `ParamInSet`, whose code
    * reads the value from its references; a new window then reuses the
    * compiled code of the last one. The scan's partition and data filters
    * keep their literals, so file skipping and ORC's pushdown see them.
    */
  private object ParamLiterals extends SparkStrategy {
    /** Put the strategy in `spark`'s planner, once per session. */
    def install(spark: SparkSession): Unit = {
      val methods = spark.experimental
      methods.synchronized {
        if (!methods.extraStrategies.contains(this)) methods.extraStrategies :+= this
      }
    }

    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case ScanOperation(_, _, _, LogicalRelation(r: HadoopFsRelation, _, _, _, _))
          if r.location.isInstanceOf[CommittedFileIndex] =>
        FileSourceStrategy(plan).map(_.transform {
          case f: FilterExec => f.copy(condition = f.condition.transform {
            case Literal(v, t) if v != null && inlined(t) => ParamLiteral(v, t)
            case InSet(c, set) if set.nonEmpty && switched(c.dataType) => ParamInSet(c, set)
          })
        })
      case _ => Nil
    }

    private val inlined: Set[DataType] = Set(BooleanType, ByteType, ShortType,
      IntegerType, LongType, FloatType, DoubleType, DateType, TimestampType, TimestampNTZType)
    private val switched: Set[DataType] = Set(ByteType, ShortType, IntegerType, DateType)
  }

  /** A non-null literal whose generated code reads its value from the
    * references of the generated class, not from its source. Not foldable,
    * so it is evaluated, never folded; it prints as the literal does.
    */
  private[graft] final case class ParamLiteral(value: Any, dataType: DataType)
      extends LeafExpression {
    override def nullable: Boolean = false
    override def eval(input: InternalRow): Any = value
    override def toString: String = Literal(value, dataType).toString
    override def sql: String = Literal(value, dataType).sql
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
      val v = ctx.addMutableState(CodeGenerator.javaType(dataType), "param", v => s"$v = $ref;")
      ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(v, dataType))
    }
  }

  /** `InSet` over a non-empty set, whose generated code reads the set from
    * its references — as `InSet`'s own code does for a set it does not
    * compile to `switch` cases.
    */
  private[graft] final case class ParamInSet(child: Expression, hset: Set[Any])
      extends UnaryExpression with Predicate {
    @transient private lazy val in = InSet(child, hset)
    override def nullable: Boolean = in.nullable
    override def eval(input: InternalRow): Any = in.eval(input)
    override def toString: String = in.toString
    override def sql: String = in.sql
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val set = ctx.addReferenceObj("set", hset, "scala.collection.immutable.Set")
        s"${ev.value} = $set.contains($c);" +
          (if (hset.contains(null)) s" ${ev.isNull} = !${ev.value};" else "")
      })
    override protected def withNewChildInternal(c: Expression): ParamInSet = copy(child = c)
  }

  /** A pushed conjunct `column <op> literal` that file skipping can judge:
    * `op` is one of = < <= > >= with the column on the left, `value` a
    * Long (integral column and literal) or a String (UTF-8-binary string
    * column and literal).
    */
  private final case class Bound(column: String, op: String, value: Any)

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** The Bound a conjunct states, if it is a bare column compared with a
    * non-null literal of the column's kind. Anything else — an OR, a cast
    * or expression on either side, a column-to-column compare — states
    * none, and so skips no file.
    */
  private def boundOf(e: Expression): Option[Bound] = {
    def integral(t: DataType) =
      t == ByteType || t == ShortType || t == IntegerType || t == LongType
    def mk(a: AttributeReference, op: String, l: Literal): Option[Bound] =
      (l.value, a.dataType) match {
        case (v: Number, t) if integral(t) && integral(l.dataType) =>
          Some(Bound(a.name, op, v.longValue))
        case (v: UTF8String, StringType) if l.dataType == StringType =>
          Some(Bound(a.name, op, v.toString))
        case _ => None
      }
    e match {
      case EqualTo(a: AttributeReference, l: Literal) => mk(a, "=", l)
      case EqualTo(l: Literal, a: AttributeReference) => mk(a, "=", l)
      case LessThan(a: AttributeReference, l: Literal) => mk(a, "<", l)
      case LessThan(l: Literal, a: AttributeReference) => mk(a, ">", l)
      case LessThanOrEqual(a: AttributeReference, l: Literal) => mk(a, "<=", l)
      case LessThanOrEqual(l: Literal, a: AttributeReference) => mk(a, ">=", l)
      case GreaterThan(a: AttributeReference, l: Literal) => mk(a, ">", l)
      case GreaterThan(l: Literal, a: AttributeReference) => mk(a, "<", l)
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) => mk(a, ">=", l)
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) => mk(a, "<=", l)
      case _ => None
    }
  }

  /** A recorded value range [lo, hi] of one column in one file or cell;
    * None leaves that side unbounded (the all-null sentinels). Values are
    * Longs or Strings, matching the Bounds judged against them.
    */
  private type ValueRange = (Option[Any], Option[Any])

  /** Can a file whose column values lie in `r` hold a row satisfying `b`?
    * Strings compare as UTF-8 bytes (Spark's and the stats' ordering).
    */
  private def admits(r: ValueRange, b: Bound): Boolean = {
    def cmp(x: Any): Int = (x, b.value) match {
      case (x: Long, v: Long) => java.lang.Long.compare(x, v)
      case (x: String, v: String) => utf8Cmp(x, v)
    }
    val (lo, hi) = r
    b.op match {
      case "=" => lo.forall(cmp(_) <= 0) && hi.forall(cmp(_) >= 0)
      case "<" => lo.forall(cmp(_) < 0)
      case "<=" => lo.forall(cmp(_) <= 0)
      case ">" => hi.forall(cmp(_) > 0)
      case ">=" => hi.forall(cmp(_) >= 0)
    }
  }

  /** One committed cell's `_graft_stats` line: the cell, its row count
    * (None on a pre-rowcount line) and its recorded range per tracked
    * column, in config order.
    */
  private final case class CellStats(cell: Touched, rows: Option[Long],
      ranges: IndexedSeq[ValueRange])

  /** Parse a `_graft_stats` payload against the topic's layout and stats
    * spec. Lines are self-describing by field count (pre-rowcount lines
    * are one field shorter); long bounds at Long.Min/MaxValue and the
    * string `!null` token are the all-null sentinels and leave the range
    * unbounded. None when ANY line fails to parse.
    */
  private def parseStats(text: String, prefixNames: Seq[String],
      spec: Seq[(String, Boolean)]): Option[Seq[CellStats]] = {
    def dec(v: String) = URLDecoder.decode(v, "UTF-8")
    val base = prefixNames.size + 2
    try Some(text.linesIterator.filter(_.nonEmpty).map { l =>
      val f = l.split("\\|", -1)
      val rows =
        if (f.length == base + 1 + 2 * spec.size) Some(f(base).toLong) // key | n_rows | pairs
        else if (f.length == base + 2 * spec.size) None // pre-rowcount line
        else throw new IllegalArgumentException(s"stats line: $l")
      val cell = Touched.parse(f, prefixNames)
        .getOrElse(throw new IllegalArgumentException(s"stats key: $l"))
      val at = base + rows.size
      val ranges = spec.indices.map { i =>
        val (mn, mx) = (f(at + 2 * i), f(at + 2 * i + 1))
        if (spec(i)._2)
          (Some(mn).filter(_ != StrStatsNull).map(dec),
            Some(mx).filter(_ != StrStatsNull).map(dec)): ValueRange
        else
          (Some(mn.toLong).filter(_ != Long.MinValue),
            Some(mx.toLong).filter(_ != Long.MaxValue)): ValueRange
      }
      CellStats(cell, rows, ranges)
    }.toSeq)
    catch { case _: IllegalArgumentException => None } // incl. NumberFormatException
  }

  /** File skipping for one topic dir. A committed file (named
    * `<topic>+<p>+<chunk>[+t<bucket>][-N].orc` inside its `partition=<p>`
    * dir) is skipped when a Bound rules out its `offset` range
    * [chunk, chunk + flushSize) or its cell's recorded range of a tracked
    * stats column. A file of any other name, a cell without a stats line,
    * a missing config or a missing or corrupt stats marker skips nothing.
    * The stats marker is read (`statsText`) only when a Bound names a
    * tracked column.
    */
  private final class FileSkipping(root: Path, config: Option[SinkConfig],
      statsText: () => Option[String]) {
    private val topic = root.getName
    private val spec = config.fold(Seq.empty[(String, Boolean)])(_.statsSpec)
    /** committed file prefix (`<partition dir>/<cell file prefix>`) → stats */
    private lazy val byPrefix: Map[String, CellStats] = (for {
      cfg <- config
      text <- statsText()
      cells <- parseStats(text, cfg.prefixCols, spec)
    } yield cells.map(c =>
      s"${c.cell.partitionDir(root)}/${c.cell.filePrefix(topic)}" -> c).toMap)
      .getOrElse(Map.empty)

    def keeps(f: FileStatus, bounds: Seq[Bound]): Boolean = config match {
      case None => true
      case Some(cfg) =>
        val dir = f.getPath.getParent
        CommittedName.parse(topic, f.getPath.getName) match {
          case Some(n) if dir.getName == s"partition=${n.partition}" &&
              n.chunk.toLongOption.isDefined =>
            val chunk = n.chunk.toLong
            val offsets: ValueRange = (Some(chunk),
              Some(chunk + (cfg.flushSize - 1)).filter(_ >= chunk)) // no overflow
            lazy val cell = byPrefix.get(s"$dir/${n.prefix}")
            bounds.forall { b =>
              val at = spec.indexWhere(_._1 == b.column)
              if (b.column == "offset") admits(offsets, b)
              else if (at < 0 || spec(at)._2 != b.value.isInstanceOf[String]) true
              else cell.forall(c => admits(c.ranges(at), b))
            }
          case _ => true
        }
    }
  }

  /** The topic's committed-cell CATALOG as a DataFrame — the queryable face
    * of the `_graft_stats` marker (one row per committed (prefix, partition,
    * chunk) cell with its recorded stats range): what a lakehouse exposes as
    * a manifest/`files` metadata table. Reading it costs ONE small marker
    * file — never a listing of the topic's committed files — so "how many
    * chunks, covering which ranges" is answerable at any topic size; an
    * audit joins it against source-side chunk arithmetic to prove the
    * recorded stats match the data (q_pipeline_manifest does exactly that).
    * Driver-side parse of a metadata-sized marker: the touchedLeaves /
    * maintenance-listing control-plane sanction.
    */
  def manifest(spark: SparkSession, topicDir: String): DataFrame = {
    val fs = topicFs(spark, topicDir)
    val root = new Path(topicDir)
    recoverIfCrashed(fs, root, clear = false)
    import spark.implicits._
    // the config marker names the tracked columns (in line order); a topic
    // written before the multi-column format has exactly one unnamed pair —
    // surface it under the recorded single name, or "" for pre-config dirs.
    // Long-typed pairs land in (stats_lo, stats_hi), all-null sentinels
    // included; string-typed pairs in (stats_lo_str, stats_hi_str), the
    // other side null — one uniform catalog schema over mixed-type stats
    // like a Delta log's minValues map.
    val conf = readConfig(fs, root)
    val spec = conf.map(_.statsSpec).filter(_.nonEmpty).getOrElse(Seq(("", false)))
    val cells = readMarker(fs, new Path(root, StatsMarker)).fold(Seq.empty[CellStats]) { text =>
      parseStats(text, conf.fold(Seq.empty[String])(_.prefixCols), spec).getOrElse(
        throw new IllegalStateException(
          s"$root/$StatsMarker does not parse against the topic's config"))
    }
    val rows = cells.flatMap { c =>
      val prefix = c.cell.prefix.map(_._2).mkString("/")
      val chunk = cellParts(c.cell.cell)._1
      spec.zip(c.ranges).map { case ((name, isStr), (lo, hi)) =>
        if (isStr)
          (prefix, c.cell.partition, chunk, name, None: Option[Long], None: Option[Long],
            lo.map(_.toString), hi.map(_.toString), c.rows)
        else
          (prefix, c.cell.partition, chunk, name,
            Some(lo.fold(Long.MinValue)(_.asInstanceOf[Long])),
            Some(hi.fold(Long.MaxValue)(_.asInstanceOf[Long])),
            None: Option[String], None: Option[String], c.rows)
      }
    }
    rows.toDF("prefix", "partition", "chunk", "stats_col",
      "stats_lo", "stats_hi", "stats_lo_str", "stats_hi_str", "n_rows")
  }

  /** Time-travel / as-of read by a stats column: rows with
    * `column ∈ [lo, hi)`, touching ONLY the committed files whose recorded
    * min/max range intersects the window. The commit-time `_graft_stats`
    * marker (written by every `write(statsColumns = ...)` batch) plays the
    * role of a Delta log's per-file stats: qualifying cells are probed by
    * their exact committed names — no listing of the topic's committed
    * files, no footer reads of non-qualifying files — and the relation is
    * planned over the probed statuses, with no parallel-listing job however
    * many files qualify. `read().filter(lo <= column < hi)` skips the same
    * files by the same rule but lists the topic first. Equals that read by
    * construction, and falls back to it when the topic has no stats for
    * `column` (legacy dir, or written without statsColumns — the config
    * marker records which).
    */
  def readAsOf(spark: SparkSession, topicDir: String, column: String,
      lo: Long, hi: Long): DataFrame = {
    require(lo < hi, s"empty stats window [$lo, $hi)")
    readAsOfCore(spark, topicDir, column, lo, hi, wantString = false)
  }

  /** String-column as-of read: rows with `column ∈ [lo, hi)` under Spark's
    * string ordering (UTF-8 binary — what min/max recorded into the marker
    * and what the row-level filter applies), touching only cells whose
    * recorded string range intersects the window. The driver-side line
    * filter compares UTF-8 BYTES unsigned, matching UTF8String/DuckDB
    * collation exactly (Java String.compareTo diverges above the BMP); the
    * `!null` all-null sentinel qualifies on both sides. The categorical
    * counterpart of the numeric readAsOf — a Delta/Iceberg log prunes
    * string predicates from exactly this per-file min/max.
    */
  def readAsOfStr(spark: SparkSession, topicDir: String, column: String,
      lo: String, hi: String): DataFrame = {
    require(utf8Cmp(lo, hi) < 0, s"empty stats window ['$lo', '$hi')")
    readAsOfCore(spark, topicDir, column, lo, hi, wantString = true)
  }

  /** Unsigned lexicographic compare of the UTF-8 encodings — Spark's
    * UTF8String (and DuckDB's) string ordering, which Java String.compareTo
    * only matches inside the BMP.
    */
  private def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(UTF_8); val y = b.getBytes(UTF_8)
    var i = 0
    while (i < x.length && i < y.length) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Shared marker-pruned as-of read of `column ∈ [lo, hi)` (Longs or
    * Strings): a cell qualifies when its recorded range admits both window
    * bounds — the rule `read().filter`'s file skipping applies per file.
    * The row-level window filter stays on top for boundary files. Falls
    * back to the (file-skipping) full read when the topic has no stats for
    * the column or the marker is corrupt; refuses a type-mismatched probe
    * (a numeric window against a string column would silently prune
    * nothing meaningful).
    */
  private def readAsOfCore(spark: SparkSession, topicDir: String,
      column: String, lo: Any, hi: Any, wantString: Boolean): DataFrame = {
    val fs = topicFs(spark, topicDir)
    val root = new Path(topicDir)
    val topic = root.getName
    recoverIfCrashed(fs, root, clear = false)
    def window(df: DataFrame) = df.filter(col(column) >= lo && col(column) < hi)
    def fullScan = window(read(spark, topicDir))
    (readMarker(fs, new Path(root, StatsMarker)), readConfig(fs, root)) match {
      case (Some(statsText), Some(cfg)) =>
        // prune on ANY tracked column — the pair offset inside each line
        // comes from the column's position in the config list
        val spec = cfg.statsSpec
        val colIdx = spec.indexWhere(_._1 == column)
        if (colIdx < 0) return fullScan
        require(spec(colIdx)._2 == wantString,
          s"stats column '$column' is ${if (spec(colIdx)._2) "string" else
            "numeric"}-typed — use ${if (spec(colIdx)._2) "readAsOfStr"
            else "readAsOf"}")
        val cells = parseStats(statsText, cfg.prefixCols, spec)
          .getOrElse(return fullScan) // corrupt: correctness first
        val bounds = Seq(Bound(column, ">=", lo), Bound(column, "<", hi))
        val files = cells
          .filter(c => bounds.forall(admits(c.ranges(colIdx), _)))
          .flatMap(c => committedChunkFiles(fs, c.cell.partitionDir(root),
            c.cell.filePrefix(topic)))
        if (files.isEmpty) fullScan.filter(lit(false)) // provably empty window
        else window(sinkRelation(spark, fs, root, Some(files), Some(cfg),
          Some(statsText)))
      case _ => fullScan
    }
  }

  /** Read back ONLY the offsets in `[fromOffset, untilOffset)` — the
    * reference's offset-range verification read, done without enumerating
    * the topic's committed files. `read().filter(offset)` skips the same
    * files, but only after listing every file the topic has ever committed
    * to plan the scan; at millions of files that listing dominates a
    * bounded-window read. This path instead derives the overlapping chunk
    * starts from the persisted flush.size (the chunk grid is the
    * file-naming contract, so file-level pruning is exact), lists only
    * DIRECTORIES (the `partition=` leaves, O(#partitions × #dt-dirs)), and
    * probes the candidate files by their deterministic names —
    * O(#leaf-dirs × window/flushSize) FS ops, independent of total
    * committed files. The relation is built from the probed statuses, so
    * planning it lists and re-checks nothing. The offset filter stays on
    * top for the boundary chunks' partial overlap.
    *
    * Equals `read(...).filter(fromOffset <= offset < untilOffset)` by
    * construction; falls back to exactly that when the topic dir predates
    * the config marker or the window matches no committed file. Meant for
    * bounded windows: a window spanning most of the topic is cheaper as a
    * full `read()` (the probe count exceeds the listing it avoids).
    */
  def readRange(spark: SparkSession, topicDir: String, fromOffset: Long,
      untilOffset: Long): DataFrame = {
    require(fromOffset < untilOffset,
      s"empty offset range [$fromOffset, $untilOffset)")
    val fs = topicFs(spark, topicDir)
    val root = new Path(topicDir)
    val topic = root.getName
    recoverIfCrashed(fs, root, clear = false)
    def fullScan = read(spark, topicDir)
      .filter(col("offset") >= fromOffset && col("offset") < untilOffset)
    readConfig(fs, root) match { // a corrupt marker throws, like compactTo/expire
      case None => fullScan // legacy dir: no recorded chunk grid to prune on
      case Some(cfg) =>
        val flushSize = cfg.flushSize
        // a wall-clock-rotated grid has unbounded time buckets per offset
        // chunk — cell names are not enumerable from the window alone, so
        // degrade to the (still offset-pushed-down) full scan
        if (cfg.rotateMs.isDefined) return fullScan
        // An open-ended sentinel window (untilOffset=Long.MaxValue with a
        // small flush.size) must not eagerly enumerate billions of chunk
        // starts on the driver: past this cap the probe count exceeds any
        // listing it could save, so degrade to the documented full scan.
        val firstChunk = fromOffset - math.floorMod(fromOffset, flushSize)
        val maxProbes = 16384L
        if ((untilOffset - 1 - firstChunk) / flushSize + 1 > maxProbes)
          return fullScan
        val chunks = Iterator
          .iterate(firstChunk)(_ + flushSize)
          .takeWhile(_ < untilOffset).toSeq
        // descend the value-derived prefix levels (0 for KafkaPartition,
        // 1 for TimeDaily/Field, N for TimeMulti) down to the partition=
        // leaves; `_`-prefixed dirs are staging/markers, never layout
        def leafDirs(dir: Path): Seq[Path] = listDir(fs, dir).flatMap { st =>
          val n = st.getPath.getName
          if (!st.isDirectory) Nil
          else if (n.startsWith("partition=")) Seq(st.getPath)
          else if (n.contains("=") && !n.startsWith("_") && !n.startsWith("."))
            leafDirs(st.getPath)
          else Nil
        }
        val files = for {
          dir <- leafDirs(root)
          p = dir.getName.stripPrefix("partition=")
          c <- chunks
          f <- committedChunkFiles(fs, dir, CommittedName.prefix(topic, p, c.toString))
        } yield f
        if (files.isEmpty) fullScan
        else sinkRelation(spark, fs, root, Some(files), Some(cfg),
            readMarker(fs, new Path(root, StatsMarker)))
          .filter(col("offset") >= fromOffset && col("offset") < untilOffset)
    }
  }

  /** The committed layout id of a topic dir (`"kafka-partition"` or
    * `"time:<fmt>"`) from its config marker — how a consumer that didn't
    * write the topic (e.g. `StreamOps.streamFromSink`) learns the directory
    * shape without guessing from listings.
    */
  def layoutId(spark: SparkSession, topicDir: String): String =
    readConfig(topicFs(spark, topicDir), new Path(topicDir))
      .fold("kafka-partition")(_.layoutId) // legacy dir: the default layout

  /** Compact a topic dir onto a coarser rotation grid — the object-store
    * small-file problem. A long-running stream with a small flush.size (or a
    * low-rate topic under a time-based trigger) accumulates files whose
    * per-object overhead (S3 request counts, ORC footer reads, scan task
    * scheduling) eventually dominates; at 100 TB the fix is periodic
    * compaction, not a bigger flush.size at write time (which would delay
    * commit durability).
    *
    * Rewrites every committed row into `outDir/topics/<topic>/` on the
    * `targetFlushSize` grid — required to be a multiple of the source grid,
    * so old chunk ranges NEST inside new ones and the offset-named contract
    * is preserved exactly (readers, readRange and future writes work
    * unchanged, just with fewer, larger files). The dt/partition layout is
    * carried over from the source dirs (no timestamp re-derivation — the
    * files do not store the record timestamp). Runs through the same
    * marker → leaf write → hoist commit protocol as `write`, so a crashed
    * compaction recovers the same way; the incomplete output dir is simply
    * re-compacted (the source dir is never mutated). Swapping the compacted
    * dir in place of the source is the caller's move — on a rename-capable
    * FS a dir rename; on S3 a prefix/pointer flip — matching how production
    * compaction jobs publish snapshots.
    *
    * This is a maintenance operation: it reads the full topic (one file
    * listing of the source dir), unlike the steady-state write/readRange
    * paths, which never list committed files.
    */
  def compactTo(spark: SparkSession, topicDir: String, outDir: String,
      targetFlushSize: Long,
      orcOptions: Map[String, String] = Map.empty): String = {
    val fs = topicFs(spark, topicDir)
    val root = new Path(topicDir)
    val topic = root.getName
    val cfg = sinkConfig(fs, root)
    val flushSize = cfg.flushSize
    require(targetFlushSize > flushSize && targetFlushSize % flushSize == 0,
      s"target flush.size $targetFlushSize must be a proper multiple of the " +
        s"committed $flushSize (chunk ranges must nest to keep offset names exact)")

    val prefixCols = cfg.prefixCols
    val partCols = prefixCols ++ Seq("partition", ChunkCol)
    val df = read(spark, topicDir)
    val valueCols = df.columns.toSeq
      .filterNot(c => c == "offset" || c == ChunkCol || partCols.contains(c))
    val flat = df
      .withColumn(ChunkCol, col("offset") - pmod(col("offset"), lit(targetFlushSize)))
      .select(partCols.map { c =>
        if (prefixCols.contains(c)) col(c).cast("string").as(c) else col(c)
      } ++ (col("offset") +: valueCols.map(col)): _*)

    val newTopicDir = s"$outDir/topics/$topic"
    val newRoot = new Path(newTopicDir)
    val newFs = topicFs(spark, newTopicDir)
    // carry the stats contract VERBATIM (incl. :str type decorations): the
    // compacted topic keeps file-skipping metadata if the source tracked it
    // (recomputed below on the new grid). The new grid has no time buckets.
    stampConfig(newFs, newRoot, SinkConfig(targetFlushSize, cfg.layoutId, None, cfg.stats))(
      newFs.mkdirs(newRoot))
    // carry the latched schema so later write()s keep their drift checks
    readMarker(fs, new Path(root, SchemaMarker)).foreach(json =>
      writeMarker(newFs, new Path(newRoot, SchemaMarker), json))

    // stats BEFORE anything is staged (the write() ordering): flat is the
    // full new content, so a crashed compaction recovers with consistent
    // metadata. orcOptions ride the same path as write() — compaction must
    // not strip the topic's bloom filters. A cell an earlier, interrupted
    // compaction committed is replaced, not merged: `flat` holds all of it.
    commit(spark, newFs, newRoot, topic, flat, partCols, orcOptions,
        if (cfg.statsCols.forall(flat.columns.contains)) cfg.statsCols else Nil,
        readBack = false)(
      _.map(t => committedChunkFiles(newFs, t.partitionDir(newRoot), t.filePrefix(topic))))
    newTopicDir
  }

  /** Retention: delete every committed chunk file wholly below the offset
    * watermark — chunk-granular (a chunk straddling the watermark stays
    * whole; rewriting it would break the offset-named contract), matching
    * Kafka's segment-granular log retention. Idempotent and crash-safe by
    * construction: deleting a committed file is a single FS op, and a
    * partial pass is finished by re-running. Files are matched by EXACT
    * name parse; anything else (markers, foreign files) is untouched.
    * Maintenance-path listing, like compactTo. Returns #files deleted.
    */
  def expire(spark: SparkSession, topicDir: String, beforeOffset: Long): Int = {
    val fs = topicFs(spark, topicDir)
    val root = new Path(topicDir)
    if (!fs.exists(root)) return 0
    val topic = root.getName
    recoverIfCrashed(fs, root, clear = false) // normalize a crashed layout before judging names
    val flushSize = sinkConfig(fs, root).flushSize
    var deleted = 0
    def visit(dir: Path): Unit =
      listDir(fs, dir).foreach { st =>
        val n = st.getPath.getName
        // any layout dir (partition=, dt=, year=, <field>=…); `_`-prefixed
        // are staging/markers
        if (st.isDirectory && n.contains("=") &&
            !n.startsWith("_") && !n.startsWith("."))
          visit(st.getPath)
        else if (st.isFile && CommittedName.parse(topic, n)
            .exists(_.chunk.toLong + flushSize <= beforeOffset))
          if (fs.delete(st.getPath, false)) deleted += 1
      }
    visit(root)
    deleted
  }

  /** Orphan-file vacuum — the object-store hygiene pass every lake table
    * runs (Delta VACUUM / Iceberg remove_orphan_files): remove debris a
    * crashed or interrupted writer left behind, without ever touching
    * crash-recovery evidence. Removed:
    *   - `.spark-staging-*` / `_temporary` dirs at any level (the job
    *     staging of Spark's own file writers, which wrote this sink's
    *     commits before the leaf writer; recovery never reads them — replay
    *     rewrites the batch — so after a crash they are dead weight);
    *   - files inside a `partition=` leaf whose name is not the committed
    *     `<topic>+<p>+<chunk>[+t<bucket>][-N].orc` shape FOR THAT leaf
    *     (foreign topic prefixes, `part-*` strays, tool droppings);
    *   - non-hidden stray files at layout levels (data never lives there);
    *   - non-protocol subdirectories inside a leaf.
    * NEVER removed: `_graft_*` markers (`_graft_inflight` IS the crash
    * evidence — deleting it disables recovery), `_chunk=` staging dirs
    * (the next read/write hoists them), and any other `_`/`.`-prefixed
    * entry (`_SUCCESS`, hidden files). Like compactTo/expire, not safe
    * concurrent with an active writer. Returns the removed paths — one
    * driver-side list bounded by orphan count, never data-sized.
    */
  def vacuumOrphans(spark: SparkSession, topicDir: String): Seq[String] = {
    val fs = topicFs(spark, topicDir)
    val root = new Path(topicDir)
    if (!fs.exists(root)) return Nil
    val topic = root.getName
    val removed = Seq.newBuilder[String]
    def del(p: Path, recursive: Boolean): Unit =
      if (fs.delete(p, recursive)) removed += p.toString
    def isStagingDir(n: String) =
      n.startsWith(".spark-staging") || n == "_temporary"
    def walkLeaf(pDir: Path, p: String): Unit =
      listDir(fs, pDir).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory) {
          if (isStagingDir(n)) del(st.getPath, recursive = true)
          else if (n.startsWith(s"$ChunkCol=")) () // recovery evidence
          else if (!n.startsWith(".") && !n.startsWith("_"))
            del(st.getPath, recursive = true)
        } else if (!CommittedName.parse(topic, n).exists(_.partition == p) &&
            !n.startsWith("_") && !n.startsWith("."))
          del(st.getPath, recursive = false)
      }
    def walk(dir: Path): Unit =
      listDir(fs, dir).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory) {
          if (isStagingDir(n)) del(st.getPath, recursive = true)
          else if (n.startsWith("partition="))
            walkLeaf(st.getPath, n.stripPrefix("partition="))
          else if (!n.startsWith(".") && !n.startsWith("_")) walk(st.getPath)
        } else if (!n.startsWith("_") && !n.startsWith("."))
          del(st.getPath, recursive = false) // stray data file at a layout level
      }
    walk(root)
    removed.result()
  }

  /** Keyed erasure — the GDPR/CCPA right-to-be-forgotten delete every lake
    * table needs: drop all rows where `predicate` is TRUE, rewriting ONLY
    * the chunks that hold such rows. Untouched chunks are never read for
    * data or rewritten; touched chunks are re-read by their EXACT committed
    * names (the committedChunkFiles probes — no directory scan of the data)
    * and their survivors recommitted through the same marker → leaf write
    * → hoist protocol as write(), so a crash mid-erasure recovers
    * identically and the operation is re-runnable until it returns 0.
    * Chunks left with NO survivors have their committed files deleted
    * directly (a leaf with no rows stages no file to hoist): the commit's
    * map stage finds the leaves that still hold rows, and the others are
    * deleted before its marker. Those deletes are idempotent single FS ops,
    * so any crash leaves only convergent work. Non-matching rows are only
    * ever rewritten, never dropped; rows where the predicate evaluates NULL
    * are kept (deleted ⟺ predicate TRUE — the SQL DELETE contract).
    *
    * Finding the touched chunks takes one full read of the topic (a
    * maintenance-path listing, like compactTo/expire) — but the REWRITE is
    * O(touched chunks × flushSize), never O(topic). Returns #rows deleted.
    */
  def deleteRows(spark: SparkSession, topicDir: String,
      predicate: org.apache.spark.sql.Column): Long = {
    val fs = topicFs(spark, topicDir)
    val root = new Path(topicDir)
    val topic = root.getName
    recoverIfCrashed(fs, root, clear = true)
    val cfg = sinkConfig(fs, root)
    val prefixCols = cfg.prefixCols
    val partCols = prefixCols ++ Seq("partition", ChunkCol)

    // the commit cell lives only in the file NAME: offset chunk, plus the
    // event-time bucket on a wall-clock-rotated grid (write()'s merge-path
    // convention — the zero-padded chunk normalizes through long)
    def nameField(group: Int) = regexp_extract(input_file_name(), CommittedName.Tail, group)
    val chunkCol = nameField(2).cast("long").cast("string")
    val cellCol =
      if (cfg.rotateMs.isEmpty) chunkCol else concat(chunkCol, lit("t"), nameField(3))
    val matches = read(spark, topicDir).withColumn(ChunkCol, cellCol)
      .filter(predicate)
    val touched = touchedLeaves(matches, partCols)
    if (touched.isEmpty) return 0L

    // re-read EXACTLY the touched chunks' files, with the latched schema
    // (mixed pre-/post-widening physical schemas — the read() contract)
    val committed = touched.map(t =>
      t -> committedChunkFiles(fs, t.partitionDir(root), t.filePrefix(topic))).toMap
    val chunkRows = sinkRelation(spark, fs, root, Some(touched.flatMap(committed)), Some(cfg), None)
      .withColumn(ChunkCol, cellCol)
    val nBefore = chunkRows.count()
    val valueCols = chunkRows.columns.toSeq
      .filterNot(c => c == "offset" || c == ChunkCol || partCols.contains(c))
    // keep rows where the predicate is NOT TRUE (NULL keeps — SQL DELETE)
    val survivors = chunkRows
      .filter(!coalesce(predicate, lit(false)))
      .select(partCols.map { c =>
        if (prefixCols.contains(c)) col(c).cast("string").as(c) else col(c)
      } ++ (col("offset") +: valueCols.map(col)): _*)
    val deleted = nBefore - survivors.count()
    if (deleted == 0L) return 0L

    // stats refresh AFTER the hoist: erased rows must stop being described
    // by the skipping metadata (a stale min/max is only a safe
    // over-approximation until then), and the post-commit order means a
    // crash can never leave stats NARROWER than the surviving data
    val statsCols = if (cfg.statsCols.forall(survivors.columns.contains)) cfg.statsCols else Nil
    val live = commit(spark, fs, root, topic, survivors, partCols, Map.empty,
        statsCols, statsAfterHoist = true, readBack = false) { live =>
      // chunks with zero survivors stage nothing — delete their committed
      // files directly (idempotent, convergent); a live chunk's new file
      // replaces its committed ones
      touched.filterNot(live.toSet).foreach(t =>
        committed(t).foreach(f => fs.delete(f.getPath, false)))
      live.map(committed)
    }
    rewriteStats(fs, root, prefixCols, Map.empty, touched.filterNot(live.toSet).toSet)
    deleted
  }
}
