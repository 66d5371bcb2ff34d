package graft.streaming

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets.UTF_8

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Encoders, GraftOutputMetrics,
  SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  BoundReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual,
  LessThan, LessThanOrEqual, Literal, UnsafeProjection}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex, OutputWriter, OutputWriterFactory,
  PartitionDirectory}
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

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
  *  - one write job per commit, the reference's one `RecordWriter` per
  *    output file (`OrcRecordWriterProvider.java:11-31`): one shuffle sends
  *    each touched leaf's rows to one task, round-robin over
  *    min(#leaves, defaultParallelism) tasks so the files are written in
  *    parallel, and the task writes them sorted by offset as exactly one
  *    ORC file in the leaf's `_chunk=` staging dir;
  *  - re-processing an offset range is idempotent (reference O11's
  *    `overwrite(true)` recovery contract, `DataWriterOrcTest.java:102-124`):
  *    the hoist replaces a leaf's committed file with the staged one, and
  *    the rows a leaf already holds are read back into the same job and
  *    deduplicated by offset;
  *  - the rename to reference-style names is a driver-side, metadata-only
  *    pass that in steady state touches ONLY this batch's `(partition,
  *    chunk)` dirs — O(files-in-this-batch) FS ops per commit, independent
  *    of how many files the topic has accumulated. The full directory walk
  *    exists only on the recovery path, gated by an in-flight marker: it
  *    runs at most once after a crash, never per batch;
  *  - every read (`read`, `readRange`, `readAsOf`, `readAsOfStr`) plans
  *    over one committed-file index (`sinkRelation`). It skips files at
  *    planning time: a pushed `column <op> literal` conjunct on `offset`
  *    is judged against the chunk range in each file's name, and one on a
  *    tracked stats column against the cell's `_graft_stats` line. The
  *    window reads build the index from the statuses their exact-name
  *    probes return, so planning them lists nothing and runs no job.
  *
  * Durability protocol (one commit per rotation file, `FileUtils.java:10-26`):
  *  1. `_graft_inflight` marker is created (listing the touched leaves);
  *  2. the write job stages one file per touched leaf in a transient
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

  /** Tail of every committed file name:
    * `+<zero-padded chunk>[+t<time bucket>][-N].orc` — group 1 is the
    * offset-chunk start, group 2 the wall-clock-rotation bucket (empty when
    * rotation is off).
    */
  private val CommittedTailRe = raw"\+(\d+)(?:\+t(-?\d+))?(?:-\d+)?\.orc$$"

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
    * already scheme-parameterized via `FileSystem.get(URI)`.
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

  /** Committed file prefix of a cell (reference `FileUtils.fileKeyToCommit`
    * naming, extended with `+t<bucket>` under wall-clock rotation).
    */
  private def cellFilePrefix(topic: String, partition: String, cell: String): String = {
    val (chunk, bucket) = cellParts(cell)
    f"${fileTopic(topic)}+$partition+$chunk%010d" + bucket.fold("")(b => s"+t$b")
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
      cellFilePrefix(topic, partition.toString, cell)
    /** The leaf's key, as `leafKey` renders it from a row. */
    def key: String = (prefix.map(_._2) ++ Seq(partition.toString, cell)).mkString("\u0000")
  }

  /** Write a Kafka-shaped DataFrame (key, value:struct, topic, partition,
    * offset, timestamp) as offset-named ORC files. Returns the topic dir.
    *
    * Chunk-spanning batches: a rotation chunk only partially covered by this
    * batch may already hold rows from an earlier batch (micro-batch
    * boundaries are not flush-size-aligned). The chunk's staged file
    * replaces its committed one, so the touched chunks' existing files —
    * located exactly, by their deterministic names — are read back into the
    * same write job and deduplicated by offset per leaf. The read-back is
    * lazy: the committed files it reads are deleted only by the hoist, after
    * the job has ended. Replay-safe AND batch-boundary-safe. Cost is
    * O(touched chunks × flushSize), never O(output).
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
    val fs = FileSystem.get(new java.net.URI(topicDir),
      spark.sparkContext.hadoopConfiguration)

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

    // touched output leaves — small by construction: one per output file of
    // this batch. Their existing files have deterministic names, so the
    // read-back probes exactly those names (never a directory scan).
    val touched = touchedLeaves(flat, partCols)

    val inflight = new Path(root, InflightMarker)
    // RECOVERY (rare, marker-gated): a crash inside a previous commit left
    // merged rows inside `_chunk=` staging dirs. Re-running the hoist pass
    // makes the name-based probes below complete again. Steady state never
    // enters this branch — no per-batch directory walk.
    if (fs.exists(inflight)) {
      recoverFromMarker(fs, root, topic, inflight)
      fs.delete(inflight, false)
    }
    val existingPaths = touched.flatMap { t =>
      committedChunkFiles(fs, t.partitionDir(root), t.filePrefix(topic))
        .map(_.getPath.toString)
    }
    val merged =
      if (existingPaths.isEmpty) flat
      else {
        // partition-type inference OFF for the merge read: flat carries
        // every prefix col as a STRING, and inference would corrupt
        // non-canonical values on the round trip (dir `f=05` infers int 5,
        // casts back to "5" ≠ "05"). With inference off all dir cols come
        // back as raw (unescaped) strings — exact.
        val inferKey = "spark.sql.sources.partitionColumnTypeInference.enabled"
        val prevInfer = spark.conf.get(inferKey)
        // the rotated cell's time bucket is not stored in the rows (only in
        // the file name) — rebuild the composite cell from the probed file's
        // own name; without rotation the offset grid suffices
        val existingCell = rotateMs match {
          case None => col("offset") - pmod(col("offset"), lit(flushSize))
          case Some(_) => concat(
            // the name embeds the ZERO-PADDED chunk — normalize via long
            regexp_extract(input_file_name(), CommittedTailRe, 1)
              .cast("long").cast("string"),
            lit("t"), regexp_extract(input_file_name(), CommittedTailRe, 2))
        }
        val existing = try {
          spark.conf.set(inferKey, "false")
          // Read with the DECLARED (latched) schema, never a sampled file's:
          // after a Backward widening a touched chunk set can mix pre- and
          // post-widening physical files, and sampling a narrow one would
          // read the added columns as absent from EVERY file — the rewrite
          // would then erase those values from rows not replayed in this
          // batch (silent data loss; ADVICE r4). With the declared schema
          // ORC's name-based matching null-fills exactly the files that
          // predate each widening — the same contract as read(). flat's
          // schema IS the latch (conformValueSchema ran above), so columns
          // added by this very batch null-fill the same way; dir-derived
          // columns (prefix values, partition) are declared too and fill
          // from their dir values at the declared (string/int) types.
          val declared = StructType(
            flat.schema.fields.filterNot(_.name == ChunkCol))
          spark.read.option("basePath", topicDir)
            .schema(declared)
            .orc(existingPaths: _*)
            .withColumn(ChunkCol, existingCell)
            // realign column order/types to flat's
            .select(flat.schema.fields.map(f => col(f.name).cast(f.dataType)): _*)
        } finally spark.conf.set(inferKey, prevInfer)
        flat.union(existing)
      }
    // a replayed offset meets its committed copy only through the
    // read-back, so only then does the write job deduplicate — per leaf,
    // i.e. per partition: offsets are unique only per partition (Kafka
    // contract)
    val dedup = existingPaths.nonEmpty

    // per-cell column stats (file-skipping metadata, the Delta-log idea):
    // recorded BEFORE the commit so a crash mid-commit leaves stats that
    // describe the post-recovery content — `merged` IS the full new content
    // of every touched cell, so replacing those cells' lines is exact
    if (statsColumns.nonEmpty)
      updateStats(fs, root, merged, partCols, touched, statsColumns, dedup)
    commit(spark, fs, root, topic, merged, partCols, touched, orcOptions, dedup)
    topicDir
  }

  /** The distinct output leaves of a flattened batch. One driver-side
    * collect, bounded by files-in-this-batch (prefix cols cast to string:
    * the batch API builds them as strings, but compaction's read-back may
    * infer other types from the dirs). Each input partition is deduplicated
    * in its task and the driver merges the rest: one job and no shuffle,
    * where `distinct()` costs a shuffle and, under adaptive execution, a
    * second job.
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

  /** The shared commit step (write, compactTo, deleteRows): in-flight
    * marker → one write job staging each touched leaf's file
    * (`writeLeaves`) → hoist ONLY the touched leaves to their committed
    * offset names → drop the marker. Never a directory walk.
    */
  private def commit(spark: SparkSession, fs: FileSystem, root: Path,
      topic: String, rows: DataFrame, partCols: Seq[String],
      touched: Seq[Touched], orcOptions: Map[String, String],
      dedup: Boolean): Unit = {
    if (touched.isEmpty) return
    val inflight = new Path(root, InflightMarker)
    // marker line = url-encoded prefix values, partition, chunk, '|'-joined.
    // URL-encoding makes the split unambiguous for arbitrary Field values
    // ('|', newline, '%' all encode away); TimeDaily's default-format values
    // contain no '%', so legacy raw-dt markers decode unchanged.
    writeMarker(fs, inflight,
      touched.map(t =>
        (t.prefix.map(p => java.net.URLEncoder.encode(p._2, "UTF-8")) ++
          Seq(t.partition.toString, t.cell)).mkString("|"))
        .mkString("\n"))
    writeLeaves(spark, root, rows, partCols, touched, orcOptions, dedup)
    touched.foreach(t =>
      hoistChunkDir(fs, t.partitionDir(root), t.partition.toString, t.cell, topic))
    fs.delete(inflight, false)
    ()
  }

  /** The name a staged leaf file ends up with in its `_chunk=` dir. */
  private val PartFile = "part-00000.orc"

  /** Column carrying each row's index into the touched leaves. */
  private val LeafCol = "_leaf"

  /** A row's leaf key, in the form `Touched.key` renders. */
  private def leafKey(prefixNames: Seq[String]): Column =
    concat_ws("\u0000", prefixNames.map(n => col(n).cast("string")) ++
      Seq(col("partition").cast("int").cast("string"),
        col(ChunkCol).cast("string")): _*)

  /** The commit's one write job: every touched leaf's rows become exactly
    * one ORC file, `part-00000.orc` in the leaf's `_chunk=<cell>` staging
    * dir, holding the columns `rows` carries besides the layout ones, in
    * their order.
    *
    * Leaf i goes to task i mod n, n = min(#leaves, defaultParallelism): one
    * shuffle (`repartitionById`, which adaptive execution never coalesces)
    * spreads the files across cores, no task writing more than
    * ⌈leaves / n⌉ of them. Each task sorts its rows by (leaf, offset) and
    * streams them through `LeafWriter`, whose writers come from
    * `OrcFileFormat.prepareWrite` with the session's ORC settings plus
    * `orcOptions` — what `df.write.options(orcOptions).orc` applies.
    */
  private def writeLeaves(spark: SparkSession, root: Path, rows: DataFrame,
      partCols: Seq[String], touched: Seq[Touched],
      orcOptions: Map[String, String], dedup: Boolean): Unit = {
    val leafOf = touched.zipWithIndex.map { case (t, i) => t.key -> i }.toMap
    val leaf = udf((k: String) => leafOf.getOrElse(k,
      throw new IllegalStateException(s"row outside the touched leaves: $k")))
    val n = math.min(touched.size, spark.sparkContext.defaultParallelism)
    val planned = rows
      .withColumn(LeafCol, leaf(leafKey(partCols.dropRight(2))))
      .repartitionById(n, col(LeafCol) % n)
      .sortWithinPartitions(LeafCol, "offset")
      .select((LeafCol +: rows.columns.toSeq.filterNot(partCols.contains)).map(col): _*)
    val dataSchema = StructType(planned.schema.fields.tail)
    val job = Job.getInstance(spark.sessionState.newHadoopConfWithOptions(orcOptions))
    val factory = new OrcFileFormat().prepareWrite(spark, job, orcOptions, dataSchema)
    val conf = spark.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration))
    val writer = new LeafWriter(
      touched.map(t => new Path(t.partitionDir(root), s"$ChunkCol=${t.cell}").toString).toArray,
      factory, dataSchema, conf, dedup)
    try SQLExecution.withNewExecutionId(planned.queryExecution, Some(s"commit $root")) {
      spark.sparkContext.runJob(planned.queryExecution.toRdd,
        (ctx: TaskContext, it: Iterator[InternalRow]) => writer.write(ctx, it))
    } finally conf.destroy()
    ()
  }

  /** The task side of `writeLeaves`. Rows arrive as (leaf index, data
    * columns…), sorted by leaf then offset; with `dedup` a leaf keeps the
    * first row of each offset. A leaf's rows stream into a hidden,
    * attempt-unique `.attempt-<task attempt id>.orc` in its staging dir,
    * which on close replaces the dir's one `part-00000.orc`: a retried
    * attempt overwrites the part file rather than adding a second, and a
    * failed attempt's temp file is deleted with the dir by the hoist.
    * Records and bytes written go to the task's OutputMetrics.
    */
  private final class LeafWriter(dirs: Array[String],
      factory: OutputWriterFactory, dataSchema: StructType,
      conf: Broadcast[SerializableConfiguration], dedup: Boolean)
      extends Serializable {
    def write(ctx: TaskContext, rows: Iterator[InternalRow]): Unit = {
      val hadoopConf = conf.value.value
      val attempt = new TaskAttemptContextImpl(hadoopConf, new TaskAttemptID(
        "graft", ctx.stageId(), TaskType.MAP, ctx.partitionId(), ctx.attemptNumber()))
      val data = UnsafeProjection.create(dataSchema.fields.toSeq.zipWithIndex.map {
        case (f, i) => BoundReference(i + 1, f.dataType, f.nullable)
      })
      val offsetAt = dataSchema.fieldIndex("offset") + 1
      var leaf = -1
      var last = 0L
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
          val offset = r.getLong(offsetAt)
          if (l != leaf) {
            finish()
            leaf = l
            tmp = new Path(dirs(l), s".attempt-${ctx.taskAttemptId()}.orc")
            out = factory.newInstance(tmp.toString, dataSchema, attempt)
          }
          if (records == 0L || !dedup || offset != last) {
            out.write(data(r))
            records += 1
          }
          last = offset
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
    val desc = s"flushSize=$flushSize\nlayout=${layoutIdOf(layout)}" +
      rotateMs.fold("")(ms => s"\nrotate=$ms") +
      // stats coverage is all-or-nothing per topic: a cell missing from the
      // stats marker would be silently excluded by readAsOf, so mixing
      // stats and no-stats writes must fail fast like a flush.size mismatch.
      // The comma-joined ORDER is part of the contract — it fixes which
      // |mn|mx pair in a stats line belongs to which column.
      (if (statsColumns.isEmpty) ""
       else s"\nstats=${statsColumns.mkString(",")}")
    val p = new Path(root, ConfigMarker)
    readMarker(fs, p) match {
      case Some(existing) => require(existing == desc,
        s"sink config mismatch at $root: committed {${existing.replace("\n", ", ")}} " +
          s"vs requested {${desc.replace("\n", ", ")}} — all writes against one " +
          "topic dir must use the same flush.size and layout")
      case None =>
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
        fs.mkdirs(root); writeMarker(fs, p, desc)
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
    val fs = FileSystem.get(new java.net.URI(topicDir),
      spark.sparkContext.hadoopConfiguration)
    val root = new Path(topicDir)
    require(fs.exists(root), s"$topicDir does not exist")
    val inflight = new Path(root, InflightMarker)
    recover(fs, root, root.getName)
    fs.delete(inflight, false) // full walk covers whatever a marker recorded
    validateLayout(layout)
    val p = new Path(root, ConfigMarker)
    val desc = s"flushSize=$flushSize\nlayout=${layoutIdOf(layout)}"
    readMarker(fs, p) match {
      case Some(existing) => require(existing == desc,
        s"$root already committed a different config: $existing")
      case None => writeMarker(fs, p, desc)
    }
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
        if (key(latched) == key(incoming)) df
        else drift match {
          case DriftMode.Reject => throw new IllegalStateException(
            s"schema drift rejected (DriftMode.Reject): latched " +
              s"${latched.simpleString} vs incoming ${incoming.simpleString}")
          case DriftMode.Project =>
            val incNames = incoming.fieldNames.toSet
            val fields = latched.fields.toSeq.map { f =>
              if (incNames.contains(f.name))
                col("value").getField(f.name).cast(f.dataType).as(f.name)
              else lit(null).cast(f.dataType).as(f.name)
            }
            df.withColumn("value", struct(fields: _*))
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
            val incNames = incoming.fieldNames.toSet
            df.withColumn("value", struct(widened.fields.toSeq.map { f =>
              if (incNames.contains(f.name))
                col("value").getField(f.name).cast(f.dataType).as(f.name)
              else lit(null).cast(f.dataType).as(f.name) // project up
            }: _*))
          case DriftMode.Forward =>
            // the latch never moves: project DOWN onto it (added incoming
            // fields dropped, missing ones null), refuse retypes
            rejectRetyped(latched, incoming, drift)
            val incNames = incoming.fieldNames.toSet
            df.withColumn("value", struct(latched.fields.toSeq.map { f =>
              if (incNames.contains(f.name))
                col("value").getField(f.name).cast(f.dataType).as(f.name)
              else lit(null).cast(f.dataType).as(f.name)
            }: _*))
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
    probe(s"$prefix.orc").toSeq ++
      Iterator.from(1).map(i => probe(s"$prefix-$i.orc"))
        .takeWhile(_.isDefined).flatten
  }

  /** Hoist ONE chunk's staging dir to its committed offset name — the
    * reference's exact key layout (`FileUtils.fileKeyToCommit`). Metadata
    * only: one rename per committed file. Stale committed files for the
    * chunk (matched exactly, incl. `-N` suffixes) are deleted first, so
    * replays converge to one file per chunk.
    */
  private def hoistChunkDir(fs: FileSystem, pDir: Path, p: String,
      cell: String, topic: String): Unit = {
    val cDir = new Path(pDir, s"$ChunkCol=$cell")
    if (!fs.exists(cDir)) return
    val prefix = cellFilePrefix(topic, p, cell)
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
      val t = new Path(pDir, s"$prefix.orc")
      // Hadoop signals most rename failures (e.g. a failed S3A copy) by
      // returning false, not throwing. An unchecked false here followed by
      // the staging-dir delete would destroy the chunk's only copy — fail
      // instead, leaving the staging dir AND the in-flight marker in
      // place, so the next write/read recovers.
      if (!fs.rename(parts.head.getPath, t))
        throw new java.io.IOException(
          s"rename ${parts.head.getPath} -> $t failed; staging dir kept for recovery")
    }
    fs.delete(cDir, true) // now holds only commit markers, if that
  }

  /** Recover a crashed commit. The in-flight marker records the crashed
    * batch's touched leaves, and only one marker can ever exist (each write
    * recovers its predecessor before writing its own), so hoisting exactly
    * those leaves is complete — O(touched leaves), even on a topic with
    * millions of committed files. The expected field count comes from the
    * persisted layout; any line that doesn't parse against it (incl. a
    * legacy pre-generalization marker, whose KafkaPartition form carried an
    * empty leading dt field) falls back to the full directory walk —
    * correct, just slower, and only ever after a crash.
    */
  private def recoverFromMarker(fs: FileSystem, root: Path, topic: String,
      inflight: Path): Unit = {
    val prefixNames = readMarker(fs, new Path(root, ConfigMarker))
      .map(desc => prefixColsOf(parseConfig(desc)._2))
    val lines = readMarker(fs, inflight)
      .map(_.linesIterator.filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val Num = raw"\d+".r
    val Cell = raw"\d+(?:t-?\d+)?".r
    val parsed = prefixNames.map { names =>
      lines.flatMap { line =>
        val parts = line.split("\\|", -1).toSeq
        if (parts.size == names.size + 2 &&
            Num.pattern.matcher(parts(names.size)).matches() &&
            Cell.pattern.matcher(parts(names.size + 1)).matches())
          Some(Touched(
            names.zip(parts.take(names.size)
              .map(v => java.net.URLDecoder.decode(v, "UTF-8"))),
            parts(names.size).toInt, parts(names.size + 1)))
        else None
      }
    }.getOrElse(Nil)
    if (parsed.nonEmpty && parsed.size == lines.size)
      parsed.foreach(t =>
        hoistChunkDir(fs, t.partitionDir(root), t.partition.toString, t.cell, topic))
    else recover(fs, root, topic)
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
    val fs = FileSystem.get(new java.net.URI(topicDir),
      spark.sparkContext.hadoopConfiguration)
    val root = new Path(topicDir)
    val inflight = new Path(root, InflightMarker)
    if (fs.exists(inflight))
      recoverFromMarker(fs, root, root.getName, inflight)
    sinkRelation(spark, fs, root, None,
      readMarker(fs, new Path(root, ConfigMarker)),
      readMarker(fs, new Path(root, StatsMarker)))
  }

  /** The one relation constructor under every sink read: an ORC
    * `HadoopFsRelation` over a `CommittedFileIndex`.
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
    * Two reads of the same topic compare equal (index equality by root
    * paths and listed files), so `sameResult` and cache reuse hold.
    */
  private def sinkRelation(spark: SparkSession, fs: FileSystem, root: Path,
      probed: Option[Seq[FileStatus]], desc: Option[String],
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
      new FileSkipping(qRoot, desc, () => statsText))
    val chunk = desc match {
      case Some(d) => col("offset") - pmod(col("offset"), lit(parseConfig(d)._1))
      case None => regexp_extract(input_file_name(), CommittedTailRe, 1).cast("long")
    }
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

  /** A pushed conjunct `column <op> value` that file skipping can judge:
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

  /** One committed cell's `_graft_stats` line: the cell and its recorded
    * range per tracked column, in config order.
    */
  private final case class CellStats(cell: Touched, ranges: IndexedSeq[ValueRange])

  /** Parse a `_graft_stats` payload against the topic's layout and stats
    * spec. Lines are self-describing by field count (pre-rowcount lines
    * are one field shorter); long bounds at Long.Min/MaxValue and the
    * string `!null` token are the all-null sentinels and leave the range
    * unbounded. None when ANY line fails to parse — a corrupt marker
    * prunes nothing.
    */
  private def parseStats(text: String, prefixNames: Seq[String],
      spec: Seq[(String, Boolean)]): Option[Seq[CellStats]] = {
    def dec(v: String) = java.net.URLDecoder.decode(v, "UTF-8")
    val base = prefixNames.size + 2
    val Cell = raw"\d+(?:t-?\d+)?".r
    try Some(text.linesIterator.filter(_.nonEmpty).map { l =>
      val f = l.split("\\|", -1)
      val at =
        if (f.length == base + 1 + 2 * spec.size) base + 1 // key | n_rows | pairs
        else if (f.length == base + 2 * spec.size) base // pre-rowcount line
        else throw new IllegalArgumentException(s"stats line: $l")
      val cell = f(base - 1)
      require(Cell.pattern.matcher(cell).matches(), s"stats cell: $l")
      cellParts(cell) // the chunk must fit a long
      val ranges = spec.indices.map { i =>
        val (mn, mx) = (f(at + 2 * i), f(at + 2 * i + 1))
        if (spec(i)._2)
          (Some(mn).filter(_ != StrStatsNull).map(dec),
            Some(mx).filter(_ != StrStatsNull).map(dec)): ValueRange
        else
          (Some(mn.toLong).filter(_ != Long.MinValue),
            Some(mx.toLong).filter(_ != Long.MaxValue)): ValueRange
      }
      CellStats(Touched(prefixNames.zip(f.take(prefixNames.size).map(dec)),
        f(base - 2).toInt, cell), ranges)
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
  private final class FileSkipping(root: Path, desc: Option[String],
      statsText: () => Option[String]) {
    private val topic = root.getName
    private val committedName = ("^" + java.util.regex.Pattern.quote(fileTopic(topic)) +
      raw"\+(\d+)\+(\d+)(?:\+t(-?\d+))?(?:-\d+)?\.orc$$").r
    private val config = desc.map(parseConfig)
    private val spec = desc.flatMap(statsSpecOf).getOrElse(Nil)
    /** committed file prefix (`<partition dir>/<cell file prefix>`) → stats */
    private lazy val byPrefix: Map[String, CellStats] = (for {
      (_, layoutId, _) <- config
      text <- statsText()
      cells <- parseStats(text, prefixColsOf(layoutId), spec)
    } yield cells.map(c =>
      s"${c.cell.partitionDir(root)}/${c.cell.filePrefix(topic)}" -> c).toMap)
      .getOrElse(Map.empty)

    def keeps(f: FileStatus, bounds: Seq[Bound]): Boolean = config match {
      case None => true
      case Some((flushSize, _, _)) =>
        val dir = f.getPath.getParent
        committedName.findFirstMatchIn(f.getPath.getName) match {
          case Some(m) if dir.getName == s"partition=${m.group(1)}" &&
              m.group(2).toLongOption.isDefined =>
            val chunk = m.group(2).toLong
            val offsets: ValueRange = (Some(chunk),
              Some(chunk + (flushSize - 1)).filter(_ >= chunk)) // no overflow
            val prefix = f.getPath.getName.substring(0,
              if (m.group(3) != null) m.end(3) else m.end(2))
            lazy val cell = byPrefix.get(s"$dir/$prefix")
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

  /** Per-cell min/max stats of `statsCols` (integer- or string-typed
    * emitted columns), merged into the `_graft_stats` marker: one line per
    * committed cell,
    * `<enc prefix values>|partition|cell|n_rows|mn1|mx1|mn2|mx2|…`
    * — the cell ROW COUNT (a Delta log's numRecords: catalog-only
    * `count(*)`, no data scan) then one |mn|mx pair per stats column, in
    * the CONFIG-MARKER ORDER (the
    * multi-column generalization a Delta/Iceberg log keeps, so readAsOf
    * pruning composes across predicates on different columns). A string
    * column's bounds are URL-encoded (the encoding '|'/newline-escapes, so
    * the split stays unambiguous) and its all-null sentinel is the literal
    * token `!null` — URLEncoder never emits a bare '!', so the sentinel
    * cannot collide with a real value. Touched cells' lines are REPLACED
    * (merged is their full new content); an all-null cell column records
    * the always-qualifying sentinel range. With `distinctOffsets` the row
    * count is the cell's distinct offsets — what the commit's per-leaf
    * dedup keeps of `merged`. One driver collect, bounded by
    * files-in-this-batch like touchedLeaves; adding a column adds two agg
    * buffers, never a second pass.
    */
  private def updateStats(fs: FileSystem, root: Path, merged: DataFrame,
      partCols: Seq[String], touched: Seq[Touched],
      statsCols: Seq[String], distinctOffsets: Boolean): Unit = {
    statsCols.foreach(c => require(merged.columns.contains(c),
      s"stats column '$c' is not an emitted column " +
        s"(${merged.columns.mkString(", ")})"))
    val isStr = statsCols.map(c =>
      merged.schema(c).dataType == org.apache.spark.sql.types.StringType)
    val prefixNames = partCols.dropRight(2)
    val keyCols = prefixNames.map(n => col(n).cast("string").as(n)) ++
      Seq(col("partition").cast("int").as("partition"),
        col(ChunkCol).cast("string").as(ChunkCol))
    val nRows = if (distinctOffsets) count_distinct(col("offset")) else count(lit(1L))
    val aggCols = nRows.as("nr") +:
      statsCols.zipWithIndex.flatMap { case (c, i) =>
        val v = if (isStr(i)) col(c) else col(c).cast("long")
        Seq(min(v).as(s"mn$i"), max(v).as(s"mx$i"))
      }
    val rows = merged
      .groupBy(keyCols: _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .collect()
    def enc(v: String) = java.net.URLEncoder.encode(v, "UTF-8")
    val fresh = rows.map { r =>
      val key = (prefixNames.map(n => enc(r.getAs[String](n))) ++
        Seq(r.getAs[Int]("partition").toString,
          r.getAs[String](ChunkCol))).mkString("|")
      val ranges = statsCols.indices.flatMap { i =>
        val (mnI, mxI) = (r.fieldIndex(s"mn$i"), r.fieldIndex(s"mx$i"))
        if (isStr(i))
          Seq(if (r.isNullAt(mnI)) StrStatsNull else enc(r.getString(mnI)),
            if (r.isNullAt(mxI)) StrStatsNull else enc(r.getString(mxI)))
        else
          Seq(
            (if (r.isNullAt(mnI)) Long.MinValue else r.getLong(mnI)).toString,
            (if (r.isNullAt(mxI)) Long.MaxValue else r.getLong(mxI)).toString)
      }
      // line = key | n_rows | per-column |mn|mx pairs. The ROW COUNT (a
      // Delta log's numRecords) rides between the key and the pairs; the
      // format is self-describing by FIELD COUNT — pre-rowcount topics'
      // lines are one field shorter and every reader dispatches per line,
      // so mixed-era markers (old cells untouched, replayed cells fresh)
      // parse exactly.
      key -> ((key +: (r.getAs[Long]("nr").toString +: ranges))
        .mkString("|"))
    }.toMap
    val nKey = prefixNames.size + 2
    val statsPath = new Path(root, StatsMarker)
    val kept = readMarker(fs, statsPath)
      .map(_.linesIterator.filter(_.nonEmpty).toSeq).getOrElse(Nil)
      .filterNot { l =>
        fresh.contains(l.split("\\|", -1).take(nKey).mkString("|"))
      }
    writeMarker(fs, statsPath,
      (kept ++ fresh.values.toSeq).sorted.mkString("\n"))
  }

  /** Drop the stats lines of cells whose committed files no longer exist
    * (emptied by erasure/expiry). Stale lines are merely a safe
    * over-approximation — probes find no files — but an erasure pass
    * should not leave metadata describing removed cells.
    */
  private def removeStatsLines(fs: FileSystem, root: Path,
      gone: Seq[Touched]): Unit = {
    if (gone.isEmpty) return
    val statsPath = new Path(root, StatsMarker)
    readMarker(fs, statsPath).foreach { text =>
      def enc(v: String) = java.net.URLEncoder.encode(v, "UTF-8")
      val goneKeys = gone.map(t =>
        (t.prefix.map(p => enc(p._2)) ++
          Seq(t.partition.toString, t.cell)).mkString("|")).toSet
      val nKey = gone.head.prefix.size + 2
      val kept = text.linesIterator.filter(_.nonEmpty).filterNot { l =>
        goneKeys(l.split("\\|", -1).take(nKey).mkString("|"))
      }.toSeq
      writeMarker(fs, statsPath, kept.mkString("\n"))
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
    val fs = FileSystem.get(new java.net.URI(topicDir),
      spark.sparkContext.hadoopConfiguration)
    val root = new Path(topicDir)
    val inflight = new Path(root, InflightMarker)
    if (fs.exists(inflight))
      recoverFromMarker(fs, root, root.getName, inflight)
    import spark.implicits._
    // the config marker names the tracked columns (in line order); a topic
    // written before the multi-column format has exactly one unnamed pair —
    // surface it under the recorded single name, or "" for pre-config dirs.
    // Long-typed pairs land in (stats_lo, stats_hi); string-typed pairs in
    // (stats_lo_str, stats_hi_str), the other side null — one uniform
    // catalog schema over mixed-type stats like a Delta log's minValues map.
    val conf = readMarker(fs, new Path(root, ConfigMarker))
    val spec = conf.flatMap(statsSpecOf).getOrElse(Nil)
    val nPrefix = conf.map(c => prefixColsOf(parseConfig(c)._2).size)
      .getOrElse(0)
    def dec(v: String) = java.net.URLDecoder.decode(v, "UTF-8")
    val rows = readMarker(fs, new Path(root, StatsMarker))
      .map(_.linesIterator.filter(_.nonEmpty).flatMap { l =>
        val f = l.split("\\|", -1)
        val cols = if (spec.nonEmpty) spec else Seq(("", false))
        // rowcount-era lines carry key | n_rows | pairs; pre-rowcount
        // lines are one field shorter — dispatch per LINE (mixed-era
        // markers are the normal state after a partial replay)
        val hasNr = f.length == nPrefix + 3 + 2 * cols.size
        val nrOpt = if (hasNr) Some(f(nPrefix + 2).toLong)
          else None: Option[Long]
        val pairsAt = nPrefix + (if (hasNr) 3 else 2)
        val prefix = f.take(nPrefix).map(dec).mkString("/")
        cols.zipWithIndex.map { case ((name, isStr), i) =>
          val (mn, mx) = (f(pairsAt + 2 * i), f(pairsAt + 1 + 2 * i))
          if (isStr)
            (prefix, f(nPrefix).toInt, f(nPrefix + 1).toLong, name,
              None: Option[Long], None: Option[Long],
              if (mn == StrStatsNull) None else Some(dec(mn)),
              if (mx == StrStatsNull) None else Some(dec(mx)), nrOpt)
          else
            (prefix, f(nPrefix).toInt, f(nPrefix + 1).toLong, name,
              Some(mn.toLong), Some(mx.toLong),
              None: Option[String], None: Option[String], nrOpt)
        }
      }.toSeq).getOrElse(Nil)
    rows.toDF("prefix", "partition", "chunk", "stats_col",
      "stats_lo", "stats_hi", "stats_lo_str", "stats_hi_str", "n_rows")
  }

  /** The raw (type-decorated) stats tokens of a `_graft_sink.conf` payload
    * — what compactTo re-stamps verbatim so the compacted topic keeps the
    * exact stats contract.
    */
  private def statsDeclOf(desc: String): Option[Seq[String]] =
    desc.linesIterator.collectFirst {
      case l if l.startsWith("stats=") =>
        l.stripPrefix("stats=").split(",", -1).toSeq
    }

  /** The stats columns recorded in a `_graft_sink.conf` payload as
    * (name, isString) pairs, config order = per-line |mn|mx pair order;
    * None when the topic tracks none. A bare token is the long-typed
    * legacy/default form; `name:str` marks a string-bounded pair.
    */
  private def statsSpecOf(desc: String): Option[Seq[(String, Boolean)]] =
    statsDeclOf(desc).map(_.map { tok =>
      if (tok.endsWith(":str")) (tok.dropRight(4), true) else (tok, false)
    })

  /** Tracked stats column NAMES (type suffix stripped). */
  private def statsColsOf(desc: String): Option[Seq[String]] =
    statsSpecOf(desc).map(_.map(_._1))

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
    val fs = FileSystem.get(new java.net.URI(topicDir),
      spark.sparkContext.hadoopConfiguration)
    val root = new Path(topicDir)
    val topic = root.getName
    val inflight = new Path(root, InflightMarker)
    if (fs.exists(inflight))
      recoverFromMarker(fs, root, topic, inflight)
    def window(df: DataFrame) = df.filter(col(column) >= lo && col(column) < hi)
    def fullScan = window(read(spark, topicDir))
    (readMarker(fs, new Path(root, StatsMarker)),
        readMarker(fs, new Path(root, ConfigMarker))) match {
      case (Some(statsText), Some(desc)) =>
        // prune on ANY tracked column — the pair offset inside each line
        // comes from the column's position in the config list
        val spec = statsSpecOf(desc).getOrElse(Nil)
        val colIdx = spec.indexWhere(_._1 == column)
        if (colIdx < 0) return fullScan
        require(spec(colIdx)._2 == wantString,
          s"stats column '$column' is ${if (spec(colIdx)._2) "string" else
            "numeric"}-typed — use ${if (spec(colIdx)._2) "readAsOfStr"
            else "readAsOf"}")
        val cells = parseStats(statsText, prefixColsOf(parseConfig(desc)._2), spec)
          .getOrElse(return fullScan) // corrupt: correctness first
        val bounds = Seq(Bound(column, ">=", lo), Bound(column, "<", hi))
        val files = cells
          .filter(c => bounds.forall(admits(c.ranges(colIdx), _)))
          .flatMap(c => committedChunkFiles(fs, c.cell.partitionDir(root),
            c.cell.filePrefix(topic)))
        if (files.isEmpty) fullScan.filter(lit(false)) // provably empty window
        else window(sinkRelation(spark, fs, root, Some(files), Some(desc),
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
    val fs = FileSystem.get(new java.net.URI(topicDir),
      spark.sparkContext.hadoopConfiguration)
    val root = new Path(topicDir)
    val topic = root.getName
    val inflight = new Path(root, InflightMarker)
    if (fs.exists(inflight))
      recoverFromMarker(fs, root, topic, inflight)
    def fullScan = read(spark, topicDir)
      .filter(col("offset") >= fromOffset && col("offset") < untilOffset)
    readMarker(fs, new Path(root, ConfigMarker)) match {
      case None => fullScan // legacy dir: no recorded chunk grid to prune on
      case Some(desc) =>
        val (flushSize, _, rotate) = parseConfig(desc) // corrupt marker throws, like compactTo/expire
        // a wall-clock-rotated grid has unbounded time buckets per offset
        // chunk — cell names are not enumerable from the window alone, so
        // degrade to the (still offset-pushed-down) full scan
        if (rotate.isDefined) return fullScan
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
          f <- committedChunkFiles(fs, dir, f"${fileTopic(topic)}+$p+$c%010d")
        } yield f
        if (files.isEmpty) fullScan
        else sinkRelation(spark, fs, root, Some(files), Some(desc),
            readMarker(fs, new Path(root, StatsMarker)))
          .filter(col("offset") >= fromOffset && col("offset") < untilOffset)
    }
  }

  /** The committed layout id of a topic dir (`"kafka-partition"` or
    * `"time:<fmt>"`) from its config marker — how a consumer that didn't
    * write the topic (e.g. `StreamOps.streamFromSink`) learns the directory
    * shape without guessing from listings.
    */
  def layoutId(spark: SparkSession, topicDir: String): String = {
    val fs = FileSystem.get(new java.net.URI(topicDir),
      spark.sparkContext.hadoopConfiguration)
    readMarker(fs, new Path(new Path(topicDir), ConfigMarker)) match {
      case Some(desc) => parseConfig(desc)._2
      case None => "kafka-partition" // legacy dir: the default layout
    }
  }

  /** Parse a `_graft_sink.conf` payload → (flushSize, layoutId, rotateMs). */
  private def parseConfig(desc: String): (Long, String, Option[Long]) = {
    val kv = desc.linesIterator.flatMap { l =>
      l.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None }
    }.toMap
    (kv.get("flushSize").map(_.toLong).getOrElse(
        throw new IllegalStateException(s"no flushSize in sink config: $desc")),
      kv.getOrElse("layout", "kafka-partition"),
      kv.get("rotate").map(_.toLong))
  }

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
    val fs = FileSystem.get(new java.net.URI(topicDir),
      spark.sparkContext.hadoopConfiguration)
    val root = new Path(topicDir)
    val topic = root.getName
    val desc = readMarker(fs, new Path(root, ConfigMarker)).getOrElse(
      throw new IllegalStateException(
        s"$topicDir has no sink config marker — not a sink topic dir"))
    val (flushSize, layoutId, _) = parseConfig(desc)
    require(targetFlushSize > flushSize && targetFlushSize % flushSize == 0,
      s"target flush.size $targetFlushSize must be a proper multiple of the " +
        s"committed $flushSize (chunk ranges must nest to keep offset names exact)")

    val prefixCols = prefixColsOf(layoutId)
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
    val newFs = FileSystem.get(new java.net.URI(newTopicDir),
      spark.sparkContext.hadoopConfiguration)
    // carry the stats contract VERBATIM (incl. :str type decorations): the
    // compacted topic keeps file-skipping metadata if the source tracked it
    // (recomputed below on the new grid)
    val statsCols = statsColsOf(desc).getOrElse(Nil)
    val statsDeclTok = statsDeclOf(desc).getOrElse(Nil)
    val newDesc = s"flushSize=$targetFlushSize\nlayout=$layoutId" +
      (if (statsDeclTok.isEmpty) ""
       else s"\nstats=${statsDeclTok.mkString(",")}")
    readMarker(newFs, new Path(newRoot, ConfigMarker)) match {
      case Some(existing) => require(existing == newDesc,
        s"compaction target $newTopicDir already committed a different config")
      case None =>
        newFs.mkdirs(newRoot)
        writeMarker(newFs, new Path(newRoot, ConfigMarker), newDesc)
    }
    // carry the latched schema so later write()s keep their drift checks
    readMarker(fs, new Path(root, SchemaMarker)).foreach(json =>
      writeMarker(newFs, new Path(newRoot, SchemaMarker), json))

    val touched = touchedLeaves(flat, partCols)
    // stats BEFORE the commit (the write() ordering): flat is the full new
    // content, so a crashed compaction recovers with consistent metadata.
    // orcOptions ride the same path as write() — compaction must not strip
    // the topic's bloom filters.
    if (statsCols.nonEmpty && statsCols.forall(flat.columns.contains))
      updateStats(newFs, newRoot, flat, partCols, touched, statsCols,
        distinctOffsets = false)
    commit(spark, newFs, newRoot, topic, flat, partCols, touched, orcOptions,
      dedup = false)
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
    val fs = FileSystem.get(new java.net.URI(topicDir),
      spark.sparkContext.hadoopConfiguration)
    val root = new Path(topicDir)
    if (!fs.exists(root)) return 0
    val topic = root.getName
    val inflight = new Path(root, InflightMarker)
    if (fs.exists(inflight)) // normalize a crashed layout before judging names
      recoverFromMarker(fs, root, topic, inflight)
    val desc = readMarker(fs, new Path(root, ConfigMarker)).getOrElse(
      throw new IllegalStateException(
        s"$topicDir has no sink config marker — not a sink topic dir"))
    val (flushSize, _, _) = parseConfig(desc)
    val FileName =
      (java.util.regex.Pattern.quote(fileTopic(topic)) +
        raw"\+(\d+)\+(\d+)(?:\+t-?\d+)?(?:-\d+)?\.orc").r
    var deleted = 0
    def visit(dir: Path): Unit =
      listDir(fs, dir).foreach { st =>
        val n = st.getPath.getName
        // any layout dir (partition=, dt=, year=, <field>=…); `_`-prefixed
        // are staging/markers
        if (st.isDirectory && n.contains("=") &&
            !n.startsWith("_") && !n.startsWith("."))
          visit(st.getPath)
        else if (st.isFile) n match {
          case FileName(_, chunk)
              if chunk.toLong + flushSize <= beforeOffset =>
            if (fs.delete(st.getPath, false)) deleted += 1
          case _ => ()
        }
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
    val fs = FileSystem.get(new java.net.URI(topicDir),
      spark.sparkContext.hadoopConfiguration)
    val root = new Path(topicDir)
    if (!fs.exists(root)) return Nil
    val topic = root.getName
    val committedRe =
      ("^" + java.util.regex.Pattern.quote(fileTopic(topic)) +
        raw"\+(\d+)\+\d+(?:\+t-?\d+)?(?:-\d+)?\.orc$$").r
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
        } else n match {
          case committedRe(fp) if fp == p => ()
          case _ if n.startsWith("_") || n.startsWith(".") => ()
          case _ => del(st.getPath, recursive = false)
        }
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
    * directly (a leaf with no rows stages no file to hoist); those deletes are idempotent single FS ops, done before the rewrite so
    * any crash leaves only convergent work. Non-matching rows are only ever
    * rewritten, never dropped; rows where the predicate evaluates NULL are
    * kept (deleted ⟺ predicate TRUE — the SQL DELETE contract).
    *
    * Finding the touched chunks takes one full read of the topic (a
    * maintenance-path listing, like compactTo/expire) — but the REWRITE is
    * O(touched chunks × flushSize), never O(topic). Survivor rows are
    * localCheckpoint-materialized before the commit, because the stats
    * refresh reads them again after the hoist has replaced the very files
    * they came from. Returns #rows deleted.
    */
  def deleteRows(spark: SparkSession, topicDir: String,
      predicate: org.apache.spark.sql.Column): Long = {
    val fs = FileSystem.get(new java.net.URI(topicDir),
      spark.sparkContext.hadoopConfiguration)
    val root = new Path(topicDir)
    val topic = root.getName
    val inflight = new Path(root, InflightMarker)
    if (fs.exists(inflight)) {
      recoverFromMarker(fs, root, topic, inflight)
      fs.delete(inflight, false)
    }
    val desc = readMarker(fs, new Path(root, ConfigMarker)).getOrElse(
      throw new IllegalStateException(
        s"$topicDir has no sink config marker — not a sink topic dir"))
    val (_, layoutId, rotate) = parseConfig(desc)
    val prefixCols = prefixColsOf(layoutId)
    val partCols = prefixCols ++ Seq("partition", ChunkCol)

    // the commit cell lives only in the file NAME: offset chunk, plus the
    // event-time bucket on a wall-clock-rotated grid (write()'s merge-path
    // convention — the zero-padded chunk normalizes through long)
    val cellCol = rotate match {
      case None =>
        regexp_extract(input_file_name(), CommittedTailRe, 1)
          .cast("long").cast("string")
      case Some(_) => concat(
        regexp_extract(input_file_name(), CommittedTailRe, 1)
          .cast("long").cast("string"),
        lit("t"), regexp_extract(input_file_name(), CommittedTailRe, 2))
    }
    val matches = read(spark, topicDir).withColumn(ChunkCol, cellCol)
      .filter(predicate)
    val touched = touchedLeaves(matches, partCols)
    if (touched.isEmpty) return 0L

    // re-read EXACTLY the touched chunks' files, with the latched schema
    // (mixed pre-/post-widening physical schemas — the read() contract)
    val files = touched.flatMap(t =>
      committedChunkFiles(fs, t.partitionDir(root), t.filePrefix(topic)))
    val chunkRows = sinkRelation(spark, fs, root, Some(files), Some(desc), None)
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
      .localCheckpoint(true)
    val deleted = nBefore - survivors.count()
    if (deleted == 0L) return 0L

    // chunks with zero survivors stage nothing — delete their committed
    // files directly (idempotent, convergent)
    val alive = survivors
      .select(partCols.map(c => col(c).cast("string")): _*)
      .distinct().collect()
      .map(r => (0 until partCols.size).map(r.getString).mkString("\u0000"))
      .toSet
    val (liveTouched, emptyTouched) = touched.partition(t =>
      alive((t.prefix.map(_._2) ++ Seq(t.partition.toString, t.cell))
        .mkString("\u0000")))
    emptyTouched.foreach(t =>
      committedChunkFiles(fs, t.partitionDir(root), t.filePrefix(topic))
        .foreach(f => fs.delete(f.getPath, false)))
    if (liveTouched.nonEmpty)
      commit(spark, fs, root, topic, survivors, partCols, liveTouched,
        Map.empty, dedup = false)
    // stats refresh AFTER the commit: erased rows must stop being described
    // by the skipping metadata (a stale min/max is only a safe
    // over-approximation until then), and the post-commit order means a
    // crash can never leave stats NARROWER than the surviving data
    statsColsOf(desc).foreach { sc =>
      if (sc.forall(survivors.columns.contains) && liveTouched.nonEmpty)
        updateStats(fs, root, survivors, partCols, liveTouched, sc,
          distinctOffsets = false)
      removeStatsLines(fs, root, emptyTouched)
    }
    deleted
  }
}
