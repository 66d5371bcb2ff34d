package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, lit, round, sum}
import org.apache.spark.sql.types.DecimalType

/** One engine query: the Spark implementation plus (when SQL-expressible) the
  * DuckDB oracle the driver hash-compares against (SURVEY.md §2.3 contract).
  *
  * Oracle style rules (SURVEY.md §7 risk register):
  *   - total-order ORDER BY over (at minimum) a unique key or all output columns;
  *   - every floating aggregate wrapped ROUND(x, 2);
  *   - counts / sums of integers CAST to BIGINT (DuckDB sums ints as HUGEINT);
  *   - rank/length/year/grouping CAST to INT (DuckDB widens to BIGINT);
  *   - UTC timestamps only, CAST(date_trunc(...) AS TIMESTAMP) when emitted.
  */
final case class GQuery(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")

/** A module contributing queries to the SparkEntry registry. */
trait QueryModule {
  def queries: Map[String, GQuery]
}

/** Hash-determinism helpers (SURVEY.md §7 top risk). */
object Exact {
  /** Partition-order-proof rounding for aggregated doubles. Both Spark and
    * DuckDB round doubles identically (shortest-decimal-repr, half-up), but
    * double sums/avgs accumulate in partition order — a 1-ulp drift at a
    * .xx5 boundary flips the rounded digit. Snapping to DECIMAL(30,8) first
    * (round-to-nearest at 8 digits in both engines) absorbs the ulp, then
    * the half-up round to `scale` is deterministic.
    * Oracle twin: CAST(round(CAST(x AS DECIMAL(30,8)), s) AS DOUBLE).
    */
  def dround(c: Column, scale: Int = 2): Column =
    round(c.cast(DecimalType(30, 8)), scale).cast("double")

  /** Cross-engine-exact cents quantization for a monetary DOUBLE column.
    *
    * CAST(x AS DECIMAL(18,2)) is NOT a safe twin: Spark rounds the 17-digit
    * shortest decimal repr (BigDecimal.valueOf) while DuckDB double-rounds
    * through a ~15-significant-digit rendering — measured live on
    * 16.154999999999998: Spark 16.15, DuckDB 16.16. Scale-0 round AFTER
    * scaling is divergence-proof: both engines see the identical binary
    * product x*100, every tie point (n + 0.5) is exactly representable, so
    * repr-based HALF_UP (Spark) and value-based half-away (DuckDB round)
    * agree on every double. Oracle twin: CAST(round(x * 100) AS BIGINT).
    * For micro-style scales multiply the RESULT (cents * 1000), never
    * round(x * 100000) — the twin must quantize once, at cents.
    */
  def cents(c: Column): Column =
    round(c * org.apache.spark.sql.functions.lit(100.0)).cast("long")
}

/** Exact global ranks and running totals without a row-level window
  * over a whole group (a window that partitions on a low-cardinality key,
  * or on nothing, sorts the group in ONE task — the WindowExec warning).
  *
  * The two-level decomposition: pick a bucket key that is a monotone
  * function of the window's ordering (`v div 100000`, a hash prefix, a
  * coarse length bin, ...); then
  *   1. `withBucketOffsets` totals the weight per (groups, bucket) — a
  *      #groups × #buckets table — takes the EXCLUSIVE running sum over
  *      those totals in bucket order (a window over #buckets rows per
  *      group), and broadcasts that offset back onto every row;
  *   2. the caller's own window, partitioned by (groups, bucket) — high
  *      cardinality, bounded rows per task — adds the in-bucket part:
  *      `row_number` for a rank, an inclusive `sum` for a cumulative
  *      total, a RANGE `count` for a tie-aware rank, or `sumBefore` for
  *      an exclusive one.
  * offset + in-bucket value equals the unpartitioned window's value
  * exactly, because no row in a lower bucket sorts after a row in a
  * higher one. `sumBefore` alone is the exclusive running sum over a
  * grid that is already small (mannwhitney, kruskal, feature_split, ...).
  */
object Prefix {
  /** Exclusive running sum of `c` over `w`'s ordering: the sum over the
    * rows strictly before this one, 0 (not null) on the first row. */
  def sumBefore(c: Column, w: WindowSpec): Column =
    coalesce(sum(c).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))

  /** `rows` joined with column `as`: per `groups`, the total `weight` of
    * the buckets below this row's `bucket`. `weight` is the per-bucket
    * aggregate (`count(lit(1L))`, `sum("cnt")`, ...). With `total`, the
    * group's whole weight rides along under that name. The offsets table
    * is #groups × #buckets rows and is broadcast into the join.
    */
  def withBucketOffsets(rows: DataFrame, groups: Seq[String], bucket: String,
      weight: Column, as: String, total: Option[String] = None): DataFrame = {
    val keys = groups :+ bucket
    val w = Window.partitionBy(groups.map(col): _*)
    val bw = col("bucket_weight")
    val offsets = rows.groupBy(keys.map(col): _*).agg(weight.as("bucket_weight"))
      .select(keys.map(col) ++ Seq(sumBefore(bw, w.orderBy(bucket)).as(as)) ++
        total.map(sum(bw).over(w).as(_)): _*)
    rows.join(broadcast(offsets), keys)
  }
}

/** The local SparkSession every main and the tests build: `cpus` cores and
  * as many shuffle partitions, UTC session time zone, no UI, WARN logs.
  */
object Session {
  def local(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Loaders for the driver-provided parquet tables (TESTDATA.md / FIXTURES.md §B).
  * All engine inputs come from here — never synthesized data.
  */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred parquet schema per table path. Plain `spark.read.parquet`
    * runs a footer-reading JOB for schema inference on EVERY call —
    * measured ~90-125 ms per call on local[32], and the 449-query bench
    * makes 450+ such calls per pass. The base tables are immutable for
    * the life of a JVM (same contract as the sfDir-keyed bucketed-table
    * memos), so infer once per path and hand the schema to every later
    * read; only metadata is cached — every query still scans the parquet.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Schema-cached read of a memoized artifact dir (written once per
    * sfDir, immutable afterwards — same economics as the base tables).
    */
  def readStable(spark: SparkSession, dir: String): DataFrame = {
    val sch = schemaCache.computeIfAbsent(dir,
      _ => spark.read.parquet(dir).schema)
    spark.read.schema(sch).parquet(dir)
  }

  /** `events.ts` as the TimestampType every query was written against,
    * from whichever representation the parquet read gave it (under
    * `spark.sql.legacy.parquet.nanosAsLong`): a LONG is a TIMESTAMP(NANOS)
    * value, truncated to µs (DuckDB's TIMESTAMP_NS → TIMESTAMP cast); a
    * MICROS timestamp arrives as ltz or ntz (session tz is UTC, so ntz →
    * ltz is an identity on instants). Batch and streaming reads share it.
    */
  def eventsTs(raw: DataFrame): DataFrame = {
    val f = org.apache.spark.sql.functions
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // nanosAsLong only rewrites TIMESTAMP(NANOS); a LONG here IS ns.
        raw.withColumn("ts", f.timestamp_micros(f.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType =>
        raw
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", f.col("ts").cast("timestamp"))
      case other =>
        // Any other dtype means the generator changed representation (e.g.
        // numeric seconds or a string); casting would silently reinterpret
        // and surface only as an opaque oracle hash mismatch downstream.
        throw new IllegalStateException(
          s"events.ts arrived as unsupported parquet type $other; " +
            "expected TIMESTAMP(NANOS) (read as ns LONG), TIMESTAMP(MICROS) " +
            "ltz, or ntz. Update graft.Tables for the new representation.")
    }
  }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    if (name == "events") {
      // events.ts has shipped as both parquet TIMESTAMP(NANOS) (rounds 1-4)
      // and TIMESTAMP(MICROS, ntz) (round-5 regeneration). Spark has no ns
      // timestamp type ([PARQUET_TYPE_ILLEGAL] without nanosAsLong), so read
      // with the conf on — NANOS then arrives as a raw ns LONG (truncate to
      // µs, exactly DuckDB's TIMESTAMP_NS → TIMESTAMP cast) while MICROS
      // still arrives as a timestamp. Branch on the read dtype, and land
      // both on TimestampType (session tz is UTC, so ntz → ltz is an
      // identity on instants) — the type every downstream query was
      // written against.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val sch = schemaCache.computeIfAbsent(path,
        _ => spark.read.parquet(path).schema)
      eventsTs(spark.read.schema(sch).parquet(path))
    } else {
      val sch = schemaCache.computeIfAbsent(path,
        _ => spark.read.parquet(path).schema)
      spark.read.schema(sch).parquet(path)
    }
  }
}
