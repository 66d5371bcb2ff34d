package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.io.LocalCheckpointFileManager

/** Kafka-source-shaped record stream (SURVEY.md §1.1, reference O1).
  *
  * The reference consumes `SinkRecord(topic, kafkaPartition, key, value:
  * Struct, kafkaOffset)` from the Connect runtime
  * (`DataWriterOrcTest.java:284-310`). The Spark-native equivalent is the
  * exact column shape `spark.readStream.format("kafka")` produces:
  * (key, value, topic, partition, offset, timestamp). This container is
  * zero-egress with no kafka connector jar (SURVEY.md §0), so the shape is
  * synthesized from the events table / directory; swapping in a real broker
  * is a `format("kafka")` config change, not a code change.
  *
  * The value struct carries the reference's six-type schema contract
  * (boolean/int/bigint/float/double/string — `OrcRecordWriter.java:181-199`).
  */
object KafkaShaped {

  val topic = "events"

  /** Schema of the value struct — the "latched first-record schema" (O4). */
  val valueSchema: StructType = StructType(Seq(
    StructField("flag", BooleanType),      // boolean
    StructField("uid", IntegerType),       // int
    StructField("id", LongType),           // bigint
    StructField("fval", FloatType),        // float
    StructField("dval", DoubleType),       // double
    StructField("etype", StringType)))     // string

  /** Raw events schema, needed by streaming file sources (Structured
    * Streaming requires a declared schema; batch infers it — SURVEY.md §1.3).
    * `ts` is declared Long: ns since the epoch, as Spark reads parquet
    * TIMESTAMP(NANOS) under spark.sql.legacy.parquet.nanosAsLong (see
    * graft.Tables). `streamFromDir` declares `ts` by the files' own unit.
    */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Shape an events-schema DataFrame (batch or streaming) as the Kafka
    * source contract. partition = pmod(user_id, nPartitions) (keyed routing,
    * like Kafka's default key-hash partitioner); offset = event_id.
    */
  def shape(events: DataFrame, nPartitions: Int = 4): DataFrame =
    events.select(
      col("user_id").cast("string").cast("binary").as("key"),
      struct(
        (col("value") > 100).as("flag"),
        // uid exercises the INT slot of the six-type payload contract; a
        // raw cast ANSI-overflows once ids pass 2³¹ (caught by the sf1
        // scale probe), so fold into INT range — identity for every id
        // below 2³¹, a stable residue above it
        pmod(col("user_id"), lit(2147483647L)).cast("int").as("uid"),
        col("event_id").as("id"),
        col("value").cast("float").as("fval"),
        col("value").as("dval"),
        col("event_type").as("etype")).as("value"),
      lit(topic).as("topic"),
      pmod(col("user_id"), lit(nPartitions)).cast("int").as("partition"),
      col("event_id").as("offset"),
      col("ts").as("timestamp"))

  /** Batch source: the events table shaped as the record stream. */
  def fromEvents(spark: SparkSession, sfDir: String, nPartitions: Int = 4): DataFrame =
    shape(Tables(spark, sfDir, "events"), nPartitions)

  /** Streaming source: a parquet directory of events-schema files, `ts`
    * landed as a timestamp the way `graft.Tables` lands it. A stream needs
    * its schema before any batch, so the unit of `ts` is read from the
    * footer of the first file present when the stream starts (by name):
    * TIMESTAMP(NANOS) or a plain INT64 is ns since the epoch, truncated to
    * µs; TIMESTAMP(MICROS) is read as it is. An empty dir assumes MICROS,
    * the unit of the test corpus and the benchmark's generator. Every file
    * of one dir must share the unit.
    *
    * Installs `LocalCheckpointFileManager` as the session's checkpoint file
    * manager unless one is configured, so the streams started from it
    * write their `file:` checkpoint logs without forking a process.
    */
  def streamFromDir(spark: SparkSession, dir: String, nPartitions: Int = 4): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    LocalCheckpointFileManager.install(spark)
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val first = (if (fs.exists(root)) fs.listStatus(root).toSeq else Nil)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath).sortBy(_.getName).headOption
    val tsType = first.fold[DataType](TimestampType) { p =>
      val footer = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      val schema = try footer.getFileMetaData.getSchema finally footer.close()
      new ParquetToSparkSchemaConverter(spark.sessionState.conf).convert(schema)("ts").dataType
    }
    val declared = StructType(eventsSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    shape(Tables.eventsTs(spark.readStream.schema(declared).parquet(dir)), nPartitions)
  }
}
