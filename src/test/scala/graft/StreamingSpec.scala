package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.KafkaShaped
import graft.streaming.{OffsetNamedOrcSink, StreamOps}

/** Structured Streaming tests (SURVEY.md §5.4): real readStream execution of
  * the windowed aggregations and the end-to-end foreachBatch ORC pipeline,
  * including restart determinism (the reference's recovery contract O11 with
  * time semantics the reference never had).
  */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  /** Kafka-shaped stream from a MemoryStream of (uid, id, minute, value,
    * etype) tuples — the one shaping pipeline every memory-stream test uses.
    */
  private def shapedStream(mem: MemoryStream[(Int, Long, Int, Double, String)]) =
    KafkaShaped.shape(
      mem.toDF().toDF("user_id", "event_id", "minute", "value", "event_type")
        .withColumn("ts", expr("timestampadd(MINUTE, minute, timestamp'2024-01-01 10:00:00')"))
        .withColumn("props", lit("{}"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props"))

  test("tumbling window aggregates a memory stream correctly") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Int, Long, Int, Double, String)]
    val stream = shapedStream(mem)
    val agg = StreamOps.tumblingCounts(stream)
    val q = agg.writeStream.format("memory").queryName("tumbling_test")
      .outputMode("complete").start()
    try {
      // two events in hour 10, one in hour 11
      mem.addData((1, 0L, 5, 10.0, "a"), (1, 1L, 20, 5.0, "a"), (2, 2L, 65, 2.0, "b"))
      q.processAllAvailable()
      val out = spark.table("tumbling_test")
        .select("hour_ts", "etype", "n", "sum_val").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(out == Set(
        ("2024-01-01 10:00:00.0", "a", 2L, 15.0),
        ("2024-01-01 11:00:00.0", "b", 1L, 2.0)))
    } finally q.stop()
  }

  test("hopping windows place each event in exactly two windows") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Int, Long, Int, Double, String)]
    val stream = shapedStream(mem)
    val q = StreamOps.hoppingCounts(stream)
      .writeStream.format("memory").queryName("hopping_test")
      .outputMode("complete").start()
    try {
      // one event at 10:05 → windows [09:30,10:30) and [10:00,11:00)
      mem.addData((1, 0L, 5, 1.0, "a"))
      q.processAllAvailable()
      val out = spark.table("hopping_test")
        .select("win_ts", "etype", "n").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
      assert(out == Set(
        ("2024-01-01 09:30:00.0", "a", 1L),
        ("2024-01-01 10:00:00.0", "a", 1L)))
    } finally q.stop()
  }

  test("bloom dedup stream: constant-size state drops cross-batch dups") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Int, Long, Int, Double, String)]
    val q = StreamOps.bloomDedupStream(shapedStream(mem))
      .writeStream.format("memory").queryName("bloomdedup_test")
      .outputMode("append").start()
    try {
      // batch 1: (1,a) twice + (2,b) — the in-batch dup drops, offset order
      // decides the survivor
      mem.addData((1, 0L, 0, 1.0, "a"), (1, 1L, 1, 1.0, "a"),
        (2, 2L, 2, 1.0, "b"))
      q.processAllAvailable()
      // batch 2: both old keys replayed (cross-batch dups) + one new key
      mem.addData((1, 3L, 3, 1.0, "a"), (2, 4L, 4, 1.0, "b"),
        (3, 5L, 5, 1.0, "c"))
      q.processAllAvailable()
      val out = spark.table("bloomdedup_test").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
      // first sighting of each key and nothing else (m=65536, 3 keys — the
      // fp probability is (3·4/65536)^4 ≈ 1e-15, and the data is fixed, so
      // this assert is deterministic)
      assert(out == Set((1, "a", 0L), (2, "b", 2L), (3, "c", 5L)), out)
    } finally q.stop()
  }

  test("bloom dedup bitmap state survives a checkpoint restart") {
    // the bounded-state analogue of the stream-stream join restart pin:
    // the Array[Long] bitmap lives in the state store, so a key admitted
    // BEFORE the kill must still be recognized as seen AFTER a restart
    // from the same checkpoint — otherwise the dedup silently re-admits
    // on every recovery
    val srcDir = tmp("graft-bloomrestart-src-")
    val ck = tmp("graft-bloomrestart-ck-")
    val baseNs = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime * 1000000L
    def ev(id: Long, uid: Long, etype: String) =
      (id, baseNs + id * 60000000000L, uid, etype, 1.0, "{}")
    def writeSlice(rows: Seq[(Long, Long, Long, String, Double, String)],
        mode: String): Unit = {
      import spark.implicits._
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .repartition(1).write.mode(mode).parquet(srcDir)
      ()
    }
    val outDir = tmp("graft-bloomrestart-out-")
    def run(): Set[(Int, String, Long)] = {
      // memory sinks can't recover a checkpoint — land admitted rows via
      // foreachBatch appends (the recovery-supported shape)
      val q = StreamOps.bloomDedupStream(
          KafkaShaped.streamFromDir(spark, srcDir))
        .writeStream
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[StreamOps.DedupedEvent],
              _: Long) =>
            batch.write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", ck)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        spark.read.parquet(outDir).collect()
          .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
      } finally q.stop()
    }
    // run 1: two keys + an in-batch dup
    writeSlice(Seq(ev(0L, 1L, "a"), ev(1L, 1L, "a"), ev(2L, 2L, "b")),
      "overwrite")
    assert(run() == Set((1, "a", 0L), (2, "b", 2L)))
    // run 2 from the SAME checkpoint: a replayed old key must stay dropped
    // (bitmap recovered), a fresh key must pass
    writeSlice(Seq(ev(3L, 1L, "a"), ev(4L, 3L, "c")), "append")
    assert(run() == Set((1, "a", 0L), (2, "b", 2L), (3, "c", 4L)))
  }

  test("session windows split on the 30-minute gap") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Int, Long, Int, Double, String)]
    val stream = shapedStream(mem)
    val q = StreamOps.sessionAgg(stream)
      .writeStream.format("memory").queryName("session_test")
      .outputMode("complete").start()
    try {
      // uid 1: events at minute 0, 10 (one session), then 50 (gap 40 > 30 → new session)
      mem.addData((1, 0L, 0, 1.0, "a"), (1, 1L, 10, 1.0, "a"), (1, 2L, 50, 1.0, "a"))
      q.processAllAvailable()
      val sessions = spark.table("session_test").where(col("uid") === 1).count()
      assert(sessions == 2)
    } finally q.stop()
  }

  test("streamFromDir reads ts in its files' unit: streamed timestamps equal fromEvents row for row") {
    // the test corpus stores TIMESTAMP(MICROS); read as ns they land in 1970
    val srcDir = tmp("graft-streamts-src-")
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(srcDir, "events.parquet"))
    val q = KafkaShaped.streamFromDir(spark, srcDir)
      .select("partition", "offset", "timestamp")
      .writeStream.format("memory").queryName("streamts_test")
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    val streamed = spark.table("streamts_test")
    val batch = KafkaShaped.fromEvents(spark, sf).select("partition", "offset", "timestamp")
    assert(streamed.count() == 1000)
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0,
      streamed.exceptAll(batch).take(3).mkString(", "))
  }

  test("file-source streaming pipeline lands offset-named ORC exactly once") {
    // stage the sf0.001 events as the streaming source directory
    val srcDir = tmp("graft-stream-src-")
    Tables(spark, sf, "events")
      .withColumn("ts", expr("unix_micros(ts) * 1000")) // back to ns longs
      .write.mode("overwrite").parquet(srcDir)
    val outDir = tmp("graft-stream-out-")
    val result = StreamOps.runPipelineBlocking(spark, srcDir, outDir, flushSize = 250)
    assert(result.count() == 1000)
    // re-running the same stream from a fresh checkpoint over the same input
    // rewrites the same files (idempotent) — still exactly 1000 rows
    val result2 = StreamOps.runPipelineBlocking(spark, srcDir, outDir, flushSize = 250)
    assert(result2.count() == 1000)
  }

  test("streaming WAP gates each micro-batch: clean publishes, poisoned quarantines") {
    val srcDir = tmp("graft-wapstream-src-")
    val base = Tables(spark, sf, "events")
      .withColumn("ts", expr("unix_micros(ts) * 1000")) // back to ns longs
    // file 1: intact first half; file 2: second half with ids dropped — a
    // simulated bad extract. maxFilesPerTrigger=1 makes each file a batch.
    base.filter(col("event_id") < 500)
      .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b1")
    base.filter(col("event_id") >= 500 && col("event_id") % 20 =!= 7)
      .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/b2")
    val staging = tmp("graft-wap-stage-")
    val fin = tmp("graft-wap-final-")
    val quar = tmp("graft-wap-quar-")
    val shaped = KafkaShaped.shape(
      spark.readStream.schema(KafkaShaped.eventsSchema)
        .option("maxFilesPerTrigger", 1).parquet(s"$srcDir/b*")
        .withColumn("ts", timestamp_micros(expr("ts div 1000"))), 4)
    val audits = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Boolean)]
    val q = StreamOps.wapPipeline(shaped, staging, fin, quar) {
      (id, n, gaps, pub) => audits.synchronized { audits += ((id, n, gaps, pub)) }
    }
    // static source: both files arrive; wait until both batches audited
    val deadline = System.currentTimeMillis() + 60000
    while (audits.synchronized(audits.size) < 2 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
    q.stop(); q.awaitTermination()
    val byPub = audits.synchronized(audits.toList).sortBy(_._1)
    assert(byPub.size == 2, s"expected 2 audited batches, got $byPub")
    val clean = byPub.filter(_._4)
    val dirty = byPub.filterNot(_._4)
    assert(clean.size == 1 && clean.head._3 == 0L, s"clean batch: $byPub")
    assert(dirty.size == 1 && dirty.head._3 > 0L, s"dirty batch: $byPub")
    // the final dir holds exactly the clean batch's rows; quarantine holds
    // the poisoned batch (preserved, not dropped)
    val finRows = new java.io.File(s"$fin/topics").listFiles().toSeq
      .map(t => OffsetNamedOrcSink.read(spark, t.toString).count()).sum
    assert(finRows == clean.head._2, s"final rows $finRows vs $byPub")
    val quarRows = new java.io.File(s"$quar/topics").listFiles().toSeq
      .map(t => OffsetNamedOrcSink.read(spark, t.toString).count()).sum
    assert(quarRows == dirty.head._2, s"quarantine rows $quarRows vs $byPub")
  }

  test("streaming pipeline with TimeDaily layout lands dt-partitioned offset files") {
    import graft.streaming.OffsetNamedOrcSink.Layout
    val srcDir = tmp("graft-timestream-src-")
    val outDir = tmp("graft-timestream-out-")
    val ck = tmp("graft-timestream-ck-")
    Tables(spark, sf, "events")
      .withColumn("ts", expr("unix_micros(ts) * 1000"))
      .repartition(3)
      .write.mode("overwrite").parquet(srcDir)
    val raw = spark.readStream.schema(KafkaShaped.eventsSchema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val q = KafkaShaped.shape(raw).writeStream
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        OffsetNamedOrcSink.write(b, outDir, 250, layout = Layout.TimeDaily()); ()
      }
      .start()
    q.awaitTermination()
    val topicDir = s"$outDir/topics/events"
    val dtDirs = new java.io.File(topicDir).listFiles.filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("dt="))
    assert(dtDirs.nonEmpty, "no dt= dirs")
    val back = OffsetNamedOrcSink.read(spark, topicDir)
    assert(back.count() == 1000, s"rows: ${back.count()}")
    assert(back.select("offset").distinct().count() == 1000)
  }

  test("sink-as-source: streamFromSink tails committed files, blind to staging dirs") {
    val outDir = tmp("graft-tail-out-")
    val shaped = KafkaShaped.fromEvents(spark, sf)
    val topicDir = OffsetNamedOrcSink.write(
      shaped.filter(col("offset") < 400), outDir, flushSize = 250)
    val tailed = StreamOps.streamFromSink(spark, topicDir, KafkaShaped.valueSchema)
    val q = tailed.writeStream.format("memory").queryName("sink_tail")
      .option("checkpointLocation", tmp("graft-tail-ck-"))
      .start()
    try {
      q.processAllAvailable()
      val first = spark.table("sink_tail")
      assert(first.count() == 400, s"first batch rows: ${first.count()}")
      // partition comes from the dir, _chunk from the committed file name
      assert(first.select(countDistinct(col("partition"))).head.getLong(0) == 4)
      assert(first.select("_chunk").distinct().collect().map(_.getLong(0)).toSet
        == Set(0L, 250L))
      // a NEW file committed after the stream started is picked up on the
      // next trigger — the tailing contract. (A rewrite of the half-full
      // chunk 250 would NOT re-emit: the file source keys on path — the
      // documented as-of-first-commit caveat — so the new data is
      // chunk-aligned here.)
      OffsetNamedOrcSink.write(
        shaped.filter(col("offset") >= 500 && col("offset") < 750), outDir, 250)
      q.processAllAvailable()
      val next = spark.table("sink_tail")
      assert(next.count() == 650, s"after second commit: ${next.count()}")
      assert(next.select(min("offset"), max("offset")).head.toSeq == Seq(0L, 749L))
    } finally q.stop()
  }

  test("a listing that sees a _chunk= staging dir fails; a recursive lookup with the committed-name glob reads past it") {
    // why streamFromSink lists recursively: a `_`-prefixed dir whose name
    // holds `=` is not hidden from listings, and partition inference meets
    // `_chunk` below `partition`
    val base = tmp("graft-staging-listing-")
    Seq((1L, "a")).toDF("offset", "v").write.orc(s"$base/partition=0")
    val dir = new java.io.File(s"$base/partition=0")
    dir.listFiles.filter(_.getName.endsWith(".orc")).foreach(f =>
      assert(f.renameTo(new java.io.File(dir, "events+0+0000000000.orc"))))
    Seq((2L, "b")).toDF("offset", "v").write.orc(s"$base/partition=0/_chunk=250")
    for (glob <- Seq(None, Some("*+*+*.orc"))) {
      val reader = glob.foldLeft(spark.read.option("basePath", base))(
        _.option("pathGlobFilter", _))
      val e = intercept[Exception](reader.orc(s"$base/partition=*").count())
      assert(e.getMessage.contains("CONFLICTING_PARTITION_COLUMN_NAMES"), e.getMessage)
    }
    assert(spark.read.schema("offset long, v string")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*+*+*.orc").orc(base).count() == 1)
  }

  test("streamFromSink derives dt from the path under the TimeDaily layout") {
    import graft.streaming.OffsetNamedOrcSink.Layout
    val outDir = tmp("graft-tail-dt-")
    val topicDir = OffsetNamedOrcSink.write(KafkaShaped.fromEvents(spark, sf),
      outDir, flushSize = 250, layout = Layout.TimeDaily())
    val q = StreamOps.streamFromSink(spark, topicDir, KafkaShaped.valueSchema)
      .writeStream.format("memory").queryName("sink_tail_dt")
      .option("checkpointLocation", tmp("graft-tail-dt-ck-"))
      .start()
    try {
      q.processAllAvailable()
      val out = spark.table("sink_tail_dt")
      assert(out.count() == 1000)
      val dts = out.select("dt").distinct().collect().map(_.getString(0))
      assert(dts.length > 1 && dts.forall(_.matches(raw"\d{4}-\d{2}-\d{2}")),
        dts.mkString(","))
      // path-derived partition/chunk agree with the batch read-back
      val batch = OffsetNamedOrcSink.read(spark, topicDir)
        .select("offset", "partition", "_chunk").collect().map(_.toSeq).toSet
      assert(out.select("offset", "partition", "_chunk")
        .collect().map(_.toSeq).toSet == batch)
    } finally q.stop()
  }

  test("streamFromSink derives partition and _chunk from +t-suffixed names like read()") {
    val outDir = tmp("graft-tail-rot-")
    val topicDir = OffsetNamedOrcSink.write(KafkaShaped.fromEvents(spark, sf),
      outDir, flushSize = 250, rotateMs = Some(3600000L))
    val names = new java.io.File(topicDir).listFiles.filter(_.isDirectory)
      .flatMap(_.listFiles).map(_.getName).filter(_.endsWith(".orc"))
    assert(names.nonEmpty && names.forall(_.contains("+t")), names.take(3).mkString(", "))
    val q = StreamOps.streamFromSink(spark, topicDir, KafkaShaped.valueSchema)
      .writeStream.format("memory").queryName("sink_tail_rot")
      .option("checkpointLocation", tmp("graft-tail-rot-ck-"))
      .start()
    try {
      q.processAllAvailable()
      val out = spark.table("sink_tail_rot")
      assert(out.count() == 1000)
      val batch = OffsetNamedOrcSink.read(spark, topicDir)
        .select("offset", "partition", "_chunk").collect().map(_.toSeq).toSet
      assert(out.select("offset", "partition", "_chunk")
        .collect().map(_.toSeq).toSet == batch)
    } finally q.stop()
  }

  test("streamFromSink types a Field-routed non-string column like batch read") {
    import graft.streaming.OffsetNamedOrcSink.Layout
    val outDir = tmp("graft-tail-field-")
    val topicDir = OffsetNamedOrcSink.write(KafkaShaped.fromEvents(spark, sf),
      outDir, flushSize = 250, layout = Layout.Field("uid"))
    val stream = StreamOps.streamFromSink(spark, topicDir, KafkaShaped.valueSchema)
    // the dir-derived routed column carries its LATCHED type (int), not the
    // raw dir string — the two read paths must agree (ADVICE r4)
    assert(stream.schema("uid").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val q = stream.writeStream.format("memory").queryName("sink_tail_field")
      .option("checkpointLocation", tmp("graft-tail-field-ck-"))
      .start()
    try {
      q.processAllAvailable()
      val out = spark.table("sink_tail_field")
      assert(out.count() == 1000)
      val batch = OffsetNamedOrcSink.read(spark, topicDir)
      assert(batch.schema("uid").dataType == out.schema("uid").dataType)
      assert(out.select("offset", "uid").collect().map(_.toSeq).toSet ==
        batch.select("offset", "uid").collect().map(_.toSeq).toSet)
    } finally q.stop()
  }

  test("multi-topic stream routes one topic dir each through writeMulti") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Int, Long, Int, Double, String)]
    val outDir = tmp("graft-multitopic-out-")
    val q = shapedStream(mem)
      .withColumn("topic",
        when(col("value.uid") % 2 === 0, lit("even")).otherwise(lit("odd")))
      .writeStream
      .option("checkpointLocation", tmp("graft-multitopic-ck-"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        OffsetNamedOrcSink.writeMulti(b, outDir, 250); ()
      }
      .start()
    try {
      mem.addData((1, 0L, 0, 1.0, "a"), (2, 1L, 1, 1.0, "b"), (3, 2L, 2, 1.0, "c"))
      q.processAllAvailable()
      mem.addData((4, 3L, 3, 1.0, "d")) // second batch, other topic again
      q.processAllAvailable()
    } finally q.stop()
    val even = OffsetNamedOrcSink.read(spark, s"$outDir/topics/even")
    val odd = OffsetNamedOrcSink.read(spark, s"$outDir/topics/odd")
    assert(even.count() == 2 && odd.count() == 2,
      s"even=${even.count()} odd=${odd.count()}")
    assert(even.select("uid").collect().map(_.getInt(0)).toSet == Set(2, 4))
    assert(odd.select("uid").collect().map(_.getInt(0)).toSet == Set(1, 3))
  }

  test("stateful dedup suppresses duplicates across micro-batches") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Int, Long, Int, Double, String)]
    val stream = shapedStream(mem)
    val q = StreamOps.dedupStream(stream)
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      mem.addData((1, 0L, 0, 1.0, "a"), (1, 1L, 1, 1.0, "a"), (2, 2L, 2, 1.0, "b"))
      q.processAllAvailable()
      // batch 2 replays key (1,"a") and adds a new key (2,"a")
      mem.addData((1, 3L, 3, 1.0, "a"), (2, 4L, 4, 1.0, "a"))
      q.processAllAvailable()
      val out = spark.table("dedup_test").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
      assert(out == Set((1, "a", 0L), (2, "b", 2L), (2, "a", 4L)), out.toString)
    } finally q.stop()
  }

  test("CUSUM monitor accumulates a persistent shift across micro-batches") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Int, Long, Int, Double, String)]
    val stream = shapedStream(mem)
    // mu0 = 1000 cents, slack 100, page at 500 accumulated cents
    val q = StreamOps.cusumMonitor(stream, 1000L, 100L, 500L)
      .writeStream.format("memory").queryName("cusum_test")
      .outputMode("append").start()
    try {
      // batch 1: in-control values (10.00 ~ mu0) — no alarm
      mem.addData((1, 0L, 0, 10.00, "a"), (2, 1L, 1, 10.50, "a"))
      q.processAllAvailable()
      // batches 2-3: small persistent +3.00 shift; each batch alone adds
      // (1300-1000-100)*2 = 400 < h, but the SECOND one crosses 500 —
      // only possible because state carries across batches
      mem.addData((1, 2L, 2, 13.00, "a"), (2, 3L, 3, 13.00, "a"))
      q.processAllAvailable()
      mem.addData((1, 4L, 4, 13.00, "a"), (2, 5L, 5, 13.00, "a"))
      q.processAllAvailable()
      val snaps = spark.table("cusum_test")
        .filter(col("etype") === "a").orderBy("n_seen").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getBoolean(4)))
      // batch1: s_hi settles near 0; batch2: +400 (no page); batch3: +400
      // more -> 800 > 500 pages
      assert(snaps.length == 3, snaps.mkString(","))
      assert(!snaps(0)._3 && !snaps(1)._3 && snaps(2)._3, snaps.mkString(","))
      assert(snaps(2)._2 > 500L, snaps.mkString(","))
    } finally q.stop()
  }

  test("running features: snapshots accumulate across micro-batches like the batch PIT") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Int, Long, Int, Double, String)]
    val stream = shapedStream(mem)
    val q = StreamOps.runningFeatures(stream)
      .writeStream.format("memory").queryName("feat_test")
      .outputMode("append").start()
    try {
      // batch 1: user 1 sees a view then a 10.50 purchase; user 2 a view
      mem.addData((1, 0L, 0, 1.0, "view"), (1, 1L, 1, 10.50, "purchase"),
        (2, 2L, 2, 1.0, "view"))
      q.processAllAvailable()
      // batch 2: user 1 purchases again (2.25); user 2 idle (no snapshot)
      mem.addData((1, 3L, 3, 2.25, "purchase"))
      q.processAllAvailable()
      val rows = spark.table("feat_test").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getString(3)))
      // user 1: batch-1 snapshot (2 events, 1050 cents, purchase) then
      // batch-2 snapshot (3 events, 1275 cents); user 2: one snapshot
      assert(rows.toSet == Set(
        (1, 2L, 1050L, "purchase"), (2, 1L, 0L, "view"),
        (1, 3L, 1275L, "purchase")), rows.mkString(", "))
    } finally q.stop()
  }

  test("SpaceSaving heavy hitters: bounded counters, eviction bound holds across batches") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Int, Long, Int, Double, String)]
    val stream = shapedStream(mem)
    val q = StreamOps.heavyHitters(stream, capacity = 2)
      .writeStream.format("memory").queryName("hh_test")
      .outputMode("append").start()
    try {
      // batch 1: uid 1 ×3, uid 2 ×1 — both fit in the 2 counters exactly
      mem.addData((1, 0L, 0, 1.0, "a"), (1, 1L, 1, 1.0, "a"),
        (1, 2L, 2, 1.0, "a"), (2, 3L, 3, 1.0, "a"))
      q.processAllAvailable()
      // batch 2: uid 3 ×2 must EVICT the min counter (uid 2, c=1),
      // inheriting err=1: est=3, true=2 — the overestimation bound;
      // uid 1 gains one more (true count 4, err 0)
      mem.addData((3, 4L, 4, 1.0, "a"), (3, 5L, 5, 1.0, "a"),
        (1, 6L, 6, 1.0, "a"))
      q.processAllAvailable()
      val rows = spark.table("hh_test").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3),
          r.getLong(4)))
      assert(rows.contains(("a", 1, 1, 3L, 0L)), rows.mkString(", "))
      assert(rows.contains(("a", 2, 2, 1L, 0L)), rows.mkString(", "))
      // after batch 2: uid 1 est 4 err 0; uid 3 est 3 err 1 (true 2 ≤ 3 ≤ 2+1)
      assert(rows.contains(("a", 1, 1, 4L, 0L)), rows.mkString(", "))
      assert(rows.contains(("a", 2, 3, 3L, 1L)), rows.mkString(", "))
      // state stayed at capacity: no snapshot ever lists 3 distinct uids
      assert(rows.map(_._2).max <= 2, rows.mkString(", "))
    } finally q.stop()
  }

  test("custom sessionization seals by in-batch gap AND by event-time watermark") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Int, Long, Int, Double, String)]
    val stream = shapedStream(mem)
    val q = StreamOps.sessionize(stream, gapMs = 30L * 60 * 1000)
      .writeStream.format("memory").queryName("sess_custom")
      .outputMode("append").start()
    try {
      // batch 1: user 1 has two close events (one open session) and then a
      // 50-min gap to a third — the FIRST session must seal as "gap"
      // within the batch; the second stays open
      mem.addData((1, 0L, 0, 1.0, "view"), (1, 1L, 10, 2.0, "click"),
        (1, 2L, 60, 3.0, "purchase"))
      q.processAllAvailable()
      // batch 2: user 2 far in the future advances the watermark
      // (t=300min → wm=270min) past user 1's open session end (60) + gap
      // (30) — the open session must seal as "timeout" at this trigger
      mem.addData((2, 3L, 300, 1.0, "view"))
      q.processAllAvailable()
      // one more empty-ish trigger so the timeout fires if the engine
      // processes it on the following batch
      mem.addData((2, 4L, 301, 1.0, "click"))
      q.processAllAvailable()
      val rows = spark.table("sess_custom").collect()
        .map(r => (r.getInt(0), r.getLong(3), r.getString(4), r.getString(5),
          r.getString(6)))
      val gapSeal = rows.filter(t => t._1 == 1 && t._5 == "gap")
      val toSeal = rows.filter(t => t._1 == 1 && t._5 == "timeout")
      assert(gapSeal.toSeq == Seq((1, 2L, "view", "click", "gap")),
        rows.mkString(", "))
      assert(toSeal.toSeq == Seq((1, 1L, "purchase", "purchase", "timeout")),
        rows.mkString(", "))
    } finally q.stop()
  }

  test("streaming corpus dedup: each micro-batch checks, then feeds, the band index") {
    // The incremental-dedup loop on the STREAMING surface: history index →
    // per-batch near-dup check via the bucketed band index → bucketed
    // append admits the batch for every LATER batch. Batch 2's replay of a
    // batch-1 document can only be caught through the appended index —
    // batch-1 text is gone when batch 2 arrives.
    implicit val sq = spark.sqlContext
    val B = operators.DedupOps.BandIndex
    val key = Files.createTempDirectory("graft-stream-dedup-").toString
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    B.ensure(spark, key, docs.filter(col("doc_id") < 100))
    val textOf = docs.filter(col("doc_id").isin(0, 150))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val flagged = scala.collection.mutable.Map[Long, Boolean]()
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF.toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        B.bands(b)
          .join(spark.table(B.name(key)).hint("MERGE"), Seq("band"), "left")
          .groupBy("doc_id")
          .agg(max(col("hist_doc").isNotNull).as("dup"))
          .collect().foreach { r =>
            flagged.synchronized { flagged(r.getLong(0)) = r.getBoolean(1) }
          }
        B.append(spark, key, b)
      }
      .start()
    try {
      // batch 1: a genuinely new doc (150, not in the history slice) and a
      // replay of history doc 0 under a new id
      mem.addData((150L, textOf(150L)), (8888L, textOf(0L)))
      q.processAllAvailable()
      // batch 2: replay of BATCH 1's new doc — only the appended index
      // can know it
      mem.addData((9999L, textOf(150L)))
      q.processAllAvailable()
    } finally q.stop()
    assert(flagged.get(8888L).contains(true), s"history replay missed: $flagged")
    assert(flagged.get(150L).contains(false), s"fresh doc false-flagged: $flagged")
    assert(flagged.get(9999L).contains(true),
      s"batch-1 replay not caught through the appended index: $flagged")
    spark.sql(s"DROP TABLE ${B.name(key)}")
  }

  test("corpusAdmit composes gate + near-dup + index feed over the stream") {
    // The product streaming-admission API end-to-end: a short doc falls to
    // the quality gate, a history near-dup falls to the index check, an
    // admitted doc's replay in a LATER batch falls to the appended bands,
    // and the fresh doc survives — q_corpus_pipeline's chain, per batch.
    implicit val sq = spark.sqlContext
    val B = operators.DedupOps.BandIndex
    val key = Files.createTempDirectory("graft-admit-").toString
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    B.ensure(spark, key, docs.filter(col("doc_id") < 100))
    val textOf = docs.filter(col("doc_id").isin(0, 150))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val kept = scala.collection.mutable.Set[Long]()
    val mem = MemoryStream[(Long, String)]
    val q = streaming.StreamOps.corpusAdmit(
        mem.toDF.toDF("doc_id", "text"), key, 5) { b =>
      val ids = b.select("doc_id").collect().map(_.getLong(0))
      kept.synchronized { kept ++= ids }
    }
    try {
      mem.addData(
        (150L, textOf(150L)),      // fresh — admit
        (7777L, "too short"),      // quality gate
        (8888L, textOf(0L)))       // history near-dup
      q.processAllAvailable()
      mem.addData((9999L, textOf(150L))) // replay of batch-1 admit
      q.processAllAvailable()
    } finally q.stop()
    assert(kept.toSet == Set(150L),
      s"admission set wrong: $kept (gate, index, or append misfired)")
    spark.sql(s"DROP TABLE ${B.name(key)}")
  }

  test("expiring dedup bounds its state: a key re-admits after its TTL") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Int, Long, Int, Double, String)]
    val q = StreamOps.dedupStreamExpiring(shapedStream(mem), ttlMs = 500)
      .writeStream.format("memory").queryName("dedup_ttl_test")
      .outputMode("append").start()
    // processAllAvailable can livelock against the continuous empty batches
    // Spark schedules to fire processing-time timeouts — poll the sink with
    // a deadline instead
    def awaitRows(n: Int): Set[(Int, String, Long)] = {
      val deadline = System.currentTimeMillis + 30000
      var out = Set.empty[(Int, String, Long)]
      while (out.size < n && System.currentTimeMillis < deadline) {
        Thread.sleep(100)
        out = spark.table("dedup_ttl_test").collect()
          .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
      }
      out
    }
    try {
      // batch 1: key (1,a) admitted once, duplicate suppressed
      mem.addData((1, 0L, 0, 1.0, "a"), (1, 1L, 1, 1.0, "a"))
      assert(awaitRows(1) == Set((1, "a", 0L)))
      Thread.sleep(800) // let (1,a)'s TTL lapse
      // batch 2 (unrelated key) runs while (1,a)'s timeout fires → removed
      mem.addData((9, 2L, 2, 1.0, "z"))
      assert(awaitRows(2) == Set((1, "a", 0L), (9, "z", 2L)))
      // batch 3: the expired key re-admits
      mem.addData((1, 3L, 3, 1.0, "a"))
      val out = awaitRows(3)
      assert(out == Set((1, "a", 0L), (9, "z", 2L), (1, "a", 3L)), out.toString)
    } finally q.stop()
  }

  test("stream-stream interval join matches purchases to preceding clicks") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Int, Long, Int, Double, String)]
    val stream = shapedStream(mem)
    val q = StreamOps.clickPurchaseJoin(stream)
      .select("p_id", "c_id")
      .writeStream.format("memory").queryName("ssjoin_test")
      .outputMode("append").start()
    try {
      // user 1: clicks at min 0 and 40; purchase at min 20 — only the first
      // click is within (p_ts-30m, p_ts); user 2's click belongs to no purchase
      mem.addData((1, 0L, 0, 1.0, "click"), (1, 1L, 40, 1.0, "click"),
        (1, 2L, 20, 1.0, "purchase"), (2, 3L, 5, 1.0, "click"))
      q.processAllAvailable()
      val pairs = spark.table("ssjoin_test").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((2L, 0L)), pairs.toString)
    } finally q.stop()
  }

  test("append-mode window agg seals windows at the watermark and drops late rows") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Int, Long, Int, Double, String)]
    val stream = shapedStream(mem)
    val q = StreamOps.tumblingCounts(stream)
      .writeStream.format("memory").queryName("late_test")
      .outputMode("append").start()
    def rows(): Set[(String, String, Long)] = spark.table("late_test").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    // watermark-triggered emission lands in a no-data microbatch that can
    // trail processAllAvailable under load — poll with a deadline (the
    // dedup_ttl_test convention) before asserting exact contents
    def awaitRows(n: Int): Set[(String, String, Long)] = {
      val deadline = System.currentTimeMillis + 30000
      var out = rows()
      while (out.size < n && System.currentTimeMillis < deadline) {
        Thread.sleep(100); out = rows()
      }
      out
    }
    try {
      // two hour-10 events: the window is still open (wm = 10:20 − 30m), so
      // append mode must emit NOTHING yet
      mem.addData((1, 0L, 5, 2.0, "a"), (1, 1L, 20, 3.0, "a"))
      q.processAllAvailable()
      assert(rows() == Set.empty, rows().toString)
      // 11:35 event → wm 11:05 > 11:00: the hour-10 window seals and emits
      mem.addData((2, 2L, 95, 1.0, "b"))
      q.processAllAvailable()
      assert(awaitRows(1) == Set(("2024-01-01 10:00:00.0", "a", 2L)), rows().toString)
      // a LATE hour-10 event (10:25, behind the 11:05 watermark) is dropped —
      // the sealed window must NOT change (count stays 2, no re-emission)
      mem.addData((1, 3L, 25, 9.0, "a"))
      q.processAllAvailable()
      // 13:05 event → wm 12:35 seals hour 11; hour 13 stays open
      mem.addData((3, 4L, 185, 1.0, "c"))
      q.processAllAvailable()
      assert(awaitRows(2) == Set(
        ("2024-01-01 10:00:00.0", "a", 2L),
        ("2024-01-01 11:00:00.0", "b", 1L)), rows().toString)
    } finally q.stop()
  }

  test("left-outer stream-stream join delays null rows until the watermark") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Int, Long, Int, Double, String)]
    val stream = shapedStream(mem)
    val q = StreamOps.clickPurchaseJoinOuter(stream)
      .select("p_id", "c_id")
      .writeStream.format("memory").queryName("ssjoin_outer_test")
      .outputMode("append").start()
    def rows(): Set[(Long, Long)] = spark.table("ssjoin_outer_test").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    // null-side eviction lands in a trailing no-data microbatch — poll with
    // a deadline (the dedup_ttl_test convention) before asserting contents
    def awaitRows(n: Int): Set[(Long, Long)] = {
      val deadline = System.currentTimeMillis + 30000
      var out = rows()
      while (out.size < n && System.currentTimeMillis < deadline) {
        Thread.sleep(100); out = rows()
      }
      out
    }
    try {
      // user 1's purchase matches the click; user 2's purchase has NO click —
      // its null row must NOT appear yet (a matching click could still arrive)
      mem.addData((1, 0L, 0, 1.0, "click"), (1, 2L, 20, 1.0, "purchase"),
        (2, 3L, 25, 1.0, "purchase"))
      q.processAllAvailable()
      assert(rows() == Set((2L, 0L)), rows().toString)
      // advance BOTH sides' watermarks far past purchase + interval + delay
      // (the global watermark is the MIN across the two filtered sides — a
      // click alone moves nothing): the unmatched purchase's state is
      // evicted and the null row emits (eviction runs on the batch AFTER
      // the watermark moves — two batches pin that it emits, and emits once)
      mem.addData((9, 8L, 200, 1.0, "click"), (9, 9L, 200, 1.0, "purchase"))
      q.processAllAvailable()
      mem.addData((9, 10L, 201, 1.0, "click"), (9, 11L, 201, 1.0, "purchase"))
      q.processAllAvailable()
      // (11, 8): the advancing purchase@201 matches the advancing click@200;
      // (3, -1): user 2's original purchase finally emits its null row
      assert(awaitRows(3) == Set((2L, 0L), (3L, -1L), (11L, 8L)), rows().toString)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark suppresses replayed ids") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Int, Long, Int, Double, String)]
    val stream = shapedStream(mem)
    val q = stream
      .withWatermark("timestamp", "1 hour")
      .dropDuplicatesWithinWatermark("offset")
      .select("offset")
      .writeStream.format("memory").queryName("ddw_test")
      .outputMode("append").start()
    try {
      mem.addData((1, 10L, 0, 1.0, "click"), (1, 11L, 1, 1.0, "click"))
      q.processAllAvailable()
      mem.addData((1, 10L, 2, 1.0, "click")) // replay of offset 10 within watermark
      q.processAllAvailable()
      val offsets = spark.table("ddw_test").collect().map(_.getLong(0)).sorted.toSeq
      assert(offsets == Seq(10L, 11L), offsets.toString)
    } finally q.stop()
  }

  test("multi-micro-batch run keeps every chunk complete (maxFilesPerTrigger=1)") {
    val srcDir = tmp("graft-mmb-src-")
    val outDir = tmp("graft-mmb-out-")
    val ck = tmp("graft-mmb-ck-")
    // 5 source files → 5 micro-batches; random row→file split means nearly
    // every 250-chunk spans several batches
    Tables(spark, sf, "events")
      .withColumn("ts", expr("unix_micros(ts) * 1000"))
      .repartition(5)
      .write.mode("overwrite").parquet(srcDir)
    val raw = spark.readStream.schema(KafkaShaped.eventsSchema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .withColumn("ts", timestamp_micros(expr("ts div 1000")))
    val q = KafkaShaped.shape(raw).writeStream
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        OffsetNamedOrcSink.write(b, outDir, 250); ()
      }
      .start()
    q.awaitTermination()
    val back = OffsetNamedOrcSink.read(spark, s"$outDir/topics/events")
    // no loss, no duplication: all 1000 distinct offsets present exactly once
    assert(back.count() == 1000, s"rows: ${back.count()}")
    assert(back.select("offset").distinct().count() == 1000)
  }

  test("wall-clock rotation in the streaming pipeline replays to identical file names") {
    val srcDir = tmp("graft-rotstream-src-")
    val outDir = tmp("graft-rotstream-out-")
    Tables(spark, sf, "events")
      .withColumn("ts", expr("unix_micros(ts) * 1000"))
      .repartition(3)
      .write.mode("overwrite").parquet(srcDir)
    val rot = Some(3600000L)
    val q1 = StreamOps.runPipeline(spark, srcDir, outDir,
      tmp("graft-rotstream-ck1-"), flushSize = 250, rotateMs = rot)
    q1.awaitTermination()
    val topicDir = s"$outDir/topics/events"
    def committed() = new java.io.File(topicDir).listFiles
      .filter(_.isDirectory).filter(_.getName.startsWith("partition="))
      .flatMap(_.listFiles).filter(f => f.isFile && f.getName.endsWith(".orc"))
      .map(f => s"${f.getParentFile.getName}/${f.getName}").sorted.toSeq
    val first = committed()
    assert(first.nonEmpty && first.forall(_.contains("+t")), first.take(3).mkString(","))
    assert(graft.streaming.OffsetNamedOrcSink.read(spark, topicDir).count() == 1000)
    // full replay from a FRESH checkpoint (different micro-batch boundaries
    // possible) must land the exact same committed names — the event-time
    // grid, like the offset grid, is derived from the records alone
    val q2 = StreamOps.runPipeline(spark, srcDir, outDir,
      tmp("graft-rotstream-ck2-"), flushSize = 250, rotateMs = rot)
    q2.awaitTermination()
    assert(committed() == first)
    assert(graft.streaming.OffsetNamedOrcSink.read(spark, topicDir).count() == 1000)
  }

  test("same-checkpoint restart processes only new files (exactly-once)") {
    val srcDir = tmp("graft-ckrestart-src-")
    val outDir = tmp("graft-ckrestart-out-")
    val ck = tmp("graft-ckrestart-ck-")
    val events = Tables(spark, sf, "events")
      .withColumn("ts", expr("unix_micros(ts) * 1000"))
    // first slice ends MID-CHUNK (437 % 250 != 0): the partially-filled
    // chunk must survive the next batch's overwrite of the same chunk dir
    events.filter(col("event_id") < 437)
      .write.mode("overwrite").parquet(s"$srcDir/batch1")
    val q1 = StreamOps.runPipeline(spark, s"$srcDir/batch1", outDir, ck)
    q1.awaitTermination()
    val afterFirst = graft.streaming.OffsetNamedOrcSink
      .read(spark, s"$outDir/topics/events").count()
    assert(afterFirst == 437, s"run1 rows: $afterFirst")
    // remainder arrives; SAME checkpoint → only new files processed, and
    // the spanning chunk's earlier rows are merged, not clobbered
    events.filter(col("event_id") >= 437)
      .write.mode("append").parquet(s"$srcDir/batch1")
    val q2 = StreamOps.runPipeline(spark, s"$srcDir/batch1", outDir, ck)
    q2.awaitTermination()
    val afterSecond = graft.streaming.OffsetNamedOrcSink
      .read(spark, s"$outDir/topics/events").count()
    assert(afterSecond == 1000, s"run2 rows: $afterSecond")
  }

  test("steady-state micro-batches into a local topic start no process; a restart lands each offset once") {
    import java.nio.file.{Paths, StandardCopyOption}
    import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
    import scala.jdk.CollectionConverters._
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val stage = tmp("graft-nofork-stage-")
    val srcDir = tmp("graft-nofork-src-")
    val outDir = tmp("graft-nofork-out-")
    val ck = tmp("graft-nofork-ck-")
    val events = Tables(spark, sf, "events")
    // ten one-file slices cut off the 250-offset chunk grid: each is one
    // micro-batch, and most commits merge into a chunk already committed
    val cuts = Seq(0, 97, 211, 330, 452, 561, 689, 803, 917, 958, 1000)
    val files = cuts.sliding(2).zipWithIndex.map { case (Seq(lo, hi), i) =>
      val d = s"$stage/s$i"
      events.filter(col("event_id") >= lo && col("event_id") < hi)
        .coalesce(1).write.parquet(d)
      new java.io.File(d).listFiles.find(_.getName.endsWith(".parquet")).get.toPath
    }.toSeq
    val done = new LinkedBlockingQueue[java.lang.Long]()
    def start() = KafkaShaped.streamFromDir(spark, srcDir).writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        OffsetNamedOrcSink.write(b, outDir, 250); done.put(id); ()
      }
      .start()
    // a fed file is done once its batch committed to the sink and to the
    // checkpoint's commit log, and a trigger after it found nothing new
    def feed(q: org.apache.spark.sql.streaming.StreamingQuery, i: Int): Unit = {
      Files.move(files(i), Paths.get(srcDir, f"b$i%02d.parquet"), StandardCopyOption.ATOMIC_MOVE)
      assert(done.poll(120, TimeUnit.SECONDS) != null, s"batch of file $i never committed")
      q.processAllAvailable()
    }
    val topicDir = s"$outDir/topics/events"
    val q1 = start()
    val forks = try {
      (0 until 2).foreach(feed(q1, _)) // warm-up: query start, first mkdirs
      // Spark's process-tree metrics getter forks `getconf PAGESIZE` once
      // per JVM, when the first heartbeat loads it: load it now
      Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
      val rec = new Recording()
      rec.enable("jdk.ProcessStart").withStackTrace()
      rec.start()
      try (2 until 8).foreach(feed(q1, _)) finally rec.stop()
      val jfr = Files.createTempFile("graft-nofork-", ".jfr")
      try {
        rec.dump(jfr)
        // Spark deletes a garbage-collected session's artifact dir with a
        // forked `rm -rf` from the JDK Cleaner thread; which earlier
        // session the GC collects in the window is chance, not batch work
        RecordingFile.readAllEvents(jfr).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .filterNot(e => Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
            _.getMethod.getType.getName == "org.apache.spark.sql.artifact.ArtifactManager$StateCleanupRunner")))
          .map(e => e.getValue[String]("command") + " from " +
            Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala.slice(2, 8))
              .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}").mkString(" < "))
      } finally { rec.close(); Files.deleteIfExists(jfr) }
    } finally q1.stop()
    assert(forks.isEmpty, s"${forks.size} process starts in 6 batches, e.g. ${forks.take(3).mkString("; ")}")
    assert(OffsetNamedOrcSink.read(spark, topicDir).count() == 917)
    // restart from the same checkpoint: only the two new files are read
    val q2 = start()
    try (8 until 10).foreach(feed(q2, _)) finally q2.stop()
    assert(q2.recentProgress.map(_.numInputRows).sum == 1000 - 917)
    val back = OffsetNamedOrcSink.read(spark, topicDir)
    val perKey = back.groupBy("partition", "offset").count()
    assert(perKey.filter(col("count") =!= 1).count() == 0, "a (partition, offset) landed twice")
    val want = KafkaShaped.fromEvents(spark, sf).select("partition", "offset")
    val got = perKey.select("partition", "offset")
    assert(got.count() == 1000 && got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("same-checkpoint restart under the Field layout merges spanning chunks per routed dir") {
    // the one layout×restart cell batch crash tests didn't cover (VERDICT
    // r4 #6): value-routed dirs through foreachBatch, interrupted mid-chunk
    val srcDir = tmp("graft-fieldrestart-src-")
    val outDir = tmp("graft-fieldrestart-out-")
    val ck = tmp("graft-fieldrestart-ck-")
    val events = Tables(spark, sf, "events")
      .withColumn("ts", expr("unix_micros(ts) * 1000"))
    // run 1 ends MID-CHUNK (437 % 250 != 0): each routed etype dir holds a
    // partially-filled chunk file the restart must merge, not clobber
    events.filter(col("event_id") < 437)
      .write.mode("overwrite").parquet(s"$srcDir/batch1")
    def run(): Unit = {
      val raw = spark.readStream.schema(KafkaShaped.eventsSchema)
        .parquet(s"$srcDir/batch1")
        .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      val q = KafkaShaped.shape(raw).writeStream
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          OffsetNamedOrcSink.write(b, outDir, 250,
            layout = OffsetNamedOrcSink.Layout.Field("etype")); ()
        }
        .start()
      q.awaitTermination()
    }
    run()
    val topicDir = s"$outDir/topics/events"
    assert(OffsetNamedOrcSink.read(spark, topicDir).count() == 437)
    // remainder arrives; SAME checkpoint → only new files process, spanning
    // chunks merge inside every routed dir
    events.filter(col("event_id") >= 437)
      .write.mode("append").parquet(s"$srcDir/batch1")
    run()
    val back = OffsetNamedOrcSink.read(spark, topicDir)
    assert(back.count() == 1000, s"rows: ${back.count()}")
    assert(back.select("offset").distinct().count() == 1000)
    // the routed field reads back from the dirs and matches the source rows
    val expected = KafkaShaped.fromEvents(spark, sf)
      .select(col("offset"), col("value.etype").as("exp_etype"))
    assert(back.select(col("offset"), col("etype")).join(expected, "offset")
      .filter(col("etype") =!= col("exp_etype")).count() == 0)
    // committed names sit under etype=<v>/partition=<p>/ with offset names
    val files = new java.io.File(topicDir).listFiles.filter(_.isDirectory)
      .filter(_.getName.startsWith("etype="))
      .flatMap(_.listFiles).filter(_.isDirectory)
      .filter(_.getName.startsWith("partition="))
      .flatMap(_.listFiles).filter(f => f.isFile && f.getName.endsWith(".orc"))
    assert(files.nonEmpty &&
      files.forall(_.getName.matches(raw"events\+\d+\+\d{10}\.orc")),
      files.take(3).map(_.getName).mkString(","))
  }

  test("stream-stream join state survives a checkpoint restart (clicks match across the kill)") {
    // the join-state analogue of the sink's commit-recovery pins: kill the
    // stream between micro-batches, restart from the SAME checkpoint, and a
    // purchase arriving AFTER the restart must still match a click buffered
    // BEFORE it — the watermarked join's state store is part of the
    // exactly-once contract, not just the source offsets. Final sink
    // content must equal an uninterrupted run over the same data.
    import spark.implicits._
    val srcDir = tmp("graft-ssjrestart-src-")
    val outA = tmp("graft-ssjrestart-outA-")
    val outB = tmp("graft-ssjrestart-outB-")
    val ck = tmp("graft-ssjrestart-ck-")
    val baseNs = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime * 1000000L
    def ev(id: Long, minute: Int, uid: Long, etype: String) =
      (id, baseNs + minute * 60000000000L, uid, etype, 1.0, "{}")
    // slice A (before the kill): three buffered clicks + one matched pair
    val sliceA = Seq(
      ev(0L, 0, 1L, "click"), ev(1L, 5, 2L, "click"), ev(2L, 8, 3L, "click"),
      ev(3L, 20, 1L, "purchase"))
    // slice B (after the restart): user 2's purchase must match click 1
    // from RUN 1's state; user 3's purchase is outside the 30-min window
    // (no row); user 4 matches entirely within run 2
    val sliceB = Seq(
      ev(4L, 25, 2L, "purchase"), ev(5L, 50, 3L, "purchase"),
      ev(6L, 30, 4L, "click"), ev(7L, 40, 4L, "purchase"))
    def writeSlice(rows: Seq[(Long, Long, Long, String, Double, String)],
        mode: String): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .repartition(1).write.mode(mode).parquet(srcDir)
    // joined pairs land through the offset-named sink; offset is a pure
    // function of the matched records, so a replayed batch re-lands
    // byte-identically (the sink's idempotence composes with the join)
    def run(out: String, ckDir: String): Unit = {
      val shaped = KafkaShaped.streamFromDir(spark, srcDir)
      val pairs = StreamOps.clickPurchaseJoin(shaped)
        .select(
          col("p_uid").cast("string").cast("binary").as("key"),
          struct(col("p_id").as("id"), col("c_id").as("cid"),
            col("p_uid").cast("long").as("uid")).as("value"),
          lit("ssjoin").as("topic"),
          pmod(col("p_uid"), lit(2)).cast("int").as("partition"),
          (col("p_id") * 100 + col("c_id")).as("offset"),
          col("p_ts").as("timestamp"))
      val q = pairs.writeStream
        .option("checkpointLocation", ckDir)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!b.isEmpty) { OffsetNamedOrcSink.write(b, out, 250, topic = "ssjoin") }
          ()
        }
        .start()
      q.awaitTermination()
    }
    writeSlice(sliceA, "overwrite")
    run(outA, ck) // run 1, then the "kill" (AvailableNow terminates)
    val topicA = s"$outA/topics/ssjoin"
    def pairsIn(topicDir: String): Set[(Long, Long)] =
      OffsetNamedOrcSink.read(spark, topicDir)
        .select("id", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet
    assert(pairsIn(topicA) == Set((3L, 0L)), pairsIn(topicA).toString)
    writeSlice(sliceB, "append")
    run(outA, ck) // restart from the SAME checkpoint
    // (4, 1) is the recovery pin: the click was buffered before the kill
    val expected = Set((3L, 0L), (4L, 1L), (7L, 6L))
    assert(pairsIn(topicA) == expected, pairsIn(topicA).toString)
    // uninterrupted twin over the same data: identical committed content
    run(outB, tmp("graft-ssjrestart-ck2-"))
    val topicB = s"$outB/topics/ssjoin"
    assert(pairsIn(topicB) == expected, pairsIn(topicB).toString)
    val a = OffsetNamedOrcSink.read(spark, topicA)
      .select("offset", "partition", "id", "cid", "uid")
    val b = OffsetNamedOrcSink.read(spark, topicB)
      .select("offset", "partition", "id", "cid", "uid")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("stream-static enrichment broadcasts the dimension into each batch") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Int, Long, Int, Double, String)]
    val dim = Seq((1, "gold"), (2, "silver")).toDF("uid_key", "tier")
    val q = StreamOps.enrichStream(shapedStream(mem), dim, "uid_key")
      .select(col("value.uid").as("uid"), col("offset"), col("tier"))
      .writeStream.format("memory").queryName("enrich_test")
      .outputMode("append").start()
    try {
      mem.addData((1, 0L, 0, 1.0, "a"), (2, 1L, 1, 1.0, "b"), (7, 2L, 2, 1.0, "c"))
      q.processAllAvailable()
      val out = spark.table("enrich_test").collect()
        .map(r => (r.getInt(0), r.getLong(1), Option(r.getString(2)))).toSet
      // matched keys enriched; unmatched key survives with null tier (left join)
      assert(out == Set((1, 0L, Some("gold")), (2, 1L, Some("silver")),
        (7, 2L, None)), out.toString)
    } finally q.stop()
  }

  test("watermark drops late data beyond 30 minutes") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Int, Long, Int, Double, String)]
    val stream = shapedStream(mem)
    val q = StreamOps.tumblingCounts(stream)
      .writeStream.format("memory").queryName("late_test")
      .outputMode("append").start()
    try {
      mem.addData((1, 0L, 0, 1.0, "a"))
      q.processAllAvailable()
      // advance watermark far past hour 10 → closes that window
      mem.addData((1, 1L, 600, 1.0, "a"))
      q.processAllAvailable()
      // a very late event for hour 10 must be dropped, not re-opened
      mem.addData((1, 2L, 1, 99.0, "a"))
      q.processAllAvailable()
      val hour10 = spark.table("late_test")
        .where(col("hour_ts") === lit(Timestamp.valueOf("2024-01-01 10:00:00")))
        .select("n").collect().map(_.getLong(0)).toSeq
      assert(hour10 == Seq(1L), s"late event leaked: $hour10")
    } finally q.stop()
  }

  test("drift monitor: in-distribution batch stays quiet, shifted batch pages") {
    // The streaming face of q_stats_psi: a static reference histogram, one
    // PSI reading per micro-batch. A batch drawn from the reference
    // distribution must read near zero; a batch collapsed into one bin
    // must cross the canonical 0.2-nat alarm (200_000 micro-nats).
    implicit val sq = spark.sqlContext
    val ref = spark.range(0, 10000).selectExpr("(id * 7919) % 50000 AS c")
    val mem = MemoryStream[Long]
    val readings = scala.collection.mutable.Map[Long, (Long, Long)]()
    val q = StreamOps.driftMonitor(mem.toDF.toDF("c"), ref) { (bid, n, psi) =>
      readings.synchronized { readings(bid) = (n, psi) }
    }
    try {
      // batch 0: the same generator — in-distribution
      mem.addData(0L until 2000L map (i => (i * 7919) % 50000): _*)
      q.processAllAvailable()
      // batch 1: everything lands in one $50 bin — drifted
      mem.addData(Seq.fill(2000)(1234L): _*)
      q.processAllAvailable()
    } finally q.stop()
    val Seq((n0, psi0), (n1, psi1)) = Seq(readings(0L), readings(1L))
    assert(n0 == 2000L && n1 == 2000L, readings.toString)
    assert(psi0 < 50000L, s"in-distribution batch read psi=$psi0")
    assert(psi1 > 200000L, s"shifted batch under the alarm: psi=$psi1")
    assert(psi1 > psi0)
  }

  test("band-index maintainer keeps the dedup index current as the topic lands") {
    // VERDICT r8 item 5: drive BandIndex maintenance from a streamFromSink
    // tail, so incremental dedup state is current the moment data commits.
    // Scenario: land slice A → maintain → land slice B + REPLAY part of A
    // → maintain again from the same checkpoint → dedup a query slice
    // against the streamed index == the batch-built twin over A∪B.
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val idx = graft.operators.DedupOps.BandIndex
    val docs = Tables(spark, sf, "documents")
    def shaped(f: org.apache.spark.sql.Column) = docs.filter(f).select(
      col("doc_id").cast("string").cast("binary").as("key"),
      struct(col("doc_id"), col("text")).as("value"),
      lit("docs").as("topic"),
      pmod(col("doc_id"), lit(2)).cast("int").as("partition"),
      col("doc_id").as("offset"),
      lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("timestamp"))
    val out = tmp("graft-bandstream-out-")
    val ck = tmp("graft-bandstream-ck-")
    val streamKey = s"bandstream|$out"
    val valueSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))

    // run 1: slice A lands, the maintainer drains it into a fresh index
    val topicDir = OffsetNamedOrcSink.write(shaped(col("doc_id") < 300),
      out, flushSize = 100, topic = "docs")
    val q1 = StreamOps.bandIndexMaintainer(spark, topicDir, valueSchema,
      streamKey, ck)
    q1.awaitTermination()
    val afterA = spark.table(idx.name(streamKey)).count()
    assert(afterA > 0, "first drain indexed nothing")

    // run 2 from the SAME checkpoint: slice B is new; the replay of part of
    // A rewrites already-committed file names, which the path-keyed file
    // source does not re-emit — the index must grow by exactly B's bands
    OffsetNamedOrcSink.write(
      shaped(col("doc_id") >= 300 && col("doc_id") < 400),
      out, flushSize = 100, topic = "docs")
    OffsetNamedOrcSink.write(shaped(col("doc_id") < 50),
      out, flushSize = 100, topic = "docs") // replay
    val q2 = StreamOps.bandIndexMaintainer(spark, topicDir, valueSchema,
      streamKey, ck)
    q2.awaitTermination()

    // the streamed index must answer incremental dedup exactly like a
    // batch-built index over the same history (A∪B)
    val batchKey = s"bandbatch|$out"
    idx.ensure(spark, batchKey, docs.filter(col("doc_id") < 400))
    val query = docs.filter(col("doc_id") >= 400)
    def dedupAgainst(table: String) =
      idx.bands(query).join(spark.table(table), Seq("band"), "left")
        .groupBy("doc_id")
        .agg(countDistinct("hist_doc").as("n_hist_docs"),
          min("hist_doc").as("first_hit"))
    val viaStream = dedupAgainst(idx.name(streamKey))
    val viaBatch = dedupAgainst(idx.name(batchKey))
    assert(viaStream.exceptAll(viaBatch).count() == 0
      && viaBatch.exceptAll(viaStream).count() == 0,
      "streamed index diverged from the batch twin")
    // and the maintained index is a SET: replaying A did not re-land bands
    assert(spark.table(idx.name(streamKey)).distinct().count()
      == spark.table(idx.name(batchKey)).distinct().count())
  }

  test("band-index maintainer killed mid-drain resumes from checkpoint (crash composition)") {
    // VERDICT r9 item 7: land → index → KILL mid-history → restart from the
    // same checkpoint → land more + index → the maintained index answers
    // dedup exactly like a batch-built twin over the full history. The kill
    // lands between micro-batches (maxFilesPerTrigger = 1 makes the drain
    // multi-batch; we stop() the moment the first batch has committed), so
    // the restart genuinely resumes a half-indexed history — the crash case
    // the two-clean-runs test above never exercises.
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val idx = graft.operators.DedupOps.BandIndex
    val docs = Tables(spark, sf, "documents")
    def shaped(f: org.apache.spark.sql.Column) = docs.filter(f).select(
      col("doc_id").cast("string").cast("binary").as("key"),
      struct(col("doc_id"), col("text")).as("value"),
      lit("docs").as("topic"),
      pmod(col("doc_id"), lit(2)).cast("int").as("partition"),
      col("doc_id").as("offset"),
      lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("timestamp"))
    val out = tmp("graft-bandcrash-out-")
    val ck = tmp("graft-bandcrash-ck-")
    val streamKey = s"bandcrash|$out"
    val valueSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))

    // slice A lands as SEVERAL committed files (flushSize 100 over 300 docs
    // × 2 partitions), so a 1-file-per-trigger drain is multi-batch
    val topicDir = OffsetNamedOrcSink.write(shaped(col("doc_id") < 300),
      out, flushSize = 100, topic = "docs")
    val q1 = StreamOps.bandIndexMaintainer(spark, topicDir, valueSchema,
      streamKey, ck, maxFilesPerTrigger = 1)
    // poll the index table with a deadline (processAllAvailable livelocks
    // on continuous empty batches — CLAUDE.md discipline), then KILL
    val deadline = System.currentTimeMillis() + 60000
    while (!(spark.catalog.tableExists(idx.name(streamKey)) &&
        spark.table(idx.name(streamKey)).count() > 0) &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
    q1.stop()
    assert(spark.catalog.tableExists(idx.name(streamKey)),
      "kill landed before the first batch committed anything")
    val afterKill = spark.table(idx.name(streamKey)).distinct().count()

    // restart from the SAME checkpoint: drains exactly the unindexed rest
    val q2 = StreamOps.bandIndexMaintainer(spark, topicDir, valueSchema,
      streamKey, ck, maxFilesPerTrigger = 1)
    q2.awaitTermination()
    // slice B lands after the restart; one more maintenance drain
    OffsetNamedOrcSink.write(
      shaped(col("doc_id") >= 300 && col("doc_id") < 400),
      out, flushSize = 100, topic = "docs")
    val q3 = StreamOps.bandIndexMaintainer(spark, topicDir, valueSchema,
      streamKey, ck, maxFilesPerTrigger = 1)
    q3.awaitTermination()

    // the crash-resumed index answers dedup exactly like the batch twin
    val batchKey = s"bandcrashbatch|$out"
    idx.ensure(spark, batchKey, docs.filter(col("doc_id") < 400))
    val query = docs.filter(col("doc_id") >= 400)
    def dedupAgainst(table: String) =
      idx.bands(query).join(spark.table(table), Seq("band"), "left")
        .groupBy("doc_id")
        .agg(countDistinct("hist_doc").as("n_hist_docs"),
          min("hist_doc").as("first_hit"))
    val viaStream = dedupAgainst(idx.name(streamKey))
    val viaBatch = dedupAgainst(idx.name(batchKey))
    assert(viaStream.exceptAll(viaBatch).count() == 0
      && viaBatch.exceptAll(viaStream).count() == 0,
      "crash-resumed index diverged from the batch twin")
    val finalBands = spark.table(idx.name(streamKey)).distinct().count()
    assert(finalBands == spark.table(idx.name(batchKey)).distinct().count())
    // the kill really was mid-history: the restart had work left to do
    assert(afterKill < finalBands,
      s"kill was not mid-drain (afterKill=$afterKill, final=$finalBands)")
  }

  test("10x volume, 3 checkpointed restarts: sink tail, corpusAdmit, drift + cusum monitors") {
    // VERDICT r11 item 4: the r11 10x-restart scenario pinned wap +
    // maintainer + keyed dedup monitor; streamFromSink tailing,
    // corpusAdmit, and driftMonitor/cusumMonitor still only ran on
    // small-batch specs. Drive each from its OWN checkpoint across three
    // restart cycles at the 5,000-doc volume and pin: (a) the tail sees
    // every committed row exactly once and path-derives partition/_chunk
    // identically to the batch read; (b) admission decisions are
    // exactly-once across restarts and equal a batch replay of the same
    // slices, and a full-history replay admits ZERO; (c) the monitors
    // score each batch exactly once, CUSUM state survives the restarts
    // (the alarm only fires from 3-cycle ACCUMULATED drift), and keyed
    // state stays bounded by the live key space, never row history.
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType,
      StructField, StructType}
    val docs = Tables(spark, "/root/testdata/sf0.1", "documents")
    val slices = Seq((0, 1750), (1750, 3500), (3500, 5000))
    val B = operators.DedupOps.BandIndex

    // -- leg (a): streamFromSink tail, one checkpoint, three restarts -----
    val tailSink = tmp("graft-12x-tailsink-")
    val tailCk = tmp("graft-12x-tailck-")
    val tailLand = tmp("graft-12x-tailland-")
    val valueSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def shaped(lo: Int, hi: Int) = docs
      .filter(col("doc_id") >= lo && col("doc_id") < hi).select(
        col("doc_id").cast("string").cast("binary").as("key"),
        struct(col("doc_id"), col("text")).as("value"),
        lit("docs").as("topic"),
        pmod(col("doc_id"), lit(2)).cast("int").as("partition"),
        col("doc_id").as("offset"),
        lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("timestamp"))

    // -- leg (b): corpusAdmit, one checkpoint, three restarts --------------
    val admitSrc = tmp("graft-12x-admitsrc-")
    val admitCk = tmp("graft-12x-admitck-")
    val admitKey = s"admit12x|$admitSrc"
    B.ensure(spark, admitKey, docs.filter(col("doc_id") < 100))
    val admitSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val admittedLog = scala.collection.mutable.ArrayBuffer.empty[Long]
    val minToks = 5

    // -- leg (c): drift + cusum monitors, one checkpoint each --------------
    val cusumSrc = tmp("graft-12x-cusumsrc-")
    val cusumCk = tmp("graft-12x-cusumck-")
    val cusumOut = tmp("graft-12x-cusumout-")
    val cusumSchema = StructType(Seq(
      StructField("value", StructType(Seq(StructField("etype", StringType),
        StructField("dval", DoubleType)))),
      StructField("offset", LongType)))
    val driftSrc = tmp("graft-12x-driftsrc-")
    val driftCk = tmp("graft-12x-driftck-")
    val driftRef = spark.range(0, 10000).selectExpr("(id * 7919) % 50000 AS c")
    val driftReadings = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long)]
    var lastCusumState = -1L

    for (((lo, hi), cycle) <- slices.zipWithIndex) {
      // (a) a new slice commits into the topic; the tail drains it from its
      // checkpoint (slices are chunk-250-aligned: every committed file name
      // is new, so the path-keyed source re-emits nothing)
      val topicDir = OffsetNamedOrcSink.write(shaped(lo, hi), tailSink,
        flushSize = 250, topic = "docs")
      val qa = StreamOps.streamFromSink(spark, topicDir, valueSchema)
        .writeStream.option("checkpointLocation", tailCk)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(tailLand)
        }
        .start()
      qa.awaitTermination()
      assert(spark.read.parquet(tailLand).count() == hi,
        s"cycle $cycle tail cumulative")

      // (b) the slice arrives as one file = one micro-batch; admission
      // restarts from its checkpoint (seed docs < 100 are history, cycle 0
      // streams from 100)
      val amin = if (cycle == 0) 100 else lo
      docs.filter(col("doc_id") >= amin && col("doc_id") < hi)
        .select("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(admitSrc)
      val qb = StreamOps.corpusAdmit(
          spark.readStream.schema(admitSchema).parquet(admitSrc),
          admitKey, minToks, Some(admitCk), availableNow = true) { b =>
        val ids = b.select("doc_id").collect().map(_.getLong(0))
        admittedLog.synchronized { admittedLog ++= ids }
      }
      qb.awaitTermination()

      // (c) cusum: 5,000 rows/cycle, two etypes, constant +200-cent shift —
      // each cycle adds exactly 500,000 cents of S+ per etype; h=1.2M pages
      // only from state ACCUMULATED across the two preceding restarts
      spark.range(cycle * 5000L, cycle * 5000L + 5000L).select(
          struct(when(col("id") % 2 === 0, lit("a")).otherwise(lit("b"))
            .as("etype"), lit(13.00).as("dval")).as("value"),
          col("id").as("offset"))
        .coalesce(1).write.mode("append").parquet(cusumSrc)
      val qc = StreamOps.cusumMonitor(
          spark.readStream.schema(cusumSchema).parquet(cusumSrc),
          1000L, 100L, 1200000L)
        .writeStream.option("checkpointLocation", cusumCk)
        .trigger(Trigger.AvailableNow())
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[StreamOps.CusumSnapshot], _: Long) =>
            b.write.mode("append").parquet(cusumOut)
        }
        .outputMode("append").start()
      qc.awaitTermination()
      lastCusumState = qc.recentProgress.reverse
        .collectFirst { case p if p.stateOperators.nonEmpty =>
          p.stateOperators.map(_.numRowsTotal).sum }
        .getOrElse(lastCusumState)

      // drift: cycles 0-1 in-distribution, cycle 2 collapsed into one bin
      val driftVals =
        if (cycle < 2) spark.range(0, 5000).selectExpr("(id * 7919) % 50000 AS c")
        else spark.range(0, 5000).selectExpr("CAST(1234 AS BIGINT) AS c")
      driftVals.coalesce(1).write.mode("append").parquet(driftSrc)
      val qd = StreamOps.driftMonitor(
          spark.readStream.schema(StructType(Seq(StructField("c", LongType))))
            .parquet(driftSrc),
          driftRef, 5000L, Some(driftCk), availableNow = true) {
        (bid, n, psi) =>
          driftReadings.synchronized { driftReadings += ((bid, n, psi)) }
      }
      qd.awaitTermination()
    }

    // (a) exactly-once tail across the three restarts, path-derived columns
    // identical to the batch read-back
    val tailed = spark.read.parquet(tailLand)
    assert(tailed.count() == 5000 &&
      tailed.select("offset").distinct().count() == 5000,
      "tail duplicated or dropped rows across restarts")
    val batchBack = OffsetNamedOrcSink.read(spark, s"$tailSink/topics/docs")
      .select("offset", "partition", "_chunk")
    assert(tailed.select("offset", "partition", "_chunk")
      .exceptAll(batchBack).count() == 0 &&
      batchBack.exceptAll(tailed.select("offset", "partition", "_chunk"))
        .count() == 0,
      "tail's path-derived columns diverged from the batch read")

    // (b) admission: exactly-once across restarts and equal to a batch
    // replay of the same slices against the same growing band history
    assert(admittedLog.size == admittedLog.toSet.size,
      s"a doc was admitted twice across restarts")
    def normed(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
        trim(regexp_replace(regexp_replace(lower(col("text")),
          "[^a-z0-9 ]", " "), " +", " ")).as("text"))
      .filter(size(split(col("text"), " ")) >= minToks)
    val hist = scala.collection.mutable.Set.empty[String]
    hist ++= B.bands(docs.filter(col("doc_id") < 100))
      .collect().map(_.getString(1))
    val expected = scala.collection.mutable.Set.empty[Long]
    for (((lo, hi), cycle) <- slices.zipWithIndex) {
      val amin = if (cycle == 0) 100 else lo
      val nb = B.bands(normed(
          docs.filter(col("doc_id") >= amin && col("doc_id") < hi)))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val dup = nb.filter { case (_, b) => hist(b) }.map(_._1).toSet
      val kept = nb.map(_._1).toSet -- dup
      expected ++= kept
      hist ++= nb.collect { case (id, b) if kept(id) => b }
    }
    assert(admittedLog.toSet == expected,
      s"streamed admissions != batch replay: " +
        s"extra=${(admittedLog.toSet -- expected).take(5)} " +
        s"missing=${(expected -- admittedLog.toSet).take(5)}")
    assert(expected.nonEmpty, "replay admitted nothing — test is vacuous")
    // a full-history replay (fresh ids, same texts) admits ZERO: every
    // text is either sub-quality or a near-dup of the survived history
    docs.filter(col("doc_id") >= 100 && col("doc_id") < 5000)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      .coalesce(1).write.mode("append").parquet(admitSrc)
    val replayed = scala.collection.mutable.ArrayBuffer.empty[Long]
    val qb4 = StreamOps.corpusAdmit(
        spark.readStream.schema(admitSchema).parquet(admitSrc),
        admitKey, minToks, Some(admitCk), availableNow = true) { b =>
      val ids = b.select("doc_id").collect().map(_.getLong(0))
      replayed.synchronized { replayed ++= ids }
    }
    qb4.awaitTermination()
    assert(replayed.isEmpty, s"history replay admitted: ${replayed.take(5)}")

    // (c) cusum: exact integer state across restarts — 500,000 cents of S+
    // per etype per cycle, alarm only on the third; state = 2 live keys
    val snaps = spark.read.parquet(cusumOut)
      .orderBy("etype", "n_seen").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(4)))
    assert(snaps.toSeq == Seq(
      ("a", 2500L, 500000L, false), ("a", 5000L, 1000000L, false),
      ("a", 7500L, 1500000L, true),
      ("b", 2500L, 500000L, false), ("b", 5000L, 1000000L, false),
      ("b", 7500L, 1500000L, true)), snaps.mkString(", "))
    assert(lastCusumState == 2L,
      s"cusum state store holds $lastCusumState rows, want 2 (one per etype)")

    // drift: one reading per batch, every row scored exactly once, alarm
    // only on the collapsed cycle
    assert(driftReadings.size == 3, driftReadings.mkString(", "))
    assert(driftReadings.map(_._2).sum == 15000L,
      s"drift monitor lost/duplicated rows: $driftReadings")
    assert(driftReadings(0)._3 < 50000L && driftReadings(1)._3 < 50000L,
      s"in-distribution cycle paged: $driftReadings")
    assert(driftReadings(2)._3 > 200000L,
      s"collapsed cycle under the alarm: $driftReadings")

    spark.sql(s"DROP TABLE ${B.name(admitKey)}")
  }

  test("10x volume, 3 checkpointed restarts: wap + maintainer stay exactly-once, keyed state tracks live entities only") {
    // VERDICT r10 item 6: the streaming monitors were spec-pinned only on
    // MemoryStream-sized batches. Drive the three restartable consumers a
    // production pipeline composes — (a) the WAP gate, (b) the band-index
    // maintainer, (c) a mapGroupsWithState monitor — over THREE restart
    // cycles from their own checkpoints at 10x the earlier scenarios'
    // volume (5,000 sf0.1 documents vs the 300-500-doc tests above), with
    // multi-chunk sink batches (flushSize 250), and pin that no state
    // grows with HISTORY: wap audits each row exactly once across
    // restarts, the index equals the batch twin, and the keyed monitor's
    // state store holds live-TTL keys only (~1 cycle), never the 3-cycle
    // key history.
    import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType,
      StringType, StructField, StructType, TimestampType}
    val idx = graft.operators.DedupOps.BandIndex
    val docs = Tables(spark, "/root/testdata/sf0.1", "documents")
    def shaped(lo: Int, hi: Int) = docs
      .filter(col("doc_id") >= lo && col("doc_id") < hi).select(
        col("doc_id").cast("string").cast("binary").as("key"),
        struct(col("doc_id"), col("text")).as("value"),
        lit("docs").as("topic"),
        pmod(col("doc_id"), lit(2)).cast("int").as("partition"),
        col("doc_id").as("offset"),
        lit(Timestamp.valueOf("2024-01-01 00:00:00")).as("timestamp"))
    // slices align to flushSize-250 chunk boundaries: a non-aligned slice
    // would land its head into an already-committed chunk (the sink's
    // touched-chunk merge), which the path-keyed maintainer tail does NOT
    // re-emit — the documented first-commit contract, not what this test
    // is pinning
    val slices = Seq((0, 1750), (1750, 3500), (3500, 5000))
    val total = 5000L

    // -- leg (a): WAP gate, one checkpoint, three restart cycles ----------
    val wapSrc = tmp("graft-10x-wapsrc-")
    val wapCk = tmp("graft-10x-wapck-")
    val staging = tmp("graft-10x-stage-")
    val fin = tmp("graft-10x-final-")
    val quar = tmp("graft-10x-quar-")
    val shapedSchema = StructType(Seq(
      StructField("key", BinaryType),
      StructField("value", StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType)))),
      StructField("topic", StringType),
      StructField("partition", IntegerType),
      StructField("offset", LongType),
      StructField("timestamp", TimestampType)))
    // audits keyed by batchId: a kill between the foreachBatch body and its
    // offset commit replays the SAME id, and the sink lands it
    // byte-identically — the tally must not double-count that case
    val audits = scala.collection.mutable.LinkedHashMap
      .empty[Long, (Long, Long, Boolean)]

    // -- leg (b): maintainer, one checkpoint, three restart drains --------
    val landOut = tmp("graft-10x-land-")
    val maintCk = tmp("graft-10x-maintck-")
    val streamKey = s"wap10x|$landOut"
    val valueSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))

    // -- leg (c): keyed-state monitor, one checkpoint, three restarts -----
    val monSrc = tmp("graft-10x-monsrc-")
    val monCk = tmp("graft-10x-monck-")
    val monOut = tmp("graft-10x-monout-")
    val monSchema = StructType(Seq(
      StructField("value", StructType(Seq(StructField("uid", IntegerType),
        StructField("etype", StringType)))),
      StructField("offset", LongType)))
    val ttlMs = 2000L
    def monRows(): Long =
      // the poll races the stream's concurrent appends: a listing that
      // catches a task-commit rename mid-flight can throw (the same
      // listing-race class the streamFromSink invariant documents) — a
      // transient failure here means "not yet", never a test failure
      try {
        if (new java.io.File(monOut).listFiles()
            .exists(_.getName.endsWith(".parquet")))
          spark.read.parquet(monOut).count()
        else 0L
      } catch { case scala.util.control.NonFatal(_) => 0L }
    var lastStateRows = -1L

    for (((lo, hi), cycle) <- slices.zipWithIndex) {
      val expected = hi.toLong // cumulative rows after this cycle
      // (a) a new slice file arrives; wap restarts from its checkpoint and
      // must stage/audit/publish ONLY the new rows (contiguous offsets →
      // span == count → clean publish)
      shaped(lo, hi).coalesce(1).write.mode("append").parquet(wapSrc)
      val wq = StreamOps.wapPipeline(
        spark.readStream.schema(shapedSchema).parquet(wapSrc),
        staging, fin, quar, flushSize = 250, checkpointDir = Some(wapCk)) {
        (id, n, gaps, pub) =>
          audits.synchronized { audits(id) = (n, gaps, pub); () }
      }
      val deadline = System.currentTimeMillis() + 120000
      while (audits.synchronized(audits.values.map(_._1).sum) < expected &&
          System.currentTimeMillis() < deadline) Thread.sleep(100)
      wq.stop(); wq.awaitTermination()

      // (b) the same slice lands in the single-topic layout; the maintainer
      // drains it from ITS checkpoint (cycle > 0 = a genuine restart over a
      // grown topic) — multi-chunk: 1750 rows / flushSize 250 across 2
      // partition dirs
      val topicDir = OffsetNamedOrcSink.write(shaped(lo, hi), landOut,
        flushSize = 250, topic = "docs")
      val mq = StreamOps.bandIndexMaintainer(spark, topicDir, valueSchema,
        streamKey, maintCk)
      mq.awaitTermination()

      // (c) keyed monitor over the same ids: every key in a cycle is fresh,
      // so output grows by the slice size; keys from cycle k-1 expired
      // during the inter-cycle sleep and MUST leave the store when this
      // cycle's batch fires their timeouts
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi).select(
          struct(col("doc_id").cast("int").as("uid"),
            lit("d").as("etype")).as("value"),
          col("doc_id").as("offset"))
        .coalesce(1).write.mode("append").parquet(monSrc)
      val cq = StreamOps.dedupStreamExpiring(
          spark.readStream.schema(monSchema).parquet(monSrc), ttlMs)
        .writeStream
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[StreamOps.DedupedEvent], _: Long) =>
            b.write.mode("append").parquet(monOut)
        }
        .option("checkpointLocation", monCk).outputMode("append").start()
      // poll the landed output, never processAllAvailable:
      // ProcessingTimeTimeout schedules continuous empty batches (CLAUDE.md)
      val mdl = System.currentTimeMillis() + 120000
      while (monRows() < expected && System.currentTimeMillis() < mdl)
        Thread.sleep(100)
      lastStateRows = cq.recentProgress.reverse
        .collectFirst { case p if p.stateOperators.nonEmpty =>
          p.stateOperators.map(_.numRowsTotal).sum }
        .getOrElse(-1L)
      cq.stop(); cq.awaitTermination()
      if (cycle < slices.size - 1) Thread.sleep(ttlMs + 500) // let keys lapse
    }

    // (a) exactly-once across the three restarts: every row audited once,
    // every batch clean, the published topics hold exactly the history
    val byId = audits.synchronized(audits.toMap)
    assert(byId.values.map(_._1).sum == total, s"staged tally: $byId")
    assert(byId.values.forall { case (_, gaps, pub) => gaps == 0L && pub },
      s"non-clean audit: $byId")
    val finRows = new java.io.File(s"$fin/topics").listFiles().toSeq
      .map(t => OffsetNamedOrcSink.read(spark, t.toString).count()).sum
    assert(finRows == total, s"published rows $finRows")
    assert(!new java.io.File(s"$quar/topics").exists(), "quarantine non-empty")

    // (b) the restarted-3-times index answers exactly like a batch twin
    // built in one shot over the full history
    val batchKey = s"wap10xbatch|$landOut"
    idx.ensure(spark, batchKey, docs)
    val viaStream = spark.table(idx.name(streamKey)).distinct()
    val viaBatch = spark.table(idx.name(batchKey)).distinct()
    assert(viaStream.exceptAll(viaBatch).count() == 0
      && viaBatch.exceptAll(viaStream).count() == 0,
      "streamed index diverged from the batch twin")

    // (c) every key admitted exactly once (output == history), and the
    // state store after cycle 3 holds ~one cycle of live keys — NOT the
    // 5,000-key history: state ∝ live entities, bounded across restarts
    assert(monRows() == total, s"monitor admitted ${monRows()} of $total")
    assert(lastStateRows > 0, "no stateOperators progress captured")
    assert(lastStateRows <= 1750L,
      s"keyed state grew with history: $lastStateRows rows in store " +
        "(expected <= one live cycle of 1750)")
  }
}
