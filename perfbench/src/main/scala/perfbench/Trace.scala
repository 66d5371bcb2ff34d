package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `op` groups the spans of one operation (a
  * micro-batch, a lookup, a query run); `parent` is the enclosing span's id,
  * 0 at the root. Times are epoch nanoseconds on the benchmark's clock. */
final case class Span(id: Long, name: String, op: Long, parent: Long,
    startNs: Long, endNs: Long) {
  def durS: Double = (endNs - startNs) / 1e9
}

/** Spark-side work done under a span: jobs (with their wall interval),
  * and the summed task metrics of their stages. */
final class SpanWork {
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var taskS, gcS = 0.0
  var shuffleBytes, spillBytes, recordsRead, recordsWritten, bytesWritten = 0L
  var peakExecMem = 0L
  /** Wall time covered by at least one job (overlapping jobs count once). */
  def jobS: Double = {
    var covered = 0L; var reach = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (e > reach) { covered += e - math.max(s, reach); reach = e }
    }
    covered / 1e3
  }
}

/** In-memory tracer. Spans are recorded around every layer call the
  * benchmark makes; Spark jobs, stages and tasks are attributed to the span
  * that was open on the submitting thread through a SparkContext local
  * property. Nothing is registered with Spark unless `enabled`. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._
  private val nextId = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val work = new ConcurrentHashMap[Long, SpanWork]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, Long)]()
  private val open = new ThreadLocal[List[Long]] { override def initialValue = Nil }
  /** (phase-start ms, analysis+optimization+planning s) per finished query
    * execution. */
  val planPhases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  /** Per-trigger StreamingQueryProgress durations, in seconds. */
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Trigger]()

  private def sc: SparkContext = spark.sparkContext

  private def workOf(spanId: Long): SpanWork = work.computeIfAbsent(spanId, _ => new SpanWork)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)
      jobStart.put(e.jobId, (span, e.time))
      e.stageIds.foreach(s => stageSpan.put(s, span))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (span, t0) =>
        val w = workOf(span)
        w.synchronized(w.jobIntervals += (t0 -> e.time))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .foreach(s => stageSpan.put(e.stageInfo.stageId, s.toLong))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        val w = workOf(stageSpan.getOrDefault(e.stageId, 0L))
        w.synchronized {
          w.taskS += m.executorRunTime / 1e3
          w.gcS += m.jvmGCTime / 1e3
          w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
          w.recordsRead += m.inputMetrics.recordsRead
          w.recordsWritten += m.outputMetrics.recordsWritten
          w.bytesWritten += m.outputMetrics.bytesWritten
          w.peakExecMem = math.max(w.peakExecMem, m.peakExecutionMemory)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty)
        planPhases.add(ph.values.map(_.startTimeMs).min ->
          ph.values.map(_.durationMs).sum / 1e3)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = rec(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
      progress.add(Trigger(p.name, p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.numInputRows, d.getOrElse("triggerExecution", 0.0), d.getOrElse("addBatch", 0.0)))
    }
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Time `f` as a span named `name` (nested under the span open on this
    * thread). Spark work submitted from this thread inside `f` is
    * attributed to it. Untraced, only the timing is kept. */
  def span[T](name: String, op: Long, parent: Long = -1L)(f: => T): (T, Span) = {
    val id = nextId.getAndIncrement()
    val stack = open.get
    val up = if (parent >= 0) parent else stack.headOption.getOrElse(0L)
    val prevProp = if (enabled) sc.getLocalProperty(SpanProp) else null
    if (enabled) { open.set(id :: stack); sc.setLocalProperty(SpanProp, id.toString) }
    val t0 = nowNs()
    try {
      val out = f
      val s = Span(id, name, op, up, t0, nowNs())
      if (enabled) spans.add(s)
      (out, s)
    } catch { case t: Throwable =>
      if (enabled) spans.add(Span(id, name + "!failed", op, up, t0, nowNs()))
      throw t
    } finally if (enabled) { open.set(stack); sc.setLocalProperty(SpanProp, prevProp) }
  }

  /** Id of the innermost span open on this thread (0 when none). */
  def currentSpan: Long = open.get.headOption.getOrElse(0L)

  /** Record an externally timed span (e.g. a trigger reported by the
    * streaming engine). */
  def record(s: Span): Span = {
    val withId = s.copy(id = nextId.getAndIncrement())
    if (enabled) spans.add(withId)
    withId
  }

  /** Block until Spark has delivered every queued listener event
    * (streaming progress events ride the same bus). */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Spark work under `span` and all of its descendants. */
  def workUnder(span: Span): Seq[SpanWork] = {
    val kids = all.groupBy(_.parent)
    def walk(id: Long): Seq[Long] = id +: kids.getOrElse(id, Nil).flatMap(c => walk(c.id))
    walk(span.id).flatMap(i => Option(work.get(i)))
  }

  /** Span duration minus the time its direct children cover. */
  def selfS(span: Span): Double = {
    val kids = all.filter(_.parent == span.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var reach = Long.MinValue
    kids.foreach { case (s, e) =>
      val (cs, ce) = (math.max(s, span.startNs), math.min(e, span.endNs))
      if (ce > reach && ce > cs) { covered += ce - math.max(cs, reach); reach = ce }
    }
    (span.endNs - span.startNs - covered) / 1e9
  }

  /** Write every span as one JSON object per line. */
  def writeSpans(path: String): Unit = {
    val lines = all.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","op":${s.op},"parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfS(s)}}"""
    }
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, lines.mkString("", "\n", "\n"))
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  final case class Trigger(query: String, batchId: Long, startMs: Long, rows: Long,
      triggerS: Double, addBatchS: Double)

  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val mono0 = System.nanoTime()
  /** Monotonic nanoseconds aligned to the epoch at JVM start. */
  def nowNs(): Long = epochNs0 + (System.nanoTime() - mono0)
}
