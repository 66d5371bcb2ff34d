package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, one mode (traced or not), in
  * one `local[4]` JVM. `run.py` generates the inputs, launches this main and
  * turns the result line it prints last into the benchmark's output.
  *
  * Arguments (all required unless noted):
  *   --workload ingest|lookup|analytics
  *   --seed N          seeds every parameter the workload draws
  *   --seconds S       length of the timed region
  *   --trace 0|1       1 = record spans, listener metrics and FS counts
  *   --work DIR        this run's private scratch dir (deleted by run.py)
  *   --data DIR        generated tables (`<table>.parquet`)
  *   --stage DIR       ingest only: the staged micro-batch files
  *   --queries a,b,..  analytics only: the registry sample
  *   --spans FILE      optional: where a traced run writes its spans
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val traced = a("trace") == "1"
    val work = a("work")
    val spark = SparkSession.builder().master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config(s"spark.hadoop.fs.${CountingFs.Scheme}.impl", classOf[CountingFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyNs = Trace.nowNs()
    val tr = new Trace(spark, traced)
    val ctx = Workloads.Ctx(spark, tr, a("seed").toLong, a("seconds").toInt,
      work, a("data"), a.get("stage"), a.get("queries").map(_.split(',').toSeq))
    val res = try workload match {
      case "ingest" => Workloads.ingest(ctx)
      case "lookup" => Workloads.lookup(ctx)
      case "analytics" => Workloads.analytics(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    } catch { case t: Throwable =>
      t.printStackTrace()
      Result.crashed(t.toString)
    }
    if (traced) a.get("spans").foreach(tr.writeSpans)
    println(res.copy(info = res.info + ("session_ready_ns" -> sessionReadyNs.toString)).json)
    // analytics' Verify pass stops the session itself
    if (!spark.sparkContext.isStopped) spark.stop()
  }
}

/** What a run measured. `e2e` and `layers` are metric name -> value;
  * `info` carries strings run.py prints beside them (tail percentile,
  * sample counts, box load). */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
    timedStartNs: Long, e2e: Map[String, Double], layers: Map[String, Double],
    checks: Seq[String], info: Map[String, String]) {
  def json: String = {
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def num(d: Double) =
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    def obj(m: Map[String, Double]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
    s"""PERFBENCH {"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""timed_start_ns":$timedStartNs,"e2e":${obj(e2e)},"layers":${obj(layers)},""" +
      s""""checks":${checks.map(str).mkString("[", ",", "]")},""" +
      s""""info":${info.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${str(v)}" }
        .mkString("{", ",", "}")}}"""
  }
}

object Result {
  def crashed(why: String): Result =
    Result(correct = false, 1, 1, 0L, Map.empty, Map.empty, Seq(s"run crashed: $why"), Map.empty)
}
