package graft

/** Dev-only optimization probe (not part of the driver contract).
  *
  * For each named query: one untimed warmup, then N timed runs split into
  * CONSTRUCT (registry fn call — eager localCheckpoints + Catalyst analysis
  * happen here) and EXECUTE (noop write: optimization + codegen + run).
  * `--fixed` instead times the harness floor: an empty job, a bare
  * parquet-read setup, and a full scan of each base table.
  * `--plan q…` instead prints each query's optimized logical plan with the
  * `#N` expression ids stripped, so two builds' plans diff line by line.
  */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_PROBE_RUNS", "2").toInt

    if (args.headOption.contains("--plan")) {
      args.tail.foreach { n =>
        val plan = SparkEntry.queries(n)(spark, d).queryExecution.optimizedPlan
        println(s"===== $n =====")
        println(plan.toString.replaceAll("#\\d+", ""))
      }
      spark.stop(); return
    }

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    if (args.contains("--fixed")) {
      def time(label: String)(f: => Unit): Unit = {
        val t0 = System.nanoTime(); f
        println(f"$label%-34s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      }
      // warm
      noop(spark.range(1000).toDF()); Tables(spark, d, "lineitem")
      time("empty job (range 1k noop)")(noop(spark.range(1000).toDF()))
      time("read setup lineitem (no action)")(Tables(spark, d, "lineitem"))
      time("read setup documents (no action)")(Tables(spark, d, "documents"))
      for (t <- Seq("lineitem", "orders", "events", "documents", "embeddings")) {
        time(s"full scan $t")(noop(Tables(spark, d, t)))
        time(s"full scan $t (2)")(noop(Tables(spark, d, t)))
      }
      spark.stop(); return
    }

    val names = args.toSeq
    println(f"${"query"}%-28s ${"construct"}%9s ${"execute"}%9s  (min of $nRuns, sec)")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      // a failed warmup skips the timed passes for THIS query only — the
      // same uncaught exception in a timed pass previously aborted the
      // whole probe and left every remaining query untimed
      val warmOk = try { noop(fn(spark, d)); true } catch { case t: Throwable =>
        println(s"$n WARMUP FAILED: $t"); false }
      if (warmOk) {
        val runs = (1 to nRuns).map { _ =>
          val t0 = System.nanoTime()
          val df = fn(spark, d)
          val t1 = System.nanoTime()
          noop(df)
          val t2 = System.nanoTime()
          ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
        }
        println(f"$n%-28s ${runs.map(_._1).min}%9.3f ${runs.map(_._2).min}%9.3f")
      }
    }
    spark.stop()
  }
}
