package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line with per-query + total seconds.
  *
  * Methodology: queries run in sorted name order; a full untimed warmup pass
  * first (JIT + codegen caches + the ORC-roundtrip temp-dir memoization),
  * then SPARK_GRAFT_BENCH_RUNS (default 2) timed passes with the per-query
  * MIN reported — single-run numbers on a contended box masqueraded as a
  * 10× plan regression in r4 (VERDICT: q_profile_columns 14.6 s driver-run
  * vs 1.7 s quiet-box), and the min of two passes absorbs that noise. Each
  * query materializes through the `noop` sink so every output column is
  * actually computed — `count()` would let Catalyst prune the expensive
  * projections and under-measure.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    def runOne(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    // dev loop: SPARK_GRAFT_BENCH_ONLY=q_a,q_b times a subset (the driver
    // never sets it → full registry)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_(n)) }
    // warmup failures only logged — the timed passes record them per query
    qs.foreach { case (name, fn) =>
      try runOne(fn) catch {
        case t: Throwable => System.err.println(s"[bench] warmup $name: $t")
      }
    }
    // a crashed query must NOT read as a ~0s success: record null in the
    // queries map, list it under "errors", and exit nonzero. ok only when
    // EVERY pass succeeds (exceptions are failures, not noise); the time is
    // the min across passes.
    val passes = (1 to nRuns).map { _ =>
      qs.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { runOne(fn); true } catch {
          case t: Throwable => System.err.println(s"[bench] FAILED $name: $t"); false
        }
        (name, (System.nanoTime() - t0) / 1e9, ok)
      }
    }
    val results = qs.map { case (name, _) =>
      val mine = passes.map(_.find(_._1 == name).get)
      (name, mine.map(_._2).min, mine.forall(_._3))
    }
    lines(results, nRuns, sfDir).foreach(println)
    // The round artifact (BENCH_r0N.json) keeps only a truncated stdout tail
    // — most per-query timings were lost to it every round. Persist the FULL
    // name→min-seconds map as a committed file so round-over-round regression
    // diffing never depends on prose capture. Full runs only: a
    // SPARK_GRAFT_BENCH_ONLY subset must not clobber the complete artifact.
    if (only.isEmpty) {
      val full = s"""{"runs":$nRuns,"sf":"$sfDir","total_sec":${fmt(okTotal(results))},"queries":${queriesJson(results)},"errors":${errorsJson(results)}}"""
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("bench_latest.json"), full + "\n")
      catch { case t: Throwable =>
        System.err.println(s"[bench] bench_latest.json not written: $t") }
    }
    spark.stop()
    if (results.exists(!_._3)) sys.exit(1)
  }

  // ms precision: full-double seconds ballooned the line past the
  // driver's tail capture (BENCH_r02.json arrived truncated mid-JSON).
  // Locale.ROOT: the f interpolator formats with the JVM default locale,
  // and a comma decimal separator would corrupt the JSON line.
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** name → min seconds, `null` for a query that failed any pass. */
  private def queriesJson(results: Seq[(String, Double, Boolean)]): String =
    results.map { case (k, v, ok) =>
      s"\"" + k + "\":" + (if (ok) fmt(v) else "null")
    }.mkString("{", ",", "}")

  private def errorsJson(results: Seq[(String, Double, Boolean)]): String =
    results.collect { case (k, _, false) => s"\"" + k + "\"" }.mkString("[", ",", "]")

  /** Sum over the queries that succeeded in every pass. */
  private def okTotal(results: Seq[(String, Double, Boolean)]): Double =
    results.collect { case (_, v, true) => v }.sum

  /** The bench's three stdout contract lines, in print order: the
    * per-query detail, the per-family rollup, and the short total LAST.
    * `results` holds (query, min seconds, succeeded in every pass).
    *
    * Two or three lines, not one: the driver's tail capture truncated the
    * single long line two rounds running (r2 and r3 both lost the head
    * fields); a final line under 200 bytes survives any tail window and
    * parses on its own. The mid-size rollup (<1.5 KB) is there because the
    * ~12 KB detail line exceeds the driver's ~2,000-char stdout tail every
    * round, so the tail's last complete JSON lines are this rollup plus the
    * total — enough to reconstruct family-level regressions when the detail
    * line is truncated. Its key is "families" (not "queries") so no parser
    * can mistake it for the per-query contract map. Families are the
    * q_<fam> name prefix. A family holding a failed query reads `null`, as
    * the detail line does per query: its ok-only sum would pass for a
    * small, green total.
    */
  def lines(results: Seq[(String, Double, Boolean)], nRuns: Int,
      sfDir: String): Seq[String] = {
    val fams = results.groupBy { case (k, _, _) =>
      k.split('_').take(2).mkString("_")
    }.toSeq.sortBy(_._1).map { case (f, rs) =>
      s"\"" + f + "\":" + (if (rs.forall(_._3)) fmt(okTotal(rs)) else "null")
    }.mkString("{", ",", "}")
    Seq(s"""{"metric":"detail","runs":$nRuns,"queries":${queriesJson(results)},"errors":${errorsJson(results)},"sf":"$sfDir"}""",
      s"""{"metric":"rollup","families":$fams,"sf":"$sfDir"}""",
      s"""{"metric":"total","value":${fmt(okTotal(results))},"unit":"sec","runs":$nRuns,"nqueries":${results.size},"nerrors":${results.count(!_._3)},"sf":"$sfDir"}""")
  }
}
