package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests (SURVEY.md §5.3): invariants of the pipeline semantics
  * over random six-type rows, not fixtures.
  */
class PropertySpec extends SparkSpec {

  /** Deterministic forAll over fixed seeds (scalatest-scalacheck bridge is
    * not on the offline classpath; each check spins Spark jobs anyway, so a
    * few seeded samples is the right cost/coverage point).
    */
  private def forAllSeeded[A](gen: Gen[A], seeds: Long*)(check: A => Unit): Unit =
    seeds.foreach { sd =>
      check(gen.pureApply(Gen.Parameters.default, Seed(sd)))
    }

  private val sixTypeSchema = StructType(Seq(
    StructField("b", BooleanType), StructField("i", IntegerType),
    StructField("l", LongType), StructField("f", FloatType),
    StructField("d", DoubleType), StructField("s", StringType)))

  private val rowGen: Gen[Row] = for {
    b <- Gen.option(Gen.oneOf(true, false))
    i <- Gen.option(Gen.chooseNum(Int.MinValue, Int.MaxValue))
    l <- Gen.option(Gen.chooseNum(Long.MinValue, Long.MaxValue))
    f <- Gen.option(Gen.chooseNum(-1e30f, 1e30f))
    d <- Gen.option(Gen.chooseNum(-1e300, 1e300))
    s <- Gen.option(Gen.asciiPrintableStr.map(_.take(50)))
  } yield Row(b.orNull, i.orNull, l.orNull, f.orNull, d.orNull, s.orNull)

  test("ORC write∘read is the identity on random six-type rows (incl. nulls)") {
    forAllSeeded(Gen.listOfN(40, rowGen), 42L, 7L, 2024L) { rows =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3), sixTypeSchema)
      val dir = Files.createTempDirectory("graft-prop-orc-").toString
      df.write.mode("overwrite").orc(dir)
      val back = spark.read.orc(dir)
      assert(back.exceptAll(df).count() == 0 && df.exceptAll(back).count() == 0)
    }
  }

  test("exact dedup is idempotent: dedup(dedup(x)) == dedup(x)") {
    val dedup = SparkEntry.queries("q_dedup_exact")
    val once = dedup(spark, sf)
    // feeding the deduped set through the same latest-wins logic changes nothing
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type").orderBy(col("event_id").desc)
    val twice = once.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    assert(twice.exceptAll(once).count() == 0 && once.exceptAll(twice).count() == 0)
  }

  test("rotation invariant: chunk row counts sum to input; bounds inside chunk") {
    forAllSeeded(Gen.oneOf(100L, 250L, 333L, 1000L), 1L, 2L, 3L) { flush =>
      val events = Tables(spark, sf, "events")
      val chunks = events
        .groupBy((col("event_id") - pmod(col("event_id"), lit(flush))).as("chunk"))
        .agg(count(lit(1)).as("n"), min("event_id").as("lo"), max("event_id").as("hi"))
      val total = chunks.agg(sum("n")).head.getLong(0)
      assert(total == events.count())
      val bad = chunks.filter(col("lo") < col("chunk") ||
        col("hi") >= col("chunk") + flush).count()
      assert(bad == 0)
    }
  }

  test("native kernels match the interpreted HOF forms on adversarial random tokens") {
    import graft.functions.VectorExpressions
    import graft.operators.DedupOps
    // tokens beyond what split(text, " ") can produce: multi-script unicode
    // (2-byte and 3-byte UTF-8, so the kernels' byte-level md5/compare paths
    // are exercised off the ascii fast path), empty strings, empty arrays
    val tokenGen: Gen[String] = Gen.oneOf(
      Gen.asciiPrintableStr.map(_.take(8).replace(" ", "_")),
      Gen.listOfN(4, Gen.oneOf('å', 'ß', 'λ', 'ж', '中', '日', 'ا', '€'))
        .map(_.mkString),
      Gen.const(""))
    val docGen: Gen[List[List[String]]] =
      Gen.listOfN(60, Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, tokenGen)))
    forAllSeeded(docGen, 11L, 97L, 31337L) { docs =>
      import spark.implicits._
      val df = docs.toDF("toks")
      val vals = transform(col("toks"), tk => DedupOps.hex4(tk))
      val total = size(col("vals")).cast("long")
      val hofSim = (0 until 16).map { b =>
        val ones = aggregate(col("vals"), lit(0L),
          (acc, v) => acc + shiftright(v, b).bitwiseAND(lit(1L)))
        when(ones * 2 > total, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
      val hofFp = aggregate(col("vals"), lit(7L),
        (acc, v) => pmod(acc * 31 + v, lit(1000000007L)))
      val mh = (0 until 4).map(k =>
        array_min(transform(col("hs"), h => substring(h, k * 8 + 1, 8))))
      val both = df
        .select(col("toks"), vals.as("vals"),
          transform(DedupOps.shingles(col("toks")), x => md5(x)).as("hs"))
        .select(
          VectorExpressions.simhash16(col("toks")).as("sim_nat"), hofSim.as("sim_hof"),
          VectorExpressions.rollfp(col("toks")).as("fp_nat"), hofFp.as("fp_hof"),
          VectorExpressions.minhashBands(col("toks")).as("bands"),
          concat(mh(0), mh(1)).as("b0_hof"), concat(mh(2), mh(3)).as("b1_hof"))
      val bad = both.filter(
        col("sim_nat") =!= col("sim_hof") || col("fp_nat") =!= col("fp_hof") ||
          col("bands").getItem(0) =!= col("b0_hof") ||
          col("bands").getItem(1) =!= col("b1_hof"))
      assert(bad.count() == 0, bad.collect().take(3).mkString("\n"))
    }
  }

  test("native dot/norm match the HOF forms on random double arrays") {
    import graft.functions.{SimilarityOps, VectorExpressions}
    // denormals, huge magnitudes, exact negatives — bit-exact fp parity needs
    // the same operation ORDER, which is what the kernel promises
    val valGen: Gen[Double] = Gen.oneOf(
      Gen.chooseNum(-1e300, 1e300), Gen.chooseNum(-1.0, 1.0),
      Gen.const(0.0), Gen.const(4.9e-324), Gen.const(-1e308))
    val vecGen: Gen[List[List[Double]]] =
      Gen.listOfN(50, Gen.choose(1, 16).flatMap(n => Gen.listOfN(n, valGen)))
    forAllSeeded(vecGen, 5L, 23L, 777L) { vecs =>
      import spark.implicits._
      // self-pairs keep lengths equal (ragged input is pinned elsewhere)
      val df = vecs.toDF("e")
      val both = df.select(
        VectorExpressions.vectorDot(col("e"), col("e")).as("d_nat"),
        SimilarityOps.dotHof(col("e"), col("e")).as("d_hof"),
        VectorExpressions.vectorNorm(col("e")).as("n_nat"),
        SimilarityOps.normHof(col("e")).as("n_hof"))
      // NaN-safe comparison: eqNullSafe treats NaN == NaN as true in Spark
      val bad = both.filter(!col("d_nat").eqNullSafe(col("d_hof")) ||
        !col("n_nat").eqNullSafe(col("n_hof")))
      assert(bad.count() == 0, bad.collect().take(3).mkString("\n"))
    }
  }

  test("minhash containment: identical docs share every band key") {
    // duplicate the documents table against itself — every doc's band keys
    // must equal its copy's (pure function of text)
    val mh = SparkEntry.queries("q_dedup_minhash")(spark, sf)
      .select("doc_id", "b0", "b1")
    val again = SparkEntry.queries("q_dedup_minhash")(spark, sf)
      .select(col("doc_id"), col("b0").as("b0_2"), col("b1").as("b1_2"))
    val joined = mh.join(again, "doc_id")
    assert(joined.filter(col("b0") =!= col("b0_2") || col("b1") =!= col("b1_2"))
      .count() == 0)
  }

  test("AUC rank-sum identity equals brute-force pair counting") {
    // The op computes one-vs-rest AUC via the Mann-Whitney rank-sum formula
    // over the distinct-cents grid. Ground truth on sf0.001: AUC·n⁺n⁻ =
    // #(pos>neg pairs) + #(ties)/2 — counted directly over the cross join.
    // auc_ppm = 2·wins_x2/2 · 1e6 div (2·n⁺n⁻) must match exactly.
    val auc = SparkEntry.queries("q_stats_auc")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val ev = Tables(spark, sf, "events")
      .select(graft.Exact.cents(col("value")).as("v"),
        col("event_type")).cache()
    val n = ev.count()
    for ((tp, (np, ppm)) <- auc) {
      val pos = ev.filter(col("event_type") === tp).select(col("v").as("pv"))
      val neg = ev.filter(col("event_type") =!= tp).select(col("v").as("nv"))
      // wins_x2 = 2·#(pos>neg) + #(pos==neg)  (exact, integer)
      val winsX2 = pos.crossJoin(neg)
        .agg(sum(when(col("pv") > col("nv"), 2L)
          .when(col("pv") === col("nv"), 1L).otherwise(0L)))
        .head().getLong(0)
      val expected = winsX2 * 1000000L / (2L * np * (n - np))
      assert(ppm == expected, s"$tp: op=$ppm brute=$expected")
      assert(ppm >= 0L && ppm <= 1000000L, s"$tp out of [0,1] range: $ppm")
    }
    ev.unpersist()
  }

  test("Gini rank formula equals the mean-absolute-difference definition") {
    // For sorted x: Σᵢⱼ|xᵢ−xⱼ| = 2·(2S₁ − (n+1)S), so the op's
    // gini_ppm = ((pairsum/2) div n)·10⁶ div S when pairsum is counted
    // directly over the per-segment cross join (sf0.001: 150 customers).
    val g = SparkEntry.queries("q_profile_gini")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val spend = Tables(spark, sf, "customer")
      .join(Tables(spark, sf, "orders"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(coalesce(sum(graft.Exact.cents(col("o_totalprice"))),
        lit(0)).cast("long").as("cents")).cache()
    for ((seg, n, s, ppm) <- g) {
      val xs = spend.filter(col("c_mktsegment") === seg).select("cents")
      val pairSum = xs.crossJoin(xs.select(col("cents").as("c2")))
        .agg(sum(abs(col("cents") - col("c2")))).head().getLong(0)
      val expected = (pairSum / 2 / n) * 1000000L / s
      assert(ppm == expected, s"$seg: op=$ppm brute=$expected")
      assert(ppm >= 0L && ppm < 1000000L, s"$seg gini out of range: $ppm")
    }
    spend.unpersist()
  }

  test("Spark cast facts the oracle twins rely on") {
    // DuckDB, measured on the same literals, agrees on the two decimal
    // casts but rounds DOUBLE → BIGINT half-even (2.675 → 3) and
    // TRUNCATES a bare DECIMAL(30,8) → DECIMAL(18,2) (1.00500000 → 1.00):
    // twins floor() before an integer cast and round(dec, s) before a
    // rescale
    val r = spark.sql("""SELECT
      CAST(CAST(2.675 AS DOUBLE) AS BIGINT) AS b2675,
      CAST(CAST(-2.675 AS DOUBLE) AS BIGINT) AS bm2675,
      CAST(CAST(1.005 AS DOUBLE) AS DECIMAL(18,2)) AS d1005,
      CAST(CAST(-1.005 AS DOUBLE) AS DECIMAL(18,2)) AS dm1005,
      CAST(CAST(CAST(1.005 AS DOUBLE) AS DECIMAL(30,8)) AS DECIMAL(18,2))
        AS rescale1005""").head()
    assert(r.getLong(0) == 2L && r.getLong(1) == -2L, "DOUBLE → BIGINT truncates")
    assert(r.getDecimal(2) == new java.math.BigDecimal("1.01") &&
      r.getDecimal(3) == new java.math.BigDecimal("-1.01"),
      "DOUBLE → DECIMAL(18,2) rounds the shortest repr HALF_UP")
    assert(r.getDecimal(4) == new java.math.BigDecimal("1.01"),
      "bare DECIMAL(30,8) → DECIMAL(18,2) rescale is HALF_UP")
  }

  test("BPE merge priorities are monotonically non-increasing") {
    // Each merge can only create pairs bounded by the merged pair's count
    // and never raises an existing pair's count — so greedy argmax counts
    // must not increase across iterations.
    val merges = SparkEntry.queries("q_vocab_bpe")(spark, sf)
      .orderBy("iter").collect()
    assert(merges.length == 3)
    val cnts = merges.map(_.getLong(4))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b },
      cnts.mkString(","))
    // merged symbol is the concatenation of its parts
    merges.foreach { r =>
      assert(r.getString(3) == r.getString(1) + r.getString(2))
    }
  }

  test("calibration ECE row re-derives from the bin rows; PSI is non-negative") {
    val cal = SparkEntry.queries("q_stats_calibration")(spark, sf).collect()
    val bins = cal.filter(_.getInt(0) >= 0)
    val ece = cal.find(_.getInt(0) == -1).get
    val n = bins.map(_.getLong(1)).sum
    val wg = bins.map(r => r.getLong(1) * r.getLong(5)).sum
    assert(ece.getLong(1) == n)
    assert(ece.getLong(5) == wg / n, s"ece=${ece.getLong(5)} expect=${wg / n}")
    val psi = SparkEntry.queries("q_stats_psi")(spark, sf).collect()
    val contribs = psi.filter(_.getInt(0) >= 0).map(_.getLong(6))
    val total = psi.find(_.getInt(0) == -1).get.getLong(6)
    assert(contribs.forall(_ >= 0L) && total == contribs.sum)
  }

  test("expectation rules: violation counts never exceed row count") {
    val rows = SparkEntry.queries("q_quality_expectations")(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (n, v, passed) = (r.getLong(1), r.getLong(2), r.getBoolean(3))
      assert(v >= 0L && v <= n, r.toString)
      assert(passed == (v == 0L), r.toString)
    }
  }

  test("bootstrap CI brackets are ordered; BFS layers start at the seed") {
    val bs = SparkEntry.queries("q_stats_bootstrap")(spark, sf).head()
    val (mean, lo, hi) = (bs.getLong(1), bs.getLong(2), bs.getLong(3))
    assert(lo <= hi, s"lo=$lo hi=$hi")
    // the point estimate of THIS data sits inside its own 95% bootstrap CI
    assert(lo <= mean && mean <= hi, s"mean=$mean outside [$lo,$hi]")
    val bfs = SparkEntry.queries("q_graph_bfs")(spark, sf).collect()
    assert(bfs.count(_.getLong(1) == 0L) == 1, "exactly one seed at dist 0")
    assert(bfs.forall(r => r.getLong(1) >= 0L && r.getLong(1) <= 3L))
  }

  test("continuity audit: islands bound gaps; Benford deviations re-derive") {
    val gaps = SparkEntry.queries("q_events_gaps")(spark, sf).collect()
    gaps.foreach { r =>
      val (n, isl, maxGap, lo, hi) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(isl >= 1L && isl <= n, r.toString)
      // single island ⟺ no gap; any gap implies ≥2 islands
      assert((isl == 1L) == (maxGap == 0L), r.toString)
      // ids fit the span: n events + gap slack
      assert(hi - lo + 1 >= n, r.toString)
    }
    val ben = SparkEntry.queries("q_stats_benford")(spark, sf).collect()
    val digits = ben.filter(_.getInt(0) >= 1)
    assert(digits.map(_.getInt(0)).toSeq == (1 to 9), "all nine digits present")
    assert(digits.map(_.getLong(3)).sum == 1000000L, "expectation table sums to 1e6")
    val tv = ben.find(_.getInt(0) == -1).get.getLong(4)
    assert(tv == digits.map(_.getLong(4)).sum / 2, "summary row re-derives")
  }

  test("attribution credit is conservative: within remainder of full units") {
    // Each attributed purchase distributes (10⁶ div k)·k ppm ∈ (10⁶−k, 10⁶],
    // so per user: n·10⁶ − clicks < credit ≤ n·10⁶.
    val rows = SparkEntry.queries("q_events_attribution")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, clicks, credit) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(credit <= n * 1000000L, r.toString)
      assert(credit > n * 1000000L - clicks, r.toString)
    }
  }

  test("round-8d statistics respect their mathematical invariants") {
    // Kendall: |τ_b| ≤ 1 and the pair classes can't exceed the pair total
    val kd = SparkEntry.queries("q_stats_kendall")(spark, sf).collect().head
    val (n, c, dd) = (kd.getLong(0), kd.getLong(1), kd.getLong(2))
    val n0 = n * (n - 1) / 2
    assert(math.abs(kd.getDouble(5)) <= 1.0, kd.toString)
    assert(c + dd <= n0, kd.toString)

    // 1-Wasserstein is a metric: nonnegative and triangle inequality
    // across every type triple
    val w = SparkEntry.queries("q_stats_wasserstein")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(w.values.forall(_ >= 0.0))
    def d12(a: String, b: String): Double =
      if (a < b) w((a, b)) else w((b, a))
    val types = w.keySet.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
    for (a <- types; b <- types; cc <- types
         if a != b && b != cc && a != cc)
      assert(d12(a, cc) <= d12(a, b) + d12(b, cc) + 1e-6,
        s"triangle violated: $a $b $cc")

    // Harrell's C: class counts nest and the index is a probability
    val ci = SparkEntry.queries("q_survival_cindex")(spark, sf)
      .collect().head
    assert(ci.getLong(2) + ci.getLong(3) <= ci.getLong(1), ci.toString)
    val cidx = ci.getDouble(4)
    assert(cidx >= 0.0 && cidx <= 1.0, ci.toString)

    // Nelson–Aalen: cumulative hazard is nondecreasing, risk sets shrink
    val na = SparkEntry.queries("q_survival_nelson_aalen")(spark, sf)
      .collect()
    assert(na.sliding(2).forall(p => p.length < 2 ||
      (p(0).getLong(3) <= p(1).getLong(3) &&
        p(0).getLong(1) >= p(1).getLong(1))))

    // k-truss peel only removes: edges kept are monotone nonincreasing
    val kt = SparkEntry.queries("q_graph_ktruss")(spark, sf).collect()
    assert(kt.sliding(2).forall(p => p.length < 2 ||
      p(0).getLong(3) >= p(1).getLong(3)))

    // label propagation: community sizes partition the node set
    val lp = SparkEntry.queries("q_graph_labelprop")(spark, sf).collect()
    if (lp.nonEmpty) {
      val nNodes = lp.map(_.getLong(1)).sum
      assert(lp.head.getLong(5) == lp.length.toLong, "n_labels == #rows")
      assert(nNodes > 0)
    }

    // ensemble: the 3-median's MAE can never exceed the worst member's
    val en = SparkEntry.queries("q_ts_ensemble")(spark, sf).collect()
      .groupBy(_.getString(0))
    en.values.foreach { rows =>
      val byM = rows.map(r => r.getString(1) -> r.getLong(2)).toMap
      if (byM.values.forall(_ >= 0))
        assert(byM("4_ensemble") <= byM.filterKeys(_ != "4_ensemble")
          .values.max, byM.toString)
    }

    // SAX: words are |segments| letters drawn from the 4-letter alphabet
    val sax = SparkEntry.queries("q_ts_sax")(spark, sf).collect()
    sax.groupBy(_.getString(0)).values.foreach { rows =>
      val word = rows.head.getString(5)
      assert(word.length == rows.length, word)
      assert(word.forall("abcd".contains(_)), word)
    }

    // whitening: sd ≥ 0 (or NaN on a dead dim), outliers bounded by n
    val wh = SparkEntry.queries("q_embed_whitening")(spark, sf).collect()
    assert(wh.length == 64)
    wh.foreach { r =>
      val sd = r.getDouble(3)
      assert(sd.isNaN || sd >= 0.0, r.toString)
      assert(r.getLong(4) <= r.getLong(1), r.toString)
    }
  }

  test("round-8f invariants: quantile order, streak arithmetic, " +
    "bloom containment, prefix mass conservation") {
    // interpolated quantiles are monotone in p and sit inside [lo, hi]
    val qc = SparkEntry.queries("q_agg_quantile_cont")(spark, sf).collect()
      .groupBy(_.getString(0))
    qc.values.foreach { rows =>
      val byP = rows.sortBy(_.getLong(1))
      val qs = byP.map(_.getLong(5))
      assert(qs.zip(qs.tail).forall { case (a, b) => a <= b },
        byP.mkString(" | "))
      byP.foreach { r =>
        val (lo, hi, q) = (r.getLong(3), r.getLong(4), r.getLong(5))
        assert(lo * 1000000L <= q && q <= hi * 1000000L, r.toString)
      }
    }
    // streaks: longest ≤ active days; islands partition the active days
    val st = SparkEntry.queries("q_events_streaks")(spark, sf).collect()
    st.foreach { r =>
      val (longest, nStreaks, active) =
        (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(longest >= 1L && longest <= active, r.toString)
      assert(nStreaks >= 1L && longest * nStreaks >= active,
        r.toString) // the longest bounds every island's length
    }
    // bloom: maybe-count dominates exact dups (no false negatives, ever);
    // fp count shrinks (weakly) as m grows; fill ≤ m
    val bl = SparkEntry.queries("q_dedup_bloom")(spark, sf).collect()
      .sortBy(_.getLong(0))
    bl.foreach { r =>
      assert(r.getLong(2) >= r.getLong(3), r.toString) // n_maybe ≥ n_exact
      assert(r.getLong(6) <= r.getLong(0), r.toString) // bits_set ≤ m
    }
    val fps = bl.map(_.getLong(4))
    assert(fps.zip(fps.tail).forall { case (a, b) => a >= b },
      fps.mkString(","))
    // prefix index: length-1 prefixes partition the whole vocab mass —
    // their totals sum to the corpus token count; top_c ≤ total per prefix
    val vp = SparkEntry.queries("q_vocab_prefix")(spark, sf).collect()
    val l1 = vp.filter(_.getLong(0) == 1L)
    val tokens = graft.Tables(spark, sf, "documents")
      .select(explode(split(lower(col("text")), " "))).count()
    assert(l1.map(_.getLong(3)).sum == tokens,
      s"${l1.map(_.getLong(3)).sum} != $tokens")
    vp.foreach(r => assert(r.getLong(5) <= r.getLong(3), r.toString))
  }

  test("round-8h invariants: DP consistency sums, Shapley efficiency, " +
    "hysteresis transitions, padding dominance") {
    // DP consistency: Σ consistent == Σ true EXACTLY, all counts ≥ 0
    val dp = SparkEntry.queries("q_privacy_dp_consistent")(spark, sf).collect()
    assert(dp.map(_.getLong(3)).sum == dp.map(_.getLong(1)).sum)
    dp.foreach(r => assert(r.getLong(3) >= 0L, r.toString))
    // Shapley: monotone value function ⇒ every φ ≥ 0; shares sum to 10⁶
    // within the k-unit integer-div slack
    val sh = SparkEntry.queries("q_events_shapley")(spark, sf).collect()
    sh.foreach(r => assert(r.getLong(1) >= 0L, r.toString))
    val shareSum = sh.map(_.getLong(3)).sum
    assert(shareSum <= 1000000L && shareSum >= 1000000L - sh.length,
      shareSum.toString)
    // hysteresis: state is 0/1; enter/exit flags reconstruct the state walk
    val hy = SparkEntry.queries("q_ts_hysteresis")(spark, sf).collect()
    var st = 0L
    hy.foreach { r =>
      val (state, entered, exited) =
        (r.getLong(2), r.getBoolean(3), r.getBoolean(4))
      assert(state == 0L || state == 1L, r.toString)
      assert(entered == (st == 0L && state == 1L), r.toString)
      assert(exited == (st == 1L && state == 0L), r.toString)
      st = state
    }
    // padding: padded ≥ real everywhere; length-sorted batches never pad
    // more than arrival-ordered ones (contiguous-sorted blocks minimize
    // the sum of per-block maxima)
    val pd = SparkEntry.queries("q_pack_padding")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(3), r.getLong(4)))
    pd.foreach { case (_, _, real, padded) => assert(padded >= real) }
    val byLang = pd.groupBy(_._1)
    byLang.values.foreach { rows =>
      val srt = rows.find(_._2 == "sorted").get._4
      val arr = rows.find(_._2 == "arrival").get._4
      assert(srt <= arr, rows.mkString(" | "))
    }
    // meta-analysis: Q ≥ 0, I² ∈ [0, 10⁶]
    val ma = SparkEntry.queries("q_stats_meta_analysis")(spark, sf).head()
    assert(ma.getDouble(2) >= 0.0)
    assert(ma.getDouble(3) >= 0.0 && ma.getDouble(3) <= 1000000.0)
  }

  test("q_stats_xi is partitioning-deterministic (r8's one red driver row)") {
    // The adjacency stitch orders every window/selection on (h, r) so the
    // key functionally determines the consumed value; evaluate the query
    // under three different shuffle-partition counts (different physical
    // tie arrival orders) and require bit-identical output each time.
    val q = SparkEntry.queries("q_stats_xi")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    def run(): Seq[String] =
      q(spark, sf).collect().map(_.mkString("|")).sorted.toSeq
    try {
      val outs = Seq("4", "13", "1").map { p =>
        spark.conf.set("spark.sql.shuffle.partitions", p); run()
      }
      assert(outs(0).nonEmpty)
      assert(outs(1) == outs(0), "13-partition run diverged from 4")
      assert(outs(2) == outs(0), "1-partition run diverged from 4")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
