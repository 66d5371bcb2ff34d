package graft

/** Plan-shape asserts (SURVEY.md §5.5): pins that Catalyst actually produces
  * the physical plans the engine's scale story depends on — pushdown reaching
  * the parquet scan, dimension broadcasts, and top-k short-circuiting.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("q_filter_pred pushes predicates into the parquet scan") {
    val p = plan("q_filter_pred")
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(p.contains("GreaterThan(l_quantity"), p.take(2000))
  }

  test("q_scan_project prunes columns at the scan") {
    val p = plan("q_scan_project")
    // ReadSchema carries only the 4 projected columns
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey") && !read.contains("l_comment"), read)
  }

  test("q_join_multiway broadcasts the dimension tables") {
    val p = plan("q_join_multiway")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q_topk plans TakeOrderedAndProject (never a global sort)") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q_agg_pricing has map-side partial aggregation") {
    val p = plan("q_agg_pricing")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p.take(2000))
  }

  test("whole-stage codegen covers the relational block") {
    // AQE shows codegen nodes only in the *final* plan — execute first
    val df = SparkEntry.queries("q_agg_pricing")(spark, sf)
    df.collect()
    // codegen'd operators render with the "*(stageId)" prefix
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p.take(2000))
  }

  test("q_knn_ivf broadcasts the probe set") {
    val p = plan("q_knn_ivf")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q_knn_filtered pushes the metadata predicate into the corpus scan") {
    val p = plan("q_knn_filtered")
    // the whole point of pre-filtered ANN: the corpus shrinks AT THE SCAN,
    // before any distance arithmetic — and the probe side broadcasts
    assert(p.contains("LessThan(label,3)"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q_text_bm25 broadcasts corpus stats and two-levels the per-query top-k") {
    val p = plan("q_text_bm25")
    // stats row reaches the corpus as a broadcast (never a shuffle or a
    // driver collect), and the group-wise top-k is local-prune → tiny
    // global window: exactly two Window nodes, salt level first
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    val windows = p.linesIterator.count(_.trim.stripPrefix("+- ").stripPrefix("*(")
      .contains("Window ["))
    assert(windows == 2, s"expected 2 Window nodes, got $windows\n" + p.take(3000))
  }

  test("q_dedup_setjoin broadcasts the vocabulary rank to the token stream") {
    val p = plan("q_dedup_setjoin")
    // the global token order is vocab-sized and must reach the corpus as a
    // broadcast — a shuffle join here would re-key the whole token stream
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q_stats_corrmatrix computes the whole matrix from ONE lineitem scan") {
    val p = plan("q_stats_corrmatrix")
    // 6 pairs, 15 product sums — all in one partial aggregate, never a
    // per-pair corr() pass over the table
    val scans = p.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected 1 scan, got $scans\n" + p.take(3000))
    assert(p.contains("HashAggregate"), p.take(2000))
  }

  test("bucketed join shuffles neither side (at-scale shape: no broadcast)") {
    // materialize the bucketed tables, then inspect the join-only plan with
    // auto-broadcast off — at test SF the dim side fits a broadcast (and
    // Spark rightly prefers it), but at 100 TB neither side broadcasts and
    // the co-located buckets must carry the join
    SparkEntry.queries("q_join_bucketed")(spark, sf).collect()
    val (ordersB, custB) = operators.Relational.bucketedNames(sf)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table(ordersB)
        .join(spark.table(custB),
          org.apache.spark.sql.functions.col("o_custkey") ===
            org.apache.spark.sql.functions.col("c_custkey"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), p.take(3000))
      assert(p.contains("SortMergeJoin"), p.take(3000))
      assert(p.contains("Bucketed: true"), p.take(3000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("graph frontier rounds join the bucketed adjacency with zero edge-side exchange") {
    import org.apache.spark.sql.functions.col
    // materialize the shared BiAdj artifact, then inspect a single
    // frontier-round join with auto-broadcast off — at 100 TB the frontier
    // does not broadcast, and the round must shuffle ONLY the frontier
    // side (the edge list re-shuffling per round is the term that grows
    // with the graph)
    SparkEntry.queries("q_graph_closeness")(spark, sf).collect()
    val adj = spark.table(operators.GraphOps.BiAdj.tableName(sf))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val frontier = adj.filter(col("src_supp"))
        .select(col("src").as("node")).distinct()
        .localCheckpoint(true) // isolate the round's plan from the build
      val round = frontier.join(adj, col("node") === col("src"))
      round.collect()
      val p = round.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(p.contains("SortMergeJoin"), p.take(3000))
      assert(p.contains("Bucketed: true"), p.take(3000))
      // exactly one Exchange: the frontier; the adjacency scan is co-located
      assert(p.linesIterator.count(_.contains("Exchange")) == 1, p.take(3000))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q_dedup_incremental: bucketed SMJ on the band index, single corpus scan") {
    import org.apache.spark.sql.functions.col
    val df = SparkEntry.queries("q_dedup_incremental")(spark, sf)
    df.collect() // builds + queries the memoized index
    val p = df.queryExecution.executedPlan.toString
    // the index side carries the join co-located (bucketed scan, SMJ)
    assert(p.contains("SortMergeJoin"), p.take(3000))
    assert(p.contains("Bucketed: true"), p.take(3000))
    // exactly two parquet scans: the NEW slice of documents and the index —
    // history text is never rescanned (AQE prints final + initial plans;
    // inspect the final one only)
    val finalPlan = p.split("== Initial Plan ==")(0)
    val scans = finalPlan.linesIterator.filter(_.contains("FileScan parquet")).toSeq
    assert(scans.size == 2, finalPlan.take(3000))
    assert(scans.count(_.contains("graft_band_idx")) == 1, scans.mkString("\n"))
    // maintenance: admitting a batch appends bucketed files in place
    val idx = operators.DedupOps.BandIndex.name(sf)
    val before = spark.table(idx).count()
    operators.DedupOps.BandIndex.append(spark, sf,
      Tables(spark, sf, "documents").filter(col("doc_id") < 3))
    assert(spark.table(idx).count() > before)
    // drop the mutated memoized index so any later run rebuilds it clean
    spark.sql(s"DROP TABLE $idx")
  }

  test("band index is truly incremental: batch 2 dedups against batch 1 " +
      "through the appended index, never rescanning batch 1 text") {
    import org.apache.spark.sql.functions.col
    val B = operators.DedupOps.BandIndex
    // fresh index keyed off a temp path (the memoization key), so this test
    // never collides with q_dedup_incremental's memoized per-sfDir index
    val key = java.nio.file.Files.createTempDirectory("graft-incr-").toString
    val docs = Tables(spark, sf, "documents")
    B.ensure(spark, key, docs.filter(col("doc_id") < 200))
    // ADMIT batch 1 (doc_ids 200-259): bucketed INSERT, no index rewrite
    B.append(spark, key, docs.filter(col("doc_id") >= 200 && col("doc_id") < 260))
    // batch 2 = fresh docs PLUS a replay of doc 200's text under a new id —
    // materialized to its own parquet so the engine-side plan reads ONE
    // batch file (the union scaffolding must not pollute the scan count)
    val b2dir = java.nio.file.Files.createTempDirectory("graft-incr-b2-").toString
    docs.filter(col("doc_id") >= 260 && col("doc_id") < 320)
      .select(col("doc_id"), col("text"))
      .union(docs.filter(col("doc_id") === 200)
        .select(org.apache.spark.sql.functions.lit(9999L).as("doc_id"), col("text")))
      .write.parquet(s"$b2dir/batch2.parquet")
    val batch2 = spark.read.parquet(s"$b2dir/batch2.parquet")
    val hits = B.bands(batch2)
      .join(spark.table(B.name(key)).hint("MERGE"), Seq("band"), "left")
    // batch 2's replayed doc matches batch 1's 200 through the INDEX alone
    assert(hits.filter(col("doc_id") === 9999 && col("hist_doc") === 200)
      .count() > 0, "appended batch-1 bands not visible to batch 2")
    // plan: the index side stays a bucketed co-located SMJ after the
    // append, and the only text scanned is batch 2's own file — history and
    // batch-1 text never rescan
    val p = hits.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin") && p.contains("Bucketed: true"), p.take(3000))
    val finalPlan = p.split("== Initial Plan ==")(0)
    val scans = finalPlan.linesIterator.filter(_.contains("FileScan parquet")).toSeq
    assert(scans.size == 2, scans.mkString("\n"))
    assert(scans.count(_.contains("graft_band_idx")) == 1, scans.mkString("\n"))
    assert(!scans.exists(_.contains("documents.parquet")), scans.mkString("\n"))
    spark.sql(s"DROP TABLE ${B.name(key)}")
  }

  test("q_grouping_sets expands once (single Expand node, partial agg after)") {
    val p = plan("q_grouping_sets")
    // one Expand feeding a hash aggregate — the sets do not multiply scans
    assert(p.linesIterator.count(_.contains("Expand")) == 1, p.take(2000))
    assert(p.contains("HashAggregate"), p.take(2000))
    assert(!p.contains("Union"), p.take(2000)) // NOT rewritten to N scans
  }

  test("q_join_cross plans a broadcast nested-loop (tiny × tiny)") {
    val p = plan("q_join_cross")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("q_text_tfidf computes tf once (df is a window, not a re-scanned join)") {
    val df = SparkEntry.queries("q_text_tfidf")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // one explode feeds tf; df hangs off it as a window — a join-based df
    // duplicated the whole explode+aggregate subtree
    assert(p.linesIterator.count(_.contains("Generate explode")) == 1, p.take(3000))
  }

  test("q_decontaminate's train df is a window, not a groupBy self-join") {
    val df = SparkEntry.queries("q_decontaminate")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // a df-groupBy + join formulation would evaluate the train shingle
    // subtree twice: exactly 2 explodes total (one train, one test), and the
    // stop-shingle cap appears as a post-window Filter, not a join
    assert(p.linesIterator.count(_.contains("Generate explode")) == 2, p.take(3000))
    assert(p.contains("Window"), p.take(3000))
  }

  test("plain explode infers a Filter that inlines the exploded expression; explode_outer none") {
    // why the shingle queries explode with explode_outer: the inferred
    // `size(sh) > 0 AND isnotnull(sh)` re-evaluates the whole shingle
    // expression (its split() and lambda) inside the Filter
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, Size}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      .select(col("doc_id"), operators.DedupOps.shingleHashes.as("sh"))
    def inferred(exploded: org.apache.spark.sql.Column) =
      docs.select(exploded).queryExecution.optimizedPlan.collect {
        case f: Filter if f.condition.exists(_.isInstanceOf[Size]) => f.condition
      }
    val plain = inferred(explode(col("sh")))
    assert(plain.size == 1 && plain.head.exists(_.isInstanceOf[LambdaFunction]), plain)
    assert(inferred(explode_outer(col("sh"))).isEmpty)
  }

  test("q_embed_centroid partially aggregates before the (label, dim) shuffle") {
    val p = plan("q_embed_centroid")
    assert(p.contains("partial_avg") || p.contains("partial_sum"), p.take(3000))
  }

  test("correlated subquery is decorrelated into a join (no per-row subquery)") {
    val df = SparkEntry.queries("q_subquery_corr")(spark, sf)
    val p = df.queryExecution.optimizedPlan.toString
    assert(!p.toLowerCase.contains("scalarsubquery"), p.take(2000))
    assert(p.contains("Join"), p.take(2000))
  }

  test("q_join_theta_band broadcasts the 10-row band dimension (NLJ build side)") {
    val p = plan("q_join_theta_band")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("q_join_lateral decorrelates the per-row LIMIT into a window (no subquery)") {
    val df = SparkEntry.queries("q_join_lateral")(spark, sf)
    val p = df.queryExecution.optimizedPlan.toString
    assert(!p.contains("LateralJoin"), p.take(3000))
    assert(p.contains("Join"), p.take(3000))
  }

  test("q_subquery_existsin plans semi/anti joins for IN / NOT EXISTS") {
    val df = SparkEntry.queries("q_subquery_existsin")(spark, sf)
    val p = df.queryExecution.optimizedPlan.toString
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), p.take(3000))
  }

  test("q_dist_histogram's heavy window partitions on (priority, bin), not priority alone") {
    val p = plan("q_dist_histogram")
    // the running-sum window over the histogram must partition on the
    // high-cardinality (priority, bin) pair — partitioning on the 5-value
    // priority alone is the single-task sort skew this query exists to avoid
    val windowLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.exists(l =>
      l.contains("o_orderpriority") && l.contains("bin") && l.contains("o_totalprice")),
      s"no (priority, bin)-partitioned running window:\n${windowLines.mkString("\n")}")
    // and the window input is the MATERIALIZED histogram grid (the r12
    // localCheckpoint: the (prio, price) aggregate runs once and both the
    // bin-totals branch and this window read it as an ExistingRDD scan —
    // not raw rows, and not a second orders scan + re-aggregation)
    val wIdx = p.indexOf("Window")
    val rddIdx = p.indexOf("ExistingRDD", wIdx)
    assert(wIdx >= 0 && rddIdx > wIdx,
      s"window not fed by the checkpointed histogram grid:\n${p.take(3000)}")
    assert(!p.contains("Scan parquet"),
      s"final plan should read only the materialized grid:\n${p.take(3000)}")
  }

  test("q_stats_xi windows are all partitioned; output derives from grids") {
    val df = SparkEntry.queries("q_stats_xi")(spark, sf)
    val p = df.queryExecution.optimizedPlan.toString
    val wins = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(wins.nonEmpty, p.take(3000))
    // every visible window partitions at least by grp — no global orderBy
    // anywhere (the (grp, x, h-ordered) adjacency window lives inside the
    // one corpus pass behind the perX checkpoint; its tie-independence is
    // pinned behaviorally by the PropertySpec determinism test)
    assert(wins.forall(_.contains("grp")), wins.mkString("\n"))
    // the final plan reads ONLY the checkpointed grids — zero corpus scans
    // above the one fused pass (n, den, and both adjacency sums are all
    // grid-derived)
    assert(p.contains("LogicalRDD"), p.take(3000))
    val finalPlan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!finalPlan.linesIterator.exists(_.contains("FileScan parquet")),
      finalPlan.take(3000))
  }

  test("q_profile_approx avoids the multi-distinct Expand rewrite") {
    val p = plan("q_profile_approx")
    assert(!p.contains("Expand"), p.take(3000))
    assert(p.contains("approx_count_distinct"), p.take(3000))
  }

  test("q_feature_bucketize broadcasts the per-stratum boundaries") {
    val p = plan("q_feature_bucketize")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q_merge_upsert plans a single full-outer sort-merge join") {
    val p = plan("q_merge_upsert")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"), p.take(3000))
    assert(p.linesIterator.count(_.contains("SortMergeJoin")) == 1, p.take(3000))
  }

  test("q_vocab_topk short-circuits via TakeOrderedAndProject") {
    val p = plan("q_vocab_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("newest pipeline queries stay shuffle-bounded") {
    def exchanges(name: String): Int = {
      val df = SparkEntry.queries(name)(spark, sf)
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length
    }
    // corpus pipeline: two dedup windows + final agg + presentation sort
    assert(exchanges("q_corpus_pipeline") <= 5,
      "corpus pipeline shuffles beyond its two windows + agg + sort")
    // packing: per-shard window (+ agg may reuse, + tiny sort)
    assert(exchanges("q_pack_sequences") <= 3, "packing shuffles beyond its window")
    // SCD2: one lead() window + presentation sort
    assert(exchanges("q_scd2_intervals") <= 2, "SCD2 shuffles beyond its window")
  }

  test("q_join_bloom prunes the fact side below its join exchange") {
    val df = SparkEntry.queries("q_join_bloom")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // the might_contain filter must sit on the fact SCAN side (pre-shuffle),
    // and the join must be the at-scale SMJ shape, not a dim broadcast
    assert(p.contains("might_contain"), p.take(3000))
    assert(p.contains("SortMergeJoin"), p.take(3000))
    val lines = p.linesIterator.toSeq
    val filterIdx = lines.indexWhere(_.contains("might_contain"))
    val joinIdx = lines.indexWhere(_.contains("SortMergeJoin"))
    assert(joinIdx >= 0 && filterIdx > joinIdx,
      s"bloom filter not below the join (join@$joinIdx, filter@$filterIdx)")
  }

  test("q_agg_sketch_merge keeps sketch buffers out of the Expand rewrite") {
    // countDistinct mixed into the sketch agg would key HLL partials by
    // (group, user_id) via the multi-distinct Expand — the q_agg_approx trap
    val df = SparkEntry.queries("q_agg_sketch_merge")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("hll_union_agg") || p.contains("HllUnionAgg"), p.take(3000))
    assert(!p.contains("Expand"), "sketch agg fell into the multi-distinct Expand rewrite")
  }

  test("q_dedup_substring scans the corpus once (dup detection is a window)") {
    val df = SparkEntry.queries("q_dedup_substring")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val finalPlan = p.split("== Initial Plan ==")(0)
    val scans = finalPlan.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"$scans corpus scans — groupBy+join-back crept back in")
  }

  test("round-4 operators stay shuffle-bounded") {
    def exchanges(name: String): Int = {
      val df = SparkEntry.queries(name)(spark, sf)
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length
    }
    // substring dedup: span agg + survivor join + per-doc window + final agg + sort
    assert(exchanges("q_dedup_substring") <= 6, "substring dedup shuffles beyond its stages")
    // weighted sampling: map-only keep + 5-row agg + sort
    assert(exchanges("q_sample_weighted") <= 2, "weighted sampling shuffles on the data path")
    // outlier gate: stats agg + broadcast back (no join exchange) + final agg + sort
    assert(exchanges("q_events_outliers") <= 4, "outlier gate shuffles beyond stats + final agg")
    // z-order: map-only z + bucket agg + sort
    assert(exchanges("q_layout_zorder") <= 2, "zorder shuffles beyond its bucket agg")
    // fuzzy matching: per-side stop-block window + block self-join + sort
    assert(exchanges("q_text_levenshtein") <= 4, "levenshtein shuffles beyond guard + block join + sort")
  }

  test("stop-block guards count membership with a window BELOW the pair join") {
    // The r5 hot-block caps (VERDICT r4): block membership must be a window
    // over the block key feeding the self-join — never a groupBy + join-back
    // (extra corpus scan) and never a post-join filter (the pairs would
    // already have formed, defeating the guard).
    def planOf(name: String) =
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
    def exchanges(p: String) = "Exchange".r.findAllIn(p).length
    for (name <- Seq("q_text_levenshtein", "q_dedup_ngram_jaccard")) {
      val p = planOf(name)
      val joinAt = p.linesIterator.indexWhere(l =>
        l.contains("Join") && !l.contains("windowspec"))
      val winAt = p.linesIterator.indexWhere(_.contains("Window"))
      assert(joinAt >= 0 && winAt > joinAt, // toString prints children below
        s"$name: guard window not below the join\n${p.take(2500)}")
      assert(exchanges(p) <= 4, s"$name guard added unexpected shuffles")
    }
    // embed: two window levels per side (coarse count, refined count) +
    // top-1-per-vector window + presentation sort
    val pe = planOf("q_dedup_embed")
    assert("Window".r.findAllIn(pe).length >= 3, pe.take(2500))
    assert(exchanges(pe) <= 7, "embed guard added unexpected shuffles")
  }

  test("round-5 operators stay shuffle-bounded and broadcast their small sides") {
    def planOf(name: String) =
      SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
    def exchanges(p: String) = "Exchange".r.findAllIn(p).length
    // rarity: vocab agg + 1-row total agg (both broadcast back) + per-doc
    // integer agg + presentation sort; the corpus token side never
    // shuffles for the vocab join
    val pr = planOf("q_text_rarity")
    assert(pr.contains("BroadcastHashJoin"), pr.take(3000))
    assert(exchanges(pr) <= 7, s"rarity: ${exchanges(pr)} exchanges")
    // PQ: codebook, ADC tables, shortlist, and probes ALL broadcast — the
    // corpus side joins without a single shuffle (no SMJ anywhere); the
    // exchanges are the encode/coarse aggregations and rank windows
    val pq = planOf("q_knn_pq")
    assert(pq.contains("BroadcastHashJoin") && !pq.contains("SortMergeJoin"),
      pq.take(3000))
    assert(exchanges(pq) <= 10, s"pq: ${exchanges(pq)} exchanges")
    // keep-list: ONE window shuffle past the components fixpoint (plus the
    // quality join and presentation sort) — never a join back to text
    val pk = planOf("q_dedup_keep")
    assert(exchanges(pk) <= 5, s"keep: ${exchanges(pk)} exchanges")
    assert(!pk.split("== Initial Plan ==")(0).linesIterator
      .exists(l => l.contains("FileScan parquet") && l.contains("text")),
      "keep-list plan reads document text")
  }

  test("q_sample_reservoir pre-filters top-k per stratum before the exchange") {
    val p = SparkEntry.queries("q_sample_reservoir")(spark, sf)
      .queryExecution.executedPlan.toString
    // WindowGroupLimit must appear BOTH sides of the exchange: the partial
    // (map-side local top-k) is what keeps the shuffle at O(k × tasks)
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2, p.take(2500))
    assert("Exchange".r.findAllIn(p).length <= 2,
      "reservoir shuffles beyond window + presentation sort")
  }

  test("q_corpus_budget: bucket totals broadcast back; only the boundary bucket pays a fine window") {
    val p = SparkEntry.queries("q_corpus_budget")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // the fine window must sit above a Filter on the broadcast-joined
    // prior/pre bounds (boundary rows only), not over the whole corpus
    val lines = p.linesIterator.toSeq
    val winAt = lines.indexWhere(l => l.contains("Window") && l.contains("fcum"))
    assert(winAt >= 0, p.take(3000))
    assert(lines.drop(winAt).exists(_.contains("BroadcastHashJoin")),
      "fine window is not fed by the broadcast-joined boundary filter")
  }

  test("q_embed_kmeans: broadcast-only joins, hash-aggregable argmin") {
    val p = SparkEntry.queries("q_embed_kmeans")(spark, sf)
      .queryExecution.executedPlan.toString
    // every join is broadcast (centroids, assignments) — a SortMergeJoin
    // would mean a corpus-sized side shuffled for the iterate loop
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    // the packed-long argmin must hash-aggregate; min(struct) regresses
    // to SortAggregate, which loses map-side combine on the assign step
    assert(!p.contains("SortAggregate"), p.take(3000))
    // 12 = the per-iteration agg structure with a1's subtree inlined twice
    // (update input + churn join) — string-counted, so reuse isn't visible
    assert("Exchange".r.findAllIn(p).length <= 12,
      "kmeans shuffles beyond the per-iteration agg structure")
  }

  test("q_dedup_semantic: cap windows gate the self-join; centroids broadcast") {
    val p = SparkEntry.queries("q_dedup_semantic")(spark, sf)
      .queryExecution.executedPlan.toString
    // the pairing join must see only capped buckets: since r12 the assign
    // + both cap windows run once into an eager localCheckpoint, so the
    // join's inputs are scans of that materialized capped table — no
    // parquet (and hence no uncapped row) can reach the join
    val lines = p.linesIterator.toSeq
    val joinAt = lines.indexWhere(l =>
      l.contains("Join") && l.contains("bucket"))
    assert(joinAt >= 0, p.take(3000))
    assert(lines.drop(joinAt).exists(_.contains("ExistingRDD")),
      "pairing join does not read the checkpointed capped table")
    assert(!p.contains("Scan parquet"),
      s"raw embeddings reach the pairing join:\n${p.take(3000)}")
  }

  test("q_layout_skipping compares both layouts from ONE scan") {
    val p = SparkEntry.queries("q_layout_skipping")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(p).length <= 1,
      "layout comparison rescans the table per layout")
  }

  test("q_profile_skew: global top-k is TakeOrdered (map-side partial), not a single-task window") {
    val p = SparkEntry.queries("q_profile_skew")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("q_agg_quantile_merge: two-stage sketch agg, no sort-merge join, broadcast totals") {
    val p = SparkEntry.queries("q_agg_quantile_merge")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    // stage-1 (month, bin) partial + stage-2 (bin) merge: the raw scan
    // feeds exactly one aggregation chain — re-cuts reuse sketches, never
    // the raw table
    assert("Scan parquet".r.findAllIn(p).length <= 1,
      "quantile merge rescans the raw table")
  }

  test("q_knn_quantized broadcasts probes; corpus side never exchanges for the coarse pass") {
    val df = SparkEntry.queries("q_knn_quantized")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q_events_cdc: per-key champion pre-filtered map-side (WindowGroupLimit)") {
    val p = plan("q_events_cdc")
    // rn=1 must run as a group-limit BOTH sides of the key exchange, so the
    // shuffle carries each task's local champions — O(keys), not the log
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2, p.take(2500))
  }

  test("q_join_interval equi-joins on the grid cell — never a nested loop") {
    val p = plan("q_join_interval")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
    // the join key is the grid cell (hash or sort-merge equi-join on cell)
    assert(p.contains("cell"), p.take(3000))
  }

  test("q_agg_countmin: sketch build partially aggregates; probes broadcast") {
    val p = plan("q_agg_countmin")
    assert(p.contains("partial_count") || p.contains("HashAggregate"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q_curriculum: the per-doc window partitions on bin; offsets broadcast") {
    val p = plan("q_curriculum")
    // the corpus-sized row_number must partition on the high-cardinality
    // bin — a global ORDER BY window (empty partition spec over raw docs)
    // is the single-task skew this query exists to avoid
    val windowLines = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windowLines.exists(l => l.contains("bin") && l.contains("doc_id")),
      s"no bin-partitioned per-doc window:\n${windowLines.mkString("\n")}")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("q_table_diff: checksums partially aggregate — row data never shuffles") {
    val p = plan("q_table_diff")
    // each side's (count, sum-of-hash) must map-side combine: the exchange
    // carries group states, not rows
    assert(p.contains("partial_sum") || p.contains("partial_count"), p.take(3000))
    assert(!p.contains("SortMergeJoin") || p.contains("HashAggregate"), p.take(3000))
  }

  test("round-5 stats/sampling ops: parallel windows, broadcast small sides") {
    // q_stats_ks: the ECDF prefix sum must be the TWO-LEVEL shape — the
    // per-value cumulative window partitions on the bucket (parallel), and
    // the tiny bucket/total tables come back as broadcasts, never a
    // corpus-wide single-partition window.
    val ks = plan("q_stats_ks")
    assert(ks.matches("(?s).*Window \\[[^\\]]*\\], \\[bkt#\\d+L\\].*"), ks.take(3000))
    assert(ks.contains("BroadcastExchange"), ks.take(3000))
    // q_sample_balanced: the per-label limit runs TWO-LEVEL (the q_text_bm25
    // salted pattern) — a local rank window partitioned (label, salt) prunes
    // before the per-label window, so no dominant-label single-task sort
    // remains; class counts and the cap join back as broadcasts.
    val sb = plan("q_sample_balanced")
    assert(sb.matches(
      "(?s).*Window \\[row_number\\(\\)[^\\]]*\\], \\[label#\\d+, _w\\d+#\\d+L?\\].*"),
      sb.take(3000))
    assert(sb.matches("(?s).*Window \\[row_number\\(\\)[^\\]]*\\], \\[label#\\d+\\].*"),
      sb.take(3000))
    val sbWindows = sb.linesIterator.count(_.contains("Window ["))
    assert(sbWindows == 2, s"expected 2 Window nodes, got $sbWindows\n" + sb.take(3000))
    assert(sb.contains("BroadcastExchange"), sb.take(3000))
    // q_events_rfm_boundaries: the at-scale RFM twin must be ntile-free —
    // scores come from broadcast grid-derived boundaries, and the only
    // unpartitioned windows are the bucket-offset prefix sums (bkt-sized);
    // the in-grid cumulative windows partition on bkt.
    val rfmb = plan("q_events_rfm_boundaries")
    assert(!rfmb.contains("ntile"), rfmb.take(3000))
    assert(rfmb.matches("(?s).*Window \\[[^\\]]*\\], \\[bkt#\\d+L\\].*"),
      rfmb.take(3000))
    assert(rfmb.contains("BroadcastExchange"), rfmb.take(3000))
    // q_events_markov: the lag window partitions on user_id — the journey
    // stage never sorts globally.
    val mk = plan("q_events_markov")
    assert(mk.matches("(?s).*Window \\[lag\\([^\\]]*\\], \\[user_id#\\d+L\\].*"),
      mk.take(3000))
    // q_stats_chisq / q_stats_linreg: the one data-scale stage partially
    // aggregates (map-side combine) before its exchange.
    assert(plan("q_stats_chisq").contains("partial_count"), "chisq partial agg")
    assert(plan("q_stats_linreg").contains("partial_sum"), "linreg partial agg")
  }

  test("q_split_train and q_text_chunk stay shuffle-minimal (one exchange each)") {
    // split: map + single-key agg; chunk: map + explode + presentation sort.
    // More exchanges would mean the split/chunk stage itself shuffles.
    def exchanges(name: String): Int = {
      val df = SparkEntry.queries(name)(spark, sf)
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length
    }
    assert(exchanges("q_text_chunk") <= 1, "chunk shuffles more than the final sort")
    // split_train: partial agg -> final agg exchange + the tiny 3-row sort
    assert(exchanges("q_split_train") <= 2, "split shuffles beyond agg + sort")
  }

  test("round-6 scoring ops: two-level ranks, broadcast small sides") {
    // q_stats_auc: the rank window must be the two-level shape — the
    // cumulative sum partitions on the cent bucket (parallel), bucket
    // offsets broadcast back; never a grid-wide single-partition window.
    val auc = plan("q_stats_auc")
    assert(auc.matches("(?s).*Window \\[[^\\]]*\\], \\[bkt#\\d+L\\].*"), auc.take(3000))
    assert(auc.contains("BroadcastExchange"), auc.take(3000))
    // q_profile_gini: same two-level shape, partitioned (segment, bucket).
    val g = plan("q_profile_gini")
    assert(g.matches(
      "(?s).*Window \\[row_number\\(\\)[^\\]]*\\], \\[c_mktsegment#\\d+, bkt#\\d+L\\].*"),
      g.take(3000))
    assert(g.contains("BroadcastExchange"), g.take(3000))
    // q_text_rrf: both retrievers broadcast the 3-query side; the corpus
    // never exchanges for scoring.
    val rrf = plan("q_text_rrf")
    assert("BroadcastExchange".r.findAllIn(rrf).length >= 2, rrf.take(3000))
    // q_sample_importance: the 64-row weight table joins back as a
    // broadcast (scoring stays map-side), and the final top-20 is
    // TakeOrdered, not a global sort.
    val imp = plan("q_sample_importance")
    assert(imp.contains("BroadcastHashJoin"), imp.take(3000))
    assert(imp.contains("TakeOrderedAndProject"), imp.take(3000))
    // q_vocab_bpe: the emitted plan reads the CHECKPOINTED per-iteration
    // argmax rows (Scan ExistingRDD) — the lineage cap that keeps k merge
    // steps from compounding into one 3^k-deep plan.
    assert(plan("q_vocab_bpe").contains("Scan ExistingRDD"), "bpe checkpoint feed")
    // q_events_attribution: the user-keyed join partially aggregates the
    // per-purchase click counts before the rollup.
    assert(plan("q_events_attribution").contains("partial_count"),
      "attribution partial agg")
    // governance ops: single map-side-combinable agg passes — the contract
    // rules and calibration bins partially aggregate before their exchange.
    assert(plan("q_quality_expectations").contains("partial_count"),
      "expectations partial agg")
    assert(plan("q_stats_calibration").contains("partial_count"),
      "calibration partial agg")
    assert(plan("q_privacy_ldiv").contains("partial_count"),
      "ldiv partial agg")
    // q_stats_bootstrap: the 64× resample fan-out must partially aggregate
    // (map-side combine) so the full-width explode never crosses a shuffle.
    val bs = plan("q_stats_bootstrap")
    assert(bs.contains("partial_sum"), bs.take(3000))
    // q_graph_bfs: the emitted distances read the per-round checkpoints —
    // the lineage cap of the iterative frontier expansion.
    assert(plan("q_graph_bfs").contains("Scan ExistingRDD"), "bfs checkpoint feed")
    // q_events_gaps: the island window partitions on user_id — rows sort
    // within user partitions, never corpus-wide.
    val gaps = plan("q_events_gaps")
    assert(gaps.matches("(?s).*Window \\[[^\\]]*\\], \\[user_id#\\d+L\\].*"),
      gaps.take(3000))
    // q_stats_benford: the digit histogram partially aggregates.
    assert(plan("q_stats_benford").contains("partial_count"),
      "benford partial agg")
  }

  test("dynamic partition pruning reaches a partitioned fact scan") {
    // The at-scale mechanism behind every date-partitioned fact⋈dim join:
    // the dim filter prunes fact PARTITIONS at runtime (DPP), so the scan
    // never lists the non-qualifying directories. Pin that Catalyst
    // actually plans the dynamicpruning subquery against a disk layout the
    // sink family produces (partitioned parquet, dim too large to inline).
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp-").toString
    SparkEntry.queries("q_filter_pred")(spark, sf) // warm session
    Tables(spark, sf, "lineitem")
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
    val fact = spark.read.parquet(dir)
    val dim = Tables(spark, sf, "orders")
      .select(substring(col("o_orderpriority"), 1, 1).as("flag"))
      .distinct()
      .filter(col("flag") === "1")
      .select(when(col("flag") === "1", "R").otherwise("N").as("flag"))
    val j = fact.join(dim, col("l_returnflag") === col("flag"))
      .groupBy("flag").agg(sum("l_quantity").as("q"))
    j.collect()
    val p = j.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      "DPP missing from the partitioned join plan:\n" + p.take(3000))
  }

  test("q_join_incremental: history is never re-joined — one delta join only") {
    val df = SparkEntry.queries("q_join_incremental")(spark, sf)
    df.collect() // materialize (first call builds the MV artifact)
    val p = plan("q_join_incremental")
    // the maintained plan: MV parquet scan (filtered) UNION delta⋈dim —
    // exactly one join node; the base join ran once at MV build time
    val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
      .findAllIn(p).size
    assert(joins == 1, s"expected 1 delta join, got $joins:\n" + p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("round-8 ops: TakeOrdered sampling, keyed near-dup joins, no cartesians") {
    // q_sample_ppswor: fixed-k weighted sampling must short-circuit via
    // per-partition heaps — a global sort of the corpus defeats the point
    val pps = plan("q_sample_ppswor")
    assert(pps.contains("TakeOrderedAndProject"), pps.take(3000))
    // q_multimodal_phash: candidates come from an EQUI join on the
    // (band, size-bucket) key — any cartesian/BNLJ pairing is the
    // all-pairs blowup the banding exists to avoid
    val ph = plan("q_multimodal_phash")
    assert(!ph.contains("CartesianProduct")
      && !ph.contains("BroadcastNestedLoopJoin"), ph.take(3000))
    assert(ph.contains("Join"), ph.take(2000))
    // q_dedup_setjoin: same property after the (ptok, size, pos)-keyed
    // rewrite — candidate generation stays an equi join
    val sj = plan("q_dedup_setjoin")
    assert(!sj.contains("CartesianProduct"), sj.take(3000))
    // q_vocab_unigram: the corpus-sized stage is ONE exchange (word agg);
    // the DP fold must not introduce extra corpus shuffles
    val ug = plan("q_vocab_unigram")
    assert(ug.contains("HashAggregate"), ug.take(2000))
  }

  test("round-8b ops: keyed candidate joins, grid aggs, no cartesians") {
    // q_text_textrank: the sentence-similarity graph comes from an EQUI
    // self-join on (doc_id, tok) — the inverted-index blocking; a
    // cartesian sentence×sentence pairing is exactly what it avoids
    val tr = plan("q_text_textrank")
    assert(!tr.contains("CartesianProduct"), tr.take(3000))
    assert(tr.contains("Join"), tr.take(2000))
    // q_dedup_cdc: chunking is map-only — the only data shuffle keys on
    // the chunk md5 (hash agg), never a doc-pair join
    val cdc = plan("q_dedup_cdc")
    assert(!cdc.contains("CartesianProduct")
      && !cdc.contains("BroadcastNestedLoopJoin"), cdc.take(3000))
    assert(cdc.contains("HashAggregate"), cdc.take(2000))
    // q_graph_louvain: both gain rounds join adj⋈labels on node keys —
    // no all-pairs shape anywhere
    val lv = plan("q_graph_louvain")
    assert(!lv.contains("CartesianProduct"), lv.take(3000))
    // q_events_growth_accounting: presence checks are (user, week)-keyed
    // equi self-joins of the collapsed DAU table (the 1-row max-week
    // broadcast is the only nested-loop, by design)
    val ga = plan("q_events_growth_accounting")
    assert(!ga.contains("CartesianProduct"), ga.take(3000))
  }

  test("AQE skew join splits the hot partition (skew=true SMJ)") {
    // q_join_salted proves MANUAL salting; real 100-TB deployments lean on
    // AQE's runtime re-plan first and salt only what it can't fix. Pin that
    // a skewed fact⋈dim join under AQE actually plans skew-split SMJ
    // partitions (skew=true) — with test-sized thresholds standing in for
    // the prod defaults (256 MB per split), and broadcast disabled so the
    // join is a genuine shuffle join. Results are unchanged by the split
    // (same sum either way), which the assert also checks.
    import org.apache.spark.sql.functions._
    val s = spark
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32768",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16384",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
    // 99% of fact rows share key 0 — one reducer partition dwarfs the rest
    def query() = {
      val fact = s.range(200000)
        .select(when(col("id") % 100 =!= 0, lit(0L)).otherwise(col("id"))
          .as("k"), col("id").as("v"))
      val dim = s.range(200000).select(col("id").as("k"), (col("id") * 2).as("w"))
      fact.join(dim, "k").agg(sum(col("v") + col("w")).as("t"))
    }
    // identity baseline under default confs (no skew split)
    val expected = query().collect()(0).getLong(0)
    try {
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      val j = query()
      val total = j.collect()(0).getLong(0)
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        "no skew-split partitions in the AQE plan:\n" + p.take(4000))
      // identity check: the split is a physical re-plan only
      assert(total == expected)
    } finally saved.foreach { case (k, vo) =>
      vo.fold(s.conf.unset(k))(v => s.conf.set(k, v)) }
  }

  test("round-7 operators: keyed candidate joins, one-pass aggs, no cartesians") {
    def planOf(name: String) = plan(name)

    // kNN join: every candidate pair comes from the cell-keyed HASH join —
    // the only permitted unkeyed product is the broadcast 8-row codebook
    // cross (a BroadcastNLJ against a constant-size dim); a corpus-sized
    // product would plan CartesianProduct
    val knn = planOf("q_knn_join")
    assert(!knn.contains("CartesianProduct"),
      "kNN join degenerated to an unkeyed corpus product:\n" + knn.take(3000))
    assert(knn.contains("HashJoin"), // cell-keyed candidate join
      "candidate join is not a keyed hash join:\n" + knn.take(3000))

    // link prediction: wedge join keyed on the pivot; existing edges leave
    // via an anti-join; top-20 short-circuits (never a global sort)
    val lp = planOf("q_graph_linkpred")
    assert(!lp.contains("CartesianProduct") && !lp.contains("BroadcastNestedLoopJoin"),
      "wedge join degenerated to a product:\n" + lp.take(3000))
    assert(lp.contains("LeftAnti"), "existing edges not anti-joined:\n" + lp.take(3000))
    assert(lp.contains("TakeOrderedAndProject"), lp.take(3000))

    // negative sampling: candidates join the dense part index broadcast
    // (dim-sized); only the positives anti-join is a real shuffle
    val neg = planOf("q_sample_negatives")
    assert(neg.contains("BroadcastHashJoin"), neg.take(3000))
    assert(neg.contains("LeftAnti"), neg.take(3000))
    assert(!neg.contains("CartesianProduct"), neg.take(3000))

    // confusion sweep: all thresholds in ONE scan + one agg chain
    val cm = planOf("q_eval_confusion")
    assert("Scan parquet".r.findAllIn(cm).length <= 1,
      "threshold sweep rescans orders:\n" + cm.take(3000))

    // changepoint: corpus collapses through a partial agg BEFORE any
    // window — one scan, map-side combine present
    val cp = planOf("q_ts_changepoint")
    assert("Scan parquet".r.findAllIn(cp).length <= 1,
      "changepoint rescans events:\n" + cp.take(3000))
    assert(cp.contains("HashAggregate"), cp.take(3000))
  }

  test("round-7b operators: SQL lowers to broadcasts, merge-asof sorts once, one-pass sketches") {
    // SQL text → the same engine: dims broadcast, the date filter reaches
    // the orders scan
    val sql = plan("q_sql_star")
    assert(sql.contains("BroadcastHashJoin"), sql.take(3000))
    assert(sql.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate")
      || sql.contains("GreaterThanOrEqual(o_orderdate"), sql.take(4000))

    // nearest as-of: both direction frames ride ONE user-partitioned sort —
    // adding the forward frame must not add an exchange
    val asof = plan("q_join_asof_nearest")
    val exchanges = "Exchange".r.findAllIn(asof).length
    assert(exchanges <= 3, // union inputs + window partition + final sort
      s"nearest as-of shuffles beyond its merge plan ($exchanges):\n" + asof.take(3000))
    assert(!asof.contains("CartesianProduct") && !asof.contains("BroadcastNestedLoopJoin"),
      asof.take(3000))

    // weighted quantiles: two column-pruned scans (bucket sums + the
    // v-grid — r10 retired the corpus-sized grid checkpoint, the xi
    // lesson); windows are (flag)/(flag,bkt) partitioned — never a
    // whole-table single-partition sort
    val wq = plan("q_agg_wquantile")
    assert("Scan parquet".r.findAllIn(wq).length <= 2, wq.take(3000))
    assert(!wq.linesIterator.exists(l =>
      l.contains("windowspecdefinition") && !l.contains("flag")),
      wq.take(3000))

    // hashing trick: top-k short-circuits
    val th = plan("q_text_hashing")
    assert(th.contains("TakeOrderedAndProject"), th.take(3000))

    // HLL intersect: sketches and exact twins share ONE scan and agg chain
    val hll = plan("q_agg_hll_intersect")
    assert("Scan parquet".r.findAllIn(hll).length <= 1, hll.take(3000))
  }

  test("round-7c operators: domain windows, grid joins, no quadratic shapes") {
    // skyline: dominance thresholds come from the x-DOMAIN window +
    // broadcast back — never the quadratic NOT-EXISTS (which would plan a
    // nested-loop product over customers)
    val sky = plan("q_skyline_pareto")
    assert(!sky.contains("CartesianProduct") &&
      !sky.contains("BroadcastNestedLoopJoin"),
      "skyline degenerated to an all-pairs product:\n" + sky.take(3000))
    assert(sky.contains("BroadcastHashJoin"), sky.take(3000))

    // spatial eps-join: candidates meet in a KEYED join on the cell id —
    // the brute-force oracle is the test, the grid is the engine
    val sp = plan("q_join_spatial")
    assert(!sp.contains("CartesianProduct") &&
      !sp.contains("BroadcastNestedLoopJoin"),
      "spatial join degenerated to all-pairs:\n" + sp.take(3000))
    assert(sp.contains("HashJoin"), sp.take(3000))

    // target encoding: category stats + global mean broadcast onto one
    // corpus pass; the corpus-side join must not sort-merge
    val te = plan("q_feature_target_encode")
    assert(te.contains("BroadcastHashJoin"), te.take(3000))
    assert(!te.contains("SortMergeJoin"), te.take(3000))

    // interval coverage: one window pass + aggs, no join at all
    val ic = plan("q_interval_coverage")
    assert(!ic.contains("Join"), "coverage should be join-free:\n" + ic.take(3000))

    // burst detection: corpus collapses to the hour grid through a partial
    // agg BEFORE the trailing window — one scan
    val bu = plan("q_events_burst")
    assert("Scan parquet".r.findAllIn(bu).length <= 1, bu.take(3000))
    assert(bu.contains("HashAggregate"), bu.take(3000))

    // journey paths: the per-user prefix bound applies before the path
    // agg; final top-20 short-circuits
    val ep = plan("q_events_paths")
    assert(ep.contains("TakeOrderedAndProject"), ep.take(3000))
  }

  test("round-7d operators: broadcast probes, grid collapses, no corpus products") {
    // binary ANN: the coarse Hamming pass joins the 5-row probe set via a
    // broadcast (non-equi ⇒ BroadcastNLJ against a constant-size side is
    // the sanctioned shape); the corpus side must never sort-merge or
    // cartesian for it
    val kb = plan("q_knn_binary")
    assert(!kb.contains("CartesianProduct"), kb.take(3000))
    assert(kb.contains("Broadcast"), kb.take(3000))

    // MRR/MAP eval: probe fan-out broadcasts; everything after the top-10
    // filter is window+agg (no further joins of corpus size)
    val mrr = plan("q_eval_mrr")
    assert(!mrr.contains("CartesianProduct"), mrr.take(3000))
    assert(mrr.contains("Broadcast"), mrr.take(3000))

    // RAKE: phrase islands ride a doc-partitioned window; word/phrase
    // scores are keyed hash joins — no products anywhere
    val rake = plan("q_text_rake")
    assert(!rake.contains("CartesianProduct") &&
      !rake.contains("BroadcastNestedLoopJoin"), rake.take(3000))
    assert(rake.contains("HashAggregate"), rake.take(3000))

    // phrase search: postings meet the 3-row probe set in KEYED hash joins
    val ph = plan("q_text_phrase")
    assert(!ph.contains("CartesianProduct"), ph.take(3000))
    assert(ph.contains("HashJoin"), ph.take(3000))

    // PMI: marginals re-aggregate the joint (one corpus pair scan), top-20
    // short-circuits
    val pmi = plan("q_vocab_pmi")
    assert(pmi.contains("TakeOrderedAndProject"), pmi.take(3000))
    assert(!pmi.contains("CartesianProduct"), pmi.take(3000))

    // WoE/IV, RR, MAD, Holt, split scan: the corpus collapses through ONE
    // scan + partial agg before any window arithmetic
    for (q <- Seq("q_feature_woe", "q_privacy_rr", "q_ts_mad", "q_ts_holt",
        "q_feature_split")) {
      val p = plan(q)
      assert("Scan parquet".r.findAllIn(p).length <= 1,
        s"$q rescans events:\n" + p.take(3000))
      assert(p.contains("HashAggregate"), s"$q: " + p.take(3000))
    }

    // CUPED + standardization: per-user/cell rollups meet scalar pools via
    // broadcasts — the corpus-side join must never sort-merge
    val cu = plan("q_stats_cuped")
    assert(cu.contains("Broadcast") && !cu.contains("SortMergeJoin"),
      cu.take(3000))
    val st = plan("q_stats_standardize")
    assert(st.contains("Broadcast") && !st.contains("SortMergeJoin"),
      st.take(3000))

    // embedding outliers: centroids broadcast onto the map-only score pass
    val eo = plan("q_embed_outlier")
    assert(eo.contains("BroadcastHashJoin"), eo.take(3000))
    assert(!eo.contains("SortMergeJoin"), eo.take(3000))

    // local clustering: wedge join stays keyed (broadcast or hash), never
    // an unkeyed product
    val lc = plan("q_graph_cluster_local")
    assert(!lc.contains("CartesianProduct"), lc.take(3000))
  }

  test("round-7e operators: grid frames, broadcast vocabs, capped expansions") {
    // single-scan grid collapses: the corpus reaches the calendar/hour/bin
    // grid through ONE scan + partial agg before any window
    for (q <- Seq("q_ts_stl", "q_events_burnrate", "q_stats_tost",
        "q_stats_anova", "q_agg_bitmap")) {
      val p = plan(q)
      assert("Scan parquet".r.findAllIn(p).length <= 2, // bitmap: exact twin
        s"$q rescans beyond its twin:\n" + p.take(3000))
      assert(p.contains("HashAggregate"), s"$q: " + p.take(3000))
    }

    // sliding distinct: the ×7 cover explode runs on the COLLAPSED
    // (user, day) table (checkpointed), never on raw events
    val sd = plan("q_events_sliding_distinct")
    assert(!sd.contains("CartesianProduct"), sd.take(3000))

    // QQ: order statistics come from grid windows + a broadcast probe —
    // no global row sort
    val qq = plan("q_stats_qq")
    assert(!qq.contains("CartesianProduct"), qq.take(3000))
    assert(qq.contains("Broadcast"), qq.take(3000))

    // shard planner: the packing window partitions by source
    val sh = plan("q_multimodal_shard")
    assert(sh.contains("Window"), sh.take(3000))
    assert(!sh.contains("CartesianProduct"), sh.take(3000))

    // SCD2 apply: the delta meets the dimension via BROADCAST open rows —
    // history is never sort-merged against the delta
    val sa = plan("q_scd2_apply")
    assert(sa.contains("Broadcast"), sa.take(3000))

    // KN LM: vocab-sized sides broadcast
    val kn = plan("q_text_lm_kn")
    assert(kn.contains("Broadcast"), kn.take(3000))
    // OOV: the coverage probe (broadcast vocab join) lives behind the
    // flagged-token checkpoint — the visible plan is pure aggregation
    val oov = plan("q_vocab_oov")
    assert(!oov.contains("CartesianProduct") && !oov.contains("SortMergeJoin"),
      oov.take(3000))

    // k-hop sampling: per-hop joins are keyed; the fan-out cap rides a
    // frontier-partitioned window (no degree-shaped products)
    val kh = plan("q_graph_sample_khop")
    assert(!kh.contains("CartesianProduct"), kh.take(3000))
    assert(kh.contains("Window"), kh.take(3000))

    // hard negatives: one scored pass feeds both the window and the
    // hard-positive agg (checkpointed — no rescan of the pair loop)
    val hn = plan("q_sample_hardneg")
    assert("Scan parquet".r.findAllIn(hn).length <= 1, hn.take(3000))
  }

  test("round-8c shapes: partitioned sweeps/sketch windows, TakeOrdered " +
    "coverage, K-broadcast bucketing") {
    // peak concurrency: the ±1 sweep window partitions by DAY — the whole
    // scale story is that no global (unpartitioned) sort ever forms
    val pc = plan("q_events_concurrency")
    assert(pc.contains("windowspecdefinition(day#"), pc.take(3000))

    // KMV: both k-minima windows are keyed — level 1 on (key, salt),
    // level 2 on key; an unpartitioned rank here would serialize the vocab
    val kmv = plan("q_agg_kmv")
    assert(kmv.contains("windowspecdefinition(event_type#"), kmv.take(3000))
    assert(kmv.contains("salt#"), kmv.take(3000))

    // vocab coverage: the global order is TakeOrderedAndProject(1024) —
    // per-partition heaps, never a full vocab sort
    val vc = plan("q_vocab_coverage")
    assert(vc.contains("TakeOrderedAndProject"), vc.take(3000))

    // pass@k: the only window is the per-problem attempt cap; everything
    // else is hash aggregation (no joins at all)
    val pk = plan("q_eval_pass_at_k")
    assert(pk.contains("windowspecdefinition(event_type#"), pk.take(3000))
    assert(!pk.contains("SortMergeJoin") && !pk.contains("CartesianProduct"),
      pk.take(3000))

    // aspect bucketing: the 7-rung ladder joins as a broadcast on the
    // asset stream — a shuffled ladder join would be a scale bug
    val ma = plan("q_multimodal_aspect")
    assert(ma.contains("BroadcastNestedLoopJoin")
      || ma.contains("BroadcastHashJoin"), ma.take(3000))
    assert(!ma.contains("SortMergeJoin"), ma.take(3000))
  }

  test("round-8d shapes: domain-sized dominance joins, map-only scans, " +
    "code equi-join ANN, top-k heaps") {
    // kendall: the grid² dominance join must be a BROADCAST NLJ over the
    // domain-bounded grid — a SortMergeJoin here would mean Catalyst saw
    // a data-sized relation on the build side
    val kd = plan("q_stats_kendall")
    assert(kd.contains("BroadcastNestedLoopJoin"), kd.take(3000))
    assert(!kd.contains("SortMergeJoin"), kd.take(3000))

    // c-index rides the same machinery with the censoring mask
    val ci = plan("q_survival_cindex")
    assert(ci.contains("BroadcastNestedLoopJoin"), ci.take(3000))
    assert(!ci.contains("SortMergeJoin"), ci.take(3000))

    // periodicity gate: the concentration rank is a top-50 heap, never a
    // global sort
    val bd = plan("q_events_periodicity")
    assert(bd.contains("TakeOrderedAndProject"), bd.take(3000))

    // blocklist: map-only — one documents scan, no join anywhere
    val bl = plan("q_text_blocklist")
    assert(!bl.contains("Join"), bl.take(3000))
    assert("Scan parquet".r.findAllIn(bl).length == 1, bl.take(3000))

    // SRP-LSH: the whole point vs q_knn_binary is candidate generation by
    // CODE EQUI-JOIN — the probe join must hash on the code, not loop
    val lsh = plan("q_knn_lsh")
    assert(lsh.contains("BroadcastHashJoin"), lsh.take(3000))

    // Cochran/Friedman/ICC collapse before any window: no join of
    // data-sized relations, aggregation all the way down
    val cq = plan("q_stats_cochranq")
    assert(!cq.contains("SortMergeJoin"), cq.take(3000))
  }

  test("q_join_dpp plants a dynamic pruning filter in the partitioned scan") {
    // the whole point: the runtime dim result must reach the fact scan as
    // PartitionFilters: [... dynamicpruningexpression(...)] — without it
    // the query silently reads all 83 month partitions
    val p = plan("q_join_dpp")
    assert(p.contains("dynamicpruning"), p.take(4000))
  }

  test("round-8e shapes: moment-collapsed MMD, grid windows, no user sorts") {
    // q_stats_mmd: the O(n²) pairwise statistic must collapse to ONE
    // corpus agg + a 5-row arm join — any cartesian/BNLJ means the kernel
    // trick regressed to pair materialization
    val mmd = plan("q_stats_mmd")
    assert(!mmd.contains("CartesianProduct")
      && !mmd.contains("BroadcastNestedLoopJoin"), mmd.take(3000))
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
      .findAllIn(mmd).size == 1, mmd.take(3000))
    // q_eval_qini: running sums over the SCORE GRID — the plan must not
    // rank user-cardinality rows (no ntile/row_number over users; the
    // only Sort feeds the grid window after both aggs)
    val qini = plan("q_eval_qini")
    assert(qini.contains("Window"), qini.take(2000))
    assert("HashAggregate".r.findAllIn(qini).size >= 4, // 2 aggs × partial+final
      qini.take(3000))
    assert(!qini.contains("ntile"), qini.take(2000))
    // q_vocab_chao1 / q_embed_isotropy: label + TOTAL rows re-aggregate
    // the ONE checkpointed cell grid — the base table is scanned once at
    // checkpoint time, so the query plan itself has no parquet scan of it
    for (q <- Seq("q_vocab_chao1", "q_embed_isotropy")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n" + p.take(3000))
      assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
        s"$q should read the checkpointed grid:\n" + p.take(3000))
    }
    // q_survival_weibull: ranks come from a duration-GRID cumulative
    // window + one OLS agg — never a TakeOrdered/global row sort of users
    val wb = plan("q_survival_weibull")
    assert(wb.contains("Window") && !wb.contains("TakeOrdered"),
      wb.take(3000))
  }

  test("round-8f shapes: broadcast bloom probes, keyed mark-back joins, " +
    "grid medians, join-free hashed cross") {
    // q_dedup_bloom: the bitmap and the m-sweep are broadcast-scale; the
    // probe must never degenerate to a cartesian of probes × positions
    // (the 3-row m-sweep BNLJ is the sanctioned broadcast crossJoin)
    val bl = plan("q_dedup_bloom")
    assert(!bl.contains("CartesianProduct"), bl.take(3000))
    assert(bl.contains("ExistingRDD"), // checkpointed key table reused 3×
      bl.take(3000))
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
      .findAllIn(bl).nonEmpty, bl.take(3000))
    // q_text_boilerplate: the mark-back is a KEYED join of positions to the
    // boiler set — no cartesian; positions come off the checkpoint, so the
    // documents parquet is not rescanned inside the query plan
    val bp = plan("q_text_boilerplate")
    assert(!bp.contains("CartesianProduct")
      && !bp.contains("BroadcastNestedLoopJoin"), bp.take(3000))
    assert(bp.contains("ExistingRDD"), bp.take(3000))
    // q_feature_impute: the median is a grid cumsum window + min-selection —
    // the only Sort feeds the (type, cents) grid window, never a corpus
    // sort, and no TakeOrdered materializes rows
    val im = plan("q_feature_impute")
    assert(im.contains("Window") && !im.contains("TakeOrdered"),
      im.take(3000))
    assert(!im.contains("CartesianProduct"), im.take(3000))
    // q_feature_hashed_cross: one map-combinable agg chain — the raw
    // categorical cross NEVER materializes as a join of any kind
    val hc = plan("q_feature_hashed_cross")
    assert(!hc.contains("Join"), hc.take(3000))
    assert(hc.contains("HashAggregate"), hc.take(3000))
    // q_events_overlap_approx: signature pair join + audit joins are all
    // keyed — no cartesian anywhere despite the pairwise output
    val ov = plan("q_events_overlap_approx")
    assert(!ov.contains("CartesianProduct"), ov.take(3000))
  }

  test("round-8g shapes: grid rank selections, vocab-row explodes, " +
    "day-collapsed streak windows") {
    // q_agg_quantile_cont: rank lookups are min-past-threshold selections
    // on the CHECKPOINTED (type, cents) cum grid (the Window ran once at
    // checkpoint time — the plan reads ExistingRDD); no TakeOrdered and no
    // corpus-row sort materializes in the query itself
    val qc = plan("q_agg_quantile_cont")
    assert(qc.contains("ExistingRDD") && !qc.contains("TakeOrdered"),
      qc.take(3000))
    assert(!qc.contains("CartesianProduct"), qc.take(3000))
    // q_events_streaks: the row_number partitions by user over the DISTINCT
    // (user, day) collapse — a HashAggregate (the distinct) must sit below
    // the Window, and no self-join exists at all
    val st = plan("q_events_streaks")
    assert(st.contains("Window") && st.contains("HashAggregate"),
      st.take(3000))
    assert(!st.contains("SortMergeJoin") || !st.contains("CartesianProduct"),
      st.take(3000))
    // q_vocab_prefix: pure agg pipeline — the argmax is an agg (min of a
    // struct), never a window, and no join of any kind appears
    val vp = plan("q_vocab_prefix")
    assert(!vp.contains("Join") && !vp.contains("Window"), vp.take(3000))
    // q_ts_ar2 / q_stats_capture_recapture: constant-size composition on
    // collapsed grids — no cartesian beyond broadcast-literal crossJoins
    for (q <- Seq("q_ts_ar2", "q_stats_capture_recapture")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n" + p.take(3000))
    }
    // q_text_keyness: the per-source top-3 runs salted two-level — TWO
    // Window nodes, the first partitioned by (source, salt), so no
    // source-sized single-task sort survives in the plan
    val kn = plan("q_text_keyness")
    assert("Window".r.findAllIn(kn).size >= 2, kn.take(3000))
    assert(kn.contains("crc32"), kn.take(3000)) // the salt reaches the plan
  }

  test("round-8h shapes: partitioned disorder windows, coalition-table " +
    "games, grid state machines") {
    // q_events_lateness: the running max partitions by event_type — the
    // Exchange hashes on it, so no global single-partition window exists
    val lt = plan("q_events_lateness")
    assert(lt.contains("hashpartitioning(event_type"), lt.take(3000))
    // q_pack_padding: both batch policies rank within lang partitions
    val pp = plan("q_pack_padding")
    assert("Window".r.findAllIn(pp).size >= 2, pp.take(3000))
    assert(pp.contains("hashpartitioning(lang"), pp.take(3000))
    assert(!pp.contains("CartesianProduct"), pp.take(3000))
    // q_events_shapley: the game runs on the checkpointed coalition table;
    // no cartesian (the coalition crossJoins are broadcast-literal)
    val sh = plan("q_events_shapley")
    assert(sh.contains("ExistingRDD") && !sh.contains("CartesianProduct"),
      sh.take(3000))
    // q_text_burrows / q_privacy_dp_consistent / q_ts_hysteresis: keyed
    // joins + grid windows only
    for (q <- Seq("q_text_burrows", "q_privacy_dp_consistent",
        "q_ts_hysteresis")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n" + p.take(3000))
    }
  }

  test("grid-checkpointed queries: corpus materialized once, zero re-scans") {
    // the r9 bench fix: a grid feeding several consumers (marginals,
    // totals, joins) re-runs the corpus explode+agg per consumer without a
    // checkpoint barrier (q_vocab_pmi: 1.18 s vs 0.65 s at sf0.1). The pin:
    // the executed plan reads the materialized grid(s) (ExistingRDD) and
    // holds ZERO parquet scans above them.
    for (q <- Seq("q_vocab_pmi", "q_text_collocations", "q_vocab_skipgram",
        "q_join_size_estimate", "q_stats_grubbs", "q_vocab_goodturing")) {
      val df = SparkEntry.queries(q)(spark, sf)
      val p = df.queryExecution.executedPlan.toString
      val finalPlan = p.split("== Initial Plan ==")(0)
      assert(finalPlan.contains("ExistingRDD"), s"$q:\n" + finalPlan.take(3000))
      assert(!finalPlan.linesIterator.exists(_.contains("FileScan parquet")),
        s"$q re-scans the corpus:\n" + finalPlan.take(3000))
    }
  }

  test("round-11 scale mechanisms: phash heavy-bucket anti-join, sampled recall probes") {
    // q_multimodal_phash: degenerate-band buckets (>128 members) must be
    // excluded from candidate generation via an ANTI join against the
    // bucket-count agg — without it every zero-padded short payload pairs
    // with every other (124M of 124M sf1 candidate pairs, α 1.86; capped
    // α 0.28). The pin: the plan carries a LeftAnti join.
    val ph = plan("q_multimodal_phash")
    assert(ph.contains("LeftAnti"), ph.take(3000))
    // q_knn_join_recall: the brute-force truth side must score a ≤512-probe
    // sample, selected via TakeOrderedAndProject (distributed top-K by md5
    // order — never a global sort), and joined as a broadcast semi join so
    // the corpus side never shuffles for the filter.
    val kr = plan("q_knn_join_recall")
    assert(kr.contains("TakeOrderedAndProject"), kr.take(3000))
    assert(kr.contains("LeftSemi"), kr.take(3000))
  }

  test("round-12 scale mechanism: ShingleTruth truth side is probe-sampled") {
    // The exact-Jaccard truth audit feeding q_dedup_minhash_recall and
    // q_dedup_lsh_tune must select a ≤512-probe sample via
    // TakeOrderedAndProject (distributed top-K by md5 order, no global
    // sort) and filter the probe slice with a broadcast LeftSemi; the
    // broadcast sides are then the probe set, never the whole corpus
    // (the r11 corpus×corpus broadcast was a driver-memory killer at
    // 100×). The BroadcastNestedLoopJoin that remains streams the corpus
    // past the ≤512-row probe slice.
    val st = graft.operators.DedupOps.ShingleTruth.build(spark, sf)
      .queryExecution.executedPlan.toString
    assert(st.contains("TakeOrderedAndProject"), st.take(3000))
    assert(st.contains("LeftSemi"), st.take(3000))
    assert(st.contains("BroadcastNestedLoopJoin"), st.take(3000))
  }

  test("r13 shapes: phrase single-scan NEAR agg, one-generate dedup curve, " +
    "narrowed setjoin/xi schemas") {
    // q_text_phrase: ONE documents scan total (top3 is checkpointed; the
    // NEAR side aggregates per (phrase, doc) position arrays instead of
    // the r12 matched-positions checkpoint + positional self-join that
    // regressed in-bench)
    val ph = plan("q_text_phrase")
    assert(ph.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"phrase re-scans documents:\n" + ph.take(3000))
    // the position-pair predicate runs as an `exists` HOF over aggregated
    // arrays — no join between two position streams survives
    assert(ph.contains("exists"), ph.take(3000))
    // q_corpus_dedup_curve: all three shingle widths from ONE generator
    // pass — exactly one Generate, no corpus-sized ExistingRDD (the r12
    // tokenized-corpus checkpoint is gone), and the generator consumes the
    // PROJECTED toks attribute (split must not be inlined per element —
    // the HOF-capture cubic trap)
    val cv = plan("q_corpus_dedup_curve")
    assert(cv.linesIterator.count(_.contains("Generate")) == 1, cv.take(3000))
    assert(!cv.contains("ExistingRDD"), cv.take(3000))
    val gen = cv.linesIterator.find(_.contains("explode(concat(transform"))
      .getOrElse("")
    assert(gen.nonEmpty && !gen.contains("split("),
      s"split inlined into the generator lambda:\n$gen")
    // q_dedup_setjoin: doc ids / sizes travel as INT through the candidate
    // join (the scan-side cast lives behind the ranked/pref checkpoints,
    // so the visible pin is the INT→BIGINT restore at the output boundary
    // — doc_a/na are narrower-than-long right up to the final Project)
    val sj = plan("q_dedup_setjoin")
    assert(sj.matches("(?s).*cast\\(doc_a#\\d+ as bigint\\).*"), sj.take(3000))
    assert(sj.matches("(?s).*cast\\(na#\\d+ as bigint\\).*"), sj.take(3000))
    // q_stats_xi's narrowing rests on one ordering equivalence: unsigned
    // bytewise comparison of unhex(md5(x)) must order EXACTLY like the
    // lowercase-hex md5 string (each hex digit maps monotonically to its
    // nibble). Pin it behaviorally — the corpus pass itself lives behind
    // the perX checkpoint and is invisible to final-plan asserts.
    import org.apache.spark.sql.functions.{col, md5, unhex}
    val base = spark.range(500)
      .select(md5(col("id").cast("string")).as("h"))
    val byHex = base.orderBy(col("h")).collect().map(_.getString(0))
    val byBin = base.orderBy(unhex(col("h"))).collect().map(_.getString(0))
    assert(byHex.sameElements(byBin), "binary md5 order diverges from hex order")
  }

  test("graft.broadcast.maxKeys=0 sends the lm_score and boilerplate joins down their shuffle branch, still oracle-exact") {
    // size-only broadcasts are off in both sessions, so a BroadcastHashJoin
    // can come only from the size-guarded hint
    def session(maxKeys: Option[String]) = {
      val s = spark.newSession()
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      maxKeys.foreach(s.conf.set("graft.broadcast.maxKeys", _))
      s
    }
    val guarded = Seq("q_text_lm_score", "q_text_boilerplate")
    val (hinted, capped) = (session(None), session(Some("0")))
    val dump = java.nio.file.Files.createTempDirectory("graft-maxkeys-").toString
    guarded.foreach { name =>
      val b = SparkEntry.queries(name)(hinted, sf).queryExecution.executedPlan.toString
      assert(b.contains("BroadcastHashJoin"), s"$name below the guard:\n" + b.take(3000))
      val df = SparkEntry.queries(name)(capped, sf)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin") && p.contains("SortMergeJoin"),
        s"$name above the guard:\n" + p.take(3000))
      df.coalesce(1).write.parquet(s"$dump/$name")
    }
    def q(v: String) = "\"" + v.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dump, "oracle_sql.json"),
      guarded.map(n => s"${q(n)}: ${q(SparkEntry.oracleSql(n))}").mkString("{", ",", "}"))
    val pb = new ProcessBuilder(Seq("python3", "tools/check_oracles.py", sf, dump) ++ guarded: _*)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    assert(proc.waitFor() == 0 && out.contains("== 2 ok, 0 fail =="), out)
  }
}
