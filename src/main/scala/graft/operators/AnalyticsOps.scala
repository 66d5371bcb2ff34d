package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataTypes
import graft.{GQuery, Prefix, QueryModule, Tables}
import graft.Exact.{cents, dround}

/** Third block: analytics + training-pipeline operators beyond the round-1/2
  * inventory — deterministic train/val/test splits, document chunking, column
  * profiling, funnel + cohort retention analysis, correlated-scalar/IN/EXISTS
  * subqueries, lateral joins, theta (band) joins, and text normalization.
  *
  * Same ground rules as Relational.scala: Catalyst built-ins only, total-order
  * ORDER BY, `Exact.dround` on aggregated doubles, md5 as the only
  * cross-engine hash (SURVEY.md §7 risk register).
  */
object AnalyticsOps extends QueryModule {

  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  // ------------------------------------------ deterministic dataset split --

  /** Hash-based train/val/test split (80/10/10) — the standard reproducible
    * split for training corpora: bucket = md5(doc_id) mod 100, so membership
    * is a pure function of the key (stable under re-runs, re-partitioning,
    * and incremental appends — unlike sample()/TABLESAMPLE, which depend on
    * partition layout). At scale this is one codegen'd map + a 3-group agg.
    */
  private val qSplitTrain = GQuery(
    (s, d) => {
      val bucket = pmod(DedupOps.hex4(col("doc_id").cast("string")), lit(100))
      t(s, d, "documents")
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          // size(collect_set) over the bounded lang column: map-side
          // combinable, so no second distinct-expand exchange.
          size(collect_set(col("lang"))).cast("long").as("n_langs"))
        .orderBy("split")
    },
    Some(s"""WITH b AS (
              SELECT *, ${DedupOps.duckHex4("md5(CAST(doc_id AS VARCHAR))")} % 100
                        AS bucket
              FROM documents),
            sp AS (
              SELECT CASE WHEN bucket < 80 THEN 'train'
                          WHEN bucket < 90 THEN 'val'
                          ELSE 'test' END AS split,
                     n_chars, lang
              FROM b)
            SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
            FROM sp GROUP BY split ORDER BY split"""))

  // --------------------------------------------------- document chunking --

  /** Fixed-size token chunking with overlap (window 50, stride 40) — the
    * standard pre-tokenization step for LLM training data. One row per chunk
    * via explode(sequence(...)); the token array is materialized as a column
    * BEFORE the explode so it is computed once per doc (HOF re-eval rule,
    * CLAUDE.md). Chunking is embarrassingly parallel — no shuffle until the
    * final presentation sort.
    */
  private val qTextChunk = GQuery(
    (s, d) => t(s, d, "documents")
      .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")), lit(40))).as("pos"))
      .select(col("doc_id"), col("pos"),
        size(slice(col("toks"), col("pos"), lit(50))).as("n_toks"),
        length(concat_ws(" ", slice(col("toks"), col("pos"), lit(50))))
          .as("n_chars"))
      .orderBy("doc_id", "pos"),
    Some("""WITH tk AS (
              SELECT doc_id, string_split(lower(text), ' ') AS toks
              FROM documents),
            c AS (
              SELECT doc_id, unnest(generate_series(1, len(toks), 40)) AS pos,
                     toks
              FROM tk)
            SELECT doc_id, CAST(pos AS INT) AS pos,
                   CAST(len(list_slice(toks, pos, pos + 49)) AS INT) AS n_toks,
                   CAST(length(array_to_string(list_slice(toks, pos, pos + 49), ' '))
                        AS INT) AS n_chars
            FROM c ORDER BY doc_id, pos"""))

  // ----------------------------------------------------- column profiling --

  /** Data-quality column profiler: one stack() pass melts the table to
    * (col_name, val) rows, one hash agg computes rows/non-null/distinct/
    * min/max per column. The nullif-derived column proves the null-accounting
    * path (the synthetic tables carry no physical nulls). At scale this is
    * the map-side-combinable alternative to k separate full scans.
    */
  private val qProfileColumns = GQuery(
    (s, d) => t(s, d, "orders")
      .selectExpr(
        """stack(4,
             'o_orderstatus',   o_orderstatus,
             'o_orderpriority', o_orderpriority,
             'o_custkey',       CAST(o_custkey AS STRING),
             'status_nullable', nullif(o_orderstatus, 'O')) AS (col_name, val)""")
      .groupBy("col_name")
      .agg(count(lit(1)).as("n_rows"),
        count(col("val")).as("n_nonnull"),
        countDistinct(col("val")).as("n_distinct"),
        min("val").as("min_val"),
        max("val").as("max_val"))
      .orderBy("col_name"),
    Some("""WITH m AS (
              SELECT 'o_orderstatus' AS col_name, o_orderstatus AS val FROM orders
              UNION ALL
              SELECT 'o_orderpriority', o_orderpriority FROM orders
              UNION ALL
              SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
              UNION ALL
              SELECT 'status_nullable', nullif(o_orderstatus, 'O') FROM orders)
            SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(val) AS BIGINT) AS n_nonnull,
                   CAST(count(DISTINCT val) AS BIGINT) AS n_distinct,
                   min(val) AS min_val, max(val) AS max_val
            FROM m GROUP BY col_name ORDER BY col_name"""))

  /** Scale path of the profiler: approx_count_distinct (HLL, rsd 1%)
    * replaces the exact countDistinct — per-group value buffering on a
    * melted table is the OOM pattern at 100 TB (SCALE.md "Known costs");
    * the sketch is fixed-size and map-side combinable. Validated with the
    * q_agg_approx pattern: the exact distinct runs as its own aggregation
    * joined back on the tiny group key (never mixed into the sketch agg —
    * the multi-distinct Expand trap), and the emitted `nd_ok` bounds flag
    * (5σ margin) is what cross-engine hashes.
    */
  private val qProfileApprox = GQuery(
    (s, d) => {
      val melted = t(s, d, "orders")
        .selectExpr(
          """stack(4,
               'o_orderstatus',   o_orderstatus,
               'o_orderpriority', o_orderpriority,
               'o_custkey',       CAST(o_custkey AS STRING),
               'status_nullable', nullif(o_orderstatus, 'O')) AS (col_name, val)""")
      val approx = melted.groupBy("col_name")
        .agg(count(lit(1)).as("n_rows"),
          count(col("val")).as("n_nonnull"),
          approx_count_distinct(col("val"), 0.01).as("nd_approx"),
          min("val").as("min_val"),
          max("val").as("max_val"))
      val exact = melted.groupBy("col_name")
        .agg(countDistinct(col("val")).as("nd_exact"))
      approx.join(broadcast(exact), "col_name")
        .select(col("col_name"), col("n_rows"), col("n_nonnull"),
          col("nd_exact"),
          (abs(col("nd_approx") - col("nd_exact"))
            <= col("nd_exact") * 0.05).as("nd_ok"),
          col("min_val"), col("max_val"))
        .orderBy("col_name")
    },
    Some("""WITH m AS (
              SELECT 'o_orderstatus' AS col_name, o_orderstatus AS val FROM orders
              UNION ALL
              SELECT 'o_orderpriority', o_orderpriority FROM orders
              UNION ALL
              SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
              UNION ALL
              SELECT 'status_nullable', nullif(o_orderstatus, 'O') FROM orders)
            SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(val) AS BIGINT) AS n_nonnull,
                   CAST(count(DISTINCT val) AS BIGINT) AS nd_exact,
                   true AS nd_ok,
                   min(val) AS min_val, max(val) AS max_val
            FROM m GROUP BY col_name ORDER BY col_name"""))

  /** SCD2 / point-in-time validity intervals — the temporal-correctness
    * primitive of a training-data pipeline: every feature observation
    * becomes a `[valid_from, valid_to)` interval closed by the key's next
    * observation (open interval ⇒ current row), so downstream joins can be
    * as-of-correct and never leak the future. One lead() window per key —
    * a single shuffle, no self-join. Second-granularity epochs sidestep the
    * ns-vs-µs timestamp hazard (same convention as the session queries).
    */
  private val qScd2Intervals = GQuery(
    (s, d) => {
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy("ts_sec", "event_id")
      t(s, d, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_timestamp(col("ts")).as("ts_sec"),
          dround(col("value")).as("val"))
        .select(col("user_id"), col("event_type"), col("event_id"), col("val"),
          col("ts_sec").as("valid_from"),
          lead("ts_sec", 1).over(w).as("valid_to"),
          lead("ts_sec", 1).over(w).isNull.as("is_current"))
        .orderBy("user_id", "event_type", "valid_from", "event_id")
    },
    Some("""WITH e AS (
              SELECT user_id, event_type, event_id,
                     CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_sec,
                     CAST(round(CAST(value AS DECIMAL(30,8)), 2) AS DOUBLE) AS val
              FROM events)
            SELECT user_id, event_type, event_id, val,
                   ts_sec AS valid_from,
                   lead(ts_sec) OVER w AS valid_to,
                   (lead(ts_sec) OVER w IS NULL) AS is_current
            FROM e WINDOW w AS (PARTITION BY user_id, event_type
                                ORDER BY ts_sec, event_id)
            ORDER BY user_id, event_type, valid_from, event_id"""))

  /** Stratified sampling (`df.stat.sampleBy`) — the per-class downsampling
    * staple of training-corpus prep. Seeded Bernoulli per stratum is
    * deterministic for Spark but not reproducible in another engine, so the
    * oracle pins the derived property (the q_agg_approx pattern): exact
    * per-stratum totals plus a flag that the sampled count sits within 5σ
    * of n·p (binomial; deterministic at any SF). The strata list is a
    * 5-row driver collect — bounded by the key's cardinality, not the data.
    */
  private val qSampleStratified = GQuery(
    (s, d) => {
      val orders = t(s, d, "orders")
      val strata = orders.select("o_orderpriority").distinct()
        .collect().map(_.getString(0))
      val p = 0.2
      val sampled = orders.stat.sampleBy("o_orderpriority",
        strata.map(_ -> p).toMap, 42L)
      val counts = sampled.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_samp"))
      val totals = orders.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_total"))
      totals.join(broadcast(counts), Seq("o_orderpriority"), "left")
        .select(col("o_orderpriority"), col("n_total"),
          (abs(coalesce(col("n_samp"), lit(0L)) - col("n_total") * p)
            <= lit(5.0) * sqrt(col("n_total") * p * (1 - p))).as("samp_ok"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_total,
                   true AS samp_ok
            FROM orders GROUP BY 1 ORDER BY o_orderpriority"""))

  /** MERGE/upsert semantics (CDC batch application) — the incremental-
    * pipeline primitive Spark expresses as one full-outer join + CASE
    * routing, with the change set derived deterministically from the base
    * table: keys ≡ 0 (mod 10) are updates (price × 1.1), of which keys
    * ≡ 0 (mod 30) are deletes, and each update key k also inserts a new
    * key k + 10_000_000. Semantics: DELETE wins, UPDATE replaces, INSERT
    * appends, unmatched base rows pass through — exactly SQL MERGE's three
    * WHEN branches. One shuffle (the join); change set is 10% of base.
    */
  private val qMergeUpsert = GQuery(
    (s, d) => {
      val base = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val updates = base.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") % 30 === 0, lit("D")).otherwise(lit("U")).as("op"),
          (col("o_totalprice") * 1.1).as("new_price"))
      // insert keys are NEGATED base keys: disjoint from the (positive) base
      // key space at EVERY sf — an additive offset would collide once
      // orderkeys exceed it, fanning out the full-outer join into non-MERGE
      // output that both engines would compute identically (hash-invisible)
      val inserts = base.filter(col("o_orderkey") % 10 === 0)
        .select((-col("o_orderkey")).as("k"), lit("I").as("op"),
          (col("o_totalprice") * 2.0).as("new_price"))
      val changes = updates.union(inserts)
      base.join(changes, col("o_orderkey") === col("k"), "full_outer")
        .filter(coalesce(col("op"), lit("")) =!= "D")
        .select(
          coalesce(col("o_orderkey"), col("k")).as("key"),
          when(col("op") === "U" || col("op") === "I",
            dround(col("new_price"))).otherwise(dround(col("o_totalprice")))
            .as("price"),
          coalesce(col("op"), lit("KEEP")).as("action"))
        .orderBy("key")
    },
    Some("""WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
            changes AS (
              SELECT o_orderkey AS k,
                     CASE WHEN o_orderkey % 30 = 0 THEN 'D' ELSE 'U' END AS op,
                     o_totalprice * 1.1 AS new_price
              FROM base WHERE o_orderkey % 10 = 0
              UNION ALL
              SELECT -o_orderkey, 'I', o_totalprice * 2.0
              FROM base WHERE o_orderkey % 10 = 0)
            SELECT coalesce(b.o_orderkey, c.k) AS key,
                   CAST(round(CAST(CASE WHEN c.op IN ('U', 'I') THEN c.new_price
                                        ELSE b.o_totalprice END
                     AS DECIMAL(30,8)), 2) AS DOUBLE) AS price,
                   coalesce(c.op, 'KEEP') AS action
            FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.k
            WHERE coalesce(c.op, '') <> 'D'
            ORDER BY key"""))

  /** Feature discretization: per-stratum quartile binning. Boundaries are
    * the exact interpolated quartiles (percentile ≡ quantile_cont, parity
    * proven by q_agg_stats), computed once per 5-row stratum and broadcast
    * back — at scale the boundary table is strata-sized, the binning pass
    * is map-only, and the scale path swaps percentile for approx_percentile
    * with the same join shape. Boundaries are dround-SNAPPED before the
    * comparison: the engines' interpolation arithmetic ((1−f)·lo+f·hi vs
    * lo+f·(hi−lo)) can differ by 1 ulp, and a raw-boundary `<=` against a
    * row exactly at the boundary would then bin it differently per engine.
    */
  private val qFeatureBucketize = GQuery(
    (s, d) => {
      val orders = t(s, d, "orders")
      val bounds = orders.groupBy("o_orderpriority")
        .agg(dround(expr("percentile(o_totalprice, 0.25)")).as("q1"),
          dround(expr("percentile(o_totalprice, 0.5)")).as("q2"),
          dround(expr("percentile(o_totalprice, 0.75)")).as("q3"))
      orders.join(broadcast(bounds), "o_orderpriority")
        .select(col("o_orderpriority"),
          when(col("o_totalprice") <= col("q1"), 1)
            .when(col("o_totalprice") <= col("q2"), 2)
            .when(col("o_totalprice") <= col("q3"), 3)
            .otherwise(4).as("bin"),
          col("o_totalprice"))
        .groupBy("o_orderpriority", "bin")
        .agg(count(lit(1)).as("n"), dround(sum(cents(col("o_totalprice"))).cast("double")
          / count(col("o_totalprice")) / 100).as("avg_price"))
        .orderBy("o_orderpriority", "bin")
    },
    Some("""WITH bounds AS (
              SELECT o_orderpriority,
                     CAST(round(CAST(quantile_cont(o_totalprice, 0.25)
                       AS DECIMAL(30,8)), 2) AS DOUBLE) AS q1,
                     CAST(round(CAST(quantile_cont(o_totalprice, 0.5)
                       AS DECIMAL(30,8)), 2) AS DOUBLE) AS q2,
                     CAST(round(CAST(quantile_cont(o_totalprice, 0.75)
                       AS DECIMAL(30,8)), 2) AS DOUBLE) AS q3
              FROM orders GROUP BY o_orderpriority)
            SELECT o.o_orderpriority,
                   CAST(CASE WHEN o.o_totalprice <= b.q1 THEN 1
                             WHEN o.o_totalprice <= b.q2 THEN 2
                             WHEN o.o_totalprice <= b.q3 THEN 3
                             ELSE 4 END AS INT) AS bin,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(round(CAST(CAST(sum(CAST(round(o.o_totalprice * 100)
                       AS BIGINT)) AS DOUBLE) / count(o.o_totalprice) / 100
                     AS DECIMAL(30,8)), 2) AS DOUBLE) AS avg_price
            FROM orders o JOIN bounds b USING (o_orderpriority)
            GROUP BY 1, 2 ORDER BY o_orderpriority, bin"""))

  /** Sequence packing — concatenate documents into fixed-token-budget
    * training sequences. Real pipelines pack greedily per shard (never
    * globally: a global pack order would be a single-task sort); here
    * shard = md5-bucket(doc_id) mod 16, docs are packed in doc_id order
    * within their shard, and a doc's pack is the exclusive-prefix token
    * count div the 512-token budget (pack boundaries at budget multiples
    * of cumulative token space — the streaming-packer semantics). One
    * window per shard; shards are the parallelism unit, so a production
    * run sets the shard count ≈ cluster task slots (16 here is a test-SF
    * constant baked into the oracle, not a design limit — the md5 bucket
    * arithmetic scales to any modulus).
    */
  private val qPackSequences = GQuery(
    (s, d) => {
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "documents")
        .select(col("doc_id"),
          pmod(DedupOps.hex4(col("doc_id").cast("string")), lit(16)).as("shard"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("cum", sum("n_tokens").over(w))
        .withColumn("pack_id", expr("(cum - n_tokens) div 512"))
        .groupBy("shard", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .orderBy("shard", "pack_id")
    },
    Some(s"""WITH toks AS (
              SELECT doc_id,
                     CAST(${DedupOps.duckHex4("md5(CAST(doc_id AS VARCHAR))")} % 16
                       AS BIGINT) AS shard,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
              FROM documents),
            c AS (
              SELECT *, sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM toks)
            SELECT shard, CAST((cum - n_tokens) // 512 AS BIGINT) AS pack_id,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
                   min(doc_id) AS first_doc, max(doc_id) AS last_doc
            FROM c GROUP BY 1, 2 ORDER BY shard, pack_id"""))

  /** The end-to-end corpus-prep pipeline as ONE composed query — the
    * engine's whole training-data story chained: normalize (lower+trim) →
    * quality filter (≥5 tokens) → exact dedup (md5 of normalized text,
    * lowest doc_id wins) → near-dup removal (first-5-token prefix block,
    * lowest doc_id wins — the q_text_shingle_dup blocking) → deterministic
    * hash split → per-split stats. Every stage is an operator proven
    * individually elsewhere; this pins that they COMPOSE: three shuffles
    * total (two dedup windows + the final 3-group agg), tokens computed
    * once and carried as a column (CLAUDE.md HOF rule).
    */
  private val qCorpusPipeline = GQuery(
    (s, d) => {
      val wExact = Window.partitionBy("h").orderBy("doc_id")
      val wBlock = Window.partitionBy("prefix").orderBy("doc_id")
      val bucket = pmod(DedupOps.hex4(col("doc_id").cast("string")), lit(100))
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"), lower(trim(col("text"))).as("norm"))
        .withColumn("toks", split(col("norm"), " "))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .filter(col("n_tokens") >= 5)
        .withColumn("h", md5(col("norm")))
        .withColumn("rn", row_number().over(wExact))
        .filter(col("rn") === 1)
        .withColumn("prefix", array_join(slice(col("toks"), 1, 5), " "))
        .withColumn("rb", row_number().over(wBlock))
        .filter(col("rb") === 1)
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("sum_tokens"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("split")
    },
    Some(s"""WITH norm AS (
              SELECT doc_id, lang, lower(trim(text)) AS norm,
                     string_split(lower(trim(text)), ' ') AS toks
              FROM documents),
            tok AS (
              SELECT *, CAST(len(toks) AS BIGINT) AS n_tokens
              FROM norm WHERE len(toks) >= 5),
            exact AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY md5(norm)
                            ORDER BY doc_id) AS rn
                FROM tok) WHERE rn = 1),
            blocked AS (
              SELECT * FROM (
                SELECT *, row_number() OVER (
                            PARTITION BY array_to_string(list_slice(toks, 1, 5), ' ')
                            ORDER BY doc_id) AS rb
                FROM exact) WHERE rb = 1),
            sp AS (
              SELECT CASE WHEN b < 80 THEN 'train'
                          WHEN b < 90 THEN 'val'
                          ELSE 'test' END AS split,
                     n_tokens, lang
              FROM (SELECT *,
                      ${DedupOps.duckHex4("md5(CAST(doc_id AS VARCHAR))")} % 100 AS b
                    FROM blocked))
            SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
                   CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
            FROM sp GROUP BY split ORDER BY split"""))

  // ----------------------------- correlated scalar / IN / EXISTS subqueries --

  /** Scalar subqueries in the SELECT list + IN and NOT EXISTS filters.
    * Catalyst decorrelates all three to joins (RewriteCorrelatedScalarSubquery
    * → left outer + agg; RewritePredicateSubquery → semi/anti) — no per-row
    * re-execution, unlike a naive interpreter.
    */
  private val qSubqueryExistsIn = GQuery(
    (s, d) => {
      t(s, d, "customer").createOrReplaceTempView("graft_cust_sq")
      t(s, d, "orders").createOrReplaceTempView("graft_ord_sq")
      s.sql("""SELECT c_custkey,
                      (SELECT count(*) FROM graft_ord_sq o
                        WHERE o.o_custkey = c.c_custkey) AS n_orders,
                      (SELECT CAST(round(CAST(max(o_totalprice) AS DECIMAL(30,8)), 2)
                              AS DOUBLE)
                         FROM graft_ord_sq o WHERE o.o_custkey = c.c_custkey)
                        AS max_price
               FROM graft_cust_sq c
               WHERE c_custkey IN (SELECT o_custkey FROM graft_ord_sq
                                    WHERE o_orderpriority = '1-URGENT')
                 AND NOT EXISTS (SELECT 1 FROM graft_ord_sq o2
                                  WHERE o2.o_custkey = c.c_custkey
                                    AND o2.o_orderstatus = 'P')
               ORDER BY c_custkey""")
    },
    Some("""SELECT c_custkey,
                   (SELECT CAST(count(*) AS BIGINT) FROM orders o
                     WHERE o.o_custkey = c.c_custkey) AS n_orders,
                   (SELECT CAST(round(CAST(max(o_totalprice) AS DECIMAL(30,8)), 2)
                           AS DOUBLE)
                      FROM orders o WHERE o.o_custkey = c.c_custkey) AS max_price
            FROM customer c
            WHERE c_custkey IN (SELECT o_custkey FROM orders
                                 WHERE o_orderpriority = '1-URGENT')
              AND NOT EXISTS (SELECT 1 FROM orders o2
                               WHERE o2.o_custkey = c.c_custkey
                                 AND o2.o_orderstatus = 'P')
            ORDER BY c_custkey"""))

  // ------------------------------------------------------- lateral join --

  /** LATERAL correlated subquery with per-row ORDER BY + LIMIT (top-2 orders
    * per customer). Catalyst plans this as a LateralJoin and decorrelates the
    * limit into a partitioned window — one shuffle, not one subquery per row.
    * The inner ordering is tie-free (price DESC, then unique orderkey).
    */
  private val qJoinLateral = GQuery(
    (s, d) => {
      t(s, d, "customer").createOrReplaceTempView("graft_cust_lat")
      t(s, d, "orders").createOrReplaceTempView("graft_ord_lat")
      s.sql("""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice AS price
               FROM graft_cust_lat c,
               LATERAL (SELECT o_orderkey, o_totalprice FROM graft_ord_lat
                         WHERE o_custkey = c.c_custkey
                         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
               ORDER BY c_custkey, o_orderkey""")
    },
    Some("""SELECT c.c_custkey, o.o_orderkey, o.o_totalprice AS price
            FROM customer c,
            LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                      WHERE o_custkey = c.c_custkey
                      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
            ORDER BY c_custkey, o_orderkey"""))

  // ---------------------------------------------------- theta (band) join --

  /** Pure-inequality join: orders banded into 50k-wide price buckets via a
    * 10-row band dimension. No equi-key exists, so Spark picks
    * BroadcastNestedLoopJoin — correct and cheap BECAUSE the build side is
    * tiny and broadcast (10 rows × N orders probes). The anti-pattern at
    * scale is NLJ between two big sides; banding against a small dimension
    * is the legitimate use (plan shape pinned in PlanShapeSpec).
    */
  private val qJoinThetaBand = GQuery(
    (s, d) => {
      val bands = s.range(0, 10).select(
        col("id").cast("int").as("band_id"),
        (col("id") * 50000.0).as("lo"),
        ((col("id") + 1) * 50000.0).as("hi"))
      t(s, d, "orders")
        .join(broadcast(bands),
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy("band_id")
        .agg(count(lit(1)).as("n"), dround(sum(cents(col("o_totalprice"))).cast("double") / 100).as("sum_price"))
        .orderBy("band_id")
    },
    Some("""WITH bands AS (
              SELECT CAST(i AS INT) AS band_id, i * 50000.0 AS lo,
                     (i + 1) * 50000.0 AS hi
              FROM generate_series(0, 9) t(i))
            SELECT band_id, CAST(count(*) AS BIGINT) AS n,
                   CAST(round(CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS DECIMAL(30,8)), 2)
                        AS DOUBLE) AS sum_price
            FROM orders JOIN bands
              ON o_totalprice >= lo AND o_totalprice < hi
            GROUP BY band_id ORDER BY band_id"""))

  // -------------------------------------------------- text normalization --

  /** Canonical text normalization (case-fold, punctuation→space, whitespace
    * collapse, trim) — the first stage of every dedup/quality pipeline.
    * Single codegen'd map pass; emits lengths + a bounded prefix so the t2
    * output stays hashable without carrying full normalized bodies.
    */
  private val qTextNormalize = GQuery(
    (s, d) => {
      val norm = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      t(s, d, "documents")
        .select(col("doc_id"), norm.as("norm"))
        .select(col("doc_id"),
          length(col("norm")).as("n_chars"),
          size(split(col("norm"), " ")).as("n_toks"),
          substring(col("norm"), 1, 40).as("prefix"))
        .orderBy("doc_id")
    },
    Some("""WITH n AS (
              SELECT doc_id,
                     trim(regexp_replace(regexp_replace(lower(text),
                       '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
              FROM documents)
            SELECT doc_id, CAST(length(norm) AS INT) AS n_chars,
                   CAST(len(string_split(norm, ' ')) AS INT) AS n_toks,
                   substr(norm, 1, 40) AS prefix
            FROM n ORDER BY doc_id"""))

  // -------------------------------------------------- funnel conversion --

  /** Click→purchase funnel: per user with ≥1 click, the first click and the
    * first purchase at-or-after it, plus a 1-hour conversion flag. Epoch
    * seconds throughout (the cross-engine events-timestamp anchor). Shape at
    * scale: one agg by user (clicks) + one shuffled left join to the purchase
    * stream re-aggregated by user — both exchanges hash on user_id, so AQE
    * reuses the partitioning.
    */
  private val qFunnelEvents = GQuery(
    (s, d) => {
      val ev = t(s, d, "events").select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("ts_sec"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id").agg(min("ts_sec").as("first_click"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_uid"), col("ts_sec").as("p_sec"))
      clicks.join(purch,
          col("user_id") === col("p_uid") && col("p_sec") >= col("first_click"),
          "left")
        .groupBy("user_id", "first_click")
        .agg(min("p_sec").as("first_purchase"))
        .select(col("user_id"), col("first_click"), col("first_purchase"),
          (col("first_purchase").isNotNull &&
            col("first_purchase") <= col("first_click") + 3600)
            .as("converted_1h"))
        .orderBy("user_id")
    },
    Some("""WITH e AS (
              SELECT user_id, event_type,
                     CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_sec
              FROM events),
            c AS (SELECT user_id, min(ts_sec) AS first_click
                  FROM e WHERE event_type = 'click' GROUP BY user_id),
            p AS (SELECT c.user_id, c.first_click, min(e.ts_sec) AS first_purchase
                  FROM c LEFT JOIN e
                    ON e.user_id = c.user_id AND e.event_type = 'purchase'
                   AND e.ts_sec >= c.first_click
                  GROUP BY c.user_id, c.first_click)
            SELECT user_id, first_click, first_purchase,
                   (first_purchase IS NOT NULL
                    AND first_purchase <= first_click + 3600) AS converted_1h
            FROM p ORDER BY user_id"""))

  // ---------------------------------------------------- cohort retention --

  /** Cohort retention: users grouped by first-active day, distinct actives
    * per (cohort_day, day_offset ≤ 14). The cohort table is keyed on user_id
    * by the same groupBy that feeds the join, so the exchange is reused; the
    * final countDistinct is the only re-shuffle.
    */
  private val qRetentionCohort = GQuery(
    (s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val cohort = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
      ev.join(cohort, "user_id")
        .select(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).as("day_offset"),
          col("user_id"))
        .filter(col("day_offset") <= 14)
        .groupBy("cohort_day", "day_offset")
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort_day", "day_offset")
    },
    Some("""WITH e AS (
              SELECT user_id, CAST(ts AS DATE) AS day FROM events),
            c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id),
            j AS (SELECT c.cohort_day,
                         CAST(date_diff('day', c.cohort_day, e.day) AS INT)
                           AS day_offset,
                         e.user_id
                  FROM e JOIN c USING (user_id))
            SELECT cohort_day, day_offset,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM j WHERE day_offset <= 14
            GROUP BY cohort_day, day_offset
            ORDER BY cohort_day, day_offset"""))

  /** Weighted (mixture/temperature) sampling for corpus composition — the
    * data-mixing primitive: each language gets a mixing weight and each doc
    * keeps with that probability. Unlike q_sample_stratified's seeded RNG
    * (Spark-internal, bounds-checked oracle), the coin here is the doc's
    * OWN hash — `hex4(md5(doc_id)) < w·65536` — which makes the sample (a)
    * cross-engine EXACT (the oracle hash-matches kept counts and kept
    * tokens, not 5σ bounds), (b) reproducible across reruns and engines,
    * and (c) stable under corpus appends (a new doc's fate never reshuffles
    * old docs) — the property a resumable 100-TB ingest actually needs.
    * Map-only except the 5-row final agg.
    */
  private val qSampleWeighted = GQuery(
    (s, d) => {
      import graft.operators.DedupOps.hex4
      val w = when(col("lang") === "en", 0.9).when(col("lang") === "zh", 0.7)
        .when(col("lang") === "es", 0.5).when(col("lang") === "de", 0.4)
        .when(col("lang") === "fr", 0.3).otherwise(0.2)
      t(s, d, "documents")
        .select(col("lang"), col("doc_id"),
          size(split(lower(col("text")), " ")).as("ntok"))
        .withColumn("keep",
          hex4(col("doc_id").cast("string")) < w * 65536)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_total"),
          sum(col("keep").cast("long")).as("n_kept"),
          sum(when(col("keep"), col("ntok")).otherwise(0)).cast("long")
            .as("tok_kept"))
        .orderBy("lang")
    },
    Some {
      val h = graft.operators.DedupOps.duckHex4("md5(CAST(doc_id AS VARCHAR))")
      val w = """CASE lang WHEN 'en' THEN 0.9 WHEN 'zh' THEN 0.7
                           WHEN 'es' THEN 0.5 WHEN 'de' THEN 0.4
                           WHEN 'fr' THEN 0.3 ELSE 0.2 END"""
      s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_total,
                 CAST(sum(CASE WHEN $h < ($w) * 65536 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_kept,
                 CAST(sum(CASE WHEN $h < ($w) * 65536
                   THEN len(string_split(lower(text), ' ')) ELSE 0 END)
                   AS BIGINT) AS tok_kept
          FROM documents GROUP BY lang ORDER BY lang"""
    })

  /** PPSWOR — weighted sampling WITHOUT replacement via the exponential
    * race (Efraimidis–Spirakis 2006), the distributed form of "pick k docs
    * with probability proportional to size": each doc draws
    * key = −ln(u)/w (u from its own md5, w = token count) and the k
    * SMALLEST keys are exactly a PPS sample without replacement — no
    * sequential urn, no global state, any worker computes its own keys.
    * Complements q_sample_weighted (independent Bernoulli coins, no size
    * cap) with the fixed-k, inclusion-∝-weight contract a token-budgeted
    * corpus draw needs.
    *
    * Determinism: u is the engine's hash-seeded exact rational
    * (2·u16+1)/131072 (the q_privacy_dp idiom — never 0 or 1), the key
    * quantizes once to nano units through the mirrored ln chain, and
    * doc_id breaks ties — the sample is replayable and append-stable
    * (a new doc never changes old keys, only the cut).
    *
    * Scale: map-only key computation + TakeOrdered(k) — no shuffle beyond
    * the per-partition heaps; the same plan at any corpus size.
    */
  private val qSamplePpswor = GQuery(
    (s, d) => {
      import graft.operators.DedupOps.hex4
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          size(split(lower(col("text")), " ")).cast("long").as("w"))
      val u16 = hex4(concat(col("doc_id").cast("string"), lit(":pps")))
      val keyNano = round(
        -log((u16 * 2 + 1).cast("double") / 131072.0)
          / col("w").cast("double") * 1e9).cast("long")
      docs.select(col("doc_id"), col("lang"), col("w"),
          keyNano.as("key_nano"))
        .orderBy(col("key_nano").asc, col("doc_id").asc)
        .limit(20)
    },
    Some {
      val h = graft.operators.DedupOps
        .duckHex4("md5(CAST(doc_id AS VARCHAR) || ':pps')")
      s"""WITH k AS (
            SELECT doc_id, lang,
                   CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS w,
                   CAST(round(
                     -ln(CAST(($h) * 2 + 1 AS DOUBLE) / 131072.0)
                     / CAST(len(string_split(lower(text), ' ')) AS DOUBLE)
                     * 1e9) AS BIGINT) AS key_nano
            FROM documents)
          SELECT doc_id, lang, w, key_nano FROM k
          ORDER BY key_nano ASC, doc_id ASC LIMIT 20"""
    })

  /** Time-series resampling + forward fill — regularize an irregular event
    * stream onto a per-user hourly grid, carrying the last observation
    * forward into empty cells (LOCF): the feature-pipeline primitive behind
    * "state of user U at time T" training features. The grid is generated
    * per user from its own [min, max] hour span (`sequence` + explode —
    * linear in cells, no cross-user blowup), the per-hour observation is a
    * dround'd avg, and the fill is `last(v, ignoreNulls)` over an
    * unbounded-preceding row window — per-user ordered state, exactly the
    * partitioning a 1000-executor run wants (one user never spans tasks;
    * grid cells per user are bounded by the retention window). Leading
    * cells are always observed (the grid starts at the user's first event),
    * so the fill is total.
    */
  private val qEventsResample = GQuery(
    (s, d) => {
      val e = t(s, d, "events").filter(col("user_id") < 5)
        .select(col("user_id"), date_trunc("hour", col("ts")).as("hr"),
          col("value"))
      val hourly = e.groupBy("user_id", "hr")
        .agg(dround(sum(cents(col("value"))).cast("double")
          / count(col("value")) / 100, 4).as("v_obs"))
      val grid = hourly.groupBy("user_id")
        .agg(min("hr").as("h0"), max("hr").as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR")))
            .as("hr"))
      val w = Window.partitionBy("user_id").orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
      grid.join(hourly, Seq("user_id", "hr"), "left")
        .withColumn("v_fill", last(col("v_obs"), ignoreNulls = true).over(w))
        .select(col("user_id"), col("hr").cast("timestamp_ntz").as("hour_ts"),
          col("v_obs").isNotNull.as("observed"), col("v_fill"))
        .orderBy("user_id", "hour_ts")
    },
    Some("""WITH e AS (
              SELECT user_id, date_trunc('hour', ts) AS hr, value
              FROM events WHERE user_id < 5),
            hourly AS (
              SELECT user_id, hr,
                     CAST(round(CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / count(value) / 100 AS DECIMAL(30,8)), 4) AS DOUBLE)
                       AS v_obs
              FROM e GROUP BY 1, 2),
            span AS (SELECT user_id, min(hr) AS h0, max(hr) AS h1
                     FROM hourly GROUP BY 1),
            grid AS (
              SELECT user_id,
                     unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr
              FROM span)
            SELECT g.user_id, g.hr AS hour_ts,
                   h.v_obs IS NOT NULL AS observed,
                   last_value(h.v_obs IGNORE NULLS) OVER (
                     PARTITION BY g.user_id ORDER BY g.hr
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_fill
            FROM grid g LEFT JOIN hourly h
              ON h.user_id = g.user_id AND h.hr = g.hr
            ORDER BY g.user_id, hour_ts"""))

  /** Numeric outlier flagging (3σ rule) — the value-cleaning gate a feature
    * pipeline runs before training statistics. The per-type μ/σ run as
    * their own tiny aggregation (partial-merge, 5 rows) whose outputs are
    * dround'd to 6 digits BEFORE the comparison: both engines then compare
    * raw parquet doubles against bit-identical thresholds, so the flags —
    * and therefore the outlier counts and extremes — hash-match exactly
    * (the trick that turns an ε-sensitive predicate into a t2-gateable
    * one). Data path is map-only against the broadcast 5-row stats.
    */
  /** Mahalanobis-distance multivariate outliers over (value cents,
    * hour-of-day) — the CORRELATION-AWARE screen the univariate z-rules
    * (q_events_outliers) can't be: a $40 purchase at 3am may be normal on
    * both marginals yet far from the joint cloud. The 2×2 covariance
    * comes from exact DECIMAL(38) moments; its inverse is the closed-form
    * adjugate (no iteration), and d² = Δᵀ Σ⁻¹ Δ runs through ONE mirrored
    * fp chain quantized to micro BEFORE ranking (drounded doubles →
    * integer ordering key, (d², event_id) total order — the hash-stable
    * top-20 rule). Top 20 most anomalous events with their coordinates.
    *
    * Scale: one moment agg (1-row broadcast) + a corpus-linear scoring
    * pass + TakeOrdered — the covariance never materializes per row, and
    * at p > 2 dimensions the same plan inverts the p×p matrix driver-side
    * (p is a schema constant, not data).
    */
  private val qStatsMahalanobis = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val ev = t(s, d, "events")
        .select(col("event_id"), col("event_type"), cents.as("x"),
          hour(col("ts")).cast("long").as("y"))
        .localCheckpoint(true) // feeds the moment agg AND the scoring pass
      val mom = ev.agg(count(lit(1L)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
          sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
          sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"))
        .withColumn("j", lit(1))
      // means and central covariance entries, then the adjugate inverse:
      // inv = 1/det * [ cyy  -cxy; -cxy  cxx ]
      def m(sc: String) = s"(CAST($sc AS DOUBLE) / CAST(n AS DOUBLE))"
      def c(spq: String, sa: String, sb: String) =
        s"(CAST($spq AS DOUBLE) / CAST(n AS DOUBLE) - ${m(sa)} * ${m(sb)})"
      val scored = ev.withColumn("j", lit(1)).join(broadcast(mom), "j")
        .withColumn("md2", expr(
          s"""((CAST(x AS DOUBLE) - ${m("sx")}) * (CAST(x AS DOUBLE) - ${m("sx")})
                 * ${c("syy", "sy", "sy")}
               - 2.0 * (CAST(x AS DOUBLE) - ${m("sx")})
                 * (CAST(y AS DOUBLE) - ${m("sy")}) * ${c("sxy", "sx", "sy")}
               + (CAST(y AS DOUBLE) - ${m("sy")}) * (CAST(y AS DOUBLE) - ${m("sy")})
                 * ${c("sxx", "sx", "sx")})
              / (${c("sxx", "sx", "sx")} * ${c("syy", "sy", "sy")}
                 - ${c("sxy", "sx", "sy")} * ${c("sxy", "sx", "sy")})"""))
        .withColumn("md2_micro",
          floor(dround(col("md2"), 8) * 1e6 + 0.5).cast("long"))
      scored.select(col("event_id"), col("event_type"), col("x").as("cents"),
          col("y").as("hod"), col("md2_micro"))
        .orderBy(col("md2_micro").desc, col("event_id").asc)
        .limit(20)
        .orderBy(col("md2_micro").desc, col("event_id").asc)
    },
    Some {
      def m(sc: String) = s"(CAST($sc AS DOUBLE) / CAST(n AS DOUBLE))"
      def c(spq: String, sa: String, sb: String) =
        s"(CAST($spq AS DOUBLE) / CAST(n AS DOUBLE) - ${m(sa)} * ${m(sb)})"
      s"""WITH ev AS (
              SELECT event_id, event_type,
                     CAST(round(value * 100) AS BIGINT) AS x,
                     CAST(hour(ts) AS BIGINT) AS y
              FROM events),
            mom AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(y) AS BIGINT) AS sy,
                     sum(CAST(x AS HUGEINT) * x) AS sxx,
                     sum(CAST(x AS HUGEINT) * y) AS sxy,
                     sum(CAST(y AS HUGEINT) * y) AS syy
              FROM ev),
            scored AS (
              SELECT e.event_id, e.event_type, e.x, e.y,
                     ((CAST(e.x AS DOUBLE) - ${m("sx")})
                        * (CAST(e.x AS DOUBLE) - ${m("sx")})
                        * ${c("syy", "sy", "sy")}
                      - 2.0 * (CAST(e.x AS DOUBLE) - ${m("sx")})
                        * (CAST(e.y AS DOUBLE) - ${m("sy")})
                        * ${c("sxy", "sx", "sy")}
                      + (CAST(e.y AS DOUBLE) - ${m("sy")})
                        * (CAST(e.y AS DOUBLE) - ${m("sy")})
                        * ${c("sxx", "sx", "sx")})
                     / (${c("sxx", "sx", "sx")} * ${c("syy", "sy", "sy")}
                        - ${c("sxy", "sx", "sy")} * ${c("sxy", "sx", "sy")})
                       AS md2
              FROM ev e, mom)
            SELECT event_id, event_type, x AS cents, y AS hod,
                   CAST(floor(CAST(round(CAST(md2 AS DECIMAL(30,8)), 8)
                     AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS md2_micro
            FROM scored
            ORDER BY md2_micro DESC, event_id ASC LIMIT 20"""
    })

  private val qEventsOutliers = GQuery(
    (s, d) => {
      val e = t(s, d, "events").select(col("event_type"), col("value"))
      // exact-moment sigma (engines implement stddev_samp with DIFFERENT
      // accumulation algorithms — drift routinely exceeds the dround
      // snap): (nΣc² − (Σc)²) is an exact DECIMAL(38) in cents², and the
      // sqrt/divide chain on identical inputs is IEEE-identical
      val stats = e.groupBy("event_type")
        .agg(count(col("value")).as("nv"),
          sum(cents(col("value")).cast("decimal(38,0)")).as("s1"),
          sum((cents(col("value")) * cents(col("value")))
            .cast("decimal(38,0)")).as("s2"))
        .select(col("event_type"),
          dround(col("s1").cast("double") / col("nv") / 100, 6).as("mu"),
          dround(when(col("nv") > 1,
            sqrt((col("nv") * col("s2") - col("s1") * col("s1"))
              .cast("double") / col("nv") / (col("nv") - 1)) / 100), 6)
            .as("sigma"))
      e.join(broadcast(stats), "event_type")
        .withColumn("is_out",
          col("value") > col("mu") + lit(3.0) * col("sigma") ||
          col("value") < col("mu") - lit(3.0) * col("sigma"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_total"),
          // when/otherwise, not a bare cast: a single-row group has NULL
          // sigma ⇒ NULL is_out, and the oracle's CASE counts that as 0
          sum(when(col("is_out"), 1L).otherwise(0L)).as("n_outliers"),
          max(when(col("is_out"), col("value"))).as("max_outlier"))
        .orderBy("event_type")
    },
    Some("""WITH m AS (
              SELECT event_type, CAST(count(value) AS BIGINT) AS nv,
                     sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT))
                       AS s1,
                     sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
                       * CAST(round(value * 100) AS BIGINT)) AS s2
              FROM events GROUP BY event_type),
            stats AS (
              SELECT event_type,
                     CAST(round(CAST(CAST(s1 AS DOUBLE) / nv / 100
                       AS DECIMAL(30,8)), 6) AS DOUBLE) AS mu,
                     CASE WHEN nv > 1 THEN
                       CAST(round(CAST(sqrt(CAST(nv * s2 - s1 * s1 AS DOUBLE)
                         / nv / (nv - 1)) / 100 AS DECIMAL(30,8)), 6)
                         AS DOUBLE) END AS sigma
              FROM m),
            flagged AS (
              SELECT e.event_type, e.value,
                     e.value > s.mu + 3.0 * s.sigma OR
                     e.value < s.mu - 3.0 * s.sigma AS is_out
              FROM events e JOIN stats s USING (event_type))
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_total,
                   CAST(sum(CASE WHEN is_out THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_outliers,
                   max(CASE WHEN is_out THEN value END) AS max_outlier
            FROM flagged GROUP BY event_type ORDER BY event_type"""))

  /** Time-series similarity search (the EDBT'19 streaming-similarity shape,
    * PAPERS.md): each user active on 2024-01-01 becomes a 24-dim hourly
    * activity vector (dround'd hour avgs on a dense grid, silent hours = 0),
    * and each probe user (id < 3) finds its top-3 most-similar users by
    * squared Euclidean distance. Vector building is two bounded aggs
    * (hour avg, then per-user assembly via array_sort of the 24 (h, v)
    * structs — collect_list alone is order-nondeterministic); scoring is
    * the brute baseline: broadcast probes × users, map-only, then a top-k
    * window — the same economics as q_embed_knn, and the same LSH/IVF
    * escalation path applies unchanged because the series IS an embedding.
    * Distances are exact cross-engine: identical dround'd inputs folded in
    * identical sequential order (Spark `aggregate` ≡ DuckDB `list_reduce`),
    * then dround'd for presentation.
    */
  private val qSeriesSimilarity = GQuery(
    (s, d) => {
      val e = t(s, d, "events")
        .filter(to_date(col("ts")) === lit("2024-01-01"))
        .select(col("user_id"), hour(col("ts")).as("h"), col("value"))
      val hourly = e.groupBy("user_id", "h")
        .agg(dround(sum(cents(col("value"))).cast("double")
          / count(col("value")) / 100, 4).as("v"))
      val grid = hourly.select("user_id").distinct()
        .select(col("user_id"), explode(sequence(lit(0), lit(23))).as("h"))
      val series = grid.join(hourly, Seq("user_id", "h"), "left")
        .groupBy("user_id")
        .agg(array_sort(collect_list(
          struct(col("h"), coalesce(col("v"), lit(0.0)).as("v")))).as("hv"))
        .select(col("user_id"),
          transform(col("hv"), x => x.getField("v")).as("series"))
      val probes = series.filter(col("user_id") < 3)
        .select(col("user_id").as("p_id"), col("series").as("p_series"))
      val w = Window.partitionBy("p_id").orderBy(col("dist").asc, col("n_id").asc)
      series.crossJoin(broadcast(probes))
        .filter(col("user_id") =!= col("p_id"))
        .select(col("p_id"), col("user_id").as("n_id"),
          aggregate(zip_with(col("p_series"), col("series"),
            (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)
            .as("dist"))
        .withColumn("rk", row_number().over(w).cast("int"))
        .filter(col("rk") <= 3)
        .select(col("p_id"), col("n_id"), col("rk"),
          dround(col("dist"), 4).as("dist"))
        .orderBy("p_id", "rk")
    },
    Some("""WITH e AS (
              SELECT user_id, extract(hour FROM ts) AS h, value
              FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-01'),
            hourly AS (
              SELECT user_id, h,
                     CAST(round(CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / count(value) / 100 AS DECIMAL(30,8)), 4) AS DOUBLE)
                       AS v
              FROM e GROUP BY 1, 2),
            grid AS (
              SELECT u.user_id, g.h
              FROM (SELECT DISTINCT user_id FROM hourly) u,
                   (SELECT unnest(generate_series(0, 23)) AS h) g),
            series AS (
              SELECT g.user_id,
                     array_agg(coalesce(h2.v, 0.0) ORDER BY g.h) AS series
              FROM grid g LEFT JOIN hourly h2
                ON h2.user_id = g.user_id AND h2.h = g.h
              GROUP BY g.user_id),
            scored AS (
              SELECT p.user_id AS p_id, n.user_id AS n_id,
                     list_reduce(list_transform(generate_series(1, 24),
                       i -> (p.series[i] - n.series[i])
                          * (p.series[i] - n.series[i])),
                       (x, y) -> x + y) AS dist
              FROM series p JOIN series n ON n.user_id <> p.user_id
              WHERE p.user_id < 3),
            ranked AS (
              SELECT p_id, n_id, dist,
                     row_number() OVER (PARTITION BY p_id
                       ORDER BY dist ASC, n_id ASC) AS rk
              FROM scored)
            SELECT p_id, n_id, CAST(rk AS INT) AS rk,
                   CAST(round(CAST(dist AS DECIMAL(30,8)), 4) AS DOUBLE) AS dist
            FROM ranked WHERE rk <= 3 ORDER BY p_id, rk"""))

  // ------------------------------------------- exact-k reservoir sample --

  /** Deterministic k-per-stratum reservoir sample (k=64 per lang) — the
    * bottom-k-by-priority formulation of reservoir sampling: assign each doc
    * the priority `hex4(md5(doc_id || ':rsv'))` (salted so this sampler is
    * independent of every other hash-coin in the engine) and keep the k
    * smallest per stratum. Complements the two existing samplers:
    * q_sample_stratified draws a FRACTION, q_sample_weighted a Bernoulli
    * coin — this one returns an EXACT count per group, the contract a
    * fixed-size eval set needs. Same determinism dividends: membership is a
    * pure function of the key, so re-runs, engine swaps, and corpus appends
    * never reshuffle the choice (a new doc displaces at most the current
    * rank-k member).
    *
    * At scale: `row_number <= k` after a window is exactly the shape
    * Spark's WindowGroupLimit rewrite targets — every map task pre-filters
    * to its local top-k per stratum BEFORE the exchange, so the shuffle
    * carries O(k × tasks) rows, not the corpus (plan-pinned in
    * PlanShapeSpec).
    */
  private val qSampleReservoir = GQuery(
    (s, d) => {
      val w = Window.partitionBy("lang").orderBy(col("pri"), col("doc_id"))
      t(s, d, "documents")
        .select(col("lang"), col("doc_id"),
          DedupOps.hex4(concat(col("doc_id").cast("string"), lit(":rsv")))
            .as("pri"))
        .withColumn("rk", row_number().over(w).cast("int"))
        .filter(col("rk") <= 64)
        .select(col("lang"), col("rk"), col("doc_id"))
        .orderBy("lang", "rk")
    },
    Some(s"""WITH p AS (
              SELECT lang, doc_id,
                     ${DedupOps.duckHex4("md5(CAST(doc_id AS VARCHAR) || ':rsv')")}
                       AS pri
              FROM documents),
            r AS (
              SELECT lang, doc_id,
                     row_number() OVER (PARTITION BY lang
                       ORDER BY pri, doc_id) AS rk
              FROM p)
            SELECT lang, CAST(rk AS INT) AS rk, doc_id
            FROM r WHERE rk <= 64 ORDER BY lang, rk"""))

  // ------------------------------------------- token-budget selection --

  /** Per-source token-budget curation: rank each source's docs by quality
    * (longest-first here; the key is pluggable) and keep the greedy prefix
    * whose cumulative token count fits the budget — "give me the best
    * 800 tokens per domain", the selection step between scoring and
    * training-mix assembly.
    *
    * The naive form is one cumulative-sum window per source — and a source
    * is a SKEWED partition at corpus scale (one crawl domain can be half
    * the data), so that window serializes. This implementation is the
    * two-level decomposition (same trick as q_dist_histogram): (1) bucket
    * docs by coarse quality (n_chars div 16 — bucket order refines the
    * greedy order), (2) prefix-sum TOKEN TOTALS over the tiny
    * (source × bucket) table, (3) broadcast that back: buckets whose
    * running total fits are kept outright map-side, buckets past the
    * budget are dropped map-side, and ONLY the single boundary bucket per
    * source pays a fine-grained window — over 1/n_buckets of the skewed
    * partition. Decomposition is exact because the bucket key is a
    * monotone function of the greedy sort key.
    */
  private val qCorpusBudget = GQuery(
    (s, d) => {
      val B = 800L
      val docs = t(s, d, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"),
          size(split(lower(col("text")), " ")).cast("long").as("ntok"),
          expr("n_chars div 16").as("bucket"))
      val wb = Window.partitionBy("source").orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val bpre = docs.groupBy("source", "bucket")
        .agg(sum("ntok").as("btok"))
        .withColumn("pre", sum("btok").over(wb))
        .withColumn("prior", col("pre") - col("btok"))
        .select("source", "bucket", "pre", "prior")
      val j = docs.join(broadcast(bpre), Seq("source", "bucket"))
      val wf = Window.partitionBy("source", "bucket")
        .orderBy(col("n_chars").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val kept = j.filter(col("pre") <= B).select("source", "ntok")
        .unionByName(
          j.filter(col("prior") < B && col("pre") > B)
            .withColumn("fcum", sum("ntok").over(wf))
            .filter(col("prior") + col("fcum") <= B)
            .select("source", "ntok"))
      val totals = t(s, d, "documents").groupBy("source")
        .agg(count(lit(1)).as("n_docs"))
      totals.join(
          kept.groupBy("source").agg(count(lit(1)).as("n_sel"),
            sum("ntok").as("tok_sel")),
          Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_sel"), lit(0L)).as("n_sel"),
          coalesce(col("tok_sel"), lit(0L)).as("tok_sel"))
        .orderBy("source")
    },
    Some("""WITH d AS (
              SELECT source, doc_id, n_chars,
                     CAST(len(string_split(lower(text), ' ')) AS BIGINT)
                       AS ntok
              FROM documents),
            c AS (
              SELECT *, sum(ntok) OVER (PARTITION BY source
                ORDER BY n_chars DESC, doc_id
                ROWS UNBOUNDED PRECEDING) AS cum
              FROM d)
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN cum <= 800 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_sel,
                   CAST(sum(CASE WHEN cum <= 800 THEN ntok ELSE 0 END)
                     AS BIGINT) AS tok_sel
            FROM c GROUP BY source ORDER BY source"""))

  // ------------------------------------------------ skew diagnostics --

  /** Join/shuffle-key skew profiler: per-key cardinality histogram head —
    * the top-10 heavy hitters of a prospective shuffle key with their
    * basis-point share of all rows, plus global (n_rows, n_keys). This is
    * the measurement that DECIDES the mitigations SCALE.md catalogues
    * (salt q_join_salted-style past a share threshold, AQE skew split
    * otherwise): run it on the key before burning a 1000-executor shuffle.
    *
    * Shape: one partial-aggregable count per key, then a GLOBAL top-10 as
    * `orderBy().limit()` — which Spark plans as TakeOrderedAndProject:
    * every map task forwards only its local top-10, so constant rows reach
    * the driver-side merge no matter how many keys exist (a global
    * row_number window would single-task the whole key list instead —
    * Spark's WindowGroupLimit rewrite needs a PARTITIONED rank). The rank
    * is then a window over the 10 surviving rows. Share is integer basis
    * points (cnt·10000 div total) — hash-exact, no float division.
    */
  private val qProfileSkew = GQuery(
    (s, d) => {
      val counts = t(s, d, "events").groupBy("user_id")
        .agg(count(lit(1)).as("cnt"))
      val tot = counts.agg(sum("cnt").as("n_rows"),
        count(lit(1)).as("n_keys"))
      val w = Window.orderBy(col("cnt").desc, col("user_id"))
      counts.orderBy(col("cnt").desc, col("user_id")).limit(10)
        .withColumn("rk", row_number().over(w).cast("int"))
        .crossJoin(broadcast(tot))
        .select(col("rk"), col("user_id"), col("cnt"),
          expr("cnt * 10000 div n_rows").as("share_bp"),
          col("n_rows"), col("n_keys"))
        .orderBy("rk")
    },
    Some("""WITH c AS (
              SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
              FROM events GROUP BY 1),
            t AS (
              SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
                     CAST(count(*) AS BIGINT) AS n_keys
              FROM c),
            r AS (
              SELECT user_id, cnt,
                     row_number() OVER (ORDER BY cnt DESC, user_id) AS rk
              FROM c)
            SELECT CAST(rk AS INT) AS rk, user_id, cnt,
                   CAST(cnt * 10000 // n_rows AS BIGINT) AS share_bp,
                   n_rows, n_keys
            FROM r, t WHERE rk <= 10 ORDER BY rk"""))

  // ------------------------------------------------ mixture reweighting --

  /** Training-mixture reweighting: given the corpus's actual per-source
    * token distribution, compute each source's sampling weight to hit a
    * TARGET distribution (uniform here; the target vector is pluggable) —
    * the step that turns q_profile_* measurements into the weights
    * q_sample_weighted consumes. Upsampling is capped at 3× (30000 bp),
    * the standard guard against a tiny source being repeated into
    * memorization. Integer basis points end-to-end (shares and weights are
    * `div` fixed-point) — hash-exact, and the weights are append-stable
    * inputs to the hash-coin sampler. Shape: one partial agg to (source),
    * a 1-row total broadcast back — the data path never shuffles twice.
    */
  private val qCorpusMix = GQuery(
    (s, d) => {
      val toks = t(s, d, "documents")
        .select(col("source"),
          size(split(lower(col("text")), " ")).cast("long").as("ntok"))
        .groupBy("source").agg(sum("ntok").as("tok"))
      val tot = toks.agg(sum("tok").as("ttok"), count(lit(1)).as("nsrc"))
      toks.crossJoin(broadcast(tot))
        .select(col("source"), col("tok"),
          expr("tok * 10000 div ttok").as("share_bp"),
          least(lit(30000L), expr("(ttok div nsrc) * 10000 div tok"))
            .as("weight_bp"))
        .orderBy("source")
    },
    Some("""WITH tk AS (
              SELECT source,
                     CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
                       AS tok
              FROM documents GROUP BY 1),
            tot AS (
              SELECT CAST(sum(tok) AS BIGINT) AS ttok,
                     CAST(count(*) AS BIGINT) AS nsrc
              FROM tk)
            SELECT source, tok,
                   CAST(tok * 10000 // ttok AS BIGINT) AS share_bp,
                   CAST(least(30000, (ttok // nsrc) * 10000 // tok)
                     AS BIGINT) AS weight_bp
            FROM tk, tot ORDER BY source"""))

  // ------------------------------------------- seasonal anomaly gate --

  /** Seasonality-aware anomaly detection: the 3-sigma gate of
    * q_events_outliers, but against a PER-(event_type, hour-of-day)
    * baseline instead of a global one — "checkout values are high for
    * 3 AM" flags what a global mean absorbs (and vice versa: a globally
    * extreme value can be normal for peak hour). Baseline cells are
    * dround'd (the outlier gate's determinism rail) and broadcast back;
    * the data path is one partial agg + one map-only flagging pass, and
    * the baseline table is (types × 24) rows at any corpus size.
    */
  private val qEventsSeasonal = GQuery(
    (s, d) => {
      val e = t(s, d, "events")
        .select(col("event_type"), hour(col("ts")).as("hod"), col("value"))
      // exact-moment mu/sigma (the q_events_outliers rail): engines'
      // stddev_samp algorithms drift past the dround snap
      val base = e.groupBy("event_type", "hod")
        .agg(count(col("value")).as("nv"),
          sum(cents(col("value")).cast("decimal(38,0)")).as("s1"),
          sum((cents(col("value")) * cents(col("value")))
            .cast("decimal(38,0)")).as("s2"))
        .select(col("event_type"), col("hod"),
          dround(col("s1").cast("double") / col("nv") / 100, 6).as("mu"),
          dround(when(col("nv") > 1,
            sqrt((col("nv") * col("s2") - col("s1") * col("s1"))
              .cast("double") / col("nv") / (col("nv") - 1)) / 100), 6)
            .as("sigma"))
      e.join(broadcast(base), Seq("event_type", "hod"))
        .withColumn("is_anom",
          col("value") > col("mu") + lit(2.0) * col("sigma") ||
          col("value") < col("mu") - lit(2.0) * col("sigma"))
        .groupBy("event_type", "hod")
        .agg(count(lit(1)).as("n"),
          // when/otherwise, not a bare cast: a single-row cell has NULL
          // sigma ⇒ NULL is_anom, and the oracle's CASE counts that as 0
          sum(when(col("is_anom"), 1L).otherwise(0L)).as("n_anom"),
          dround(max(when(col("is_anom"), col("value"))), 2).as("max_anom"))
        .orderBy("event_type", "hod")
    },
    Some("""WITH e AS (
              SELECT event_type, CAST(extract(hour FROM ts) AS INT) AS hod,
                     value
              FROM events),
            bm AS (
              SELECT event_type, hod, CAST(count(value) AS BIGINT) AS nv,
                     sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT))
                       AS s1,
                     sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
                       * CAST(round(value * 100) AS BIGINT)) AS s2
              FROM e GROUP BY 1, 2),
            base AS (
              SELECT event_type, hod,
                     CAST(round(CAST(CAST(s1 AS DOUBLE) / nv / 100
                       AS DECIMAL(30,8)), 6) AS DOUBLE) AS mu,
                     CASE WHEN nv > 1 THEN
                       CAST(round(CAST(sqrt(CAST(nv * s2 - s1 * s1 AS DOUBLE)
                         / nv / (nv - 1)) / 100 AS DECIMAL(30,8)), 6)
                         AS DOUBLE) END AS sigma
              FROM bm),
            f AS (
              SELECT e.event_type, e.hod, e.value,
                     e.value > b.mu + 2.0 * b.sigma OR
                     e.value < b.mu - 2.0 * b.sigma AS is_anom
              FROM e JOIN base b USING (event_type, hod))
            SELECT event_type, hod, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN is_anom THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_anom,
                   CAST(round(CAST(max(CASE WHEN is_anom THEN value END)
                     AS DECIMAL(30,8)), 2) AS DOUBLE) AS max_anom
            FROM f GROUP BY 1, 2 ORDER BY event_type, hod"""))

  // ------------------------------------------------ CDC log compaction --

  /** CDC log compaction: latest-state-per-key from an out-of-order change
    * log with tombstones — the other half of the CDC story next to
    * q_merge_upsert (which APPLIES a change batch; this one COMPACTS the
    * log itself, the Kafka-compacted-topic / Hudi-MoR read path). Key =
    * user_id, version order = (ts, event_id) — the tie-break makes the
    * order total under same-timestamp replays — and 'error' events act as
    * tombstones: a key whose LATEST version is a tombstone leaves the
    * compacted view entirely.
    *
    * Scale shape: one shuffle on the key; `row_number = 1` triggers
    * WindowGroupLimit, so each map task forwards only its local per-key
    * champion before the exchange — the shuffle carries O(keys), not the
    * log (plan-pinned alongside q_sample_reservoir). The tombstone filter
    * runs AFTER rn=1: a tombstone must suppress the key, not resurrect the
    * previous version.
    */
  private val qEventsCdc = GQuery(
    (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("ts"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("event_type") =!= "error")
        .select(col("user_id"), col("event_type").as("last_type"),
          dround(col("value")).as("last_value"),
          col("ts").cast("timestamp_ntz").as("last_ts"))
        .orderBy("user_id")
    },
    Some("""WITH ranked AS (
              SELECT user_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
              FROM events)
            SELECT user_id, event_type AS last_type,
                   CAST(round(CAST(value AS DECIMAL(30,8)), 2) AS DOUBLE)
                     AS last_value,
                   ts AS last_ts
            FROM ranked WHERE rn = 1 AND event_type <> 'error'
            ORDER BY user_id"""))

  // ------------------------------------- grid-blocked interval overlap --

  /** Interval-overlap join via grid blocking — the scale pattern for joins
    * whose predicate is `a.start <= b.end AND b.start <= a.end` (no equi
    * key at all, where q_join_range at least had user_id to hash on).
    * Naively that's a broadcast-nested-loop touching |A|×|B| pairs; here
    * both interval sets explode to the epoch-HOUR grid cells they cover,
    * the join becomes an equi-join on the cell, and a distinct + exact
    * overlap re-check removes grid artifacts (two intervals can share a
    * cell without overlapping, and an overlapping pair meets in every
    * shared cell — hence the distinct BEFORE emit).
    *
    * Intervals: A = per-(user, day) activity spans (first..last event that
    * day); B = ±30-min incident windows around high-value events
    * (value > 300). Cell fan-out is bounded by construction — ≤25 cells
    * per day-span, ≤2 per incident — which is the knob that keeps the
    * explode linear at 100 TB (pick the grid so span/cell ≈ small const;
    * a skewed mega-interval would instead be split by the same cap logic
    * the dedup blockers use).
    */
  private val qJoinInterval = GQuery(
    (s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("value"),
          to_date(col("ts")).as("day"),
          unix_timestamp(col("ts")).as("ts_sec"))
      val spans = ev.groupBy("user_id", "day")
        .agg(min("ts_sec").as("a_start"), max("ts_sec").as("a_end"))
      val incidents = ev.filter(col("value") > 300)
        .select(col("event_id").as("incident_id"),
          (col("ts_sec") - 1800).as("b_start"),
          (col("ts_sec") + 1800).as("b_end"))
      val aCells = spans.withColumn("cell",
        explode(sequence(floor(col("a_start") / 3600),
          floor(col("a_end") / 3600))))
      val bCells = incidents.withColumn("cell",
        explode(sequence(floor(col("b_start") / 3600),
          floor(col("b_end") / 3600))))
      aCells.join(bCells, "cell")
        .filter(col("a_start") <= col("b_end") &&
          col("b_start") <= col("a_end"))
        .select(col("user_id"), col("day"), col("incident_id"))
        .distinct()
        .orderBy("user_id", "day", "incident_id")
    },
    Some("""WITH ev AS (
              SELECT user_id, event_id, value, CAST(ts AS DATE) AS day,
                     CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_sec
              FROM events),
            a AS (SELECT user_id, day, min(ts_sec) AS a_start,
                         max(ts_sec) AS a_end
                  FROM ev GROUP BY 1, 2),
            b AS (SELECT event_id AS incident_id, ts_sec - 1800 AS b_start,
                         ts_sec + 1800 AS b_end
                  FROM ev WHERE value > 300)
            SELECT user_id, day, incident_id
            FROM a JOIN b ON a_start <= b_end AND b_start <= a_end
            ORDER BY user_id, day, incident_id"""))

  // ------------------------------------------------ curriculum ordering --

  /** Curriculum-phase assignment: every doc gets a global difficulty rank
    * (by n_chars, doc_id tie-break) and a phase = which fifth of the ranked
    * corpus it falls in — the easy→hard schedule a curriculum-training run
    * consumes. The naive form is `ntile()`/`row_number()` over a GLOBAL
    * ORDER BY — one task holds the corpus (the WindowExec warning). Here
    * the exact global rank comes from `graft.Prefix` instead: broadcast
    * offsets over 64-char length bins plus a per-bin row_number.
    * Phase arithmetic stays integral (`div` ≡ DuckDB `//`) so the t2 hash
    * gates exact ints, and the floor formula — NOT ntile(), which
    * distributes remainders differently — is mirrored in the oracle.
    */
  private val qCurriculum = GQuery(
    (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"), col("n_chars"))
        .withColumn("bin", floor(col("n_chars") / 64))
      val wInBin = Window.partitionBy("bin").orderBy("n_chars", "doc_id")
      Prefix.withBucketOffsets(docs, Nil, "bin", count(lit(1)), "off",
          total = Some("total"))
        .withColumn("rank", col("off") + row_number().over(wInBin))
        .select(col("doc_id"), col("n_chars"), col("rank"),
          expr("CAST(((rank - 1) * 5) div total AS INT)").as("phase"))
        .orderBy("doc_id")
    },
    Some("""WITH r AS (
              SELECT doc_id, n_chars,
                     row_number() OVER (ORDER BY n_chars, doc_id) AS rank
              FROM documents),
            t AS (SELECT count(*) AS n FROM documents)
            SELECT doc_id, n_chars, CAST(rank AS BIGINT) AS rank,
                   CAST(((rank - 1) * 5) // n AS INT) AS phase
            FROM r, t ORDER BY doc_id"""))

  // ----------------------------------------------- entropy profiling --

  /** Shannon entropy per categorical column — the profiler signal that
    * ranks columns by information content (partition-key selection, leakage
    * screening, skew triage read it). One value-histogram agg per column,
    * then H = −Σ(c/n)·ln(c/n) assembled from the histogram: per DISTINCT
    * value the log term is quantized once to integer micro-nats (the
    * q_text_lm_score pattern), so the doc-side accumulation Σ c·q is an
    * exact integer sum — order-proof — and fp appears only in one final
    * division. Histograms shuffle on the value (low-card → tiny aggs).
    */
  private val qProfileEntropy = GQuery(
    (s, d) => {
      def h(table: String, column: String): DataFrame = {
        val hist = t(s, d, table).groupBy(col(column).cast("string").as("v"))
          .agg(count(lit(1)).as("c"))
        val n = hist.agg(sum("c").as("n"), count(lit(1)).as("n_distinct"))
        hist.crossJoin(broadcast(n))
          .select(col("c"), col("n"), col("n_distinct"),
            round(log(col("c").cast("double") / col("n")) * 1e6).cast("long")
              .as("q"))
          .groupBy("n", "n_distinct")
          .agg(sum(col("c") * col("q")).as("sq"))
          .select(lit(table).as("tbl"), lit(column).as("col"),
            col("n"), col("n_distinct").cast("long").as("n_distinct"),
            dround(-col("sq").cast("double") / col("n") / 1e6, 4).as("entropy"))
      }
      h("documents", "lang")
        .union(h("documents", "source"))
        .union(h("events", "event_type"))
        .union(h("lineitem", "l_returnflag"))
        .orderBy("tbl", "col")
    },
    Some {
      def h(table: String, column: String) =
        s"""SELECT '$table' AS tbl, '$column' AS col, CAST(n AS BIGINT) AS n,
              CAST(n_distinct AS BIGINT) AS n_distinct,
              CAST(round(CAST(-CAST(sq AS DOUBLE) / n / 1e6
                AS DECIMAL(30,8)), 4) AS DOUBLE) AS entropy
            FROM (
              SELECT any_value(n) AS n, any_value(n_distinct) AS n_distinct,
                     sum(c * q) AS sq
              FROM (
                SELECT c, sum(c) OVER () AS n, count(*) OVER () AS n_distinct,
                       CAST(round(ln(CAST(c AS DOUBLE) / (sum(c) OVER ())) * 1e6)
                         AS BIGINT) AS q
                FROM (SELECT CAST($column AS VARCHAR) AS v, count(*) AS c
                      FROM $table GROUP BY 1)))"""
      Seq(h("documents", "lang"), h("documents", "source"),
        h("events", "event_type"), h("lineitem", "l_returnflag"))
        .mkString("", "\n            UNION ALL\n            ",
          "\n            ORDER BY tbl, col")
    })

  // ------------------------------------------------- A/B experiment --

  /** Two-arm experiment readout (Welch's t) per event type: users split by
    * id-hash into arms A/B, the metric is the event `value`, and the whole
    * table computes in ONE conditional-aggregation pass (no per-arm scans,
    * no join — the arms pivot into columns map-side). The experimentation
    * dashboard every event pipeline ends in.
    *
    * Determinism: values snap to integer cents, Σx and Σx² accumulate as
    * exact DECIMAL(38) (the q_stats_corrmatrix pattern), and the t statistic
    * touches fp only in its final cast→divide→sqrt chain, built with the
    * IDENTICAL association tree in both engines, then drounds. The verdict
    * bit compares the already-rounded t, so it can never disagree.
    */
  private val qStatsAbtest = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      def arm(a: Int, c: org.apache.spark.sql.Column) =
        sum(when(pmod(col("user_id"), lit(2)) === a, c).otherwise(lit(0L))
          .cast("decimal(38,0)"))
      val g = t(s, d, "events")
        .groupBy("event_type")
        .agg(
          sum(when(pmod(col("user_id"), lit(2)) === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(pmod(col("user_id"), lit(2)) === 1, 1L).otherwise(0L)).as("n_b"),
          arm(0, cents).as("s_a"), arm(1, cents).as("s_b"),
          arm(0, cents * cents).as("ss_a"), arm(1, cents * cents).as("ss_b"))
      // degenerate arms (n ≤ 1): Welch variance / means are div-by-zero —
      // NULL, matching DuckDB's quiet double-div-by-zero NULL
      val va = when(col("n_a") > 1,
        (col("n_a") * col("ss_a") - col("s_a") * col("s_a")).cast("double") /
          (col("n_a") * col("n_a") * (col("n_a") - 1)).cast("double"))
      val vb = when(col("n_b") > 1,
        (col("n_b") * col("ss_b") - col("s_b") * col("s_b")).cast("double") /
          (col("n_b") * col("n_b") * (col("n_b") - 1)).cast("double"))
      val se0 = sqrt(va + vb)
      val se = when(se0 =!= 0.0, se0)
      val tstat = when(col("n_a") > 0 && col("n_b") > 0,
        col("s_a").cast("double") / col("n_a")
          - col("s_b").cast("double") / col("n_b")) / se
      g.select(col("event_type"), col("n_a"), col("n_b"),
          dround(when(col("n_a") > 0,
            col("s_a").cast("double") / col("n_a") / 100.0), 4).as("mean_a"),
          dround(when(col("n_b") > 0,
            col("s_b").cast("double") / col("n_b") / 100.0), 4).as("mean_b"),
          dround(tstat, 4).as("t_welch"))
        .withColumn("significant", abs(col("t_welch")) > 1.96)
        .orderBy("event_type")
    },
    Some("""WITH g AS (
              SELECT event_type,
                     CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                     CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                     sum(CASE WHEN user_id % 2 = 0
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS s_a,
                     sum(CASE WHEN user_id % 2 = 1
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS s_b,
                     sum(CASE WHEN user_id % 2 = 0
                       THEN CAST(round(value * 100) AS BIGINT)
                            * CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS ss_a,
                     sum(CASE WHEN user_id % 2 = 1
                       THEN CAST(round(value * 100) AS BIGINT)
                            * CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS ss_b
              FROM events GROUP BY 1),
            r AS (
              SELECT event_type, n_a, n_b,
                     CAST(round(CAST(CAST(s_a AS DOUBLE) / n_a / 100.0
                       AS DECIMAL(30,8)), 4) AS DOUBLE) AS mean_a,
                     CAST(round(CAST(CAST(s_b AS DOUBLE) / n_b / 100.0
                       AS DECIMAL(30,8)), 4) AS DOUBLE) AS mean_b,
                     CAST(round(CAST(
                       (CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)
                       / sqrt(CAST(n_a * ss_a - s_a * s_a AS DOUBLE)
                                / CAST(n_a * n_a * (n_a - 1) AS DOUBLE)
                              + CAST(n_b * ss_b - s_b * s_b AS DOUBLE)
                                / CAST(n_b * n_b * (n_b - 1) AS DOUBLE))
                       AS DECIMAL(30,8)), 4) AS DOUBLE) AS t_welch
              FROM g)
            SELECT event_type, n_a, n_b, mean_a, mean_b, t_welch,
                   abs(t_welch) > 1.96 AS significant
            FROM r ORDER BY event_type"""))

  // ---------------------------------------- Wilson proportion interval --

  /** Wilson score interval (95%) for per-type conversion proportions — the
    * CORRECT small-n/extreme-p binomial CI (the Wald interval ± z√(p̂q̂/n)
    * collapses to zero width at p̂ ∈ {0,1} and escapes [0,1]; Wilson
    * inverts the score test instead, Wilson 1927 — what proportion
    * dashboards should ship): conversion = high-value events (> $100)
    * within each type. Counts and p̂_ppm are exact integers; the interval
    * touches fp only in the shared-literal chain (z = 1.96, z² = 3.8416 —
    * the ndcg shared-constant rule) built with the identical association
    * tree in both engines, then drounds.
    *
    * Scale: one map-side-combinable conditional agg — expectations
    * economics; everything after is #types rows.
    */
  private val qStatsProportionCi = GQuery(
    (s, d) => {
      val g = t(s, d, "events")
        .groupBy("event_type")
        .agg(count(lit(1L)).as("n"),
          sum(when(col("value") > 100.0, 1L).otherwise(0L)).as("k"))
      val nD = col("n").cast("double")
      val p = col("k").cast("double") / nD
      val den = lit(1.0) + lit(3.8416) / nD
      val ctr = p + lit(3.8416) / (lit(2.0) * nD)
      val half = lit(1.96) * sqrt(p * (lit(1.0) - p) / nD
        + lit(3.8416) / (lit(4.0) * nD * nD))
      g.select(col("event_type"), col("n"), col("k"),
          expr("k * 1000000 div n").as("p_ppm"),
          dround((ctr - half) / den, 6).as("wilson_lo"),
          dround((ctr + half) / den, 6).as("wilson_hi"))
        .orderBy("event_type")
    },
    Some("""WITH g AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN value > 100.0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS k
              FROM events GROUP BY 1)
            SELECT event_type, n, k,
                   CAST(k * 1000000 // n AS BIGINT) AS p_ppm,
                   CAST(round(CAST(
                     ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                       + 3.8416 / (2.0 * CAST(n AS DOUBLE)))
                      - 1.96 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                          * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                          / CAST(n AS DOUBLE)
                        + 3.8416 / (4.0 * CAST(n AS DOUBLE)
                                        * CAST(n AS DOUBLE))))
                     / (1.0 + 3.8416 / CAST(n AS DOUBLE))
                     AS DECIMAL(30,8)), 6) AS DOUBLE) AS wilson_lo,
                   CAST(round(CAST(
                     ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                       + 3.8416 / (2.0 * CAST(n AS DOUBLE)))
                      + 1.96 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                          * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                          / CAST(n AS DOUBLE)
                        + 3.8416 / (4.0 * CAST(n AS DOUBLE)
                                        * CAST(n AS DOUBLE))))
                     / (1.0 + 3.8416 / CAST(n AS DOUBLE))
                     AS DECIMAL(30,8)), 6) AS DOUBLE) AS wilson_hi
            FROM g ORDER BY event_type"""))

  // ------------------------------------- delta-method ratio metric A/B --

  /** Ratio-metric experiment readout via the DELTA METHOD (Deng/Knight/
    * Walker, KDD'18 — the experimentation-platform standard): the metric is
    * revenue per event R = Σx/Σy, a ratio of USER-LEVEL sums, so the naive
    * per-row variance is wrong (users, not events, are the randomization
    * unit and numerator/denominator covary). Var(R̂) ≈
    * (Σ̃x − 2R·Σ̃xy + R²·Σ̃y) / (n·Σy²) with Σ̃ the centered second moments
    * — the first-order Taylor expansion the method is named for. Completes
    * the A/B family: abtest (mean metric) → cuped (variance reduction) →
    * deltamethod (ratio metric).
    *
    * Exactness: user rollups are exact cents/counts; all second moments
    * sum in DECIMAL(38)/HUGEINT (corrmatrix rule); per-arm ratio also
    * emitted as EXACT integer ppm (decimal `div`), and the summary row's
    * diff_ppm is an exact integer difference. fp enters only the
    * se/z chain, built with the identical association tree in both
    * engines, then drounds — the abtest discipline.
    *
    * Scale: one user partial agg + one 2-row arm agg; everything after is
    * 2 rows. The same shape at any corpus size.
    */
  private val qStatsDeltamethod = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val users = t(s, d, "events")
        .select(col("user_id"),
          when(col("event_type") === "purchase", cents).otherwise(lit(0L))
            .as("x"))
        .groupBy("user_id")
        .agg(sum("x").as("x"), count(lit(1L)).as("y"))
      val g = users
        .withColumn("arm", pmod(col("user_id"), lit(2)).cast("int"))
        .groupBy("arm")
        .agg(count(lit(1L)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum((col("x").cast("decimal(38,0)") * col("x"))
            .cast("decimal(38,0)")).as("sxx"),
          sum((col("y").cast("decimal(38,0)") * col("y"))
            .cast("decimal(38,0)")).as("syy"),
          sum((col("x").cast("decimal(38,0)") * col("y"))
            .cast("decimal(38,0)")).as("sxy"))
      def dbl(c: org.apache.spark.sql.Column) = c.cast("double")
      val bigR = dbl(col("sx")) / dbl(col("sy"))
      val dx = dbl(col("n") * col("sxx")
        - col("sx").cast("decimal(38,0)") * col("sx"))
      val dy = dbl(col("n") * col("syy")
        - col("sy").cast("decimal(38,0)") * col("sy"))
      val dxy = dbl(col("n") * col("sxy")
        - col("sx").cast("decimal(38,0)") * col("sy"))
      val varR = (dx - lit(2.0) * bigR * dxy + bigR * bigR * dy) /
        dbl(col("n").cast("decimal(38,0)")
          * col("sy").cast("decimal(38,0)") * col("sy"))
      val perArm = g.select(col("arm"), col("n"), col("sx"), col("sy"),
          expr("cast(sx as decimal(38,0)) * 1000000 div sy").as("r_ppm"),
          dround(sqrt(varR), 6).as("se"), varR.as("_v"))
        .localCheckpoint(true) // feeds the output AND the 1-row z assembly
      val za = perArm.filter(col("arm") === 0)
        .select(col("n").as("n0"), col("sx").as("sx0"), col("sy").as("sy0"),
          col("r_ppm").as("r0"), col("_v").as("v0"))
      val zb = perArm.filter(col("arm") === 1)
        .select(col("n").as("n1"), col("sx").as("sx1"), col("sy").as("sy1"),
          col("r_ppm").as("r1"), col("_v").as("v1"))
      val summary = za.crossJoin(zb).select(
        lit(-1).cast("int").as("arm"), (col("n0") + col("n1")).as("n"),
        (col("sx0") + col("sx1")).as("sx"), (col("sy0") + col("sy1")).as("sy"),
        (col("r0") - col("r1")).as("r_ppm"),
        lit(null).cast("double").as("se"),
        dround((dbl(col("sx0")) / dbl(col("sy0"))
          - dbl(col("sx1")) / dbl(col("sy1")))
          / sqrt(col("v0") + col("v1")), 4).as("z"))
      perArm.select(col("arm"), col("n"), col("sx"), col("sy"), col("r_ppm"),
          col("se"), lit(null).cast("double").as("z"))
        .unionByName(summary)
        .orderBy("arm")
    },
    Some("""WITH users AS (
              SELECT user_id,
                     CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS x,
                     CAST(count(*) AS BIGINT) AS y
              FROM events GROUP BY 1),
            g AS (
              SELECT CAST(user_id % 2 AS INT) AS arm,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(y) AS BIGINT) AS sy,
                     sum(CAST(x AS HUGEINT) * x) AS sxx,
                     sum(CAST(y AS HUGEINT) * y) AS syy,
                     sum(CAST(x AS HUGEINT) * y) AS sxy
              FROM users GROUP BY 1),
            r AS (
              SELECT arm, n, sx, sy,
                     CAST(CAST(sx AS HUGEINT) * 1000000 // sy AS BIGINT)
                       AS r_ppm,
                     (CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                      - 2 * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                          * CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                      + (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                          * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                          * CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))
                     / CAST(CAST(n AS HUGEINT) * CAST(sy AS HUGEINT) * sy
                            AS DOUBLE) AS v
              FROM g)
            SELECT arm, n, sx, sy, r_ppm,
                   CAST(round(CAST(sqrt(v) AS DECIMAL(30,8)), 6) AS DOUBLE)
                     AS se,
                   CAST(NULL AS DOUBLE) AS z
            FROM r
            UNION ALL
            SELECT CAST(-1 AS INT), a.n + b.n, a.sx + b.sx, a.sy + b.sy,
                   a.r_ppm - b.r_ppm, CAST(NULL AS DOUBLE),
                   CAST(round(CAST(
                     (CAST(a.sx AS DOUBLE) / CAST(a.sy AS DOUBLE)
                      - CAST(b.sx AS DOUBLE) / CAST(b.sy AS DOUBLE))
                     / sqrt(a.v + b.v) AS DECIMAL(30,8)), 4) AS DOUBLE)
            FROM r a, r b WHERE a.arm = 0 AND b.arm = 1
            ORDER BY arm"""))

  // -------------------------------------------- bot / automation detection --

  /** Inter-arrival-time bot screen — the behavioral data-quality gate a
    * training pipeline runs before events feed features (scripted traffic
    * fires on a timer; humans are bursty): per user with ≥ 5 events, the
    * coefficient of variation of consecutive event gaps (exact integer
    * seconds via a user-partitioned lag window — no self-join), flagged
    * when CV < 0.3 (too regular) with sub-second medians excluded by the
    * gap floor. Gap moments (n, Σg, Σg²) are exact BIGINTs per user
    * (corrmatrix rule: fp only in the final sd/mean chain, mirrored +
    * drounded; the flag compares the ROUNDED cv). Emits the user_id < 50
    * sample rows plus a corpus summary row (user_id = −1: users screened,
    * users flagged).
    *
    * Scale: sessionize economics — one user-partitioned sort window, O(1)
    * state per row, then a per-user agg and a 1-row rollup; users
    * parallelize, hot users take the stop-block cap.
    */
  private val qEventsBotDetection = GQuery(
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
      val gaps = t(s, d, "events")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("ts_sec"))
        .withColumn("gap", col("ts_sec") - lag("ts_sec", 1).over(w))
        .filter(col("gap").isNotNull)
      val perUser = gaps.groupBy("user_id")
        .agg(count(lit(1L)).as("n_gaps"), sum("gap").as("sg"),
          sum((col("gap").cast("decimal(38,0)") * col("gap"))
            .cast("decimal(38,0)")).as("sgg"))
        .filter(col("n_gaps") >= 4) // ≥5 events
      val varNum = (col("n_gaps") * col("sgg")
        - col("sg").cast("decimal(38,0)") * col("sg")).cast("double")
      val cv = sqrt(varNum
          / (col("n_gaps") * (col("n_gaps") - 1)).cast("double")) /
        (col("sg").cast("double") / col("n_gaps").cast("double"))
      val scored = perUser
        .filter(col("sg") > 0L) // all-zero gaps: degenerate mean
        .select(col("user_id"), col("n_gaps"),
          expr("sg div n_gaps").as("mean_gap_sec"), dround(cv, 4).as("cv"))
        .withColumn("is_bot", col("cv") < 0.3)
        .localCheckpoint(true) // feeds the sample AND the rollup
      val summary = scored.agg(count(lit(1L)).as("n_gaps"),
          sum(col("is_bot").cast("long")).as("nb"))
        .select(lit(-1L).as("user_id"), col("n_gaps"),
          col("nb").as("mean_gap_sec"), lit(null).cast("double").as("cv"),
          lit(null).cast("boolean").as("is_bot"))
      scored.filter(col("user_id") < 50)
        .unionByName(summary)
        .orderBy("user_id")
    },
    Some("""WITH g AS (
              SELECT user_id,
                     CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                       - lag(CAST(epoch(date_trunc('second', ts)) AS BIGINT), 1)
                         OVER (PARTITION BY user_id
                               ORDER BY CAST(epoch(date_trunc('second', ts))
                                 AS BIGINT), event_id) AS gap
              FROM events),
            pu AS (
              SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
                     CAST(sum(gap) AS BIGINT) AS sg,
                     sum(CAST(gap AS HUGEINT) * gap) AS sgg
              FROM g WHERE gap IS NOT NULL GROUP BY 1
              HAVING count(*) >= 4 AND sum(gap) > 0),
            sc AS (
              SELECT user_id, n_gaps,
                     CAST(sg // n_gaps AS BIGINT) AS mean_gap_sec,
                     CAST(round(CAST(
                       sqrt(CAST(n_gaps * sgg - CAST(sg AS HUGEINT) * sg
                              AS DOUBLE)
                            / CAST(n_gaps * (n_gaps - 1) AS DOUBLE))
                       / (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                       AS DECIMAL(30,8)), 4) AS DOUBLE) AS cv
              FROM pu),
            sc2 AS (SELECT *, cv < 0.3 AS is_bot FROM sc)
            SELECT user_id, n_gaps, mean_gap_sec, cv, is_bot
            FROM sc2 WHERE user_id < 50
            UNION ALL
            SELECT -1, CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN is_bot THEN 1 ELSE 0 END) AS BIGINT),
                   CAST(NULL AS DOUBLE), CAST(NULL AS BOOLEAN)
            FROM sc2
            ORDER BY user_id"""))

  // ------------------------------------ mSPRT always-valid sequential test --

  /** Mixture SPRT always-valid p-value (Johari/Pekelis/Walsh — the "peeking
    * problem" fix modern experimentation platforms ship): a fixed-horizon t
    * test read daily inflates false positives to ~30%; the mSPRT likelihood
    * ratio Λ = √(V/(V+τ))·exp(τΔ̂²/(2V(V+τ))) against a N(0, τ) mixture
    * over effect sizes yields p = min(1, 1/Λ) that is valid at EVERY
    * interim look. Per event type: Δ̂ = mean_a − mean_b, V = Welch variance
    * of Δ̂ (the abtest moments), τ = 2500 cents² (a 50-cent prior effect
    * sd, a shared literal). Emitted as ln Λ (finite always — Λ itself
    * overflows exp at strong effects; DECIMAL casts of inf throw under
    * ANSI) plus p = min(1, exp(−ln Λ)), both through one mirrored chain,
    * and the decision bit on the rounded p.
    *
    * Scale: abtest economics — one conditional agg, m rows after.
    */
  private val qStatsSequential = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      def arm(a: Int, c: org.apache.spark.sql.Column) =
        sum(when(pmod(col("user_id"), lit(2)) === a, c).otherwise(lit(0L))
          .cast("decimal(38,0)"))
      val g = t(s, d, "events")
        .groupBy("event_type")
        .agg(
          sum(when(pmod(col("user_id"), lit(2)) === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(pmod(col("user_id"), lit(2)) === 1, 1L).otherwise(0L)).as("n_b"),
          arm(0, cents).as("s_a"), arm(1, cents).as("s_b"),
          arm(0, cents * cents).as("ss_a"), arm(1, cents * cents).as("ss_b"))
      // degenerate arms (n ≤ 1) are div-by-zero → NULL (DuckDB's quiet
      // double-div-by-zero); zero-variance groups would ln(0) — guard v > 0
      // in BOTH engines (DuckDB ln(0) ERRORS, it is not a quiet NULL)
      val va = when(col("n_a") > 1,
        (col("n_a") * col("ss_a") - col("s_a") * col("s_a")).cast("double") /
          (col("n_a") * col("n_a") * (col("n_a") - 1)).cast("double"))
      val vb = when(col("n_b") > 1,
        (col("n_b") * col("ss_b") - col("s_b") * col("s_b")).cast("double") /
          (col("n_b") * col("n_b") * (col("n_b") - 1)).cast("double"))
      val delta = when(col("n_a") > 0 && col("n_b") > 0,
        col("s_a").cast("double") / col("n_a") -
          col("s_b").cast("double") / col("n_b"))
      val v0 = va + vb
      val v = when(v0 > 0.0, v0)
      val tau = lit(2500.0)
      val lnLambda = lit(0.5) * log(v / (v + tau)) +
        tau * delta * delta / (lit(2.0) * v * (v + tau))
      g.select(col("event_type"), col("n_a"), col("n_b"),
          dround(delta, 4).as("delta_cents"),
          dround(lnLambda, 4).as("ln_lambda"),
          dround(least(lit(1.0), exp(-lnLambda)), 6).as("p_always_valid"))
        .withColumn("reject", col("p_always_valid") < 0.05)
        .orderBy("event_type")
    },
    Some("""WITH g AS (
              SELECT event_type,
                     CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                     CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                     sum(CASE WHEN user_id % 2 = 0
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS s_a,
                     sum(CASE WHEN user_id % 2 = 1
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS s_b,
                     sum(CASE WHEN user_id % 2 = 0
                       THEN CAST(round(value * 100) AS BIGINT)
                            * CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS ss_a,
                     sum(CASE WHEN user_id % 2 = 1
                       THEN CAST(round(value * 100) AS BIGINT)
                            * CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS ss_b
              FROM events GROUP BY 1),
            c AS (
              SELECT event_type, n_a, n_b,
                     CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b
                       AS delta,
                     CAST(n_a * ss_a - s_a * s_a AS DOUBLE)
                       / CAST(n_a * n_a * (n_a - 1) AS DOUBLE)
                     + CAST(n_b * ss_b - s_b * s_b AS DOUBLE)
                       / CAST(n_b * n_b * (n_b - 1) AS DOUBLE) AS v0
              FROM g),
            l AS (
              SELECT event_type, n_a, n_b, delta,
                     CASE WHEN v0 > 0.0 THEN
                       0.5 * ln(v0 / (v0 + 2500.0))
                       + 2500.0 * delta * delta / (2.0 * v0 * (v0 + 2500.0))
                       END AS lnl
              FROM c)
            SELECT event_type, n_a, n_b,
                   CAST(round(CAST(delta AS DECIMAL(30,8)), 4) AS DOUBLE)
                     AS delta_cents,
                   CAST(round(CAST(lnl AS DECIMAL(30,8)), 4) AS DOUBLE)
                     AS ln_lambda,
                   CAST(round(CAST(least(1.0, exp(-lnl)) AS DECIMAL(30,8)), 6)
                     AS DOUBLE) AS p_always_valid,
                   CAST(round(CAST(least(1.0, exp(-lnl)) AS DECIMAL(30,8)), 6)
                     AS DOUBLE) < 0.05 AS reject
            FROM l ORDER BY event_type"""))

  // --------------------------------- Benjamini–Hochberg FDR correction --

  /** Benjamini–Hochberg FDR control over the five per-type Welch tests —
    * the multiple-testing discipline q_stats_abtest's per-type
    * `significant` bit ignores (five 1.96 cutoffs inflate the family-wise
    * false-positive rate; BH'95 holds the FALSE DISCOVERY RATE at α
    * instead): rank the (dround-exact) |t| statistics descending; the
    * k-th most significant is compared against the z-quantile of
    * α·k/m two-sided — a SHARED 5-row integer-micro literal table
    * (2.5758, 2.3263, 2.1701, 2.0537, 1.96 for α=.05, m=5 — the ndcg
    * shared-constant rule, so no quantile function enters either engine);
    * reject ranks 1..k* where k* is the LARGEST rank passing its
    * threshold (the BH step-up, NOT a per-rank test — rank 2 can rescue
    * rank 3).
    *
    * Determinism: ranking keys are the already-drounded t values with
    * event_type tiebreak; thresholds compare as integer micros. Scale:
    * abtest's one conditional agg; everything after is m rows.
    */
  private val qStatsFdrBh = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      def arm(a: Int, c: org.apache.spark.sql.Column) =
        sum(when(pmod(col("user_id"), lit(2)) === a, c).otherwise(lit(0L))
          .cast("decimal(38,0)"))
      val g = t(s, d, "events")
        .groupBy("event_type")
        .agg(
          sum(when(pmod(col("user_id"), lit(2)) === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(pmod(col("user_id"), lit(2)) === 1, 1L).otherwise(0L)).as("n_b"),
          arm(0, cents).as("s_a"), arm(1, cents).as("s_b"),
          arm(0, cents * cents).as("ss_a"), arm(1, cents * cents).as("ss_b"))
      // degenerate arms (n ≤ 1): t is div-by-zero → NULL (the abtest
      // guard); NULL t ranks LAST deterministically via the -1 sentinel
      // (Spark DESC and DuckDB differ on NULL placement in window orders)
      val va = when(col("n_a") > 1,
        (col("n_a") * col("ss_a") - col("s_a") * col("s_a")).cast("double") /
          (col("n_a") * col("n_a") * (col("n_a") - 1)).cast("double"))
      val vb = when(col("n_b") > 1,
        (col("n_b") * col("ss_b") - col("s_b") * col("s_b")).cast("double") /
          (col("n_b") * col("n_b") * (col("n_b") - 1)).cast("double"))
      val se0 = sqrt(va + vb)
      val tstat = when(col("n_a") > 0 && col("n_b") > 0,
        col("s_a").cast("double") / col("n_a")
          - col("s_b").cast("double") / col("n_b")) /
        when(se0 =!= 0.0, se0)
      // explicit round BEFORE the long cast: Spark's double→long cast
      // truncates while DuckDB's rounds — round() agrees in both
      val scored = g.select(col("event_type"), dround(tstat, 4).as("t_welch"))
        .withColumn("abs_t_micro", coalesce(
          round(abs(col("t_welch")) * 1000000).cast("long"), lit(-1L)))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("abs_t_micro").desc, col("event_type").asc)))
      // α·k/m two-sided z-quantiles as integer micros (α=.05, m=5); ranks
      // beyond the table (extra types) get NULL thr — never tested, and
      // never an ANSI element_at past the array end
      val thr = Seq(2575800L, 2326300L, 2170100L, 2053700L, 1960000L)
      val thrCol = array(thr.map(lit): _*)
      val withThr = scored
        .withColumn("thr_micro", when(col("rk") <= thr.size,
          element_at(thrCol, col("rk"))).cast("long"))
        .withColumn("passes", col("abs_t_micro") >= col("thr_micro"))
      val kstar = withThr.agg(
        coalesce(max(when(col("passes"), col("rk"))), lit(0)).as("kstar"))
      withThr.crossJoin(broadcast(kstar))
        .select(col("event_type"), col("t_welch"), col("rk").cast("int").as("rk"),
          col("thr_micro"), col("passes"),
          (col("rk") <= col("kstar")).as("bh_reject"))
        .orderBy("rk")
    },
    Some("""WITH g AS (
              SELECT event_type,
                     CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                     CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                     sum(CASE WHEN user_id % 2 = 0
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS s_a,
                     sum(CASE WHEN user_id % 2 = 1
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS s_b,
                     sum(CASE WHEN user_id % 2 = 0
                       THEN CAST(round(value * 100) AS BIGINT)
                            * CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS ss_a,
                     sum(CASE WHEN user_id % 2 = 1
                       THEN CAST(round(value * 100) AS BIGINT)
                            * CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS ss_b
              FROM events GROUP BY 1),
            sc AS (
              SELECT event_type,
                     CAST(round(CAST(
                       (CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)
                       / sqrt(CAST(n_a * ss_a - s_a * s_a AS DOUBLE)
                                / CAST(n_a * n_a * (n_a - 1) AS DOUBLE)
                              + CAST(n_b * ss_b - s_b * s_b AS DOUBLE)
                                / CAST(n_b * n_b * (n_b - 1) AS DOUBLE))
                       AS DECIMAL(30,8)), 4) AS DOUBLE) AS t_welch
              FROM g),
            rk AS (
              SELECT event_type, t_welch,
                     coalesce(CAST(round(abs(t_welch) * 1000000) AS BIGINT),
                       -1) AS abs_t_micro,
                     row_number() OVER (
                       ORDER BY coalesce(CAST(round(abs(t_welch) * 1000000)
                         AS BIGINT), -1) DESC, event_type ASC) AS rk
              FROM sc),
            thr(rk, thr_micro) AS (VALUES
              (1, 2575800), (2, 2326300), (3, 2170100), (4, 2053700),
              (5, 1960000)),
            wt AS (
              SELECT r.event_type, r.t_welch, CAST(r.rk AS INT) AS rk,
                     CAST(t.thr_micro AS BIGINT) AS thr_micro,
                     r.abs_t_micro >= t.thr_micro AS passes
              FROM rk r LEFT JOIN thr t ON t.rk = r.rk),
            ks AS (
              SELECT coalesce(max(CASE WHEN passes THEN rk END), 0) AS kstar
              FROM wt)
            SELECT event_type, t_welch, rk, thr_micro, passes,
                   rk <= kstar AS bh_reject
            FROM wt, ks ORDER BY rk"""))

  // ----------------------------------------------- association rules --

  /** Market-basket association rules over order baskets (Agrawal's
    * support/confidence/lift, the A-Priori output surface): supplier pairs
    * co-occurring in the same order, minimum support 20, top-25 by lift.
    * The pair explode is bounded by per-basket size (TPC-H orders carry ≤7
    * lines), so candidate generation is LINEAR in orders — the reason
    * basket mining scales where generic self-joins don't; supports are
    * exact integers, confidence/lift take one dround'd division each, and
    * the top-k is TakeOrdered on (lift, pair) — never a global sort.
    */
  private val qBasketRules = GQuery(
    (s, d) => {
      val b = t(s, d, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_suppkey").as("s")).distinct()
        // four consumers (n-orders, item counts, both self-join sides) —
        // materialize the basket table once instead of 4 scan+distinct runs
        .localCheckpoint(true)
      val nOrders = b.agg(countDistinct(col("o")).as("n"))
      val item = b.groupBy(col("s")).agg(count(lit(1)).as("c1"))
      val pairs = b.select(col("o"), col("s").as("sa"))
        .join(b.select(col("o"), col("s").as("sb")), "o")
        .filter(col("sa") < col("sb"))
        .groupBy("sa", "sb").agg(count(lit(1)).as("c_ab"))
        .filter(col("c_ab") >= 20)
      pairs
        .join(broadcast(item.select(col("s").as("sa"), col("c1").as("c_a"))), "sa")
        .join(broadcast(item.select(col("s").as("sb"), col("c1").as("c_b"))), "sb")
        .crossJoin(broadcast(nOrders))
        .select(col("sa"), col("sb"), col("c_ab"), col("c_a"), col("c_b"),
          dround(col("c_ab").cast("double") / col("c_a"), 4).as("conf_ab"),
          dround(col("c_ab").cast("double") / col("c_b"), 4).as("conf_ba"),
          dround((col("c_ab") * col("n")).cast("double")
            / (col("c_a") * col("c_b")), 4).as("lift"))
        .orderBy(col("lift").desc, col("sa"), col("sb")).limit(25)
    },
    Some("""WITH b AS (
              SELECT DISTINCT l_orderkey AS o, l_suppkey AS s FROM lineitem),
            nn AS (SELECT count(DISTINCT o) AS n FROM b),
            item AS (SELECT s, CAST(count(*) AS BIGINT) AS c1 FROM b GROUP BY 1),
            pairs AS (
              SELECT a.s AS sa, bb.s AS sb, CAST(count(*) AS BIGINT) AS c_ab
              FROM b a JOIN b bb ON a.o = bb.o AND a.s < bb.s
              GROUP BY 1, 2 HAVING count(*) >= 20)
            SELECT sa, sb, c_ab, ia.c1 AS c_a, ib.c1 AS c_b,
                   CAST(round(CAST(CAST(c_ab AS DOUBLE) / ia.c1
                     AS DECIMAL(30,8)), 4) AS DOUBLE) AS conf_ab,
                   CAST(round(CAST(CAST(c_ab AS DOUBLE) / ib.c1
                     AS DECIMAL(30,8)), 4) AS DOUBLE) AS conf_ba,
                   CAST(round(CAST(CAST(c_ab * nn.n AS DOUBLE) / (ia.c1 * ib.c1)
                     AS DECIMAL(30,8)), 4) AS DOUBLE) AS lift
            FROM pairs JOIN item ia ON ia.s = sa JOIN item ib ON ib.s = sb
            CROSS JOIN nn
            ORDER BY lift DESC, sa, sb LIMIT 25"""))

  // ------------------------------------- single-pass correlation matrix --

  /** Pairwise covariance/correlation matrix over the lineitem numerics in
    * ONE scan — the feature-correlation profile a curation pipeline runs
    * before mixing signals. All 6 column pairs come from a single partial
    * aggregate of product sums (map-side combine; nothing like 6 corr()
    * passes), then the matrix is assembled from the 1-row result.
    *
    * Hash-exactness at any scale: values are snapped to integer CENTS
    * (Exact.cents — scale-0 round(x·100), divergence-proof in both
    * engines on any double), and
    * every Σx, Σx², Σxy is an EXACT DECIMAL(38)/HUGEINT sum — order-proof
    * where double sums are not. corr = (n·Σxy − ΣxΣy) / (√(n·Σx²−Σx²)·√…)
    * touches floating point only in the final cast→sqrt→divide chain
    * (correctly-rounded IEEE ops on identical exact inputs), then drounds.
    * Long products (≤1e14) can't overflow; the SUMS would at 100 TB, which
    * is exactly why they're decimal, not long.
    */
  private val CorrCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
  private val qStatsCorrmatrix = GQuery(
    (s, d) => {
      def cc(c: String) = cents(col(c))
      val sumAggs =
        CorrCols.map(c => sum(cc(c).cast("decimal(38,0)")).as(s"s_$c")) ++
        (for { i <- CorrCols.indices; j <- i until CorrCols.size } yield {
          val (a, b) = (CorrCols(i), CorrCols(j))
          sum((cc(a) * cc(b)).cast("decimal(38,0)")).as(s"ss_${a}_$b")
        })
      val aggCols = count(lit(1)).as("n") +: sumAggs
      val stats = t(s, d, "lineitem").agg(aggCols.head, aggCols.tail: _*)
      val pairs = for { i <- CorrCols.indices; j <- (i + 1) until CorrCols.size }
        yield {
          val (a, b) = (CorrCols(i), CorrCols(j))
          val num = (col("n") * col(s"ss_${a}_$b") - col(s"s_$a") * col(s"s_$b"))
            .cast("double")
          val va = (col("n") * col(s"ss_${a}_$a") - col(s"s_$a") * col(s"s_$a"))
            .cast("double")
          val vb = (col("n") * col(s"ss_${b}_$b") - col(s"s_$b") * col(s"s_$b"))
            .cast("double")
          struct(lit(a).as("col_x"), lit(b).as("col_y"),
            dround(num / (col("n").cast("double") * (col("n") - 1).cast("double")
              * 10000.0), 4).as("cov"),
            dround(num / (sqrt(va) * sqrt(vb)), 6).as("corr"))
        }
      stats.select(col("n"), explode(array(pairs: _*)).as("p"))
        .select(col("p.col_x"), col("p.col_y"), col("n"),
          col("p.cov"), col("p.corr"))
        .orderBy("col_x", "col_y")
    },
    Some {
      def cc(c: String) = s"CAST(round($c * 100) AS BIGINT)"
      val sums =
        CorrCols.map(c => s"sum(${cc(c)}) AS s_$c") ++
        (for { i <- CorrCols.indices; j <- i until CorrCols.size } yield {
          val (a, b) = (CorrCols(i), CorrCols(j))
          s"sum(${cc(a)} * ${cc(b)}) AS ss_${a}_$b"
        })
      val branches = (for { i <- CorrCols.indices; j <- (i + 1) until CorrCols.size }
        yield {
          val (a, b) = (CorrCols(i), CorrCols(j))
          s"""SELECT '$a' AS col_x, '$b' AS col_y, n,
                CAST(round(CAST(CAST(n * ss_${a}_$b - s_$a * s_$b AS DOUBLE)
                  / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE) * 10000.0)
                  AS DECIMAL(30,8)), 4) AS DOUBLE) AS cov,
                CAST(round(CAST(CAST(n * ss_${a}_$b - s_$a * s_$b AS DOUBLE)
                  / (sqrt(CAST(n * ss_${a}_$a - s_$a * s_$a AS DOUBLE))
                     * sqrt(CAST(n * ss_${b}_$b - s_$b * s_$b AS DOUBLE)))
                  AS DECIMAL(30,8)), 6) AS DOUBLE) AS corr
              FROM stats"""
        }).mkString("\n            UNION ALL\n            ")
      s"""WITH stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n, ${sums.mkString(",\n                   ")}
            FROM lineitem)
          $branches
          ORDER BY col_x, col_y"""
    })

  // ------------------------------------------------ per-group OLS fit --

  /** Per-group simple linear regression (extendedprice on quantity, one fit
    * per return flag) from the closed-form normal equations — the
    * feature-vs-target readout a curation pipeline runs before trusting a
    * scalar signal. One partial-aggregated scan collects n, Σx, Σy, Σx²,
    * Σy², Σxy; slope/intercept/r² are assembled from those six numbers.
    *
    * Hash-exactness is the corrmatrix discipline: values snap to integer
    * cents, every sum is an exact DECIMAL(38) (order-proof), and floating
    * point appears only in the final cast→divide chain on identical exact
    * inputs (IEEE ops are deterministic given identical operands and
    * identical op ORDER — the oracle mirrors the parenthesization exactly),
    * then drounds. Scale: one map-side-combined agg over a 3-value key;
    * the skew ceiling is the partial aggregate, so none.
    */
  private val qStatsLinreg = GQuery(
    (s, d) => {
      def cents(c: String) = graft.Exact.cents(col(c))
      val x = cents("l_quantity")
      val y = cents("l_extendedprice")
      val stats = t(s, d, "lineitem").groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(x.cast("decimal(38,0)")).as("sx"),
        sum(y.cast("decimal(38,0)")).as("sy"),
        sum((x * x).cast("decimal(38,0)")).as("sxx"),
        sum((y * y).cast("decimal(38,0)")).as("syy"),
        sum((x * y).cast("decimal(38,0)")).as("sxy"))
      val dxx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
      val dyy = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
      val dxy = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
      val bnum = (col("sy") * col("sxx") - col("sx") * col("sxy")).cast("double")
      stats.select(col("l_returnflag"), col("n"),
          dround(dxy / dxx, 6).as("slope"),
          dround(bnum / dxx / 100.0, 4).as("intercept"),
          dround(dxy * dxy / (dxx * dyy), 6).as("r2"))
        .orderBy("l_returnflag")
    },
    Some("""WITH st AS (
              -- sums of BIGINT cents: DuckDB accumulates in HUGEINT, the
              -- order-proof exact twin of the Spark side's DECIMAL(38)
              SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
                     sum(CAST(round(l_quantity * 100) AS BIGINT)) AS sx,
                     sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sy,
                     sum(CAST(round(l_quantity * 100) AS BIGINT)
                       * CAST(round(l_quantity * 100) AS BIGINT)) AS sxx,
                     sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                       * CAST(round(l_extendedprice * 100) AS BIGINT)) AS syy,
                     sum(CAST(round(l_quantity * 100) AS BIGINT)
                       * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sxy
              FROM lineitem GROUP BY 1)
            SELECT l_returnflag, n,
                   CAST(round(CAST(CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE)
                     AS DECIMAL(30,8)), 6) AS DOUBLE) AS slope,
                   CAST(round(CAST(CAST(sy * sxx - sx * sxy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0
                     AS DECIMAL(30,8)), 4) AS DOUBLE) AS intercept,
                   CAST(round(CAST(CAST(n * sxy - sx * sy AS DOUBLE)
                     * CAST(n * sxy - sx * sy AS DOUBLE)
                     / (CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE))
                     AS DECIMAL(30,8)), 6) AS DOUBLE) AS r2
            FROM st ORDER BY l_returnflag"""))

  // --------------------------------------- sequence pattern detection --

  /** MATCH_RECOGNIZE-style sequence pattern detection: each user's event
    * history becomes an ordered single-char journey string (the five event
    * types have distinct initials), and CONTIGUOUS patterns are counted by
    * regex — `c+p` (a click burst ending in purchase) and `ev` (a view
    * immediately after an error, the recovery signal). Contiguity is what
    * distinguishes this from the funnel operator's subsequence semantics:
    * `c+p` does not match a click…view…purchase journey.
    *
    * Order is (epoch µs, event_id) on BOTH engines — µs explicitly, because
    * the parquet timestamps are nanos and a ns-ordered oracle could break
    * ties differently than Spark's µs-truncated reads (graft.Tables). Match
    * counts are leftmost non-overlapping in both regex engines, and greedy
    * `c+` cannot split a burst, so the counts are deterministic integers.
    *
    * Scale: one groupBy(user) building a bounded per-user string (journeys
    * are events-per-user sized; a pathological user caps with the same
    * stop-block pattern as the dedup blockers), then map-only regex —
    * codegen'd, no second shuffle.
    */
  private val qEventsPattern = GQuery(
    (s, d) => {
      val ev = t(s, d, "events").select(col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        substring(col("event_type"), 1, 1).as("ch"))
      val j = ev.groupBy("user_id")
        .agg(concat_ws("", transform(
          array_sort(collect_list(struct(col("us"), col("event_id"), col("ch")))),
          x => x.getField("ch"))).as("journey"))
      j.select(col("user_id"), col("journey"),
          length(col("journey")).cast("long").as("n_events"),
          regexp_count(col("journey"), lit("c+p")).as("click_buys"),
          regexp_count(col("journey"), lit("ev")).as("err_recoveries"))
        .orderBy("user_id")
    },
    Some("""WITH e AS (
              SELECT user_id, epoch_us(ts) AS us, event_id,
                     substr(event_type, 1, 1) AS ch
              FROM events),
            j AS (SELECT user_id,
                         string_agg(ch, '' ORDER BY us, event_id) AS journey
                  FROM e GROUP BY 1)
            SELECT user_id, journey,
                   CAST(length(journey) AS BIGINT) AS n_events,
                   CAST(len(regexp_extract_all(journey, 'c+p')) AS INTEGER)
                     AS click_buys,
                   CAST(len(regexp_extract_all(journey, 'ev')) AS INTEGER)
                     AS err_recoveries
            FROM j ORDER BY user_id"""))

  // ------------------------------------------ Markov transition matrix --

  /** First-order Markov transition matrix over each user's event stream:
    * consecutive (prev → cur) event-type pairs via a lag window ordered by
    * (epoch µs, event_id) — the same explicit cross-engine order as
    * q_events_pattern — then exact pair counts, per-source totals, and the
    * conditional transition probability. The session-dynamics profile that
    * feeds next-event prediction and anomaly scoring (a transition that
    * never occurs in the matrix is the anomaly).
    *
    * Counts and totals are exact integers; the probability is one division
    * of two identical exact longs, drounded — no accumulation of floats
    * anywhere. Scale: one user-keyed window (partition-local sort) + one
    * 25-key aggregate; the per-source total is a window over the pair
    * aggregate's 25 rows, so the second pass is metadata-sized.
    */
  private val qEventsMarkov = GQuery(
    (s, d) => {
      val ev = t(s, d, "events").select(col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_id"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val pairs = ev.withColumn("prev", lag("event_type", 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("cur"))
        .agg(count(lit(1)).as("c"))
      val tot = Window.partitionBy("prev")
      pairs.withColumn("total", sum("c").over(tot))
        .select(col("prev"), col("cur"), col("c"), col("total"),
          dround(col("c").cast("double") / col("total"), 6).as("p"))
        .orderBy("prev", "cur")
    },
    Some("""WITH e AS (
              SELECT user_id, epoch_us(ts) AS us, event_id, event_type
              FROM events),
            pr AS (SELECT user_id, event_type AS cur,
                          lag(event_type) OVER (PARTITION BY user_id
                                                ORDER BY us, event_id) AS prev
                   FROM e),
            pc AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS c
                   FROM pr WHERE prev IS NOT NULL GROUP BY 1, 2)
            SELECT prev, cur, c,
                   CAST(sum(c) OVER (PARTITION BY prev) AS BIGINT) AS total,
                   CAST(round(CAST(CAST(c AS DOUBLE)
                     / CAST(sum(c) OVER (PARTITION BY prev) AS DOUBLE)
                     AS DECIMAL(30,8)), 6) AS DOUBLE) AS p
            FROM pc ORDER BY prev, cur"""))

  // --------------------------------------------- chi-square independence --

  /** Pearson chi-square test of independence between order priority and
    * order status — the categorical-association sibling of the Welch-t
    * readout (q_stats_abtest): per-cell contribution
    * (N·n_ij − r_i·c_j)² / (N·r_i·c_j), all inputs exact BIGINT counts so
    * the per-cell double is bit-identical cross-engine, quantized ONCE to
    * integer micro-units (the lm_score milli-nat pattern) and summed as
    * exact integers — the 15-cell total can never drift by summation order.
    * Emits each cell (observed, expected in micro-units, contribution) plus
    * a TOTAL row carrying the statistic.
    *
    * Scale: one map-side-combined cell aggregate on a 15-value key; row and
    * column totals are windows over the 15-row cell table — everything
    * after the first shuffle is metadata-sized.
    */
  private val qStatsChisq = GQuery(
    (s, d) => {
      val cells = t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("pri"), col("o_orderstatus").as("st"))
        .agg(count(lit(1)).as("n"))
      val withTot = cells
        .withColumn("r", sum("n").over(Window.partitionBy("pri")))
        .withColumn("cc", sum("n").over(Window.partitionBy("st")))
        .withColumn("nn", sum("n").over(Window.partitionBy()))
      val dev = (col("nn") * col("n") - col("r") * col("cc")).cast("double")
      val scored = withTot.select(col("pri"), col("st"), col("n"),
        round((col("r") * col("cc")).cast("double") / col("nn") * 1000000.0)
          .cast("long").as("exp_micro"),
        round(dev * dev
          / (col("nn") * col("r") * col("cc")).cast("double") * 1000000.0)
          .cast("long").as("contrib_micro"))
      scored
        .union(scored.agg(sum("n").as("n"), sum("contrib_micro").as("chi2"))
          .select(lit("TOTAL").as("pri"), lit("*").as("st"), col("n"),
            lit(null).cast("long").as("exp_micro"), col("chi2")))
        .orderBy("pri", "st")
    },
    Some("""WITH cells AS (
              SELECT o_orderpriority AS pri, o_orderstatus AS st,
                     CAST(count(*) AS BIGINT) AS n
              FROM orders GROUP BY 1, 2),
            wt AS (SELECT pri, st, n,
                          CAST(sum(n) OVER (PARTITION BY pri) AS BIGINT) AS r,
                          CAST(sum(n) OVER (PARTITION BY st) AS BIGINT) AS cc,
                          CAST(sum(n) OVER () AS BIGINT) AS nn
                   FROM cells),
            sc AS (SELECT pri, st, n,
                          CAST(round(CAST(r * cc AS DOUBLE) / nn * 1000000.0)
                            AS BIGINT) AS exp_micro,
                          CAST(round(CAST(nn * n - r * cc AS DOUBLE)
                            * CAST(nn * n - r * cc AS DOUBLE)
                            / CAST(nn * r * cc AS DOUBLE) * 1000000.0)
                            AS BIGINT) AS contrib_micro
                   FROM wt)
            SELECT pri, st, n, exp_micro, contrib_micro FROM sc
            UNION ALL
            SELECT 'TOTAL', '*', CAST(sum(n) AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(sum(contrib_micro) AS BIGINT)
            FROM sc
            ORDER BY pri, st"""))

  // ------------------------------------------ class-balanced sampling --

  /** Class-balanced downsampling: every label keeps exactly min-class-count
    * rows, chosen by hash rank (row_number over md5(id) within label) — the
    * rebalancing step before training on a skewed corpus, and like
    * q_split_train it is a pure function of the keys: stable under re-runs,
    * re-partitioning, and appends that don't change the minimum. Emits the
    * per-label audit row (original count, kept count, exact id checksum).
    *
    * Scale: one class-count agg (broadcast, label-cardinality rows), then
    * the per-label top-cap in the SALTED TWO-LEVEL shape (the q_text_bm25
    * pattern): a local rank window per (label, vec_id%16 salt) prunes each
    * salt bucket to its own top cap — sound because any row in the global
    * top cap has local rank ≤ its global rank ≤ cap — and only then does
    * the per-label window rank the ≤16·cap survivors. A dominant label
    * holding half the corpus therefore sorts as 16 parallel bucket sorts
    * plus one 16·cap-row sort, never one label-sized single-task sort (the
    * straggler SCALE.md named); the salt fan widens with the executor count
    * at scale.
    */
  private val qSampleBalanced = GQuery(
    (s, d) => {
      val e = t(s, d, "embeddings").select(col("vec_id"), col("label"))
      val cnt = e.groupBy("label").agg(count(lit(1)).as("n_orig"))
      val cap = cnt.agg(min("n_orig").as("cap"))
      val wLocal = Window
        .partitionBy(col("label"), pmod(col("vec_id"), lit(16)))
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      val wGlobal = Window.partitionBy("label")
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      e.crossJoin(broadcast(cap))
        .withColumn("lrk", row_number().over(wLocal))
        .filter(col("lrk") <= col("cap"))
        .withColumn("rk", row_number().over(wGlobal))
        .filter(col("rk") <= col("cap"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_kept"), sum("vec_id").as("id_sum"))
        .join(broadcast(cnt), "label")
        .select(col("label"), col("n_orig"), col("n_kept"), col("id_sum"))
        .orderBy("label")
    },
    Some("""WITH e AS (SELECT vec_id, label FROM embeddings),
            cnt AS (SELECT label, CAST(count(*) AS BIGINT) AS n_orig
                    FROM e GROUP BY 1),
            cap AS (SELECT min(n_orig) AS cap FROM cnt),
            rk AS (SELECT label, vec_id,
                          row_number() OVER (PARTITION BY label
                            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
                   FROM e)
            SELECT r.label, c.n_orig, CAST(count(*) AS BIGINT) AS n_kept,
                   CAST(sum(r.vec_id) AS BIGINT) AS id_sum
            FROM rk r CROSS JOIN cap JOIN cnt c ON c.label = r.label
            WHERE r.rk <= cap.cap
            GROUP BY 1, 2 ORDER BY 1"""))

  // --------------------------------------- Kolmogorov–Smirnov two-sample --

  /** Two-sample Kolmogorov–Smirnov distance between the R and A return
    * flags' price distributions — the distribution-shift detector that
    * complements the mean-level Welch-t (q_stats_abtest): D = max over
    * values of |F_R(v) − F_A(v)|. ENTIRELY integer until the final readout:
    * prices snap to cents, ECDF numerators are cumulative counts, and the
    * max is taken over |cum1·n2 − cum2·n1| (cross-multiplied — no per-row
    * division anywhere), so the statistic's numerator hashes as an exact
    * BIGINT. Emits n1, n2, the integer numerator, D, and the (smallest)
    * value attaining it.
    *
    * Scale: the ECDF prefix sum uses the `graft.Prefix` two-level shape —
    * bucket totals (≈105 rows) take the tiny global window, in-bucket
    * windows run per-bucket in parallel — NOT a single N-row sort; the
    * oracle deliberately computes the same statistic with a flat global
    * window, so the gate checks the algorithm, not a mirror of it.
    */
  private val qStatsKs = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("l_extendedprice"))
      // bkt joins the group key (it is a function of v, so the groups are
      // unchanged) and the scan clusters on it up front: the grid agg, the
      // bucket-totals agg, and the in-bucket cumsum window then all ride
      // ONE exchange instead of re-shuffling the near-unique price grid
      def vals = t(s, d, "lineitem")
        .filter(col("l_returnflag").isin("R", "A"))
        .select(cents.as("v"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("isr"))
        .withColumn("bkt", expr("v div 100000"))
        .repartition(col("bkt"))
        .groupBy("bkt", "v")
        .agg(sum("isr").as("c1"), sum(lit(1L) - col("isr")).as("c2"))
      // bucket totals checkpoint (~105 rows) feeds offsets AND the group
      // sizes; the price grid (near-unique — corpus-sized, the xi/wquantile
      // lesson) is consumed exactly once and never materializes
      val btot = vals.groupBy("bkt")
        .agg(sum("c1").as("t1"), sum("c2").as("t2"))
        .localCheckpoint(true)
      val wb = Window.orderBy("bkt")
      val bp = btot.select(col("bkt"),
        Prefix.sumBefore(col("t1"), wb).as("off1"),
        Prefix.sumBefore(col("t2"), wb).as("off2"))
      val tot = btot.agg(sum("t1").as("n1"), sum("t2").as("n2"))
      val wv = Window.partitionBy("bkt").orderBy("v")
      val sc = vals.join(broadcast(bp), "bkt")
        .select(col("v"),
          (col("off1") + sum("c1").over(wv)).as("cum1"),
          (col("off2") + sum("c2").over(wv)).as("cum2"))
        .crossJoin(broadcast(tot))
        .select(col("v"), col("n1"), col("n2"),
          abs(col("cum1") * col("n2") - col("cum2") * col("n1")).as("dnum"))
      // max numerator AND its smallest attaining value in ONE reduction
      // (max_by on (dnum, −v) — the r9 two-consumer shape replayed the
      // whole ECDF pipeline once per readout)
      sc.groupBy("n1", "n2")
        .agg(max("dnum").as("d_num"),
          max_by(col("v"), struct(col("dnum"), (-col("v")).as("nv")))
            .as("v_at"))
        .select(col("n1"), col("n2"), col("d_num"),
          dround(col("d_num").cast("double")
            / (col("n1").cast("double") * col("n2").cast("double")), 6).as("d"),
          col("v_at"))
    },
    Some("""WITH li AS (
              SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
                     CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS isr
              FROM lineitem WHERE l_returnflag IN ('R', 'A')),
            vals AS (SELECT v, CAST(sum(isr) AS BIGINT) AS c1,
                            CAST(sum(1 - isr) AS BIGINT) AS c2
                     FROM li GROUP BY 1),
            cum AS (SELECT v, sum(c1) OVER (ORDER BY v) AS cum1,
                           sum(c2) OVER (ORDER BY v) AS cum2
                    FROM vals),
            tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                           CAST(sum(c2) AS BIGINT) AS n2 FROM vals),
            sc AS (SELECT v, CAST(abs(cum1 * n2 - cum2 * n1) AS BIGINT) AS dnum
                   FROM cum CROSS JOIN tot),
            dm AS (SELECT max(dnum) AS d_num FROM sc)
            SELECT t.n1, t.n2, CAST(dm.d_num AS BIGINT) AS d_num,
                   CAST(round(CAST(CAST(dm.d_num AS DOUBLE)
                     / (CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE))
                     AS DECIMAL(30,8)), 6) AS DOUBLE) AS d,
                   (SELECT min(v) FROM sc WHERE dnum = dm.d_num) AS v_at
            FROM tot t CROSS JOIN dm"""))

  /** Changepoint detection on the daily event-value series — the exact
    * first split of binary segmentation: for every candidate split day t,
    * the gap |mean(cents before ≤t) − mean(cents after)| in integer
    * micro-cents, with the argmax flagged (`is_cp`). The drift-localization
    * primitive behind "when did the metric shift" — q_stats_psi says THAT
    * distributions drifted; this says WHEN the level moved.
    *
    * Everything is exact integers: values snap to cents at the scan, the
    * split means are (Σ·10⁶) div n fixed-point (Spark `div` ≡ DuckDB `//`),
    * the argmax tie-breaks to the earliest day. Scale: one partial-agg
    * groupBy collapses the corpus to ≤ #days rows; every window after runs
    * over that calendar-bounded series (a year is 365 rows regardless of
    * corpus size), so the unpartitioned windows are metadata-sized — the
    * q_stats_calibration economics. At 100-TB sums, Σcents·10⁶ approaches
    * BIGINT range (~9e18): the corrmatrix DECIMAL(38) widening applies.
    */
  private val qTsChangepoint = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val daily = t(s, d, "events")
        .select(to_date(col("ts")).as("day"), cents.as("v"))
        .groupBy("day").agg(count(lit(1)).as("n"), sum(col("v")).as("sc"))
      val wCum = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val scored = daily
        .select(col("day"),
          sum(col("n")).over(wCum).as("cn"), sum(col("sc")).over(wCum).as("cs"),
          sum(col("n")).over(wAll).as("tn"), sum(col("sc")).over(wAll).as("ts"))
        .filter(col("cn") < col("tn"))
        .select(col("day"), col("cn").as("n_before"),
          expr("(cs * 1000000L) div cn").as("mb_micro"),
          expr("((ts - cs) * 1000000L) div (tn - cn)").as("ma_micro"))
        .withColumn("gap_micro", abs(col("mb_micro") - col("ma_micro")))
      val wArg = Window.orderBy(col("gap_micro").desc, col("day").asc)
      scored.withColumn("is_cp", row_number().over(wArg) === 1)
        .orderBy("day")
    },
    Some("""WITH daily AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                     count(*) AS n,
                     sum(CAST(round(value * 100) AS BIGINT)) AS sc
              FROM events GROUP BY 1),
            cum AS (
              SELECT day,
                     sum(n) OVER (ORDER BY day
                       ROWS UNBOUNDED PRECEDING) AS cn,
                     sum(sc) OVER (ORDER BY day
                       ROWS UNBOUNDED PRECEDING) AS cs,
                     sum(n) OVER () AS tn, sum(sc) OVER () AS ts
              FROM daily),
            scored AS (
              SELECT day, cn AS n_before,
                     (cs * 1000000) // cn AS mb_micro,
                     ((ts - cs) * 1000000) // (tn - cn) AS ma_micro,
                     abs((cs * 1000000) // cn
                       - ((ts - cs) * 1000000) // (tn - cn)) AS gap_micro
              FROM cum WHERE cn < tn)
            SELECT day, CAST(n_before AS BIGINT) AS n_before,
                   CAST(mb_micro AS BIGINT) AS mb_micro,
                   CAST(ma_micro AS BIGINT) AS ma_micro,
                   CAST(gap_micro AS BIGINT) AS gap_micro,
                   row_number() OVER (ORDER BY gap_micro DESC, day) = 1 AS is_cp
            FROM scored ORDER BY day"""))

  /** Deterministic negative sampling for contrastive/recommender training:
    * per customer, 4 parts they have NOT bought, drawn by hashing
    * (customer, slot) into the part catalog — md5-slot candidates, the
    * engine's seeded-randomness idiom (bootstrap's Poisson weights, the
    * split_train hash gate). The at-scale point is the candidate shape:
    * |customers| × 8 slots (LINEAR), never customers × catalog — the naive
    * "anti-join the cross product" is the quadratic trap this op exists to
    * avoid. Slots over-provision ×2 so positive collisions (a sampled part
    * the customer did buy) drop out in the anti-join and later slots
    * backfill; the first 4 surviving slots (slot-order rank) are emitted,
    * so the draw is reproducible row-for-row on both engines.
    *
    * The catalog maps hash → part via a dense row_number index over the
    * part DIM (no key-contiguity assumption); the dim-sized window and the
    * candidate join are broadcast — only the positives anti-join shuffles,
    * keyed on the (custkey, partkey) pair.
    */
  private val qSampleNegatives = GQuery(
    (s, d) => {
      val nParts = t(s, d, "part").count()
      val partIdx = t(s, d, "part").select(col("p_partkey"))
        .withColumn("idx",
          row_number().over(Window.orderBy("p_partkey")).cast("long") - 1L)
      val pos = t(s, d, "orders")
        .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("ck"), col("l_partkey").as("pk"))
        .distinct()
      val cand = t(s, d, "customer")
        .select(col("c_custkey"))
        .withColumn("slot", explode(sequence(lit(1), lit(8))))
        .withColumn("idx",
          pmod(DedupOps.hex4(concat(col("c_custkey"), lit(":"), col("slot"))),
            lit(nParts)))
      val w = Window.partitionBy("c_custkey").orderBy("slot")
      cand.join(broadcast(partIdx), "idx")
        .join(pos, col("c_custkey") === col("ck")
          && col("p_partkey") === col("pk"), "left_anti")
        .withColumn("rk", row_number().over(w).cast("int"))
        .filter(col("rk") <= 4)
        .select(col("c_custkey"), col("rk"), col("slot"),
          col("p_partkey").as("neg_partkey"))
        .orderBy("c_custkey", "rk")
    },
    Some(s"""WITH pidx AS (
               SELECT p_partkey,
                      row_number() OVER (ORDER BY p_partkey) - 1 AS idx
               FROM part),
             np AS (SELECT count(*) AS n FROM part),
             pos AS (
               SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
               FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             cand AS (
               SELECT c_custkey, i AS slot,
                      ${DedupOps.duckHex4(
                        "md5(CAST(c_custkey AS VARCHAR) || ':' || CAST(i AS VARCHAR))")}
                        % np.n AS idx
               FROM customer, np,
                    LATERAL (SELECT unnest(generate_series(1, 8)) AS i)),
             kept AS (
               SELECT c.c_custkey, c.slot, p.p_partkey
               FROM cand c JOIN pidx p USING (idx)
               WHERE NOT EXISTS (SELECT 1 FROM pos
                                 WHERE pos.ck = c.c_custkey
                                   AND pos.pk = p.p_partkey)),
             ranked AS (
               SELECT c_custkey, slot, p_partkey,
                      row_number() OVER (PARTITION BY c_custkey
                        ORDER BY slot) AS rk
               FROM kept)
             SELECT c_custkey, CAST(rk AS INT) AS rk, CAST(slot AS INT) AS slot,
                    p_partkey AS neg_partkey
             FROM ranked WHERE rk <= 4 ORDER BY c_custkey, rk"""))

  /** Autocorrelation function of the daily revenue series at lags 1..7 —
    * the periodicity diagnostic next to q_events_seasonal (which assumes a
    * weekly cycle; the ACF is how you FIND the cycle) and q_ts_changepoint
    * (level shifts). Per lag k: Pearson r between (xₜ, xₜ₋ₖ) over the
    * overlapping days.
    *
    * Hash-exactness is the corrmatrix/linreg discipline: the series is
    * exact summed cents, all seven lag columns come from ONE window pass
    * over the ≤ #days aggregate and stack to (k, x, xl) rows, moment sums
    * accumulate as exact DECIMAL(38), and floating point appears only in
    * the final cast→sqrt→divide on identical exact inputs with mirrored
    * parenthesization, then drounds. Constant-series edges (zero variance)
    * null out on both engines instead of emitting NaN.
    *
    * Scale: corpus → ≤ #days rows in one partial agg; the window, stack,
    * and 7-row moment agg all run on the calendar-bounded series.
    */
  private val qTsAutocorr = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val daily = t(s, d, "events")
        .select(to_date(col("ts")).as("day"), cents.as("v"))
        .groupBy("day").agg(sum("v").as("x"))
      val w = Window.orderBy("day")
      val lags = (1 to 7).map(k => lag("x", k).over(w).as(s"x_$k"))
      val lagged = daily.select(col("day") +: col("x") +: lags: _*)
      val stacked = lagged.selectExpr("x",
        s"stack(7, ${(1 to 7).map(k => s"$k, x_$k").mkString(", ")}) AS (k, xl)")
        .filter(col("xl").isNotNull)
      val st = stacked.groupBy("k").agg(
        count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("xl").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("xl") * col("xl")).cast("decimal(38,0)")).as("syy"),
        sum((col("x") * col("xl")).cast("decimal(38,0)")).as("sxy"))
      val dxx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
      val dyy = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
      val dxy = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
      st.select(col("k").cast("int").as("k"), col("n"),
          when(dxx > 0 && dyy > 0, dround(dxy / sqrt(dxx * dyy), 6))
            .as("acf"))
        .orderBy("k")
    },
    Some(s"""WITH daily AS (
               SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                      sum(CAST(round(value * 100) AS BIGINT))
                        AS x
               FROM events GROUP BY 1),
             lagged AS (
               SELECT day, x,
                      ${(1 to 7).map(k =>
                        s"lag(x, $k) OVER (ORDER BY day) AS x_$k")
                        .mkString(", ")}
               FROM daily),
             stacked AS (
               SELECT lagged.x, t.k, t.xl
               FROM lagged, LATERAL (VALUES
                 ${(1 to 7).map(k => s"($k, x_$k)").mkString(", ")})
                 AS t(k, xl)
               WHERE t.xl IS NOT NULL),
             st AS (
               SELECT k, CAST(count(*) AS BIGINT) AS n,
                      sum(x) AS sx, sum(xl) AS sy,
                      sum(x * x) AS sxx, sum(xl * xl) AS syy,
                      sum(x * xl) AS sxy
               FROM stacked GROUP BY 1)
             SELECT CAST(k AS INT) AS k, n,
                    CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
                          AND CAST(n * syy - sy * sy AS DOUBLE) > 0
                      THEN CAST(round(CAST(CAST(n * sxy - sx * sy AS DOUBLE)
                        / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                               * CAST(n * syy - sy * sy AS DOUBLE))
                        AS DECIMAL(30,8)), 6) AS DOUBLE)
                    END AS acf
             FROM st ORDER BY k"""))

  /** RFM segmentation — recency / frequency / monetary quintile scores per
    * purchasing user, with the classic lifecycle labels (champion / loyal /
    * at-risk / hibernating / regular). The anchor for recency is the
    * stream's own max timestamp (data-derived, so the query is
    * replay-stable). ntile(5) with a user_id tie-break makes the quintile
    * assignment a total order — both engines implement SQL-standard ntile
    * (equal buckets, earlier rows take the remainder) identically.
    *
    * Scale: the corpus collapses to one row per purchasing USER in a
    * partial agg before any window; the unpartitioned ntile then sorts
    * users, not events — fine to millions, and past that the production
    * path is quantile-boundary bucketing (q_feature_bucketize's shape)
    * instead of a rank. Monetary is exact cents; recency is whole days.
    */
  private val qEventsRfm = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val p = t(s, d, "events").filter(col("event_type") === "purchase")
        .select(col("user_id"), to_date(col("ts")).as("day"), cents.as("v"))
      val perUser = p.groupBy("user_id")
        .agg(max("day").as("last_day"), count(lit(1L)).as("f_n"),
          sum("v").as("m_cents"))
      val anchor = p.agg(max("day").as("anchor"))
      val scored = perUser.crossJoin(broadcast(anchor))
        .withColumn("r_days", datediff(col("anchor"), col("last_day")).cast("long"))
        .withColumn("r_score",
          lit(6) - ntile(5).over(Window.orderBy(col("r_days").asc, col("user_id").asc)))
        .withColumn("f_score",
          ntile(5).over(Window.orderBy(col("f_n").asc, col("user_id").asc)))
        .withColumn("m_score",
          ntile(5).over(Window.orderBy(col("m_cents").asc, col("user_id").asc)))
      scored.select(col("user_id"), col("r_days"), col("f_n"), col("m_cents"),
          col("r_score"), col("f_score"), col("m_score"),
          when(col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4,
            "champion")
            .when(col("f_score") >= 4, "loyal")
            .when(col("r_score") <= 2 && col("f_score") >= 3, "at_risk")
            .when(col("r_score") <= 2, "hibernating")
            .otherwise("regular").as("segment"))
        .orderBy("user_id")
    },
    Some("""WITH p AS (
              SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(round(value * 100) AS BIGINT) AS v
              FROM events WHERE event_type = 'purchase'),
            pu AS (
              SELECT user_id, max(day) AS last_day,
                     CAST(count(*) AS BIGINT) AS f_n,
                     CAST(sum(v) AS BIGINT) AS m_cents
              FROM p GROUP BY 1),
            a AS (SELECT max(day) AS anchor FROM p),
            scored AS (
              SELECT user_id,
                     CAST(datediff('day', last_day, anchor) AS BIGINT) AS r_days,
                     f_n, m_cents
              FROM pu CROSS JOIN a),
            ranked AS (
              SELECT *,
                     6 - ntile(5) OVER (ORDER BY r_days, user_id) AS r_score,
                     ntile(5) OVER (ORDER BY f_n, user_id) AS f_score,
                     ntile(5) OVER (ORDER BY m_cents, user_id) AS m_score
              FROM scored)
            SELECT user_id, r_days, f_n, m_cents,
                   CAST(r_score AS INT) AS r_score,
                   CAST(f_score AS INT) AS f_score,
                   CAST(m_score AS INT) AS m_score,
                   CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                          THEN 'champion'
                        WHEN f_score >= 4 THEN 'loyal'
                        WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
                        WHEN r_score <= 2 THEN 'hibernating'
                        ELSE 'regular' END AS segment
            FROM ranked ORDER BY user_id"""))

  /** Quantile-boundary RFM — the at-scale production path SCALE.md names
    * for q_events_rfm: past millions of users the three user-cardinality
    * ntile windows become corpus sorts, so this twin derives each
    * dimension's QUINTILE BOUNDARIES from the value GRID instead (per-value
    * counts → two-level prefix sums → b_j = smallest value whose cumulative
    * count reaches ⌈n·j/5⌉, the exact integer c·5 ≥ n·j comparison — the
    * funnel_latency order-statistic machinery) and scores every user
    * against the 12 broadcast boundaries in one codegen'd row pass:
    * bucket(v) = 1 + Σ_j [v > b_j]. Boundary semantics differ from ntile
    * BY DESIGN (ties share a bucket instead of splitting on a tie-break) —
    * the oracle implements the same boundary rule, so the t2 hash pins the
    * declared semantics, and the exact-ntile twin stays next door for the
    * small-n audit. Same lifecycle labels as q_events_rfm.
    *
    * Scale: one user partial agg + three value-grid aggs with
    * bucket-partitioned windows (ks economics — no user-corpus sort
    * anywhere, plan-pinned ntile-free) + three 1-row broadcasts onto a
    * map-only scoring pass.
    */
  private val qEventsRfmBoundaries = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val p = t(s, d, "events").filter(col("event_type") === "purchase")
        .select(col("user_id"), to_date(col("ts")).as("day"), cents.as("v"))
      val anchor = p.agg(max("day").as("anchor"))
      val perUser = p.groupBy("user_id")
        .agg(max("day").as("last_day"), count(lit(1L)).as("f_n"),
          sum("v").as("m_cents"))
        .crossJoin(broadcast(anchor))
        .withColumn("r_days",
          datediff(col("anchor"), col("last_day")).cast("long"))
        .select("user_id", "r_days", "f_n", "m_cents")
        // feeds three grid aggs plus the scoring pass — materialize once
        .localCheckpoint(true)
      val nRow = perUser.agg(count(lit(1L)).as("n"))
      // per dimension: value grid → two-level cumulative (bucket offsets
      // window is bucket-count-sized; in-bucket windows parallelize) →
      // four conditional-min boundaries in ONE agg → 1-row broadcast
      def bounds(cn: String, div: Long) = {
        val grid = perUser.groupBy(cn).agg(count(lit(1L)).as("cnt"))
          .withColumn("bkt", expr(s"$cn div $div"))
        val wv = Window.partitionBy("bkt").orderBy(cn)
        val cum = Prefix.withBucketOffsets(grid, Nil, "bkt", sum("cnt"), "off")
          .select(col(cn).as("v"), (col("off") + sum("cnt").over(wv)).as("c"))
        val aggs = (1 to 4).map(j =>
          min(when(col("c") * 5 >= col("n") * j, col("v"))).as(s"${cn}_b$j"))
        cum.crossJoin(broadcast(nRow)).agg(aggs.head, aggs.tail: _*)
      }
      val rb = bounds("r_days", 10L)
      val fb = bounds("f_n", 10L)
      val mb = bounds("m_cents", 100000L)
      def bucket(cn: String) = (1 to 4).map(j =>
        when(col(cn) > col(s"${cn}_b$j"), 1).otherwise(0)).reduce(_ + _) + 1
      perUser.crossJoin(broadcast(rb)).crossJoin(broadcast(fb))
        .crossJoin(broadcast(mb))
        .withColumn("r_score", (lit(6) - bucket("r_days")).cast("int"))
        .withColumn("f_score", bucket("f_n").cast("int"))
        .withColumn("m_score", bucket("m_cents").cast("int"))
        .select(col("user_id"), col("r_days"), col("f_n"), col("m_cents"),
          col("r_score"), col("f_score"), col("m_score"),
          when(col("r_score") >= 4 && col("f_score") >= 4
              && col("m_score") >= 4, "champion")
            .when(col("f_score") >= 4, "loyal")
            .when(col("r_score") <= 2 && col("f_score") >= 3, "at_risk")
            .when(col("r_score") <= 2, "hibernating")
            .otherwise("regular").as("segment"))
        .orderBy("user_id")
    },
    Some("""WITH p AS (
              SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(round(value * 100) AS BIGINT) AS v
              FROM events WHERE event_type = 'purchase'),
            a AS (SELECT max(day) AS anchor FROM p),
            pu AS (
              SELECT user_id, max(day) AS last_day,
                     CAST(count(*) AS BIGINT) AS f_n,
                     CAST(sum(v) AS BIGINT) AS m_cents
              FROM p GROUP BY 1),
            su AS (
              SELECT user_id,
                     CAST(datediff('day', last_day, anchor) AS BIGINT)
                       AS r_days,
                     f_n, m_cents
              FROM pu CROSS JOIN a),
            n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM su),
            rcum AS (
              SELECT v, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS c
              FROM (SELECT r_days AS v, CAST(count(*) AS BIGINT) AS cnt
                    FROM su GROUP BY 1)),
            rb AS (
              SELECT min(CASE WHEN c * 5 >= n * 1 THEN v END) AS b1,
                     min(CASE WHEN c * 5 >= n * 2 THEN v END) AS b2,
                     min(CASE WHEN c * 5 >= n * 3 THEN v END) AS b3,
                     min(CASE WHEN c * 5 >= n * 4 THEN v END) AS b4
              FROM rcum, n),
            fcum AS (
              SELECT v, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS c
              FROM (SELECT f_n AS v, CAST(count(*) AS BIGINT) AS cnt
                    FROM su GROUP BY 1)),
            fb AS (
              SELECT min(CASE WHEN c * 5 >= n * 1 THEN v END) AS b1,
                     min(CASE WHEN c * 5 >= n * 2 THEN v END) AS b2,
                     min(CASE WHEN c * 5 >= n * 3 THEN v END) AS b3,
                     min(CASE WHEN c * 5 >= n * 4 THEN v END) AS b4
              FROM fcum, n),
            mcum AS (
              SELECT v, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS c
              FROM (SELECT m_cents AS v, CAST(count(*) AS BIGINT) AS cnt
                    FROM su GROUP BY 1)),
            mb AS (
              SELECT min(CASE WHEN c * 5 >= n * 1 THEN v END) AS b1,
                     min(CASE WHEN c * 5 >= n * 2 THEN v END) AS b2,
                     min(CASE WHEN c * 5 >= n * 3 THEN v END) AS b3,
                     min(CASE WHEN c * 5 >= n * 4 THEN v END) AS b4
              FROM mcum, n),
            sc AS (
              SELECT su.user_id, su.r_days, su.f_n, su.m_cents,
                     CAST(6 - (1
                       + CASE WHEN r_days > rb.b1 THEN 1 ELSE 0 END
                       + CASE WHEN r_days > rb.b2 THEN 1 ELSE 0 END
                       + CASE WHEN r_days > rb.b3 THEN 1 ELSE 0 END
                       + CASE WHEN r_days > rb.b4 THEN 1 ELSE 0 END)
                       AS INT) AS r_score,
                     CAST(1
                       + CASE WHEN f_n > fb.b1 THEN 1 ELSE 0 END
                       + CASE WHEN f_n > fb.b2 THEN 1 ELSE 0 END
                       + CASE WHEN f_n > fb.b3 THEN 1 ELSE 0 END
                       + CASE WHEN f_n > fb.b4 THEN 1 ELSE 0 END
                       AS INT) AS f_score,
                     CAST(1
                       + CASE WHEN m_cents > mb.b1 THEN 1 ELSE 0 END
                       + CASE WHEN m_cents > mb.b2 THEN 1 ELSE 0 END
                       + CASE WHEN m_cents > mb.b3 THEN 1 ELSE 0 END
                       + CASE WHEN m_cents > mb.b4 THEN 1 ELSE 0 END
                       AS INT) AS m_score
              FROM su, rb, fb, mb)
            SELECT user_id, r_days, f_n, m_cents, r_score, f_score, m_score,
                   CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                          THEN 'champion'
                        WHEN f_score >= 4 THEN 'loyal'
                        WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
                        WHEN r_score <= 2 THEN 'hibernating'
                        ELSE 'regular' END AS segment
            FROM sc ORDER BY user_id"""))

  /** Spearman rank correlation between l_quantity and l_extendedprice —
    * the robust (outlier-immune, monotonicity-sensing) companion to the
    * Pearson corrmatrix. ρ = Pearson over the two columns' mid-ranks; the
    * ranks come from the q_stats_auc machinery: per column, collapse to
    * the distinct cent-value grid, cumulative counts give DOUBLED
    * mid-ranks (2·cum + cnt + 1 — integers, no .5 halves), broadcast the
    * value→rank map back onto the rows, then exact DECIMAL(38) moment
    * sums over the (2rx, 2ry) pairs; the doubling cancels in ρ. fp only
    * in the final cast→sqrt→divide (corrmatrix rule), drounded.
    *
    * Scale: two value-grid aggs (score-domain-bounded) + one row pass
    * joining both rank maps + one scalar moment agg — the rank maps are
    * grid-sized broadcasts, so no row-level sort or window ever runs over
    * the corpus (the naive rank() formulation would).
    */
  private val qStatsSpearman = GQuery(
    (s, d) => {
      def cents(c: String) = graft.Exact.cents(col(c))
      // two-long-column corpus projection, materialized ONCE for its three
      // consumers (both rank maps + the join) — the funcdep/xi width
      // discipline; without it the scan+cents cast ran per consumer
      val rows = t(s, d, "lineitem")
        .select(cents("l_quantity").as("x"), cents("l_extendedprice").as("y"))
        .localCheckpoint(true)
      def rankMap(c: String) = {
        rows.groupBy(c).agg(count(lit(1L)).as("cnt"))
          .withColumn("cumb", Prefix.sumBefore(col("cnt"), Window.orderBy(c)))
          .select(col(c), (col("cumb") * 2 + col("cnt") + 1).as(s"r$c"))
      }
      // x has ~50 distinct values — its rank map broadcasts for free. y is
      // near-unique (the price domain), so the r11 shape — groupBy(y) +
      // UNPARTITIONED cumsum window + a 500k-row broadcast rank map — paid
      // a single-task global sort and a heavyweight broadcast build.
      // `Prefix` computes ry directly on the rows instead:
      // bucket offsets (≤ ~105-row window) + within-bucket RANGE count of
      // strictly-smaller values + an equal-value count. Exactly
      // ry = 2·(#rows below y) + (#rows at y) + 1, the same integer.
      val ybkt = rows.withColumn("ybkt", expr("y div 100000"))
      val wLt = Window.partitionBy("ybkt").orderBy("y")
        .rangeBetween(Window.unboundedPreceding, -1)
      val wEq = Window.partitionBy("ybkt", "y")
      val ranked = Prefix.withBucketOffsets(ybkt, Nil, "ybkt",
          count(lit(1L)), "off")
        .withColumn("ry",
          (col("off") + count(lit(1L)).over(wLt)) * 2
            + count(lit(1L)).over(wEq) + 1)
        .join(broadcast(rankMap("x")), "x")
      val st = ranked.agg(
        count(lit(1L)).as("n"),
        sum(col("rx").cast("decimal(38,0)")).as("sx"),
        sum(col("ry").cast("decimal(38,0)")).as("sy"),
        sum((col("rx") * col("rx")).cast("decimal(38,0)")).as("sxx"),
        sum((col("ry") * col("ry")).cast("decimal(38,0)")).as("syy"),
        sum((col("rx") * col("ry")).cast("decimal(38,0)")).as("sxy"))
      val dxx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
      val dyy = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
      val dxy = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
      st.select(col("n"), dround(dxy / sqrt(dxx * dyy), 6).as("spearman_rho"))
    },
    Some("""WITH rows_ AS (
              SELECT CAST(round(l_quantity * 100) AS BIGINT) AS x,
                     CAST(round(l_extendedprice * 100) AS BIGINT) AS y
              FROM lineitem),
            rmx AS (
              SELECT x, CAST(coalesce(sum(cnt) OVER (ORDER BY x
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
                     + cnt + 1 AS BIGINT) AS rx
              FROM (SELECT x, CAST(count(*) AS BIGINT) AS cnt
                    FROM rows_ GROUP BY 1)),
            rmy AS (
              SELECT y, CAST(coalesce(sum(cnt) OVER (ORDER BY y
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 2
                     + cnt + 1 AS BIGINT) AS ry
              FROM (SELECT y, CAST(count(*) AS BIGINT) AS cnt
                    FROM rows_ GROUP BY 1)),
            rk AS (
              SELECT rx, ry FROM rows_ JOIN rmx USING (x) JOIN rmy USING (y)),
            st AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     sum(rx) AS sx, sum(ry) AS sy,
                     sum(rx * rx) AS sxx, sum(ry * ry) AS syy,
                     sum(rx * ry) AS sxy
              FROM rk)
            SELECT n,
                   CAST(round(CAST(CAST(n * sxy - sx * sy AS DOUBLE)
                     / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE))
                     AS DECIMAL(30,8)), 6) AS DOUBLE) AS spearman_rho
            FROM st"""))

  /** Seasonal-naive forecast with MASE — the forecast-eval member of the
    * time-series family (ACF finds the cycle; this scores the forecast the
    * cycle implies). Per day in the series' last week: forecast = the
    * value 7 days earlier (seasonal naive), baseline = the previous day
    * (naive); errors are exact cents and MASE_ppm = Σ|e_model|·10⁶ div
    * Σ|e_naive| — below 10⁶ means the weekly cycle beats persistence,
    * the standard "is there a learnable pattern" gate before any real
    * forecaster earns its compute.
    *
    * One day-level partial agg collapses the corpus; both lag columns ride
    * ONE window pass over the ≤ #days series (changepoint economics). The
    * per-day rows emit alongside the -1-keyed MASE summary row; integer
    * div is safe — absolute errors are non-negative.
    */
  private val qTsSnaive = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val daily = t(s, d, "events")
        .select(to_date(col("ts")).as("day"), cents.as("v"))
        .groupBy("day").agg(sum("v").as("x"))
      val w = Window.orderBy("day")
      val wAll = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val lagged = daily
        .withColumn("f_snaive", lag("x", 7).over(w))
        .withColumn("f_naive", lag("x", 1).over(w))
        .withColumn("last_day", max("day").over(wAll))
        .filter(col("day") > date_sub(col("last_day"), 7))
        .filter(col("f_snaive").isNotNull && col("f_naive").isNotNull)
        .select(col("day"), col("x"),
          col("f_snaive"), abs(col("x") - col("f_snaive")).as("e_model"),
          abs(col("x") - col("f_naive")).as("e_naive"))
      val summary = lagged.agg(sum("e_model").as("sm"), sum("e_naive").as("sn"))
        .select(lit(null).cast("date").as("day"), lit(0L).as("x"),
          lit(0L).as("f_snaive"), col("sm").as("e_model"),
          col("sn").as("e_naive"))
        .withColumn("mase_ppm",
          when(col("e_naive") > 0, expr("e_model * 1000000L div e_naive"))
            .otherwise(0L))
      lagged.withColumn("mase_ppm", lit(0L))
        .unionByName(summary)
        .orderBy(col("day").asc_nulls_last)
    },
    Some("""WITH daily AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                     sum(CAST(round(value * 100) AS BIGINT)) AS x
              FROM events GROUP BY 1),
            lagged AS (
              SELECT day, x,
                     lag(x, 7) OVER (ORDER BY day) AS f_snaive,
                     lag(x, 1) OVER (ORDER BY day) AS f_naive,
                     max(day) OVER () AS last_day
              FROM daily),
            t AS (
              SELECT day, CAST(x AS BIGINT) AS x,
                     CAST(f_snaive AS BIGINT) AS f_snaive,
                     CAST(abs(x - f_snaive) AS BIGINT) AS e_model,
                     CAST(abs(x - f_naive) AS BIGINT) AS e_naive
              FROM lagged
              WHERE day > last_day - INTERVAL 7 DAY
                AND f_snaive IS NOT NULL AND f_naive IS NOT NULL),
            s AS (
              SELECT CAST(NULL AS DATE) AS day, CAST(0 AS BIGINT) AS x,
                     CAST(0 AS BIGINT) AS f_snaive,
                     CAST(sum(e_model) AS BIGINT) AS e_model,
                     CAST(sum(e_naive) AS BIGINT) AS e_naive
              FROM t)
            SELECT day, x, f_snaive, e_model, e_naive,
                   CAST(0 AS BIGINT) AS mase_ppm FROM t
            UNION ALL
            SELECT day, x, f_snaive, e_model, e_naive,
                   CAST(CASE WHEN e_naive > 0
                     THEN e_model * 1000000 // e_naive ELSE 0 END AS BIGINT)
            FROM s
            ORDER BY day ASC NULLS LAST"""))

  /** Deterministic epoch resharding — training-loader shuffling WITHOUT a
    * global sort: each document's shard for epoch e is md5(doc_id:e) mod 8,
    * so every epoch is a fresh pseudo-random permutation that any worker
    * can recompute locally (resumable, seedable, no shuffle service state).
    * Emits per (epoch, shard): count + id checksum (balance proof: the
    * md5 assignment spreads uniformly), plus a summary row counting docs
    * whose shard CHANGED between epochs 0 and 1 — the decorrelation
    * property epoch reshuffling exists for (≈ 7/8 of docs move under
    * independent assignment).
    *
    * Scale: a map-only hash per (doc, epoch) and one partial agg — no
    * sort, no exchange beyond the 16-cell aggregation; this is why
    * hash-sharding replaces orderBy(rand(seed)) at 100 TB (a true
    * permutation costs a corpus sort PER EPOCH and pins the RNG to a
    * partitioning).
    */
  private val qCorpusShuffle = GQuery(
    (s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
        .withColumn("s0",
          pmod(DedupOps.hex4(concat(col("doc_id"), lit(":0"))), lit(8)))
        .withColumn("s1",
          pmod(DedupOps.hex4(concat(col("doc_id"), lit(":1"))), lit(8)))
      val cells = docs.select(col("doc_id"), lit(0).as("epoch"), col("s0").as("shard"))
        .unionByName(docs.select(col("doc_id"), lit(1).as("epoch"),
          col("s1").as("shard")))
        .groupBy("epoch", "shard")
        .agg(count(lit(1L)).as("n"), sum("doc_id").as("id_sum"))
      val moved = docs.agg(
          sum(when(col("s0") =!= col("s1"), 1L).otherwise(0L)).as("n"),
          count(lit(1L)).as("id_sum"))
        .select(lit(-1).as("epoch"), lit(-1).cast("long").as("shard"),
          col("n"), col("id_sum"))
      cells.unionByName(moved).orderBy("epoch", "shard")
    },
    Some(s"""WITH docs AS (
               SELECT doc_id,
                      ${DedupOps.duckHex4("md5(CAST(doc_id AS VARCHAR) || ':0')")}
                        % 8 AS s0,
                      ${DedupOps.duckHex4("md5(CAST(doc_id AS VARCHAR) || ':1')")}
                        % 8 AS s1
               FROM documents),
             cells AS (
               SELECT epoch, shard, CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(doc_id) AS BIGINT) AS id_sum
               FROM (
                 SELECT doc_id, 0 AS epoch, s0 AS shard FROM docs
                 UNION ALL SELECT doc_id, 1, s1 FROM docs)
               GROUP BY 1, 2),
             moved AS (
               SELECT -1 AS epoch, CAST(-1 AS BIGINT) AS shard,
                      CAST(sum(CASE WHEN s0 <> s1 THEN 1 ELSE 0 END) AS BIGINT)
                        AS n,
                      CAST(count(*) AS BIGINT) AS id_sum
               FROM docs)
             SELECT epoch, shard, n, id_sum FROM cells
             UNION ALL SELECT epoch, shard, n, id_sum FROM moved
             ORDER BY epoch, shard"""))

  // ------------------------------------------------ 2D skyline (Pareto) --

  /** Pareto-frontier (skyline) of customers: maximize order count, minimize
    * average ticket — "the cheapest way to buy N times" frontier, the classic
    * multi-criteria operator (Börzsönyi et al., ICDE'01). A customer is on
    * the skyline iff no other has ≥ orders AND ≤ avg ticket with at least
    * one strict. 2D lets the quadratic NOT-EXISTS collapse to a domain
    * window: survive ⇔ avg == min(avg) among the same order count AND
    * avg < min(avg) over every STRICTLY larger order count.
    *
    * Scale: the fact table collapses to one row per customer (map-side
    * combined agg), then the dominance thresholds live on the x-DOMAIN
    * (distinct order counts — dozens, not rows): per-x min agg → one tiny
    * suffix-min window → broadcast back. No row-level global sort, no
    * all-pairs join; the only corpus-sized ops are one agg and one
    * broadcast-join filter pass. Higher dimensions would grid-partition and
    * exploit skyline's distributivity (skyline(∪parts) = skyline of local
    * skylines); the 2D suffix-min is the exact closed form of that.
    */
  private val qSkylinePareto = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("o_totalprice"))
      val cust = t(s, d, "orders")
        .select(col("o_custkey"), cents.as("c"))
        .groupBy("o_custkey")
        .agg(count(lit(1L)).cast("int").as("n_orders"), sum("c").as("sc"))
        .select(col("o_custkey"), col("n_orders"),
          expr("sc div n_orders").as("avg_cents"))
      val perX = cust.groupBy("n_orders").agg(min("avg_cents").as("ymin"))
      // suffix-min over the order-count DOMAIN: x' > x via a range frame
      val wAbove = Window.orderBy("n_orders")
        .rangeBetween(1L, Window.unboundedFollowing)
      val thr = perX.withColumn("min_above", min("ymin").over(wAbove))
      cust.join(broadcast(thr), "n_orders")
        .filter(col("avg_cents") === col("ymin") &&
          (col("min_above").isNull || col("avg_cents") < col("min_above")))
        .select(col("o_custkey"), col("n_orders"), col("avg_cents"))
        .orderBy("n_orders", "o_custkey")
    },
    Some("""WITH cust AS (
              SELECT o_custkey, CAST(count(*) AS INT) AS n_orders,
                     CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // count(*) AS BIGINT) AS avg_cents
              FROM orders GROUP BY 1),
            perx AS (
              SELECT n_orders, min(avg_cents) AS ymin
              FROM cust GROUP BY 1),
            thr AS (
              SELECT n_orders, ymin,
                     min(ymin) OVER (ORDER BY n_orders RANGE BETWEEN
                       1 FOLLOWING AND UNBOUNDED FOLLOWING) AS min_above
              FROM perx)
            SELECT c.o_custkey, c.n_orders, c.avg_cents
            FROM cust c JOIN thr t ON t.n_orders = c.n_orders
            WHERE c.avg_cents = t.ymin
              AND (t.min_above IS NULL OR c.avg_cents < t.min_above)
            ORDER BY c.n_orders, c.o_custkey"""))

  // ---------------------------------------- leave-one-out target encoding --

  /** Leave-one-out target encoding of a categorical feature (order priority)
    * against the order-value target, with additive smoothing toward the
    * global mean (m = 20 pseudo-observations) — the standard high-cardinality
    * categorical encoder for tabular training sets. Each row's own target is
    * excluded from its encoding (the leakage guard):
    * enc = (Σcat − own + m·global_mean) div (n_cat − 1 + m), all exact cents
    * BIGINTs. Emitted for the o_custkey < 100 slice (the encoding is still
    * computed against the FULL table).
    *
    * Scale: one map-side-combined per-category agg (|categories| rows) + one
    * scalar global agg, both broadcast back onto a single codegen'd row pass
    * — the corpus is scanned twice, shuffled never. High-cardinality
    * categories stay safe: the join key is the category and the agg is
    * combine-heavy; a category seen once (n_cat = 1) degrades smoothly to
    * the smoothed prior rather than dividing by zero (denominator ≥ m).
    */
  private val qFeatureTargetEncode = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("o_totalprice"))
      val o = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderpriority").as("cat"), cents.as("c"))
      val stats = o.groupBy("cat")
        .agg(sum("c").as("sc"), count(lit(1L)).as("nc"))
      val g = o.agg(sum("c").as("st"), count(lit(1L)).as("nt"))
      o.filter(col("o_custkey") < 100)
        .join(broadcast(stats), "cat")
        .crossJoin(broadcast(g))
        .select(col("o_orderkey"), col("cat"), col("c").as("price_cents"),
          expr("(sc - c + 20 * (st div nt)) div (nc - 1 + 20)").as("enc_cents"))
        .orderBy("o_orderkey")
    },
    Some("""WITH o AS (
              SELECT o_orderkey, o_custkey, o_orderpriority AS cat,
                     CAST(round(o_totalprice * 100) AS BIGINT)
                       AS c
              FROM orders),
            stats AS (
              SELECT cat, CAST(sum(c) AS BIGINT) AS sc,
                     CAST(count(*) AS BIGINT) AS nc
              FROM o GROUP BY 1),
            g AS (SELECT CAST(sum(c) AS BIGINT) AS st,
                         CAST(count(*) AS BIGINT) AS nt FROM o)
            SELECT o.o_orderkey, o.cat, o.c AS price_cents,
                   CAST((s.sc - o.c + 20 * (g.st // g.nt))
                     // (s.nc - 1 + 20) AS BIGINT) AS enc_cents
            FROM o JOIN stats s ON s.cat = o.cat CROSS JOIN g
            WHERE o.o_custkey < 100
            ORDER BY o.o_orderkey"""))

  // ----------------------------------------------- integer EWMA smoothing --

  /** Exponentially-weighted moving average of the daily revenue series with
    * α = 1/4, in EXACT integer arithmetic: e₁ = x₁, eₜ = (3·eₜ₋₁ + xₜ) div 4
    * — the denoised trend line next to q_ts_snaive/q_ts_autocorr. Floating
    * EWMA can never hash cross-engine (the recurrence compounds ulps); the
    * integer recurrence is a pure function of the series, so both engines
    * fold the identical sequence (Spark: one `aggregate` HOF over the
    * day-sorted array; DuckDB: a recursive CTE).
    *
    * Scale: the corpus collapses to one row per DAY before the fold — the
    * sequential part is calendar-bounded (≤ #days elements), never
    * corpus-sized, exactly the changepoint/snaive economics. Per-key EWMA at
    * scale runs the same fold inside groupBy(key) over each key's bounded
    * series; keys parallelize.
    */
  private val qTsEwma = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val daily = t(s, d, "events")
        .select(to_date(col("ts")).as("day"), cents.as("v"))
        .groupBy("day").agg(sum("v").as("x"))
      val series = daily
        .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("s"))
        .select(transform(col("s"), r => r.getField("day")).as("days"),
          transform(col("s"), r => r.getField("x")).as("xs"))
      // (3·prev + x) div 4 as a right-shift: exact for the non-negative
      // revenue domain, and identical to DuckDB's floor-division `// 4`.
      val folded = series.withColumn("es",
        aggregate(col("xs"), array().cast("array<long>"),
          (acc, x) => when(size(acc) === 0, array(x))
            .otherwise(concat(acc,
              array(shiftright(lit(3L) * element_at(acc, -1) + x, 2))))))
      folded
        .select(posexplode(arrays_zip(col("days"), col("xs"), col("es"))))
        .select(col("col.days").as("day"), col("col.xs").as("x"),
          col("col.es").as("ewma_cents"))
        .orderBy("day")
    },
    Some("""WITH RECURSIVE daily AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
              FROM events GROUP BY 1),
            seq AS (
              SELECT day, x, CAST(row_number() OVER (ORDER BY day) AS BIGINT)
                       AS rn
              FROM daily),
            ew AS (
              SELECT day, x, rn, x AS ewma_cents FROM seq WHERE rn = 1
              UNION ALL
              SELECT s.day, s.x, s.rn,
                     CAST((3 * e.ewma_cents + s.x) // 4 AS BIGINT)
              FROM seq s JOIN ew e ON s.rn = e.rn + 1)
            SELECT day, x, CAST(ewma_cents AS BIGINT) AS ewma_cents
            FROM ew ORDER BY day"""))

  // ------------------------------------------------- top navigation paths --

  /** Top-20 user journey prefixes: each user's first five event types (by
    * time, event_id tie-break) joined into a `a>b>c` path string, counted
    * across users — the product-analytics "what do people actually do first"
    * operator next to funnel (fixed target order) and markov (memoryless
    * transitions); paths keep full order sensitivity.
    *
    * Scale: the per-user prefix is bounded (5 events) by an early
    * row_number filter, so the path build never carries a user's full
    * history; the path count is a map-side-combinable string-key agg and the
    * final top-20 is TakeOrdered (no global sort). Skewed path keys are safe
    * — the combiner collapses them before the shuffle.
    */
  private val qEventsPaths = GQuery(
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val prefix = t(s, d, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
      val paths = prefix.groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("rn"), col("event_type"))))
          .as("steps"))
        .select(concat_ws(">",
          transform(col("steps"), st => st.getField("event_type"))).as("path"))
      paths.groupBy("path").agg(count(lit(1L)).as("n_users"))
        .orderBy(col("n_users").desc, col("path").asc)
        .limit(20)
    },
    Some("""WITH ranked AS (
              SELECT user_id, event_type,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS rn
              FROM events),
            paths AS (
              SELECT user_id,
                     string_agg(event_type, '>' ORDER BY rn) AS path
              FROM ranked WHERE rn <= 5 GROUP BY user_id)
            SELECT path, CAST(count(*) AS BIGINT) AS n_users
            FROM paths GROUP BY path
            ORDER BY n_users DESC, path ASC LIMIT 20"""))

  // --------------------------------------------- interval union coverage --

  /** Per-user activity coverage: each event claims a 5-minute interval
    * [ts, ts+300s); overlapping/touching intervals merge (interval union)
    * and the user's islands, total covered seconds, and span are emitted —
    * the time-domain twin of q_events_gaps' id-domain islands, and the
    * primitive behind billing meters, SLA uptime, and session stitching.
    * Island detection is the cummax trick: a new island starts exactly when
    * an interval begins after the running max end of everything before it;
    * within an island the union is contiguous, so covered = max(en) − min(st)
    * — all exact epoch-second BIGINTs.
    *
    * Scale: one user-partitioned sort window (running max + running island
    * id in the same pass) + two keyed aggs — the as-of/sessionize economics:
    * no self-join, no range probe; users parallelize and the window state is
    * O(1) per row.
    */
  private val qIntervalCoverage = GQuery(
    (s, d) => {
      val e = t(s, d, "events")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("st"))
        .withColumn("en", col("st") + 300L)
      val w = Window.partitionBy("user_id").orderBy("st", "event_id")
      val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
      val marked = e
        .withColumn("prev_max_en", max("en").over(wPrev))
        .withColumn("new_isl",
          when(col("prev_max_en").isNull ||
            col("st") > col("prev_max_en"), 1L).otherwise(0L))
        .withColumn("isl", sum("new_isl").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val islands = marked.groupBy("user_id", "isl")
        .agg(min("st").as("i_st"), max("en").as("i_en"),
          count(lit(1L)).as("n_ev"))
      islands.groupBy("user_id")
        .agg(sum("n_ev").as("n_events"),
          count(lit(1L)).as("n_islands"),
          sum(col("i_en") - col("i_st")).as("covered_s"),
          (max("i_en") - min("i_st")).as("span_s"))
        .orderBy("user_id")
    },
    Some("""WITH e AS (
              -- floor(), not CAST: epoch() carries fractional seconds and a
              -- bare BIGINT cast would round while Spark's unix_timestamp
              -- truncates
              SELECT user_id, event_id,
                     CAST(floor(epoch(ts)) AS BIGINT) AS st,
                     CAST(floor(epoch(ts)) + 300 AS BIGINT) AS en
              FROM events),
            marked AS (
              SELECT user_id, event_id, st, en,
                     CASE WHEN max(en) OVER (PARTITION BY user_id
                         ORDER BY st, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       IS NULL THEN 1
                       WHEN st > max(en) OVER (PARTITION BY user_id
                         ORDER BY st, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       THEN 1 ELSE 0 END AS new_isl
              FROM e),
            numbered AS (
              SELECT user_id, st, en,
                     sum(new_isl) OVER (PARTITION BY user_id
                       ORDER BY st, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS isl
              FROM marked),
            islands AS (
              SELECT user_id, isl, min(st) AS i_st, max(en) AS i_en,
                     count(*) AS n_ev
              FROM numbered GROUP BY 1, 2)
            SELECT user_id, CAST(sum(n_ev) AS BIGINT) AS n_events,
                   CAST(count(*) AS BIGINT) AS n_islands,
                   CAST(sum(i_en - i_st) AS BIGINT) AS covered_s,
                   CAST(max(i_en) - min(i_st) AS BIGINT) AS span_s
            FROM islands GROUP BY user_id ORDER BY user_id"""))

  // ------------------------------------------- grid-blocked spatial join --

  /** ε-distance self-join of 2D points (embedding dims 1–2 as coordinates):
    * all pairs within L2 ε = 0.02, found by GRID BLOCKING — each point hashes
    * to its ⌊coord/ε⌋ cell, the probe side explodes to its 3×3 cell
    * neighbourhood, and candidates meet in an equi-join on the cell key
    * (within-ε ⇒ |Δx|,|Δy| ≤ ε ⇒ neighbouring cells, so recall is exact).
    * Each ordered pair is generated exactly once (probe neighbourhood ×
    * build home cell); a < b keeps one per unordered pair. Distances are
    * bit-identical cross-engine (same IEEE ops on the same doubles), snapped
    * to the 1e-6 grid for the emitted column.
    *
    * Scale: the classic spatial-join shape — candidates are per-cell, never
    * all-pairs (the brute-force oracle is the TEST, the grid is the
    * engine); the 9× probe fan-out is map-side, the join is a plain
    * shuffle-hash on the cell key, and skewed dense cells are the familiar
    * hot-block problem (cap or sub-split cells, the dedup stop-block rule).
    */
  private val qJoinSpatial = GQuery(
    (s, d) => {
      val eps = 0.02
      val pts = t(s, d, "embeddings")
        .select(col("vec_id"),
          element_at(col("embedding").cast("array<double>"), 1).as("x"),
          element_at(col("embedding").cast("array<double>"), 2).as("y"))
        .withColumn("cx", floor(col("x") / eps).cast("long"))
        .withColumn("cy", floor(col("y") / eps).cast("long"))
      val probe = pts
        .withColumn("dxy", explode(array((for {dx <- -1 to 1; dy <- -1 to 1}
          yield struct(lit(dx).as("dx"), lit(dy).as("dy"))): _*)))
        .select(col("vec_id").as("a_id"), col("x").as("ax"), col("y").as("ay"),
          (col("cx") + col("dxy.dx")).as("cx"),
          (col("cy") + col("dxy.dy")).as("cy"))
      val build = pts.select(col("vec_id").as("b_id"), col("x").as("bx"),
        col("y").as("by"), col("cx"), col("cy"))
      probe.join(build, Seq("cx", "cy"))
        .filter(col("a_id") < col("b_id"))
        .withColumn("d2",
          (col("ax") - col("bx")) * (col("ax") - col("bx")) +
            (col("ay") - col("by")) * (col("ay") - col("by")))
        .filter(col("d2") <= eps * eps)
        .select(col("a_id"), col("b_id"),
          floor(dround(sqrt(col("d2")), 6) * lit(1e6) + lit(0.5)).cast("long")
            .as("dist_micro"))
        .orderBy("a_id", "b_id")
    },
    Some("""WITH p AS (
              SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
                     CAST(embedding[2] AS DOUBLE) AS y
              FROM embeddings),
            pairs AS (
              SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                     (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
                       AS d2
              FROM p a JOIN p b ON a.vec_id < b.vec_id)
            SELECT a_id, b_id,
                   CAST(floor(CAST(round(CAST(sqrt(d2) AS DECIMAL(30,8)), 6)
                     AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS dist_micro
            FROM pairs WHERE d2 <= 0.02 * 0.02
            ORDER BY a_id, b_id"""))

  // ---------------------------------------------- group-aware split + audit --

  /** Group-aware train/val/test split with a leakage AUDIT: the split key is
    * the GROUP (customer), not the row (order), so every order of a customer
    * lands in the same partition — the discipline that prevents
    * entity-leakage between train and eval (q_split_train's per-row hash
    * would scatter a customer's orders across splits and leak their
    * behaviour into eval). Emits per-split group/row counts plus an explicit
    * `_leakage` audit row counting groups seen in >1 split — zero BY
    * CONSTRUCTION (membership is a pure function of the group key), and the
    * audit proves it from the data rather than trusting the code.
    *
    * Scale: the split column is one codegen'd hash map; the audit is a
    * group-keyed two-level agg (distinct splits per group is bounded by 3).
    * Hash membership is append-stable — tomorrow's orders for a known
    * customer join the same split, so eval never silently absorbs a
    * training entity.
    */
  private val qSplitGroup = GQuery(
    (s, d) => {
      val bucket = pmod(DedupOps.hex4(col("o_custkey").cast("string")), lit(100))
      val o = t(s, d, "orders")
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      val per = o.groupBy("split")
        .agg(countDistinct("o_custkey").as("n_groups"),
          count(lit(1L)).as("n_rows"))
      val audit = o.groupBy("o_custkey")
        .agg(countDistinct("split").as("ns"))
        .agg(sum(when(col("ns") > 1, 1L).otherwise(0L)).as("n_groups"),
          count(lit(1L)).as("n_rows"))
        .select(lit("_leakage").as("split"), col("n_groups"), col("n_rows"))
      per.unionByName(audit).orderBy("split")
    },
    Some(s"""WITH o AS (
              SELECT o_custkey,
                     CASE WHEN ${DedupOps.duckHex4("md5(CAST(o_custkey AS VARCHAR))")}
                            % 100 < 80 THEN 'train'
                          WHEN ${DedupOps.duckHex4("md5(CAST(o_custkey AS VARCHAR))")}
                            % 100 < 90 THEN 'val'
                          ELSE 'test' END AS split
              FROM orders),
            per AS (
              SELECT split, CAST(count(DISTINCT o_custkey) AS BIGINT)
                       AS n_groups,
                     CAST(count(*) AS BIGINT) AS n_rows
              FROM o GROUP BY split),
            g AS (SELECT o_custkey, count(DISTINCT split) AS ns
                  FROM o GROUP BY 1),
            audit AS (
              SELECT '_leakage' AS split,
                     CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_groups,
                     CAST(count(*) AS BIGINT) AS n_rows
              FROM g)
            SELECT * FROM per UNION ALL SELECT * FROM audit
            ORDER BY split"""))

  // ------------------------------------------------- Cramér's V effect size --

  /** Cramér's V for the priority × status contingency table — the EFFECT
    * SIZE companion to q_stats_chisq's significance machinery (a 10⁹-row
    * table makes any dependence "significant"; V says whether it is LARGE):
    * V = √(χ²/n / min(r−1, c−1)). The χ² numerator reuses the exact
    * integer-micro contributions (nn·n − r·cc)²/(nn·r·cc); fp enters only in
    * the final dround-snapped root. Degenerate single-row/column tables
    * (min df = 0) null out V instead of dividing by zero.
    *
    * Scale: identical to chisq — one cell agg (category-cardinality rows)
    * plus window sums over the cell table; everything downstream of the
    * first agg is contingency-sized, not corpus-sized.
    */
  private val qStatsCramersV = GQuery(
    (s, d) => {
      val cells = t(s, d, "orders")
        .groupBy(col("o_orderpriority").as("pri"), col("o_orderstatus").as("st"))
        .agg(count(lit(1)).as("n"))
      val withTot = cells
        .withColumn("r", sum("n").over(Window.partitionBy("pri")))
        .withColumn("cc", sum("n").over(Window.partitionBy("st")))
        .withColumn("nn", sum("n").over(Window.partitionBy()))
      val dev = (col("nn") * col("n") - col("r") * col("cc")).cast("double")
      val scored = withTot.select(col("nn"),
        round(dev * dev
          / (col("nn") * col("r") * col("cc")).cast("double") * 1000000.0)
          .cast("long").as("contrib_micro"),
        col("pri"), col("st"))
      scored.agg(max("nn").as("n"),
          countDistinct("pri").as("nr"), countDistinct("st").as("nc"),
          sum("contrib_micro").as("chi2_micro"))
        .select(col("n"), col("nr").cast("int").as("nr"),
          col("nc").cast("int").as("nc"), col("chi2_micro"),
          when(least(col("nr") - 1, col("nc") - 1) > 0,
            dround(sqrt(col("chi2_micro").cast("double") / 1e6
              / col("n").cast("double")
              / least(col("nr") - 1, col("nc") - 1).cast("double")), 6))
            .as("cramers_v"))
    },
    Some("""WITH cells AS (
              SELECT o_orderpriority AS pri, o_orderstatus AS st,
                     CAST(count(*) AS BIGINT) AS n
              FROM orders GROUP BY 1, 2),
            wt AS (SELECT pri, st, n,
                          CAST(sum(n) OVER (PARTITION BY pri) AS BIGINT) AS r,
                          CAST(sum(n) OVER (PARTITION BY st) AS BIGINT) AS cc,
                          CAST(sum(n) OVER () AS BIGINT) AS nn
                   FROM cells),
            sc AS (SELECT pri, st, nn,
                          CAST(round(CAST(nn * n - r * cc AS DOUBLE)
                            * CAST(nn * n - r * cc AS DOUBLE)
                            / CAST(nn * r * cc AS DOUBLE) * 1000000.0)
                            AS BIGINT) AS contrib_micro
                   FROM wt),
            agg AS (
              SELECT CAST(max(nn) AS BIGINT) AS n,
                     CAST(count(DISTINCT pri) AS INT) AS nr,
                     CAST(count(DISTINCT st) AS INT) AS nc,
                     CAST(sum(contrib_micro) AS BIGINT) AS chi2_micro
              FROM sc)
            SELECT n, nr, nc, chi2_micro,
                   CASE WHEN least(nr - 1, nc - 1) > 0 THEN
                     CAST(round(CAST(sqrt(CAST(chi2_micro AS DOUBLE) / 1e6
                       / CAST(n AS DOUBLE)
                       / CAST(least(nr - 1, nc - 1) AS DOUBLE))
                       AS DECIMAL(30,8)), 6) AS DOUBLE)
                   END AS cramers_v
            FROM agg"""))

  // ------------------------------------------------------ burst detection --

  /** Hourly burst detection per event type: an hour is a BURST when its
    * count exceeds the trailing-24h mean by 3 standard deviations — with the
    * z-test done ENTIRELY in integers: with k trailing hours of sum S and
    * sum-of-squares Q, c > μ + 3σ ⇔ k·c > S ∧ (k·c − S)² > 9·(k·Q − S²)
    * (both sides × k²). No fp, no rounding grid — the flag is hash-exact.
    * Warm-up hours (fewer than 12 trailing observations) don't alarm.
    *
    * Scale: one (type, hour) agg collapses the corpus to the hour grid;
    * the trailing window is a RANGE frame over the integer hour index
    * (missing hours excluded by range, not miscounted by rows), partitioned
    * by type — bounded state, no self-join. The squared terms reach
    * k²·c² ≈ 10⁶·c²; past c ≈ 3·10⁶ events/hour/type widen to DECIMAL(38)
    * (the corrmatrix rule).
    */
  private val qEventsBurst = GQuery(
    (s, d) => {
      val hourly = t(s, d, "events")
        .select(col("event_type"),
          expr("unix_timestamp(ts) div 3600").as("hi"))
        .groupBy("event_type", "hi").agg(count(lit(1L)).as("c"))
      val w = Window.partitionBy("event_type").orderBy("hi")
        .rangeBetween(-24, -1)
      val scored = hourly
        .withColumn("k", count(lit(1L)).over(w))
        .withColumn("s", sum("c").over(w))
        .withColumn("q", sum(col("c") * col("c")).over(w))
        .filter(col("k") >= 12)
        .withColumn("excess", col("k") * col("c") - col("s"))
        .filter(col("excess") > 0 &&
          col("excess") * col("excess") >
            lit(9L) * (col("k") * col("q") - col("s") * col("s")))
      scored.select(col("event_type"),
          timestamp_seconds(col("hi") * 3600L).cast("timestamp_ntz").as("hour"),
          col("c"), col("k"), col("s").as("trail_sum"))
        .orderBy("event_type", "hour")
    },
    Some("""WITH hourly AS (
              SELECT event_type,
                     CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hi,
                     CAST(count(*) AS BIGINT) AS c
              FROM events GROUP BY 1, 2),
            scored AS (
              SELECT event_type, hi, c,
                     CAST(count(*) OVER win AS BIGINT) AS k,
                     CAST(sum(c) OVER win AS BIGINT) AS s,
                     CAST(sum(c * c) OVER win AS BIGINT) AS q
              FROM hourly
              WINDOW win AS (PARTITION BY event_type ORDER BY hi
                RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING))
            SELECT event_type,
                   CAST(to_timestamp(hi * 3600) AS TIMESTAMP) AS hour,
                   c, k, s AS trail_sum
            FROM scored
            WHERE k >= 12 AND k * c > s
              AND (k * c - s) * (k * c - s) > 9 * (k * q - s * s)
            ORDER BY event_type, hour"""))

  // ------------------------------------------------ Wald–Wolfowitz runs --

  /** Runs test for randomness of the daily revenue series around its
    * median: days above/below the (lower) median form a ±1 sign sequence;
    * too FEW runs means trend/clustering, too MANY means oscillation. The
    * sign sequence, run count R, and class counts n₁/n₂ are exact integers
    * (median = element (n+1) div 2 of the sorted day values — an integer
    * ORDER STATISTIC, not an averaged midpoint, so both engines pick the
    * same cents value; median-equal days are excluded); fp enters only in
    * the final z = (R − μ)/σ with μ, σ² rational in n₁, n₂ —
    * dround-snapped. Degenerate one-class series null z.
    *
    * Scale: the corpus collapses to the day grid first (snaive economics);
    * the sort/fold is calendar-bounded. The test is the drift-monitor
    * member between benford (digits) and ks (distributions): it sees
    * ORDER, which both ignore.
    */
  private val qStatsRuns = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val daily = t(s, d, "events")
        .select(to_date(col("ts")).as("day"), cents.as("v"))
        .groupBy("day").agg(sum("v").as("x"))
      val med = daily
        .agg(sort_array(collect_list("x")).as("xs"))
        .select(element_at(col("xs"), ((size(col("xs")) + 1) / 2)
          .cast("int")).as("med"))
      val signed = daily.crossJoin(broadcast(med))
        .filter(col("x") =!= col("med"))
        .select(col("day"), when(col("x") > col("med"), 1).otherwise(-1).as("sg"))
      val w = Window.orderBy("day")
      val runs = signed
        .withColumn("chg",
          when(lag("sg", 1).over(w).isNull ||
            col("sg") =!= lag("sg", 1).over(w), 1L).otherwise(0L))
        .agg(sum(when(col("sg") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("sg") === -1, 1L).otherwise(0L)).as("n2"),
          sum("chg").as("r"))
      runs
        .withColumn("n", col("n1") + col("n2"))
        .withColumn("two", lit(2L) * col("n1") * col("n2"))
        .select(col("n"), col("n1"), col("n2"), col("r"),
          when(col("two") > 0 && col("two") =!= col("n") && col("n") > 1,
            dround((col("r").cast("double") -
              (lit(1.0) + col("two").cast("double") / col("n").cast("double"))) /
              sqrt((col("two").cast("double") *
                (col("two") - col("n")).cast("double")) /
                ((col("n") * col("n")).cast("double") *
                  (col("n") - 1).cast("double"))), 6)).as("z"))
    },
    Some("""WITH daily AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
              FROM events GROUP BY 1),
            med AS (
              SELECT x AS med FROM (
                SELECT x, row_number() OVER (ORDER BY x) AS rn,
                       count(*) OVER () AS cnt
                FROM daily)
              WHERE rn = (cnt + 1) // 2),
            signed AS (
              SELECT day, CASE WHEN x > med THEN 1 ELSE -1 END AS sg
              FROM daily, med WHERE x <> med),
            marked AS (
              SELECT sg, CASE WHEN lag(sg, 1) OVER (ORDER BY day) IS NULL
                     OR sg <> lag(sg, 1) OVER (ORDER BY day)
                     THEN 1 ELSE 0 END AS chg
              FROM signed),
            agg AS (
              SELECT CAST(sum(CASE WHEN sg = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n1,
                     CAST(sum(CASE WHEN sg = -1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n2,
                     CAST(sum(chg) AS BIGINT) AS r
              FROM marked)
            SELECT CAST(n1 + n2 AS BIGINT) AS n, n1, n2, r,
                   CASE WHEN 2 * n1 * n2 > 0 AND 2 * n1 * n2 <> n1 + n2
                          AND n1 + n2 > 1 THEN
                     CAST(round(CAST(
                       (CAST(r AS DOUBLE) - (1.0 + CAST(2 * n1 * n2 AS DOUBLE)
                         / CAST(n1 + n2 AS DOUBLE)))
                       / sqrt((CAST(2 * n1 * n2 AS DOUBLE)
                           * CAST(2 * n1 * n2 - (n1 + n2) AS DOUBLE))
                         / (CAST((n1 + n2) * (n1 + n2) AS DOUBLE)
                           * CAST(n1 + n2 - 1 AS DOUBLE)))
                       AS DECIMAL(30,8)), 6) AS DOUBLE)
                   END AS z
            FROM agg"""))

  // ------------------------------------------- funnel conversion latency --

  /** Click→purchase conversion-latency distribution: for every user whose
    * first purchase follows their first click, the delay in whole seconds —
    * summarized as exact lower-rank quantiles (p25/p50/p75/p90) computed on
    * the value DOMAIN: per-delay counts → running total over distinct delays
    * → smallest delay whose cumulative count reaches ⌈n·p/100⌉. No
    * percentile_approx (engine-specific sketch) and no corpus-wide sort —
    * the q_stats_auc prefix-sum economics applied to latencies.
    *
    * Scale: the converted cohort is per-user-bounded (one delta per user)
    * and the quantile machinery runs on DISTINCT delay values; at 100 TB
    * bucket delays to a grid first (second→minute) to bound the domain, as
    * the auc/spearman rows do.
    */
  private val qFunnelLatency = GQuery(
    (s, d) => {
      val ev = t(s, d, "events").select(col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("ts_sec"))
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id").agg(min("ts_sec").as("c_sec"))
      val deltas = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_sec"))
        .join(clicks, "user_id")
        .filter(col("ts_sec") >= col("c_sec"))
        .groupBy("user_id").agg(min(col("ts_sec") - col("c_sec")).as("dsec"))
      val n = deltas.agg(count(lit(1L)).as("n"))
      val wCum = Window.orderBy("dsec")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val vals = deltas.groupBy("dsec").agg(count(lit(1L)).as("c"))
        .withColumn("cum", sum("c").over(wCum))
      val probes = Seq(25, 50, 75, 90)
      val targets = n.select(col("n"),
          explode(array(probes.map(lit): _*)).as("p"))
        .withColumn("rk", expr("(n * p + 99) div 100"))
      vals.crossJoin(broadcast(targets))
        .filter(col("cum") >= col("rk"))
        .groupBy("p", "rk", "n").agg(min("dsec").as("delta_s"))
        .select(col("p"), col("n"), col("rk"), col("delta_s"))
        .orderBy("p")
    },
    Some("""WITH e AS (
              SELECT user_id, event_type,
                     CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
              FROM events),
            c AS (SELECT user_id, min(ts_sec) AS c_sec
                  FROM e WHERE event_type = 'click' GROUP BY user_id),
            deltas AS (
              SELECT e.user_id, min(e.ts_sec - c.c_sec) AS dsec
              FROM e JOIN c ON c.user_id = e.user_id
              WHERE e.event_type = 'purchase' AND e.ts_sec >= c.c_sec
              GROUP BY e.user_id),
            nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deltas),
            vals AS (
              SELECT dsec, count(*) AS c,
                     CAST(sum(count(*)) OVER (ORDER BY dsec
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum
              FROM deltas GROUP BY dsec),
            targets AS (
              SELECT p, n, CAST((n * p + 99) // 100 AS BIGINT) AS rk
              FROM nn, (VALUES (25), (50), (75), (90)) AS t(p))
            SELECT CAST(t.p AS INT) AS p, t.n, t.rk,
                   CAST(min(v.dsec) AS BIGINT) AS delta_s
            FROM vals v CROSS JOIN targets t
            WHERE v.cum >= t.rk
            GROUP BY t.p, t.rk, t.n
            ORDER BY p"""))

  // --------------------------------------------- Mann–Whitney U test --

  /** Mann–Whitney U (Wilcoxon rank-sum) comparing weekend vs weekday
    * purchase values — the nonparametric two-sample test next to the
    * parametric q_stats_abtest and the distribution-shape q_stats_ks.
    * Rank sums come from the value GRID exactly as q_stats_auc (per-cent
    * counts → cumulative offsets; doubled mid-ranks keep ties integral):
    * 2·R₁ = Σ c₁(v)·(2·cum(v) + t(v) + 1), so 2·U₁ = 2·R₁ − n₁(n₁+1) is an
    * exact BIGINT. The tie-corrected z uses Σ(t³−t) over grid cells —
    * also exact — with fp only in the final dround'd division. The weekend
    * flag is pure integer calendar arithmetic ((epoch-day + 4) mod 7), no
    * engine-specific dow().
    *
    * Scale: auc economics — one value-grid agg bounded by the score
    * domain, one prefix-sum window over the grid, one scalar agg; the
    * corpus is touched once.
    */
  /** Wilcoxon signed-rank test (1945) — the PAIRED companion to
    * q_stats_mannwhitney (which compares two independent samples; here
    * each user is their own control): per-user spend delta between the
    * month's second and first half, zero deltas dropped (Wilcoxon's
    * rule), |d| midranks from the value-grid cumulative counts in DOUBLED
    * integers (rank2 = 2·cum_before + t + 1 — midranks are half-integers,
    * ×2 keeps the whole rank sum exact), W⁺ = Σ ranks of positive deltas,
    * normal approximation with the tie-corrected variance
    * n(n+1)(2n+1)/24 − Σ(t³−t)/48; z through one mirrored drounded
    * chain. Output: n (nonzero pairs), n_pos, w2_plus (doubled W⁺),
    * ties, z.
    *
    * Scale: one user agg (map-combinable) + the mannwhitney grid
    * economics — ranks from |d|-grid cumulative counts, never a row-level
    * rank window; at extreme grids the running sum swaps to the ks
    * two-level prefix sum.
    */
  private val qStatsWilcoxon = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val diffs = t(s, d, "events")
        .select(col("user_id"),
          when(dayofmonth(col("ts")) <= 15, cents).otherwise(0L).as("a"),
          when(dayofmonth(col("ts")) > 15, cents).otherwise(0L).as("b"))
        .groupBy("user_id")
        .agg((sum("b") - sum("a")).as("dd"))
        .filter(col("dd") =!= 0L)
        .select(abs(col("dd")).as("ad"),
          when(col("dd") > 0, 1L).otherwise(0L).as("pos"))
      val grid = diffs.groupBy("ad")
        .agg(count(lit(1L)).as("t"), sum("pos").as("tp"))
      val ranked = grid
        .withColumn("cum", Prefix.sumBefore(col("t"), Window.orderBy("ad")))
        .withColumn("rank2", col("cum") * 2 + col("t") + 1)
      val agg = ranked.agg(
        sum("t").as("n"), sum("tp").as("npos"),
        sum(col("tp") * col("rank2")).as("w2p"),
        sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
      agg.select(col("n"), col("npos"), col("w2p"), col("ties"),
        when(col("n") > 1, dround(
          (col("w2p").cast("double") / 2.0 -
            (col("n") * (col("n") + 1)).cast("double") / 4.0) /
            sqrt((col("n") * (col("n") + 1) * (col("n") * 2 + 1))
              .cast("double") / 24.0 -
              col("ties").cast("double") / 48.0), 6)).as("z"))
    },
    Some("""WITH diffs AS (
              SELECT user_id,
                     CAST(sum(CASE WHEN extract(day FROM ts) > 15
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END)
                     - sum(CASE WHEN extract(day FROM ts) <= 15
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS dd
              FROM events GROUP BY 1),
            nz AS (
              SELECT abs(dd) AS ad,
                     CASE WHEN dd > 0 THEN 1 ELSE 0 END AS pos
              FROM diffs WHERE dd <> 0),
            grid AS (
              SELECT ad, CAST(count(*) AS BIGINT) AS t,
                     CAST(sum(pos) AS BIGINT) AS tp
              FROM nz GROUP BY 1),
            ranked AS (
              SELECT ad, t, tp,
                     coalesce(sum(t) OVER (ORDER BY ad
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS cum
              FROM grid),
            agg AS (
              SELECT CAST(sum(t) AS BIGINT) AS n,
                     CAST(sum(tp) AS BIGINT) AS npos,
                     CAST(sum(tp * (cum * 2 + t + 1)) AS BIGINT) AS w2p,
                     CAST(sum(t * t * t - t) AS BIGINT) AS ties
              FROM ranked)
            SELECT n, npos, w2p, ties,
                   CASE WHEN n > 1 THEN
                     CAST(round(CAST(
                       (CAST(w2p AS DOUBLE) / 2.0
                        - CAST(n * (n + 1) AS DOUBLE) / 4.0)
                       / sqrt(CAST(n * (n + 1) * (2 * n + 1) AS DOUBLE) / 24.0
                              - CAST(ties AS DOUBLE) / 48.0)
                       AS DECIMAL(30,8)), 6) AS DOUBLE)
                   END AS z
            FROM agg"""))

  /** Difference-in-differences — the quasi-experimental member of the
    * experimentation family (abtest/cuped/srm compare randomized arms at
    * one time; DiD identifies a treatment effect WITHOUT randomization by
    * differencing out both the group gap and the time trend, assuming
    * parallel trends): treated = odd user_id (the hash-rule arm stand-in),
    * periods = month halves, outcome = per-user-period spend cents on a
    * BALANCED panel (user × period grid, absent cells = 0 — dropping them
    * would bias the panel toward active users). Cell means in exact
    * milli-cents (Σx·1000 div n), so the DiD point estimate is an exact
    * integer; the clustered SE (√Σ s²_gp/n_gp over the four cells, user-
    * level variance from DECIMAL(38) moments) and t go through one
    * pivot-ordered drounded fp chain. Emits the four cell rows + a
    * summary row (did_milli, se_milli, t).
    *
    * Scale: one user×period agg (map-combinable) → 4 cell rows; the
    * panel grid is users×2 (the q_stats_cuped covariate-grid economics).
    */
  private val qStatsDid = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val ev = t(s, d, "events")
      val users = ev.select(col("user_id")).distinct()
        .withColumn("grp", pmod(col("user_id"), lit(2)).cast("int"))
      val panel = users
        .select(col("user_id"), col("grp"),
          explode(array(lit(0), lit(1))).as("period"))
        .join(ev.select(col("user_id"),
            when(dayofmonth(col("ts")) <= 15, 0).otherwise(1).as("period"),
            cents.as("v"))
          .groupBy("user_id", "period").agg(sum("v").as("x")),
          Seq("user_id", "period"), "left")
        .select(col("grp"), col("period"), coalesce(col("x"), lit(0L)).as("x"))
      val cells = panel.groupBy("grp", "period")
        .agg(count(lit(1L)).as("n"),
          sum("x").as("sx"),
          sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
        .withColumn("mean_milli", expr("sx * 1000 div n"))
        .localCheckpoint(true) // feeds the cell rows AND the pivot
      def cell(g: Int, p: Int, c: String) =
        max(when(col("grp") === g && col("period") === p, col(c)))
      val pivotCols = (for { g <- 0 to 1; p <- 0 to 1 } yield Seq(
        cell(g, p, "mean_milli").as(s"m$g$p"),
        cell(g, p, "n").as(s"n$g$p"),
        cell(g, p, "sx").as(s"x$g$p"),
        cell(g, p, "sxx").as(s"q$g$p"))).flatten
      val wide = cells.agg(pivotCols.head, pivotCols.tail: _*)
      // per-cell user-level variance s² = (n·Σx² − (Σx)²)/(n·(n−1)),
      // clustered SE = √(((s²₁₁/n₁₁ + s²₁₀/n₁₀) + s²₀₁/n₀₁) + s²₀₀/n₀₀)
      def s2over(g: Int, p: Int) =
        s"""((CAST(n$g$p AS DOUBLE) * CAST(q$g$p AS DOUBLE)
             - CAST(x$g$p AS DOUBLE) * CAST(x$g$p AS DOUBLE))
            / CAST(n$g$p AS DOUBLE) / CAST(n$g$p - 1 AS DOUBLE)
            / CAST(n$g$p AS DOUBLE))"""
      val summary = wide
        .withColumn("did_milli",
          (col("m11") - col("m10")) - (col("m01") - col("m00")))
        .withColumn("se_raw", expr(
          s"""sqrt(((${s2over(1, 1)} + ${s2over(1, 0)})
               + ${s2over(0, 1)}) + ${s2over(0, 0)})"""))
        .select(lit(-1).cast("int").as("grp"), lit(-1).cast("int").as("period"),
          (col("n00") + col("n01") + col("n10") + col("n11")).as("n"),
          col("did_milli").as("mean_milli"),
          dround(col("se_raw") * 1000.0, 4).as("se_milli"),
          dround(col("did_milli").cast("double") / 1000.0 / col("se_raw"), 4)
            .as("t"))
      cells.select(col("grp"), col("period"), col("n"), col("mean_milli"),
          lit(null).cast("double").as("se_milli"),
          lit(null).cast("double").as("t"))
        .unionByName(summary)
        .orderBy("grp", "period")
    },
    Some {
      def s2over(g: Int, p: Int) =
        s"""((CAST(n$g$p AS DOUBLE) * CAST(q$g$p AS DOUBLE)
             - CAST(x$g$p AS DOUBLE) * CAST(x$g$p AS DOUBLE))
            / CAST(n$g$p AS DOUBLE) / CAST(n$g$p - 1 AS DOUBLE)
            / CAST(n$g$p AS DOUBLE))"""
      val pivotCols = (for { g <- 0 to 1; p <- 0 to 1 } yield
        s"""max(CASE WHEN grp = $g AND period = $p THEN mean_milli END)
              AS m$g$p,
            max(CASE WHEN grp = $g AND period = $p THEN n END) AS n$g$p,
            max(CASE WHEN grp = $g AND period = $p THEN sx END) AS x$g$p,
            max(CASE WHEN grp = $g AND period = $p THEN sxx END) AS q$g$p""")
        .mkString(",\n                     ")
      s"""WITH users AS (
              SELECT DISTINCT user_id, CAST(user_id % 2 AS INT) AS grp
              FROM events),
            obs AS (
              SELECT user_id,
                     CASE WHEN extract(day FROM ts) <= 15 THEN 0 ELSE 1 END
                       AS period,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
              FROM events GROUP BY 1, 2),
            panel AS (
              SELECT g.grp, g.period, coalesce(o.x, 0) AS x
              FROM (SELECT u.user_id, u.grp, pp.period
                    FROM users u,
                         (SELECT unnest([0, 1]) AS period) pp) g
              LEFT JOIN obs o
                ON o.user_id = g.user_id AND o.period = g.period),
            cells AS (
              SELECT grp, CAST(period AS INT) AS period,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS sx,
                     sum(CAST(x AS HUGEINT) * x) AS sxx,
                     CAST(sum(x) * 1000 // count(*) AS BIGINT) AS mean_milli
              FROM panel GROUP BY 1, 2),
            wide AS (
              SELECT $pivotCols
              FROM cells),
            summary AS (
              SELECT CAST(-1 AS INT) AS grp, CAST(-1 AS INT) AS period,
                     CAST(n00 + n01 + n10 + n11 AS BIGINT) AS n,
                     CAST((m11 - m10) - (m01 - m00) AS BIGINT) AS mean_milli,
                     CAST(round(CAST(sqrt(((${s2over(1, 1)} + ${s2over(1, 0)})
                         + ${s2over(0, 1)}) + ${s2over(0, 0)}) * 1000.0
                       AS DECIMAL(30,8)), 4) AS DOUBLE) AS se_milli,
                     CAST(round(CAST(
                       CAST((m11 - m10) - (m01 - m00) AS DOUBLE) / 1000.0
                       / sqrt(((${s2over(1, 1)} + ${s2over(1, 0)})
                          + ${s2over(0, 1)}) + ${s2over(0, 0)})
                       AS DECIMAL(30,8)), 4) AS DOUBLE) AS t
              FROM wide)
            SELECT grp, period, n, mean_milli,
                   CAST(NULL AS DOUBLE) AS se_milli, CAST(NULL AS DOUBLE) AS t
            FROM cells
            UNION ALL SELECT * FROM summary
            ORDER BY grp, period"""
    })

  /** Log-log price elasticity of demand per return flag — the econometric
    * readout on the one real dependence this corpus carries (quantity ↔
    * unit price, corr ≈ −0.48; quantity ⊥ total price, the q_stats_xi
    * separation): elasticity β = d ln(qty) / d ln(unit price) by OLS on
    * logs QUANTIZED ONCE to integer milli-nats (the q_text_heaps rule),
    * so the whole regression runs in exact integer/DECIMAL(38) arithmetic
    * — no fp summation order anywhere, hash-exact to the last digit.
    * Emits per flag: n, β in micro-units (expect ≈ −1: the synthetic
    * unit price compensates quantity), and the ln-intercept.
    *
    * Scale: one map-combinable moment agg over the corpus → |flags| rows.
    */
  private val qStatsElasticity = GQuery(
    (s, d) => {
      val rows = t(s, d, "lineitem").select(
        col("l_returnflag").as("grp"),
        expr("""CAST(round(ln(CAST(CAST(round(l_extendedprice * 100) * 1000 AS BIGINT)
             div CAST(floor(l_quantity) AS BIGINT) AS DOUBLE)) * 1000)
             AS BIGINT)""").as("x"),
        expr("CAST(round(ln(CAST(l_quantity AS DOUBLE)) * 1000) AS BIGINT)")
          .as("y"))
      rows.groupBy("grp").agg(
          count(lit(1L)).as("n"),
          sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
          sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
        .select(col("grp"), col("n"),
          expr("""CAST((n * sxy - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000
                  div (n * sxx - CAST(sx AS DECIMAL(38,0)) * sx)
                  AS BIGINT)""").as("beta_micro"),
          expr("""CAST((sy - ((n * sxy - CAST(sx AS DECIMAL(38,0)) * sy)
                    * 1000000
                    div (n * sxx - CAST(sx AS DECIMAL(38,0)) * sx))
                    * sx div 1000000) div n AS BIGINT)""").as("lna_milli"))
        .orderBy("grp")
    },
    Some("""WITH rows_ AS (
              SELECT l_returnflag AS grp,
                     CAST(round(ln(CAST(CAST(round(l_extendedprice * 100) * 1000 AS BIGINT)
                       // CAST(floor(l_quantity) AS BIGINT) AS DOUBLE)) * 1000)
                       AS BIGINT) AS x,
                     CAST(round(ln(CAST(l_quantity AS DOUBLE)) * 1000)
                       AS BIGINT) AS y
              FROM lineitem),
            mom AS (
              SELECT grp, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(y) AS BIGINT) AS sy,
                     sum(CAST(x AS HUGEINT) * y) AS sxy,
                     sum(CAST(x AS HUGEINT) * x) AS sxx
              FROM rows_ GROUP BY 1)
            SELECT grp, n,
                   CAST((n * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
                     // (n * sxx - CAST(sx AS HUGEINT) * sx) AS BIGINT)
                     AS beta_micro,
                   CAST((sy - ((n * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
                     // (n * sxx - CAST(sx AS HUGEINT) * sx))
                     * sx // 1000000) // n AS BIGINT) AS lna_milli
            FROM mom ORDER BY grp"""))

  /** Bayesian A/B with Beta-Binomial posteriors — the decision-oriented
    * member of the experimentation family (the frequentist tests answer
    * "is there an effect?"; the posterior answers "how probable is B
    * better, and by how much?"): arms = user parity, conversions = users
    * with ≥1 premium purchase (value ≥ $150 — the tail event; plain
    * purchase converts everyone here), Beta(1,1) prior. Posterior means are EXACT
    * rationals in ppm ((1+s)·10⁶ div (2+n)); P(B>A) uses the
    * normal approximation of the posterior-difference (the standard
    * large-n shortcut; both posteriors are n≈75 here) through one
    * mirrored drounded Φ chain — erf is NOT portable across engines, so
    * the chain stops at the z-score and a monotone logistic surrogate
    * Φ̃(z) = 1/(1+e^{−1.702z}) (max |Φ̃−Φ| < 0.01, a documented
    * approximation — the decision readout, not a calibrated tail).
    *
    * Scale: one user agg → 2 arm rows.
    */
  private val qStatsBayesAb = GQuery(
    (s, d) => {
      val users = t(s, d, "events")
        .groupBy("user_id")
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") >= 150, 1L).otherwise(0L)).as("conv"))
        .withColumn("z", pmod(col("user_id"), lit(2)).cast("int"))
      val arms = users.groupBy("z")
        .agg(count(lit(1L)).as("n"), sum("conv").as("s"))
        .withColumn("post_mean_ppm", expr("(1 + s) * 1000000 div (2 + n)"))
        .localCheckpoint(true) // feeds the arm rows AND the summary pivot
      def g(zv: Int, c: String) = max(when(col("z") === zv, col(c)))
      val wide = arms.agg(
        g(0, "n").as("n0"), g(0, "s").as("s0"),
        g(1, "n").as("n1"), g(1, "s").as("s1"))
      // posterior moments: m = (1+s)/(2+n), v = m(1−m)/(3+n)
      def m(i: Int) =
        s"(CAST(1 + s$i AS DOUBLE) / CAST(2 + n$i AS DOUBLE))"
      def v(i: Int) =
        s"(${m(i)} * (1.0 - ${m(i)}) / CAST(3 + n$i AS DOUBLE))"
      val summary = wide.select(
        lit(-1).cast("int").as("z"),
        (col("n0") + col("n1")).as("n"),
        (col("s0") + col("s1")).as("s"),
        lit(null).cast("long").as("post_mean_ppm"),
        dround(expr(
          s"""1.0 / (1.0 + exp(-1.702 * ((${m(1)} - ${m(0)})
              / sqrt(${v(1)} + ${v(0)}))))"""), 4).as("p_b_beats_a"))
      arms.select(col("z"), col("n"), col("s"), col("post_mean_ppm"),
          lit(null).cast("double").as("p_b_beats_a"))
        .unionByName(summary)
        .orderBy("z")
    },
    Some {
      def m(i: Int) =
        s"(CAST(1 + s$i AS DOUBLE) / CAST(2 + n$i AS DOUBLE))"
      def v(i: Int) =
        s"(${m(i)} * (1.0 - ${m(i)}) / CAST(3 + n$i AS DOUBLE))"
      s"""WITH users AS (
              SELECT user_id,
                     CAST(max(CASE WHEN event_type = 'purchase'
                       AND value >= 150 THEN 1 ELSE 0 END) AS BIGINT) AS conv,
                     CAST(user_id % 2 AS INT) AS z
              FROM events GROUP BY 1),
            arms AS (
              SELECT z, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(conv) AS BIGINT) AS s,
                     CAST((1 + sum(conv)) * 1000000 // (2 + count(*))
                       AS BIGINT) AS post_mean_ppm
              FROM users GROUP BY 1),
            wide AS (
              SELECT max(CASE WHEN z = 0 THEN n END) AS n0,
                     max(CASE WHEN z = 0 THEN s END) AS s0,
                     max(CASE WHEN z = 1 THEN n END) AS n1,
                     max(CASE WHEN z = 1 THEN s END) AS s1
              FROM arms),
            summary AS (
              SELECT CAST(-1 AS INT) AS z,
                     CAST(n0 + n1 AS BIGINT) AS n,
                     CAST(s0 + s1 AS BIGINT) AS s,
                     CAST(NULL AS BIGINT) AS post_mean_ppm,
                     CAST(round(CAST(
                       1.0 / (1.0 + exp(-1.702 * ((${m(1)} - ${m(0)})
                         / sqrt(${v(1)} + ${v(0)}))))
                       AS DECIMAL(30,8)), 4) AS DOUBLE) AS p_b_beats_a
              FROM wide)
            SELECT z, n, s, post_mean_ppm, CAST(NULL AS DOUBLE)
                     AS p_b_beats_a
            FROM arms
            UNION ALL SELECT * FROM summary
            ORDER BY z"""
    })

  /** Sharp regression-discontinuity design — the third causal-inference
    * member (DiD differences trends; RDD exploits a CUTOFF rule: units
    * just above/below a threshold are as-good-as-randomized, so the jump
    * in the outcome at the cutoff is the local treatment effect): running
    * variable = event value (cutoff $250), outcome = purchase indicator,
    * local-linear fit on each side within a $100 bandwidth from exact
    * integer moments (y ∈ {0,1}, x = cents − cutoff), jump = intercept_R
    * − intercept_L at the cutoff. Per-side rows carry n/slope/intercept
    * (drounded mirrored OLS chains, the q_stats_linreg rule); the summary
    * row carries the jump in ppm. This synthetic corpus plants no
    * discontinuity, so the jump reads ≈ 0 — the placebo behaving is the
    * check (same role as q_stats_did's parity arm).
    *
    * Scale: one conditional moment agg (two sides in ONE pass) → 2 rows.
    */
  private val qStatsRdd = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val cut = 25000L
      val bw = 10000L
      val rows = t(s, d, "events")
        .select((cents - lit(cut)).as("x"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
        .filter(abs(col("x")) <= bw && col("x") =!= 0L)
        .withColumn("side", when(col("x") < 0, lit("L")).otherwise(lit("R")))
      val m = rows.groupBy("side").agg(
        count(lit(1L)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
        .withColumn("b", expr(
          """(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"""))
        .withColumn("a", expr(
          "(CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)"))
        .localCheckpoint(true) // feeds the side rows AND the jump pivot
      val jump = m.agg(
          max(when(col("side") === "R", col("a"))).as("aR"),
          max(when(col("side") === "L", col("a"))).as("aL"),
          sum("n").as("n"))
        .select(lit("JUMP").as("side"), col("n"),
          lit(null).cast("double").as("slope_per_kcent"),
          lit(null).cast("double").as("intercept_ppm"),
          dround((col("aR") - col("aL")) * 1e6, 1).as("jump_ppm"))
      m.select(col("side"), col("n"),
          dround(col("b") * 1e3, 6).as("slope_per_kcent"),
          dround(col("a") * 1e6, 1).as("intercept_ppm"),
          lit(null).cast("double").as("jump_ppm"))
        .unionByName(jump)
        .orderBy("side")
    },
    Some("""WITH rows_ AS (
              SELECT CAST(round(value * 100) AS BIGINT)
                       - 25000 AS x,
                     CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
              FROM events),
            nz AS (
              SELECT x, y, CASE WHEN x < 0 THEN 'L' ELSE 'R' END AS side
              FROM rows_ WHERE abs(x) <= 10000 AND x <> 0),
            m AS (
              SELECT side, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(x * y) AS BIGINT) AS sxy,
                     sum(CAST(x AS HUGEINT) * x) AS sxx
              FROM nz GROUP BY 1),
            f AS (
              SELECT side, n, sx, sy, sxy, sxx,
                     (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b
              FROM m),
            f2 AS (
              SELECT side, n, b,
                     (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE))
                       / CAST(n AS DOUBLE) AS a
              FROM f),
            jump AS (
              SELECT 'JUMP' AS side, CAST(sum(n) AS BIGINT) AS n,
                     CAST(NULL AS DOUBLE) AS slope_per_kcent,
                     CAST(NULL AS DOUBLE) AS intercept_ppm,
                     CAST(round(CAST(
                       (max(CASE WHEN side = 'R' THEN a END)
                        - max(CASE WHEN side = 'L' THEN a END)) * 1e6
                       AS DECIMAL(30,8)), 1) AS DOUBLE) AS jump_ppm
              FROM f2)
            SELECT side, n,
                   CAST(round(CAST(b * 1e3 AS DECIMAL(30,8)), 6) AS DOUBLE)
                     AS slope_per_kcent,
                   CAST(round(CAST(a * 1e6 AS DECIMAL(30,8)), 1) AS DOUBLE)
                     AS intercept_ppm,
                   CAST(NULL AS DOUBLE) AS jump_ppm
            FROM f2
            UNION ALL SELECT * FROM jump
            ORDER BY side"""))

  /** Wald instrumental-variable estimator — the fourth causal member
    * (when treatment is self-selected, an INSTRUMENT that shifts
    * treatment but touches the outcome only through it identifies the
    * effect: Wald = Δȳ / Δx̄ across instrument arms): instrument = user
    * parity (the hash-rule as-if-random assignment), treatment = the
    * user's click count, outcome = the user's purchase cents. Per-arm
    * means in exact fixed-point (milli via ·1000 div n), the first-stage
    * strength (Δx̄) and reduced form (Δȳ) as exact integers, the Wald
    * ratio through one drounded divide. A near-zero first stage flags a
    * WEAK instrument — emitted explicitly so the ratio is never read
    * blind (parity moves nothing here; the readout demonstrates the
    * weak-instrument failure mode on purpose).
    *
    * Scale: one user agg + a 2-row arm agg.
    */
  private val qStatsIv = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val users = t(s, d, "events")
        .groupBy("user_id")
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("xk"),
          sum(when(col("event_type") === "purchase", cents).otherwise(0L))
            .as("yc"))
        .withColumn("z", pmod(col("user_id"), lit(2)).cast("int"))
      val arms = users.groupBy("z").agg(count(lit(1L)).as("n"),
        sum("xk").as("sx"), sum("yc").as("sy"))
        .withColumn("xbar_milli", expr("sx * 1000 div n"))
        .withColumn("ybar_milli", expr("sy * 1000 div n"))
        .localCheckpoint(true) // feeds the arm rows AND the Wald pivot
      val wald = arms.agg(
          max(when(col("z") === 1, col("xbar_milli"))).as("x1"),
          max(when(col("z") === 0, col("xbar_milli"))).as("x0"),
          max(when(col("z") === 1, col("ybar_milli"))).as("y1"),
          max(when(col("z") === 0, col("ybar_milli"))).as("y0"),
          sum("n").as("n"))
        .select(lit(-1).cast("int").as("z"), col("n"),
          (col("x1") - col("x0")).as("xbar_milli"),
          (col("y1") - col("y0")).as("ybar_milli"),
          when(col("x1") =!= col("x0"),
            dround((col("y1") - col("y0")).cast("double") /
              (col("x1") - col("x0")).cast("double"), 4)).as("wald"))
      arms.select(col("z"), col("n"), col("xbar_milli"), col("ybar_milli"),
          lit(null).cast("double").as("wald"))
        .unionByName(wald)
        .orderBy("z")
    },
    Some("""WITH users AS (
              SELECT user_id,
                     CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0
                       END) AS BIGINT) AS xk,
                     CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS yc,
                     CAST(user_id % 2 AS INT) AS z
              FROM events GROUP BY 1),
            arms AS (
              SELECT z, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(xk) AS BIGINT) AS sx,
                     CAST(sum(yc) AS BIGINT) AS sy,
                     sum(xk) * 1000 // count(*) AS xbar_milli,
                     sum(yc) * 1000 // count(*) AS ybar_milli
              FROM users GROUP BY 1),
            wald AS (
              SELECT CAST(-1 AS INT) AS z, CAST(sum(n) AS BIGINT) AS n,
                     CAST(max(CASE WHEN z = 1 THEN xbar_milli END)
                       - max(CASE WHEN z = 0 THEN xbar_milli END)
                       AS BIGINT) AS xbar_milli,
                     CAST(max(CASE WHEN z = 1 THEN ybar_milli END)
                       - max(CASE WHEN z = 0 THEN ybar_milli END)
                       AS BIGINT) AS ybar_milli,
                     CASE WHEN max(CASE WHEN z = 1 THEN xbar_milli END)
                            <> max(CASE WHEN z = 0 THEN xbar_milli END)
                       THEN CAST(round(CAST(
                         CAST(max(CASE WHEN z = 1 THEN ybar_milli END)
                           - max(CASE WHEN z = 0 THEN ybar_milli END)
                           AS DOUBLE)
                         / CAST(max(CASE WHEN z = 1 THEN xbar_milli END)
                           - max(CASE WHEN z = 0 THEN xbar_milli END)
                           AS DOUBLE) AS DECIMAL(30,8)), 4) AS DOUBLE)
                     END AS wald
              FROM arms)
            SELECT z, n, CAST(xbar_milli AS BIGINT) AS xbar_milli,
                   CAST(ybar_milli AS BIGINT) AS ybar_milli,
                   CAST(NULL AS DOUBLE) AS wald
            FROM arms
            UNION ALL SELECT * FROM wald
            ORDER BY z"""))

  /** Exact sign-flip permutation test — the RESAMPLING member of the
    * testing ladder (z/t assume normality, the rank tests assume only
    * exchangeability of ranks; the permutation test assumes nothing but
    * exchangeability of the signs themselves and is exact at any n): the
    * same per-user paired spend deltas as q_stats_wilcoxon, observed
    * statistic Σd, and B = 200 DETERMINISTIC sign assignments
    * (parity of md5(user:b) — the hash-rule stand-in for random flips,
    * append-stable and engine-portable); two-sided
    * p_milli = (1 + #{b: |Σ±d| ≥ |Σd|})·1000 div (B+1) with the
    * add-one correction. EVERYTHING is exact integers — no normal
    * approximation anywhere, the only test in the family whose p-value
    * is hash-exact by construction.
    *
    * Scale: one user agg, then a users×B explode (bounded: B fixed, the
    * per-b partial sums map-side combine) + a B-row agg — permutations
    * parallelize across the shuffle, never a driver loop.
    */
  private val qStatsPermutation = GQuery(
    (s, d) => {
      import graft.operators.DedupOps.hex4
      val cents = graft.Exact.cents(col("value"))
      val diffs = t(s, d, "events")
        .select(col("user_id"),
          when(dayofmonth(col("ts")) <= 15, cents).otherwise(0L).as("a"),
          when(dayofmonth(col("ts")) > 15, cents).otherwise(0L).as("b"))
        .groupBy("user_id")
        .agg((sum("b") - sum("a")).as("dd"))
        .localCheckpoint(true) // feeds the observed agg AND the B explode
      val obs = diffs.agg(count(lit(1L)).as("n"),
        abs(sum("dd")).as("obs_abs")).withColumn("j", lit(1))
      val perms = diffs
        .select(col("user_id"), col("dd"),
          explode(sequence(lit(0), lit(199))).as("bperm"))
        .withColumn("sgn",
          when(pmod(hex4(concat_ws(":", col("user_id"), col("bperm"))),
            lit(2)) === 0, 1L).otherwise(-1L))
        .groupBy("bperm").agg(sum(col("sgn") * col("dd")).as("sb"))
      perms.withColumn("j", lit(1)).join(broadcast(obs), "j")
        .groupBy("n", "obs_abs")
        .agg(count(lit(1L)).as("b"),
          sum(when(abs(col("sb")) >= col("obs_abs"), 1L).otherwise(0L))
            .as("n_extreme"))
        .select(col("n"), col("obs_abs"), col("b"), col("n_extreme"),
          expr("(1 + n_extreme) * 1000 div (b + 1)").as("p_milli"))
    },
    Some(s"""WITH diffs AS (
              SELECT user_id,
                     CAST(sum(CASE WHEN extract(day FROM ts) > 15
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END)
                     - sum(CASE WHEN extract(day FROM ts) <= 15
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS dd
              FROM events GROUP BY 1),
            obs AS (SELECT CAST(count(*) AS BIGINT) AS n,
                           abs(CAST(sum(dd) AS BIGINT)) AS obs_abs
                    FROM diffs),
            perms AS (
              SELECT b.bperm,
                     CAST(sum(CASE WHEN
                       (${graft.operators.DedupOps.duckHex4(
                         "md5(CAST(user_id AS VARCHAR) || ':' || CAST(b.bperm AS VARCHAR))")}) % 2 = 0
                       THEN dd ELSE -dd END) AS BIGINT) AS sb
              FROM diffs,
                   LATERAL (SELECT unnest(generate_series(0, 199)) AS bperm) b
              GROUP BY 1)
            SELECT o.n, o.obs_abs, CAST(count(*) AS BIGINT) AS b,
                   CAST(sum(CASE WHEN abs(p.sb) >= o.obs_abs
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
                   CAST((1 + sum(CASE WHEN abs(p.sb) >= o.obs_abs
                     THEN 1 ELSE 0 END)) * 1000 // (count(*) + 1) AS BIGINT)
                     AS p_milli
            FROM perms p, obs o
            GROUP BY o.n, o.obs_abs"""))

  private val qStatsMannwhitney = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val grid = t(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(cents.as("v"),
          when(expr("(unix_timestamp(ts) div 86400) % 7").isin(2, 3), 1L)
            .otherwise(0L).as("g"))
        .groupBy("v")
        .agg(sum(when(col("g") === 1, 1L).otherwise(0L)).as("c1"),
          sum(when(col("g") === 0, 1L).otherwise(0L)).as("c0"))
        .withColumn("t", col("c1") + col("c0"))
      val ranked = grid
        .withColumn("cum", Prefix.sumBefore(col("t"), Window.orderBy("v")))
      val agg = ranked.agg(
        sum("c1").as("n1"), sum("c0").as("n0"),
        sum(col("c1") * (col("cum") * 2 + col("t") + 1)).as("r2"),
        sum(col("t") * col("t") * col("t") - col("t")).as("ties"))
      agg
        .withColumn("n", col("n1") + col("n0"))
        .withColumn("u2", col("r2") - col("n1") * (col("n1") + 1))
        .select(col("n1"), col("n0"), expr("u2 div 2").as("u1"),
          when(col("n1") > 0 && col("n0") > 0 && col("n") > 1,
            dround((col("u2") - col("n1") * col("n0")).cast("double") /
              (lit(2.0) * sqrt(
                (col("n1") * col("n0")).cast("double") / 12.0 *
                  ((col("n") + 1).cast("double") -
                    col("ties").cast("double") /
                      (col("n") * (col("n") - 1)).cast("double")))), 6))
            .as("z"))
    },
    Some("""WITH grid AS (
              SELECT CAST(round(value * 100) AS BIGINT) AS v,
                     CAST(sum(CASE WHEN ((CAST(floor(epoch(ts)) AS BIGINT)
                       // 86400) % 7) IN (2, 3) THEN 1 ELSE 0 END) AS BIGINT)
                       AS c1,
                     CAST(sum(CASE WHEN ((CAST(floor(epoch(ts)) AS BIGINT)
                       // 86400) % 7) IN (2, 3) THEN 0 ELSE 1 END) AS BIGINT)
                       AS c0
              FROM events WHERE event_type = 'purchase' GROUP BY 1),
            ranked AS (
              SELECT v, c1, c0, c1 + c0 AS t,
                     CAST(coalesce(sum(c1 + c0) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS cum
              FROM grid),
            agg AS (
              SELECT CAST(sum(c1) AS BIGINT) AS n1,
                     CAST(sum(c0) AS BIGINT) AS n0,
                     CAST(sum(c1 * (cum * 2 + t + 1)) AS BIGINT) AS r2,
                     CAST(sum(t * t * t - t) AS BIGINT) AS ties
              FROM ranked),
            fin AS (
              SELECT n1, n0, n1 + n0 AS n,
                     r2 - n1 * (n1 + 1) AS u2, ties
              FROM agg)
            SELECT n1, n0, CAST(u2 // 2 AS BIGINT) AS u1,
                   CASE WHEN n1 > 0 AND n0 > 0 AND n > 1 THEN
                     CAST(round(CAST(
                       CAST(u2 - n1 * n0 AS DOUBLE) /
                       (2.0 * sqrt(CAST(n1 * n0 AS DOUBLE) / 12.0 *
                         (CAST(n + 1 AS DOUBLE)
                          - CAST(ties AS DOUBLE)
                            / CAST(n * (n - 1) AS DOUBLE))))
                       AS DECIMAL(30,8)), 6) AS DOUBLE)
                   END AS z
            FROM fin"""))

  // ----------------------------------------------- feature standardization --

  /** Z-score + min-max standardization of the account-balance feature —
    * the scaler step next to q_feature_bucketize/q_feature_target_encode,
    * exact across engines even on NEGATIVE values: on INTEGER operands both
    * Spark `div` and DuckDB `//` truncate toward zero (the floor-vs-truncate
    * trap is DuckDB's DOUBLE `//`, which floors — keep the operands
    * integral and the engines agree on the whole domain). σ is quantized
    * ONCE to whole cents from the exact n·Q−S² integer moments; the per-row
    * outputs are then pure integer arithmetic.
    *
    * Scale: one scalar moment agg broadcast onto one codegen'd row pass —
    * the target-encode economics; stats at 100 TB come from the same
    * partial-agg tree, and quantizing σ once means no per-row fp anywhere.
    */
  private val qFeatureScale = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("c_acctbal"))
      val c = t(s, d, "customer").select(col("c_custkey"), cents.as("bal"))
      // n·Q − S² overflows BIGINT past ~10⁴ rows of 10⁶-cent balances —
      // widen the moment arithmetic to DECIMAL(38,0) (the corrmatrix rule)
      val dec = DataTypes.createDecimalType(38, 0)
      val stats = c.agg(count(lit(1L)).as("n"), sum("bal").as("sb"),
          sum(col("bal").cast(dec) * col("bal").cast(dec)).as("qb"),
          min("bal").as("mn"), max("bal").as("mx"))
        .select(col("n"), col("mn"), col("mx"),
          expr("sb div n").as("mean_c"),
          greatest(lit(1L),
            round(sqrt((col("n").cast(dec) * col("qb") -
              col("sb").cast(dec) * col("sb").cast(dec))
              .cast("double")) / col("n").cast("double")).cast("long"))
            .as("sig_c"))
      c.filter(col("c_custkey") < 100)
        .crossJoin(broadcast(stats))
        .select(col("c_custkey"), col("bal").as("bal_cents"),
          expr("(bal - mean_c) * 1000 div sig_c").as("z_milli"),
          when(col("mx") > col("mn"),
            expr("(bal - mn) * 1000000 div (mx - mn)"))
            .otherwise(0L).as("mm_ppm"))
        .orderBy("c_custkey")
    },
    Some("""WITH c AS (
              SELECT c_custkey,
                     CAST(round(c_acctbal * 100) AS BIGINT)
                       AS bal
              FROM customer),
            stats AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(min(bal) AS BIGINT) AS mn,
                     CAST(max(bal) AS BIGINT) AS mx,
                     CAST(sum(bal) // count(*) AS BIGINT) AS mean_c,
                     CAST(greatest(1, round(
                       sqrt(CAST(count(*) * sum(bal * bal)
                         - sum(bal) * sum(bal) AS DOUBLE))
                       / CAST(count(*) AS DOUBLE))) AS BIGINT) AS sig_c
              FROM c)
            SELECT c.c_custkey, c.bal AS bal_cents,
                   CAST((c.bal - s.mean_c) * 1000 // s.sig_c AS BIGINT)
                     AS z_milli,
                   CASE WHEN s.mx > s.mn THEN
                     CAST((c.bal - s.mn) * 1000000 // (s.mx - s.mn) AS BIGINT)
                   ELSE 0 END AS mm_ppm
            FROM c CROSS JOIN stats s
            WHERE c.c_custkey < 100
            ORDER BY c.c_custkey"""))

  // ------------------------------------------------- Cohen's d effect size --

  /** Cohen's d for the hash-split A/B arms per event type — the effect-size
    * companion to q_stats_abtest's Welch t, the same pairing as
    * chisq↔cramersv: at 10⁹ rows every t is "significant", d says whether
    * the difference MATTERS. Pooled σ from the exact DECIMAL(38) moment
    * sums; fp only in the final dround'd division; the magnitude class
    * (negligible/small/medium/large at the 0.2/0.5/0.8 cuts) is derived
    * from the ROUNDED d so both engines classify identically.
    *
    * Scale: one map-side-combined agg (both arms in one pass, the abtest
    * shape); everything downstream is event-type-cardinality rows.
    */
  private val qStatsCohend = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      def arm(a: Int, c: org.apache.spark.sql.Column) =
        sum(when(pmod(col("user_id"), lit(2)) === a, c).otherwise(lit(0L))
          .cast("decimal(38,0)"))
      val g = t(s, d, "events")
        .groupBy("event_type")
        .agg(
          sum(when(pmod(col("user_id"), lit(2)) === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(pmod(col("user_id"), lit(2)) === 1, 1L).otherwise(0L)).as("n_b"),
          arm(0, cents).as("s_a"), arm(1, cents).as("s_b"),
          arm(0, cents * cents).as("ss_a"), arm(1, cents * cents).as("ss_b"))
      // sample variances via n·SS − S² (exact), pooled over both arms
      val va = (col("n_a") * col("ss_a") - col("s_a") * col("s_a")).cast("double") /
        (col("n_a") * (col("n_a") - 1)).cast("double")
      val vb = (col("n_b") * col("ss_b") - col("s_b") * col("s_b")).cast("double") /
        (col("n_b") * (col("n_b") - 1)).cast("double")
      val pooled = sqrt(((col("n_a") - 1).cast("double") * va +
        (col("n_b") - 1).cast("double") * vb) /
        (col("n_a") + col("n_b") - 2).cast("double"))
      val dEff = (col("s_a").cast("double") / col("n_a").cast("double") -
        col("s_b").cast("double") / col("n_b").cast("double")) / pooled
      g.filter(col("n_a") > 1 && col("n_b") > 1)
        .select(col("event_type"), col("n_a"), col("n_b"),
          dround(dEff, 4).as("cohen_d"))
        .withColumn("magnitude",
          when(abs(col("cohen_d")) < 0.2, "negligible")
            .when(abs(col("cohen_d")) < 0.5, "small")
            .when(abs(col("cohen_d")) < 0.8, "medium").otherwise("large"))
        .orderBy("event_type")
    },
    Some("""WITH g AS (
              SELECT event_type,
                     CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_a,
                     CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_b,
                     sum(CASE WHEN user_id % 2 = 0 THEN
                       CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS s_a,
                     sum(CASE WHEN user_id % 2 = 1 THEN
                       CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS s_b,
                     sum(CASE WHEN user_id % 2 = 0 THEN
                       CAST(round(value * 100) AS BIGINT)
                       * CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS ss_a,
                     sum(CASE WHEN user_id % 2 = 1 THEN
                       CAST(round(value * 100) AS BIGINT)
                       * CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS ss_b
              FROM events GROUP BY event_type),
            fin AS (
              SELECT event_type, n_a, n_b,
                     CAST(round(CAST(
                       (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                        - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                       / sqrt((CAST(n_a - 1 AS DOUBLE)
                           * (CAST(n_a * ss_a - s_a * s_a AS DOUBLE)
                             / CAST(n_a * (n_a - 1) AS DOUBLE))
                         + CAST(n_b - 1 AS DOUBLE)
                           * (CAST(n_b * ss_b - s_b * s_b AS DOUBLE)
                             / CAST(n_b * (n_b - 1) AS DOUBLE)))
                         / CAST(n_a + n_b - 2 AS DOUBLE))
                       AS DECIMAL(30,8)), 4) AS DOUBLE) AS cohen_d
              FROM g WHERE n_a > 1 AND n_b > 1)
            SELECT event_type, n_a, n_b, cohen_d,
                   CASE WHEN abs(cohen_d) < 0.2 THEN 'negligible'
                        WHEN abs(cohen_d) < 0.5 THEN 'small'
                        WHEN abs(cohen_d) < 0.8 THEN 'medium'
                        ELSE 'large' END AS magnitude
            FROM fin ORDER BY event_type"""))

  // ------------------------------------------- ClickHouse-style windowFunnel --

  /** windowFunnel(1h)(view → click → purchase) per user: the deepest prefix
    * of the step sequence completed IN ORDER within one hour of the anchor
    * view — ClickHouse's windowFunnel, built from two merge-asof window
    * passes instead of per-row state: pass 1 unions views+clicks sorted per
    * user and reads each view's NEXT click via a forward-min window; pass 2
    * repositions each satisfied view at its click time among purchases and
    * reads the next purchase the same way. "Next" is strict in the total
    * (ts, tag, event_id) order, so ties are deterministic cross-engine.
    * Emits the user count per max-completed level (0 = active user with no
    * view).
    *
    * Scale: the as-of economics twice — two user-partitioned sort windows,
    * zero self-joins, zero per-anchor probes; state per row is O(1) and
    * anchors never fan out (a user with 10³ views costs 10³ rows, not
    * 10³ × clicks candidates).
    */
  private val qEventsWindowFunnel = GQuery(
    (s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("sec"), col("event_type"))
      val vc = ev.filter(col("event_type").isin("view", "click"))
        .withColumn("tag", when(col("event_type") === "view", 0).otherwise(1))
      val w1 = Window.partitionBy("user_id")
        .orderBy("sec", "tag", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
      val step2 = vc
        .withColumn("next_click",
          min(when(col("event_type") === "click", col("sec"))).over(w1))
        .filter(col("event_type") === "view")
        .withColumn("t2",
          when(col("next_click") <= col("sec") + 21600L, col("next_click")))
      // pass 2: satisfied views reposition at their click time (tag 0)
      // among purchases (tag 1); strict successor via the same frame
      val probes = step2.filter(col("t2").isNotNull)
        .select(col("user_id"), col("event_id"), col("sec").as("anchor"),
          col("t2").as("pos"), lit(0).as("tag"), lit(null).cast("long").as("psec"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), lit(null).cast("long").as("anchor"),
          col("sec").as("pos"), lit(1).as("tag"), col("sec").as("psec"))
      val w2 = Window.partitionBy("user_id")
        .orderBy("pos", "tag", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
      val step3 = probes.unionByName(purch)
        .withColumn("next_purch", min(col("psec")).over(w2))
        .filter(col("tag") === 0)
        .withColumn("done3",
          col("next_purch") <= col("anchor") + 21600L)
      val lvl3users = step3.filter(col("done3"))
        .select(col("user_id")).distinct().withColumn("lvl", lit(3))
      val lvl2users = step2.filter(col("t2").isNotNull)
        .select(col("user_id")).distinct().withColumn("lvl", lit(2))
      val lvl1users = ev.filter(col("event_type") === "view")
        .select(col("user_id")).distinct().withColumn("lvl", lit(1))
      val lvl0users = ev.select(col("user_id")).distinct().withColumn("lvl", lit(0))
      lvl0users.unionByName(lvl1users).unionByName(lvl2users)
        .unionByName(lvl3users)
        .groupBy("user_id").agg(max("lvl").as("level"))
        .groupBy("level").agg(count(lit(1L)).as("n_users"))
        .orderBy("level")
    },
    Some("""WITH ev AS (
              SELECT user_id, event_id,
                     CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_type
              FROM events),
            vc AS (
              SELECT user_id, event_id, sec, event_type,
                     CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS tag
              FROM ev WHERE event_type IN ('view', 'click')),
            s2 AS (
              SELECT user_id, event_id, sec, event_type,
                     min(CASE WHEN event_type = 'click' THEN sec END)
                       OVER (PARTITION BY user_id
                         ORDER BY sec, tag, event_id
                         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                       AS next_click
              FROM vc),
            views AS (
              SELECT user_id, event_id, sec,
                     CASE WHEN next_click <= sec + 21600 THEN next_click END
                       AS t2
              FROM s2 WHERE event_type = 'view'),
            merged AS (
              SELECT user_id, event_id, sec AS anchor, t2 AS pos, 0 AS tag,
                     CAST(NULL AS BIGINT) AS psec
              FROM views WHERE t2 IS NOT NULL
              UNION ALL
              SELECT user_id, event_id, CAST(NULL AS BIGINT), sec, 1, sec
              FROM ev WHERE event_type = 'purchase'),
            s3 AS (
              SELECT user_id, anchor, tag,
                     min(psec) OVER (PARTITION BY user_id
                       ORDER BY pos, tag, event_id
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                       AS next_purch
              FROM merged),
            levels AS (
              SELECT user_id, 0 AS lvl FROM ev GROUP BY 1
              UNION ALL
              SELECT DISTINCT user_id, 1 FROM ev WHERE event_type = 'view'
              UNION ALL
              SELECT DISTINCT user_id, 2 FROM views WHERE t2 IS NOT NULL
              UNION ALL
              SELECT DISTINCT user_id, 3 FROM s3
              WHERE tag = 0 AND next_purch <= anchor + 21600),
            ul AS (SELECT user_id, max(lvl) AS level FROM levels GROUP BY 1)
            SELECT CAST(level AS INT) AS level,
                   CAST(count(*) AS BIGINT) AS n_users
            FROM ul GROUP BY level ORDER BY level"""))

  // --------------------------------------- point-in-time feature join --

  /** Feature-store point-in-time join: each order (the training spine) is
    * enriched with three user features AS OF its timestamp — events seen,
    * purchase cents accumulated, last event type — with zero future
    * leakage. All three features ride ONE merge-asof pass: probes union
    * into the event stream, one user-partitioned sort window computes the
    * running count/sum/last, and probe rows read them off. The per-row
    * leakage guard is the frame bound itself (UNBOUNDED PRECEDING → current
    * row, probes tagged to sort AFTER same-second events — "as of" means
    * inclusive).
    *
    * Scale: THE feature-store join done right — N feature columns cost one
    * sorted pass, not N as-of joins (the q_join_asof_nearest economics
    * widened); running aggregates are O(1) state; spine and stream
    * partition on the same user key so the union needs no extra shuffle.
    */
  private val qFeaturePit = GQuery(
    (s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id").as("uid"), col("event_id").as("oid"),
          unix_timestamp(col("ts")).as("sec"), lit(0).as("tag"),
          lit(1L).as("cnt"),
          when(col("event_type") === "purchase",
            cents(col("value")))
            .otherwise(0L).as("cents"),
          col("event_type").as("etype"))
      val spine = t(s, d, "orders")
        .filter(col("o_custkey") < 150)
        .select(col("o_custkey").as("uid"), col("o_orderkey").as("oid"),
          unix_timestamp(col("o_orderdate")).as("sec"), lit(1).as("tag"),
          lit(0L).as("cnt"), lit(0L).as("cents"),
          lit(null).cast("string").as("etype"))
      val w = Window.partitionBy("uid").orderBy("sec", "tag", "oid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.unionByName(spine)
        .withColumn("n_events", sum("cnt").over(w))
        .withColumn("spend_cents", sum("cents").over(w))
        .withColumn("last_etype", last(col("etype"), ignoreNulls = true).over(w))
        .filter(col("tag") === 1)
        .select(col("oid").as("o_orderkey"), col("uid").as("o_custkey"),
          col("n_events"), col("spend_cents"),
          coalesce(col("last_etype"), lit("none")).as("last_etype"))
        .orderBy("o_orderkey")
    },
    Some("""WITH ev AS (
              SELECT user_id AS uid, event_id AS oid,
                     CAST(floor(epoch(ts)) AS BIGINT) AS sec, 0 AS tag,
                     CAST(1 AS BIGINT) AS cnt,
                     CASE WHEN event_type = 'purchase' THEN
                       CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END AS cents,
                     event_type AS etype
              FROM events),
            spine AS (
              SELECT o_custkey AS uid, o_orderkey AS oid,
                     CAST(floor(epoch(o_orderdate)) AS BIGINT) AS sec, 1 AS tag,
                     CAST(0 AS BIGINT) AS cnt, CAST(0 AS BIGINT) AS cents,
                     CAST(NULL AS VARCHAR) AS etype
              FROM orders WHERE o_custkey < 150),
            merged AS (
              SELECT * FROM ev UNION ALL SELECT * FROM spine),
            scored AS (
              SELECT uid, oid, tag,
                     sum(cnt) OVER win AS n_events,
                     sum(cents) OVER win AS spend_cents,
                     last_value(etype IGNORE NULLS) OVER win AS last_etype
              FROM merged
              WINDOW win AS (PARTITION BY uid ORDER BY sec, tag, oid
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
            SELECT oid AS o_orderkey, uid AS o_custkey,
                   CAST(n_events AS BIGINT) AS n_events,
                   CAST(spend_cents AS BIGINT) AS spend_cents,
                   coalesce(last_etype, 'none') AS last_etype
            FROM scored WHERE tag = 1
            ORDER BY o_orderkey"""))

  // -------------------------------------------------------- modal value --

  /** Mode (most frequent value) of purchase cents per event type with a
    * DETERMINISTIC tie-break (highest count, then smallest value) — the
    * categorical central-tendency member next to median
    * (q_agg_wquantile) and mean (q_agg_stats). Built as value-count agg →
    * per-type rank window over the value GRID; engines tie-break
    * identically because the order is total.
    *
    * Scale: the rank window runs over DISTINCT (type, value) cells, never
    * rows — the auc grid economics; a true streaming mode would keep a
    * count-min + heap, but the exact grid form is what the gate can hash.
    */
  private val qAggMode = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val grid = t(s, d, "events")
        .groupBy(col("event_type"), cents.as("v"))
        .agg(count(lit(1L)).as("c"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("c").desc, col("v").asc)
      grid.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("event_type"), col("v").as("mode_cents"), col("c").as("n"))
        .orderBy("event_type")
    },
    Some("""WITH grid AS (
              SELECT event_type,
                     CAST(round(value * 100) AS BIGINT) AS v,
                     CAST(count(*) AS BIGINT) AS c
              FROM events GROUP BY 1, 2),
            ranked AS (
              SELECT event_type, v, c,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY c DESC, v ASC) AS rk
              FROM grid)
            SELECT event_type, v AS mode_cents, c AS n
            FROM ranked WHERE rk = 1 ORDER BY event_type"""))

  // ----------------------------------------------- Theil–Sen robust trend --

  /** Theil–Sen robust trend of the daily revenue series: the LOWER-MEDIAN of
    * all pairwise slopes (exact micro-cents/day integers — slope quantized
    * at the division, both engines truncate identically), plus the matching
    * intercept as the lower-median residual at that slope. Robust to ~29%
    * outlier days where the OLS line (q_stats_linreg) bends; the
    * slope/intercept pair is hash-exact because medians are ORDER
    * STATISTICS of integer columns, never averages.
    *
    * Scale: pairwise slopes live on the DAY GRID (d² pairs of a
    * calendar-bounded series — 435 at 30 days), not on rows; the corpus is
    * touched once by the day agg. Years of data: d² ~ 10⁵ pairs, still
    * trivial; the residual pass is d rows.
    */
  private val qTsTheilsen = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      // di is REBASED to the series start: with absolute epoch days a
      // one-day revenue jump makes slope_micro·di overflow BIGINT
      // (~10¹⁵ · 2·10⁴); rebased di ≤ series length keeps it exact
      val daily = t(s, d, "events")
        .select(to_date(col("ts")).as("day"), cents.as("v"))
        .groupBy("day").agg(sum("v").as("x"))
        .select(datediff(col("day"), lit("1970-01-01").cast("date"))
          .cast("long").as("de"), col("x"))
        .withColumn("di", col("de") - min("de").over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .select(col("di"), col("x"))
        .localCheckpoint(true)
      val pairs = daily.select(col("di").as("da"), col("x").as("xa"))
        .join(daily.select(col("di").as("db"), col("x").as("xb")),
          col("da") < col("db"))
        .select(col("da"), col("db"),
          expr("(xb - xa) * 1000000 div (db - da)").as("sl"))
      val wSl = Window.orderBy(col("sl").asc, col("da").asc, col("db").asc)
      val slope = pairs
        .withColumn("rn", row_number().over(wSl))
        .withColumn("cnt", count(lit(1L)).over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("sl").as("slope_micro"), col("cnt").as("n_pairs"))
      val wR = Window.orderBy(col("r").asc, col("di").asc)
      daily.crossJoin(broadcast(slope))
        .select(col("di"), col("x"), col("slope_micro"), col("n_pairs"),
          (col("x") * 1000000L - col("slope_micro") * col("di")).as("r"))
        .withColumn("rn", row_number().over(wR))
        .withColumn("nd", count(lit(1L)).over(
          Window.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
        .filter(col("rn") === expr("(nd + 1) div 2"))
        .select(col("nd").as("n_days"), col("n_pairs"), col("slope_micro"),
          expr("r div 1000000").as("intercept_cents"))
    },
    Some("""WITH daily0 AS (
              SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT)
                       // 86400 AS de,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
              FROM events GROUP BY 1),
            daily AS (
              SELECT de - min(de) OVER () AS di, x FROM daily0),
            pairs AS (
              SELECT a.di AS da, b.di AS db,
                     CAST((b.x - a.x) * 1000000 // (b.di - a.di) AS BIGINT)
                       AS sl
              FROM daily a JOIN daily b ON a.di < b.di),
            slr AS (
              SELECT sl, row_number() OVER (ORDER BY sl, da, db) AS rn,
                     count(*) OVER () AS cnt
              FROM pairs),
            slope AS (
              SELECT sl AS slope_micro, CAST(cnt AS BIGINT) AS n_pairs
              FROM slr WHERE rn = (cnt + 1) // 2),
            resid AS (
              SELECT d.di, d.x * 1000000 - s.slope_micro * d.di AS r,
                     s.slope_micro, s.n_pairs
              FROM daily d CROSS JOIN slope s),
            rr AS (
              SELECT *, row_number() OVER (ORDER BY r, di) AS rn,
                     count(*) OVER () AS nd
              FROM resid)
            SELECT CAST(nd AS BIGINT) AS n_days, n_pairs,
                   CAST(slope_micro AS BIGINT) AS slope_micro,
                   CAST(r // 1000000 AS BIGINT) AS intercept_cents
            FROM rr WHERE rn = (nd + 1) // 2"""))

  // ------------------------------------------------- Kruskal–Wallis H --

  /** Kruskal–Wallis H across all five event types' value distributions —
    * the k-sample completion of the rank-test family (Mann–Whitney is its
    * k = 2 case): doubled mid-rank sums per type from the value GRID (the
    * auc machinery — no row-level sort), the tie term Σ(t³−t) from the same
    * grid, and H' = (12/(N(N+1)) Σ Rᵢ²/nᵢ − 3(N+1)) / (1 − ties/(N³−N))
    * computed once in fp from exact BIGINTs, dround-snapped. Per-type rows
    * carry the exact integer mean-rank in milli (Rᵢ·1000 div nᵢ with
    * doubled ranks folded back); the TOTAL row carries H.
    *
    * Scale: auc economics — one value-grid agg, one grid prefix window,
    * one scalar agg; all five types ride the same pass. N³ forces the
    * DECIMAL(38) widening around 10⁶ grid-total rows — done here
    * unconditionally (the corrmatrix rule).
    */
  private val qStatsKruskal = GQuery(
    (s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val dec = DataTypes.createDecimalType(38, 0)
      val cents = graft.Exact.cents(col("value"))
      val perV = t(s, d, "events")
        .select(cents.as("v"), col("event_type"))
        .groupBy("v")
        .agg(count(lit(1L)).as("cnt"), types.map(tp =>
          sum(when(col("event_type") === tp, 1L).otherwise(0L)).as(s"c_$tp")): _*)
      val ranked = perV
        .withColumn("cum", Prefix.sumBefore(col("cnt"), Window.orderBy("v")))
      val aggCols =
        types.map(tp => sum(col(s"c_$tp") * (col("cum") * 2 + col("cnt") + 1))
          .as(s"s2_$tp")) ++
          types.map(tp => sum(col(s"c_$tp")).as(s"n_$tp")) :+
          sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("ties")
      val agg = ranked.agg(aggCols.head, aggCols.tail: _*)
      val nTot = types.map(tp => col(s"n_$tp")).reduce(_ + _)
      // Σ Rᵢ²/nᵢ with doubled ranks: Σ (s2ᵢ)²/(4nᵢ) — exact DECIMAL inputs
      val sumR2 = types.map(tp =>
        (col(s"s2_$tp").cast(dec) * col(s"s2_$tp").cast(dec))
          .cast("double") / (col(s"n_$tp") * 4L).cast("double")).reduce(_ + _)
      val hRaw = lit(12.0) / (nTot.cast("double") * (nTot + 1L).cast("double")) *
        sumR2 - lit(3.0) * (nTot + 1L).cast("double")
      val tieCorr = lit(1.0) - col("ties").cast("double") /
        (nTot.cast(dec) * nTot.cast(dec) * nTot.cast(dec) - nTot.cast(dec))
          .cast("double")
      val perType = types.map(tp =>
        agg.select(lit(tp).as("event_type"), col(s"n_$tp").as("n"),
          expr(s"s2_$tp * 500 div n_$tp").as("mean_rank_milli"),
          lit(null).cast("double").as("h")))
      val total = agg.select(lit("TOTAL").as("event_type"), nTot.as("n"),
        lit(null).cast("long").as("mean_rank_milli"),
        when(tieCorr > 0, dround(hRaw / tieCorr, 6)).as("h"))
      perType.reduce(_ unionByName _).unionByName(total)
        .orderBy("event_type")
    },
    Some {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val cSums = types.map(tp =>
        s"""CAST(sum(CASE WHEN event_type = '$tp' THEN 1 ELSE 0 END)
             AS BIGINT) AS c_$tp""").mkString(",\n")
      val s2Sums = types.map(tp =>
        s"CAST(sum(c_$tp * (cum * 2 + cnt + 1)) AS BIGINT) AS s2_$tp," +
          s" CAST(sum(c_$tp) AS BIGINT) AS n_$tp").mkString(",\n")
      val nTot = types.map(tp => s"n_$tp").mkString(" + ")
      val sumR2 = types.map(tp =>
        s"""CAST(CAST(s2_$tp AS DECIMAL(38,0)) * CAST(s2_$tp AS DECIMAL(38,0))
             AS DOUBLE) / CAST(n_$tp * 4 AS DOUBLE)""").mkString(" + ")
      val perType = types.map(tp =>
        s"""SELECT '$tp' AS event_type, n_$tp AS n,
              CAST(s2_$tp * 500 // n_$tp AS BIGINT) AS mean_rank_milli,
              CAST(NULL AS DOUBLE) AS h FROM agg""").mkString("\nUNION ALL\n")
      s"""WITH perv AS (
            SELECT CAST(round(value * 100) AS BIGINT) AS v,
                   CAST(count(*) AS BIGINT) AS cnt,
                   $cSums
            FROM events GROUP BY 1),
          ranked AS (
            SELECT *, CAST(coalesce(sum(cnt) OVER (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum
            FROM perv),
          agg AS (
            SELECT $s2Sums,
                   CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
            FROM ranked),
          total AS (
            SELECT 'TOTAL' AS event_type, CAST($nTot AS BIGINT) AS n,
                   CAST(NULL AS BIGINT) AS mean_rank_milli,
                   CASE WHEN 1.0 - CAST(ties AS DOUBLE)
                       / CAST(CAST($nTot AS DECIMAL(38,0))
                           * CAST($nTot AS DECIMAL(38,0))
                           * CAST($nTot AS DECIMAL(38,0))
                           - CAST($nTot AS DECIMAL(38,0)) AS DOUBLE) > 0
                   THEN
                     CAST(round(CAST(
                       (12.0 / (CAST($nTot AS DOUBLE)
                          * CAST($nTot + 1 AS DOUBLE))
                         * ($sumR2)
                         - 3.0 * CAST($nTot + 1 AS DOUBLE))
                       / (1.0 - CAST(ties AS DOUBLE)
                          / CAST(CAST($nTot AS DECIMAL(38,0))
                              * CAST($nTot AS DECIMAL(38,0))
                              * CAST($nTot AS DECIMAL(38,0))
                              - CAST($nTot AS DECIMAL(38,0)) AS DOUBLE))
                       AS DECIMAL(30,8)), 6) AS DOUBLE)
                   END AS h
            FROM agg)
          SELECT event_type, n, mean_rank_milli, h FROM (
            $perType
            UNION ALL SELECT * FROM total)
          ORDER BY event_type"""
    })

  // --------------------------------------- integer Holt trend smoothing --

  /** Holt's double exponential smoothing (level + trend) of the daily
    * revenue series, α = β = 1/4, in EXACT integer arithmetic — the
    * trend-aware upgrade of q_ts_ewma (which assumes a level-only series and
    * lags any drift): l₁ = x₁, b₁ = 0; lₜ = (xₜ + 3(lₜ₋₁+bₜ₋₁)) div 4,
    * bₜ = ((lₜ − lₜ₋₁) + 3bₜ₋₁) div 4. Trend goes NEGATIVE on declining
    * days, so the recurrence uses `div` (truncation toward zero — identical
    * to DuckDB `//` on INTEGER operands, the q_feature_scale parity rule),
    * never shiftright (floor). Emits per day the level/trend state, the
    * one-step-ahead forecast fcₜ = lₜ₋₁ + bₜ₋₁ each state was scored
    * against, and its error — the residual stream a monitoring pipeline
    * alerts on.
    *
    * Scale: q_ts_ewma economics exactly — the corpus collapses to ≤ #days
    * rows before the fold; the sequential part is calendar-bounded, and
    * per-key Holt at scale runs the same fold per group key.
    */
  private val qTsHolt = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val daily = t(s, d, "events")
        .select(to_date(col("ts")).as("day"), cents.as("v"))
        .groupBy("day").agg(sum("v").as("x"))
      val series = daily
        .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("s"))
        .select(transform(col("s"), r => r.getField("day")).as("days"),
          transform(col("s"), r => r.getField("x")).as("xs"))
      val folded = series.withColumn("st", expr(
        """aggregate(xs,
             CAST(array() AS ARRAY<STRUCT<l: BIGINT, b: BIGINT>>),
             (acc, x) -> CASE WHEN size(acc) = 0
               THEN array(named_struct('l', x, 'b', CAST(0 AS BIGINT)))
               ELSE concat(acc, array(named_struct(
                 'l', (x + 3 * (element_at(acc, -1).l + element_at(acc, -1).b))
                        div 4,
                 'b', (((x + 3 * (element_at(acc, -1).l
                          + element_at(acc, -1).b)) div 4)
                       - element_at(acc, -1).l + 3 * element_at(acc, -1).b)
                        div 4)))
             END)"""))
      val wLag = Window.orderBy("day")
      folded
        .select(posexplode(arrays_zip(col("days"), col("xs"), col("st"))))
        .select(col("col.days").as("day"), col("col.xs").as("x"),
          col("col.st.l").as("level_cents"), col("col.st.b").as("trend_cents"))
        .withColumn("fc_cents",
          lag(col("level_cents") + col("trend_cents"), 1).over(wLag))
        .select(col("day"), col("x"), col("level_cents"), col("trend_cents"),
          coalesce(col("fc_cents"), lit(0L)).as("fc_cents"),
          coalesce(col("x") - col("fc_cents"), lit(0L)).as("err_cents"))
        .orderBy("day")
    },
    Some("""WITH RECURSIVE daily AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
              FROM events GROUP BY 1),
            seq AS (
              SELECT day, x, CAST(row_number() OVER (ORDER BY day) AS BIGINT)
                       AS rn
              FROM daily),
            holt AS (
              SELECT day, x, rn, x AS l, CAST(0 AS BIGINT) AS b
              FROM seq WHERE rn = 1
              UNION ALL
              SELECT s.day, s.x, s.rn,
                     CAST((s.x + 3 * (h.l + h.b)) // 4 AS BIGINT),
                     CAST((((s.x + 3 * (h.l + h.b)) // 4) - h.l + 3 * h.b)
                       // 4 AS BIGINT)
              FROM seq s JOIN holt h ON s.rn = h.rn + 1),
            fc AS (
              SELECT day, x, l AS level_cents, b AS trend_cents,
                     lag(l + b, 1) OVER (ORDER BY day) AS fc0
              FROM holt)
            SELECT day, x, level_cents, trend_cents,
                   CAST(coalesce(fc0, 0) AS BIGINT) AS fc_cents,
                   CAST(coalesce(x - fc0, 0) AS BIGINT) AS err_cents
            FROM fc ORDER BY day"""))

  // --------------------------------------- Neyman optimal allocation --

  /** Neyman (1934) optimal allocation for stratified sampling — the
    * design step the proportional q_sample_stratified skips: a fixed
    * budget n = 2000 is split n_h ∝ N_h·S_h, so high-variance strata get
    * MORE than their population share (minimizing the stratified mean's
    * variance). Strata = quantity buckets (⌊q/10⌋), variable = exact
    * integer unit price (milli-cents, the q_stats_xi column) — its spread
    * falls ~35× from bucket 0 to 5 in this corpus, so Neyman visibly
    * diverges from proportional. S_h enters as a DETERMINISTIC micro-int:
    * variance from exact DECIMAL(38) moments, one mirrored
    * CAST-to-double / sqrt / floor(·10⁶ + 0.5) chain (IEEE sqrt is
    * correctly rounded in both engines, so the int is hash-stable).
    * Integer largest-remainder apportionment hits exactly n: floors of
    * n·w_h div W, then +1 to the (n − Σfloor) largest remainders
    * (remainder desc, stratum asc — total order).
    *
    * Scale: one map-combinable moment agg over the corpus; everything
    * after is |strata| rows (bounded grid) — windows over 6 rows.
    */
  private val qSampleNeyman = GQuery(
    (s, d) => {
      val nTarget = 2000L
      val y = expr("CAST(round(l_extendedprice * 100) * 1000"
        + " AS BIGINT) div CAST(floor(l_quantity) AS BIGINT)")
      val strata = t(s, d, "lineitem")
        .select(expr("CAST(floor(l_quantity) AS BIGINT) div 10").as("stratum"),
          y.as("y"))
        .groupBy("stratum").agg(
          count(lit(1L)).as("nh"),
          sum(col("y").cast("decimal(38,0)")).as("s1"),
          sum(col("y").cast("decimal(38,0)").*(col("y"))).as("s2"))
        .withColumn("vnum",
          col("nh") * col("s2") - col("s1") * col("s1"))
        .withColumn("s_micro", expr(
          """CAST(floor(sqrt(CAST(vnum AS DOUBLE) / CAST(nh AS DOUBLE)
               / CAST(nh AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"""))
        .withColumn("w", col("nh").cast("decimal(38,0)") * col("s_micro"))
      val tot = strata.agg(sum("w").as("bigW"),
        sum("nh").as("bigN")).withColumn("j", lit(1))
      val alloc = strata.withColumn("j", lit(1))
        .join(broadcast(tot), "j").drop("j")
        .withColumn("num", lit(nTarget) * col("w"))
        // bigW = 0 ⟺ zero variance everywhere — Neyman degenerates to
        // proportional (guard the ANSI divide; mirrored in the oracle)
        .withColumn("n_prop", expr(s"($nTarget * nh) div bigN"))
        .withColumn("fl", when(col("bigW") > 0, expr("num div bigW"))
          .otherwise(col("n_prop")))
        .withColumn("rem",
          when(col("bigW") > 0, col("num") - col("fl") * col("bigW"))
            .otherwise(lit(0L).cast("decimal(38,0)")))
      val deficit = alloc.agg((lit(nTarget) - sum("fl")).as("def0"))
        .withColumn("j", lit(1))
      val wR = Window.orderBy(col("rem").desc, col("stratum").asc)
      alloc.withColumn("j", lit(1)).join(broadcast(deficit), "j")
        .withColumn("rk", row_number().over(wR))
        .select(col("stratum"), col("nh"), col("s_micro"), col("n_prop"),
          (col("fl") + when(col("rk") <= col("def0"), 1L).otherwise(0L))
            .cast("long").as("n_neyman"))
        .orderBy("stratum")
    },
    Some("""WITH li AS (
              SELECT CAST(floor(l_quantity) AS BIGINT) // 10 AS stratum,
                     CAST(round(l_extendedprice * 100) * 1000 AS BIGINT) // CAST(floor(l_quantity) AS BIGINT) AS y
              FROM lineitem),
            strata AS (
              SELECT stratum, CAST(count(*) AS BIGINT) AS nh,
                     sum(CAST(y AS HUGEINT)) AS s1,
                     sum(CAST(y AS HUGEINT) * y) AS s2
              FROM li GROUP BY 1),
            sm AS (
              SELECT stratum, nh,
                     CAST(floor(sqrt(CAST(nh * s2 - s1 * s1 AS DOUBLE)
                       / CAST(nh AS DOUBLE) / CAST(nh AS DOUBLE))
                       * 1000000.0 + 0.5) AS BIGINT) AS s_micro
              FROM strata),
            w AS (
              SELECT stratum, nh, s_micro,
                     CAST(nh AS HUGEINT) * s_micro AS w
              FROM sm),
            tot AS (SELECT sum(w) AS bigW, sum(nh) AS bigN FROM w),
            alloc AS (
              SELECT stratum, nh, s_micro,
                     CASE WHEN bigW > 0 THEN (2000 * w) // bigW
                       ELSE (2000 * CAST(nh AS HUGEINT)) // bigN END AS fl,
                     CASE WHEN bigW > 0
                       THEN (2000 * w) - ((2000 * w) // bigW) * bigW
                       ELSE CAST(0 AS HUGEINT) END AS rem,
                     (2000 * CAST(nh AS HUGEINT)) // bigN AS n_prop
              FROM w, tot),
            def AS (SELECT 2000 - sum(fl) AS def0 FROM alloc)
            SELECT stratum, nh, s_micro, CAST(n_prop AS BIGINT) AS n_prop,
                   CAST(fl + CASE WHEN row_number() OVER
                       (ORDER BY rem DESC, stratum ASC) <= def.def0
                     THEN 1 ELSE 0 END AS BIGINT) AS n_neyman
            FROM alloc, def
            ORDER BY stratum"""))

  // ------------------------------------------------- periodogram --

  /** Schuster periodogram at candidate periods {3, 5, 7, 10, 15} days —
    * the frequency-domain seasonality detector next to q_ts_autocorr
    * (time-domain) and q_ts_stl (decomposition): per period p, the DFT
    * power (Σ xₜcos(2πt/p))² + (Σ xₜsin(2πt/p))² over the centered
    * daily series. Each cos/sin term is quantized to integer CENTS
    * before summing (a 1-ulp libm difference scales to ~10⁻¹⁰ cents —
    * far below the rounding step), so the sums are order-free integers
    * and the power is exact BIGINT arithmetic. Emits
    * (period, sc, ss, power_c2) — on this corpus the short p = 3 cycle
    * dominates (the spectrum reads the data, not the prior; q_ts_stl's
    * additive dow component is a different, smaller effect).
    *
    * Scale: one day partial agg + a |periods|×|days| grid of integer
    * terms (map-combinable) — the classic O(n·k) periodogram, never an
    * FFT dependency.
    */
  private val qTsPeriodogram = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val daily = t(s, d, "events")
        .select(to_date(col("ts")).as("day"), cents.as("v"))
        .groupBy("day").agg(sum("v").as("x"))
      val withT = daily
        .withColumn("t", row_number()
          .over(Window.orderBy("day")).cast("long"))
      val mean = withT.agg(expr("sum(x) div count(1)").as("mu"))
        .withColumn("j", lit(1))
      val terms = withT.withColumn("j", lit(1)).join(broadcast(mean), "j")
        .select(col("t"), (col("x") - col("mu")).as("xc"),
          explode(expr("array(3L, 5L, 7L, 10L, 15L)")).as("p"))
        .select(col("p"),
          expr("""CAST(round(CAST(xc AS DOUBLE)
               * cos(2.0 * pi() * CAST(t AS DOUBLE) / CAST(p AS DOUBLE)))
               AS BIGINT)""").as("tc"),
          expr("""CAST(round(CAST(xc AS DOUBLE)
               * sin(2.0 * pi() * CAST(t AS DOUBLE) / CAST(p AS DOUBLE)))
               AS BIGINT)""").as("ts"))
      terms.groupBy("p")
        .agg(sum("tc").as("sc"), sum("ts").as("ss"))
        .select(col("p").as("period"), col("sc"), col("ss"),
          (col("sc") * col("sc") + col("ss") * col("ss")).as("power_c2"))
        .orderBy("period")
    },
    Some("""WITH daily AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
              FROM events GROUP BY 1),
            wt AS (
              SELECT day, x,
                     CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
              FROM daily),
            mu AS (SELECT sum(x) // count(*) AS mu FROM wt),
            terms AS (
              SELECT pp.p,
                     CAST(round(CAST(w.x - m.mu AS DOUBLE)
                       * cos(2.0 * pi() * CAST(w.t AS DOUBLE)
                             / CAST(pp.p AS DOUBLE))) AS BIGINT) AS tc,
                     CAST(round(CAST(w.x - m.mu AS DOUBLE)
                       * sin(2.0 * pi() * CAST(w.t AS DOUBLE)
                             / CAST(pp.p AS DOUBLE))) AS BIGINT) AS ts
              FROM wt w, mu m,
                   (SELECT unnest([3, 5, 7, 10, 15]) AS p) pp)
            SELECT CAST(p AS BIGINT) AS period,
                   CAST(sum(tc) AS BIGINT) AS sc,
                   CAST(sum(ts) AS BIGINT) AS ss,
                   CAST(sum(tc) * sum(tc) + sum(ts) * sum(ts) AS BIGINT)
                     AS power_c2
            FROM terms GROUP BY 1 ORDER BY period"""))

  // ------------------------------------------- forecast backtesting --

  /** Rolling-origin one-step backtest — the model-selection readout the
    * individual smoothers (q_ts_snaive / q_ts_ewma / q_ts_holt) each emit
    * residuals for but never COMPARE: all three forecast the same daily
    * revenue series in one pass (seasonal-naive x_{t−7}; EWMA level;
    * Holt level+trend — the exact integer `div` recurrences of their
    * standalone twins), scored on the common evaluable window (t ≥ 8)
    * with MAE in exact cents and a per-day-integer sMAPE
    * (Σ |e|·2000 div (x+fc), then div n — every term exact, so the
    * whole scoreboard hashes). One winner row is derivable by the reader;
    * the table IS the backtest artifact a forecasting pipeline persists.
    *
    * Scale: ewma/holt economics — one day partial agg, calendar-bounded
    * folds, |models|·|days| rows max; the lag windows run over the
    * bounded day grid (the q_ts_holt wLag precedent).
    */
  private val qTsBacktest = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val daily = t(s, d, "events")
        .select(to_date(col("ts")).as("day"), cents.as("v"))
        .groupBy("day").agg(sum("v").as("x"))
      val series = daily
        .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("s"))
        .select(transform(col("s"), r => r.getField("day")).as("days"),
          transform(col("s"), r => r.getField("x")).as("xs"))
      val folded = series
        .withColumn("ew", expr(
          """aggregate(xs, CAST(array() AS ARRAY<BIGINT>),
               (acc, x) -> CASE WHEN size(acc) = 0 THEN array(x)
                 ELSE concat(acc, array((x + 3 * element_at(acc, -1)) div 4))
               END)"""))
        .withColumn("ho", expr(
          """aggregate(xs,
               CAST(array() AS ARRAY<STRUCT<l: BIGINT, b: BIGINT>>),
               (acc, x) -> CASE WHEN size(acc) = 0
                 THEN array(named_struct('l', x, 'b', CAST(0 AS BIGINT)))
                 ELSE concat(acc, array(named_struct(
                   'l', (x + 3 * (element_at(acc, -1).l
                          + element_at(acc, -1).b)) div 4,
                   'b', (((x + 3 * (element_at(acc, -1).l
                            + element_at(acc, -1).b)) div 4)
                         - element_at(acc, -1).l + 3 * element_at(acc, -1).b)
                          div 4)))
               END)"""))
      val wLag = Window.orderBy("day")
      val perDay = folded
        .select(posexplode(arrays_zip(col("days"), col("xs"),
          col("ew"), col("ho"))))
        .select((col("pos") + 1).as("rn"), col("col.days").as("day"),
          col("col.xs").as("x"), col("col.ew").as("le"),
          (col("col.ho.l") + col("col.ho.b")).as("lhb"))
        .withColumn("fc_snaive", lag("x", 7).over(wLag))
        .withColumn("fc_ewma", lag("le", 1).over(wLag))
        .withColumn("fc_holt", lag("lhb", 1).over(wLag))
        .filter(col("rn") >= 8)
      val long = perDay.selectExpr("x", """stack(3,
          'ewma',   fc_ewma,
          'holt',   fc_holt,
          'snaive', fc_snaive) AS (model, fc)""")
      long.groupBy("model")
        .agg(count(lit(1L)).as("n_days"),
          expr("sum(abs(x - fc)) div count(1)").as("mae_cents"),
          expr("sum(abs(x - fc) * 2000 div (x + fc)) div count(1)")
            .as("smape_milli"))
        .orderBy("model")
    },
    Some("""WITH RECURSIVE daily AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
              FROM events GROUP BY 1),
            seq AS (
              SELECT day, x, CAST(row_number() OVER (ORDER BY day) AS BIGINT)
                       AS rn
              FROM daily),
            ew AS (
              SELECT day, x, rn, x AS l FROM seq WHERE rn = 1
              UNION ALL
              SELECT s.day, s.x, s.rn,
                     CAST((s.x + 3 * e.l) // 4 AS BIGINT)
              FROM seq s JOIN ew e ON s.rn = e.rn + 1),
            ho AS (
              SELECT day, x, rn, x AS l, CAST(0 AS BIGINT) AS b
              FROM seq WHERE rn = 1
              UNION ALL
              SELECT s.day, s.x, s.rn,
                     CAST((s.x + 3 * (h.l + h.b)) // 4 AS BIGINT),
                     CAST((((s.x + 3 * (h.l + h.b)) // 4) - h.l + 3 * h.b)
                       // 4 AS BIGINT)
              FROM seq s JOIN ho h ON s.rn = h.rn + 1),
            perday AS (
              SELECT s.rn, s.day, s.x,
                     lag(s.x, 7) OVER (ORDER BY s.day) AS fc_snaive,
                     lag(e.l, 1) OVER (ORDER BY s.day) AS fc_ewma,
                     lag(h.l + h.b, 1) OVER (ORDER BY s.day) AS fc_holt
              FROM seq s JOIN ew e ON e.rn = s.rn JOIN ho h ON h.rn = s.rn),
            ev AS (SELECT * FROM perday WHERE rn >= 8),
            lng AS (
              SELECT x, 'ewma' AS model, fc_ewma AS fc FROM ev
              UNION ALL SELECT x, 'holt', fc_holt FROM ev
              UNION ALL SELECT x, 'snaive', fc_snaive FROM ev)
            SELECT model, CAST(count(*) AS BIGINT) AS n_days,
                   CAST(sum(abs(x - fc)) // count(*) AS BIGINT) AS mae_cents,
                   CAST(sum(abs(x - fc) * 2000 // (x + fc)) // count(*)
                     AS BIGINT) AS smape_milli
            FROM lng GROUP BY 1 ORDER BY model"""))

  // ----------------------------------------------- CUSUM drift pages --

  /** Two-sided CUSUM control chart (Page 1954) on the daily revenue
    * series — the ONLINE drift detector next to q_ts_changepoint's
    * retrospective split: S⁺ₜ = max(0, S⁺ₜ₋₁ + (xₜ − μ₀ − k)),
    * S⁻ₜ = max(0, S⁻ₜ₋₁ + (μ₀ − k − xₜ)), alarm when either exceeds h —
    * CUSUM accumulates SMALL persistent shifts that per-day threshold
    * rules (q_events_outliers) never see. Calibration is data-derived
    * and exact: μ₀ = first-week mean (integer div), slack k = μ₀ div 20
    * (2·k ≈ the smallest shift worth detecting), h = μ₀ div 2 — all
    * BIGINT, so the whole chart is hash-exact. Emits per day the
    * statistic pair, the alarm flags, and the reset-aware recurrence
    * replayed by the oracle's recursive CTE.
    *
    * Scale: ewma/holt economics — one day partial agg, calendar-bounded
    * fold; per-key CUSUM runs the same fold per group.
    */
  private val qTsCusum = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val daily = t(s, d, "events")
        .select(to_date(col("ts")).as("day"), cents.as("v"))
        .groupBy("day").agg(sum("v").as("x"))
      val series = daily
        .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("s"))
        .select(transform(col("s"), r => r.getField("day")).as("days"),
          transform(col("s"), r => r.getField("x")).as("xs"))
        .withColumn("mu0", expr(
          """aggregate(slice(xs, 1, 7), 0L, (a, x) -> a + x)
             div least(size(xs), 7)"""))
        .withColumn("k", expr("mu0 div 20"))
        .withColumn("h", expr("mu0 div 2"))
      val folded = series.withColumn("st", expr(
        """slice(aggregate(xs,
             array(named_struct('sh', CAST(0 AS BIGINT),
                                'sl', CAST(0 AS BIGINT))),
             (acc, x) -> concat(acc, array(named_struct(
               'sh', greatest(CAST(0 AS BIGINT),
                 element_at(acc, -1).sh + (x - mu0 - k)),
               'sl', greatest(CAST(0 AS BIGINT),
                 element_at(acc, -1).sl + (mu0 - k - x)))))),
           2, size(xs))"""))
      folded
        .select(col("h"),
          posexplode(arrays_zip(col("days"), col("xs"), col("st"))))
        .select(col("col.days").as("day"), col("col.xs").as("x_cents"),
          col("col.st.sh").as("s_hi"), col("col.st.sl").as("s_lo"),
          (col("col.st.sh") > col("h")).as("alarm_hi"),
          (col("col.st.sl") > col("h")).as("alarm_lo"))
        .orderBy("day")
    },
    Some("""WITH RECURSIVE daily AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
              FROM events GROUP BY 1),
            seq AS (
              SELECT day, x,
                     CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
              FROM daily),
            cal AS (
              SELECT CAST(sum(x) FILTER (rn <= 7)
                       // least((SELECT count(*) FROM seq), 7) AS BIGINT)
                       AS mu0
              FROM seq),
            prm AS (SELECT mu0, mu0 // 20 AS k, mu0 // 2 AS h FROM cal),
            cus AS (
              SELECT s.day, s.x, s.rn,
                     greatest(CAST(0 AS BIGINT), s.x - p.mu0 - p.k) AS sh,
                     greatest(CAST(0 AS BIGINT), p.mu0 - p.k - s.x) AS sl
              FROM seq s, prm p WHERE s.rn = 1
              UNION ALL
              SELECT s.day, s.x, s.rn,
                     greatest(CAST(0 AS BIGINT),
                       c.sh + (s.x - p.mu0 - p.k)),
                     greatest(CAST(0 AS BIGINT),
                       c.sl + (p.mu0 - p.k - s.x))
              FROM seq s JOIN cus c ON s.rn = c.rn + 1, prm p)
            SELECT c.day, c.x AS x_cents, c.sh AS s_hi, c.sl AS s_lo,
                   c.sh > p.h AS alarm_hi, c.sl > p.h AS alarm_lo
            FROM cus c, prm p ORDER BY day"""))

  // ------------------------------------- Croston intermittent demand --

  /** Croston's method (1972) per event type — the intermittent-demand
    * member of the smoothing ladder (ewma/holt/holtwinters assume a dense
    * series and collapse toward zero between sparse spikes; Croston
    * smooths demand SIZE z and inter-demand INTERVAL p separately and
    * forecasts z/p per period). Demand = daily cents of value ≥ 250
    * events (the tail threshold that leaves most days empty at sf0.01 —
    * intermittency is the point; on denser slices the intervals converge
    * to 1 and Croston degrades gracefully to the ewma). α = 1/4, EXACT
    * integers: at the first demand z = x, p = 1000·(interval from series
    * start); at later demands z = (x + 3z) div 4,
    * p = (1000·gap + 3p) div 4 (p in milli-days); zero days carry state.
    * Per-day forecast fc = z·10⁶ div p — milli-cents/day; state columns
    * are null before the first demand. All operands non-negative, so div
    * truncation ≡ DuckDB `//` (the holt rule); z·10⁶ holds to ~10¹¹
    * daily cents (≈ sf10⁴).
    *
    * Scale: ewma/holt economics — one (type, day) partial agg, a
    * |types|×|days| grid, and a calendar-bounded per-type array fold.
    */
  private val qTsCroston = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val ev = t(s, d, "events")
      val daily = ev.filter(col("value") >= 250)
        .select(col("event_type"), to_date(col("ts")).as("day"), cents.as("v"))
        .groupBy("event_type", "day").agg(sum("v").as("x"))
      val span = ev.agg(min(to_date(col("ts"))).as("d0"),
        max(to_date(col("ts"))).as("d1"))
      val grid = ev.select(col("event_type")).distinct()
        .crossJoin(broadcast(span))
        .select(col("event_type"),
          explode(sequence(col("d0"), col("d1"))).as("day"))
      val series = grid.join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("x"), lit(0L)).as("x"))
        .groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("s"))
        .select(col("event_type"),
          transform(col("s"), r => r.getField("day")).as("days"),
          transform(col("s"), r => r.getField("x")).as("xs"))
      val folded = series.withColumn("st", expr(
        """slice(aggregate(xs,
             array(named_struct('z', CAST(0 AS BIGINT),
               'p', CAST(0 AS BIGINT), 'q', CAST(0 AS BIGINT), 'has', false)),
             (acc, x) -> concat(acc, array(CASE
               WHEN x = 0 THEN named_struct(
                 'z', element_at(acc, -1).z, 'p', element_at(acc, -1).p,
                 'q', element_at(acc, -1).q + 1, 'has', element_at(acc, -1).has)
               WHEN NOT element_at(acc, -1).has THEN named_struct(
                 'z', x, 'p', (element_at(acc, -1).q + 1) * 1000,
                 'q', CAST(0 AS BIGINT), 'has', true)
               ELSE named_struct(
                 'z', (x + 3 * element_at(acc, -1).z) div 4,
                 'p', ((element_at(acc, -1).q + 1) * 1000
                       + 3 * element_at(acc, -1).p) div 4,
                 'q', CAST(0 AS BIGINT), 'has', true) END))),
           2, size(xs))"""))
      folded
        .select(col("event_type"),
          posexplode(arrays_zip(col("days"), col("xs"), col("st"))))
        .select(col("event_type"), col("col.days").as("day"),
          col("col.xs").as("x_cents"),
          when(col("col.st.has"), col("col.st.z")).as("z_cents"),
          when(col("col.st.has"), col("col.st.p")).as("p_milli"),
          when(col("col.st.has"),
            expr("col.st.z * 1000000 div col.st.p")).as("fc_milli"))
        .orderBy("event_type", "day")
    },
    Some("""WITH RECURSIVE ev AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                     value
              FROM events),
            daily AS (
              SELECT event_type, day,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
              FROM ev WHERE value >= 250 GROUP BY 1, 2),
            span AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
            grid AS (
              SELECT t.event_type, CAST(gs.g AS DATE) AS day
              FROM (SELECT DISTINCT event_type FROM ev) t, span,
                   LATERAL (SELECT unnest(generate_series(span.d0, span.d1,
                     INTERVAL 1 DAY)) AS g) gs),
            seq AS (
              SELECT g.event_type, g.day, coalesce(d.x, 0) AS x,
                     CAST(row_number() OVER (PARTITION BY g.event_type
                       ORDER BY g.day) AS BIGINT) AS rn
              FROM grid g LEFT JOIN daily d
                ON d.event_type = g.event_type AND d.day = g.day),
            cro AS (
              SELECT event_type, day, x, rn,
                     CASE WHEN x > 0 THEN x ELSE CAST(0 AS BIGINT) END AS z,
                     CASE WHEN x > 0 THEN CAST(1000 AS BIGINT)
                       ELSE CAST(0 AS BIGINT) END AS p,
                     CASE WHEN x > 0 THEN CAST(0 AS BIGINT)
                       ELSE CAST(1 AS BIGINT) END AS q,
                     x > 0 AS has
              FROM seq WHERE rn = 1
              UNION ALL
              SELECT s.event_type, s.day, s.x, s.rn,
                     CASE WHEN s.x = 0 THEN c.z
                          WHEN NOT c.has THEN s.x
                          ELSE CAST((s.x + 3 * c.z) // 4 AS BIGINT) END,
                     CASE WHEN s.x = 0 THEN c.p
                          WHEN NOT c.has THEN (c.q + 1) * 1000
                          ELSE CAST(((c.q + 1) * 1000 + 3 * c.p) // 4
                            AS BIGINT) END,
                     CASE WHEN s.x = 0 THEN c.q + 1
                       ELSE CAST(0 AS BIGINT) END,
                     c.has OR s.x > 0
              FROM seq s JOIN cro c
                ON s.event_type = c.event_type AND s.rn = c.rn + 1)
            SELECT event_type, day, x AS x_cents,
                   CASE WHEN has THEN z END AS z_cents,
                   CASE WHEN has THEN p END AS p_milli,
                   CASE WHEN has THEN z * 1000000 // p END AS fc_milli
            FROM cro ORDER BY event_type, day"""))

  // ------------------------------- additive Holt–Winters (triple smoothing) --

  /** Additive Holt–Winters (level + trend + weekly seasonal, α=β=γ=1/4) of
    * the daily revenue series — the seasonal completion of the smoothing
    * ladder (ewma: level; holt: +trend; here: +the dow cycle q_ts_stl
    * showed is real, so holt's forecasts stop lagging the weekend dip).
    * Init (t ≤ 7): l = m₇ (mean of the first week, integer div), b = 0,
    * sₜ = xₜ − m₇. Smoothing (t ≥ 8):
    * lₜ = (xₜ − sₜ₋₇ + 3(lₜ₋₁+bₜ₋₁)) div 4,
    * bₜ = ((lₜ − lₜ₋₁) + 3bₜ₋₁) div 4,
    * sₜ = ((xₜ − lₜ) + 3sₜ₋₇) div 4,
    * fcₜ = lₜ₋₁ + bₜ₋₁ + sₜ₋₇ — all exact BIGINT `div` recurrences
    * (trend and seasonal go negative, so div ≡ DuckDB `//` truncation, the
    * holt rule). Emits per day the full state, the one-step forecast, and
    * its error.
    *
    * Scale: ewma/holt economics — one day partial agg, then a
    * calendar-bounded array fold whose state is (l, b, last-7 seasonal);
    * per-key Holt–Winters folds each key's bounded series inside
    * groupBy(key).
    */
  private val qTsHoltwinters = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val daily = t(s, d, "events")
        .select(to_date(col("ts")).as("day"), cents.as("v"))
        .groupBy("day").agg(sum("v").as("x"))
      val series = daily
        .agg(sort_array(collect_list(struct(col("day"), col("x")))).as("s"))
        .select(transform(col("s"), r => r.getField("day")).as("days"),
          transform(col("s"), r => r.getField("x")).as("xs"))
        // m7 materializes BEFORE the fold references it (HOF-capture rule)
        .withColumn("m7", expr(
          """aggregate(slice(xs, 1, least(7, size(xs))), 0L, (a, x) -> a + x)
             div least(7, size(xs))"""))
      def prev(f: String) = s"element_at(acc, -1).$f"
      val sprev = "element_at(acc, size(acc) - 6).s"
      val lNew = s"(x - $sprev + 3 * (${prev("l")} + ${prev("b")})) div 4"
      val folded = series.withColumn("st", expr(
        s"""aggregate(xs,
             CAST(array() AS ARRAY<STRUCT<l: BIGINT, b: BIGINT, s: BIGINT,
                                          fc: BIGINT>>),
             (acc, x) -> CASE WHEN size(acc) < 7
               THEN concat(acc, array(named_struct(
                 'l', m7, 'b', CAST(0 AS BIGINT), 's', x - m7,
                 'fc', CAST(NULL AS BIGINT))))
               ELSE concat(acc, array(named_struct(
                 'l', $lNew,
                 'b', (($lNew) - ${prev("l")} + 3 * ${prev("b")}) div 4,
                 's', ((x - ($lNew)) + 3 * $sprev) div 4,
                 'fc', ${prev("l")} + ${prev("b")} + $sprev)))
             END)"""))
      val wLag = Window.orderBy("day")
      folded
        .select(posexplode(arrays_zip(col("days"), col("xs"), col("st"))))
        .select(col("col.days").as("day"), col("col.xs").as("x"),
          col("col.st.l").as("level_cents"), col("col.st.b").as("trend_cents"),
          col("col.st.s").as("seas_cents"), col("col.st.fc").as("fc0"))
        .select(col("day"), col("x"), col("level_cents"), col("trend_cents"),
          col("seas_cents"), coalesce(col("fc0"), lit(0L)).as("fc_cents"),
          coalesce(col("x") - col("fc0"), lit(0L)).as("err_cents"))
        .orderBy("day")
    },
    Some("""WITH RECURSIVE daily AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
              FROM events GROUP BY 1),
            seq AS (
              SELECT day, x, CAST(row_number() OVER (ORDER BY day) AS BIGINT)
                       AS rn
              FROM daily),
            m AS (
              SELECT CAST(sum(x) // count(*) AS BIGINT) AS m7
              FROM seq WHERE rn <= 7),
            hw AS (
              SELECT day, x, rn, m7 AS l, CAST(0 AS BIGINT) AS b,
                     CAST(x - m7 AS BIGINT) AS s, CAST(NULL AS BIGINT) AS fc,
                     [CAST(x - m7 AS BIGINT)] AS ss
              FROM seq, m WHERE rn = 1
              UNION ALL
              SELECT q.day, q.x, q.rn,
                     CASE WHEN q.rn <= 7 THEN m.m7
                       ELSE CAST((q.x - h.ss[q.rn - 7]
                         + 3 * (h.l + h.b)) // 4 AS BIGINT) END,
                     CASE WHEN q.rn <= 7 THEN CAST(0 AS BIGINT)
                       ELSE CAST((((q.x - h.ss[q.rn - 7] + 3 * (h.l + h.b))
                         // 4) - h.l + 3 * h.b) // 4 AS BIGINT) END,
                     CASE WHEN q.rn <= 7 THEN CAST(q.x - m.m7 AS BIGINT)
                       ELSE CAST(((q.x - ((q.x - h.ss[q.rn - 7]
                         + 3 * (h.l + h.b)) // 4)) + 3 * h.ss[q.rn - 7])
                         // 4 AS BIGINT) END,
                     CASE WHEN q.rn <= 7 THEN CAST(NULL AS BIGINT)
                       ELSE CAST(h.l + h.b + h.ss[q.rn - 7] AS BIGINT) END,
                     list_append(h.ss,
                       CASE WHEN q.rn <= 7 THEN CAST(q.x - m.m7 AS BIGINT)
                         ELSE CAST(((q.x - ((q.x - h.ss[q.rn - 7]
                           + 3 * (h.l + h.b)) // 4)) + 3 * h.ss[q.rn - 7])
                           // 4 AS BIGINT) END)
              FROM seq q JOIN hw h ON q.rn = h.rn + 1, m)
            SELECT day, x, l AS level_cents, b AS trend_cents,
                   s AS seas_cents,
                   CAST(coalesce(fc, 0) AS BIGINT) AS fc_cents,
                   CAST(coalesce(x - fc, 0) AS BIGINT) AS err_cents
            FROM hw ORDER BY day"""))

  // ------------------------------------------ Kaplan-Meier survival curve --

  /** Kaplan–Meier survival estimate of user purchase lifetime (days between
    * first event and last purchase): a user whose last purchase precedes the
    * stream end by more than 3 days churned (event observed — recency-based
    * churn, the standard proxy); later users are right-CENSORED —
    * the distinction naive retention curves ignore and the KM product-limit
    * estimator exists to handle. Per distinct lifetime d: risk set
    * n(d) = users surviving ≥ d (a suffix-sum window over the ≤ #days
    * lifetime grid — no per-user scan), events e(d), and the survival
    * product S(d) = Π_{d'≤d} (n−e)·/n folded in exact ppm integers
    * (S·(n−e) div n per step — the EWMA/Holt recursion discipline, DuckDB
    * recursive-CTE oracle), so the curve is hash-exact cross-engine.
    *
    * Scale: the corpus collapses to one row per user (map-side-combinable
    * min/max agg), then to the ≤ #days lifetime grid before any window or
    * fold; the sequential product is calendar-bounded. Cohort-split curves
    * run the same fold per cohort key.
    */
  private val qSurvivalKm = GQuery(
    (s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
      val users = ev.groupBy("user_id")
        .agg(min("day").as("fd"), max("day").as("ld"),
          max(when(col("event_type") === "purchase", col("day"))).as("lp"))
        // user rollup also carries ld so the stream end derives from it —
        // one events scan total; materialized once for gmax + lam
        .localCheckpoint(true)
      val gmax = users.agg(max("ld").as("gd"))
      val usersP = users.filter(col("lp").isNotNull)
      val lam = usersP.crossJoin(broadcast(gmax))
        .select(datediff(col("lp"), col("fd")).cast("long").as("dur"),
          (col("lp") < date_sub(col("gd"), 3)).cast("long").as("evt"))
      val km = lam.groupBy("dur")
        .agg(count(lit(1L)).as("n_at"), sum("evt").as("n_event"))
      val wRisk = Window.orderBy("dur")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val risky = km
        .withColumn("n_risk", sum("n_at").over(wRisk))
        .select(col("dur"), col("n_risk"), col("n_event"),
          (col("n_at") - col("n_event")).as("n_cens"))
      val series = risky
        .agg(sort_array(collect_list(struct(col("dur"), col("n_risk"),
          col("n_event"), col("n_cens")))).as("s"))
      val folded = series.withColumn("sp", expr(
        """aggregate(s, CAST(array() AS ARRAY<BIGINT>),
             (acc, r) -> concat(acc, array(
               (IF(size(acc) = 0, CAST(1000000 AS BIGINT),
                   element_at(acc, -1))
                 * (r.n_risk - r.n_event)) div r.n_risk)))"""))
      folded
        .select(posexplode(arrays_zip(col("s"), col("sp"))))
        .select(col("col.s.dur").as("dur_days"),
          col("col.s.n_risk").as("n_risk"),
          col("col.s.n_event").as("n_events"),
          col("col.s.n_cens").as("n_censored"),
          col("col.sp").as("surv_ppm"))
        .orderBy("dur_days")
    },
    Some("""WITH RECURSIVE ev AS (
              SELECT user_id, event_type,
                     CAST(date_trunc('day', ts) AS DATE) AS day
              FROM events),
            users AS (
              SELECT user_id, min(day) AS fd,
                     max(CASE WHEN event_type = 'purchase' THEN day END) AS lp
              FROM ev GROUP BY 1
              HAVING max(CASE WHEN event_type = 'purchase' THEN day END)
                IS NOT NULL),
            g AS (SELECT max(day) AS gd FROM ev),
            lam AS (
              SELECT CAST(date_diff('day', fd, lp) AS BIGINT) AS dur,
                     CASE WHEN lp < gd - 3 THEN 1 ELSE 0 END AS evt
              FROM users, g),
            km AS (
              SELECT dur, CAST(count(*) AS BIGINT) AS n_at,
                     CAST(sum(evt) AS BIGINT) AS n_event
              FROM lam GROUP BY 1),
            risky AS (
              SELECT dur, n_event, n_at - n_event AS n_cens,
                     CAST(sum(n_at) OVER (ORDER BY dur
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                       AS BIGINT) AS n_risk,
                     CAST(row_number() OVER (ORDER BY dur) AS BIGINT) AS rn
              FROM km),
            rec AS (
              SELECT dur, n_risk, n_event, n_cens, rn,
                     CAST((1000000 * (n_risk - n_event)) // n_risk AS BIGINT)
                       AS sp
              FROM risky WHERE rn = 1
              UNION ALL
              SELECT r.dur, r.n_risk, r.n_event, r.n_cens, r.rn,
                     CAST((rec.sp * (r.n_risk - r.n_event)) // r.n_risk
                       AS BIGINT)
              FROM risky r JOIN rec ON r.rn = rec.rn + 1)
            SELECT dur AS dur_days, n_risk, n_event AS n_events,
                   n_cens AS n_censored, sp AS surv_ppm
            FROM rec ORDER BY dur_days"""))

  // ---------------------------------------------------- log-rank test --

  /** Two-group log-rank test (Mantel 1966) over the q_survival_km
    * lifetimes — the DECISION statistic the KM curve only suggests: does
    * the pmod-2 user cohort split (the A/B arm convention of
    * q_stats_cuped) have different churn hazards? At each distinct event
    * time the observed group-0 events e₀ are compared with their
    * hypergeometric expectation e·n₀/n and variance
    * e·n₀·n₁·(n−e)/(n²(n−1)) given the risk sets; χ² = (ΣO−ΣE)²/ΣV.
    * Exactness discipline: expectations and variances in micro-ints via
    * integral `div` (variance numerator widened DECIMAL(38)/HUGEINT —
    * n₀·n₁ alone is ~10⁹ at scale), the χ² square in DECIMAL(38), and a
    * guard on the n=1 tail time (variance contribution 0, mirrored).
    * Emits one row per group carrying its own O/E_micro and the shared
    * ΣV_micro and χ²_milli readout (≈ 0.07 here — the arms are exchangeable
    * by construction, so the test correctly finds nothing).
    *
    * Scale: the corpus collapses to one row per user, then to the ≤ #days
    * lifetime grid before the suffix-sum windows (bounded rows); the
    * grid-sized contribution agg is map-combinable. Same shape at any
    * user count — the KM economics with one extra 5-scalar broadcast.
    */
  private val qSurvivalLogrank = GQuery(
    (s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
      val users = ev.groupBy("user_id")
        .agg(min("day").as("fd"), max("day").as("ld"),
          max(when(col("event_type") === "purchase", col("day"))).as("lp"))
        .localCheckpoint(true)
      val gmax = users.agg(max("ld").as("gd"))
      val lam = users.filter(col("lp").isNotNull).crossJoin(broadcast(gmax))
        .select(expr("user_id % 2").cast("long").as("grp"),
          datediff(col("lp"), col("fd")).cast("long").as("dur"),
          (col("lp") < date_sub(col("gd"), 3)).cast("long").as("evt"))
      val grid = lam.groupBy("dur").agg(
        sum(when(col("grp") === 0, 1L).otherwise(0L)).as("a0"),
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("a1"),
        sum(when(col("grp") === 0, col("evt")).otherwise(0L)).as("e0"),
        sum(when(col("grp") === 1, col("evt")).otherwise(0L)).as("e1"))
      val wRisk = Window.orderBy("dur")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val contrib = grid
        .withColumn("n0", sum("a0").over(wRisk))
        .withColumn("n1", sum("a1").over(wRisk))
        .filter(col("e0") + col("e1") > 0)
        .withColumn("n", col("n0") + col("n1"))
        .withColumn("e", col("e0") + col("e1"))
        .select(col("e0"), col("e1"),
          expr("(e * n0 * 1000000L) div n").as("x0"),
          expr("(e * n1 * 1000000L) div n").as("x1"),
          when(col("n") > 1, expr(
            """(CAST(e AS DECIMAL(38,0)) * n0 * n1 * (n - e) * 1000000)
               div (CAST(n AS DECIMAL(38,0)) * n * (n - 1))"""))
            .otherwise(lit(0L)).as("v"))
      val tot = contrib.agg(
        sum("e0").as("o0"), sum("e1").as("o1"),
        sum("x0").as("x0"), sum("x1").as("x1"), sum("v").as("vm"))
        .withColumn("j", lit(1))
      lam.groupBy("grp").agg(count(lit(1L)).as("n_users"))
        .withColumn("j", lit(1)).join(broadcast(tot), "j")
        .withColumn("observed",
          when(col("grp") === 0, col("o0")).otherwise(col("o1")))
        .withColumn("expected_micro",
          when(col("grp") === 0, col("x0")).otherwise(col("x1")))
        .withColumn("diff",
          col("observed") * lit(1000000L) - col("expected_micro"))
        .select(col("grp").cast("int").as("grp"), col("n_users"),
          col("observed"), col("expected_micro"),
          col("vm").as("var_micro"),
          when(col("vm") > 0, expr(
            """(CAST(diff AS DECIMAL(38,0)) * diff * 1000)
               div (CAST(vm AS DECIMAL(38,0)) * 1000000)"""))
            .otherwise(lit(0L)).as("chi2_milli"))
        .orderBy("grp")
    },
    Some("""WITH ev AS (
              SELECT user_id, event_type,
                     CAST(date_trunc('day', ts) AS DATE) AS day
              FROM events),
            users AS (
              SELECT user_id, min(day) AS fd,
                     max(CASE WHEN event_type = 'purchase' THEN day END) AS lp
              FROM ev GROUP BY 1
              HAVING max(CASE WHEN event_type = 'purchase' THEN day END)
                IS NOT NULL),
            g AS (SELECT max(day) AS gd FROM ev),
            lam AS (
              SELECT user_id % 2 AS grp,
                     CAST(date_diff('day', fd, lp) AS BIGINT) AS dur,
                     CASE WHEN lp < gd - 3 THEN 1 ELSE 0 END AS evt
              FROM users, g),
            grid AS (
              SELECT dur,
                     CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS a0,
                     CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS a1,
                     CAST(sum(CASE WHEN grp = 0 THEN evt ELSE 0 END)
                       AS BIGINT) AS e0,
                     CAST(sum(CASE WHEN grp = 1 THEN evt ELSE 0 END)
                       AS BIGINT) AS e1
              FROM lam GROUP BY 1),
            risky AS (
              SELECT e0, e1,
                     CAST(sum(a0) OVER (ORDER BY dur ROWS BETWEEN CURRENT
                       ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n0,
                     CAST(sum(a1) OVER (ORDER BY dur ROWS BETWEEN CURRENT
                       ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n1
              FROM grid),
            c2 AS (
              SELECT e0, e1,
                     (e * n0 * 1000000) // n AS x0,
                     (e * n1 * 1000000) // n AS x1,
                     CASE WHEN n > 1 THEN CAST(
                         (CAST(e AS HUGEINT) * n0 * n1 * (n - e) * 1000000)
                         // (CAST(n AS HUGEINT) * n * (n - 1)) AS BIGINT)
                       ELSE 0 END AS v
              FROM (SELECT e0, e1, n0, n1, n0 + n1 AS n, e0 + e1 AS e
                    FROM risky WHERE e0 + e1 > 0)),
            tot AS (
              SELECT CAST(sum(e0) AS BIGINT) AS o0,
                     CAST(sum(e1) AS BIGINT) AS o1,
                     CAST(sum(x0) AS BIGINT) AS x0,
                     CAST(sum(x1) AS BIGINT) AS x1,
                     CAST(sum(v) AS BIGINT) AS vm
              FROM c2),
            base AS (
              SELECT grp, CAST(count(*) AS BIGINT) AS n_users
              FROM lam GROUP BY 1)
            SELECT CAST(b.grp AS INT) AS grp, b.n_users,
                   CASE WHEN b.grp = 0 THEN t.o0 ELSE t.o1 END AS observed,
                   CASE WHEN b.grp = 0 THEN t.x0 ELSE t.x1 END
                     AS expected_micro,
                   t.vm AS var_micro,
                   CASE WHEN t.vm > 0 THEN CAST(
                       (CAST(CASE WHEN b.grp = 0 THEN t.o0 ELSE t.o1 END
                          * 1000000
                          - CASE WHEN b.grp = 0 THEN t.x0 ELSE t.x1 END
                          AS HUGEINT)
                        * (CASE WHEN b.grp = 0 THEN t.o0 ELSE t.o1 END
                          * 1000000
                          - CASE WHEN b.grp = 0 THEN t.x0 ELSE t.x1 END)
                        * 1000)
                       // (CAST(t.vm AS HUGEINT) * 1000000) AS BIGINT)
                     ELSE 0 END AS chi2_milli
            FROM base b, tot t ORDER BY grp"""))

  // --------------------------------------- propensity stratification --

  /** Propensity-score subclassification (Rosenbaum & Rubin 1984) — the
    * OBSERVATIONAL causal estimator next to the randomized-arm family
    * (abtest/cuped) and the quasi-experimental one (did/rdd/iv):
    * treatment here is self-selected (a HEAVY first-half purchaser,
    * ≥ 8 purchases — 54 of 150 users), so the naive second-half revenue
    * gap is confounded by overall activity.
    * Users are stratified into first-half activity buckets (⌊events/5⌋
    * capped at 8 — the coarse-exact stand-in for a fitted propensity
    * model: within a bucket the empirical treatment rate IS the
    * propensity estimate, emitted as e_ppm), the treated-vs-control gap
    * is taken WITHIN buckets in micro-cents (per-side `div` means,
    * guarded to common-support buckets), and ATT = Σ n₁·Δ div Σ n₁ over
    * the support lands in the bucket = −1 summary row beside the
    * confounded naive gap — the adjustment the reader can see (naive
    * overstates the effect when activity drives both).
    *
    * Scale: one user rollup (map-combinable), then a ≤ 9-row bucket
    * grid — every downstream op is grid-sized. CUPED economics without
    * the broadcast-back pass.
    */
  private val qStatsPropensity = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val half = to_date(col("ts")) < lit("2024-01-16").cast("date")
      val users = t(s, d, "events")
        .select(col("user_id"),
          when(half, 1L).otherwise(0L).as("xe"),
          when(half && col("event_type") === "purchase", 1L)
            .otherwise(0L).as("tp"),
          when(!half, cents).otherwise(lit(0L)).as("yc"))
        .groupBy("user_id")
        .agg(sum("xe").as("x"), (sum("tp") >= 8).cast("long").as("t"),
          sum("yc").as("y"))
        .withColumn("b", least(expr("x div 5"), lit(8L)))
      val buckets = users.groupBy("b").agg(
          sum("t").as("n1"),
          sum(lit(1L) - col("t")).as("n0"),
          sum(when(col("t") === 1, col("y")).otherwise(0L)).as("s1"),
          sum(when(col("t") === 0, col("y")).otherwise(0L)).as("s0"))
        .withColumn("e_ppm",
          expr("(n1 * 1000000) div (n1 + n0)"))
        .withColumn("diff_micro", when(col("n1") > 0 && col("n0") > 0,
          expr("(s1 * 1000000) div n1 - (s0 * 1000000) div n0")))
        .localCheckpoint(true) // grid feeds cells + both summary aggs
      val att = buckets.filter(col("diff_micro").isNotNull)
        .agg(sum("n1").as("a1"), sum("n0").as("a0"),
          sum(col("n1") * col("diff_micro")).as("num"))
        .select(lit(-1L).as("b"), col("a1").as("n1"), col("a0").as("n0"),
          expr("(a1 * 1000000) div (a1 + a0)").as("e_ppm"),
          expr("num div a1").as("diff_micro"))
      val naive = buckets.agg(sum("n1").as("a1"), sum("n0").as("a0"),
          sum("s1").as("t1"), sum("s0").as("t0"))
        .select(lit(-2L).as("b"), col("a1").as("n1"), col("a0").as("n0"),
          expr("(a1 * 1000000) div (a1 + a0)").as("e_ppm"),
          expr("(t1 * 1000000) div a1 - (t0 * 1000000) div a0")
            .as("diff_micro"))
      buckets.select("b", "n1", "n0", "e_ppm", "diff_micro")
        .unionByName(att).unionByName(naive)
        .orderBy("b")
    },
    Some("""WITH ev AS (
              SELECT user_id,
                     CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1
                          ELSE 0 END AS h1,
                     CASE WHEN ts < TIMESTAMP '2024-01-16'
                               AND event_type = 'purchase' THEN 1
                          ELSE 0 END AS tp,
                     CASE WHEN ts >= TIMESTAMP '2024-01-16'
                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END AS yc
              FROM events),
            users AS (
              SELECT user_id, CAST(sum(h1) AS BIGINT) AS x,
                     CASE WHEN sum(tp) >= 8 THEN 1 ELSE 0 END AS t,
                     CAST(sum(yc) AS BIGINT) AS y
              FROM ev GROUP BY 1),
            ub AS (SELECT *, least(x // 5, 8) AS b FROM users),
            buckets AS (
              SELECT b, CAST(sum(t) AS BIGINT) AS n1,
                     CAST(sum(1 - t) AS BIGINT) AS n0,
                     CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END)
                       AS BIGINT) AS s1,
                     CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END)
                       AS BIGINT) AS s0
              FROM ub GROUP BY 1),
            cells AS (
              SELECT b, n1, n0,
                     (n1 * 1000000) // (n1 + n0) AS e_ppm,
                     CASE WHEN n1 > 0 AND n0 > 0
                       THEN (s1 * 1000000) // n1 - (s0 * 1000000) // n0
                     END AS diff_micro
              FROM buckets),
            att AS (
              SELECT CAST(-1 AS BIGINT) AS b,
                     CAST(sum(n1) AS BIGINT) AS n1,
                     CAST(sum(n0) AS BIGINT) AS n0,
                     CAST((sum(n1) * 1000000) // (sum(n1) + sum(n0))
                       AS BIGINT) AS e_ppm,
                     CAST(sum(n1 * diff_micro) // sum(n1) AS BIGINT)
                       AS diff_micro
              FROM cells WHERE diff_micro IS NOT NULL),
            naive AS (
              SELECT CAST(-2 AS BIGINT) AS b,
                     CAST(sum(n1) AS BIGINT) AS n1,
                     CAST(sum(n0) AS BIGINT) AS n0,
                     CAST((sum(n1) * 1000000) // (sum(n1) + sum(n0))
                       AS BIGINT) AS e_ppm,
                     CAST((sum(s1) * 1000000) // sum(n1)
                       - (sum(s0) * 1000000) // sum(n0) AS BIGINT)
                       AS diff_micro
              FROM buckets)
            SELECT b, n1, n0, CAST(e_ppm AS BIGINT) AS e_ppm,
                   CAST(diff_micro AS BIGINT) AS diff_micro
            FROM (SELECT * FROM cells UNION ALL
                  SELECT * FROM att UNION ALL
                  SELECT * FROM naive)
            ORDER BY b"""))

  // ------------------------------------------------ CUPED A/B adjustment --

  /** CUPED variance reduction (Deng et al., WSDM'13) for the pmod-2 A/B
    * arms: pre-period covariate X = user's first-half cents, post-period
    * metric Y = second-half cents; θ = cov(X,Y)/var(X) fitted POOLED (the
    * unbiasedness condition), then Y′ = Y − θ(X − X̄) per user and the
    * per-arm variance-reduction ratio — the readout that tells an
    * experimenter how much smaller their confidence intervals just got.
    * Exactness discipline: θ in integer micros with the sign handled OUTSIDE
    * the division (|num|·10⁶ div den, den = n·Σxx − (Σx)² ≥ 0 — negative
    * integer division never happens, so trunc-vs-floor parity is moot);
    * the adjusted metric rides the n-scaled micro grid m′ = y·n·10⁶ −
    * θ_micro·(x·n − Σx) (remainder-free mean centering); variance moments of
    * m′ sum in DECIMAL(38) (they square a ~10¹⁵ value — the corrmatrix
    * widening rule); the final ratio divides non-negative decimals only.
    *
    * Scale: two map-side-combinable aggs (per-user rollup, then pooled +
    * per-arm moments) and a broadcast of 5 scalars back onto the per-user
    * pass — no shuffle beyond the user rollup; the same shape runs at any
    * user count with the DECIMAL(38) widening already in place.
    */
  private val qStatsCuped = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val half = to_date(col("ts")) < lit("2024-01-16").cast("date")
      val users = t(s, d, "events")
        .select(col("user_id"), when(half, cents).otherwise(lit(0L)).as("xc"),
          when(!half, cents).otherwise(lit(0L)).as("yc"))
        .groupBy("user_id")
        .agg(sum("xc").as("ux"), sum("yc").as("uy"))
        // user-cardinality rollup feeding pooled + adj — materialize once
        .localCheckpoint(true)
      val pooled = users.agg(count(lit(1L)).as("n"),
          sum("ux").as("sx"), sum("uy").as("sy"),
          sum((col("ux") * col("ux")).cast("decimal(38,0)")).as("sxx"),
          sum((col("ux") * col("uy")).cast("decimal(38,0)")).as("sxy"))
        .select(col("n"), col("sx"),
          (col("n").cast("decimal(38,0)") * col("sxy") -
            col("sx").cast("decimal(38,0)") * col("sy")).as("num"),
          (col("n").cast("decimal(38,0)") * col("sxx") -
            col("sx").cast("decimal(38,0)") * col("sx")).as("den"))
        .select(col("n"), col("sx"),
          when(col("den") === 0L, lit(0L))
            .when(col("num") < 0L,
              -expr("((-num) * 1000000) div den"))
            .otherwise(expr("(num * 1000000) div den")).as("theta_micro"))
      // adjusted metric on the n-scaled cents grid: m' = y·n − θμ(x·n − Σx)/10⁶
      // (remainder-free centering). The θ product multiplies ~1e6 × ~1e13 at
      // 10⁶ users, so BOTH the product and the n-scaled values compute in
      // DECIMAL(38,0)/HUGEINT from the start — plain BIGINT overflows (ANSI
      // aborts) at roughly 10⁶+ users. `div` accepts decimal operands and
      // truncates toward zero, matching HUGEINT `//`.
      val adj = users.crossJoin(broadcast(pooled))
        .select(pmod(col("user_id"), lit(2)).cast("int").as("arm"),
          col("uy"), col("theta_micro"),
          (col("uy").cast("decimal(38,0)") * col("n") -
            expr("""(cast(theta_micro as decimal(38,0))
                     * (cast(ux as decimal(38,0)) * n - sx)) div 1000000"""))
            .as("madj"),
          (col("uy").cast("decimal(38,0)") * col("n")).as("my"))
      adj.groupBy("arm", "theta_micro")
        .agg(count(lit(1L)).as("n_users"), sum("uy").as("suy"),
          sum(col("my").cast("decimal(38,0)")).as("smy"),
          sum((col("my").cast("decimal(38,0)") * col("my")).cast("decimal(38,0)"))
            .as("smyy"),
          sum(col("madj").cast("decimal(38,0)")).as("sma"),
          sum((col("madj").cast("decimal(38,0)") * col("madj")).cast("decimal(38,0)"))
            .as("smaa"))
        .select(col("arm"), col("n_users"),
          expr("suy div n_users").as("mean_y_cents"), col("theta_micro"),
          expr("""CASE WHEN n_users * smyy - smy * smy > 0
                  THEN 1000000 - CAST((n_users * smaa - sma * sma) * 1000000
                       div (n_users * smyy - smy * smy) AS BIGINT)
                  ELSE 0 END""").as("vr_ppm"))
        .orderBy("arm")
    },
    Some("""WITH users AS (
              SELECT user_id,
                     CAST(sum(CASE WHEN CAST(date_trunc('day', ts) AS DATE)
                         < DATE '2024-01-16'
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS ux,
                     CAST(sum(CASE WHEN CAST(date_trunc('day', ts) AS DATE)
                         >= DATE '2024-01-16'
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS uy
              FROM events GROUP BY 1),
            pooled0 AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(ux) AS BIGINT) AS sx,
                     CAST(sum(uy) AS BIGINT) AS sy,
                     sum(CAST(ux AS HUGEINT) * ux) AS sxx,
                     sum(CAST(ux AS HUGEINT) * uy) AS sxy
              FROM users),
            pooled AS (
              SELECT n, sx,
                     CASE WHEN n * sxx - CAST(sx AS HUGEINT) * sx = 0 THEN 0
                          WHEN n * sxy - CAST(sx AS HUGEINT) * sy < 0
                          THEN -CAST(((-(n * sxy - CAST(sx AS HUGEINT) * sy))
                               * 1000000)
                               // (n * sxx - CAST(sx AS HUGEINT) * sx)
                               AS BIGINT)
                          ELSE CAST(((n * sxy - CAST(sx AS HUGEINT) * sy)
                               * 1000000)
                               // (n * sxx - CAST(sx AS HUGEINT) * sx)
                               AS BIGINT)
                     END AS theta_micro
              FROM pooled0),
            adj AS (
              SELECT CAST(user_id % 2 AS INT) AS arm, uy, theta_micro,
                     CAST(CAST(uy AS HUGEINT) * n AS HUGEINT) AS my,
                     CAST(CAST(uy AS HUGEINT) * n
                       - (CAST(theta_micro AS HUGEINT)
                          * (CAST(ux AS HUGEINT) * n - sx)) // 1000000
                       AS HUGEINT) AS madj
              FROM users, pooled),
            g AS (
              SELECT arm, theta_micro,
                     CAST(count(*) AS BIGINT) AS n_users,
                     CAST(sum(uy) AS BIGINT) AS suy,
                     sum(my) AS smy, sum(my * my) AS smyy,
                     sum(madj) AS sma, sum(madj * madj) AS smaa
              FROM adj GROUP BY 1, 2)
            SELECT arm, n_users,
                   CAST(suy // n_users AS BIGINT) AS mean_y_cents, theta_micro,
                   CASE WHEN n_users * smyy - smy * smy > 0
                     THEN CAST(1000000 - ((n_users * smaa - sma * sma) * 1000000)
                          // (n_users * smyy - smy * smy) AS BIGINT)
                     ELSE 0 END AS vr_ppm
            FROM g ORDER BY arm"""))

  // ------------------------------------- weight of evidence / info value --

  /** Weight-of-Evidence encoding + Information Value of hour-of-day for the
    * purchase event — the credit-scorecard feature-relevance standard (the
    * supervised sibling of q_stats_mi's symmetric MI): per bin,
    * WoE = ln(P(bin|good)/P(bin|bad)) with Laplace smoothing, quantized ONCE
    * per bin to milli-nats from the same exact integers both engines hold
    * (the PSI rule: quantize-then-sum, never sum-then-quantize), and
    * IV = Σ (pg − pb)·WoE in clamped micro units with the q_stats_psi
    * zero-floor absorbing ppm-rounding sign flips near WoE = 0. IV bands
    * (<0.02 useless, >0.3 strong) are the classic feature-triage readout.
    *
    * Scale: one map-side-combinable 24-cell conditional agg + a 2-scalar
    * broadcast back over the cell table — everything past the first shuffle
    * is bin-cardinality-sized (chisq economics). High-cardinality features
    * pre-bucket (q_feature_bucketize) into the same shape.
    */
  private val qFeatureWoe = GQuery(
    (s, d) => {
      val nb = 24
      val bins = t(s, d, "events")
        .select(hour(col("ts")).cast("int").as("hod"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("isg"))
        .groupBy("hod")
        .agg(sum("isg").as("g"), sum(lit(1L) - col("isg")).as("b"))
        // 24 rows, consumed by tot + scored + the total row: materialize
        // once (the wquantile quadruple-scan lesson — Spark shares no
        // subplans across union branches)
        .localCheckpoint(true)
      val tot = bins.agg(sum("g").as("tg"), sum("b").as("tb"))
      val scored = bins.crossJoin(broadcast(tot))
        .select(col("hod"), col("g"), col("b"),
          expr(s"(g + 1) * 1000000 div (tg + $nb)").as("pg_ppm"),
          expr(s"(b + 1) * 1000000 div (tb + $nb)").as("pb_ppm"),
          round(log((col("g") + 1.0) * (col("tb") + nb.toDouble) /
            ((col("b") + 1.0) * (col("tg") + nb.toDouble))) * 1000)
            .cast("long").as("woe_mnat"))
        .withColumn("iv_micro",
          expr("greatest((pg_ppm - pb_ppm) * woe_mnat, 0) div 1000"))
      val total = scored.agg(sum("g").as("g"), sum("b").as("b"),
          sum("iv_micro").as("iv"))
        .select(lit(-1).cast("int").as("hod"), col("g"), col("b"),
          lit(0L).as("pg_ppm"), lit(0L).as("pb_ppm"), lit(0L).as("woe_mnat"),
          col("iv").as("iv_micro"))
      scored.unionByName(total).orderBy("hod")
    },
    Some("""WITH bins AS (
              SELECT CAST(hour(ts) AS INT) AS hod,
                     CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
                       ELSE 0 END) AS BIGINT) AS g,
                     CAST(sum(CASE WHEN event_type = 'purchase' THEN 0
                       ELSE 1 END) AS BIGINT) AS b
              FROM events GROUP BY 1),
            tot AS (
              SELECT CAST(sum(g) AS BIGINT) AS tg,
                     CAST(sum(b) AS BIGINT) AS tb
              FROM bins),
            scored AS (
              SELECT hod, g, b,
                     CAST((g + 1) * 1000000 // (tg + 24) AS BIGINT) AS pg_ppm,
                     CAST((b + 1) * 1000000 // (tb + 24) AS BIGINT) AS pb_ppm,
                     CAST(round(ln((g + 1.0) * (tb + 24.0)
                       / ((b + 1.0) * (tg + 24.0))) * 1000) AS BIGINT)
                       AS woe_mnat
              FROM bins, tot),
            scored2 AS (
              SELECT *, CAST(greatest((pg_ppm - pb_ppm) * woe_mnat, 0) // 1000
                       AS BIGINT) AS iv_micro
              FROM scored),
            total AS (
              SELECT CAST(-1 AS INT) AS hod, CAST(sum(g) AS BIGINT) AS g,
                     CAST(sum(b) AS BIGINT) AS b,
                     CAST(0 AS BIGINT) AS pg_ppm, CAST(0 AS BIGINT) AS pb_ppm,
                     CAST(0 AS BIGINT) AS woe_mnat,
                     CAST(sum(iv_micro) AS BIGINT) AS iv_micro
              FROM scored2)
            SELECT hod, g, b, pg_ppm, pb_ppm, woe_mnat, iv_micro FROM scored2
            UNION ALL SELECT * FROM total
            ORDER BY hod"""))

  // -------------------------------------- temperature-scaled corpus mix --

  /** Temperature-scaled multilingual sampling weights (the mC4/XLM-R
    * α-sampling rule, α = 1/2): w_lang ∝ p_lang^α flattens the language
    * distribution so low-resource languages aren't drowned — the
    * POWER-law companion to q_corpus_mix's target-distribution capping.
    * α = 1/2 is chosen because p^½ is computable EXACTLY: s = ⌊√tokens⌋
    * (IEEE sqrt is correctly rounded and tokens ≪ 2⁵², so floor(sqrt) is
    * bit-identical cross-engine — no fp drift enters the weights), then
    * w_ppm = s·10⁶ div Σs and the per-language boost factor
    * w·10⁶ div p in exact ppm. boost > 10⁶ marks upsampled languages.
    *
    * Scale: one map-side-combinable per-lang agg + two 1-row broadcasts
    * back over the lang-cardinality table — corpus touched once, everything
    * after is |langs| rows (corpus_mix economics). Other α values quantize
    * the power via the milli-nat exp/ln grid (PSI rule) at the cost of the
    * exactness this α keeps for free.
    */
  private val qCorpusTemperature = GQuery(
    (s, d) => {
      val langs = t(s, d, "documents")
        .select(col("lang"), size(split(col("text"), " ")).cast("long")
          .as("ntok"))
        .groupBy("lang")
        .agg(count(lit(1L)).as("n_docs"), sum("ntok").as("n_tokens"))
      val tot = langs.agg(sum("n_tokens").as("tt"))
      val base = langs.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_docs"), col("n_tokens"),
          expr("n_tokens * 1000000 div tt").as("p_ppm"),
          floor(sqrt(col("n_tokens").cast("double"))).cast("long").as("sq"))
      val st = base.agg(sum("sq").as("st"))
      base.crossJoin(broadcast(st))
        .select(col("lang"), col("n_docs"), col("n_tokens"), col("p_ppm"),
          expr("sq * 1000000 div st").as("w_ppm"))
        // a language under 1 ppm of total tokens truncates p_ppm to 0 —
        // boost is undefined there (null), never a div-by-zero ANSI abort
        .withColumn("boost_ppm",
          when(col("p_ppm") === 0, lit(null).cast("long"))
            .otherwise(expr("w_ppm * 1000000 div p_ppm")))
        .orderBy("lang")
    },
    Some("""WITH langs AS (
              SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                       AS n_tokens
              FROM documents GROUP BY 1),
            tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt FROM langs),
            base AS (
              SELECT lang, n_docs, n_tokens,
                     CAST(n_tokens * 1000000 // tt AS BIGINT) AS p_ppm,
                     CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)
                       AS sq
              FROM langs, tot),
            st AS (SELECT CAST(sum(sq) AS BIGINT) AS st FROM base)
            SELECT lang, n_docs, n_tokens, p_ppm,
                   CAST(sq * 1000000 // st.st AS BIGINT) AS w_ppm,
                   CAST(CASE WHEN p_ppm = 0 THEN NULL
                        ELSE (sq * 1000000 // st.st) * 1000000 // p_ppm END
                     AS BIGINT) AS boost_ppm
            FROM base, st ORDER BY lang"""))

  // ---------------------------------------------- MAD robust outlier days --

  /** Median-absolute-deviation outlier detection on the daily revenue
    * series — the ROBUST sibling of the σ-based detectors (q_events_burst's
    * 3σ z-test breaks down when the outliers themselves inflate σ; the
    * median/MAD breakdown point is 50%): med = exact lower-median order
    * statistic of the day grid, MAD = lower-median of |x − med|, and a day
    * flags when 10⁴·|x − med| > 44478·MAD — 44478 = ⌊3·1.4826·10⁴⌋, the
    * normal-consistency-scaled 3σ equivalent kept integral so the flag is
    * hash-exact. Emits the full day table with signed deviations, the
    * shared mad_cents, and the flag.
    *
    * Scale: the corpus collapses to the ≤ #days grid before any window
    * (changepoint economics); both medians are rank-k selections on that
    * grid, never corpus sorts; per-key MAD partitions the same shape by
    * key.
    */
  private val qTsMad = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val daily = t(s, d, "events")
        .select(to_date(col("ts")).as("day"), cents.as("v"))
        .groupBy("day").agg(sum("v").as("x"))
        // ≤ #days rows feeding n/med/devs/mad — materialize once
        .localCheckpoint(true)
      val n = daily.agg(count(lit(1L)).as("n"))
      val wMed = Window.orderBy(col("x").asc, col("day").asc)
      val med = daily.withColumn("rn", row_number().over(wMed))
        .crossJoin(broadcast(n))
        .filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("x").as("med"))
      val devs = daily.crossJoin(broadcast(med))
        .withColumn("adev", abs(col("x") - col("med")))
      val wMad = Window.orderBy(col("adev").asc, col("day").asc)
      val mad = devs.withColumn("rn", row_number().over(wMad))
        .crossJoin(broadcast(n))
        .filter(col("rn") === expr("(n + 1) div 2"))
        .select(col("adev").as("mad"))
      devs.crossJoin(broadcast(mad))
        .select(col("day"), col("x"), (col("x") - col("med")).as("dev_cents"),
          col("mad").as("mad_cents"),
          (col("adev") * 10000L > col("mad") * 44478L).as("is_outlier"))
        .orderBy("day")
    },
    Some("""WITH daily AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
              FROM events GROUP BY 1),
            n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
            med AS (
              SELECT x AS med FROM (
                SELECT x, row_number() OVER (ORDER BY x, day) AS rn
                FROM daily), n
              WHERE rn = (n + 1) // 2),
            devs AS (
              SELECT day, x, x - med.med AS dev, abs(x - med.med) AS adev
              FROM daily, med),
            mad AS (
              SELECT adev AS mad FROM (
                SELECT adev, row_number() OVER (ORDER BY adev, day) AS rn
                FROM devs), n
              WHERE rn = (n + 1) // 2)
            SELECT day, x, CAST(dev AS BIGINT) AS dev_cents,
                   CAST(mad.mad AS BIGINT) AS mad_cents,
                   adev * 10000 > mad.mad * 44478 AS is_outlier
            FROM devs, mad ORDER BY day"""))

  // -------------------------------------------- direct standardization --

  /** Direct standardization of the purchase rate between the pmod-2 A/B
    * arms — the stratification-based confounder adjustment (the
    * non-parametric cousin of CUPED: CUPED regresses a covariate out,
    * standardization REWEIGHTS strata to a common reference distribution):
    * strata are 6-hour buckets; each arm's standardized rate is
    * Σ_s w_s·rate_{arm,s} with w_s the POOLED stratum share, so arms are
    * compared as if they had identical time-of-day mix. All rates/weights
    * are exact ppm integers; products sum BEFORE the single div (quantize
    * once). An arm = −1 row carries the standardized difference — the
    * effect estimate the crude difference would confound.
    *
    * Scale: one map-side-combinable (arm, stratum) agg, a stratum-share
    * re-agg of that 8-row table, and ppm arithmetic on it — chisq
    * economics; finer strata only grow the cell table.
    */
  private val qStatsStandardize = GQuery(
    (s, d) => {
      val cells = t(s, d, "events")
        .select(pmod(col("user_id"), lit(2)).cast("int").as("arm"),
          expr("hour(ts) div 6").cast("int").as("stratum"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
        .groupBy("arm", "stratum")
        .agg(count(lit(1L)).as("n"), sum("pos").as("pos"))
        // 8-row cell table feeding strata + weighted — materialize once
        .localCheckpoint(true)
      val strata = cells.groupBy("stratum")
        .agg(sum("n").as("ns"))
      val tot = strata.agg(sum("ns").as("nt"))
      val weighted = cells
        .join(broadcast(strata), "stratum")
        .crossJoin(broadcast(tot))
        .select(col("arm"), col("n"), col("pos"),
          expr("(ns * 1000000 div nt) * (pos * 1000000 div n)").as("wr"))
      val arms = weighted.groupBy("arm")
        .agg(sum("n").as("n"), sum("pos").as("pos"),
          expr("sum(wr) div 1000000").as("std_ppm"))
        .select(col("arm"), col("n"),
          expr("pos * 1000000 div n").as("crude_ppm"), col("std_ppm"))
      val diff = arms.agg(
          sum(when(col("arm") === 0, col("std_ppm")).otherwise(-col("std_ppm")))
            .as("dstd"),
          sum(when(col("arm") === 0, col("crude_ppm"))
            .otherwise(-col("crude_ppm"))).as("dcrude"),
          sum("n").as("n"))
        .select(lit(-1).cast("int").as("arm"), col("n"),
          col("dcrude").as("crude_ppm"), col("dstd").as("std_ppm"))
      arms.unionByName(diff).orderBy("arm")
    },
    Some("""WITH cells AS (
              SELECT CAST(user_id % 2 AS INT) AS arm,
                     CAST(hour(ts) // 6 AS INT) AS stratum,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
                       ELSE 0 END) AS BIGINT) AS pos
              FROM events GROUP BY 1, 2),
            strata AS (
              SELECT stratum, CAST(sum(n) AS BIGINT) AS ns
              FROM cells GROUP BY 1),
            tot AS (SELECT CAST(sum(ns) AS BIGINT) AS nt FROM strata),
            weighted AS (
              SELECT c.arm, c.n, c.pos,
                     (s.ns * 1000000 // t.nt) * (c.pos * 1000000 // c.n)
                       AS wr
              FROM cells c JOIN strata s ON s.stratum = c.stratum
              CROSS JOIN tot t),
            arms AS (
              SELECT arm, CAST(sum(n) AS BIGINT) AS n,
                     CAST(sum(pos) * 1000000 // sum(n) AS BIGINT) AS crude_ppm,
                     CAST(sum(wr) // 1000000 AS BIGINT) AS std_ppm
              FROM weighted GROUP BY 1),
            diff AS (
              SELECT CAST(-1 AS INT) AS arm, CAST(sum(n) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN arm = 0 THEN crude_ppm
                       ELSE -crude_ppm END) AS BIGINT) AS crude_ppm,
                     CAST(sum(CASE WHEN arm = 0 THEN std_ppm
                       ELSE -std_ppm END) AS BIGINT) AS std_ppm
              FROM arms)
            SELECT arm, n, crude_ppm, std_ppm FROM arms
            UNION ALL SELECT * FROM diff
            ORDER BY arm"""))

  // ------------------------------------------- decision-stump split scan --

  /** Decision-stump split finder on the value domain — the Gini-impurity
    * scan every tree learner runs per feature, done the engine way: the
    * corpus collapses to the $50 bin grid (calibration bins), prefix sums
    * give every candidate threshold's (nL, posL) in ONE window pass over
    * the grid (the auc/ks two-level discipline applies when the grid
    * grows), and the weighted Gini 2·(nL·pL·qL + nR·pR·qR)/N is evaluated
    * in exact integer micros: per-side gini_micro = 2·pos·neg·10⁶ div n²,
    * weighted = (nL·gL + nR·gR) div N — quantized per candidate, argmin
    * tie-broken to the lowest cut. The best row is the stump; the full
    * table is the split-quality curve a feature-importance report plots.
    *
    * Scale: one partial agg to the bin grid; everything after is
    * grid-sized. pos·neg·10⁶ crosses BIGINT around 3·10⁹ rows per side —
    * the corrmatrix DECIMAL(38) widening applies there.
    */
  private val qFeatureSplit = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val bins = t(s, d, "events")
        .select(cents.as("c"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
        .select(expr("c div 5000").cast("int").as("bin"), col("pos"))
        .groupBy("bin").agg(count(lit(1L)).as("n"), sum("pos").as("pos"))
        // grid-sized, feeds tot + the prefix window — materialize once
        .localCheckpoint(true)
      val w = Window.orderBy("bin")
      val tot = bins.agg(sum("n").as("nt"), sum("pos").as("pt"))
      val cand = bins
        .select(col("bin"),
          Prefix.sumBefore(col("n"), w).as("nl"),
          Prefix.sumBefore(col("pos"), w).as("pl"))
        .crossJoin(broadcast(tot))
        .filter(col("nl") > 0L && col("nl") < col("nt"))
        .select(col("bin"), (col("bin") * 5000L).as("cut_cents"),
          col("nl"), col("pl"),
          expr("""((nl * (2 * pl * (nl - pl) * 1000000 div (nl * nl)))
                  + ((nt - nl) * (2 * (pt - pl) * ((nt - nl) - (pt - pl))
                     * 1000000 div ((nt - nl) * (nt - nl)))))
                 div nt""").as("wgini_micro"))
      val wBest = Window.orderBy(col("wgini_micro").asc, col("bin").asc)
      cand.withColumn("rk", row_number().over(wBest))
        .select(col("bin"), col("cut_cents"), col("nl"), col("pl"),
          col("wgini_micro"), (col("rk") === 1).as("is_best"))
        .orderBy("bin")
    },
    Some("""WITH rows_ AS (
              SELECT CAST(round(value * 100) AS BIGINT)
                       AS c,
                     CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS pos
              FROM events),
            bins AS (
              SELECT CAST(c // 5000 AS INT) AS bin,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(pos) AS BIGINT) AS pos
              FROM rows_ GROUP BY 1),
            tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
                           CAST(sum(pos) AS BIGINT) AS pt FROM bins),
            cand AS (
              SELECT bin,
                     CAST(coalesce(sum(n) OVER (ORDER BY bin
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS nl,
                     CAST(coalesce(sum(pos) OVER (ORDER BY bin
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS pl
              FROM bins),
            scored AS (
              SELECT c.bin, CAST(c.bin * 5000 AS BIGINT) AS cut_cents,
                     c.nl, c.pl,
                     CAST(((c.nl * (2 * c.pl * (c.nl - c.pl) * 1000000
                             // (c.nl * c.nl)))
                       + ((t.nt - c.nl) * (2 * (t.pt - c.pl)
                             * ((t.nt - c.nl) - (t.pt - c.pl)) * 1000000
                             // ((t.nt - c.nl) * (t.nt - c.nl)))))
                       // t.nt AS BIGINT) AS wgini_micro
              FROM cand c, tot t
              WHERE c.nl > 0 AND c.nl < t.nt)
            SELECT bin, cut_cents, nl, pl, wgini_micro,
                   row_number() OVER (ORDER BY wgini_micro ASC, bin ASC) = 1
                     AS is_best
            FROM scored ORDER BY bin"""))

  // ------------------------------------------- dynamic time warping --

  /** Banded dynamic time warping (Sakoe–Chiba r = 10) between every pair
    * of event-type daily-revenue series — the ALIGNMENT-invariant
    * distance q_series_similarity's lock-step Euclidean can't express
    * (a 2-day phase shift costs lock-step the full amplitude but DTW
    * almost nothing). Series share one global day grid (missing days
    * filled 0, integer cents, mean-centered via `div`), so the classic
    * O(L²) DP runs banded as a nested exact-BIGINT fold: outer
    * `aggregate` over rows i carries the previous BAND-LOCAL DP row
    * ([lo, D(i,lo)…D(i,hi)], ≤ 2r+2 elements — the fold's per-cell array
    * copy is O(2r+1), not O(L); the r10 sf1 probe caught the original
    * full-width inner fold at α 1.30 and the band-local rewrite returned
    * it to α ≈ 0.5), inner fold over the band builds the new row
    * left-to-right with dp = |aᵢ−bⱼ| + min(dp↖, dp↑, dp←), neighbor
    * columns mapped through the carried lo offset and out-of-band cells
    * pinned to a 10¹⁵ sentinel (any in-band path ≪ sentinel, so min() is
    * exact — never a float ∞). The DuckDB twin replays the identical fold
    * via list_reduce with the list-of-lists accumulator trick (list_reduce
    * has no init parameter — the seed row rides as element 0). Emits the
    * lock-step L1 distance beside dtw_c per pair: dtw ≤ lockstep on
    * every row is the self-evident sanity invariant.
    *
    * Scale: the corpus collapses to the |types|×|days| grid in one
    * map-combinable agg; the DP is |pairs|·L·(2r+1) integer ops on
    * band-sized arrays — independent of event count, the same
    * calendar-bounded-fold economics as q_ts_holt. More series → more
    * PAIRS (rows, distributed), never bigger cells.
    */
  private val qTsDtw = GQuery(
    (s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_type").as("et"), to_date(col("ts")).as("day"),
          cents(col("value"))
            .as("c"))
      val daily = ev.groupBy("et", "day").agg(sum("c").as("c"))
      val days = ev.select("day").distinct()
      val grid = ev.select("et").distinct().crossJoin(days)
      val filled = grid.join(daily, Seq("et", "day"), "left")
        .select(col("et"), col("day"), coalesce(col("c"), lit(0L)).as("c"))
      val series = filled.groupBy("et")
        .agg(sort_array(collect_list(struct(col("day"), col("c"))))
          .as("dc"))
        .select(col("et"), expr("transform(dc, x -> x.c)").as("raw"))
        .withColumn("mu", expr("aggregate(raw, CAST(0 AS BIGINT),"
          + " (a, v) -> a + v) div size(raw)"))
        .select(col("et"),
          expr("transform(raw, v -> v - mu)").as("arr"))
      val pairs = series.select(col("et").as("et_a"), col("arr").as("aa"))
        .crossJoin(series.select(col("et").as("et_b"), col("arr").as("bb")))
        .filter(col("et_a") < col("et_b"))
        .withColumn("l", size(col("aa")).cast("int"))
      pairs.select(col("et_a"), col("et_b"),
          col("l").cast("long").as("n_days"),
          expr("""aggregate(zip_with(aa, bb, (x, y) -> abs(x - y)),
                   CAST(0 AS BIGINT), (a, v) -> a + v)""").as("lockstep_c"),
          // band-LOCAL DP rows: each row is [lo, D(i,lo), …, D(i,hi)] with
          // lo = max(1, i−10), hi = min(L, i+10) — ≤ 2r+2 elements, so the
          // fold's per-cell array copy is O(2r+1), not O(L) (the r10 sf1
          // probe caught the full-width fold at α 1.30: every row walked
          // all L columns and each append re-copied an L-sized array).
          // Neighbor lookups map column c to prev index c − prev[1] + 2 and
          // pin out-of-band cells to the 10¹⁵ sentinel — value-identical to
          // the full matrix (a band cell's ↖/↑/← neighbors are in the
          // previous/current band or out-of-band in BOTH representations).
          expr("""element_at(
              aggregate(sequence(1, l),
                array(CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
                (prev, i) -> aggregate(
                  sequence(greatest(1, i - 10), least(l, i + 10)),
                  array(CAST(greatest(1, i - 10) AS BIGINT)),
                  (acc, j) -> concat(acc, array(
                    abs(element_at(aa, i) - element_at(bb, j))
                      + least(
                          IF(j - 1 >= element_at(prev, 1)
                               AND j - 1 <= element_at(prev, 1) + size(prev) - 2,
                             element_at(prev,
                               CAST(j - 1 - element_at(prev, 1) AS INT) + 2),
                             CAST(1000000000000000 AS BIGINT)),
                          IF(j >= element_at(prev, 1)
                               AND j <= element_at(prev, 1) + size(prev) - 2,
                             element_at(prev,
                               CAST(j - element_at(prev, 1) AS INT) + 2),
                             CAST(1000000000000000 AS BIGINT)),
                          IF(size(acc) > 1, element_at(acc, -1),
                             CAST(1000000000000000 AS BIGINT))))))),
              -1)""").as("dtw_c"))
        .orderBy("et_a", "et_b")
    },
    Some("""WITH ev AS (
              SELECT event_type AS et,
                     CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(round(value * 100) AS BIGINT) AS c
              FROM events),
            daily AS (SELECT et, day, CAST(sum(c) AS BIGINT) AS c
                      FROM ev GROUP BY 1, 2),
            grid AS (
              SELECT t.et, dd.day
              FROM (SELECT DISTINCT et FROM ev) t,
                   (SELECT DISTINCT day FROM ev) dd),
            filled AS (
              SELECT g.et, g.day, coalesce(d.c, 0) AS c
              FROM grid g LEFT JOIN daily d
                ON g.et = d.et AND g.day = d.day),
            raw AS (
              SELECT et, list(c ORDER BY day) AS raw
              FROM filled GROUP BY 1),
            series AS (
              SELECT et,
                     list_transform(raw,
                       v -> v - list_sum(raw) // len(raw)) AS arr
              FROM raw),
            pairs AS (
              SELECT a.et AS et_a, b.et AS et_b, a.arr AS aa, b.arr AS bb,
                     len(a.arr) AS l
              FROM series a, series b WHERE a.et < b.et)
            SELECT et_a, et_b, CAST(l AS BIGINT) AS n_days,
                   CAST(list_sum(list_transform(generate_series(1, l),
                     k -> abs(aa[k] - bb[k]))) AS BIGINT) AS lockstep_c,
                   CAST(list_reduce(
                     list_prepend([CAST(0 AS BIGINT), CAST(0 AS BIGINT)],
                       list_transform(generate_series(1, l),
                         i -> [CAST(i AS BIGINT)])),
                     (prev, x) -> list_reduce(
                       list_prepend(
                         [CAST(greatest(1, x[1] - 10) AS BIGINT)],
                         list_transform(generate_series(
                             greatest(1, x[1] - 10), least(l, x[1] + 10)),
                           j -> [CAST(j AS BIGINT)])),
                       (acc, y) -> list_append(acc,
                         abs(aa[x[1]] - bb[y[1]])
                           + least(
                               CASE WHEN y[1] - 1 >= prev[1]
                                      AND y[1] - 1 <= prev[1] + len(prev) - 2
                                 THEN prev[y[1] - 1 - prev[1] + 2]
                                 ELSE CAST(1000000000000000 AS BIGINT) END,
                               CASE WHEN y[1] >= prev[1]
                                      AND y[1] <= prev[1] + len(prev) - 2
                                 THEN prev[y[1] - prev[1] + 2]
                                 ELSE CAST(1000000000000000 AS BIGINT) END,
                               CASE WHEN len(acc) > 1 THEN acc[-1]
                                 ELSE CAST(1000000000000000 AS BIGINT) END))))[-1]
                     AS BIGINT) AS dtw_c
            FROM pairs ORDER BY et_a, et_b"""))

  // ---------------------------------------- STL-style decomposition --

  /** Additive seasonal-trend decomposition of the daily revenue series
    * (the STL shape with exact integer arithmetic): trend = centered 7-day
    * moving average (full windows only — edges stay NULL rather than
    * fabricating a half-window trend), seasonal = day-of-week mean of the
    * detrended series (dow from the pure-integer epoch-day mod 7, the
    * q_stats_mannwhitney rule — no engine dow()), residual = x − trend −
    * seasonal. Every component is integer `div` cents, so the decomposition
    * re-adds exactly and hashes cross-engine. This is the diagnostic
    * decomposition next to snaive (forecast), autocorr (cycle detection),
    * and changepoint (level shifts): it SHOWS the cycle the others test
    * for.
    *
    * Scale: the corpus collapses to the day grid before the RANGE window
    * (changepoint economics); the dow table is 7 rows broadcast back;
    * years of data keep the sequential part calendar-bounded.
    */
  private val qTsStl = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val daily = t(s, d, "events")
        .select(to_date(col("ts")).as("day"), cents.as("v"))
        .groupBy("day").agg(sum("v").as("x"))
        .withColumn("dnum",
          datediff(col("day"), lit("2024-01-01").cast("date")).cast("long"))
        .localCheckpoint(true)
      val w7 = Window.orderBy("dnum").rangeBetween(-3, 3)
      val trended = daily
        .withColumn("wcnt", count(lit(1L)).over(w7))
        .withColumn("trend_cents",
          when(col("wcnt") === 7L, expr("sum(x) OVER (ORDER BY dnum RANGE " +
            "BETWEEN 3 PRECEDING AND 3 FOLLOWING) div 7")))
        .withColumn("dow", pmod(col("dnum"), lit(7L)).cast("int"))
        .withColumn("detr", col("x") - col("trend_cents"))
      val dowMeans = trended.filter(col("trend_cents").isNotNull)
        .groupBy("dow")
        .agg(expr("sum(detr) div count(1)").as("seas_cents"))
      trended.join(broadcast(dowMeans), "dow")
        .select(col("day"), col("x"), col("trend_cents"), col("seas_cents"),
          (col("x") - col("trend_cents") - col("seas_cents")).as("resid_cents"))
        .orderBy("day")
    },
    Some("""WITH daily AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
              FROM events GROUP BY 1),
            dn AS (
              SELECT day, x,
                     CAST(date_diff('day', DATE '2024-01-01', day) AS BIGINT)
                       AS dnum
              FROM daily),
            tr AS (
              SELECT day, x, dnum,
                     CASE WHEN count(*) OVER w = 7
                       THEN CAST(sum(x) OVER w // 7 AS BIGINT) END
                       AS trend_cents,
                     CAST(dnum % 7 AS INT) AS dow
              FROM dn
              WINDOW w AS (ORDER BY dnum
                RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
            dm AS (
              SELECT dow,
                     CAST(sum(x - trend_cents) // count(*) AS BIGINT)
                       AS seas_cents
              FROM tr WHERE trend_cents IS NOT NULL GROUP BY 1)
            SELECT t.day, t.x, t.trend_cents, m.seas_cents,
                   CAST(t.x - t.trend_cents - m.seas_cents AS BIGINT)
                     AS resid_cents
            FROM tr t JOIN dm m ON m.dow = t.dow
            ORDER BY t.day"""))

  // ------------------------------------------ audience overlap matrix --

  /** Exact audience-overlap matrix between event types — the pairwise
    * Jaccard/containment readout q_agg_hll_intersect approximates with
    * sketches (there: two time-halves of one type; here: every type
    * PAIR, exact): distinct (type, user) once, pair intersections from
    * one self-join on user, unions by inclusion–exclusion — never a
    * user×user product, never a second corpus scan. Jaccard and both
    * containments ship in ppm (integer div), so marketing's "view
    * reaches 97% of purchasers" reads directly off the row.
    *
    * Scale: the self-join keys on user_id (high-cardinality, balanced)
    * over the COLLAPSED audience table; |types|² output rows. At sketch
    * scale the same matrix falls out of q_agg_hll_intersect's
    * inclusion–exclusion per pair — this exact form is its audit twin.
    */
  private val qEventsOverlapMatrix = GQuery(
    (s, d) => {
      val tu = t(s, d, "events")
        .select(col("event_type").as("et"), col("user_id")).distinct()
        .localCheckpoint(true) // sizes agg + both join sides
      val sizes = tu.groupBy("et").agg(count(lit(1L)).as("n"))
      val inter = tu.select(col("et").as("et_a"), col("user_id"))
        .join(tu.select(col("et").as("et_b"), col("user_id")), "user_id")
        .filter(col("et_a") < col("et_b"))
        .groupBy("et_a", "et_b").agg(count(lit(1L)).as("n_inter"))
      inter
        .join(sizes.select(col("et").as("et_a"), col("n").as("n_a")), "et_a")
        .join(sizes.select(col("et").as("et_b"), col("n").as("n_b")), "et_b")
        .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
        .select(col("et_a"), col("et_b"), col("n_a"), col("n_b"),
          col("n_inter"), col("n_union"),
          expr("(n_inter * 1000000) div n_union").as("jaccard_ppm"),
          expr("(n_inter * 1000000) div n_a").as("contain_a_ppm"),
          expr("(n_inter * 1000000) div n_b").as("contain_b_ppm"))
        .orderBy("et_a", "et_b")
    },
    Some("""WITH tu AS (
              SELECT DISTINCT event_type AS et, user_id FROM events),
            sizes AS (
              SELECT et, CAST(count(*) AS BIGINT) AS n FROM tu GROUP BY 1),
            inter AS (
              SELECT a.et AS et_a, b.et AS et_b,
                     CAST(count(*) AS BIGINT) AS n_inter
              FROM tu a JOIN tu b
                ON a.user_id = b.user_id AND a.et < b.et
              GROUP BY 1, 2)
            SELECT i.et_a, i.et_b, sa.n AS n_a, sb.n AS n_b, i.n_inter,
                   sa.n + sb.n - i.n_inter AS n_union,
                   CAST((i.n_inter * 1000000)
                     // (sa.n + sb.n - i.n_inter) AS BIGINT) AS jaccard_ppm,
                   CAST((i.n_inter * 1000000) // sa.n AS BIGINT)
                     AS contain_a_ppm,
                   CAST((i.n_inter * 1000000) // sb.n AS BIGINT)
                     AS contain_b_ppm
            FROM inter i
            JOIN sizes sa ON sa.et = i.et_a
            JOIN sizes sb ON sb.et = i.et_b
            ORDER BY i.et_a, i.et_b"""))

  // ------------------------------------------- permutation entropy --

  /** Permutation entropy (Bandt & Pompe 2002), order 3 — the
    * complexity/randomness readout for the per-type daily series that
    * the variance-based members (dispersion, autocorr) can't give: each
    * 3-day window maps to its ORDINAL pattern (rank order of the three
    * values, ties broken toward ≤ — a deterministic 3-bit code of the
    * pairwise comparisons, 6 of 8 codes realizable), and the Shannon
    * entropy of the pattern distribution measures how predictable the
    * series' local shapes are (trend-following ≈ low, white noise ≈
    * ln 6). Entropy rides the q_profile_entropy discipline exactly:
    * micro-nat quantized ln terms summed as integers, one dround at the
    * emission edge, plus the ln(6)-normalized ratio.
    *
    * Scale: one daily partial agg; lag windows and the pattern
    * histogram live on the ≤ |types|×|days| grid — map-combinable,
    * calendar-bounded (q_ts_autocorr economics).
    */
  private val qTsPermentropy = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(cents).as("x"))
      val wLag = Window.partitionBy("event_type").orderBy("day")
      val pats = daily
        .withColumn("b", lead("x", 1).over(wLag))
        .withColumn("c", lead("x", 2).over(wLag))
        .filter(col("c").isNotNull)
        .select(col("event_type"),
          (when(col("x") <= col("b"), 4).otherwise(0)
            + when(col("b") <= col("c"), 2).otherwise(0)
            + when(col("x") <= col("c"), 1).otherwise(0)).as("pat"))
      val hist = pats.groupBy("event_type", "pat")
        .agg(count(lit(1L)).as("c"))
      val n = hist.groupBy("event_type")
        .agg(sum("c").as("n"), count(lit(1L)).as("n_patterns"))
      hist.join(broadcast(n), "event_type")
        .select(col("event_type"), col("c"), col("n"), col("n_patterns"),
          round(log(col("c").cast("double") / col("n")) * 1e6)
            .cast("long").as("q"))
        .groupBy("event_type", "n", "n_patterns")
        .agg(sum(col("c") * col("q")).as("sq"))
        .select(col("event_type"), col("n").as("n_windows"),
          col("n_patterns"),
          dround(-col("sq").cast("double") / col("n") / 1e6, 4)
            .as("entropy_nats"),
          dround(-col("sq").cast("double") / col("n") / 1e6
            / math.log(6.0), 4).as("pe_norm"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (
              SELECT event_type,
                     CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
              FROM events GROUP BY 1, 2),
            lagd AS (
              SELECT event_type, x AS a,
                     lead(x, 1) OVER w AS b,
                     lead(x, 2) OVER w AS c
              FROM daily
              WINDOW w AS (PARTITION BY event_type ORDER BY day)),
            pats AS (
              SELECT event_type,
                     (CASE WHEN a <= b THEN 4 ELSE 0 END
                      + CASE WHEN b <= c THEN 2 ELSE 0 END
                      + CASE WHEN a <= c THEN 1 ELSE 0 END) AS pat
              FROM lagd WHERE c IS NOT NULL),
            hist AS (
              SELECT event_type, pat, CAST(count(*) AS BIGINT) AS c
              FROM pats GROUP BY 1, 2),
            tot AS (
              SELECT event_type, CAST(sum(c) AS BIGINT) AS n,
                     CAST(count(*) AS BIGINT) AS n_patterns
              FROM hist GROUP BY 1),
            q AS (
              SELECT h.event_type, t.n, t.n_patterns,
                     sum(h.c * CAST(round(ln(CAST(h.c AS DOUBLE) / t.n)
                       * 1e6) AS BIGINT)) AS sq
              FROM hist h JOIN tot t USING (event_type)
              GROUP BY 1, 2, 3)
            SELECT event_type, n AS n_windows, n_patterns,
                   CAST(round(CAST(-CAST(sq AS DOUBLE) / n / 1e6
                     AS DECIMAL(30,8)), 4) AS DOUBLE) AS entropy_nats,
                   CAST(round(CAST(-CAST(sq AS DOUBLE) / n / 1e6 / ln(6.0)
                     AS DECIMAL(30,8)), 4) AS DOUBLE) AS pe_norm
            FROM q ORDER BY event_type"""))

  // --------------------------------------------- growth accounting --

  /** Weekly growth accounting (the Social-Capital ledger) — the
    * flow decomposition the stock metrics (DAU/WAU, retention cohorts)
    * can't show: every week's active users split EXACTLY into
    * new (first-ever week), retained (also active last week), and
    * resurrected (active before, dark last week), while churned counts
    * last week's actives who went dark — so Δactive ≡ new + resurrected
    * − churned, an accounting identity the emitted table satisfies
    * row-by-row (the reader can audit it). Weeks are day-number div 7
    * grid cells; presence joins are (user, week)-keyed equi-joins on
    * the distinct user-week table (never event rows); the final-week
    * churn is clamped (stream end is not churn evidence). Quick ratio
    * (new+resurrected)·milli div churned rides each row, div-guarded.
    *
    * Scale: events collapse to distinct (user, week) once
    * (map-combinable); the three presence joins are self-joins of that
    * collapsed table on high-cardinality user keys — DAU-table
    * economics, no window over users anywhere.
    */
  private val qEventsGrowthAccounting = GQuery(
    (s, d) => {
      val uw = t(s, d, "events")
        .select(col("user_id"),
          expr("CAST(datediff(to_date(ts), DATE '2024-01-01') AS BIGINT)"
            + " div 7").as("wk"))
        .distinct()
        .localCheckpoint(true) // 4 self-join sides below
      val fw = uw.groupBy("user_id").agg(min("wk").as("fw"))
      val maxw = uw.agg(max("wk").as("mw"))
      val prev = uw.select(col("user_id"), (col("wk") + 1).as("wk"),
        lit(1L).as("was"))
      val cur = uw.join(broadcast(fw), "user_id")
        .join(prev, Seq("user_id", "wk"), "left")
        .select(col("wk"),
          when(col("fw") === col("wk"), 1L).otherwise(0L).as("is_new"),
          when(col("was").isNotNull && col("fw") < col("wk"), 1L)
            .otherwise(0L).as("is_ret"),
          when(col("was").isNull && col("fw") < col("wk"), 1L)
            .otherwise(0L).as("is_res"))
        .groupBy("wk").agg(count(lit(1L)).as("n_active"),
          sum("is_new").as("n_new"), sum("is_ret").as("n_retained"),
          sum("is_res").as("n_resurrected"))
      val churned = prev
        .join(uw.withColumn("still", lit(1L)), Seq("user_id", "wk"), "left")
        .filter(col("still").isNull)
        .crossJoin(broadcast(maxw)).filter(col("wk") <= col("mw"))
        .groupBy("wk").agg(count(lit(1L)).as("n_churned"))
      cur.join(churned, Seq("wk"), "left")
        .select(col("wk"), col("n_active"), col("n_new"),
          col("n_retained"), col("n_resurrected"),
          coalesce(col("n_churned"), lit(0L)).as("n_churned"))
        .withColumn("quick_ratio_milli",
          when(col("n_churned") > 0, expr(
            "((n_new + n_resurrected) * 1000) div n_churned"))
            .otherwise(lit(0L)))
        .orderBy("wk")
    },
    Some("""WITH uw AS (
              SELECT DISTINCT user_id,
                     CAST(date_diff('day', DATE '2024-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) // 7
                       AS BIGINT) AS wk
              FROM events),
            fw AS (SELECT user_id, min(wk) AS fw FROM uw GROUP BY 1),
            mw AS (SELECT max(wk) AS mw FROM uw),
            cur AS (
              SELECT u.wk,
                     CAST(count(*) AS BIGINT) AS n_active,
                     CAST(sum(CASE WHEN f.fw = u.wk THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_new,
                     CAST(sum(CASE WHEN p.user_id IS NOT NULL
                         AND f.fw < u.wk THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_retained,
                     CAST(sum(CASE WHEN p.user_id IS NULL
                         AND f.fw < u.wk THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_resurrected
              FROM uw u
              JOIN fw f ON f.user_id = u.user_id
              LEFT JOIN uw p ON p.user_id = u.user_id
                AND p.wk = u.wk - 1
              GROUP BY 1),
            churned AS (
              SELECT p.wk + 1 AS wk, CAST(count(*) AS BIGINT) AS n_churned
              FROM uw p
              LEFT JOIN uw c ON c.user_id = p.user_id
                AND c.wk = p.wk + 1
              CROSS JOIN mw
              WHERE c.user_id IS NULL AND p.wk + 1 <= mw.mw
              GROUP BY 1)
            SELECT c.wk, c.n_active, c.n_new, c.n_retained,
                   c.n_resurrected,
                   coalesce(h.n_churned, 0) AS n_churned,
                   CAST(CASE WHEN coalesce(h.n_churned, 0) > 0
                     THEN ((c.n_new + c.n_resurrected) * 1000)
                       // h.n_churned
                     ELSE 0 END AS BIGINT) AS quick_ratio_milli
            FROM cur c LEFT JOIN churned h ON h.wk = c.wk
            ORDER BY c.wk"""))

  // ------------------------------------------ overdispersion test --

  /** Poisson overdispersion test per event type — the modeling-decision
    * gate before any count model (rates, funnels, burst detection): are
    * daily event counts Poisson (variance ≈ mean) or overdispersed
    * (variance ≫ mean → negative-binomial territory)? The dispersion
    * statistic χ² = Σ(xᵢ−x̄)²/x̄ runs on the n-scaled integer grid
    * (Σ(x·n−S)² div (n·S) — remainder-free centering, the CUPED trick),
    * the index D = χ²/(n−1) in milli, and the decision flag uses the
    * normal approximation χ² > (n−1) + 5·√(2(n−1)) ⟺ z > 5σ with the
    * √ term as a mirrored IEEE-sqrt integer (Neyman floor(·+0.5)
    * discipline) — all comparisons exact BIGINT.
    *
    * Scale: one daily partial agg, then a ≤ |types|×|days| grid agg —
    * map-combinable end to end; Σ(x·n−S)² at 100-TB counts takes the
    * DECIMAL(38) widening already in place.
    */
  private val qStatsDispersion = GQuery(
    (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1L)).as("x"))
      val mom = daily.groupBy("event_type").agg(
        count(lit(1L)).as("n"), sum("x").as("sx"),
        sum((col("x").cast("decimal(38,0)") * col("x"))).as("sxx"))
      mom
        // Σ(x·n−S)² = n²Σx² − nS² = n(nΣx² − S²)
        .withColumn("css", expr(
          "n * (n * sxx - CAST(sx AS DECIMAL(38,0)) * sx)"))
        .withColumn("chi2_milli",
          when(col("sx") > 0, expr("(css * 1000) div (n * sx)"))
            .otherwise(lit(0L)))
        .withColumn("crit_milli", expr(
          """(n - 1) * 1000 + CAST(floor(sqrt(CAST(2 * (n - 1) AS DOUBLE))
             * 5000.0 + 0.5) AS BIGINT)"""))
        .select(col("event_type"), col("n"), col("sx").as("total"),
          expr("CAST(chi2_milli AS BIGINT)").as("chi2_milli"),
          when(col("n") > 1, expr("CAST(chi2_milli div (n - 1) AS BIGINT)"))
            .otherwise(lit(0L)).as("dispersion_milli"),
          (col("chi2_milli") > col("crit_milli")).as("overdispersed"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (
              SELECT event_type,
                     CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(count(*) AS BIGINT) AS x
              FROM events GROUP BY 1, 2),
            mom AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS sx,
                     sum(CAST(x AS HUGEINT) * x) AS sxx
              FROM daily GROUP BY 1),
            der AS (
              SELECT event_type, n, sx,
                     n * (n * sxx - CAST(sx AS HUGEINT) * sx) AS css
              FROM mom),
            fin AS (
              SELECT event_type, n, sx,
                     CASE WHEN sx > 0 THEN (css * 1000) // (n * sx)
                       ELSE 0 END AS chi2_milli,
                     (n - 1) * 1000
                       + CAST(floor(sqrt(CAST(2 * (n - 1) AS DOUBLE))
                           * 5000.0 + 0.5) AS BIGINT) AS crit_milli
              FROM der)
            SELECT event_type, n, sx AS total,
                   CAST(chi2_milli AS BIGINT) AS chi2_milli,
                   CAST(CASE WHEN n > 1 THEN chi2_milli // (n - 1)
                     ELSE 0 END AS BIGINT) AS dispersion_milli,
                   chi2_milli > crit_milli AS overdispersed
            FROM fin ORDER BY event_type"""))

  // -------------------------------------------- Granger causality --

  /** Granger causality test — do daily CLICKS help predict next-day
    * PURCHASE revenue beyond revenue's own history? Unrestricted model
    * y_t = a + b·y_{t−1} + c·x_{t−1} vs restricted y_t = a + b·y_{t−1},
    * F = (SSR_r − SSR_u)·(n−3) / SSR_u for the one restriction. The
    * whole fit is exact-integer Cramer's rule on the centered 2×2
    * normal equations (the q_stats_elasticity discipline, two
    * regressors): series quantized to coarse integer units (revenue in
    * $100s via div, raw click counts — granularity irrelevant to an
    * F-statistic, decisive for keeping every moment inside
    * DECIMAL(38): au ≈ 4·10²⁰ at sf0.1, sf-cubed growth leaves 17
    * orders of headroom), centering n-scaled and remainder-free (ỹ = y·n − Σy,
    * the CUPED trick), D = S_bb·S_cc − S_bc², coefficient numerators
    * and SSR identities all integer products: SSR_u·D = S_aa·D −
    * num_b·S_ab − num_c·S_ac and SSR_r·S_bb = S_aa·S_bb − S_ab².
    * Cross-grid comparison runs on deterministic reduced grids
    * (Au div (D div 1000) — both engines truncate identically), so
    * F_milli hashes exactly. Emits coefficients (micro), both SSRs
    * (milli, n-scaled grid), and F_milli.
    *
    * Scale: one daily partial agg; everything after is the ≤ #days
    * grid — lag windows and moment sums over ≤ 30 rows. q_ts_holt
    * economics with a causal readout.
    */
  private val qTsGranger = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val daily = t(s, d, "events")
        .select(to_date(col("ts")).as("day"), col("event_type"),
          cents.as("c"))
        .groupBy("day").agg(
          expr("sum(CASE WHEN event_type = 'purchase' THEN c ELSE 0 END)"
            + " div 10000").as("y"),
          expr("sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)")
            .as("x"))
      val wd = Window.orderBy("day")
      val rows = daily
        .withColumn("b0", lag("y", 1).over(wd))
        .withColumn("c0", lag("x", 1).over(wd))
        .filter(col("b0").isNotNull)
        .select(col("y").as("a"), col("b0").as("b"), col("c0").as("c"))
      val sums = rows.agg(count(lit(1L)).as("m"), sum("a").as("ta"),
        sum("b").as("tb"), sum("c").as("tc")).withColumn("j", lit(1))
      val cent = rows.withColumn("j", lit(1)).join(broadcast(sums), "j")
        .select(col("m"),
          (col("a") * col("m") - col("ta")).as("ca"),
          (col("b") * col("m") - col("tb")).as("cb"),
          (col("c") * col("m") - col("tc")).as("cc"))
      val mom = cent.groupBy("m").agg(
        sum((col("ca").cast("decimal(38,0)") * col("ca"))).as("saa"),
        sum((col("cb").cast("decimal(38,0)") * col("cb"))).as("sbb"),
        sum((col("cc").cast("decimal(38,0)") * col("cc"))).as("scc"),
        sum((col("ca").cast("decimal(38,0)") * col("cb"))).as("sab"),
        sum((col("ca").cast("decimal(38,0)") * col("cc"))).as("sac"),
        sum((col("cb").cast("decimal(38,0)") * col("cc"))).as("sbc"))
      mom
        .withColumn("dd", expr("sbb * scc - sbc * sbc"))
        .withColumn("numb", expr("sab * scc - sac * sbc"))
        .withColumn("numc", expr("sac * sbb - sab * sbc"))
        .withColumn("au",
          expr("saa * dd - numb * sab - numc * sac"))
        .withColumn("ssr_u_milli",
          when(col("dd") >= 1000, expr("au div (dd div 1000)"))
            .when(col("dd") > 0, expr("(au * 1000) div dd"))
            .otherwise(lit(0L)))
        .withColumn("ssr_r_milli", when(col("sbb") > 0,
          expr("((saa * sbb - sab * sab) * 1000) div sbb"))
          .otherwise(lit(0L)))
        .select(col("m").as("n"),
          when(col("dd") > 0,
            expr("CAST((numb * 1000000) div dd AS BIGINT)"))
            .otherwise(lit(0L)).as("beta_y_micro"),
          when(col("dd") > 0,
            expr("CAST((numc * 1000000) div dd AS BIGINT)"))
            .otherwise(lit(0L)).as("beta_x_micro"),
          expr("CAST(ssr_r_milli AS BIGINT)").as("ssr_r_milli"),
          expr("CAST(ssr_u_milli AS BIGINT)").as("ssr_u_milli"),
          when(col("ssr_u_milli") > 0, expr(
            """CAST(((ssr_r_milli - ssr_u_milli) * (m - 3) * 1000)
               div ssr_u_milli AS BIGINT)"""))
            .otherwise(lit(0L)).as("f_milli"))
    },
    Some("""WITH daily AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                     sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) // 10000 AS y,
                     CAST(sum(CASE WHEN event_type = 'click' THEN 1
                       ELSE 0 END) AS BIGINT) AS x
              FROM events GROUP BY 1),
            lagd AS (
              SELECT y AS a,
                     lag(y) OVER (ORDER BY day) AS b,
                     lag(x) OVER (ORDER BY day) AS c
              FROM daily),
            rows_ AS (SELECT a, b, c FROM lagd WHERE b IS NOT NULL),
            sums AS (
              SELECT CAST(count(*) AS BIGINT) AS m,
                     CAST(sum(a) AS BIGINT) AS ta,
                     CAST(sum(b) AS BIGINT) AS tb,
                     CAST(sum(c) AS BIGINT) AS tc
              FROM rows_),
            cent AS (
              SELECT m, a * m - ta AS ca, b * m - tb AS cb,
                     c * m - tc AS cc
              FROM rows_, sums),
            mom AS (
              SELECT m,
                     sum(CAST(ca AS HUGEINT) * ca) AS saa,
                     sum(CAST(cb AS HUGEINT) * cb) AS sbb,
                     sum(CAST(cc AS HUGEINT) * cc) AS scc,
                     sum(CAST(ca AS HUGEINT) * cb) AS sab,
                     sum(CAST(ca AS HUGEINT) * cc) AS sac,
                     sum(CAST(cb AS HUGEINT) * cc) AS sbc
              FROM cent GROUP BY 1),
            der AS (
              SELECT m, saa, sbb, sab,
                     sbb * scc - sbc * sbc AS dd,
                     sab * scc - sac * sbc AS numb,
                     sac * sbb - sab * sbc AS numc,
                     sac, sbc
              FROM mom),
            fin AS (
              SELECT m, dd, numb, numc,
                     CASE WHEN dd >= 1000 THEN
                         (saa * dd - numb * sab - numc * sac) // (dd // 1000)
                       WHEN dd > 0 THEN
                         ((saa * dd - numb * sab - numc * sac) * 1000) // dd
                       ELSE 0 END AS ssr_u_milli,
                     CASE WHEN sbb > 0 THEN
                         ((saa * sbb - sab * sab) * 1000) // sbb
                       ELSE 0 END AS ssr_r_milli
              FROM der)
            SELECT m AS n,
                   CAST(CASE WHEN dd > 0 THEN (numb * 1000000) // dd
                     ELSE 0 END AS BIGINT) AS beta_y_micro,
                   CAST(CASE WHEN dd > 0 THEN (numc * 1000000) // dd
                     ELSE 0 END AS BIGINT) AS beta_x_micro,
                   CAST(ssr_r_milli AS BIGINT) AS ssr_r_milli,
                   CAST(ssr_u_milli AS BIGINT) AS ssr_u_milli,
                   CAST(CASE WHEN ssr_u_milli > 0
                     THEN ((ssr_r_milli - ssr_u_milli) * (m - 3) * 1000)
                       // ssr_u_milli
                     ELSE 0 END AS BIGINT) AS f_milli
            FROM fin"""))

  // ---------------------------------------- residual anomaly detection --

  /** Robust anomaly days over the q_ts_stl decomposition — the DETECT
    * step the decompose family stops short of: residuals r = x − trend −
    * seasonal (the exact STL integers, interior days only), centered on
    * their exact MEDIAN and scored against the median absolute deviation
    * — the robust scale that one genuine outlier can't inflate the way
    * it inflates a σ (the q_ts_mad rationale, here applied to
    * deseasonalized residuals so weekday structure doesn't mask a
    * mid-week spike). All order statistics stay integral via the
    * doubled/quadrupled-grid trick (Wilcoxon midrank precedent):
    * med2 = r₍ₖ₎ + r₍ₖ₊₁₎, dev2ᵢ = |2rᵢ − med2|, mad4 = dev2₍ₖ₎ +
    * dev2₍ₖ₊₁₎, flag ⟺ 4·dev2 > 5·mad4 (i.e. |r − med| > 2.5·MAD) and
    * score_milli = 2000·dev2 div mad4 — every comparison exact BIGINT.
    *
    * Scale: q_ts_stl economics (one daily partial agg, calendar-bounded
    * grid) — the rank windows order ≤ #days rows. Per-series detection
    * at scale partitions the same windows by series key.
    */
  private val qTsAnomaly = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val daily = t(s, d, "events")
        .select(to_date(col("ts")).as("day"), cents.as("v"))
        .groupBy("day").agg(sum("v").as("x"))
        .withColumn("dnum",
          datediff(col("day"), lit("2024-01-01").cast("date")).cast("long"))
        .localCheckpoint(true)
      val trended = daily
        .withColumn("wcnt", count(lit(1L)).over(
          Window.orderBy("dnum").rangeBetween(-3, 3)))
        .withColumn("trend_cents",
          when(col("wcnt") === 7L, expr("sum(x) OVER (ORDER BY dnum RANGE " +
            "BETWEEN 3 PRECEDING AND 3 FOLLOWING) div 7")))
        .withColumn("dow", pmod(col("dnum"), lit(7L)).cast("int"))
        .withColumn("detr", col("x") - col("trend_cents"))
      val dowMeans = trended.filter(col("trend_cents").isNotNull)
        .groupBy("dow")
        .agg(expr("sum(detr) div count(1)").as("seas_cents"))
      val resid = trended.join(broadcast(dowMeans), "dow")
        .filter(col("trend_cents").isNotNull)
        .select(col("day"), col("x"),
          (col("x") - col("trend_cents") - col("seas_cents"))
            .as("resid_cents"))
        .localCheckpoint(true) // grid feeds two rank passes + output
      val withN = resid
        .withColumn("rk", row_number().over(Window.orderBy("resid_cents",
          "day")).cast("long"))
        .withColumn("n", count(lit(1L)).over(
          Window.partitionBy(lit(1))).cast("long"))
      val med = withN.agg(
        (sum(when(col("rk") === expr("(n + 1) div 2"), col("resid_cents"))) +
          sum(when(col("rk") === expr("n div 2 + 1"), col("resid_cents"))))
          .as("med2")).withColumn("j", lit(1))
      val devs = resid.withColumn("j", lit(1)).join(broadcast(med), "j")
        .withColumn("dev2", abs(col("resid_cents") * 2 - col("med2")))
      val dr = devs
        .withColumn("rk", row_number().over(Window.orderBy("dev2", "day"))
          .cast("long"))
        .withColumn("n", count(lit(1L)).over(
          Window.partitionBy(lit(1))).cast("long"))
      val mad = dr.agg(
        (sum(when(col("rk") === expr("(n + 1) div 2"), col("dev2"))) +
          sum(when(col("rk") === expr("n div 2 + 1"), col("dev2"))))
          .as("mad4")).withColumn("j", lit(1))
      devs.drop("j").withColumn("j", lit(1)).join(broadcast(mad), "j")
        .select(col("day"), col("x"), col("resid_cents"),
          when(col("mad4") > 0, expr("(2000 * dev2) div mad4"))
            .otherwise(lit(0L)).as("score_milli"),
          (col("mad4") > 0 && col("dev2") * 4 > col("mad4") * 5)
            .as("is_anomaly"))
        .orderBy("day")
    },
    Some("""WITH daily AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
              FROM events GROUP BY 1),
            dn AS (
              SELECT day, x,
                     CAST(date_diff('day', DATE '2024-01-01', day) AS BIGINT)
                       AS dnum
              FROM daily),
            tr AS (
              SELECT day, x, dnum,
                     CASE WHEN count(*) OVER w = 7
                       THEN CAST(sum(x) OVER w // 7 AS BIGINT) END
                       AS trend_cents,
                     CAST(dnum % 7 AS INT) AS dow
              FROM dn
              WINDOW w AS (ORDER BY dnum
                RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
            dm AS (
              SELECT dow,
                     CAST(sum(x - trend_cents) // count(*) AS BIGINT)
                       AS seas_cents
              FROM tr WHERE trend_cents IS NOT NULL GROUP BY 1),
            resid AS (
              SELECT t.day, t.x,
                     CAST(t.x - t.trend_cents - m.seas_cents AS BIGINT)
                       AS resid_cents
              FROM tr t JOIN dm m ON m.dow = t.dow
              WHERE t.trend_cents IS NOT NULL),
            rr AS (
              SELECT *, CAST(row_number() OVER (ORDER BY resid_cents, day)
                       AS BIGINT) AS rk,
                     CAST(count(*) OVER () AS BIGINT) AS n
              FROM resid),
            med AS (
              SELECT CAST(sum(CASE WHEN rk = (n + 1) // 2
                         THEN resid_cents END)
                     + sum(CASE WHEN rk = n // 2 + 1
                         THEN resid_cents END) AS BIGINT) AS med2
              FROM rr),
            devs AS (
              SELECT r.day, r.x, r.resid_cents,
                     abs(r.resid_cents * 2 - m.med2) AS dev2
              FROM resid r, med m),
            dr AS (
              SELECT *, CAST(row_number() OVER (ORDER BY dev2, day)
                       AS BIGINT) AS rk,
                     CAST(count(*) OVER () AS BIGINT) AS n
              FROM devs),
            mad AS (
              SELECT CAST(sum(CASE WHEN rk = (n + 1) // 2 THEN dev2 END)
                     + sum(CASE WHEN rk = n // 2 + 1 THEN dev2 END)
                       AS BIGINT) AS mad4
              FROM dr)
            SELECT d.day, d.x, d.resid_cents,
                   CAST(CASE WHEN m.mad4 > 0
                     THEN (2000 * d.dev2) // m.mad4 ELSE 0 END AS BIGINT)
                     AS score_milli,
                   (m.mad4 > 0 AND d.dev2 * 4 > m.mad4 * 5) AS is_anomaly
            FROM devs d, mad m ORDER BY d.day"""))

  // ---------------------------------------- sliding distinct (DAU/WAU) --

  /** Sliding distinct users — DAU, trailing-7-day WAU, and the DAU/WAU
    * stickiness ratio per day: the engagement dashboard's headline numbers,
    * and SQL's classic hard case (COUNT(DISTINCT) doesn't compose over
    * sliding windows — yesterday's WAU can't be updated, only re-derived).
    * The engine way: collapse to distinct (user, day) pairs once, then each
    * pair COVERS the 7 window anchors it contributes to (a bounded ×7
    * map-only explode — the inverted form that turns a windowed distinct
    * into a plain per-anchor distinct agg), count distinct per anchor day,
    * and clamp anchors past the stream end.
    *
    * Scale: the cover explode is 7× the user-day table (already collapsed,
    * ≪ events); the per-anchor distinct is a two-level agg Spark
    * partial-aggregates. At 100 TB with big windows (MAU: ×30), swap the
    * exact distinct for an HLL per anchor (q_agg_sketch_merge's shape) and
    * keep this exact form for audit days.
    */
  private val qEventsSlidingDistinct = GQuery(
    (s, d) => {
      val ud = t(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
        .localCheckpoint(true)
      val bounds = ud.agg(max("day").as("gd"))
      val dau = ud.groupBy("day").agg(countDistinct("user_id").as("dau"))
      val wau = ud
        .select(col("user_id"), explode(sequence(lit(0), lit(6))).as("i"),
          col("day"))
        .select(col("user_id"), expr("date_add(day, CAST(i AS INT))").as("day"))
        .crossJoin(broadcast(bounds))
        .filter(col("day") <= col("gd"))
        .groupBy("day").agg(countDistinct("user_id").as("wau7"))
      dau.join(wau, "day")
        .select(col("day"), col("dau"), col("wau7"),
          expr("dau * 1000000 div wau7").as("stickiness_ppm"))
        .orderBy("day")
    },
    Some("""WITH ud AS (
              SELECT DISTINCT user_id,
                     CAST(date_trunc('day', ts) AS DATE) AS day
              FROM events),
            bounds AS (SELECT max(day) AS gd FROM ud),
            dau AS (
              SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
              FROM ud GROUP BY 1),
            cover AS (
              SELECT ud.user_id, ud.day + CAST(i.i AS INT) AS day
              FROM ud, (SELECT unnest(range(7)) AS i) i, bounds
              WHERE ud.day + CAST(i.i AS INT) <= bounds.gd),
            wau AS (
              SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau7
              FROM cover GROUP BY 1)
            SELECT d.day, d.dau, w.wau7,
                   CAST(d.dau * 1000000 // w.wau7 AS BIGINT)
                     AS stickiness_ppm
            FROM dau d JOIN wau w ON w.day = d.day
            ORDER BY d.day"""))

  /** Sliding approx-distinct — the MAU path q_events_sliding_distinct's
    * scaladoc commits to: a 30-day trailing window would ×30 the exact
    * cover explode of the user-day table, so the sketch form builds ONE
    * DataSketches HLL per calendar day (lgK=14, rsd ≈ 0.81%) and the ×30
    * expansion happens on the DAY-GRID SKETCH TABLE (≤ #days rows of
    * ~16 KB sketches), whose per-anchor union re-derives any window for
    * free — the sketch-merge property that makes windowed distinct
    * maintainable at 100 TB (yesterday's daily sketches never rebuild;
    * a new day appends one sketch and re-unions 30 grid rows per anchor).
    * Validated the q_agg_approx way: sketch internals can't hash
    * cross-engine, so the emitted columns are the EXACT MAU (the audit
    * twin — here the ×30 explode is the sanctioned truth side, sampled
    * at production scale) and a 5σ bounds flag on the estimate
    * (5·0.81% ≈ 4%, margined to 5% + 5 absolute for sparse early days
    * where the sketch is exact anyway).
    */
  private val qEventsSlidingDistinctApprox = GQuery(
    (s, d) => {
      val ud = t(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
        .localCheckpoint(true)
      val bounds = ud.agg(max("day").as("gd"))
      // production path: one HLL per day, ×30 cover on the SKETCH table
      val daySk = ud.groupBy("day")
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      val approx = daySk
        .select(col("sk"), explode(sequence(lit(0), lit(29))).as("i"),
          col("day"))
        .select(col("sk"), expr("date_add(day, CAST(i AS INT))").as("day"))
        .crossJoin(broadcast(bounds))
        .filter(col("day") <= col("gd"))
        .groupBy("day")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("mau_approx"))
      // audit twin: exact 30-day cover (the recall-gauge economics — at
      // scale this side runs on sampled audit days, the sketch side ships)
      val exact = ud
        .select(col("user_id"), explode(sequence(lit(0), lit(29))).as("i"),
          col("day"))
        .select(col("user_id"), expr("date_add(day, CAST(i AS INT))").as("day"))
        .crossJoin(broadcast(bounds))
        .filter(col("day") <= col("gd"))
        .groupBy("day").agg(countDistinct("user_id").as("mau30"))
      exact.join(approx, "day")
        .select(col("day"), col("mau30"),
          (abs(col("mau_approx") - col("mau30"))
            <= col("mau30") * 0.05 + 5).as("mau_ok"))
        .orderBy("day")
    },
    Some("""WITH ud AS (
              SELECT DISTINCT user_id,
                     CAST(date_trunc('day', ts) AS DATE) AS day
              FROM events),
            bounds AS (SELECT max(day) AS gd FROM ud),
            cover AS (
              SELECT ud.user_id, ud.day + CAST(i.i AS INT) AS day
              FROM ud, (SELECT unnest(range(30)) AS i) i, bounds
              WHERE ud.day + CAST(i.i AS INT) <= bounds.gd)
            SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS mau30,
                   true AS mau_ok
            FROM cover GROUP BY 1 ORDER BY day"""))

  // ----------------------------------------------------- QQ comparison --

  /** Decile QQ table of weekend vs weekday purchase values — the
    * distribution-comparison READOUT next to the ks/mannwhitney TESTS (a
    * test says "different"; the QQ table says WHERE — tails, shift, or
    * spread): per side, the nine decile values as exact lower order
    * statistics selected from the value grid (per-delay counts → running
    * total → first value reaching ⌈n·p/10⌉, the funnel_latency machinery —
    * no percentile_approx, no row sort), weekend from the pure-integer
    * epoch-day mod 7 (q_stats_mannwhitney rule). Emits per decile both
    * sides and the signed gap.
    *
    * Scale: two value-grid aggs + grid-partitioned running sums + a 9-row
    * broadcast probe per side — auc economics; the decile probe
    * generalizes to any quantile set without replanning.
    */
  private val qStatsQq = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val dnum = datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
      val grid = t(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(when(pmod(dnum, lit(7)) >= 5, lit("weekend"))
          .otherwise(lit("weekday")).as("grp"), cents.as("v"))
        .groupBy("grp", "v").agg(count(lit(1L)).as("cnt"))
        .localCheckpoint(true)
      val wCum = Window.partitionBy("grp").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = grid.withColumn("cum", sum("cnt").over(wCum))
      val sizes = grid.groupBy("grp").agg(sum("cnt").as("n"))
      val deciles = (1 to 9).map(p => s"($p)").mkString(", ")
      val probes = cum.sparkSession.sql(
        s"SELECT * FROM VALUES $deciles AS t(p)")
      val qs = cum.join(broadcast(sizes), "grp")
        .crossJoin(broadcast(probes))
        .filter(col("cum") * 10 >= col("n") * col("p"))
        .groupBy("grp", "p").agg(min("v").as("q"))
      qs.filter(col("grp") === "weekday")
        .select(col("p"), col("q").as("weekday_cents"))
        .join(qs.filter(col("grp") === "weekend")
          .select(col("p").as("p2"), col("q").as("weekend_cents")),
          col("p") === col("p2"))
        .select(col("p").cast("int").as("decile"), col("weekday_cents"),
          col("weekend_cents"),
          (col("weekend_cents") - col("weekday_cents")).as("gap_cents"))
        .orderBy("decile")
    },
    Some("""WITH rows_ AS (
              SELECT CASE WHEN CAST(date_diff('day', DATE '2024-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) % 7
                       >= 5
                     THEN 'weekend' ELSE 'weekday' END AS grp,
                     CAST(round(value * 100) AS BIGINT) AS v
              FROM events WHERE event_type = 'purchase'),
            grid AS (
              SELECT grp, v, CAST(count(*) AS BIGINT) AS cnt
              FROM rows_ GROUP BY 1, 2),
            cum AS (
              SELECT grp, v, cnt,
                     CAST(sum(cnt) OVER (PARTITION BY grp ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum
              FROM grid),
            sizes AS (SELECT grp, CAST(sum(cnt) AS BIGINT) AS n
                      FROM grid GROUP BY 1),
            probes AS (SELECT unnest(range(1, 10)) AS p),
            qs AS (
              SELECT c.grp, p.p, min(c.v) AS q
              FROM cum c JOIN sizes s ON s.grp = c.grp
              CROSS JOIN probes p
              WHERE c.cum * 10 >= s.n * p.p
              GROUP BY 1, 2)
            SELECT CAST(wd.p AS INT) AS decile,
                   wd.q AS weekday_cents, we.q AS weekend_cents,
                   CAST(we.q - wd.q AS BIGINT) AS gap_cents
            FROM qs wd JOIN qs we ON we.p = wd.p
              AND wd.grp = 'weekday' AND we.grp = 'weekend'
            ORDER BY decile"""))

  // -------------------------------------------- bitmap exact distinct --

  /** Roaring-bitmap-style EXACT distinct counting — the mergeable exact
    * alternative to HLL (q_agg_sketch_merge re-aggregates approximate
    * sketches; bitmaps re-aggregate EXACTLY when the id space is dense):
    * users pack into 32-bit words (word = id div 32, bit = id mod 32 — 32
    * not 64 because a set bit 63 overflows DuckDB's left shift; 32-bit
    * words also never touch the BIGINT sign bit), built as DAILY partials
    * and OR-merged across days — proving the re-aggregation property the
    * whole pattern exists for (yesterday's bitmap never rebuilds) — then
    * popcounted. The exact COUNT(DISTINCT) twin rides the same scan and
    * pins bitmap ≡ exact per type.
    *
    * Scale: state per (group, word) is 8 bytes for 32 ids — dense id
    * spaces beat HLL on both size and exactness; sparse/huge id spaces are
    * HLL's territory (or dictionary-encode ids first). bit_or partials
    * combine map-side in any order.
    */
  private val qAggBitmap = GQuery(
    (s, d) => {
      val daily = t(s, d, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"),
          expr("user_id div 32").as("word"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))")
            .as("bit"))
        .groupBy("event_type", "day", "word")
        .agg(expr("bit_or(bit)").as("bm"))
      val merged = daily.groupBy("event_type", "word")
        .agg(expr("bit_or(bm)").as("bm"))
        .groupBy("event_type")
        .agg(count(lit(1L)).as("n_words"),
          sum(expr("bit_count(bm)")).cast("long").as("distinct_bitmap"))
      val exact = t(s, d, "events")
        .groupBy("event_type")
        .agg(countDistinct("user_id").as("distinct_exact"))
      merged.join(exact, "event_type")
        .select(col("event_type"), col("n_words"), col("distinct_bitmap"),
          col("distinct_exact"),
          (col("distinct_bitmap") === col("distinct_exact")).as("agree"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                     user_id // 32 AS word,
                     bit_or(1::BIGINT << CAST(user_id % 32 AS INT)) AS bm
              FROM events GROUP BY 1, 2, 3),
            merged AS (
              SELECT event_type, word, bit_or(bm) AS bm
              FROM daily GROUP BY 1, 2),
            agg AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n_words,
                     CAST(sum(bit_count(bm)) AS BIGINT) AS distinct_bitmap
              FROM merged GROUP BY 1),
            exact AS (
              SELECT event_type,
                     CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_exact
              FROM events GROUP BY 1)
            SELECT a.event_type, a.n_words, a.distinct_bitmap,
                   e.distinct_exact,
                   a.distinct_bitmap = e.distinct_exact AS agree
            FROM agg a JOIN exact e ON e.event_type = a.event_type
            ORDER BY a.event_type"""))

  // ----------------------------------------- SCD2 incremental maintenance --

  /** CDC → SCD2 apply: maintain a type-2 "current segment" dimension (each
    * user's event_type runs, versioned by change points) INCREMENTALLY — a
    * delta batch (days 21+) is applied against only the dimension's OPEN
    * rows: history-internal versions are untouched, open rows close at the
    * user's first delta change, and delta-internal versions append. The
    * oracle rebuilds the dimension from the full stream — pinning
    * apply(history, delta) ≡ rebuild(all), the lakehouse MERGE-into-SCD2
    * correctness property (the companion of q_join_incremental /
    * q_agg_incremental: this is the SLOWLY-CHANGING state it maintains).
    *
    * The boundary case is the whole op: a delta row only opens a version if
    * its type differs from the user's OPEN status (join against open rows,
    * never history), and a brand-new user's first row always does.
    *
    * Scale: the delta path touches delta rows + |users-in-delta| open rows
    * — history versions are never rescanned or rewritten (dynamic
    * overwrite of the open partition in a real table); windows partition
    * by user.
    */
  private val qScd2Apply = GQuery(
    (s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_type").as("st"), col("event_id"),
          unix_timestamp(col("ts")).as("sec"),
          to_date(col("ts")).as("day"))
      val cut = lit("2024-01-21").cast("date")
      val wAll = Window.partitionBy("user_id").orderBy("sec", "event_id")
      // history side: versions from change detection within days <= 20
      val histCh = ev.filter(col("day") < cut)
        .withColumn("prev", lag("st", 1).over(wAll))
        .filter(col("prev").isNull || col("prev") =!= col("st"))
        .localCheckpoint(true)
      val wCh = Window.partitionBy("user_id").orderBy("sec", "event_id")
      val histIv = histCh
        .select(col("user_id"), col("st"), col("event_id"),
          col("sec").as("valid_from"),
          lead("sec", 1).over(wCh).as("valid_to"))
      val closedHist = histIv.filter(col("valid_to").isNotNull)
      val open = histIv.filter(col("valid_to").isNull)
        .select(col("user_id"), col("st").as("open_st"),
          col("event_id").as("open_eid"), col("valid_from").as("open_from"))
        .localCheckpoint(true)
      // delta side: change detection against the OPEN status at the seam
      val deltaCh = ev.filter(col("day") >= cut)
        .withColumn("prev", lag("st", 1).over(wAll))
        .join(broadcast(open.select(col("user_id"), col("open_st"))),
          Seq("user_id"), "left")
        .filter(when(col("prev").isNotNull, col("prev") =!= col("st"))
          .otherwise(col("open_st").isNull || col("open_st") =!= col("st")))
        .localCheckpoint(true)
      val deltaIv = deltaCh
        .select(col("user_id"), col("st"), col("event_id"),
          col("sec").as("valid_from"),
          lead("sec", 1).over(wCh).as("valid_to"))
      val firstCh = deltaCh.groupBy("user_id")
        .agg(min(struct(col("sec"), col("event_id"))).as("f"))
        .select(col("user_id"), col("f.sec").as("close_at"))
      val openApplied = open.join(broadcast(firstCh), Seq("user_id"), "left")
        .select(col("user_id"), col("open_st").as("st"),
          col("open_eid").as("event_id"), col("open_from").as("valid_from"),
          col("close_at").as("valid_to"))
      closedHist.unionByName(openApplied).unionByName(deltaIv)
        .select(col("user_id"), col("st").as("status"), col("event_id"),
          col("valid_from"), col("valid_to"),
          col("valid_to").isNull.as("is_current"))
        .orderBy("user_id", "valid_from", "event_id")
    },
    Some("""WITH e AS (
              SELECT user_id, event_type AS st, event_id,
                     CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
              FROM events),
            ch AS (
              SELECT * FROM (
                SELECT user_id, st, event_id, sec,
                       lag(st) OVER (PARTITION BY user_id
                         ORDER BY sec, event_id) AS prev
                FROM e)
              WHERE prev IS NULL OR prev <> st),
            iv AS (
              SELECT user_id, st AS status, event_id, sec AS valid_from,
                     lead(sec) OVER (PARTITION BY user_id
                       ORDER BY sec, event_id) AS valid_to
              FROM ch)
            SELECT user_id, status, event_id, valid_from, valid_to,
                   valid_to IS NULL AS is_current
            FROM iv
            ORDER BY user_id, valid_from, event_id"""))

  // ------------------------------------------- timezone day boundaries --

  /** Timezone-aware daily rollup — the calendar-boundary correctness check
    * every "daily revenue" dashboard silently depends on: the same stream
    * aggregated by UTC day vs America/New_York day (UTC−5; January has no
    * DST transition, so the static offset IS the zone rule for this window
    * — production swaps in full zone rules, the arithmetic shape is
    * identical, and this is the q_partition_time sink partitioner's tz
    * option surfaced as a query). Late-evening UTC events belong to the
    * PREVIOUS New York day; the per-day deltas quantify how much revenue
    * "moves" across midnight — nonzero deltas are exactly why mixing zones
    * across pipeline stages corrupts daily metrics.
    *
    * Scale: two map-side-combinable day aggs over one scan + a full-outer
    * join on the ≤ #days grid.
    */
  private val qEventsTimezone = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val base = t(s, d, "events")
        .select(col("ts"), cents.as("v"))
        .select(to_date(col("ts")).as("day_utc"),
          to_date(col("ts") - expr("INTERVAL 5 HOURS")).as("day_ny"),
          col("v"))
        .localCheckpoint(true)
      val utc = base.groupBy(col("day_utc").as("day"))
        .agg(sum("v").as("rev_utc_cents"), count(lit(1L)).as("n_utc"))
      val ny = base.groupBy(col("day_ny").as("day"))
        .agg(sum("v").as("rev_ny_cents"), count(lit(1L)).as("n_ny"))
      utc.join(ny, Seq("day"), "full_outer")
        .select(col("day"),
          coalesce(col("rev_utc_cents"), lit(0L)).as("rev_utc_cents"),
          coalesce(col("rev_ny_cents"), lit(0L)).as("rev_ny_cents"),
          (coalesce(col("rev_ny_cents"), lit(0L)) -
            coalesce(col("rev_utc_cents"), lit(0L))).as("moved_cents"),
          coalesce(col("n_utc"), lit(0L)).as("n_utc"),
          coalesce(col("n_ny"), lit(0L)).as("n_ny"))
        .orderBy("day")
    },
    Some("""WITH base AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS day_utc,
                     CAST(date_trunc('day', ts - INTERVAL 5 HOUR) AS DATE)
                       AS day_ny,
                     CAST(round(value * 100) AS BIGINT) AS v
              FROM events),
            utc AS (
              SELECT day_utc AS day, CAST(sum(v) AS BIGINT) AS rev_utc_cents,
                     CAST(count(*) AS BIGINT) AS n_utc
              FROM base GROUP BY 1),
            ny AS (
              SELECT day_ny AS day, CAST(sum(v) AS BIGINT) AS rev_ny_cents,
                     CAST(count(*) AS BIGINT) AS n_ny
              FROM base GROUP BY 1)
            SELECT coalesce(u.day, n.day) AS day,
                   CAST(coalesce(u.rev_utc_cents, 0) AS BIGINT)
                     AS rev_utc_cents,
                   CAST(coalesce(n.rev_ny_cents, 0) AS BIGINT)
                     AS rev_ny_cents,
                   CAST(coalesce(n.rev_ny_cents, 0)
                     - coalesce(u.rev_utc_cents, 0) AS BIGINT) AS moved_cents,
                   CAST(coalesce(u.n_utc, 0) AS BIGINT) AS n_utc,
                   CAST(coalesce(n.n_ny, 0) AS BIGINT) AS n_ny
            FROM utc u FULL OUTER JOIN ny n ON n.day = u.day
            ORDER BY day"""))

  // ----------------------------------------------- TOST equivalence test --

  /** TOST equivalence testing (two one-sided Welch t's against a ±$2
    * margin) — the launch-review decision q_stats_abtest CANNOT make: a
    * non-significant difference is not evidence of equivalence; TOST
    * positively demonstrates "no worse/better than δ" by rejecting both
    * one-sided nulls. Per event type: t_lo = (Δ+δ)/se must exceed +1.645
    * AND t_hi = (Δ−δ)/se must fall below −1.645 (α = 0.05 one-sided). The
    * equivalence flag derives from the ROUNDED t's (the q_stats_cohend
    * rule) so both engines classify identically; moments are exact
    * DECIMAL(38) sums, fp only in the final chain.
    *
    * Scale: abtest economics exactly — one map-side-combined conditional
    * agg carrying both arms.
    */
  private val qStatsTost = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      def arm(a: Int, c: org.apache.spark.sql.Column) =
        sum(when(pmod(col("user_id"), lit(2)) === a, c).otherwise(lit(0L))
          .cast("decimal(38,0)"))
      val g = t(s, d, "events")
        .groupBy("event_type")
        .agg(
          sum(when(pmod(col("user_id"), lit(2)) === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(pmod(col("user_id"), lit(2)) === 1, 1L).otherwise(0L)).as("n_b"),
          arm(0, cents).as("s_a"), arm(1, cents).as("s_b"),
          arm(0, cents * cents).as("ss_a"), arm(1, cents * cents).as("ss_b"))
      // degenerate arms (n ≤ 1, e.g. a single-row group): Welch variance
      // and the mean diff are div-by-zero — NULL, matching DuckDB's quiet
      // double-div-by-zero NULL (Spark ANSI would throw instead)
      val va = when(col("n_a") > 1,
        (col("n_a") * col("ss_a") - col("s_a") * col("s_a")).cast("double") /
          (col("n_a") * col("n_a") * (col("n_a") - 1)).cast("double"))
      val vb = when(col("n_b") > 1,
        (col("n_b") * col("ss_b") - col("s_b") * col("s_b")).cast("double") /
          (col("n_b") * col("n_b") * (col("n_b") - 1)).cast("double"))
      val deltaD = when(col("n_a") > 0 && col("n_b") > 0,
        col("s_a").cast("double") / col("n_a") -
          col("s_b").cast("double") / col("n_b"))
      val se0 = sqrt(va + vb)
      val se = when(se0 =!= 0.0, se0) // zero-variance arms: t is x/0 — NULL
      val margin = lit(200.0) // $2 in cents
      g.select(col("event_type"), col("n_a"), col("n_b"),
          dround(deltaD / 100.0, 4).as("diff_dollars"),
          dround((deltaD + margin) / se, 4).as("t_lo"),
          dround((deltaD - margin) / se, 4).as("t_hi"))
        .withColumn("equivalent",
          col("t_lo") > 1.645 && col("t_hi") < -1.645)
        .orderBy("event_type")
    },
    Some("""WITH g AS (
              SELECT event_type,
                     CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_a,
                     CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_b,
                     sum(CASE WHEN user_id % 2 = 0
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS s_a,
                     sum(CASE WHEN user_id % 2 = 1
                       THEN CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS s_b,
                     sum(CASE WHEN user_id % 2 = 0
                       THEN CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
                         * CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS ss_a,
                     sum(CASE WHEN user_id % 2 = 1
                       THEN CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
                         * CAST(round(value * 100) AS BIGINT)
                       ELSE 0 END) AS ss_b
              FROM events GROUP BY 1),
            f AS (
              SELECT event_type, n_a, n_b,
                     CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b
                       AS delta,
                     sqrt(CAST(n_a * ss_a - s_a * s_a AS DOUBLE)
                            / CAST(n_a * n_a * (n_a - 1) AS DOUBLE)
                          + CAST(n_b * ss_b - s_b * s_b AS DOUBLE)
                            / CAST(n_b * n_b * (n_b - 1) AS DOUBLE)) AS se
              FROM g),
            r AS (
              SELECT event_type, n_a, n_b,
                     CAST(round(CAST(delta / 100.0 AS DECIMAL(30,8)), 4)
                       AS DOUBLE) AS diff_dollars,
                     CAST(round(CAST((delta + 200.0) / se AS DECIMAL(30,8)),
                       4) AS DOUBLE) AS t_lo,
                     CAST(round(CAST((delta - 200.0) / se AS DECIMAL(30,8)),
                       4) AS DOUBLE) AS t_hi
              FROM f)
            SELECT event_type, n_a, n_b, diff_dollars, t_lo, t_hi,
                   t_lo > 1.645 AND t_hi < -1.645 AS equivalent
            FROM r ORDER BY event_type"""))

  // ------------------------------------------------------ one-way ANOVA --

  /** One-way ANOVA F across the five event types — the parametric
    * completion of the k-sample family (q_stats_kruskal is its rank-based
    * sibling; ANOVA answers the same "do the group means differ" with the
    * variance decomposition every experiment platform reports): SSB and
    * SSW from exact per-group DECIMAL(38) moment sums, F = (SSB/(k−1)) /
    * (SSW/(N−k)); fp enters only in the final casts with mirrored
    * parenthesization (corrmatrix rule), and significance derives from the
    * ROUNDED F (cohend rule).
    *
    * Scale: one map-side-combined per-type agg + a k-row rollup — the
    * entire decomposition is six exact sums per group.
    */
  /** Distribution-free median confidence interval per event type — the
    * ORDER-STATISTIC CI (binomial argument: rank bounds
    * l = ⌊(n − z√n)/2⌋, u = n + 1 − l at z = 1.96) that needs no
    * normality and no bootstrap resampling: the interval endpoints are
    * actual data values selected by rank from the value-grid cumulative
    * counts. √n is the only fp (IEEE sqrt, identical both engines →
    * identical integer ranks); everything else — ranks, the median
    * (lower-median rank ⌈n/2⌉), both endpoints — is exact integer
    * selection. The bootstrap twin (q_stats_bootstrap) estimates the
    * same uncertainty by resampling; this is the closed-form check.
    *
    * Scale: one (type, value) grid agg + grid-sized cumulative windows
    * partitioned by type (the spearman rank-map economics) + a k-row
    * selection join — never a row-level sort.
    */
  private val qStatsMedianci = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val grid = t(s, d, "events")
        .groupBy(col("event_type"), cents.as("v"))
        .agg(count(lit(1L)).as("c"))
      val wV = Window.partitionBy("event_type").orderBy("v")
      val ranked = grid
        .withColumn("cum", sum("c").over(wV))
        .localCheckpoint(true) // three rank-selection probes reuse it
      val bounds = ranked.groupBy("event_type")
        .agg(sum("c").as("n"))
        .withColumn("lo_rk", expr(
          """CAST(floor((CAST(n AS DOUBLE) - 1.96 * sqrt(CAST(n AS DOUBLE)))
             / 2.0) AS BIGINT)"""))
        .withColumn("lo_rk", greatest(col("lo_rk"), lit(1L)))
        .withColumn("hi_rk", col("n") + 1 - col("lo_rk"))
        .withColumn("med_rk", expr("(n + 1) div 2"))
      def pick(rk: String, out: String) = ranked
        .join(bounds.select(col("event_type"), col(rk).as("rk")),
          "event_type")
        .filter(col("cum") >= col("rk"))
        .groupBy("event_type").agg(min("v").as(out))
      bounds
        .join(pick("med_rk", "median_cents"), "event_type")
        .join(pick("lo_rk", "ci_lo_cents"), "event_type")
        .join(pick("hi_rk", "ci_hi_cents"), "event_type")
        .select(col("event_type"), col("n"), col("median_cents"),
          col("ci_lo_cents"), col("ci_hi_cents"))
        .orderBy("event_type")
    },
    Some("""WITH grid AS (
              SELECT event_type,
                     CAST(round(value * 100) AS BIGINT) AS v,
                     CAST(count(*) AS BIGINT) AS c
              FROM events GROUP BY 1, 2),
            ranked AS (
              SELECT event_type, v, c,
                     sum(c) OVER (PARTITION BY event_type ORDER BY v
                       RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
              FROM grid),
            bounds AS (
              SELECT event_type, CAST(sum(c) AS BIGINT) AS n,
                     greatest(CAST(floor((CAST(sum(c) AS DOUBLE)
                       - 1.96 * sqrt(CAST(sum(c) AS DOUBLE))) / 2.0)
                       AS BIGINT), 1) AS lo_rk,
                     CAST(sum(c) + 1 AS BIGINT)
                       - greatest(CAST(floor((CAST(sum(c) AS DOUBLE)
                         - 1.96 * sqrt(CAST(sum(c) AS DOUBLE))) / 2.0)
                         AS BIGINT), 1) AS hi_rk,
                     (sum(c) + 1) // 2 AS med_rk
              FROM grid GROUP BY 1),
            med AS (
              SELECT r.event_type, min(r.v) AS median_cents
              FROM ranked r JOIN bounds b USING (event_type)
              WHERE r.cum >= b.med_rk GROUP BY 1),
            lo AS (
              SELECT r.event_type, min(r.v) AS ci_lo_cents
              FROM ranked r JOIN bounds b USING (event_type)
              WHERE r.cum >= b.lo_rk GROUP BY 1),
            hi AS (
              SELECT r.event_type, min(r.v) AS ci_hi_cents
              FROM ranked r JOIN bounds b USING (event_type)
              WHERE r.cum >= b.hi_rk GROUP BY 1)
            SELECT b.event_type, b.n, m.median_cents,
                   l.ci_lo_cents, h.ci_hi_cents
            FROM bounds b JOIN med m USING (event_type)
            JOIN lo l USING (event_type) JOIN hi h USING (event_type)
            ORDER BY event_type"""))

  /** Tukey HSD post-hoc pairwise comparisons — the step AFTER q_stats_anova's
    * omnibus F (which only says "some group differs", never which): all 10
    * event-type pairs against the studentized-range critical value
    * q₀.₀₅(k=5, df→∞) = 3.858 (table literal, the Benford-table rule),
    * with the pooled within-group MSW from exact DECIMAL(38) moments.
    * The five per-group SSW terms add in a FIXED pivot order in both
    * engines (fp addition is not associative; group-sum order is
    * engine-defined — the chrf pivot rule), so q and the significance
    * flag are hash-stable. Emits per pair: means, diff, SE, q (drounded),
    * significant.
    *
    * Scale: one map-combinable moment agg; everything after is k rows →
    * k(k−1)/2 pair rows (bounded by the type grid).
    */
  private val qStatsTukey = GQuery(
    (s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val cents = graft.Exact.cents(col("value"))
      val g = t(s, d, "events")
        .groupBy("event_type")
        .agg(count(lit(1L)).as("n"),
          sum(cents.cast("decimal(38,0)")).as("sx"),
          sum((cents * cents).cast("decimal(38,0)")).as("sxx"))
        .localCheckpoint(true) // feeds the MSW pivot AND both pair sides
      val wideAggs = types.flatMap(ty => Seq(
        sum(when(col("event_type") === ty, col("n"))).as(s"n_$ty"),
        sum(when(col("event_type") === ty, col("sx"))).as(s"sx_$ty"),
        sum(when(col("event_type") === ty, col("sxx"))).as(s"sxx_$ty")))
      def term(ty: String) =
        s"""(CAST(sxx_$ty AS DOUBLE)
             - CAST(sx_$ty AS DOUBLE) * CAST(sx_$ty AS DOUBLE)
               / CAST(n_$ty AS DOUBLE))"""
      val msw = g.agg(wideAggs.head, wideAggs.tail: _*)
        .select(expr(
          s"""(${types.map(term).reduce((a, b) => s"($a + $b)")})
              / CAST(${types.map(ty => s"n_$ty").mkString(" + ")}
                     - 5 AS DOUBLE)""").as("msw"))
        .withColumn("j", lit(1))
      val a = g.select(col("event_type").as("g_a"), col("n").as("na"),
        col("sx").as("sxa")).withColumn("j", lit(1))
      val b = g.select(col("event_type").as("g_b"), col("n").as("nb"),
        col("sx").as("sxb")).withColumn("j", lit(1))
      a.join(b, "j").filter(col("g_a") < col("g_b"))
        .join(broadcast(msw), "j")
        .withColumn("ma", expr("CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE)"))
        .withColumn("mb", expr("CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE)"))
        .withColumn("se", expr(
          """sqrt(msw / 2.0 * (1.0 / CAST(na AS DOUBLE)
             + 1.0 / CAST(nb AS DOUBLE)))"""))
        .withColumn("q", dround(abs(col("ma") - col("mb")) / col("se"), 4))
        .select(col("g_a"), col("g_b"),
          dround(col("ma") - col("mb"), 2).as("diff_cents"),
          dround(col("se"), 2).as("se_cents"),
          col("q"), (col("q") > 3.858).as("significant"))
        .orderBy("g_a", "g_b")
    },
    Some {
      val types = Seq("click", "error", "purchase", "signup", "view")
      def term(ty: String) =
        s"""(CAST(sxx_$ty AS DOUBLE)
             - CAST(sx_$ty AS DOUBLE) * CAST(sx_$ty AS DOUBLE)
               / CAST(n_$ty AS DOUBLE))"""
      s"""WITH g AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                     sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)) AS sx,
                     sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
                       * CAST(round(value * 100) AS BIGINT))
                       AS sxx
              FROM events GROUP BY 1),
            wide AS (
              SELECT ${types.map(ty =>
                s"""max(CASE WHEN event_type = '$ty' THEN n END) AS n_$ty,
                    max(CASE WHEN event_type = '$ty' THEN sx END) AS sx_$ty,
                    max(CASE WHEN event_type = '$ty' THEN sxx END) AS sxx_$ty""")
                .mkString(",\n                     ")}
              FROM g),
            msw AS (
              SELECT (${types.map(term).reduce((x, y) => s"($x + $y)")})
                     / CAST(${types.map(ty => s"n_$ty").mkString(" + ")}
                            - 5 AS DOUBLE) AS msw
              FROM wide),
            pairs AS (
              SELECT a.event_type AS g_a, b.event_type AS g_b,
                     a.n AS na, a.sx AS sxa, b.n AS nb, b.sx AS sxb
              FROM g a JOIN g b ON a.event_type < b.event_type),
            sc AS (
              SELECT g_a, g_b,
                     CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) AS ma,
                     CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE) AS mb,
                     sqrt(m.msw / 2.0 * (1.0 / CAST(na AS DOUBLE)
                       + 1.0 / CAST(nb AS DOUBLE))) AS se
              FROM pairs, msw m),
            qd AS (
              SELECT g_a, g_b, ma, mb, se,
                     CAST(round(CAST(abs(ma - mb) / se AS DECIMAL(30,8)), 4)
                       AS DOUBLE) AS q
              FROM sc)
            SELECT g_a, g_b,
                   CAST(round(CAST(ma - mb AS DECIMAL(30,8)), 2) AS DOUBLE)
                     AS diff_cents,
                   CAST(round(CAST(se AS DECIMAL(30,8)), 2) AS DOUBLE)
                     AS se_cents,
                   q, q > 3.858 AS significant
            FROM qd ORDER BY g_a, g_b"""
    })

  private val qStatsAnova = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val g = t(s, d, "events")
        .groupBy("event_type")
        .agg(count(lit(1L)).as("n"),
          sum(cents.cast("decimal(38,0)")).as("sx"),
          sum((cents * cents).cast("decimal(38,0)")).as("sxx"))
      val roll = g.agg(count(lit(1L)).as("k"), sum("n").as("nt"),
        sum("sx").as("st"),
        sum(col("sxx").cast("double")).as("ssq"),
        sum((col("sx") * col("sx")).cast("double") /
          col("n").cast("double")).as("sgrp"))
      roll.select(col("k").cast("int").as("k"), col("nt").as("n"),
          dround((col("sgrp") - col("st").cast("double") *
            col("st").cast("double") / col("nt").cast("double")) / 1e4, 2)
            .as("ssb_dollars2"),
          dround((col("ssq") - col("sgrp")) / 1e4, 2).as("ssw_dollars2"))
        .withColumn("f_stat", dround(
          (col("ssb_dollars2") / (col("k") - lit(1))) /
            (col("ssw_dollars2") / (col("n").cast("double") - col("k"))), 4))
        .withColumn("significant", col("f_stat") > 2.37)
        .orderBy("k")
    },
    Some("""WITH g AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                     sum(CAST(round(value * 100) AS BIGINT))
                       AS sx,
                     sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
                       * CAST(round(value * 100) AS BIGINT))
                       AS sxx
              FROM events GROUP BY 1),
            roll AS (
              SELECT CAST(count(*) AS BIGINT) AS k,
                     CAST(sum(n) AS BIGINT) AS nt,
                     CAST(sum(sx) AS HUGEINT) AS st,
                     sum(CAST(sxx AS DOUBLE)) AS ssq,
                     sum(CAST(sx * sx AS DOUBLE) / CAST(n AS DOUBLE)) AS sgrp
              FROM g),
            r AS (
              SELECT CAST(k AS INT) AS k, nt AS n,
                     CAST(round(CAST((sgrp - CAST(st AS DOUBLE)
                       * CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)) / 1e4
                       AS DECIMAL(30,8)), 2) AS DOUBLE) AS ssb_dollars2,
                     CAST(round(CAST((ssq - sgrp) / 1e4 AS DECIMAL(30,8)), 2)
                       AS DOUBLE) AS ssw_dollars2
              FROM roll)
            SELECT k, n, ssb_dollars2, ssw_dollars2,
                   CAST(round(CAST((ssb_dollars2 / (k - 1))
                     / (ssw_dollars2 / (CAST(n AS DOUBLE) - k))
                     AS DECIMAL(30,8)), 4) AS DOUBLE) AS f_stat,
                   CAST(round(CAST((ssb_dollars2 / (k - 1))
                     / (ssw_dollars2 / (CAST(n AS DOUBLE) - k))
                     AS DECIMAL(30,8)), 4) AS DOUBLE) > 2.37 AS significant
            FROM r ORDER BY k"""))

  // ------------------------------------------- SLO burn-rate alerting --

  /** Multi-window SLO burn-rate alerting (the Google SRE workbook's
    * error-budget policy) over the event stream — the OPS face of the
    * anomaly family (burst detects spikes vs history; burn rate detects
    * budget exhaustion vs an SLO): with a 99% non-error SLO (budget =
    * 10⁴ ppm), burn = error_ppm / budget computed per trailing 1 h / 6 h /
    * 24 h RANGE window on the integer hour grid (missing hours can't
    * miscount — the q_events_burst rule), all in centi-multiples (exact
    * integer: burn_centi = err·10⁶ div n div 100). Fast-burn PAGE when
    * both 1 h and 6 h ≥ 14.4×; slow-burn TICKET when both 6 h and 24 h ≥
    * 6× — the two-window AND is what kills flappy alerts.
    *
    * Scale: one (hour) partial agg + three RANGE frames over ONE hour-grid
    * sort — the grid is calendar-bounded at any corpus size.
    */
  private val qEventsBurnrate = GQuery(
    (s, d) => {
      val hourly = t(s, d, "events")
        .select(expr("unix_timestamp(ts) div 3600").as("hnum"),
          when(col("event_type") === "error", 1L).otherwise(0L).as("e"))
        .groupBy("hnum")
        .agg(count(lit(1L)).as("n"), sum("e").as("err"))
      def wr(h: Int) = Window.orderBy("hnum").rangeBetween(-(h - 1), 0)
      def burn(h: Int) = {
        val n = sum("n").over(wr(h)); val e = sum("err").over(wr(h))
        when(n > 0L, expr(s"(sum(err) OVER (ORDER BY hnum RANGE BETWEEN " +
          s"${h - 1} PRECEDING AND CURRENT ROW) * 1000000 div " +
          s"sum(n) OVER (ORDER BY hnum RANGE BETWEEN ${h - 1} PRECEDING " +
          s"AND CURRENT ROW)) div 100")).otherwise(0L)
      }
      hourly
        .withColumn("burn1_centi", burn(1))
        .withColumn("burn6_centi", burn(6))
        .withColumn("burn24_centi", burn(24))
        .select(col("hnum"), col("n"), col("err"), col("burn1_centi"),
          col("burn6_centi"), col("burn24_centi"),
          (col("burn1_centi") >= 1440L && col("burn6_centi") >= 1440L)
            .as("page_fast"),
          (col("burn6_centi") >= 600L && col("burn24_centi") >= 600L)
            .as("ticket_slow"))
        .orderBy("hnum")
    },
    Some("""WITH hourly AS (
              SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 3600
                       AS hnum,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0
                       END) AS BIGINT) AS err
              FROM events GROUP BY 1),
            b AS (
              SELECT hnum, n, err,
                     (sum(err) OVER w1 * 1000000 // sum(n) OVER w1) // 100
                       AS burn1_centi,
                     (sum(err) OVER w6 * 1000000 // sum(n) OVER w6) // 100
                       AS burn6_centi,
                     (sum(err) OVER w24 * 1000000 // sum(n) OVER w24) // 100
                       AS burn24_centi
              FROM hourly
              WINDOW w1 AS (ORDER BY hnum RANGE BETWEEN 0 PRECEDING
                            AND CURRENT ROW),
                     w6 AS (ORDER BY hnum RANGE BETWEEN 5 PRECEDING
                            AND CURRENT ROW),
                     w24 AS (ORDER BY hnum RANGE BETWEEN 23 PRECEDING
                            AND CURRENT ROW))
            SELECT hnum, n, err,
                   CAST(burn1_centi AS BIGINT) AS burn1_centi,
                   CAST(burn6_centi AS BIGINT) AS burn6_centi,
                   CAST(burn24_centi AS BIGINT) AS burn24_centi,
                   burn1_centi >= 1440 AND burn6_centi >= 1440 AS page_fast,
                   burn6_centi >= 600 AND burn24_centi >= 600 AS ticket_slow
            FROM b ORDER BY hnum"""))

  // ------------------------------------------------- winsorized means --

  /** Winsorized mean per event type — metric robustness as an OPERATOR
    * (the question every metrics review asks: "is that lift real or three
    * whales?"): clamp values at the exact [p5, p95] order statistics
    * (lower order stats from the value grid — funnel_latency machinery)
    * and recompute the mean EXACTLY on the grid: winsorized sum =
    * Σ_mid v·cnt + p5·n_below + p95·n_above, all BIGINT cents. Emits raw
    * vs winsorized means and the whale effect (their signed gap) — a big
    * gap means the raw metric is tail-driven.
    *
    * Scale: auc economics — one value-grid agg per type, grid-partitioned
    * running sums, threshold selection and the clamped re-agg on the grid;
    * rows are never sorted.
    */
  private val qStatsWinsorize = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val grid = t(s, d, "events")
        .select(col("event_type").as("et"), cents.as("v"))
        .groupBy("et", "v").agg(count(lit(1L)).as("cnt"))
        .localCheckpoint(true)
      val wCum = Window.partitionBy("et").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = grid.withColumn("cum", sum("cnt").over(wCum))
        .localCheckpoint(true)
      val sizes = grid.groupBy("et")
        .agg(sum("cnt").as("n"), sum(col("v") * col("cnt")).as("sv"))
      def thresh(p: Int, nm: String) = cum.join(sizes, "et")
        .filter(col("cum") * 100 >= col("n") * p)
        .groupBy("et").agg(min("v").as(nm))
      val th = thresh(5, "p5").join(thresh(95, "p95"), "et")
      grid.join(broadcast(th), "et").join(sizes, "et")
        .select(col("et"), col("n"), col("sv"), col("p5"), col("p95"),
          (when(col("v") < col("p5"), col("p5"))
            .when(col("v") > col("p95"), col("p95"))
            .otherwise(col("v")) * col("cnt")).as("wv"))
        .groupBy("et", "n", "sv", "p5", "p95")
        .agg(sum("wv").as("swv"))
        .select(col("et").as("event_type"), col("n"),
          col("p5").as("p5_cents"), col("p95").as("p95_cents"),
          expr("sv div n").as("mean_cents"),
          expr("swv div n").as("wmean_cents"),
          expr("swv div n - sv div n").as("whale_cents"))
        .orderBy("event_type")
    },
    Some("""WITH grid AS (
              SELECT event_type AS et,
                     CAST(round(value * 100) AS BIGINT) AS v,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM events GROUP BY 1, 2),
            cum AS (
              SELECT et, v, cnt,
                     CAST(sum(cnt) OVER (PARTITION BY et ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum
              FROM grid),
            sizes AS (
              SELECT et, CAST(sum(cnt) AS BIGINT) AS n,
                     CAST(sum(v * cnt) AS BIGINT) AS sv
              FROM grid GROUP BY 1),
            p5 AS (
              SELECT c.et, min(c.v) AS p5 FROM cum c JOIN sizes s USING (et)
              WHERE c.cum * 100 >= s.n * 5 GROUP BY 1),
            p95 AS (
              SELECT c.et, min(c.v) AS p95 FROM cum c JOIN sizes s USING (et)
              WHERE c.cum * 100 >= s.n * 95 GROUP BY 1),
            w AS (
              SELECT g.et, s.n, s.sv, p5.p5, p95.p95,
                     CAST(sum((CASE WHEN g.v < p5.p5 THEN p5.p5
                               WHEN g.v > p95.p95 THEN p95.p95
                               ELSE g.v END) * g.cnt) AS BIGINT) AS swv
              FROM grid g JOIN sizes s USING (et)
              JOIN p5 USING (et) JOIN p95 USING (et)
              GROUP BY 1, 2, 3, 4, 5)
            SELECT et AS event_type, n, p5 AS p5_cents, p95 AS p95_cents,
                   CAST(sv // n AS BIGINT) AS mean_cents,
                   CAST(swv // n AS BIGINT) AS wmean_cents,
                   CAST(swv // n - sv // n AS BIGINT) AS whale_cents
            FROM w ORDER BY event_type"""))

  // ------------------------------------------- time-decayed aggregates --

  /** Half-life-decayed engagement score (the "trending" counter every
    * recommender/feature store keeps: yesterday counts half as much as ...
    * 7 days ago counts half as much as today): score = Σ events·2^(−age/7)
    * with the irrational decay handled the q_eval_ndcg way — a SHARED
    * 31-row integer micro-weight literal (w(age) = round(2^(−age/7)·10⁶),
    * identical constants in both engines), so the decayed score is an
    * EXACT integer dot product of the (type, age) count grid with the
    * weight table, order-proof and hash-stable. Emits per type the decayed
    * score, the raw count, and the effective-age readout (score/count
    * ratio in ppm — how "fresh" each type's activity is).
    *
    * Scale: one (type, age) partial agg (grid-sized) + a broadcast weight
    * join — the decayed counter maintains incrementally at scale: today's
    * grid row appends, the score re-weights by shifting ages (one
    * metadata-sized re-agg per day), raw events are never rescanned.
    */
  private val qAggDecay = GQuery(
    (s, d) => {
      val ws = (0 to 30).map(a => math.round(math.pow(2.0, -a / 7.0) * 1e6))
      val wCol = array(ws.map(lit): _*)
      val ev = t(s, d, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"))
      val gmax = ev.agg(max("day").as("gd"))
      val grid = ev.crossJoin(broadcast(gmax))
        .select(col("event_type"),
          datediff(col("gd"), col("day")).cast("int").as("age"))
        // 31-day decay horizon: ages past the weight table are weight-0 and
        // dropped EXPLICITLY (the oracle's inner join on w.age does the same)
        // — without this filter a >31-day span over-indexes the array and
        // ANSI throws while DuckDB silently drops, a divergent failure.
        .where(col("age") <= 30)
        .groupBy("event_type", "age").agg(count(lit(1L)).as("cnt"))
      grid
        .withColumn("w_micro", element_at(wCol, col("age") + 1).cast("long"))
        .groupBy("event_type")
        .agg(sum("cnt").as("n_raw"),
          sum(col("cnt") * col("w_micro")).as("score_micro"))
        .select(col("event_type"), col("n_raw"), col("score_micro"),
          expr("score_micro div n_raw").as("freshness_ppm"))
        .orderBy("event_type")
    },
    Some {
      val ws = (0 to 30).map(a => math.round(math.pow(2.0, -a / 7.0) * 1e6))
      val wRows = ws.zipWithIndex.map { case (w, a) => s"($a, $w)" }
        .mkString(", ")
      s"""WITH w(age, w_micro) AS (VALUES $wRows),
            ev AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day
              FROM events),
            g AS (SELECT max(day) AS gd FROM ev),
            grid AS (
              SELECT event_type,
                     CAST(date_diff('day', day, g.gd) AS INT) AS age,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM ev, g GROUP BY 1, 2),
            sc AS (
              SELECT grid.event_type,
                     CAST(sum(grid.cnt) AS BIGINT) AS n_raw,
                     CAST(sum(grid.cnt * w.w_micro) AS BIGINT) AS score_micro
              FROM grid JOIN w ON w.age = grid.age
              GROUP BY 1)
            SELECT event_type, n_raw, score_micro,
                   CAST(score_micro // n_raw AS BIGINT) AS freshness_ppm
            FROM sc ORDER BY event_type"""
    })

  // --------------------------------------------- partial correlation --

  /** Partial correlation r(price, qty | discount) on lineitem — the
    * confounder-aware member of the correlation family (q_stats_corrmatrix
    * reports raw r; the partial r asks what remains after the control
    * variable is regressed out — CUPED's cousin on the measurement side):
    * the three pairwise r's come from ONE scan of exact DECIMAL(38) moment
    * sums (cents/hundredths grids), each dround-snapped BEFORE composing
    * r_xy.z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) — quantize the
    * inputs once, then the final value drounds again (double-snap keeps
    * the composition engine-stable). Emits the three raw r's and the
    * partial.
    *
    * Scale: corrmatrix economics — one partial agg of 9 exact moments, a
    * single-row final chain.
    */
  private val qStatsPartialcorr = GQuery(
    (s, d) => {
      val x = cents(col("l_extendedprice"))
      val y = cents(col("l_quantity"))
      val z = cents(col("l_discount"))
      def dsum(c: org.apache.spark.sql.Column) = sum(c.cast("decimal(38,0)"))
      val m = t(s, d, "lineitem")
        .select(x.as("x"), y.as("y"), z.as("z"))
        .agg(count(lit(1L)).as("n"), dsum(col("x")).as("sx"),
          dsum(col("y")).as("sy"), dsum(col("z")).as("sz"),
          dsum(col("x") * col("x")).as("sxx"),
          dsum(col("y") * col("y")).as("syy"),
          dsum(col("z") * col("z")).as("szz"),
          dsum(col("x") * col("y")).as("sxy"),
          dsum(col("x") * col("z")).as("sxz"),
          dsum(col("y") * col("z")).as("syz"))
      def r(sab: String, sa: String, sb: String, saa: String, sbb: String) =
        dround(
          (col("n").cast("double") * col(sab).cast("double") -
            col(sa).cast("double") * col(sb).cast("double")) /
          (sqrt(col("n").cast("double") * col(saa).cast("double") -
            col(sa).cast("double") * col(sa).cast("double")) *
           sqrt(col("n").cast("double") * col(sbb).cast("double") -
            col(sb).cast("double") * col(sb).cast("double"))), 6)
      m.select(col("n"),
          r("sxy", "sx", "sy", "sxx", "syy").as("r_xy"),
          r("sxz", "sx", "sz", "sxx", "szz").as("r_xz"),
          r("syz", "sy", "sz", "syy", "szz").as("r_yz"))
        .select(col("n"), col("r_xy"), col("r_xz"), col("r_yz"),
          dround((col("r_xy") - col("r_xz") * col("r_yz")) /
            sqrt((lit(1.0) - col("r_xz") * col("r_xz")) *
              (lit(1.0) - col("r_yz") * col("r_yz"))), 6)
            .as("r_partial"))
        .orderBy("n")
    },
    Some("""WITH m AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sx,
                     sum(CAST(round(l_quantity * 100) AS BIGINT)) AS sy,
                     sum(CAST(round(l_discount * 100) AS BIGINT)) AS sz,
                     sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT)
                       * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sxx,
                     sum(CAST(CAST(round(l_quantity * 100) AS BIGINT) AS HUGEINT)
                       * CAST(round(l_quantity * 100) AS BIGINT)) AS syy,
                     sum(CAST(CAST(round(l_discount * 100) AS BIGINT) AS HUGEINT)
                       * CAST(round(l_discount * 100) AS BIGINT)) AS szz,
                     sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT)
                       * CAST(round(l_quantity * 100) AS BIGINT)) AS sxy,
                     sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS HUGEINT)
                       * CAST(round(l_discount * 100) AS BIGINT)) AS sxz,
                     sum(CAST(CAST(round(l_quantity * 100) AS BIGINT) AS HUGEINT)
                       * CAST(round(l_discount * 100) AS BIGINT)) AS syz
              FROM lineitem),
            r AS (
              SELECT n,
                     CAST(round(CAST((n * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                            * CAST(sx AS DOUBLE))
                          * sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                            * CAST(sy AS DOUBLE)))
                       AS DECIMAL(30,8)), 6) AS DOUBLE) AS r_xy,
                     CAST(round(CAST((n * CAST(sxz AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
                       / (sqrt(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                            * CAST(sx AS DOUBLE))
                          * sqrt(n * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE)
                            * CAST(sz AS DOUBLE)))
                       AS DECIMAL(30,8)), 6) AS DOUBLE) AS r_xz,
                     CAST(round(CAST((n * CAST(syz AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE))
                       / (sqrt(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                            * CAST(sy AS DOUBLE))
                          * sqrt(n * CAST(szz AS DOUBLE) - CAST(sz AS DOUBLE)
                            * CAST(sz AS DOUBLE)))
                       AS DECIMAL(30,8)), 6) AS DOUBLE) AS r_yz
              FROM m)
            SELECT n, r_xy, r_xz, r_yz,
                   CAST(round(CAST((r_xy - r_xz * r_yz)
                     / sqrt((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz))
                     AS DECIMAL(30,8)), 6) AS DOUBLE) AS r_partial
            FROM r ORDER BY n"""))

  // ---------------------------------------------- isotonic calibration --

  /** Isotonic (PAV) calibration of the purchase rate over $50 value bins —
    * the non-parametric monotone fit q_stats_calibration reports gaps
    * against (calibration TABLES show miscalibration; the isotonic fit is
    * the standard REPAIR — Zadrozny & Elkan 2002): instead of the
    * sequential pool-adjacent-violators loop, the fit uses the exact
    * minimax identity ŷᵢ = max_{j≤i} min_{k≥i} mean(y_j..y_k) — every
    * interval mean comes from bin-grid prefix sums, quantized ONCE to
    * integer micro rates (both engines share the grid, so the nested
    * max/min over ints is hash-exact and the fit stays monotone by
    * construction). Emits per bin the raw rate next to the isotonic rate —
    * where they differ, PAV pooled adjacent violators.
    *
    * Scale: the corpus collapses to B bins (one partial agg); the B²·B
    * minimax is metadata-sized (B ~ tens for any real calibration grid —
    * the identity's cubic cost buys full distribution-freeness; past B ~
    * 10³ swap in the linear PAV fold, which the EWMA/Holt recursion
    * pattern covers).
    */
  private val qStatsIsotonic = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val bins = t(s, d, "events")
        .select(cents.as("c"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
        .select(expr("c div 5000").cast("int").as("bin"), col("pos"))
        .groupBy("bin").agg(count(lit(1L)).as("n"), sum("pos").as("pos"))
        .localCheckpoint(true)
      // prefix sums over the tiny ordered grid
      val wCum = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pre = bins
        .withColumn("cn", sum("n").over(wCum))
        .withColumn("cp", sum("pos").over(wCum))
        .select(col("bin"), col("n"), col("pos"), col("cn"), col("cp"))
        .localCheckpoint(true)
      // all interval means avg(j..k), j <= k, quantized to micro ints
      val j = pre.select(col("bin").as("j"), (col("cn") - col("n")).as("cnj"),
        (col("cp") - col("pos")).as("cpj"))
      val k = pre.select(col("bin").as("k"), col("cn").as("cnk"),
        col("cp").as("cpk"))
      val ivals = j.crossJoin(k).filter(col("j") <= col("k"))
        .select(col("j"), col("k"),
          expr("(cpk - cpj) * 1000000 div (cnk - cnj)").as("m_micro"))
      // fit_i = max over j<=i of (min over k>=i of m(j,k))
      val binsIdx = pre.select(col("bin").as("i"))
      val inner = binsIdx.join(ivals, col("j") <= col("i") && col("k") >= col("i"))
        .groupBy("i", "j").agg(min("m_micro").as("inner_min"))
      val fit = inner.groupBy("i")
        .agg(max("inner_min").as("iso_micro"))
      pre.join(fit, col("bin") === col("i"))
        .select(col("bin"), col("n"), col("pos"),
          expr("pos * 1000000 div n").as("raw_micro"), col("iso_micro"))
        .orderBy("bin")
    },
    Some("""WITH rows_ AS (
              SELECT CAST(round(value * 100) AS BIGINT) AS c,
                     CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS pos
              FROM events),
            bins AS (
              SELECT CAST(c // 5000 AS INT) AS bin,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(pos) AS BIGINT) AS pos
              FROM rows_ GROUP BY 1),
            pre AS (
              SELECT bin, n, pos,
                     CAST(sum(n) OVER w AS BIGINT) AS cn,
                     CAST(sum(pos) OVER w AS BIGINT) AS cp
              FROM bins
              WINDOW w AS (ORDER BY bin
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            ivals AS (
              SELECT j.bin AS j, k.bin AS k,
                     CAST((k.cp - (j.cp - j.pos)) * 1000000
                       // (k.cn - (j.cn - j.n)) AS BIGINT) AS m_micro
              FROM pre j CROSS JOIN pre k WHERE j.bin <= k.bin),
            inner_ AS (
              SELECT i.bin AS i, v.j, CAST(min(v.m_micro) AS BIGINT)
                       AS inner_min
              FROM pre i JOIN ivals v ON v.j <= i.bin AND v.k >= i.bin
              GROUP BY 1, 2),
            fit AS (
              SELECT i, CAST(max(inner_min) AS BIGINT) AS iso_micro
              FROM inner_ GROUP BY 1)
            SELECT p.bin, p.n, p.pos,
                   CAST(p.pos * 1000000 // p.n AS BIGINT) AS raw_micro,
                   f.iso_micro
            FROM pre p JOIN fit f ON f.i = p.bin
            ORDER BY p.bin"""))

  // ------------------------------------------------- McNemar's test --

  /** McNemar's paired test — did users CHANGE behavior between the first
    * and second half of the window? The unpaired tests (abtest, chisq)
    * can't answer this: pairing each user with themself removes
    * between-user variance entirely, and only the DISCORDANT pairs carry
    * information. Per user: purchased-in-H1 / purchased-in-H2 flags; the
    * 2×2 paired table's b (yes→no) and c (no→yes) cells give
    * χ² = (b−c)²/(b+c), computed as exact integers with a dround-final
    * statistic and the continuity-corrected variant ((|b−c|−1)²/(b+c))
    * alongside; significance derives from the ROUNDED χ² (cohend rule)
    * vs the df=1 critical value 3.841.
    *
    * Scale: one per-user conditional rollup + a 4-cell agg — everything
    * after the user collapse is constant-sized.
    */
  private val qStatsMcnemar = GQuery(
    (s, d) => {
      val half = to_date(col("ts")) < lit("2024-01-16").cast("date")
      val users = t(s, d, "events")
        .select(col("user_id"),
          when(half && col("event_type") === "purchase", 1L).otherwise(0L)
            .as("p1"),
          when(!half && col("event_type") === "purchase", 1L).otherwise(0L)
            .as("p2"))
        .groupBy("user_id")
        .agg((sum("p1") > 0L).cast("long").as("h1"),
          (sum("p2") > 0L).cast("long").as("h2"))
      val cells = users.agg(
        sum(when(col("h1") === 1L && col("h2") === 1L, 1L).otherwise(0L))
          .as("n11"),
        sum(when(col("h1") === 1L && col("h2") === 0L, 1L).otherwise(0L))
          .as("b"),
        sum(when(col("h1") === 0L && col("h2") === 1L, 1L).otherwise(0L))
          .as("c"),
        sum(when(col("h1") === 0L && col("h2") === 0L, 1L).otherwise(0L))
          .as("n00"))
      cells.select(col("n11"), col("b"), col("c"), col("n00"),
          when(col("b") + col("c") > 0L,
            dround((col("b") - col("c")).cast("double") *
              (col("b") - col("c")).cast("double") /
              (col("b") + col("c")).cast("double"), 4)).as("chi2"),
          when(col("b") + col("c") > 0L,
            dround((abs(col("b") - col("c")) - lit(1L)).cast("double") *
              (abs(col("b") - col("c")) - lit(1L)).cast("double") /
              (col("b") + col("c")).cast("double"), 4)).as("chi2_cc"))
        .withColumn("significant", coalesce(col("chi2_cc") > 3.841, lit(false)))
        .orderBy("n11")
    },
    Some("""WITH u AS (
              SELECT user_id,
                     CAST(max(CASE WHEN CAST(date_trunc('day', ts) AS DATE)
                         < DATE '2024-01-16' AND event_type = 'purchase'
                       THEN 1 ELSE 0 END) AS BIGINT) AS h1,
                     CAST(max(CASE WHEN CAST(date_trunc('day', ts) AS DATE)
                         >= DATE '2024-01-16' AND event_type = 'purchase'
                       THEN 1 ELSE 0 END) AS BIGINT) AS h2
              FROM events GROUP BY 1),
            cells AS (
              SELECT CAST(sum(CASE WHEN h1 = 1 AND h2 = 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n11,
                     CAST(sum(CASE WHEN h1 = 1 AND h2 = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS b,
                     CAST(sum(CASE WHEN h1 = 0 AND h2 = 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS c,
                     CAST(sum(CASE WHEN h1 = 0 AND h2 = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n00
              FROM u)
            SELECT n11, b, c, n00,
                   CASE WHEN b + c > 0 THEN
                     CAST(round(CAST(CAST((b - c) AS DOUBLE) * (b - c)
                       / (b + c) AS DECIMAL(30,8)), 4) AS DOUBLE) END
                     AS chi2,
                   CASE WHEN b + c > 0 THEN
                     CAST(round(CAST(CAST((abs(b - c) - 1) AS DOUBLE)
                       * (abs(b - c) - 1) / (b + c) AS DECIMAL(30,8)), 4)
                       AS DOUBLE) END AS chi2_cc,
                   coalesce(CASE WHEN b + c > 0 THEN
                     CAST(round(CAST(CAST((abs(b - c) - 1) AS DOUBLE)
                       * (abs(b - c) - 1) / (b + c) AS DECIMAL(30,8)), 4)
                       AS DOUBLE) END > 3.841, false) AS significant
            FROM cells ORDER BY n11"""))

  // ------------------------------------------------ audience overlap --

  /** Audience-overlap matrix — exact Jaccard between every pair of event
    * types' USER sets (the "do my segments overlap" question behind every
    * audience planner; q_agg_hll_intersect answers it with sketches, this
    * is the exact twin at segment-pair granularity): distinct (type, user)
    * collapse, a type-pair co-membership join counting |A∩B|, sizes
    * broadcast back, |A∪B| by inclusion–exclusion, Jaccard in exact ppm.
    * Each unordered pair emitted once.
    *
    * Scale: the join keys on user_id over the COLLAPSED membership table —
    * co-membership is |users|·(types-per-user choose 2), never
    * |users|²; the type-pair result is k² cells.
    */
  private val qEventsAudience = GQuery(
    (s, d) => {
      val m = t(s, d, "events")
        .select(col("event_type").as("t"), col("user_id")).distinct()
        .localCheckpoint(true)
      val sizes = m.groupBy("t").agg(count(lit(1L)).as("n"))
      val pairs = m.select(col("t").as("ta"), col("user_id"))
        .join(m.select(col("t").as("tb"), col("user_id")), "user_id")
        .filter(col("ta") < col("tb"))
        .groupBy("ta", "tb").agg(count(lit(1L)).as("n_both"))
      pairs
        .join(broadcast(sizes.select(col("t").as("ta"), col("n").as("na"))),
          "ta")
        .join(broadcast(sizes.select(col("t").as("tb"), col("n").as("nb"))),
          "tb")
        .select(col("ta"), col("tb"), col("na"), col("nb"), col("n_both"),
          expr("n_both * 1000000 div (na + nb - n_both)").as("jaccard_ppm"))
        .orderBy("ta", "tb")
    },
    Some("""WITH m AS (
              SELECT DISTINCT event_type AS t, user_id FROM events),
            sizes AS (SELECT t, CAST(count(*) AS BIGINT) AS n
                      FROM m GROUP BY 1),
            pairs AS (
              SELECT a.t AS ta, b.t AS tb, CAST(count(*) AS BIGINT) AS n_both
              FROM m a JOIN m b ON a.user_id = b.user_id AND a.t < b.t
              GROUP BY 1, 2)
            SELECT p.ta, p.tb, sa.n AS na, sb.n AS nb, p.n_both,
                   CAST(p.n_both * 1000000 // (sa.n + sb.n - p.n_both)
                     AS BIGINT) AS jaccard_ppm
            FROM pairs p
            JOIN sizes sa ON sa.t = p.ta
            JOIN sizes sb ON sb.t = p.tb
            ORDER BY p.ta, p.tb"""))

  // ---------------------------------------------------- cohort LTV curve --

  /** Cumulative LTV curve by signup cohort — the revenue companion of
    * q_retention_cohort (retention counts who comes back; LTV accumulates
    * what they're worth, and the curve shape — fast plateau vs steady
    * climb — is what a payback-period decision reads): cohort = ISO week
    * of first event (integer epoch-day div 7 — no engine week()), age =
    * weeks since cohort; per (cohort, age): cohort size, period revenue,
    * and the running cumulative revenue per member in exact cents
    * (cum_cents div size).
    *
    * Scale: one per-user first-seen rollup (broadcast back), one
    * (cohort, age) partial agg, and a cumulative window over the
    * weeks-bounded cohort grid — corpus touched twice, windows
    * metadata-sized.
    */
  private val qEventsLtv = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val ev = t(s, d, "events")
        .select(col("user_id"), cents.as("v"),
          expr("datediff(to_date(ts), DATE '2024-01-01') div 7").as("wk"))
        .localCheckpoint(true)
      val firstWk = ev.groupBy("user_id").agg(min("wk").as("cohort"))
      val sizes = firstWk.groupBy("cohort").agg(count(lit(1L)).as("n_users"))
      val cells = ev.join(firstWk, "user_id")
        .select(col("cohort"), (col("wk") - col("cohort")).as("age"), col("v"))
        .groupBy("cohort", "age").agg(sum("v").as("rev_cents"))
      val wCum = Window.partitionBy("cohort").orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.join(broadcast(sizes), "cohort")
        .withColumn("cum_cents", sum("rev_cents").over(wCum))
        .select(col("cohort").cast("int").as("cohort"),
          col("age").cast("int").as("age"), col("n_users"), col("rev_cents"),
          col("cum_cents"),
          expr("cum_cents div n_users").as("ltv_cents"))
        .orderBy("cohort", "age")
    },
    Some("""WITH ev AS (
              SELECT user_id,
                     CAST(round(value * 100) AS BIGINT) AS v,
                     CAST(date_diff('day', DATE '2024-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) // 7
                       AS wk
              FROM events),
            fw AS (SELECT user_id, min(wk) AS cohort FROM ev GROUP BY 1),
            sizes AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_users
                      FROM fw GROUP BY 1),
            cells AS (
              SELECT fw.cohort, e.wk - fw.cohort AS age,
                     CAST(sum(e.v) AS BIGINT) AS rev_cents
              FROM ev e JOIN fw ON fw.user_id = e.user_id
              GROUP BY 1, 2),
            cum AS (
              SELECT c.cohort, c.age, s.n_users, c.rev_cents,
                     CAST(sum(c.rev_cents) OVER (PARTITION BY c.cohort
                       ORDER BY c.age ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS cum_cents
              FROM cells c JOIN sizes s ON s.cohort = c.cohort)
            SELECT CAST(cohort AS INT) AS cohort, CAST(age AS INT) AS age,
                   n_users, rev_cents, cum_cents,
                   CAST(cum_cents // n_users AS BIGINT) AS ltv_cents
            FROM cum ORDER BY cohort, age"""))

  // ------------------------------------------------- temporal dim join --

  /** Temporal (point-in-time) join against the SCD2 dimension — the query
    * side of q_scd2_apply's maintenance: every purchase is attributed to
    * the user's status version VALID AT the purchase instant
    * (valid_from ≤ t < valid_to, open interval = current) via a user-keyed
    * equi join + interval predicate, then rolled up per status — "what
    * state were customers in when they bought", the question bitemporal
    * tables exist to answer. The dim is the change-point interval build
    * over the user's BROWSING states (non-purchase runs — versioning on
    * all types would trivially self-attribute); a purchase lands in AT
    * MOST one version (intervals partition the timeline; purchases before
    * a user's first browsing event drop on the inner join).
    *
    * Scale: the join keys on user_id (versions-per-user bounded, purchases
    * spread) — never a range self-join; the interval predicate is a
    * residual filter on the keyed join, and at warehouse scale the dim side
    * is the maintained SCD2 table read, not a rebuild.
    */
  private val qJoinTemporal = GQuery(
    (s, d) => {
      // the status dimension tracks the user's BROWSING state (non-purchase
      // event runs) — versioning on all types would trivially attribute
      // every purchase to the 'purchase' version it itself opens
      val ev = t(s, d, "events")
        .filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("event_type").as("st"), col("event_id"),
          unix_timestamp(col("ts")).as("sec"))
        .localCheckpoint(true)
      val wAll = Window.partitionBy("user_id").orderBy("sec", "event_id")
      val dim = ev
        .withColumn("prev", lag("st", 1).over(wAll))
        .filter(col("prev").isNull || col("prev") =!= col("st"))
        .select(col("user_id"), col("st").as("status"),
          col("sec").as("valid_from"),
          lead("sec", 1).over(wAll).as("valid_to"))
      val cents = graft.Exact.cents(col("value"))
      val purchases = t(s, d, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_timestamp(col("ts")).as("psec"),
          cents.as("v"))
      purchases.join(dim, Seq("user_id"))
        .filter(col("psec") >= col("valid_from") &&
          (col("valid_to").isNull || col("psec") < col("valid_to")))
        .groupBy("status")
        .agg(count(lit(1L)).as("n_purchases"),
          sum("v").as("rev_cents"),
          countDistinct("user_id").as("n_users"))
        .orderBy("status")
    },
    Some("""WITH e AS (
              SELECT user_id, event_type AS st, event_id,
                     CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
              FROM events WHERE event_type <> 'purchase'),
            dim AS (
              SELECT user_id, st AS status, sec AS valid_from,
                     lead(sec) OVER (PARTITION BY user_id
                       ORDER BY sec, event_id) AS valid_to
              FROM (
                SELECT *, lag(st) OVER (PARTITION BY user_id
                         ORDER BY sec, event_id) AS prev
                FROM e)
              WHERE prev IS NULL OR prev <> st),
            p AS (
              SELECT user_id,
                     CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS psec,
                     CAST(round(value * 100) AS BIGINT) AS v
              FROM events WHERE event_type = 'purchase')
            SELECT dim.status, CAST(count(*) AS BIGINT) AS n_purchases,
                   CAST(sum(p.v) AS BIGINT) AS rev_cents,
                   CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users
            FROM p JOIN dim ON dim.user_id = p.user_id
              AND p.psec >= dim.valid_from
              AND (dim.valid_to IS NULL OR p.psec < dim.valid_to)
            GROUP BY 1 ORDER BY dim.status"""))

  // ----------------------------------------------- rolling features --

  /** Trailing-window feature extraction — the feature-engineering staple
    * q_feature_pit's as-of join doesn't cover (PIT fetches the LATEST
    * snapshot; rolling features aggregate a sliding horizon): for each
    * purchase, the user's trailing-7-day activity (event count, purchase
    * count, purchase cents) from ONE user-partitioned RANGE window over
    * epoch seconds — O(1) running state per row, no self-join, no
    * per-anchor fan-out. Emitted for the first 40 users (bounded output;
    * the computation runs corpus-wide).
    *
    * Scale: the window partitions on user_id and sorts each user's stream
    * once (sessionize economics); a second horizon is one more frame over
    * the SAME sort, never a second shuffle.
    */
  private val qFeatureRolling = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("sec"),
          col("event_type"), cents.as("v"))
      val w7 = Window.partitionBy("user_id").orderBy("sec")
        .rangeBetween(-7L * 86400L + 1L, 0L)
      val feat = ev
        .withColumn("n_7d", count(lit(1L)).over(w7))
        .withColumn("np_7d", sum(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).over(w7))
        .withColumn("spend_7d", sum(when(col("event_type") === "purchase",
          col("v")).otherwise(0L)).over(w7))
      feat.filter(col("event_type") === "purchase" && col("user_id") < 40)
        .select(col("user_id"), col("event_id"), col("n_7d"), col("np_7d"),
          col("spend_7d"))
        .orderBy("user_id", "event_id")
    },
    Some("""WITH e AS (
              SELECT user_id, event_id,
                     CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
                     event_type,
                     CAST(round(value * 100) AS BIGINT) AS v
              FROM events),
            f AS (
              SELECT user_id, event_id, event_type,
                     CAST(count(*) OVER w AS BIGINT) AS n_7d,
                     CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
                       ELSE 0 END) OVER w AS BIGINT) AS np_7d,
                     CAST(sum(CASE WHEN event_type = 'purchase' THEN v
                       ELSE 0 END) OVER w AS BIGINT) AS spend_7d
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY sec
                RANGE BETWEEN 604799 PRECEDING AND CURRENT ROW))
            SELECT user_id, event_id, n_7d, np_7d, spend_7d
            FROM f WHERE event_type = 'purchase' AND user_id < 40
            ORDER BY user_id, event_id"""))

  // ------------------------------------------- conformal intervals --

  /** Split-conformal prediction intervals for the seasonal-naive forecast —
    * the distribution-free upgrade of a plain point forecast (q_ts_snaive
    * scores accuracy; conformal wraps ANY forecaster in an interval with a
    * finite-sample coverage guarantee, no normality assumed): calibration
    * = days 8..21 scored by the lag-7 forecast, q̂ = the ⌈(n+1)(1−α)⌉-th
    * smallest absolute residual (α = 0.2, exact order statistic on the
    * residual grid), holdout = days 22+ wrapped in ±q̂; emits per holdout
    * day the forecast, interval, truth, and covered flag plus a '__rate'
    * summary row whose flag asserts coverage ≥ 60% — a loose floor under
    * the ~80% expectation, so one unlucky holdout day cannot flip the
    * gate. All exact cents integers.
    *
    * Scale: snaive economics — everything lives on the ≤ #days grid after
    * one partial agg; per-series conformal at scale folds the same shape
    * per key.
    */
  private val qTsConformal = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val daily = t(s, d, "events")
        .select(to_date(col("ts")).as("day"), cents.as("v"))
        .groupBy("day").agg(sum("v").as("x"))
        .withColumn("dnum",
          datediff(col("day"), lit("2024-01-01").cast("date")).cast("long"))
        .localCheckpoint(true)
      val wLag = Window.orderBy("dnum")
      val scored = daily
        .withColumn("fc", lag("x", 7).over(wLag))
        .filter(col("fc").isNotNull)
        .withColumn("ar", abs(col("x") - col("fc")))
        .localCheckpoint(true)
      val calib = scored.filter(col("dnum") < 21L)
      val nCal = calib.agg(count(lit(1L)).as("n"))
      val wR = Window.orderBy(col("ar").asc, col("dnum").asc)
      val qhat = calib.withColumn("rk", row_number().over(wR))
        .crossJoin(broadcast(nCal))
        // ⌈(n+1)(1−α)⌉ with α=1/5: rank = ceil(4(n+1)/5) = (4n+8) div 5
        .filter(col("rk") === expr("(4 * n + 8) div 5"))
        .select(col("ar").as("qhat"))
      val hold = scored.filter(col("dnum") >= 21L)
        .crossJoin(broadcast(qhat))
        .select(col("day").cast("string").as("day"), col("fc"),
          (col("fc") - col("qhat")).as("lo_cents"),
          (col("fc") + col("qhat")).as("hi_cents"), col("x"),
          (col("x") >= col("fc") - col("qhat") &&
            col("x") <= col("fc") + col("qhat")).as("covered"))
      val rate = hold.agg(count(lit(1L)).as("n"),
          sum(col("covered").cast("long")).as("nc"))
        .select(lit("__rate").as("day"), lit(0L).as("fc"),
          col("n").as("lo_cents"), col("nc").as("hi_cents"), lit(0L).as("x"),
          (col("nc") * 5L >= col("n") * 3L).as("covered"))
      hold.unionByName(rate).orderBy("day")
    },
    Some("""WITH daily AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
              FROM events GROUP BY 1),
            dn AS (
              SELECT day, x,
                     CAST(date_diff('day', DATE '2024-01-01', day) AS BIGINT)
                       AS dnum
              FROM daily),
            scored AS (
              SELECT day, x, dnum, fc, abs(x - fc) AS ar FROM (
                SELECT *, lag(x, 7) OVER (ORDER BY dnum) AS fc FROM dn)
              WHERE fc IS NOT NULL),
            calib AS (SELECT * FROM scored WHERE dnum < 21),
            n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM calib),
            qh AS (
              SELECT ar AS qhat FROM (
                SELECT ar, row_number() OVER (ORDER BY ar, dnum) AS rk
                FROM calib), n
              WHERE rk = (4 * n + 8) // 5),
            hold AS (
              SELECT CAST(s.day AS VARCHAR) AS day, s.fc,
                     s.fc - q.qhat AS lo_cents, s.fc + q.qhat AS hi_cents,
                     s.x,
                     s.x >= s.fc - q.qhat AND s.x <= s.fc + q.qhat AS covered
              FROM scored s, qh q WHERE s.dnum >= 21),
            rate AS (
              SELECT '__rate' AS day, CAST(0 AS BIGINT) AS fc,
                     CAST(count(*) AS BIGINT) AS lo_cents,
                     CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
                       AS hi_cents,
                     CAST(0 AS BIGINT) AS x,
                     sum(CASE WHEN covered THEN 1 ELSE 0 END) * 5
                       >= count(*) * 3 AS covered
              FROM hold)
            SELECT * FROM hold UNION ALL SELECT * FROM rate
            ORDER BY day"""))

  // ------------------------------------------------- power analysis --

  /** A/B sample-size calculator (power analysis) from observed variance —
    * the BEFORE-the-experiment arithmetic every platform bakes into its
    * setup flow: n per arm = 2σ²(z_{α/2}+z_β)²/δ² for 80% power at
    * α = 0.05, with the z constants as shared micro-integer literals
    * (1.96 + 0.8416 → 2 801 600 micro — the ndcg literal rule, no normal
    * quantiles computed in-engine) and σ² from exact DECIMAL(38) moments.
    * Emitted per event type for MDE δ = $1 and $2, next to the type's
    * actual per-arm n — the `powered` flag says whether the running
    * experiment COULD even detect that effect, the question
    * q_stats_abtest's t-test silently presumes away.
    *
    * Scale: one map-side-combined per-type moment agg; everything after is
    * k rows.
    */
  private val qStatsPower = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val g = t(s, d, "events")
        .groupBy("event_type")
        .agg(count(lit(1L)).as("n"),
          sum(cents.cast("decimal(38,0)")).as("sx"),
          sum((cents * cents).cast("decimal(38,0)")).as("sxx"))
      // (z_{0.025} + z_{0.2})² in micro² = (1.96 + 0.8416)²·10¹² →
      // integer micro² literal both engines share
      val zsq = 2801600L * 2801600L
      val varD = (col("n").cast("double") * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")) /
        (col("n").cast("double") * col("n").cast("double"))
      val req = (delta: Double) =>
        ceil(lit(2.0) * varD * (zsq.toDouble / 1e12) / (delta * delta))
          .cast("long")
      g.select(col("event_type"), col("n"),
          dround(sqrt(varD) / 100.0, 2).as("sigma_dollars"),
          req(100.0).as("n_req_mde1"), req(200.0).as("n_req_mde2"))
        .withColumn("powered_mde2",
          expr("n div 2") >= col("n_req_mde2"))
        .orderBy("event_type")
    },
    Some("""WITH g AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                     sum(CAST(round(value * 100) AS BIGINT))
                       AS sx,
                     sum(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
                       * CAST(round(value * 100) AS BIGINT))
                       AS sxx
              FROM events GROUP BY 1),
            v AS (
              SELECT event_type, n,
                     (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                       * CAST(sx AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS vr
              FROM g)
            SELECT event_type, n,
                   CAST(round(CAST(sqrt(vr) / 100.0 AS DECIMAL(30,8)), 2)
                     AS DOUBLE) AS sigma_dollars,
                   CAST(ceil(2.0 * vr * (2801600.0 * 2801600.0 / 1e12)
                     / (100.0 * 100.0)) AS BIGINT) AS n_req_mde1,
                   CAST(ceil(2.0 * vr * (2801600.0 * 2801600.0 / 1e12)
                     / (200.0 * 200.0)) AS BIGINT) AS n_req_mde2,
                   n // 2 >= CAST(ceil(2.0 * vr * (2801600.0 * 2801600.0 / 1e12)
                     / (200.0 * 200.0)) AS BIGINT) AS powered_mde2
            FROM v ORDER BY event_type"""))

  // --------------------------------------------- sample-ratio mismatch --

  /** Sample-ratio mismatch (SRM) check — the A/B sanity gate run BEFORE
    * reading any metric (a biased assignment invalidates everything
    * downstream; Kohavi ranks it the #1 trustworthiness check): per event
    * type, the pmod-2 arm counts χ²-tested against the designed 50/50,
    * χ² = (na−nb)²/(na+nb) exact in the numerator, dround final,
    * mismatch = rounded χ² > 3.841 (df 1, α = 0.05); an '__all' row tests
    * the whole assignment. On the hash-split arms this stays false — the
    * negative control a healthy splitter shows.
    *
    * Scale: one conditional count agg; constant rows after.
    */
  private val qStatsSrm = GQuery(
    (s, d) => {
      val per = t(s, d, "events")
        .groupBy("event_type")
        .agg(sum(when(pmod(col("user_id"), lit(2)) === 0, 1L).otherwise(0L))
          .as("na"),
          sum(when(pmod(col("user_id"), lit(2)) === 1, 1L).otherwise(0L))
          .as("nb"))
        .localCheckpoint(true)
      val all = per.agg(sum("na").as("na"), sum("nb").as("nb"))
        .select(lit("__all").as("event_type"), col("na"), col("nb"))
      per.unionByName(all)
        .select(col("event_type"), col("na"), col("nb"),
          dround((col("na") - col("nb")).cast("double") *
            (col("na") - col("nb")).cast("double") /
            (col("na") + col("nb")).cast("double"), 4).as("chi2"))
        .withColumn("mismatch", col("chi2") > 3.841)
        .orderBy("event_type")
    },
    Some("""WITH per AS (
              SELECT event_type,
                     CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS na,
                     CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS nb
              FROM events GROUP BY 1),
            al AS (
              SELECT '__all' AS event_type, CAST(sum(na) AS BIGINT) AS na,
                     CAST(sum(nb) AS BIGINT) AS nb
              FROM per),
            u AS (SELECT * FROM per UNION ALL SELECT * FROM al)
            SELECT event_type, na, nb,
                   CAST(round(CAST(CAST(na - nb AS DOUBLE) * (na - nb)
                     / (na + nb) AS DECIMAL(30,8)), 4) AS DOUBLE) AS chi2,
                   CAST(round(CAST(CAST(na - nb AS DOUBLE) * (na - nb)
                     / (na + nb) AS DECIMAL(30,8)), 4) AS DOUBLE) > 3.841
                     AS mismatch
            FROM u ORDER BY event_type"""))

  // ------------------------------------------------ peak concurrency --

  /** Peak concurrent sessions per day — the capacity-planning sweep-line
    * (max concurrent viewers/connections) the coverage and sessionize
    * operators can't answer: how many sessions are OPEN at the busiest
    * instant of each day? Sessions are the 30-minute-gap sessionization
    * (q_events_session's exact rule); each contributes +1 at its start
    * second and −1 at its end second, ends INCLUSIVE (+1 sorts before −1
    * at the same second, so touching sessions count as concurrent and a
    * single-event session registers). The sweep is day-partitioned: a
    * session spanning midnight feeds a carry-in count to every interior
    * day (sd+1..ed), and peak(d) = carry(d) + max(0, best prefix sum of
    * d's own deltas) — the prefix max is invariant to tie order inside an
    * equal-(sec, delta) group, and the window's (sec, delta desc, user,
    * sid) ordering is total anyway. Emitted: sessions started, carry-in,
    * peak concurrency per epoch day.
    *
    * Scale: sessionization is the user-partitioned lag window (as-of
    * economics); the sweep window partitions by DAY so no global sort
    * ever forms — at 100 TB the hot day is the skew unit, and a day's
    * deltas are 2 rows/session, orders of magnitude below its events.
    * Carry-in explodes only midnight-spanning sessions × their interior
    * days (bounded by the retention window), never event rows.
    */
  private val qEventsConcurrency = GQuery(
    (s, d) => {
      val wOrd = Window.partitionBy("user_id").orderBy("ts_sec", "event_id")
      val sess = t(s, d, "events")
        .select(col("user_id"), col("event_id"),
          unix_timestamp(col("ts")).as("ts_sec"))
        .withColumn("is_new",
          when(col("ts_sec") - lag("ts_sec", 1).over(wOrd) > 1800, 1)
            .otherwise(0))
        .withColumn("sid",
          sum("is_new").over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(min("ts_sec").as("st"), max("ts_sec").as("en"))
        .withColumn("sd", expr("st div 86400"))
        .withColumn("ed", expr("en div 86400"))
        .localCheckpoint(true) // feeds the delta union AND the carry explode
      val deltas = sess.select(col("user_id"), col("sid"),
          col("sd").as("day"), col("st").as("sec"), lit(1L).as("delta"))
        .unionByName(sess.select(col("user_id"), col("sid"),
          col("ed").as("day"), col("en").as("sec"), lit(-1L).as("delta")))
      val wSweep = Window.partitionBy("day")
        .orderBy(col("sec").asc, col("delta").desc, col("user_id").asc,
          col("sid").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sweep = deltas
        .withColumn("run", sum("delta").over(wSweep))
        .groupBy("day")
        .agg(max("run").as("sweep_peak"),
          sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_start"))
      val carry = sess.filter(col("ed") > col("sd"))
        .select(explode(expr("sequence(sd + 1, ed)")).as("day"))
        .groupBy("day").agg(count(lit(1L)).as("carry_in"))
      sweep.join(carry, Seq("day"), "full")
        .select(col("day"),
          coalesce(col("n_start"), lit(0L)).as("n_start"),
          coalesce(col("carry_in"), lit(0L)).as("carry_in"),
          (coalesce(col("carry_in"), lit(0L))
            + greatest(lit(0L), coalesce(col("sweep_peak"), lit(0L))))
            .as("peak_conc"))
        .orderBy("day")
    },
    Some("""WITH e AS (
              SELECT user_id, event_id,
                     CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_sec
              FROM events),
            flagged AS (
              SELECT *, CASE WHEN ts_sec - lag(ts_sec) OVER w > 1800
                             THEN 1 ELSE 0 END AS is_new
              FROM e WINDOW w AS (PARTITION BY user_id
                ORDER BY ts_sec, event_id)),
            sessrows AS (
              SELECT user_id, ts_sec,
                     CAST(sum(is_new) OVER (PARTITION BY user_id
                       ORDER BY ts_sec, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS sid
              FROM flagged),
            spans AS (
              SELECT user_id, sid, min(ts_sec) AS st, max(ts_sec) AS en,
                     min(ts_sec) // 86400 AS sd, max(ts_sec) // 86400 AS ed
              FROM sessrows GROUP BY 1, 2),
            deltas AS (
              SELECT user_id, sid, sd AS day, st AS sec,
                     CAST(1 AS BIGINT) AS delta FROM spans
              UNION ALL
              SELECT user_id, sid, ed AS day, en AS sec,
                     CAST(-1 AS BIGINT) AS delta FROM spans),
            sweep AS (
              SELECT day, CAST(max(run) AS BIGINT) AS sweep_peak,
                     CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_start
              FROM (SELECT day, delta,
                      sum(delta) OVER (PARTITION BY day
                        ORDER BY sec ASC, delta DESC, user_id, sid
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS run
                    FROM deltas) GROUP BY 1),
            carry AS (
              SELECT CAST(i.day AS BIGINT) AS day,
                     CAST(count(*) AS BIGINT) AS carry_in
              FROM spans,
                   LATERAL (SELECT unnest(generate_series(sd + 1, ed))
                     AS day) i
              WHERE ed > sd GROUP BY 1)
            SELECT coalesce(s.day, c.day) AS day,
                   coalesce(s.n_start, 0) AS n_start,
                   coalesce(c.carry_in, 0) AS carry_in,
                   CAST(coalesce(c.carry_in, 0)
                     + greatest(0, coalesce(s.sweep_peak, 0)) AS BIGINT)
                     AS peak_conc
            FROM sweep s FULL JOIN carry c ON s.day = c.day
            ORDER BY 1"""))

  // -------------------------------------------------- Hurst exponent --

  /** Hurst exponent via rescaled-range (R/S) analysis (Hurst 1951,
    * Mandelbrot–Wallis — public) of the daily value series per event
    * type: the long-memory gate (H ≈ 0.5 random walk, H > 0.5 trending/
    * persistent, H < 0.5 mean-reverting) that decides whether yesterday
    * predicts tomorrow — run BEFORE trusting any extrapolating forecast
    * (Holt, snaive). Per window size w ∈ {5, 10, 15}: full blocks of w
    * days, cumulative deviations kept integral by the w-scaling trick
    * (cd_k = w·prefix_k − k·S₁ = w× the true deviation, remainder-free
    * centering — the CUPED/dispersion discipline), R = max cd − min cd,
    * S = √(w·S₂ − S₁²) via the mirrored IEEE-sqrt integer (the w×√w
    * scale factors cancel in R/S exactly), rs_milli = R·1000 div S.
    * H = the OLS slope of milli-nat ln(mean R/S) on ln(w) over the three
    * window sizes — (n·Σxy − ΣxΣy)·10⁶ div (n·Σx² − (Σx)²), exact
    * BIGINT. Zero-variance blocks drop before any division; ln sees
    * greatest(1, ·).
    *
    * Scale: the corpus collapses to the (type, day) grid first (one
    * map-combinable agg); every window after that partitions by
    * (type, w, block) — day-grid-sized, snaive economics. w·S₂ crosses
    * 2⁶³ when daily cent-sums pass ~3·10⁸ — DECIMAL(38) widening rule.
    */
  private val qStatsHurst = GQuery(
    (s, d) => {
      val daily = t(s, d, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"),
          expr("CAST(round(value * 100) AS BIGINT)")
            .as("cents"))
        .groupBy("event_type", "day").agg(sum("cents").as("x"))
      val dmin = daily.agg(min("day").as("d0"))
      val idxd = daily.crossJoin(broadcast(dmin))
        .select(col("event_type"),
          datediff(col("day"), col("d0")).cast("long").as("i"), col("x"))
        .localCheckpoint(true) // swept once per window size below
      val wsDf = s.createDataFrame(
        Seq(Tuple1(5L), Tuple1(10L), Tuple1(15L))).toDF("w")
      val wCum = Window.partitionBy("event_type", "w", "blk").orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val withPref = idxd.crossJoin(broadcast(wsDf))
        .withColumn("blk", expr("i div w"))
        .withColumn("k", expr("i % w + 1"))
        .withColumn("pref", sum("x").over(wCum))
      val bsum = withPref.groupBy("event_type", "w", "blk")
        .agg(count(lit(1L)).as("n"), sum("x").as("s1"),
          sum(col("x") * col("x")).as("s2"))
        .filter(col("n") === col("w")) // full blocks only
      val rs = withPref.join(bsum, Seq("event_type", "w", "blk"))
        .withColumn("cd", col("w") * col("pref") - col("k") * col("s1"))
        .groupBy("event_type", "w", "blk")
        .agg(max("cd").as("cmax"), min("cd").as("cmin"),
          max("s1").as("bs1"), max("s2").as("bs2"))
        .withColumn("std_scaled",
          floor(sqrt((col("w") * col("bs2") - col("bs1") * col("bs1"))
            .cast("double")) + 0.5).cast("long"))
        .filter(col("std_scaled") > 0)
        .withColumn("rs_milli", expr("((cmax - cmin) * 1000) div std_scaled"))
      val perW = rs.groupBy("event_type", "w")
        .agg(expr("sum(rs_milli) div count(1)").as("mean_rs"))
        .withColumn("xm",
          round(log(col("w").cast("double")) * 1000).cast("long"))
        .withColumn("ym",
          round(log(greatest(lit(1L), col("mean_rs")).cast("double") / 1000)
            * 1000).cast("long"))
      perW.groupBy("event_type")
        .agg(count(lit(1L)).as("nw"),
          sum("xm").as("sx"), sum("ym").as("sy"),
          sum(col("xm") * col("ym")).as("sxy"),
          sum(col("xm") * col("xm")).as("sxx"),
          max(when(col("w") === 5, col("mean_rs"))).as("rs5_milli"),
          max(when(col("w") === 10, col("mean_rs"))).as("rs10_milli"),
          max(when(col("w") === 15, col("mean_rs"))).as("rs15_milli"))
        .withColumn("hurst_micro",
          expr("((nw * sxy - sx * sy) * 1000000)"
            + " div (nw * sxx - sx * sx)"))
        .select(col("event_type"), col("rs5_milli"), col("rs10_milli"),
          col("rs15_milli"), col("hurst_micro"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
              FROM events GROUP BY 1, 2),
            d0 AS (SELECT min(day) AS d0 FROM daily),
            idxd AS (
              SELECT event_type,
                     CAST(date_diff('day', d0.d0, day) AS BIGINT) AS i, x
              FROM daily CROSS JOIN d0),
            ws AS (SELECT CAST(w AS BIGINT) AS w
                   FROM (VALUES (5), (10), (15)) AS t(w)),
            pref AS (
              SELECT event_type, w, i // w AS blk, i % w + 1 AS k, x,
                     CAST(sum(x) OVER (PARTITION BY event_type, w, i // w
                       ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS pref
              FROM idxd CROSS JOIN ws),
            bsum AS (
              SELECT event_type, w, blk, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS s1,
                     CAST(sum(x * x) AS BIGINT) AS s2
              FROM pref GROUP BY 1, 2, 3
              HAVING CAST(count(*) AS BIGINT) = w),
            rsb AS (
              SELECT p.event_type, p.w, p.blk,
                     max(p.w * p.pref - p.k * b.s1)
                       - min(p.w * p.pref - p.k * b.s1) AS r_scaled,
                     CAST(floor(sqrt(CAST(p.w * max(b.s2)
                       - max(b.s1) * max(b.s1) AS DOUBLE)) + 0.5) AS BIGINT)
                       AS std_scaled
              FROM pref p
              JOIN bsum b ON b.event_type = p.event_type AND b.w = p.w
                AND b.blk = p.blk
              GROUP BY 1, 2, 3),
            rs AS (
              SELECT event_type, w,
                     (r_scaled * 1000) // std_scaled AS rs_milli
              FROM rsb WHERE std_scaled > 0),
            perw AS (
              SELECT event_type, w,
                     CAST(sum(rs_milli) // count(*) AS BIGINT) AS mean_rs
              FROM rs GROUP BY 1, 2),
            pts AS (
              SELECT event_type, w, mean_rs,
                     CAST(round(ln(CAST(w AS DOUBLE)) * 1000) AS BIGINT)
                       AS xm,
                     CAST(round(ln(CAST(greatest(1, mean_rs) AS DOUBLE)
                       / 1000) * 1000) AS BIGINT) AS ym
              FROM perw)
            SELECT event_type,
                   max(CASE WHEN w = 5 THEN mean_rs END) AS rs5_milli,
                   max(CASE WHEN w = 10 THEN mean_rs END) AS rs10_milli,
                   max(CASE WHEN w = 15 THEN mean_rs END) AS rs15_milli,
                   CAST(((count(*) * sum(xm * ym) - sum(xm) * sum(ym))
                     * 1000000)
                     // (count(*) * sum(xm * xm) - sum(xm) * sum(xm))
                     AS BIGINT) AS hurst_micro
            FROM pts GROUP BY 1 ORDER BY 1"""))

  // --------------------------------------------------- FD profiling --

  /** Functional-dependency profiling (the TANE/g₃ framework, Huhtala
    * 1999 — public) over declared candidate column pairs of lineitem:
    * does lhs → rhs hold, and if not, HOW broken is it? Three exact
    * measures per candidate: violating-group count (lhs values with > 1
    * distinct rhs), and the g₃ error — the minimum row fraction to
    * delete for the FD to hold, (N − Σ per-lhs max rhs-group size)·10⁶
    * div N — the measure that separates "dirty but fixable" (small g₃)
    * from "not a dependency" (large g₃). The schema-rule discovery a
    * profiler runs before trusting joins/dedup keys on an unfamiliar
    * extract.
    *
    * Scale: per candidate, one (lhs, rhs) count agg → one lhs-keyed agg
    * → one scalar agg, all map-combinable hash aggregations; candidates
    * evaluate independently (a real profiler fans the lattice out the
    * same way). No windows, no joins; the (lhs, rhs) key is at worst
    * row-cardinality (the key-like candidates), exactly what a
    * groupBy shuffles anyway.
    */
  private val qProfileFuncdep = GQuery(
    (s, d) => {
      // checkpoint ONLY the candidate columns (5 of lineitem's 16): the
      // materialized bytes are what the 4 candidate scans re-read, and a
      // full-width checkpoint would defeat column pruning (the r9 sweep of
      // corpus-sized localCheckpoints — same discipline as q_stats_xi's
      // grid-derived denominator)
      val li = t(s, d, "lineitem").select("l_orderkey", "l_returnflag",
        "l_linestatus", "l_partkey", "l_suppkey")
        .localCheckpoint(true) // 4 candidate scans
      def candOver(src: DataFrame, lhs: String, rhs: String): DataFrame = {
        // group on the NATIVE key types: the string cast the oracle mirrors
        // is injective per column, so the groups (and every downstream
        // count) are identical — but long keys shuffle half the bytes and
        // hash far cheaper than their string renderings
        val pc = src.groupBy(col(lhs).as("lv"), col(rhs).as("rv"))
          .agg(count(lit(1L)).as("c"))
        pc.groupBy("lv")
          .agg(count(lit(1L)).as("n_rhs"), max("c").as("mx"),
            sum("c").as("n"))
          .agg(lit(lhs).as("lhs"), lit(rhs).as("rhs"),
            count(lit(1L)).as("n_lhs_groups"),
            sum(when(col("n_rhs") > 1, 1L).otherwise(0L))
              .as("n_violating"),
            expr("((sum(n) - sum(mx)) * 1000000) div sum(n)").as("g3_ppm"))
          .withColumn("holds", col("n_violating") === 0)
      }
      def cand(lhs: String, rhs: String): DataFrame = candOver(li, lhs, rhs)
      cand("l_orderkey", "l_returnflag")
        .unionByName(cand("l_orderkey", "l_linestatus"))
        .unionByName(cand("l_partkey", "l_suppkey"))
        .unionByName(cand("l_returnflag", "l_linestatus"))
        // a key-lhs control candidate that DOES hold (g3 = 0)
        .unionByName(candOver(t(s, d, "orders"),
          "o_orderkey", "o_orderstatus"))
        .orderBy("lhs", "rhs")
    },
    Some {
      def cand(tbl: String, lhs: String, rhs: String): String =
        s"""SELECT '$lhs' AS lhs, '$rhs' AS rhs,
                   CAST(count(*) AS BIGINT) AS n_lhs_groups,
                   CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_violating,
                   CAST((sum(n) - sum(mx)) * 1000000 // sum(n) AS BIGINT)
                     AS g3_ppm,
                   sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0 AS holds
            FROM (
              SELECT lv, CAST(count(*) AS BIGINT) AS n_rhs,
                     CAST(max(c) AS BIGINT) AS mx,
                     CAST(sum(c) AS BIGINT) AS n
              FROM (SELECT CAST($lhs AS VARCHAR) AS lv,
                           CAST($rhs AS VARCHAR) AS rv,
                           CAST(count(*) AS BIGINT) AS c
                    FROM $tbl GROUP BY 1, 2)
              GROUP BY 1)"""
      Seq(cand("lineitem", "l_orderkey", "l_returnflag"),
        cand("lineitem", "l_orderkey", "l_linestatus"),
        cand("lineitem", "l_partkey", "l_suppkey"),
        cand("lineitem", "l_returnflag", "l_linestatus"),
        cand("orders", "o_orderkey", "o_orderstatus"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY lhs, rhs")
    })

  // --------------------------------------------- spectral entropy --

  /** Spectral entropy forecastability score per event type — the
    * "should we even forecast this?" gate (Goerg 2013 / tsfeatures'
    * spectral entropy, public): a series whose periodogram power
    * concentrates in few frequencies is predictable (low entropy), a
    * flat spectrum is noise. Reuses q_ts_periodogram's exact integer
    * DFT (mean-centered daily cents, per-term rounded cos/sin products,
    * power = sc² + ss² exact BIGINT) over the same 5-period grid, per
    * event type. Probabilities quantize to ppm (qᵢ = powerᵢ·10⁶ div
    * Σpower — the documented grid that keeps H engine-exact),
    * H_micro = −Σ qᵢ·round(ln(qᵢ/10⁶)·10⁶) div 10⁶, and
    * forecastability_milli = 1000 − H·1000/ln(K) (1000 = pure tone,
    * 0 = white noise). Dominant period rides along via the packed-long
    * argmax (kmeans discipline). Zero-power periods contribute the
    * x·ln x → 0 limit explicitly.
    *
    * Scale: day-grid economics end-to-end — the only window is the
    * per-type day index, every agg is map-combinable, and the spectrum
    * table is |types|×5 rows. power (= sc²+ss², sc ∝ days·daily-swing)
    * and its ·10⁶/·32 products run WIDENED — Spark DECIMAL(38,0), oracle
    * HUGEINT, both integer-div truncating — after the r10 sf1 probe
    * overflowed the original BIGINT pw·10⁶ at 10× the day count.
    */
  private val qTsSpectralEntropy = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val daily = t(s, d, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"),
          cents.as("v"))
        .groupBy("event_type", "day").agg(sum("v").as("x"))
      val withT = daily.withColumn("t",
        row_number().over(Window.partitionBy("event_type").orderBy("day"))
          .cast("long"))
      val mean = withT.groupBy("event_type")
        .agg(expr("sum(x) div count(1)").as("mu"))
      val terms = withT.join(broadcast(mean), "event_type")
        .select(col("event_type"), col("t"), (col("x") - col("mu")).as("xc"),
          explode(expr(
            "array(struct(0L AS pidx, 3L AS p), struct(1L AS pidx, 5L AS p),"
              + " struct(2L AS pidx, 7L AS p), struct(3L AS pidx, 10L AS p),"
              + " struct(4L AS pidx, 15L AS p))"))
            .as("pp"))
        .select(col("event_type"), col("pp.pidx"), col("pp.p"),
          expr("""CAST(round(CAST(xc AS DOUBLE)
               * cos(2.0 * pi() * CAST(t AS DOUBLE) / CAST(p AS DOUBLE)))
               AS BIGINT)""").as("tc"),
          expr("""CAST(round(CAST(xc AS DOUBLE)
               * sin(2.0 * pi() * CAST(t AS DOUBLE) / CAST(p AS DOUBLE)))
               AS BIGINT)""").as("tsn"))
      // pw and everything it feeds run in DECIMAL(38,0) (oracle: HUGEINT) —
      // the scaladoc's DECIMAL widening rule, now LIVE: the r10 sf1 probe
      // overflowed the old BIGINT pw·10⁶ the moment per-type day counts
      // grew 10× (sc scales with days; pw with days²). Spark decimal `div`
      // and DuckDB HUGEINT `//` both truncate toward zero, so the ppm grid
      // stays engine-exact.
      val spec = terms.groupBy("event_type", "pidx", "p")
        .agg(sum("tc").as("sc"), sum("tsn").as("ss"))
        .select(col("event_type"), col("pidx"), col("p"),
          (col("sc").cast("decimal(19,0)") * col("sc")
            + col("ss").cast("decimal(19,0)") * col("ss")).as("pw"))
      val tot = spec.groupBy("event_type").agg(sum("pw").as("tp"))
      spec.join(broadcast(tot), "event_type")
        .withColumn("q", expr(
          "CAST((pw * 1000000) div greatest(CAST(1 AS DECIMAL(38,0)), tp) AS BIGINT)"))
        .withColumn("term",
          when(col("q") > 0,
            round(log(col("q").cast("double") / 1e6) * 1e6).cast("long"))
            .otherwise(lit(0L)))
        .groupBy("event_type")
        .agg(expr("-(sum(q * term) div 1000000)").as("h_micro"),
          max(col("pw") * lit(32L) + col("pidx")).as("mx"))
        .select(col("event_type"), col("h_micro"),
          (lit(1000L) - expr(
            "(h_micro * 1000) div CAST(round(ln(5.0) * 1e6) AS BIGINT)"))
            .as("forecastability_milli"),
          expr("""CASE CAST(mx % 32 AS BIGINT) WHEN 0 THEN 3L WHEN 1 THEN 5L
               WHEN 2 THEN 7L WHEN 3 THEN 10L ELSE 15L END""")
            .as("dom_period"))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
              FROM events GROUP BY 1, 2),
            wt AS (
              SELECT event_type, x,
                     CAST(row_number() OVER (PARTITION BY event_type
                       ORDER BY day) AS BIGINT) AS t
              FROM daily),
            mu AS (SELECT event_type, sum(x) // count(*) AS mu
                   FROM wt GROUP BY 1),
            terms AS (
              SELECT w.event_type, pp.pidx, pp.p,
                     CAST(round(CAST(w.x - m.mu AS DOUBLE)
                       * cos(2.0 * pi() * CAST(w.t AS DOUBLE)
                             / CAST(pp.p AS DOUBLE))) AS BIGINT) AS tc,
                     CAST(round(CAST(w.x - m.mu AS DOUBLE)
                       * sin(2.0 * pi() * CAST(w.t AS DOUBLE)
                             / CAST(pp.p AS DOUBLE))) AS BIGINT) AS tsn
              FROM wt w
              JOIN mu m USING (event_type)
              CROSS JOIN (SELECT * FROM (VALUES (0, 3), (1, 5), (2, 7),
                (3, 10), (4, 15)) AS v(pidx, p)) pp),
            spec AS (
              SELECT event_type, pidx, p,
                     CAST(sum(tc) AS HUGEINT) * sum(tc)
                       + CAST(sum(tsn) AS HUGEINT) * sum(tsn) AS pw
              FROM terms GROUP BY 1, 2, 3),
            tot AS (SELECT event_type, sum(pw) AS tp
                    FROM spec GROUP BY 1),
            qq AS (
              SELECT s.event_type, s.pidx, s.pw,
                     CAST((s.pw * 1000000)
                       // greatest(CAST(1 AS HUGEINT), t.tp) AS BIGINT) AS q
              FROM spec s JOIN tot t USING (event_type)),
            sc AS (
              SELECT event_type,
                     CAST(-(sum(q * CASE WHEN q > 0
                       THEN CAST(round(ln(CAST(q AS DOUBLE) / 1e6) * 1e6)
                         AS BIGINT) ELSE 0 END) // 1000000) AS BIGINT)
                       AS h_micro,
                     max(pw * 32 + pidx) AS mx
              FROM qq GROUP BY 1)
            SELECT event_type, h_micro,
                   CAST(1000 - (h_micro * 1000)
                     // CAST(round(ln(5.0) * 1e6) AS BIGINT) AS BIGINT)
                     AS forecastability_milli,
                   CAST(CASE mx % 32 WHEN 0 THEN 3 WHEN 1 THEN 5
                     WHEN 2 THEN 7 WHEN 3 THEN 10 ELSE 15 END AS BIGINT)
                     AS dom_period
            FROM sc ORDER BY event_type"""))

  // --------------------------------------------- Markov entropy rate --

  /** Markov entropy rate — the behavioral-predictability number the raw
    * transition matrix (q_events_markov) doesn't surface: the
    * conditional entropy H(next | prev) = −Σ (c_st/N)·ln(c_st/c_s·),
    * i.e. how many nats of surprise the NEXT event carries once you
    * know the current one (0 = deterministic sessions, ln K = uniform
    * chaos — the gate for whether next-event prediction, prefetching,
    * or funnel modeling can work at all). Per-state rows carry each
    * state's outgoing entropy; the '__rate' row is the
    * occupancy-weighted total. Integer economics: the log-ratio enters
    * as the mirrored micro-nat int round(ln(c_st/c_s)·10⁶) on a
    * bit-identical double quotient, the weighted sums stay BIGINT
    * (c·|lnterm| ≤ N·14·10⁶ — DECIMAL widening past ~6·10¹¹
    * transitions), and predictability_milli = 1000 − H·1000/ln(5).
    *
    * Scale: one user-partitioned lag window (sessionize economics) +
    * one (prev, next) agg; everything after is |types|²-sized. The
    * same shape streams: StreamOps' stateful ops own the online twin.
    */
  private val qEventsEntropyRate = GQuery(
    (s, d) => {
      val ev = t(s, d, "events").select(col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_id"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val pairs = ev.withColumn("prev", lag("event_type", 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("cur"))
        .agg(count(lit(1L)).as("c"))
      val perState = pairs.groupBy("prev")
        .agg(sum("c").as("cs")).join(pairs, "prev")
        .withColumn("lnterm",
          round(log(col("c").cast("double") / col("cs")) * 1e6).cast("long"))
        .groupBy("prev")
        .agg(max("cs").as("n_out"),
          expr("-(sum(c * lnterm) div max(cs))").as("h_micro"))
      val rate = perState
        .agg(sum("n_out").as("n_out"),
          expr("sum(h_micro * n_out) div sum(n_out)").as("h_micro"))
        .select(lit("__rate").as("prev"), col("n_out"), col("h_micro"))
      perState.unionByName(rate)
        .withColumn("predictability_milli",
          lit(1000L) - expr(
            "(h_micro * 1000) div CAST(round(ln(5.0) * 1e6) AS BIGINT)"))
        .orderBy("prev")
    },
    Some("""WITH e AS (
              SELECT user_id, epoch_us(ts) AS us, event_id, event_type
              FROM events),
            pr AS (SELECT user_id, event_type AS cur,
                          lag(event_type) OVER (PARTITION BY user_id
                                                ORDER BY us, event_id) AS prev
                   FROM e),
            pc AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS c
                   FROM pr WHERE prev IS NOT NULL GROUP BY 1, 2),
            cs AS (SELECT prev, CAST(sum(c) AS BIGINT) AS cs
                   FROM pc GROUP BY 1),
            terms AS (
              SELECT pc.prev, pc.c, cs.cs,
                     CAST(round(ln(CAST(pc.c AS DOUBLE) / cs.cs) * 1e6)
                       AS BIGINT) AS lnterm
              FROM pc JOIN cs USING (prev)),
            per AS (
              SELECT prev, max(cs) AS n_out,
                     CAST(-(sum(c * lnterm) // max(cs)) AS BIGINT)
                       AS h_micro
              FROM terms GROUP BY 1),
            rate AS (
              SELECT '__rate' AS prev,
                     CAST(sum(n_out) AS BIGINT) AS n_out,
                     CAST(sum(h_micro * n_out) // sum(n_out) AS BIGINT)
                       AS h_micro
              FROM per),
            u AS (SELECT prev, CAST(n_out AS BIGINT) AS n_out, h_micro
                  FROM per
                  UNION ALL SELECT * FROM rate)
            SELECT prev, n_out, h_micro,
                   CAST(1000 - (h_micro * 1000)
                     // CAST(round(ln(5.0) * 1e6) AS BIGINT) AS BIGINT)
                     AS predictability_milli
            FROM u ORDER BY prev"""))

  // ------------------------------------------------ Hill tail index --

  /** Hill tail-index estimator (Hill 1975 — public) per event type: is
    * the value distribution heavy-tailed, and how heavy? α̂ = k /
    * Σᵢ₌₁ᵏ ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the top k+1 order statistics — the skew
    * gate that QUANTIFIES the planning rules this repo applies
    * qualitatively (α ≤ 2 ⇒ infinite variance ⇒ salting/AQE mandatory;
    * α > 4 ⇒ moments behave). k = 64; values snap to cents, ln ratios
    * enter as mirrored micro-nat ints on bit-identical double quotients,
    * α lands as alpha_milli = k·10⁹ div Σ lnterms (div-guarded: a
    * degenerate all-equal tail has zero log-sum → alpha null). Top-(k+1)
    * per type via a type-partitioned rank window; ties broken by
    * event_id so the order statistics are a total order.
    *
    * Scale: per-type top-65 is the bm25 TakeOrdered economics (heap per
    * partition, never a sort of the type's rows — the window partitions
    * by type but ranks only AFTER a per-type top-65 pushdown would
    * apply; at 10⁹ rows/type swap in the salted two-level top-k). The
    * estimator itself is 65 rows per type.
    */
  private val qStatsParetoTail = GQuery(
    (s, d) => {
      val wTop = Window.partitionBy("event_type")
        .orderBy(col("cents").desc, col("event_id").asc)
      val top = t(s, d, "events")
        .select(col("event_type"), col("event_id"),
          expr("CAST(round(value * 100) AS BIGINT)")
            .as("cents"))
        .withColumn("rn", row_number().over(wTop))
        .filter(col("rn") <= 65)
        .localCheckpoint(true) // feeds the pivot x_(k+1) and the ln terms
      val xk = top.filter(col("rn") === 65)
        .select(col("event_type"), col("cents").as("xk"))
      top.filter(col("rn") <= 64)
        .join(broadcast(xk), "event_type")
        .withColumn("lnterm",
          round(log(col("cents").cast("double") / col("xk")) * 1e6)
            .cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1L)).as("k"), max("xk").as("xk_cents"),
          sum("lnterm").as("slog"))
        .select(col("event_type"), col("k"), col("xk_cents"),
          when(col("slog") > 0, expr("(k * 1000000000) div slog"))
            .as("alpha_milli"))
        .orderBy("event_type")
    },
    Some("""WITH v AS (
              SELECT event_type, event_id,
                     CAST(round(value * 100) AS BIGINT)
                       AS cents,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY CAST(round(value * 100) AS BIGINT) DESC, event_id ASC) AS rn
              FROM events QUALIFY rn <= 65),
            xk AS (SELECT event_type, cents AS xk FROM v WHERE rn = 65),
            terms AS (
              SELECT v.event_type, xk.xk,
                     CAST(round(ln(CAST(v.cents AS DOUBLE) / xk.xk) * 1e6)
                       AS BIGINT) AS lnterm
              FROM v JOIN xk USING (event_type) WHERE v.rn <= 64)
            SELECT event_type, CAST(count(*) AS BIGINT) AS k,
                   CAST(max(xk) AS BIGINT) AS xk_cents,
                   CAST(CASE WHEN sum(lnterm) > 0
                     THEN (count(*) * 1000000000) // sum(lnterm)
                     END AS BIGINT) AS alpha_milli
            FROM terms GROUP BY 1 ORDER BY 1"""))

  // ---------------------------------------------------- Ljung–Box --

  /** Ljung–Box portmanteau test (1978 — public) per event type: are the
    * daily-sum autocorrelations JOINTLY zero (white noise), or is there
    * real serial structure? Q = n(n+2)·Σₖ₌₁⁵ ρₖ²/(n−k) vs the χ²₅ 95%
    * critical value 11.0705 — the one-number decision q_ts_autocorr's
    * per-lag curve leaves to the reader, and the residual-diagnostic
    * every forecast in the ts family should pass before shipping.
    * Integer economics: each ρₖ snaps to the portable 10⁻⁶ grid
    * (eval_mrr's floor(dround·10⁶+0.5) — so ρ² is an exact 10⁻¹²-scaled
    * BIGINT), per-lag terms divide by (n−k) in integer div, and
    * Q_milli = n(n+2)·Σterms div 10⁹. Degenerate lags (zero variance)
    * contribute ρ = 0.
    *
    * Scale: day-grid economics per type — the lag windows partition by
    * event_type over ≤ |days| rows; moments ride DECIMAL(38) (autocorr
    * precedent); the decision row set is |types|.
    */
  private val qStatsLjungbox = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val daily = t(s, d, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"),
          cents.as("v"))
        .groupBy("event_type", "day").agg(sum("v").as("x"))
      val w = Window.partitionBy("event_type").orderBy("day")
      val lags = (1 to 5).map(k => lag("x", k).over(w).as(s"x_$k"))
      val lagged = daily.select(
        col("event_type") +: col("day") +: col("x") +: lags: _*)
      val nPer = daily.groupBy("event_type").agg(count(lit(1L)).as("n"))
      val stacked = lagged.selectExpr("event_type", "x",
        s"stack(5, ${(1 to 5).map(k => s"${k}L, x_$k").mkString(", ")})"
          + " AS (k, xl)")
        .filter(col("xl").isNotNull)
      val st = stacked.groupBy("event_type", "k").agg(
        count(lit(1L)).as("np"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("xl").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("xl") * col("xl")).cast("decimal(38,0)")).as("syy"),
        sum((col("x") * col("xl")).cast("decimal(38,0)")).as("sxy"))
      val dxx = (col("np") * col("sxx") - col("sx") * col("sx"))
        .cast("double")
      val dyy = (col("np") * col("syy") - col("sy") * col("sy"))
        .cast("double")
      val dxy = (col("np") * col("sxy") - col("sx") * col("sy"))
        .cast("double")
      val rho = st.select(col("event_type"), col("k"),
        when(dxx > 0 && dyy > 0,
          floor(dround(dxy / sqrt(dxx * dyy), 6) * 1e6 + 0.5).cast("long"))
          .otherwise(lit(0L)).as("rho_micro"))
      rho.join(broadcast(nPer), "event_type")
        .filter(col("k") < col("n")) // n ≤ 5-day series: drop k = n lags
        .withColumn("term",
          expr("(rho_micro * rho_micro) div (n - k)"))
        .groupBy("event_type")
        .agg(max("n").as("n"), sum("term").as("sterm"))
        .select(col("event_type"), col("n"),
          expr("(n * (n + 2) * sterm) div 1000000000").as("q_milli"))
        .withColumn("white_noise_rejected", col("q_milli") > 11071)
        .orderBy("event_type")
    },
    Some("""WITH daily AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
              FROM events GROUP BY 1, 2),
            np AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
                   FROM daily GROUP BY 1),
            lagged AS (
              SELECT event_type, x,
                     lag(x, 1) OVER w AS x_1, lag(x, 2) OVER w AS x_2,
                     lag(x, 3) OVER w AS x_3, lag(x, 4) OVER w AS x_4,
                     lag(x, 5) OVER w AS x_5
              FROM daily
              WINDOW w AS (PARTITION BY event_type ORDER BY day)),
            stacked AS (
              SELECT event_type, x, t.k, t.xl
              FROM lagged, LATERAL (VALUES (1, x_1), (2, x_2), (3, x_3),
                (4, x_4), (5, x_5)) AS t(k, xl)
              WHERE t.xl IS NOT NULL),
            st AS (
              SELECT event_type, CAST(k AS BIGINT) AS k,
                     CAST(count(*) AS BIGINT) AS np,
                     sum(CAST(x AS HUGEINT)) AS sx,
                     sum(CAST(xl AS HUGEINT)) AS sy,
                     sum(CAST(x AS HUGEINT) * x) AS sxx,
                     sum(CAST(xl AS HUGEINT) * xl) AS syy,
                     sum(CAST(x AS HUGEINT) * xl) AS sxy
              FROM stacked GROUP BY 1, 2),
            rho AS (
              SELECT event_type, k,
                     CASE WHEN (np*sxx - sx*sx) > 0 AND (np*syy - sy*sy) > 0
                       THEN CAST(floor(CAST(round(CAST(
                         CAST(np*sxy - sx*sy AS DOUBLE)
                         / sqrt(CAST(np*sxx - sx*sx AS DOUBLE)
                                * CAST(np*syy - sy*sy AS DOUBLE))
                         AS DECIMAL(30,8)), 6) AS DOUBLE) * 1e6 + 0.5)
                         AS BIGINT)
                       ELSE 0 END AS rho_micro
              FROM st)
            SELECT r.event_type, n.n,
                   CAST((n.n * (n.n + 2)
                     * sum((r.rho_micro * r.rho_micro) // (n.n - r.k)))
                     // 1000000000 AS BIGINT) AS q_milli,
                   CAST((n.n * (n.n + 2)
                     * sum((r.rho_micro * r.rho_micro) // (n.n - r.k)))
                     // 1000000000 AS BIGINT) > 11071
                     AS white_noise_rejected
            FROM rho r JOIN np n USING (event_type)
            WHERE r.k < n.n
            GROUP BY 1, 2 ORDER BY 1"""))

  // ---------------------------------------------- Brown–Forsythe --

  /** Brown–Forsythe variance-equality test (Levene with medians, 1974 —
    * public): the ASSUMPTION CHECK q_stats_anova silently makes —
    * one-way F on the absolute deviations zᵢⱼ = |xᵢⱼ − medⱼ| from each
    * group's EXACT order-statistic median (robust to the non-normality
    * the mean-centered Levene trips on). F > F₀.₉₅(k−1, N−k) ≈ 2.37 ⇒
    * heteroscedastic ⇒ Welch/Kruskal territory, not pooled-variance
    * ANOVA. Medians come off the value-grid cumulative counts (never a
    * row-level rank window — the spearman/runs discipline): first grid
    * cent where the running count reaches (n+1) div 2. Deviations stay
    * exact BIGINT cents; the F assembles through the ANOVA twin's
    * DECIMAL(38) moment + dround chain, bit-mirrored.
    *
    * Scale: one (type, cent) grid agg (bounded by the value domain),
    * grid-sized cumulative windows, one broadcast median join back to
    * the stream, then scalar moments — spearman economics end to end;
    * no sort ever sees row cardinality.
    */
  private val qStatsLevene = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val ev = t(s, d, "events").select(col("event_type"), cents.as("c"))
        .localCheckpoint(true) // feeds the grid AND the deviation pass
      val grid = ev.groupBy("event_type", "c").agg(count(lit(1L)).as("cnt"))
      val tot = grid.groupBy("event_type").agg(sum("cnt").as("n"))
      val wCum = Window.partitionBy("event_type").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val med = grid.join(broadcast(tot), "event_type")
        .withColumn("cum", sum("cnt").over(wCum))
        .filter(col("cum") >= expr("(n + 1) div 2"))
        .groupBy("event_type").agg(min("c").as("med"))
      val z = ev.join(broadcast(med), "event_type")
        .select(col("event_type"), abs(col("c") - col("med")).as("z"))
      val g = z.groupBy("event_type")
        .agg(count(lit(1L)).as("n"),
          sum(col("z").cast("decimal(38,0)")).as("sx"),
          sum((col("z") * col("z")).cast("decimal(38,0)")).as("sxx"))
      g.agg(count(lit(1L)).as("k"), sum("n").as("nt"),
          sum("sx").as("st"),
          sum(col("sxx").cast("double")).as("ssq"),
          sum((col("sx") * col("sx")).cast("double") /
            col("n").cast("double")).as("sgrp"))
        .select(col("k").cast("int").as("k"), col("nt").as("n"),
          dround((col("sgrp") - col("st").cast("double") *
            col("st").cast("double") / col("nt").cast("double")) / 1e4, 2)
            .as("ssb_dollars2"),
          dround((col("ssq") - col("sgrp")) / 1e4, 2).as("ssw_dollars2"))
        .withColumn("f_stat", dround(
          (col("ssb_dollars2") / (col("k") - lit(1))) /
            (col("ssw_dollars2") / (col("n").cast("double") - col("k"))), 4))
        .withColumn("equal_variances", col("f_stat") <= 2.37)
        .orderBy("k")
    },
    Some("""WITH ev AS (
              SELECT event_type,
                     CAST(round(value * 100) AS BIGINT) AS c
              FROM events),
            grid AS (
              SELECT event_type, c, CAST(count(*) AS BIGINT) AS cnt
              FROM ev GROUP BY 1, 2),
            tot AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
                    FROM grid GROUP BY 1),
            med AS (
              SELECT event_type, min(c) AS med FROM (
                SELECT g.event_type, g.c, t.n,
                       CAST(sum(g.cnt) OVER (PARTITION BY g.event_type
                         ORDER BY g.c ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS BIGINT) AS cum
                FROM grid g JOIN tot t USING (event_type))
              WHERE cum >= (n + 1) // 2 GROUP BY 1),
            z AS (
              SELECT ev.event_type, abs(ev.c - med.med) AS z
              FROM ev JOIN med USING (event_type)),
            g AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                     sum(CAST(z AS HUGEINT)) AS sx,
                     sum(CAST(z AS HUGEINT) * z) AS sxx
              FROM z GROUP BY 1),
            roll AS (
              SELECT CAST(count(*) AS BIGINT) AS k,
                     CAST(sum(n) AS BIGINT) AS nt,
                     CAST(sum(sx) AS HUGEINT) AS st,
                     sum(CAST(sxx AS DOUBLE)) AS ssq,
                     sum(CAST(sx * sx AS DOUBLE) / CAST(n AS DOUBLE)) AS sgrp
              FROM g),
            r AS (
              SELECT CAST(k AS INT) AS k, nt AS n,
                     CAST(round(CAST((sgrp - CAST(st AS DOUBLE)
                       * CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)) / 1e4
                       AS DECIMAL(30,8)), 2) AS DOUBLE) AS ssb_dollars2,
                     CAST(round(CAST((ssq - sgrp) / 1e4
                       AS DECIMAL(30,8)), 2) AS DOUBLE) AS ssw_dollars2
              FROM roll)
            SELECT k, n, ssb_dollars2, ssw_dollars2,
                   CAST(round(CAST((ssb_dollars2 / (k - 1))
                     / (ssw_dollars2 / (CAST(n AS DOUBLE) - k))
                     AS DECIMAL(30,8)), 4) AS DOUBLE) AS f_stat,
                   CAST(round(CAST((ssb_dollars2 / (k - 1))
                     / (ssw_dollars2 / (CAST(n AS DOUBLE) - k))
                     AS DECIMAL(30,8)), 4) AS DOUBLE) <= 2.37
                     AS equal_variances
            FROM r ORDER BY k"""))

  // ------------------------------------------------- Kendall's tau-b --

  /** Kendall's τ-b rank correlation (Kendall 1938; τ-b tie correction,
    * Kendall 1945 — public) between quantity and discount: the third
    * rank-correlation rung next to Spearman's ρ (q_stats_spearman) and
    * Chatterjee's ξ (q_stats_xi), and the one whose value IS a pair
    * probability (P(concordant) − P(discordant)), so it survives heavy
    * ties — exactly this corpus: 50 quantity × 11 discount-cent levels.
    * Naive τ is O(n²) row pairs; here both variables are DOMAIN-bounded,
    * so the corpus collapses to the ≤ 550-cell (quantity, cents) grid and
    * every pair count comes from grid dominance sums: C = Σ n(x,y)·#(x'>x
    * ∧ y'>y), D = Σ n(x,y)·#(x'>x ∧ y'<y) — each discordant/concordant
    * pair counted once from its lower-x cell; x-ties contribute to
    * neither (the τ-b convention) and land in the n₁/n₂ marginal tie
    * terms instead. All pair counts exact BIGINT (C ≤ n²/2 ≈ 1.8×10¹¹ at
    * sf0.1); only the final denominator √((n₀−n₁)(n₀−n₂)) leaves
    * integers, with the two factors cast DOUBLE before multiplying (their
    * product passes BIGINT at ~10⁶ rows, mirrored in the oracle).
    *
    * Scale: one grid agg (map-combinable, bounded by the 550-cell value
    * domain) + a grid² broadcast dominance join that is DOMAIN-sized, not
    * data-sized — the |types|²-economics family. No row-level sort or
    * window ever forms.
    */
  private val qStatsKendall = GQuery(
    (s, d) => {
      val ev = t(s, d, "lineitem").select(
        floor(col("l_quantity")).cast("long").as("x"),
        cents(col("l_discount")).as("y"))
      val grid = ev.groupBy("x", "y").agg(count(lit(1L)).as("cnt"))
        .localCheckpoint(true) // feeds dominance join, marginals, n
      val g2 = grid.select(col("x").as("x2"), col("y").as("y2"),
        col("cnt").as("cnt2"))
      val dom = grid.join(broadcast(g2), col("x2") > col("x"), "left")
        .groupBy("x", "y", "cnt")
        .agg(coalesce(sum(when(col("y2") > col("y"), col("cnt2"))), lit(0L))
            .as("gtgt"),
          coalesce(sum(when(col("y2") < col("y"), col("cnt2"))), lit(0L))
            .as("gtlt"))
      val pairs = dom.agg(
        sum(col("cnt") * col("gtgt")).as("c_pairs"),
        sum(col("cnt") * col("gtlt")).as("d_pairs"))
      val n1 = grid.groupBy("x").agg(sum("cnt").as("m"))
        .agg(sum(expr("m * (m - 1) div 2")).as("n1"))
      val n2 = grid.groupBy("y").agg(sum("cnt").as("m"))
        .agg(sum(expr("m * (m - 1) div 2")).as("n2"))
      val nn = grid.agg(sum("cnt").as("n"))
      pairs.crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
        .crossJoin(broadcast(nn))
        .withColumn("n0", expr("n * (n - 1) div 2"))
        .select(col("n"), col("c_pairs"), col("d_pairs"), col("n1"), col("n2"),
          dround((col("c_pairs") - col("d_pairs")).cast("double") /
            sqrt((col("n0") - col("n1")).cast("double") *
              (col("n0") - col("n2")).cast("double")), 6).as("tau_b"))
    },
    Some("""WITH ev AS (
              SELECT CAST(floor(l_quantity) AS BIGINT) AS x,
                     CAST(round(l_discount * 100) AS BIGINT)
                       AS y
              FROM lineitem),
            grid AS (
              SELECT x, y, CAST(count(*) AS BIGINT) AS cnt
              FROM ev GROUP BY 1, 2),
            dom AS (
              SELECT g1.x, g1.y, g1.cnt,
                     CAST(coalesce(sum(CASE WHEN g2.y > g1.y
                       THEN g2.cnt END), 0) AS BIGINT) AS gtgt,
                     CAST(coalesce(sum(CASE WHEN g2.y < g1.y
                       THEN g2.cnt END), 0) AS BIGINT) AS gtlt
              FROM grid g1 LEFT JOIN grid g2 ON g2.x > g1.x
              GROUP BY 1, 2, 3),
            pairs AS (
              SELECT CAST(sum(cnt * gtgt) AS BIGINT) AS c_pairs,
                     CAST(sum(cnt * gtlt) AS BIGINT) AS d_pairs
              FROM dom),
            m1 AS (SELECT CAST(sum(m * (m - 1) // 2) AS BIGINT) AS n1
                   FROM (SELECT CAST(sum(cnt) AS BIGINT) AS m
                         FROM grid GROUP BY x)),
            m2 AS (SELECT CAST(sum(m * (m - 1) // 2) AS BIGINT) AS n2
                   FROM (SELECT CAST(sum(cnt) AS BIGINT) AS m
                         FROM grid GROUP BY y)),
            nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
                          CAST(sum(cnt) * (sum(cnt) - 1) // 2 AS BIGINT)
                            AS n0
                   FROM grid)
            SELECT n, c_pairs, d_pairs, n1, n2,
                   CAST(round(CAST(CAST(c_pairs - d_pairs AS DOUBLE)
                     / sqrt(CAST(n0 - n1 AS DOUBLE)
                            * CAST(n0 - n2 AS DOUBLE))
                     AS DECIMAL(30,8)), 6) AS DOUBLE) AS tau_b
            FROM pairs, m1, m2, nn"""))

  // ------------------------------------------- skewness and kurtosis --

  /** Higher-moment distribution profile per event type — skewness and
    * excess kurtosis from exact integer power sums (the one-pass
    * moment-sketch discipline of q_stats_anova extended to S₃/S₄): cents
    * c ≤ ~5.6×10⁴, so c² fits BIGINT but c⁴ ≈ 10¹⁹ does NOT — each power
    * widens to DECIMAL(38,0)/HUGEINT BEFORE the multiply (ANSI throws on
    * the long overflow otherwise; DuckDB's BIGINT product would too).
    * Central moments then assemble in DOUBLE from the exact sums with the
    * expression tree bit-mirrored in the oracle: m₂ = S₂/n − μ²,
    * m₃ = S₃/n − 3μS₂/n + 2μ³, m₄ = S₄/n − 4μS₃/n + 6μ²S₂/n − 3μ⁴,
    * skew = m₃/m₂^1.5, kurt = m₄/m₂² − 3. The verdict column flags the
    * heavy-tailed types a mean±σ monitor silently mis-summarizes.
    *
    * Scale: one map-combinable 5-sum agg over the stream — the cheapest
    * shape Spark has; DECIMAL(38) holds S₄ to ~10¹⁸ rows of 10⁵-cent
    * values. |types| output rows.
    */
  private val qStatsMoments = GQuery(
    (s, d) => {
      val c = cents(col("value"))
      val g = t(s, d, "events")
        .select(col("event_type"), c.as("c"),
          (c * c).as("c2"))
        .groupBy("event_type")
        .agg(count(lit(1L)).as("n"),
          sum(col("c").cast("decimal(38,0)")).as("s1"),
          sum(col("c2").cast("decimal(38,0)")).as("s2"),
          sum(col("c2").cast("decimal(38,0)") * col("c")).as("s3"),
          sum(col("c2").cast("decimal(38,0)") * col("c2")).as("s4"))
      g.select(col("event_type"), col("n"),
          (col("s1").cast("double") / col("n")).as("mu"),
          col("s2").cast("double").as("s2"),
          col("s3").cast("double").as("s3"),
          col("s4").cast("double").as("s4"))
        .withColumn("m2",
          col("s2") / col("n") - col("mu") * col("mu"))
        .withColumn("m3",
          col("s3") / col("n") - lit(3) * col("mu") * col("s2") / col("n")
            + lit(2) * col("mu") * col("mu") * col("mu"))
        .withColumn("m4",
          col("s4") / col("n") - lit(4) * col("mu") * col("s3") / col("n")
            + lit(6) * col("mu") * col("mu") * col("s2") / col("n")
            - lit(3) * col("mu") * col("mu") * col("mu") * col("mu"))
        .select(col("event_type"), col("n"),
          dround(col("mu") / 100, 4).as("mean_dollars"),
          // m2 = 0 (single-row or constant group): shape moments are 0/0 —
          // NULL, matching DuckDB's quiet double-div-by-zero NULL
          dround(when(col("m2") =!= 0.0,
            col("m3") / pow(col("m2"), 1.5)), 4).as("skewness"),
          dround(when(col("m2") =!= 0.0,
            col("m4") / (col("m2") * col("m2")) - 3), 4)
            .as("excess_kurtosis"))
        .withColumn("heavy_tailed", col("excess_kurtosis") > 1.0)
        .orderBy("event_type")
    },
    Some("""WITH ev AS (
              SELECT event_type,
                     CAST(round(value * 100) AS BIGINT) AS c
              FROM events),
            g AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                     sum(CAST(c AS HUGEINT)) AS s1,
                     sum(CAST(c * c AS HUGEINT)) AS s2,
                     sum(CAST(c * c AS HUGEINT) * c) AS s3,
                     sum(CAST(c * c AS HUGEINT) * (c * c)) AS s4
              FROM ev GROUP BY 1),
            m AS (
              SELECT event_type, n,
                     CAST(s1 AS DOUBLE) / n AS mu,
                     CAST(s2 AS DOUBLE) AS s2,
                     CAST(s3 AS DOUBLE) AS s3,
                     CAST(s4 AS DOUBLE) AS s4
              FROM g),
            cm AS (
              SELECT event_type, n, mu,
                     s2 / n - mu * mu AS m2,
                     s3 / n - 3 * mu * s2 / n + 2 * mu * mu * mu AS m3,
                     s4 / n - 4 * mu * s3 / n + 6 * mu * mu * s2 / n
                       - 3 * mu * mu * mu * mu AS m4
              FROM m),
            r AS (
              SELECT event_type, n,
                     CAST(round(CAST(mu / 100 AS DECIMAL(30,8)), 4)
                       AS DOUBLE) AS mean_dollars,
                     CAST(round(CAST(m3 / pow(m2, 1.5) AS DECIMAL(30,8)), 4)
                       AS DOUBLE) AS skewness,
                     CAST(round(CAST(m4 / (m2 * m2) - 3 AS DECIMAL(30,8)), 4)
                       AS DOUBLE) AS excess_kurtosis
              FROM cm)
            SELECT event_type, n, mean_dollars, skewness, excess_kurtosis,
                   excess_kurtosis > 1.0 AS heavy_tailed
            FROM r ORDER BY event_type"""))

  // ------------------------------------------- 1-Wasserstein distance --

  /** Pairwise 1-Wasserstein (earth-mover's) distance between the five
    * event types' value distributions (Monge 1781 / Kantorovich 1942;
    * W₁ = ∫|F_a − F_b| for 1-D — public): the drift metric with UNITS
    * (dollars moved per unit mass) that the sup-statistic q_stats_ks and
    * the binned q_stats_psi both lack. Exactness: on the cent grid W₁ is
    * a finite sum of rectangle areas Σ |F_a(c) − F_b(c)|·Δc; ECDFs stay
    * cross-multiplied integers (|cumA·n_b − cumB·n_a|·gap ≤ 2×10¹⁶ per
    * cell at sf0.1 — BIGINT-safe) and accumulate in DECIMAL(38,0)/
    * HUGEINT (the cell SUM passes BIGINT); one division by n_a·n_b·100
    * exits to DOUBLE at the end, dround'd.
    *
    * Scale: one (type, cent) grid agg (value-domain-bounded), a 10-row
    * broadcast pair table fanning the grid ≤ (k−1)× , per-pair cumsum
    * windows PARTITIONED BY PAIR over grid-sized input, one final agg.
    * No row-level window; k types cost k²/2 grid passes of bounded size.
    */
  private val qStatsWasserstein = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val grid = t(s, d, "events")
        .select(col("event_type"), cents.as("c"))
        .groupBy("event_type", "c").agg(count(lit(1L)).as("cnt"))
        .localCheckpoint(true) // feeds totals AND the pair fan-out
      val tot = grid.groupBy("event_type").agg(sum("cnt").as("n"))
      val pairs = tot.select(col("event_type").as("ta"), col("n").as("na"))
        .crossJoin(tot.select(col("event_type").as("tb"), col("n").as("nb")))
        .filter(col("ta") < col("tb"))
      val cells = broadcast(pairs)
        .join(grid, col("event_type") === col("ta") ||
          col("event_type") === col("tb"))
        // one exchange for the cell agg AND the pair-partitioned cumsum
        // windows: (ta, tb) is a subset of the agg keys and exactly the
        // window key, so clustering here serves both (the near-unique c
        // grid gains nothing from the default plan's partial agg)
        .repartition(col("ta"), col("tb"))
        .groupBy("ta", "tb", "na", "nb", "c")
        .agg(sum(when(col("event_type") === col("ta"), col("cnt"))
            .otherwise(0L)).as("ca"),
          sum(when(col("event_type") === col("tb"), col("cnt"))
            .otherwise(0L)).as("cb"))
      val wCum = Window.partitionBy("ta", "tb").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wLead = Window.partitionBy("ta", "tb").orderBy("c")
      cells
        .withColumn("cuma", sum("ca").over(wCum))
        .withColumn("cumb", sum("cb").over(wCum))
        .withColumn("gap", coalesce(lead(col("c"), 1).over(wLead) - col("c"),
          lit(0L)))
        .groupBy("ta", "tb", "na", "nb")
        .agg(sum((abs(col("cuma") * col("nb") - col("cumb") * col("na"))
          * col("gap")).cast("decimal(38,0)")).as("area"))
        .select(col("ta").as("type_a"), col("tb").as("type_b"),
          dround(col("area").cast("double") /
            (col("na").cast("double") * col("nb").cast("double")) / 100, 4)
            .as("w1_dollars"))
        .orderBy("type_a", "type_b")
    },
    Some("""WITH ev AS (
              SELECT event_type,
                     CAST(round(value * 100) AS BIGINT) AS c
              FROM events),
            grid AS (
              SELECT event_type, c, CAST(count(*) AS BIGINT) AS cnt
              FROM ev GROUP BY 1, 2),
            tot AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
                    FROM grid GROUP BY 1),
            pairs AS (
              SELECT a.event_type AS ta, a.n AS na,
                     b.event_type AS tb, b.n AS nb
              FROM tot a, tot b WHERE a.event_type < b.event_type),
            cells AS (
              SELECT p.ta, p.tb, p.na, p.nb, g.c,
                     CAST(sum(CASE WHEN g.event_type = p.ta THEN g.cnt
                       ELSE 0 END) AS BIGINT) AS ca,
                     CAST(sum(CASE WHEN g.event_type = p.tb THEN g.cnt
                       ELSE 0 END) AS BIGINT) AS cb
              FROM pairs p JOIN grid g
                ON g.event_type = p.ta OR g.event_type = p.tb
              GROUP BY 1, 2, 3, 4, 5),
            cum AS (
              SELECT ta, tb, na, nb,
                     CAST(sum(ca) OVER w AS BIGINT) AS cuma,
                     CAST(sum(cb) OVER w AS BIGINT) AS cumb,
                     CAST(coalesce(lead(c, 1) OVER (PARTITION BY ta, tb
                       ORDER BY c) - c, 0) AS BIGINT) AS gap
              FROM cells
              WINDOW w AS (PARTITION BY ta, tb ORDER BY c
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            area AS (
              SELECT ta, tb, na, nb,
                     sum(CAST(abs(cuma * nb - cumb * na) * gap AS HUGEINT))
                       AS area
              FROM cum GROUP BY 1, 2, 3, 4)
            SELECT ta AS type_a, tb AS type_b,
                   CAST(round(CAST(CAST(area AS DOUBLE)
                     / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) / 100
                     AS DECIMAL(30,8)), 4) AS DOUBLE) AS w1_dollars
            FROM area ORDER BY type_a, type_b"""))

  // ---------------------------------------------------- Cochran's Q --

  /** Cochran's Q test (Cochran 1950 — public) for k correlated binary
    * outcomes: blocks = users, treatments = the five event types, and the
    * binary outcome x_uj = "user u ever produced a type-j event worth
    * ≥ $400" — does whale-grade spending occur equally often across event
    * types for the SAME users? (The paired completion of q_stats_mcnemar
    * beyond k=2, as q_stats_kruskal completes Mann–Whitney.) Q =
    * (k−1)·(k·ΣC_j² − N²)/(k·N − ΣR_u²) with column totals C_j, row
    * totals R_u, N = ΣR_u — every term an exact integer up to the one
    * final division (dround'd), so the verdict row hashes cross-engine.
    * All-0/all-1 blocks contribute nothing to either side — kept, with a
    * zero-denominator null guard mirrored in the oracle.
    *
    * Scale: one (user, type) max-agg (map-combinable), one per-user k-row
    * rollup, one scalar assembly. ΣC_j² passes BIGINT only past ~3×10⁹
    * users — widen to DECIMAL(38) there. No windows, no joins.
    */
  private val qStatsCochranq = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val x = t(s, d, "events")
        .select(col("user_id"), col("event_type"), cents.as("c"))
        .groupBy("user_id", "event_type")
        .agg(max((col("c") >= 40000L).cast("long")).as("x"))
      val rows = x.groupBy("user_id").agg(sum("x").as("r"))
        .agg(count(lit(1L)).as("n_blocks"), sum("r").as("nsum"),
          sum(col("r") * col("r")).as("sum_r2"))
      val cols = x.groupBy("event_type").agg(sum("x").as("cj"))
        .agg(count(lit(1L)).as("k"), sum(col("cj") * col("cj")).as("sum_c2"))
      rows.crossJoin(broadcast(cols))
        .select(col("k").cast("int").as("k"), col("n_blocks"), col("nsum"),
          col("sum_c2"), col("sum_r2"),
          dround(when(col("k") * col("nsum") - col("sum_r2") === 0L,
            lit(null).cast("double"))
            .otherwise(((col("k") - 1) * (col("k") * col("sum_c2") -
              col("nsum") * col("nsum"))).cast("double") /
              (col("k") * col("nsum") - col("sum_r2")).cast("double")), 4)
            .as("q_stat"))
        .withColumn("uneven_across_types", col("q_stat") > 9.488)
    },
    Some("""WITH x AS (
              SELECT user_id, event_type,
                     CAST(max(CASE WHEN CAST(round(value * 100) AS BIGINT) >= 40000 THEN 1 ELSE 0 END)
                       AS BIGINT) AS x
              FROM events GROUP BY 1, 2),
            r AS (
              SELECT CAST(count(*) AS BIGINT) AS n_blocks,
                     CAST(sum(rr) AS BIGINT) AS nsum,
                     CAST(sum(rr * rr) AS BIGINT) AS sum_r2
              FROM (SELECT CAST(sum(x) AS BIGINT) AS rr
                    FROM x GROUP BY user_id)),
            c AS (
              SELECT CAST(count(*) AS BIGINT) AS k,
                     CAST(sum(cj * cj) AS BIGINT) AS sum_c2
              FROM (SELECT CAST(sum(x) AS BIGINT) AS cj
                    FROM x GROUP BY event_type)),
            q AS (
              SELECT CAST(k AS INT) AS k, n_blocks, nsum, sum_c2, sum_r2,
                     CAST(round(CAST(CASE
                       WHEN k * nsum - sum_r2 = 0 THEN NULL
                       ELSE CAST((k - 1) * (k * sum_c2 - nsum * nsum)
                              AS DOUBLE)
                            / CAST(k * nsum - sum_r2 AS DOUBLE) END
                       AS DECIMAL(30,8)), 4) AS DOUBLE) AS q_stat
              FROM r, c)
            SELECT k, n_blocks, nsum, sum_c2, sum_r2, q_stat,
                   q_stat > 9.488 AS uneven_across_types
            FROM q"""))

  // -------------------------------------------------- Friedman test --

  /** Friedman rank test (Friedman 1937; tie correction per Conover —
    * public): the repeated-measures counterpart of q_stats_kruskal —
    * blocks = days, treatments = the five event types, observation = the
    * day's total value in cents, ranked WITHIN each day so day-level
    * volume shifts cancel. Does any event type systematically out-earn
    * the others day after day? Doubled mid-ranks (2·rank + t_eq − 1, the
    * kruskal tie discipline) keep ties exact-integer; χ²_F assembles as
    * 3·ΣR₂ⱼ²/(n·k·(k+1)) − 3n(k+1), then divides by the tie factor
    * C = 1 − ΣT_b/(n·(k³−k)), T_b = Σ(t³−t) — all integer numerators, one
    * dround'd exit, a C=0 (all-tied) null guard mirrored cross-engine.
    *
    * Scale: the corpus collapses to the n×k day-grid before any window;
    * the rank window partitions by day over k rows. Grid economics at any
    * corpus size; the decision is one row.
    */
  private val qStatsFriedman = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val daily = t(s, d, "events")
        .select(to_date(col("ts")).as("day"), col("event_type"),
          cents.as("c"))
        .groupBy("day", "event_type").agg(sum("c").as("v"))
      val wR = Window.partitionBy("day").orderBy("v")
      val wEq = Window.partitionBy("day", "v")
      val ranked = daily
        .withColumn("r2", lit(2) * rank().over(wR) +
          count(lit(1L)).over(wEq) - 1)
        .withColumn("teq", count(lit(1L)).over(wEq))
      val rj = ranked.groupBy("event_type").agg(sum("r2").as("r2j"))
        .agg(count(lit(1L)).as("k"), sum(col("r2j") * col("r2j")).as("sr2"))
      val ties = ranked
        .groupBy("day", "v").agg(max("teq").as("tq"))
        .agg(sum(col("tq") * col("tq") * col("tq") - col("tq")).as("tsum"),
          countDistinct(col("day")).as("n"))
      rj.crossJoin(broadcast(ties))
        .select(col("k").cast("int").as("k"), col("n"), col("sr2"),
          col("tsum"),
          // doubled ranks: ΣR₂² = 4·ΣR² ⇒ the 12/... constant becomes 3/...
          (lit(3.0) * col("sr2").cast("double") /
            (col("n") * col("k") * (col("k") + 1)).cast("double") -
            lit(3.0) * (col("n") * (col("k") + 1)).cast("double"))
            .as("chi2_raw"),
          (lit(1.0) - col("tsum").cast("double") /
            (col("n") * (col("k") * col("k") * col("k") - col("k")))
              .cast("double")).as("cfac"))
        .select(col("k"), col("n"), col("sr2"), col("tsum"),
          dround(when(col("cfac") === 0.0, lit(null).cast("double"))
            .otherwise(col("chi2_raw") / col("cfac")), 4).as("chi2_f"))
        .withColumn("types_differ", col("chi2_f") > 9.488)
    },
    Some("""WITH daily AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
              FROM events GROUP BY 1, 2),
            ranked AS (
              SELECT day, event_type, v,
                     CAST(2 * rank() OVER (PARTITION BY day ORDER BY v)
                       + count(*) OVER (PARTITION BY day, v) - 1
                       AS BIGINT) AS r2,
                     CAST(count(*) OVER (PARTITION BY day, v) AS BIGINT)
                       AS teq
              FROM daily),
            rj AS (
              SELECT CAST(count(*) AS BIGINT) AS k,
                     CAST(sum(r2j * r2j) AS BIGINT) AS sr2
              FROM (SELECT CAST(sum(r2) AS BIGINT) AS r2j
                    FROM ranked GROUP BY event_type)),
            ties AS (
              SELECT CAST(sum(tq * tq * tq - tq) AS BIGINT) AS tsum,
                     CAST(count(DISTINCT day) AS BIGINT) AS n
              FROM (SELECT day, v, CAST(max(teq) AS BIGINT) AS tq
                    FROM ranked GROUP BY 1, 2)),
            a AS (
              SELECT CAST(k AS INT) AS k, n, sr2, tsum,
                     3.0 * CAST(sr2 AS DOUBLE)
                       / CAST(n * k * (k + 1) AS DOUBLE)
                       - 3.0 * CAST(n * (k + 1) AS DOUBLE) AS chi2_raw,
                     1.0 - CAST(tsum AS DOUBLE)
                       / CAST(n * (k * k * k - k) AS DOUBLE) AS cfac
              FROM rj, ties)
            SELECT k, n, sr2, tsum,
                   CAST(round(CAST(CASE WHEN cfac = 0.0 THEN NULL
                     ELSE chi2_raw / cfac END AS DECIMAL(30,8)), 4)
                     AS DOUBLE) AS chi2_f,
                   CAST(round(CAST(CASE WHEN cfac = 0.0 THEN NULL
                     ELSE chi2_raw / cfac END AS DECIMAL(30,8)), 4)
                     AS DOUBLE) > 9.488 AS types_differ
            FROM a"""))

  // -------------------------------------- Nelson–Aalen cumulative hazard --

  /** Nelson–Aalen cumulative-hazard estimator (Nelson 1972 / Aalen 1978 —
    * public) over the q_survival_km lifetimes: Ĥ(t) = Σ_{d≤t} e(d)/n(d),
    * the additive dual of KM's product limit — hazard INCREMENTS add, so
    * Ĥ curves subtract cleanly across cohorts where KM curves don't, and
    * Ĥ's slope reads as the raw churn hazard per lifetime-day. Where KM
    * needed a sequential ppm fold (recursive-CTE oracle), the NA sum is
    * just a cumulative-sum window: each increment quantizes to ppm by
    * integral div ((10⁶·e) div n — exact, mirrored by DuckDB //), then
    * accumulates as BIGINT. The Aalen variance Σ e/n² rides the same
    * window in ppb. No recursion, no floats, hash-exact.
    *
    * Scale: the KM economics verbatim — per-user min/max rollup, ≤ #days
    * lifetime grid, grid-sized suffix/prefix windows. The fold-free shape
    * makes it the CHEAPER estimator at scale (pure window, restartable).
    */
  private val qSurvivalNelsonAalen = GQuery(
    (s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
      val users = ev.groupBy("user_id")
        .agg(min("day").as("fd"), max("day").as("ld"),
          max(when(col("event_type") === "purchase", col("day"))).as("lp"))
        .localCheckpoint(true)
      val gmax = users.agg(max("ld").as("gd"))
      val lam = users.filter(col("lp").isNotNull).crossJoin(broadcast(gmax))
        .select(datediff(col("lp"), col("fd")).cast("long").as("dur"),
          (col("lp") < date_sub(col("gd"), 3)).cast("long").as("evt"))
      val km = lam.groupBy("dur")
        .agg(count(lit(1L)).as("n_at"), sum("evt").as("n_event"))
      val wRisk = Window.orderBy("dur")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val wCum = Window.orderBy("dur")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      km.withColumn("n_risk", sum("n_at").over(wRisk))
        .withColumn("inc_ppm", expr("(1000000 * n_event) div n_risk"))
        .withColumn("inc_var_ppb",
          expr("(1000000000 * n_event) div (n_risk * n_risk)"))
        .select(col("dur").as("dur_days"), col("n_risk"),
          col("n_event").as("n_events"),
          sum("inc_ppm").over(wCum).as("cumhaz_ppm"),
          sum("inc_var_ppb").over(wCum).as("cumhaz_var_ppb"))
        .orderBy("dur_days")
    },
    Some("""WITH ev AS (
              SELECT user_id, event_type,
                     CAST(date_trunc('day', ts) AS DATE) AS day
              FROM events),
            users AS (
              SELECT user_id, min(day) AS fd, max(day) AS ld,
                     max(CASE WHEN event_type = 'purchase' THEN day END)
                       AS lp
              FROM ev GROUP BY 1),
            g AS (SELECT max(ld) AS gd FROM users),
            lam AS (
              SELECT CAST(date_diff('day', fd, lp) AS BIGINT) AS dur,
                     CASE WHEN lp < gd - 3 THEN 1 ELSE 0 END AS evt
              FROM users, g WHERE lp IS NOT NULL),
            km AS (
              SELECT dur, CAST(count(*) AS BIGINT) AS n_at,
                     CAST(sum(evt) AS BIGINT) AS n_event
              FROM lam GROUP BY 1),
            risky AS (
              SELECT dur, n_event,
                     CAST(sum(n_at) OVER (ORDER BY dur
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                       AS BIGINT) AS n_risk
              FROM km)
            SELECT dur AS dur_days, n_risk, n_event AS n_events,
                   CAST(sum((1000000 * n_event) // n_risk)
                     OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS cumhaz_ppm,
                   CAST(sum((1000000000 * n_event) // (n_risk * n_risk))
                     OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS cumhaz_var_ppb
            FROM risky ORDER BY dur_days"""))

  // ------------------------------------------- Harrell's concordance --

  /** Harrell's C-index (Harrell 1982 — public) for the activity→survival
    * hypothesis on the q_survival_km lifetimes: does a user's breadth of
    * engagement (score = distinct active days) predict who churns later?
    * A pair (i, j) is comparable iff the shorter lifetime belongs to an
    * OBSERVED churn (t_i < t_j, i uncensored — censored-short pairs are
    * unknowable and must be excluded, the mistake a naive correlation
    * makes); concordant iff the longer-lived user also scores higher,
    * score-ties count half (doubled-integer convention). Both lifetime
    * and score are calendar-bounded (≤ #days each), so the corpus
    * collapses to a ≤ days² cell grid and every pair class is a
    * grid-dominance sum weighted by the cell's UNCENSORED count — the
    * q_stats_kendall machinery with a censoring mask. C = (2·conc +
    * tied)/(2·comparable), exact integers to the final dround'd division.
    *
    * Scale: per-user rollup (map-combinable), days²-bounded grid, grid²
    * broadcast dominance join — domain-sized, never data-sized. Pair
    * counts pass BIGINT at ~3×10⁹ users; widen to DECIMAL there.
    */
  private val qSurvivalCindex = GQuery(
    (s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
      val users = ev.groupBy("user_id")
        .agg(min("day").as("fd"), max("day").as("ld"),
          max(when(col("event_type") === "purchase", col("day"))).as("lp"),
          countDistinct(col("day")).as("score"))
        .localCheckpoint(true)
      val gmax = users.agg(max("ld").as("gd"))
      val lam = users.filter(col("lp").isNotNull).crossJoin(broadcast(gmax))
        .select(datediff(col("lp"), col("fd")).cast("long").as("dur"),
          (col("lp") < date_sub(col("gd"), 3)).cast("long").as("evt"),
          col("score"))
      val grid = lam.groupBy("dur", "score")
        .agg(count(lit(1L)).as("cnt"), sum("evt").as("cnt_evt"))
        .localCheckpoint(true)
      val g2 = grid.select(col("dur").as("dur2"), col("score").as("score2"),
        col("cnt").as("cnt2"))
      val dom = grid.join(broadcast(g2), col("dur2") > col("dur"), "left")
        .groupBy("dur", "score", "cnt_evt")
        .agg(coalesce(sum(col("cnt2")), lit(0L)).as("later"),
          coalesce(sum(when(col("score2") > col("score"), col("cnt2"))),
            lit(0L)).as("conc"),
          coalesce(sum(when(col("score2") === col("score"), col("cnt2"))),
            lit(0L)).as("tied"))
      val tot = dom.agg(
        sum(col("cnt_evt") * col("later")).as("comparable_pairs"),
        sum(col("cnt_evt") * col("conc")).as("concordant_pairs"),
        sum(col("cnt_evt") * col("tied")).as("tied_pairs"))
      val nu = lam.agg(count(lit(1L)).as("n_users"))
      tot.crossJoin(broadcast(nu))
        .select(col("n_users"), col("comparable_pairs"),
          col("concordant_pairs"), col("tied_pairs"),
          dround((lit(2) * col("concordant_pairs") + col("tied_pairs"))
            .cast("double") /
            (lit(2) * col("comparable_pairs")).cast("double"), 6)
            .as("c_index"))
    },
    Some("""WITH ev AS (
              SELECT user_id, event_type,
                     CAST(date_trunc('day', ts) AS DATE) AS day
              FROM events),
            users AS (
              SELECT user_id, min(day) AS fd, max(day) AS ld,
                     max(CASE WHEN event_type = 'purchase' THEN day END)
                       AS lp,
                     CAST(count(DISTINCT day) AS BIGINT) AS score
              FROM ev GROUP BY 1),
            g AS (SELECT max(ld) AS gd FROM users),
            lam AS (
              SELECT CAST(date_diff('day', fd, lp) AS BIGINT) AS dur,
                     CASE WHEN lp < gd - 3 THEN 1 ELSE 0 END AS evt,
                     score
              FROM users, g WHERE lp IS NOT NULL),
            grid AS (
              SELECT dur, score, CAST(count(*) AS BIGINT) AS cnt,
                     CAST(sum(evt) AS BIGINT) AS cnt_evt
              FROM lam GROUP BY 1, 2),
            dom AS (
              SELECT g1.dur, g1.score, g1.cnt_evt,
                     CAST(coalesce(sum(g2.cnt), 0) AS BIGINT) AS later,
                     CAST(coalesce(sum(CASE WHEN g2.score > g1.score
                       THEN g2.cnt END), 0) AS BIGINT) AS conc,
                     CAST(coalesce(sum(CASE WHEN g2.score = g1.score
                       THEN g2.cnt END), 0) AS BIGINT) AS tied
              FROM grid g1 LEFT JOIN grid g2 ON g2.dur > g1.dur
              GROUP BY 1, 2, 3),
            tot AS (
              SELECT CAST(sum(cnt_evt * later) AS BIGINT)
                       AS comparable_pairs,
                     CAST(sum(cnt_evt * conc) AS BIGINT)
                       AS concordant_pairs,
                     CAST(sum(cnt_evt * tied) AS BIGINT) AS tied_pairs
              FROM dom),
            nu AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM lam)
            SELECT n_users, comparable_pairs, concordant_pairs, tied_pairs,
                   CAST(round(CAST(CAST(2 * concordant_pairs + tied_pairs
                     AS DOUBLE) / CAST(2 * comparable_pairs AS DOUBLE)
                     AS DECIMAL(30,8)), 6) AS DOUBLE) AS c_index
            FROM tot, nu"""))

  // ---------------------------------------------- schedule periodicity --

  /** Scheduled-automation detection by MODAL-gap concentration — the
    * periodicity signal q_events_bot_detection's dispersion screen (gap
    * CV) cannot see: a cron-like client whose every interval is exactly
    * 300 s has CV ≈ 0, but so does smooth human browsing at a steady
    * pace; what separates the SCHEDULE is that one specific gap value
    * dominates. Per user, consecutive gaps quantized to whole seconds
    * ((ts, event_id)-ordered, integral µs→s `div`), the modal gap by
    * count with smallest-gap ties, and its concentration share in exact
    * ppm (10⁶·modal div n_gaps). Users with ≥ 20 gaps rank by
    * concentration; flag periodic at ≥ 30% — pure integers end to end,
    * no moments, no doubles.
    *
    * Scale: one user-partitioned lag window (the sessionize shuffle) +
    * a (user, gap_s) count agg + per-user argmax windows over
    * gap-cardinality partitions; TakeOrderedAndProject top-50, never a
    * global sort. The (user, gap) table is the per-user gap HISTOGRAM —
    * bounded by distinct gap values, not events.
    */
  private val qEventsPeriodicity = GQuery(
    (s, d) => {
      val wU = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gaps = t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          unix_micros(col("ts")).as("us"))
        .withColumn("gap_s",
          expr("(us - lag(us, 1) OVER (PARTITION BY user_id "
            + "ORDER BY ts, event_id)) div 1000000"))
        .filter(col("gap_s").isNotNull)
      val hist = gaps.groupBy("user_id", "gap_s")
        .agg(count(lit(1L)).as("cnt"))
      val wPick = Window.partitionBy("user_id")
        .orderBy(col("cnt").desc, col("gap_s").asc)
      val tot = hist.groupBy("user_id")
        .agg(sum("cnt").as("n_gaps"))
        .filter(col("n_gaps") >= 20)
      hist.withColumn("rk", row_number().over(wPick))
        .filter(col("rk") === 1)
        .join(tot, "user_id")
        .select(col("user_id"), col("n_gaps"),
          col("gap_s").as("modal_gap_s"), col("cnt").as("modal_cnt"),
          expr("(1000000 * cnt) div n_gaps").as("share_ppm"))
        .withColumn("periodic", col("share_ppm") >= 300000L)
        .orderBy(col("share_ppm").desc, col("user_id")).limit(50)
    },
    Some("""WITH ev AS (
              SELECT user_id,
                     (epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id))
                       // 1000000 AS gap_s
              FROM events),
            hist AS (
              SELECT user_id, gap_s, CAST(count(*) AS BIGINT) AS cnt
              FROM ev WHERE gap_s IS NOT NULL GROUP BY 1, 2),
            tot AS (
              SELECT user_id, CAST(sum(cnt) AS BIGINT) AS n_gaps
              FROM hist GROUP BY 1 HAVING sum(cnt) >= 20),
            pick AS (
              SELECT user_id, gap_s, cnt FROM (
                SELECT user_id, gap_s, cnt,
                       row_number() OVER (PARTITION BY user_id
                         ORDER BY cnt DESC, gap_s ASC) AS rk
                FROM hist) WHERE rk = 1)
            SELECT p.user_id, t.n_gaps, p.gap_s AS modal_gap_s,
                   p.cnt AS modal_cnt,
                   CAST((1000000 * p.cnt) // t.n_gaps AS BIGINT)
                     AS share_ppm,
                   (1000000 * p.cnt) // t.n_gaps >= 300000 AS periodic
            FROM pick p JOIN tot t USING (user_id)
            ORDER BY share_ppm DESC, p.user_id LIMIT 50"""))

  // ------------------------------------------------ SAX symbolization --

  /** SAX symbolic aggregate approximation (Lin/Keogh 2003 — public) of
    * the five per-type daily revenue series: PAA segment means over
    * 5-day windows, then a 4-letter alphabet cut at the GLOBAL quartiles
    * of the (type, day) cent grid — the symbolization that turns raw
    * series into joinable words (motif mining, series indexing, and the
    * cheap first pass before q_ts_dtw pays its DP). Exactness discipline:
    * segment means are integral `div` cents; quartile breakpoints are
    * grid order statistics (min c with 4·cum ≥ k·n — never a row-level
    * rank), so symbols and words hash cross-engine. (Classic SAX cuts at
    * Gaussian quantiles of z-normalized values; empirical quartiles keep
    * the arithmetic exact and adapt to the actual distribution — the
    * substitution is the point, not a shortcut.) Emits per-segment
    * evidence rows with the per-type word joined back on.
    *
    * Scale: corpus collapses to the days×types grid before anything
    * else; PAA, breakpoints, and words are all grid-sized aggs +
    * broadcast joins. Word join is |types| rows.
    */
  private val qTsSax = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val daily = t(s, d, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"),
          cents.as("c"))
        .groupBy("event_type", "day").agg(sum("c").as("v"))
        .localCheckpoint(true) // feeds rebase, breakpoints, PAA
      val d0 = daily.agg(min("day").as("d0"))
      val bp = {
        val grid = daily.groupBy("v").agg(count(lit(1L)).as("cnt"))
        val n = daily.agg(count(lit(1L)).as("n"))
        val wCum = Window.orderBy("v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.withColumn("cum", sum("cnt").over(wCum))
          .crossJoin(broadcast(n))
          .agg(min(when(lit(4) * col("cum") >= col("n"), col("v")))
              .as("q1"),
            min(when(lit(4) * col("cum") >= lit(2) * col("n"), col("v")))
              .as("q2"),
            min(when(lit(4) * col("cum") >= lit(3) * col("n"), col("v")))
              .as("q3"))
      }
      val segs = daily.crossJoin(broadcast(d0))
        .withColumn("seg", expr("datediff(day, d0) div 5"))
        .groupBy("event_type", "seg")
        .agg(count(lit(1L)).as("n_days"),
          expr("sum(v) div count(1)").as("mean_cents"))
        .crossJoin(broadcast(bp))
        .withColumn("symbol",
          when(col("mean_cents") <= col("q1"), "a")
            .when(col("mean_cents") <= col("q2"), "b")
            .when(col("mean_cents") <= col("q3"), "c")
            .otherwise("d"))
      val words = segs.groupBy("event_type")
        .agg(sort_array(collect_list(struct(col("seg"), col("symbol"))))
          .as("ss"))
        .select(col("event_type"),
          array_join(expr("transform(ss, x -> x.symbol)"), "")
            .as("sax_word"))
      segs.join(broadcast(words), "event_type")
        .select(col("event_type"), col("seg"), col("n_days"),
          col("mean_cents"), col("symbol"), col("sax_word"))
        .orderBy("event_type", "seg")
    },
    Some("""WITH daily AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
              FROM events GROUP BY 1, 2),
            d0 AS (SELECT min(day) AS d0 FROM daily),
            grid AS (
              SELECT v, CAST(count(*) AS BIGINT) AS cnt
              FROM daily GROUP BY 1),
            n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
            cum AS (
              SELECT v, CAST(sum(cnt) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum
              FROM grid),
            bp AS (
              SELECT min(CASE WHEN 4 * cum >= n THEN v END) AS q1,
                     min(CASE WHEN 4 * cum >= 2 * n THEN v END) AS q2,
                     min(CASE WHEN 4 * cum >= 3 * n THEN v END) AS q3
              FROM cum, n),
            segs AS (
              SELECT event_type,
                     CAST(date_diff('day', d0, day) // 5 AS BIGINT) AS seg,
                     CAST(count(*) AS BIGINT) AS n_days,
                     CAST(sum(v) // count(*) AS BIGINT) AS mean_cents
              FROM daily, d0 GROUP BY 1, 2),
            sym AS (
              SELECT s.event_type, s.seg, s.n_days, s.mean_cents,
                     CASE WHEN s.mean_cents <= b.q1 THEN 'a'
                          WHEN s.mean_cents <= b.q2 THEN 'b'
                          WHEN s.mean_cents <= b.q3 THEN 'c'
                          ELSE 'd' END AS symbol
              FROM segs s, bp b),
            words AS (
              SELECT event_type,
                     string_agg(symbol, '' ORDER BY seg) AS sax_word
              FROM sym GROUP BY 1)
            SELECT s.event_type, s.seg, s.n_days, s.mean_cents, s.symbol,
                   w.sax_word
            FROM sym s JOIN words w USING (event_type)
            ORDER BY s.event_type, s.seg"""))

  // ------------------------------------------ intraclass correlation --

  /** ICC(1) — one-way random-effects intraclass correlation (Fisher
    * 1925 / Shrout–Fleiss 1979 — public): how much of event-value
    * variance is BETWEEN users vs within them — the "is user a real
    * grouping variable?" number that decides whether mixed models /
    * clustered standard errors are needed before any per-user feature
    * engineering. Unequal group sizes use the standard k₀ = (N −
    * Σnᵢ²/N)/(g−1) correction. Exactness: per-user (nᵢ, Σy) rollup in
    * BIGINT, Σy² in DECIMAL(38); SSB/SSW assemble in DOUBLE from the
    * exact sums with the expression tree bit-mirrored; one dround exit.
    *
    * Scale: one map-combinable per-user agg + one scalar rollup —
    * the cochranq economics. Σ(Σyᵢ)²/nᵢ is per-group-bounded; the
    * DECIMAL widening trigger is ~10⁹-event users.
    */
  private val qStatsIcc = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val g = t(s, d, "events")
        .select(col("user_id"), cents.as("c"))
        .groupBy("user_id")
        .agg(count(lit(1L)).as("ni"), sum("c").as("si"),
          sum((col("c") * col("c")).cast("decimal(38,0)")).as("sqi"))
      val r = g.agg(count(lit(1L)).as("grp"), sum("ni").as("n"),
        sum("si").as("gt"),
        sum(col("si").cast("double") * col("si").cast("double") /
          col("ni").cast("double")).as("sgrp"),
        sum(col("ni") * col("ni")).as("sn2"),
        sum(col("sqi")).cast("double").as("ssq"))
      r.select(col("grp"), col("n"),
          (col("sgrp") - col("gt").cast("double") * col("gt").cast("double")
            / col("n").cast("double")).as("ssb"),
          (col("ssq") - col("sgrp")).as("ssw"),
          ((col("n").cast("double") - col("sn2").cast("double") /
            col("n").cast("double")) /
            (col("grp").cast("double") - 1)).as("k0"))
        .select(col("grp").as("n_groups"), col("n").as("n_obs"),
          (col("ssb") / (col("grp").cast("double") - 1)).as("msb"),
          (col("ssw") / (col("n") - col("grp")).cast("double")).as("msw"),
          col("k0"))
        .select(col("n_groups"), col("n_obs"),
          dround(col("msb") / 1e4, 2).as("msb_dollars2"),
          dround(col("msw") / 1e4, 2).as("msw_dollars2"),
          dround(col("k0"), 4).as("k0"),
          dround((col("msb") - col("msw")) /
            (col("msb") + (col("k0") - 1) * col("msw")), 6).as("icc1"))
    },
    Some("""WITH ev AS (
              SELECT user_id,
                     CAST(round(value * 100) AS BIGINT) AS c
              FROM events),
            g AS (
              SELECT user_id, CAST(count(*) AS BIGINT) AS ni,
                     CAST(sum(c) AS BIGINT) AS si,
                     sum(CAST(c AS HUGEINT) * c) AS sqi
              FROM ev GROUP BY 1),
            r AS (
              SELECT CAST(count(*) AS BIGINT) AS grp,
                     CAST(sum(ni) AS BIGINT) AS n,
                     CAST(sum(si) AS BIGINT) AS gt,
                     sum(CAST(si AS DOUBLE) * CAST(si AS DOUBLE)
                       / CAST(ni AS DOUBLE)) AS sgrp,
                     CAST(sum(ni * ni) AS BIGINT) AS sn2,
                     CAST(sum(sqi) AS DOUBLE) AS ssq
              FROM g),
            a AS (
              SELECT grp, n,
                     sgrp - CAST(gt AS DOUBLE) * CAST(gt AS DOUBLE)
                       / CAST(n AS DOUBLE) AS ssb,
                     ssq - sgrp AS ssw,
                     (CAST(n AS DOUBLE) - CAST(sn2 AS DOUBLE)
                       / CAST(n AS DOUBLE)) / (CAST(grp AS DOUBLE) - 1)
                       AS k0
              FROM r),
            b AS (
              SELECT grp AS n_groups, n AS n_obs,
                     ssb / (CAST(grp AS DOUBLE) - 1) AS msb,
                     ssw / CAST(n - grp AS DOUBLE) AS msw, k0
              FROM a)
            SELECT n_groups, n_obs,
                   CAST(round(CAST(msb / 1e4 AS DECIMAL(30,8)), 2) AS DOUBLE)
                     AS msb_dollars2,
                   CAST(round(CAST(msw / 1e4 AS DECIMAL(30,8)), 2) AS DOUBLE)
                     AS msw_dollars2,
                   CAST(round(CAST(k0 AS DECIMAL(30,8)), 4) AS DOUBLE) AS k0,
                   CAST(round(CAST((msb - msw) / (msb + (k0 - 1) * msw)
                     AS DECIMAL(30,8)), 6) AS DOUBLE) AS icc1
            FROM b"""))

  // --------------------------------------- variance inflation factors --

  /** VIF multicollinearity screen (public regression diagnostics) for
    * the three lineitem pricing regressors (quantity, discount cents,
    * tax cents) — the check q_stats_linreg/q_stats_elasticity assume
    * away: VIFⱼ = 1/(1−R²ⱼ) where R²ⱼ regresses xⱼ on the other two.
    * For three regressors R²ⱼ has the closed pairwise-correlation form
    * (r₁₂² + r₁₃² − 2r₁₂r₁₃r₂₃)/(1−r₂₃²) (permuted per j), so the whole
    * screen needs only the 3×3 correlation matrix — which comes from ONE
    * map-combinable 9-sum agg over exact integer products (domains ≤ 50
    * / 10 / 8, so every cross-moment fits BIGINT to ~10¹⁴ rows).
    * Correlations and VIFs assemble in bit-mirrored DOUBLE; dround exit.
    * VIF > 5 flags the regressor whose coefficient ANSI arithmetic can't
    * save.
    *
    * Scale: one scan, one 9-sum agg, 3 output rows — corrmatrix
    * economics with a closed-form solve instead of a matrix inversion.
    */
  private val qStatsVif = GQuery(
    (s, d) => {
      val m = t(s, d, "lineitem").select(
          floor(col("l_quantity")).cast("long").as("x1"),
          cents(col("l_discount"))
            .as("x2"),
          cents(col("l_tax")).as("x3"))
        .agg(count(lit(1L)).as("n"),
          sum("x1").as("s1"), sum("x2").as("s2"), sum("x3").as("s3"),
          sum(col("x1") * col("x1")).as("s11"),
          sum(col("x2") * col("x2")).as("s22"),
          sum(col("x3") * col("x3")).as("s33"),
          sum(col("x1") * col("x2")).as("s12"),
          sum(col("x1") * col("x3")).as("s13"),
          sum(col("x2") * col("x3")).as("s23"))
      def corr(n: Column, sx: Column, sy: Column, sxx: Column, syy: Column,
               sxy: Column): Column =
        (n.cast("double") * sxy.cast("double") -
          sx.cast("double") * sy.cast("double")) /
          sqrt((n.cast("double") * sxx.cast("double") -
            sx.cast("double") * sx.cast("double")) *
            (n.cast("double") * syy.cast("double") -
              sy.cast("double") * sy.cast("double")))
      val withR = m.select(col("n"),
        corr(col("n"), col("s1"), col("s2"), col("s11"), col("s22"),
          col("s12")).as("r12"),
        corr(col("n"), col("s1"), col("s3"), col("s11"), col("s33"),
          col("s13")).as("r13"),
        corr(col("n"), col("s2"), col("s3"), col("s22"), col("s33"),
          col("s23")).as("r23"))
      def r2(a: Column, b: Column, c: Column): Column =
        (a * a + b * b - lit(2) * a * b * c) / (lit(1) - c * c)
      val rows = withR.select(col("n"), explode(array(
        struct(lit("l_quantity").as("variable"),
          r2(col("r12"), col("r13"), col("r23")).as("r2")),
        struct(lit("l_discount").as("variable"),
          r2(col("r12"), col("r23"), col("r13")).as("r2")),
        struct(lit("l_tax").as("variable"),
          r2(col("r13"), col("r23"), col("r12")).as("r2")))).as("e"))
      rows.select(col("e.variable").as("variable"), col("n"),
          dround(col("e.r2"), 6).as("r2_on_others"),
          dround(lit(1.0) / (lit(1.0) - col("e.r2")), 4).as("vif"))
        .withColumn("collinear", col("vif") > 5.0)
        .orderBy("variable")
    },
    Some("""WITH m AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x1) AS BIGINT) AS s1,
                     CAST(sum(x2) AS BIGINT) AS s2,
                     CAST(sum(x3) AS BIGINT) AS s3,
                     CAST(sum(x1 * x1) AS BIGINT) AS s11,
                     CAST(sum(x2 * x2) AS BIGINT) AS s22,
                     CAST(sum(x3 * x3) AS BIGINT) AS s33,
                     CAST(sum(x1 * x2) AS BIGINT) AS s12,
                     CAST(sum(x1 * x3) AS BIGINT) AS s13,
                     CAST(sum(x2 * x3) AS BIGINT) AS s23
              FROM (SELECT CAST(floor(l_quantity) AS BIGINT) AS x1,
                           CAST(round(l_discount * 100) AS BIGINT) AS x2,
                           CAST(round(l_tax * 100) AS BIGINT)
                             AS x3
                    FROM lineitem)),
            r AS (
              SELECT n,
                     (CAST(n AS DOUBLE) * CAST(s12 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE))
                     / sqrt((CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                       * (CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE)
                       - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))) AS r12,
                     (CAST(n AS DOUBLE) * CAST(s13 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * CAST(s3 AS DOUBLE))
                     / sqrt((CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                       * (CAST(n AS DOUBLE) * CAST(s33 AS DOUBLE)
                       - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE))) AS r13,
                     (CAST(n AS DOUBLE) * CAST(s23 AS DOUBLE)
                       - CAST(s2 AS DOUBLE) * CAST(s3 AS DOUBLE))
                     / sqrt((CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE)
                       - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
                       * (CAST(n AS DOUBLE) * CAST(s33 AS DOUBLE)
                       - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE))) AS r23
              FROM m),
            rows_ AS (
              SELECT n, 'l_quantity' AS variable,
                     (r12 * r12 + r13 * r13 - 2 * r12 * r13 * r23)
                       / (1 - r23 * r23) AS r2 FROM r
              UNION ALL
              SELECT n, 'l_discount',
                     (r12 * r12 + r23 * r23 - 2 * r12 * r23 * r13)
                       / (1 - r13 * r13) FROM r
              UNION ALL
              SELECT n, 'l_tax',
                     (r13 * r13 + r23 * r23 - 2 * r13 * r23 * r12)
                       / (1 - r12 * r12) FROM r)
            SELECT variable, n,
                   CAST(round(CAST(r2 AS DECIMAL(30,8)), 6) AS DOUBLE)
                     AS r2_on_others,
                   CAST(round(CAST(1.0 / (1.0 - r2) AS DECIMAL(30,8)), 4)
                     AS DOUBLE) AS vif,
                   CAST(round(CAST(1.0 / (1.0 - r2) AS DECIMAL(30,8)), 4)
                     AS DOUBLE) > 5.0 AS collinear
            FROM rows_ ORDER BY variable"""))

  // ------------------------------------------------- Cook's distance --

  /** Cook's distance influence screen (Cook 1977 — public) on the daily
    * revenue trend regression: which single days, if dropped, would bend
    * the fitted revenue-vs-time line most? Dᵢ = eᵢ²·hᵢ/(p·s²·(1−hᵢ)²)
    * with leverage hᵢ = 1/n + (xᵢ−x̄)²/Sxx — the closed form that needs
    * NO refitting per point (the naive leave-one-out loop is n
    * regressions; the hat-matrix identity is one). Slope/intercept/SSE
    * come from the exact day-grid integer sums (linreg discipline: x
    * rebased to day index so Σx² stays tiny); e, h, D assemble in
    * bit-mirrored DOUBLE; flag Dᵢ > 4/n. Emitted per day with the
    * residual evidence.
    *
    * Scale: corpus → day grid (map-combinable), 5-sum scalar broadcast
    * back over the grid — two grid passes, no window, no join beyond the
    * 1-row broadcast. Influence at 100 TB is a grid property, not a row
    * property.
    */
  private val qStatsCooks = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val daily = t(s, d, "events")
        .select(to_date(col("ts")).as("day"), cents.as("c"))
        .groupBy("day").agg(sum("c").as("y"))
        .localCheckpoint(true)
      val d0 = daily.agg(min("day").as("d0"))
      val xy = daily.crossJoin(broadcast(d0))
        .select(col("day"), datediff(col("day"), col("d0")).cast("long")
          .as("x"), col("y"))
        .localCheckpoint(true)
      val sums = xy.agg(count(lit(1L)).as("n"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"), sum("y").as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("y").cast("decimal(38,0)") * col("y"))).as("syy"))
      val fit = sums.select(col("n"),
        ((col("n").cast("double") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          (col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")))
          .as("beta"),
        (col("sx").cast("double") / col("n")).as("xbar"),
        (col("sy").cast("double") / col("n")).as("ybar"),
        ((col("sxx").cast("double") - col("sx").cast("double") *
          col("sx").cast("double") / col("n").cast("double")))
          .as("sxx_c"))
      val scored = xy.crossJoin(broadcast(fit))
        .withColumn("e", col("y").cast("double") - (col("ybar") +
          col("beta") * (col("x").cast("double") - col("xbar"))))
        .withColumn("h", lit(1.0) / col("n") +
          (col("x").cast("double") - col("xbar")) *
          (col("x").cast("double") - col("xbar")) / col("sxx_c"))
        .localCheckpoint(true) // feeds SSE and the per-day emit
      val s2 = scored.agg((sum(col("e") * col("e")) /
        (max(col("n")).cast("double") - 2)).as("s2"))
      scored.crossJoin(broadcast(s2))
        .select(col("day"),
          dround(col("y").cast("double") / 100, 2).as("revenue_dollars"),
          dround(col("e") / 100, 2).as("residual_dollars"),
          dround(col("h"), 6).as("leverage"),
          dround(col("e") * col("e") * col("h") /
            (lit(2.0) * col("s2") * (lit(1.0) - col("h")) *
              (lit(1.0) - col("h"))), 6).as("cooks_d"),
          (col("e") * col("e") * col("h") /
            (lit(2.0) * col("s2") * (lit(1.0) - col("h")) *
              (lit(1.0) - col("h"))) > lit(4.0) / col("n"))
            .as("influential"))
        .orderBy("day")
    },
    Some("""WITH daily AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
              FROM events GROUP BY 1),
            d0 AS (SELECT min(day) AS d0 FROM daily),
            xy AS (
              SELECT day, CAST(date_diff('day', d0, day) AS BIGINT) AS x, y
              FROM daily, d0),
            sums AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(x * x) AS BIGINT) AS sxx,
                     CAST(sum(y) AS BIGINT) AS sy,
                     sum(CAST(x * y AS HUGEINT)) AS sxy
              FROM xy),
            fit AS (
              SELECT n,
                     (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS beta,
                     CAST(sx AS DOUBLE) / n AS xbar,
                     CAST(sy AS DOUBLE) / n AS ybar,
                     CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                       * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS sxx_c
              FROM sums),
            scored AS (
              SELECT xy.day, xy.y, f.n,
                     CAST(xy.y AS DOUBLE) - (f.ybar + f.beta
                       * (CAST(xy.x AS DOUBLE) - f.xbar)) AS e,
                     1.0 / f.n + (CAST(xy.x AS DOUBLE) - f.xbar)
                       * (CAST(xy.x AS DOUBLE) - f.xbar) / f.sxx_c AS h
              FROM xy, fit f),
            s2 AS (
              SELECT sum(e * e) / (CAST(max(n) AS DOUBLE) - 2) AS s2
              FROM scored)
            SELECT day,
                   CAST(round(CAST(CAST(y AS DOUBLE) / 100
                     AS DECIMAL(30,8)), 2) AS DOUBLE) AS revenue_dollars,
                   CAST(round(CAST(e / 100 AS DECIMAL(30,8)), 2) AS DOUBLE)
                     AS residual_dollars,
                   CAST(round(CAST(h AS DECIMAL(30,8)), 6) AS DOUBLE)
                     AS leverage,
                   CAST(round(CAST(e * e * h / (2.0 * s2.s2 * (1.0 - h)
                     * (1.0 - h)) AS DECIMAL(30,8)), 6) AS DOUBLE)
                     AS cooks_d,
                   e * e * h / (2.0 * s2.s2 * (1.0 - h) * (1.0 - h))
                     > 4.0 / n AS influential
            FROM scored, s2 ORDER BY day"""))

  // ---------------------------------------------- forecast ensembling --

  /** Equal-weight forecast combination (Bates–Granger 1969; every M-series
    * competition since — public): the median of three cheap forecasters
    * (seasonal-naive y_{t−7}, drift line, train mean) backtested on the
    * last 7 days per event type — combinations beat their average member
    * so reliably that "comb" is the standard M4 baseline, and the median
    * variant is robust to one forecaster going wild. Exactness: all three
    * forecasts are integral-cent arithmetic (drift slope via `div`), the
    * 3-median is the branch-free a+b+c−max−min identity, and the MAE
    * ledger is exact-integer `div` — the whole backtest hashes. Emits per
    * (type, method) MAE with a within-type rank; the ensemble row sitting
    * at or near rank 1 across types IS the combination lesson.
    *
    * Scale: corpus → day grid; forecasters are grid aggs + one (type,
    * rn−7) self-join of the grid (broadcast-sized); the backtest window
    * is calendar-bounded. Adding forecasters adds grid passes, never
    * corpus passes.
    */
  private val qTsEnsemble = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val daily0 = t(s, d, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"),
          cents.as("c"))
        .groupBy("event_type", "day").agg(sum("c").as("v"))
      val d0 = daily0.agg(min("day").as("d0"))
      val daily = daily0.crossJoin(broadcast(d0))
        .select(col("event_type"), datediff(col("day"), col("d0"))
          .cast("long").as("rn"), col("v"))
        .localCheckpoint(true) // feeds train aggs, snaive lags, test rows
      val train = daily.filter(col("rn") <= 22)
        .groupBy("event_type")
        .agg(expr("sum(v) div count(1)").as("f_mean"),
          max(when(col("rn") === 0, col("v"))).as("v0"),
          max(when(col("rn") === 22, col("v"))).as("v22"))
      val lag7 = daily.select(col("event_type"), (col("rn") + 7).as("rn"),
        col("v").as("f_snaive"))
      val test = daily.filter(col("rn") >= 23)
        .join(broadcast(lag7), Seq("event_type", "rn"))
        .join(broadcast(train), "event_type")
        .withColumn("f_drift", col("v22") +
          expr("((rn - 22) * (v22 - v0)) div 22"))
        .withColumn("f_ens", col("f_snaive") + col("f_drift") +
          col("f_mean") -
          greatest(col("f_snaive"), col("f_drift"), col("f_mean")) -
          least(col("f_snaive"), col("f_drift"), col("f_mean")))
      val mae = test.groupBy("event_type")
        .agg(expr("sum(abs(v - f_snaive)) div count(1)").as("snaive"),
          expr("sum(abs(v - f_drift)) div count(1)").as("drift"),
          expr("sum(abs(v - f_mean)) div count(1)").as("mean"),
          expr("sum(abs(v - f_ens)) div count(1)").as("ensemble"))
        .select(col("event_type"), explode(array(
          struct(lit("1_snaive").as("method"), col("snaive").as("mae_cents")),
          struct(lit("2_drift").as("method"), col("drift").as("mae_cents")),
          struct(lit("3_mean").as("method"), col("mean").as("mae_cents")),
          struct(lit("4_ensemble").as("method"),
            col("ensemble").as("mae_cents")))).as("e"))
        .select(col("event_type"), col("e.method").as("method"),
          col("e.mae_cents").as("mae_cents"))
      // explicit NULLS LAST: a missing day-0/22 anchor nulls a member's
      // MAE, and Spark (nulls first) and DuckDB (nulls last) disagree on
      // default null order — pin it so the rank hashes regardless
      val wRk = Window.partitionBy("event_type")
        .orderBy(col("mae_cents").asc_nulls_last, col("method"))
      mae.withColumn("rank_in_type", row_number().over(wRk).cast("int"))
        .orderBy("event_type", "method")
    },
    Some("""WITH daily0 AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
              FROM events GROUP BY 1, 2),
            d0 AS (SELECT min(day) AS d0 FROM daily0),
            daily AS (
              SELECT event_type,
                     CAST(date_diff('day', d0, day) AS BIGINT) AS rn, v
              FROM daily0, d0),
            train AS (
              SELECT event_type, CAST(sum(v) // count(*) AS BIGINT) AS f_mean,
                     CAST(max(CASE WHEN rn = 0 THEN v END) AS BIGINT) AS v0,
                     CAST(max(CASE WHEN rn = 22 THEN v END) AS BIGINT) AS v22
              FROM daily WHERE rn <= 22 GROUP BY 1),
            test AS (
              SELECT t.event_type, t.rn, t.v, l.v AS f_snaive,
                     tr.v22 + ((t.rn - 22) * (tr.v22 - tr.v0)) // 22
                       AS f_drift,
                     tr.f_mean
              FROM daily t
              JOIN daily l ON l.event_type = t.event_type
                AND l.rn = t.rn - 7
              JOIN train tr ON tr.event_type = t.event_type
              WHERE t.rn >= 23),
            withe AS (
              SELECT *, f_snaive + f_drift + f_mean
                     - greatest(f_snaive, f_drift, f_mean)
                     - least(f_snaive, f_drift, f_mean) AS f_ens
              FROM test),
            mae AS (
              SELECT event_type,
                     CAST(sum(abs(v - f_snaive)) // count(*) AS BIGINT)
                       AS m1,
                     CAST(sum(abs(v - f_drift)) // count(*) AS BIGINT) AS m2,
                     CAST(sum(abs(v - f_mean)) // count(*) AS BIGINT) AS m3,
                     CAST(sum(abs(v - f_ens)) // count(*) AS BIGINT) AS m4
              FROM withe GROUP BY 1),
            rows_ AS (
              SELECT event_type, '1_snaive' AS method, m1 AS mae_cents
              FROM mae
              UNION ALL SELECT event_type, '2_drift', m2 FROM mae
              UNION ALL SELECT event_type, '3_mean', m3 FROM mae
              UNION ALL SELECT event_type, '4_ensemble', m4 FROM mae)
            SELECT event_type, method, mae_cents,
                   CAST(row_number() OVER (PARTITION BY event_type
                     ORDER BY mae_cents NULLS LAST, method) AS INT)
                     AS rank_in_type
            FROM rows_ ORDER BY event_type, method"""))

  // ------------------------------------------------- Mann–Kendall trend --

  /** Mann–Kendall trend test (Mann 1945 / Kendall 1975 — public) per
    * event type: IS there a monotone revenue trend, nonparametrically —
    * the significance TEST q_ts_theilsen's slope estimate doesn't carry
    * (a slope without a test invites reading noise as drift). S =
    * Σ_{i<j} sign(yⱼ − yᵢ) over the day grid — exact integers from a
    * calendar²-bounded pair join; Var(S) = [n(n−1)(2n+5) −
    * Σt(t−1)(2t+5)]/18 with the tie term from the value-grid counts; the
    * normal approximation applies the ±1 continuity correction and
    * flags |Z| > 1.96. All integer numerators; Z exits through one
    * dround.
    *
    * Scale: corpus → days×types grid; the pair join is days²-sized per
    * type (never data-sized) and the tie agg is grid-sized. The theilsen
    * economics with a verdict attached.
    */
  private val qStatsMannkendall = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val daily = t(s, d, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"),
          cents.as("c"))
        .groupBy("event_type", "day").agg(sum("c").as("v"))
        .localCheckpoint(true) // pair join both sides + tie grid
      val p2 = daily.select(col("event_type"), col("day").as("day2"),
        col("v").as("v2"))
      val sAgg = daily.join(broadcast(p2),
          Seq("event_type")).filter(col("day2") > col("day"))
        .groupBy("event_type")
        .agg(count(lit(1L)).as("n_pairs"),
          sum(signum(col("v2") - col("v")).cast("long")).as("s"))
      val ties = daily.groupBy("event_type", "v")
        .agg(count(lit(1L)).as("tcnt"))
        .groupBy("event_type")
        .agg(count(lit(1L)).as("n_values"), sum("tcnt").as("n"),
          sum(col("tcnt") * (col("tcnt") - 1) *
            (lit(2) * col("tcnt") + 5)).as("tie_term"))
      sAgg.join(broadcast(ties), "event_type")
        .select(col("event_type"), col("n"), col("s"),
          ((col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) -
            col("tie_term")).cast("double") / 18.0).as("var_s"))
        .select(col("event_type"), col("n"), col("s"),
          dround(col("var_s"), 4).as("var_s"),
          dround(when(col("s") > 0,
              (col("s") - 1).cast("double") / sqrt(col("var_s")))
            .when(col("s") < 0,
              (col("s") + 1).cast("double") / sqrt(col("var_s")))
            .otherwise(0.0), 4).as("z"))
        .withColumn("has_trend", abs(col("z")) > 1.96)
        .orderBy("event_type")
    },
    Some("""WITH daily AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
              FROM events GROUP BY 1, 2),
            sagg AS (
              SELECT a.event_type, CAST(count(*) AS BIGINT) AS n_pairs,
                     CAST(sum(CASE WHEN b.v > a.v THEN 1
                       WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s
              FROM daily a JOIN daily b
                ON b.event_type = a.event_type AND b.day > a.day
              GROUP BY 1),
            ties AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n_values,
                     CAST(sum(tcnt) AS BIGINT) AS n,
                     CAST(sum(tcnt * (tcnt - 1) * (2 * tcnt + 5))
                       AS BIGINT) AS tie_term
              FROM (SELECT event_type, v, CAST(count(*) AS BIGINT) AS tcnt
                    FROM daily GROUP BY 1, 2)
              GROUP BY 1),
            a AS (
              SELECT s.event_type, t.n, s.s,
                     CAST(t.n * (t.n - 1) * (2 * t.n + 5) - t.tie_term
                       AS DOUBLE) / 18.0 AS var_s
              FROM sagg s JOIN ties t USING (event_type)),
            z AS (
              SELECT event_type, n, s,
                     CAST(round(CAST(var_s AS DECIMAL(30,8)), 4) AS DOUBLE)
                       AS var_s,
                     CAST(round(CAST(CASE
                       WHEN s > 0 THEN CAST(s - 1 AS DOUBLE) / sqrt(var_s)
                       WHEN s < 0 THEN CAST(s + 1 AS DOUBLE) / sqrt(var_s)
                       ELSE 0.0 END AS DECIMAL(30,8)), 4) AS DOUBLE) AS z
              FROM a)
            SELECT event_type, n, s, var_s, z, abs(z) > 1.96 AS has_trend
            FROM z ORDER BY event_type"""))

  // --------------------------------------- Cramér–von Mises two-sample --

  /** Cramér–von Mises two-sample distance (Cramér 1928 / Anderson 1962 —
    * public), pairwise across the five event types: the INTEGRATED-square
    * member of the ECDF family — q_stats_ks reads the worst single gap
    * (sensitive to one sharp deviation), q_stats_wasserstein integrates
    * |ΔF| over the VALUE axis (units: dollars), CvM integrates ΔF² over
    * the pooled PROBABILITY axis (unit-free, tail-insensitive) —
    * Anderson's form T = (n_a·n_b/N²)·Σ_pooled cnt·(F_a−F_b)². Exact to
    * the last step: cross-multiplied integer ECDF gaps (cumA·n_b −
    * cumB·n_a) square into DECIMAL(38)/HUGEINT weighted by pooled cell
    * counts (Σ bounded by ~10³² at sf0.1 — inside DECIMAL(38)), one
    * DOUBLE exit dround'd, flag at the 5% critical value 0.461.
    *
    * Scale: the wasserstein pipeline verbatim (grid agg, 10-row pair
    * fan, pair-partitioned cumsums) with a squared-gap accumulator —
    * value-domain-bounded end to end.
    */
  private val qStatsCvm = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val grid = t(s, d, "events")
        .select(col("event_type"), cents.as("c"))
        .groupBy("event_type", "c").agg(count(lit(1L)).as("cnt"))
        .localCheckpoint(true)
      val tot = grid.groupBy("event_type").agg(sum("cnt").as("n"))
      val pairs = tot.select(col("event_type").as("ta"), col("n").as("na"))
        .crossJoin(tot.select(col("event_type").as("tb"), col("n").as("nb")))
        .filter(col("ta") < col("tb"))
      val cells = broadcast(pairs)
        .join(grid, col("event_type") === col("ta") ||
          col("event_type") === col("tb"))
        // one exchange for the cell agg AND the pair-partitioned cumsum
        // windows: (ta, tb) is a subset of the agg keys and exactly the
        // window key, so clustering here serves both (the near-unique c
        // grid gains nothing from the default plan's partial agg)
        .repartition(col("ta"), col("tb"))
        .groupBy("ta", "tb", "na", "nb", "c")
        .agg(sum(when(col("event_type") === col("ta"), col("cnt"))
            .otherwise(0L)).as("ca"),
          sum(when(col("event_type") === col("tb"), col("cnt"))
            .otherwise(0L)).as("cb"))
      val wCum = Window.partitionBy("ta", "tb").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells
        .withColumn("cuma", sum("ca").over(wCum))
        .withColumn("cumb", sum("cb").over(wCum))
        .withColumn("gap", col("cuma") * col("nb") - col("cumb") * col("na"))
        .groupBy("ta", "tb", "na", "nb")
        .agg(sum((col("ca") + col("cb")).cast("decimal(38,0)") *
          col("gap") * col("gap")).as("num"))
        .select(col("ta").as("type_a"), col("tb").as("type_b"),
          dround(col("num").cast("double") /
            (col("na").cast("double") * col("nb").cast("double") *
              (col("na") + col("nb")).cast("double") *
              (col("na") + col("nb")).cast("double")), 6).as("cvm_t"))
        .withColumn("distributions_differ", col("cvm_t") > 0.461)
        .orderBy("type_a", "type_b")
    },
    Some("""WITH ev AS (
              SELECT event_type,
                     CAST(round(value * 100) AS BIGINT) AS c
              FROM events),
            grid AS (
              SELECT event_type, c, CAST(count(*) AS BIGINT) AS cnt
              FROM ev GROUP BY 1, 2),
            tot AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
                    FROM grid GROUP BY 1),
            pairs AS (
              SELECT a.event_type AS ta, a.n AS na,
                     b.event_type AS tb, b.n AS nb
              FROM tot a, tot b WHERE a.event_type < b.event_type),
            cells AS (
              SELECT p.ta, p.tb, p.na, p.nb, g.c,
                     CAST(sum(CASE WHEN g.event_type = p.ta THEN g.cnt
                       ELSE 0 END) AS BIGINT) AS ca,
                     CAST(sum(CASE WHEN g.event_type = p.tb THEN g.cnt
                       ELSE 0 END) AS BIGINT) AS cb
              FROM pairs p JOIN grid g
                ON g.event_type = p.ta OR g.event_type = p.tb
              GROUP BY 1, 2, 3, 4, 5),
            cum AS (
              SELECT ta, tb, na, nb, ca, cb,
                     CAST(sum(ca) OVER w AS BIGINT) AS cuma,
                     CAST(sum(cb) OVER w AS BIGINT) AS cumb
              FROM cells
              WINDOW w AS (PARTITION BY ta, tb ORDER BY c
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
            num AS (
              SELECT ta, tb, na, nb,
                     sum(CAST(ca + cb AS HUGEINT)
                       * (cuma * nb - cumb * na) * (cuma * nb - cumb * na))
                       AS num
              FROM cum GROUP BY 1, 2, 3, 4)
            SELECT ta AS type_a, tb AS type_b,
                   CAST(round(CAST(CAST(num AS DOUBLE)
                     / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                       * CAST(na + nb AS DOUBLE) * CAST(na + nb AS DOUBLE))
                     AS DECIMAL(30,8)), 6) AS DOUBLE) AS cvm_t,
                   CAST(round(CAST(CAST(num AS DOUBLE)
                     / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                       * CAST(na + nb AS DOUBLE) * CAST(na + nb AS DOUBLE))
                     AS DECIMAL(30,8)), 6) AS DOUBLE) > 0.461
                     AS distributions_differ
            FROM num ORDER BY type_a, type_b"""))

  // ------------------------------------- hierarchical reconciliation --

  /** Hierarchical forecast reconciliation (Hyndman's coherence problem —
    * public): the per-type snaive forecasts and an INDEPENDENT total-level
    * snaive forecast disagree (forecasts don't add up — the defining
    * failure of hierarchical forecasting), and the two classical repairs
    * are computed side by side: bottom-up (total := Σ type forecasts) and
    * top-down (each type := its trailing-7-day revenue share of the
    * direct total forecast, ppm-quantized with the remainder assigned to
    * the lexicographically last type so the allocation adds up EXACTLY —
    * the integer-coherence discipline). Per (day, type): base vs
    * top-down with the gap; per day a `__total__` row carries direct vs
    * bottom-up and THEIR gap. All integral-cent arithmetic; the row set
    * hashes.
    *
    * Scale: day-grid aggs + a (type, rn−7) grid self-join + a 5-row
    * share broadcast — ensemble economics; hierarchy depth adds grid
    * passes, not corpus passes.
    */
  private val qTsReconcile = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val daily0 = t(s, d, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"),
          cents.as("c"))
        .groupBy("event_type", "day").agg(sum("c").as("v"))
      val d0 = daily0.agg(min("day").as("d0"))
      val daily = daily0.crossJoin(broadcast(d0))
        .select(col("event_type"), datediff(col("day"), col("d0"))
          .cast("long").as("rn"), col("v"))
        .localCheckpoint(true)
      // per-type snaive forecasts for the last 7 days
      val base = daily.filter(col("rn") >= 23)
        .select(col("event_type"), col("rn"))
        .join(broadcast(daily.select(col("event_type"),
          (col("rn") + 7).as("rn"), col("v").as("f_base"))),
          Seq("event_type", "rn"))
      // direct total-level snaive: total series lagged 7
      val totalDirect = daily.groupBy("rn")
        .agg(sum("v").as("tv"))
        .select((col("rn") + 7).as("rn"), col("tv").as("f_total_direct"))
        .filter(col("rn") >= 23 && col("rn") <= 29)
      // trailing shares from the train tail (rn 16..22), ppm
      val shares = daily.filter(col("rn") >= 16 && col("rn") <= 22)
        .groupBy("event_type").agg(sum("v").as("sv"))
      val tot = shares.agg(sum("sv").as("st"))
      val wLast = Window.orderBy(col("event_type").desc)
      val shareP = shares.crossJoin(broadcast(tot))
        .withColumn("ppm", expr("(1000000 * sv) div st"))
        // integer coherence: the remainder ppm lands on the LAST type
        .withColumn("is_last", row_number().over(wLast) === 1)
      val ppmSum = shareP.agg(sum("ppm").as("ps"))
      val sharesFixed = shareP.crossJoin(broadcast(ppmSum))
        .select(col("event_type"),
          when(col("is_last"), col("ppm") + (lit(1000000L) - col("ps")))
            .otherwise(col("ppm")).as("ppm"))
      val wLastRn = Window.partitionBy("rn")
        .orderBy(col("event_type").desc)
      val td0 = totalDirect.crossJoin(broadcast(sharesFixed))
        .withColumn("f_td_raw", expr("(f_total_direct * ppm) div 1000000"))
      val tdSum = td0.groupBy("rn")
        .agg(sum("f_td_raw").as("tds"), max("f_total_direct").as("ftd"))
      val td = td0.join(broadcast(tdSum), "rn")
        .withColumn("f_td",
          when(row_number().over(wLastRn) === 1,
            col("f_td_raw") + (col("ftd") - col("tds")))
            .otherwise(col("f_td_raw")))
        .select(col("event_type"), col("rn"), col("f_td"))
      val typeRows = base.join(td, Seq("event_type", "rn"))
        .select(col("rn"), col("event_type"), col("f_base"),
          col("f_td"), (col("f_base") - col("f_td")).as("gap_cents"))
      val bu = base.groupBy("rn").agg(sum("f_base").as("f_bu"))
      val totalRows = bu.join(totalDirect, "rn")
        .select(col("rn"), lit("__total__").as("event_type"),
          col("f_bu").as("f_base"), col("f_total_direct").as("f_td"),
          (col("f_bu") - col("f_total_direct")).as("gap_cents"))
      typeRows.unionByName(totalRows).orderBy("rn", "event_type")
    },
    Some("""WITH daily0 AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
              FROM events GROUP BY 1, 2),
            d0 AS (SELECT min(day) AS d0 FROM daily0),
            daily AS (
              SELECT event_type,
                     CAST(date_diff('day', d0, day) AS BIGINT) AS rn, v
              FROM daily0, d0),
            base AS (
              SELECT t.event_type, t.rn, l.v AS f_base
              FROM daily t JOIN daily l
                ON l.event_type = t.event_type AND l.rn = t.rn - 7
              WHERE t.rn >= 23),
            total_direct AS (
              SELECT rn + 7 AS rn, CAST(sum(v) AS BIGINT) AS f_total_direct
              FROM daily GROUP BY rn
              HAVING rn + 7 BETWEEN 23 AND 29),
            shares AS (
              SELECT event_type, CAST(sum(v) AS BIGINT) AS sv
              FROM daily WHERE rn BETWEEN 16 AND 22 GROUP BY 1),
            tot AS (SELECT CAST(sum(sv) AS BIGINT) AS st FROM shares),
            sharep AS (
              SELECT event_type, (1000000 * sv) // st AS ppm,
                     row_number() OVER (ORDER BY event_type DESC) = 1
                       AS is_last
              FROM shares, tot),
            ppmsum AS (SELECT CAST(sum(ppm) AS BIGINT) AS ps FROM sharep),
            sharesfixed AS (
              SELECT event_type,
                     CASE WHEN is_last THEN ppm + (1000000 - ps)
                          ELSE ppm END AS ppm
              FROM sharep, ppmsum),
            td0 AS (
              SELECT s.event_type, t.rn,
                     (t.f_total_direct * s.ppm) // 1000000 AS f_td_raw,
                     t.f_total_direct
              FROM sharesfixed s, total_direct t),
            tdsum AS (
              SELECT rn, CAST(sum(f_td_raw) AS BIGINT) AS tds,
                     CAST(max(f_total_direct) AS BIGINT) AS ftd
              FROM td0 GROUP BY 1),
            td AS (
              SELECT t.event_type, t.rn,
                     CASE WHEN row_number() OVER (PARTITION BY t.rn
                         ORDER BY t.event_type DESC) = 1
                       THEN t.f_td_raw + (u.ftd - u.tds)
                       ELSE t.f_td_raw END AS f_td
              FROM td0 t JOIN tdsum u USING (rn)),
            typerows AS (
              SELECT b.rn, b.event_type, b.f_base, td.f_td,
                     b.f_base - td.f_td AS gap_cents
              FROM base b JOIN td
                ON td.event_type = b.event_type AND td.rn = b.rn),
            totalrows AS (
              SELECT b.rn, '__total__' AS event_type,
                     CAST(sum(b.f_base) AS BIGINT) AS f_base,
                     max(t.f_total_direct) AS f_td,
                     CAST(sum(b.f_base) AS BIGINT) - max(t.f_total_direct)
                       AS gap_cents
              FROM base b JOIN total_direct t USING (rn)
              GROUP BY b.rn)
            SELECT rn, event_type, f_base, f_td, gap_cents
            FROM (SELECT * FROM typerows UNION ALL SELECT * FROM totalrows)
            ORDER BY rn, event_type"""))

  // ------------------------------------- inclusion-dependency discovery --

  /** Inclusion-dependency (foreign-key) discovery (De Marchi 2002; the
    * SPIDER/profiling literature — public): which column's value set is
    * contained in another's — the structural complement of
    * q_profile_funcdep (FDs find keys WITHIN a table; INDs find the
    * joins BETWEEN tables a lakehouse catalog forgot to declare). Five
    * candidate directed pairs — the four true star-schema FKs, the
    * reverse customer→orders (holds HERE because every synthetic
    * customer ordered; on sparse data it breaks, which is why direction
    * is measured, not assumed), and supplier→customer, the classic
    * SPURIOUS IND (suppkey 1..100 numerically ⊆ custkey 1..1500 with no
    * semantic relationship — the false positive IND discovery is famous
    * for, and why a discovery pipeline post-filters by name/type
    * affinity). Each candidate measures: distinct child values, how many
    * are ABSENT from the parent (left-anti on the distincts), coverage
    * in exact ppm, and the IND verdict.
    *
    * Scale: per pair one distinct-agg per side + one anti-join on the
    * key — all shuffle-keyed on high-entropy ids; candidate generation at
    * 100 TB prunes by type/cardinality metadata first (the profiling
    * pipeline's q_profile_columns pass), so the pair list stays small.
    */
  private val qProfileInclusion = GQuery(
    (s, d) => {
      def ind(child: DataFrame, ck: String, parent: DataFrame, pk: String,
              name: String): DataFrame = {
        // SQL FK semantics: NULL child keys don't participate in the IND
        // (and NOT IN in the oracle would go three-valued on them)
        val cd = child.select(col(ck).as("k")).filter(col("k").isNotNull)
          .distinct()
          .localCheckpoint(true) // counted AND anti-joined
        val pd = parent.select(col(pk).as("k")).distinct()
        val nC = cd.agg(count(lit(1L)).as("n_child"))
        val miss = cd.join(pd, Seq("k"), "left_anti")
          .agg(count(lit(1L)).as("n_missing"))
        nC.crossJoin(miss).select(lit(name).as("candidate"),
          col("n_child"), col("n_missing"),
          expr("((n_child - n_missing) * 1000000) div n_child")
            .as("coverage_ppm"),
          (col("n_missing") === 0L).as("is_ind"))
      }
      // NOT checkpointed on purpose: each candidate's parquet scan prunes
      // to its single key column, which beats one shared 3-column
      // materialization (measured: the checkpoint variant ran ~0.3 s
      // slower isolated)
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      Seq(
        ind(li, "l_orderkey", o, "o_orderkey", "lineitem.orderkey->orders"),
        ind(li, "l_partkey", t(s, d, "part"), "p_partkey",
          "lineitem.partkey->part"),
        ind(li, "l_suppkey", t(s, d, "supplier"), "s_suppkey",
          "lineitem.suppkey->supplier"),
        ind(o, "o_custkey", t(s, d, "customer"), "c_custkey",
          "orders.custkey->customer"),
        ind(t(s, d, "customer"), "c_custkey", o, "o_custkey",
          "customer.custkey->orders"),
        ind(t(s, d, "supplier"), "s_suppkey", t(s, d, "customer"),
          "c_custkey", "supplier.suppkey->customer(spurious)"))
        .reduce(_ unionByName _)
        .orderBy("candidate")
    },
    Some("""WITH c1 AS (SELECT DISTINCT l_orderkey AS k FROM lineitem
                    WHERE l_orderkey IS NOT NULL),
            c2 AS (SELECT DISTINCT l_partkey AS k FROM lineitem
                    WHERE l_partkey IS NOT NULL),
            c3 AS (SELECT DISTINCT l_suppkey AS k FROM lineitem
                    WHERE l_suppkey IS NOT NULL),
            c4 AS (SELECT DISTINCT o_custkey AS k FROM orders
                    WHERE o_custkey IS NOT NULL),
            c5 AS (SELECT DISTINCT c_custkey AS k FROM customer
                    WHERE c_custkey IS NOT NULL),
            p1 AS (SELECT DISTINCT o_orderkey AS k FROM orders),
            p2 AS (SELECT DISTINCT p_partkey AS k FROM part),
            p3 AS (SELECT DISTINCT s_suppkey AS k FROM supplier),
            p4 AS (SELECT DISTINCT c_custkey AS k FROM customer),
            p5 AS (SELECT DISTINCT o_custkey AS k FROM orders
                    WHERE o_custkey IS NOT NULL),
            c6 AS (SELECT DISTINCT s_suppkey AS k FROM supplier
                    WHERE s_suppkey IS NOT NULL),
            p6 AS (SELECT DISTINCT c_custkey AS k FROM customer),
            rows_ AS (
              SELECT 'lineitem.orderkey->orders' AS candidate,
                     (SELECT CAST(count(*) AS BIGINT) FROM c1) AS n_child,
                     (SELECT CAST(count(*) AS BIGINT) FROM c1
                      WHERE k NOT IN (SELECT k FROM p1)) AS n_missing
              UNION ALL
              SELECT 'lineitem.partkey->part',
                     (SELECT count(*) FROM c2),
                     (SELECT count(*) FROM c2
                      WHERE k NOT IN (SELECT k FROM p2))
              UNION ALL
              SELECT 'lineitem.suppkey->supplier',
                     (SELECT count(*) FROM c3),
                     (SELECT count(*) FROM c3
                      WHERE k NOT IN (SELECT k FROM p3))
              UNION ALL
              SELECT 'orders.custkey->customer',
                     (SELECT count(*) FROM c4),
                     (SELECT count(*) FROM c4
                      WHERE k NOT IN (SELECT k FROM p4))
              UNION ALL
              SELECT 'customer.custkey->orders',
                     (SELECT count(*) FROM c5),
                     (SELECT count(*) FROM c5
                      WHERE k NOT IN (SELECT k FROM p5))
              UNION ALL
              SELECT 'supplier.suppkey->customer(spurious)',
                     (SELECT count(*) FROM c6),
                     (SELECT count(*) FROM c6
                      WHERE k NOT IN (SELECT k FROM p6)))
            SELECT candidate, CAST(n_child AS BIGINT) AS n_child,
                   CAST(n_missing AS BIGINT) AS n_missing,
                   CAST(((n_child - n_missing) * 1000000) // n_child
                     AS BIGINT) AS coverage_ppm,
                   n_missing = 0 AS is_ind
            FROM rows_ ORDER BY candidate"""))

  // ------------------------------------------- integer Kalman filter --

  /** 1-D local-level Kalman filter over the daily revenue series — the
    * principled upgrade of q_ts_ewma/q_ts_holt: the SAME exponential
    * smoothing family, but the gain is LEARNED from the noise model
    * instead of fixed, time-varying while uncertainty converges (day 1
    * records the fully-data-trusting init gain 10⁶; K₂ ≈ ½ under
    * P₁ = R, then K decays toward the steady state ≈ 9·10⁴ ppm within a
    * week — the warm-up is visible in the k_ppm column, which no fixed-α
    * smoother exhibits). Exact
    * integer recurrence (Q = 10⁶, R = 10⁸ cents², gain in ppm):
    *   Pₘ = P + Q;  K = Pₘ·10⁶ div (Pₘ + R)
    *   x′ = x + K·(z − x) div 10⁶;  P′ = (10⁶ − K)·Pₘ div 10⁶
    * init x₁ = z₁, P₁ = R. z − x is SIGNED — div truncates toward zero
    * identically in both engines (the fixed-point invariant). Emits per
    * day the filtered level, posterior variance, gain, and innovation
    * z − x_pred (x_pred = yesterday's level; the identity transition) —
    * the residual stream an alerting pipeline whitens against.
    *
    * Scale: q_ts_holt economics exactly — the corpus collapses to ≤ #days
    * rows before the fold; the sequential part is calendar-bounded and
    * the oracle unrolls it as a recursive CTE. BIGINT headroom: K·(z−x)
    * ≤ 10⁶·|z| — overflows past |z| ≈ 9·10¹² cents/day.
    */
  private val qTsKalman = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val daily = t(s, d, "events")
        .select(to_date(col("ts")).as("day"), cents.as("v"))
        .groupBy("day").agg(sum("v").as("z"))
      val series = daily
        .agg(sort_array(collect_list(struct(col("day"), col("z")))).as("s"))
        .select(transform(col("s"), r => r.getField("day")).as("days"),
          transform(col("s"), r => r.getField("z")).as("zs"))
      val folded = series.withColumn("st", expr(
        """aggregate(zs,
             CAST(array() AS ARRAY<STRUCT<x: BIGINT, p: BIGINT,
                                          k: BIGINT>>),
             (acc, z) -> CASE WHEN size(acc) = 0
               THEN array(named_struct('x', z,
                 'p', CAST(100000000 AS BIGINT),
                 'k', CAST(1000000 AS BIGINT)))
               ELSE concat(acc, array(named_struct(
                 'x', element_at(acc, -1).x
                   + (((element_at(acc, -1).p + 1000000) * 1000000
                        div (element_at(acc, -1).p + 1000000 + 100000000))
                      * (z - element_at(acc, -1).x)) div 1000000,
                 'p', ((1000000
                     - (element_at(acc, -1).p + 1000000) * 1000000
                        div (element_at(acc, -1).p + 1000000 + 100000000))
                    * (element_at(acc, -1).p + 1000000)) div 1000000,
                 'k', (element_at(acc, -1).p + 1000000) * 1000000
                        div (element_at(acc, -1).p + 1000000 + 100000000))))
             END)"""))
      val wLag = Window.orderBy("day")
      folded
        .select(posexplode(arrays_zip(col("days"), col("zs"), col("st"))))
        .select(col("col.days").as("day"), col("col.zs").as("z_cents"),
          col("col.st.x").as("level_cents"), col("col.st.p").as("p_var"),
          col("col.st.k").as("k_ppm"))
        .withColumn("innov_cents",
          coalesce(col("z_cents") - lag("level_cents", 1).over(wLag),
            lit(0L)))
        .orderBy("day")
    },
    Some("""WITH RECURSIVE daily AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS z
              FROM events GROUP BY 1),
            seq AS (
              SELECT day, z,
                     CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
              FROM daily),
            kal AS (
              SELECT day, z, rn, z AS x,
                     CAST(100000000 AS BIGINT) AS p,
                     CAST(1000000 AS BIGINT) AS k
              FROM seq WHERE rn = 1
              UNION ALL
              SELECT s.day, s.z, s.rn,
                     CAST(h.x + (((h.p + 1000000) * 1000000
                         // (h.p + 1000000 + 100000000))
                       * (s.z - h.x)) // 1000000 AS BIGINT),
                     CAST(((1000000 - (h.p + 1000000) * 1000000
                         // (h.p + 1000000 + 100000000))
                       * (h.p + 1000000)) // 1000000 AS BIGINT),
                     CAST((h.p + 1000000) * 1000000
                         // (h.p + 1000000 + 100000000) AS BIGINT)
              FROM seq s JOIN kal h ON s.rn = h.rn + 1)
            SELECT day, z AS z_cents, x AS level_cents, p AS p_var,
                   k AS k_ppm,
                   CAST(coalesce(z - lag(x, 1) OVER (ORDER BY day), 0)
                     AS BIGINT) AS innov_cents
            FROM kal ORDER BY day"""))

  // ----------------------------------------- kernel two-sample MMD --

  /** Maximum Mean Discrepancy two-sample test with a quadratic polynomial
    * kernel k(x,y) = (c + ⟨x,y⟩)², c = 100 — the MULTIVARIATE
    * distribution-shift detector the 1-D ECDF family (ks/cvm/wasserstein)
    * can't express: arms are compared on the JOINT (dollars, hour-of-day)
    * feature, so a shift in the value×time correlation pages even when
    * both marginals match. The kernel trick stays EXACT: for a quadratic
    * kernel every pairwise sum collapses to moment sums —
    * Σₐᵦ k = c²·nₚn_q + 2c·⟨S_P,S_Q⟩ + Σᵢⱼ Tᵢⱼ(P)·Tᵢⱼ(Q) with S the
    * feature sums and T the second-moment matrix, and the unbiased
    * within-arm mean subtracts the diagonal Σₐ(c + ‖xₐ‖²)² via the
    * fourth-moment sum — so the O(n²) statistic is computed from ONE
    * map-side-combinable pass, no pair materialization at any scale.
    * DECIMAL(38) products (HUGEINT twin) since Tᵢⱼ² crosses 2⁶³ past
    * ~10⁶ rows per cell; means in milli-kernel units via integral div.
    *
    * Scale: one (event_type, arm) agg carrying 7 moment sums; everything
    * after is a 5-row broadcastable grid. The classic MMD would shuffle
    * n² pairs; this formulation shuffles 10 rows.
    */
  private val qStatsMmd = GQuery(
    (s, d) => {
      val x1 = expr("CAST(round(value * 100) AS BIGINT)"
        + " div 100")
      val cells = t(s, d, "events")
        .select(col("event_type"),
          pmod(col("user_id"), lit(2)).cast("long").as("arm"),
          x1.as("x1"), hour(col("ts")).cast("long").as("x2"))
        .groupBy("event_type", "arm")
        .agg(count(lit(1L)).as("n"),
          sum("x1").as("s1"), sum("x2").as("s2"),
          sum(col("x1") * col("x1")).as("t11"),
          sum(col("x1") * col("x2")).as("t12"),
          sum(col("x2") * col("x2")).as("t22"),
          sum(expr("""CAST((x1 * x1 + x2 * x2) AS DECIMAL(38,0))
                      * (x1 * x1 + x2 * x2)""")).as("q4"))
      val a = cells.filter(col("arm") === 0).drop("arm")
        .select(col("event_type"), col("n").as("na"), col("s1").as("s1a"),
          col("s2").as("s2a"), col("t11").as("t11a"), col("t12").as("t12a"),
          col("t22").as("t22a"), col("q4").as("q4a"))
      val b = cells.filter(col("arm") === 1).drop("arm")
        .select(col("event_type"), col("n").as("nb"), col("s1").as("s1b"),
          col("s2").as("s2b"), col("t11").as("t11b"), col("t12").as("t12b"),
          col("t22").as("t22b"), col("q4").as("q4b"))
      def gram(n1: String, s11: String, s21: String, t111: String,
          t121: String, t221: String, n2: String, s12: String, s22: String,
          t112: String, t122: String, t222: String) =
        s"""(CAST(10000 AS DECIMAL(38,0)) * $n1 * $n2
             + 200 * (CAST($s11 AS DECIMAL(38,0)) * $s12
                      + CAST($s21 AS DECIMAL(38,0)) * $s22)
             + CAST($t111 AS DECIMAL(38,0)) * $t112
             + 2 * CAST($t121 AS DECIMAL(38,0)) * $t122
             + CAST($t221 AS DECIMAL(38,0)) * $t222)"""
      def diag(n: String, t11: String, t22: String, q4: String) =
        s"""(CAST(10000 AS DECIMAL(38,0)) * $n
             + 200 * (CAST($t11 AS DECIMAL(38,0)) + CAST($t22 AS DECIMAL(38,0)))
             + $q4)"""
      val gaa = gram("na", "s1a", "s2a", "t11a", "t12a", "t22a",
        "na", "s1a", "s2a", "t11a", "t12a", "t22a")
      val gbb = gram("nb", "s1b", "s2b", "t11b", "t12b", "t22b",
        "nb", "s1b", "s2b", "t11b", "t12b", "t22b")
      val gab = gram("na", "s1a", "s2a", "t11a", "t12a", "t22a",
        "nb", "s1b", "s2b", "t11b", "t12b", "t22b")
      a.join(b, "event_type")
        .withColumn("kaa_milli", expr(
          s"""CAST(($gaa - ${diag("na", "t11a", "t22a", "q4a")}) * 1000
              div (CAST(na AS DECIMAL(38,0)) * (na - 1)) AS BIGINT)"""))
        .withColumn("kbb_milli", expr(
          s"""CAST(($gbb - ${diag("nb", "t11b", "t22b", "q4b")}) * 1000
              div (CAST(nb AS DECIMAL(38,0)) * (nb - 1)) AS BIGINT)"""))
        .withColumn("kab_milli", expr(
          s"""CAST($gab * 1000
              div (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)"""))
        .select(col("event_type"), col("na"), col("nb"),
          col("kaa_milli"), col("kbb_milli"), col("kab_milli"),
          (col("kaa_milli") + col("kbb_milli") - lit(2) * col("kab_milli"))
            .as("mmd2_milli"))
        .orderBy("event_type")
    },
    Some {
      def gram(p: String, q: String) =
        s"""(CAST(10000 AS HUGEINT) * n$p * n$q
             + 200 * (CAST(s1$p AS HUGEINT) * s1$q
                      + CAST(s2$p AS HUGEINT) * s2$q)
             + CAST(t11$p AS HUGEINT) * t11$q
             + 2 * CAST(t12$p AS HUGEINT) * t12$q
             + CAST(t22$p AS HUGEINT) * t22$q)"""
      def diag(p: String) =
        s"""(CAST(10000 AS HUGEINT) * n$p
             + 200 * (CAST(t11$p AS HUGEINT) + CAST(t22$p AS HUGEINT))
             + q4$p)"""
      s"""WITH f AS (
            SELECT event_type, CAST(user_id % 2 AS BIGINT) AS arm,
                   CAST(round(value * 100) AS BIGINT) // 100
                     AS x1,
                   CAST(hour(ts) AS BIGINT) AS x2
            FROM events),
          cells AS (
            SELECT event_type, arm, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x1) AS BIGINT) AS s1,
                   CAST(sum(x2) AS BIGINT) AS s2,
                   CAST(sum(x1 * x1) AS BIGINT) AS t11,
                   CAST(sum(x1 * x2) AS BIGINT) AS t12,
                   CAST(sum(x2 * x2) AS BIGINT) AS t22,
                   CAST(sum(CAST(x1 * x1 + x2 * x2 AS HUGEINT)
                     * (x1 * x1 + x2 * x2)) AS HUGEINT) AS q4
            FROM f GROUP BY 1, 2),
          j AS (
            SELECT a.event_type,
                   a.n AS na, a.s1 AS s1a, a.s2 AS s2a, a.t11 AS t11a,
                   a.t12 AS t12a, a.t22 AS t22a, a.q4 AS q4a,
                   b.n AS nb, b.s1 AS s1b, b.s2 AS s2b, b.t11 AS t11b,
                   b.t12 AS t12b, b.t22 AS t22b, b.q4 AS q4b
            FROM cells a JOIN cells b USING (event_type)
            WHERE a.arm = 0 AND b.arm = 1),
          k AS (
            SELECT event_type, na, nb,
                   CAST((${gram("a", "a")} - ${diag("a")}) * 1000
                     // (CAST(na AS HUGEINT) * (na - 1)) AS BIGINT)
                     AS kaa_milli,
                   CAST((${gram("b", "b")} - ${diag("b")}) * 1000
                     // (CAST(nb AS HUGEINT) * (nb - 1)) AS BIGINT)
                     AS kbb_milli,
                   CAST(${gram("a", "b")} * 1000
                     // (CAST(na AS HUGEINT) * nb) AS BIGINT) AS kab_milli
            FROM j)
          SELECT event_type, na, nb, kaa_milli, kbb_milli, kab_milli,
                 CAST(kaa_milli + kbb_milli - 2 * kab_milli AS BIGINT)
                   AS mmd2_milli
          FROM k ORDER BY event_type"""
    })

  // ------------------------------------------ Weibull MRR lifetime fit --

  /** Weibull median-rank regression — the PARAMETRIC member of the
    * survival family (q_survival_km/nelson_aalen estimate the curve
    * nonparametrically; this compresses it to (shape, scale) so capacity
    * planning can extrapolate beyond the observed horizon): complete
    * purchase lifetimes (q_survival_km's dur with evt = 1, dur ≥ 1), on
    * the Weibull plot ln(−ln(1−F)) vs ln t a Weibull sample is a line
    * with slope = shape k. F is Bernard's median rank (10r̄−3)/(10n+4)
    * with r̄ the mid-rank of a tied duration — kept RATIONAL
    * (5·r2−3)/(10n+4) with r2 = 2·cum_prev + cnt + 1 twice the mid-rank,
    * so both engines feed ln the bit-identical double quotient (keyness
    * rule); coordinates land as micro-nat ints, the count-weighted OLS
    * runs in DECIMAL(38) exact integers, and the line is emitted as
    * shape_ppm = slope, intercept_micro, and lnlam_micro = −c·10⁶ div
    * slope (ln of the scale parameter in micro-nats — exp deliberately
    * NOT taken: it is the one non-mirrorable step).
    *
    * Scale: q_survival_km economics (one events scan → user rollup) into
    * a DURATION-GRID cumulative (ks two-level rule applies if durations
    * ever go continuous) — ranks come from grid cumulative counts, never
    * a row-level sort; the OLS is one map-combinable agg over grid rows.
    */
  private val qSurvivalWeibull = GQuery(
    (s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
      val users = ev.groupBy("user_id")
        .agg(min("day").as("fd"), max("day").as("ld"),
          max(when(col("event_type") === "purchase", col("day"))).as("lp"))
      val gmax = users.agg(max("ld").as("gd"))
      val durs = users.filter(col("lp").isNotNull)
        .crossJoin(broadcast(gmax))
        .filter(col("lp") < date_sub(col("gd"), 3)) // complete lifetimes only
        .select(datediff(col("lp"), col("fd")).cast("long").as("dur"))
        .filter(col("dur") >= 1)
      val grid = durs.groupBy("dur").agg(count(lit(1L)).as("cnt"))
      val nTot = grid.agg(sum("cnt").as("n"))
      val pts = grid
        .withColumn("cum_prev", Prefix.sumBefore(col("cnt"), Window.orderBy("dur")))
        .crossJoin(broadcast(nTot))
        .withColumn("r2", lit(2) * col("cum_prev") + col("cnt") + 1)
        .withColumn("x", round(log(col("dur").cast("double")) * 1e6)
          .cast("long"))
        .withColumn("y", expr(
          """CAST(round(ln(-ln(1.0 - CAST(5 * r2 - 3 AS DOUBLE)
               / CAST(10 * n + 4 AS DOUBLE))) * 1e6) AS BIGINT)"""))
      val ols = pts.agg(
        sum("cnt").cast("decimal(38,0)").as("w"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * x")).as("sx"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * y")).as("sy"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * x * x")).as("sxx"),
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * x * y")).as("sxy"),
        count(lit(1L)).as("n_grid"), max("dur").as("max_dur"))
      ols
        .withColumn("shape_ppm", expr(
          "CAST((w * sxy - sx * sy) * 1000000 div (w * sxx - sx * sx)"
            + " AS BIGINT)"))
        .withColumn("intercept_micro", expr(
          "CAST((sy - CAST(shape_ppm AS DECIMAL(38,0)) * sx div 1000000)"
            + " div w AS BIGINT)"))
        .select(col("w").cast("long").as("n_complete"), col("n_grid"),
          col("max_dur"), col("shape_ppm"), col("intercept_micro"),
          expr("-intercept_micro * 1000000 div shape_ppm")
            .as("lnlam_micro"))
    },
    Some("""WITH ev AS (
              SELECT user_id, event_type, CAST(date_trunc('day', ts) AS DATE)
                       AS day
              FROM events),
            users AS (
              SELECT user_id, min(day) AS fd, max(day) AS ld,
                     max(CASE WHEN event_type = 'purchase' THEN day END) AS lp
              FROM ev GROUP BY 1),
            gmax AS (SELECT max(ld) AS gd FROM users),
            durs AS (
              SELECT CAST(lp - fd AS BIGINT) AS dur
              FROM users CROSS JOIN gmax
              WHERE lp IS NOT NULL AND lp < gd - 3 AND lp - fd >= 1),
            grid AS (
              SELECT dur, CAST(count(*) AS BIGINT) AS cnt
              FROM durs GROUP BY 1),
            n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM grid),
            pts AS (
              SELECT dur, cnt,
                     CAST(2 * coalesce(sum(cnt) OVER (ORDER BY dur
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) + cnt + 1 AS BIGINT) AS r2,
                     CAST(round(ln(CAST(dur AS DOUBLE)) * 1e6) AS BIGINT)
                       AS x,
                     n.n
              FROM grid CROSS JOIN n),
            pts2 AS (
              SELECT dur, cnt, x,
                     CAST(round(ln(-ln(1.0 - CAST(5 * r2 - 3 AS DOUBLE)
                       / CAST(10 * n + 4 AS DOUBLE))) * 1e6) AS BIGINT) AS y
              FROM pts),
            ols AS (
              SELECT CAST(sum(cnt) AS HUGEINT) AS w,
                     CAST(sum(CAST(cnt AS HUGEINT) * x) AS HUGEINT) AS sx,
                     CAST(sum(CAST(cnt AS HUGEINT) * y) AS HUGEINT) AS sy,
                     CAST(sum(CAST(cnt AS HUGEINT) * x * x) AS HUGEINT)
                       AS sxx,
                     CAST(sum(CAST(cnt AS HUGEINT) * x * y) AS HUGEINT)
                       AS sxy,
                     CAST(count(*) AS BIGINT) AS n_grid,
                     CAST(max(dur) AS BIGINT) AS max_dur
              FROM pts2),
            fit AS (
              SELECT CAST(w AS BIGINT) AS n_complete, n_grid, max_dur,
                     CAST((w * sxy - sx * sy) * 1000000
                       // (w * sxx - sx * sx) AS BIGINT) AS shape_ppm,
                     w, sx, sy
              FROM ols),
            fit2 AS (
              SELECT n_complete, n_grid, max_dur, shape_ppm,
                     CAST((sy - CAST(shape_ppm AS HUGEINT) * sx // 1000000)
                       // w AS BIGINT) AS intercept_micro
              FROM fit)
            SELECT n_complete, n_grid, max_dur, shape_ppm, intercept_micro,
                   CAST(-intercept_micro * 1000000 // shape_ppm AS BIGINT)
                     AS lnlam_micro
            FROM fit2"""))

  // -------------------------------------- Gumbel extreme-value fit --

  /** Extreme-value (Gumbel) capacity planning over weekly block maxima of
    * the daily event count — the tail question the mean-based monitors
    * (burnrate/outliers) can't answer: what peak should we provision for
    * over the next YEAR, having observed ~12 weeks? Blocks are epoch-week
    * buckets (days-since-1970 div 7 — NEVER weekofyear, whose ISO
    * semantics differ cross-engine); per event_type the Gumbel
    * method-of-moments fit σ̂ = s·√6/π, μ̂ = x̄ − γσ̂ (γ = Euler–
    * Mascheroni, mirrored literal), and the T = 52-block return level
    * z₅₂ = μ̂ − σ̂·ln(−ln(51/52)) ≈ μ̂ + 3.94σ̂. Moments are EXACT BIGINT
    * sums; the one double chain (÷, sqrt, ln of exact-integer quotients —
    * IEEE-identical cross-engine, the Neyman sqrt rule) lands in dround'd
    * outputs, with mean_milli kept as the exact-integer anchor.
    *
    * Scale: one (type, day) agg → one (type, week) max agg → one 5-row
    * moment agg — all map-side combinable, nothing block-count-sized ever
    * sorts. 52-block return levels from 12 observed blocks is the POINT
    * of the parametric fit (extrapolation), stated plainly.
    */
  private val qStatsExtreme = GQuery(
    (s, d) => {
      val daily = t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1L)).as("cnt"))
      val blocks = daily
        .withColumn("wk",
          expr("datediff(day, DATE '1970-01-01') div 7"))
        .groupBy("event_type", "wk").agg(max("cnt").as("mx"))
      val mom = blocks.groupBy("event_type")
        .agg(count(lit(1L)).as("n"), sum("mx").as("sx"),
          sum(col("mx") * col("mx")).as("sxx"), max("mx").as("max_obs"))
      mom
        // single-block group (n = 1): the method-of-moments fit is 0/0 —
        // NULL in both engines (DuckDB's double-div-by-zero is a quiet NULL)
        .withColumn("sigma_raw", when(col("n") > 1, expr(
          """sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
               / CAST(n * (n - 1) AS DOUBLE)) * sqrt(6.0) / pi()""")))
        .withColumn("mu_raw", expr(
          "CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) - 0.5772156649 * sigma_raw"))
        .select(col("event_type"), col("n").as("n_blocks"), col("max_obs"),
          expr("sx * 1000 div n").as("mean_milli"),
          dround(col("mu_raw"), 4).as("mu"),
          dround(col("sigma_raw"), 4).as("sigma"))
        // z52 derives from the ROUNDED μ/σ grid values + a mirrored
        // literal (−ln(−ln(51/52))): the raw-double form hit a dround
        // boundary through a 1-ulp cross-engine ln drift
        .withColumn("z52", dround(expr("mu + sigma * 3.9415503865"), 4))
        .orderBy("event_type")
    },
    Some("""WITH daily AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM events GROUP BY 1, 2),
            blocks AS (
              SELECT event_type,
                     CAST(day - DATE '1970-01-01' AS BIGINT) // 7 AS wk,
                     max(cnt) AS mx
              FROM daily GROUP BY 1, 2),
            mom AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(mx) AS BIGINT) AS sx,
                     CAST(sum(mx * mx) AS BIGINT) AS sxx,
                     CAST(max(mx) AS BIGINT) AS max_obs
              FROM blocks GROUP BY 1),
            fit AS (
              SELECT event_type, n, max_obs, sx,
                     sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                       / CAST(n * (n - 1) AS DOUBLE)) * sqrt(6.0) / pi()
                       AS sigma_raw
              FROM mom),
            fit2 AS (
              SELECT event_type, n, max_obs, sx, sigma_raw,
                     CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
                       - 0.5772156649 * sigma_raw AS mu_raw
              FROM fit),
            rounded AS (
              SELECT event_type, n AS n_blocks, max_obs,
                     CAST(sx * 1000 // n AS BIGINT) AS mean_milli,
                     CAST(round(CAST(mu_raw AS DECIMAL(30,8)), 4) AS DOUBLE)
                       AS mu,
                     CAST(round(CAST(sigma_raw AS DECIMAL(30,8)), 4)
                       AS DOUBLE) AS sigma
              FROM fit2)
            SELECT event_type, n_blocks, max_obs, mean_milli, mu, sigma,
                   CAST(round(CAST(mu + sigma * 3.9415503865
                     AS DECIMAL(30,8)), 4) AS DOUBLE) AS z52
            FROM rounded ORDER BY event_type"""))

  // --------------------------------------- Hotelling T² two-sample --

  /** Hotelling's T² two-sample test on the joint (dollars, hour) feature —
    * the PARAMETRIC twin of q_stats_mmd (same cells, same arms): where MMD
    * detects ANY moment difference nonparametrically, T² asks only "did
    * the mean VECTOR move, accounting for covariance?" — the multivariate
    * Welch upgrade of q_stats_abtest's scalar t. The 2×2 pooled
    * covariance inverts in closed form (adjugate/det), so the whole
    * statistic is a few arithmetic ops on exact BIGINT moment sums —
    * computed in doubles with only +,−,×,÷ (no libm — IEEE-identical
    * cross-engine), landed via dround: T² and its exact F-transform
    * F = T²·(n−3)/(2(n−2)), df₂ = n−3.
    *
    * Scale: q_stats_mmd economics — one (type, arm) moment agg, then a
    * 5-row grid. The 2×2 closed form is the point: no iterative solver,
    * no matrix library, nothing row-sized after the first agg.
    */
  private val qStatsHotelling = GQuery(
    (s, d) => {
      val x1 = expr("CAST(round(value * 100) AS BIGINT)"
        + " div 100")
      val cells = t(s, d, "events")
        .select(col("event_type"),
          pmod(col("user_id"), lit(2)).cast("long").as("arm"),
          x1.as("x1"), hour(col("ts")).cast("long").as("x2"))
        .groupBy("event_type", "arm")
        .agg(count(lit(1L)).as("n"),
          sum("x1").as("s1"), sum("x2").as("s2"),
          sum(col("x1") * col("x1")).as("t11"),
          sum(col("x1") * col("x2")).as("t12"),
          sum(col("x2") * col("x2")).as("t22"))
      val a = cells.filter(col("arm") === 0)
        .select(col("event_type"), col("n").as("na"), col("s1").as("s1a"),
          col("s2").as("s2a"), col("t11").as("t11a"), col("t12").as("t12a"),
          col("t22").as("t22a"))
      val b = cells.filter(col("arm") === 1)
        .select(col("event_type"), col("n").as("nb"), col("s1").as("s1b"),
          col("s2").as("s2b"), col("t11").as("t11b"), col("t12").as("t12b"),
          col("t22").as("t22b"))
      a.join(b, "event_type")
        .withColumn("t2_raw", expr(
          """CASE WHEN (CAST(t11a AS DOUBLE) - CAST(s1a AS DOUBLE) * s1a / na
                  + t11b - CAST(s1b AS DOUBLE) * s1b / nb)
                * (CAST(t22a AS DOUBLE) - CAST(s2a AS DOUBLE) * s2a / na
                  + t22b - CAST(s2b AS DOUBLE) * s2b / nb)
                - (CAST(t12a AS DOUBLE) - CAST(s1a AS DOUBLE) * s2a / na
                  + t12b - CAST(s1b AS DOUBLE) * s2b / nb)
                * (CAST(t12a AS DOUBLE) - CAST(s1a AS DOUBLE) * s2a / na
                  + t12b - CAST(s1b AS DOUBLE) * s2b / nb) > 0
             THEN
               (CAST(na AS DOUBLE) * nb / (na + nb))
               * (CAST(na AS DOUBLE) + nb - 2)
               * ((CAST(s1a AS DOUBLE) / na - CAST(s1b AS DOUBLE) / nb)
                   * (CAST(s1a AS DOUBLE) / na - CAST(s1b AS DOUBLE) / nb)
                   * (CAST(t22a AS DOUBLE) - CAST(s2a AS DOUBLE) * s2a / na
                      + t22b - CAST(s2b AS DOUBLE) * s2b / nb)
                 - 2 * (CAST(s1a AS DOUBLE) / na - CAST(s1b AS DOUBLE) / nb)
                   * (CAST(s2a AS DOUBLE) / na - CAST(s2b AS DOUBLE) / nb)
                   * (CAST(t12a AS DOUBLE) - CAST(s1a AS DOUBLE) * s2a / na
                      + t12b - CAST(s1b AS DOUBLE) * s2b / nb)
                 + (CAST(s2a AS DOUBLE) / na - CAST(s2b AS DOUBLE) / nb)
                   * (CAST(s2a AS DOUBLE) / na - CAST(s2b AS DOUBLE) / nb)
                   * (CAST(t11a AS DOUBLE) - CAST(s1a AS DOUBLE) * s1a / na
                      + t11b - CAST(s1b AS DOUBLE) * s1b / nb))
               / ((CAST(t11a AS DOUBLE) - CAST(s1a AS DOUBLE) * s1a / na
                    + t11b - CAST(s1b AS DOUBLE) * s1b / nb)
                  * (CAST(t22a AS DOUBLE) - CAST(s2a AS DOUBLE) * s2a / na
                    + t22b - CAST(s2b AS DOUBLE) * s2b / nb)
                  - (CAST(t12a AS DOUBLE) - CAST(s1a AS DOUBLE) * s2a / na
                     + t12b - CAST(s1b AS DOUBLE) * s2b / nb)
                  * (CAST(t12a AS DOUBLE) - CAST(s1a AS DOUBLE) * s2a / na
                     + t12b - CAST(s1b AS DOUBLE) * s2b / nb))
             END"""))
        .select(col("event_type"), col("na"), col("nb"),
          dround(col("t2_raw"), 4).as("t2"),
          dround(expr("t2_raw * (na + nb - 3) / (2.0 * (na + nb - 2))"), 4)
            .as("f_stat"),
          expr("na + nb - 3").as("df2"))
        .orderBy("event_type")
    },
    Some {
      val ss11 = """(CAST(t11a AS DOUBLE) - CAST(s1a AS DOUBLE) * s1a / na
                  + t11b - CAST(s1b AS DOUBLE) * s1b / nb)"""
      val ss22 = """(CAST(t22a AS DOUBLE) - CAST(s2a AS DOUBLE) * s2a / na
                  + t22b - CAST(s2b AS DOUBLE) * s2b / nb)"""
      val ss12 = """(CAST(t12a AS DOUBLE) - CAST(s1a AS DOUBLE) * s2a / na
                  + t12b - CAST(s1b AS DOUBLE) * s2b / nb)"""
      val d1 = "(CAST(s1a AS DOUBLE) / na - CAST(s1b AS DOUBLE) / nb)"
      val d2 = "(CAST(s2a AS DOUBLE) / na - CAST(s2b AS DOUBLE) / nb)"
      s"""WITH f AS (
            SELECT event_type, CAST(user_id % 2 AS BIGINT) AS arm,
                   CAST(round(value * 100) AS BIGINT) // 100
                     AS x1,
                   CAST(hour(ts) AS BIGINT) AS x2
            FROM events),
          cells AS (
            SELECT event_type, arm, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x1) AS BIGINT) AS s1,
                   CAST(sum(x2) AS BIGINT) AS s2,
                   CAST(sum(x1 * x1) AS BIGINT) AS t11,
                   CAST(sum(x1 * x2) AS BIGINT) AS t12,
                   CAST(sum(x2 * x2) AS BIGINT) AS t22
            FROM f GROUP BY 1, 2),
          j AS (
            SELECT a.event_type,
                   a.n AS na, a.s1 AS s1a, a.s2 AS s2a, a.t11 AS t11a,
                   a.t12 AS t12a, a.t22 AS t22a,
                   b.n AS nb, b.s1 AS s1b, b.s2 AS s2b, b.t11 AS t11b,
                   b.t12 AS t12b, b.t22 AS t22b
            FROM cells a JOIN cells b USING (event_type)
            WHERE a.arm = 0 AND b.arm = 1),
          t2c AS (
            SELECT event_type, na, nb,
                   CASE WHEN $ss11 * $ss22 - $ss12 * $ss12 > 0 THEN
                     (CAST(na AS DOUBLE) * nb / (na + nb))
                     * (CAST(na AS DOUBLE) + nb - 2)
                     * ($d1 * $d1 * $ss22 - 2 * $d1 * $d2 * $ss12
                        + $d2 * $d2 * $ss11)
                     / ($ss11 * $ss22 - $ss12 * $ss12)
                   END AS t2_raw
            FROM j)
          SELECT event_type, na, nb,
                 CAST(round(CAST(t2_raw AS DECIMAL(30,8)), 4) AS DOUBLE)
                   AS t2,
                 CAST(round(CAST(t2_raw * (na + nb - 3)
                     / (2.0 * (na + nb - 2)) AS DECIMAL(30,8)), 4) AS DOUBLE)
                   AS f_stat,
                 CAST(na + nb - 3 AS BIGINT) AS df2
          FROM t2c ORDER BY event_type"""
    })

  // --------------------------------------- consistent hash sampling --

  /** Consistent (coordinated) sampling — the re-sampling stability
    * property production pipelines need when a sample rate CHANGES: the
    * md5-bucket rule u(id) < r makes every r₁ < r₂ sample NESTED
    * (sample(1%) ⊂ sample(5%) ⊂ … by construction — rerunning at a higher
    * rate only ADDS rows, so downstream caches/labels stay valid), unlike
    * rand()-based sampling which reshuffles membership every run. The
    * uniform coordinate is the first 8 md5 hex chars compared against the
    * rate's hex threshold (hex digits sort correctly in ASCII — the
    * cross-engine anchor, no numeric conversion needed). Emits per rate
    * ∈ {1, 5, 10, 20, 50}%: sampled count, observed ppm, target ppm, and
    * the deviation — the binomial-noise readout that validates the hash
    * as a uniform coordinate.
    *
    * Scale: one scan → ≤6-row tier histogram (map-combinable; the CASE
    * ladder is codegen'd) → 5×6 broadcast grid agg. Membership at ANY
    * rate is a stateless per-row predicate — the property that lets 1000
    * executors sample without coordination.
    */
  private val qSampleConsistent = GQuery(
    (s, d) => {
      val h = substring(md5(col("event_id").cast("string")), 1, 8)
      val tiers = t(s, d, "events")
        .select(when(h < "028f5c28", 1L).when(h < "0ccccccc", 5L)
          .when(h < "19999999", 10L).when(h < "33333333", 20L)
          .when(h < "80000000", 50L).otherwise(100L).as("tier"))
        .groupBy("tier").agg(count(lit(1L)).as("cnt"))
      val nTot = tiers.agg(sum("cnt").as("n_total"))
      val rates = s.range(1).select(
        explode(array(lit(1L), lit(5L), lit(10L), lit(20L), lit(50L)))
          .as("rate_pct"))
      tiers.crossJoin(broadcast(rates))
        .groupBy("rate_pct")
        .agg(sum(when(col("tier") <= col("rate_pct"), col("cnt"))
          .otherwise(0L)).as("n_sampled"))
        .crossJoin(broadcast(nTot))
        .select(col("rate_pct"), col("n_sampled"), col("n_total"),
          expr("n_sampled * 1000000 div n_total").as("obs_ppm"),
          (col("rate_pct") * 10000L).as("target_ppm"))
        .withColumn("err_ppm", col("obs_ppm") - col("target_ppm"))
        .orderBy("rate_pct")
    },
    Some("""WITH h AS (
              SELECT substring(md5(CAST(event_id AS VARCHAR)), 1, 8) AS hx
              FROM events),
            tiers AS (
              SELECT CASE WHEN hx < '028f5c28' THEN 1
                          WHEN hx < '0ccccccc' THEN 5
                          WHEN hx < '19999999' THEN 10
                          WHEN hx < '33333333' THEN 20
                          WHEN hx < '80000000' THEN 50
                          ELSE 100 END AS tier,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM h GROUP BY 1),
            n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM tiers),
            rates AS (SELECT CAST(unnest([1, 5, 10, 20, 50]) AS BIGINT)
                        AS rate_pct),
            g AS (
              SELECT rate_pct,
                     CAST(sum(CASE WHEN tier <= rate_pct THEN cnt ELSE 0 END)
                       AS BIGINT) AS n_sampled
              FROM tiers CROSS JOIN rates GROUP BY 1)
            SELECT rate_pct, n_sampled, n.n_total,
                   CAST(n_sampled * 1000000 // n_total AS BIGINT) AS obs_ppm,
                   CAST(rate_pct * 10000 AS BIGINT) AS target_ppm,
                   CAST(n_sampled * 1000000 // n_total
                     - rate_pct * 10000 AS BIGINT) AS err_ppm
            FROM g CROSS JOIN n ORDER BY rate_pct"""))

  // ------------------------------------------- circular statistics --

  /** Circular (directional) statistics of the hour-of-day distribution per
    * event type — the family linear stats get WRONG on a clock (23:00 and
    * 01:00 average to midnight, not noon): mean resultant length R̄ (the
    * circular concentration), the Rayleigh uniformity statistic
    * z = n·R̄² (EXACT integer milli — z = (C²+S²)/(n·10⁹) needs no sqrt),
    * and the peak direction as the grid hour maximizing the projection
    * C·cos(θ_h) + S·sin(θ_h). The trig table is the determinism trick: 24
    * cos/sin values at micro precision are generated ONCE in Scala and
    * embedded as the SAME literal table in both engines — no libm sin/cos
    * ever runs in either engine, so every sum is exact BIGINT.
    *
    * Scale: one (type, hour) agg → ×24-cell broadcast table join → 5-row
    * resultants; the peak-hour argmax is a 24-row max_by per type. C² + S²
    * is DECIMAL(38) (micro²·n² crosses 2⁶³ near 10⁷ rows/type).
    */
  private val qStatsCircular = GQuery(
    (s, d) => {
      val table = (0 until 24).map { h =>
        val th = 2.0 * math.Pi * h / 24.0
        (h, math.round(math.cos(th) * 1e6), math.round(math.sin(th) * 1e6))
      }
      val sparkTab = table.map { case (h, c, sn) => s"($h, ${c}L, ${sn}L)" }
        .mkString("VALUES ", ", ", " AS trig(h, cs, sn)")
      val hrs = t(s, d, "events")
        .groupBy(col("event_type"), hour(col("ts")).cast("int").as("h"))
        .agg(count(lit(1L)).as("cnt"))
      val trig = s.sql(s"SELECT * FROM $sparkTab")
      val cells = hrs.join(broadcast(trig), "h")
        .localCheckpoint(true) // feeds the resultant agg AND the peak argmax
      val res = cells.groupBy("event_type")
        .agg(sum("cnt").as("n"),
          sum(col("cnt") * col("cs")).as("c_sum"),
          sum(col("cnt") * col("sn")).as("s_sum"))
      val peak = cells.join(res.select("event_type", "c_sum", "s_sum"),
          "event_type")
        .groupBy("event_type")
        // ties on the projection break to the SMALLER hour: the +（23−h)
        // term orders within a projection (distinct projections differ by
        // ≥100 after the ×100, so the tie-break never crosses them); the
        // scalar key (not a struct) because DuckDB's max_by has no struct
        // comparator — DECIMAL(38)/HUGEINT since proj·100 exceeds BIGINT
        // past ~10⁴ rows/type
        .agg(max_by(col("h"), expr(
          """(CAST(c_sum AS DECIMAL(38,0)) * cs + CAST(s_sum AS DECIMAL(38,0))
             * sn) * 100 + (23 - h)""")).as("peak_hour"))
      res.join(peak, "event_type")
        .select(col("event_type"), col("n"), col("c_sum"), col("s_sum"),
          expr("""CAST((CAST(c_sum AS DECIMAL(38,0)) * c_sum
                  + CAST(s_sum AS DECIMAL(38,0)) * s_sum)
                 div (CAST(n AS DECIMAL(38,0)) * 1000000000) AS BIGINT)""")
            .as("rayleigh_z_milli"),
          dround(expr("""sqrt(CAST(CAST(c_sum AS DECIMAL(38,0)) * c_sum
                    + CAST(s_sum AS DECIMAL(38,0)) * s_sum AS DOUBLE))
                 / (CAST(n AS DOUBLE) * 1000000)"""), 6).as("rbar"),
          col("peak_hour").cast("long").as("peak_hour"))
        .orderBy("event_type")
    },
    Some {
      val table = (0 until 24).map { h =>
        val th = 2.0 * math.Pi * h / 24.0
        (h, math.round(math.cos(th) * 1e6), math.round(math.sin(th) * 1e6))
      }
      val duckTab = table.map { case (h, c, sn) => s"($h, $c, $sn)" }
        .mkString(", ")
      s"""WITH trig(h, cs, sn) AS (VALUES $duckTab),
          hrs AS (
            SELECT event_type, CAST(hour(ts) AS INT) AS h,
                   CAST(count(*) AS BIGINT) AS cnt
            FROM events GROUP BY 1, 2),
          cells AS (
            SELECT event_type, hrs.h,
                   cnt, CAST(cs AS BIGINT) AS cs, CAST(sn AS BIGINT) AS sn
            FROM hrs JOIN trig ON trig.h = hrs.h),
          res AS (
            SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n,
                   CAST(sum(cnt * cs) AS BIGINT) AS c_sum,
                   CAST(sum(cnt * sn) AS BIGINT) AS s_sum
            FROM cells GROUP BY 1),
          peak AS (
            SELECT c.event_type,
                   CAST(max_by(c.h,
                     (CAST(r.c_sum AS HUGEINT) * c.cs
                      + CAST(r.s_sum AS HUGEINT) * c.sn) * 100
                     + (23 - c.h)) AS BIGINT) AS peak_hour
            FROM cells c JOIN res r USING (event_type)
            GROUP BY 1)
          SELECT res.event_type, n, c_sum, s_sum,
                 CAST((CAST(c_sum AS HUGEINT) * c_sum
                   + CAST(s_sum AS HUGEINT) * s_sum)
                   // (CAST(n AS HUGEINT) * 1000000000) AS BIGINT)
                   AS rayleigh_z_milli,
                 CAST(round(CAST(sqrt(CAST(CAST(c_sum AS HUGEINT) * c_sum
                     + CAST(s_sum AS HUGEINT) * s_sum AS DOUBLE))
                   / (CAST(n AS DOUBLE) * 1000000) AS DECIMAL(30,8)), 6)
                   AS DOUBLE) AS rbar,
                 peak_hour
          FROM res JOIN peak USING (event_type)
          ORDER BY event_type"""
    })

  // --------------------------------------- Engle–Granger cointegration --

  /** Engle–Granger two-step cointegration between each activity series and
    * purchase revenue — the "do these trend TOGETHER long-run" question
    * q_ts_granger (short-run lead/lag) can't answer: step 1 regresses
    * daily purchase cents on the type's daily count (exact integer OLS →
    * b_ppm, a_micro); step 2 runs the Dickey–Fuller regression
    * Δe_t = φ·e_{t−1} on the residual series — a stationary residual
    * (φ decidedly negative) means the pair shares a long-run equilibrium.
    * Residuals are EXACT milli-cent integers ((y·10⁶ − a − b·x) div 10³
    * with the fit's own integral-div coefficients), so every DF moment is
    * exact DECIMAL(38); the one double chain (÷, sqrt for the t-stat)
    * lands via dround against the EG 5% critical value −2.86 (T ≈ 80,
    * intercept estimated — stated, not interpolated).
    *
    * Scale: two (type, day) aggs + a day-keyed join (calendar-bounded
    * rows from there on); the residual lag is a window over ≤ #days rows
    * per type. The corpus is scanned once; everything else is grid-sized.
    */
  private val qTsCointegration = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val ev = t(s, d, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"), cents.as("c"))
        .localCheckpoint(true) // feeds both daily aggs from one scan
      val dailyY = ev.filter(col("event_type") === "purchase")
        .groupBy("day").agg(sum("c").as("y"))
      val dailyX = ev.filter(col("event_type") =!= "purchase")
        .groupBy("event_type", "day").agg(count(lit(1L)).as("x"))
      val j = dailyX.join(dailyY, "day")
      val fit = j.groupBy("event_type").agg(
          count(lit(1L)).as("t_days"), sum("x").as("sx"), sum("y").as("sy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
        // single-day / constant-x groups: den = 0 → NULL fit (DuckDB's
        // integer // 0 is a quiet NULL; Spark ANSI div would throw)
        .withColumn("fit_den",
          expr("t_days * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
        .withColumn("b_ppm", when(col("fit_den") =!= 0, expr(
          """CAST((t_days * sxy - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000
             div fit_den AS BIGINT)""")))
        .withColumn("a_micro", expr(
          """CAST((CAST(sy AS DECIMAL(38,0)) * 1000000
             - CAST(b_ppm AS DECIMAL(38,0)) * sx) div t_days AS BIGINT)"""))
      val resid = j
        .join(broadcast(fit.select("event_type", "b_ppm", "a_micro")),
          "event_type")
        .select(col("event_type"), col("day"),
          // residuals in MILLI-cents (micro div 10³): keeps Σe²·10¹² inside
          // DECIMAL(38) through sf10 (micro residuals graze 10³⁸ at sf0.1
          // if the fit is poor)
          expr("(y * 1000000 - a_micro - b_ppm * x) div 1000").as("e"))
      val wD = Window.partitionBy("event_type").orderBy("day")
      val df = resid
        .withColumn("ep", lag("e", 1).over(wD))
        .filter(col("ep").isNotNull)
        .select(col("event_type"), col("ep"), (col("e") - col("ep")).as("de"))
        .groupBy("event_type").agg(
          count(lit(1L)).as("t2"),
          sum(expr("CAST(ep AS DECIMAL(38,0)) * ep")).as("see"),
          sum(expr("CAST(ep AS DECIMAL(38,0)) * de")).as("sed"),
          sum(expr("CAST(de AS DECIMAL(38,0)) * de")).as("sdd"))
        .withColumn("phi_ppm", when(col("see") =!= 0,
          expr("CAST(sed * 1000000 div see AS BIGINT)")))
        .withColumn("ssr", expr(
          """sdd * 1000000000000 - 2 * CAST(phi_ppm AS DECIMAL(38,0))
             * sed * 1000000
             + CAST(phi_ppm AS DECIMAL(38,0)) * phi_ppm * see"""))
        // t2 ≤ 2 (≤ 3 days) or a perfect fit (ssr = 0): the DF t is 0/0 —
        // NULL, mirrored as a CASE in the oracle
        .withColumn("df_t_raw", when(col("t2") > 2 && col("ssr") =!= 0, expr(
          """(CAST(phi_ppm AS DOUBLE) / 1e6)
             / sqrt(CAST(ssr AS DOUBLE)
                    / ((t2 - 2) * CAST(see AS DOUBLE) * 1e12))""")))
      fit.select("event_type", "t_days", "b_ppm")
        .join(df.select(col("event_type"), col("phi_ppm"),
          dround(col("df_t_raw"), 4).as("df_t")), "event_type")
        .withColumn("cointegrated", col("df_t") < -2.86)
        .orderBy("event_type")
    },
    Some("""WITH ev AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(round(value * 100) AS BIGINT) AS c
              FROM events),
            daily_y AS (
              SELECT day, CAST(sum(c) AS BIGINT) AS y
              FROM ev WHERE event_type = 'purchase' GROUP BY 1),
            daily_x AS (
              SELECT event_type, day, CAST(count(*) AS BIGINT) AS x
              FROM ev WHERE event_type <> 'purchase' GROUP BY 1, 2),
            j AS (
              SELECT event_type, daily_x.day, x, y
              FROM daily_x JOIN daily_y ON daily_x.day = daily_y.day),
            fit AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS t_days,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                     CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
              FROM j GROUP BY 1),
            fit2 AS (
              SELECT event_type, t_days,
                     CAST((t_days * sxy - CAST(sx AS HUGEINT) * sy) * 1000000
                       // (t_days * sxx - CAST(sx AS HUGEINT) * sx)
                       AS BIGINT) AS b_ppm
              FROM fit),
            fit3 AS (
              SELECT f2.event_type, f2.t_days, b_ppm,
                     CAST((CAST(sy AS HUGEINT) * 1000000
                       - CAST(b_ppm AS HUGEINT) * sx) // f2.t_days
                       AS BIGINT) AS a_micro
              FROM fit2 f2 JOIN fit USING (event_type)),
            resid AS (
              SELECT j.event_type, j.day,
                     CAST((y * 1000000 - a_micro - b_ppm * x) // 1000
                       AS BIGINT) AS e
              FROM j JOIN fit3 ON fit3.event_type = j.event_type),
            lagged AS (
              SELECT event_type, e,
                     lag(e, 1) OVER (PARTITION BY event_type ORDER BY day)
                       AS ep
              FROM resid),
            dfm AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS t2,
                     CAST(sum(CAST(ep AS HUGEINT) * ep) AS HUGEINT) AS see,
                     CAST(sum(CAST(ep AS HUGEINT) * (e - ep)) AS HUGEINT)
                       AS sed,
                     CAST(sum(CAST(e - ep AS HUGEINT) * (e - ep)) AS HUGEINT)
                       AS sdd
              FROM lagged WHERE ep IS NOT NULL GROUP BY 1),
            dfs AS (
              SELECT event_type, t2, see, sed, sdd,
                     CAST(sed * 1000000 // see AS BIGINT) AS phi_ppm
              FROM dfm),
            dfr AS (
              SELECT event_type, phi_ppm, t2, see,
                     sdd * 1000000000000
                       - 2 * CAST(phi_ppm AS HUGEINT) * sed * 1000000
                       + CAST(phi_ppm AS HUGEINT) * phi_ppm * see AS ssr
              FROM dfs),
            dft AS (
              SELECT event_type, phi_ppm,
                     CASE WHEN t2 > 2 AND ssr <> 0 THEN
                       (CAST(phi_ppm AS DOUBLE) / 1e6)
                       / sqrt(CAST(ssr AS DOUBLE)
                         / ((t2 - 2) * CAST(see AS DOUBLE) * 1e12)) END
                       AS df_t_raw
              FROM dfr)
            SELECT f.event_type, f.t_days, f.b_ppm, d.phi_ppm,
                   CAST(round(CAST(df_t_raw AS DECIMAL(30,8)), 4) AS DOUBLE)
                     AS df_t,
                   CAST(round(CAST(df_t_raw AS DECIMAL(30,8)), 4) AS DOUBLE)
                     < -2.86 AS cointegrated
            FROM fit3 f JOIN dft d USING (event_type)
            ORDER BY f.event_type"""))

  // --------------------------------------- systematic PPS sampling --

  /** Systematic probability-proportional-to-size sampling (the survey-
    * statistics workhorse q_sample_ppswor's order-sampling sibling): walk
    * the corpus in md5-hash order, select every row whose weight span
    * [cum, cum+w) crosses a multiple of step = W div 400 — exactly-∝-size
    * inclusion with a FIXED expected take, zero rejection, and any unit
    * with w ≥ step certainly included. The global cumulative is the
    * `graft.Prefix` two-level prefix sum over 256 hash-prefix buckets —
    * no corpus-sized single-task sort. The hash covers every
    * output-relevant column ((okey, line, part, supp, qty, flag)), so
    * hash-equal rows are (w, flag)-identical and the aggregated output is
    * invariant to their relative order (the xi tie-break argument).
    *
    * Scale: one scan → bucket window (256 rows) + bucket-partitioned
    * cumsum → flag agg. Selection is a pure function of (cum_before, w,
    * step): replaying the sample is free, and changing the target count
    * re-walks the SAME order (coordinated with itself across budgets).
    */
  private val qSampleSystematic = GQuery(
    (s, d) => {
      val rows = t(s, d, "lineitem")
        .select(col("l_returnflag").as("flag"),
          floor(col("l_quantity")).cast("long").as("w"),
          md5(concat_ws("|", col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey"),
            floor(col("l_quantity")).cast("long"), col("l_returnflag")))
            .as("h"))
        .withColumn("bkt", substring(col("h"), 1, 2))
        // two consumers (bucket totals + the cumsum join) — materialize so
        // the lineitem scan and the 600k-row md5 pass run once, not twice
        .localCheckpoint(true)
      val wTot = rows.groupBy("bkt").agg(sum("w").as("bw"))
        .agg(sum("bw").as("tw"))
        .select(expr("tw div 400").as("step"))
      Prefix.withBucketOffsets(rows, Nil, "bkt", sum("w"), "off")
        .withColumn("cum_before", col("off")
          + Prefix.sumBefore(col("w"), Window.partitionBy("bkt").orderBy("h")))
        .crossJoin(broadcast(wTot))
        .withColumn("sel",
          expr("(cum_before + w) div step > cum_before div step"))
        .groupBy("flag")
        .agg(count(lit(1L)).as("n_pop"), sum("w").as("w_pop"),
          sum(when(col("sel"), 1L).otherwise(0L)).as("n_sel"),
          sum(when(col("sel"), col("w")).otherwise(0L)).as("w_sel"))
        .select(col("flag"), col("n_pop"), col("w_pop"), col("n_sel"),
          col("w_sel"),
          expr("w_sel * 1000000 div w_pop").as("w_sel_ppm"),
          expr("w_sel * 1000 div n_sel").as("avg_w_sel_milli"),
          expr("w_pop * 1000 div n_pop").as("avg_w_pop_milli"))
        .orderBy("flag")
    },
    Some("""WITH rows_ AS (
              SELECT l_returnflag AS flag,
                     CAST(floor(l_quantity) AS BIGINT) AS w,
                     md5(concat_ws('|', l_orderkey, l_linenumber, l_partkey,
                       l_suppkey, CAST(floor(l_quantity) AS BIGINT),
                       l_returnflag)) AS h
              FROM lineitem),
            b AS (
              SELECT flag, w, h, substring(h, 1, 2) AS bkt FROM rows_),
            bkt_tot AS (
              SELECT bkt, CAST(sum(w) AS BIGINT) AS bw
              FROM b GROUP BY 1),
            bkt_off AS (
              SELECT bkt, CAST(coalesce(sum(bw) OVER (ORDER BY bkt
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS off
              FROM bkt_tot),
            st AS (SELECT CAST(sum(bw) // 400 AS BIGINT) AS step
                   FROM bkt_tot),
            cum AS (
              SELECT b.flag, b.w,
                     bkt_off.off + CAST(coalesce(sum(b.w) OVER (
                         PARTITION BY b.bkt ORDER BY b.h
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS cum_before
              FROM b JOIN bkt_off USING (bkt)),
            sel AS (
              SELECT flag, w,
                     (cum_before + w) // step > cum_before // step AS sel
              FROM cum CROSS JOIN st)
            SELECT flag, CAST(count(*) AS BIGINT) AS n_pop,
                   CAST(sum(w) AS BIGINT) AS w_pop,
                   CAST(sum(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_sel,
                   CAST(sum(CASE WHEN sel THEN w ELSE 0 END) AS BIGINT)
                     AS w_sel,
                   CAST(sum(CASE WHEN sel THEN w ELSE 0 END) * 1000000
                     // sum(w) AS BIGINT) AS w_sel_ppm,
                   CAST(sum(CASE WHEN sel THEN w ELSE 0 END) * 1000
                     // sum(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT)
                     AS avg_w_sel_milli,
                   CAST(sum(w) * 1000 // count(*) AS BIGINT)
                     AS avg_w_pop_milli
            FROM sel GROUP BY 1 ORDER BY flag"""))

  // --------------------------------------- absorbing-Markov conversion --

  /** Absorbing-Markov conversion probability — the forward-looking readout
    * q_events_markov's one-step matrix can't give: treating 'purchase' as
    * ABSORBING, what is P(convert within k ≤ 8 steps | current state)?
    * Computed by 8 unrolled fixed-point iterations aₖ(s) = Σ_t p(s,t)·
    * aₖ₋₁(t) div 10⁶ over the 5-state transition matrix (the pagerank
    * determinism rule: every iterate is an exact ppm integer, the oracle
    * unrolls the same 8 CTEs with `//`). Emits per transient state the
    * one-step p₁ and the 8-step absorption ppm — the gap between them is
    * how much conversion arrives through multi-step paths, the number a
    * nurture-sequence design reads.
    *
    * Scale: transitions from ONE corpus window pass (user-partitioned
    * lag); everything after lives on the ≤|states|² matrix, which is
    * CONTROL-PLANE-sized at any corpus size (the state space is the
    * event-type vocabulary) — so the 8 fixed-point rounds run on the
    * driver over the collected ≤25-row matrix with the identical exact
    * integer arithmetic (the touchedLeaves/strata collect sanction; the
    * previous 8 scheduled join stages were pure stage-launch overhead,
    * measured 3.2 s for arithmetic on 25 rows → ~0.6 s).
    */
  private val qEventsAbsorption = GQuery(
    (s, d) => {
      val ev = t(s, d, "events").select(col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_id"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val trans = ev.withColumn("nxt", lead("event_type", 1).over(w))
        .filter(col("nxt").isNotNull && col("event_type") =!= "purchase")
        .groupBy(col("event_type").as("src"), col("nxt").as("dst"))
        .agg(count(lit(1L)).as("c"))
      val p = trans
        .withColumn("tot", sum("c").over(Window.partitionBy("src")))
        .select(col("src"), col("dst"), col("c"), col("tot"),
          expr("c * 1000000 div tot").as("p_ppm"))
        .collect() // |types|² ≤ 25 rows — metadata-bounded
      val srcs = p.map(_.getString(0)).distinct.sorted.toSeq
      var a: Map[String, Long] =
        srcs.map(_ -> 0L).toMap + ("purchase" -> 1000000L)
      for (_ <- 1 to 8) {
        // aₖ(s) = Σ_t p(s,t)·aₖ₋₁(t) div 10⁶ — dst states absent from a
        // contribute 0, exactly like the former inner join
        a = srcs.map { src =>
          val sum = p.filter(_.getString(0) == src)
            .map(r => r.getLong(4) * a.getOrElse(r.getString(1), 0L)).sum
          src -> sum / 1000000L
        }.toMap + ("purchase" -> 1000000L)
      }
      val p1 = p.filter(_.getString(1) == "purchase")
        .map(r => r.getString(0) -> (r.getLong(3), r.getLong(4))).toMap
      val rows = (srcs :+ "purchase").map { st =>
        val (nOut, p1ppm) = p1.getOrElse(st, (0L, 0L))
        (st, nOut, p1ppm, a(st))
      }
      import s.implicits._
      rows.toDF("state", "n_out", "p1_ppm", "p8_ppm").orderBy("state")
    },
    Some {
      val iters = (1 to 8).map { k =>
        s"""a$k AS (
              SELECT p.src AS state,
                     CAST(sum(p_ppm * a) // 1000000 AS BIGINT) AS a
              FROM p JOIN a${k - 1} ON a${k - 1}.state = p.dst
              GROUP BY 1
              UNION ALL SELECT 'purchase', 1000000)"""
      }.mkString(",\n")
      s"""WITH e AS (
            SELECT user_id, epoch_us(ts) AS us, event_id, event_type
            FROM events),
          tr AS (
            SELECT user_id, event_type AS src,
                   lead(event_type) OVER (PARTITION BY user_id
                     ORDER BY us, event_id) AS dst
            FROM e),
          tc AS (
            SELECT src, dst, CAST(count(*) AS BIGINT) AS c
            FROM tr WHERE dst IS NOT NULL AND src <> 'purchase'
            GROUP BY 1, 2),
          p AS (
            SELECT src, dst, c,
                   CAST(sum(c) OVER (PARTITION BY src) AS BIGINT) AS tot,
                   CAST(c * 1000000 // sum(c) OVER (PARTITION BY src)
                     AS BIGINT) AS p_ppm
            FROM tc),
          a0 AS (
            SELECT DISTINCT src AS state, CAST(0 AS BIGINT) AS a FROM p
            UNION ALL SELECT 'purchase', 1000000),
          $iters,
          p1 AS (
            SELECT src AS state, p_ppm AS p1_ppm, tot AS n_out
            FROM p WHERE dst = 'purchase')
          SELECT a8.state, CAST(coalesce(n_out, 0) AS BIGINT) AS n_out,
                 CAST(coalesce(p1_ppm, 0) AS BIGINT) AS p1_ppm,
                 a8.a AS p8_ppm
          FROM a8 LEFT JOIN p1 ON p1.state = a8.state
          ORDER BY a8.state"""
    })

  // --------------------------------------------- mediation analysis --

  /** Baron–Kenny mediation with the Sobel test: does activity (X = total
    * events) drive purchase spend (Y, cents) THROUGH browsing (M = view
    * count), or directly? Three exact-integer OLS fits per user-level
    * triple — a: M~X, (b, c′): Y~M+X by partialling (two-regressor closed
    * form, the q_ts_granger pattern), c: Y~X — coefficients as ppm
    * integral divs of DECIMAL(38) S-terms (Sᵤᵥ = nΣuv − ΣuΣv), the Sobel
    * z = ab / √(b²·se²_a + a²·se²_b) assembled in doubles (×, ÷, sqrt
    * only — IEEE-identical) and dround'd. indirect_micro = a·b div 10⁶
    * and c_total vs c′ read as the effect decomposition.
    *
    * Scale: one user-level agg (map-combinable) → one 1-row moment agg →
    * closed forms. Nothing iterative, nothing user-sized after the
    * rollup.
    */
  private val qStatsMediation = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val users = t(s, d, "events")
        .groupBy("user_id")
        .agg(count(lit(1L)).as("x"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("m"),
          sum(when(col("event_type") === "purchase", cents).otherwise(0L))
            .as("y"))
      val dec = "DECIMAL(38,0)"
      val mom = users.agg(count(lit(1L)).as("n"),
        sum("x").as("sx"), sum("m").as("sm"), sum("y").as("sy"),
        sum(expr(s"CAST(x AS $dec) * x")).as("sxx"),
        sum(expr(s"CAST(x AS $dec) * m")).as("sxm"),
        sum(expr(s"CAST(x AS $dec) * y")).as("sxy"),
        sum(expr(s"CAST(m AS $dec) * m")).as("smm"),
        sum(expr(s"CAST(m AS $dec) * y")).as("smy"),
        sum(expr(s"CAST(y AS $dec) * y")).as("syy"))
      val S = Seq(
        "cxx" -> "(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx)",
        "cxm" -> "(n * sxm - CAST(sx AS DECIMAL(38,0)) * sm)",
        "cxy" -> "(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy)",
        "cmm" -> "(n * smm - CAST(sm AS DECIMAL(38,0)) * sm)",
        "cmy" -> "(n * smy - CAST(sm AS DECIMAL(38,0)) * sy)",
        "cyy" -> "(n * syy - CAST(sy AS DECIMAL(38,0)) * sy)")
      val withS = S.foldLeft(mom) { case (df, (nm, ex)) =>
        df.withColumn(nm, expr(ex)) }
      withS
        .withColumn("a_ppm", expr("CAST(cxm * 1000000 div cxx AS BIGINT)"))
        .withColumn("b_ppm", expr(
          "CAST((cxx * cmy - cxm * cxy) * 1000000"
            + " div (cxx * cmm - cxm * cxm) AS BIGINT)"))
        .withColumn("cprime_ppm", expr(
          "CAST((cmm * cxy - cxm * cmy) * 1000000"
            + " div (cxx * cmm - cxm * cxm) AS BIGINT)"))
        .withColumn("c_total_ppm", expr("CAST(cxy * 1000000 div cxx AS BIGINT)"))
        .withColumn("se2_a", expr(
          """(CAST(cmm AS DOUBLE) * CAST(cxx AS DOUBLE)
              - CAST(cxm AS DOUBLE) * CAST(cxm AS DOUBLE))
             / ((n - 2) * CAST(cxx AS DOUBLE) * CAST(cxx AS DOUBLE))"""))
        .withColumn("se2_b", expr(
          """(CAST(cyy AS DOUBLE)
              - (CAST(b_ppm AS DOUBLE) / 1e6 * CAST(cmy AS DOUBLE)
                 + CAST(cprime_ppm AS DOUBLE) / 1e6 * CAST(cxy AS DOUBLE)))
             * CAST(cxx AS DOUBLE)
             / ((n - 3) * (CAST(cxx AS DOUBLE) * CAST(cmm AS DOUBLE)
                - CAST(cxm AS DOUBLE) * CAST(cxm AS DOUBLE)))"""))
        .withColumn("sobel_raw", expr(
          """(CAST(a_ppm AS DOUBLE) / 1e6) * (CAST(b_ppm AS DOUBLE) / 1e6)
             / sqrt((CAST(b_ppm AS DOUBLE) / 1e6)
                    * (CAST(b_ppm AS DOUBLE) / 1e6) * se2_a
                  + (CAST(a_ppm AS DOUBLE) / 1e6)
                    * (CAST(a_ppm AS DOUBLE) / 1e6) * se2_b)"""))
        .select(col("n"), col("a_ppm"), col("b_ppm"), col("cprime_ppm"),
          col("c_total_ppm"),
          expr("a_ppm * b_ppm div 1000000").as("indirect_micro"),
          dround(col("sobel_raw"), 4).as("sobel_z"))
        .withColumn("mediated", abs(col("sobel_z")) > 1.96)
    },
    Some("""WITH users AS (
              SELECT user_id, CAST(count(*) AS BIGINT) AS x,
                     CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0
                       END) AS BIGINT) AS m,
                     CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
              FROM events GROUP BY 1),
            mom AS (
              SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(m) AS BIGINT) AS sm,
                     CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
                     CAST(sum(CAST(x AS HUGEINT) * m) AS HUGEINT) AS sxm,
                     CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
                     CAST(sum(CAST(m AS HUGEINT) * m) AS HUGEINT) AS smm,
                     CAST(sum(CAST(m AS HUGEINT) * y) AS HUGEINT) AS smy,
                     CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
              FROM users),
            cs AS (
              SELECT n,
                     (n * sxx - CAST(sx AS HUGEINT) * sx) AS cxx,
                     (n * sxm - CAST(sx AS HUGEINT) * sm) AS cxm,
                     (n * sxy - CAST(sx AS HUGEINT) * sy) AS cxy,
                     (n * smm - CAST(sm AS HUGEINT) * sm) AS cmm,
                     (n * smy - CAST(sm AS HUGEINT) * sy) AS cmy,
                     (n * syy - CAST(sy AS HUGEINT) * sy) AS cyy
              FROM mom),
            co AS (
              SELECT n, cxx, cxm, cxy, cmm, cmy, cyy,
                     CAST(cxm * 1000000 // cxx AS BIGINT) AS a_ppm,
                     CAST((cxx * cmy - cxm * cxy) * 1000000
                       // (cxx * cmm - cxm * cxm) AS BIGINT) AS b_ppm,
                     CAST((cmm * cxy - cxm * cmy) * 1000000
                       // (cxx * cmm - cxm * cxm) AS BIGINT) AS cprime_ppm,
                     CAST(cxy * 1000000 // cxx AS BIGINT) AS c_total_ppm
              FROM cs),
            se AS (
              SELECT *,
                     (CAST(cmm AS DOUBLE) * CAST(cxx AS DOUBLE)
                       - CAST(cxm AS DOUBLE) * CAST(cxm AS DOUBLE))
                     / ((n - 2) * CAST(cxx AS DOUBLE) * CAST(cxx AS DOUBLE))
                       AS se2_a,
                     (CAST(cyy AS DOUBLE)
                       - (CAST(b_ppm AS DOUBLE) / 1e6 * CAST(cmy AS DOUBLE)
                          + CAST(cprime_ppm AS DOUBLE) / 1e6
                            * CAST(cxy AS DOUBLE)))
                     * CAST(cxx AS DOUBLE)
                     / ((n - 3) * (CAST(cxx AS DOUBLE) * CAST(cmm AS DOUBLE)
                        - CAST(cxm AS DOUBLE) * CAST(cxm AS DOUBLE)))
                       AS se2_b
              FROM co),
            z AS (
              SELECT *,
                     (CAST(a_ppm AS DOUBLE) / 1e6)
                     * (CAST(b_ppm AS DOUBLE) / 1e6)
                     / sqrt((CAST(b_ppm AS DOUBLE) / 1e6)
                            * (CAST(b_ppm AS DOUBLE) / 1e6) * se2_a
                          + (CAST(a_ppm AS DOUBLE) / 1e6)
                            * (CAST(a_ppm AS DOUBLE) / 1e6) * se2_b)
                       AS sobel_raw
              FROM se)
            SELECT n, a_ppm, b_ppm, cprime_ppm, c_total_ppm,
                   CAST(a_ppm * b_ppm // 1000000 AS BIGINT)
                     AS indirect_micro,
                   CAST(round(CAST(sobel_raw AS DECIMAL(30,8)), 4) AS DOUBLE)
                     AS sobel_z,
                   abs(CAST(round(CAST(sobel_raw AS DECIMAL(30,8)), 4)
                     AS DOUBLE)) > 1.96 AS mediated
            FROM z"""))

  // ------------------------------------- minhash audience overlap --

  /** Approximate audience overlap via 64-permutation MinHash signatures —
    * the SCALE PATH twin of q_events_overlap_matrix (whose exact
    * intersection join shuffles the full (type, user) table against
    * itself; this shrinks each audience to a 64-value signature FIRST, so
    * the pairwise stage touches |types|×64 rows no matter how many users
    * exist — the q_events_sliding_distinct_approx pairing rule: exact
    * twin for correctness, sketch twin for scale). Permutation i's hash
    * is md5(i ∥ uid) (independent uniform hashes; lexicographic hex min
    * is a valid min-hash, the DedupOps rule); Ĵ = matches·10⁶ div 64,
    * emitted NEXT TO the exact Jaccard so the row itself is the error
    * gauge — expected |err| ≈ √(J(1−J)/64) ≈ 60k ppm at J ≈ ½.
    *
    * Scale: distinct (type, user) → ×64 explode → (type, i) min agg
    * (map-combinable, 64·|types| cells); the exact side is the one
    * user-keyed self-join and exists as the truth anchor — drop it at
    * 100 TB and keep the sketch side, which never shuffles users.
    */
  private val qEventsOverlapApprox = GQuery(
    (s, d) => {
      val tu = t(s, d, "events")
        .select(col("event_type").as("et"), col("user_id")).distinct()
        .localCheckpoint(true) // sizes + exact join sides + signature build
      val sizes = tu.groupBy("et").agg(count(lit(1L)).as("n"))
      val sig = tu
        .select(col("et"), col("user_id"),
          explode(expr("sequence(0, 63)")).as("i"))
        .groupBy("et", "i")
        .agg(min(md5(concat_ws("|", col("i"), col("user_id")))).as("mh"))
      val m = sig.select(col("et").as("et_a"), col("i"), col("mh"))
        .join(sig.select(col("et").as("et_b"), col("i"), col("mh")
          .as("mh_b")), "i")
        .filter(col("et_a") < col("et_b"))
        .groupBy("et_a", "et_b")
        .agg(sum(when(col("mh") === col("mh_b"), 1L).otherwise(0L))
          .as("matches"))
      val exact = tu.select(col("et").as("et_a"), col("user_id"))
        .join(tu.select(col("et").as("et_b"), col("user_id")), "user_id")
        .filter(col("et_a") < col("et_b"))
        .groupBy("et_a", "et_b").agg(count(lit(1L)).as("n_inter"))
      m.join(exact, Seq("et_a", "et_b"))
        .join(sizes.select(col("et").as("et_a"), col("n").as("n_a")), "et_a")
        .join(sizes.select(col("et").as("et_b"), col("n").as("n_b")), "et_b")
        .select(col("et_a"), col("et_b"), col("matches"),
          expr("matches * 1000000 div 64").as("jac_est_ppm"),
          expr("n_inter * 1000000 div (n_a + n_b - n_inter)")
            .as("jac_exact_ppm"))
        .withColumn("err_ppm", col("jac_est_ppm") - col("jac_exact_ppm"))
        .orderBy("et_a", "et_b")
    },
    Some("""WITH tu AS (
              SELECT DISTINCT event_type AS et, user_id FROM events),
            sizes AS (SELECT et, CAST(count(*) AS BIGINT) AS n
                      FROM tu GROUP BY 1),
            sig AS (
              SELECT et, i,
                     min(md5(concat_ws('|', i, user_id))) AS mh
              FROM tu, unnest(generate_series(0, 63)) AS t(i)
              GROUP BY 1, 2),
            m AS (
              SELECT a.et AS et_a, b.et AS et_b,
                     CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END)
                       AS BIGINT) AS matches
              FROM sig a JOIN sig b ON a.i = b.i AND a.et < b.et
              GROUP BY 1, 2),
            ex AS (
              SELECT a.et AS et_a, b.et AS et_b,
                     CAST(count(*) AS BIGINT) AS n_inter
              FROM tu a JOIN tu b
                ON a.user_id = b.user_id AND a.et < b.et
              GROUP BY 1, 2)
            SELECT m.et_a, m.et_b, matches,
                   CAST(matches * 1000000 // 64 AS BIGINT) AS jac_est_ppm,
                   CAST(n_inter * 1000000 // (sa.n + sb.n - n_inter)
                     AS BIGINT) AS jac_exact_ppm,
                   CAST(matches * 1000000 // 64
                     - n_inter * 1000000 // (sa.n + sb.n - n_inter)
                     AS BIGINT) AS err_ppm
            FROM m
            JOIN ex ON ex.et_a = m.et_a AND ex.et_b = m.et_b
            JOIN sizes sa ON sa.et = m.et_a
            JOIN sizes sb ON sb.et = m.et_b
            ORDER BY m.et_a, m.et_b"""))

  // ------------------------------------------------- median imputation --

  /** Median imputation with a missingness audit — the feature-prep step
    * every training table needs before a model that can't take NULLs:
    * rows with pmod(event_id, 7) = 0 play the deterministic missing set
    * (the synthetic table carries no real NULLs; the MECHANISM is what's
    * under test), the fill value is the per-type EXACT lower-median of
    * observed values (cents grid, never an fp percentile), and the output
    * is the per-type audit row — n, n_missing, the imputation value, and
    * the observed vs post-impute means — the drift check that catches an
    * imputation silently moving a feature's distribution.
    *
    * Scale: observed values collapse to a (type, cents) grid before any
    * window; the cumulative-count window and the min-v-past-threshold
    * selection run on grid rows (wquantile economics — value-domain-sized,
    * not corpus-sized); means are exact BIGINT dot products of the same
    * grid. One corpus pass total.
    */
  private val qFeatureImpute = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val ev = t(s, d, "events")
        .select(col("event_type").as("et"), cents.as("v"),
          (pmod(col("event_id"), lit(7)) === 0).as("miss"))
        .localCheckpoint(true) // feeds the grid AND the missing counts
      val grid = ev.filter(!col("miss"))
        .groupBy("et", "v").agg(count(lit(1L)).as("cnt"))
      val wCum = Window.partitionBy("et").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val obs = grid.groupBy("et")
        .agg(sum("cnt").as("n_obs"), sum(col("v") * col("cnt")).as("sv"))
      val med = grid.withColumn("cum", sum("cnt").over(wCum))
        .join(obs, "et")
        .filter(col("cum") >= expr("(n_obs + 1) div 2"))
        .groupBy("et").agg(min("v").as("med_cents"))
      val miss = ev.groupBy("et")
        .agg(count(lit(1L)).as("n"),
          sum(col("miss").cast("long")).as("n_missing"))
      miss.join(obs, "et").join(med, "et")
        .select(col("et").as("event_type"), col("n"), col("n_missing"),
          col("med_cents"),
          expr("sv div n_obs").as("mean_obs_cents"),
          expr("(sv + n_missing * med_cents) div n").as("mean_imputed_cents"))
        .orderBy("event_type")
    },
    Some("""WITH ev AS (
              SELECT event_type AS et,
                     CAST(round(value * 100) AS BIGINT) AS v,
                     event_id % 7 = 0 AS miss
              FROM events),
            grid AS (
              SELECT et, v, CAST(count(*) AS BIGINT) AS cnt
              FROM ev WHERE NOT miss GROUP BY 1, 2),
            obs AS (
              SELECT et, CAST(sum(cnt) AS BIGINT) AS n_obs,
                     CAST(sum(v * cnt) AS BIGINT) AS sv
              FROM grid GROUP BY 1),
            med AS (
              SELECT g.et, CAST(min(g.v) AS BIGINT) AS med_cents
              FROM (SELECT et, v, sum(cnt) OVER (PARTITION BY et ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS cum
                    FROM grid) g
              JOIN obs ON obs.et = g.et
              WHERE g.cum >= (obs.n_obs + 1) // 2
              GROUP BY 1),
            miss AS (
              SELECT et, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN miss THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_missing
              FROM ev GROUP BY 1)
            SELECT miss.et AS event_type, n, n_missing, med_cents,
                   CAST(sv // n_obs AS BIGINT) AS mean_obs_cents,
                   CAST((sv + n_missing * med_cents) // n AS BIGINT)
                     AS mean_imputed_cents
            FROM miss
            JOIN obs ON obs.et = miss.et
            JOIN med ON med.et = miss.et
            ORDER BY event_type"""))

  // ------------------------------------------------ hashed feature cross --

  /** Hashing-trick feature cross — the recommender staple that folds the
    * cartesian (event_type × user-bucket) categorical product into a fixed
    * 64-dim feature space (the dimensionality a model can take stays
    * BOUNDED no matter how many raw categories appear): bucket =
    * hex4(md5(cross key)) mod 64, the portable hash. Emits the per-bucket
    * load table — rows landing in the bucket, DISTINCT raw pairs sharing
    * it, and the collision flag — the sizing readout that tells you when
    * m is too small for the cross's cardinality (here 500 pairs over 64
    * buckets: every bucket collides by design, the gauge shows how hard).
    *
    * Scale: one map-side-combinable agg keyed on the 64-value bucket —
    * perfectly balanced by construction (that's what the hash is for);
    * countDistinct partials are bounded by pairs-per-bucket. The raw
    * cross NEVER materializes as a join — the hash composes per row.
    */
  private val qFeatureHashedCross = GQuery(
    (s, d) => {
      import graft.operators.DedupOps.hex4
      val ck = concat_ws("|", col("event_type"), pmod(col("user_id"), lit(100)))
      t(s, d, "events")
        .select(ck.as("ck"))
        .withColumn("bucket", pmod(hex4(col("ck")), lit(64)))
        .groupBy("bucket")
        .agg(count(lit(1L)).as("n_rows"),
          countDistinct("ck").as("n_pairs"))
        .withColumn("collides", col("n_pairs") > 1)
        .orderBy("bucket")
    },
    Some {
      val h4 = graft.operators.DedupOps.duckHex4("md5(ck)")
      s"""WITH base AS (
              SELECT event_type || '|' || CAST(user_id % 100 AS VARCHAR) AS ck
              FROM events)
            SELECT CAST($h4 % 64 AS BIGINT) AS bucket,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(DISTINCT ck) AS BIGINT) AS n_pairs,
                   count(DISTINCT ck) > 1 AS collides
            FROM base GROUP BY 1 ORDER BY 1"""
    })

  // ------------------------------------------------ Yule-Walker AR(2) --

  /** AR(2) fit by Yule-Walker / Levinson-Durbin on the daily revenue
    * series — the parametric member of the forecasting family (snaive
    * copies, holt smooths, kalman filters; AR(2) MODELS the lag structure
    * q_ts_autocorr only reads out): r₁, r₂ are the same exact-moment
    * pairwise ACF estimates the autocorr query emits (DECIMAL(38) sums,
    * one dround at the edge — quantize once), and the order-2 recursion
    * composes on the SNAPPED values (partialcorr double-snap rule):
    * φ₂ = (r₂ − r₁²)/(1 − r₁²), φ₁ = r₁(1 − φ₂), innovation-variance
    * ratio σ²/c₀ = (1 − φ₁r₁ − φ₂r₂). φ₂ is simultaneously PACF(2) —
    * the "does lag 2 add anything" readout.
    *
    * Scale: autocorr economics — the corpus collapses to the ≤ #days
    * grid before the lag window; moments are one grid agg; everything
    * after is a 2-row pivot. |r₁| = 1 after snapping (constant series)
    * nulls the fit rather than dividing by zero.
    */
  private val qTsAr2 = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val daily = t(s, d, "events")
        .select(to_date(col("ts")).as("day"), cents.as("v"))
        .groupBy("day").agg(sum("v").as("x"))
      val w = Window.orderBy("day")
      val lagged = daily.select(col("x"),
        lag("x", 1).over(w).as("x_1"), lag("x", 2).over(w).as("x_2"))
      val stacked = lagged
        .selectExpr("x", "stack(2, 1, x_1, 2, x_2) AS (k, xl)")
        .filter(col("xl").isNotNull)
      val st = stacked.groupBy("k").agg(
        count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("xl").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("xl") * col("xl")).cast("decimal(38,0)")).as("syy"),
        sum((col("x") * col("xl")).cast("decimal(38,0)")).as("sxy"))
      val dxx = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
      val dyy = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
      val dxy = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
      val acf = st.select(col("k"), col("n"),
        when(dxx > 0 && dyy > 0, dround(dxy / sqrt(dxx * dyy), 6)).as("r"))
      val wide = acf.agg(
        max(when(col("k") === 1, col("n"))).as("n1"),
        max(when(col("k") === 1, col("r"))).as("r1"),
        max(when(col("k") === 2, col("r"))).as("r2"))
      wide
        .withColumn("phi2", when(abs(col("r1")) < 1,
          dround((col("r2") - col("r1") * col("r1")) /
            (lit(1.0) - col("r1") * col("r1")), 6)))
        .withColumn("phi1", dround(col("r1") * (lit(1.0) - col("phi2")), 6))
        .withColumn("sigma_ratio", dround(lit(1.0) - col("phi1") * col("r1")
          - col("phi2") * col("r2"), 6))
        .select(col("n1"), col("r1"), col("r2"), col("phi1"), col("phi2"),
          col("sigma_ratio"))
    },
    Some("""WITH daily AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                     sum(CAST(round(value * 100) AS BIGINT))
                       AS x
              FROM events GROUP BY 1),
            lagged AS (
              SELECT x, lag(x, 1) OVER (ORDER BY day) AS x_1,
                        lag(x, 2) OVER (ORDER BY day) AS x_2
              FROM daily),
            stacked AS (
              SELECT lagged.x, t.k, t.xl
              FROM lagged, LATERAL (VALUES (1, x_1), (2, x_2)) AS t(k, xl)
              WHERE t.xl IS NOT NULL),
            st AS (
              SELECT k, CAST(count(*) AS BIGINT) AS n,
                     sum(x) AS sx, sum(xl) AS sy,
                     sum(x * x) AS sxx, sum(xl * xl) AS syy,
                     sum(x * xl) AS sxy
              FROM stacked GROUP BY 1),
            acf AS (
              SELECT k, n,
                     CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
                           AND CAST(n * syy - sy * sy AS DOUBLE) > 0
                       THEN CAST(round(CAST(CAST(n * sxy - sx * sy AS DOUBLE)
                         / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                * CAST(n * syy - sy * sy AS DOUBLE))
                         AS DECIMAL(30,8)), 6) AS DOUBLE) END AS r
              FROM st),
            wide AS (
              SELECT max(CASE WHEN k = 1 THEN n END) AS n1,
                     max(CASE WHEN k = 1 THEN r END) AS r1,
                     max(CASE WHEN k = 2 THEN r END) AS r2
              FROM acf),
            fit AS (
              SELECT n1, r1, r2,
                     CASE WHEN abs(r1) < 1 THEN
                       CAST(round(CAST((r2 - r1 * r1) / (1 - r1 * r1)
                         AS DECIMAL(30,8)), 6) AS DOUBLE) END AS phi2
              FROM wide),
            fit2 AS (
              SELECT n1, r1, r2, phi2,
                     CAST(round(CAST(r1 * (1 - phi2) AS DECIMAL(30,8)), 6)
                       AS DOUBLE) AS phi1
              FROM fit)
            SELECT n1, r1, r2, phi1, phi2,
                   CAST(round(CAST(1 - phi1 * r1 - phi2 * r2
                     AS DECIMAL(30,8)), 6) AS DOUBLE) AS sigma_ratio
            FROM fit2"""))

  // -------------------------------------------- data-constrained epochs --

  /** Repeat-epoch planning under a token budget — the data-constrained
    * scaling step (Muennighoff et al.: repeating data beyond ~4 epochs
    * buys almost nothing, so cap repeats and SURFACE the shortfall
    * instead of silently over-repeating): targets follow the
    * q_corpus_temperature √-smoothed mix over a budget of 5× total corpus
    * tokens (big enough that low-resource languages hit the cap — both
    * branches of the planner are live); per language epochs = ⌈target/available⌉ capped at 4,
    * served = min(target, epochs·available), shortfall = target − served
    * (the signal to go collect more of that language, not loop it a 9th
    * time). All exact integer ppm/div arithmetic.
    *
    * Scale: corpus_mix economics — one map-combinable per-lang agg, then
    * |langs|-row planning arithmetic on broadcast totals; the plan table
    * is what a downstream weighted sampler (q_sample_weighted) consumes.
    */
  private val qCorpusEpochs = GQuery(
    (s, d) => {
      val langs = t(s, d, "documents")
        .select(col("lang"), size(split(col("text"), " ")).cast("long")
          .as("ntok"))
        .groupBy("lang").agg(sum("ntok").as("avail"))
      val tot = langs.agg(sum("avail").as("tt"))
      val base = langs.crossJoin(broadcast(tot))
        .withColumn("sq",
          floor(sqrt(col("avail").cast("double"))).cast("long"))
      val st = base.agg(sum("sq").as("st"))
      base.crossJoin(broadcast(st))
        .withColumn("w_ppm", expr("sq * 1000000 div st"))
        .withColumn("target", expr("(5 * tt * w_ppm) div 1000000"))
        .withColumn("epochs",
          least(lit(4L), expr("(target + avail - 1) div avail")))
        .withColumn("served",
          least(col("target"), col("epochs") * col("avail")))
        .withColumn("shortfall", col("target") - col("served"))
        .select(col("lang"), col("avail"), col("w_ppm"), col("target"),
          col("epochs"), col("served"), col("shortfall"))
        .orderBy("lang")
    },
    Some("""WITH langs AS (
              SELECT lang,
                     CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                       AS avail
              FROM documents GROUP BY 1),
            tot AS (SELECT CAST(sum(avail) AS BIGINT) AS tt FROM langs),
            base AS (
              SELECT lang, avail, tt,
                     CAST(floor(sqrt(CAST(avail AS DOUBLE))) AS BIGINT) AS sq
              FROM langs, tot),
            st AS (SELECT CAST(sum(sq) AS BIGINT) AS st FROM base),
            plan AS (
              SELECT lang, avail,
                     CAST(sq * 1000000 // st.st AS BIGINT) AS w_ppm,
                     CAST((5 * tt * (sq * 1000000 // st.st)) // 1000000
                       AS BIGINT) AS target
              FROM base, st),
            ep AS (
              SELECT lang, avail, w_ppm, target,
                     CAST(least(4, (target + avail - 1) // avail) AS BIGINT)
                       AS epochs
              FROM plan),
            sv AS (
              SELECT lang, avail, w_ppm, target, epochs,
                     CAST(least(target, epochs * avail) AS BIGINT) AS served
              FROM ep)
            SELECT lang, avail, w_ppm, target, epochs, served,
                   CAST(target - served AS BIGINT) AS shortfall
            FROM sv ORDER BY lang"""))

  // -------------------------------------------- interpolated quantiles --

  /** Interpolated (percentile_cont-style) quantiles, EXACT — the continuous
    * twin of the disc/weighted family (q_agg_wquantile selects an order
    * statistic; the linear-interpolation definition engines disagree on at
    * the ulp level becomes hash-stable by doing the interpolation in
    * integer micro-cents): 0-based real rank (n−1)·p/100 splits into
    * k = centi-rank div 100 and an exact ppm fraction; the value is
    * x_k·(10⁶−f) + x_{k+1}·f in micro-cents — no double ever enters.
    * p ∈ {50, 90, 99} per event type.
    *
    * Scale: wquantile economics — values collapse to the (type, cents)
    * grid with a grid-sized cumulative window; the rank lookups join SIX
    * constant rows per type against the grid (min-v-past-threshold
    * selection), never sorting corpus rows.
    */
  private val qAggQuantileCont = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val grid = t(s, d, "events")
        .select(col("event_type").as("et"), cents.as("v"))
        .groupBy("et", "v").agg(count(lit(1L)).as("cnt"))
        .localCheckpoint(true) // feeds n, and both rank lookups
      val wCum = Window.partitionBy("et").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = grid.withColumn("cum", sum("cnt").over(wCum))
        .localCheckpoint(true)
      val n = grid.groupBy("et").agg(sum("cnt").as("n"))
      val ps = s.createDataFrame(Seq(Tuple1(50L), Tuple1(90L), Tuple1(99L)))
        .toDF("p")
      val ranks = n.crossJoin(broadcast(ps))
        .withColumn("pos_centi", (col("n") - 1) * col("p"))
        .withColumn("k", expr("pos_centi div 100"))
        .withColumn("f_ppm", expr("(pos_centi % 100) * 10000"))
      def at(rank: Column, as: String) =
        cum.join(ranks.select(col("et"), col("p"), rank.as("r")), Seq("et"))
          .filter(col("cum") >= col("r") + 1)
          .groupBy("et", "p").agg(min("v").as(as))
      val lo = at(col("k"), "x_lo")
      val hi = at(least(col("k") + 1, col("n") - 1), "x_hi")
      ranks.join(lo, Seq("et", "p")).join(hi, Seq("et", "p"))
        .select(col("et").as("event_type"), col("p"), col("n"),
          col("x_lo"), col("x_hi"),
          (col("x_lo") * (lit(1000000L) - col("f_ppm"))
            + col("x_hi") * col("f_ppm")).as("q_micro_cents"))
        .orderBy("event_type", "p")
    },
    Some("""WITH grid AS (
              SELECT event_type AS et,
                     CAST(round(value * 100) AS BIGINT) AS v,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM events GROUP BY 1, 2),
            cum AS (
              SELECT et, v, sum(cnt) OVER (PARTITION BY et ORDER BY v
                ROWS UNBOUNDED PRECEDING) AS cum
              FROM grid),
            n AS (SELECT et, CAST(sum(cnt) AS BIGINT) AS n
                  FROM grid GROUP BY 1),
            ranks AS (
              SELECT et, n, p,
                     (n - 1) * p AS pos_centi,
                     (n - 1) * p // 100 AS k,
                     ((n - 1) * p % 100) * 10000 AS f_ppm
              FROM n, (SELECT unnest([50, 90, 99]) AS p)),
            lo AS (
              SELECT r.et, r.p, CAST(min(c.v) AS BIGINT) AS x_lo
              FROM ranks r JOIN cum c ON c.et = r.et
              WHERE c.cum >= r.k + 1 GROUP BY 1, 2),
            hi AS (
              SELECT r.et, r.p, CAST(min(c.v) AS BIGINT) AS x_hi
              FROM ranks r JOIN cum c ON c.et = r.et
              WHERE c.cum >= least(r.k + 1, r.n - 1) + 1 GROUP BY 1, 2)
            SELECT ranks.et AS event_type, CAST(ranks.p AS BIGINT) AS p,
                   ranks.n, x_lo, x_hi,
                   CAST(x_lo * (1000000 - f_ppm) + x_hi * f_ppm AS BIGINT)
                     AS q_micro_cents
            FROM ranks
            JOIN lo ON lo.et = ranks.et AND lo.p = ranks.p
            JOIN hi ON hi.et = ranks.et AND hi.p = ranks.p
            ORDER BY event_type, p"""))

  // ---------------------------------------------- capture-recapture --

  /** Chapman capture-recapture population estimate — the coverage question
    * every incomplete-observation pipeline asks ("how many users/entities
    * exist, given we only see samples?"): the users PURCHASING on the
    * first and last observed days are the two sparse captures (a daily
    * activity table would saturate — everyone appears in any half-window;
    * one day's purchasers is a genuine sample), and the overlap rate
    * estimates the unseen mass: N̂ = (n₁+1)(n₂+1) div (m+1) − 1 (Chapman's
    * bias-corrected form, exact integer div). The synthetic table lets the
    * TRUTH ride on the same row — actual distinct users and the estimate's
    * signed ppm error — so the estimator is gauged, not trusted.
    *
    * Scale: two distinct-collapse aggs + one user-keyed overlap count on
    * the collapsed capture tables — growth-accounting economics; no
    * event-row joins. Captures are calendar-derived, so the split is
    * append-stable.
    */
  private val qStatsCaptureRecapture = GQuery(
    (s, d) => {
      val ev = t(s, d, "events")
        .select(col("user_id"), col("event_type"), to_date(col("ts")).as("day"))
        .localCheckpoint(true) // feeds both captures AND the truth
      val bounds = ev.agg(min("day").as("d0"), max("day").as("d1"))
      val cap = ev.crossJoin(broadcast(bounds))
        .filter(col("event_type") === "purchase" &&
          (col("day") === col("d0") || col("day") === col("d1")))
        .select(col("user_id"), (col("day") === col("d0")).as("first_cap"))
        .distinct()
        .localCheckpoint(true) // feeds n1, n2, and the overlap
      val n1 = cap.filter(col("first_cap")).agg(
        countDistinct("user_id").as("n1"))
      val n2 = cap.filter(!col("first_cap")).agg(
        countDistinct("user_id").as("n2"))
      val m = cap.groupBy("user_id")
        .agg(countDistinct("first_cap").as("caps"))
        .filter(col("caps") === 2)
        .agg(count(lit(1L)).as("m"))
      val truth = ev.agg(countDistinct("user_id").as("n_true"))
      n1.crossJoin(n2).crossJoin(m).crossJoin(truth)
        .withColumn("n_hat",
          expr("(n1 + 1) * (n2 + 1) div (m + 1) - 1"))
        .withColumn("err_ppm",
          expr("(n_hat - n_true) * 1000000 div n_true"))
        .select(col("n1"), col("n2"), col("m"), col("n_hat"),
          col("n_true"), col("err_ppm"))
    },
    Some("""WITH ev AS (
              SELECT user_id, event_type,
                     CAST(date_trunc('day', ts) AS DATE) AS day
              FROM events),
            bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
            cap AS (
              SELECT DISTINCT user_id, day = d0 AS first_cap
              FROM ev, bounds
              WHERE event_type = 'purchase' AND (day = d0 OR day = d1)),
            n1 AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n1
                   FROM cap WHERE first_cap),
            n2 AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n2
                   FROM cap WHERE NOT first_cap),
            m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM (
                    SELECT user_id FROM cap
                    GROUP BY 1 HAVING count(DISTINCT first_cap) = 2)),
            truth AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_true
                      FROM ev)
            SELECT n1, n2, m,
                   CAST((n1 + 1) * (n2 + 1) // (m + 1) - 1 AS BIGINT)
                     AS n_hat,
                   n_true,
                   CAST(((n1 + 1) * (n2 + 1) // (m + 1) - 1 - n_true)
                     * 1000000 // n_true AS BIGINT) AS err_ppm
            FROM n1, n2, m, truth"""))

  // ---------------------------------------------- consecutive-day streaks --

  /** Consecutive-day activity streaks — the retention metric gamified
    * products anchor on ("7-day streak"): gaps-and-islands on the CALENDAR
    * axis (q_events_gaps islands the event_id sequence space; here the
    * island key is day − row_number·1d, constant exactly while days are
    * consecutive). Emits per user the longest streak, the streak count,
    * active-day total, and whether the longest streak reaches the final
    * observed day (a "streak alive at cutoff" flag — the push-notification
    * trigger).
    *
    * Scale: the corpus collapses to DISTINCT (user, day) before any window
    * (≤ users × days rows); the row_number partitions by user over that
    * collapsed table — sessionize economics, no event-row sorts.
    */
  private val qEventsStreaks = GQuery(
    (s, d) => {
      val ud = t(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
        .localCheckpoint(true) // feeds the window AND the global max day
      val gmax = ud.agg(max("day").as("gd"))
      val wU = Window.partitionBy("user_id").orderBy("day")
      val isl = ud
        .withColumn("rn", row_number().over(wU))
        .withColumn("isl", expr("date_sub(day, rn)"))
        .groupBy("user_id", "isl")
        .agg(count(lit(1L)).as("len"), max("day").as("isl_end"))
      isl.groupBy("user_id")
        .agg(max("len").as("longest_streak"),
          count(lit(1L)).as("n_streaks"),
          sum("len").as("active_days"),
          max(struct(col("len"), col("isl_end"))).as("top"))
        .crossJoin(broadcast(gmax))
        .select(col("user_id"), col("longest_streak"), col("n_streaks"),
          col("active_days"),
          (col("top.isl_end") === col("gd")).as("longest_alive"))
        .orderBy("user_id")
    },
    Some("""WITH ud AS (
              SELECT DISTINCT user_id,
                     CAST(date_trunc('day', ts) AS DATE) AS day
              FROM events),
            g AS (SELECT max(day) AS gd FROM ud),
            isl AS (
              SELECT user_id,
                     day - CAST(row_number() OVER (PARTITION BY user_id
                       ORDER BY day) AS INT) AS isl,
                     day
              FROM ud),
            runs AS (
              SELECT user_id, isl, CAST(count(*) AS BIGINT) AS len,
                     max(day) AS isl_end
              FROM isl GROUP BY 1, 2),
            per AS (
              SELECT user_id,
                     max(len) AS longest_streak,
                     CAST(count(*) AS BIGINT) AS n_streaks,
                     CAST(sum(len) AS BIGINT) AS active_days,
                     max(struct_pack(len := len, isl_end := isl_end))
                       AS top
              FROM runs GROUP BY 1)
            SELECT user_id, longest_streak, n_streaks, active_days,
                   struct_extract(top, 'isl_end') = g.gd AS longest_alive
            FROM per, g ORDER BY user_id"""))

  // ------------------------------------------------ event-time disorder --

  /** Late-arrival (event-time disorder) profile — the measurement that
    * SIZES a watermark (`withWatermark("ts", ???)` is a guess until you
    * know the disorder distribution; too small drops late rows, too big
    * bloats every stateful operator): event_id is the arrival order
    * (the synthetic stream's ingestion sequence), and a row's lateness is
    * how far its event time sits behind the running event-time maximum at
    * its arrival — exactly the gap a watermark must cover to admit it.
    * The synthetic stream arrives perfectly in-order, so the late cohort
    * is PLANTED deterministically (the q_feature_impute missingness rule —
    * the MECHANISM is what's under test): rows with event_id ≡ 0 (mod 17)
    * carry an event time 45 minutes older than their arrival slot.
    * Emits per type the on-time count and the minute-bucketed lateness
    * histogram top (≤0, ≤1, ≤5, ≤30, ≤120, >120 min) plus max lateness —
    * read the smallest bucket covering your loss budget off the row.
    *
    * Scale: ONE type-partitioned running-max window over (type-bucketed)
    * arrival order + a 6-cell-per-type agg — sessionize economics; the
    * histogram is map-combinable. (A global arrival order would serialize;
    * per-type order measures the same disorder when sources interleave.)
    */
  private val qEventsLateness = GQuery(
    (s, d) => {
      val wArr = Window.partitionBy("event_type").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val late = t(s, d, "events")
        .select(col("event_type"), col("event_id"),
          // UTC session tz == epoch_us; the mod-17 cohort is 45 min late
          (unix_micros(col("ts")) -
            when(pmod(col("event_id"), lit(17)) === 0, 2700000000L)
              .otherwise(0L)).as("tsu"))
        .withColumn("hi", max("tsu").over(wArr))
        .withColumn("late_min", expr("(hi - tsu) div 60000000"))
      late.groupBy("event_type")
        .agg(count(lit(1L)).as("n"),
          sum(when(col("late_min") <= 0, 1L).otherwise(0L)).as("ontime"),
          sum(when(col("late_min") > 0 && col("late_min") <= 1, 1L)
            .otherwise(0L)).as("late_1m"),
          sum(when(col("late_min") > 1 && col("late_min") <= 5, 1L)
            .otherwise(0L)).as("late_5m"),
          sum(when(col("late_min") > 5 && col("late_min") <= 30, 1L)
            .otherwise(0L)).as("late_30m"),
          sum(when(col("late_min") > 30 && col("late_min") <= 120, 1L)
            .otherwise(0L)).as("late_120m"),
          sum(when(col("late_min") > 120, 1L).otherwise(0L)).as("late_over"),
          max("late_min").as("max_late_min"))
        .orderBy("event_type")
    },
    Some("""WITH eff AS (
              SELECT event_type, event_id,
                     epoch_us(ts) - CASE WHEN event_id % 17 = 0
                       THEN 2700000000 ELSE 0 END AS tsu
              FROM events),
            late AS (
              SELECT event_type,
                     (max(tsu) OVER (PARTITION BY event_type
                        ORDER BY event_id ROWS UNBOUNDED PRECEDING)
                      - tsu) // 60000000 AS late_min
              FROM eff)
            SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN late_min <= 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS ontime,
                   CAST(sum(CASE WHEN late_min > 0 AND late_min <= 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS late_1m,
                   CAST(sum(CASE WHEN late_min > 1 AND late_min <= 5
                     THEN 1 ELSE 0 END) AS BIGINT) AS late_5m,
                   CAST(sum(CASE WHEN late_min > 5 AND late_min <= 30
                     THEN 1 ELSE 0 END) AS BIGINT) AS late_30m,
                   CAST(sum(CASE WHEN late_min > 30 AND late_min <= 120
                     THEN 1 ELSE 0 END) AS BIGINT) AS late_120m,
                   CAST(sum(CASE WHEN late_min > 120 THEN 1 ELSE 0 END)
                     AS BIGINT) AS late_over,
                   CAST(max(late_min) AS BIGINT) AS max_late_min
            FROM late GROUP BY 1 ORDER BY event_type"""))

  // ----------------------------------------------- padding-waste sweep --

  /** Padding-waste policy sweep — the batching-efficiency readout next to
    * q_pack_sequences' packer (packing eliminates padding by concatenation;
    * when examples must stay intact, a batch pads to its longest member
    * and the POLICY decides how much compute burns as pad tokens):
    *   - `sorted`  — length-sorted batches of 32 within a language
    *     (bucketed batching; near-equal lengths ⇒ minimal pad),
    *   - `arrival` — md5-shuffled batches of 32 (the naive loader),
    *   - `pow2`    — per-doc pad to the next power of two (the
    *     shape-cache/compilation-friendly policy, batch-independent).
    * Emits per (lang, policy) the real vs padded token totals and
    * waste_ppm — read the sorted-vs-arrival gap as what length bucketing
    * buys on this corpus. Exact integers throughout.
    *
    * Scale: both batch policies rank within LANG partitions (no global
    * sort — the aspect-bucketing economics; a production loader shards
    * then batches within shards, same shape); pow2 is a map-only range
    * join vs an 11-row broadcast powers table.
    */
  private val qPackPadding = GQuery(
    (s, d) => {
      val base = t(s, d, "documents")
        .select(col("lang"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ntok"))
        .localCheckpoint(true) // feeds all three policies
      def batched(w: org.apache.spark.sql.expressions.WindowSpec,
          name: String) = base
        .withColumn("rn", row_number().over(w))
        .withColumn("batch", expr("(rn - 1) div 32"))
        .groupBy("lang", "batch")
        .agg(count(lit(1L)).as("bn"), sum("ntok").as("real"),
          (max("ntok") * count(lit(1L))).as("padded"))
        .groupBy("lang")
        .agg(sum("bn").as("n_docs"), sum("real").as("real_tokens"),
          sum("padded").as("padded_tokens"))
        .withColumn("policy", lit(name))
      val sorted = batched(Window.partitionBy("lang")
        .orderBy(col("ntok").desc, col("doc_id")), "sorted")
      val arrival = batched(Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id")), "arrival")
      val powers = s.createDataFrame((0 to 11).map(i => Tuple1(1L << i)))
        .toDF("p")
      val pow2 = base.crossJoin(broadcast(powers))
        .filter(col("p") >= col("ntok"))
        .groupBy("lang", "doc_id", "ntok").agg(min("p").as("padded1"))
        .groupBy("lang")
        .agg(count(lit(1L)).as("n_docs"), sum("ntok").as("real_tokens"),
          sum("padded1").as("padded_tokens"))
        .withColumn("policy", lit("pow2"))
      sorted.unionByName(arrival).unionByName(pow2)
        .select(col("lang"), col("policy"), col("n_docs"),
          col("real_tokens"), col("padded_tokens"),
          expr("(padded_tokens - real_tokens) * 1000000 div padded_tokens")
            .as("waste_ppm"))
        .orderBy("lang", "policy")
    },
    Some("""WITH base AS (
              SELECT lang, doc_id,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
              FROM documents),
            srt AS (
              SELECT lang, ntok,
                     (row_number() OVER (PARTITION BY lang
                        ORDER BY ntok DESC, doc_id) - 1) // 32 AS batch
              FROM base),
            srtb AS (
              SELECT lang, batch, CAST(count(*) AS BIGINT) AS bn,
                     CAST(sum(ntok) AS BIGINT) AS real,
                     CAST(max(ntok) * count(*) AS BIGINT) AS padded
              FROM srt GROUP BY 1, 2),
            pol1 AS (
              SELECT lang, 'sorted' AS policy,
                     CAST(sum(bn) AS BIGINT) AS n_docs,
                     CAST(sum(real) AS BIGINT) AS real_tokens,
                     CAST(sum(padded) AS BIGINT) AS padded_tokens
              FROM srtb GROUP BY 1),
            arr AS (
              SELECT lang, ntok,
                     (row_number() OVER (PARTITION BY lang
                        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1)
                       // 32 AS batch
              FROM base),
            arrb AS (
              SELECT lang, batch, CAST(count(*) AS BIGINT) AS bn,
                     CAST(sum(ntok) AS BIGINT) AS real,
                     CAST(max(ntok) * count(*) AS BIGINT) AS padded
              FROM arr GROUP BY 1, 2),
            pol2 AS (
              SELECT lang, 'arrival' AS policy,
                     CAST(sum(bn) AS BIGINT) AS n_docs,
                     CAST(sum(real) AS BIGINT) AS real_tokens,
                     CAST(sum(padded) AS BIGINT) AS padded_tokens
              FROM arrb GROUP BY 1),
            p2 AS (
              SELECT lang, b.doc_id, ntok,
                     CAST(min(p) AS BIGINT) AS padded1
              FROM base b,
                (SELECT CAST(unnest([1, 2, 4, 8, 16, 32, 64, 128, 256, 512,
                   1024, 2048]) AS BIGINT) AS p)
              WHERE p >= ntok GROUP BY 1, 2, 3),
            pol3 AS (
              SELECT lang, 'pow2' AS policy,
                     CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(ntok) AS BIGINT) AS real_tokens,
                     CAST(sum(padded1) AS BIGINT) AS padded_tokens
              FROM p2 GROUP BY 1),
            u AS (
              SELECT * FROM pol1 UNION ALL
              SELECT * FROM pol2 UNION ALL
              SELECT * FROM pol3)
            SELECT lang, policy, n_docs, real_tokens, padded_tokens,
                   CAST((padded_tokens - real_tokens) * 1000000
                     // padded_tokens AS BIGINT) AS waste_ppm
            FROM u ORDER BY lang, policy"""))

  // ------------------------------------------------ hysteresis alerting --

  /** Two-threshold hysteresis alerting on the daily revenue series — the
    * OPS face of the detector family (q_events_burst/q_ts_cusum detect;
    * an alerting rule must also decide when to STOP paging, and a single
    * threshold flaps on every noise crossing): enter the alert state when
    * x > p75, clear only below p25, hold otherwise — the last-crossing
    * state machine, expressed as last(flag) IGNORE NULLS over the running
    * frame (crossings emit 1/0, quiet days null). Thresholds are exact
    * lower-order statistics of the day grid (wquantile economics), so
    * both engines agree at the boundary. Emits the full day table with
    * state and the enter/exit transition flags an incident log records.
    *
    * Scale: day-grid windows only (changepoint economics — the corpus
    * collapses to ≤ #days rows first); per-key alerting partitions the
    * same shape by key.
    */
  private val qTsHysteresis = GQuery(
    (s, d) => {
      val cents = graft.Exact.cents(col("value"))
      val daily = t(s, d, "events")
        .select(to_date(col("ts")).as("day"), cents.as("v"))
        .groupBy("day").agg(sum("v").as("x"))
        .localCheckpoint(true) // feeds n, both thresholds, and the walk
      val n = daily.agg(count(lit(1L)).as("n"))
      val wRk = Window.orderBy(col("x").asc, col("day").asc)
      val ranked = daily.withColumn("rn", row_number().over(wRk))
        .crossJoin(broadcast(n))
      def orderStat(q: Int, as: String) = ranked
        .filter(col("rn") === expr(s"greatest(1, ($q * n) div 100)"))
        .select(col("x").as(as))
      val lo = orderStat(25, "lo")
      val hi = orderStat(75, "hi")
      val wRun = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
        .withColumn("cross",
          when(col("x") > col("hi"), 1L)
            .when(col("x") < col("lo"), 0L))
        .withColumn("state",
          coalesce(last("cross", ignoreNulls = true).over(wRun), lit(0L)))
        .withColumn("prev",
          coalesce(lag("state", 1).over(Window.orderBy("day")), lit(0L)))
        .select(col("day"), col("x").as("x_cents"), col("state"),
          (col("state") === 1 && col("prev") === 0).as("entered"),
          (col("state") === 0 && col("prev") === 1).as("exited"))
        .orderBy("day")
    },
    Some("""WITH daily AS (
              SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                     CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
              FROM events GROUP BY 1),
            n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
            rk AS (SELECT x, row_number() OVER (ORDER BY x, day) AS rn
                   FROM daily),
            lo AS (SELECT x AS lo FROM rk, n
                   WHERE rn = greatest(1, (25 * n) // 100)),
            hi AS (SELECT x AS hi FROM rk, n
                   WHERE rn = greatest(1, (75 * n) // 100)),
            walk AS (
              SELECT day, x,
                     coalesce(last_value(CASE WHEN x > hi THEN 1
                         WHEN x < lo THEN 0 END IGNORE NULLS)
                       OVER (ORDER BY day ROWS UNBOUNDED PRECEDING),
                       0) AS state
              FROM daily, lo, hi),
            st AS (
              SELECT day, x, state,
                     coalesce(lag(state, 1) OVER (ORDER BY day), 0) AS prev
              FROM walk)
            SELECT day, x AS x_cents, CAST(state AS BIGINT) AS state,
                   state = 1 AND prev = 0 AS entered,
                   state = 0 AND prev = 1 AS exited
            FROM st ORDER BY day"""))

  // ------------------------------------------------ Shapley attribution --

  /** Shapley-value channel attribution — the coalition-game gold standard
    * next to q_events_attribution's linear credit (linear credit splits a
    * conversion among touches; Shapley asks what each channel MARGINALLY
    * adds over every coalition of the others, the only attribution that is
    * efficient + symmetric + additive): channels are the 4 non-purchase
    * event types as bits, a user's coalition is the bit-OR of the touches
    * in their FIRST 5 events and conversion is a purchase in events 6–10
    * (the full 30-day history saturates every user to all-channels —
    * windowing restores the coalition variance attribution needs),
    * v(T) = conversions among users whose touch set ⊆ T, and
    * φ_c·24 = Σ_{T∌c} |T|!(3−|T|)!·(v(T∪c) − v(T)) — EXACT integers (the
    * n=4 factorial weights are {6,2,2,6}; ×24 clears the 4! denominator).
    * Efficiency Σφ = v(full) − v(∅) holds by construction; share_ppm
    * reads each channel's slice of it.
    *
    * Scale: one user-partitioned rank window (sessionize economics) + a
    * per-user agg collapse everything to a ≤16-row coalition table; the
    * zeta transform (v from subset sums) and the 4×8 marginal sum are
    * broadcast-size joins — chisq economics, corpus never rescanned.
    */
  private val qEventsShapley = GQuery(
    (s, d) => {
      val chbit = when(col("event_type") === "click", 1L)
        .when(col("event_type") === "view", 2L)
        .when(col("event_type") === "signup", 4L)
        .when(col("event_type") === "error", 8L).otherwise(0L)
      val wU = Window.partitionBy("user_id").orderBy("event_id")
      val users = t(s, d, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          chbit.as("cb"))
        .withColumn("rn", row_number().over(wU))
        .groupBy("user_id")
        .agg(expr("bit_or(IF(rn <= 5, cb, 0))").as("touch"),
          max(when(col("rn") > 5 && col("rn") <= 10 &&
            col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      val sets = users.groupBy("touch").agg(sum("conv").as("cn"))
        .localCheckpoint(true) // 16-row table feeds the zeta transform
      val coal = s.createDataFrame((0 to 15).map(i => Tuple1(i.toLong)))
        .toDF("t")
      val v = coal.join(sets,
          sets("touch").bitwiseAND(coal("t")) === sets("touch"), "left")
        .groupBy("t").agg(coalesce(sum("cn"), lit(0L)).as("v"))
        .localCheckpoint(true) // joined twice below (T and T∪{c})
      val chans = s.createDataFrame(Seq(("click", 1L), ("view", 2L),
        ("signup", 4L), ("error", 8L))).toDF("channel", "cbit")
      val w = element_at(array(lit(6L), lit(2L), lit(2L), lit(6L)),
        (bit_count(col("t")) + 1).cast("int"))
      val phi = chans.crossJoin(v)
        .filter(col("t").bitwiseAND(col("cbit")) === 0)
        .join(v.select(col("t").as("tc"), col("v").as("vc")),
          col("tc") === col("t").bitwiseOR(col("cbit")))
        .groupBy("channel")
        .agg(sum(w * (col("vc") - col("v"))).as("phi_x24"))
      val tot = phi.agg(sum("phi_x24").as("sp"))
      phi.crossJoin(broadcast(tot))
        .select(col("channel"), col("phi_x24"),
          expr("phi_x24 * 1000 div 24").as("phi_milli"),
          when(col("sp") > 0, expr("phi_x24 * 1000000 div sp"))
            .as("share_ppm"))
        .orderBy("channel")
    },
    Some("""WITH r AS (
              SELECT user_id, event_type,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY event_id) AS rn
              FROM events),
            u AS (
              SELECT user_id,
                     bit_or(CASE WHEN rn <= 5 THEN
                       (CASE event_type WHEN 'click' THEN 1
                         WHEN 'view' THEN 2 WHEN 'signup' THEN 4
                         WHEN 'error' THEN 8 ELSE 0 END) ELSE 0 END)
                       AS touch,
                     max(CASE WHEN rn > 5 AND rn <= 10
                       AND event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS conv
              FROM r GROUP BY 1),
            sets AS (SELECT touch, CAST(sum(conv) AS BIGINT) AS cn
                     FROM u GROUP BY 1),
            coal AS (SELECT CAST(unnest(generate_series(0, 15)) AS BIGINT)
                       AS t),
            v AS (
              SELECT t, CAST(coalesce(sum(cn), 0) AS BIGINT) AS v
              FROM coal LEFT JOIN sets ON (sets.touch & coal.t) = sets.touch
              GROUP BY 1),
            chans AS (SELECT * FROM (VALUES ('click', 1), ('view', 2),
              ('signup', 4), ('error', 8)) AS c(channel, cbit)),
            phi AS (
              SELECT channel,
                     CAST(sum(([6, 2, 2, 6][CAST(bit_count(vt.t) + 1 AS INT)])
                       * (vc.v - vt.v)) AS BIGINT) AS phi_x24
              FROM chans
              JOIN v vt ON (vt.t & cbit) = 0
              JOIN v vc ON vc.t = (vt.t | cbit)
              GROUP BY 1),
            tot AS (SELECT CAST(sum(phi_x24) AS BIGINT) AS sp FROM phi)
            SELECT channel, phi_x24,
                   CAST(phi_x24 * 1000 // 24 AS BIGINT) AS phi_milli,
                   CAST(CASE WHEN sp > 0
                     THEN phi_x24 * 1000000 // sp END AS BIGINT) AS share_ppm
            FROM phi, tot ORDER BY channel"""))

  // --------------------------------------------------- meta-analysis --

  /** Fixed-effect meta-analysis across the five per-type experiments —
    * the experimentation-platform rollup (one treatment, five strata;
    * q_stats_abtest reads each stratum alone, the meta-analysis asks what
    * the EVIDENCE POOLS to and whether the strata even agree): per type,
    * the pmod-2 arms' purchase-conversion rates (exact ppm ints) give the
    * effect e_i and its binomial variance; inverse-variance weights pool
    * ê = Σw·e/Σw; Cochran's Q = Σw(e−ê)² and I² = (Q−(k−1))/Q read the
    * heterogeneity (I² ≈ 0 ⇒ strata agree, pooling is honest; large ⇒ a
    * random-effects model is owed). Doubles are built ONCE from exact
    * integer arm counts with mirrored parenthesization (partialcorr rule)
    * and every output drounds.
    *
    * Scale: one (type, arm) user-collapse agg (map-combinable) → a 10-row
    * arm table; the pooling is constant-size arithmetic — chisq economics.
    */
  private val qStatsMetaAnalysis = GQuery(
    (s, d) => {
      val users = t(s, d, "events")
        .select(col("event_type").as("et"), col("user_id"),
          pmod(col("user_id"), lit(2)).cast("int").as("arm"),
          when(col("value") >= 150, 1L).otherwise(0L).as("big"))
        .groupBy("et", "user_id", "arm").agg(max("big").as("conv"))
      val cells = users.groupBy("et", "arm")
        .agg(count(lit(1L)).as("n"), sum("conv").as("s"))
      val wide = cells.groupBy("et").agg(
        max(when(col("arm") === 0, col("n"))).as("n0"),
        max(when(col("arm") === 0, col("s"))).as("s0"),
        max(when(col("arm") === 1, col("n"))).as("n1"),
        max(when(col("arm") === 1, col("s"))).as("s1"))
      val p0 = col("s0").cast("double") / col("n0").cast("double")
      val p1 = col("s1").cast("double") / col("n1").cast("double")
      val e = p1 - p0
      val v = p0 * (lit(1.0) - p0) / col("n0").cast("double") +
        p1 * (lit(1.0) - p1) / col("n1").cast("double")
      val ew = wide.select(col("et"), e.as("e"), (lit(1.0) / v).as("w"))
        .localCheckpoint(true) // feeds the pooled mean AND Q
      val pooled = ew.agg(count(lit(1L)).as("k"),
        (sum(col("w") * col("e")) / sum("w")).as("pooled"))
      ew.crossJoin(broadcast(pooled))
        .select(col("k"), col("pooled"),
          (col("w") * (col("e") - col("pooled")) *
            (col("e") - col("pooled"))).as("qterm"))
        .groupBy("k", "pooled").agg(sum("qterm").as("q"))
        .select(col("k"),
          dround(col("pooled") * 1000, 3).as("pooled_milli"),
          dround(col("q"), 4).as("q_stat"),
          dround(greatest(lit(0.0),
            (col("q") - (col("k") - 1).cast("double")) / col("q")) * 1000000, 0)
            .as("i2_ppm"))
    },
    Some("""WITH u AS (
              SELECT event_type AS et, user_id, user_id % 2 AS arm,
                     max(CASE WHEN value >= 150 THEN 1 ELSE 0 END) AS conv
              FROM events GROUP BY 1, 2, 3),
            cells AS (
              SELECT et, arm, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(conv) AS BIGINT) AS s
              FROM u GROUP BY 1, 2),
            wide AS (
              SELECT et,
                     max(CASE WHEN arm = 0 THEN n END) AS n0,
                     max(CASE WHEN arm = 0 THEN s END) AS s0,
                     max(CASE WHEN arm = 1 THEN n END) AS n1,
                     max(CASE WHEN arm = 1 THEN s END) AS s1
              FROM cells GROUP BY 1),
            ew AS (
              SELECT et,
                     CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                       - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS e,
                     1.0 / ((CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                         * (1.0 - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                         / CAST(n0 AS DOUBLE)
                       + (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                         * (1.0 - CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                         / CAST(n1 AS DOUBLE)) AS w
              FROM wide),
            pooled AS (
              SELECT CAST(count(*) AS BIGINT) AS k,
                     sum(w * e) / sum(w) AS pooled
              FROM ew),
            q AS (
              SELECT k, pooled,
                     sum(w * (e - pooled) * (e - pooled)) AS q
              FROM ew, pooled GROUP BY 1, 2)
            SELECT k,
                   CAST(round(CAST(pooled * 1000 AS DECIMAL(30,8)), 3)
                     AS DOUBLE) AS pooled_milli,
                   CAST(round(CAST(q AS DECIMAL(30,8)), 4) AS DOUBLE)
                     AS q_stat,
                   CAST(round(CAST(greatest(0.0, (q - CAST(k - 1 AS DOUBLE))
                     / q) * 1000000 AS DECIMAL(30,8)), 0) AS DOUBLE)
                     AS i2_ppm
            FROM q"""))

  // ------------------------------------------ Jarque–Bera normality --

  /** Jarque–Bera normality test per event type (Jarque & Bera 1980 —
    * public): JB = n/6 · (g₁² + g₂²/4) from the SAME exact integer power
    * sums as q_stats_moments (one map-combinable 5-sum agg; the moment-
    * sketch discipline), with g₁/g₂ assembled in DOUBLE through the
    * bit-mirrored expression tree. JB ~ χ²₂ under normality, so the
    * verdict column compares against the 95% critical value 5.99 — the
    * "is mean±σ even a meaningful summary?" gate that complements
    * q_stats_ks (distance to a REFERENCE sample) and q_stats_cvm: JB
    * needs no reference, only the distribution's own shape.
    *
    * Scale: identical to q_stats_moments — one agg pass, |types| rows;
    * DECIMAL(38,0) holds S₄ to ~10¹⁸ rows of 10⁵-cent values.
    */
  private val qStatsJarqueBera = GQuery(
    (s, d) => {
      val c = cents(col("value"))
      val g = t(s, d, "events")
        .select(col("event_type"), c.as("c"), (c * c).as("c2"))
        .groupBy("event_type")
        .agg(count(lit(1L)).as("n"),
          sum(col("c").cast("decimal(38,0)")).as("s1"),
          sum(col("c2").cast("decimal(38,0)")).as("s2"),
          sum(col("c2").cast("decimal(38,0)") * col("c")).as("s3"),
          sum(col("c2").cast("decimal(38,0)") * col("c2")).as("s4"))
      g.select(col("event_type"), col("n"),
          (col("s1").cast("double") / col("n")).as("mu"),
          col("s2").cast("double").as("s2"),
          col("s3").cast("double").as("s3"),
          col("s4").cast("double").as("s4"))
        .withColumn("m2",
          col("s2") / col("n") - col("mu") * col("mu"))
        .withColumn("m3",
          col("s3") / col("n") - lit(3) * col("mu") * col("s2") / col("n")
            + lit(2) * col("mu") * col("mu") * col("mu"))
        .withColumn("m4",
          col("s4") / col("n") - lit(4) * col("mu") * col("s3") / col("n")
            + lit(6) * col("mu") * col("mu") * col("s2") / col("n")
            - lit(3) * col("mu") * col("mu") * col("mu") * col("mu"))
        // m2 = 0 (single-row/constant group): 0/0 — NULL, matching
        // DuckDB's quiet double-div-by-zero NULL
        .withColumn("g1", when(col("m2") =!= 0.0,
          col("m3") / pow(col("m2"), 1.5)))
        .withColumn("g2", when(col("m2") =!= 0.0,
          col("m4") / (col("m2") * col("m2")) - 3))
        .select(col("event_type"), col("n"),
          dround(col("g1"), 4).as("skewness"),
          dround(col("g2"), 4).as("excess_kurtosis"),
          dround(col("n") / lit(6.0)
            * (col("g1") * col("g1") + col("g2") * col("g2") / 4), 4)
            .as("jb_stat"))
        .withColumn("normal_rejected_95", col("jb_stat") > 5.99)
        .orderBy("event_type")
    },
    Some("""WITH ev AS (
              SELECT event_type,
                     CAST(round(value * 100) AS BIGINT) AS c
              FROM events),
            g AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                     sum(CAST(c AS HUGEINT)) AS s1,
                     sum(CAST(c * c AS HUGEINT)) AS s2,
                     sum(CAST(c * c AS HUGEINT) * c) AS s3,
                     sum(CAST(c * c AS HUGEINT) * (c * c)) AS s4
              FROM ev GROUP BY 1),
            m AS (
              SELECT event_type, n, CAST(s1 AS DOUBLE) / n AS mu,
                     CAST(s2 AS DOUBLE) AS s2, CAST(s3 AS DOUBLE) AS s3,
                     CAST(s4 AS DOUBLE) AS s4
              FROM g),
            cm AS (
              SELECT event_type, n, mu,
                     s2 / n - mu * mu AS m2,
                     s3 / n - 3 * mu * s2 / n + 2 * mu * mu * mu AS m3,
                     s4 / n - 4 * mu * s3 / n + 6 * mu * mu * s2 / n
                       - 3 * mu * mu * mu * mu AS m4
              FROM m),
            gg AS (
              SELECT event_type, n,
                     m3 / pow(m2, 1.5) AS g1,
                     m4 / (m2 * m2) - 3 AS g2
              FROM cm),
            r AS (
              SELECT event_type, n,
                     CAST(round(CAST(g1 AS DECIMAL(30,8)), 4) AS DOUBLE)
                       AS skewness,
                     CAST(round(CAST(g2 AS DECIMAL(30,8)), 4) AS DOUBLE)
                       AS excess_kurtosis,
                     CAST(round(CAST(n / 6.0 * (g1 * g1 + g2 * g2 / 4)
                       AS DECIMAL(30,8)), 4) AS DOUBLE) AS jb_stat
              FROM gg)
            SELECT event_type, n, skewness, excess_kurtosis, jb_stat,
                   jb_stat > 5.99 AS normal_rejected_95
            FROM r ORDER BY event_type"""))

  // ----------------------------------------------- Grubbs outlier test --

  /** Grubbs' extreme-studentized-deviate statistic per event type
    * (Grubbs 1950 — public): G = max|c − μ| / s with the (n−1) sample
    * std — the single-outlier screen that reads in σ units where
    * q_events_outliers' fence reads in quartile units. The extreme's
    * IDENTITY ships too (the cent value and its side), because an
    * outlier report without the offending value is unactionable.
    * Exactness: the argmax runs on |c·n − S₁| — an EXACT integer
    * (DECIMAL(38) cross-multiplied deviation; no fp ranking anywhere);
    * ties break by the larger cent value via a second bounded agg over
    * the value grid. Only the final G assembles in DOUBLE, dround'd.
    *
    * Scale: collapse to the (type, cent) value grid first (domain-
    * bounded), then two grid-sized aggs — the corpus is touched once.
    */
  private val qStatsGrubbs = GQuery(
    (s, d) => {
      val c = cents(col("value"))
      val grid = t(s, d, "events")
        .select(col("event_type"), c.as("c"))
        .groupBy("event_type", "c").agg(count(lit(1L)).as("cnt"))
        .localCheckpoint(true) // grid-sized; feeds totals + both argmax aggs
      val tot = grid.groupBy("event_type")
        .agg(sum("cnt").as("n"),
          sum(col("c").cast("decimal(38,0)") * col("cnt")).as("s1"),
          sum(col("c").cast("decimal(38,0)") * col("c") * col("cnt"))
            .as("s2"))
      val dev = grid.join(tot, "event_type")
        .withColumn("dabs",
          abs(col("c").cast("decimal(38,0)") * col("n") - col("s1")))
      val dm = dev.groupBy("event_type").agg(max("dabs").as("dmax"))
      val ext = dev.join(dm, "event_type")
        .filter(col("dabs") === col("dmax"))
        .groupBy("event_type").agg(max("c").as("extreme_cents"))
      tot.join(dm, "event_type").join(ext, "event_type")
        .withColumn("var_num", // (n−1)-denominator variance × n²(n−1);
          // n = 1 ⇒ NULL (matches DuckDB's quiet double-div-by-zero NULL)
          when(col("n") > 1, (col("s2") * col("n") - col("s1") * col("s1"))
            .cast("double") / (col("n") - 1)
            / col("n") / col("n")))
        .select(col("event_type"), col("n"),
          col("extreme_cents"),
          when(col("extreme_cents").cast("decimal(38,0)") * col("n")
            >= col("s1"), lit("high")).otherwise(lit("low")).as("side"),
          // constant group (var 0): G is 0/0 — NULL in both engines
          dround(when(col("var_num") > 0.0,
            col("dmax").cast("double") / col("n")
              / sqrt(col("var_num"))), 4).as("g_stat"))
        .orderBy("event_type")
    },
    Some("""WITH grid AS (
              SELECT event_type,
                     CAST(round(value * 100) AS BIGINT) AS c,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM events GROUP BY 1, 2),
            tot AS (
              SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n,
                     sum(CAST(c AS HUGEINT) * cnt) AS s1,
                     sum(CAST(c AS HUGEINT) * c * cnt) AS s2
              FROM grid GROUP BY 1),
            dev AS (
              SELECT g.event_type, g.c,
                     abs(CAST(g.c AS HUGEINT) * t.n - t.s1) AS dabs
              FROM grid g JOIN tot t USING (event_type)),
            dm AS (
              SELECT event_type, max(dabs) AS dmax
              FROM dev GROUP BY 1),
            ext AS (
              SELECT d.event_type, max(d.c) AS extreme_cents
              FROM dev d JOIN dm USING (event_type)
              WHERE d.dabs = dm.dmax GROUP BY 1)
            SELECT t.event_type, t.n, e.extreme_cents,
                   CASE WHEN CAST(e.extreme_cents AS HUGEINT) * t.n >= t.s1
                     THEN 'high' ELSE 'low' END AS side,
                   CAST(round(CAST(CAST(dm.dmax AS DOUBLE) / t.n
                     / sqrt(CAST(t.s2 * t.n - t.s1 * t.s1 AS DOUBLE)
                            / (t.n - 1) / t.n / t.n)
                     AS DECIMAL(30,8)), 4) AS DOUBLE) AS g_stat
            FROM tot t JOIN dm USING (event_type) JOIN ext e USING (event_type)
            ORDER BY event_type"""))

  // --------------------------------------------- odds ratio / 2×2 table --

  /** Odds ratio + relative risk of same-day purchasing given each
    * exposure event type (the epidemiology 2×2 readout — Cornfield 1951,
    * Wald CI via Woolf 1955, all public): units are (user, day) ACTIVE
    * pairs (at any realistic horizon every user touches every event type
    * eventually, so the lifetime 2×2 degenerates; the day grain is what a
    * propensity analyst actually uses), split per exposure type X ∈
    * {click, view, error, signup} into the a/b/c/d cells (X∧purchase,
    * X∧¬p, ¬X∧p, ¬X∧¬p — EXACT integers from one distinct-(user, day,
    * type) rollup), then OR = ad/bc, RR = [a/(a+b)] / [c/(c+d)], and the
    * Woolf 95% CI exp(ln OR ± 1.96·√(1/a+1/b+1/c+1/d)) — the association
    * DIRECTION and magnitude q_stats_chisq/q_stats_cramersv only test.
    *
    * Scale: one distinct rollup to the (user, day) activity grid, one
    * per-unit outcome flag agg, then a 4-cell agg per type; |types|
    * output rows, no joins beyond a broadcast of the 1-row totals.
    */
  private val qStatsOddsratio = GQuery(
    (s, d) => {
      val ut = t(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("event_type")).distinct()
      val up = ut.groupBy("user_id", "day")
        .agg(max(when(col("event_type") === "purchase", 1L)
          .otherwise(0L)).as("p"))
      val totals = up.agg(count(lit(1L)).as("nu"), sum("p").as("np"))
      val cells = ut.filter(col("event_type") =!= "purchase")
        .join(up, Seq("user_id", "day"))
        .groupBy(col("event_type").as("exposure"))
        .agg(count(lit(1L)).as("n_exp"), sum("p").as("a"))
        .crossJoin(broadcast(totals))
        .withColumn("b", col("n_exp") - col("a"))
        .withColumn("c", col("np") - col("a"))
        .withColumn("d", col("nu") - col("n_exp") - col("np") + col("a"))
      cells
        // zero cell ⇒ OR/RR undefined (Haldane territory): emit NULL
        // instead of Infinity (Spark) vs an ln(0) ERROR (DuckDB)
        .withColumn("ok", col("a") > 0 && col("b") > 0 &&
          col("c") > 0 && col("d") > 0)
        .withColumn("or_", when(col("ok"), col("a").cast("double") * col("d")
          / (col("b").cast("double") * col("c"))))
        .withColumn("se", when(col("ok"),
          sqrt(lit(1.0) / col("a") + lit(1.0) / col("b")
            + lit(1.0) / col("c") + lit(1.0) / col("d"))))
        .select(col("exposure"), col("a"), col("b"), col("c"), col("d"),
          dround(col("or_"), 4).as("odds_ratio"),
          dround(exp(log(col("or_")) - lit(1.96) * col("se")), 4)
            .as("or_ci_lo"),
          dround(exp(log(col("or_")) + lit(1.96) * col("se")), 4)
            .as("or_ci_hi"),
          dround(when(col("ok"), col("a").cast("double")
            / (col("a") + col("b"))
            / (col("c").cast("double") / (col("c") + col("d")))), 4)
            .as("relative_risk"))
        .orderBy("exposure")
    },
    Some("""WITH ut AS (
              SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
              FROM events),
            up AS (
              SELECT user_id, day,
                     CAST(max(CASE WHEN event_type = 'purchase'
                       THEN 1 ELSE 0 END) AS BIGINT) AS p
              FROM ut GROUP BY 1, 2),
            totals AS (
              SELECT CAST(count(*) AS BIGINT) AS nu,
                     CAST(sum(p) AS BIGINT) AS np
              FROM up),
            cells AS (
              SELECT ut.event_type AS exposure,
                     CAST(count(*) AS BIGINT) AS n_exp,
                     CAST(sum(up.p) AS BIGINT) AS a
              FROM ut JOIN up USING (user_id, day)
              WHERE ut.event_type <> 'purchase' GROUP BY 1),
            abcd AS (
              SELECT exposure, a, n_exp - a AS b, np - a AS c,
                     nu - n_exp - np + a AS d
              FROM cells, totals),
            r AS (
              SELECT exposure, a, b, c, d,
                     CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
                       THEN CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c)
                       END AS orr,
                     CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
                       THEN sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
                       END AS se,
                     CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0
                       THEN CAST(a AS DOUBLE) / (a + b)
                         / (CAST(c AS DOUBLE) / (c + d)) END AS rr
              FROM abcd)
            SELECT exposure, a, b, c, d,
                   CAST(round(CAST(orr AS DECIMAL(30,8)), 4) AS DOUBLE)
                     AS odds_ratio,
                   CAST(round(CAST(exp(ln(orr) - 1.96 * se)
                     AS DECIMAL(30,8)), 4) AS DOUBLE) AS or_ci_lo,
                   CAST(round(CAST(exp(ln(orr) + 1.96 * se)
                     AS DECIMAL(30,8)), 4) AS DOUBLE) AS or_ci_hi,
                   CAST(round(CAST(rr AS DECIMAL(30,8)), 4) AS DOUBLE)
                     AS relative_risk
            FROM r ORDER BY exposure"""))

  // ------------------------------------------------- jackknife SE --

  /** Delete-one-GROUP jackknife standard error of the mean value per
    * event type (Quenouille 1956 / Tukey 1958 — public), groups = days:
    * the resampling-free uncertainty estimate that respects within-day
    * correlation where the naive s/√n (emitted alongside) assumes iid —
    * the honest error bar for event streams whose days are internally
    * correlated. EXACT until the last step: each leave-one-day-out mean
    * is the integer micro-cents (S−sᵢ)·10⁶ div (n−nᵢ) (IntegralDivide ≡
    * DuckDB //), their mean is again an integer div, and Σ(devᵢ)²
    * accumulates in DECIMAL(38)/HUGEINT — no order-dependent fp sums;
    * one final sqrt exits to DOUBLE, dround'd.
    *
    * Scale: the corpus collapses to the (type, day) grid in one agg;
    * the jackknife is algebra over ≤ #days rows per type (never g
    * re-computations — the leave-one-out mean derives from totals).
    */
  private val qStatsJackknife = GQuery(
    (s, d) => {
      val c = cents(col("value"))
      val days = t(s, d, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"), c.as("c"))
        .groupBy("event_type", "day")
        .agg(count(lit(1L)).as("ni"),
          sum(col("c").cast("decimal(38,0)")).as("si"))
      val tot = days.groupBy("event_type")
        .agg(count(lit(1L)).as("g"), sum("ni").as("n"),
          sum("si").cast("decimal(38,0)").as("s"))
      val loo = days.join(tot, "event_type")
        // single-day group (g = 1 ⇒ n = ni): leave-one-out is empty, the
        // jackknife is undefined — NULL mi instead of an ANSI div-by-zero
        .withColumn("mi", when(col("n") =!= col("ni"), expr(
          "CAST((s - si) * 1000000 div (n - ni) AS DECIMAL(38,0))")))
      val bar = loo.groupBy("event_type")
        .agg(expr("CAST(sum(mi) div count(1) AS DECIMAL(38,0))").as("mbar"))
      val dsum = loo.join(bar, "event_type")
        .groupBy("event_type")
        .agg(max("g").as("g"), max("n").as("n"), max("s").as("s"),
          sum(expr("(mi - mbar) * (mi - mbar)")).as("sd2"))
      // naive iid SE needs S₂ — one more exact sum over the same corpus agg
      val s2 = t(s, d, "events")
        .select(col("event_type"), c.as("c"))
        .groupBy("event_type")
        .agg(sum(col("c").cast("decimal(38,0)") * col("c")).as("s2"))
      dsum.join(s2, "event_type")
        .select(col("event_type"), col("g"), col("n"),
          dround(col("s").cast("double") / col("n") / 100, 4)
            .as("mean_dollars"),
          dround(sqrt((col("g") - 1).cast("double") / col("g")
            * col("sd2").cast("double")) / 1e6 / 100, 4)
            .as("se_jack_dollars"),
          dround(when(col("n") > 1,
            sqrt((col("s2") * col("n") - col("s") * col("s"))
              .cast("double") / (col("n") - 1) / col("n") / col("n"))
              / sqrt(col("n").cast("double")) / 100), 4)
            .as("se_naive_dollars"))
        .orderBy("event_type")
    },
    Some("""WITH ev AS (
              SELECT event_type, CAST(ts AS DATE) AS day,
                     CAST(round(value * 100) AS BIGINT) AS c
              FROM events),
            days AS (
              SELECT event_type, day, CAST(count(*) AS BIGINT) AS ni,
                     sum(CAST(c AS HUGEINT)) AS si
              FROM ev GROUP BY 1, 2),
            tot AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS g,
                     CAST(sum(ni) AS BIGINT) AS n, sum(si) AS s
              FROM days GROUP BY 1),
            loo AS (
              SELECT d.event_type, t.g, t.n, t.s,
                     CASE WHEN t.n <> d.ni
                       THEN (t.s - d.si) * 1000000 // (t.n - d.ni) END AS mi
              FROM days d JOIN tot t USING (event_type)),
            bar AS (
              SELECT event_type, sum(mi) // count(*) AS mbar
              FROM loo GROUP BY 1),
            dsum AS (
              SELECT l.event_type, max(l.g) AS g, max(l.n) AS n,
                     max(l.s) AS s,
                     sum((l.mi - b.mbar) * (l.mi - b.mbar)) AS sd2
              FROM loo l JOIN bar b USING (event_type) GROUP BY 1),
            s2 AS (
              SELECT event_type, sum(CAST(c AS HUGEINT) * c) AS s2
              FROM ev GROUP BY 1)
            SELECT d.event_type, d.g, d.n,
                   CAST(round(CAST(CAST(d.s AS DOUBLE) / d.n / 100
                     AS DECIMAL(30,8)), 4) AS DOUBLE) AS mean_dollars,
                   CAST(round(CAST(sqrt(CAST(d.g - 1 AS DOUBLE) / d.g
                     * CAST(d.sd2 AS DOUBLE)) / 1e6 / 100
                     AS DECIMAL(30,8)), 4) AS DOUBLE) AS se_jack_dollars,
                   CASE WHEN d.n > 1 THEN
                     CAST(round(CAST(sqrt(CAST(s2.s2 * d.n - d.s * d.s
                         AS DOUBLE) / (d.n - 1) / d.n / d.n)
                       / sqrt(CAST(d.n AS DOUBLE)) / 100
                       AS DECIMAL(30,8)), 4) AS DOUBLE) END
                     AS se_naive_dollars
            FROM dsum d JOIN s2 USING (event_type)
            ORDER BY event_type"""))

  // -------------------------------------------- Bartlett variance test --

  /** Bartlett's test of equal variances across event types (Bartlett 1937
    * — public): the PARAMETRIC sibling of q_stats_levene (more powerful
    * under normality, famously brittle otherwise — run q_stats_jarque_bera
    * first; emitting both is the textbook workflow). χ² = [(N−k)·ln s_p²
    * − Σ(nᵢ−1)·ln sᵢ²] / C with C = 1 + (Σ1/(nᵢ−1) − 1/(N−k)) / (3(k−1)).
    * Cross-engine exactness: per-group pieces quantize ONCE to integers —
    * (nᵢ−1)sᵢ² = (S₂n − S₁²) div n (exact integer cents²), ln sᵢ² in
    * micro-nats, 1/(nᵢ−1) in pico-units — so every Σ is an EXACT integer
    * sum (no order-dependent fp accumulation); the final assembly is one
    * mirrored double chain, dround'd (the LM milli-nat discipline).
    *
    * Scale: one map-combinable 3-sum agg per group, then a k-row rollup.
    */
  private val qStatsBartlett = GQuery(
    (s, d) => {
      val c = cents(col("value"))
      val g = t(s, d, "events")
        .select(col("event_type"), c.as("c"))
        .groupBy("event_type")
        .agg(count(lit(1L)).as("n"),
          sum(col("c").cast("decimal(38,0)")).as("s1"),
          sum(col("c").cast("decimal(38,0)") * col("c")).as("s2"))
        .withColumn("num", expr("s2 * n - s1 * s1")) // n²(n−1)·sᵢ², exact
        // Bartlett is undefined for groups that carry no variance
        // information: n < 2 (1/(n−1) and ln sᵢ² are div-by-zero) or a
        // constant group (ln 0). EXCLUDE them — k counts tested groups
        // only; mirrored WHERE in the oracle.
        .filter(col("n") > 1 && col("num") > 0)
        .withColumn("q", expr("CAST(num div n AS DECIMAL(38,0))"))
        .withColumn("lnq", round(log(col("num").cast("double")
          / col("n") / col("n") / (col("n") - 1)) * 1e6).cast("long"))
        .withColumn("invq", expr("1000000000000 div (n - 1)"))
      g.agg(count(lit(1L)).as("kk"), sum("n").as("nn"),
          sum("q").as("sq"), sum(expr("(n - 1) * lnq")).as("sl"),
          sum("invq").as("si"))
        .select(col("kk").cast("int").as("k"), col("nn").as("n"),
          (col("nn") - col("kk")).cast("long").as("df_within"),
          dround(log(col("sq").cast("double")
            / (col("nn") - col("kk")).cast("double")), 6)
            .as("ln_pooled_var"),
          col("sl"), col("si"), col("kk"))
        .withColumn("cc", when(col("kk") > 1, lit(1.0)
          + (col("si").cast("double") / 1e12
             - lit(1.0) / col("df_within").cast("double"))
            / (lit(3.0) * (col("kk") - 1).cast("double"))))
        .select(col("k"), col("n"), col("df_within"), col("ln_pooled_var"),
          dround((col("df_within").cast("double") * col("ln_pooled_var")
            - col("sl").cast("double") / 1e6) / col("cc"), 4)
            .as("bartlett_chi2"),
          (col("kk") - 1).cast("int").as("df"))
        .withColumn("equal_var_rejected_95", col("bartlett_chi2") > 9.488)
    },
    Some("""WITH ev AS (
              SELECT event_type,
                     CAST(round(value * 100) AS BIGINT) AS c
              FROM events),
            g AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                     sum(CAST(c AS HUGEINT)) AS s1,
                     sum(CAST(c AS HUGEINT) * c) AS s2
              FROM ev GROUP BY 1),
            p AS (
              SELECT n, s2 * n - s1 * s1 AS num,
                     (s2 * n - s1 * s1) // n AS q,
                     CAST(round(ln(CAST(s2 * n - s1 * s1 AS DOUBLE)
                       / n / n / (n - 1)) * 1e6) AS BIGINT) AS lnq,
                     1000000000000 // (n - 1) AS invq
              FROM g
              WHERE n > 1 AND s2 * n - s1 * s1 > 0),
            a AS (
              SELECT CAST(count(*) AS INT) AS k, CAST(sum(n) AS BIGINT) AS n,
                     sum(q) AS sq,
                     CAST(sum((n - 1) * lnq) AS BIGINT) AS sl,
                     CAST(sum(invq) AS BIGINT) AS si
              FROM p),
            b AS (
              SELECT k, n, CAST(n - k AS BIGINT) AS df_within,
                     CAST(round(CAST(ln(CAST(sq AS DOUBLE)
                       / CAST(n - k AS DOUBLE)) AS DECIMAL(30,8)), 6)
                       AS DOUBLE) AS ln_pooled_var,
                     sl, si
              FROM a),
            r AS (
              SELECT k, n, df_within, ln_pooled_var,
                     1.0 + (CAST(si AS DOUBLE) / 1e12
                            - 1.0 / CAST(df_within AS DOUBLE))
                       / (3.0 * CAST(k - 1 AS DOUBLE)) AS cc,
                     sl
              FROM b)
            SELECT k, n, df_within, ln_pooled_var,
                   CAST(round(CAST((CAST(df_within AS DOUBLE) * ln_pooled_var
                     - CAST(sl AS DOUBLE) / 1e6) / cc
                     AS DECIMAL(30,8)), 4) AS DOUBLE) AS bartlett_chi2,
                   CAST(k - 1 AS INT) AS df,
                   CAST(round(CAST((CAST(df_within AS DOUBLE) * ln_pooled_var
                     - CAST(sl AS DOUBLE) / 1e6) / cc
                     AS DECIMAL(30,8)), 4) AS DOUBLE) > 9.488
                     AS equal_var_rejected_95
            FROM r"""))

  val queries: Map[String, GQuery] = Map(
    "q_stats_bartlett" -> qStatsBartlett,
    "q_stats_jarque_bera" -> qStatsJarqueBera,
    "q_stats_grubbs" -> qStatsGrubbs,
    "q_stats_oddsratio" -> qStatsOddsratio,
    "q_stats_jackknife" -> qStatsJackknife,
    "q_stats_meta_analysis" -> qStatsMetaAnalysis,
    "q_events_shapley" -> qEventsShapley,
    "q_ts_hysteresis" -> qTsHysteresis,
    "q_pack_padding" -> qPackPadding,
    "q_events_lateness" -> qEventsLateness,
    "q_events_streaks" -> qEventsStreaks,
    "q_stats_capture_recapture" -> qStatsCaptureRecapture,
    "q_agg_quantile_cont" -> qAggQuantileCont,
    "q_ts_ar2" -> qTsAr2,
    "q_corpus_epochs" -> qCorpusEpochs,
    "q_feature_impute" -> qFeatureImpute,
    "q_feature_hashed_cross" -> qFeatureHashedCross,
    "q_events_overlap_approx" -> qEventsOverlapApprox,
    "q_events_absorption" -> qEventsAbsorption,
    "q_stats_mediation" -> qStatsMediation,
    "q_sample_systematic" -> qSampleSystematic,
    "q_ts_cointegration" -> qTsCointegration,
    "q_stats_circular" -> qStatsCircular,
    "q_stats_hotelling" -> qStatsHotelling,
    "q_sample_consistent" -> qSampleConsistent,
    "q_stats_extreme" -> qStatsExtreme,
    "q_survival_weibull" -> qSurvivalWeibull,
    "q_stats_mmd" -> qStatsMmd,
    "q_ts_kalman" -> qTsKalman,
    "q_profile_inclusion" -> qProfileInclusion,
    "q_ts_reconcile" -> qTsReconcile,
    "q_stats_mannkendall" -> qStatsMannkendall,
    "q_stats_cvm" -> qStatsCvm,
    "q_ts_ensemble" -> qTsEnsemble,
    "q_stats_icc" -> qStatsIcc,
    "q_stats_vif" -> qStatsVif,
    "q_stats_cooks" -> qStatsCooks,
    "q_ts_sax" -> qTsSax,
    "q_events_periodicity" -> qEventsPeriodicity,
    "q_survival_nelson_aalen" -> qSurvivalNelsonAalen,
    "q_survival_cindex" -> qSurvivalCindex,
    "q_stats_wasserstein" -> qStatsWasserstein,
    "q_stats_cochranq" -> qStatsCochranq,
    "q_stats_friedman" -> qStatsFriedman,
    "q_stats_kendall" -> qStatsKendall,
    "q_stats_moments" -> qStatsMoments,
    "q_stats_levene" -> qStatsLevene,
    "q_stats_ljungbox" -> qStatsLjungbox,
    "q_stats_pareto_tail" -> qStatsParetoTail,
    "q_events_entropy_rate" -> qEventsEntropyRate,
    "q_ts_spectral_entropy" -> qTsSpectralEntropy,
    "q_profile_funcdep" -> qProfileFuncdep,
    "q_stats_hurst" -> qStatsHurst,
    "q_events_concurrency" -> qEventsConcurrency,
    "q_stats_power" -> qStatsPower,
    "q_stats_srm" -> qStatsSrm,
    "q_ts_conformal" -> qTsConformal,
    "q_join_temporal" -> qJoinTemporal,
    "q_feature_rolling" -> qFeatureRolling,
    "q_events_ltv" -> qEventsLtv,
    "q_stats_mcnemar" -> qStatsMcnemar,
    "q_events_audience" -> qEventsAudience,
    "q_stats_isotonic" -> qStatsIsotonic,
    "q_agg_decay" -> qAggDecay,
    "q_stats_partialcorr" -> qStatsPartialcorr,
    "q_stats_winsorize" -> qStatsWinsorize,
    "q_events_burnrate" -> qEventsBurnrate,
    "q_stats_tost" -> qStatsTost,
    "q_stats_anova" -> qStatsAnova,
    "q_events_timezone" -> qEventsTimezone,
    "q_agg_bitmap" -> qAggBitmap,
    "q_scd2_apply" -> qScd2Apply,
    "q_stats_qq" -> qStatsQq,
    "q_ts_stl" -> qTsStl,
    "q_ts_dtw" -> qTsDtw,
    "q_ts_anomaly" -> qTsAnomaly,
    "q_ts_granger" -> qTsGranger,
    "q_stats_dispersion" -> qStatsDispersion,
    "q_events_growth_accounting" -> qEventsGrowthAccounting,
    "q_ts_permentropy" -> qTsPermentropy,
    "q_events_overlap_matrix" -> qEventsOverlapMatrix,
    "q_events_sliding_distinct" -> qEventsSlidingDistinct,
    "q_events_sliding_distinct_approx" -> qEventsSlidingDistinctApprox,
    "q_stats_standardize" -> qStatsStandardize,
    "q_feature_split" -> qFeatureSplit,
    "q_corpus_temperature" -> qCorpusTemperature,
    "q_ts_mad" -> qTsMad,
    "q_feature_woe" -> qFeatureWoe,
    "q_stats_cuped" -> qStatsCuped,
    "q_stats_propensity" -> qStatsPropensity,
    "q_survival_km" -> qSurvivalKm,
    "q_survival_logrank" -> qSurvivalLogrank,
    "q_ts_holt" -> qTsHolt,
    "q_ts_holtwinters" -> qTsHoltwinters,
    "q_ts_croston" -> qTsCroston,
    "q_sample_neyman" -> qSampleNeyman,
    "q_ts_cusum" -> qTsCusum,
    "q_ts_backtest" -> qTsBacktest,
    "q_ts_periodogram" -> qTsPeriodogram,
    "q_stats_kruskal" -> qStatsKruskal,
    "q_ts_theilsen" -> qTsTheilsen,
    "q_feature_pit" -> qFeaturePit,
    "q_agg_mode" -> qAggMode,
    "q_stats_cohend" -> qStatsCohend,
    "q_events_window_funnel" -> qEventsWindowFunnel,
    "q_feature_scale" -> qFeatureScale,
    "q_stats_mannwhitney" -> qStatsMannwhitney,
    "q_stats_wilcoxon" -> qStatsWilcoxon,
    "q_stats_permutation" -> qStatsPermutation,
    "q_stats_tukey" -> qStatsTukey,
    "q_stats_medianci" -> qStatsMedianci,
    "q_stats_did" -> qStatsDid,
    "q_stats_rdd" -> qStatsRdd,
    "q_stats_bayes_ab" -> qStatsBayesAb,
    "q_stats_mahalanobis" -> qStatsMahalanobis,
    "q_stats_elasticity" -> qStatsElasticity,
    "q_stats_iv" -> qStatsIv,
    "q_stats_runs" -> qStatsRuns,
    "q_funnel_latency" -> qFunnelLatency,
    "q_stats_cramersv" -> qStatsCramersV,
    "q_events_burst" -> qEventsBurst,
    "q_split_group" -> qSplitGroup,
    "q_join_spatial" -> qJoinSpatial,
    "q_interval_coverage" -> qIntervalCoverage,
    "q_ts_ewma" -> qTsEwma,
    "q_events_paths" -> qEventsPaths,
    "q_skyline_pareto" -> qSkylinePareto,
    "q_feature_target_encode" -> qFeatureTargetEncode,
    "q_corpus_shuffle" -> qCorpusShuffle,
    "q_ts_snaive" -> qTsSnaive,
    "q_stats_spearman" -> qStatsSpearman,
    "q_events_rfm" -> qEventsRfm,
    "q_events_rfm_boundaries" -> qEventsRfmBoundaries,
    "q_ts_changepoint" -> qTsChangepoint,
    "q_ts_autocorr" -> qTsAutocorr,
    "q_sample_negatives" -> qSampleNegatives,
    "q_stats_corrmatrix" -> qStatsCorrmatrix,
    "q_stats_linreg" -> qStatsLinreg,
    "q_events_pattern" -> qEventsPattern,
    "q_events_markov" -> qEventsMarkov,
    "q_stats_chisq" -> qStatsChisq,
    "q_sample_balanced" -> qSampleBalanced,
    "q_stats_ks" -> qStatsKs,
    "q_basket_rules" -> qBasketRules,
    "q_stats_abtest" -> qStatsAbtest,
    "q_stats_deltamethod" -> qStatsDeltamethod,
    "q_stats_proportion_ci" -> qStatsProportionCi,
    "q_stats_fdr_bh" -> qStatsFdrBh,
    "q_stats_sequential" -> qStatsSequential,
    "q_events_bot_detection" -> qEventsBotDetection,
    "q_profile_entropy" -> qProfileEntropy,
    "q_curriculum" -> qCurriculum,
    "q_events_cdc" -> qEventsCdc,
    "q_join_interval" -> qJoinInterval,
    "q_events_seasonal" -> qEventsSeasonal,
    "q_corpus_mix" -> qCorpusMix,
    "q_profile_skew" -> qProfileSkew,
    "q_sample_reservoir" -> qSampleReservoir,
    "q_corpus_budget" -> qCorpusBudget,
    "q_sample_weighted" -> qSampleWeighted,
    "q_sample_ppswor" -> qSamplePpswor,
    "q_events_resample" -> qEventsResample,
    "q_events_outliers" -> qEventsOutliers,
    "q_series_similarity" -> qSeriesSimilarity,
    "q_split_train" -> qSplitTrain,
    "q_text_chunk" -> qTextChunk,
    "q_profile_columns" -> qProfileColumns,
    "q_profile_approx" -> qProfileApprox,
    "q_scd2_intervals" -> qScd2Intervals,
    "q_sample_stratified" -> qSampleStratified,
    "q_merge_upsert" -> qMergeUpsert,
    "q_feature_bucketize" -> qFeatureBucketize,
    "q_pack_sequences" -> qPackSequences,
    "q_corpus_pipeline" -> qCorpusPipeline,
    "q_subquery_existsin" -> qSubqueryExistsIn,
    "q_join_lateral" -> qJoinLateral,
    "q_join_theta_band" -> qJoinThetaBand,
    "q_text_normalize" -> qTextNormalize,
    "q_funnel_events" -> qFunnelEvents,
    "q_retention_cohort" -> qRetentionCohort)
}
