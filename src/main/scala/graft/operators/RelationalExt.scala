package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{GQuery, Prefix, QueryModule, Tables}
import graft.Exact.{cents, dround}

/** Second relational block: the operator categories beyond Relational.scala's
  * round-1 inventory — explicit GROUPING SETS, distribution window functions,
  * string/boolean/bitwise aggregates, UNPIVOT, cross join, struct grouping,
  * row-level bitwise scalars, and hopping (sliding) time windows.
  *
  * Same ground rules as Relational.scala: Catalyst-optimizable built-ins only,
  * every query ends in a total-order ORDER BY, aggregated doubles go through
  * `Exact.dround`, and NULLS FIRST is pinned wherever grouping-set nulls can
  * reach an ORDER BY (Spark and DuckDB default differently).
  */
object RelationalExt extends QueryModule {

  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  // -------------------------------------------------- grouping sets --

  /** Explicit GROUPING SETS — including a set (l_linestatus) that neither
    * ROLLUP nor CUBE of (rf, ls) produces, so this genuinely exercises the
    * free-form operator. Map-side partial aggregation applies per set; the
    * expand is linear in #sets.
    */
  private val qGroupingSets = GQuery(
    (s, d) => t(s, d, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping(col("l_returnflag")).cast("int").as("g_rf"),
        grouping(col("l_linestatus")).cast("int").as("g_ls"),
        count(lit(1)).as("n"),
        dround(sum(cents(col("l_quantity"))).cast("double") / 100).as("sum_qty"))
      .orderBy(col("g_rf"), col("g_ls"),
        col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
    Some("""SELECT l_returnflag, l_linestatus,
                   CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
                   CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(round(CAST(CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100 AS DECIMAL(30,8)), 2) AS DOUBLE) AS sum_qty
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
            ORDER BY g_rf, g_ls, l_returnflag ASC NULLS FIRST,
                     l_linestatus ASC NULLS FIRST"""))

  // ------------------------------------- distribution window functions --

  /** cume_dist / percent_rank / nth_value per priority. The window ordering
    * includes o_orderkey so frames are tie-free — nth_value over a tied
    * ordering is engine-dependent (SURVEY.md §7 determinism risk).
    */
  private val qWindowDistribution = GQuery(
    (s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          dround(cume_dist().over(w), 6).as("cd"),
          dround(percent_rank().over(w), 6).as("pr"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_orderpriority,
                   CAST(round(CAST(cume_dist() OVER w AS DECIMAL(30,8)), 6) AS DOUBLE) AS cd,
                   CAST(round(CAST(percent_rank() OVER w AS DECIMAL(30,8)), 6) AS DOUBLE) AS pr,
                   nth_value(o_orderkey, 2) OVER w AS second_key
            FROM orders
            WINDOW w AS (PARTITION BY o_orderpriority
                         ORDER BY o_totalprice, o_orderkey)
            ORDER BY o_orderkey"""))

  /** Scale-safe twin of q_window_distribution: exact cume_dist via the
    * `graft.Prefix` two-level prefix sum, never a window sort over ~N/5 rows
    * in one task (q_window_distribution partitions the row-level window on
    * a 5-value key — the textbook low-cardinality window skew; a plain
    * per-value histogram doesn't fix it when the value is near-unique, as
    * o_totalprice is). Levels:
    *   1. histogram (priority, price) → cnt — map-side combinable;
    *   2. bin totals (priority, bin) with bin = floor(price/10k): the
    *      per-priority ordered-bin window runs over #bins rows (tiny), and
    *      yields each bin's exclusive prefix offset + the priority total;
    *   3. the heavy running sum partitions on (priority, bin) — high
    *      cardinality, bounded rows per task — and adds the bin offset.
    * cd = (bin_offset + running_within_bin) / total: identical to
    * cume_dist, oracled against the SAME cume_dist SQL collapsed per value.
    * The fixed 10k bin width is the test-SF constant; rows-per-bin is the
    * knob, and a production run derives the boundaries from
    * approx_percentile instead (equi-depth bins ⇒ bounded rows per task at
    * any skew) — the plan shape is unchanged.
    */
  private val qDistHistogram = GQuery(
    (s, d) => {
      val hist = t(s, d, "orders")
        .groupBy("o_orderpriority", "o_totalprice")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("bin", floor(col("o_totalprice") / 10000.0))
        // two consumers (bin totals + the cume-dist join) — materialize the
        // (prio, price)-grid once instead of re-running the orders agg
        .localCheckpoint(true)
      val wInBin = Window.partitionBy("o_orderpriority", "bin")
        .orderBy("o_totalprice")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Prefix.withBucketOffsets(hist, Seq("o_orderpriority"), "bin",
          sum("cnt"), "bin_off", total = Some("total"))
        .select(col("o_orderpriority"), col("o_totalprice"), col("cnt"),
          dround((col("bin_off") + sum("cnt").over(wInBin)) / col("total"), 6)
            .as("cd"))
        .orderBy("o_orderpriority", "o_totalprice")
    },
    Some("""SELECT o_orderpriority, o_totalprice,
                   CAST(count(*) AS BIGINT) AS cnt,
                   CAST(round(CAST(max(cd) AS DECIMAL(30,8)), 6) AS DOUBLE) AS cd
            FROM (SELECT o_orderpriority, o_totalprice,
                         cume_dist() OVER (PARTITION BY o_orderpriority
                                           ORDER BY o_totalprice) AS cd
                  FROM orders) t
            GROUP BY 1, 2 ORDER BY o_orderpriority, o_totalprice"""))

  // --------------------------------------------------- string aggregate --

  /** Deterministic list aggregation: the sorted-distinct form
    * (collect_set → array_sort → array_join) — a raw collect_list/string_agg
    * would hash-differ on partition arrival order.
    */
  private val qAggListagg = GQuery(
    (s, d) => t(s, d, "orders")
      .groupBy("o_custkey")
      .agg(array_join(array_sort(collect_set(col("o_orderstatus"))), ",")
          .as("statuses"),
        countDistinct(col("o_orderpriority")).as("n_prio"),
        count(lit(1)).as("n_orders"))
      .orderBy("o_custkey"),
    Some("""SELECT o_custkey,
                   array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',')
                     AS statuses,
                   CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prio,
                   CAST(count(*) AS BIGINT) AS n_orders
            FROM orders GROUP BY o_custkey
            ORDER BY o_custkey NULLS FIRST"""))

  // ---------------------------------------- boolean / bitwise aggregates --

  /** bool_and/bool_or + bit_and/bit_or/bit_xor — order-insensitive
    * aggregates, safe for cross-engine hashing with no rounding needed.
    */
  private val qAggBool = GQuery(
    (s, d) => t(s, d, "customer")
      .groupBy("c_mktsegment")
      .agg(bool_and(col("c_acctbal") > 0).as("all_pos"),
        bool_or(col("c_acctbal") > 9000).as("any_rich"),
        bit_and(col("c_nationkey").cast("long")).as("nk_and"),
        bit_or(col("c_nationkey").cast("long")).as("nk_or"),
        bit_xor(col("c_custkey")).as("ck_xor"),
        count(lit(1)).as("n"))
      .orderBy("c_mktsegment"),
    Some("""SELECT c_mktsegment,
                   bool_and(c_acctbal > 0) AS all_pos,
                   bool_or(c_acctbal > 9000) AS any_rich,
                   CAST(bit_and(c_nationkey) AS BIGINT) AS nk_and,
                   CAST(bit_or(c_nationkey) AS BIGINT) AS nk_or,
                   CAST(bit_xor(c_custkey) AS BIGINT) AS ck_xor,
                   CAST(count(*) AS BIGINT) AS n
            FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  // ---------------------------------------------------------- unpivot --

  /** UNPIVOT (melt): wide per-flag aggregates to (flag, metric, val) rows.
    * All value columns are pre-rounded doubles so the melted column is
    * type-stable and hash-deterministic.
    */
  private val qUnpivot = GQuery(
    (s, d) => t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(dround(sum(cents(col("l_quantity"))).cast("double") / 100).as("sum_qty"),
        dround(sum(cents(col("l_extendedprice"))).cast("double") / 100).as("sum_price"),
        dround(sum(cents(col("l_discount"))).cast("double")
          / count(col("l_discount")) / 100, 4).as("avg_disc"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("avg_disc")),
        "metric", "val")
      .orderBy("l_returnflag", "metric"),
    Some("""WITH base AS (
              SELECT l_returnflag,
                     CAST(round(CAST(CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100 AS DECIMAL(30,8)), 2) AS DOUBLE) AS sum_qty,
                     CAST(round(CAST(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS DECIMAL(30,8)), 2) AS DOUBLE) AS sum_price,
                     CAST(round(CAST(CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) / count(l_discount) / 100 AS DECIMAL(30,8)), 4) AS DOUBLE) AS avg_disc
              FROM lineitem GROUP BY l_returnflag)
            SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS val FROM base
            UNION ALL
            SELECT l_returnflag, 'sum_price', sum_price FROM base
            UNION ALL
            SELECT l_returnflag, 'avg_disc', avg_disc FROM base
            ORDER BY l_returnflag, metric"""))

  // --------------------------------------------------------- cross join --

  /** Explicit cartesian product (tiny × tiny — the only safe shape; Spark
    * plans BroadcastNestedLoopJoin, no shuffle).
    */
  private val qJoinCross = GQuery(
    (s, d) => {
      val a = t(s, d, "region").select(col("r_name").as("r1"))
      val b = t(s, d, "region").select(col("r_name").as("r2"))
      a.crossJoin(b)
        .select(col("r1"), col("r2"),
          (length(col("r1")) + length(col("r2"))).cast("int").as("name_len"))
        .orderBy("r1", "r2")
    },
    Some("""SELECT a.r_name AS r1, b.r_name AS r2,
                   CAST(len(a.r_name) + len(b.r_name) AS INT) AS name_len
            FROM region a CROSS JOIN region b ORDER BY r1, r2"""))

  // ---------------------------------------------------- struct grouping --

  /** Group by a STRUCT column, then extract its fields — nested-type
    * grouping semantics (struct equality = fieldwise). Oracle groups by the
    * equivalent flat fields; results are identical by construction.
    */
  private val qScalarStruct = GQuery(
    (s, d) => t(s, d, "orders")
      .select(struct(year(col("o_orderdate")).cast("int").as("y"),
        col("o_orderpriority").as("p")).as("s"), col("o_totalprice"))
      .groupBy("s")
      .agg(count(lit(1)).as("n"), dround(max("o_totalprice")).as("max_price"))
      .select(col("s.y").as("y"), col("s.p").as("p"), col("n"), col("max_price"))
      .orderBy("y", "p"),
    Some("""SELECT CAST(year(o_orderdate) AS INT) AS y, o_orderpriority AS p,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(round(CAST(max(o_totalprice) AS DECIMAL(30,8)), 2) AS DOUBLE) AS max_price
            FROM orders GROUP BY 1, 2 ORDER BY y, p"""))

  // ------------------------------------------------- bitwise scalars --

  /** Row-level bitwise battery: AND/OR/XOR, shifts. Inputs masked so shifts
    * cannot overflow under ANSI mode.
    */
  private val qScalarBits = GQuery(
    (s, d) => t(s, d, "orders")
      .select(col("o_orderkey"),
        col("o_orderkey").bitwiseAND(lit(255L)).as("band"),
        col("o_orderkey").bitwiseOR(lit(4096L)).as("bor"),
        col("o_orderkey").bitwiseXOR(col("o_custkey")).as("bxor"),
        shiftright(col("o_orderkey"), 4).as("shr"),
        shiftleft(col("o_orderkey").bitwiseAND(lit(1023L)), 2).as("shl"))
      .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey,
                   o_orderkey & 255 AS band,
                   o_orderkey | 4096 AS bor,
                   xor(o_orderkey, o_custkey) AS bxor,
                   o_orderkey >> 4 AS shr,
                   (o_orderkey & 1023) << 2 AS shl
            FROM orders ORDER BY o_orderkey"""))

  // ----------------------------------------------- hopping time windows --

  /** Hopping (sliding) windows: 1-hour windows every 30 minutes — each event
    * lands in exactly size/slide = 2 windows. Spark's `window()` generator
    * is the streaming-native operator; the oracle replays the expansion with
    * an explicit 2-hop unnest on the epoch-µs grid.
    */
  private val qEventsHopping = GQuery(
    (s, d) => t(s, d, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), dround(sum(cents(col("value"))).cast("double") / 100).as("sum_value"))
      .select(col("w.start").cast("timestamp_ntz").as("window_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("window_start", "event_type"),
    Some("""WITH h AS (
              SELECT make_timestamp(((epoch_us(ts) // 1800000000) - k) * 1800000000)
                       AS window_start,
                     event_type, value
              FROM events, (SELECT unnest([0, 1]) AS k) hops)
            SELECT window_start, event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(round(CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS DECIMAL(30,8)), 2) AS DOUBLE) AS sum_value
            FROM h GROUP BY 1, 2 ORDER BY window_start, event_type"""))

  // ------------------------------------------- approximate aggregates --

  /** Sketch aggregates validated in-engine: HLL distinct (rsd 1%) and
    * approx median, each checked against its exact twin and emitted as a
    * pass flag plus the exact value. Sketch internals differ per engine, so
    * the raw estimate can never hash-match an oracle — the *bounds check*
    * can, and it is the property a user of approx aggregates actually needs.
    * Margins are 5σ-wide: deterministic at any SF.
    *
    * The exact-distinct runs as its OWN aggregation, joined back on the
    * 5-row group key: countDistinct mixed into the same agg as the sketch
    * buffers triggers Catalyst's multi-distinct Expand rewrite, which keys
    * the partial HLL/percentile buffers by (group, custkey) — 15k sketch
    * buffers instead of 5 (measured 10.7 s vs 1 s at sf0.1).
    */
  private val qAggApprox = GQuery(
    (s, d) => {
      val sketches = t(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(approx_count_distinct(col("o_custkey"), 0.01).as("n_approx"),
          expr("percentile(o_totalprice, 0.5)").as("med_exact"),
          expr("approx_percentile(o_totalprice, 0.5, 10000)").as("med_approx"))
      val exact = t(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      sketches.join(broadcast(exact), "o_orderpriority")
      .select(col("o_orderpriority"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact"))
          <= col("n_exact") * 0.05).as("cd_ok"),
        dround(col("med_exact")).as("med_exact"),
        (abs(col("med_approx") - col("med_exact"))
          <= col("med_exact") * 0.1).as("med_ok"))
      .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority,
                   CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact,
                   true AS cd_ok,
                   CAST(round(CAST(quantile_cont(o_totalprice, 0.5)
                     AS DECIMAL(30,8)), 2) AS DOUBLE) AS med_exact,
                   true AS med_ok
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Diagnosability twin of q_agg_approx (ADVICE r2): emits the actual
    * sketch deltas as rounded relative errors, deliberately WITHOUT an
    * oracle (rows-only check) — if a margin in q_agg_approx ever breaks
    * (larger SF, Spark upgrade shifting sketch internals), this query shows
    * by how much instead of an opaque t2 hash mismatch.
    */
  private val qAggApproxDebug = GQuery(
    (s, d) => {
      val sketches = t(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(approx_count_distinct(col("o_custkey"), 0.01).as("n_approx"),
          expr("percentile(o_totalprice, 0.5)").as("med_exact_raw"),
          expr("approx_percentile(o_totalprice, 0.5, 10000)").as("med_approx_raw"))
      val exact = t(s, d, "orders")
        .groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      sketches.join(broadcast(exact), "o_orderpriority")
        .select(col("o_orderpriority"), col("n_exact"), col("n_approx"),
          dround(abs(col("n_approx") - col("n_exact")) / col("n_exact"), 4)
            .as("cd_rel_err"),
          dround(col("med_exact_raw")).as("med_exact"),
          dround(col("med_approx_raw")).as("med_approx"),
          dround(abs(col("med_approx_raw") - col("med_exact_raw"))
            / col("med_exact_raw"), 4).as("med_rel_err"))
        .orderBy("o_orderpriority")
    },
    None)

  // ------------------------------------------------------ map functions --

  /** MAP type surface: build from arrays, key lookup, keys/cardinality.
    * DuckDB's map extract returns a single-element LIST — the oracle indexes
    * `[1]` to align scalars.
    */
  private val qScalarMap = GQuery(
    (s, d) => t(s, d, "orders")
      .select(col("o_orderkey"),
        map_from_arrays(array(lit("status"), lit("prio")),
          array(col("o_orderstatus"), col("o_orderpriority"))).as("m"))
      .select(col("o_orderkey"),
        element_at(col("m"), "status").as("status"),
        element_at(col("m"), "prio").as("prio"),
        size(map_keys(col("m"))).as("n_keys"),
        array_join(map_keys(col("m")), ",").as("keys"))
      .orderBy("o_orderkey"),
    Some("""WITH t AS (
              SELECT o_orderkey,
                     map(['status', 'prio'],
                         [o_orderstatus, o_orderpriority]) AS m
              FROM orders)
            SELECT o_orderkey,
                   m['status'][1] AS status,
                   m['prio'][1] AS prio,
                   CAST(cardinality(m) AS INT) AS n_keys,
                   array_to_string(map_keys(m), ',') AS keys
            FROM t ORDER BY o_orderkey"""))

  // ------------------------------------- mergeable-sketch re-aggregation --

  /** Mergeable HLL sketch rollup — the re-aggregatable-cube scale shape.
    * Stage 1 builds per-(day, type) DataSketches HLL binaries
    * (`hll_sketch_agg`, lgK=12 — fixed-size, map-side combinable); in a
    * production pipeline those partials PERSIST alongside the daily
    * aggregates. Stage 2 answers the cross-day rollup from the sketches
    * alone (`hll_union_agg` → estimate): distinct-users-per-type over the
    * union of 30 days without rescanning a single raw event — at 100 TB the
    * raw scan is the whole cost, and this is the operator that removes it
    * (same theme as q_dedup_incremental's persisted band index).
    *
    * Oracle per the q_agg_approx convention: outputs carry exact values +
    * deterministic bounds flags, never engine-specific estimates. The exact
    * twin runs as its OWN aggregation joined back on the 5-row key (the
    * multi-distinct Expand trap — see q_agg_approx's scaladoc); n_days
    * additionally pins that stage 2 really consumed one partial per
    * (day, type) group.
    */
  private val qAggSketchMerge = GQuery(
    (s, d) => {
      val e = t(s, d, "events").withColumn("dt", to_date(col("ts")))
      val daily = e.groupBy("dt", "event_type")
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
      val merged = daily.groupBy("event_type")
        .agg(count(lit(1)).as("n_days"),
          expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est"))
      val exact = e.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_exact"))
      merged.join(broadcast(exact), "event_type")
        .select(col("event_type"), col("n_days"), col("n_exact"),
          (abs(col("est") - col("n_exact"))
            <= greatest(col("n_exact") * 0.05, lit(3.0))).as("merge_ok"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
                   CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
                   true AS merge_ok
            FROM events GROUP BY event_type ORDER BY event_type"""))

  // ------------------------------------------- bloom-pruned fact join --

  /** Bloom-pre-filtered fact⋈dim join — Spark's runtime-filter pattern made
    * explicit and deterministic. A `BloomFilterAggregate` over the FILTERED
    * dimension's hashed keys (partial-merge agg; the sketch buffer is
    * fixed-size) is collected once — one row of ~KB driver-side metadata,
    * the strata-list precedent — and re-embedded as a literal, so the
    * codegen'd `might_contain` prunes the fact side BELOW its join exchange
    * (plan-pinned). The 100-TB shape this exists for: a selective dimension
    * too large to broadcast-HASH-join still has a bloom that broadcasts —
    * only might-contain survivors shuffle into the SMJ (hinted MERGE here
    * for that reason; at toy SF Spark would rightly broadcast the dim).
    * Blooms admit no false negatives and the exact join removes the false
    * positives, so the result is hash-identical to the plain join — which
    * is exactly the oracle. xxhash64 stays internal (CLAUDE.md: Spark-only
    * hashes must not reach t2 output).
    */
  private val qJoinBloom = GQuery(
    (s, d) => {
      import org.apache.spark.sql.GraftColumnShim.{column => gcol, expression => gexpr}
      import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
      import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
      import org.apache.spark.sql.types.BinaryType
      val dim = t(s, d, "supplier")
        .filter(col("s_acctbal") > 5000 && col("s_nationkey") < 10)
      // size the sketch to the build side (floor 1024): an over-estimated
      // bloom is pure waste shipped inside every task's plan literal
      val nItems = math.max(dim.count(), 1024L)
      val bloomBytes = dim
        .agg(gcol(new BloomFilterAggregate(gexpr(xxhash64(col("s_suppkey"))), nItems)
          .toAggregateExpression()).as("bf"))
        .head.getAs[Array[Byte]](0)
      val pre = t(s, d, "lineitem")
        .filter(gcol(BloomFilterMightContain(
          Literal.create(bloomBytes, BinaryType),
          gexpr(xxhash64(col("l_suppkey"))))))
      pre.join(dim.hint("MERGE"), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(count(lit(1)).as("n"),
          // exact basis points: cents(price)·(100 − cents(disc)) is an
          // integer, so the sum is order/engine-proof; /10⁴ back to dollars
          dround(sum(cents(col("l_extendedprice"))
            * (lit(100L) - cents(col("l_discount")))).cast("double") / 10000)
            .as("revenue"))
        .orderBy("s_suppkey")
    },
    Some("""SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS n,
                   CAST(round(CAST(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000 AS DECIMAL(30,8)), 2) AS DOUBLE) AS revenue
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            WHERE s_acctbal > 5000 AND s_nationkey < 10
            GROUP BY s_suppkey, s_name ORDER BY s_suppkey"""))

  // ------------------------------------------ mergeable quantile sketch --

  /** Mergeable quantile estimation without a raw rescan — the quantile
    * analogue of q_agg_sketch_merge's HLL story. Stage 1 builds a
    * fixed-grid integer histogram per (ship-month, bin) — the per-partition
    * "sketch", 32 counters each; stage 2 MERGES sketches by summing bins
    * (associative + commutative, so partial agg and re-aggregation across
    * any partition cut are free); quantiles (p50/p90/p99) then read off the
    * 32-row cumulative histogram as the first bin whose cumulative count
    * covers q·N. Everything is integer (bin = floor(price/4096) — division
    * by a power of two is EXACT in IEEE doubles, so the binning itself
    * can't drift cross-engine) → hash-exact, unlike a t-digest/KLL sketch
    * whose estimates are impl-defined. Contrast: q_feature_bucketize's
    * exact percentile needs every raw value in one place; this needs 32
    * longs per partition, the shape that survives 100 TB.
    */
  private val qAggQuantileMerge = GQuery(
    (s, d) => {
      val parts = t(s, d, "lineitem")
        .select(trunc(col("l_shipdate"), "month").as("m"),
          least(lit(31),
            floor(col("l_extendedprice") / lit(4096d)).cast("int"))
            .as("bin"))
        .groupBy("m", "bin").agg(count(lit(1)).as("pc"))
      val merged = parts.groupBy("bin").agg(sum("pc").as("c"))
      // one single-partition window pass yields BOTH the running total and
      // the grand total (same partitioning + sort → one Window operator);
      // packing (bin, cum) into one long makes the per-quantile "first
      // covering bin" a plain min — the whole readout is ONE linear chain,
      // so the raw table is scanned exactly once (plan-pinned)
      val wcum = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wall = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      merged
        .select(col("bin"), sum("c").over(wcum).as("cum"),
          sum("c").over(wall).as("n"))
        .select(col("cum"), col("n"),
          (col("bin").cast("long") * lit(1L << 48) + col("cum")).as("packed"),
          explode(array(lit(50), lit(90), lit(99))).as("q"))
        .filter(col("cum") * 100 >= col("q") * col("n"))
        .groupBy("q")
        .agg(min("packed").as("m"), max("n").as("n"))
        .select(col("q"), expr("m div (1L << 48)").cast("int").as("bin"),
          (expr("m div (1L << 48)") * 4096L).as("lo"),
          pmod(col("m"), lit(1L << 48)).as("cum"), col("n"))
        .orderBy("q")
    },
    Some("""WITH h AS (
              SELECT least(CAST(floor(l_extendedprice / 4096) AS INT), 31)
                       AS bin,
                     count(*) AS c
              FROM lineitem GROUP BY 1),
            cum AS (
              SELECT bin,
                     sum(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
                       AS cum
              FROM h),
            tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h),
            qq AS (SELECT unnest([50, 90, 99]) AS q),
            hit AS (
              SELECT q, min(bin) AS bin
              FROM cum, tot, qq
              WHERE cum * 100 >= q * n GROUP BY q)
            SELECT CAST(hit.q AS INT) AS q, CAST(hit.bin AS INT) AS bin,
                   CAST(hit.bin * 4096 AS BIGINT) AS lo,
                   CAST(cum.cum AS BIGINT) AS cum, tot.n AS n
            FROM hit JOIN cum USING (bin), tot ORDER BY q"""))

  // ------------------------------------------------ Count-Min sketch --

  /** Count-Min sketch point-frequency estimation — the third mergeable
    * sketch next to HLL (q_agg_sketch_merge, distinct counts) and KLL-style
    * quantiles (q_agg_quantile_merge): CM answers "how often did THIS key
    * appear" in depth×width integer cells. Both engines compute the SAME
    * sketch because the hash rows are md5-derived (`hex4`, the portable
    * anchor): cell(i, k) = hex4(i || ':' || k) mod 64, depth 4.
    *
    * Shape at scale: the build is one explode(×4) + groupBy(row, cell) —
    * partial-agg combinable, and the sketch is 256 rows at ANY corpus
    * size; merging shards is cell-wise SUM of exactly those rows (the same
    * re-aggregation contract the HLL query proves). Estimation joins the
    * broadcast 40-row probe-cell table against the sketch and takes
    * min-over-rows; the exact twin (computable at test SF) rides along to
    * pin CM's one-sided guarantee: est >= exact, always.
    */
  private val qAggCountmin = GQuery(
    (s, d) => {
      val depth = 4
      val width = 64
      val keyed = t(s, d, "events")
        .select(col("user_id").cast("string").as("k"))
      val cells = keyed
        .select(col("k"), explode(sequence(lit(0), lit(depth - 1))).as("rw"))
        .select(col("rw"),
          (DedupOps.hex4(concat_ws(":", col("rw"), col("k"))) % width)
            .as("cell"))
      val sketch = cells.groupBy("rw", "cell").agg(count(lit(1)).as("c"))
      val probes = s.range(1, 11)
        .select(col("id").as("probe"), col("id").cast("string").as("k"))
        .select(col("probe"), col("k"),
          explode(sequence(lit(0), lit(depth - 1))).as("rw"))
        .select(col("probe"),
          (DedupOps.hex4(concat_ws(":", col("rw"), col("k"))) % width)
            .as("cell"), col("rw"))
      val est = sketch.join(broadcast(probes), Seq("rw", "cell"))
        .groupBy("probe").agg(min("c").as("est"))
      val exact = t(s, d, "events")
        .filter(col("user_id").between(1, 10))
        .groupBy(col("user_id").as("probe"))
        .agg(count(lit(1)).as("exact"))
      est.join(exact, Seq("probe"), "left")
        .select(col("probe"), col("est"),
          coalesce(col("exact"), lit(0L)).as("exact"),
          (col("est") >= coalesce(col("exact"), lit(0L))).as("sound"))
        .orderBy("probe")
    },
    Some(s"""WITH keyed AS (
               SELECT CAST(user_id AS VARCHAR) AS k FROM events),
             cells AS (
               SELECT rw,
                      ${DedupOps.duckHex4("md5(rw || ':' || k)")} % 64 AS cell
               FROM keyed CROSS JOIN (SELECT CAST(i AS VARCHAR) AS rw
                                      FROM generate_series(0, 3) t(i))),
             sketch AS (
               SELECT rw, cell, count(*) AS c FROM cells GROUP BY 1, 2),
             probes AS (
               SELECT p.probe, r.rw,
                      ${DedupOps.duckHex4(
                        "md5(r.rw || ':' || CAST(p.probe AS VARCHAR))")} % 64
                        AS cell
               FROM generate_series(1, 10) p(probe)
               CROSS JOIN (SELECT CAST(i AS VARCHAR) AS rw
                           FROM generate_series(0, 3) t(i)) r),
             est AS (
               SELECT probe, min(c) AS est
               FROM sketch JOIN probes USING (rw, cell) GROUP BY probe),
             exact AS (
               SELECT user_id AS probe, CAST(count(*) AS BIGINT) AS exact
               FROM events WHERE user_id BETWEEN 1 AND 10 GROUP BY 1)
             SELECT e.probe, CAST(e.est AS BIGINT) AS est,
                    coalesce(x.exact, 0) AS exact,
                    e.est >= coalesce(x.exact, 0) AS sound
             FROM est e LEFT JOIN exact x USING (probe)
             ORDER BY probe"""))

  // --------------------------------------- incremental agg maintenance --

  /** Incremental aggregate maintenance: yesterday's materialized per-key
    * states + today's delta states merge into the current view WITHOUT
    * rescanning history — the plain-aggregate version of the re-aggregation
    * contract the HLL/quantile/CM sketch queries prove. The mergeable
    * state is (n, sum, min, max); avg DERIVES from merged (n, sum) — the
    * classic IVM rule that avg itself never merges. Insert-only deltas
    * (tombstone retraction breaks min/max — that path is q_events_cdc's
    * compaction). The full-outer merge keeps keys that exist on one side
    * only; the oracle recomputes from scratch, pinning merge ≡ rescan. At
    * 100 TB the left input is a states table thousands of times smaller
    * than the raw history it replaces.
    */
  /** Delta-driven maintenance of a MATERIALIZED JOIN — the IVM companion
    * to q_agg_incremental (which merges aggregate states): a denormalized
    * orders⋈customer table is persisted once (the deployment's base MV,
    * memoized per sfDir like the PQ/CoGraph artifacts), then an
    * insert-delta (the orderkeys ≡ 0 mod 10 the base excluded) and a
    * delete-delta (orderkeys ≡ 0 mod 7) are propagated: inserts join ONLY
    * the delta against the customer dim, deletes key-filter the MV —
    * history is never re-joined or re-scanned beyond one filtered pass.
    * The maintained MV then aggregates per market segment; the oracle
    * computes the same state from scratch, so the t2 hash proves
    * maintained ≡ rebuilt. PlanShapeSpec pins the plan at exactly one
    * join (the delta's broadcast dim join).
    *
    * Scale: the per-batch cost is |delta| × dim-join + one pushdown-
    * filtered MV scan; at 100 TB the MV filter becomes a partition/
    * z-order prune on the delete keys and the delta join stays
    * broadcast — nothing re-touches the history join.
    */
  private object MvIndex {
    private val dirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def mv(s: SparkSession, d: String): DataFrame = {
      val dir = dirs.computeIfAbsent(d, _ => {
        val out = java.nio.file.Files.createTempDirectory("graft-mvjoin-").toString
        joined(Tables(s, d, "orders")
            .filter(pmod(col("o_orderkey"), lit(10)) =!= 0),
          Tables(s, d, "customer"))
          .write.mode("overwrite").parquet(out)
        out
      })
      Tables.readStable(s, dir)
    }
    def joined(orders: DataFrame, cust: DataFrame): DataFrame =
      orders.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("c_mktsegment"),
          cents(col("o_totalprice"))
            .as("cents"))
  }

  private val qJoinIncremental = GQuery(
    (s, d) => {
      val live = pmod(col("o_orderkey"), lit(7)) =!= 0 // delete-delta filter
      val maintained = MvIndex.mv(s, d).filter(live)
        .unionByName(MvIndex.joined(
          t(s, d, "orders").filter(pmod(col("o_orderkey"), lit(10)) === 0)
            .filter(live),
          t(s, d, "customer")))
      maintained.groupBy("c_mktsegment")
        .agg(count(lit(1L)).as("n"), sum("cents").as("sum_cents"),
          countDistinct("o_custkey").as("n_cust"))
        .orderBy("c_mktsegment")
    },
    Some("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
                   CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE o_orderkey % 7 <> 0
            GROUP BY 1 ORDER BY 1"""))

  private val qAggIncremental = GQuery(
    (s, d) => {
      val e = t(s, d, "events")
        .withColumn("recent", to_date(col("ts")) >= lit("2024-01-16"))
      def state(df: DataFrame, tag: String) = df.groupBy("event_type")
        .agg(count(lit(1)).as(s"n_$tag"),
          sum(cents(col("value"))).as(s"sum_$tag"), // exact mergeable cents
          min("value").as(s"min_$tag"), max("value").as(s"max_$tag"))
      state(e.filter(!col("recent")), "h")
        .join(state(e.filter(col("recent")), "d"), Seq("event_type"),
          "full_outer")
        .select(col("event_type"),
          (coalesce(col("n_h"), lit(0L)) + coalesce(col("n_d"), lit(0L)))
            .as("n"),
          dround((coalesce(col("sum_h"), lit(0L))
            + coalesce(col("sum_d"), lit(0L))).cast("double") / 100)
            .as("total"),
          dround((coalesce(col("sum_h"), lit(0L))
              + coalesce(col("sum_d"), lit(0L))).cast("double") / 100
            / (coalesce(col("n_h"), lit(0L)) + coalesce(col("n_d"), lit(0L))))
            .as("mean"),
          dround(least(coalesce(col("min_h"), col("min_d")),
            coalesce(col("min_d"), col("min_h")))).as("lo"),
          dround(greatest(coalesce(col("max_h"), col("max_d")),
            coalesce(col("max_d"), col("max_h")))).as("hi"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(round(CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS DECIMAL(30,8)), 2) AS DOUBLE)
                     AS total,
                   CAST(round(CAST(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 / count(*) AS DECIMAL(30,8)), 2)
                     AS DOUBLE) AS mean,
                   CAST(round(CAST(min(value) AS DECIMAL(30,8)), 2) AS DOUBLE)
                     AS lo,
                   CAST(round(CAST(max(value) AS DECIMAL(30,8)), 2) AS DOUBLE)
                     AS hi
            FROM events GROUP BY event_type ORDER BY event_type"""))

  // ----------------------------------------------- VariantType surface --

  /** Semi-structured JSON through Spark 4's columnar VariantType — the
    * modern engine path for schema-flexible columns (parse once into the
    * shreddable binary Variant encoding, then TYPED `variant_get`
    * extraction), complementing q_events_json's string-function path. The
    * extraction is typed at the expression level (`$.k` as int), a missing
    * path probes the null semantics (`try_variant_get` → null, counted),
    * and the grouped rollup proves extracted values flow into ordinary
    * aggregation. Output is plain typed columns, so the DuckDB oracle
    * (json_extract on the same strings) hashes it engine-neutrally.
    *
    * Scale: parse_json is a map-only codegen'd pass; at 100 TB the Variant
    * column shreds into parquet subcolumns so repeated `$.k` extraction
    * reads a numeric subcolumn instead of re-parsing text — the reason this
    * surface exists at all.
    */
  private val qEventsVariant = GQuery(
    (s, d) => {
      val v = parse_json(col("props"))
      t(s, d, "events")
        .select(col("event_type"),
          variant_get(v, "$.k", "int").as("k"),
          try_variant_get(v, "$.missing", "int").as("miss"))
        .groupBy(col("event_type"), expr("k div 25").as("bucket"))
        .agg(count(lit(1L)).as("n"), sum("k").as("sum_k"),
          min("k").as("min_k"), max("k").as("max_k"),
          sum(when(col("miss").isNull, 1L).otherwise(0L)).as("n_missing"))
        .orderBy("event_type", "bucket")
    },
    Some("""WITH ev AS (
              SELECT event_type,
                     CAST(json_extract(props, '$.k') AS INT) AS k,
                     CAST(json_extract(props, '$.missing') AS INT) AS miss
              FROM events)
            SELECT event_type, CAST(k // 25 AS BIGINT) AS bucket,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(k) AS BIGINT) AS sum_k,
                   CAST(min(k) AS INT) AS min_k, CAST(max(k) AS INT) AS max_k,
                   CAST(sum(CASE WHEN miss IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_missing
            FROM ev GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** Exact WEIGHTED quantiles (p25 / median / p75 of l_extendedprice
    * weighted by l_quantity) per return flag — the quantile a
    * sample-weighted pipeline actually needs (every unweighted quantile op
    * silently assumes uniform example weights; curation pipelines rarely
    * have them). The weighted q-quantile is the smallest value v whose
    * inclusive cumulative weight reaches q·W.
    *
    * Plan is the `graft.Prefix` two-level prefix sum, spelled out because
    * the bucket totals also feed the flag totals: collapse to the
    * (flag, cent-value) grid in one partial agg, then bucket offsets (tiny
    * agg, broadcast back via a flag-partitioned window over ≤ #buckets
    * rows) + in-bucket running sums — no single-partition window ever sees
    * a full flag's grid. Selection is a conditional-min agg (2·cum ≥ W
    * etc. in exact integers ×4 to keep quartile thresholds integral), so
    * the output derives from count arithmetic only — hash-exact.
    */
  private val qAggWquantile = GQuery(
    (s, d) => {
      val v = cents(col("l_extendedprice"))
      val w = cents(col("l_quantity"))
      def src = t(s, d, "lineitem")
        .select(col("l_returnflag").as("flag"), v.as("v"), w.as("w"))
        .withColumn("bkt", expr("v div 100000000"))
      // bucket offsets and totals need only (flag, bkt) sums — aggregate
      // them straight off the scan, NOT off the (flag, v) grid: the price
      // domain is near-unique, so the r9 grid checkpoint was corpus-sized
      // (the q_stats_xi lesson). The v-grid then has exactly ONE consumer
      // (the in-bucket running sum) and never materializes; the second
      // column-pruned scan is far cheaper than the corpus checkpoint.
      val bktAgg = src.groupBy("flag", "bkt").agg(sum("w").as("bw"))
        .localCheckpoint(true) // bucket-grid-sized; feeds off + tot
      val off = bktAgg.select(col("flag"), col("bkt"), Prefix.sumBefore(
        col("bw"), Window.partitionBy("flag").orderBy("bkt")).as("off"))
      val tot = bktAgg.groupBy("flag").agg(sum("bw").as("totw"))
      // one exchange for grid-agg AND window: clustering by (flag, bkt)
      // satisfies both the groupBy (subset of its keys) and the window
      // partitioning; the price domain is near-unique so the partial agg
      // the default two-exchange plan buys reduces nothing anyway
      val grid = src.repartition(col("flag"), col("bkt"))
        .groupBy("flag", "bkt", "v").agg(sum("w").as("vw"))
      val wIn = Window.partitionBy("flag", "bkt").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = grid.join(broadcast(off), Seq("flag", "bkt"))
        .withColumn("cw", col("off") + sum("vw").over(wIn))
      cum.join(broadcast(tot), "flag")
        .groupBy("flag")
        .agg(min(when(col("cw") * 4 >= col("totw"), col("v"))).as("wq25_cents"),
          min(when(col("cw") * 2 >= col("totw"), col("v"))).as("median_cents"),
          min(when(col("cw") * 4 >= col("totw") * 3, col("v"))).as("wq75_cents"),
          max("totw").as("total_weight"))
        .orderBy("flag")
    },
    Some("""WITH grid AS (
              SELECT l_returnflag AS flag,
                     CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
                     CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS vw
              FROM lineitem GROUP BY 1, 2),
            cum AS (
              SELECT flag, v, vw,
                     CAST(sum(vw) OVER (PARTITION BY flag ORDER BY v
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw
              FROM grid),
            tot AS (SELECT flag, CAST(max(cw) AS BIGINT) AS totw
                    FROM cum GROUP BY 1)
            SELECT c.flag,
                   min(CASE WHEN c.cw * 4 >= t.totw THEN c.v END) AS wq25_cents,
                   min(CASE WHEN c.cw * 2 >= t.totw THEN c.v END) AS median_cents,
                   min(CASE WHEN c.cw * 4 >= t.totw * 3 THEN c.v END) AS wq75_cents,
                   max(t.totw) AS total_weight
            FROM cum c JOIN tot t USING (flag)
            GROUP BY 1 ORDER BY c.flag"""))

  /** Join-SIZE estimation before running the join (the AMS F₂ sketch
    * idea, Alon–Matias–Szegedy 1996 — public; what a cost-based planner
    * does to pick shuffle vs broadcast vs skew-salt BEFORE paying for the
    * join): per scenario the EXACT output cardinality Σ_k c_A(k)·c_B(k)
    * from the per-key count grids, next to the bucketed estimate
    * Σ_b S_A(b)·S_B(b) over 256 md5-derived buckets (hex4 — the portable
    * hash anchor, so the estimate is the SAME exact integer in both
    * engines; collisions only ever over-estimate, by Cauchy–Schwarz).
    * Three scenarios: the lineitem self-join on partkey and the events
    * self-join on user (self-join size IS the second frequency moment —
    * the skew diagnostic), plus the orders⋈lineitem key join. err_ppm
    * reads the bucketing overshoot directly.
    *
    * Scale: each scenario costs ONE per-key count agg (map-combinable)
    * and a 256-row bucket rollup — the whole point: the estimate touches
    * key grids, never the join output; DECIMAL(38) carries Σc² to ~10¹⁹
    * pairs.
    */
  private val qJoinSizeEstimate = GQuery(
    (s, d) => {
      import graft.operators.DedupOps.hex4
      def counts(df: DataFrame, key: String) = df
        .groupBy(col(key).cast("long").as("k"))
        .agg(count(lit(1L)).as("c"))
        .withColumn("b", hex4(col("k").cast("string")) % 256)
      def scenario(name: String, a: DataFrame, b: DataFrame): DataFrame = {
        val joined = a.select(col("k"), col("b"), col("c").as("ca"))
          .join(b.select(col("k"), col("c").as("cb")), Seq("k"), "inner")
        val exact = joined.agg(
          sum(col("ca").cast("decimal(38,0)") * col("cb")).as("exact_pairs"))
        val sa = a.groupBy("b").agg(sum("c").as("sa"))
        val sb = b.groupBy("b").agg(sum("c").as("sb"))
        val est = sa.join(sb, "b").agg(
          sum(col("sa").cast("decimal(38,0)") * col("sb")).as("est_pairs"))
        val na = a.agg(sum("c").as("n_left"), count(lit(1L)).as("keys_left"))
        val nb = b.agg(sum("c").as("n_right"))
        na.crossJoin(nb).crossJoin(exact).crossJoin(est)
          .select(lit(name).as("scenario"), col("n_left"), col("n_right"),
            col("keys_left"),
            // Canonical digit STRINGs, not DECIMAL(38): decimals are the
            // one output type whose driver-side hash canonicalization
            // diverged between the Spark-parquet and DuckDB read paths
            // (VERDICT r10 §What's wrong 1). Scale-0 decimal → string is
            // a pure digit render, identical in both engines; DECIMAL(38)
            // stays internal where Σc² needs the >64-bit headroom.
            col("exact_pairs").cast("string").as("exact_pairs"),
            col("est_pairs").cast("string").as("est_pairs"),
            expr("(est_pairs - exact_pairs) * 1000000 div exact_pairs")
              .cast("long").as("err_ppm"))
      }
      val lp = counts(t(s, d, "lineitem"), "l_partkey")
        .localCheckpoint(true) // key grid feeds both sides of its scenario
      val eu = counts(t(s, d, "events"), "user_id").localCheckpoint(true)
      val ok = counts(t(s, d, "orders"), "o_orderkey").localCheckpoint(true)
      val lo = counts(t(s, d, "lineitem"), "l_orderkey").localCheckpoint(true)
      scenario("events_self_user", eu, eu)
        .unionByName(scenario("lineitem_self_partkey", lp, lp))
        .unionByName(scenario("orders_lineitem_orderkey", ok, lo))
        .orderBy("scenario")
    },
    Some {
      def hx(e: String) = graft.operators.DedupOps.duckHex4(e)
      def cts(tbl: String, key: String) =
        s"""SELECT CAST($key AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS c,
                   ${hx(s"md5(CAST(CAST($key AS BIGINT) AS VARCHAR))")} % 256
                     AS b
            FROM $tbl GROUP BY 1"""
      def scen(name: String, a: String, bq: String) =
        s"""SELECT '$name' AS scenario,
                   (SELECT CAST(sum(c) AS BIGINT) FROM $a) AS n_left,
                   (SELECT CAST(sum(c) AS BIGINT) FROM $bq) AS n_right,
                   (SELECT CAST(count(*) AS BIGINT) FROM $a) AS keys_left,
                   (SELECT CAST(sum(CAST(x.c AS HUGEINT) * y.c)
                      AS DECIMAL(38,0))
                    FROM $a x JOIN $bq y USING (k)) AS exact_pairs,
                   (SELECT CAST(sum(CAST(sa AS HUGEINT) * sb)
                      AS DECIMAL(38,0))
                    FROM (SELECT b, sum(c) AS sa FROM $a GROUP BY 1) p
                    JOIN (SELECT b, sum(c) AS sb FROM $bq GROUP BY 1) q
                    USING (b)) AS est_pairs"""
      s"""WITH lp AS (${cts("lineitem", "l_partkey")}),
            eu AS (${cts("events", "user_id")}),
            ok AS (${cts("orders", "o_orderkey")}),
            lo AS (${cts("lineitem", "l_orderkey")}),
            rows0 AS (
              ${scen("events_self_user", "eu", "eu")}
              UNION ALL
              ${scen("lineitem_self_partkey", "lp", "lp")}
              UNION ALL
              ${scen("orders_lineitem_orderkey", "ok", "lo")})
            SELECT scenario, n_left, n_right, keys_left,
                   -- digit STRING outputs (no DECIMAL in a t2 schema):
                   -- HUGEINT→VARCHAR is a pure digit render, scale-safe
                   -- past BIGINT and identical to Spark's decimal(38,0)
                   -- .cast("string")
                   CAST(CAST(exact_pairs AS HUGEINT) AS VARCHAR)
                     AS exact_pairs,
                   CAST(CAST(est_pairs AS HUGEINT) AS VARCHAR) AS est_pairs,
                   -- HUGEINT, not DECIMAL: DuckDB's // ROUNDS on decimals
                   -- and truncates on integers (the CLAUDE.md invariant)
                   CAST((CAST(est_pairs AS HUGEINT)
                         - CAST(exact_pairs AS HUGEINT)) * 1000000
                     // CAST(exact_pairs AS HUGEINT) AS BIGINT) AS err_ppm
            FROM rows0 ORDER BY scenario"""
    })

  /** Set algebra ON sketches — audience-overlap estimation by
    * inclusion–exclusion over HLLs: per event_type, the users active in the
    * stream's first half (A), second half (B), and their retention overlap
    * |A∩B| ≈ est(A) + est(B) − est(A∪B). HLLs union natively but do NOT
    * intersect — inclusion–exclusion is the standard workaround and its
    * error COMPOUNDS (three ±2% estimates difference), which is exactly
    * what the soundness flag bounds: |est − exact| ≤ 5% of (|A|+|B|) + 5,
    * an absolute margin because a small true intersection makes relative
    * error unbounded. The q_agg_approx gate pattern: exact values hash
    * cross-engine, sketch behavior collapses to a margin boolean the
    * oracle asserts `true` (drift shows in q_agg_approx_debug's twin
    * methodology, not an opaque hash flip).
    *
    * Scale: the stream collapses to per-(type, user) membership flags
    * FIRST (three conditional COUNT(DISTINCT)s on the raw stream planned a
    * 3-way Expand — measured 5.2 s → 1.8 s at sf0.1 with rsd 0.02; a
    * sketch of a set's distinct elements IS the sketch of the set), then
    * ONE pass computes exact counts AND the three HLLs from the collapsed
    * table. At 100 TB the sketches merge tree-wise and the membership
    * collapse is the same partial agg every distinct rewrite uses; the
    * exact twins are the audit, run on samples.
    */
  private val qAggHllIntersect = GQuery(
    (s, d) => {
      val ev = t(s, d, "events")
        .select(col("event_type"), col("user_id"),
          (unix_timestamp(col("ts")) < lit(1705752000L)).as("firsthalf"))
      // collapse to per-(type, user) membership flags FIRST: the three
      // conditional COUNT(DISTINCT)s would otherwise plan a 3-way Expand
      // of the raw stream (measured 5.2 s at sf0.1 → 0.9 s); the HLLs ride
      // the same collapsed table — a sketch of a set's distinct elements
      // IS the sketch of the set, at ~100× fewer updates
      val per = ev.groupBy("event_type", "user_id").agg(
        max(when(col("firsthalf"), 1L).otherwise(0L)).as("ha"),
        max(when(!col("firsthalf"), 1L).otherwise(0L)).as("hb"))
      val agg = per.groupBy("event_type").agg(
        approx_count_distinct(when(col("ha") === 1L, col("user_id")), 0.02)
          .as("ea"),
        approx_count_distinct(when(col("hb") === 1L, col("user_id")), 0.02)
          .as("eb"),
        approx_count_distinct(col("user_id"), 0.02).as("eu"),
        sum("ha").as("na"), sum("hb").as("nb"), count(lit(1L)).as("nu"))
      agg.select(col("event_type"), col("na"), col("nb"),
          (col("na") + col("nb") - col("nu")).as("inter_exact"),
          (abs((col("ea") + col("eb") - col("eu"))
            - (col("na") + col("nb") - col("nu")))
            <= (col("na") + col("nb")) * 0.05 + 5).as("inter_ok"))
        .orderBy("event_type")
    },
    Some("""SELECT event_type,
                   CAST(count(DISTINCT CASE WHEN epoch(date_trunc('second', ts))
                     < 1705752000 THEN user_id END) AS BIGINT) AS na,
                   CAST(count(DISTINCT CASE WHEN epoch(date_trunc('second', ts))
                     >= 1705752000 THEN user_id END) AS BIGINT) AS nb,
                   CAST(count(DISTINCT CASE WHEN epoch(date_trunc('second', ts))
                     < 1705752000 THEN user_id END)
                     + count(DISTINCT CASE WHEN epoch(date_trunc('second', ts))
                         >= 1705752000 THEN user_id END)
                     - count(DISTINCT user_id) AS BIGINT) AS inter_exact,
                   true AS inter_ok
            FROM events GROUP BY 1 ORDER BY event_type"""))

  // --------------------------------------------------- KMV distinct --

  /** KMV (K-Minimum-Values) distinct-count sketch, k = 64 — the one
    * cardinality sketch whose ESTIMATE is hash-identical cross-engine:
    * unlike HLL (engine-private register layouts, so q_agg_approx can
    * only be bounds-checked), KMV is a pure function of the k smallest
    * md5 values, and md5 is the repo's portable hash anchor. h is the
    * first 12 md5 hex digits as a 48-bit BIGINT (Spark conv ≡ DuckDB
    * '0x'-prefix cast), D̂ = (k−1)·2⁴⁸ div h₍ₖ₎, exact integer; sketches
    * smaller than k are exact by definition (est = n_sketch). The build
    * is deliberately TWO-LEVEL to pin the sketch's mergeability — per
    * (key, salt=user%8) k-smallest survivors union + re-rank to the
    * global k-smallest, the same partial-sketch merge a 1000-executor
    * run performs — since ∪ of per-partition k-minima ⊇ global k-minima.
    * Emitted per event_type (+ '__all'): exact distinct, sketch size,
    * KMV estimate, signed milli error.
    *
    * Scale: level 1 windows partition by (key, salt) and level 2 sees
    * ≤ salts·k rows per key — no global distinct anywhere near the
    * estimate path (the exact twin column is the sf-sized audit, itself
    * a map-combinable distinct agg). The estimate is within ~1/√k of
    * truth; widening k or the salt fan-out is config, not plan surgery.
    */
  private val qAggKmv = GQuery(
    (s, d) => {
      val base = t(s, d, "events").select(col("event_type"), col("user_id"))
      val both = base.unionByName(
        base.select(lit("__all").as("event_type"), col("user_id")))
        .localCheckpoint(true) // feeds the sketch AND the exact audit
      val hashed = both.select(col("event_type"),
          pmod(col("user_id"), lit(8L)).as("salt"),
          conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10)
            .cast("long").as("h"))
        .distinct()
      val w1 = Window.partitionBy("event_type", "salt").orderBy("h")
      val lvl1 = hashed.withColumn("rn", row_number().over(w1))
        .filter(col("rn") <= 64)
        .select("event_type", "h").distinct()
      val w2 = Window.partitionBy("event_type").orderBy("h")
      val sk = lvl1.withColumn("rn", row_number().over(w2))
        .filter(col("rn") <= 64)
        .groupBy("event_type")
        .agg(count(lit(1L)).as("n_sketch"),
          max(when(col("rn") === 64, col("h"))).as("h64"))
      val exact = both.groupBy("event_type")
        .agg(countDistinct("user_id").as("n_exact"))
      exact.join(sk, Seq("event_type"))
        .withColumn("kmv_est",
          when(col("n_sketch") < 64, col("n_sketch"))
            .otherwise(expr(
              "(63 * 281474976710656) div greatest(1, h64)")))
        .withColumn("err_milli",
          expr("((kmv_est - n_exact) * 1000) div n_exact"))
        .select("event_type", "n_exact", "n_sketch", "kmv_est", "err_milli")
        .orderBy("event_type")
    },
    Some("""WITH b AS (
              SELECT event_type, user_id FROM events
              UNION ALL
              SELECT '__all' AS event_type, user_id FROM events),
            hashed AS (
              SELECT DISTINCT event_type, user_id % 8 AS salt,
                     CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
                       AS BIGINT) AS h
              FROM b),
            lvl1 AS (
              SELECT DISTINCT event_type, h FROM (
                SELECT event_type, h,
                       row_number() OVER (PARTITION BY event_type, salt
                         ORDER BY h) AS rn
                FROM hashed) WHERE rn <= 64),
            lvl2 AS (
              SELECT event_type, h,
                     row_number() OVER (PARTITION BY event_type
                       ORDER BY h) AS rn
              FROM lvl1 QUALIFY rn <= 64),
            sk AS (
              SELECT event_type, CAST(count(*) AS BIGINT) AS n_sketch,
                     max(CASE WHEN rn = 64 THEN h END) AS h64
              FROM lvl2 GROUP BY 1),
            ex AS (
              SELECT event_type,
                     CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
              FROM b GROUP BY 1),
            est AS (
              SELECT e.event_type, e.n_exact, s.n_sketch,
                     CAST(CASE WHEN s.n_sketch < 64 THEN s.n_sketch
                          ELSE (63 * 281474976710656)
                               // greatest(1, s.h64) END AS BIGINT)
                       AS kmv_est
              FROM ex e JOIN sk s USING (event_type))
            SELECT event_type, n_exact, n_sketch, kmv_est,
                   CAST(((kmv_est - n_exact) * 1000) // n_exact AS BIGINT)
                     AS err_milli
            FROM est ORDER BY 1"""))

  // ------------------------------------------------ theta set algebra --

  /** Theta-sketch set algebra (the Datasketches theta calculus, public) —
    * the sketch operation HLL fundamentally can't do: ESTIMATE set
    * intersection and difference, not just union. For every unordered
    * event-type pair, both audiences' 48-bit md5 hashes merge; θ = the
    * 64th-smallest union hash, the k−1 survivors below θ are a uniform
    * sample of the union, and any derived set X estimates as
    * |sample ∩ X|·2⁴⁸ div θ — exact integers on the md5 anchor, so the
    * ESTIMATES hash-match cross-engine (q_agg_kmv's property, extended
    * from cardinality to set algebra). Unions smaller than k degrade to
    * exact counts (θ undefined ⇒ sketch IS the set). Exact inter/diff/
    * union ride along as the audit columns (q_events_overlap_matrix's
    * truth side).
    *
    * Scale: the membership fan-out is a broadcast join of the 10-row
    * pair table against the per-type distinct-hash table (≤ 2×|pairs
    * touching a type| rows per hash); the θ windows partition per PAIR
    * over union-sized rows, and at real scale each side arrives as an
    * ALREADY-k-sized sketch (q_agg_kmv's two-level merge), making the
    * window input ≤ 2k rows per pair — the exact audit columns are the
    * only full-cardinality cost, and they exist to grade the sketch.
    */
  private val qAggThetaSketch = GQuery(
    (s, d) => {
      // audiences = HEAVY users (≥14 events of the type) — raw presence is
      // degenerate on this corpus (every user touches every type), heavy
      // audiences genuinely differ so inter/diff estimates are non-trivial
      val tu = t(s, d, "events").select(col("event_type"), col("user_id"))
        .groupBy("event_type", "user_id").agg(count(lit(1L)).as("cnt"))
        .filter(col("cnt") >= 14)
        .select("event_type", "user_id")
        .localCheckpoint(true) // feeds hashes, pairs, and the exact audit
      val th = tu.select(col("event_type"),
        conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10)
          .cast("long").as("h"))
      val types = tu.select("event_type").distinct()
      val prs = types.select(col("event_type").as("ta"))
        .crossJoin(types.select(col("event_type").as("tb")))
        .filter(col("ta") < col("tb"))
      def sides(src: DataFrame, vcol: String): DataFrame =
        broadcast(prs).join(src, col("ta") === col("event_type"))
          .select(col("ta"), col("tb"), col(vcol).as("v"),
            lit(1L).as("ina"), lit(0L).as("inb"))
          .unionByName(
            broadcast(prs).join(src, col("tb") === col("event_type"))
              .select(col("ta"), col("tb"), col(vcol).as("v"),
                lit(0L).as("ina"), lit(1L).as("inb")))
          .groupBy("ta", "tb", "v")
          .agg(max("ina").as("ina"), max("inb").as("inb"))
      val exact = sides(tu, "user_id").groupBy("ta", "tb")
        .agg(sum(expr("ina * inb")).as("exact_inter"),
          sum(expr("ina * (1 - inb)")).as("exact_aonly"),
          count(lit(1L)).as("exact_union"))
      val wTheta = Window.partitionBy("ta", "tb").orderBy("h")
      val ranked = sides(th, "h")
        .withColumnRenamed("v", "h")
        .withColumn("rn", row_number().over(wTheta))
        .filter(col("rn") <= 64)
      val sk = ranked.groupBy("ta", "tb")
        .agg(max(when(col("rn") === 64, col("h"))).as("theta"),
          sum(when(col("rn") < 64, expr("ina * inb"))).as("s_inter"),
          sum(when(col("rn") < 64, expr("ina * (1 - inb)"))).as("s_aonly"),
          sum(when(col("rn") < 64, lit(1L))).as("s_union"))
      exact.join(sk, Seq("ta", "tb"))
        .select(col("ta"), col("tb"),
          col("exact_union"), col("exact_inter"), col("exact_aonly"),
          when(col("theta").isNull, col("exact_union"))
            .otherwise(expr("(s_union * 281474976710656) div theta"))
            .as("est_union"),
          when(col("theta").isNull, col("exact_inter"))
            .otherwise(expr("(s_inter * 281474976710656) div theta"))
            .as("est_inter"),
          when(col("theta").isNull, col("exact_aonly"))
            .otherwise(expr("(s_aonly * 281474976710656) div theta"))
            .as("est_aonly"))
        .orderBy("ta", "tb")
    },
    Some("""WITH tu AS (
              SELECT event_type, user_id FROM events
              GROUP BY 1, 2 HAVING count(*) >= 14),
            th AS (
              SELECT event_type,
                     CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12)
                       AS BIGINT) AS h
              FROM tu),
            ty AS (SELECT DISTINCT event_type FROM tu),
            prs AS (
              SELECT a.event_type AS ta, b.event_type AS tb
              FROM ty a CROSS JOIN ty b WHERE a.event_type < b.event_type),
            fu AS (
              SELECT ta, tb, v, max(ina) AS ina, max(inb) AS inb
              FROM (SELECT p.ta, p.tb, s.user_id AS v, 1 AS ina, 0 AS inb
                    FROM prs p JOIN tu s ON s.event_type = p.ta
                    UNION ALL
                    SELECT p.ta, p.tb, s.user_id, 0, 1
                    FROM prs p JOIN tu s ON s.event_type = p.tb)
              GROUP BY 1, 2, 3),
            exact AS (
              SELECT ta, tb,
                     CAST(sum(ina * inb) AS BIGINT) AS exact_inter,
                     CAST(sum(ina * (1 - inb)) AS BIGINT) AS exact_aonly,
                     CAST(count(*) AS BIGINT) AS exact_union
              FROM fu GROUP BY 1, 2),
            fh AS (
              SELECT ta, tb, v AS h, max(ina) AS ina, max(inb) AS inb
              FROM (SELECT p.ta, p.tb, s.h AS v, 1 AS ina, 0 AS inb
                    FROM prs p JOIN th s ON s.event_type = p.ta
                    UNION ALL
                    SELECT p.ta, p.tb, s.h, 0, 1
                    FROM prs p JOIN th s ON s.event_type = p.tb)
              GROUP BY 1, 2, 3),
            ranked AS (
              SELECT ta, tb, h, ina, inb,
                     row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn
              FROM fh QUALIFY rn <= 64),
            sk AS (
              SELECT ta, tb,
                     max(CASE WHEN rn = 64 THEN h END) AS theta,
                     CAST(sum(CASE WHEN rn < 64 THEN ina * inb
                       ELSE 0 END) AS BIGINT) AS s_inter,
                     CAST(sum(CASE WHEN rn < 64 THEN ina * (1 - inb)
                       ELSE 0 END) AS BIGINT) AS s_aonly,
                     CAST(sum(CASE WHEN rn < 64 THEN 1 ELSE 0 END)
                       AS BIGINT) AS s_union
              FROM ranked GROUP BY 1, 2)
            SELECT e.ta, e.tb, e.exact_union, e.exact_inter, e.exact_aonly,
                   CAST(CASE WHEN s.theta IS NULL THEN e.exact_union
                     ELSE (s.s_union * 281474976710656) // s.theta END
                     AS BIGINT) AS est_union,
                   CAST(CASE WHEN s.theta IS NULL THEN e.exact_inter
                     ELSE (s.s_inter * 281474976710656) // s.theta END
                     AS BIGINT) AS est_inter,
                   CAST(CASE WHEN s.theta IS NULL THEN e.exact_aonly
                     ELSE (s.s_aonly * 281474976710656) // s.theta END
                     AS BIGINT) AS est_aonly
            FROM exact e JOIN sk s USING (ta, tb)
            ORDER BY 1, 2"""))

  override val queries: Map[String, GQuery] = Map(
    "q_agg_theta_sketch" -> qAggThetaSketch,
    "q_agg_kmv" -> qAggKmv,
    "q_agg_hll_intersect" -> qAggHllIntersect,
    "q_agg_wquantile" -> qAggWquantile,
    "q_events_variant" -> qEventsVariant,
    "q_agg_incremental" -> qAggIncremental,
    "q_join_incremental" -> qJoinIncremental,
    "q_agg_countmin" -> qAggCountmin,
    "q_join_size_estimate" -> qJoinSizeEstimate,
    "q_agg_quantile_merge" -> qAggQuantileMerge,
    "q_agg_approx" -> qAggApprox,
    "q_join_bloom" -> qJoinBloom,
    "q_agg_sketch_merge" -> qAggSketchMerge,
    "q_agg_approx_debug" -> qAggApproxDebug,
    "q_scalar_map" -> qScalarMap,
    "q_grouping_sets" -> qGroupingSets,
    "q_window_distribution" -> qWindowDistribution,
    "q_dist_histogram" -> qDistHistogram,
    "q_agg_listagg" -> qAggListagg,
    "q_agg_bool" -> qAggBool,
    "q_unpivot" -> qUnpivot,
    "q_join_cross" -> qJoinCross,
    "q_scalar_struct" -> qScalarStruct,
    "q_scalar_bits" -> qScalarBits,
    "q_events_hopping" -> qEventsHopping)
}
