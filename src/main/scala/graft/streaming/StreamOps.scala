package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, Trigger}
import graft.io.LocalCheckpointFileManager
import graft.sources.KafkaShaped

/** Structured Streaming module (SURVEY.md §7 step 4; reference O1/O9 with
  * time semantics added — the reference's rotation is count-based only and it
  * has no watermark/window concept, SURVEY.md §2.2).
  *
  * Streams are file-source driven (no kafka jar in this zero-egress
  * container); the transforms are the batch twins' streaming versions:
  *   - tumbling 1-hour windows with a 30-minute watermark (q_events_tumbling)
  *   - session windows with 30-minute gap (q_events_session)
  *   - foreachBatch → OffsetNamedOrcSink (the reference's whole job, with
  *     checkpointed exactly-once epoch commit).
  */
object StreamOps {

  /** Tumbling-window counts over a Kafka-shaped stream. */
  def tumblingCounts(shaped: DataFrame): DataFrame =
    shaped
      .withWatermark("timestamp", "30 minutes")
      .groupBy(window(col("timestamp"), "1 hour"), col("value.etype").as("etype"))
      .agg(count(lit(1)).as("n"), sum("value.dval").as("sum_val"))
      .select(col("window.start").as("hour_ts"), col("etype"), col("n"),
        col("sum_val"))

  /** Hopping (sliding) window counts — 1-hour windows every 30 minutes, so
    * each event contributes to exactly 2 windows (the streaming twin of the
    * batch q_events_hopping). Watermark bounds the open-window state to
    * (size/slide + watermark/slide) windows per key.
    */
  def hoppingCounts(shaped: DataFrame): DataFrame =
    shaped
      .withWatermark("timestamp", "30 minutes")
      .groupBy(window(col("timestamp"), "1 hour", "30 minutes"),
        col("value.etype").as("etype"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_ts"), col("etype"), col("n"))

  /** Session windows (30-min gap) per user over a Kafka-shaped stream. */
  def sessionAgg(shaped: DataFrame): DataFrame =
    shaped
      .withWatermark("timestamp", "30 minutes")
      .groupBy(session_window(col("timestamp"), "30 minutes"),
        col("value.uid").as("uid"))
      .agg(count(lit(1)).as("n_events"), sum("value.dval").as("sum_val"))
      .select(col("uid"), col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"), col("n_events"), col("sum_val"))

  /** A deduped stream record (first occurrence of each (uid, etype) key). */
  final case class DedupedEvent(uid: Int, etype: String, offset: Long)

  /** Cross-batch stateful dedup via flatMapGroupsWithState — the custom-state
    * API the built-in dropDuplicates can't replace when you need explicit
    * state control (here: a seen-flag per key that lives for the whole query,
    * i.e. the reference's idempotent-replay contract extended across
    * micro-batches). State is one boolean per key — at scale pair it with a
    * timeout (ProcessingTimeTimeout) to bound the store; NoTimeout here keeps
    * the test deterministic.
    */
  def dedupStream(shaped: DataFrame): Dataset[DedupedEvent] = {
    val spark = shaped.sparkSession
    import spark.implicits._
    shaped
      .select(col("value.uid").as("uid"), col("value.etype").as("etype"),
        col("offset"))
      .as[DedupedEvent]
      .groupByKey(e => (e.uid, e.etype))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: (Int, String), rows: Iterator[DedupedEvent],
            state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            rows.toSeq.sortBy(_.offset).headOption.iterator
          })
  }

  /** The bounded-state variant of [[dedupStream]]: each seen-key entry is
    * armed with a sliding processing-time TTL and removed when it fires, so
    * the state store is bounded by the number of keys active within one TTL
    * window — the shape that survives an unbounded key space at 100 TB/day.
    * An expired key re-admits its next occurrence (dedup-within-TTL
    * semantics, like dropDuplicatesWithinWatermark but on processing time
    * and with explicit state control).
    */
  def dedupStreamExpiring(shaped: DataFrame, ttlMs: Long): Dataset[DedupedEvent] = {
    val spark = shaped.sparkSession
    import spark.implicits._
    shaped
      .select(col("value.uid").as("uid"), col("value.etype").as("etype"),
        col("offset"))
      .as[DedupedEvent]
      .groupByKey(e => (e.uid, e.etype))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.ProcessingTimeTimeout)(
        (_: (Int, String), rows: Iterator[DedupedEvent],
            state: GroupState[Boolean]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) {
            state.setTimeoutDuration(ttlMs) // sliding TTL: re-arm on sighting
            Iterator.empty
          } else {
            state.update(true)
            state.setTimeoutDuration(ttlMs)
            rows.toSeq.sortBy(_.offset).headOption.iterator
          })
  }

  /** Bounded-MEMORY approximate dedup — the third rung of the dedup-state
    * ladder: [[dedupStream]] keeps a flag per key (state grows with key
    * cardinality), [[dedupStreamExpiring]] bounds it by a TTL window, and
    * this variant bounds it ABSOLUTELY: one m-bit Bloom bitmap per shard,
    * so state is shards·m/8 bytes for the query's lifetime at ANY key
    * cardinality — the streaming twin of q_dedup_bloom, with the same k=4
    * positions from one md5's disjoint hex slices (a batch-built filter
    * could seed the stream's state). Zero false negatives — a true
    * duplicate never passes; a false positive silently DROPS a fresh
    * record at the fp rate the batch twin's m-sweep measures — the trade
    * dedup-at-ingest accepts when the key space outgrows any per-key
    * store. Records fold in offset order within a (shard, batch), so
    * admission is deterministic and replay-stable.
    */
  def bloomDedupStream(shaped: DataFrame, mBits: Int = 1 << 16,
      shards: Int = 16): Dataset[DedupedEvent] = {
    require(mBits > 0 && mBits % 64 == 0, s"mBits=$mBits: need a multiple of 64")
    val spark = shaped.sparkSession
    import spark.implicits._
    shaped
      .select(col("value.uid").as("uid"), col("value.etype").as("etype"),
        col("offset"))
      .as[DedupedEvent]
      .groupByKey(e => math.floorMod(e.uid, shards))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Int, rows: Iterator[DedupedEvent],
            state: GroupState[Array[Long]]) => {
          val bits = state.getOption.getOrElse(new Array[Long](mBits / 64))
          val md = java.security.MessageDigest.getInstance("MD5")
          val out = Vector.newBuilder[DedupedEvent]
          rows.toSeq.sortBy(_.offset).foreach { e =>
            val hex = md.digest(s"${e.uid}|${e.etype}".getBytes("UTF-8"))
              .take(8).map(b => f"$b%02x").mkString
            val ps = (0 until 4).map(j =>
              Integer.parseInt(hex.substring(j * 4, j * 4 + 4), 16) % mBits)
            if (!ps.forall(p => ((bits(p >> 6) >>> (p & 63)) & 1L) == 1L)) {
              ps.foreach(p => bits(p >> 6) |= 1L << (p & 63))
              out += e
            }
          }
          state.update(bits)
          out.result().iterator
        })
  }

  /** A per-user feature snapshot after a micro-batch (streaming PIT twin). */
  final case class FeatureSnapshot(
      uid: Int, n_events: Long, spend_cents: Long, last_etype: String)

  /** Streaming running features per user — the ONLINE twin of the batch
    * point-in-time join (q_feature_pit): the same three features (events
    * seen, purchase cents, last event type) maintained as mapGroups state
    * and emitted as a fresh snapshot whenever a user's group receives rows.
    * A feature store serves these snapshots for inference while
    * q_feature_pit back-fills training sets from history — SAME semantics,
    * two freshness paths. Cents are accumulated via the HALF_UP
    * decimal(18,2) rule so the online value matches the batch twin's exact
    * arithmetic (never a raw double sum). Rows fold in offset order, so
    * last_etype is deterministic within a batch.
    *
    * Scale: state is three scalars per ACTIVE user; pair with a timeout
    * (the dedupStreamExpiring pattern) when the key space is unbounded.
    */
  def runningFeatures(shaped: DataFrame): Dataset[FeatureSnapshot] = {
    val spark = shaped.sparkSession
    import spark.implicits._
    shaped
      .select(col("value.uid").as("uid"), col("value.etype").as("etype"),
        col("value.dval").as("dval"), col("offset"))
      .as[(Int, String, Double, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Int, rows: Iterator[(Int, String, Double, Long)],
            state: GroupState[(Long, Long, String)]) => {
          var (n, cents, last) = state.getOption.getOrElse((0L, 0L, "none"))
          rows.toSeq.sortBy(_._4).foreach { case (_, etype, dval, _) =>
            n += 1
            if (etype == "purchase")
              cents += new java.math.BigDecimal(dval)
                .setScale(2, java.math.RoundingMode.HALF_UP)
                .movePointRight(2).longValueExact()
            last = etype
          }
          state.update((n, cents, last))
          Iterator.single(FeatureSnapshot(uid, n, cents, last))
        })
  }

  /** Per-type CUSUM state after a micro-batch (streaming q_ts_cusum twin). */
  final case class CusumSnapshot(
      etype: String, n_seen: Long, s_hi: Long, s_lo: Long, alarm: Boolean)

  /** Streaming two-sided CUSUM monitor — the ONLINE twin of the batch
    * q_ts_cusum chart and the stateful complement to [[driftMonitor]]
    * (PSI compares each batch's distribution in isolation and forgets it;
    * CUSUM carries S⁺/S⁻ ACROSS micro-batches, so a small persistent
    * shift that never trips a per-batch test accumulates until it pages).
    * Same exact-integer recurrence as the batch twin
    * (S⁺ = max(0, S⁺ + (x − μ₀ − k)), mirrored low side), folded in
    * offset order per event type via mapGroupsWithState; emits one
    * snapshot per (type, batch) with the alarm flag.
    *
    * Scale: state is two longs + a counter per event type (bounded key
    * space); values go through the HALF_UP decimal(18,2) cents rule so
    * the online statistic equals the batch chart's exact arithmetic.
    */
  def cusumMonitor(shaped: DataFrame, mu0Cents: Long, slackCents: Long,
      hCents: Long): Dataset[CusumSnapshot] = {
    val spark = shaped.sparkSession
    import spark.implicits._
    shaped
      .select(col("value.etype").as("etype"), col("value.dval").as("dval"),
        col("offset"))
      .as[(String, Double, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (etype: String, rows: Iterator[(String, Double, Long)],
            state: GroupState[(Long, Long, Long)]) => {
          var (sh, sl, n) = state.getOption.getOrElse((0L, 0L, 0L))
          rows.toSeq.sortBy(_._3).foreach { case (_, dval, _) =>
            val cents = new java.math.BigDecimal(dval)
              .setScale(2, java.math.RoundingMode.HALF_UP)
              .movePointRight(2).longValueExact()
            sh = math.max(0L, sh + (cents - mu0Cents - slackCents))
            sl = math.max(0L, sl + (mu0Cents - slackCents - cents))
            n += 1
          }
          state.update((sh, sl, n))
          Iterator.single(CusumSnapshot(etype, n, sh, sl,
            sh > hCents || sl > hCents))
        })
  }

  /** One heavy-hitter row emitted by [[heavyHitters]] after each batch. */
  final case class HeavyHitter(etype: String, rank: Int, uid: Int,
      est: Long, err: Long)

  /** Streaming heavy-hitters via SpaceSaving (Metwally 2005) in
    * flatMapGroupsWithState — the BOUNDED-state answer to "top spenders so
    * far" that an exact streaming groupBy can't give (its state grows with
    * distinct keys; SpaceSaving holds exactly `capacity` counters per
    * group forever): an unseen uid evicts the minimum counter and inherits
    * its count as the overestimation bound `err`, preserving the invariant
    * true ≤ est ≤ true + err. Eviction ties break to the SMALLEST uid —
    * deterministic under replay (the sink's O11 contract). After each
    * micro-batch the current top-3 per event type is emitted as ranked
    * rows.
    *
    * At scale this is the per-key mergeable sketch: state is
    * O(groups × capacity) regardless of user cardinality, and two
    * SpaceSaving summaries merge by counter addition + re-truncation —
    * the same economics as the batch q_agg_countmin family, but live.
    */
  def heavyHitters(shaped: DataFrame, capacity: Int): Dataset[HeavyHitter] = {
    val spark = shaped.sparkSession
    import spark.implicits._
    shaped
      .select(col("value.etype").as("etype"), col("value.uid").as("uid"),
        col("offset"))
      .as[(String, Int, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (etype: String, rows: Iterator[(String, Int, Long)],
            state: GroupState[Map[Int, (Long, Long)]]) => {
          var ctr = state.getOption.getOrElse(Map.empty[Int, (Long, Long)])
          rows.toSeq.sortBy(_._3).foreach { case (_, uid, _) =>
            ctr.get(uid) match {
              case Some((c, e)) => ctr = ctr.updated(uid, (c + 1, e))
              case None if ctr.size < capacity =>
                ctr = ctr.updated(uid, (1L, 0L))
              case None =>
                val (evictUid, (minC, _)) =
                  ctr.minBy { case (u, (c, _)) => (c, u) }
                ctr = (ctr - evictUid).updated(uid, (minC + 1, minC))
            }
          }
          state.update(ctr)
          ctr.toSeq
            .sortBy { case (u, (c, _)) => (-c, u) }
            .take(3).zipWithIndex
            .map { case ((u, (c, e)), i) =>
              HeavyHitter(etype, i + 1, u, c, e) }
            .iterator
        })
  }

  /** A closed session summary emitted by [[sessionize]]. */
  final case class SessionOut(uid: Int, start_ms: Long, end_ms: Long,
      n_events: Long, first_etype: String, last_etype: String,
      sealed_by: String)

  /** Custom sessionization via flatMapGroupsWithState + EVENT-TIME timeout —
    * the session shape the built-in session_window (sessionAgg above) can't
    * express: a session OBJECT carrying first/last event types, closed
    * either by an in-batch gap ("gap") or by the WATERMARK passing
    * last_event + gap ("timeout"). EventTimeTimeout is the correct seal for
    * event-time sessions: a quiet stream still seals once later data
    * advances the watermark, and a replayed batch re-seals identically
    * (ProcessingTimeTimeout would couple session ends to wall-clock —
    * nondeterministic under the sink's replay contract O11). State is one
    * (start, last, n, first, last) tuple per OPEN session per user —
    * bounded by active users, reclaimed on seal.
    */
  def sessionize(shaped: DataFrame, gapMs: Long): Dataset[SessionOut] = {
    val spark = shaped.sparkSession
    import spark.implicits._
    shaped
      .withWatermark("timestamp", "30 minutes")
      .select(col("value.uid").as("uid"), col("timestamp"),
        col("value.etype").as("etype"))
      .as[(Int, java.sql.Timestamp, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        (uid: Int, rows: Iterator[(Int, java.sql.Timestamp, String)],
            state: GroupState[(Long, Long, Long, String, String)]) => {
          if (state.hasTimedOut) {
            val (st, en, n, fe, le) = state.get
            state.remove()
            Iterator.single(SessionOut(uid, st, en, n, fe, le, "timeout"))
          } else {
            var out = List.empty[SessionOut]
            var cur = state.getOption
            rows.toSeq.sortBy(_._2.getTime).foreach { case (_, ts, et) =>
              val ms = ts.getTime
              cur = cur match {
                case Some((st, en, n, fe, _)) if ms - en <= gapMs =>
                  Some((st, math.max(en, ms), n + 1, fe, et))
                case Some((st, en, n, fe, le)) =>
                  out ::= SessionOut(uid, st, en, n, fe, le, "gap")
                  Some((ms, ms, 1L, et, et))
                case None => Some((ms, ms, 1L, et, et))
              }
            }
            cur.foreach { c =>
              state.update(c)
              // the seal time must sit past the current watermark or Spark
              // rejects it; a session already older than the watermark
              // seals at the very next trigger
              state.setTimeoutTimestamp(
                math.max(c._2 + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            out.reverse.iterator
          }
        })
  }

  /** Stream-stream interval join: purchases matched to same-user clicks in
    * the preceding 30 minutes (the streaming twin of the batch q_join_range).
    * Both sides carry watermarks so Spark can bound the join state: click
    * state is dropped once the purchase-side watermark passes
    * click_ts + 30min. Without the interval condition the state would be
    * unbounded — this is the canonical watermarked-join shape.
    */
  def clickPurchaseJoin(shaped: DataFrame): DataFrame = {
    val clicks = shaped.filter(col("value.etype") === "click")
      .select(col("value.uid").as("c_uid"), col("timestamp").as("c_ts"),
        col("offset").as("c_id"))
      .withWatermark("c_ts", "1 hour")
    val purchases = shaped.filter(col("value.etype") === "purchase")
      .select(col("value.uid").as("p_uid"), col("timestamp").as("p_ts"),
        col("offset").as("p_id"))
      .withWatermark("p_ts", "1 hour")
    purchases.join(clicks,
      col("p_uid") === col("c_uid") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
        col("c_ts") < col("p_ts"))
  }

  /** Left-outer variant of clickPurchaseJoin — the attribution shape that
    * also has to account for UNATTRIBUTED purchases. Outer stream-stream
    * joins are watermark-gated on the null side: a purchase with no
    * qualifying click can only emit its null row once the watermark passes
    * the purchase's join window (until then a matching click may still
    * arrive), so the null emission is DELAYED, not dropped — the semantic
    * this op exists to pin (and the reason Spark requires the interval
    * condition: it bounds how long each purchase must wait).
    */
  def clickPurchaseJoinOuter(shaped: DataFrame): DataFrame = {
    val clicks = shaped.filter(col("value.etype") === "click")
      .select(col("value.uid").as("c_uid"), col("timestamp").as("c_ts"),
        col("offset").as("c_id"))
      .withWatermark("c_ts", "1 hour")
    val purchases = shaped.filter(col("value.etype") === "purchase")
      .select(col("value.uid").as("p_uid"), col("timestamp").as("p_ts"),
        col("offset").as("p_id"))
      .withWatermark("p_ts", "1 hour")
    purchases.join(clicks,
      col("p_uid") === col("c_uid") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
        col("c_ts") < col("p_ts"),
      "leftOuter")
  }

  /** Stream-static dimension enrichment: every micro-batch left-joins the
    * (small, broadcast) static dimension — the standard feature-lookup shape.
    * The broadcast hint keeps the stream side shuffle-free: at scale the
    * stream partitions map against a replicated dim, and the static side is
    * re-read per batch only if its source changes (Spark re-plans static
    * sides each micro-batch).
    */
  def enrichStream(shaped: DataFrame, dim: DataFrame, dimKey: String): DataFrame =
    shaped.join(broadcast(dim), col("value.uid") === dim(dimKey), "left")

  /** Streaming corpus admission — the streaming twin of q_corpus_pipeline's
    * normalize → quality-gate → near-dup-gate chain, run per micro-batch
    * against the PERSISTED BandIndex so history text is never rescanned.
    * Each batch: (1) normalize text, (2) drop docs under `minToks` tokens,
    * (3) drop docs sharing a MinHash band with the index, (4) append the
    * survivors' bands — admitted docs gate every LATER batch, including
    * within-stream replays — and (5) hand the kept batch to `onBatch`.
    *
    * The kept frame is MATERIALIZED (localCheckpoint) before the index
    * append: the anti-join must never re-evaluate against an index that
    * already contains this batch's own bands — lazily, (4) would make (3)
    * drop everything it just admitted. Two near-dups arriving in the SAME
    * batch both admit (neither is indexed yet); intra-batch near-dedup is
    * the batch operators' job (q_dedup_minhash) and a pre-step if needed.
    * `BandIndex.ensure` must have been called for `indexKey`.
    */
  /** Streaming Write–Audit–Publish — q_pipeline_wap's quality gate at
    * micro-batch granularity: every micro-batch stages through the
    * offset-named sink under its own per-batch topic, is audited on the
    * STAGED read-back (offset continuity: count == span — the
    * q_events_gaps "did we lose data" rule, enforced BEFORE anything
    * becomes visible), and then commits to the FINAL dir (clean) or the
    * QUARANTINE dir (violations) — bad extracts never reach consumers and
    * are preserved for forensics instead of dropped. Both commits are the
    * sink's idempotent offset-named writes, so a crash-replayed batch
    * re-stages, re-audits, and re-lands byte-identically (exactly-once
    * composes with the gate). The audit reads only the batch's own staged
    * topic — published history is never rescanned.
    *
    * `onBatch(batchId, stagedRows, gapRows, published)` receives the audit
    * evidence per batch.
    */
  def wapPipeline(shaped: DataFrame, stagingDir: String, finalDir: String,
      quarantineDir: String, flushSize: Long = 250,
      checkpointDir: Option[String] = None)(
      onBatch: (Long, Long, Long, Boolean) => Unit): StreamingQuery = {
    val writer = shaped.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val b = batch.localCheckpoint(true)
      if (b.isEmpty) {
        // empty micro-batches still report: a caller polling for N audited
        // batches (the StreamingSpec pattern) must not stall to its deadline
        // because a trigger produced no rows — 0 staged, 0 gaps, published
        // vacuously true, and nothing touches the sink dirs.
        onBatch(batchId, 0L, 0L, true)
      } else {
        val tp = f"wap$batchId%05d"
        OffsetNamedOrcSink.write(b, stagingDir, flushSize, topic = tp)
        val row = OffsetNamedOrcSink
          .read(b.sparkSession, s"$stagingDir/topics/$tp")
          .agg(count(lit(1L)), min("offset"), max("offset")).head()
        val (cnt, lo, hi) = (row.getLong(0), row.getLong(1), row.getLong(2))
        val clean = hi - lo + 1 == cnt
        OffsetNamedOrcSink.write(b,
          if (clean) finalDir else quarantineDir, flushSize, topic = tp)
        onBatch(batchId, cnt, hi - lo + 1 - cnt, clean)
      }
    }
    // a checkpoint makes restarts resume at the unprocessed source offsets;
    // without one (the default) each run uses a fresh temp checkpoint and a
    // replayed batch re-stages/re-lands byte-identically (idempotent names)
    checkpointDir.fold(writer)(writer.option("checkpointLocation", _)).start()
  }

  def corpusAdmit(docs: DataFrame, indexKey: String, minToks: Int,
      checkpointDir: Option[String] = None,
      availableNow: Boolean = false)(
      onBatch: DataFrame => Unit): StreamingQuery = {
    val B = graft.operators.DedupOps.BandIndex
    // the stream-defining (root) session: per-batch session clones inherit
    // ITS relation cache, so the post-append refresh must land there or the
    // next batch's clone starts from the pre-append file listing
    val root = docs.sparkSession
    val writer = docs.writeStream.foreachBatch { (b: DataFrame, _: Long) =>
      val norm = b.select(col("doc_id"),
          trim(regexp_replace(regexp_replace(lower(col("text")),
            "[^a-z0-9 ]", " "), " +", " ")).as("text"))
        .filter(size(split(col("text"), " ")) >= minToks)
      val dupIds = B.bands(norm)
        .join(b.sparkSession.table(B.name(indexKey)).hint("MERGE"),
          Seq("band"), "left_semi")
        .select("doc_id").distinct()
      val kept = norm.join(dupIds, Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      B.append(root, indexKey, kept)
      onBatch(kept)
    }
    // a checkpoint makes restarts resume at the unprocessed source offsets
    // (admission must not re-judge history after a crash — an admitted
    // doc's replay would be rejected as a near-dup of ITSELF, silently
    // shrinking the corpus); AvailableNow is the cron-shaped admission
    // drain, the same discipline as bandIndexMaintainer.
    val ck = checkpointDir.fold(writer)(writer.option("checkpointLocation", _))
    (if (availableNow) ck.trigger(Trigger.AvailableNow()) else ck).start()
  }

  /** Per-micro-batch PSI drift monitor — the streaming face of the batch
    * q_stats_psi gate: the reference histogram (fixed-width value bins) is
    * computed ONCE from a static reference frame, then every micro-batch
    * bins its own values, add-one-smooths both sides over the union of
    * bins, and emits one (n_rows, psi_micro) row through `onBatch` — the
    * serve-time distribution check that pages before a drifted upstream
    * poisons a training snapshot.
    *
    * Same fixed-point arithmetic as the batch twin (ppm frequencies,
    * milli-nat quantized ln, zero-clamped contributions, `div` only on
    * non-negatives), so batch and stream agree on the same inputs. The
    * reference histogram is bin-count-sized (score-domain-bounded), joined
    * as a broadcast into each batch; per-batch cost is one map-side bin
    * agg over the micro-batch.
    *
    * `values` must carry a LONG `c` column (e.g. exact cents).
    */
  def driftMonitor(values: DataFrame, reference: DataFrame,
      binWidth: Long = 5000L, checkpointDir: Option[String] = None,
      availableNow: Boolean = false)(
      onBatch: (Long, Long, Long) => Unit): StreamingQuery = {
    val refHist = reference
      .selectExpr(s"c div $binWidth AS bin")
      .groupBy("bin").agg(count(lit(1L)).as("cref"))
      .localCheckpoint(true)
    val writer = values.writeStream.foreachBatch { (b: DataFrame, batchId: Long) =>
      val batchHist = b
        .selectExpr(s"c div $binWidth AS bin")
        .groupBy("bin").agg(count(lit(1L)).as("ccur"))
      val bins = refHist.join(batchHist, Seq("bin"), "full_outer")
        .select(col("bin"), coalesce(col("cref"), lit(0L)).as("cref"),
          coalesce(col("ccur"), lit(0L)).as("ccur"))
      val tot = bins.agg(sum("cref").as("nref"), sum("ccur").as("ncur"),
        count(lit(1L)).as("nb"))
      val out = bins.crossJoin(broadcast(tot))
        .select(col("ccur"),
          expr("(ccur + 1) * 1000000 div (ncur + nb)").as("p_ppm"),
          expr("(cref + 1) * 1000000 div (nref + nb)").as("q_ppm"),
          round(log((col("ccur") + 1.0) * (col("nref") + col("nb")) /
            ((col("cref") + 1.0) * (col("ncur") + col("nb")))) * 1000)
            .cast("long").as("lr_mnat"))
        .select(col("ccur"),
          expr("greatest((p_ppm - q_ppm) * lr_mnat, 0) div 1000")
            .as("contrib_micro"))
        .agg(sum("ccur").as("n"), sum("contrib_micro").as("psi"))
        .head()
      onBatch(batchId, out.getLong(0), out.getLong(1))
    }
    // checkpointed restarts resume at the unprocessed offsets (each batch
    // must be scored exactly once — a replayed batch would double-page);
    // AvailableNow is the drain-and-terminate monitoring pass.
    val ck = checkpointDir.fold(writer)(writer.option("checkpointLocation", _))
    (if (availableNow) ck.trigger(Trigger.AvailableNow()) else ck).start()
  }

  /** The reference's end-to-end job as a stream: file source → Kafka shape →
    * offset-named chunked ORC files, exactly-once via checkpoint + the
    * sink's idempotent offset-named commit (O7/O10/O11).
    */
  def runPipeline(spark: SparkSession, srcDir: String, outDir: String,
      checkpointDir: String, flushSize: Long = 250,
      rotateMs: Option[Long] = None): StreamingQuery = {
    val shaped = KafkaShaped.streamFromDir(spark, srcDir)
    shaped.writeStream
      .queryName("graft-orc-pipeline")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        OffsetNamedOrcSink.write(batch, outDir, flushSize, rotateMs = rotateMs)
        ()
      }
      .start()
  }

  /** Convenience: run the streaming pipeline to completion over a static
    * directory and return the read-back result.
    */
  def runPipelineBlocking(spark: SparkSession, srcDir: String, outDir: String,
      flushSize: Long = 250): DataFrame = {
    val checkpoint = Files.createTempDirectory("graft-ckpt-").toString
    val q = runPipeline(spark, srcDir, outDir, checkpoint, flushSize)
    q.awaitTermination()
    OffsetNamedOrcSink.read(spark, s"$outDir/topics/${KafkaShaped.topic}")
  }

  /** Maintain the persisted MinHash band index (DedupOps.BandIndex — the
    * dedup state a 100-TB pipeline carries between batches) FROM the sink's
    * own landing stream: tail the topic with streamFromSink and, per landed
    * batch of documents, append the batch's band keys into the bucketed
    * index (first batch creates it). The dedup index is then current the
    * moment data commits — no separate backfill job between ingest and the
    * next incremental-dedup run (VERDICT r8 item 5).
    *
    * Restart safety, two layers: (1) the file source's processed-files
    * checkpoint re-emits nothing already indexed, so a restart resumes at
    * exactly the unindexed files; (2) if a crash lands BETWEEN a batch's
    * INSERT and its offset commit, the replayed batch appends the same
    * band rows twice — harmless BY CONSTRUCTION, because the index is
    * consumed as a SET (every probe aggregates countDistinct hist_doc /
    * min hist_doc; q_dedup_incremental's shape), so at-least-once append
    * is exactly-once dedup semantics. Sink chunk REPLAYS rewrite the same
    * committed file names, which the path-keyed file source does not
    * re-emit — the index keeps the first-commit view, the documented
    * contract of tailing an idempotently-rewritten layout.
    *
    * `indexKey` scopes the index table name (the per-sfDir discipline of
    * BandIndex.name). AvailableNow trigger: each invocation drains what has
    * landed and terminates — the cron-shaped maintenance run; a continuous
    * maintainer is the same call with the default trigger.
    */
  def bandIndexMaintainer(spark: SparkSession, topicDir: String,
      valueSchema: org.apache.spark.sql.types.StructType,
      indexKey: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 1000): StreamingQuery = {
    val idx = graft.operators.DedupOps.BandIndex
    streamFromSink(spark, topicDir, valueSchema, maxFilesPerTrigger)
      .select(col("doc_id"), col("text"))
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // ensure() CTASes from the FIRST batch; later batches append.
        // Both run their view+DDL on the batch's own session (BandIndex's
        // foreachBatch session discipline).
        if (spark.catalog.tableExists(idx.name(indexKey)))
          idx.append(spark, indexKey, batch)
        else { idx.ensure(spark, indexKey, batch); () }
      }
      .start()
  }

  /** The sink as a SOURCE: tail a topic dir's committed ORC files as a
    * stream — how a downstream consumer (feature builder, trainer feed)
    * subscribes to landed data without re-reading the topic. Safe against
    * in-flight commits by construction, in three parts (each observed
    * failing live without it — the spec's tail runs continuous triggers
    * against concurrent writes): (1) `recursiveFileLookup` disables
    * directory-based partition inference, which would otherwise die with
    * CONFLICTING_PARTITION_COLUMN_NAMES the moment a listing raced a
    * commit — the transient `_chunk=c` staging dirs are EXEMPT from the
    * file index's `_` filter because their names contain '='; (2) the
    * committed-name pathGlobFilter `*+*+*.orc` excludes every staging
    * `part-*` file and every sink marker, admitting exactly the
    * offset-named commits, which appear atomically at their final names
    * via the hoist rename; (3) `ignoreMissingFiles` covers the TRAVERSAL
    * itself: the recursive walk can enter a `_chunk=c` staging dir and
    * have the commit hoist delete it before the child listing runs — the
    * listing then throws "File …/_chunk=c does not exist" and kills the
    * query (observed live, r10). The per-source option is honored in the
    * LISTING phase (InMemoryFileIndex builds FileSourceOptions from the
    * source's own option map — verified against the Spark 4.1 bytecode)
    * as well as the read phase, where a committed file vanishing
    * mid-batch (expire/compact under the single-writer caveat) degrades
    * to the documented at-least-the-first-commit contract instead of a
    * stream kill. The dir-encoded columns (partition, dt, chunk)
    * are re-derived from the committed path, which embeds them all.
    * Exactly-once per file from the file-source's processed-files log;
    * chunk replays rewrite the SAME file name, which the file source
    * (keyed on path) does not re-emit — a consumer therefore sees a
    * chunk's rows as-of first commit, the documented
    * at-least-the-first-commit contract of tailing an idempotently-
    * rewritten layout. Tailing during a REPLAY (stale-file delete→rename
    * gaps) carries the same single-writer caveat as `read`.
    *
    * The value schema must be supplied (streaming sources cannot infer;
    * normally `KafkaShaped.valueSchema` plus whatever the drift policy
    * latched). `maxFilesPerTrigger` bounds per-batch work for backfills over
    * topics with many committed files.
    *
    * Installs `LocalCheckpointFileManager` as the session's checkpoint file
    * manager unless one is configured, so the streams started from it
    * write their `file:` checkpoint logs without forking a process.
    */
  def streamFromSink(spark: SparkSession, topicDir: String,
      valueSchema: org.apache.spark.sql.types.StructType,
      maxFilesPerTrigger: Int = 1000): DataFrame = {
    LocalCheckpointFileManager.install(spark)
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // recursiveFileLookup DISABLES directory-based partition inference —
    // the race-proofing: a mid-commit `_chunk=` staging dir (exempt from the
    // `_` filter because its name contains '=') can then never reach
    // partition parsing. Every dir-encoded column is re-derived from the
    // committed file PATH instead: partition and chunk are embedded in the
    // name contract (`OffsetNamedOrcSink.CommittedName`), dt in its dir.
    val prefixCols =
      OffsetNamedOrcSink.prefixColsOf(OffsetNamedOrcSink.layoutId(spark, topicDir))
    val schema = StructType(
      StructField("offset", LongType) +: valueSchema.fields.toSeq)
    val base = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*+*+*.orc") // committed names only — see scaladoc
      .option("ignoreMissingFiles", "true") // staging dir deleted mid-walk — see scaladoc
      .orc(topicDir)
      .withColumn("partition", regexp_extract(input_file_name(),
        OffsetNamedOrcSink.CommittedName.Tail, 1).cast("int"))
      .withColumn(OffsetNamedOrcSink.ChunkCol, regexp_extract(input_file_name(),
        OffsetNamedOrcSink.CommittedName.Tail, 2).cast("long"))
    // one column per value-derived dir level (dt=/year=/<field>=…),
    // unescaped back to the raw value: partitionBy Hive-escapes path-special
    // chars (%XX) when writing the dirs. Hive escaping never emits '+', so
    // pre-encoding literal '+' makes url_decode the exact inverse (plain
    // url_decode would eat '+' as a space). A Field-routed column that is
    // LATCHED non-string is cast back to its latched type so this path
    // agrees with batch read()'s declared-schema typing (ADVICE r4); the
    // write side renders null field values as the literal "null" dir, which
    // maps back to NULL here. Time-layout levels (dt/year/…) are sink-
    // generated strings with no latched type and stay strings.
    prefixCols.foldLeft(base) { (df, n) =>
      val raw = url_decode(regexp_replace(
        regexp_extract(input_file_name(), s"/$n=([^/]+)/", 1),
        "\\+", "%2B"))
      val typed = valueSchema.fields.find(_.name == n) match {
        case Some(f) if f.dataType != org.apache.spark.sql.types.StringType =>
          when(raw === "null", lit(null).cast(f.dataType))
            .otherwise(raw.cast(f.dataType))
        case _ => raw
      }
      df.withColumn(n, typed)
    }
  }
}
