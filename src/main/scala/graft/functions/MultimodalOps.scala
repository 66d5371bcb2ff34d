package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GQuery, Prefix, QueryModule, Tables}

/** Multimodal-column block (north-star): media as opaque `binary` payloads
  * with typed metadata, processed through the real distributed plumbing —
  * a typed Dataset `mapPartitions` pass (the Scala analogue of
  * mapInPandas-batched decode): per-partition iterator, no driver
  * collection, output schema declared by the case-class encoder.
  *
  * STUB NOTICE: no image/audio codecs exist in this container, so
  * `decodeStub` is a clearly-marked deterministic fake decoder over the
  * payload bytes (documents.text encoded UTF-8 stands in for the media
  * blob). The Spark-side plumbing — binary column, typed encoder, batch
  * iteration, partitioning — is real and oracled; swapping in a real codec
  * replaces ONLY the body of decodeStub.
  */
object MultimodalOps extends QueryModule {

  /** A decoded media record: deterministic pseudo-features of the payload. */
  final case class MediaFeatures(
      doc_id: Long,
      n_bytes: Long,   // payload size ("file size")
      head_sum: Long,  // sum of first 16 byte values ("header checksum")
      tail_code: Int,  // last byte ("trailer marker")
      fake_w: Int,     // n_bytes % 64  ("decoded width")
      fake_h: Int)     // n_bytes % 48  ("decoded height")

  /** ===== DETERMINISTIC FAKE DECODER (stub for a real image/audio codec;
    * replace the body with e.g. javax.imageio / ffmpeg bindings) =====
    */
  def decodeStub(docId: Long, payload: Array[Byte]): MediaFeatures = {
    val n = payload.length.toLong
    val headSum = payload.iterator.take(16).map(b => (b & 0xff).toLong).sum
    val tail = if (payload.isEmpty) 0 else payload(payload.length - 1) & 0xff
    MediaFeatures(docId, n, headSum, tail, (n % 64).toInt, (n % 48).toInt)
  }

  /** The distributed decode pass: binary payload column → typed features.
    * mapPartitions (not map) so a real codec can amortize per-batch init
    * (decoder handles, model weights) across the partition's records.
    */
  def decodeAll(docs: DataFrame): Dataset[MediaFeatures] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition decoder init would go here (once, not per record)
        it.map { case (id, payload) => decodeStub(id, payload) }
      }
  }

  /** Oracled query over the decode pass. The DuckDB twin recomputes the
    * fake features in SQL (payload bytes == ASCII codes for this corpus —
    * verified octet_length == length on all rows).
    */
  private val qMultimodalDecode = GQuery(
    (s, d) => decodeAll(Tables(s, d, "documents")).toDF().orderBy("doc_id"),
    Some("""SELECT doc_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                   CAST(coalesce(list_sum(list_transform(
                     generate_series(1, least(length(text), 16)),
                     i -> ascii(substr(text, CAST(i AS INT), 1)))), 0) AS BIGINT)
                     AS head_sum,
                   CAST(ascii(substr(text, length(text), 1)) AS INT) AS tail_code,
                   CAST(octet_length(encode(text)) % 64 AS INT) AS fake_w,
                   CAST(octet_length(encode(text)) % 48 AS INT) AS fake_h
            FROM documents ORDER BY doc_id"""))

  /** One sampled frame of a media payload (the 1→N decode shape). */
  final case class FrameFeatures(
      doc_id: Long,
      frame_idx: Int,  // index on the fixed 256-byte frame grid
      frame_len: Int,  // bytes in this frame (last frame may be short)
      fsum: Long)      // checksum of the frame's first 8 bytes

  /** Frame sampling — the video-frame-extraction / audio-chunking shape:
    * one payload row flatMaps to every STRIDE-th fixed-size frame, each
    * carrying deterministic pseudo-features. Same stub-codec contract as
    * decodeStub; the real plumbing being exercised is the 1→N typed
    * `mapPartitions` expansion (a real extractor amortizes its decoder
    * handle per partition and yields frames lazily — no per-doc frame
    * buffer materializes).
    */
  def sampleFrames(docs: DataFrame, frameBytes: Int = 256,
      stride: Int = 2): Dataset[FrameFeatures] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          val nFrames = (payload.length + frameBytes - 1) / frameBytes
          (0 until nFrames).iterator.filter(_ % stride == 0).map { f =>
            val off = f * frameBytes
            val len = math.min(frameBytes, payload.length - off)
            val fsum = payload.iterator.slice(off, off + math.min(8, len))
              .map(b => (b & 0xff).toLong).sum
            FrameFeatures(id, f, len, fsum)
          }
        }
      }
  }

  /** Oracled frame-sampling query (ASCII corpus ⇒ byte == char arithmetic
    * in the DuckDB twin, as verified for q_multimodal_decode).
    */
  private val qMultimodalFrames = GQuery(
    (s, d) => sampleFrames(Tables(s, d, "documents")).toDF()
      .orderBy("doc_id", "frame_idx"),
    Some("""WITH d AS (
              SELECT doc_id, text, octet_length(encode(text)) AS n
              FROM documents),
            f AS (
              SELECT doc_id, text, n,
                     unnest(generate_series(0,
                       CAST((n + 255) // 256 AS INT) - 1)) AS fidx
              FROM d)
            SELECT doc_id,
                   CAST(fidx AS INT) AS frame_idx,
                   CAST(least(256, n - fidx*256) AS INT) AS frame_len,
                   CAST(list_sum(list_transform(
                     generate_series(1, CAST(least(8, n - fidx*256) AS INT)),
                     i -> ascii(substr(text, CAST(fidx*256 + i AS INT), 1))))
                     AS BIGINT) AS fsum
            FROM f WHERE fidx % 2 = 0
            ORDER BY doc_id, frame_idx"""))

  /** Exact content dedup of binary payloads by (size, md5) identity — the
    * image/audio dedup stage that runs BEFORE any decode: the same blob
    * ingested twice under different ids (re-crawl, mirror, re-upload) is
    * one asset. The double-ingest is staged explicitly: docs with id < 50
    * re-enter under id+10000, and the query recovers exactly those — per
    * duplicated content group the keeper (min id) plus each dropped id.
    *
    * Size joins the hash in the group key for the production reason, not
    * correctness: at 100 TB the 8-byte length short-circuits comparison
    * before anyone hashes 100 MB blobs, and lets a deployment hash only
    * within size-buckets that actually collide. One window over the
    * (hash, size)-partitioned groups — high-cardinality key, map-side
    * friendly, no self-join. md5 is the cross-engine anchor (CLAUDE.md);
    * the ASCII corpus makes DuckDB's string md5 byte-identical to Spark's
    * binary md5 (the decodeStub equivalence, verified there).
    */
  private val qMultimodalDedup = GQuery(
    (s, d) => {
      val base = Tables(s, d, "documents").select(col("doc_id"), col("text"))
      val corpus = base.unionByName(
        base.filter(col("doc_id") < 50)
          .select((col("doc_id") + 10000L).as("doc_id"), col("text")))
      val keyed = corpus.select(col("doc_id"),
        md5(col("text").cast("binary")).as("h"),
        octet_length(col("text")).cast("long").as("n_bytes"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("h", "n_bytes")
      keyed
        .withColumn("keeper_id", min("doc_id").over(w))
        .withColumn("n_copies", count(lit(1)).over(w))
        .filter(col("doc_id") =!= col("keeper_id"))
        .select(col("doc_id").as("dup_id"), col("keeper_id"),
          col("n_bytes"), col("n_copies"))
        .orderBy("dup_id")
    },
    Some("""WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50),
            keyed AS (
              SELECT doc_id, md5(text) AS h,
                     CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
              FROM corpus),
            grouped AS (
              SELECT doc_id, n_bytes,
                     min(doc_id) OVER (PARTITION BY h, n_bytes) AS keeper_id,
                     count(*) OVER (PARTITION BY h, n_bytes) AS n_copies
              FROM keyed)
            SELECT doc_id AS dup_id, keeper_id, n_bytes,
                   CAST(n_copies AS BIGINT) AS n_copies
            FROM grouped WHERE doc_id <> keeper_id
            ORDER BY dup_id"""))

  /** Perceptual-hash NEAR-dup of binary payloads — the rung ABOVE exact
    * (size, md5) dedup (q_multimodal_dedup): a re-encoded / lightly edited
    * asset changes every byte of a real file but barely moves a perceptual
    * signature, so near-dup detection hashes CONTENT STRUCTURE. The stub
    * signature is average-hash (aHash) over the decodeStub pseudo-image:
    * the first 256 payload bytes as a 16×16 grid, 8×8 blocks of 2×2, bit b
    * = 1 iff block b's byte sum beats the global mean (exact
    * cross-multiplied ints: bs·64 > total — no division). A real pipeline
    * swaps the byte arithmetic for DCT-pHash over decoded pixels; the
    * banding, candidate join, and Hamming verify are the real plumbing.
    *
    * Near-dups are PLANTED: docs with id < 30 re-enter under id+20000 with
    * the first character uppercased — every md5 differs (exact dedup is
    * blind) but only one 2×2 block's sum moves, so the aHash Hamming
    * distance stays ≤ 6 and the pair surfaces.
    *
    * Scale (the SimHash/MinHash banding economics): the 64-bit signature
    * splits into 4×16-bit bands; candidates share a (band-index, value,
    * size-bucket) key — never all-pairs — and only candidates pay the
    * 4-popcount Hamming verify. The size bucket rides the key for the same
    * reason q_multimodal_dedup groups on (md5, size): blobs that differ
    * grossly in length need no signature comparison at all. Buckets with
    * > 128 members are excluded from candidate generation (the LSH
    * stopword rule): zero-padding gives every short payload the same
    * degenerate all-zeros/all-ones bands, and those buckets grow
    * quadratically with corpus size while carrying zero near-dup signal
    * (measured at the sf1 probe: 124M of 124M candidate pairs; capped,
    * 305× fewer and linear). A true near-dup pair keeps surfacing through
    * its non-degenerate bands.
    */
  private val qMultimodalPhash = GQuery(
    (s, d) => {
      val base = Tables(s, d, "documents").select(col("doc_id"), col("text"))
      val corpus = base.unionByName(
        base.filter(col("doc_id") < 30)
          .select((col("doc_id") + 20000L).as("doc_id"),
            concat(upper(substring(col("text"), 1, 1)),
              expr("substring(text, 2)")).as("text")))
      // the 64 block sums + 64 threshold bits run in the native AHash64
      // kernel (one code-point pass; the HOF form — 256 interpreted
      // ascii(substring) calls per row — measured 4.2 s at sf0.1, parity
      // pinned in VectorExpressionsSpec); bands recover by 16-bit slices
      val sig = corpus
        .withColumn("ah",
          graft.functions.VectorExpressions.ahash64(col("text")))
        .withColumn("szb", expr("octet_length(text) div 64").cast("long"))
        .select(col("doc_id") +: col("szb") +: (0 to 3).map(k =>
          expr(s"shiftright(ah, ${16 * k}) & 65535").as(s"b$k")): _*)
        .localCheckpoint(true) // feeds the band explode AND both verify sides
      val bands = sig.select(col("doc_id"), col("szb"),
        posexplode(array(col("b0"), col("b1"), col("b2"), col("b3"))))
        .select(col("doc_id"), col("szb"), col("pos").as("k"),
          col("col").as("band"))
      // Heavy-bucket cap (the LSH stopword rule): a band value shared by
      // hundreds of payloads is a DEGENERATE pattern, not near-dup
      // evidence — zero-padding makes every sub-128-byte payload share
      // band 0 in the high slices (all-below-mean) and 65535 in the low
      // ones, and those buckets alone were 124M of the 124M candidate
      // pairs at the sf1 probe (α 1.86). Buckets over the cap are dropped
      // from candidate GENERATION only; a real near-dup pair still
      // surfaces through any of its other ≤128-doc bands. 128 > every
      // non-degenerate bucket at the gate SF (max 83), so the t2 output
      // is unchanged; at sf1 candidates drop 305× and the family is
      // linear again.
      val heavy = bands.groupBy("k", "band", "szb")
        .agg(count(lit(1L)).as("bc")).filter(col("bc") > 128)
        .select("k", "band", "szb")
      val lite = bands.join(heavy, Seq("k", "band", "szb"), "left_anti")
      val cand = lite.select(col("k"), col("band"), col("szb"),
          col("doc_id").as("doc_a"))
        .join(lite.select(col("k"), col("band"), col("szb"),
          col("doc_id").as("doc_b")), Seq("k", "band", "szb"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      cand
        .join(sig.select(col("doc_id").as("doc_a"), col("b0").as("a0"),
          col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3")), "doc_a")
        .join(sig.select(col("doc_id").as("doc_b"), col("b0").as("c0"),
          col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3")), "doc_b")
        .withColumn("hamming",
          expr("""bit_count(a0 ^ c0) + bit_count(a1 ^ c1)
                  + bit_count(a2 ^ c2) + bit_count(a3 ^ c3)""").cast("long"))
        .filter(col("hamming") <= 6)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
        .orderBy("doc_a", "doc_b")
    },
    Some("""WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 20000,
                     upper(substr(text, 1, 1)) || substr(text, 2)
              FROM documents WHERE doc_id < 30),
            blocks AS (
              SELECT doc_id, b,
                     CAST(
                       (CASE WHEN (2*(b//8))*16 + 2*(b%8) + 1 <= len(text)
                         THEN ord(substr(text, (2*(b//8))*16 + 2*(b%8) + 1, 1))
                         ELSE 0 END) +
                       (CASE WHEN (2*(b//8))*16 + 2*(b%8) + 2 <= len(text)
                         THEN ord(substr(text, (2*(b//8))*16 + 2*(b%8) + 2, 1))
                         ELSE 0 END) +
                       (CASE WHEN (2*(b//8)+1)*16 + 2*(b%8) + 1 <= len(text)
                         THEN ord(substr(text, (2*(b//8)+1)*16 + 2*(b%8) + 1, 1))
                         ELSE 0 END) +
                       (CASE WHEN (2*(b//8)+1)*16 + 2*(b%8) + 2 <= len(text)
                         THEN ord(substr(text, (2*(b//8)+1)*16 + 2*(b%8) + 2, 1))
                         ELSE 0 END) AS BIGINT) AS bs
              FROM corpus,
                   LATERAL (SELECT unnest(generate_series(0, 63)) AS b) bb),
            tsum AS (
              SELECT doc_id, CAST(sum(bs) AS BIGINT) AS ts
              FROM blocks GROUP BY 1),
            bands AS (
              SELECT bl.doc_id, CAST(bl.b // 16 AS INT) AS k,
                     CAST(sum(CASE WHEN bl.bs * 64 > t.ts
                       THEN 1 << (bl.b % 16) ELSE 0 END) AS BIGINT) AS band
              FROM blocks bl JOIN tsum t USING (doc_id)
              GROUP BY 1, 2),
            sz AS (
              SELECT doc_id, CAST(octet_length(encode(text)) // 64 AS BIGINT)
                       AS szb
              FROM corpus),
            wide AS (
              SELECT b.doc_id, s.szb,
                     max(CASE WHEN k = 0 THEN band END) AS b0,
                     max(CASE WHEN k = 1 THEN band END) AS b1,
                     max(CASE WHEN k = 2 THEN band END) AS b2,
                     max(CASE WHEN k = 3 THEN band END) AS b3
              FROM bands b JOIN sz s USING (doc_id)
              GROUP BY 1, 2),
            banded AS (
              SELECT ba.doc_id, ba.k, ba.band, s.szb
              FROM bands ba JOIN sz s USING (doc_id)),
            -- heavy-bucket cap (mirrors the Spark side): degenerate band
            -- values shared by >128 payloads generate no candidates
            heavy AS (
              SELECT k, band, szb FROM banded
              GROUP BY 1, 2, 3 HAVING count(*) > 128),
            lite AS (
              SELECT * FROM banded bd
              WHERE NOT EXISTS (SELECT 1 FROM heavy h
                WHERE h.k = bd.k AND h.band = bd.band AND h.szb = bd.szb)),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM lite a
              JOIN lite b
                ON a.k = b.k AND a.band = b.band AND a.szb = b.szb
                   AND a.doc_id < b.doc_id)
            SELECT c.doc_a, c.doc_b,
                   CAST(bit_count(xor(wa.b0, wb.b0))
                     + bit_count(xor(wa.b1, wb.b1))
                     + bit_count(xor(wa.b2, wb.b2))
                     + bit_count(xor(wa.b3, wb.b3)) AS BIGINT) AS hamming
            FROM cand c
            JOIN wide wa ON wa.doc_id = c.doc_a
            JOIN wide wb ON wb.doc_id = c.doc_b
            WHERE bit_count(xor(wa.b0, wb.b0)) + bit_count(xor(wa.b1, wb.b1))
                + bit_count(xor(wa.b2, wb.b2)) + bit_count(xor(wa.b3, wb.b3))
                <= 6
            ORDER BY doc_a, doc_b"""))

  /** One patch of the fixed 16×16 pseudo-image grid (ViT preprocessing). */
  final case class PatchFeatures(
      doc_id: Long,
      pr: Int,     // patch row on the 4×4 patch grid
      pc: Int,     // patch column
      psum: Long)  // sum of the patch's 4×4 byte values (absent bytes = 0)

  /** ViT-style patch extraction — the 2D companion to sampleFrames' 1D
    * chunking: the payload's first 256 bytes are treated as a 16×16
    * single-channel "image", cut into a 4×4 grid of 4×4-byte patches, each
    * emitted with its (row, col) POSITION — the typed metadata a patch
    * embedding consumes. Bytes past the payload end read as 0 (the codec
    * pad), so short payloads still yield the full grid. Same stub-codec
    * contract as decodeStub: a real vision pipeline replaces the byte
    * arithmetic with pixel decode; the 1→16 typed mapPartitions expansion,
    * the position schema, and the partition-amortized init point are the
    * real plumbing under test.
    */
  def extractPatches(docs: DataFrame): Dataset[PatchFeatures] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition decoder/model init would go here (once)
        it.flatMap { case (id, payload) =>
          (0 until 16).iterator.map { p =>
            val (pr, pc) = (p / 4, p % 4)
            var sum = 0L
            var i = 0
            while (i < 16) {
              val k = (pr * 4 + i / 4) * 16 + pc * 4 + i % 4
              if (k < payload.length) sum += (payload(k) & 0xff)
              i += 1
            }
            PatchFeatures(id, pr, pc, sum)
          }
        }
      }
  }

  /** Oracled patch-grid query (ASCII corpus ⇒ byte == char arithmetic in
    * the DuckDB twin, the q_multimodal_decode precedent).
    */
  private val qMultimodalPatches = GQuery(
    (s, d) => extractPatches(Tables(s, d, "documents")).toDF()
      .orderBy("doc_id", "pr", "pc"),
    Some("""WITH g AS (
              SELECT doc_id, text, length(text) AS n,
                     unnest(generate_series(0, 15)) AS p
              FROM documents),
            patch AS (
              SELECT doc_id, CAST(p // 4 AS INT) AS pr,
                     CAST(p % 4 AS INT) AS pc,
                     CAST(coalesce(list_sum(list_transform(
                       generate_series(0, 15),
                       t -> CASE WHEN ((p // 4) * 4 + t // 4) * 16
                                      + (p % 4) * 4 + t % 4 < n
                         THEN ascii(substr(text,
                           CAST(((p // 4) * 4 + t // 4) * 16
                             + (p % 4) * 4 + t % 4 + 1 AS INT), 1))
                         ELSE 0 END)), 0) AS BIGINT) AS psum
              FROM g)
            SELECT doc_id, pr, pc, psum FROM patch
            ORDER BY doc_id, pr, pc"""))

  /** WebDataset-style shard planner: assign binary assets to fixed-size
    * training shards (next-fit-decreasing within each source stream —
    * biggest assets place first, a shard closes when the running total
    * crosses the 64 KB target) and report per-shard count/bytes/fill. The
    * assignment is pure arithmetic on an EXCLUSIVE running sum (shard id =
    * cum_before div target), so it is deterministic, engine-portable, and
    * needs no sequential packer; the tar-writing itself would be the sink's
    * job (OffsetNamedOrcSink's chunk machinery is exactly this shape with
    * offsets for sizes).
    *
    * Scale: the window partitions by SOURCE — a real corpus plans shards
    * within (source, date) buckets, so no global sort ever happens; the
    * per-bucket window is the only sequential part and its width is the
    * bucket's asset count. fill_ppm ≈ 10⁶ shows healthy packing; a long
    * tail of tiny final shards flags bucket keys chosen too fine.
    */
  private val qMultimodalShard = GQuery(
    (s, d) => {
      val target = 64000L
      val assets = Tables(s, d, "documents")
        .select(col("source"), col("doc_id"),
          octet_length(col("text").cast("binary")).cast("long").as("bytes"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("source")
        .orderBy(col("bytes").desc, col("doc_id").asc)
      assets
        .withColumn("cb", Prefix.sumBefore(col("bytes"), w))
        .withColumn("shard", expr(s"cb div $target"))
        .groupBy("source", "shard")
        .agg(count(lit(1L)).as("n_assets"), sum("bytes").as("bytes"))
        .withColumn("fill_ppm", expr(s"bytes * 1000000 div $target"))
        .orderBy("source", "shard")
    },
    Some("""WITH assets AS (
              SELECT source, doc_id,
                     CAST(octet_length(CAST(text AS BLOB)) AS BIGINT)
                       AS bytes
              FROM documents),
            placed AS (
              SELECT source, doc_id, bytes,
                     CAST(coalesce(sum(bytes) OVER (PARTITION BY source
                       ORDER BY bytes DESC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       // 64000 AS BIGINT) AS shard
              FROM assets)
            SELECT source, shard, CAST(count(*) AS BIGINT) AS n_assets,
                   CAST(sum(bytes) AS BIGINT) AS bytes,
                   CAST(sum(bytes) * 1000000 // 64000 AS BIGINT) AS fill_ppm
            FROM placed GROUP BY 1, 2
            ORDER BY source, shard"""))

  /** One fixed-grid audio frame with its short-time energy. */
  final case class AudioFrame(
      doc_id: Long,
      frame_idx: Int, // index on the fixed 32-byte frame grid
      energy: Long)   // Σ (sample − 96)² over the frame's bytes

  /** Short-time energy per 32-byte frame — the VAD front-end shape: the
    * payload read as 8-bit PCM (the stub convention: documents.text
    * bytes stand in for samples; a real pipeline swaps this body for an
    * ffmpeg/PCM decode), each frame reduced to Σ(b−96)² with 96 ≈ the
    * corpus byte mean, so energy measures deviation like centered PCM
    * power. Same typed 1→N mapPartitions contract as sampleFrames.
    */
  def frameEnergies(docs: DataFrame, frameBytes: Int = 32)
      : Dataset[AudioFrame] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition decoder init would go here (once, not per record)
        it.flatMap { case (id, payload) =>
          val nFrames = (payload.length + frameBytes - 1) / frameBytes
          (0 until nFrames).iterator.map { f =>
            val off = f * frameBytes
            val end = math.min(off + frameBytes, payload.length)
            var e = 0L
            var i = off
            while (i < end) {
              val d = (payload(i) & 0xff) - 96; e += d.toLong * d; i += 1
            }
            AudioFrame(id, f, e)
          }
        }
      }
  }

  /** Voice-activity segmentation over the frame-energy stream — the
    * audio-specific op beside the generic frame sampler: frames with
    * energy > 29000 (≈ the corpus median — a real VAD fits this
    * threshold per recording) are "voiced", consecutive voiced frames
    * merge into segments via the gaps-and-islands key
    * (frame_idx − dense voiced rank, the q_events_session run-length
    * idiom on a frame grid instead of a time axis), and segments
    * shorter than 2 frames are dropped (the min-speech-duration rule).
    * Emits per segment: start/end frame, length, exact energy sum.
    *
    * Scale: the energy pass is map-only 1→N; the islands window
    * partitions BY DOC (never a global order), so segmentation
    * co-partitions with the decode and no stage sees more than one
    * recording's frames in order.
    */
  private val qMultimodalVad = GQuery(
    (s, d) => {
      val frames = frameEnergies(Tables(s, d, "documents")).toDF()
      val voiced = frames.filter(col("energy") > 29000L)
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("doc_id").orderBy("frame_idx")))
        .withColumn("isl", col("frame_idx") - col("rk"))
      voiced.groupBy("doc_id", "isl")
        .agg(min("frame_idx").as("start_frame"),
          max("frame_idx").as("end_frame"),
          count(lit(1L)).as("n_frames"),
          sum("energy").as("energy_sum"))
        .filter(col("n_frames") >= 2)
        .select(col("doc_id"), col("start_frame"), col("end_frame"),
          col("n_frames"), col("energy_sum"))
        .orderBy("doc_id", "start_frame")
    },
    Some("""WITH f AS (
              SELECT doc_id,
                     CAST((off - 1) // 32 AS INT) AS frame_idx,
                     CAST(list_sum(list_transform(
                       generate_series(off, least(off + 31, length(text))),
                       i -> (ascii(substr(text, CAST(i AS INT), 1)) - 96)
                          * (ascii(substr(text, CAST(i AS INT), 1)) - 96)))
                       AS BIGINT) AS energy
              FROM (SELECT doc_id, text,
                           unnest(generate_series(1, length(text), 32))
                             AS off
                    FROM documents)),
            v AS (
              SELECT doc_id, frame_idx, energy,
                     frame_idx - row_number() OVER (PARTITION BY doc_id
                       ORDER BY frame_idx) AS isl
              FROM f WHERE energy > 29000)
            SELECT doc_id, CAST(min(frame_idx) AS INT) AS start_frame,
                   CAST(max(frame_idx) AS INT) AS end_frame,
                   CAST(count(*) AS BIGINT) AS n_frames,
                   CAST(sum(energy) AS BIGINT) AS energy_sum
            FROM v GROUP BY doc_id, isl HAVING count(*) >= 2
            ORDER BY doc_id, start_frame"""))

  // ------------------------------------------------- aspect bucketing --

  /** Aspect-ratio bucketing — the image-training batcher (NovelAI/SDXL
    * bucketing, public): variable-aspect images can't share a batch, so
    * each asset is routed to the nearest of a FIXED aspect-bucket ladder
    * and batches form within a bucket. Aspect = w·1000 div h in exact
    * milli (stub dims clamped to ≥1 — the decoder stub's %64/%48 can
    * yield 0); buckets are the 7-step ladder {250, 500, 750, 1000, 1333,
    * 2000, 4000} milli (1:4 … 4:1); assignment is argmin |aspect−bucket|
    * via the kmeans packed-long min (dist·8 + idx — map-combinable, no
    * sort agg), ties to the smaller bucket. Emitted per bucket: asset
    * count, mean payload bytes (batch-memory planning) and mean absolute
    * aspect deviation in milli (the crop/resize distortion this ladder
    * inflicts — the tuning signal for adding rungs).
    *
    * Scale: decode is the map-only typed mapPartitions pass; the ladder
    * is a 7-row broadcast crossJoin (K rows per asset, K fixed), and the
    * result is a ≤K-row agg — no shuffle larger than the bucket key ever
    * forms. Exactly the shard-planner economics (q_multimodal_shard)
    * with aspect instead of size as the routing key.
    */
  private val qMultimodalAspect = GQuery(
    (s, d) => {
      val buckets = Seq(250L, 500L, 750L, 1000L, 1333L, 2000L, 4000L)
      val bdf = s.createDataFrame(
        buckets.zipWithIndex.map { case (b, i) => (i.toLong, b) })
        .toDF("bidx", "bucket_milli")
      val feats = decodeAll(Tables(s, d, "documents")).toDF()
        .select(col("doc_id"), col("n_bytes"),
          expr("(greatest(1, fake_w) * 1000) div greatest(1, fake_h)")
            .as("aspect_milli"))
      val assigned = feats.crossJoin(broadcast(bdf))
        .withColumn("dist", abs(col("aspect_milli") - col("bucket_milli")))
        .groupBy("doc_id")
        .agg(min(col("dist") * lit(8L) + col("bidx")).as("m"),
          max(col("n_bytes")).as("n_bytes"),
          max(col("aspect_milli")).as("aspect_milli"))
        .select(col("doc_id"), col("n_bytes"), col("aspect_milli"),
          pmod(col("m"), lit(8L)).as("bidx"),
          expr("m div 8").as("absdev_milli"))
      assigned.join(broadcast(bdf), "bidx")
        .groupBy("bucket_milli")
        .agg(count(lit(1L)).as("n_assets"),
          expr("sum(n_bytes) div count(1)").as("mean_bytes"),
          expr("sum(absdev_milli) div count(1)").as("mean_absdev_milli"))
        .orderBy("bucket_milli")
    },
    Some("""WITH f AS (
              SELECT doc_id,
                     CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                     (greatest(1, octet_length(encode(text)) % 64) * 1000)
                       // greatest(1, octet_length(encode(text)) % 48)
                       AS aspect_milli
              FROM documents),
            b AS (
              SELECT * FROM (VALUES (0, 250), (1, 500), (2, 750),
                (3, 1000), (4, 1333), (5, 2000), (6, 4000))
                AS t(bidx, bucket_milli)),
            assigned AS (
              SELECT doc_id, n_bytes, aspect_milli,
                     CAST(min(abs(aspect_milli - bucket_milli) * 8 + bidx)
                       AS BIGINT) AS m
              FROM f CROSS JOIN b
              GROUP BY 1, 2, 3)
            SELECT bk.bucket_milli,
                   CAST(count(*) AS BIGINT) AS n_assets,
                   CAST(sum(a.n_bytes) // count(*) AS BIGINT) AS mean_bytes,
                   CAST(sum(a.m // 8) // count(*) AS BIGINT)
                     AS mean_absdev_milli
            FROM assigned a
            JOIN (SELECT bidx, CAST(bucket_milli AS BIGINT) AS bucket_milli
                  FROM b) bk
              ON bk.bidx = a.m % 8
            GROUP BY 1 ORDER BY 1"""))

  // --------------------------------------------------- shard index --

  /** WebDataset shard INDEX — the .idx sidecar a sequential-tar loader
    * needs to seek records without scanning: for every asset under
    * q_multimodal_shard's exact placement rule (per-source size-desc
    * next-fit on the 64 kB grid), emit its shard, record ordinal, and
    * byte offset within the shard (running sum of preceding record
    * sizes on the same total order). Offset + size is the (seek, read)
    * pair; the planner says WHERE records go, the index says WHERE IN
    * THE FILE they landed — together they are the writer's and the
    * reader's halves of the same contract.
    *
    * Scale: the placement window is the planner's (per-source, already
    * shipped); the offset window partitions by (source, shard) — 64 kB
    * of records per partition BY CONSTRUCTION, the scale-proof kind of
    * window. Output is record-sized, as an index must be; it writes
    * alongside the shards it describes (map-only afterwards).
    */
  private val qMultimodalIndex = GQuery(
    (s, d) => {
      val target = 64000L
      val assets = Tables(s, d, "documents")
        .select(col("source"), col("doc_id"),
          octet_length(col("text").cast("binary")).cast("long").as("bytes"))
      val wPlace = org.apache.spark.sql.expressions.Window
        .partitionBy("source")
        .orderBy(col("bytes").desc, col("doc_id").asc)
      val placed = assets
        .withColumn("cb", Prefix.sumBefore(col("bytes"), wPlace))
        .withColumn("shard", expr(s"cb div $target"))
      val wIdx = org.apache.spark.sql.expressions.Window
        .partitionBy("source", "shard")
        .orderBy(col("bytes").desc, col("doc_id").asc)
      placed
        .withColumn("rec_idx",
          (row_number().over(wIdx) - 1).cast("long"))
        .withColumn("offset", Prefix.sumBefore(col("bytes"), wIdx))
        .select(col("source"), col("shard"), col("rec_idx"), col("doc_id"),
          col("offset"), col("bytes"))
        .orderBy("source", "shard", "rec_idx")
    },
    Some("""WITH assets AS (
              SELECT source, doc_id,
                     CAST(octet_length(CAST(text AS BLOB)) AS BIGINT)
                       AS bytes
              FROM documents),
            placed AS (
              SELECT source, doc_id, bytes,
                     CAST(coalesce(sum(bytes) OVER (PARTITION BY source
                       ORDER BY bytes DESC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       // 64000 AS BIGINT) AS shard
              FROM assets)
            SELECT source, shard,
                   CAST(row_number() OVER w - 1 AS BIGINT) AS rec_idx,
                   doc_id,
                   CAST(coalesce(sum(bytes) OVER (PARTITION BY source, shard
                     ORDER BY bytes DESC, doc_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS offset,
                   bytes
            FROM placed
            WINDOW w AS (PARTITION BY source, shard
              ORDER BY bytes DESC, doc_id ASC)
            ORDER BY source, shard, rec_idx"""))

  /** A stub "text-tower" embedding: 64-bin byte histogram of the payload.
    * Replace the body with a real text encoder; the schema, encoder, and
    * partition-amortized init hook are the production shape.
    */
  final case class AlignEmbed(doc_id: Long, n_bytes: Long,
      thist: Array[Double])

  /** CLIP-score-style cross-modal alignment filter (Radford 2021 /
    * LAION's CLIP-score curation — public): every (asset, caption) pair
    * scores as the cosine between the stored "image" embedding and a
    * caption embedding computed by a text tower; pairs under threshold
    * are dropped before training. Here the asset embedding is the
    * `embeddings` row keyed to the document (vec_id = doc_id — the
    * pairing a webdataset shard carries), and the text tower is the
    * STUB-NOTICE fake: a 64-bin byte histogram of the payload computed in
    * a typed `mapPartitions` pass (per-partition init hook = where a real
    * tower loads weights; the decodeAll plumbing). Histogram counts are
    * exact integers, so the cosine is deterministic cross-engine; the
    * score snaps to the 1e-6 grid, and the keep verdicts sweep two fixed
    * thresholds — the keep-rate-vs-threshold evidence a curation run
    * reports.
    *
    * Scale: text tower is map-only; the pairing is a doc_id-keyed hash
    * join of two co-partitionable tables (at 100 TB both sides bucket by
    * the id, so the join is shuffle-free); scoring is one 64-dim dot per
    * pair. Threshold sweep costs nothing extra — it's two codegen'd
    * comparisons on the same score column.
    */
  private val qMultimodalAlignment = GQuery(
    (s, d) => {
      val spark = s
      import spark.implicits._
      val towered = Tables(s, d, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
        .as[(Long, Array[Byte])]
        .mapPartitions { it =>
          // per-partition text-tower init would go here (once)
          it.map { case (id, payload) =>
            val h = new Array[Double](64)
            var i = 0
            while (i < payload.length) {
              h((payload(i) & 0xff) % 64) += 1.0; i += 1
            }
            AlignEmbed(id, payload.length.toLong, h)
          }
        }.toDF()
      val emb = Tables(s, d, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>")
          .as("iemb"))
      towered.join(emb, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("n_bytes"),
          graft.Exact.dround(
            SimilarityOps.dot(col("thist"), col("iemb")) /
              (SimilarityOps.norm(col("thist")) *
                SimilarityOps.norm(col("iemb"))), 6).as("clip_score"))
        .withColumn("keep_loose", col("clip_score") > -0.1)
        .withColumn("keep_strict", col("clip_score") > 0.1)
        .orderBy("doc_id")
    },
    Some("""WITH hist AS (
              SELECT doc_id,
                     CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                     list_transform(range(64), b -> CAST(coalesce(len(
                       list_filter(list_transform(
                         generate_series(1, length(text)),
                         i -> ascii(substr(text, CAST(i AS INT), 1)) % 64),
                         x -> x = b)), 0) AS DOUBLE)) AS thist
              FROM documents),
            j AS (
              SELECT h.doc_id, h.n_bytes,
                     CAST(round(CAST(list_dot_product(h.thist,
                         CAST(e.embedding AS DOUBLE[]))
                       / (sqrt(list_sum(list_transform(h.thist,
                           x -> x * x)))
                         * sqrt(list_sum(list_transform(
                             CAST(e.embedding AS DOUBLE[]), x -> x * x))))
                       AS DECIMAL(30,8)), 6) AS DOUBLE) AS clip_score
              FROM hist h JOIN embeddings e
                ON e.vec_id = h.doc_id)
            SELECT doc_id, n_bytes, clip_score,
                   clip_score > -0.1 AS keep_loose,
                   clip_score > 0.1 AS keep_strict
            FROM j ORDER BY doc_id"""))

  /** Constellation-hash audio fingerprinting (Wang 2003, the Shazam
    * paper — public) over the stub PCM stream: per asset the top-5
    * energy frames become PEAKS (the spectrogram-constellation stand-in;
    * a real pipeline peaks the STFT), each (anchor, target) peak pair
    * within 8 frames hashes as (bucket₁, bucket₂, Δt) — the landmark —
    * and assets sharing ≥ 2 landmarks surface as duplicate/derived audio
    * (re-encodes, trims, and overlays preserve landmark subsets; raw
    * hashes don't survive any of those). The hash packs exact integers
    * ((b₁·1024 + b₂)·16 + Δt), so the whole index hashes cross-engine.
    * Emits the top-20 matched asset pairs with landmark evidence.
    *
    * Scale: peaks are a per-asset top-k window (degree-bounded),
    * landmarks O(peaks²·Δt-cap) per asset = O(10) rows; the match join
    * keys on the landmark hash — high-entropy, no hot key — and the
    * final ranking is a TakeOrdered heap. The landmark table IS the
    * deployable index (joinable, appendable, mergeable).
    */
  private val qMultimodalFingerprint = GQuery(
    (s, d) => {
      val frames = frameEnergies(Tables(s, d, "documents")).toDF()
      val wPeak = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("energy").desc, col("frame_idx"))
      val peaks = frames
        .withColumn("rk", row_number().over(wPeak))
        .filter(col("rk") <= 5)
        .select(col("doc_id"), col("frame_idx"),
          pmod(col("energy"), lit(1024L)).as("b"))
        .localCheckpoint(true) // self-joined for landmarks
      val lm = peaks.as("a")
        .join(peaks.as("t"), col("a.doc_id") === col("t.doc_id") &&
          col("t.frame_idx") > col("a.frame_idx") &&
          col("t.frame_idx") - col("a.frame_idx") <= 8)
        .select(col("a.doc_id").as("doc_id"),
          ((col("a.b") * 1024 + col("t.b")) * 16 +
            (col("t.frame_idx") - col("a.frame_idx"))).as("h"))
      val matches = lm.select(col("doc_id").as("d1"), col("h"))
        .join(lm.select(col("doc_id").as("d2"), col("h")), "h")
        .filter(col("d1") < col("d2"))
        .groupBy("d1", "d2").agg(count(lit(1L)).as("n_landmarks"))
        .filter(col("n_landmarks") >= 2)
      matches
        .orderBy(col("n_landmarks").desc, col("d1"), col("d2"))
        .limit(20)
    },
    Some("""WITH f AS (
              SELECT doc_id,
                     CAST((off - 1) // 32 AS INT) AS frame_idx,
                     CAST(list_sum(list_transform(
                       generate_series(off, least(off + 31, length(text))),
                       i -> (ascii(substr(text, CAST(i AS INT), 1)) - 96)
                          * (ascii(substr(text, CAST(i AS INT), 1)) - 96)))
                       AS BIGINT) AS energy
              FROM (SELECT doc_id, text,
                           unnest(generate_series(1, length(text), 32))
                             AS off
                    FROM documents)),
            peaks AS (
              SELECT doc_id, frame_idx, energy % 1024 AS b FROM (
                SELECT doc_id, frame_idx, energy,
                       row_number() OVER (PARTITION BY doc_id
                         ORDER BY energy DESC, frame_idx) AS rk
                FROM f) WHERE rk <= 5),
            lm AS (
              SELECT a.doc_id,
                     (a.b * 1024 + t.b) * 16 + (t.frame_idx - a.frame_idx)
                       AS h
              FROM peaks a JOIN peaks t
                ON t.doc_id = a.doc_id AND t.frame_idx > a.frame_idx
                   AND t.frame_idx - a.frame_idx <= 8)
            SELECT l1.doc_id AS d1, l2.doc_id AS d2,
                   CAST(count(*) AS BIGINT) AS n_landmarks
            FROM lm l1 JOIN lm l2 ON l1.h = l2.h AND l1.doc_id < l2.doc_id
            GROUP BY 1, 2 HAVING count(*) >= 2
            ORDER BY n_landmarks DESC, d1, d2 LIMIT 20"""))

  override val queries: Map[String, GQuery] = Map(
    "q_multimodal_alignment" -> qMultimodalAlignment,
    "q_multimodal_fingerprint" -> qMultimodalFingerprint,
    "q_multimodal_index" -> qMultimodalIndex,
    "q_multimodal_aspect" -> qMultimodalAspect,
    "q_multimodal_vad" -> qMultimodalVad,
    "q_multimodal_shard" -> qMultimodalShard,
    "q_multimodal_patches" -> qMultimodalPatches,
    "q_multimodal_decode" -> qMultimodalDecode,
    "q_multimodal_frames" -> qMultimodalFrames,
    "q_multimodal_dedup" -> qMultimodalDedup,
    "q_multimodal_phash" -> qMultimodalPhash)
}
