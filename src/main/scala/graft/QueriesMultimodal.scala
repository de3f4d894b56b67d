package graft

import graft.multimodal.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Multimodal-column plumbing exercised on the driver tables: the
 * `documents.text` bytes stand in for an opaque media payload (the real
 * decode is stubbed — see Multimodal.decodeStub). Oracles hash the same
 * bytes in DuckDB (ASCII corpus ⇒ char slicing == byte slicing).
 */
object QueriesMultimodal {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The perceptual-hash derivation replayed in SQL, shared by the two
    * mm_phash_* oracles — exactly [[Multimodal.dHashBytes]] (the
    * deterministic non-image arm these text payloads take): 72
    * byte-block sums on the 9x8 dHash grid, row-wise adjacent
    * comparisons, a 64-char bit-vector; then the engine's own 4x16-bit
    * banding, candidate join and per-bit hamming verify. Expects a
    * `media(doc_id, text)` CTE upstream. Like every mm_* oracle it
    * leans on the file-header ASCII contract (the engine hashes UTF-8
    * BYTES, the SQL counts/indexes CHARS — identical only on ASCII;
    * the driver corpus is, and stays, pure ASCII). */
  private val phashCtes = """
    cells AS (
      SELECT doc_id, g,
             coalesce(list_sum(list_transform(
               range(g * len(text) // 72 + 1, (g + 1) * len(text) // 72 + 1),
               i -> ord(substr(text, CAST(i AS INTEGER), 1)))), 0) AS s
      FROM media, range(0, 72) r(g)),
    bits AS (
      SELECT c1.doc_id,
             string_agg(CASE WHEN c2.s > c1.s THEN '1' ELSE '0' END, ''
               ORDER BY (c1.g // 9) * 8 + (c1.g % 9)) AS h
      FROM cells c1 JOIN cells c2 ON c1.doc_id = c2.doc_id AND c2.g = c1.g + 1
      WHERE c1.g % 9 < 8
      GROUP BY c1.doc_id),
    keys AS (
      SELECT doc_id, h, k AS band,
             substr(h, CAST(k * 16 + 1 AS INTEGER), 16) AS key
      FROM bits, range(0, 4) r2(k)),
    cand AS (
      SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
             greatest(a.doc_id, b.doc_id) AS id_b
      FROM keys a JOIN keys b ON a.band = b.band AND a.key = b.key
        AND a.doc_id < b.doc_id),
    ham AS (
      SELECT p.id_a, p.id_b,
             CAST(len(list_filter(range(1, 65),
               i -> substr(ha.h, CAST(i AS INTEGER), 1) <>
                    substr(hb.h, CAST(i AS INTEGER), 1))) AS BIGINT) AS hamming
      FROM cand p JOIN bits ha ON ha.doc_id = p.id_a
      JOIN bits hb ON hb.doc_id = p.id_b)"""

  /** (doc_id, text) rows -> perceptual hashes via the real operator
    * surface: MediaAsset payloads through [[Multimodal.perceptualHash]]
    * (these text payloads never pass the image magic-byte gate, so they
    * take the deterministic byte-block arm the oracle replays). */
  private def hashesOf(s: SparkSession, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[graft.multimodal.MediaAsset]
    Multimodal.perceptualHash(df
      .select(col("doc_id").as("media_id"), lit("image").as("kind"),
        col("text").cast("binary").as("payload"),
        lit("synthetic").as("source"))
      .as[graft.multimodal.MediaAsset](enc))
  }

  /** The planted "re-encode": same payload with the first three bytes
    * case-flipped — a byte-local edit that moves at most the first
    * couple of block sums (hamming <= 3 from the original by
    * construction), the stand-in for a real image's re-encode jitter. */
  private def reencoded(df: DataFrame): DataFrame =
    df.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(upper(substring(col("text"), 1, 3)),
        expr("substring(text, 4)")).as("text"))

  /** Shared by mm_phash_dedup and stream_phash_ingest: ALL near-dup
    * pairs of documents + planted re-encodes (%5 docs) at hamming <= 6.
    * The stream's per-batch pair unions must equal exactly this
    * one-shot set — each pair surfaces once, when its later member
    * arrives (banding is data-independent, so batch order is free). */
  private lazy val phashDedupOracleSql: String = s"""
      WITH media AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, upper(substr(text, 1, 3)) || substr(text, 4)
        FROM documents WHERE doc_id % 5 = 0),
      $phashCtes
      SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 6"""

  /** The audio-fingerprint derivation replayed in SQL, shared by the
    * mm_audio_* oracles — exactly [[Multimodal.hkSubFingerprints]]
    * at the 8x16 default: the FIXED 136-byte analysis excerpt (byte g
    * is block g's "band energy" — the honest stub arm), the
    * Haitsma-Kalker sign-of-band-energy-derivative bit, one 16-char
    * bit-vector per window 1..7. Assets below the 136-byte
    * minimum-duration gate emit no rows. Expects a `$src(doc_id,
    * text)` relation upstream; ASCII contract as the phash CTEs. */
  private def audioCtes(src: String): String = s"""
    acells AS (
      SELECT doc_id, g,
             CAST(ord(substr(text, CAST(g + 1 AS INTEGER), 1)) AS BIGINT) AS s
      FROM $src, range(0, 136) r(g)
      WHERE len(text) >= 136),
    adiff AS (
      SELECT c1.doc_id, c1.g // 17 AS w, c1.g % 17 AS b, c1.s - c2.s AS d
      FROM acells c1 JOIN acells c2
        ON c1.doc_id = c2.doc_id AND c2.g = c1.g + 1
      WHERE c1.g % 17 < 16),
    afps AS (
      SELECT d1.doc_id, CAST(d1.w AS INTEGER) AS window_idx,
             string_agg(CASE WHEN d1.d - d0.d > 0 THEN '1' ELSE '0' END,
               '' ORDER BY d1.b) AS subfp
      FROM adiff d1 JOIN adiff d0
        ON d0.doc_id = d1.doc_id AND d0.w = d1.w - 1 AND d0.b = d1.b
      GROUP BY d1.doc_id, d1.w)"""

  /** The HK candidate + verify steps replayed in SQL (window-collision
    * candidates, whole-sequence bit-error count) — expects `afps`
    * upstream (see [[audioCtes]]). */
  private val audioPairCtes = """
    acand AS (
      SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
             greatest(a.doc_id, b.doc_id) AS id_b
      FROM afps a JOIN afps b
        ON a.window_idx = b.window_idx AND a.subfp = b.subfp
          AND a.doc_id < b.doc_id),
    aber AS (
      SELECT p.id_a, p.id_b,
             CAST(sum(len(list_filter(range(1, 17),
               i -> substr(fa.subfp, CAST(i AS INTEGER), 1) <>
                    substr(fb.subfp, CAST(i AS INTEGER), 1)))) AS BIGINT)
               AS bit_errors
      FROM acand p JOIN afps fa ON fa.doc_id = p.id_a
      JOIN afps fb ON fb.doc_id = p.id_b
        AND fb.window_idx = fa.window_idx
      GROUP BY p.id_a, p.id_b)"""

  /** The planted "corrupted re-encode" twin of a doc in SQL: one
    * case-flipped byte at excerpt position 35 and one at 103 (blocks
    * 34 and 102 — window 2 and window 6, band 0) — two byte-local
    * edits inside the fixed analysis excerpt that each move one band
    * energy, flipping <= 4 fingerprint bits in adjacent windows and
    * leaving >= 1 window bit-exact. */
  private val audioTwinSql = """
               substr(text, 1, 34) ||
               upper(substr(text, 35, 1)) ||
               substr(text, 36, 67) ||
               upper(substr(text, 103, 1)) ||
               substr(text, 104)"""

  /** The Spark twin expression of [[audioTwinSql]] over a `text`
    * column. */
  private lazy val audioTwinCol: org.apache.spark.sql.Column =
    expr("concat(substring(text, 1, 34), " +
      "upper(substring(text, 35, 1)), " +
      "substring(text, 36, 67), " +
      "upper(substring(text, 103, 1)), " +
      "substring(text, 104, length(text)))")

  /** The Spark twin of [[audioTwinSql]], on a (doc_id, text) frame. */
  private def audioTwin(df: DataFrame): DataFrame =
    df.select((col("doc_id") + 1000000L).as("doc_id"),
      audioTwinCol.as("text"))

  /** The (doc_id, payload) media frame the three shared-oracle audio
    * rows run on — documents plus the planted corrupted twins (%6=2)
    * — built ONCE so the planting can never diverge from
    * [[audioDedupOracleSql]] row to row. */
  private def audioMedia(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .unionByName(audioTwin(docs.filter(col("doc_id") % 6 === 2)))
      .select(col("doc_id"), col("text").cast("binary").as("payload"))

  /** Shared by mm_audio_neardup, stream_audio_ingest and
    * stream_audio_maintain: ALL near-dup pairs of documents + planted
    * corrupted twins (%6=2 docs) at the 28-bit cut. As with the phash
    * stream, batch order is free (the geometry is data-independent),
    * so the stream's per-batch pair unions must equal exactly this
    * one-shot set. */
  private lazy val audioDedupOracleSql: String = s"""
      WITH amedia AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, $audioTwinSql
        FROM documents WHERE doc_id % 6 = 2),
      ${audioCtes("amedia")},
      $audioPairCtes
      SELECT id_a, id_b, bit_errors FROM aber WHERE bit_errors <= 28"""

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------ perceptual-hash dedup
    // The multimodal near-dup operator (round 18): every asset gets a
    // 64-bit dHash (decoded-raster gradients for real images — see
    // MultimodalSpec's PNG/BMP re-encode arms — and the deterministic
    // byte-block arm for these text payloads), banded 4x16 bits,
    // band-collision candidates, hamming-verified pairs. Planted
    // re-encodes (%5 docs, first 3 bytes case-flipped) must surface as
    // pairs; the oracle replays hash, banding, and verify bit-for-bit.
    QueryDef("mm_phash_dedup", Some(phashDedupOracleSql),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val media = docs.select(col("doc_id"), col("text"))
          .unionByName(reencoded(docs.filter(col("doc_id") % 5 === 0)))
        graft.operators.PhashDedup.phashNearDupPairs(
          hashesOf(s, media), "media_id", "phash", maxHamming = 6)
      }),

    // ------------------- perceptual-hash streaming ingest (r18, late)
    // The FOURTH index family's streaming face, completing the
    // streaming symmetry next to stream_dedup_ingest /
    // stream_emb_ingest / stream_ann_ingest: each micro-batch of media
    // rows is hashed once (the decode gate runs in-batch), dedups
    // against everything ingested before it off stored hashes, and
    // adds its banded rows under batch=N. No train step — the banding
    // is data-independent, so batch order is free and the unioned
    // per-batch pairs must equal EXACTLY the one-shot set (each pair
    // surfaces once, when its later member arrives; the %3 batch split
    // puts every twin in a different batch than its original, so the
    // cross-batch index path is non-vacuous).
    QueryDef("stream_phash_ingest", Some(phashDedupOracleSql),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val media = docs.select(col("doc_id"), col("text"))
          .unionByName(reencoded(docs.filter(col("doc_id") % 5 === 0)))
          .select(col("doc_id"), col("text").cast("binary").as("payload"))
        val root = Tables.freshScratch("stream_phash")
        val src = QueriesText.stageMicroBatches(s, media, root,
          idCol = "doc_id")
        val q = graft.streaming.Streams.phashIngest(src, "payload",
          "doc_id", s"$root/idx", s"$root/pairs", s"$root/ckpt",
          maxHamming = 6)
        try q.processAllAvailable() finally q.stop()
        s.read.parquet(s"$root/pairs")
          .select("id_a", "id_b", "hamming").distinct()
      }),

    // -------------- streaming: phash ingest + maintenance (r18, late)
    // phashIngest with maintainEvery: the phash family's in-stream
    // maintenance face, completing the maintain symmetry next to
    // stream_dedup_maintain / stream_ann_maintain /
    // stream_ivfpq_maintain / stream_emb_maintain. The shared
    // layout-generic maintenance (health-gated targeted vacuum /
    // size-aware compaction — Streams' band-step maintenance) runs
    // every batch; maintenance must not change a single pair (the row
    // shares the one-shot oracle) and the require pins that the
    // compaction really ran (batch= generations collapsed to one) and
    // left the index healthy.
    QueryDef("stream_phash_maintain", Some(phashDedupOracleSql),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val media = docs.select(col("doc_id"), col("text"))
          .unionByName(reencoded(docs.filter(col("doc_id") % 5 === 0)))
          .select(col("doc_id"), col("text").cast("binary").as("payload"))
        val root = Tables.freshScratch("stream_phash_mnt")
        val src = QueriesText.stageMicroBatches(s, media, root,
          idCol = "doc_id")
        val q = graft.streaming.Streams.phashIngest(src, "payload",
          "doc_id", s"$root/idx", s"$root/pairs", s"$root/ckpt",
          maxHamming = 6, maintainEvery = 1)
        try q.processAllAvailable() finally q.stop()
        val h = graft.operators.Dedup.minhashIndexHealth(s, s"$root/idx")
        require(h.generations == 1 && h.prescription == "healthy",
          s"in-stream maintenance did not run: $h")
        s.read.parquet(s"$root/pairs")
          .select("id_a", "id_b", "hamming").distinct()
      }),

    // ------------------------------- perceptual-hash index lifecycle
    // The persisted phash index rides the layout-generic band-index
    // verbs UNCHANGED: flat build + append (hash work once per asset
    // ever), takedown tombstones (%7=1 corpus assets), the targeted
    // vacuum makes them physical (sidecar consumed, requires pinned),
    // then the day's batch — %5 docs plus re-encodes of indexed %10=1
    // assets — dedups against the live survivors without re-decoding
    // the corpus. Oracle: all-media pairs touching the batch, minus
    // any pair whose corpus side was taken down — a leaked tombstone
    // or a lost append hash-fails.
    QueryDef("mm_phash_index", Some(s"""
      WITH media AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, upper(substr(text, 1, 3)) || substr(text, 4)
        FROM documents WHERE doc_id % 10 = 1),
      $phashCtes
      SELECT id_a, id_b, hamming FROM ham
      WHERE hamming <= 6
        AND (id_a >= 1000000 OR id_a % 5 = 0
          OR id_b >= 1000000 OR id_b % 5 = 0)
        AND NOT (id_a < 1000000 AND id_a % 5 <> 0 AND id_a % 7 = 1)
        AND NOT (id_b < 1000000 AND id_b % 5 <> 0 AND id_b % 7 = 1)"""),
      (s, dir) => {
        import graft.operators.{Dedup, PhashDedup}
        val docs = t(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") % 5 =!= 0)
        val idx = Tables.scratchDir("phash_idx")
        PhashDedup.buildPhashIndex(
          hashesOf(s, corpus.filter(col("doc_id") % 2 === 0)),
          "media_id", "phash", idx)
        PhashDedup.appendToPhashIndex(
          hashesOf(s, corpus.filter(col("doc_id") % 2 =!= 0)),
          "media_id", "phash", idx)
        Dedup.deleteFromMinhashIndex(s, idx,
          corpus.filter(col("doc_id") % 7 === 1).select("doc_id"),
          idCol = "doc_id")
        val (rewritten, dropped) = Dedup.vacuumMinhashTombstones(s, idx)
        require(rewritten > 0 && dropped > 0,
          s"vacuum was a no-op (files=$rewritten rows=$dropped)")
        val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
          s.sparkContext.hadoopConfiguration)
        require(!fs.exists(
          new org.apache.hadoop.fs.Path(s"$idx/_tombstones")),
          "vacuum left the _tombstones sidecar — probes would anti-join")
        val batch = docs.filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), col("text"))
          .unionByName(reencoded(docs.filter(col("doc_id") % 10 === 1)))
        PhashDedup.incrementalPhashPairs(hashesOf(s, batch),
          "media_id", "phash", idx, maxHamming = 6)
      }),

    // --------------------------------------- video-frame near-dup
    // The temporal-media sibling of mm_phash_dedup: assets pair when
    // >= 6 of their 8 sampled frame digests agree at the same frame
    // index — the local-edit/overlay shape where most frames survive
    // byte-identical. Planted twins flip ONE mid-payload character
    // (same length -> same stride -> same frame boundaries), so they
    // keep 7 or 8 of 8 frames; the oracle replays the frame sampling
    // (mm_frame_sample's exact CTE), the inverted same-index join and
    // the match-count cut.
    QueryDef("mm_frame_neardup", Some("""
      WITH media AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000,
               substr(text, 1, len(text) // 2) ||
               upper(substr(text, len(text) // 2 + 1, 1)) ||
               substr(text, len(text) // 2 + 2)
        FROM documents WHERE doc_id % 4 = 1),
      frames AS (
        SELECT d.doc_id, CAST(i AS INTEGER) AS frame_idx,
               md5(substr(d.text, CAST(i * greatest(len(d.text) // 8, 1) + 1 AS INTEGER), 16)) AS frame_md5
        FROM media d, range(0, 8) r(i)
        WHERE len(d.text) >= 1 AND i <= len(d.text) - 1),
      m AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS matches
        FROM frames a JOIN frames b
          ON a.frame_idx = b.frame_idx AND a.frame_md5 = b.frame_md5
            AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
      SELECT id_a, id_b, matches FROM m WHERE matches >= 6"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val twin = expr(
          "concat(substring(text, 1, CAST(floor(length(text)/2) AS INT)), " +
            "upper(substring(text, CAST(floor(length(text)/2) AS INT) + 1, 1)), " +
            "substring(text, CAST(floor(length(text)/2) AS INT) + 2))")
        val media = docs.select(col("doc_id"), col("text"))
          .unionByName(docs.filter(col("doc_id") % 4 === 1)
            .select((col("doc_id") + 1000000L).as("doc_id"),
              twin.as("text")))
          .withColumn("payload", col("text").cast("binary"))
        Multimodal.frameNearDupPairs(media, "payload", "doc_id",
          nFrames = 8, frameLen = 16, minMatches = 6)
      }),

    // --------------------------------------------- audio fingerprint
    // The HK sub-fingerprint extraction itself (one 16-bit bit-vector
    // per analysis window, windows 1..7), independent of pairing —
    // the oracle replays band energies, the derivative-sign bit and
    // the bit ordering value-for-value, and the 136-byte
    // minimum-duration gate (docs below it emit no rows).
    QueryDef("mm_audio_fingerprint", Some(s"""
      WITH ${audioCtes("documents")}
      SELECT doc_id, window_idx, subfp FROM afps"""),
      (s, dir) => Multimodal.audioFingerprint(
        t(s, dir, "documents")
          .withColumn("payload", col("text").cast("binary")),
        "payload", "doc_id")),

    // ------------------------------------------------ audio near-dup
    // The audio leg's near-dup operator (image=pHash, video=frames,
    // audio=HK fingerprints): planted "corrupted re-encodes" (%6=2
    // docs, case-flipped bytes at excerpt positions 35 and 103 — two
    // byte-local edits that each move one band energy, flipping <= 4
    // bits in adjacent windows and leaving >= 1 window bit-exact)
    // must pair with their originals under the 28-bit BER cut, while
    // unrelated docs (~56 of 112 bits apart) never do. The oracle
    // replays fingerprints, the window-collision candidate step and
    // the whole-sequence bit-error verify.
    QueryDef("mm_audio_neardup", Some(audioDedupOracleSql),
      (s, dir) => graft.operators.AudioDedup.audioNearDupPairs(
        audioMedia(t(s, dir, "documents")), "payload", "doc_id")),

    // -------------------------- audio-fingerprint index lifecycle
    // The audio family's persisted index rides the SAME layout-generic
    // band-index verbs as phash/minhash (band = window_idx, key =
    // subfp; the full sequence of an asset IS its own band rows, so no
    // payload column rides along): flat build + append (fingerprint
    // work once per asset ever), takedown tombstones (%7=1 corpus
    // assets), targeted vacuum makes them physical, then the day's
    // batch — %5 docs plus corrupted twins of indexed %10=1 assets —
    // dedups against the live survivors without re-reading corpus
    // payloads. Oracle: all-media pairs touching the batch, minus any
    // pair whose corpus side was taken down.
    QueryDef("mm_audio_index", Some(s"""
      WITH amedia AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, $audioTwinSql
        FROM documents WHERE doc_id % 10 = 1),
      ${audioCtes("amedia")},
      $audioPairCtes
      SELECT id_a, id_b, bit_errors FROM aber
      WHERE bit_errors <= 28
        AND (id_a >= 1000000 OR id_a % 5 = 0
          OR id_b >= 1000000 OR id_b % 5 = 0)
        AND NOT (id_a < 1000000 AND id_a % 5 <> 0 AND id_a % 7 = 1)
        AND NOT (id_b < 1000000 AND id_b % 5 <> 0 AND id_b % 7 = 1)"""),
      (s, dir) => {
        import graft.operators.{AudioDedup, Dedup}
        val docs = t(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") % 5 =!= 0)
        def fpsOf(df: DataFrame): DataFrame =
          Multimodal.audioFingerprint(
            df.withColumn("payload", col("text").cast("binary")),
            "payload", "doc_id")
        val idx = Tables.scratchDir("audio_idx")
        AudioDedup.buildAudioIndex(
          fpsOf(corpus.filter(col("doc_id") % 2 === 0)), "doc_id", idx)
        AudioDedup.appendToAudioIndex(
          fpsOf(corpus.filter(col("doc_id") % 2 =!= 0)), "doc_id", idx)
        Dedup.deleteFromMinhashIndex(s, idx,
          corpus.filter(col("doc_id") % 7 === 1).select("doc_id"),
          idCol = "doc_id")
        val (rewritten, dropped) = Dedup.vacuumMinhashTombstones(s, idx)
        require(rewritten > 0 && dropped > 0,
          s"vacuum was a no-op (files=$rewritten rows=$dropped)")
        val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(
          s.sparkContext.hadoopConfiguration)
        require(!fs.exists(
          new org.apache.hadoop.fs.Path(s"$idx/_tombstones")),
          "vacuum left the _tombstones sidecar — probes would anti-join")
        val batch = docs.filter(col("doc_id") % 5 === 0)
          .select(col("doc_id"), col("text"))
          .unionByName(audioTwin(docs.filter(col("doc_id") % 10 === 1)))
        AudioDedup.incrementalAudioPairs(fpsOf(batch), "doc_id", idx)
      }),

    // ------------------- audio-fingerprint streaming ingest
    // The FIFTH streaming family face (phashIngest's shape on the
    // audio index): each micro-batch fingerprints once, dedups
    // against everything ingested before it off the index's own rows,
    // and lands its banded rows under batch=N. No train step — the
    // geometry is data-independent, so batch order is free and the
    // unioned per-batch pairs must equal EXACTLY the one-shot set
    // (the %3 batch split puts every twin in a different batch than
    // its original, so the cross-batch index path is non-vacuous).
    QueryDef("stream_audio_ingest", Some(audioDedupOracleSql),
      (s, dir) => {
        val media = audioMedia(t(s, dir, "documents"))
        val root = Tables.freshScratch("stream_audio")
        val src = QueriesText.stageMicroBatches(s, media, root,
          idCol = "doc_id")
        val q = graft.streaming.Streams.audioIngest(src, "payload",
          "doc_id", s"$root/idx", s"$root/pairs", s"$root/ckpt")
        try q.processAllAvailable() finally q.stop()
        s.read.parquet(s"$root/pairs")
          .select("id_a", "id_b", "bit_errors").distinct()
      }),

    // ------------- streaming: audio ingest + maintenance (cont.)
    // audioIngest with maintainEvery — the audio family's in-stream
    // maintenance face, completing the maintain symmetry across ALL
    // SIX streaming faces (dedup/ann/ivfpq/emb/phash/audio). The
    // shared layout-generic maintenance runs every batch; it must
    // not change a single pair (the row shares the one-shot oracle)
    // and the require pins that the compaction really ran.
    QueryDef("stream_audio_maintain", Some(audioDedupOracleSql),
      (s, dir) => {
        val media = audioMedia(t(s, dir, "documents"))
        val root = Tables.freshScratch("stream_audio_mnt")
        val src = QueriesText.stageMicroBatches(s, media, root,
          idCol = "doc_id")
        val q = graft.streaming.Streams.audioIngest(src, "payload",
          "doc_id", s"$root/idx", s"$root/pairs", s"$root/ckpt",
          maintainEvery = 1)
        try q.processAllAvailable() finally q.stop()
        val h = graft.operators.Dedup.minhashIndexHealth(s, s"$root/idx")
        require(h.generations == 1 && h.prescription == "healthy",
          s"in-stream maintenance did not run: $h")
        s.read.parquet(s"$root/pairs")
          .select("id_a", "id_b", "bit_errors").distinct()
      }),

    // ----------------------------------- per-modality near-dup router
    // The single user-facing entry point over a mixed media table:
    // kind routes each partition to its own family (image -> pHash
    // banding, audio -> HK fingerprints, video -> frame matching),
    // pairs are within-kind by construction, and each family keeps
    // its own score metric. Kinds are assigned %3, twins planted on
    // %5 docs WITH the kind-appropriate corruption (image: 3-byte
    // case flip; audio: two case flips inside the analysis excerpt;
    // video: one mid-payload case flip) — every leg's oracle CTE runs
    // over its kind slice and the three results union with their
    // method tag.
    QueryDef("mm_neardup_router", Some(s"""
      WITH rbase AS (
        SELECT doc_id, text,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                 ELSE 'video' END AS kind
        FROM documents),
      rtwin AS (
        SELECT doc_id + 1000000 AS doc_id,
               CASE kind
                 WHEN 'image' THEN upper(substr(text, 1, 3)) || substr(text, 4)
                 WHEN 'audio' THEN $audioTwinSql
                 ELSE substr(text, 1, len(text) // 2) ||
                      upper(substr(text, len(text) // 2 + 1, 1)) ||
                      substr(text, len(text) // 2 + 2)
               END AS text, kind
        FROM rbase WHERE doc_id % 5 = 0),
      rmedia AS (SELECT * FROM rbase UNION ALL SELECT * FROM rtwin),
      media AS (SELECT doc_id, text FROM rmedia WHERE kind = 'image'),
      $phashCtes,
      am AS (SELECT doc_id, text FROM rmedia WHERE kind = 'audio'),
      ${audioCtes("am")},
      $audioPairCtes,
      vmedia AS (SELECT doc_id, text FROM rmedia WHERE kind = 'video'),
      vframes AS (
        SELECT d.doc_id, CAST(i AS INTEGER) AS frame_idx,
               md5(substr(d.text, CAST(i * greatest(len(d.text) // 8, 1) + 1 AS INTEGER), 16)) AS frame_md5
        FROM vmedia d, range(0, 8) r(i)
        WHERE len(d.text) >= 1 AND i <= len(d.text) - 1),
      vm AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS matches
        FROM vframes a JOIN vframes b
          ON a.frame_idx = b.frame_idx AND a.frame_md5 = b.frame_md5
            AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
      SELECT 'phash' AS method, id_a, id_b, hamming AS score
      FROM ham WHERE hamming <= 6
      UNION ALL
      SELECT 'hk_audio' AS method, id_a, id_b, bit_errors AS score
      FROM aber WHERE bit_errors <= 28
      UNION ALL
      SELECT 'frames' AS method, id_a, id_b, matches AS score
      FROM vm WHERE matches >= 6"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val base = docs.select(col("doc_id"), col("text"),
          when(col("doc_id") % 3 === 0, "image")
            .when(col("doc_id") % 3 === 1, "audio")
            .otherwise("video").as("kind"))
        val videoTwinCol = expr(
          "concat(substring(text, 1, CAST(floor(length(text)/2) AS INT)), " +
            "upper(substring(text, CAST(floor(length(text)/2) AS INT) + 1, 1)), " +
            "substring(text, CAST(floor(length(text)/2) AS INT) + 2))")
        val twins = base.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            when(col("kind") === "image",
              concat(upper(substring(col("text"), 1, 3)),
                expr("substring(text, 4)")))
              .when(col("kind") === "audio", audioTwinCol)
              .otherwise(videoTwinCol).as("text"),
            col("kind"))
        val media = base.unionByName(twins)
          .withColumn("payload", col("text").cast("binary"))
        Multimodal.nearDupPairsByKind(media, "payload", "doc_id")
      }),

    // ------------------------------------------------ binary metadata
    QueryDef("mm_payload_meta", Some("""
      SELECT doc_id, octet_length(CAST(text AS BLOB)) AS byte_len,
             sha256(text) AS sha256, md5(text) AS payload_md5
      FROM documents"""),
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id") +:
          Multimodal.payloadMeta(col("text").cast("binary")): _*)),

    // ------------------------------------------------ frame sampling
    QueryDef("mm_frame_sample", Some("""
      SELECT d.doc_id, CAST(i AS INTEGER) AS frame_idx,
             md5(substr(d.text, CAST(i * greatest(len(d.text) // 8, 1) + 1 AS INTEGER), 16)) AS frame_md5
      FROM documents d, range(0, 8) r(i)
      WHERE len(d.text) >= 1 AND i <= len(d.text) - 1"""),
      (s, dir) => Multimodal.sampleFrames(
        t(s, dir, "documents").withColumn("payload", col("text").cast("binary")),
        "payload", "doc_id", nFrames = 8, frameLen = 16)),

    // ------------------------------------------------ stubbed resize
    // resizedMeta's byte-budget contract (len scaled by target/VGA area,
    // then truncate) is a pure expression both engines evaluate exactly:
    // integer byte counts, md5 over the prefix.
    QueryDef("mm_resize", Some("""
      SELECT doc_id,
             least(CAST(len(text) AS BIGINT),
                   CAST(ceil(CAST(len(text) AS BIGINT) * 49152 / 307200.0) AS BIGINT)) AS out_len,
             md5(substr(text, 1, CAST(least(CAST(len(text) AS BIGINT),
                   CAST(ceil(CAST(len(text) AS BIGINT) * 49152 / 307200.0) AS BIGINT)) AS INTEGER))) AS out_md5
      FROM documents"""),
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id") +:
          Multimodal.resizedMeta(col("text").cast("binary"), 256, 192): _*)),

    // ------------------------------------------------ stubbed decode
    // decodeStub's fake features are deterministic functions of the bytes,
    // reproducible in SQL: byte_len, fake dims, mean byte value.
    QueryDef("mm_decode_features", Some("""
      SELECT doc_id AS media_id,
             octet_length(CAST(text AS BLOB)) AS byte_len,
             CAST(octet_length(CAST(text AS BLOB)) % 640 + 1 AS INTEGER) AS width,
             CAST(octet_length(CAST(text AS BLOB)) % 480 + 1 AS INTEGER) AS height,
             CASE WHEN octet_length(CAST(text AS BLOB)) > 0
                  THEN list_sum(list_transform(range(1, octet_length(CAST(text AS BLOB)) + 1),
                                i -> ord(substr(text, CAST(i AS INTEGER), 1))))
                       / CAST(octet_length(CAST(text AS BLOB)) AS DOUBLE)
                  ELSE 0.0 END AS mean_intensity
      FROM documents"""),
      (s, dir) => {
        import org.apache.spark.sql.Encoders
        implicit val enc = Encoders.product[graft.multimodal.MediaAsset]
        val assets = t(s, dir, "documents")
          .select(col("doc_id").as("media_id"), lit("image").as("kind"),
            col("text").cast("binary").as("payload"), col("source"))
          .as[graft.multimodal.MediaAsset](enc)
        Multimodal.decodeAll(assets)
          .select("media_id", "byte_len", "width", "height", "mean_intensity")
      })
  )
}
