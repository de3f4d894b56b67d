package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Audio near-dup over Haitsma-Kalker sub-fingerprints (round 18 — the
 * audio leg's sibling of [[PhashDedup]] (image) and
 * [[graft.multimodal.Multimodal.frameNearDupPairs]] (video),
 * completing per-modality near-dup coverage): every asset gets one
 * bit-vector sub-fingerprint per analysis window
 * ([[graft.multimodal.Multimodal.audioFingerprint]] — the HK
 * sign-of-band-energy-derivative derivation over the honest byte-block
 * stub energies), candidates are asset pairs sharing ONE window's
 * exact sub-fingerprint at the same window index (the HK lookup-table
 * step), and the verify is the total bit-error count over the aligned
 * full fingerprint sequences (HK's block bit-error rate, kept integer
 * so oracles hash exactly).
 *
 * Reference behavior: the reference pipeline has no audio columns —
 * this family is part of the brief's large-scale-training-data
 * extension (multimodal near-dup), designed from the public HK paper
 * (ISMIR 2002) on Spark.
 *
 * Scale shape (the shared band-index discipline):
 *  - candidates come from an inverted (window_idx, subfp) join through
 *    [[Dedup.bucketPairs]] (sort-merge + AQE skew split) — only
 *    colliding windows are touched, never all pairs; a hot
 *    sub-fingerprint (a constant-energy profile shared by many assets)
 *    is a skewed join key AQE's skew split handles;
 *  - the bit-error verify is whole-stage-codegen arithmetic
 *    (`conv` + `bit_count` XOR per window — no UDF), and the per-pair
 *    state is one sum with map-side partial aggregation;
 *  - fingerprints are ~(nWindows-1) short strings per asset — the
 *    payload itself is read once, in the fingerprint pass.
 *
 * Recall contract: a corruption that leaves ANY window's bits intact
 * is found (byte-local edits move one block sum and flip at most 4 of
 * the (nWindows-1)*bands bits — at the 8x16 default, >= 5 of 7 windows
 * survive exact); corruption touching every window is the
 * probabilistic tail, HK's own trade. The default cut 28 of
 * (8-1)*16 = 112 bits = BER 0.25, tighter than HK's published 0.35
 * because the block here is 112 bits, not 8192 (unrelated payloads'
 * BER concentrates at 0.5 with sigma ~0.047, so 0.25 sits >5 sigma
 * out while planted corruption sits <= 8 bits).
 */
object AudioDedup {

  /** Bit errors between two equal-length bit-vector strings (bands <=
    * 62 so one `conv` parse fits a signed long) — codegen'd, no UDF. */
  def bitErrors(a: Column, b: Column): Column =
    bit_count(conv(a, 2, 10).cast("long")
      .bitwiseXOR(conv(b, 2, 10).cast("long"))).cast("long")

  /** The index row shape: (id, band, key) with band = window_idx and
    * key = the window's sub-fingerprint — exactly the layout the
    * shared band-index verbs operate on. The full fingerprint
    * SEQUENCE of an asset is its own band rows (all nWindows-1 of
    * them), so unlike the phash index no extra payload column rides
    * along: the verify re-reads the sequence from the same rows the
    * candidate join hits. */
  private def bandedFps(fps: DataFrame, idCol: String): DataFrame =
    fps.select(col(idCol).as("id"), col("window_idx").as("band"),
      col("subfp").as("key"))

  /** The audio verify: the whole-sequence bit-error count, re-joining
    * both sides' window rows. Both sides passed the duration gate, so
    * each pair aligns exactly nWindows-1 windows and the sum is the
    * whole-sequence count. The family carries no payload through the
    * band join — its window collides on one band, the verify reads
    * every band. Duplicate (id, band) rows are dropped before the
    * verify joins — a duplicated id (the families' legal replay/
    * re-ingest state, identical content so identical rows) would
    * otherwise double-join its windows and inflate the sum past the
    * cut, losing true pairs. Duplicates with DIFFERING content for one
    * id remain a caller contract violation in every family (the
    * arbitrary survivor is nondeterministic); content replacement goes
    * through delete -> vacuum/compact -> re-ingest. */
  private def audioFamily(maxBitErrors: Int) =
    Dedup.BandFamily(Nil, (pairs, x, y, sideX, sideY) => {
      def windows(side: DataFrame, z: String) = side.select(
        col("id").as(s"id_$z"), col("band"), col("key").as(s"fp_$z"))
        .dropDuplicates(s"id_$z", "band")
      pairs.join(windows(sideX, x), Seq(s"id_$x"))
        .join(windows(sideY, y), Seq(s"id_$y", "band"))
        .groupBy(s"id_$x", s"id_$y")
        .agg(sum(bitErrors(col(s"fp_$x"), col(s"fp_$y"))).as("bit_errors"))
        .filter(col("bit_errors") <= maxBitErrors)
    })

  /** Window-collision candidate id pairs BEFORE the bit-error verify —
    * the probe/diagnostic surface whose mass the independent-bit model
    * bounds ((nWindows-1) x n^2 / 2^(bands+1) on noise-like
    * fingerprints); verified pairs come from [[audioNearDupPairs]]. */
  private[graft] def audioCandidates(fps: DataFrame,
      idCol: String): DataFrame =
    Dedup.bucketPairs(
      fps.select(col("window_idx"), col("subfp"), col(idCol).as("id")),
      Seq("window_idx", "subfp"))

  /**
   * One-shot near-dup pairs over assets (`idCol`, binary
   * `payloadCol`): fingerprint, window-collision candidates,
   * whole-sequence bit-error verify. Assets below the minimum-duration
   * gate (len < nWindows*(bands+1)) emit no fingerprints and never
   * pair. Returns (id_a, id_b, bit_errors), smaller id first.
   */
  def audioNearDupPairs(assets: DataFrame, payloadCol: String,
      idCol: String, nWindows: Int = graft.multimodal.Multimodal.AudioWindows,
      bands: Int = graft.multimodal.Multimodal.AudioBands,
      maxBitErrors: Int = 28): DataFrame = {
    val banded = bandedFps(graft.multimodal.Multimodal
      .audioFingerprint(assets, payloadCol, idCol, nWindows, bands), idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.materializeAndRelease(
      Dedup.inSetPairs(banded, audioFamily(maxBitErrors)), banded)
  }

  /**
   * Persist an audio-fingerprint index at `path` (flat `band=` layout,
   * the [[Dedup.buildMinhashIndex]] write discipline, band =
   * window_idx): fingerprint work happens once per asset ever; each
   * batch dedups against the index without re-reading corpus payloads
   * ([[incrementalAudioPairs]]), then appends its own rows
   * ([[appendToAudioIndex]]). Takedown / vacuum / compaction / health
   * are the INHERITED layout-generic band-index lifecycle — no
   * audio-specific control plane.
   */
  def buildAudioIndex(fps: DataFrame, idCol: String, path: String): Unit =
    Dedup.writeBands(bandedFps(fps, idCol), "overwrite", path)

  /** Append a batch's fingerprint rows. The window/band geometry is
    * the caller's contract (like the phash bands parameter — the
    * derivation is data-independent, so there is no plan to freeze or
    * drift). Refuses mid-vacuum trees and the streaming batch=
    * layout, like every flat-layout appender. */
  def appendToAudioIndex(fps: DataFrame, idCol: String,
      path: String): Unit =
    Dedup.appendBands(fps.sparkSession, path, "appendToAudioIndex",
      "ingestAudioBatch")(bandedFps(fps, idCol))

  /**
   * Near-dup pairs of a NEW batch of fingerprints against the indexed
   * corpus (plus within the batch itself): batch windows are banded
   * fresh, corpus sequences come off the index's own rows — corpus
   * payloads are never re-read, never re-fingerprinted. Tombstoned
   * ids are anti-joined before the window join
   * ([[IndexStore.liveRows]]); `scope` restricts which INDEXED assets
   * may pair (the shared-index per-tenant polarity of the other
   * families). Returns (id_a, id_b, bit_errors), smaller id first, each
   * pair once.
   */
  def incrementalAudioPairs(batchFps: DataFrame, idCol: String,
      indexPath: String, maxBitErrors: Int = 28,
      scope: Option[DataFrame] = None): DataFrame =
    Dedup.probeBands(bandedFps(batchFps, idCol), audioFamily(maxBitErrors),
      indexPath, scope)

  /**
   * One audio-index ingestion micro-batch, fingerprint banding done
   * ONCE — the [[Dedup.ingestBatch]] discipline on this index: band
   * the batch a single time, return the batch's near-dup pairs
   * (against the existing index when `indexPath` is given, plus
   * within the batch itself), and write the banded rows to
   * `indexBatchDir` (the batch's own `batch=N` partition — overwrite,
   * so a replayed batch is idempotent). Like the phash ingest there
   * is NO training step: the window/band geometry is fixed and the
   * derivation data-independent, so every batch bands identically and
   * no plan sidecar exists to freeze. Pairs materialize BEFORE the
   * index write (the batch must not collide with its own rows through
   * the index path).
   *
   * @param pairsSink as [[Dedup.ingestBatch]]'s: with a sink the
   *   returned frame is a lazy read of that directory, valid only until
   *   the directory is next overwritten.
   */
  def ingestAudioBatch(batchFps: DataFrame, idCol: String,
      indexPath: Option[String], indexBatchDir: String,
      maxBitErrors: Int = 28,
      pairsSink: Option[String] = None): DataFrame = {
    Dedup.ingestRoot(batchFps.sparkSession, indexBatchDir,
      "ingestAudioBatch", "appendToAudioIndex")
    Dedup.ingestBands(bandedFps(batchFps, idCol), audioFamily(maxBitErrors),
      indexPath, indexBatchDir, pairsSink, "ingestAudioBatch")
  }
}
