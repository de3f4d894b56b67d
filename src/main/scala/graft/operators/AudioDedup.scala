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

  /** In-set pairs over banded fingerprint rows (id, band, key):
    * bucket-join candidates, whole-sequence bit-error verify. Both
    * sides passed the duration gate, so each pair aligns exactly
    * nWindows-1 windows and the sum is the whole-sequence count.
    * Duplicate (id, band) rows are dropped before the verify joins —
    * a duplicated id (the families' legal replay/re-ingest state,
    * identical content so identical rows) would otherwise double-join
    * its windows and inflate the sum past the cut, losing true pairs.
    * Duplicates with DIFFERING content for one id remain a caller
    * contract violation in every family (the arbitrary survivor is
    * nondeterministic); content replacement goes through
    * delete -> vacuum/compact -> re-ingest. */
  private def pairsOverBanded(banded: DataFrame,
      maxBitErrors: Int): DataFrame = {
    val idPairs = Dedup.bucketPairs(
      banded.select("band", "key", "id"), Seq("band", "key"))
    val fa = banded.select(col("id").as("id_a"), col("band"),
      col("key").as("fp_a")).dropDuplicates("id_a", "band")
    val fb = banded.select(col("id").as("id_b"), col("band"),
      col("key").as("fp_b")).dropDuplicates("id_b", "band")
    idPairs.join(fa, Seq("id_a")).join(fb, Seq("id_b", "band"))
      .groupBy("id_a", "id_b")
      .agg(sum(bitErrors(col("fp_a"), col("fp_b"))).as("bit_errors"))
      .filter(col("bit_errors") <= maxBitErrors)
  }

  /** Batch-vs-index pairs: window-collision candidates between the
    * banded batch and the live index rows, pair-dedup BEFORE the
    * verify (a near-identical pair collides in several windows), then
    * the whole-sequence verify re-joining both sides' band rows.
    * Returns canonical (id_a, id_b, bit_errors). */
  private def indexedPairs(batch: DataFrame, index: DataFrame,
      maxBitErrors: Int, par: Int): DataFrame =
    batch.select(col("band"), col("key"), col("id").as("id_n"))
      .join(index.select(col("band"), col("key"), col("id").as("id_c")),
        Seq("band", "key"))
      .filter(col("id_n") =!= col("id_c"))
      // the collided window's (band, key) must NOT ride into the
      // verify joins below — they join the SAME frames again, and the
      // leftover columns shadow the re-joined ones
      .select("id_n", "id_c")
      // repartition before the dedup: one exchange serves both (see
      // Dedup.bucketPairs' r19 note); duplicate keys carry identical
      // payloads, so the pick is value-deterministic
      .repartition(par, col("id_n"))
      .dropDuplicates("id_n", "id_c")
      // duplicate (id, band) rows on EITHER side (a legally replayed/
      // re-ingested id — identical content, identical rows) would
      // double-join sequence windows and inflate the bit-error sum
      // past the cut, losing the pair; see pairsOverBanded's note on
      // the differing-content caller contract
      .join(batch.select(col("id").as("id_n"), col("band"),
        col("key").as("fp_n")).dropDuplicates("id_n", "band"),
        Seq("id_n"))
      .join(index.select(col("id").as("id_c"), col("band"),
        col("key").as("fp_c")).dropDuplicates("id_c", "band"),
        Seq("id_c", "band"))
      .groupBy("id_n", "id_c")
      .agg(sum(bitErrors(col("fp_n"), col("fp_c"))).as("bit_errors"))
      .filter(col("bit_errors") <= maxBitErrors)
      .select(least(col("id_n"), col("id_c")).as("id_a"),
        greatest(col("id_n"), col("id_c")).as("id_b"), col("bit_errors"))

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
      pairsOverBanded(banded, maxBitErrors), banded)
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
    Dedup.indexWrite(bandedFps(fps, idCol))
      .mode("overwrite").partitionBy("band").parquet(path)

  /** Append a batch's fingerprint rows. The window/band geometry is
    * the caller's contract (like the phash bands parameter — the
    * derivation is data-independent, so there is no plan to freeze or
    * drift). Refuses mid-vacuum trees and the streaming batch=
    * layout, like every flat-layout appender. */
  def appendToAudioIndex(fps: DataFrame, idCol: String,
      path: String): Unit = {
    IndexStore.requireNoInterruptedVacuum(
      IndexStore.fsOf(fps.sparkSession, path), path,
      "appendToAudioIndex", Dedup.BandLayout)
    Dedup.requireLayout(fps.sparkSession, path, "batch",
      "appendToAudioIndex",
      "This index is flat (band= dirs); batch= generations belong to " +
        "the streaming ingest layout.")
    Dedup.indexWrite(bandedFps(fps, idCol))
      .mode("append").partitionBy("band").parquet(path)
  }

  /**
   * Near-dup pairs of a NEW batch of fingerprints against the indexed
   * corpus (plus within the batch itself): batch windows are banded
   * fresh, corpus sequences come off the index's own rows — corpus
   * payloads are never re-read, never re-fingerprinted. Tombstoned
   * ids are anti-joined before the window join
   * ([[IndexStore.liveRows]]); `scope` restricts which INDEXED assets
   * may pair (the shared-index per-tenant polarity of the other
   * families). Returns (id_a, id_b, bit_errors), smaller id first.
   */
  def incrementalAudioPairs(batchFps: DataFrame, idCol: String,
      indexPath: String, maxBitErrors: Int = 28,
      scope: Option[DataFrame] = None): DataFrame = {
    val spark = batchFps.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val batch = bandedFps(batchFps, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val live = IndexStore.liveRows(spark, indexPath, Dedup.BandLayout,
      Some(batch.schema))
    val index = scope.fold(live)(sc =>
      live.join(sc.select(col(sc.columns.head).as("id")).distinct(),
        Seq("id"), "left_semi"))
    val pairs = indexedPairs(batch, index, maxBitErrors, par)
      .union(pairsOverBanded(batch, maxBitErrors))
      .distinct()
    Dedup.materializeAndRelease(pairs, batch)
  }

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
    val spark = batchFps.sparkSession
    val parent = Option(
      new org.apache.hadoop.fs.Path(indexBatchDir).getParent)
      .map(_.toString)
      .getOrElse(throw new IllegalArgumentException(
        s"ingestAudioBatch: $indexBatchDir has no parent index root"))
    val fs = new org.apache.hadoop.fs.Path(parent).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    IndexStore.requireNoInterruptedVacuum(fs, parent,
      "ingestAudioBatch", Dedup.BandLayout)
    Dedup.requireLayout(spark, parent, "band", "ingestAudioBatch",
      "Rebuild the index under batch= directories (or append with " +
        "appendToAudioIndex instead).")
    val batch = bandedFps(batchFps, idCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inBatch = pairsOverBanded(batch, maxBitErrors)
    val par = spark.sparkContext.defaultParallelism
    val pairs = indexPath match {
      case None => inBatch
      case Some(p) =>
        IndexStore.warnTombstonedIngest(spark, p, batch, Dedup.BandLayout,
          "ingestAudioBatch")
        indexedPairs(batch, IndexStore.liveRows(spark, p, Dedup.BandLayout,
          Some(batch.schema)), maxBitErrors, par).union(inBatch)
    }
    val out = Dedup.materializePairs(pairs, pairsSink)
    Dedup.indexWrite(batch).mode("overwrite").partitionBy("band")
      .parquet(indexBatchDir)
    batch.unpersist(false)
    out
  }
}
