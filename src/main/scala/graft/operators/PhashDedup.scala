package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Image near-dup over perceptual hashes (round 18 — the multimodal
 * leg's index-backed dedup family, closing the one leg of the brief
 * without a similarity operator): 64-bit dHash bit-vectors
 * ([[graft.multimodal.Multimodal.perceptualHash]] — decoded-raster
 * gradients for real images, the deterministic byte-block arm for
 * everything else) banded into `bands` exact-match keys of
 * `64/bands` bits each, candidate pairs from the band-bucket join,
 * verified by hamming distance over the full hash.
 *
 * Reference behavior: the reference pipeline has no image columns —
 * this family is part of the brief's large-scale-training-data
 * extension (multimodal near-dup), designed like FAISS/imagededup's
 * pHash banding on Spark.
 *
 * Scale shape (the minhash/embedding band-index discipline):
 *  - the banded self-join touches only colliding (band, key) buckets —
 *    never all pairs; [[Dedup.bucketPairs]] streams bucket cross
 *    products through sort-merge + AQE skew split;
 *  - hamming verify is whole-stage-codegen arithmetic (two 32-bit
 *    `conv` halves + `bit_count` XOR — no UDF, no array explode);
 *  - the PERSISTED index rides the layout-generic band-index verbs
 *    unchanged ([[Dedup.deleteFromMinhashIndex]] tombstones,
 *    [[Dedup.vacuumMinhashTombstones]] targeted reclamation,
 *    [[Dedup.compactMinhashIndex]], [[Dedup.minhashIndexHealth]]) —
 *    the same takedown/vacuum/compaction/health lifecycle, zero new
 *    control-plane machinery.
 *
 * Recall contract: with `bands = 4` over 64 bits, any pair within
 * hamming 3 shares at least one exact band (pigeonhole); beyond that
 * recall is probabilistic, the standard LSH trade. The hash itself
 * puts re-encodes/mild resizes of one picture within a few bits, so
 * the operating point matches the default `maxHamming = 6` the way
 * minJaccard matches shingle banding.
 */
object PhashDedup {

  /** Band key: the k-th `bitsPer`-char slice of the hash bit-vector.
    * Kept as the substring itself (a '0'/'1' string) — exact-match
    * joinable, partition-friendly, and replayable in any SQL engine
    * against stored hashes. */
  private def bandKey(h: Column, k: Int, bitsPer: Int): Column =
    substring(h, k * bitsPer + 1, bitsPer)

  /** One row per (id, band): (id, phash, band, key). The full hash
    * rides along (the verify needs it), same as the minhash index
    * carrying shingles and the embedding index carrying vectors. */
  private[operators] def phashBanded(hashes: DataFrame, idCol: String,
      hashCol: String, bands: Int): DataFrame = {
    val bitsPer = graft.multimodal.Multimodal.HashBits / bands
    hashes
      .select(col(idCol).as("id"), col(hashCol).as("phash"))
      .select(col("id"), col("phash"),
        posexplode(array((0 until bands).map(k =>
          bandKey(col("phash"), k, bitsPer)): _*)).as(Seq("band", "key")))
  }

  /** Hamming distance between two equal-length 64-char bit-vectors:
    * XOR of the two halves' numeric forms, popcounted — stays inside
    * whole-stage codegen (`conv`/`bit_count` are native expressions;
    * a 64-char parse would overflow signed long at bit 63, so the
    * halves are 32 bits each). */
  def hamming(a: Column, b: Column): Column = {
    def half(s: Column, off: Int): Column =
      conv(substring(s, off, 32), 2, 10).cast("long")
    (bit_count(half(a, 1).bitwiseXOR(half(b, 1))) +
      bit_count(half(a, 33).bitwiseXOR(half(b, 33)))).cast("long")
  }

  /** Band-collision candidate id pairs BEFORE the hamming verify — the
    * probe/diagnostic surface whose mass the independent-bit model
    * bounds (bands x n^2 / 2^(bandBits+1) on random hashes); verified
    * pairs come from [[phashNearDupPairs]]. */
  private[graft] def phashCandidates(hashes: DataFrame, idCol: String,
      hashCol: String, bands: Int = 4): DataFrame =
    Dedup.bucketPairs(
      phashBanded(hashes, idCol, hashCol, bands)
        .select("band", "key", "id"),
      Seq("band", "key"))

  /** The phash verify: hamming distance over the stored full hashes. */
  private def phashFamily(maxHamming: Int) =
    Dedup.BandFamily.scored("phash" -> "h")("hamming",
      (a, b) => hamming(a("h"), b("h")), _ <= maxHamming)

  /** One-shot near-dup pairs over a hash table (`idCol`, `hashCol`):
    * band-bucket candidates, hamming verify, canonical (id_a < id_b)
    * order. Returns (id_a, id_b, hamming). */
  def phashNearDupPairs(hashes: DataFrame, idCol: String,
      hashCol: String, maxHamming: Int = 6, bands: Int = 4): DataFrame = {
    val banded = phashBanded(hashes, idCol, hashCol, bands)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.materializeAndRelease(
      Dedup.inSetPairs(banded, phashFamily(maxHamming)), banded)
  }

  /**
   * Persist a perceptual-hash index at `path` (flat `band=` layout,
   * the [[Dedup.buildMinhashIndex]] write discipline): hash work
   * happens once per asset ever; each batch dedups against the index
   * without re-decoding the corpus ([[incrementalPhashPairs]]), then
   * appends its own rows ([[appendToPhashIndex]]). The takedown /
   * vacuum / compaction / health verbs are the INHERITED layout-generic
   * band-index lifecycle — no phash-specific control plane.
   */
  def buildPhashIndex(hashes: DataFrame, idCol: String, hashCol: String,
      path: String, bands: Int = 4): Unit =
    Dedup.writeBands(phashBanded(hashes, idCol, hashCol, bands),
      "overwrite", path)

  /** Append a batch's hash rows under the index's banding (bands is
    * the caller's contract, like the minhash shingle/hash parameters —
    * the 64-bit hash width is fixed, so there is no data-dependent
    * plan to freeze or drift). Refuses mid-vacuum trees and the
    * streaming batch= layout, like every flat-layout appender. */
  def appendToPhashIndex(hashes: DataFrame, idCol: String,
      hashCol: String, path: String, bands: Int = 4): Unit =
    Dedup.appendBands(hashes.sparkSession, path, "appendToPhashIndex",
      "ingestPhashBatch")(phashBanded(hashes, idCol, hashCol, bands))

  /**
   * One phash-index ingestion micro-batch, banding work done ONCE —
   * the [[Dedup.ingestBatch]] discipline on this index: band the
   * batch's hashes a single time, return the batch's near-dup pairs
   * (against the existing index when `indexPath` is given, plus within
   * the batch itself), and write the banded rows to `indexBatchDir`
   * (the batch's own `batch=N` partition — overwrite, so a replayed
   * batch is idempotent). Unlike the minhash/embedding ingests there
   * is NO training step: the 64-bit hash width is fixed and the
   * banding data-independent, so every batch bands identically and no
   * plan sidecar exists to freeze. Pairs materialize BEFORE the index
   * write (the batch must not collide with its own rows through the
   * index path).
   *
   * @param pairsSink as [[Dedup.ingestBatch]]'s: with a sink the
   *   returned frame is a lazy read of that directory, valid only until
   *   the directory is next overwritten.
   */
  def ingestPhashBatch(batchHashes: DataFrame, idCol: String,
      hashCol: String, indexPath: Option[String], indexBatchDir: String,
      maxHamming: Int = 6, bands: Int = 4,
      pairsSink: Option[String] = None): DataFrame = {
    Dedup.ingestRoot(batchHashes.sparkSession, indexBatchDir,
      "ingestPhashBatch", "appendToPhashIndex")
    Dedup.ingestBands(phashBanded(batchHashes, idCol, hashCol, bands),
      phashFamily(maxHamming), indexPath, indexBatchDir, pairsSink,
      "ingestPhashBatch")
  }

  /**
   * Near-dup pairs of a NEW batch of hashes against the indexed corpus
   * (plus within the batch itself): batch keys are banded fresh,
   * corpus keys AND hashes come off the index — corpus payloads are
   * never re-decoded, never re-hashed. Tombstoned ids are anti-joined
   * before the band join ([[IndexStore.liveRows]]); `scope` restricts
   * which INDEXED assets may pair (the shared-index per-tenant
   * polarity of the other two families). Returns (id_a, id_b,
   * hamming), smaller id first, each pair once.
   */
  def incrementalPhashPairs(batchHashes: DataFrame, idCol: String,
      hashCol: String, indexPath: String, maxHamming: Int = 6,
      bands: Int = 4, scope: Option[DataFrame] = None): DataFrame =
    Dedup.probeBands(phashBanded(batchHashes, idCol, hashCol, bands),
      phashFamily(maxHamming), indexPath, scope)
}
