package graft

import graft.operators.Dedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Scale A/B for the minhash index lifecycle (round 15; round 16 adds
 * the targeted vacuum): against indexes of ¼ / ½ / 1× of a documents
 * corpus (point it at ScaleCorpus-derived dirs for the 10×/30× axis),
 * measure per size the FULL takedown lifecycle —
 *
 *  - the per-batch PROBE cost (`incrementalNearDupPairs` of a fixed
 *    held-out batch) — expected to track the index scan plus collision
 *    mass: the batch side broadcasts, so the slope against index size
 *    is the honest price of the stored-shingle verify design;
 *  - the takedown cost (`deleteFromMinhashIndex` of a fixed id set) —
 *    expected O(ids), FLAT against index size;
 *  - the targeted vacuum (`vacuumMinhashTombstones`) — expected to
 *    track the AFFECTED-file count (one narrow locate scan over the id
 *    column plus survivor rewrites of just those files), NOT the
 *    corpus;
 *  - the compaction cost (`compactMinhashIndex`) — expected O(index),
 *    the full-rewrite slope that motivates prescribing the vacuum for
 *    tombstone mass and saving compaction for fragmentation.
 *
 * Correctness rides along at every size: a tombstoned doc must vanish
 * from the probe's pairs, the post-vacuum probe must match the
 * tombstone-masked survivor pairs exactly (and run sidecar-free), and
 * the post-compaction probe must match again. Exits nonzero on any
 * violation.
 *
 * Usage: runMain graft.DedupLifecycleProbe <dir-with-documents.parquet>
 *        [batchDocs] [deleteIds]
 * (point it at /root/testdata/sf0.1 or a ScaleCorpus-derived dir)
 */
object DedupLifecycleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val batchDocs = if (args.length > 1) args(1).toInt else 1000
    val nDel = if (args.length > 2) args(2).toInt else 100
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def dataFiles(p: String): Long = graft.operators.IndexStore
      .dataFiles(graft.operators.IndexStore.fsOf(spark, p), p).size.toLong

    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    // fixed held-out batch + fixed corpus: the batch replicates corpus
    // docs under fresh ids so the probe has guaranteed cross-matches
    val isBatchSrc = pmod(xxhash64(col("doc_id"), lit(3)), lit(50L)) === 0
    val corpus = docs.filter(!isBatchSrc).localCheckpoint(true)
    val batch = docs.filter(isBatchSrc).limit(batchDocs)
      .select((col("doc_id") + 1000000000L).as("doc_id"), col("text"))
      .localCheckpoint(true)
    val nCorpus = corpus.count()
    val nBatch = batch.count()
    println(s"[probe] dedup_lifecycle corpus=$nCorpus batch=$nBatch " +
      s"delete=$nDel dir=$dir")

    def fraction(den: Long) =
      if (den == 1L) corpus
      else corpus.filter(pmod(xxhash64(col("doc_id"), lit(5)), lit(den)) === 0)

    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getLong(1))
    var bad = false
    Seq(4L, 2L, 1L).foreach { den =>
      val sub = fraction(den)
      val n = sub.count()
      val idx = Tables.freshScratch(s"dlprobe_$den") + "/idx"
      val (_, tBuild) = timed(Dedup.buildMinhashIndex(sub, "text",
        "doc_id", idx, shingleK = 5, numHashes = 16, bands = 4))
      val probe = () => Dedup.incrementalNearDupPairs(batch, "text",
        "doc_id", idx, shingleK = 5, numHashes = 16, bands = 4,
        minJaccard = 0.5).collect()
      val (pairs, tProbe) = timed(probe())
      // the takedown set: corpus twins of matched pairs, so the delete
      // is guaranteed to change answers (the leak check has teeth)
      val doomedIds = pairs
        .flatMap(r => Seq(r.getLong(0), r.getLong(1)))
        .filter(_ < 1000000000L).distinct.take(nDel)
      import spark.implicits._
      val filesBefore = dataFiles(idx)
      val (nTomb, tDel) = timed(Dedup.deleteFromMinhashIndex(spark, idx,
        doomedIds.toSeq.toDF("doc_id"), idCol = "doc_id"))
      val (afterDel, tProbeDel) = timed(probe())
      val dead = doomedIds.toSet
      val leak = afterDel.exists(r => dead(r.getLong(0)) || dead(r.getLong(1)))
      // the targeted vacuum: physical delete of just the touched files
      val ((vacFiles, vacRows), tVac) =
        timed(Dedup.vacuumMinhashTombstones(spark, idx))
      val afterVac = probe()
      val vacSame = afterVac.map(key).toSet == afterDel.map(key).toSet
      // then the full rewrite, for the O(index) slope comparison
      val (_, tCompact) = timed(Dedup.compactMinhashIndex(spark, idx))
      val afterCompact = probe()
      val compactSame =
        afterCompact.map(key).toSet == afterDel.map(key).toSet
      println(f"[probe] dedup_lifecycle size=$n build=$tBuild%.1fs " +
        f"probe=$tProbe%.1fs pairs=${pairs.length} " +
        f"delete(ids=$nTomb)=$tDel%.1fs probe_tombstoned=$tProbeDel%.1fs " +
        f"vacuum=$tVac%.1fs (files=$vacFiles/$filesBefore rows=$vacRows) " +
        f"compact=$tCompact%.1fs no_leak=${!leak} vacuum_identical=$vacSame " +
        f"compact_identical=$compactSame " +
        (if (!leak && vacSame && compactSame) "ok" else "BAD"))
      if (leak || !vacSame || !compactSame) bad = true
    }
    spark.stop()
    if (bad) sys.exit(1)
  }
}
