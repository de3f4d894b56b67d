package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Scale A/B for the embedding band index (round 16 — the
 * [[DedupLifecycleProbe]] treatment on the third persisted structure):
 * against indexes of ¼ / ½ / 1× of an embeddings corpus, measure the
 * full lifecycle —
 *
 *  - the per-batch PROBE cost (`incrementalEmbeddingPairs` of a fixed
 *    held-out batch of ×2-scaled corpus twins — cosine exactly 1, band
 *    keys identical, so recovery is exact and countable);
 *  - the takedown (`deleteFromMinhashIndex` — the inherited generic
 *    verb) — expected O(ids), flat;
 *  - the targeted vacuum — expected to track affected files;
 *  - the compaction — expected O(index).
 *
 * Correctness rides along at every size: every planted twin's pair
 * must be recovered through the index path, a tombstoned vector must
 * vanish from the probe, the post-vacuum probe must match the
 * tombstone-masked pairs exactly (sidecar-free), and the
 * post-compaction probe must match again with `_embplan` carried.
 * Exits nonzero on violation.
 *
 * Usage: runMain graft.EmbIndexProbe <dir-with-embeddings.parquet>
 *        [batchVecs] [deleteIds]
 * (point it at /root/testdata/sf0.1 or a ScaleCorpus-derived dir)
 */
object EmbIndexProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val batchVecs = if (args.length > 1) args(1).toInt else 1000
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

    val vecs = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).localCheckpoint(true)
    val nAll = vecs.count()
    // fixed held-out batch: x2-scaled twins of a hash-slice of the
    // corpus under shifted ids — every twin MUST pair with its original
    // at cosine 1.0 through the index (scale-invariant, sign-preserving)
    val isTwinSrc = pmod(xxhash64(col("vec_id"), lit(3)), lit(50L)) === 0
    val batch = vecs.filter(isTwinSrc).limit(batchVecs)
      .select((col("vec_id") + 1000000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      .localCheckpoint(true)
    val nBatch = batch.count()
    println(s"[probe] emb_index corpus=$nAll batch=$nBatch " +
      s"delete=$nDel dir=$dir")

    def fraction(den: Long) =
      if (den == 1L) vecs
      else vecs.filter(pmod(xxhash64(col("vec_id"), lit(5)), lit(den)) === 0)

    def dataFiles(p: String): Long = graft.operators.IndexStore
      .dataFiles(graft.operators.IndexStore.fsOf(spark, p), p).size.toLong

    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getLong(1))
    var bad = false
    Seq(4L, 2L, 1L).foreach { den =>
      val sub = fraction(den)
      val n = sub.count()
      val idx = Tables.freshScratch(s"embprobe_$den") + "/idx"
      val ((plan, _), tBuild) = timed((Similarity.buildEmbeddingIndex(
        sub, "embedding", "vec_id", idx, minCosine = 0.9), ()))
      val probe = () => Similarity.incrementalEmbeddingPairs(batch,
        "embedding", "vec_id", idx).collect()
      val (pairs, tProbe) = timed(probe())
      // planted recovery: every twin whose ORIGINAL is in this fraction
      // must pair with it (cosine 1.0, identical band keys — exact)
      val expected = sub.filter(isTwinSrc)
        .join(batch.select((col("vec_id") - 1000000000L).as("vec_id")),
          Seq("vec_id"), "left_semi").count()
      val twins = pairs.count { r =>
        r.getLong(1) == r.getLong(0) + 1000000000L }
      val recovered = twins.toLong >= expected
      // takedown: twins' corpus originals — the delete must change answers
      val doomedIds = pairs
        .flatMap(r => Seq(r.getLong(0), r.getLong(1)))
        .filter(_ < 1000000000L).distinct.take(nDel)
      import spark.implicits._
      val filesBefore = dataFiles(idx)
      val (nTomb, tDel) = timed(Dedup.deleteFromMinhashIndex(spark, idx,
        doomedIds.toSeq.toDF("vec_id"), idCol = "vec_id"))
      val (afterDel, tProbeDel) = timed(probe())
      val dead = doomedIds.toSet
      val leak = afterDel.exists(r => dead(r.getLong(0)) || dead(r.getLong(1)))
      val ((vacFiles, vacRows), tVac) =
        timed(Dedup.vacuumMinhashTombstones(spark, idx))
      val afterVac = probe()
      val vacSame = afterVac.map(key).toSet == afterDel.map(key).toSet
      val (_, tCompact) = timed(Dedup.compactMinhashIndex(spark, idx))
      val afterCompact = probe()
      val compactSame =
        afterCompact.map(key).toSet == afterDel.map(key).toSet
      println(f"[probe] emb_index size=$n plan=$plan build=$tBuild%.1fs " +
        f"probe=$tProbe%.1fs pairs=${pairs.length} " +
        f"twins=$twins/$expected delete(ids=$nTomb)=$tDel%.1fs " +
        f"probe_tombstoned=$tProbeDel%.1fs vacuum=$tVac%.1fs " +
        f"(files=$vacFiles/$filesBefore rows=$vacRows) " +
        f"compact=$tCompact%.1fs recovered=$recovered no_leak=${!leak} " +
        f"vacuum_identical=$vacSame compact_identical=$compactSame " +
        (if (recovered && !leak && vacSame && compactSame) "ok" else "BAD"))
      if (!recovered || leak || !vacSame || !compactSame) bad = true
    }
    spark.stop()
    if (bad) sys.exit(1)
  }
}
