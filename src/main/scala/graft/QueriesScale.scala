package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Scaling-legible bench arm (round 19, judge ask #8): three
 * compute-heavy rows over a DERIVED corpus `SPARK_GRAFT_SCALE_ARM`
 * times the input size, so the driver's low-core/high-core bench pair
 * measures PARALLELISM instead of scheduler fixed costs. At sf0.1
 * nearly every headline row is fixed-cost-bound (r18 finding: ~50 % of
 * wall in inter-job driver gaps; the 8-core sweep ran *faster* than
 * the 32-core one), so the core-count ratio of the existing rows says
 * nothing about how the operators scale — these rows carry enough
 * real work (signature CPU, banded self-join mass, LM scoring) that
 * work ≫ fixed costs and the 8-vs-32-core ratio becomes meaningful.
 *
 * The derived corpus is [[ScaleCorpus]]'s construction applied lazily
 * in-query — per-copy affine substitution cipher on text (bijective:
 * each copy's internal near-dup geometry is exactly the base's, pair
 * mass scales linearly), per-copy orthogonal ±1 sign flip on
 * embeddings — always computed from the parquet inputs inside the
 * timed region, never staged or cached across runs. Multiplier from
 * `SPARK_GRAFT_SCALE_ARM` (default 4 — measured so the three rows add
 * ~8 s to the 32-core sweep while still carrying work ≫ fixed costs;
 * 1 = base corpus). No oracle:
 * the rows exist to measure scaling of operators whose 1x twins are
 * oracle-checked (dedup_minhash, emb_semdedup, text_lm_perplexity);
 * the driver's rows-only check still pins determinism.
 */
object QueriesScale {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private[graft] def mult: Int = {
    val m = sys.env.getOrElse("SPARK_GRAFT_SCALE_ARM", "4").toInt
    require(m >= 1 && m <= 300,
      s"SPARK_GRAFT_SCALE_ARM must be in [1, 300] (the ScaleCorpus " +
        s"distinctness range), got $m")
    m
  }

  /** The ScaleCorpus documents construction, lazily: copy 0 verbatim,
    * copy c ciphered (bijective per copy), ids shifted by c·10^7.
    * The base is repartitioned to the session width FIRST — the cipher
    * projection otherwise runs at the small parquet scan's 1-2
    * partitions per copy (core-flat synthesis CPU, which defeated the
    * row's purpose: an 8-vs-32-core ratio of ~1.1 measured before this
    * spread); the per-copy projections share the ONE exchange
    * (identical subtree, exchange reuse). */
  private[graft] def scaledDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
    ScaleCorpus.requireIdsFitStride(docs, "doc_id", mult)
    val wide = docs.repartition(s.sparkContext.defaultParallelism)
    (0 until mult).map { c =>
      val txt =
        if (c == 0) col("text") else ScaleCorpus.cipherText(col("text"), c)
      wide.select((col("doc_id") + lit(c * ScaleCorpus.IdStride)).as("doc_id"),
        txt.as("text"))
    }.reduce(_.unionByName(_))
  }

  /** The ScaleCorpus embeddings construction, lazily: copy 0 verbatim,
    * copy c under its orthogonal diagonal ±1 flip (within-copy cosines
    * bit-preserved, cross-copy ~0). */
  private[graft] def scaledEmb(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    ScaleCorpus.requireIdsFitStride(emb, "vec_id", mult)
    val wide = emb.repartition(s.sparkContext.defaultParallelism)
    (0 until mult).map { c =>
      val vec =
        if (c == 0) col("embedding")
        else ScaleCorpus.flipEmbedding(col("embedding"), c)
      wide.select((col("vec_id") + lit(c * ScaleCorpus.IdStride)).as("vec_id"),
        vec.as("embedding"))
    }.reduce(_.unionByName(_))
  }

  val defs: Seq[QueryDef] = Seq(

    // MinHash near-dup pairs at mult× corpus: the signature chain is
    // the CPU-heavy per-row work, the banded self-join + Jaccard
    // verify the shuffle-heavy part — both scale linearly with the
    // derived corpus, so the row's core-count ratio reads parallelism.
    QueryDef("scale_minhash_pairs", None,
      (s, dir) => graft.operators.Dedup.minhashNearDupPairs(
        scaledDocs(s, dir), "text", "doc_id",
        shingleK = 5, numHashes = 16, bands = 4, minJaccard = 0.5)),

    // SemDeDup at mult× embeddings: signature banding + candidate
    // cosine mass, emb_semdedup's shape at a work size where the
    // banded join dominates the fixed costs.
    QueryDef("scale_semdedup", None,
      (s, dir) => graft.operators.Similarity.semDedup(
        scaledEmb(s, dir), "embedding", "vec_id",
        minCosine = 0.9, signBits = 6)
        .withColumnRenamed("id", "vec_id")),

    // Shuffle-free compute pass at mult× corpus: cipher synthesis +
    // the canon/shingle/minhash SIGNATURE kernel (the CPU-heavy per-row
    // chain of the dedup family), partial-aggregated to one row — the
    // map-only control row. The three rows above all carry shuffles,
    // and local-mode shuffle machinery is core-FLAT-or-worse at this
    // scale (M×R block count grows quadratically with width — guide
    // §2.2 — and every task result serializes through the one driver
    // event loop), so their 8-vs-32 ratio measures the scheduler, not
    // the operator. This row's ratio isolates pure compute scaling:
    // the signature fold over every shingle of every doc, no exchange
    // except the one-row final agg.
    QueryDef("scale_sig_stats", None,
      (s, dir) => {
        import graft.functions.TextFunctions._
        scaledDocs(s, dir)
          .select(col("doc_id"),
            canonicalText(col("text")).as("__canon"))
          .select(col("doc_id"),
            array_distinct(charShinglesCanon(col("__canon"), 5))
              .as("__sh"))
          .select(col("doc_id"),
            minhashSignature(col("__sh"), 16).as("__sig"))
          .agg(count(lit(1)).as("n_docs"),
            sum(element_at(col("__sig"), 1)).as("sig_mass"),
            sum(size(col("__sig"))).as("sig_width_mass"))
      }),

    // Self-trained bigram-LM scoring at mult× corpus: one training
    // pass (hash aggregation over token pairs) + one scoring pass
    // (gram explode + model joins + per-doc regroup) — the
    // text_lm_perplexity shape with corpus-bound work.
    QueryDef("scale_lm_nll", None,
      (s, dir) => {
        val docs = scaledDocs(s, dir)
        graft.operators.NgramLm.scoreNll(docs, "text", "doc_id",
          graft.operators.NgramLm.train(docs, "text"))
      }))
}
