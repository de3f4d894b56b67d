package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Derived scale-up corpus generator for the scaling-slope measurement:
 * multiplies the `documents` and `embeddings` tables of a base testdata
 * dir by an integer factor into a NEW dir with the same layout, so the
 * exact same Bench harness (same JVM recipe, same registry queries) can
 * time the same rows at 1x vs Nx and the README can record measured
 * sf0.1→sf1.0 ratios instead of a design-read scaling claim.
 *
 * The construction preserves the workload's GEOMETRY at Nx instead of
 * manufacturing a pathological one (that adversarial case is
 * [[ScaleSmoke]]'s job — exact replicas make every doc an N-clique and
 * pair mass grows ~N² per base pair):
 *
 *  - documents: copy c > 0 applies a per-copy affine substitution
 *    cipher to letters and digits (distinct (a·x + b) mod 26 / mod 10
 *    maps per copy; whitespace and punctuation untouched; a short
 *    function-word whitelist kept verbatim so tokenization shape and
 *    stopword-based quality gates stay plausible). A per-char bijection
 *    maps every char shingle and every token BIJECTIVELY, so each
 *    copy's internal near-dup structure is EXACTLY the base corpus's —
 *    same Jaccards, same clique sizes — while cross-copy overlap is
 *    only the whitelist material (well under every near-dup threshold
 *    in use). True near-dup pair mass therefore scales LINEARLY
 *    (N x base), the realistic shape for a corpus N times the size,
 *    and text LENGTH is preserved so char volume is exactly N x base.
 *    (The first cut of this generator suffixed every token with a copy
 *    tag instead: the shared suffix chars leaked identical shingles
 *    into every same-copy doc pair, inflating within-copy Jaccard until
 *    nearly ALL pairs crossed 0.5 — 57M pairs at 30x instead of the
 *    linear ~30 x base. A derived corpus must preserve the base's
 *    similarity geometry, not manufacture a denser one.)
 *  - embeddings: copy c > 0 applies a per-copy deterministic diagonal
 *    ±1 sign flip — an orthogonal transform, so every within-copy
 *    cosine is bit-preserved while cross-copy vectors decorrelate
 *    (expected cosine ~0 under independent sign patterns). Same linear
 *    pair-mass scaling on the embedding side.
 *
 * Ids shift by c·10^7 per copy (the ScaleSmoke convention — base ids
 * stay identical to the source dir). All other tables are copied
 * verbatim (the heavy rows under measurement read only documents /
 * embeddings; the copies keep every registry query runnable against the
 * derived dir).
 *
 * Usage: runMain graft.ScaleCorpus <baseSfDir> <outDir> <mult>
 */
object ScaleCorpus {

  /** Function words kept verbatim by the cipher: tokenization shape and
    * stopword-driven quality rules stay plausible on every copy. Short
    * words, so k=5 char shingles rarely sit fully inside one — the
    * cross-copy shingle overlap they contribute stays far below the
    * near-dup thresholds. */
  private val KeepWords = Set(
    "the", "be", "to", "of", "and", "a", "in", "that", "have", "it",
    "is", "was", "for", "on", "are", "with")

  /** Distinct affine char maps per copy: letters x -> (a·x + b) mod 26
    * (a coprime to 26), digits x -> (ad·x + bd) mod 10 (ad coprime to
    * 10); case preserved; everything else untouched. c = 0 is never
    * passed (the base copy ships unmodified), and no c >= 1 yields the
    * identity LETTER map: b = c % 25 + 1 is never 0, so even a = 1
    * shifts every letter (the first cut used b = c % 26, where c = 312
    * hit a = 1, b = 0 — a silent identity copy that would near-dup the
    * base and corrupt the linear pair-mass geometry). The digit map is
    * likewise kept off-identity (bd never 0); a digit-only identity
    * would be harmless (letters still cipher) but costs nothing to
    * exclude. */
  private[graft] def affineAlphabets(c: Int): (String, String) = {
    val A = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
    val D = Seq(1, 3, 7, 9)
    val (a, b) = (A((c / 26) % 12), c % 25 + 1)
    val (ad, bd) = (D((c / 10) % 4), c % 9 + 1)
    val lower = ('a' to 'z').mkString
    val upper = ('A' to 'Z').mkString
    val digit = ('0' to '9').mkString
    val from = lower + upper + digit
    val to = lower.map(ch => ('a' + (a * (ch - 'a') + b) % 26).toChar) ++
      upper.map(ch => ('A' + (a * (ch - 'A') + b) % 26).toChar) ++
      digit.map(ch => ('0' + (ad * (ch - '0') + bd) % 10).toChar)
    (from, to.mkString)
  }

  /** The per-copy text transform: whitelist tokens verbatim, everything
    * else through the copy's substitution cipher (one codegen'd
    * projection — translate + a small isin, no UDFs). */
  private[graft] def cipherText(text: org.apache.spark.sql.Column, c: Int)
      : org.apache.spark.sql.Column = {
    val (from, to) = affineAlphabets(c)
    concat_ws(" ", transform(split(text, " "),
      t => when(lower(t).isin(KeepWords.toSeq: _*), t)
        .otherwise(translate(t, from, to))))
  }

  /** The per-copy embedding transform: a deterministic diagonal ±1 sign
    * flip (f_j = ±1 from hash(j + 37c)). f_j² = 1, so within-copy dot
    * products — hence cosines — are preserved EXACTLY, while cross-copy
    * dot products scramble to ~0 (each term's sign flips independently).
    * The flip pattern is the copy's identity: patterns must be pairwise
    * distinct and non-identity over the full copy range or two copies
    * would near-dup each other (spec-pinned pairwise-distinct through
    * c = 300; the larger emb-only corpora are verified empirically —
    * zero cross-copy pairs found at the dedup threshold). */
  private[graft] def flipEmbedding(vec: org.apache.spark.sql.Column, c: Int)
      : org.apache.spark.sql.Column =
    transform(vec, (x, j) =>
      x * when(pmod(hash(j + lit(c * 37)), lit(2)) === 0, lit(1.0f))
        .otherwise(lit(-1.0f)))

  /** Per-copy id shift: copy c's ids are the base ids + c·IdStride. */
  private[graft] val IdStride = 10000000L

  /** The copies stay disjoint only while every base id lies in
    * [0, IdStride): a grown base corpus would otherwise silently merge
    * copy c's shifted ids into copy c+1's. One min/max aggregate over
    * the id column; a no-op at mult 1 (a single copy cannot collide). */
  private[graft] def requireIdsFitStride(base: DataFrame, idCol: String,
      mult: Int): Unit = if (mult > 1) {
    val id = col(idCol).cast("long")
    val r = base.agg(min(id), max(id)).head()
    if (!r.isNullAt(0))
      require(r.getLong(0) >= 0L && r.getLong(1) < IdStride,
        s"$idCol spans [${r.getLong(0)}, ${r.getLong(1)}]: the per-copy id " +
          s"stride $IdStride needs every base id in [0, $IdStride) or " +
          s"copies would share ids")
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: ScaleCorpus <baseSfDir> <outDir> <mult> [all|emb]")
    val base = args(0)
    val out = args(1)
    val mult = args(2).toInt
    require(mult >= 1, s"mult must be >= 1, got $mult")
    // Structural ceiling matching the spec'd guarantee range: the affine
    // letter-map non-identity and the embedding flip-family pairwise
    // distinctness are PROVEN (ScaleCorpusSpec) only through c = 300 —
    // past it a colliding copy pair would silently corrupt the linear
    // pair-mass geometry the derived corpus exists to preserve, so the
    // bound is enforced here rather than documented.
    require(mult <= 300,
      s"mult must be <= 300 (the spec-pinned distinctness range for the " +
        s"cipher and flip families), got $mult")
    // emb mode: scale ONLY the embeddings table (the ANN/semantic rows'
    // sole input) and copy everything else verbatim — a 64-dim vector is
    // ~150x lighter than its document, so the similarity family can be
    // stressed at 100-300x corpus without paying the 300x text cipher
    val embOnly = args.length == 4 && args(3) == "emb"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = Tables.load(spark, base, "documents")
    val bigDocs =
      if (embOnly) docs
      else (0 until mult).map { c =>
        val txt = if (c == 0) col("text") else cipherText(col("text"), c)
        docs.select(
          (col("doc_id") + lit(c * IdStride)).as("doc_id"),
          txt.as("text"), col("lang"), col("source"),
          length(txt).cast("long").as("n_chars"))
      }.reduce(_.unionByName(_))
    if (!embOnly) requireIdsFitStride(docs, "doc_id", mult)
    bigDocs.repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = Tables.load(spark, base, "embeddings")
    requireIdsFitStride(emb, "vec_id", mult)
    val bigEmb = (0 until mult).map { c =>
      val vec =
        if (c == 0) col("embedding") else flipEmbedding(col("embedding"), c)
      emb.select(
        (col("vec_id") + lit(c * IdStride)).as("vec_id"),
        vec.as("embedding"), col("label"))
    }.reduce(_.unionByName(_))
    bigEmb.repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // verbatim copies via Tables.load — the events loader normalizes the
    // generator's physical timestamp encoding, so the copy re-reads clean
    Tables.names.filterNot(n => n == "documents" || n == "embeddings")
      .foreach { name =>
        Tables.load(spark, base, name)
          .write.mode("overwrite").parquet(s"$out/$name.parquet")
      }

    val nd = spark.read.parquet(s"$out/documents.parquet").count()
    val ne = spark.read.parquet(s"$out/embeddings.parquet").count()
    println(s"[scale-corpus] $out: documents=$nd embeddings=$ne (mult=$mult" +
      (if (embOnly) ", emb-only" else "") + s" from $base)")
    spark.stop()
  }
}
