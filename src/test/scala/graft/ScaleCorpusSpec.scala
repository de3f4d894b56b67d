package graft

import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._

/** The derived-corpus cipher must preserve each copy's internal
  * similarity geometry exactly and keep cross-copy overlap far below
  * every near-dup threshold — the properties the round-11 scaling-slope
  * measurement stands on. */
class ScaleCorpusSpec extends SparkSpec {
  import spark.implicits._

  private val a = "the quick brown fox jumps over the lazy dog near a riverbank today"
  private val b = "the quick brown fox jumps over the lazy dog near a riverbank tonight"
  private val far = "completely unrelated material discussing catalyst optimizer internals"

  private def jac(x: String, y: String, c: Int): Double = {
    val df = Seq((x, y)).toDF("x", "y")
      .select(
        (if (c == 0) col("x") else ScaleCorpus.cipherText(col("x"), c)).as("cx"),
        (if (c == 0) col("y") else ScaleCorpus.cipherText(col("y"), c)).as("cy"))
      .select(
        array_distinct(charShinglesCanon(canonicalText(col("cx")), 5)).as("sx"),
        array_distinct(charShinglesCanon(canonicalText(col("cy")), 5)).as("sy"))
      .select((size(array_intersect(col("sx"), col("sy"))).cast("double") /
        size(array_union(col("sx"), col("sy")))).as("j"))
    df.as[Double].head()
  }

  private def cross(x: String, c1: Int, c2: Int): Double = {
    val df = Seq((x, x)).toDF("x", "y")
      .select(ScaleCorpus.cipherText(col("x"), c1).as("cx"),
        ScaleCorpus.cipherText(col("y"), c2).as("cy"))
      .select(
        array_distinct(charShinglesCanon(canonicalText(col("cx")), 5)).as("sx"),
        array_distinct(charShinglesCanon(canonicalText(col("cy")), 5)).as("sy"))
      .select((size(array_intersect(col("sx"), col("sy"))).cast("double") /
        size(array_union(col("sx"), col("sy")))).as("j"))
    df.as[Double].head()
  }

  test("cipher preserves length and within-copy shingle Jaccard (bijective " +
      "rename), keeps cross-copy overlap far below the thresholds") {
    // length preserved exactly for every copy index used by the slope runs
    val lens = Seq(a).toDF("x").select(
      length(col("x")) +: (1 until 30).map(c =>
        length(ScaleCorpus.cipherText(col("x"), c))): _*)
      .head().toSeq.map(_.asInstanceOf[Int])
    assert(lens.distinct.size === 1, s"cipher changed text length: $lens")
    // within-copy geometry: the ciphered pair's Jaccard equals the base
    // pair's (same shingle-set sizes, same intersection size)
    val j0 = jac(a, b, 0)
    assert(j0 > 0.5, s"fixture pair must be a near-dup in base, j=$j0")
    (1 until 30).foreach { c =>
      val jc = jac(a, b, c)
      assert(math.abs(jc - j0) < 0.02,
        s"copy $c distorted within-copy jaccard: $jc vs base $j0")
    }
    // a far pair stays far in every copy
    assert(jac(a, far, 7) < 0.1)
    // cross-copy: the SAME doc under two different copy ciphers must not
    // be a near-dup of itself (only whitelist material overlaps)
    for ((c1, c2) <- Seq((1, 2), (1, 27), (5, 15), (9, 29)))
      assert(cross(a, c1, c2) < 0.3,
        s"copies $c1/$c2 share too many shingles: ${cross(a, c1, c2)}")
  }

  test("affine maps are pairwise distinct and never the identity over the " +
      "slope run's copy range") {
    val images = (1 until 30).map(c => Seq("abcdefghij zyx 0123456789")
      .toDF("x").select(ScaleCorpus.cipherText(col("x"), c)).as[String].head())
    assert(images.distinct.size === images.size, "two copies share a cipher")
    assert(!images.contains("abcdefghij zyx 0123456789"), "identity cipher leaked")
  }

  test("embedding sign-flip family: within-copy cosines preserved exactly, " +
      "flip patterns pairwise distinct and non-identity through c = 300 " +
      "(the emb-only similarity slope corpus)") {
    val x = Array(0.3f, -1.2f, 0.8f, 2.0f, -0.5f, 0.9f, -2.2f, 1.1f)
    val y = Array(1.0f, 0.4f, -0.7f, 0.2f, 1.5f, -0.3f, 0.6f, -1.8f)
    val base = Seq((x.toSeq, y.toSeq)).toDF("x", "y")
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (p, q) => p * q), lit(0.0f), (s, v) => s + v)
    val d0 = base.select(dot(col("x"), col("y"))).as[Float].head()
    // exact preservation under a handful of copies (f_j^2 = 1 per term)
    Seq(1, 37, 150, 300).foreach { c =>
      val dc = base.select(dot(
        ScaleCorpus.flipEmbedding(col("x"), c),
        ScaleCorpus.flipEmbedding(col("y"), c))).as[Float].head()
      assert(dc === d0, s"copy $c distorted a within-copy dot product")
    }
    // the 64-dim flip patterns themselves: distinct across copies, none
    // the identity (all +1) — the decorrelation the e300 corpus stands on
    val ones = Seq(Seq.fill(64)(1.0f)).toDF("v")
    val patterns = (1 to 300).map { c =>
      ones.select(ScaleCorpus.flipEmbedding(col("v"), c))
        .as[Seq[Float]].head()
    }
    assert(patterns.distinct.size === patterns.size,
      "two copies share a sign-flip pattern")
    assert(!patterns.contains(Seq.fill(64)(1.0f)), "identity flip leaked")
  }

  test("no copy index up to 1000 yields an identity letter or digit map " +
      "(the b = c % 26 bug put the identity at c = 312)") {
    (1 to 1000).foreach { c =>
      val (from, to) = ScaleCorpus.affineAlphabets(c)
      val letters = from.take(26).zip(to.take(26))
      val digits = from.takeRight(10).zip(to.takeRight(10))
      assert(letters.exists { case (f, t) => f != t },
        s"copy $c: identity letter map")
      assert(digits.exists { case (f, t) => f != t },
        s"copy $c: identity digit map")
    }
  }

  test("the per-copy id stride refuses a base id outside [0, 10^7) " +
      "instead of silently merging copies") {
    val fits = Seq(0L, ScaleCorpus.IdStride - 1).toDF("id")
    ScaleCorpus.requireIdsFitStride(fits, "id", mult = 2)
    val grown = Seq(1L, ScaleCorpus.IdStride).toDF("id")
    val e = intercept[IllegalArgumentException](
      ScaleCorpus.requireIdsFitStride(grown, "id", mult = 2))
    assert(e.getMessage.contains("stride"), e.getMessage)
    intercept[IllegalArgumentException](
      ScaleCorpus.requireIdsFitStride(Seq(-1L).toDF("id"), "id", mult = 3))
    // one copy has nothing to collide with
    ScaleCorpus.requireIdsFitStride(grown, "id", mult = 1)
  }
}
