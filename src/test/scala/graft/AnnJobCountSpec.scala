package graft

import graft.operators.AnnIndex
import org.apache.spark.sql.functions._

/** Pinned Spark job counts of the quantizer builds and appends: every
  * build over the even half of the sf0.001 embeddings, then every append
  * of the odd half into it, for each family under both quantizers — and
  * k-means once more with a fit-sample cap below the corpus (the sampled
  * fit frame) and, for the coded families, m = 16 (the encode chain's
  * lineage cut). A refactor of the quantizer stages must not add a job;
  * a drop lowers the pin. */
class AnnJobCountSpec extends SparkSpec {

  private lazy val emb =
    Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString + "/idx"

  /** (family, variant) → (build jobs, append jobs). */
  private val pinned = Map(
    ("ivf", "sign") -> (8, 6),
    ("ivf", "kmeans") -> (26, 8),
    ("ivf", "kmeans-capped") -> (20, 8),
    ("pq", "sign") -> (13, 5),
    ("pq", "kmeans") -> (168, 5),
    ("pq", "kmeans-capped") -> (262, 5),
    ("ivfpq", "sign") -> (15, 8),
    ("ivfpq", "kmeans") -> (189, 10),
    ("ivfpq", "kmeans-capped") -> (276, 10))

  test("builds and appends run exactly their pinned number of jobs") {
    val evens = emb.filter(col("vec_id") % 2 === 0)
    val odds = emb.filter(col("vec_id") % 2 =!= 0)
    def build(fam: String, variant: String, p: String): Unit = {
      val q = variant.stripSuffix("-capped")
      val (m, cap) =
        if (variant == q) (8, AnnIndex.KmeansFitSampleCap) else (16, 100L)
      fam match {
        case "ivf" => AnnIndex.buildIvf(evens, "embedding", "vec_id", p,
          nCells = 8, quantizer = q, fitSampleCap = cap)
        case "pq" => AnnIndex.buildPq(evens, "embedding", "vec_id", p,
          m = m, quantizer = q, fitSampleCap = cap)
        case "ivfpq" => AnnIndex.buildIvfPq(evens, "embedding", "vec_id", p,
          nCells = 8, m = m, quantizer = q, fitSampleCap = cap)
      }
    }
    val appends = Map[String, String => Long](
      "ivf" -> (p => AnnIndex.appendIvf(odds, "embedding", "vec_id", p)),
      "pq" -> (p => AnnIndex.appendPq(odds, "embedding", "vec_id", p)),
      "ivfpq" -> (p => AnnIndex.appendIvfPq(odds, "embedding", "vec_id", p)))
    val measured = pinned.keys.toSeq.sorted.map { case key @ (fam, v) =>
      val p = tmp(s"jobs_${fam}_$v")
      val (_, b) = jobsOf(s"build_${fam}_$v")(build(fam, v, p))
      val (n, a) = jobsOf(s"append_${fam}_$v")(appends(fam)(p))
      assert(n === odds.count(), key)
      key -> (b.size, a.size)
    }.toMap
    println(s"[jobs] ${measured.toSeq.sorted.mkString(" ")}")
    assert(measured === pinned)
  }
}
