package graft

import graft.operators.{AnnIndex, IndexStore}
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.functions._

/** The session memo of decoded sidecars and read schemas
  * ([[IndexStore.sidecar]], [[IndexStore.dataSchema]]): a warm probe of
  * an unchanged index decodes no sidecar and infers no schema; after
  * every mutation a warm probe answers exactly what an uncached probe
  * answers; and a warm memo still fails closed on every damaged state.
  * An uncached probe reads a byte copy of the index at a fresh path:
  * the memo is keyed by the qualified sidecar directory, so nothing the
  * session decoded for the original can serve the copy. */
class IndexReadCacheSpec extends SparkSpec {
  import spark.implicits._

  /** 400 deterministic 64-d vectors (vec_id, embedding). */
  private lazy val emb = spark.range(400).select(col("id").as("vec_id"),
    array((0 until 64).map(j =>
      sin(col("id") * (1.1 + 0.37 * j) + j).cast("float")): _*)
      .as("embedding"))
  private lazy val queries = emb.filter(col("vec_id") < 6)
  private def fsOf(p: String) = IndexStore.fsOf(spark, p)
  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString + "/idx"
  private def copyOf(src: String, tag: String): String = {
    val dst = tmp(tag)
    assert(FileUtil.copy(fsOf(src), new Path(src), fsOf(dst), new Path(dst),
      false, spark.sparkContext.hadoopConfiguration))
    dst
  }

  private type Answer = Set[(Long, Long, Double)]
  private def ivfPq(p: String): Answer =
    AnnIndex.ivfPqKnnJoin(spark, p, queries, emb, "embedding", "vec_id",
      k = 5).as[(Long, Long, Double)].collect().toSet
  private def lsh(p: String): Answer =
    AnnIndex.lshKnnJoin(spark, p, queries, "embedding", "vec_id", k = 5)
      .as[(Long, Long, Double)].collect().toSet

  /** Call sites that decode a sidecar or infer a schema: every schema
    * inference runs inside a `DataFrameReader` call. */
  private val decodeSites = Seq("readCentroidsSidecar", "readCodebooks",
    "codebooksSidecar", "lshIndexMeta", "lshPlanSidecar", "DataFrameReader")

  private def decodeJobs(details: Seq[String]): Seq[String] =
    details.filter(d => decodeSites.exists(d.contains))
      .map(_.split("\n").find(_.contains("graft.")).getOrElse("?"))

  test("a warm probe of an unchanged IVF-PQ or grouped LSH index decodes " +
      "no sidecar and infers no schema") {
    val families = Seq[(String, String => Unit, String => Answer)](
      ("ivfpq", p => AnnIndex.buildIvfPq(emb, "embedding", "vec_id", p,
        nCells = 4, m = 4, quantizer = "sign"), ivfPq),
      ("lsh", p => AnnIndex.buildLsh(emb, "embedding", "vec_id", p,
        dims = 64, bits = 8), lsh))
    for ((name, build, probe) <- families) {
      val p = tmp(s"memo_$name")
      build(p)
      if (name == "lsh") assert(fsOf(p).listStatus(new Path(p))
        .exists(_.getPath.getName.startsWith("sig_grp=")), "not grouped")
      val (cold, coldJobs) = jobsOf(s"cold_$name")(probe(p))
      // the detector sees the decodes a cold probe pays
      assert(decodeJobs(coldJobs).nonEmpty, s"$name: cold probe decoded " +
        s"nothing — the detector is blind")
      val (warm, warmJobs) = jobsOf(s"warm_$name")(probe(p))
      assert(decodeJobs(warmJobs).isEmpty,
        s"$name: warm probe re-read: ${decodeJobs(warmJobs)}")
      assert(warmJobs.size < coldJobs.size, name)
      assert(warm === cold && warm.nonEmpty, name)
    }
  }

  test("after every IVF-PQ mutation a warm probe equals an uncached " +
      "probe of a byte copy") {
    val p = tmp("memo_mut")
    val evens = emb.filter(col("vec_id") % 2 === 0)
    AnnIndex.buildIvfPq(evens, "embedding", "vec_id", p, nCells = 4, m = 4,
      quantizer = "sign")
    def same(step: String): Unit = {
      val warm = ivfPq(p) // populates the memo for the next step
      val copy = copyOf(p, "memo_ref")
      assert(warm === ivfPq(copy), step)
      assert(AnnIndex.ivfCentroids(spark, p).map(_._1).toSet ===
        AnnIndex.ivfCentroids(spark, copy).map(_._1).toSet, step)
      assert(warm.nonEmpty, step)
    }
    same("build")
    AnnIndex.appendIvfPq(emb.filter(col("vec_id") % 2 === 1), "embedding",
      "vec_id", p)
    same("appendIvfPq")
    AnnIndex.deleteIds(spark, p, Seq(0L, 1L, 2L, 3L).toDF("vec_id"))
    same("deleteIds")
    assert(!ivfPq(p).exists(r => Set(0L, 1L, 2L, 3L)(r._2)))
    AnnIndex.vacuumTombstones(spark, p)
    same("vacuumTombstones")
    AnnIndex.deleteIds(spark, p, Seq(4L, 5L).toDF("vec_id"))
    AnnIndex.compactIndex(spark, p)
    same("compactIndex")
    AnnIndex.reindexIvfPq(emb, "embedding", "vec_id", p, nCells = 8)
    same("reindexIvfPq")
    assert(AnnIndex.ivfCentroids(spark, p).length === 8)
    AnnIndex.buildIvfPq(emb, "embedding", "vec_id", p, nCells = 2, m = 8,
      quantizer = "sign")
    same("rebuild at m=8, nCells=2")
    assert(AnnIndex.ivfCentroids(spark, p).length === 2)
  }

  test("a grouped LSH rebuild at another width is seen by a warm probe") {
    val p = tmp("memo_lsh")
    AnnIndex.buildLsh(emb, "embedding", "vec_id", p, dims = 64, bits = 8)
    lsh(p)
    assert(AnnIndex.lshIndexPlan(spark, p)._1 === 8)
    AnnIndex.buildLsh(emb, "embedding", "vec_id", p, dims = 64, bits = 6,
      autoPlan = false)
    assert(AnnIndex.lshIndexPlan(spark, p)._1 === 6)
    assert(lsh(p) === lsh(copyOf(p, "memo_lsh_ref")))
  }

  test("a warm memo still fails closed: deleted sidecar, undescribed " +
      "cell=, crashed swap, interrupted vacuum") {
    val base = tmp("memo_gate")
    AnnIndex.buildIvfPq(emb, "embedding", "vec_id", base, nCells = 4, m = 4,
      quantizer = "sign")
    /** A warm copy of the index, damaged by `damage`; the next probe must
      * fail with `msg`. */
    def failsClosed(what: String, msg: String)(damage: String => Unit)
        : Unit = {
      val p = copyOf(base, "memo_gate_case")
      assert(ivfPq(p).nonEmpty, what)
      damage(p)
      val e = intercept[IllegalStateException](ivfPq(p))
      assert(e.getMessage.contains(msg), s"$what: ${e.getMessage}")
    }
    failsClosed("hand-deleted _codebooks", "no _codebooks sidecar") { p =>
      assert(fsOf(p).delete(new Path(s"$p/_codebooks"), true))
    }
    failsClosed("undescribed cell=", "not described by the _centroids") {
      p =>
        val fs = fsOf(p)
        val src = fs.listStatus(new Path(p))
          .find(_.getPath.getName.startsWith("cell=")).get.getPath
        assert(FileUtil.copy(fs, src, fs, new Path(s"$p/cell=999"), false,
          spark.sparkContext.hadoopConfiguration))
    }
    failsClosed("crashed swap", "renaming it back") { p =>
      IndexStore.moveAside(fsOf(p), p, IndexStore.Compaction, "compactIndex")
    }
    failsClosed("interrupted vacuum", "roll it forward") { p =>
      AnnIndex.deleteIds(spark, p, Seq(3L, 7L).toDF("vec_id"))
      assert(ivfPq(p).nonEmpty) // warm over the tombstones too
      val m = IndexStore.stageSurvivors(spark, p, AnnIndex.IndexLayout).get
      IndexStore.publishManifest(fsOf(p), p, m, AnnIndex.IndexLayout)
    }
    // the grouped LSH `_plan`: a warm memo must not stand in for it
    val lp = tmp("memo_gate_lsh")
    AnnIndex.buildLsh(emb, "embedding", "vec_id", lp, dims = 64, bits = 8)
    assert(lsh(lp).nonEmpty)
    assert(fsOf(lp).delete(new Path(s"$lp/_plan"), true))
    val e = intercept[IllegalStateException](lsh(lp))
    assert(e.getMessage.contains("no grp_bits sidecar"), e.getMessage)
  }
}
