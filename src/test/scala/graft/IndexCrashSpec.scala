package graft

import graft.operators.{AnnIndex, Dedup, IndexStore}
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.functions._
import scala.util.{Failure, Success, Try}

/** Crash consistency of the shared index mutation protocol
  * ([[IndexStore]]) at EVERY step boundary, for one ANN index (IVF-PQ)
  * and one band index on the streaming `batch=` layout. Each cut starts
  * from a fresh copy of the same tombstoned pre-state, drives the
  * protocol through the store's step functions up to the cut, and
  * asserts that
  *  - the family's reader either fails closed with the recovery
  *    message or answers exactly what the pre- and post-state answer
  *    (the same answer: a vacuum or compaction never changes the live
  *    content, only where it lives on disk);
  *  - the next verb rolls forward to the content of a clean,
  *    uninterrupted run. */
class IndexCrashSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb =
    Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
  private def fsOf(p: String) = IndexStore.fsOf(spark, p)
  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString + "/idx"
  private def copyOf(src: String, tag: String): String = {
    val dst = tmp(tag)
    assert(FileUtil.copy(fsOf(src), new Path(src), fsOf(dst), new Path(dst),
      false, spark.sparkContext.hadoopConfiguration))
    dst
  }
  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  /** A family under test: its layout, a built and tombstoned pre-state
    * (never mutated — every cut works on a copy), its reader, its
    * physical content, and its two public rewrite verbs. */
  private case class Family(name: String, layout: IndexStore.Layout,
      pre: String, probe: String => Set[String],
      content: String => Set[String], vacuum: String => Unit,
      compact: String => Unit)

  private lazy val ann: Family = {
    val pre = tmp("crash_ann")
    AnnIndex.buildIvfPq(emb, "embedding", "vec_id", pre, nCells = 4, m = 4,
      quantizer = "sign")
    AnnIndex.deleteIds(spark, pre, Seq(3L, 7L).toDF("vec_id"))
    val q = emb.filter(col("vec_id") < 5)
    Family("ann", AnnIndex.IndexLayout, pre,
      p => rows(AnnIndex.ivfPqKnnJoin(spark, p, q, emb, "embedding",
        "vec_id", k = 5)),
      p => rows(spark.read.parquet(p).select(col("vec_id"),
          col("code").cast("array<int>").cast("string"),
          col("cell").cast("long"))) ++
        rows(spark.read.parquet(s"$p/_sample").select("vec_id")) +
        s"_rows=${IndexStore.readRows(fsOf(p), p)}",
      p => AnnIndex.vacuumTombstones(spark, p),
      p => AnnIndex.compactIndex(spark, p))
  }

  private lazy val band: Family = {
    val t2 = "completely different text about spark parquet lifecycle " +
      "rewrites"
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again " +
        "today"),
      (2L, t2),
      (3L, "yet another unrelated document carrying its own words entirely"))
      .toDF("doc_id", "text")
    // doc 1's copy pairs only through the tombstoned doc; doc 2's copy
    // keeps a live pair, so the reader's answer is not vacuous
    val batch = docs.filter(col("doc_id") === 1L)
      .select(lit(10L).as("doc_id"), col("text"))
      .union(Seq((12L, t2)).toDF("doc_id", "text"))
    val pre = tmp("crash_band")
    Dedup.ingestBatch(docs.filter(col("doc_id") =!= 3L), "text", "doc_id",
      None, s"$pre/batch=0", minJaccard = 0.5)
    Dedup.ingestBatch(docs.filter(col("doc_id") === 3L), "text", "doc_id",
      Some(pre), s"$pre/batch=1", minJaccard = 0.5)
    Dedup.deleteFromMinhashIndex(spark, pre, Seq(1L).toDF("doc_id"),
      idCol = "doc_id")
    Family("band", Dedup.BandLayout, pre,
      p => rows(Dedup.incrementalNearDupPairs(batch, "text", "doc_id", p,
        minJaccard = 0.5).select("id_a", "id_b")),
      p => rows(spark.read.parquet(p).select(col("id"),
        col("batch").cast("long"), col("band").cast("int"),
        col("key").cast("string"))),
      p => Dedup.vacuumMinhashTombstones(spark, p),
      p => Dedup.compactMinhashIndex(spark, p))
  }

  /** Cut the vacuum at every boundary: -1 = staged garbage before the
    * publish; k in 0..steps = manifest published and its first k
    * move/delete lines done; steps+1 = tail done, marker still there. */
  private def vacuumCuts(f: Family): Unit = {
    val answer = f.probe(f.pre)
    val ref = copyOf(f.pre, s"${f.name}_vref")
    f.vacuum(ref)
    val want = f.content(ref)
    assert(f.probe(ref) === answer, s"${f.name}: clean vacuum moved answers")
    val nSteps = IndexStore.stageSurvivors(spark,
      copyOf(f.pre, s"${f.name}_steps"), f.layout).get.steps.length
    assert(nSteps >= 2, s"${f.name}: want moves and deletes, got $nSteps")
    for (k <- -1 to nSteps + 1) {
      val at = s"${f.name} cut $k of $nSteps"
      val p = copyOf(f.pre, s"${f.name}_vcut")
      val fs = fsOf(p)
      val m = IndexStore.stageSurvivors(spark, p, f.layout).get
      if (k >= 0) {
        IndexStore.publishManifest(fs, p, m, f.layout)
        m.steps.take(k).foreach(IndexStore.applyStep(fs, p, _, f.layout))
        if (k > nSteps) IndexStore.finishVacuum(fs, p, m)
      }
      Try(f.probe(p)) match {
        case Success(got) =>
          assert(k < 0, s"$at: a mid-swap tree answered")
          assert(got === answer, at)
        case Failure(e) =>
          assert(k >= 0, s"$at: ${e.getMessage}")
          assert(e.getMessage.contains("roll it forward"), e.getMessage)
      }
      f.vacuum(p)
      assert(f.content(p) === want, at)
      assert(f.probe(p) === answer, at)
      Seq("_vacuum", "_vacuum_staged", "_tombstones").foreach(s =>
        assert(!fs.exists(new Path(s"$p/$s")), s"$at: $s left"))
    }
  }

  /** Cut the compaction after its first rename: readers and the next
    * verbs fail closed with the rename-back recovery. Following it
    * reads the pre-state and the next compaction reaches the clean run;
    * the swap's own second rename reads exactly the clean run. */
  private def compactionCut(f: Family): Unit = {
    val answer = f.probe(f.pre)
    val ref = copyOf(f.pre, s"${f.name}_cref")
    f.compact(ref)
    val want = f.content(ref)
    val kind = IndexStore.Compaction
    for (finishSwap <- Seq(false, true)) {
      val p = copyOf(f.pre, s"${f.name}_ccut")
      val fs = fsOf(p)
      IndexStore.stageCompaction(spark, p, p + kind.staged, f.layout)
      IndexStore.moveAside(fs, p, kind, f.layout.compactOp)
      Seq[String => Any](f.probe, f.compact, f.vacuum).foreach { verb =>
        val e = intercept[IllegalStateException](verb(p))
        assert(e.getMessage.contains("renaming it back"), e.getMessage)
      }
      if (finishSwap) IndexStore.moveIn(fs, p, kind, f.layout.compactOp)
      else {
        assert(fs.rename(new Path(p + kind.aside), new Path(p)))
        assert(f.probe(p) === answer, s"${f.name}: renamed-back pre-state")
        f.compact(p)
      }
      assert(f.content(p) === want, s"${f.name} finishSwap=$finishSwap")
      assert(f.probe(p) === answer, s"${f.name} finishSwap=$finishSwap")
    }
  }

  test("vacuum crash at every step boundary (IVF-PQ index): fail-closed " +
      "or pre/post answers, then the next vacuum rolls forward to the " +
      "clean run") {
    vacuumCuts(ann)
  }

  test("vacuum crash at every step boundary (band index, streaming " +
      "batch= layout): fail-closed or pre/post answers, then the next " +
      "vacuum rolls forward to the clean run") {
    vacuumCuts(band)
  }

  test("compaction crash between its renames, both families: readers " +
      "and verbs fail closed with the rename-back recovery, and either " +
      "way forward reaches the clean compaction") {
    compactionCut(ann)
    compactionCut(band)
  }
}
