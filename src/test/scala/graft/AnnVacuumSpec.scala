package graft

import graft.operators.{AnnIndex, IndexStore}
import org.apache.spark.sql.functions._

/** Targeted vacuum (round 15): [[AnnIndex.vacuumTombstones]] makes
  * tombstone deletes physical by rewriting ONLY the files that hold
  * tombstoned rows — the 100 TB story is "a takedown of 100 ids rewrites
  * the touched files, not the corpus", so these arms pin (a) answer
  * identity with the full-rewrite paths, (b) that untouched files are
  * genuinely untouched on disk, and (c) the roll-forward manifest's
  * crash states: fail-closed reads mid-swap, idempotent completion from
  * any interruption point. */
class AnnVacuumSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb =
    Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString + "/idx"
  private def fsOf(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (relative path → length) of every DATA file under the index —
    * sidecars and staging trees excluded. */
  private def dataFiles(p: String): Map[String, Long] = {
    val fs = fsOf(p)
    val base = fs.makeQualified(new org.apache.hadoop.fs.Path(p)).toString
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
    val out = scala.collection.mutable.Map.empty[String, Long]
    while (it.hasNext) {
      val f = it.next()
      val s = f.getPath.toString
      if (s.endsWith(".parquet") &&
          !Seq("_plan", "_centroids", "_codebooks", "_tombstones",
            "_vacuum_staged").exists(d => s.contains(s"/$d/")))
        out(s.stripPrefix(base).stripPrefix("/")) = f.getLen
    }
    out.toMap
  }

  test("targeted: vacuum of one id rewrites exactly the touched file " +
      "and leaves every other file byte-identical on disk (IVF sign — " +
      "one file per occupied cell by construction)") {
    val p = tmp("vac_tgt")
    AnnIndex.buildIvf(emb, "embedding", "vec_id", p, nCells = 16,
      quantizer = "sign")
    AnnIndex.deleteIds(spark, p,
      emb.filter(col("vec_id") === 7).select("vec_id"))
    val before = dataFiles(p)
    assert(before.size > 4, s"want a multi-file index, got $before")
    val (rewritten, dropped) = AnnIndex.vacuumTombstones(spark, p)
    assert(dropped === 1L)
    assert(rewritten === 1L,
      s"vacuum rewrote $rewritten of ${before.size} files — not targeted")
    val after = dataFiles(p)
    // untouched files persist under the same name with the same bytes
    val kept = after.keySet.intersect(before.keySet)
    assert(kept.size === before.size - 1)
    kept.foreach(k => assert(after(k) === before(k),
      s"untouched file $k changed length"))
    // physical: no tombstone sidecar, no trace of id 7, _rows correct
    val fs = fsOf(p)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p/_tombstones")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p/_vacuum")))
    val rows = spark.read.parquet(p)
    assert(rows.filter(col("vec_id") === 7).count() === 0L)
    assert(AnnIndex.indexRowCount(spark, p) === rows.count())
  }

  test("LSH: delete -> vacuum content and batched-join answers match " +
      "the full-rewrite (compact) path") {
    val p = tmp("vac_lsh"); val cp = tmp("vac_lsh_compact")
    AnnIndex.buildLsh(emb, "embedding", "vec_id", p, dims = 64, bits = 8)
    AnnIndex.buildLsh(emb, "embedding", "vec_id", cp, dims = 64, bits = 8)
    val doomed = emb.filter(col("vec_id") % 10 === 3).select("vec_id")
    AnnIndex.deleteIds(spark, p, doomed)
    AnnIndex.deleteIds(spark, cp, doomed)
    val (_, dropped) = AnnIndex.vacuumTombstones(spark, p)
    AnnIndex.compactIndex(spark, cp)
    assert(dropped === doomed.count())
    val read = (x: String) => spark.read.parquet(x)
      .select("vec_id", "sig", "sig_grp").as[(Long, Long, Long)]
      .collect().toSet
    assert(read(p) === read(cp))
    val q = emb.filter(col("vec_id") < 3)
    val res = (x: String) => AnnIndex.lshKnnJoin(spark, x, q,
      "embedding", "vec_id", k = 3).as[(Long, Long, Double)]
      .collect().toSet
    assert(res(p) === res(cp))
  }

  test("IVF(kmeans): delete -> vacuum content == delete -> compact " +
      "content, and the appended-after-vacuum id is searchable again " +
      "(the replace flow: delete -> vacuum -> append)") {
    val p = tmp("vac_ivf"); val cp = tmp("vac_ivf_compact")
    val evens = emb.filter(col("vec_id") % 2 === 0)
    AnnIndex.buildIvf(evens, "embedding", "vec_id", p, nCells = 4)
    AnnIndex.buildIvf(evens, "embedding", "vec_id", cp, nCells = 4)
    val doomed = evens.filter(col("vec_id") % 20 === 0).select("vec_id")
    AnnIndex.deleteIds(spark, p, doomed)
    AnnIndex.deleteIds(spark, cp, doomed)
    AnnIndex.vacuumTombstones(spark, p)
    AnnIndex.compactIndex(spark, cp)
    val read = (x: String) => spark.read.parquet(x)
      .select(col("vec_id"), col("cell").cast("long"))
      .as[(Long, Long)].collect().toSet
    assert(read(p) === read(cp))
    // replace flow: id 0 was tombstoned and vacuumed — an append of the
    // same id is VISIBLE (no stale tombstone blocks it)
    AnnIndex.appendIvf(emb.filter(col("vec_id") === 0),
      "embedding", "vec_id", p)
    val q0 = emb.filter(col("vec_id") === 0).select("embedding")
      .as[Seq[Float]].head()
    val hit = AnnIndex.searchIvf(spark, p, q0, k = 1, nProbe = 4)
    assert(hit.select("vec_id").as[Long].head() === 0L)
  }

  test("IVF-PQ and flat PQ: vacuum matches the compact path on code " +
      "content and search answers (no partition column on flat PQ — " +
      "the rewrite falls back to whole-file survivors)") {
    for ((tag, build) <- Seq[(String,
        (org.apache.spark.sql.DataFrame, String) => Unit)](
      ("ivfpq", (df, path) => AnnIndex.buildIvfPq(df, "embedding",
        "vec_id", path, nCells = 4, m = 4)),
      ("pq", (df, path) => AnnIndex.buildPq(df, "embedding", "vec_id",
        path, m = 4)))) {
      val p = tmp(s"vac_$tag"); val cp = tmp(s"vac_${tag}_compact")
      build(emb, p); build(emb, cp)
      val doomed = emb.filter(col("vec_id") % 10 === 3).select("vec_id")
      AnnIndex.deleteIds(spark, p, doomed)
      AnnIndex.deleteIds(spark, cp, doomed)
      val (_, dropped) = AnnIndex.vacuumTombstones(spark, p)
      AnnIndex.compactIndex(spark, cp)
      assert(dropped === doomed.count(), tag)
      val cols = spark.read.parquet(p).columns.filterNot(_ == "vec")
      val read = (x: String) => spark.read.parquet(x)
        .select(cols.head, cols.tail: _*).collect()
        .map(_.toString).toSet
      assert(read(p) === read(cp), tag)
      val q3 = emb.filter(col("vec_id") === 3).select("embedding")
        .as[Seq[Float]].head()
      val hits =
        if (tag == "pq") AnnIndex.searchPq(spark, p, q3, k = 5)
        else AnnIndex.searchIvfPq(spark, p, q3, k = 5, nProbe = 4)
      val ids = hits.select("vec_id").as[Long].collect().toSet
      assert(ids.forall(_ % 10 != 3), s"$tag: tombstoned id in results")
    }
  }

  test("interrupted vacuum fails closed everywhere, then rolls FORWARD: " +
      "probes/mutations refuse mid-swap, a partially-completed manifest " +
      "re-runs idempotently, and the final content equals a clean vacuum") {
    val p = tmp("vac_crash"); val ref = tmp("vac_crash_ref")
    AnnIndex.buildLsh(emb, "embedding", "vec_id", p, dims = 64, bits = 8)
    AnnIndex.buildLsh(emb, "embedding", "vec_id", ref, dims = 64, bits = 8)
    val doomed = emb.filter(col("vec_id") % 10 === 3).select("vec_id")
    AnnIndex.deleteIds(spark, p, doomed)
    AnnIndex.deleteIds(spark, ref, doomed)
    AnnIndex.vacuumTombstones(spark, ref) // the clean run to match
    // stage only — the state a crash right after the manifest publish
    // leaves: marker present, staged files not yet moved in
    assert(IndexStore.stageVacuum(spark, p, AnnIndex.IndexLayout))
    val fs = fsOf(p)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$p/_vacuum")))
    // every reader and mutation fails closed on the marker
    val q = emb.filter(col("vec_id") < 3)
    val e1 = intercept[IllegalStateException](
      AnnIndex.lshKnnJoin(spark, p, q, "embedding", "vec_id", k = 3)
        .collect())
    assert(e1.getMessage.contains("_vacuum"))
    val e2 = intercept[IllegalStateException](
      AnnIndex.deleteIds(spark, p, doomed))
    assert(e2.getMessage.contains("_vacuum"))
    val e3 = intercept[IllegalStateException](
      AnnIndex.compactIndex(spark, p))
    assert(e3.getMessage.contains("_vacuum"))
    // simulate a crash MID-completion: replay the first move and the
    // first delete by hand, leave the marker — the re-run must skip the
    // done steps and finish the rest
    val in = fs.open(new org.apache.hadoop.fs.Path(s"$p/_vacuum"))
    val manifest = try scala.io.Source.fromInputStream(in, "UTF-8")
      .mkString finally in.close()
    val lines = manifest.split("\n")
    lines.find(_.startsWith("move\t")).foreach { l =>
      val a = l.split("\t")
      assert(fs.rename(new org.apache.hadoop.fs.Path(a(1)),
        new org.apache.hadoop.fs.Path(a(2))))
    }
    lines.find(_.startsWith("del\t")).foreach { l =>
      fs.delete(new org.apache.hadoop.fs.Path(l.split("\t")(1)), false)
    }
    // roll forward — the public verb completes an interrupted vacuum
    AnnIndex.vacuumTombstones(spark, p)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p/_vacuum")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p/_vacuum_staged")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p/_tombstones")))
    val read = (x: String) => spark.read.parquet(x)
      .select("vec_id", "sig", "sig_grp").as[(Long, Long, Long)]
      .collect().toSet
    assert(read(p) === read(ref))
    assert(AnnIndex.indexRowCount(spark, p) ===
      spark.read.parquet(p).count())
  }

  test("the locate scan is column-pruned to the id column — finding " +
      "affected files costs one narrow column at 100 TB, not the corpus") {
    val p = tmp("vac_plan")
    AnnIndex.buildLsh(emb, "embedding", "vec_id", p, dims = 64, bits = 8)
    val fs = fsOf(p)
    val qualified = fs.makeQualified(
      new org.apache.hadoop.fs.Path(p)).toString
    val locate = IndexStore.locateScan(spark, qualified,
      Seq(7L).toDF("vec_id"), "vec_id")
    // formatted mode prints each scan's full ReadSchema (the plain
    // toString truncates scan metadata)
    val plan = locate.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val reads = plan.linesIterator
      .filter(_.contains("ReadSchema")).toSeq
    assert(reads.nonEmpty, plan)
    reads.foreach { l =>
      assert(l.contains("vec_id"), l)
      assert(!l.contains("vec:") && !l.contains("sig:"),
        s"locate scan reads more than the id column: $l")
    }
    // and it finds the right file: the one holding vec_id 7
    val rows = locate.collect()
    assert(rows.length === 1 && rows.head.getLong(1) === 1L)
  }

  test("neither compactIndex nor vacuumTombstones empties an index: with " +
      "every id tombstoned both refuse before the swap, and the untouched " +
      "index still answers through its tombstones (IVF-PQ, grouped LSH)") {
    val few = emb.filter(col("vec_id") < 64)
    val q = few.filter(col("vec_id") < 3)
    val layouts = Seq[(String, String => Unit, String => Long)](
      ("ivfpq",
        p => AnnIndex.buildIvfPq(few, "embedding", "vec_id", p,
          nCells = 4, m = 4, quantizer = "sign"),
        p => AnnIndex.ivfPqKnnJoin(spark, p, q, few, "embedding",
          "vec_id", k = 3).count()),
      ("lsh",
        p => AnnIndex.buildLsh(few, "embedding", "vec_id", p, dims = 64,
          bits = 8),
        p => AnnIndex.lshKnnJoin(spark, p, q, "embedding", "vec_id",
          k = 3).count()))
    val verbs = Seq[(String, String => Unit)](
      ("compactIndex", p => AnnIndex.compactIndex(spark, p)),
      ("vacuumTombstones", p => AnnIndex.vacuumTombstones(spark, p)))
    for ((layout, build, probe) <- layouts; (verb, run) <- verbs) {
      val p = tmp(s"vac_empty_${layout}_$verb")
      build(p)
      assert(AnnIndex.deleteIds(spark, p, few.select("vec_id")) === 64L)
      val before = dataFiles(p)
      val e = intercept[IllegalStateException](run(p))
      assert(e.getMessage.contains("every row is tombstoned"),
        s"$layout/$verb: ${e.getMessage}")
      val fs = fsOf(p)
      assert(dataFiles(p) === before, s"$layout/$verb touched the data")
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$p/_tombstones")))
      Seq(s"$p/_vacuum", s"$p/_vacuum_staged", s"$p.__compacting")
        .foreach(s => assert(!fs.exists(new org.apache.hadoop.fs.Path(s)),
          s"$layout/$verb left $s"))
      assert(probe(p) === 0L, s"$layout/$verb: tombstoned rows answered")
      assert(AnnIndex.indexHealth(spark, p).rows === Some(64L), s"$layout/$verb")
    }
  }

  test("no-op and vacuous cases: zero tombstones returns (0,0) without " +
      "a marker; tombstones for absent ids clear the sidecar outright") {
    val p = tmp("vac_noop")
    AnnIndex.buildLsh(emb, "embedding", "vec_id", p, dims = 64, bits = 8)
    val before = dataFiles(p)
    assert(AnnIndex.vacuumTombstones(spark, p) === ((0L, 0L)))
    assert(dataFiles(p) === before)
    // ids that have no rows (never present): the sidecar is vacuous —
    // clearing it IS the vacuum
    AnnIndex.deleteIds(spark, p,
      Seq(1000000L, 1000001L).toDF("vec_id"))
    assert(AnnIndex.vacuumTombstones(spark, p) === ((0L, 0L)))
    val fs = fsOf(p)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p/_tombstones")))
    assert(dataFiles(p) === before)
  }
}
