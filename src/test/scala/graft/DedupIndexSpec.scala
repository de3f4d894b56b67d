package graft

import graft.operators.{Dedup, IndexStore}
import org.apache.spark.sql.functions._

/** Lifecycle of the persisted minhash index (round 15, late): tombstone
  * takedown (a deleted doc must stop suppressing fresh content as its
  * duplicate), physical drop + batch-dir collapse at compaction, the
  * mixed-layout write guards, and the tombstoned-re-ingest WARN. */
class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private val t1 =
    "the quick brown fox jumps over the lazy dog again and again today"
  private def corpus = Seq(
    (1L, t1),
    (2L, "completely different text about spark parquet lifecycle rewrites"),
    (3L, "yet another unrelated document carrying its own words entirely"))
    .toDF("doc_id", "text")
  private def batch = Seq(
    (10L, t1), // exact copy of doc 1 -> guaranteed pair at jaccard 1.0
    (11L, "nothing like the others at all in any way whatsoever truly"))
    .toDF("doc_id", "text")
  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString + "/idx"
  private def fsOf(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def pairsOf(idx: String): Set[(Long, Long)] =
    Dedup.incrementalNearDupPairs(batch, "text", "doc_id", idx,
      shingleK = 5, numHashes = 16, bands = 4, minJaccard = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet

  test("takedown: a tombstoned doc stops matching immediately; compaction " +
      "makes the delete physical, clears the sidecar, answers unchanged") {
    val idx = tmp("mhdel")
    Dedup.buildMinhashIndex(corpus, "text", "doc_id", idx,
      shingleK = 5, numHashes = 16, bands = 4)
    assert(pairsOf(idx).contains((1L, 10L)))
    val n = Dedup.deleteFromMinhashIndex(spark, idx,
      Seq(1L).toDF("doc_id"), idCol = "doc_id")
    assert(n === 1L)
    val afterDelete = pairsOf(idx)
    assert(!afterDelete.contains((1L, 10L)),
      "tombstoned doc still suppresses/matches fresh content")
    val (before, after) = Dedup.compactMinhashIndex(spark, idx)
    assert(after <= before)
    assert(!fsOf(idx).exists(
      new org.apache.hadoop.fs.Path(s"$idx/_tombstones")))
    assert(spark.read.parquet(idx).filter(col("id") === 1L).count() === 0L,
      "compaction did not drop the tombstoned rows physically")
    assert(pairsOf(idx) === afterDelete)
    // the flat band= partitioning survives the rewrite
    assert(fsOf(idx).listStatus(new org.apache.hadoop.fs.Path(idx))
      .map(_.getPath.getName).count(_.startsWith("band=")) === 4)
  }

  test("compaction collapses a streaming batch= tree into one batch=-1 " +
      "generation with live content preserved") {
    val idx = tmp("mhbatch")
    Dedup.ingestBatch(corpus.filter(col("doc_id") =!= 3L), "text",
      "doc_id", None, s"$idx/batch=0", shingleK = 5, numHashes = 16,
      bands = 4, minJaccard = 0.5)
    Dedup.ingestBatch(corpus.filter(col("doc_id") === 3L), "text",
      "doc_id", Some(idx), s"$idx/batch=1", shingleK = 5, numHashes = 16,
      bands = 4, minJaccard = 0.5)
    val content = (p: String) => spark.read.parquet(p)
      .select(col("id"), col("band").cast("int"),
        col("key").cast("string")).as[(Long, Int, String)].collect().toSet
    val beforeContent = content(idx)
    Dedup.compactMinhashIndex(spark, idx)
    val dirs = fsOf(idx).listStatus(new org.apache.hadoop.fs.Path(idx))
      .map(_.getPath.getName).filter(_.startsWith("batch="))
    assert(dirs.toSeq === Seq("batch=-1"),
      s"expected one compacted generation, got ${dirs.toSeq}")
    assert(content(idx) === beforeContent)
    assert(pairsOf(idx).contains((1L, 10L)))
  }

  test("mixed-layout writes are refused BEFORE anything lands: batch= " +
      "dirs into a flat tree, band= appends into a batch tree") {
    val flat = tmp("mhflat")
    Dedup.buildMinhashIndex(corpus, "text", "doc_id", flat,
      shingleK = 5, numHashes = 16, bands = 4)
    val e1 = intercept[IllegalStateException](
      Dedup.ingestBatch(batch, "text", "doc_id", Some(flat),
        s"$flat/batch=0", shingleK = 5, numHashes = 16, bands = 4,
        minJaccard = 0.5))
    assert(e1.getMessage.contains("partition"))
    assert(!fsOf(flat).exists(
      new org.apache.hadoop.fs.Path(s"$flat/batch=0")))
    val batched = tmp("mhbatched")
    Dedup.ingestBatch(corpus, "text", "doc_id", None, s"$batched/batch=0",
      shingleK = 5, numHashes = 16, bands = 4, minJaccard = 0.5)
    val e2 = intercept[IllegalStateException](
      Dedup.appendToMinhashIndex(batch, "text", "doc_id", batched,
        shingleK = 5, numHashes = 16, bands = 4))
    assert(e2.getMessage.contains("partition"))
    // the batch tree is still readable (nothing was written at its root)
    assert(spark.read.parquet(batched).count() > 0)
  }

  test("compacting a fully-tombstoned index is refused — the swap would " +
      "leave an empty, unreadable tree") {
    val idx = tmp("mhempty")
    Dedup.buildMinhashIndex(corpus, "text", "doc_id", idx,
      shingleK = 5, numHashes = 16, bands = 4)
    Dedup.deleteFromMinhashIndex(spark, idx,
      corpus.select("doc_id"), idCol = "doc_id")
    val e = intercept[IllegalStateException](
      Dedup.compactMinhashIndex(spark, idx))
    assert(e.getMessage.contains("tombstoned"))
    // the index is untouched and still answering (empty, via tombstones)
    assert(pairsOf(idx).forall { case (a, b) => a >= 10L && b >= 10L })
  }

  test("minhashIndexHealth: a fresh build is healthy; accumulated batch " +
      "generations flag fragmented; tombstones past the floor flag heavy; " +
      "compaction restores health") {
    val flat = tmp("mhh_flat")
    Dedup.buildMinhashIndex(corpus, "text", "doc_id", flat,
      shingleK = 5, numHashes = 16, bands = 4)
    val h0 = Dedup.minhashIndexHealth(spark, flat)
    assert(h0.layout === "flat" && h0.partitions === 4)
    assert(!h0.fragmented && !h0.tombstoneHeavy)
    assert(h0.prescription === "healthy")

    val idx = tmp("mhh_batch")
    (0 until 3).foreach(i => Dedup.ingestBatch(
      corpus.filter(col("doc_id") % 3 === i), "text", "doc_id",
      if (i == 0) None else Some(idx), s"$idx/batch=$i", shingleK = 5,
      numHashes = 16, bands = 4, minJaccard = 0.5))
    Dedup.deleteFromMinhashIndex(spark, idx, Seq(1L).toDF("doc_id"),
      idCol = "doc_id")
    val h1 = Dedup.minhashIndexHealth(spark, idx, tombstoneFloor = 1L)
    assert(h1.layout === "batch" && h1.generations === 3)
    assert(h1.fragmented, s"3 generations should flag at factor 2: $h1")
    assert(h1.tombstoneHeavy && h1.tombstones === 1L)
    assert(h1.prescription === "compactMinhashIndex")
    Dedup.compactMinhashIndex(spark, idx)
    val h2 = Dedup.minhashIndexHealth(spark, idx, tombstoneFloor = 1L)
    assert(h2.generations === 1 && !h2.fragmented && h2.tombstones === 0L)
    assert(h2.prescription === "healthy")
  }

  test("dedupIngest(maintainEvery): the stream compacts its own index " +
      "when health prescribes — and a mid-stream takedown goes physical " +
      "at that compaction") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_dmnt").toString
    val idx = s"$dir/idx"
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.Streams.dedupIngest(
      mem.toDF().toDF("doc_id", "text"), "text", "doc_id",
      idx, s"$dir/pairs", s"$dir/ckpt", minJaccard = 0.5,
      maintainEvery = 1)
    try {
      mem.addData(corpus.as[(Long, String)].collect().toSeq: _*)
      q.processAllAvailable() // generation 1 — healthy, no compact
      Dedup.deleteFromMinhashIndex(spark, idx, Seq(1L).toDF("doc_id"),
        idCol = "doc_id")
      mem.addData((20L, "some fresh unrelated content streaming in now"))
      q.processAllAvailable() // generation 2 — still under the factor
      mem.addData((21L, "and one more batch to cross the generation bar"))
      q.processAllAvailable() // generation 3 -> in-stream compact
    } finally q.stop()
    val h = Dedup.minhashIndexHealth(spark, idx)
    assert(h.generations === 1, s"in-stream compaction did not run: $h")
    assert(h.tombstones === 0L)
    assert(spark.read.parquet(idx).filter(col("id") === 1L).count() === 0L,
      "the takedown did not go physical at the in-stream compaction")
    assert(!pairsOf(idx).contains((1L, 10L)))
  }

  test("maintainMinhashIndex: healthy untouched; tombstone mass ALONE " +
      "executes the targeted vacuum (never the full rewrite); health " +
      "restored — the one-call executor, by cause") {
    val idx = tmp("mhmaint")
    Dedup.buildMinhashIndex(corpus, "text", "doc_id", idx,
      shingleK = 5, numHashes = 16, bands = 4)
    assert(Dedup.maintainMinhashIndex(spark, idx) === Seq.empty)
    Dedup.deleteFromMinhashIndex(spark, idx, Seq(1L).toDF("doc_id"),
      idCol = "doc_id")
    assert(Dedup.minhashIndexHealth(spark, idx, tombstoneFloor = 1L)
      .prescription === "vacuumMinhashTombstones")
    assert(Dedup.maintainMinhashIndex(spark, idx, tombstoneFloor = 1L)
      === Seq("vacuumMinhashTombstones"))
    assert(spark.read.parquet(idx).filter(col("id") === 1L).count() === 0L)
    assert(!fsOf(idx).exists(
      new org.apache.hadoop.fs.Path(s"$idx/_tombstones")))
    assert(Dedup.minhashIndexHealth(spark, idx, tombstoneFloor = 1L)
      .prescription === "healthy")
  }

  /** (relative path → length) of every DATA file under the index —
    * sidecars and staging trees excluded (the AnnVacuumSpec fixture). */
  private def dataFileMap(p: String): Map[String, Long] = {
    val fs = fsOf(p)
    val base = fs.makeQualified(new org.apache.hadoop.fs.Path(p)).toString
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
    val out = scala.collection.mutable.Map.empty[String, Long]
    while (it.hasNext) {
      val f = it.next()
      val s = f.getPath.toString
      if (s.endsWith(".parquet") &&
          !Seq("_tombstones", "_vacuum_staged")
            .exists(d => s.contains(s"/$d/")))
        out(s.stripPrefix(base).stripPrefix("/")) = f.getLen
    }
    out.toMap
  }

  test("targeted vacuum: a one-id takedown rewrites ONLY the files " +
      "holding that id, leaves every other file byte-identical on disk, " +
      "clears the sidecar, and answers match the compact path") {
    val idx = tmp("mhvac"); val cp = tmp("mhvac_compact")
    // Pin the width-spread file layout for this fixture: the
    // targeted-vacuum contract needs doc 1's rows in a strict SUBSET of
    // the files, and the size-aware indexWrite (rebalance hint, r18
    // optimization) colocates this tiny corpus into one file per band —
    // every file would then "hold" doc 1 and the subset assertion has
    // nothing to test. With AQE off the rebalance plans as the round-15
    // fixed-width shuffle, spreading rows across many small files.
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try
      for (p <- Seq(idx, cp))
        Dedup.buildMinhashIndex(corpus, "text", "doc_id", p,
          shingleK = 5, numHashes = 16, bands = 4)
    finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    for (p <- Seq(idx, cp))
      Dedup.deleteFromMinhashIndex(spark, p, Seq(1L).toDF("doc_id"),
        idCol = "doc_id")
    val before = dataFileMap(idx)
    // which files actually hold doc 1's rows (≤ bands of them)
    val holding = spark.read.parquet(idx)
      .select(col("id"), org.apache.spark.sql.functions
        .input_file_name().as("f"))
      .filter(col("id") === 1L).select("f").distinct()
      .as[String].collect().toSet
    assert(holding.nonEmpty && holding.size < before.size,
      s"fixture defect: doc 1 in ${holding.size} of ${before.size} files")
    val (rewritten, dropped) = Dedup.vacuumMinhashTombstones(spark, idx)
    assert(dropped === 4L, "doc 1 has one row per band")
    assert(rewritten === holding.size.toLong,
      s"vacuum rewrote $rewritten files; only ${holding.size} were affected")
    val after = dataFileMap(idx)
    assert(after.size <= before.size,
      s"vacuum grew the file count ${before.size} -> ${after.size} — " +
        "the staged rewrite must colocate each dir's survivors")
    val kept = after.keySet.intersect(before.keySet)
    assert(kept.size === before.size - holding.size)
    kept.foreach(k => assert(after(k) === before(k),
      s"untouched file $k changed length"))
    val fs = fsOf(idx)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/_tombstones")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/_vacuum")))
    assert(spark.read.parquet(idx).filter(col("id") === 1L).count() === 0L)
    // content identical to the full-rewrite path
    Dedup.compactMinhashIndex(spark, cp)
    val content = (p: String) => spark.read.parquet(p)
      .select(col("id"), col("band").cast("int"), col("key").cast("string"))
      .as[(Long, Int, String)].collect().toSet
    assert(content(idx) === content(cp))
    assert(pairsOf(idx) === pairsOf(cp))
    // no-op and vacuous cases: nothing tombstoned returns (0,0) with no
    // marker; tombstones for absent ids clear the sidecar outright
    assert(Dedup.vacuumMinhashTombstones(spark, idx) === ((0L, 0L)))
    Dedup.deleteFromMinhashIndex(spark, idx, Seq(999999L).toDF("doc_id"),
      idCol = "doc_id")
    assert(Dedup.vacuumMinhashTombstones(spark, idx) === ((0L, 0L)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/_tombstones")))
    assert(dataFileMap(idx) === after)
  }

  test("vacuum on the streaming batch= layout preserves generations " +
      "(never collapses like compaction) and drops only tombstoned rows") {
    val idx = tmp("mhvacb")
    Dedup.ingestBatch(corpus.filter(col("doc_id") =!= 3L), "text",
      "doc_id", None, s"$idx/batch=0", shingleK = 5, numHashes = 16,
      bands = 4, minJaccard = 0.5)
    Dedup.ingestBatch(corpus.filter(col("doc_id") === 3L), "text",
      "doc_id", Some(idx), s"$idx/batch=1", shingleK = 5, numHashes = 16,
      bands = 4, minJaccard = 0.5)
    Dedup.deleteFromMinhashIndex(spark, idx, Seq(1L).toDF("doc_id"),
      idCol = "doc_id")
    val (rewritten, dropped) = Dedup.vacuumMinhashTombstones(spark, idx)
    assert(rewritten > 0 && dropped === 4L)
    val gens = fsOf(idx).listStatus(new org.apache.hadoop.fs.Path(idx))
      .map(_.getPath.getName).filter(_.startsWith("batch=")).sorted
    assert(gens.toSeq === Seq("batch=0", "batch=1"),
      s"vacuum changed the generation structure: ${gens.toSeq}")
    assert(spark.read.parquet(idx).filter(col("id") === 1L).count() === 0L)
    assert(!pairsOf(idx).contains((1L, 10L)))
    assert(pairsOf(idx).contains((10L, 11L)) ||
      !pairsOf(idx).exists(p => p._1 === 1L || p._2 === 1L))
  }

  test("interrupted vacuum fails closed everywhere, then rolls FORWARD " +
      "idempotently — probes and every mutation refuse mid-swap") {
    // legacy = the manifest a band index published before the vacuum
    // protocol was shared: same lines under the family header (the band
    // indexes never carried rows_after) — an index can be mid-vacuum
    // across an upgrade
    for (legacy <- Seq(false, true)) {
      val idx = tmp("mhvcrash"); val ref = tmp("mhvcrash_ref")
      for (p <- Seq(idx, ref)) {
        Dedup.buildMinhashIndex(corpus, "text", "doc_id", p,
          shingleK = 5, numHashes = 16, bands = 4)
        Dedup.deleteFromMinhashIndex(spark, p, Seq(1L).toDF("doc_id"),
          idCol = "doc_id")
      }
      Dedup.vacuumMinhashTombstones(spark, ref) // the clean run to match
      // stage only — the state a crash right after the manifest publish
      // leaves: marker present, staged files not yet moved in
      assert(IndexStore.stageVacuum(spark, idx, Dedup.BandLayout))
      val fs = fsOf(idx)
      val marker = new org.apache.hadoop.fs.Path(s"$idx/_vacuum")
      assert(fs.exists(marker))
      val in = fs.open(marker)
      val manifest = try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString finally in.close()
      if (legacy) {
        val lines = manifest.split("\n", -1)
        assert(!lines.exists(_.startsWith("rows_after=")), manifest)
        val out = fs.create(marker, true)
        try out.write(("graft-mh-vacuum-v1" +: lines.tail).mkString("\n")
          .getBytes("UTF-8")) finally out.close()
      }
      val e1 = intercept[IllegalStateException](pairsOf(idx))
      assert(e1.getMessage.contains("_vacuum"))
      val e2 = intercept[IllegalStateException](
        Dedup.deleteFromMinhashIndex(spark, idx, Seq(2L).toDF("doc_id"),
          idCol = "doc_id"))
      assert(e2.getMessage.contains("_vacuum"))
      val e3 = intercept[IllegalStateException](
        Dedup.compactMinhashIndex(spark, idx))
      assert(e3.getMessage.contains("_vacuum"))
      val e4 = intercept[IllegalStateException](
        Dedup.minhashIndexHealth(spark, idx))
      assert(e4.getMessage.contains("_vacuum"))
      // simulate a crash MID-completion: replay the first move and the
      // first delete by hand, leave the marker — the re-run must skip the
      // done steps and finish the rest
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
      Dedup.vacuumMinhashTombstones(spark, idx)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/_vacuum")))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/_vacuum_staged")))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/_tombstones")))
      val content = (p: String) => spark.read.parquet(p)
        .select(col("id"), col("band").cast("int"), col("key").cast("string"))
        .as[(Long, Int, String)].collect().toSet
      assert(content(idx) === content(ref))
      assert(pairsOf(idx) === pairsOf(ref))
    }
  }

  test("the vacuum locate scan is column-pruned to the id column — " +
      "finding affected files costs one narrow column at 100 TB, not " +
      "the shingle sets") {
    val idx = tmp("mhvplan")
    Dedup.buildMinhashIndex(corpus, "text", "doc_id", idx,
      shingleK = 5, numHashes = 16, bands = 4)
    val fs = fsOf(idx)
    val qualified = fs.makeQualified(
      new org.apache.hadoop.fs.Path(idx)).toString
    val locate = IndexStore.locateScan(spark, qualified,
      Seq(1L).toDF("id"), "id")
    val plan = locate.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val reads = plan.linesIterator
      .filter(_.contains("ReadSchema")).toSeq
    assert(reads.nonEmpty, plan)
    reads.foreach { l =>
      assert(!l.contains("shingles") && !l.contains("key"),
        s"locate scan reads more than the id column: $l")
    }
    // and it finds the right files: exactly those holding doc 1's rows
    val found = locate.as[(String, Long)].collect()
    assert(found.nonEmpty && found.forall(_._2 === 1L),
      found.mkString(", "))
  }

  test("size-aware fragmentation (round 16, advisor fix): tiny fresh " +
      "generations over a compacted base do NOT re-trigger the full " +
      "rewrite; the mass gate, the no-base case and the generation cap " +
      "each behave as documented") {
    val idx = tmp("mhsize")
    (0 until 3).foreach(i => Dedup.ingestBatch(
      corpus.filter(col("doc_id") % 3 === i), "text", "doc_id",
      if (i == 0) None else Some(idx), s"$idx/batch=$i", shingleK = 5,
      numHashes = 16, bands = 4, minJaccard = 0.5))
    // 3 generations, NO compacted base: count triggers regardless of mass
    assert(Dedup.minhashIndexHealth(spark, idx).fragmented)
    Dedup.compactMinhashIndex(spark, idx)
    // a compacted base + 3 fresh generations: at test scale the fresh
    // bytes rival the base's (parquet overhead dominates tiny files), so
    // drive the gate explicitly from both sides
    (3 until 6).foreach(i => Dedup.ingestBatch(
      corpus.filter(col("doc_id") % 3 === i % 3), "text", "doc_id",
      Some(idx), s"$idx/batch=$i", shingleK = 5, numHashes = 16,
      bands = 4, minJaccard = 0.5))
    val h = Dedup.minhashIndexHealth(spark, idx, minCompactionGain = 100.0)
    assert(h.generations === 4 && h.baseBytes > 0L && h.freshBytes > 0L)
    assert(!h.fragmented,
      s"fresh mass below the gain gate must not prescribe a full " +
        s"rewrite of the base: $h")
    assert(h.prescription === "healthy")
    // same tree, gain gate open: the count trigger prescribes compaction
    assert(Dedup.minhashIndexHealth(spark, idx, minCompactionGain = 0.0)
      .fragmented)
    // the generation CAP overrides the mass gate (metadata cost is real
    // even when fresh bytes are negligible)
    assert(Dedup.minhashIndexHealth(spark, idx,
      minCompactionGain = 100.0, maxGenerations = 2).fragmented)
  }

  test("scoped incremental probe: a scope id-set restricts which INDEXED " +
      "docs may pair — scoped-full-index equals index-built-on-scope-only, " +
      "and in-batch pairs are untouched") {
    val idx = tmp("mhscope"); val sub = tmp("mhscope_sub")
    // corpus docs 1 and 2; scope allows only doc 2 — doc 1 is doc 10's
    // near-dup, so an unscoped probe pairs (1,10) and a scoped one must not
    Dedup.buildMinhashIndex(corpus, "text", "doc_id", idx,
      shingleK = 5, numHashes = 16, bands = 4)
    Dedup.buildMinhashIndex(corpus.filter(col("doc_id") =!= 1L), "text",
      "doc_id", sub, shingleK = 5, numHashes = 16, bands = 4)
    val batch2 = batch.unionByName(
      Seq((12L, t1)).toDF("doc_id", "text")) // in-batch pair (10,12)
    def run(p: String, scope: Option[org.apache.spark.sql.DataFrame]) =
      Dedup.incrementalNearDupPairs(batch2, "text", "doc_id", p,
        shingleK = 5, numHashes = 16, bands = 4, minJaccard = 0.5,
        scope = scope)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val unscoped = run(idx, None)
    assert(unscoped.contains((1L, 10L)) && unscoped.contains((10L, 12L)))
    val scoped = run(idx,
      Some(corpus.filter(col("doc_id") =!= 1L).select("doc_id")))
    assert(!scoped.exists(p => p._1 == 1L || p._2 == 1L),
      s"out-of-scope indexed doc leaked into the pairs: $scoped")
    assert(scoped.contains((10L, 12L)),
      "scope must not touch in-batch pairs")
    assert(scoped === run(sub, None),
      "scoped full index != index built on the scope subset alone")
  }

  test("delete refuses a directory that is not a minhash index layout") {
    val p = tmp("mhnotidx")
    corpus.write.parquet(p) // plain unpartitioned parquet
    val e = intercept[IllegalStateException](
      Dedup.deleteFromMinhashIndex(spark, p, Seq(1L).toDF("doc_id"),
        idCol = "doc_id"))
    assert(e.getMessage.contains("layout"))
  }

  test("re-ingesting a tombstoned id WARNs (written but invisible until " +
      "compaction) — the replace-a-doc footgun gets a signal") {
    val idx = tmp("mhrewarn")
    Dedup.ingestBatch(corpus, "text", "doc_id", None, s"$idx/batch=0",
      shingleK = 5, numHashes = 16, bands = 4, minJaccard = 0.5)
    Dedup.deleteFromMinhashIndex(spark, idx, Seq(1L).toDF("doc_id"),
      idCol = "doc_id")
    val err = new java.io.ByteArrayOutputStream()
    val old = System.err
    try {
      System.setErr(new java.io.PrintStream(err, true))
      Dedup.ingestBatch(corpus.filter(col("doc_id") === 1L), "text",
        "doc_id", Some(idx), s"$idx/batch=1", shingleK = 5,
        numHashes = 16, bands = 4, minJaccard = 0.5)
    } finally System.setErr(old)
    assert(err.toString.contains("TOMBSTONED"), err.toString)
    // and indeed: the re-ingested doc stays invisible to probes
    assert(!pairsOf(idx).contains((1L, 10L)))
  }
}
