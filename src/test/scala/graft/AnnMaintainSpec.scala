package graft

import graft.operators.{AnnIndex, Dedup, Similarity}
import org.apache.spark.sql.functions._

/** indexHealth / maintainIndex (round 15, late): the lifecycle's
  * maintenance signals — append drift, tombstone accumulation,
  * fragmentation — as one inspectable snapshot plus a one-call executor.
  * The arms pin that each unhealthy state prescribes exactly the right
  * verb, that executing it restores health, and that a healthy index is
  * left completely untouched. */
class AnnMaintainSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb =
    Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString + "/idx"
  private def fsOf(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataFiles(p: String): Map[String, Long] = {
    val fs = fsOf(p)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
    val out = scala.collection.mutable.Map.empty[String, Long]
    while (it.hasNext) {
      val f = it.next()
      val s = f.getPath.toString
      if (s.endsWith(".parquet") &&
          !Seq("_plan", "_centroids", "_codebooks", "_tombstones",
            "_vacuum_staged", "_sample").exists(d => s.contains(s"/$d/")))
        out(s) = f.getLen
    }
    out.toMap
  }

  test("healthy index: no flags, prescription 'healthy', maintainIndex " +
      "takes no action and touches no file") {
    val p = tmp("mnt_ok")
    AnnIndex.buildLsh(emb, "embedding", "vec_id", p, dims = 64, bits = 8)
    val h = AnnIndex.indexHealth(spark, p)
    assert(h.layout === "lsh")
    assert(!h.signal.drifted && !h.fragmented && !h.tombstoneHeavy)
    assert(h.tombstones === 0L)
    assert(h.prescription === "healthy")
    assert(h.rows === Some(emb.count()))
    val before = dataFiles(p)
    assert(AnnIndex.maintainIndex(spark, p) === Seq.empty)
    assert(dataFiles(p) === before)
  }

  test("drifted LSH: a fresh plan at the current count wants more bits " +
      "-> prescription reindexLsh; maintain reindexes and health clears " +
      "(tombstones dropped by the rebuild, not left behind)") {
    val p = tmp("mnt_drift")
    AnnIndex.buildLsh(emb, "embedding", "vec_id", p, dims = 64, bits = 4,
      autoPlan = false)
    AnnIndex.deleteIds(spark, p,
      emb.filter(col("vec_id") % 10 === 3).select("vec_id"))
    // a microscopic occupancy target makes 500 rows overflow 4 bits —
    // same forcing as AnnAppendSpec's drift-WARN arm; the tombstone
    // floor is lowered so BOTH flags fire and reindex subsumes vacuum
    val h = AnnIndex.indexHealth(spark, p, targetOccupancy = 0.001,
      tombstoneFloor = 10L)
    assert(h.signal.drifted && h.signal.plannedUnits > h.signal.currentUnits)
    assert(h.tombstoneHeavy)
    assert(h.prescription === "reindexLsh")
    val acts = AnnIndex.maintainIndex(spark, p,
      targetOccupancy = 0.001, tombstoneFloor = 10L)
    assert(acts === Seq("reindexLsh"))
    val h2 = AnnIndex.indexHealth(spark, p, targetOccupancy = 0.001,
      tombstoneFloor = 10L)
    assert(!h2.signal.drifted && !h2.tombstoneHeavy && h2.tombstones === 0L)
    assert(h2.prescription === "healthy")
    // the rebuild really dropped the tombstoned rows
    assert(spark.read.parquet(p)
      .filter(col("vec_id") % 10 === 3).count() === 0L)
  }

  test("tombstone-heavy + fragmented (no drift): compact ALONE — its " +
      "full rewrite already makes tombstones physical, so a vacuum " +
      "first would rewrite the affected files twice; both flags clear " +
      "and survivors keep answering") {
    val p = tmp("mnt_vac")
    val thirds = (i: Int) => emb.filter(col("vec_id") % 3 === i)
    AnnIndex.buildIvf(thirds(0), "embedding", "vec_id", p, nCells = 4,
      quantizer = "sign")
    AnnIndex.appendIvf(thirds(1), "embedding", "vec_id", p)
    AnnIndex.appendIvf(thirds(2), "embedding", "vec_id", p)
    AnnIndex.deleteIds(spark, p,
      emb.filter(col("vec_id") % 10 === 3).select("vec_id"))
    val h = AnnIndex.indexHealth(spark, p, tombstoneFloor = 10L)
    assert(!h.signal.drifted)
    assert(h.fragmented, s"3 writes over ${h.partitions} cells should " +
      s"exceed 2x: ${h.dataFiles} files")
    assert(h.tombstoneHeavy)
    assert(h.prescription === "compactIndex")
    val acts = AnnIndex.maintainIndex(spark, p, tombstoneFloor = 10L)
    assert(acts === Seq("compactIndex"))
    val h2 = AnnIndex.indexHealth(spark, p, tombstoneFloor = 10L)
    assert(!h2.fragmented && !h2.tombstoneHeavy && h2.tombstones === 0L)
    assert(h2.prescription === "healthy")
    assert(spark.read.parquet(p)
      .filter(col("vec_id") % 10 === 3).count() === 0L)
    val q1 = emb.filter(col("vec_id") === 1).select("embedding")
      .as[Seq[Float]].head()
    val hits = AnnIndex.searchIvf(spark, p, q1, k = 1, nProbe = 4)
    assert(hits.select("vec_id").as[Long].head() === 1L)
  }

  test("tombstone-heavy ALONE (no fragmentation): the targeted vacuum " +
      "is the prescription — no full rewrite for a takedown") {
    val p = tmp("mnt_vaconly")
    AnnIndex.buildIvf(emb, "embedding", "vec_id", p, nCells = 4,
      quantizer = "sign")
    AnnIndex.deleteIds(spark, p,
      emb.filter(col("vec_id") % 10 === 3).select("vec_id"))
    val h = AnnIndex.indexHealth(spark, p, tombstoneFloor = 10L)
    assert(!h.signal.drifted && !h.fragmented && h.tombstoneHeavy)
    assert(h.prescription === "vacuumTombstones")
    val acts = AnnIndex.maintainIndex(spark, p, tombstoneFloor = 10L)
    assert(acts === Seq("vacuumTombstones"))
    val h2 = AnnIndex.indexHealth(spark, p, tombstoneFloor = 10L)
    assert(h2.prescription === "healthy" && h2.tombstones === 0L)
    assert(spark.read.parquet(p)
      .filter(col("vec_id") % 10 === 3).count() === 0L)
  }

  test("flat PQ: the fragmentation unit is the session shuffle width, " +
      "not the (zero) partition-dir count — a healthy multi-file " +
      "codes-only index is NOT rewritten on every maintain call") {
    val p = tmp("mnt_pqfrag")
    AnnIndex.buildPq(emb, "embedding", "vec_id", p, m = 4,
      quantizer = "sign")
    // a few appends: more data files, zero partition dirs — under the
    // old files > factor x max(1, partitions=0) rule this index read
    // permanently fragmented and maintainIndex full-rewrote it forever
    AnnIndex.appendPq(emb.limit(5), "embedding", "vec_id", p)
    AnnIndex.appendPq(emb.limit(5), "embedding", "vec_id", p)
    val h = AnnIndex.indexHealth(spark, p)
    assert(h.layout === "pq" && h.partitions === 0)
    assert(h.dataFiles > 2, s"arm needs >2 files, got ${h.dataFiles}")
    assert(!h.fragmented)
    assert(h.prescription === "healthy")
    assert(AnnIndex.maintainIndex(spark, p) === Seq.empty)
  }

  test("drifted IVF-PQ without a corpus: a LEGACY (reservoir-less) " +
      "index reports the reindex skipped and the cheap repairs still " +
      "run; with the `_sample` reservoir the corpus-less rebuild " +
      "EXECUTES (round 18); with a corpus the corpus-bound one does") {
    // LEGACY index (no `_sample` — a pre-round-18 build): skip + repair
    val p = tmp("mnt_pq")
    AnnIndex.buildIvfPq(emb, "embedding", "vec_id", p, nCells = 4, m = 4,
      quantizer = "sign")
    fsOf(p).delete(new org.apache.hadoop.fs.Path(s"$p/_sample"), true)
    AnnIndex.deleteIds(spark, p,
      emb.filter(col("vec_id") % 10 === 3).select("vec_id"))
    val h = AnnIndex.indexHealth(spark, p, targetCellRows = 16L,
      tombstoneFloor = 10L)
    assert(h.layout === "ivfpq" && h.signal.drifted && h.tombstoneHeavy)
    assert(h.prescription.startsWith("reindexIvfPq"))
    val acts = AnnIndex.maintainIndex(spark, p, corpus = None,
      targetCellRows = 16L, tombstoneFloor = 10L)
    assert(acts.head.startsWith("skipped: reindexIvfPq"))
    // the takedown did not wait on the corpus handle
    assert(acts.contains("vacuumTombstones"))
    assert(spark.read.parquet(p)
      .filter(col("vec_id") % 10 === 3).count() === 0L)
    // with the corpus, drift resolves through the corpus-bound rebuild
    val acts2 = AnnIndex.maintainIndex(spark, p,
      corpus = Some(emb.select(col("vec_id"), col("embedding"))),
      vecCol = "embedding", idCol = "vec_id",
      targetCellRows = 16L, tombstoneFloor = 10L)
    assert(acts2 === Seq("reindexIvfPq"))
    val h2 = AnnIndex.indexHealth(spark, p, targetCellRows = 16L,
      tombstoneFloor = 10L)
    assert(!h2.signal.drifted && h2.prescription === "healthy")
    // RESERVOIR index (the round-18 default): the corpus-less maintain
    // executes the rebuild — drift AND tombstones resolved in one verb
    val pr = tmp("mnt_pqres")
    AnnIndex.buildIvfPq(emb, "embedding", "vec_id", pr, nCells = 4,
      m = 4, quantizer = "sign")
    AnnIndex.deleteIds(spark, pr,
      emb.filter(col("vec_id") % 10 === 3).select("vec_id"))
    val actsR = AnnIndex.maintainIndex(spark, pr, corpus = None,
      targetCellRows = 16L, tombstoneFloor = 10L)
    assert(actsR === Seq("reindexIvfPqFromReservoir"), actsR.toString)
    assert(spark.read.parquet(pr)
      .filter(col("vec_id") % 10 === 3).count() === 0L,
      "the reservoir rebuild resurrected a tombstoned row")
    val hr = AnnIndex.indexHealth(spark, pr, targetCellRows = 16L,
      tombstoneFloor = 10L)
    assert(!hr.signal.drifted && hr.prescription === "healthy", hr.toString)
  }

  test("sign IVF / IVF-PQ with an EMPTY cell: drift reads the planned " +
      "key space, so after one re-plan the next maintain is a no-op and " +
      "an append does not WARN") {
    // first dim >= 0 everywhere: half the sign patterns stay empty at any
    // width, so the occupied-cell count never reaches the plan
    val skewed = emb.filter(element_at(col("embedding"), 1) >= 0)
    val n = skewed.count()
    for (layout <- Seq("ivf", "ivfpq")) withClue(s"[$layout] ") {
      val p = tmp(s"mnt_empty_$layout")
      if (layout == "ivf") AnnIndex.buildIvf(skewed, "embedding", "vec_id",
        p, nCells = 4, quantizer = "sign")
      else AnnIndex.buildIvfPq(skewed, "embedding", "vec_id", p,
        nCells = 4, m = 4, quantizer = "sign")
      val acts = AnnIndex.maintainIndex(spark, p, targetCellRows = 2L)
      assert(acts.size === 1 && acts.head.startsWith("reindexIvf"), acts)
      val width = 1 << AnnIndex.indexSignBits(spark, p)
      assert(AnnIndex.ivfCentroids(spark, p).length < width,
        "fixture defect: every sign cell is occupied")
      // a reindex at the same count reports the planned width too
      assert((if (layout == "ivf") AnnIndex.reindexIvf(spark, p, nCells = width,
        targetCellRows = 2L)
      else AnnIndex.reindexIvfPqFromReservoir(spark, p,
        targetCellRows = 2L)) === width)
      val h = AnnIndex.indexHealth(spark, p, targetCellRows = 2L)
      assert(h.signal.currentUnits === width &&
        h.signal.plannedUnits === width && !h.signal.drifted, h.toString)
      val before = dataFiles(p)
      assert(AnnIndex.maintainIndex(spark, p, targetCellRows = 2L)
        === Seq.empty, "the second maintain reindexed an unchanged index")
      assert(dataFiles(p) === before)
      // the append WARN reads the same width
      assert(Similarity.planIvfCells(n + 1, width, 2L) === width,
        "fixture defect: one more row crosses a plan boundary")
      val one = skewed.limit(1).withColumn("vec_id", col("vec_id") + 1000000L)
      val err = new java.io.ByteArrayOutputStream()
      val old = System.err
      try {
        System.setErr(new java.io.PrintStream(err, true))
        if (layout == "ivf") AnnIndex.appendIvf(one, "embedding", "vec_id",
          p, targetCellRows = 2L)
        else AnnIndex.appendIvfPq(one, "embedding", "vec_id", p,
          targetCellRows = 2L)
      } finally System.setErr(old)
      assert(!err.toString.contains("probe cost has outgrown"), err.toString)
    }
  }

  test("codebook staleness (round 16): same-distribution appends keep " +
      "stale=false, a shifted distribution flips it, maintainIndex " +
      "reports the corpus-bound reindex without a corpus and executes " +
      "it with one — refreshing the baseline") {
    val p = tmp("mnt_stale")
    val base = emb.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("embedding"))
    AnnIndex.buildIvfPq(base, "embedding", "vec_id", p, nCells = 4,
      m = 16, quantizer = "sign", autoPlan = false)
    val h0 = AnnIndex.indexHealth(spark, p, staleMinRows = 1L)
    assert(h0.signal.baseReconErr > 0.0 && h0.signal.appendedReconRows === 0L)
    assert(!h0.signal.stale)
    // SAME distribution: the other half of the corpus — appended error
    // tracks the baseline, no flag
    val odds = emb.filter(col("vec_id") % 2 =!= 0)
      .select(col("vec_id"), col("embedding"))
    AnnIndex.appendIvfPq(odds, "embedding", "vec_id", p)
    val h1 = AnnIndex.indexHealth(spark, p, staleMinRows = 1L)
    assert(h1.signal.appendedReconRows === odds.count())
    assert(!h1.signal.stale,
      s"same-distribution append flagged stale: $h1")
    // SHIFTED distribution: scale odd dims 100x (positive scaling —
    // signs, hence cells and codes, are preserved; only the normalized
    // VALUES the codebooks reconstruct move) — quantization error
    // degrades and the flag must flip
    val shifted = odds.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"),
        (x, i) => when(pmod(i, lit(2)) === 1, x * lit(100.0f))
          .otherwise(x)).as("embedding"))
    AnnIndex.appendIvfPq(shifted, "embedding", "vec_id", p)
    val h2 = AnnIndex.indexHealth(spark, p, staleMinRows = 1L)
    assert(h2.signal.stale,
      s"shifted appends did not flip stale: base=${h2.signal.baseReconErr} " +
        s"appended=${h2.signal.appendedReconErr} " +
        s"n=${h2.signal.appendedReconRows}")
    assert(h2.prescription.startsWith("reindexIvfPq"))
    // without a corpus AND without a reservoir (legacy): reported, not
    // taken (codes are lossy and there is nothing to retrain from)
    fsOf(p).delete(new org.apache.hadoop.fs.Path(s"$p/_sample"), true)
    val acts = AnnIndex.maintainIndex(spark, p, corpus = None,
      staleMinRows = 1L)
    assert(acts.head.startsWith("skipped: reindexIvfPq"), acts)
    // with the corpus: the rebuild executes, re-trains on the CURRENT
    // mix, and stamps a fresh baseline — staleness clears
    val full = base.unionByName(odds).unionByName(shifted)
    val acts2 = AnnIndex.maintainIndex(spark, p, corpus = Some(full),
      vecCol = "embedding", idCol = "vec_id", staleMinRows = 1L)
    assert(acts2 === Seq("reindexIvfPq"))
    val h3 = AnnIndex.indexHealth(spark, p, staleMinRows = 1L)
    assert(!h3.signal.stale && h3.signal.appendedReconRows === 0L)
    assert(h3.prescription === "healthy")
    // flat PQ shares the signal — staleness is its ONLY rebuild trigger.
    // Round 18: builds/appends grew the `_sample` reservoir, so the
    // CORPUS-LESS maintain now EXECUTES the refit (retrained on the
    // current raw mix) and stamps a fresh baseline — staleness clears
    // without any corpus handle.
    val p2 = tmp("mnt_stale_pq")
    AnnIndex.buildPq(base, "embedding", "vec_id", p2, m = 16,
      quantizer = "sign")
    AnnIndex.appendPq(shifted, "embedding", "vec_id", p2)
    val hp = AnnIndex.indexHealth(spark, p2, staleMinRows = 1L)
    assert(hp.layout === "pq" && hp.signal.stale)
    assert(hp.prescription.startsWith("reindexPq"))
    assert(AnnIndex.maintainIndex(spark, p2, staleMinRows = 1L)
      === Seq("reindexPqFromReservoir"))
    assert(!AnnIndex.indexHealth(spark, p2, staleMinRows = 1L).signal.stale,
      "the reservoir refit did not clear staleness")
  }

  test("the `_sample` reservoir (r18): level-0 corpus-less reindex is " +
      "content-identical to a fresh full build; a SUBSET reservoir " +
      "(the at-scale level) still retrains and re-encodes every live " +
      "row from reconstruction-upgraded vectors; the re-stamped " +
      "reservoir holds the RAW rows; takedown verbs filter it") {
    // level arithmetic: at or below cap everything is level 0; levels
    // then rise with log2(n/cap) and stay clamped
    assert(AnnIndex.reservoirLevel(100L, 1000L) === 0)
    assert(AnnIndex.reservoirLevel(2000L, 1000L) === 1)
    assert(AnnIndex.reservoirLevel(5000L, 1000L) === 3)
    assert(AnnIndex.reservoirLevel(Long.MaxValue, 1L) === 62)
    // level 0 (oracle scale): reservoir == corpus, so the corpus-less
    // rebuild is EXACTLY a fresh full build — sign cells/codes are
    // row-local, content identity is noise-free
    val p = tmp("mnt_res0"); val fresh = tmp("mnt_res0f")
    val halves = (i: Int) => emb.filter(col("vec_id") % 2 === i)
    AnnIndex.buildIvfPq(halves(0), "embedding", "vec_id", p, nCells = 4,
      m = 4, quantizer = "sign")
    AnnIndex.appendIvfPq(halves(1), "embedding", "vec_id", p)
    val nCells = AnnIndex.reindexIvfPqFromReservoir(spark, p)
    AnnIndex.buildIvfPq(emb, "embedding", "vec_id", fresh, nCells = 4,
      m = 4, quantizer = "sign")
    val read = (q: String) => spark.read.parquet(q)
      .select(col("vec_id"), col("cell").cast("long"),
        col("code").cast("array<int>"))
      .as[(Long, Long, Seq[Int])].collect().toSet
    assert(read(p) === read(fresh),
      "level-0 reservoir rebuild diverged from the fresh full build")
    assert(nCells === 4)
    // SUBSET reservoir (simulating the at-scale level filter): kmeans
    // quantizers retrain from the raw half, every live row re-encodes,
    // probes answer, and the swapped `_sample` holds the RAW subset —
    // not reconstructions
    val pk = tmp("mnt_resk")
    AnnIndex.buildIvfPq(emb, "embedding", "vec_id", pk, nCells = 4,
      m = 4, quantizer = "kmeans")
    val subset = spark.read.parquet(s"$pk/_sample")
      .filter(col("vec_id") % 2 === 0)
      .select("vec_id", "vec").localCheckpoint(true)
    subset.write.mode("overwrite").parquet(s"$pk/_sample")
    AnnIndex.reindexIvfPqFromReservoir(spark, pk)
    assert(spark.read.parquet(pk).count() === emb.count(),
      "the subset-reservoir rebuild lost live rows")
    // the self-hit probe targets a RESERVOIR row (vec_id 2 — even):
    // its code re-derived from the exact raw vector; non-reservoir rows
    // re-encode from reconstructions and only promise approximate rank
    val q2 = emb.filter(col("vec_id") === 2).select("embedding")
      .as[Seq[Float]].head()
    val hits = AnnIndex.searchIvfPqRerank(spark, pk, emb, "embedding",
      "vec_id", q2, k = 1, overFetch = 16)
    assert(hits.select("vec_id").as[Long].head() === 2L,
      "the retrained index lost a reservoir-row self-hit")
    val stamped = spark.read.parquet(s"$pk/_sample")
      .select("vec_id", "vec").as[(Long, Seq[Double])].collect().toMap
    val planted = subset.as[(Long, Seq[Double])].collect().toMap
    assert(stamped === planted,
      "the re-stamped reservoir is not the raw subset")
    // takedown symmetry: vacuum drops tombstoned ids from the reservoir
    // (nothing names them once the sidecar clears), compaction carries
    // the survivors
    AnnIndex.deleteIds(spark, pk,
      emb.filter(col("vec_id") % 2 === 0 && col("vec_id") < 10)
        .select("vec_id"))
    AnnIndex.vacuumTombstones(spark, pk)
    val afterVac = spark.read.parquet(s"$pk/_sample")
      .select("vec_id").as[Long].collect().toSet
    assert(!afterVac.exists(id => id % 2 == 0 && id < 10),
      "vacuum left taken-down ids in the reservoir")
    AnnIndex.compactIndex(spark, pk)
    assert(spark.read.parquet(s"$pk/_sample")
      .select("vec_id").as[Long].collect().toSet === afterVac,
      "compaction dropped or grew the reservoir")
  }

  test("health issues no job over the index data path once _rows " +
      "exists (sidecar + listing only)") {
    case class Input(tag: String, build: String => Unit,
        health: String => graft.operators.IndexStore.IndexHealth[
          graft.operators.IndexStore.Signal],
        layout: String, rows: Option[Long], tombstones: Long,
        prescription: String)
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val inputs = Seq(
      Input("mnt_nojob", p => AnnIndex.buildIvf(emb, "embedding", "vec_id",
          p, nCells = 4, quantizer = "sign"),
        AnnIndex.indexHealth(spark, _), "ivf", Some(emb.count()), 0L,
        "healthy"),
      // a batch=-layout minhash index with a takedown
      Input("mnt_nojob_mh", { p =>
          (0 until 2).foreach(i => Dedup.ingestBatch(
            docs.filter(col("doc_id") % 2 === i), "text", "doc_id",
            Option.when(i > 0)(p), s"$p/batch=$i", minJaccard = 0.5))
          Dedup.deleteFromMinhashIndex(spark, p, Seq(1L, 2L).toDF("doc_id"),
            idCol = "doc_id")
        }, Dedup.minhashIndexHealth(spark, _, tombstoneFloor = 1L),
        "batch", None, 2L, "vacuumMinhashTombstones"),
      // an embedding index with the data-path occupancy scan declined
      Input("mnt_nojob_emb", p => Similarity.buildEmbeddingIndex(emb,
          "embedding", "vec_id", p, minCosine = 0.9, bands = 4,
          bitsPerBand = 16, autoPlan = false),
        Similarity.embeddingIndexHealth(spark, _, checkOccupancy = false),
        "flat", None, 0L, "healthy"))
    for (in <- inputs) withClue(s"[${in.tag}] ") {
      val p = tmp(in.tag)
      in.build(p)
      // corrupt every data file: a health that scanned data would throw
      val fs = fsOf(p)
      val files = dataFiles(p).keys
      files.foreach { f =>
        val out = fs.create(new org.apache.hadoop.fs.Path(f), true)
        try out.write("not parquet".getBytes("UTF-8")) finally out.close()
      }
      val h = in.health(p)
      assert(h.layout === in.layout)
      assert(h.rows === in.rows) // from the _rows sidecar
      assert(h.tombstones === in.tombstones)
      assert(h.dataFiles === files.size.toLong)
      assert(h.prescription === in.prescription)
    }
  }
}
