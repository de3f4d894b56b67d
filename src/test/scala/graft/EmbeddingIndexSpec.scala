package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** The persisted embedding band index (round 16): one-shot parity,
  * frozen-plan probes/appends, the INHERITED takedown lifecycle (the
  * Dedup band-index verbs are layout-generic — delete/vacuum/compact/
  * health apply unchanged), and the fail-closed `_embplan` contract. */
class EmbeddingIndexSpec extends SparkSpec {
  import spark.implicits._

  // 8-dim vectors, (bands=2, bits=4): band 0 keys dims 1-4, band 1 keys
  // dims 5-8. v1/v10 are scaled copies (cosine exactly 1); v2/v3 differ
  // in sign patterns and direction.
  private def vec(xs: Double*): Seq[Float] = xs.map(_.toFloat)
  private def corpus = Seq(
    (1L, vec(1, -1, 1, 1, -1, 1, 1, 1)),
    (2L, vec(-1, -1, -1, -1, 1, 1, 1, 1)),
    (3L, vec(1, 1, 1, 1, 1, 1, 1, -1)))
    .toDF("vec_id", "embedding")
  private def batch = Seq(
    (10L, vec(2, -2, 2, 2, -2, 2, 2, 2)), // x2 copy of 1 -> cosine 1.0
    (11L, vec(-2, -2, -2, -2, 2, 2, 2, 2)), // x2 copy of 2
    (12L, vec(1, -1, -1, -1, -1, -1, -1, 1))) // unlike anything
    .toDF("vec_id", "embedding")
  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString + "/idx"
  private def fsOf(p: String) = new org.apache.hadoop.fs.Path(p)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def build(p: String, df: org.apache.spark.sql.DataFrame) =
    Similarity.buildEmbeddingIndex(df, "embedding", "vec_id", p,
      minCosine = 0.9, bands = 2, bitsPerBand = 4, autoPlan = false)
  private def pairsOf(idx: String,
      scope: Option[org.apache.spark.sql.DataFrame] = None)
      : Set[(Long, Long)] =
    Similarity.incrementalEmbeddingPairs(batch, "embedding", "vec_id",
      idx, scope = scope)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet

  test("indexed probe == one-shot pairs touching the batch, at the " +
      "index's frozen threshold; in-batch pairs included") {
    val idx = tmp("embidx")
    build(idx, corpus)
    val oneShot = Similarity.embeddingNearDupPairs(
      corpus.unionByName(batch), "embedding", "vec_id", minCosine = 0.9,
      bands = 2, bitsPerBand = 4, autoPlan = false)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val batchIds = Set(10L, 11L, 12L)
    val expected = oneShot.filter(p => batchIds(p._1) || batchIds(p._2))
    assert(pairsOf(idx) === expected)
    assert(expected.contains((1L, 10L)) && expected.contains((2L, 11L)),
      s"fixture defect: planted copies did not pair ($expected)")
  }

  test("append rides the frozen plan: half-build + append content == " +
      "one-shot build (banding is row-local), probes agree") {
    val full = tmp("embfull"); val inc = tmp("embinc")
    build(full, corpus)
    build(inc, corpus.filter(col("vec_id") =!= 3L))
    val n = Similarity.appendToEmbeddingIndex(
      corpus.filter(col("vec_id") === 3L), "embedding", "vec_id", inc)
    assert(n === 2L) // one vector x two bands
    val read = (p: String) => spark.read.parquet(p)
      .select(col("id"), col("band").cast("int"), col("key"))
      .as[(Long, Int, Long)].collect().toSet
    assert(read(inc) === read(full))
    assert(pairsOf(inc) === pairsOf(full))
  }

  test("the inherited lifecycle: tombstone delete hides an indexed " +
      "vector immediately, the TARGETED vacuum makes it physical with " +
      "unaffected files byte-identical and the plan sidecar intact, " +
      "health prescribes by cause, compaction carries _embplan") {
    val idx = tmp("emblife")
    build(idx, corpus)
    assert(pairsOf(idx).contains((1L, 10L)))
    Dedup.deleteFromMinhashIndex(spark, idx, Seq(1L).toDF("vec_id"),
      idCol = "vec_id")
    val afterDel = pairsOf(idx)
    assert(!afterDel.exists(p => p._1 == 1L || p._2 == 1L),
      "tombstoned vector still pairs with fresh content")
    val h = Dedup.minhashIndexHealth(spark, idx, tombstoneFloor = 1L)
    assert(h.prescription === "vacuumMinhashTombstones")
    val snap = () => {
      val fs = fsOf(idx)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(idx), true)
      val m = scala.collection.mutable.Map.empty[String, Long]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet") &&
          !f.getPath.toString.contains("/_tombstones/"))
          m(f.getPath.toString) = f.getLen
      }
      m.toMap
    }
    val before = snap()
    val (rewritten, dropped) = Dedup.vacuumMinhashTombstones(spark, idx)
    assert(rewritten > 0 && dropped === 2L) // one vector x two bands
    val after = snap()
    assert(after.size <= before.size)
    before.filter { case (f, _) => after.contains(f) }
      .foreach { case (f, len) => assert(after(f) === len,
        s"untouched file $f changed") }
    assert(!fsOf(idx).exists(
      new org.apache.hadoop.fs.Path(s"$idx/_tombstones")))
    assert(spark.read.parquet(idx).filter(col("id") === 1L).count() === 0L)
    assert(pairsOf(idx) === afterDel)
    // compaction (the fragmentation verb) carries the plan sidecar and
    // keeps answering
    Dedup.compactMinhashIndex(spark, idx)
    assert(fsOf(idx).exists(
      new org.apache.hadoop.fs.Path(s"$idx/_embplan")),
      "compaction lost the frozen-plan sidecar")
    assert(pairsOf(idx) === afterDel)
    // round 17 (review fix): the advisory `_rows` drift baseline
    // SURVIVES compaction (dropping it would fresh-start the next
    // stream bump and silently disable the drift WARN), and a deleted
    // sidecar self-heals via the band-0 metadata count
    assert(Similarity.embVectorCount(spark, idx) === 3L,
      "compaction dropped the _rows drift baseline")
    fsOf(idx).delete(new org.apache.hadoop.fs.Path(s"$idx/_rows"), true)
    assert(Similarity.embVectorCount(spark, idx) === 2L,
      "the band-0 self-heal miscounted (vacuum dropped one vector)")
    // the vacuumed id is re-appendable (replace flow)
    Similarity.appendToEmbeddingIndex(corpus.filter(col("vec_id") === 1L),
      "embedding", "vec_id", idx)
    assert(pairsOf(idx).contains((1L, 10L)))
  }

  test("scope restricts which INDEXED vectors may pair; in-batch pairs " +
      "untouched; scoped-full-index == index-built-on-scope-only") {
    val idx = tmp("embscope"); val sub = tmp("embscope_sub")
    build(idx, corpus)
    build(sub, corpus.filter(col("vec_id") =!= 1L))
    val scoped = pairsOf(idx,
      scope = Some(corpus.filter(col("vec_id") =!= 1L).select("vec_id")))
    assert(!scoped.exists(p => p._1 == 1L || p._2 == 1L))
    assert(scoped === pairsOf(sub))
    assert(scoped.contains((2L, 11L)), "in-scope pair lost")
  }

  test("embDedupIngest(maintainEvery): the stream compacts its own " +
      "index when health prescribes, the compaction CARRIES _embplan, " +
      "and a mid-stream takedown goes physical at it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_embmnt").toString
    val idx = s"$dir/idx"
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.Streams.embDedupIngest(
      mem.toDF().toDF("vec_id", "embedding"), "embedding", "vec_id",
      idx, s"$dir/pairs", s"$dir/ckpt", minCosine = 0.9, bands = 2,
      bitsPerBand = 4, autoPlan = false, maintainEvery = 1)
    try {
      mem.addData(corpus.as[(Long, Seq[Float])].collect().toSeq: _*)
      q.processAllAvailable() // generation 1 — trains the plan
      Dedup.deleteFromMinhashIndex(spark, idx, Seq(1L).toDF("vec_id"),
        idCol = "vec_id")
      mem.addData((20L, vec(1, 1, -1, 1, 1, -1, 1, 1)))
      q.processAllAvailable() // generation 2 — under the count factor
      mem.addData((21L, vec(-1, 1, 1, -1, -1, 1, -1, -1)))
      q.processAllAvailable() // generation 3 -> in-stream compact
    } finally q.stop()
    val h = Dedup.minhashIndexHealth(spark, idx)
    assert(h.generations === 1, s"in-stream compaction did not run: $h")
    assert(h.tombstones === 0L)
    assert(fsOf(idx).exists(
      new org.apache.hadoop.fs.Path(s"$idx/_embplan")),
      "the in-stream compaction lost the frozen-plan sidecar")
    assert(spark.read.parquet(idx).filter(col("id") === 1L).count() === 0L,
      "the takedown did not go physical at the in-stream compaction")
    assert(!pairsOf(idx).exists(p => p._1 == 1L || p._2 == 1L))
    assert(pairsOf(idx).contains((2L, 11L)),
      "the maintained stream index lost a live collision")
  }

  test("crash between the training batch's data write and its plan " +
      "write self-heals on replay: the step re-trains and overwrites " +
      "its own batch dir instead of failing closed forever (and a " +
      "replay AFTER the plan write is idempotent)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_embcrash").toString
    val idx = s"$dir/idx"
    def step(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      graft.streaming.Streams.embIngestBatchStep(df, "embedding",
        "vec_id", idx, s"$dir/pairs", 0.9, 2, 4, false, 2.0, 0, id)
    step(corpus, 0L) // the training batch
    // the crash state: batch-0 data landed, the plan write did not
    fsOf(idx).delete(new org.apache.hadoop.fs.Path(s"$idx/_embplan"), true)
    step(corpus, 0L) // the replay — must RE-TRAIN, not die on the plan
    assert(fsOf(idx).exists(
      new org.apache.hadoop.fs.Path(s"$idx/_embplan")))
    step(batch, 1L)
    val got = spark.read.parquet(s"$dir/pairs")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 10L)) && got.contains((2L, 11L)), got.toString)
    // replay of an already-committed batch (crash after the plan write)
    // is idempotent: per-batch-dir overwrites + pair distinct
    step(batch, 1L)
    assert(spark.read.parquet(s"$dir/pairs")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet === got)
    assert(spark.read.parquet(idx).select("id").distinct().count() === 6L)
    // round 17 (review fix): a MISSING `_rows` mid-stream (compaction
    // historically dropped it; crash mid-update) must self-heal via the
    // band-0 count before the bump — a fresh-start 0 would poison the
    // drift baseline permanently (6 indexed + 1 new = 7, never 1)
    fsOf(idx).delete(new org.apache.hadoop.fs.Path(s"$idx/_rows"), true)
    step(Seq((40L, vec(1, 1, 1, -1, 1, 1, 1, -1)))
      .toDF("vec_id", "embedding"), 2L)
    assert(Similarity.embVectorCount(spark, idx) === 7L,
      "the stream bump fresh-started the drift baseline instead of " +
        "self-healing from the band-0 count")
    // a crashed maintenance SWAP (live missing, .__precompact holding
    // the corpus) refuses with the rename-back recovery — the step
    // must never silently re-train over the orphaned index
    assert(fsOf(idx).rename(new org.apache.hadoop.fs.Path(idx),
      new org.apache.hadoop.fs.Path(s"$idx.__precompact")))
    val e = intercept[IllegalStateException](step(batch, 2L))
    assert(e.getMessage.contains("renaming"), e.getMessage)
  }

  test("fail-closed: a missing _embplan (interrupted rebuild) refuses " +
      "probes and appends before anything lands") {
    val idx = tmp("embnoplan")
    build(idx, corpus)
    fsOf(idx).delete(new org.apache.hadoop.fs.Path(s"$idx/_embplan"),
      true)
    val e1 = intercept[IllegalStateException](pairsOf(idx))
    assert(e1.getMessage.contains("_embplan"))
    val e2 = intercept[IllegalStateException](
      Similarity.appendToEmbeddingIndex(batch, "embedding", "vec_id", idx))
    assert(e2.getMessage.contains("_embplan"))
  }

  test("input boundary: a vector narrower than the reference plan fails " +
      "with a message naming the width and the plan") {
    val narrow = Seq((1L, vec(Seq.fill(16)(1.0): _*)),
      (2L, vec(Seq.fill(16)(-1.0): _*))).toDF("vec_id", "embedding")
    val e = intercept[Exception](Similarity.buildEmbeddingIndex(narrow,
      "embedding", "vec_id", tmp("embnarrow"), autoPlan = false))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
      .mkString("\n")
    assert(msgs.contains("(4 bands x 16 bits) reads 64 dims") &&
      msgs.contains("has 16"), msgs)
  }

  // 16 extra ±1 vectors whose sign patterns are the bit patterns of
  // their ids — distinct directions (any two differ in ≥1 of 8 dims →
  // cosine ≤ 0.75 < 0.9), none colliding with the fixture corpus's
  // patterns (237/240/127) or forming pairs with the probe batch.
  private def growth = (100L until 116L).map { i =>
    (i, vec((0 until 8).map(j =>
      if (((i >> j) & 1L) == 1L) 1.0 else -1.0): _*))
  }.toDF("vec_id", "embedding")

  test("drift lifecycle (r17): an auto-planned index that outgrows its " +
      "frozen geometry flips health's drifted flag, reindex re-plans " +
      "FROM THE INDEX'S OWN ROWS honoring tombstones, and the probe " +
      "answers at the re-picked plan") {
    val idx = tmp("embdrift")
    // occupancy 0.25 at 3 vectors plans back to the (2, 4) reference
    // (ceil(log2(12)) = 4 bits); 19 vectors want 7 — the growth cliff
    val planned = Similarity.buildEmbeddingIndex(corpus, "embedding",
      "vec_id", idx, minCosine = 0.9, bands = 2, bitsPerBand = 4,
      autoPlan = true, targetOccupancy = 0.25)
    assert(planned === ((2, 4)))
    val h0 = Similarity.embeddingIndexHealth(spark, idx)
    assert(!h0.signal.drifted && h0.signal.vectors === 3L &&
      h0.prescription === "healthy", h0.toString)
    Similarity.appendToEmbeddingIndex(growth, "embedding", "vec_id", idx)
    val h1 = Similarity.embeddingIndexHealth(spark, idx)
    assert(h1.signal.drifted && h1.signal.vectors === 19L, h1.toString)
    assert(h1.signal.freshBits > h1.signal.bits)
    assert(h1.prescription === "reindexEmbeddingIndex")
    // a takedown before the reindex must not resurrect through it
    Dedup.deleteFromMinhashIndex(spark, idx, Seq(2L).toDF("vec_id"),
      idCol = "vec_id")
    val newPlan = Similarity.reindexEmbeddingIndex(spark, idx)
    // ceil(log2(18/0.25)) = 7 bits; bands = ceil(2·p^-3), p = 1 -
    // acos(0.9)/π ≈ 0.8564 → 4 (the recall-compensated widening)
    assert(newPlan === ((4, 7)), newPlan.toString)
    val h2 = Similarity.embeddingIndexHealth(spark, idx)
    assert(!h2.signal.drifted && h2.signal.bits === 7 &&
      h2.signal.vectors === 18L &&
      h2.prescription === "healthy", h2.toString)
    assert(!fsOf(idx).exists(
      new org.apache.hadoop.fs.Path(s"$idx/_tombstones")),
      "reindex carried the tombstone sidecar instead of consuming it")
    assert(spark.read.parquet(idx).filter(col("id") === 2L).count() === 0L,
      "a tombstoned vector resurrected through the reindex")
    // the planted twin still recovers through the REINDEXED orthonormal
    // geometry (wide-plan keys are sign-scale-invariant); the deleted
    // vector's twin pair is gone
    val p = pairsOf(idx)
    assert(p.contains((1L, 10L)), p.toString)
    assert(!p.exists(q => q._1 == 2L || q._2 == 2L))
  }

  test("occupancy skew (r17): a hot sign cell flips health's skewed " +
      "flag at the engine's exact comparison; maintain WIDENS the " +
      "geometry (never a same-key rewrite), walks it on repeat flips, " +
      "refuses explicit plans and plan-invariant skew; quiet on " +
      "isotropic data and when the data-path check is declined") {
    // 6 extra scaled copies of v1 pile 7 rows into v1's cell per band:
    // at (2,4): buckets 6, max 7, mean 3.0 → skewed at factor 2
    // (7 > 2·3), quiet at the default 8 (7 < 8·3)
    val hot = (30L to 35L).map(i =>
      (i, vec(3, -3, 3, 3, -3, 3, 3, 3))).toDF("vec_id", "embedding")
    val skewCorpus = corpus.unionByName(hot)
    val idx = tmp("embskew")
    // AUTO-planned at 9 vectors / occupancy 2.0 → the (2,4) reference
    val p0 = Similarity.buildEmbeddingIndex(skewCorpus, "embedding",
      "vec_id", idx, minCosine = 0.9, bands = 2, bitsPerBand = 4,
      autoPlan = true, targetOccupancy = 2.0)
    assert(p0 === ((2, 4)))
    val hq = Similarity.embeddingIndexHealth(spark, idx)
    assert(!hq.signal.skewed && hq.signal.buckets === 6L &&
      hq.signal.maxBucket === 7L && hq.signal.meanOccupancy === 3.0,
      hq.toString)
    val hs = Similarity.embeddingIndexHealth(spark, idx, skewFactor = 2.0)
    assert(hs.signal.skewed && hs.prescription === "reindexEmbeddingIndex",
      hs.toString)
    // declining the data-path scan zeroes the skew fields (the
    // in-stream maintenance mode — sidecar/listing-only)
    val hn = Similarity.embeddingIndexHealth(spark, idx,
      skewFactor = 2.0, checkOccupancy = false)
    assert(!hn.signal.skewed && hn.signal.buckets === 0L, hn.toString)
    val before = pairsOf(idx)
    // skew WITHOUT drift: a same-occupancy re-plan would reproduce
    // byte-identical keys, so maintain tightens 4× — geometry PROVABLY
    // widens ((2,4) → (3,5) at 9 vectors / 0.5) and the tightened
    // target persists, answers preserved across the swap
    val acts = Similarity.maintainEmbeddingIndex(spark, idx,
      skewFactor = 2.0)
    assert(acts === Seq("reindexEmbeddingIndex"), acts.toString)
    val plan1 = Similarity.readEmbPlan(spark, idx)
    assert(plan1.planned === ((3, 5)) && plan1.targetOccupancy === 0.5,
      plan1.toString)
    assert(pairsOf(idx) === before,
      "the maintenance reindex changed probe answers")
    // exact duplicates share every key under every plan — still skewed;
    // a second flip WALKS the geometry onward ((3,5) → (4,7) at 0.125)
    // instead of thrashing in place
    val acts2 = Similarity.maintainEmbeddingIndex(spark, idx,
      skewFactor = 2.0)
    assert(acts2 === Seq("reindexEmbeddingIndex"), acts2.toString)
    assert(Similarity.readEmbPlan(spark, idx).planned === ((4, 7)))
    assert(pairsOf(idx) === before)
    // EXPLICIT plan: the caller's key-space contract — maintain WARNs
    // and leaves the index byte-untouched (no silent auto-plan convert)
    val exp = tmp("embskew_exp")
    build(exp, skewCorpus)
    assert(Similarity.maintainEmbeddingIndex(spark, exp,
      skewFactor = 2.0).isEmpty)
    val expPlan = Similarity.readEmbPlan(spark, exp)
    assert(expPlan.planned === ((2, 4)) && !expPlan.autoPlan)
    assert(pairsOf(exp) === before)
    // ...but a declined re-band still runs the cheap repairs: a takedown
    // of one hot copy leaves the cell skewed, and maintain vacuums it
    Dedup.deleteFromMinhashIndex(spark, exp, Seq(30L).toDF("vec_id"),
      idCol = "vec_id")
    assert(Similarity.embeddingIndexHealth(spark, exp, skewFactor = 2.0,
      tombstoneFloor = 1L).prescription === "reindexEmbeddingIndex")
    assert(Similarity.maintainEmbeddingIndex(spark, exp, skewFactor = 2.0,
      tombstoneFloor = 1L) === Seq("vacuumMinhashTombstones"))
    assert(spark.read.parquet(exp).filter(col("id") === 30L).count() === 0L)
    // PLAN-INVARIANT skew: at a maxed-out geometry (occupancy so tight
    // the maxBits/maxBands caps bind) even the tightened re-plan equals
    // the frozen one — maintain skips the no-progress rewrite
    val cap = tmp("embskew_cap")
    Similarity.buildEmbeddingIndex(skewCorpus, "embedding", "vec_id",
      cap, minCosine = 0.9, bands = 2, bitsPerBand = 4, autoPlan = true,
      targetOccupancy = 1e-9)
    assert(Similarity.maintainEmbeddingIndex(spark, cap,
      skewFactor = 2.0).isEmpty,
      "maintain rewrote an index whose geometry cannot change")
    // isotropic control: the plain corpus is quiet even at factor 2
    val ctl = tmp("embskew_ctl")
    build(ctl, corpus)
    assert(!Similarity.embeddingIndexHealth(spark, ctl,
      skewFactor = 2.0).signal.skewed)
  }

  test("reindex to an explicit plan is content-identical to a fresh " +
      "build at that plan; a crash-leftover staging dir neither blocks " +
      "probes nor the next reindex") {
    val idx = tmp("embreidx"); val fresh = tmp("embreidx_fresh")
    build(idx, corpus)
    // crash leftover from a prior attempt: probes unaffected, the next
    // reindex clears and succeeds (the staged rewrite sweeps leftovers)
    fsOf(idx).mkdirs(new org.apache.hadoop.fs.Path(s"$idx.__reindexing"))
    assert(pairsOf(idx).contains((1L, 10L)))
    val plan = Similarity.reindexEmbeddingIndex(spark, idx,
      bands = 1, bitsPerBand = 8, autoPlan = false)
    assert(plan === ((1, 8)))
    Similarity.buildEmbeddingIndex(corpus, "embedding", "vec_id", fresh,
      minCosine = 0.9, bands = 1, bitsPerBand = 8, autoPlan = false)
    val read = (p: String) => spark.read.parquet(p)
      .select(col("id"), col("band").cast("int"), col("key"))
      .as[(Long, Int, Long)].collect().toSet
    assert(read(idx) === read(fresh))
    assert(pairsOf(idx) === pairsOf(fresh))
    assert(!fsOf(idx).exists(
      new org.apache.hadoop.fs.Path(s"$idx.__reindexing")))
  }

  test("in-stream drift maintenance (r17): embDedupIngest(maintainEvery)" +
      " reindexes its own index when growth flips the drift flag — " +
      "generations collapse to batch=-1, _embplan re-freezes at the " +
      "re-picked plan, and later batches cross-collide through the new " +
      "geometry") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_embdrs").toString
    val idx = s"$dir/idx"
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.Streams.embDedupIngest(
      mem.toDF().toDF("vec_id", "embedding"), "embedding", "vec_id",
      idx, s"$dir/pairs", s"$dir/ckpt", minCosine = 0.9, bands = 2,
      bitsPerBand = 4, autoPlan = true, targetOccupancy = 0.25,
      maintainEvery = 1)
    try {
      mem.addData(corpus.as[(Long, Seq[Float])].collect().toSeq: _*)
      q.processAllAvailable() // trains (2, 4) at 3 vectors
      assert(Similarity.readEmbPlan(spark, idx).planned === ((2, 4)))
      mem.addData(growth.as[(Long, Seq[Float])].collect().toSeq: _*)
      q.processAllAvailable() // 19 vectors → drift → in-stream reindex
      assert(Similarity.readEmbPlan(spark, idx).planned === ((4, 7)),
        "the in-stream maintenance did not re-plan the drifted index")
      assert(Dedup.minhashIndexHealth(spark, idx).generations === 1,
        "the reindex did not collapse the stream's generations")
      mem.addData(batch.as[(Long, Seq[Float])].collect().toSeq: _*)
      q.processAllAvailable() // probes ride the REINDEXED geometry
    } finally q.stop()
    val got = spark.read.parquet(s"$dir/pairs")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 10L)) && got.contains((2L, 11L)),
      s"cross-batch twins lost through the reindexed geometry: $got")
  }

  test("in-stream skew cadence (r18): skewEvery=K pays the occupancy " +
      "aggregate only every Kth maintenance window — a hot cell planted " +
      "mid-stream (no count growth past the plan) is DECLINED at the " +
      "off-windows and reindexed at the Kth, answers preserved") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_embskw").toString
    val idx = s"$dir/idx"
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.Streams.embDedupIngest(
      mem.toDF().toDF("vec_id", "embedding"), "embedding", "vec_id",
      idx, s"$dir/pairs", s"$dir/ckpt", minCosine = 0.9, bands = 2,
      bitsPerBand = 4, autoPlan = true, targetOccupancy = 2.0,
      maintainEvery = 1, skewEvery = 3, skewFactor = 2.0)
    val hot = (30L to 35L).map(i =>
      (i, vec(3, -3, 3, 3, -3, 3, 3, 3))).toDF("vec_id", "embedding")
    val lone = Seq((50L, vec(1, -1, -1, 1, 1, -1, 1, -1)))
      .toDF("vec_id", "embedding")
    try {
      mem.addData(corpus.as[(Long, Seq[Float])].collect().toSeq: _*)
      q.processAllAvailable() // trains (2,4); window 1 — skew declined
      assert(Similarity.readEmbPlan(spark, idx).planned === ((2, 4)))
      mem.addData(hot.as[(Long, Seq[Float])].collect().toSeq: _*)
      q.processAllAvailable() // hot cell lands; window 2 — DECLINED:
      // the skew is live but off-window maintenance stays sidecar-only
      assert(Similarity.readEmbPlan(spark, idx).planned === ((2, 4)),
        "an off-window maintenance ran the data-path skew check")
      assert(Similarity.embeddingIndexHealth(spark, idx,
        skewFactor = 2.0).signal.skewed, "fixture defect: hot cell not skewed")
      mem.addData(lone.as[(Long, Seq[Float])].collect().toSeq: _*)
      q.processAllAvailable() // window 3 — the Kth: skew check runs,
      // maintain tightens 4x and the in-stream reindex widens the plan
      val plan1 = Similarity.readEmbPlan(spark, idx)
      assert(plan1.planned ===
        Similarity.planEmbeddingBands(10L, 0.9, 2, 4, 0.5),
        s"the Kth window did not execute the skew reindex (${plan1.planned})")
      assert(plan1.targetOccupancy === 0.5 && plan1.planned._2 > 4,
        plan1.toString)
      assert(Dedup.minhashIndexHealth(spark, idx).generations === 1,
        "the skew reindex did not collapse the stream's generations")
      mem.addData(batch.as[(Long, Seq[Float])].collect().toSeq: _*)
      q.processAllAvailable() // window 4 — declined again; probes ride
      // the reindexed geometry
    } finally q.stop()
    val got = spark.read.parquet(s"$dir/pairs")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 10L)) && got.contains((2L, 11L)),
      s"twins lost through the skew-reindexed geometry: $got")
  }

  test("a crashed maintenance SWAP (live path missing, pre-swap dir " +
      "holding the only copy) fails every batch reader with the " +
      "rename-back recovery — never the rebuild prescription that " +
      "would orphan it") {
    val idx = tmp("embcrashswap")
    build(idx, corpus)
    assert(fsOf(idx).rename(new org.apache.hadoop.fs.Path(idx),
      new org.apache.hadoop.fs.Path(s"$idx.__prereindex")))
    val e1 = intercept[IllegalStateException](pairsOf(idx))
    assert(e1.getMessage.contains("renaming it back"), e1.getMessage)
    val e2 = intercept[IllegalStateException](
      Similarity.reindexEmbeddingIndex(spark, idx))
    assert(e2.getMessage.contains("renaming it back"), e2.getMessage)
    // the prescribed recovery works: rename back, everything answers
    assert(fsOf(idx).rename(
      new org.apache.hadoop.fs.Path(s"$idx.__prereindex"),
      new org.apache.hadoop.fs.Path(idx)))
    assert(pairsOf(idx).contains((1L, 10L)))
  }

  test("the skew scan's plan reads NO vectors: band is a partition " +
      "column and key the only data column (the two-int-column scan " +
      "the health scaladoc promises at 100 TB)") {
    val idx = tmp("embocc")
    build(idx, corpus)
    val plan = Similarity.embOccupancyFrame(spark, idx)
      .queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator
      .flatMap(_.split("ReadSchema: ").drop(1)).mkString
    assert(readSchema.nonEmpty, plan)
    assert(readSchema.contains("struct<key:bigint>") &&
      !readSchema.contains("array"),
      s"the occupancy scan reads more than the key column " +
        s"($readSchema):\n$plan")
  }

  test("with a _tombstones sidecar pending, the skew scan's live " +
      "anti-join adds ONLY the id column — still no vectors in the " +
      "ReadSchema (the with-takedowns arm of the 100 TB cost claim)") {
    val idx = tmp("embocctomb")
    build(idx, corpus)
    Dedup.deleteFromMinhashIndex(spark, idx, Seq(1L).toDF("vec_id"),
      idCol = "vec_id")
    val plan = Similarity.embOccupancyFrame(spark, idx)
      .queryExecution.executedPlan.toString
    val readSchemas = plan.linesIterator
      .flatMap(_.split("ReadSchema: ").drop(1)).toSeq
    assert(readSchemas.nonEmpty, plan)
    assert(readSchemas.exists(_.contains("struct<id:bigint,key:bigint>")),
      s"the index-side scan should read exactly (id, key) " +
        s"($readSchemas):\n$plan")
    assert(!readSchemas.exists(_.contains("array")),
      s"the with-tombstones occupancy scan reads vectors " +
        s"($readSchemas):\n$plan")
  }

  test("the auto-planned frozen plan is the INDEX's identity: a probe " +
      "bands its batch with the sidecar plan even when the batch size " +
      "would plan differently") {
    // force a wide plan by building with a tiny occupancy target: the
    // plan departs the (2,4) reference and freezes in _embplan; the
    // 3-row batch would auto-plan back to the reference — the probe
    // must use the INDEX's keys or every cross collision is lost
    val idx = tmp("embwide")
    val planned = Similarity.buildEmbeddingIndex(corpus, "embedding",
      "vec_id", idx, minCosine = 0.9, bands = 2, bitsPerBand = 4,
      autoPlan = true, targetOccupancy = 0.0001)
    assert(planned !== ((2, 4)),
      s"fixture defect: the forced plan stayed at the reference ($planned)")
    assert(pairsOf(idx).contains((1L, 10L)),
      "the probe lost the planted collision — batch banded with a " +
        "different plan than the index's")
  }
}
