package graft

import graft.operators.AnnIndex
import org.apache.spark.sql.functions._

/** Incremental append to persisted ANN indexes (round 14): frozen sidecar
  * geometry (the FAISS train-then-add contract), fail-closed on the
  * interrupted/pre-marker states, and — for the deterministic sign
  * quantizers — bit-identical index CONTENT to a full rebuild, so a
  * half-build + append serves the same answers as a one-shot build. */
class AnnAppendSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb =
    Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
  private lazy val evens = emb.filter(col("vec_id") % 2 === 0)
  private lazy val odds = emb.filter(col("vec_id") % 2 =!= 0)
  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_$tag").toString + "/idx"

  // ------------------------------------------------------------------ LSH

  test("appendLsh: half-build + append is bit-identical to a full build " +
      "(sigs are geometry-only), and the batched join answers match") {
    val full = tmp("lsh_full"); val inc = tmp("lsh_inc")
    AnnIndex.buildLsh(emb, "embedding", "vec_id", full, dims = 64, bits = 8)
    AnnIndex.buildLsh(evens, "embedding", "vec_id", inc, dims = 64, bits = 8)
    val n = AnnIndex.appendLsh(odds, "embedding", "vec_id", inc)
    assert(n === odds.count())
    val read = (p: String) => spark.read.parquet(p)
      .select("vec_id", "sig", "sig_grp").as[(Long, Long, Long)]
      .collect().toSet
    assert(read(inc) === read(full))
    // same answers from the appended index as from the one-shot build
    val q = emb.filter(col("vec_id") < 3)
    val res = (p: String) => AnnIndex.lshKnnJoin(spark, p, q,
      "embedding", "vec_id", k = 3).as[(Long, Long, Double)].collect().toSet
    assert(res(inc) === res(full))
  }

  test("appendLsh: fail-closed on the sidecar-less (interrupted/legacy) " +
      "state — nothing is written") {
    val p = tmp("lsh_noplan")
    AnnIndex.buildLsh(evens, "embedding", "vec_id", p, dims = 64, bits = 8)
    val before = spark.read.parquet(p).count()
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$p/_plan"), true)
    val e = intercept[IllegalStateException](
      AnnIndex.appendLsh(odds, "embedding", "vec_id", p))
    assert(e.getMessage.contains("_plan"))
    // the guard fired BEFORE any write landed
    assert(spark.read.parquet(p).count() === before)
  }

  test("appendLsh: occupancy-drift WARN fires when the post-append count " +
      "would plan wider bits") {
    val p = tmp("lsh_drift")
    AnnIndex.buildLsh(evens, "embedding", "vec_id", p, dims = 64, bits = 4,
      autoPlan = false)
    val err = new java.io.ByteArrayOutputStream()
    val old = System.err
    try {
      System.setErr(new java.io.PrintStream(err, true))
      // a microscopic occupancy target makes 500 rows overflow 4 bits
      AnnIndex.appendLsh(odds, "embedding", "vec_id", p,
        targetOccupancy = 0.001)
    } finally System.setErr(old)
    assert(err.toString.contains("WARN appendLsh"), err.toString)
  }

  // ------------------------------------------------------------------ IVF

  test("appendIvf(sign): half-build + append is content-identical to a " +
      "full build; probing every cell recovers the appended head") {
    val full = tmp("ivf_full"); val inc = tmp("ivf_inc")
    AnnIndex.buildIvf(emb, "embedding", "vec_id", full,
      nCells = 8, quantizer = "sign")
    AnnIndex.buildIvf(evens, "embedding", "vec_id", inc,
      nCells = 8, quantizer = "sign")
    val n = AnnIndex.appendIvf(odds, "embedding", "vec_id", inc)
    assert(n === odds.count())
    val read = (p: String) => spark.read.parquet(p)
      .select(col("vec_id"), col("cell").cast("long")).as[(Long, Long)]
      .collect().toSet
    assert(read(inc) === read(full))
    // an appended vector is its own nearest neighbor when every cell is
    // probed (exact scoring path — centroid staleness can't hide it)
    val q1 = emb.filter(col("vec_id") === 1).select("embedding")
      .as[Seq[Float]].head()
    val hits = AnnIndex.searchIvf(spark, inc, q1, k = 1, nProbe = 8)
    assert(hits.select("vec_id").as[Long].head() === 1L)
  }

  test("appendIvf(kmeans): every appended row lands in its nearest FROZEN " +
      "cell (ties to the lowest id), and the appended head is searchable") {
    val p = tmp("ivf_km")
    AnnIndex.buildIvf(evens, "embedding", "vec_id", p,
      nCells = 4, quantizer = "kmeans")
    AnnIndex.appendIvf(odds, "embedding", "vec_id", p)
    val cents = AnnIndex.ivfCentroids(spark, p).sortBy(_._1)
    val placed = spark.read.parquet(p)
      .select(col("vec_id"), col("vec").cast("array<double>"),
        col("cell").cast("long"))
      .as[(Long, Seq[Double], Long)].collect()
    val oddIds = odds.select("vec_id").as[Long].collect().toSet
    placed.filter(r => oddIds(r._1)).foreach { case (id, v, cell) =>
      val best = cents.map { case (c, ctr) =>
        (c, ctr.zip(v).map { case (a, b) => (a - b) * (a - b) }.sum)
      }.minBy { case (c, d) => (d, c) }._1
      assert(cell === best, s"vec $id placed in $cell, nearest is $best")
    }
    val q1 = emb.filter(col("vec_id") === 1).select("embedding")
      .as[Seq[Float]].head()
    val hits = AnnIndex.searchIvf(spark, p, q1, k = 1, nProbe = 4)
    assert(hits.select("vec_id").as[Long].head() === 1L)
  }

  test("appendIvf(sign): a batch cell the frozen geometry doesn't " +
      "describe errors BEFORE writing") {
    val p = tmp("ivf_newcell")
    // build only from vectors whose first two dims are >= 0: with 4
    // cells (2 sign bits) the sidecar describes cell 3 only
    val base = emb.filter(
      element_at(col("embedding"), 1) >= 0 &&
        element_at(col("embedding"), 2) >= 0)
    assume(base.count() > 0)
    AnnIndex.buildIvf(base, "embedding", "vec_id", p,
      nCells = 4, quantizer = "sign")
    val before = spark.read.parquet(p).count()
    val stray = emb.filter(element_at(col("embedding"), 1) < 0).limit(5)
    assume(stray.count() > 0)
    val e = intercept[IllegalStateException](
      AnnIndex.appendIvf(stray, "embedding", "vec_id", p))
    assert(e.getMessage.contains("not described by the _centroids"))
    assert(spark.read.parquet(p).count() === before)
  }

  test("append refuses a pre-marker index (no quantizer column) instead " +
      "of guessing the encode family") {
    val p = tmp("ivf_nomark")
    AnnIndex.buildIvf(evens, "embedding", "vec_id", p,
      nCells = 4, quantizer = "sign")
    // simulate a pre-round-14 sidecar: rewrite _centroids without the
    // marker column
    val stripped = spark.read.parquet(s"$p/_centroids")
      .select("cell", "centroid").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    val tmpSide = tmp("side_nomark")
    stripped.toSeq.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(tmpSide)
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$p/_centroids"), true)
    fs.rename(new org.apache.hadoop.fs.Path(tmpSide),
      new org.apache.hadoop.fs.Path(s"$p/_centroids"))
    val e = intercept[IllegalStateException](
      AnnIndex.appendIvf(odds, "embedding", "vec_id", p))
    assert(e.getMessage.contains("quantizer marker"))
  }

  // --------------------------------------------------------------- IVF-PQ

  test("appendIvfPq(sign): half-build + append is content-identical to a " +
      "full build (cells AND codes are geometry-only)") {
    val full = tmp("ivfpq_full"); val inc = tmp("ivfpq_inc")
    AnnIndex.buildIvfPq(emb, "embedding", "vec_id", full,
      nCells = 8, m = 16, quantizer = "sign")
    AnnIndex.buildIvfPq(evens, "embedding", "vec_id", inc,
      nCells = 8, m = 16, quantizer = "sign")
    val n = AnnIndex.appendIvfPq(odds, "embedding", "vec_id", inc)
    assert(n === odds.count())
    val read = (p: String) => spark.read.parquet(p)
      .select(col("vec_id"), col("code").cast("array<int>"),
        col("cell").cast("long"))
      .as[(Long, Seq[Int], Long)].collect().toSet
    assert(read(inc) === read(full))
    // the appended head survives the candidate cut and re-ranks to top-1
    val q1 = emb.filter(col("vec_id") === 1).select("embedding")
      .as[Seq[Float]].head()
    val hits = AnnIndex.searchIvfPqRerank(spark, inc, emb,
      "embedding", "vec_id", q1, k = 1, nProbe = 8, overFetch = 8)
    assert(hits.select("vec_id").as[Long].head() === 1L)
  }

  test("appendIvfPq(kmeans): appended rows are searchable through the " +
      "frozen coarse + sub-quantizer geometry") {
    val p = tmp("ivfpq_km")
    AnnIndex.buildIvfPq(evens, "embedding", "vec_id", p,
      nCells = 4, m = 8, quantizer = "kmeans")
    val n = AnnIndex.appendIvfPq(odds, "embedding", "vec_id", p)
    assert(n === odds.count())
    val q1 = emb.filter(col("vec_id") === 1).select("embedding")
      .as[Seq[Float]].head()
    val hits = AnnIndex.searchIvfPqRerank(spark, p, emb,
      "embedding", "vec_id", q1, k = 1, nProbe = 4, overFetch = 16)
    assert(hits.select("vec_id").as[Long].head() === 1L)
  }

  // ------------------------------------------------------------------- PQ

  test("appendPq: codes ride the frozen codebooks; a code the build never " +
      "saw scores +inf and cannot out-rank by a hole") {
    // synthetic corpus where the build half is all-positive (one code per
    // subspace) and the append introduces unseen sign patterns
    val dim = 8
    val pos = (0L until 20L).map(i =>
      (i, Seq.fill(dim)(0.5f + (i % 5) * 0.1f)))
    val neg = Seq((100L, Seq.fill(dim)(-1.0f)))
    val posDf = pos.toDF("vec_id", "embedding")
    val negDf = neg.toDF("vec_id", "embedding")
    val p = tmp("pq_holes")
    AnnIndex.buildPq(posDf, "embedding", "vec_id", p, m = 2,
      quantizer = "sign")
    val n = AnnIndex.appendPq(negDf, "embedding", "vec_id", p)
    assert(n === 1L)
    // probe with a positive query: the appended all-negative row's code
    // has no codebook entry -> +inf asymmetric distance -> ranked last,
    // present but never in the head
    val all = AnnIndex.searchPq(spark, p, Seq.fill(dim)(1.0f), k = 21)
      .select("vec_id", "approx_dist").as[(Long, Double)].collect()
    assert(all.map(_._1).contains(100L))
    assert(all.sortBy(_._2).last._1 === 100L)
    assert(all.find(_._1 == 100L).get._2 > 1e100)
  }

  test("appendIvfPq staleness fold is FULL-BATCH above the 256k sample " +
      "cap: appended_n counts every row and the mean is the exact " +
      "all-rows mean (r18 semantic surface, pinned r19)") {
    // The r18 observe() fold measures reconstruction error over EVERY
    // batch row — the pre-r18 path capped at KmeansFitSampleCap via the
    // hash-sample, identical below the cap and a behavior change above
    // it (strictly more data, deliberately). This spec pins that
    // surface so a later round can't silently "optimize" it back to
    // the sample.
    val dim = 8
    // all-positive build corpus: one sign pattern per subspace, so the
    // (also all-positive) big batch encodes into trained codes only
    val pos = (0L until 32L).map(i =>
      (i, Seq.tabulate(dim)(d => 0.3f + ((i + d) % 5) * 0.1f)))
    val p = tmp("ivfpq_reconfull")
    AnnIndex.buildIvfPq(pos.toDF("vec_id", "embedding"), "embedding",
      "vec_id", p, nCells = 2, m = 2, quantizer = "sign")
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (base0, _, n0, _) = AnnIndex.readReconSidecar(fs, p).get
    assert(n0 === 0L)
    val nBig = AnnIndex.KmeansFitSampleCap + 1000L
    val batch = spark.range(nBig).select(
      (col("id") + 1000L).as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)),
        d => lit(0.25) + ((col("id") + d) % 7).cast("double") * lit(0.1))
        .as("embedding"))
    assert(AnnIndex.appendIvfPq(batch, "embedding", "vec_id", p) === nBig)
    val (base1, appErr, appN, _) = AnnIndex.readReconSidecar(fs, p).get
    assert(base1 === base0, "append must not move the build baseline")
    // the pinned surface: the appended mass is the FULL batch count,
    // not min(batch, KmeansFitSampleCap)
    assert(appN === nBig,
      s"appended_n=$appN must count every batch row ($nBig), not the " +
        s"${AnnIndex.KmeansFitSampleCap} hash-sample cap")
    // exact all-rows mean, independently recomputed on the driver from
    // the frozen codebooks + the batch's deterministic vectors
    val cb = spark.read.parquet(s"$p/_codebooks").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2)))
      .toMap
    val sub = dim / 2
    val code = (1 << sub) - 1 // all-positive batch: every sign bit set
    var total = 0.0
    var id = 0L
    while (id < nBig) {
      val v = Array.tabulate(dim)(d => 0.25 + ((id + d) % 7) * 0.1)
      val norm = math.sqrt(v.map(x => x * x).sum)
      val nv = v.map(_ / norm)
      total += (0 until 2).map { j =>
        cb((j, code)).zipWithIndex.map { case (c, i) =>
          val diff = nv(j * sub + i) - c; diff * diff
        }.sum
      }.sum
      id += 1L
    }
    val expected = total / nBig
    assert(math.abs(appErr - expected) <= 1e-6 * math.max(expected, 1e-12),
      s"appended_err=$appErr must be the exact full-batch mean $expected")
  }

  test("appends accept an empty batch (a quiet streaming micro-batch): " +
      "0 appended, index byte-identical") {
    val p = tmp("lsh_emptyb"); val pq = tmp("ivfpq_emptyb")
    AnnIndex.buildLsh(evens, "embedding", "vec_id", p, dims = 64)
    AnnIndex.buildIvfPq(evens, "embedding", "vec_id", pq,
      nCells = 8, m = 16, quantizer = "sign")
    val none = emb.filter(col("vec_id") < 0)
    assert(AnnIndex.appendLsh(none, "embedding", "vec_id", p) === 0L)
    assert(AnnIndex.appendIvfPq(none, "embedding", "vec_id", pq) === 0L)
    assert(spark.read.parquet(p).count() === evens.count())
    assert(spark.read.parquet(pq).count() === evens.count())
  }

  // ------------------------------------------------------- compaction

  test("compactIndex(LSH): appends fragment the layout, compaction " +
      "rewrites it one-file-per-group with geometry and answers intact") {
    val p = tmp("lsh_compact")
    AnnIndex.buildLsh(evens, "embedding", "vec_id", p, dims = 64, bits = 8)
    // three daily batches — each adds files to the touched group dirs
    (0 until 3).foreach(i =>
      AnnIndex.appendLsh(odds.filter(col("vec_id") % 3 === i),
        "embedding", "vec_id", p))
    val planBefore = AnnIndex.lshIndexPlan(spark, p)
    val read = () => spark.read.parquet(p)
      .select("vec_id", "sig", "sig_grp").as[(Long, Long, Long)]
      .collect().toSet
    val q = emb.filter(col("vec_id") < 3)
    val knn = () => AnnIndex.lshKnnJoin(spark, p, q,
      "embedding", "vec_id", k = 3).as[(Long, Long, Double)].collect().toSet
    val (contentBefore, knnBefore) = (read(), knn())
    val (before, after) = AnnIndex.compactIndex(spark, p)
    assert(after < before, s"$before -> $after")
    // one file per non-empty group directory after compaction
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val grpDirs = fs.listStatus(new org.apache.hadoop.fs.Path(p))
      .map(_.getPath.getName).count(_.startsWith("sig_grp="))
    assert(after === grpDirs.toLong)
    assert(read() === contentBefore)
    assert(knn() === knnBefore)
    assert(AnnIndex.lshIndexPlan(spark, p) === planBefore)
    // the staging dirs are gone
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p.__compacting")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p.__precompact")))
  }

  test("compactIndex(legacy raw-sig LSH): the sig= partitioning is KEPT " +
      "through the rewrite — content, plan and probes unchanged") {
    // construct the legacy state directly, as the appendLsh-refusal arm
    // does: sig= partitions plus a _plan without grp_bits. Appends refuse
    // this layout, but probes accept it — so compaction must preserve
    // the partition scheme, not demote sig to a data column (which would
    // turn every probe's partition pruning into a full scan behind a
    // clean swap).
    val p = tmp("lsh_legacy_compact")
    evens.select(col("vec_id"), col("embedding").as("vec"))
      .withColumn("sig", pmod(col("vec_id"), lit(16)))
      .repartition(4) // several files per sig dir: something to compact
      .write.partitionBy("sig").parquet(p)
    Seq((4, 1)).toDF("bits", "probe_hamming")
      .coalesce(1).write.mode("overwrite").json(s"$p/_plan")
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sigDirs = () => fs.listStatus(new org.apache.hadoop.fs.Path(p))
      .map(_.getPath.getName).filter(_.startsWith("sig=")).toSet
    val read = () => spark.read.parquet(p)
      .select("vec_id", "sig").as[(Long, Long)].collect().toSet
    val (dirsBefore, contentBefore) = (sigDirs(), read())
    assert(dirsBefore.nonEmpty)
    val (before, after) = AnnIndex.compactIndex(spark, p)
    assert(after < before, s"$before -> $after")
    assert(sigDirs() === dirsBefore, s"legacy sig= partitioning must " +
      s"survive compaction: ${dirsBefore.size} dirs -> ${sigDirs().size}")
    assert(read() === contentBefore)
    assert(AnnIndex.lshIndexPlan(spark, p) === (4, 1))
  }

  test("compactIndex(IVF-PQ): cells compact, codes and search unchanged") {
    val p = tmp("ivfpq_compact")
    AnnIndex.buildIvfPq(evens, "embedding", "vec_id", p,
      nCells = 8, m = 16, quantizer = "sign")
    (0 until 3).foreach(i =>
      AnnIndex.appendIvfPq(odds.filter(col("vec_id") % 3 === i),
        "embedding", "vec_id", p))
    val read = () => spark.read.parquet(p)
      .select(col("vec_id"), col("code").cast("array<int>"),
        col("cell").cast("long"))
      .as[(Long, Seq[Int], Long)].collect().toSet
    val contentBefore = read()
    val (before, after) = AnnIndex.compactIndex(spark, p)
    assert(after < before)
    assert(read() === contentBefore)
    val q1 = emb.filter(col("vec_id") === 1).select("embedding")
      .as[Seq[Float]].head()
    val hits = AnnIndex.searchIvfPqRerank(spark, p, emb,
      "embedding", "vec_id", q1, k = 1, nProbe = 8, overFetch = 8)
    assert(hits.select("vec_id").as[Long].head() === 1L)
  }

  test("reindexLsh: rebuilds from the index's own rows at the re-picked " +
      "plan — the drift WARN's prescribed action, no upstream corpus") {
    val p = tmp("lsh_reindex")
    // a deliberately narrow explicit plan (the outgrown state)
    AnnIndex.buildLsh(evens, "embedding", "vec_id", p, dims = 64,
      bits = 4, autoPlan = false)
    AnnIndex.appendLsh(odds, "embedding", "vec_id", p)
    assert(AnnIndex.lshIndexPlan(spark, p) === (4, 1))
    val idsBefore = spark.read.parquet(p)
      .select("vec_id").as[Long].collect().toSet
    val plan = AnnIndex.reindexLsh(spark, p)
    // at oracle scale the re-pick is the reference plan
    assert(plan === (12, 1))
    assert(AnnIndex.lshIndexPlan(spark, p) === (12, 1))
    // same rows, signatures identical to a fresh one-shot 12-bit build
    val fresh = tmp("lsh_reindex_fresh")
    AnnIndex.buildLsh(emb, "embedding", "vec_id", fresh, dims = 64)
    val read = (x: String) => spark.read.parquet(x)
      .select("vec_id", "sig", "sig_grp").as[(Long, Long, Long)]
      .collect().toSet
    assert(read(p) === read(fresh))
    assert(read(p).map(_._1) === idsBefore)
    val q = emb.filter(col("vec_id") < 3)
    val res = (x: String) => AnnIndex.lshKnnJoin(spark, x, q,
      "embedding", "vec_id", k = 3).as[(Long, Long, Double)].collect().toSet
    assert(res(p) === res(fresh))
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p.__reindexing")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p.__prereindex")))
  }

  test("reindexIvf(sign): re-plans the cells from the index's own rows; " +
      "content matches a fresh build at the same plan") {
    val p = tmp("ivf_reindex")
    AnnIndex.buildIvf(evens, "embedding", "vec_id", p,
      nCells = 4, quantizer = "sign")
    AnnIndex.appendIvf(odds, "embedding", "vec_id", p)
    assert(AnnIndex.ivfCentroids(spark, p).length === 4)
    // a tiny rows-per-cell target forces the re-plan to widen
    val cells = AnnIndex.reindexIvf(spark, p, nCells = 4,
      targetCellRows = 64L)
    assert(cells > 4)
    val fresh = tmp("ivf_reindex_fresh")
    AnnIndex.buildIvf(emb, "embedding", "vec_id", fresh,
      nCells = 4, quantizer = "sign", targetCellRows = 64L)
    val read = (x: String) => spark.read.parquet(x)
      .select(col("vec_id"), col("cell").cast("long")).as[(Long, Long)]
      .collect().toSet
    assert(read(p) === read(fresh))
    val q1 = emb.filter(col("vec_id") === 1).select("embedding")
      .as[Seq[Float]].head()
    val hits = AnnIndex.searchIvf(spark, p, q1, k = 1, nProbe = cells)
    assert(hits.select("vec_id").as[Long].head() === 1L)
  }

  test("reindexLsh: refuses the sidecar-less interrupted state") {
    val p = tmp("reindex_nosc")
    AnnIndex.buildLsh(evens, "embedding", "vec_id", p, dims = 64)
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$p/_plan"), true)
    intercept[IllegalStateException](AnnIndex.reindexLsh(spark, p))
  }

  test("compactIndex: refuses the sidecar-less interrupted state") {
    val p = tmp("compact_nosc")
    AnnIndex.buildIvf(evens, "embedding", "vec_id", p,
      nCells = 4, quantizer = "sign")
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$p/_centroids"), true)
    val e = intercept[IllegalStateException](
      AnnIndex.compactIndex(spark, p))
    assert(e.getMessage.contains("no sidecars"))
  }

  // ------------------------------------------------- streaming ingest

  test("annIngest: first micro-batch builds (train), later batches append " +
      "under the frozen plan, and the index is live + rebuild-identical") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_astream").toString
    val (idx, ckpt) = (s"$dir/idx", s"$dir/ckpt")
    val rows = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    val (b0, b1) = rows.partition(_._1 % 2 == 0)
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.Streams.annIngest(
      mem.toDF().toDF("vec_id", "embedding"), "embedding", "vec_id",
      idx, ckpt)
    try {
      mem.addData(b0: _*)
      q.processAllAvailable()
      // the build batch froze the plan; the index is probe-able mid-stream
      assert(AnnIndex.lshIndexPlan(spark, idx) === (12, 1))
      assert(spark.read.parquet(idx).count() === b0.size)
      mem.addData(b1: _*)
      q.processAllAvailable()
      assert(spark.read.parquet(idx).count() === rows.size)
    } finally q.stop()
    // streamed index content + answers == a one-shot build over everything
    val full12 = tmp("astream_full12")
    AnnIndex.buildLsh(emb, "embedding", "vec_id", full12, dims = 64)
    val read = (p: String) => spark.read.parquet(p)
      .select("vec_id", "sig", "sig_grp").as[(Long, Long, Long)]
      .collect().toSet
    assert(read(idx) === read(full12))
    val qdf = emb.filter(col("vec_id") < 3)
    val res = (p: String) => AnnIndex.lshKnnJoin(spark, p, qdf,
      "embedding", "vec_id", k = 3).as[(Long, Long, Double)].collect().toSet
    assert(res(idx) === res(full12))
  }

  test("annIngest(maintainEvery): in-stream maintenance answers the " +
      "drift WARN — reindexLsh at the grown count between micro-batches, " +
      "and the result is bit-identical to a one-shot auto-planned build") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_amnt").toString
    val (idx, ckpt) = (s"$dir/idx", s"$dir/ckpt")
    val rows = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    val (b0, b1) = rows.partition(_._1 % 2 == 0)
    val mem = MemoryStream[(Long, Seq[Float])]
    // a microscopic occupancy target makes the grown count plan wider
    // than the first batch's 12 bits — the AnnMaintainSpec forcing
    val q = graft.streaming.Streams.annIngest(
      mem.toDF().toDF("vec_id", "embedding"), "embedding", "vec_id",
      idx, ckpt, maintainEvery = 1, targetOccupancy = 0.001)
    try {
      mem.addData(b0: _*)
      q.processAllAvailable() // build at (12, 1), then maintain: reindex
      mem.addData(b1: _*)
      q.processAllAvailable() // append rides the WIDER frozen plan
    } finally q.stop()
    val bits = AnnIndex.lshIndexPlan(spark, idx)._1
    assert(bits > 12, s"in-stream reindex did not widen the plan: $bits")
    assert(spark.read.parquet(idx).count() === rows.size)
    // reindexLsh re-plans through buildLsh's own planner at the same
    // knobs, and signatures are row-local — so the maintained stream
    // must equal a one-shot build over everything... after ITS final
    // maintenance (the last batch appends AFTER the last reindex, so
    // one more maintain brings the plan to the full-count fixpoint)
    AnnIndex.maintainIndex(spark, idx, targetOccupancy = 0.001)
    val full = tmp("amnt_full")
    AnnIndex.buildLsh(emb, "embedding", "vec_id", full, dims = 64,
      targetOccupancy = 0.001)
    val read = (p: String) => spark.read.parquet(p)
      .select("vec_id", "sig", "sig_grp").as[(Long, Long, Long)]
      .collect().toSet
    assert(read(idx) === read(full))
    val qdf = emb.filter(col("vec_id") < 3)
    val res = (p: String) => AnnIndex.lshKnnJoin(spark, p, qdf,
      "embedding", "vec_id", k = 3).as[(Long, Long, Double)].collect().toSet
    assert(res(idx) === res(full))
  }

  /** An ANN stream family driven through its single-batch step, behind
    * the one replay guard: step(batch, index dir, maintainEvery, batch
    * id, lineage). Each step's maintenance target is tiny, so an index
    * that grew without maintenance is `drifted`, and maintenance then
    * reindexes — a staged swap of the whole directory. */
  private case class AnnFamily(name: String,
      step: (org.apache.spark.sql.DataFrame, String, Int, Long, String) => Unit,
      drifted: String => Boolean)

  private lazy val annFamilies = Seq(
    AnnFamily("lsh", (df, idx, every, id, lineage) =>
      graft.streaming.Streams.ingestAnnBatch(df, "embedding", "vec_id",
        idx, 64, every, 0.9, 0.001, id, lineage),
      idx => AnnIndex.indexHealth(spark, idx, targetOccupancy = 0.001)
        .signal.drifted),
    // sign cells at 2 planned rows each: the batch-0 4-cell key space is
    // far below the plan at the grown count
    AnnFamily("ivfpq", (df, idx, every, id, lineage) =>
      graft.streaming.Streams.ingestAnnIvfPqBatch(df, "embedding",
        "vec_id", idx, 4, 16, "sign", false, every, 2L, id, lineage),
      idx => AnnIndex.indexHealth(spark, idx, targetCellRows = 2L)
        .signal.drifted))

  test("annIngest replay guard: an exact same-lineage replay of an " +
      "applied batch is skipped (no double-append); an id mismatch, a " +
      "FRESH-CHECKPOINT lineage mismatch at the same id, a legacy " +
      "id-only stamp, and a stale stamp without data all still append " +
      "— never data loss") {
    val (b0, b1) = (emb.filter(col("vec_id") % 2 === 0),
      emb.filter(col("vec_id") % 2 =!= 0))
    for (f <- annFamilies) withClue(s"[${f.name}] ") {
      val dir = java.nio.file.Files.createTempDirectory(
        s"graft_areplay_${f.name}").toString
      val idx = s"$dir/idx"
      def ingest(df: org.apache.spark.sql.DataFrame, id: Long,
          lineage: String = "ckptA"): Unit = f.step(df, idx, 0, id, lineage)
      ingest(b0, 0L) // build
      ingest(b1, 1L) // append
      val full = spark.read.parquet(idx).count()
      assert(full === emb.count())
      // the foreachBatch crash-after-write gap: batch 1 replays verbatim
      ingest(b1, 1L)
      assert(spark.read.parquet(idx).count() === full,
        "exact replay double-appended")
      // a DIFFERENT id under the same lineage appends — degrades to
      // duplicates, never silently drops data
      ingest(b1, 0L)
      val afterDup = full + b1.count()
      assert(spark.read.parquet(idx).count() === afterDup)
      // the round-16 advisor scenario: the last stamp is now (ckptA, 0);
      // a FRESH checkpoint over this index restarts ids at 0 — with an
      // id-only stamp its batch 0 would be skipped as "already applied"
      // (silent LOSS); the lineage half must make it append instead
      ingest(b1, 0L, lineage = "ckptB")
      assert(spark.read.parquet(idx).count() === afterDup + b1.count(),
        "fresh-checkpoint batch 0 was skipped against the old stream's " +
          "stamp — the data-loss direction the lineage binding exists for")
      // a legacy id-only stamp (pre-round-16) never matches: one
      // duplicate append, then the stamp is in the new format
      val fsA = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val legacyOut = fsA.create(
        new org.apache.hadoop.fs.Path(s"$idx/_stream_batch"), true)
      try legacyOut.write("5".getBytes("UTF-8")) finally legacyOut.close()
      val beforeLegacy = spark.read.parquet(idx).count()
      ingest(b1, 5L)
      assert(spark.read.parquet(idx).count() === beforeLegacy + b1.count(),
        "legacy id-only stamp skipped a batch")
      // a stale stamp WITHOUT index data must not suppress a first batch
      val dir2 = java.nio.file.Files.createTempDirectory(
        s"graft_astale_${f.name}").toString
      val idx2 = s"$dir2/idx"
      val fs = new org.apache.hadoop.fs.Path(idx2)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(new org.apache.hadoop.fs.Path(idx2))
      val out = fs.create(
        new org.apache.hadoop.fs.Path(s"$idx2/_stream_batch"), true)
      try out.write("ckptA:0".getBytes("UTF-8")) finally out.close()
      f.step(b0, idx2, 0, 0L, "ckptA")
      assert(spark.read.parquet(idx2).count() === b0.count(),
        "stale stamp suppressed a real first batch")
    }
  }

  test("annIngestIvfPq: first micro-batch TRAINS (sidecars frozen from " +
      "batch 0), later batches append under that geometry, the streamed " +
      "content equals a one-shot build (sign codes are row-local), and " +
      "the corpus-bound reindex is reported as skipped, never taken") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ipqstream").toString
    val (idx, ckpt) = (s"$dir/idx", s"$dir/ckpt")
    val rows = emb.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toSeq
    val (b0, b1) = rows.partition(_._1 % 2 == 0)
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = graft.streaming.Streams.annIngestIvfPq(
      mem.toDF().toDF("vec_id", "embedding"), "embedding", "vec_id",
      idx, ckpt, nCells = 4, m = 16, quantizer = "sign",
      autoPlan = false, maintainEvery = 1)
    val centsOf = () => spark.read.parquet(s"$idx/_centroids")
      .select(col("cell"), col("centroid")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    try {
      mem.addData(b0: _*)
      q.processAllAvailable()
      val trained = centsOf()
      assert(spark.read.parquet(idx).count() === b0.size)
      mem.addData(b1: _*)
      q.processAllAvailable()
      assert(spark.read.parquet(idx).count() === rows.size)
      // FROZEN geometry: the append did not refit the trained sidecars
      assert(centsOf() === trained,
        "append refit the centroids — the frozen-geometry contract broke")
    } finally q.stop()
    // sign cells/codes are row-local: streamed content == one-shot build
    val full = tmp("ipq_full")
    AnnIndex.buildIvfPq(emb, "embedding", "vec_id", full, nCells = 4,
      m = 16, quantizer = "sign", autoPlan = false)
    val read = (p: String) => spark.read.parquet(p)
      .select(col("vec_id"), col("cell").cast("long"),
        col("code").cast("array<int>"))
      .as[(Long, Long, Seq[Int])].collect().toSet
    assert(read(idx) === read(full))
    // the in-stream maintenance (maintainEvery = 1) answered the
    // append fragmentation with a compact — and on a LEGACY
    // (reservoir-less) index the composite reindex is corpus-bound:
    // forced drift is REPORTED as skipped, the index untouched (codes
    // are lossy; a micro-batch must never pose as the training corpus;
    // round 18's `_sample` reservoir lifts this — covered by the
    // reservoir maintain arms and the stream_ivfpq_reindex oracle row)
    val h = AnnIndex.indexHealth(spark, idx)
    assert(!h.fragmented, s"in-stream compact did not run: $h")
    new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(s"$idx/_sample"), true)
    val acts = AnnIndex.maintainIndex(spark, idx, targetCellRows = 1L)
    assert(acts.exists(_.startsWith("skipped: reindexIvfPq")), acts)
    assert(read(idx) === read(full), "the skipped reindex touched data")
    // and the streamed index answers like the full build under the
    // SAME sidecars (rebuild full's sidecars from b0 via the stream's
    // own contract is already covered by content equality; here just
    // pin that probes run and return k rows per query)
    val res = AnnIndex.ivfPqKnnJoin(spark, idx,
      emb.filter(col("vec_id") < 3), emb, "embedding", "vec_id",
      k = 3, nProbe = 4)
    assert(res.groupBy("query_id").count()
      .as[(Long, Long)].collect().forall(_._2 === 3L))
  }

  test("a stored sign code BEYOND the trained range is a +inf hole, not " +
      "a crash: train on one sign pattern, append its complement, search " +
      "still answers and the untrained-code row never outranks trained " +
      "candidates") {
    // 8-dim vectors, m = 2 (sub = 4): all-negative dims -> code 0 per
    // subspace (kk = 1 in the codebook); an all-positive append carries
    // code 15 — beyond the trained table, the element_at OOB shape
    val neg = (1 to 3).map(i =>
      (i.toLong, Seq.fill(8)(-0.1f * i))).toDF("vec_id", "embedding")
    val pos = Seq((99L, Seq.fill(8)(0.5f))).toDF("vec_id", "embedding")
    val p = tmp("pq_oob")
    AnnIndex.buildPq(neg, "embedding", "vec_id", p, m = 2,
      quantizer = "sign")
    AnnIndex.appendPq(pos, "embedding", "vec_id", p)
    val hits = AnnIndex.searchPq(spark, p, Seq.fill(8)(-0.2f), k = 4)
      .as[(Long, Double)].collect()
    assert(hits.length === 4)
    assert(hits.last._1 === 99L,
      s"the untrained-code row must rank last (+inf), got ${hits.toSeq}")
    assert(hits.take(3).forall(_._2 < hits.last._2))
    // the composite join path shares the guard — here the appended row
    // stays in a TRAINED cell (the cell guard is a separate, correct
    // refusal) but carries codes training never saw: first dim negative
    // (cell 0, like the training rows), the rest positive
    val pos2 = Seq((98L, (-0.5f) +: Seq.fill(7)(0.5f)))
      .toDF("vec_id", "embedding")
    val p2 = tmp("ipq_oob")
    AnnIndex.buildIvfPq(neg, "embedding", "vec_id", p2, nCells = 2,
      m = 2, quantizer = "sign", autoPlan = false)
    AnnIndex.appendIvfPq(pos2, "embedding", "vec_id", p2)
    val res = AnnIndex.ivfPqKnnJoin(spark, p2,
      neg.filter(col("vec_id") === 1), neg.unionByName(pos2),
      "embedding", "vec_id", k = 3, nProbe = 2)
    assert(res.count() === 3)
  }

  test("stream crash shapes (round 16): an interrupted BUILD (data, no " +
      "plan sidecar) self-heals — the replaying batch re-trains instead " +
      "of failing closed forever; a crashed maintenance SWAP (live path " +
      "missing, .__precompact holding the corpus) refuses with the " +
      "rename-back recovery instead of silently re-training over it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_acrash").toString
    val idx = s"$dir/idx"
    val b0 = emb.filter(col("vec_id") % 2 === 0)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def ingest(id: Long): Unit =
      graft.streaming.Streams.ingestAnnBatch(b0, "embedding", "vec_id",
        idx, 64, 0, 0.9, 2.0, id, "ckptA")
    ingest(0L)
    // the interrupted-build state: data landed, `_plan` did not
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/_plan"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/_stream_batch"), false)
    ingest(0L) // replay must RE-TRAIN (mode overwrite), not die
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idx/_plan")))
    assert(spark.read.parquet(idx).count() === b0.count())
    // the crashed-swap state: live gone, the pre-swap tree orphaned
    assert(fs.rename(new org.apache.hadoop.fs.Path(idx),
      new org.apache.hadoop.fs.Path(s"$idx.__precompact")))
    val e = intercept[IllegalStateException](ingest(1L))
    assert(e.getMessage.contains("renaming"), e.getMessage)
    // recovery is exactly the message's rename — and ingest resumes
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$idx.__precompact"),
      new org.apache.hadoop.fs.Path(idx)))
    graft.streaming.Streams.ingestAnnBatch(
      emb.filter(col("vec_id") % 2 =!= 0), "embedding", "vec_id",
      idx, 64, 0, 0.9, 2.0, 1L, "ckptA")
    assert(spark.read.parquet(idx).count() === emb.count())
    // IVF-PQ twin: data with PARTIAL geometry (codebooks lost) re-trains
    val idx2 = s"$dir/idx2"
    def ingestPq(id: Long): Unit =
      graft.streaming.Streams.ingestAnnIvfPqBatch(b0, "embedding",
        "vec_id", idx2, 4, 16, "sign", false, 0, 4096L, id, "ckptA")
    ingestPq(0L)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx2/_codebooks"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx2/_stream_batch"), false)
    ingestPq(0L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idx2/_codebooks")))
    assert(spark.read.parquet(idx2).count() === b0.count())
  }

  test("annIngest replay guard survives a replay-path maintenance swap: " +
      "the swap destroys the stamp, the unconditional re-stamp restores " +
      "it, and a SECOND replay of the same batch still skips") {
    val (b0, b1) = (emb.filter(col("vec_id") % 2 === 0),
      emb.filter(col("vec_id") % 2 =!= 0))
    for (f <- annFamilies) withClue(s"[${f.name}] ") {
      val dir = java.nio.file.Files.createTempDirectory(
        s"graft_arestamp_${f.name}").toString
      val idx = s"$dir/idx"
      // the batches run without maintenance and leave the index drifted
      // from the tiny target; the first replay runs it, so its
      // maintenance reindexes, whose staged swap replaces the whole
      // directory (the stamp is not a carried sidecar). With maintenance
      // on from batch 0 the LSH plan converges at batch 1 and no replay
      // would swap. The second replay runs without maintenance: an
      // IVF-PQ reindex from the reservoir collapses duplicate ids, which
      // would hide a double-append from the count.
      def ingest(df: org.apache.spark.sql.DataFrame, id: Long,
          every: Int): Unit = f.step(df, idx, every, id, "ckptA")
      ingest(b0, 0L, 0) // build
      ingest(b1, 1L, 0) // append
      val full = spark.read.parquet(idx).count()
      assert(full === emb.count())
      assert(f.drifted(idx), "the replay's maintenance would not swap")
      ingest(b1, 1L, 1) // replay 1: skipped, maintenance swaps, MUST re-stamp
      assert(spark.read.parquet(idx).count() === full,
        "first replay double-appended")
      ingest(b1, 1L, 0) // replay 2: only skips if the re-stamp happened
      assert(spark.read.parquet(idx).count() === full,
        "second replay double-appended — the replay-path maintenance " +
          "swap lost the stamp and the guard with it")
    }
  }

  // ------------------------------------------- round 15: advisor fixes

  test("appendIvf(sign): SKEWED data (occupied cells a smaller power of " +
      "two than planned) appends at the PLANNED width from the sidecar, " +
      "content-identical to a full build") {
    // first dim >= 0 everywhere: with 4 planned cells (2 sign bits) only
    // cells {1, 3} are occupied — 2 cells, itself a power of two, so the
    // old occupied-count inference would have encoded appends at 1 bit
    // and silently misfiled every second row
    val base = emb.filter(element_at(col("embedding"), 1) >= 0)
    val bEvens = base.filter(col("vec_id") % 2 === 0)
    val bOdds = base.filter(col("vec_id") % 2 =!= 0)
    assume(bEvens.count() > 0 && bOdds.count() > 0)
    val full = tmp("ivf_skew_full"); val inc = tmp("ivf_skew_inc")
    AnnIndex.buildIvf(base, "embedding", "vec_id", full,
      nCells = 4, quantizer = "sign")
    AnnIndex.buildIvf(bEvens, "embedding", "vec_id", inc,
      nCells = 4, quantizer = "sign")
    assert(AnnIndex.ivfCentroids(spark, inc).length === 2) // genuinely skewed
    assert(AnnIndex.indexSignBits(spark, inc) === 2)       // planned, not occupied
    val n = AnnIndex.appendIvf(bOdds, "embedding", "vec_id", inc)
    assert(n === bOdds.count())
    val read = (p: String) => spark.read.parquet(p)
      .select(col("vec_id"), col("cell").cast("long")).as[(Long, Long)]
      .collect().toSet
    assert(read(inc) === read(full))
  }

  test("append refuses a pre-sign_bits sidecar (planned width not " +
      "recoverable) instead of inferring from the occupied count") {
    val p = tmp("ivf_nosignbits")
    AnnIndex.buildIvf(evens, "embedding", "vec_id", p,
      nCells = 4, quantizer = "sign")
    // simulate a round-14 sidecar: quantizer marker present, no sign_bits
    val stripped = spark.read.parquet(s"$p/_centroids")
      .select("cell", "centroid", "quantizer").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getString(2)))
    val tmpSide = tmp("side_nosignbits")
    stripped.toSeq.toDF("cell", "centroid", "quantizer")
      .coalesce(1).write.mode("overwrite").parquet(tmpSide)
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$p/_centroids"), true)
    fs.rename(new org.apache.hadoop.fs.Path(tmpSide),
      new org.apache.hadoop.fs.Path(s"$p/_centroids"))
    val e = intercept[IllegalStateException](
      AnnIndex.appendIvf(odds, "embedding", "vec_id", p))
    assert(e.getMessage.contains("sign_bits"))
    // health still reports it (the width falls back to the occupied
    // count), and the rebuild maintenance prescribes stamps the width
    val occupied = AnnIndex.ivfCentroids(spark, p).length
    val h = AnnIndex.indexHealth(spark, p, targetCellRows = 1L)
    assert(h.layout === "ivf" && h.signal.currentUnits === occupied &&
      h.signal.drifted, h.toString)
    assert(AnnIndex.maintainIndex(spark, p, targetCellRows = 1L)
      === Seq("reindexIvf"))
    assert(AnnIndex.indexSignBits(spark, p) > 0)
  }

  test("appendLsh refuses a legacy raw-sig (sig=) layout — appending " +
      "sig_grp= dirs into it would brick every read") {
    // construct the legacy state directly: sig= partitions plus a _plan
    // WITHOUT grp_bits (the builds between the plan-sidecar round and the
    // grouped-layout round wrote exactly this)
    val p = tmp("lsh_legacy")
    evens.select(col("vec_id"), col("embedding").as("vec"))
      .withColumn("sig", pmod(col("vec_id"), lit(16)))
      .write.partitionBy("sig").parquet(p)
    Seq((4, 1)).toDF("bits", "probe_hamming")
      .coalesce(1).write.mode("overwrite").json(s"$p/_plan")
    // probes still accept this layout (legacy support)...
    assert(AnnIndex.lshIndexPlan(spark, p) === (4, 1))
    // ...but appends refuse it, before any write
    val e = intercept[IllegalStateException](
      AnnIndex.appendLsh(odds, "embedding", "vec_id", p))
    assert(e.getMessage.contains("legacy raw-sig"))
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(new org.apache.hadoop.fs.Path(p))
      .map(_.getPath.getName).exists(_.startsWith("sig_grp=")))
  }

  test("appendIvf(kmeans): duplicate-id rows survive assignment (parity " +
      "with the sign arm) and the returned count is what landed") {
    val p = tmp("ivf_dupids")
    AnnIndex.buildIvf(evens, "embedding", "vec_id", p,
      nCells = 4, quantizer = "kmeans")
    val one = odds.limit(1)
    val dup = one.unionByName(one) // same vec_id twice
    val before = spark.read.parquet(p).count()
    val n = AnnIndex.appendIvf(dup, "embedding", "vec_id", p)
    assert(n === 2L)
    assert(spark.read.parquet(p).count() === before + 2)
  }

  test("appends fail closed on a mixed-dimension batch in BOTH quantizer " +
      "arms — nothing written, geometry never degraded") {
    val pSign = tmp("ivf_mixdim_sign"); val pKm = tmp("ivf_mixdim_km")
    AnnIndex.buildIvf(evens, "embedding", "vec_id", pSign,
      nCells = 4, quantizer = "sign")
    AnnIndex.buildIvf(evens, "embedding", "vec_id", pKm,
      nCells = 4, quantizer = "kmeans")
    val short = Seq((9001L, Seq.fill(8)(0.5f))).toDF("vec_id", "embedding")
    val mixed = odds.limit(3).select("vec_id", "embedding").unionByName(short)
    Seq(pSign, pKm).foreach { p =>
      val before = spark.read.parquet(p).count()
      val e = intercept[IllegalStateException](
        AnnIndex.appendIvf(mixed, "embedding", "vec_id", p))
      assert(e.getMessage.contains("dims"), p)
      assert(spark.read.parquet(p).count() === before, p)
    }
    // the composite append guards the same way
    val pPq = tmp("ivfpq_mixdim")
    AnnIndex.buildIvfPq(evens, "embedding", "vec_id", pPq,
      nCells = 8, m = 16, quantizer = "sign")
    val e = intercept[IllegalStateException](
      AnnIndex.appendIvfPq(mixed, "embedding", "vec_id", pPq))
    assert(e.getMessage.contains("dims"))
  }

  test("appends issue NO job over the index data path: with every data " +
      "file corrupted, the append still lands and the drift math still " +
      "prices from the _rows sidecar") {
    val p = tmp("lsh_norread")
    AnnIndex.buildLsh(evens, "embedding", "vec_id", p, dims = 64, bits = 8)
    // corrupt ALL data files — any job that scanned them would throw
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new org.apache.hadoop.fs.Path(p), true)
    var corrupted = 0
    while (it.hasNext) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet") && !f.toString.contains("/_")) {
        val out = fs.create(f, true)
        try out.write("not parquet".getBytes("UTF-8")) finally out.close()
        corrupted += 1
      }
    }
    assert(corrupted > 0)
    // the corruption is real: a data-path scan throws
    intercept[Exception](spark.read.parquet(p).count())
    // ...but the append never scans the data path
    val n = AnnIndex.appendLsh(odds, "embedding", "vec_id", p)
    assert(n === odds.count())
  }

  // -------------------------------------------- round 15: tombstone delete

  test("deleteIds: tombstoned rows vanish from every probe WITHOUT " +
      "consuming k slots — results equal a fresh build over survivors") {
    val p = tmp("lsh_del"); val surv = tmp("lsh_survivors")
    AnnIndex.buildLsh(emb, "embedding", "vec_id", p, dims = 64, bits = 8)
    val doomed = emb.filter(col("vec_id") % 10 === 3)
    val nDel = AnnIndex.deleteIds(spark, p, doomed.select("vec_id"))
    assert(nDel === doomed.count())
    AnnIndex.buildLsh(emb.filter(col("vec_id") % 10 =!= 3),
      "embedding", "vec_id", surv, dims = 64, bits = 8)
    val q = emb.filter(col("vec_id") < 3)
    val res = (x: String) => AnnIndex.lshKnnJoin(spark, x, q,
      "embedding", "vec_id", k = 5).as[(Long, Long, Double)].collect().toSet
    assert(res(p) === res(surv))
    assert(!res(p).exists(_._2 % 10 == 3))
    // single-query path honors the tombstones too
    val q1 = emb.filter(col("vec_id") === 1).select("embedding")
      .as[Seq[Float]].head()
    val s = AnnIndex.searchLsh(spark, p, q1, k = 5)
      .select("vec_id").as[Long].collect()
    assert(!s.exists(_ % 10 == 3))
  }

  test("deleteIds is idempotent (append-only sidecar, read-time dedup) " +
      "and compaction makes it physical: delete → compact == " +
      "build-from-survivors content, sidecar cleared") {
    val p = tmp("ivfpq_del"); val surv = tmp("ivfpq_survivors")
    AnnIndex.buildIvfPq(emb, "embedding", "vec_id", p,
      nCells = 8, m = 16, quantizer = "sign")
    val doomed = emb.filter(col("vec_id") % 7 === 2).select("vec_id")
    AnnIndex.deleteIds(spark, p, doomed)
    AnnIndex.deleteIds(spark, p, doomed) // idempotent re-run
    val (_, _) = AnnIndex.compactIndex(spark, p)
    AnnIndex.buildIvfPq(emb.filter(col("vec_id") % 7 =!= 2),
      "embedding", "vec_id", surv, nCells = 8, m = 16, quantizer = "sign")
    val read = (x: String) => spark.read.parquet(x)
      .select(col("vec_id"), col("code").cast("array<int>"),
        col("cell").cast("long"))
      .as[(Long, Seq[Int], Long)].collect().toSet
    assert(read(p) === read(surv))
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p/_tombstones")))
    // the _rows sidecar re-stamped to the survivor count
    assert(AnnIndex.indexRowCount(spark, p) ===
      emb.filter(col("vec_id") % 7 =!= 2).count())
  }

  test("appending a TOMBSTONED id WARNs (written but invisible until " +
      "compaction) — the replace-a-row footgun gets a signal") {
    val p = tmp("lsh_tomb_warn")
    AnnIndex.buildLsh(emb, "embedding", "vec_id", p, dims = 64, bits = 8)
    val doomed = emb.filter(col("vec_id") === 2)
    AnnIndex.deleteIds(spark, p, doomed.select("vec_id"))
    val err = new java.io.ByteArrayOutputStream()
    val old = System.err
    try {
      System.setErr(new java.io.PrintStream(err, true))
      AnnIndex.appendLsh(doomed, "embedding", "vec_id", p)
    } finally System.setErr(old)
    assert(err.toString.contains("TOMBSTONED ids"), err.toString)
    // and indeed: the re-appended row stays invisible to probes
    val q2 = emb.filter(col("vec_id") === 2).select("embedding")
      .as[Seq[Float]].head()
    assert(!AnnIndex.searchLsh(spark, p, q2, k = 5)
      .select("vec_id").as[Long].collect().contains(2L))
  }

  test("with tombstones PRESENT the batched joins keep dynamic partition " +
      "pruning — the liveRows anti-join must not demote the probed scan " +
      "to a full read") {
    val p = tmp("ivfpq_dpp_tomb")
    AnnIndex.buildIvfPq(emb, "embedding", "vec_id", p,
      nCells = 8, m = 16, quantizer = "sign")
    AnnIndex.deleteIds(spark, p,
      emb.filter(col("vec_id") % 10 === 3).select("vec_id"))
    val joined = AnnIndex.ivfPqKnnJoin(spark, p,
      emb.filter(col("vec_id") < 3), emb, "embedding", "vec_id",
      k = 3, nProbe = 4)
    val logical = joined.queryExecution.optimizedPlan.toString
    assert(logical.contains("dynamicpruning"),
      s"tombstone anti-join lost DPP on the code scan:\n$logical")
    // and the LSH sibling keeps its pruning too
    val lp = tmp("lsh_dpp_tomb")
    AnnIndex.buildLsh(emb, "embedding", "vec_id", lp, dims = 64, bits = 12)
    AnnIndex.deleteIds(spark, lp,
      emb.filter(col("vec_id") % 10 === 3).select("vec_id"))
    val lshPlan = AnnIndex.lshKnnJoin(spark, lp,
        emb.filter(col("vec_id") < 3), "embedding", "vec_id", k = 3)
      .queryExecution.optimizedPlan.toString
    assert(lshPlan.contains("dynamicpruning"),
      s"tombstone anti-join lost DPP on the LSH scan:\n$lshPlan")
  }

  test("deleteIds refuses the sidecar-less interrupted state") {
    val p = tmp("del_nosc")
    AnnIndex.buildIvf(evens, "embedding", "vec_id", p,
      nCells = 4, quantizer = "sign")
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$p/_centroids"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$p/_rows"), true)
    val e = intercept[IllegalStateException](
      AnnIndex.deleteIds(spark, p, evens.select("vec_id").limit(1)))
    assert(e.getMessage.contains("no sidecars"))
  }

  // -------------------------------- round 15: corpus-bound reindexes

  test("reindexIvfPq: an interrupted (throwing) reindex leaves the " +
      "original index answering identically; a good one re-plans under " +
      "the staged swap") {
    val p = tmp("ivfpq_reindex")
    AnnIndex.buildIvfPq(evens, "embedding", "vec_id", p,
      nCells = 8, m = 16, quantizer = "sign")
    val q1 = emb.filter(col("vec_id") === 1).select("embedding")
      .as[Seq[Float]].head()
    val probe = () => AnnIndex.searchIvfPq(spark, p, q1, k = 5, nProbe = 8)
      .as[(Long, Double)].collect().toSeq
    val before = probe()
    // m = 7 does not divide dim 64: buildIvfPq throws INSIDE the staged
    // build, before any swap — the live index must be untouched
    intercept[IllegalArgumentException](
      AnnIndex.reindexIvfPq(emb, "embedding", "vec_id", p, m = 7))
    assert(probe() === before)
    // the good path: rebuild over the FULL corpus (appends' drift cure),
    // forced wider by a tiny rows-per-cell target (500 rows / 32 > 8)
    val cells = AnnIndex.reindexIvfPq(emb, "embedding", "vec_id", p,
      nCells = 8, targetCellRows = 32L)
    assert(cells > 8)
    val fresh = tmp("ivfpq_reindex_fresh")
    AnnIndex.buildIvfPq(emb, "embedding", "vec_id", fresh,
      nCells = 8, m = 16, quantizer = "sign", targetCellRows = 32L)
    val read = (x: String) => spark.read.parquet(x)
      .select(col("vec_id"), col("code").cast("array<int>"),
        col("cell").cast("long"))
      .as[(Long, Seq[Int], Long)].collect().toSet
    assert(read(p) === read(fresh))
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p.__reindexing")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p.__prereindex")))
  }

  test("reindexIvfPq honors tombstones: a deleted id does not resurrect " +
      "through the corpus-bound rebuild") {
    val p = tmp("ivfpq_reindex_del")
    AnnIndex.buildIvfPq(emb, "embedding", "vec_id", p,
      nCells = 8, m = 16, quantizer = "sign")
    AnnIndex.deleteIds(spark, p,
      emb.filter(col("vec_id") % 11 === 5).select("vec_id"))
    AnnIndex.reindexIvfPq(emb, "embedding", "vec_id", p)
    val ids = spark.read.parquet(p).select("vec_id").as[Long].collect()
    assert(!ids.exists(_ % 11 == 5))
  }

  test("reindexPq: corpus-bound codebook refit under the staged swap, " +
      "keeping the index's own m") {
    val p = tmp("pq_reindex")
    AnnIndex.buildPq(evens, "embedding", "vec_id", p, m = 8,
      quantizer = "sign")
    AnnIndex.reindexPq(emb, "embedding", "vec_id", p)
    assert(spark.read.parquet(p).count() === emb.count())
    // m preserved: codes still 8 wide
    assert(spark.read.parquet(p).select(size(col("code")))
      .head().getInt(0) === 8)
    val fresh = tmp("pq_reindex_fresh")
    AnnIndex.buildPq(emb, "embedding", "vec_id", fresh, m = 8,
      quantizer = "sign")
    val read = (x: String) => spark.read.parquet(x)
      .select(col("vec_id"), col("code").cast("array<int>"))
      .as[(Long, Seq[Int])].collect().toSet
    assert(read(p) === read(fresh))
    // k preserved too: a k=8 kmeans index reindexed with the defaults
    // (maintainIndex's call) keeps 8 codewords per subspace, not 16
    val km = tmp("pq_reindex_k8")
    AnnIndex.buildPq(evens, "embedding", "vec_id", km, m = 8, k = 8,
      quantizer = "kmeans")
    AnnIndex.reindexPq(emb, "embedding", "vec_id", km)
    val perSub = spark.read.parquet(s"$km/_codebooks")
      .groupBy("subspace").count().select("count").as[Long].collect()
    assert(perSub.length === 8 && perSub.forall(_ === 8L),
      perSub.mkString(","))
  }

  test("appendPq(kmeans): appended codes match the frozen per-subspace " +
      "nearest codeword") {
    val p = tmp("pq_km")
    AnnIndex.buildPq(evens, "embedding", "vec_id", p, m = 8,
      quantizer = "kmeans")
    val n = AnnIndex.appendPq(odds, "embedding", "vec_id", p)
    assert(n === odds.count())
    // the appended head re-ranks to top-1 through the frozen codebooks
    val q1 = emb.filter(col("vec_id") === 1).select("embedding")
      .as[Seq[Float]].head()
    val hits = AnnIndex.searchPqRerank(spark, p, emb,
      "embedding", "vec_id", q1, k = 1, overFetch = 16)
    assert(hits.select("vec_id").as[Long].head() === 1L)
  }
}
